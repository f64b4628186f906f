package graft.sink

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Epoch-scoped commit log giving the sink EXACTLY-ONCE visibility — the
  * upgrade over the reference's deliberate no-op epoch commit
  * (`HiveStreamWriter.scala:39-41`, which makes replayed epochs duplicate
  * rows; at-least-once).
  *
  * Protocol:
  *  - tasks write data files under the table dir with epoch-unique names and
  *    report them in their [[org.apache.spark.sql.connector.write.WriterCommitMessage]];
  *  - the driver's `commit(epochId, msgs)` writes
  *    `<table>/_commits/epoch-<id>.manifest` (rename-atomic: temp + rename)
  *    listing exactly the committed files;
  *  - a REPLAYED epoch (manifest already present) deletes the replay's
  *    freshly-written files instead of publishing them — idempotent;
  *  - readers resolve visibility through the manifests only, so files from
  *    crashed/zombie tasks are never visible even before cleanup.
  *
  * All filesystem access goes through the Hadoop [[FileSystem]] API: on a
  * real cluster the same code runs against HDFS/S3A; locally it is file://.
  */
final class CommitLog(tableDir: String, conf: Configuration) {

  private val commitsDir = new Path(tableDir, CommitLog.COMMITS_DIR)
  private def fs: FileSystem = commitsDir.getFileSystem(conf)
  /** Manifests, shards and index markers are created and renamed through
    * [[DataFs]]: no `.crc` sidecar and, locally, no forked `chmod` per
    * commit. A manifest carries its own checksum instead
    * ([[CommitLog.seal]]); reads stay on the checksummed fs, which still
    * checks a legacy manifest's `.crc`.
    */
  private lazy val dataFs: FileSystem = DataFs.resolve(fs)
  // the compaction index: one empty marker, named by id, per manifest that
  // carries compaction headers — see [[compactionManifests]]
  private val indexDir = new Path(commitsDir, CommitLog.INDEX_DIR)
  // `<db>.<table>` — the anchor partitionSegments uses to find `k=v`
  // segments strictly below the table root
  private val dbTable = new Path(tableDir).getName

  def manifestPath(epochId: Long): Path =
    new Path(commitsDir, s"epoch-$epochId.manifest")

  /** Publish `files` for `epochId`. Returns true if this call committed,
    * false if the epoch was already committed (replay → caller must discard
    * the replayed files).
    *
    * A COMPACTION commit additionally carries the epochs it supersedes, the
    * streaming high-water mark they covered, and the tombstone CEILING
    * (header lines, `#`-prefixed) — its single rename atomically redirects
    * readers from the superseded manifests' files to the consolidated ones.
    * The ceiling is the compact transitive form of positive-epoch
    * tombstones: a single-writer stream always consumes a PREFIX of its
    * epochs, so "every streaming epoch ≤ c is consumed" replaces listing
    * each id — without it, the in-loop fold's supersedes list would grow
    * with every consumed epoch forever, and the per-commit tombstone guard
    * below (which parses every compaction manifest) would cost O(total
    * epochs) per epoch over an unbounded ingest.
    */
  // ---- path residence (r16): manifests record table-RELATIVE paths ------
  // A table directory is then RELOCATABLE — catalog RENAME, warehouse
  // migration, or a different mount prefix all keep every committed file
  // resolvable, because nothing durable names the old location. Writers
  // and Compact still hand absolute paths in; commit() strips the table
  // prefix before writing lines, and the read side resolves back to
  // absolute so every downstream consumer (scan planning, partition
  // restoration, deletion, stats keys) is unchanged. Absolute lines from
  // pre-r16 manifests resolve as-is (legacy tables keep reading — they
  // are simply not relocatable until compacted once).

  private val tableDirPrefixes: Seq[String] = {
    val raw = tableDir.stripSuffix("/")
    // writers derive file paths from the same tableDir string, so a plain
    // prefix strip covers them; the URI form covers scheme-qualified
    // callers (file:/..., hdfs://nn/...)
    Seq(raw, new Path(raw).toUri.toString).distinct.map(_ + "/")
  }

  private[sink] def toRelative(f: String): String =
    tableDirPrefixes.collectFirst {
      case p if f.startsWith(p) => f.stripPrefix(p)
    }.getOrElse(f)

  private[sink] def resolvePath(f: String): String =
    CommitLog.resolvePath(tableDir, f)

  def commit(
      epochId: Long, files: Seq[String],
      supersedes: Seq[Long] = Seq.empty,
      watermark: Option[Long] = None,
      tombstoneCeiling: Option[Long] = None,
      fileStats: Map[String, String] = Map.empty): Boolean = {
    val f = fs
    // the index listing doubles as the probe for `_commits/`: whoever
    // creates the directory creates the index with it, so only a table
    // from before the index ever takes the full listing below
    val index = indexedIds().orElse {
      if (f.exists(commitsDir)) None
      else { dataFs.mkdirs(indexDir); Some(Seq.empty) }
    }
    val target = manifestPath(epochId)
    if (f.exists(target)) return false
    // A tombstoned id was consumed by a compaction: publishing it again
    // would return success while manifests() filters the epoch forever —
    // silent data loss for a fresh-checkpoint lineage that restarts epoch
    // numbering at 0 on an already-compacted table. Fail loudly instead.
    // Negative (compaction) ids are exempt: Compact's retry loop probes ids
    // and relies on the false/true contract, and its nanoTime-derived ids
    // never repeat within a lineage.
    // the guard runs EVERY epoch commit, so it must open only the (few,
    // ladder-bounded) compaction manifests the index lists — ceilings and
    // supersedes lists never appear on streaming or batch manifests
    val negs = if (epochId >= 0) compactionManifests(index) else Seq.empty
    if (epochId >= 0 &&
        (epochId <= ceilingOf(negs) ||
          negs.flatMap(_.supersedes).contains(epochId)))
      throw new IllegalStateException(
        s"Epoch $epochId of $tableDir was compacted away (tombstoned): " +
          "committing it again would publish rows that stay permanently " +
          "invisible. Restart the query against a fresh table or fresh " +
          "epoch range, or compact only epochs every writer has passed.")
    val tmp = new Path(commitsDir, s".epoch-$epochId.${java.util.UUID.randomUUID}.tmp")
    // the format marker leads the file as part of its seal
    // ([[CommitLog.seal]]); these are the compaction headers
    val header =
      (if (supersedes.nonEmpty) Seq(s"#supersedes:${supersedes.mkString(",")}")
       else Seq.empty) ++
      watermark.map(w => s"#watermark:$w") ++
      tombstoneCeiling.map(c => s"#tombstone_ceiling:$c")
    // a file line optionally carries its serialized column stats after a
    // tab ([[FileStats]] — plan-time file skipping); paths can never
    // contain tabs (writer-generated names, control chars percent-encoded
    // in partition values), so the split is unambiguous, and readers that
    // predate stats simply took the whole line as the path
    val lines = files.map(f =>
      fileStats.get(f).filter(_.nonEmpty)
        .map(s => s"${toRelative(f)}\t$s").getOrElse(toRelative(f)))
    // PARTITION-SHARDED manifests (the 100 TB plan-cost fix): a LARGE
    // commit — compaction output, or a wide epoch — moves its file lines
    // out of the parent into one shard file per partition directory,
    // referenced by `#shard:<rel>\t<k=v/...>` header lines. Readers with
    // partition equality predicates then parse only the touched
    // partitions' shards ([[committedFilesWithStats]]), so plan cost
    // tracks the probed partitions' entry count, not the table's — the
    // flat parse was measured at ~36 µs/file, i.e. seconds per query at
    // the 10⁵–10⁶ files 100 TB implies. Header-only readers (tombstone
    // guard, watermark) win too: a sharded parent is a few lines however
    // many files the commit published. Shards are written BEFORE the
    // parent rename (the unchanged atomicity point) under a UUID'd dir,
    // so they are invisible until the parent publishes them and two
    // racing commits of one epoch can never collide.
    val (body, shardDir) =
      if (lines.size < CommitLog.shardThreshold) (lines, None)
      else {
        val groups = files.zip(lines)
          .groupBy { case (path, _) =>
            CommitLog.partitionSegments(path, dbTable)
              .map { case (k, v) => s"$k=$v" }.mkString("/")
          }
          .toSeq.sortBy(_._1)
        val dirName =
          s".epoch-$epochId.shards-${java.util.UUID.randomUUID.toString.take(8)}"
        val dir = new Path(commitsDir, dirName)
        dataFs.mkdirs(dir)
        val refs = groups.zipWithIndex.map { case ((part, group), i) =>
          val name = f"shard-$i%05d"
          val bytes = group.map(_._2).mkString("\n").getBytes(StandardCharsets.UTF_8)
          val out = dataFs.create(new Path(dir, name), false)
          try out.write(bytes)
          finally out.close()
          // the shard's checksum rides its reference, which the parent's
          // seal covers; readers that predate it take two fields
          s"#shard:$dirName/$name\t$part\t${CommitLog.CrcField}${CommitLog.crc32(bytes)}"
        }
        (refs, Some(dir))
      }
    val out = dataFs.create(tmp, false)
    try out.write(CommitLog.seal((header ++ body).mkString("\n")))
    finally out.close()
    // a compaction manifest's index marker lands BEFORE its rename, so a
    // guard that can see the manifest can see the marker; a marker whose
    // manifest never lands is skipped (and swept by the next compaction).
    // A table without the index needs none: its guard lists `_commits/`.
    if (header.nonEmpty && index.nonEmpty) createMarker(indexDir, epochId)
    // a STALLED commit (GC pause, suspended VM) can outlive the orphan
    // sweep's age floor, which then reclaims this attempt's shard dir as
    // debris; renaming the parent in afterwards would publish a manifest
    // whose shards are gone. Re-checking here narrows that window to
    // milliseconds; a reclaimed attempt returns false, so the caller
    // replays with fresh shards instead of bricking the epoch.
    if (shardDir.exists(d => !f.exists(d))) {
      dataFs.delete(tmp, false)
      return false
    }
    // rename is the atomicity point. HDFS/S3A rename fails onto an existing
    // target; RawLocalFileSystem REPLACES it (POSIX), so re-check right
    // before renaming — Spark serializes epoch commits through one driver,
    // making the remaining window unreachable in practice. A marker this
    // attempt wrote stays: the id's manifest (whoever wrote it) is real.
    if (f.exists(target) || !dataFs.rename(tmp, target)) {
      dataFs.delete(tmp, false)
      shardDir.foreach(dataFs.delete(_, true))
      false
    } else {
      // post-rename re-validation (streaming epochs): a compaction whose
      // ceiling landed between the pre-write guard and our rename leaves
      // this manifest dead-on-arrival — liveOf filters it forever, yet
      // returning true would make Spark ack the epoch (silent loss, the
      // exact case the pre-write guard makes loud). Covered-AND-consumed
      // is different: a compaction that lists us in #supersedes carried
      // our rows into its output, so the commit genuinely succeeded.
      // (A spurious throw needs TWO full compaction generations inside
      // this millisecond window — and errs loud-and-safe, not lossy.)
      if (epochId >= 0) {
        val negs2 = compactionManifests()
        val consumed = negs2.flatMap(_.supersedes).contains(epochId)
        if (!consumed && epochId <= ceilingOf(negs2)) {
          deleteManifest(epochId)
          throw new IllegalStateException(
            s"Epoch $epochId of $tableDir raced a compaction's tombstone " +
              "ceiling: the manifest renamed in dead-on-arrival (no reader " +
              "would ever see it). Removed it; restart against a fresh " +
              "epoch range, or compact only epochs every writer has passed.")
        }
      }
      true
    }
  }

  /** One parsed manifest: its data files, the epochs it supersedes
    * (compaction), the streaming watermark it preserves, the positive-
    * epoch tombstone ceiling it carries forward, and per-file column
    * statistics for plan-time skipping (absent for JSONL files and for
    * manifests written before stats existed).
    *
    * For a partition-sharded manifest, `files`/`fileStats` hold the
    * entries of the shards the read RESOLVED — all of them on the default
    * full read, only the predicate-surviving ones on a pruned read;
    * `shardRefs` always lists every shard so cleanup and specs can see
    * the physical layout.
    */
  case class Manifest(epochId: Long, files: Seq[String],
      supersedes: Seq[Long], watermark: Option[Long],
      tombstoneCeiling: Option[Long] = None,
      fileStats: Map[String, FileStats] = Map.empty,
      shardRefs: Seq[CommitLog.ShardRef] = Seq.empty)

  /** Max positive-epoch tombstone ceiling across the given manifests:
    * every streaming epoch ≤ this is consumed (Long.MinValue when none).
    */
  private def ceilingOf(ms: Seq[Manifest]): Long =
    ms.flatMap(_.tombstoneCeiling).foldLeft(Long.MinValue)(math.max)

  /** Parse one manifest. `resolveShards = false` reads HEADERS only (the
    * tombstone-guard / watermark path — a sharded parent is a few lines,
    * so those per-epoch reads stay O(headers) at any file count);
    * `partitionPredicates` prunes whole shards by their `k=v` path before
    * any shard byte is read — the plan-time win: an untouched partition's
    * entries are never parsed.
    */
  private def readManifest(epochId: Long, p: Path,
      resolveShards: Boolean = true,
      partitionPredicates: Seq[(String, String)] = Seq.empty): Option[Manifest] = {
    val text =
      try CommitLog.unseal(p, CommitLog.readBytes(fs, p))
      catch {
        // deleted by concurrent compaction cleanup between list and open —
        // by then its superseding manifest is already visible
        case _: java.io.FileNotFoundException => return None
      }
    val lines = text.split("\n").filter(_.nonEmpty).toSeq
    val supersedes = lines.collectFirst {
      case l if l.startsWith("#supersedes:") =>
        l.stripPrefix("#supersedes:").split(",").filter(_.nonEmpty).map(_.toLong).toSeq
    }.getOrElse(Seq.empty)
    val watermark = lines.collectFirst {
      case l if l.startsWith("#watermark:") => l.stripPrefix("#watermark:").toLong
    }
    val ceiling = lines.collectFirst {
      case l if l.startsWith("#tombstone_ceiling:") =>
        l.stripPrefix("#tombstone_ceiling:").toLong
    }
    val shardRefs = lines.collect {
      case l if l.startsWith("#shard:") =>
        val toks = l.stripPrefix("#shard:").split('\t')
        val parts = toks.lift(1).getOrElse("").split('/')
          .filter(_.contains('='))
          .map { s => val Array(k, v) = s.split("=", 2); k -> v }.toMap
        CommitLog.ShardRef(toks(0), parts, toks.lift(2)
          .filter(_.startsWith(CommitLog.CrcField))
          .map(_.stripPrefix(CommitLog.CrcField)))
    }
    val (files, stats) = parseFileLines(lines.filterNot(_.startsWith("#")))
    val header = Manifest(epochId, files, supersedes, watermark, ceiling,
      stats, shardRefs)
    if (!resolveShards || shardRefs.isEmpty) Some(header)
    else resolveShardsOf(header, partitionPredicates)
  }

  /** Resolve a header-parsed manifest's shard bytes from its
    * already-parsed [[Manifest.shardRefs]] — no second read or re-parse
    * of the parent file (the per-trigger streaming-tail hot path calls
    * this once per TAKEN manifest). `partitionPredicates` prunes whole
    * shards by their `k=v` path before any byte is read. None when a
    * shard vanished mid-read AND its parent manifest is gone too: shards
    * ride their parent and deletes go manifest-first, so that pair means
    * concurrent-cleanup (the caller re-lists or drops). A missing shard
    * under a LIVE manifest is corruption (an orphan sweep raced an
    * in-flight commit, or external deletion) and fails LOUDLY — silently
    * dropping a live epoch is the one thing this log must never do.
    */
  private def resolveShardsOf(m: Manifest,
      partitionPredicates: Seq[(String, String)] = Seq.empty): Option[Manifest] = {
    val shardLines = m.shardRefs
      .filterNot(r => partitionPredicates.exists { case (k, v) =>
        r.partitionValues.get(k).exists(_ != v) })
      .flatMap { r =>
        CommitLog.shardFileReads.incrementAndGet()
        val shard = new Path(commitsDir, r.relPath)
        val t =
          try {
            val bytes = CommitLog.readBytes(fs, shard)
            val got = CommitLog.crc32(bytes)
            r.crc.filter(_ != got).foreach(want => throw new java.io.IOException(
              s"manifest shard $shard is corrupt: its CRC-32 is $got, its reference records $want"))
            new String(bytes, StandardCharsets.UTF_8)
          } catch {
            case _: java.io.FileNotFoundException =>
              if (!fs.exists(manifestPath(m.epochId))) return None
              throw new IllegalStateException(
                s"manifest epoch-${m.epochId} is live but references a " +
                  s"missing shard ${r.relPath} — shard dir swept or " +
                  "externally deleted; refusing to silently drop the epoch")
          }
        t.split("\n").filter(_.nonEmpty).toSeq
      }
    val (files, stats) = parseFileLines(shardLines)
    Some(m.copy(files = m.files ++ files, fileStats = m.fileStats ++ stats))
  }

  /** File lines of a manifest or shard: a recorded path, optionally
    * followed by tab-separated [[FileStats]] fields. Recorded (relative)
    * paths resolve to absolute HERE so every downstream consumer — scan
    * planning, partition restoration, deletion, stats keys — sees the same
    * absolute strings it always did.
    */
  private def parseFileLines(lines: Seq[String]): (Seq[String], Map[String, FileStats]) = {
    val files = lines.map(l => resolvePath(l.takeWhile(_ != '\t')))
    val stats = lines.flatMap { l =>
      val toks = l.split('\t')
      if (toks.length < 2) None
      else FileStats.parse(toks.drop(1).toSeq).map(resolvePath(toks(0)) -> _)
    }.toMap
    (files, stats)
  }

  /** The ids the compaction index lists, or None when the table has no
    * index: `_commits/` absent, or created by a graft that predates it.
    */
  private def indexedIds(): Option[Seq[Long]] =
    try Some(fs.listStatus(indexDir).toSeq.flatMap(_.getPath.getName.toLongOption))
    catch { case _: java.io.FileNotFoundException => None }

  /** Every negative (compaction or batch) manifest id of a full listing —
    * the compaction manifests of a table without the index.
    */
  private def negativeIds(): Seq[Long] = {
    val f = fs
    if (!f.exists(commitsDir)) return Seq.empty
    f.listStatus(commitsDir).toSeq.map(_.getPath.getName)
      .collect { case CommitLog.ManifestName(id) if id.toLong < 0L => id.toLong }
  }

  /** The parsed manifests that can carry `#supersedes:`, `#watermark:` or
    * `#tombstone_ceiling:` — only [[Compact]] writes those, under its lock.
    * With the index (`index`, by default a fresh listing of it) these are
    * exactly the ids it lists, so the per-epoch guard opens the few
    * (tier-ladder-bounded) compaction manifests and lists nothing else;
    * a marker whose manifest is gone is skipped, as a manifest that
    * vanishes between list and read always was. Without the index, every
    * negative manifest of a full listing.
    */
  private def compactionManifests(
      index: Option[Seq[Long]] = indexedIds()): Seq[Manifest] =
    index.getOrElse(negativeIds()).flatMap(id =>
      // headers only: supersedes/ceiling/watermark live in the parent —
      // this per-epoch read must never pay a sharded manifest's file lines
      readManifest(id, manifestPath(id), resolveShards = false))

  /** Write-once: a marker left by a crashed attempt of the same id stays. */
  private def createMarker(dir: Path, id: Long): Unit =
    try dataFs.create(new Path(dir, id.toString), false).close()
    catch { case _: org.apache.hadoop.fs.FileAlreadyExistsException => () }

  /** Give a table whose `_commits/` predates the compaction index one, and
    * sweep the index of markers whose manifest is gone. Compact calls this
    * under its lock, the only place manifests with compaction headers are
    * written: the markers of a migration are built under a temporary name
    * and the directory is renamed into place last, so no guard ever sees
    * a partial index. A crashed migration leaves the index absent, and the
    * next one removes its temporary directory.
    */
  private[sink] def ensureCompactionIndex(): Unit = {
    val f = fs
    indexedIds() match {
      case Some(ids) =>
        ids.filterNot(id => f.exists(manifestPath(id)))
          .foreach(id => dataFs.delete(new Path(indexDir, id.toString), false))
      case None =>
        if (f.exists(commitsDir))
          f.listStatus(commitsDir)
            .filter(_.getPath.getName.startsWith(CommitLog.IndexTmpPrefix))
            .foreach(st => dataFs.delete(st.getPath, true))
        val tmp = new Path(commitsDir,
          CommitLog.IndexTmpPrefix + java.util.UUID.randomUUID)
        dataFs.mkdirs(tmp)
        compactionManifests(None)
          .filter(m => m.supersedes.nonEmpty || m.watermark.nonEmpty ||
            m.tombstoneCeiling.nonEmpty)
          .foreach(m => createMarker(tmp, m.epochId))
        if (f.exists(indexDir) || !dataFs.rename(tmp, indexDir))
          dataFs.delete(tmp, true)
    }
  }

  /** Union of all explicit tombstone sets (direct supersedes ids; the
    * positive-epoch prefix is carried separately by the ceiling header).
    */
  def allTombstones(): Set[Long] =
    compactionManifests().flatMap(_.supersedes).toSet

  /** True if any non-streaming (negative-id: compaction or batch) manifest
    * exists — the tailing source uses this to deliver an initial snapshot
    * even when no streaming epoch was ever committed.
    */
  def hasNonStreamingManifests(): Boolean = {
    val f = fs
    f.exists(commitsDir) && f.listStatus(commitsDir).exists(st =>
      st.getPath.getName match {
        case CommitLog.ManifestName(id) => id.toLong < 0L
        case _ => false
      })
  }

  /** The liveness filter shared by [[manifests]] and
    * [[manifestsSelective]]: drop manifests superseded by id and
    * streaming epochs under any tombstone ceiling (a consumed epoch whose
    * cleanup crashed must stay dead).
    */
  private def liveOf(all: Seq[Manifest]): Seq[Manifest] = {
    val superseded = all.flatMap(_.supersedes).toSet
    val ceiling = ceilingOf(all)
    all.filterNot(m => superseded.contains(m.epochId) ||
      (m.epochId >= 0 && m.epochId <= ceiling))
  }

  /** The one snapshot routine every live read goes through: header-parse
    * the listing, apply [[liveOf]], resolve shard bytes only for the
    * manifests `needFiles` selects (from already-parsed refs — no parent
    * re-read). The WHOLE sequence restarts from a FRESH listing whenever
    * a manifest (or a dead manifest's shard) vanished between list and
    * read: a compaction's superseding manifest is guaranteed visible
    * only to listings taken AFTER its cleanup began, so completing a
    * stale listing would return a partial table — the consumed epochs
    * present in neither their old form (files just deleted) nor their
    * new one (superseding manifest not in THIS listing) — with no error.
    * The "a concurrent reader either lists them as superseded or no
    * longer lists them at all" argument holds per listing, never across
    * one. Bounded retries; on the final attempt vanished manifests drop
    * (the pre-retry behavior) rather than failing a read racing
    * pathologically back-to-back compactions.
    */
  private def liveManifests(needFiles: Manifest => Boolean,
      partitionPredicates: Seq[(String, String)] = Seq.empty): Seq[Manifest] = {
    val f = fs
    var attempt = 0
    while (true) {
      if (!f.exists(commitsDir)) return Seq.empty
      val headers = f.listStatus(commitsDir).toSeq.flatMap { st =>
        st.getPath.getName match {
          case CommitLog.ManifestName(id) =>
            Some(readManifest(id.toLong, st.getPath, resolveShards = false))
          case _ => None
        }
      }
      val last = attempt >= CommitLog.MaxListRetries
      if (!headers.contains(None) || last) {
        val resolved = liveOf(headers.flatten).map { m =>
          if (m.shardRefs.isEmpty || !needFiles(m)) Some(m)
          else resolveShardsOf(m, partitionPredicates)
        }
        if (!resolved.contains(None) || last) return resolved.flatten
      }
      attempt += 1
    }
    throw new IllegalStateException("unreachable")
  }

  def manifests(
      partitionPredicates: Seq[(String, String)] = Seq.empty): Seq[Manifest] =
    liveManifests(_ => true, partitionPredicates)

  /** [[manifests]] with shard resolution restricted to the manifests
    * whose FILES the caller will actually consume: headers parse for all
    * (the supersedes/ceiling liveness filter needs them — cheap, a
    * sharded parent is a few lines), shard bytes only where `needFiles`
    * says so. The streaming tail calls this once per trigger, so a
    * steady-state tail never re-parses the (possibly 10⁵-entry)
    * compaction manifests' shards it was about to discard — the
    * streaming twin of the batch path's partition-pruned read. An
    * UNNEEDED sharded manifest comes back with its headers and EMPTY
    * files; flat manifests always carry their inline files.
    */
  def manifestsSelective(needFiles: Manifest => Boolean): Seq[Manifest] =
    liveManifests(needFiles)

  /** All files published across all live epochs. */
  def committedFiles(): Seq[String] = manifests().flatMap(_.files)

  /** Live files with their recorded column stats (None → never skip).
    * With `partitionPredicates`, sharded manifests contribute only the
    * surviving partitions' entries — untouched partitions' shard files
    * are never opened, so plan cost tracks touched partitions, not the
    * table's total file count.
    */
  def committedFilesWithStats(
      partitionPredicates: Seq[(String, String)] = Seq.empty)
      : Seq[(String, Option[FileStats])] =
    manifests(partitionPredicates)
      .flatMap(m => m.files.map(f => f -> m.fileStats.get(f)))

  /** Files published by one specific live epoch (empty if uncommitted or
    * compacted away). Shard bytes resolve only for the REQUESTED epoch —
    * a large compaction manifest's corpus is never parsed to answer for
    * a small streaming epoch.
    */
  def filesOf(epochId: Long): Seq[String] =
    manifestsSelective(_.epochId == epochId)
      .find(_.epochId == epochId).map(_.files).getOrElse(Seq.empty)

  /** Live epoch ids. Header-only: ids need no shard bytes, so this stays
    * O(#manifests × headers) whatever the table's file count.
    */
  def committedEpochs(): Seq[Long] =
    manifestsSelective(_ => false).map(_.epochId).sorted

  /** Streaming high-water mark: max live streaming epoch id, or the
    * watermark a compaction preserved when it consumed those manifests.
    *
    * Called once per trigger by the tailing source, so it must NOT read
    * every manifest: positive ids come from listStatus names alone; only
    * the (few) compaction manifests are opened for their watermark header.
    */
  def streamingWatermark(): Long = {
    val f = fs
    if (!f.exists(commitsDir)) return -1L
    val names = f.listStatus(commitsDir).toSeq.map(_.getPath.getName)
      .collect { case CommitLog.ManifestName(id) => id.toLong }
    val posMax = names.filter(_ >= 0L).foldLeft(-1L)(math.max)
    compactionManifests(indexedIds().orElse(Some(names.filter(_ < 0L))))
      .flatMap(_.watermark).foldLeft(posMax)(math.max)
  }

  /** Remove a superseded manifest (post-compaction cleanup — only safe
    * after the superseding manifest is visible). The manifest goes FIRST
    * (readers stop seeing it atomically), then any shard directories of
    * this epoch — including leftovers of its own failed commit attempts,
    * whose distinct UUIDs make the prefix listing find them too. A crash
    * between the two deletes leaves orphan shard dirs that
    * [[Compact]]'s expired-trash sweep removes. The manifest's index
    * marker goes right after the manifest: a marker alone is skipped.
    */
  def deleteManifest(epochId: Long): Unit = {
    val f = fs
    f.delete(manifestPath(epochId), false)
    dataFs.delete(new Path(indexDir, epochId.toString), false)
    if (f.exists(commitsDir))
      f.listStatus(commitsDir)
        .filter(_.getPath.getName.startsWith(s".epoch-$epochId.shards-"))
        .foreach(st => f.delete(st.getPath, true))
  }

  /** Remove a superseded manifest AND, first, everything it itself
    * superseded that is still on disk (a previous generation's crashed
    * cleanup). Descendants go before the manifest hiding them, so at no
    * point does a leftover lack a live hider — this is what lets
    * compaction list only its DIRECTLY consumed ids instead of carrying
    * the transitive closure forever: any chain of crashed cleanups is
    * retried to its full depth by whichever later compaction finally
    * consumes the top of the chain.
    */
  def deleteManifestTransitively(epochId: Long,
      visited: mutable.Set[Long] = mutable.Set.empty): Unit = {
    if (!visited.add(epochId)) return
    val p = manifestPath(epochId)
    if (!fs.exists(p)) return
    // headers only: the recursion needs supersedes, never file lines
    readManifest(epochId, p, resolveShards = false).foreach(
      _.supersedes.foreach(deleteManifestTransitively(_, visited)))
    deleteManifest(epochId)
  }

  /** Delete the given files (replayed-epoch discard / task abort). */
  def deleteFiles(files: Seq[String]): Unit = {
    val f = fs
    files.foreach { p =>
      f.delete(new Path(p), false)
      Bloom.deleteSidecar(f, p) // bloom sidecars ride their data file
    }
  }
}

object CommitLog {
  val COMMITS_DIR = "_commits"

  /** The compaction index, under `_commits/`: see `compactionManifests`.
    * A graft that predates it compacts without adding markers, so after
    * an older binary compacts a table the index misses that manifest
    * (SCALE.md); delete the directory and the next compaction rebuilds it.
    */
  private[sink] val INDEX_DIR = "_compactions"
  private val IndexTmpPrefix = ".compactions-"

  /** A new manifest's first line: the format marker (2 = table-relative
    * file lines; readers skip `#` lines, so older ones read on, and a
    * pre-format-2 binary's misresolved lines become diagnosable) and the
    * CRC-32 of every byte after that line. It stands in for the `.crc`
    * sidecar of the checksummed file system, which manifests bypass.
    */
  private val SealPrefix = "#format:2 crc32:"
  private val CrcField = "crc32:"

  private def crc32(bytes: Array[Byte]): String = {
    val c = new java.util.zip.CRC32
    c.update(bytes)
    f"${c.getValue}%08x"
  }

  private def seal(rest: String): Array[Byte] = {
    val body = rest.getBytes(StandardCharsets.UTF_8)
    s"$SealPrefix${crc32(body)}\n".getBytes(StandardCharsets.UTF_8) ++ body
  }

  /** The text of manifest `p` after its seal line, checked against the
    * seal's CRC; a manifest written before the seal reads whole, its
    * `.crc` already checked by the checksummed file system.
    */
  private def unseal(p: Path, bytes: Array[Byte]): String = {
    val prefix = SealPrefix.getBytes(StandardCharsets.UTF_8)
    if (!bytes.startsWith(prefix)) return new String(bytes, StandardCharsets.UTF_8)
    val nl = bytes.indexOf('\n'.toByte) match { case -1 => bytes.length; case i => i }
    val want = new String(bytes, prefix.length, nl - prefix.length, StandardCharsets.UTF_8)
    val rest = bytes.drop(nl + 1)
    val got = crc32(rest)
    if (got != want) throw new java.io.IOException(
      s"manifest $p is corrupt: its CRC-32 is $got, its first line records $want")
    new String(rest, StandardCharsets.UTF_8)
  }

  /** The ONE resolution rule for recorded (format-2, table-relative)
    * paths, shared by manifest parsing and trash-ledger purging so the
    * two can never drift: absolute (`/...`) and scheme-qualified
    * (`scheme:/...`) lines pass through (legacy manifests); anything else
    * resolves under the table dir. Partition values percent-encode ':',
    * so a relative line can never false-positive the scheme check.
    */
  private[sink] def resolvePath(tableDir: String, f: String): String =
    if (f.startsWith("/") || f.contains(":/")) f
    else s"${tableDir.stripSuffix("/")}/$f"
  private val ManifestName = "epoch-(-?\\d+)\\.manifest".r

  /** Re-list attempts when a manifest vanished between list and read
    * (concurrent compaction cleanup) — see `liveManifests`.
    */
  private val MaxListRetries = 4

  /** One shard of a partition-sharded manifest: its path relative to
    * `_commits/`, the `k=v` partition values every file it lists shares
    * (empty for files outside any partition directory), and the CRC-32
    * of its bytes (absent on older shards, which carry a `.crc`).
    */
  final case class ShardRef(relPath: String,
      partitionValues: Map[String, String], crc: Option[String] = None)

  /** Commits at or above this many files shard their entries by partition
    * directory. Default 64: streaming epochs (files ≈ touched partitions ×
    * writers) typically stay flat, while compaction outputs — where the
    * 10⁵–10⁶-file plan-cost problem lives — shard. Sysprop-tunable for
    * tests and unusual layouts.
    */
  private[graft] def shardThreshold: Int =
    Integer.getInteger("graft.commitlog.shard.threshold", 64)

  /** Count of shard files opened — instrumentation for specs/benches to
    * assert untouched partitions' shards are never parsed.
    */
  private[graft] val shardFileReads = new java.util.concurrent.atomic.AtomicLong

  /** Read a (small) file fully as UTF-8 — the one read loop shared by
    * manifest, trash-ledger, and lease readers, so EOF/charset/close
    * behavior can never drift between them.
    */
  private[graft] def readFully(fs: FileSystem, p: Path): String =
    new String(readBytes(fs, p), StandardCharsets.UTF_8)

  private[graft] def readBytes(fs: FileSystem, p: Path): Array[Byte] = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      bytes.toByteArray
    } finally in.close()
  }

  /** `k=v` path segments strictly BELOW the table root — never the
    * warehouse base path, which may itself contain `k=v`-shaped directories.
    */
  def partitionSegments(file: String, dbTable: String): Seq[(String, String)] = {
    val segs = file.split('/')
    val idx = segs.lastIndexOf(dbTable)
    if (idx < 0) Seq.empty
    else segs.slice(idx + 1, segs.length - 1).filter(_.contains('='))
      .map { s => val Array(k, v) = s.split("=", 2); k -> v }.toSeq
  }

  /** Read the committed rows of a graft-streaming table back (visibility
    * strictly through manifests). Delegates to the DSv2 read path —
    * `spark.read.format("graft-streaming")` — so partition values round-trip
    * identically (typed, percent-unescaped, `__NULL__` → null) on both
    * documented read routes. `tableDir` must be `<path>/<db>.<table>` as
    * produced by [[GraftSinkOptions.tableDir]].
    */
  def readCommitted(
      spark: org.apache.spark.sql.SparkSession,
      tableDir: String): org.apache.spark.sql.DataFrame = {
    val log = new CommitLog(tableDir, spark.sparkContext.hadoopConfiguration)
    val norm = tableDir.stripSuffix("/")
    val slash = norm.lastIndexOf('/')
    val dbTable = norm.substring(slash + 1)
    val dot = dbTable.indexOf('.')
    require(dot > 0, s"table dir '$tableDir' is not <path>/<db>.<table>")
    val opts = GraftSinkOptions(
      path = norm.substring(0, slash),
      db = dbTable.substring(0, dot),
      table = dbTable.substring(dot + 1),
      partitionColumns = Seq.empty, batchSize = 1, txnPerBatch = 1,
      autoCreatePartitions = true)
    if (log.committedFiles().isEmpty) {
      // schema-typed empty frame when the table exists but holds no rows,
      // so .select/.filter on known columns still analyze
      return SchemaRegistry.load(opts)
        .map(schema => spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
        .getOrElse(spark.emptyDataFrame)
    }
    spark.read.format("graft-streaming")
      .option(GraftSinkOptions.PATH, opts.path)
      .option(GraftSinkOptions.DB, opts.db)
      .option(GraftSinkOptions.TABLE, opts.table)
      .load()
  }
}
