package graft.streaming

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Compact bucketed side index of LSH band keys for streaming near-dedup —
  * the structure that bounds [[StreamingNearDedup]]'s per-epoch state read.
  *
  * Without it, each micro-batch re-read the ENTIRE committed table (full
  * JSON rows) just to extract band keys: O(corpus) per epoch, fine at test
  * scale and a scale-killer for a long-running 100 TB ingest. The index
  * stores ONLY the 8-byte band keys, laid out as
  * `<table>/_banddex/bucket=<b>/epoch-<e>-<i>.parquet` with
  * `b = bk mod NumBuckets`, so an incoming batch reads just the buckets its
  * own keys hash into — per-epoch bytes bounded by
  * |touched buckets| / NumBuckets of the (already tiny) key corpus, not by
  * the corpus itself. The same bucketed-prefix layout story the batch ANN
  * docs tell, applied to streaming state.
  *
  * The index records EVERY arrival's keys — kept and dropped alike — which
  * is what makes the declared dedup policy ("similar to any earlier
  * arrival, kept or not, drops you") hold transitively across epochs: a doc
  * similar only to a previously-dropped doc still collapses to the chain's
  * first arrival, even though the dropped doc never landed in the table.
  *
  * Crash/replay protocol (exactly-once alignment with the sink's
  * [[graft.sink.CommitLog]]): the index for epoch e is appended AFTER the
  * epoch's data commit, with epoch-scoped file names published by rename.
  * A crash between data commit and index append leaves the epoch
  * unacknowledged in the streaming checkpoint, so the batch replays:
  * dedup recomputes against epochs ≠ e (readers exclude the current epoch's
  * own files, so a half-written previous attempt can never make a batch
  * collide with itself), the data write is discarded as a replay, and the
  * index append re-publishes idempotently (stale attempt files for the
  * epoch are removed first, leftover tmp dirs of any crashed attempt are
  * swept). [[ensureBackfilled]] creates the index directory BEFORE the
  * table's first data commit, so a replayed first epoch can never trigger a
  * backfill of its own landed rows (which `excludeEpoch` could not hide).
  *
  * Single-writer contract: append and compact are only safe serial with
  * each other — [[StreamingNearDedup]] enforces it with the lease in
  * [[acquireLease]]/[[renewLease]], so a second concurrent stream on the
  * same table fails fast instead of racing the rename-publish.
  */
object BandIndex {

  /** Bucket fan-out. 64 keeps per-bucket file counts readable at test
    * scale; a 100 TB ingest raises this (it is a layout constant of the
    * table, fixed at creation) so each epoch's read stays a few files —
    * the per-epoch read scales with batch key spread, never corpus size.
    *
    * The value in force at creation is PERSISTED in `_banddex/_meta` and
    * validated on every writer entry ([[ensureMeta]]): a jar rebuilt with a
    * different constant would otherwise silently mis-bucket an existing
    * table — probes would read the wrong buckets and near-dups re-land.
    */
  val NumBuckets = 64

  val DirName = "_banddex"

  val MetaName = "_meta"

  private val PartName = "epoch-(-?\\d+)-\\d+\\.parquet".r

  /** The layout constants baked into this index's files for the given
    * banding scheme: the bucket fan-out (directory layout) and the key
    * semantics ([[StreamingNearDedup]]'s MinHash LSH, or the 4×16-bit
    * SimHash chunks — r14 verdict #4). A change to ANY of these makes
    * existing index files unreadable-as-intended.
    */
  private def metaPropsFor(banding: String): Seq[(String, String)] =
    banding match {
      case StreamingNearDedup.BandingMinHash => Seq(
        "numBuckets" -> NumBuckets.toString,
        "banding" -> StreamingNearDedup.BandingMinHash,
        "numHashes" -> StreamingNearDedup.NumHashes.toString,
        "numBands" -> StreamingNearDedup.NumBands.toString,
        "bandSize" -> StreamingNearDedup.BandSize.toString)
      case StreamingNearDedup.BandingSimHash => Seq(
        "numBuckets" -> NumBuckets.toString,
        "banding" -> StreamingNearDedup.BandingSimHash,
        "numBands" -> StreamingNearDedup.SimHashBands.toString,
        "bandSize" -> StreamingNearDedup.SimHashBandBits.toString)
      case StreamingNearDedup.BandingNgram => Seq(
        "numBuckets" -> NumBuckets.toString,
        "banding" -> StreamingNearDedup.BandingNgram,
        // the key space is xxhash64 over word-level 3-gram shingle
        // strings; the width is a layout constant like the others
        "shingle" -> "3")
      case e if StreamingNearDedup.embedBanding(e).isDefined =>
        // embed records the PARAMETERIZED banding (numBands × bitsPerBand
        // — the corpus-size knob), so an `embed-8x24` table rejects an
        // `embed` (8x8) writer through the same numBands/bandSize diff
        val (nb, bits) = StreamingNearDedup.embedBanding(e).get
        Seq(
          "numBuckets" -> NumBuckets.toString,
          "banding" -> StreamingNearDedup.BandingEmbed,
          "numBands" -> nb.toString,
          "bandSize" -> bits.toString)
      case other => throw new IllegalArgumentException(
        s"unknown banding '$other'")
    }

  /** Validate this jar's layout constants (for the declared `banding`)
    * against the table's persisted `_banddex/_meta`, creating it when
    * absent.
    *
    *  - meta present + any recorded key differs → fail LOUDLY naming the
    *    keys (the alternative is silent mis-bucketing: probes read the
    *    wrong `bucket=` dirs — or, across banding schemes, compare keys
    *    from different hash spaces — and every near-dup of the old corpus
    *    re-lands);
    *  - meta absent but the index holds files (table written by a
    *    pre-meta jar) → one-time heal recording the MINHASH constants —
    *    the only layout any pre-meta jar ever shipped (simhash banding
    *    postdates the meta file), so a simhash writer entering such a
    *    table heals it truthfully and then fails the validation below;
    *  - neither exists → created together (table creation) with the
    *    declared banding's constants.
    *
    * Unknown keys in the file are ignored so future jars can extend the
    * format without breaking this one.
    */
  private[graft] def ensureMeta(fs: FileSystem, tableDir: String,
      banding: String = StreamingNearDedup.BandingMinHash): Unit =
    ensureMetaImpl(fs, tableDir, Some(banding))

  /** [[ensureMeta]] for the banding-AGNOSTIC maintenance entries (append,
    * compact, backfill): they move opaque `bk` keys between buckets, so
    * they depend on — and validate — only the bucket fan-out, never the
    * key semantics. A simhash table's append must not trip over the
    * default-minhash band constants; only the stream entry
    * ([[ensureBackfilled]]) declares a banding and gets the full check.
    */
  private def ensureMetaBucketsOnly(fs: FileSystem, tableDir: String): Unit =
    ensureMetaImpl(fs, tableDir, None)

  private def ensureMetaImpl(fs: FileSystem, tableDir: String,
      banding: Option[String]): Unit = {
    val idxDir = new Path(dir(tableDir))
    val meta = new Path(idxDir, MetaName)
    if (!fs.exists(meta)) {
      fs.mkdirs(idxDir)
      val preMetaFiles = fs.listStatus(idxDir)
        .exists(_.getPath.getName.startsWith("bucket="))
      // a meta-less index WITH files was written by a pre-meta jar, and
      // those only ever shipped the minhash layout — record that truth
      // (a simhash writer entering such a table then fails the validation
      // below); a fresh index records the declared banding
      val props =
        if (preMetaFiles || banding.isEmpty)
          metaPropsFor(StreamingNearDedup.BandingMinHash)
        else metaPropsFor(banding.get)
      // write-temp + rename so no concurrent reader observes a partial file
      val tmp = new Path(idxDir, s".$MetaName.${UUID.randomUUID}.tmp")
      val out = fs.create(tmp, false)
      try out.write(props.map { case (k, v) => s"$k=$v" }
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, meta)) fs.delete(tmp, false)
    }
    // validate even right after creation: a simhash writer healing a
    // pre-meta (necessarily minhash) table must fail on THIS entry, not
    // after its first mis-keyed probe
    val recorded = graft.sink.CommitLog.readFully(fs, meta)
      .split("\n").filter(_.contains("="))
      .map { l => val Array(k, v) = l.split("=", 2); k -> v.trim }.toMap
    val checked = banding match {
      case Some(b) => metaPropsFor(b)
      case None => Seq("numBuckets" -> NumBuckets.toString)
    }
    val diffs = checked.filter { case (k, v) =>
      recorded.get(k).exists(_ != v)
    }
    if (diffs.nonEmpty) {
      throw new IllegalStateException(
        s"band index layout mismatch for $tableDir: this build uses " +
          diffs.map { case (k, v) =>
            s"$k=$v but the table was created with $k=${recorded(k)}"
          }.mkString("; ") +
          ". Reading it with different constants would silently " +
          "mis-bucket probes. Rebuild with the recorded constants, or " +
          "re-create the index (delete _banddex and let ensureBackfilled " +
          "rebuild it from the committed rows).")
    }
  }

  /** Epoch id under which [[backfill]] publishes pre-index keys. */
  val BackfillEpoch: Long = -1L

  /** Compacted runs (ids ≤ -2) in the same size class merge once this many
    * accumulate — the LSM fan-out. Each key is rewritten O(log_F corpus)
    * times over its lifetime instead of once per compaction.
    */
  val TierFanout = 4

  def dir(tableDir: String): String = s"$tableDir/$DirName"

  def bucket(bk: Column): Column = pmod(bk, lit(NumBuckets.toLong)).cast("int")

  private def fsFor(spark: SparkSession, tableDir: String): FileSystem =
    new Path(dir(tableDir))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Index files covering `touched` buckets from every epoch except
    * `excludeEpoch` — the complete per-epoch read set, listed driver-side
    * (O(|touched|) directory listings, metadata-scale like the manifest
    * reads the sink already does per epoch).
    */
  private[graft] def selectFiles(fs: FileSystem, tableDir: String,
      touched: Set[Int], excludeEpoch: Long): Seq[String] = {
    val idxDir = new Path(dir(tableDir))
    if (!fs.exists(idxDir)) return Seq.empty
    touched.toSeq.sorted.flatMap { b =>
      val bdir = new Path(idxDir, s"bucket=$b")
      if (!fs.exists(bdir)) Seq.empty
      else fs.listStatus(bdir).toSeq
        .filter(_.getPath.getName match {
          case PartName(id) => id.toLong != excludeEpoch
          case _ => false
        })
        .map(_.getPath.toString)
    }
  }

  /** All previously indexed band keys that could collide with a batch
    * whose keys hash into `touched` — a one-column (bk: long) frame.
    */
  def readKeys(spark: SparkSession, tableDir: String,
      touched: Set[Int], excludeEpoch: Long): DataFrame = {
    val files = selectFiles(fsFor(spark, tableDir), tableDir, touched, excludeEpoch)
    if (files.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("bk", LongType))))
    else
      // explicit schema: these are leaf files, and the bucket value lives in
      // the directory name — partition inference must not resurrect it
      spark.read.schema("bk LONG").parquet(files: _*)
  }

  /** The crash-safety-critical publish step shared by [[append]] and
    * [[compact]]: move each bucket's part files from the writer's tmp dir
    * into the live layout under epoch-scoped names (readers match only the
    * final names, so a crash mid-loop leaves a retryable partial that the
    * next attempt supersedes), then drop the tmp dir.
    */
  private def publishBuckets(
      fs: FileSystem, idxDir: Path, tmp: Path, id: Long): Unit = {
    fs.listStatus(tmp).filter(_.getPath.getName.startsWith("bucket="))
      .foreach { bdir =>
        val target = new Path(idxDir, bdir.getPath.getName)
        fs.mkdirs(target)
        fs.listStatus(bdir.getPath).map(_.getPath)
          .filter(_.getName.endsWith(".parquet")).zipWithIndex
          .foreach { case (p, i) =>
            val dst = new Path(target, s"epoch-$id-$i.parquet")
            // a silently-failed rename would drop this bucket's band keys
            // from the index FOREVER (the epoch still acks, and every
            // future near-dup of these documents re-lands as a
            // duplicate) — fail the epoch so Spark replays it instead
            if (!fs.rename(p, dst))
              throw new IllegalStateException(
                s"band-index publish failed: rename $p -> $dst returned " +
                  "false; failing the epoch so replay re-publishes the keys")
          }
      }
    fs.delete(tmp, true)
  }

  /** Sweep tmp dirs a crashed append/compact attempt left behind. Readers
    * never see them (they match only final names), but a long-running
    * ingest with occasional failures would otherwise accumulate dead files
    * beside the index forever. Safe under the single-writer lease: any
    * `.*.tmp-*` dir present when a new attempt STARTS is by definition a
    * dead attempt (the live attempt creates its own tmp after this sweep).
    */
  private def cleanOrphans(fs: FileSystem, idxDir: Path): Unit =
    if (fs.exists(idxDir)) {
      fs.listStatus(idxDir)
        .filter { st =>
          val n = st.getPath.getName
          st.isDirectory && n.startsWith(".") && n.contains(".tmp-")
        }
        .foreach(st => fs.delete(st.getPath, true))
    }

  /** Every live index file, grouped by its epoch/run id:
    * `id -> Seq[(path, bytes)]` across all buckets.
    */
  private def listIndex(fs: FileSystem, idxDir: Path): Map[Long, Seq[(Path, Long)]] =
    if (!fs.exists(idxDir)) Map.empty
    else fs.listStatus(idxDir).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("bucket="))
      .flatMap(bdir => fs.listStatus(bdir.getPath).toSeq)
      .flatMap { st =>
        st.getPath.getName match {
          case PartName(id) => Some(id.toLong -> (st.getPath, st.getLen))
          case _ => None
        }
      }
      .groupMap(_._1)(_._2)

  /** Publish `keys` (doc_id, bk) as epoch `epochId`'s index files.
    * Idempotent: a replay removes the epoch's previous files first, and
    * per-bucket part files land under epoch-scoped names via rename, so a
    * crashed attempt is invisible to readers (they match only the final
    * names) and fully superseded on retry. The index directory is created
    * even when `keys` is empty (all-short-doc batch), so
    * [[ensureBackfilled]]'s heal stays a one-time event instead of
    * re-scanning the table every epoch.
    */
  def append(keys: DataFrame, tableDir: String, epochId: Long): Unit = {
    val spark = keys.sparkSession
    val fs = fsFor(spark, tableDir)
    val idxDir = new Path(dir(tableDir))
    ensureMetaBucketsOnly(fs, tableDir)
    cleanOrphans(fs, idxDir)
    val tmp = new Path(idxDir, s".epoch-$epochId.tmp-${UUID.randomUUID}")
    // one file per populated bucket: the repartition clusters each bucket
    // into a single task before the partitioned write
    keys.select(col("bk"), bucket(col("bk")).as("bucket"))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(tmp.toString)
    // drop any files a previous crashed attempt of THIS epoch published
    fs.listStatus(idxDir).filter(_.getPath.getName.startsWith("bucket="))
      .foreach { bdir =>
        fs.listStatus(bdir.getPath)
          .filter(_.getPath.getName match {
            case PartName(id) => id.toLong == epochId
            case _ => false
          })
          .foreach(st => fs.delete(st.getPath, false))
      }
    publishBuckets(fs, idxDir, tmp, epochId)
  }

  /** Read `files`, dedup the keys, and publish them as one consolidated
    * run under `newId`; the consumed files are deleted only AFTER the run
    * is visible (a crash between leaves harmless duplicate keys that the
    * next merge folds away — a left-semi probe is insensitive to dupes).
    */
  private def mergeFiles(spark: SparkSession, fs: FileSystem, idxDir: Path,
      files: Seq[Path], newId: Long): Unit = {
    val tmp = new Path(idxDir, s".compact.tmp-${UUID.randomUUID}")
    spark.read.schema("bk LONG").parquet(files.map(_.toString): _*)
      .distinct()
      .select(col("bk"), bucket(col("bk")).as("bucket"))
      .repartition(col("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(tmp.toString)
    publishBuckets(fs, idxDir, tmp, newId)
    files.foreach(p => fs.delete(p, false))
  }

  /** Size class of a run for tier selection: log_4 of its total bytes.
    * Runs in the same class hold corpora within ~4× of each other — close
    * enough that merging [[TierFanout]] of them roughly promotes the result
    * one class up, the invariant the amortized-log cost rests on.
    */
  private def sizeClass(bytes: Long): Int =
    (64 - java.lang.Long.numberOfLeadingZeros(math.max(bytes, 1L))) / 2

  /** TIERED (LSM-style) consolidation of the index's accumulated files.
    * A long-running ingest writes a file per (epoch, touched bucket), so
    * after E epochs a bucket probe opens O(E) small files; compaction keeps
    * that bounded WITHOUT the earlier design's full-index rewrite (which
    * made every compaction O(total keys) — per-epoch amortized cost growing
    * with the corpus even though probes stayed cheap):
    *
    *  1. L0 merge: all sealed per-epoch delta files (ids ≥ -1: streaming
    *     epochs + backfill, minus `protectEpoch`) merge into ONE new run —
    *     cost bounded by the keys ingested since the last compaction, a
    *     constant per epoch, never by the corpus.
    *  2. Tier ladder: whenever ≥ [[TierFanout]] runs (ids ≤ -2) land in the
    *     same size class (log₄ bytes), they merge into one run of the next
    *     class. Each key is rewritten O(log₄ corpus) times over its
    *     lifetime; most compactions do only the L0 merge.
    *
    * Probe cost after compaction: per bucket ≤ (epochs since last compact)
    * delta files + ≤ TierFanout·log₄(corpus) run files — O(log corpus);
    * perfbench's `dedup_stream` reports the index's shape and probe cost
    * as its `bandindex.*` metrics (files, bytes, read_keys_ms).
    *
    * Designed to run SERIALLY with the writer — [[StreamingNearDedup]]
    * calls it inside foreachBatch every `compactEvery` epochs under the
    * writer lease, so no concurrent probe can observe a swap.
    * `protectEpoch` (the in-flight epoch) keeps that epoch's files out of
    * the consolidation so the readers' exclude-own-epoch replay guarantee
    * stays exact: a consolidated run only ever holds keys of epochs a
    * replay must still see.
    *
    * Runs are published under fresh NEGATIVE ids (one below the smallest id
    * present; [[BackfillEpoch]] is -1, so runs start at -2), which positive
    * streaming epochs can never collide with and `excludeEpoch` never
    * hides. Crash-safe: runs are rename-published BEFORE the consumed files
    * are deleted, and duplicate keys during the swap window are harmless to
    * a left-semi probe.
    */
  def compact(spark: SparkSession, tableDir: String,
      protectEpoch: Long = Long.MinValue): Unit = {
    val fs = fsFor(spark, tableDir)
    val idxDir = new Path(dir(tableDir))
    if (!fs.exists(idxDir)) return
    ensureMetaBucketsOnly(fs, tableDir)
    cleanOrphans(fs, idxDir)
    val state = listIndex(fs, idxDir)
    if (state.isEmpty) return
    var nextId = math.min(state.keys.min, -1L) - 1L
    // L0: seal the per-epoch deltas into a run. Skipped when there is only
    // one delta and nothing to fold it toward — a pure rewrite with no
    // file-count gain; it merges on the next call instead.
    val deltas = state.filter { case (id, _) =>
      id >= BackfillEpoch && id != protectEpoch
    }
    if (deltas.size >= 2 || (deltas.nonEmpty && state.keys.exists(_ <= -2L))) {
      mergeFiles(spark, fs, idxDir, deltas.values.flatten.map(_._1).toSeq, nextId)
      nextId -= 1
    }
    // tier ladder: merge the lowest size class holding ≥ TierFanout runs,
    // repeat until no class is over — a merge can promote its result into a
    // fuller class, so loop to a fixpoint
    var done = false
    while (!done) {
      val runs = listIndex(fs, idxDir).filter(_._1 <= -2L)
      val classes = runs.groupBy { case (_, fl) => sizeClass(fl.map(_._2).sum) }
      classes.filter(_._2.size >= TierFanout).keys.minOption match {
        case Some(c) =>
          mergeFiles(spark, fs, idxDir,
            classes(c).values.flatten.map(_._1).toSeq, nextId)
          nextId -= 1
        case None => done = true
      }
    }
  }

  /** Per-tier shape of the index, for tests (perfbench's `dedup_stream`
    * reports the whole index as `bandindex.files`/`bandindex.bytes`): how
    * many per-epoch delta ids, how many compacted runs, and the worst
    * per-bucket file count a probe could open.
    */
  private[graft] case class IndexStats(
      deltaEpochs: Int, runs: Int, maxFilesPerBucket: Int)

  /** Live runs (ids ≤ -2) grouped into their size classes — the ladder's
    * actual invariant surface: after [[compact]] reaches its fixpoint,
    * every class holds FEWER than [[TierFanout]] runs. The TOTAL run count
    * is bounded by TierFanout · (occupied classes) = O(log₄ corpus), not
    * by TierFanout alone: a mixed-size workload legitimately holds runs in
    * several classes at once.
    */
  private[graft] def runClassCounts(
      spark: SparkSession, tableDir: String): Map[Int, Int] = {
    val fs = fsFor(spark, tableDir)
    listIndex(fs, new Path(dir(tableDir)))
      .filter(_._1 <= -2L)
      .groupBy { case (_, fl) => sizeClass(fl.map(_._2).sum) }
      .map { case (c, m) => c -> m.size }
  }

  private[graft] def stats(spark: SparkSession, tableDir: String): IndexStats = {
    val fs = fsFor(spark, tableDir)
    val idxDir = new Path(dir(tableDir))
    val state = listIndex(fs, idxDir)
    val perBucket = state.values.flatten
      .groupBy { case (p, _) => p.getParent.getName }
      .map(_._2.size)
    IndexStats(
      deltaEpochs = state.keys.count(_ >= BackfillEpoch),
      runs = state.keys.count(_ <= -2L),
      maxFilesPerBucket = if (perBucket.isEmpty) 0 else perBucket.max)
  }

  /** One-off upgrade path for a table written before the index existed:
    * derive band keys from the committed rows' band columns and publish
    * them under [[BackfillEpoch]]. Only LANDED docs can be recovered — the
    * pre-index design never recorded dropped arrivals — so chains through
    * docs dropped before the backfill stay collapsed only as far as the
    * table recorded them.
    */
  def backfill(spark: SparkSession, tableDir: String): Unit = {
    val existing = graft.sink.CommitLog.readCommitted(spark, tableDir)
    if (existing.columns.contains("band_0"))
      append(StreamingNearDedup.bandKeys(existing), tableDir, BackfillEpoch)
  }

  /** Heal a pre-index table before its first probe: a banded table with
    * committed rows but no index directory would silently probe an EMPTY
    * key set — every near-dup of the old corpus would re-land.
    * [[StreamingNearDedup]] calls this each epoch BEFORE the epoch's data
    * commit; after the first call the index directory exists and this is a
    * single fs.exists.
    *
    * `replayingEpoch` closes the replay hole on a table THIS writer is the
    * first to index: if the only committed rows belong to the epoch being
    * replayed (a crash landed epoch e's data but not its index append, and
    * no index dir exists — possible only for a table no epoch of this
    * writer ever probed, since probes create the dir), backfilling them
    * under [[BackfillEpoch]] would make the replayed batch collide with
    * ITSELF — `excludeEpoch` cannot hide backfill-published keys. Skip the
    * backfill instead: the replay recomputes against genuinely-earlier
    * state (none), and the epoch's own append re-publishes its keys. The
    * one residual corner is a PRE-INDEX jar's in-flight epoch replayed by
    * this jar over an older corpus — its rows backfill alongside the old
    * corpus and the replayed batch self-collides; the table stays correct
    * because the sink discards the replayed commit, at the cost of that
    * epoch's index holding a reduced key set until its append runs.
    */
  def ensureBackfilled(spark: SparkSession, tableDir: String,
      replayingEpoch: Long = Long.MinValue,
      banding: String = StreamingNearDedup.BandingMinHash): Unit = {
    val fs = fsFor(spark, tableDir)
    val idxDir = new Path(dir(tableDir))
    if (!fs.exists(idxDir)) {
      // record the declared banding BEFORE the backfill: backfill's append
      // only validates bucket layout, so on a rebuilt index (the
      // documented delete-_banddex recovery of a simhash table) it would
      // otherwise heal a minhash meta under the simhash keys. Creating the
      // dir here also closes the replay hole for every later epoch (the
      // dir exists before the first data commit).
      ensureMeta(fs, tableDir, banding)
      val committed = new graft.sink.CommitLog(
        tableDir, spark.sparkContext.hadoopConfiguration).committedEpochs()
      if (committed.exists(_ != replayingEpoch)) backfill(spark, tableDir)
    } else {
      // every-epoch layout validation (and the one-time meta heal for
      // pre-meta tables): a rebuilt jar with different constants must fail
      // HERE, before its first mis-bucketed probe
      ensureMeta(fs, tableDir, banding)
    }
  }

  // ---- single-writer lease ------------------------------------------------

  /** Lease file guarding the index's single-writer contract. Lives beside
    * the index dir (`<table>/_banddex.lock`) so it survives index
    * compaction and is visible before the first append.
    */
  def lockPath(tableDir: String): Path = new Path(s"${dir(tableDir)}.lock")

  private def readLock(fs: FileSystem, p: Path): Option[String] =
    try {
      if (!fs.exists(p)) None
      else Some(graft.sink.CommitLog.readFully(fs, p).trim)
    } catch {
      // vanished between exists and open (holder released / takeover
      // in flight) — "no lock", not a crash in the arbitration the
      // lease exists to perform
      case _: java.io.FileNotFoundException => None
    }

  private def writeLock(fs: FileSystem, p: Path, owner: String,
      overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite)
    try out.write(owner.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** After breaking a stale lease, a taker waits this long and re-reads:
    * a renew whose read predated the break but whose write lands inside
    * this window is detected here (the taker aborts, the woken writer
    * keeps the lease — it is demonstrably alive). See the safety note on
    * [[acquireLease]].
    */
  private[graft] val TakeoverGraceMs = 300L

  /** Take the single-writer lease or fail fast. A live lease (younger than
    * `staleMs`, held by someone else) aborts the start — the documented
    * alternative is index corruption from two writers racing the
    * rename-publish. A stale lease (holder crashed without releasing; the
    * holder's heartbeat renews it continuously) is broken and taken over
    * by RENAME: rename succeeds for exactly one contender, so two racing
    * starters can never both reclaim — delete-then-create would let the
    * loser delete the winner's fresh lock (the same reasoning as the sink
    * compactor's lock, `Compact.scala`).
    *
    * SAFETY ASSUMPTION (load-bearing, filesystem primitives cannot close
    * it entirely): `staleMs` must exceed the longest pause a live writer
    * can suffer (GC, fs stall). The heartbeat renews at `staleMs / 4`, so
    * a lease only goes stale when its holder has been silent for ≥ staleMs.
    * The residual race — a holder stalled past staleMs whose in-flight
    * `renewLease` write lands AFTER a taker's create — is bounded by two
    * guards: the taker re-verifies after [[TakeoverGraceMs]] (catching any
    * renew whose write lands inside the grace window; the taker aborts and
    * the demonstrably-alive holder keeps the lease), and the renew itself
    * verifies after writing (catching a taker whose create lands after the
    * renew's write). Both writers surviving requires the stalled renew's
    * read→write span to straddle the ENTIRE grace window — a second
    * multi-hundred-ms stall inside the first — and even then the holder's
    * next per-epoch renew detects the takeover and stops the query.
    */
  def acquireLease(spark: SparkSession, tableDir: String,
      owner: String, staleMs: Long): Unit = {
    val fs = fsFor(spark, tableDir)
    val p = lockPath(tableDir)
    readLock(fs, p).foreach { holder =>
      // FNF-safe age probe: the lock can vanish between the read above
      // and this status call (release / takeover in flight) — treat as
      // aged-out and fall through to the create race, never crash
      val age =
        try System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime
        catch { case _: java.io.FileNotFoundException => Long.MaxValue }
      if (holder != owner && age < staleMs)
        throw new IllegalStateException(
          s"table $tableDir already has a live streaming near-dedup writer " +
            s"(lease held by $holder, ${age} ms old, stale after ${staleMs} ms). " +
            "BandIndex append/compact are only safe with a SINGLE writer — " +
            "stop the other query first, or wait for its lease to go stale.")
      val claimed = new Path(p.getParent,
        s".${p.getName}.stale-${UUID.randomUUID}")
      if (fs.rename(p, claimed)) fs.delete(claimed, false)
      // rename lost → another contender claimed the stale lease first; the
      // create below races them and exactly one proceeds
    }
    fs.mkdirs(p.getParent)
    // create(overwrite = false): losing a creation race to another starter
    // surfaces here instead of two writers proceeding
    try writeLock(fs, p, owner, overwrite = false)
    catch {
      case e: java.io.IOException => throw new IllegalStateException(
        s"lease on $tableDir was taken by a concurrent starter — " +
          "exactly one writer may proceed; retry after it stops.", e)
    }
    // grace re-verify for EVERY acquisition, not just the stale-breaker:
    // a second racing taker can observe NO lock at all (another contender
    // just rename-broke the stale one) and would otherwise skip the
    // verify entirely — yet the stalled holder's delayed renew, whose
    // ownership read predated the break, can still overwrite the fresh
    // lock. One 300 ms sleep per query START buys every acquisition the
    // same detection window the breaker always had.
    Thread.sleep(TakeoverGraceMs)
    if (!readLock(fs, p).contains(owner))
      throw new IllegalStateException(
        s"lease acquisition on $tableDir lost during the grace window " +
          "(a stalled holder's delayed renew, or a racing taker, " +
          "overwrote the fresh lock) — the other writer is alive; not " +
          "starting a second one.")
  }

  /** Per-epoch heartbeat + ownership check: bumps the lease mtime and
    * fails the query if another writer broke a stale lease and took over
    * (split-brain guard — the usurped writer must stop, not keep
    * publishing). Verifies AFTER writing as well: a taker that created a
    * fresh lock between this renew's write and its verify is detected and
    * this writer stops, rather than both continuing. The combined
    * guarantees (and the staleMs assumption they rest on) are documented
    * on [[acquireLease]].
    */
  def renewLease(spark: SparkSession, tableDir: String, owner: String): Unit =
    renewLease(spark, tableDir, owner, () => ())

  /** Test seam: `betweenReadAndWrite` runs inside the classic TOCTOU
    * window so specs can interleave a takeover deterministically.
    */
  private[graft] def renewLease(spark: SparkSession, tableDir: String,
      owner: String, betweenReadAndWrite: () => Unit): Unit = {
    val fs = fsFor(spark, tableDir)
    val p = lockPath(tableDir)
    readLock(fs, p) match {
      case Some(h) if h == owner =>
        betweenReadAndWrite()
        writeLock(fs, p, owner, overwrite = true)
        // verify-after-write: a takeover that re-created the lock after our
        // write wins — we must observe our own content or stop
        if (!readLock(fs, p).contains(owner))
          throw new IllegalStateException(
            s"writer $owner lost the lease on $tableDir during renew " +
              "(another writer re-created the lock after our write); " +
              "this query must stop.")
      case other => throw new IllegalStateException(
        s"writer $owner lost the lease on $tableDir (now held by " +
          s"${other.getOrElse("nobody")}): another writer took over after " +
          "the lease went stale; this query must stop.")
    }
  }

  /** Drop the lease if still ours (query termination). */
  def releaseLease(spark: SparkSession, tableDir: String, owner: String): Unit = {
    val fs = fsFor(spark, tableDir)
    val p = lockPath(tableDir)
    if (readLock(fs, p).contains(owner)) fs.delete(p, false)
  }
}
