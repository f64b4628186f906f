package graft.sink

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** Small-file compaction for a graft-streaming table — the maintenance
  * operation every file-based streaming sink needs (the reference delegates
  * it to Hive ACID's compactor; reference tables are `transactional=true`
  * precisely so delta files get compacted server-side).
  *
  * Protocol (single atomic publish, lazy cleanup):
  *  1. read the live manifests and group their data files by partition
  *     directory;
  *  2. concatenate each group into one consolidated `.jsonl` file (JSON
  *     lines concatenate byte-for-byte — no parse/re-encode);
  *  3. commit ONE compaction manifest (negative pseudo-epoch) listing the
  *     consolidated files, carrying `#supersedes:` for every consumed
  *     manifest and `#watermark:` preserving the streaming high-water mark —
  *     the rename is the atomicity point: before it readers see the old
  *     manifests, after it the consolidated ones, never both;
  *  4. delete the superseded manifests and their files — safe because the
  *     compaction manifest is already visible, so a concurrent reader either
  *     lists them as superseded or no longer lists them at all.
  *
  * A streaming tail that has already passed the watermark is unaffected;
  * a tail restarting from an offset BELOW the watermark cannot replay the
  * compacted epochs individually (documented trade-off — compact only
  * ranges every consumer has passed, as with any log-compacted store).
  */
object Compact {

  case class Result(
      consolidatedFiles: Int, supersededEpochs: Int, removedFiles: Int)

  /** @param retainMillis how long superseded DATA files are retained after
    *                     compaction before a later run purges them — gives
    *                     in-flight readers that planned against the old
    *                     manifests time to finish (Delta's VACUUM retention
    *                     idea). Defaults to 10 minutes — comfortably longer
    *                     than a planned-but-running scan; concurrent readers
    *                     are an advertised capability, so immediate deletion
    *                     (0, which makes a mid-query reader hit
    *                     FileNotFoundException) is an explicit opt-in for
    *                     single-process use only.
    * @param lockStaleMillis age past which a crashed compactor's lock is
    *                        reclaimed; must exceed the longest expected
    *                        compaction.
    * @param protectEpoch manifest id to EXCLUDE from the consolidation.
    *                     A streaming writer folding compaction into its own
    *                     loop passes its in-flight epoch: that is the only
    *                     epoch a crash can replay, and replaying a
    *                     tombstoned epoch fails loudly by design — every
    *                     older streaming epoch is checkpoint-acknowledged
    *                     (epoch e only runs after e-1's ack) and can never
    *                     replay, so consuming those is safe.
    * @param deltasOnly   consolidate only the streaming DELTA manifests
    *                     (ids ≥ 0), leaving previous compaction results
    *                     untouched — an L0-style minor compaction whose
    *                     cost is bounded by the bytes ingested since the
    *                     last one, never the table size (the in-loop
    *                     posture; a full run every cycle would rewrite the
    *                     whole table — O(corpus) per cycle, the same
    *                     growing-cost pattern BandIndex's tiering removes).
    *                     Prior compaction manifests stay live and keep
    *                     their own tombstones, so no carry-forward is
    *                     needed; a periodic FULL run (deltasOnly = false)
    *                     folds the accumulated minor files together.
    * @param targetFileBytes consolidated outputs split at this many
    *                     accumulated input bytes (on input-file
    *                     boundaries) instead of growing one file per
    *                     partition dir forever — at scale an unbounded
    *                     output makes every later compaction an O(table)
    *                     rewrite and defeats plan-time file skipping.
    *                     Inputs fold in epoch order, so outputs keep
    *                     tight stat ranges for arrival-correlated columns.
    */
  def run(tableDir: String, conf: Configuration,
      retainMillis: Long = 10 * 60 * 1000L,
      lockStaleMillis: Long = 30 * 60 * 1000L,
      protectEpoch: Long = Long.MinValue,
      deltasOnly: Boolean = false,
      targetFileBytes: Long = DefaultTargetFileBytes): Result = {
    val log = new CommitLog(tableDir, conf)
    val fs = new Path(tableDir).getFileSystem(conf)
    withCompactionLock(fs, tableDir, lockStaleMillis) {
      log.ensureCompactionIndex()
      doRun(log, fs, tableDir, retainMillis, protectEpoch, deltasOnly,
        targetFileBytes)
    }
  }

  /** One compactor at a time: exclusive-create lock. Stale-lock reclaim is
    * RENAME-based — rename succeeds for exactly one contender, so two
    * compactors can never both reclaim and run (delete-then-create would
    * let the loser delete the winner's fresh lock).
    */
  private def withCompactionLock[T](
      fs: org.apache.hadoop.fs.FileSystem, tableDir: String,
      lockStaleMillis: Long)(body: => T): T = {
    val lock = new Path(tableDir, s"${CommitLog.COMMITS_DIR}/.compaction.lock")
    // FNF-safe staleness probe: the lock can vanish between exists and
    // getFileStatus (holder released) — that's "not stale", not a crash
    val stale =
      try {
        fs.exists(lock) &&
          System.currentTimeMillis() -
            fs.getFileStatus(lock).getModificationTime > lockStaleMillis
      } catch { case _: java.io.FileNotFoundException => false }
    if (stale) {
      val claimed = new Path(lock.getParent,
        s".compaction.lock.stale-${java.util.UUID.randomUUID}")
      if (fs.rename(lock, claimed)) fs.delete(claimed, false)
    }
    try fs.create(lock, false).close()
    catch {
      case _: java.io.IOException =>
        throw new IllegalStateException(
          s"Another compaction holds $lock; concurrent compactions would " +
            "duplicate every row")
    }
    // HEARTBEAT: a clustered rewrite at scale can easily run past the
    // stale threshold, and an unrenewed mtime would let a second
    // compactor break the LIVE lock and duplicate every consolidated
    // row. Touch the mtime at staleMs/4 (the BandIndex lease cadence)
    // for as long as the body runs; failures to touch are ignored (the
    // next beat retries — only sustained failure ages the lock out).
    val beat = new Thread(() => {
      val period = math.max(lockStaleMillis / 4, 1000L)
      try while (!Thread.interrupted()) {
        Thread.sleep(period)
        try fs.setTimes(lock, System.currentTimeMillis(), -1)
        catch { case _: java.io.IOException => () }
      } catch { case _: InterruptedException => () }
    }, "graft-compaction-lock-heartbeat")
    beat.setDaemon(true)
    beat.start()
    try body finally {
      beat.interrupt()
      fs.delete(lock, false)
    }
  }

  /** Default consolidated-file split threshold — matches Spark's
    * `spark.sql.files.maxPartitionBytes` default, so one compacted file is
    * one well-sized scan partition.
    */
  val DefaultTargetFileBytes: Long = 128L * 1024 * 1024

  /** CLUSTERED rewrite of a columnar (parquet and/or ORC) table — the
    * OPTIMIZE/CLUSTER BY
    * maintenance operation of log-structured table formats, and the step
    * that makes plan-time file skipping ([[FileStats]]) effective AFTER
    * compaction: byte-level consolidation preserves arrival order, so
    * a column uncorrelated with arrival (a user id, a join key) spans
    * every file's min/max range and nothing prunes. This rewrite
    * range-partitions and sorts each partition directory's rows by
    * `clusterBy`, splitting at `targetFileBytes`, so each output covers a
    * narrow, mostly-disjoint slice — a point/range query then plans only
    * the files whose manifest stats contain it.
    *
    * The rewrite is a DISTRIBUTED Spark job per partition directory (the
    * shuffle sorts on the cluster; the driver only renames files and
    * commits the manifest) — at 100 TB this is a wide sort-rewrite, which
    * is exactly what it must be. It shares the compaction lock, the
    * supersede/tombstone protocol, and the lazy-cleanup ledger with
    * [[run]]; streaming tails and the watermark survive identically.
    *
    * Decode/re-encode makes this strictly more expensive than [[run]]'s
    * byte-concat — it is an explicit maintenance call, not the in-loop
    * posture. Partition columns live in the directory path (already
    * "clustered" by routing) and cannot appear in `clusterBy`.
    */
  def cluster(
      spark: org.apache.spark.sql.SparkSession,
      tableDir: String,
      clusterBy: Seq[String],
      targetFileBytes: Long = DefaultTargetFileBytes,
      retainMillis: Long = 10 * 60 * 1000L,
      lockStaleMillis: Long = 30 * 60 * 1000L,
      protectEpoch: Long = Long.MinValue,
      dirParallelism: Int = 8,
      zorder: Boolean = false): Result = {
    require(clusterBy.nonEmpty, "clusterBy must name at least one column")
    require(!zorder || clusterBy.size >= 2,
      "zorder = true needs >= 2 clusterBy columns (one column is a plain sort)")
    require(!zorder || clusterBy.size * ZOrder.BitsPerDim <= 63,
      s"zorder = true supports at most ${63 / ZOrder.BitsPerDim} columns " +
        s"(the Morton key must fit a long); got ${clusterBy.size}")
    val conf = spark.sparkContext.hadoopConfiguration
    val log = new CommitLog(tableDir, conf)
    val fs = new Path(tableDir).getFileSystem(conf)
    withCompactionLock(fs, tableDir, lockStaleMillis) {
      log.ensureCompactionIndex()
      purgeExpiredTrash(fs, tableDir, retainMillis)
      val allAtStart = log.manifests()
      val live = allAtStart.filter(_.epochId != protectEpoch).sortBy(epochOrder)
      val oldFiles = live.flatMap(_.files)
      if (oldFiles.isEmpty && live.size <= 1) Result(0, 0, 0)
      else {
        val present = oldFiles.filter(f => fs.exists(new Path(f)))
        require(present.forall(f =>
            f.endsWith(".parquet") || f.endsWith(".orc")),
          s"clustered compaction requires a columnar table; $tableDir " +
            "holds JSONL epochs (run byte-level Compact.run on those, or " +
            "land with option(\"format\",\"parquet\") or \"orc\")")
        // appended from rewrite threads; guard every mutation with its own
        // monitor (the cleanup paths below read them after all threads stop)
        val written = scala.collection.mutable.ArrayBuffer.empty[Path]
        val tmpDirs = scala.collection.mutable.ArrayBuffer.empty[Path]
        val newStats = scala.collection.mutable.HashMap.empty[String, String]
        // the rewrite runs on a CLONED session — shared SparkContext,
        // private SQLConf — so the physical-format pins (CORRECTED rebase,
        // int64-micros timestamps, matching the sink writer's ParquetIO
        // pins) scope to the rewrite's own jobs and can never bleed into a
        // concurrent parquet write in the caller's session
        val rw = spark.newSession()
        Seq(
          "spark.sql.parquet.datetimeRebaseModeInWrite" -> "CORRECTED",
          "spark.sql.parquet.int96RebaseModeInWrite" -> "CORRECTED",
          "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
          "spark.sql.parquet.writeLegacyFormat" -> "false",
          // ORC rewrites keep the landing segments' codec so later
          // byte-level OrcIO.merge passes can concat clustered outputs
          // with fresh segments (the merger groups by compression)
          "spark.sql.orc.compression.codec" -> "snappy")
          .foreach { case (k, v) => rw.conf.set(k, v) }
        def rewriteDir(dir: Path, files: Seq[String], ext: String,
            stem: String, tmpOut: Path): Seq[String] = {
          val totalBytes = files.map(f =>
            fs.getFileStatus(new Path(f)).getLen).sum
          val nOut = math.max(1L,
            (totalBytes + targetFileBytes - 1) / targetFileBytes).toInt
          // both columnar readers honor mergeSchema (name-set validation
          // already permits field-order drift across segment lineages)
          val df =
            if (ext == "orc") rw.read.option("mergeSchema", "true")
              .orc(files: _*)
            else rw.read.option("mergeSchema", "true")
              .parquet(files: _*)
          val missing = clusterBy.filterNot(c =>
            df.columns.exists(_.equalsIgnoreCase(c)))
          require(missing.isEmpty,
            s"cluster column(s) ${missing.mkString(", ")} not in the " +
              s"data schema ${df.columns.mkString("[", ", ", "]")} — " +
              "partition columns live in the directory path and are " +
              "already clustered by routing")
          // z-order: range-partition and sort on the Morton-interleaved
          // key instead of the lexicographic column tuple — every
          // clustered column then gets a narrow per-file range (the key is
          // a sort expression only; it never lands in the files)
          val sortKeys =
            if (zorder) Seq(ZOrder.zColumn(df, clusterBy))
            else clusterBy.map(org.apache.spark.sql.functions.col)
          tmpDirs.synchronized { tmpDirs += tmpOut }
          val sorted = df.repartitionByRange(nOut, sortKeys: _*)
            .sortWithinPartitions(sortKeys: _*)
            .write.mode("overwrite")
          if (ext == "orc") sorted.orc(tmpOut.toString)
          else sorted.parquet(tmpOut.toString)
          val parts = fs.listStatus(tmpOut).map(_.getPath)
            .filter(p => p.getName.startsWith("part-") &&
              p.getName.endsWith(s".$ext"))
            .sortBy(_.getName)
          parts.zipWithIndex.map { case (p, k) =>
            val target = new Path(dir, s"$stem-$k.$ext")
            written.synchronized { written += target }
            if (!fs.rename(p, target)) throw new java.io.IOException(
              s"failed to place clustered file $target")
            try {
              val st =
                if (ext == "orc") OrcIO.statsFromFile(target, fs.getConf)
                else FileStats.fromFooter(
                  org.apache.parquet.hadoop.ParquetFileReader.readFooter(
                    fs.getConf, target,
                    org.apache.parquet.format.converter
                      .ParquetMetadataConverter.NO_FILTER)).serialize
              newStats.synchronized { newStats(target.toString) = st }
            } catch { case scala.util.control.NonFatal(_) => }
            target.toString
          }.toSeq
        }
        // Per-directory rewrites submit CONCURRENTLY (bounded by
        // `dirParallelism`): each is an independent distributed sort job,
        // and serial submission made clustering wall-time linear in
        // partition-dir count on the driver — a many-dir table spent most
        // of the clock waiting on one job's tail while 31 cores idled.
        // Overlapping jobs fill the scheduler instead; per-dir isolation
        // (own tmp dir, own output stem) makes them commutative.
        // one rewrite job per (directory × format): a mixed-landing table
        // clusters its parquet and ORC lineages independently, like
        // Compact.run's per-format consolidation
        val dirGroups = present
          .groupBy(f => (new Path(f).getParent,
            f.substring(f.lastIndexOf('.') + 1)))
          .toSeq
        // stems and scratch dirs fixed up front and crash-registered —
        // see [[writeOutputsLedger]]
        val plans = dirGroups.map { case ((dir, ext), files) =>
          (dir, ext, files,
            s"compact-${java.util.UUID.randomUUID.toString.take(8)}",
            new Path(dir,
              s".cluster-${java.util.UUID.randomUUID.toString.take(8)}"))
        }
        val ledger = writeOutputsLedger(fs, tableDir,
          plans.map(p => s"${p._1}/${p._4}"), plans.map(_._5.toString))
        val newFiles =
          try {
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.max(1, math.min(dirGroups.size, dirParallelism)))
            implicit val ec: scala.concurrent.ExecutionContext =
              scala.concurrent.ExecutionContext.fromExecutorService(pool)
            // each rewrite completes (or fails) INSIDE its Try, so the
            // Await below always sees every thread quiesced — a failed dir
            // can never race the cleanup against a sibling still writing
            val tries =
              try scala.concurrent.Await.result(
                scala.concurrent.Future.sequence(plans.map {
                  case (dir, ext, files, stem, tmpOut) =>
                    scala.concurrent.Future(
                      scala.util.Try(rewriteDir(dir, files, ext, stem, tmpOut)))
                }), scala.concurrent.duration.Duration.Inf)
              finally pool.shutdown()
            tries.collectFirst { case scala.util.Failure(t) => t }
              .foreach(throw _)
            tries.collect { case scala.util.Success(s) => s }.flatten
          } catch {
            // nothing is published until the manifest commit — don't leak
            // unreferenced rewrite outputs on a mid-job failure (process
            // DEATH is covered by the outputs ledger)
            case t: Throwable =>
              written.synchronized(written.toSeq).foreach(p =>
                try fs.delete(p, false) catch { case _: Throwable => })
              try fs.delete(ledger, false) catch { case _: Throwable => }
              throw t
          } finally {
            tmpDirs.synchronized(tmpDirs.toSeq).foreach(d =>
              try fs.delete(d, true) catch { case _: Throwable => })
          }
        val r = publish(log, fs, tableDir, live, allAtStart, newFiles,
          newStats.toMap, retainMillis)
        fs.delete(ledger, false)
        r
      }
    }
  }

  /** Minor (deltas-only) results in the same log₄ size class fold once
    * this many accumulate — the LSM fan-out, mirroring the band index's
    * tiering. Without it an unbounded in-loop ingest accretes one live
    * minor manifest per cycle, and every epoch commit's tombstone guard
    * opens ALL negative manifests — per-epoch cost growing with run
    * length. With it, negative manifests stay O(TierFanout · log₄ size).
    */
  val TierFanout = 4

  private def sizeClass(bytes: Long): Int =
    (64 - java.lang.Long.numberOfLeadingZeros(math.max(bytes, 1L))) / 2

  /** Greedy chunking of a byte-level merge's inputs on input boundaries,
    * in input order: a chunk closes once it holds something and the next
    * input would push it past `targetBytes` (`ParquetIO.merge`,
    * `OrcIO.merge`).
    */
  private[sink] def sizeChunks[A](inputs: Seq[A], targetBytes: Long)(
      size: A => Long): Seq[Seq[A]] =
    inputs.foldLeft((Vector.empty[Vector[A]], 0L)) { case ((acc, bytes), in) =>
      val sz = size(in)
      if (acc.isEmpty) (Vector(Vector(in)), sz)
      else if (bytes + sz > targetBytes) (acc :+ Vector(in), sz)
      else (acc.init :+ (acc.last :+ in), bytes + sz)
    }._1

  private def doRun(
      log: CommitLog,
      fileSystem: org.apache.hadoop.fs.FileSystem,
      tableDir: String,
      retainMillis: Long,
      protectEpoch: Long,
      deltasOnly: Boolean,
      targetFileBytes: Long): Result = {
    val fs = fileSystem
    purgeExpiredTrash(fs, tableDir, retainMillis)
    val allAtStart = log.manifests()
    val first = allAtStart
      .filter(m => m.epochId != protectEpoch &&
        (!deltasOnly || m.epochId >= 0))
    var result =
      if (first.size <= 1) Result(0, 0, 0)
      else consolidate(log, fs, tableDir, first, allAtStart, retainMillis,
        targetFileBytes)
    if (deltasOnly) {
      // tier ladder over the accumulated minor manifests: fold the lowest
      // log₄ size class holding ≥ TierFanout of them, to a fixpoint (a
      // fold can promote its result into a fuller class). Each row is
      // rewritten O(log table) times over its lifetime; most cycles fold
      // nothing.
      var done = false
      while (!done) {
        val allNow = log.manifests()
        val minors = allNow.filter(_.epochId < 0)
        // externally-deleted data files (manual cleanup, foreign tooling)
        // must not kill the sizing pass — a missing file simply contributes
        // no bytes; the consolidate that consumes the manifest will surface
        // a real error if the file is still listed when its bytes are needed
        val classes = minors.groupBy(m => sizeClass(
          m.files.map { f =>
            try fs.getFileStatus(new Path(f)).getLen
            catch { case _: java.io.FileNotFoundException => 0L }
          }.sum))
        classes.filter(_._2.size >= TierFanout).keys.minOption match {
          case Some(c) =>
            val r = consolidate(log, fs, tableDir, classes(c), allNow,
              retainMillis, targetFileBytes)
            result = Result(
              result.consolidatedFiles + r.consolidatedFiles,
              result.supersededEpochs + r.supersededEpochs,
              result.removedFiles + r.removedFiles)
          case None => done = true
        }
      }
    }
    result
  }

  /** Steps 2-4 of the protocol over an explicit manifest set: concatenate
    * their files, publish ONE superseding manifest, lazily clean up.
    * `allLive` is the caller's fresh full live snapshot (survivor
    * detection for the ceiling clamp) — passed in rather than re-listing
    * and re-parsing every manifest per fold on the hot in-loop path.
    */
  /** Chronological manifest order: compaction results (negative nanoTime
    * ids — older run ⇒ smaller nanoTime ⇒ LARGER id) hold the oldest rows
    * and come first, then streaming epochs ascending. Folding in this
    * order keeps consolidated outputs' stat ranges tight for any column
    * that correlates with arrival time.
    */
  private def epochOrder(m: CommitLog#Manifest): (Int, Long) =
    if (m.epochId < 0) (0, -m.epochId) else (1, m.epochId)

  private def consolidate(
      log: CommitLog,
      fileSystem: org.apache.hadoop.fs.FileSystem,
      tableDir: String,
      liveUnordered: Seq[CommitLog#Manifest],
      allLive: Seq[CommitLog#Manifest],
      retainMillis: Long,
      targetFileBytes: Long): Result = {
    val fs = fileSystem
    val live = liveUnordered.sortBy(epochOrder)
    val oldFiles = live.flatMap(_.files)
    // a consolidation must CONSUME its manifests even when they list no
    // (surviving) files — empty manifests arise from zero-row epochs and
    // from the missing-file healing below, and leaving them live would (a)
    // accumulate one per epoch on an idle stream and (b) let the tier
    // ladder select the same empty class forever, spinning doRun's
    // fixpoint loop. Only a SINGLE empty manifest short-circuits: folding
    // it would just mint a new empty manifest each cycle.
    if (oldFiles.isEmpty && live.size <= 1) return Result(0, 0, 0)
    val dataFs = DataFs.resolve(fs)
    // a manifest-listed file deleted out from under the table (manual
    // cleanup, foreign tooling) is unrecoverable either way; consuming its
    // manifest WITHOUT it heals the table — the dangling reference
    // disappears — where failing here would leave compaction permanently
    // broken. (A file deleted between this check and the read below still
    // fails the cycle; the in-loop NonFatal catch retries next cycle.)
    val presentFiles = oldFiles.filter(f => fs.exists(new Path(f)))
    // consolidate per (partition directory, landing format) so routing and
    // per-file decode dispatch stay intact; a dir holding epochs of both
    // formats folds into one consolidated file of each
    val byDirExt = presentFiles.groupBy { f =>
      (new Path(f).getParent,
        if (f.endsWith(".parquet")) "parquet"
        else if (f.endsWith(".orc")) "orc"
        else "jsonl")
    }
    val written = scala.collection.mutable.ArrayBuffer.empty[Path]
    val newStats = scala.collection.mutable.HashMap.empty[String, String]
    // output stems are fixed BEFORE any byte is written and registered in
    // the crash ledger — see [[writeOutputsLedger]]
    val stems = byDirExt.keys
      .map(k => k -> s"compact-${java.util.UUID.randomUUID.toString.take(8)}")
      .toMap
    val ledger = writeOutputsLedger(fs, tableDir,
      stems.map { case ((d, _), s) => s"$d/$s" }.toSeq, Seq.empty)
    val newFiles =
      try byDirExt.flatMap { case ((dir, ext), files) =>
        val stem = stems((dir, ext))
        if (ext == "parquet") {
          // row-group concat: compressed pages copied byte-for-byte — the
          // columnar analogue of the JSONL byte-concat below. One output
          // per distinct physical schema (name-set validation permits
          // field-order drift across lineages; see ParquetIO.merge),
          // split at the size target
          val targets = ParquetIO.merge(files.map(new Path(_)),
            i => { val t = new Path(dir, s"$stem-$i.parquet"); written += t; t },
            dataFs, fs.getConf, targetFileBytes)
          // re-derive column stats from the consolidated footer (appendFile
          // carries the input row groups' stats through) so plan-time file
          // skipping survives compaction; one metadata read per output
          targets.foreach { t =>
            try newStats(t.toString) = FileStats.fromFooter(
              org.apache.parquet.hadoop.ParquetFileReader.readFooter(
                fs.getConf, t,
                org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER))
              .serialize
            catch { case scala.util.control.NonFatal(_) => } // stats are optional
          }
          // bloom-of-a-union = OR of blooms: a single consolidated output
          // inherits its inputs' sidecars so point-lookup skipping
          // survives compaction (multi-output splits decline — absence
          // just means no bloom skip for those files)
          Bloom.tryMergeSidecars(fs, dataFs, files, targets)
          targets.map(_.toString)
        } else if (ext == "orc") {
          // stripe-level concat (compressed stripes copied without decode
          // — OrcIO.merge, the ORC analogue of the parquet row-group
          // concat), one output per (file schema × size chunk)
          val (targets, consumed) = OrcIO.merge(files.map(new Path(_)),
            i => { val t = new Path(dir, s"$stem-$i.orc"); written += t; t },
            dataFs, fs.getConf, targetFileBytes)
          // every input must end up superseded (publish deletes them all):
          // a file the merger declined (foreign writer version /
          // compression) is byte-copied to a fresh target instead
          val consumedSet = consumed.map(_.toString).toSet
          val carried = files.filterNot(consumedSet.contains).map { f =>
            val t = new Path(dir, s"$stem-c${written.size}.orc")
            written += t
            org.apache.hadoop.fs.FileUtil.copy(
              fs, new Path(f), dataFs, t, false, fs.getConf)
            t
          }
          val outputs = targets ++ carried
          outputs.foreach { t =>
            try newStats(t.toString) = OrcIO.statsFromFile(t, fs.getConf)
            catch { case scala.util.control.NonFatal(_) => } // stats optional
          }
          Bloom.tryMergeSidecars(fs, dataFs, files, outputs)
          outputs.map(_.toString)
        } else {
          // byte-concat, split at the size target on input-file boundaries
          // (inputs end in newline, so outputs stay valid JSONL)
          val targets = scala.collection.mutable.ArrayBuffer.empty[Path]
          var out: org.apache.hadoop.fs.FSDataOutputStream = null
          var outBytes = 0L
          try {
            val buf = new Array[Byte](1 << 16)
            files.foreach { f =>
              if (out != null && outBytes > 0 &&
                  outBytes + fs.getFileStatus(new Path(f)).getLen > targetFileBytes) {
                out.close(); out = null
              }
              if (out == null) {
                val target = new Path(dir, s"$stem-${targets.size}.jsonl")
                written += target; targets += target
                out = dataFs.create(target, false)
                outBytes = 0L
              }
              val in = dataFs.open(new Path(f))
              try {
                var n = in.read(buf)
                while (n >= 0) { out.write(buf, 0, n); outBytes += n; n = in.read(buf) }
              } finally in.close()
            }
          } finally if (out != null) out.close()
          Bloom.tryMergeSidecars(fs, dataFs, files, targets.toSeq)
          targets.map(_.toString).toSeq
        }
      }.toSeq
      catch {
        // nothing is published until the manifest commit below, so a
        // mid-consolidate failure must not leak unreferenced target files
        // (process DEATH is covered by the outputs ledger instead)
        case t: Throwable =>
          written.foreach { p =>
            try fs.delete(p, false) catch { case _: Throwable => }
            Bloom.deleteSidecar(fs, p.toString)
          }
          try fs.delete(ledger, false) catch { case _: Throwable => }
          throw t
      }

    val r = publish(log, fs, tableDir, live, allLive, newFiles,
      newStats.toMap, retainMillis)
    fs.delete(ledger, false)
    r
  }

  /** Steps 3-4 of the protocol, shared by byte-level consolidation and the
    * clustered rewrite: publish ONE manifest superseding `live` (watermark
    * + bounded tombstone carry), then lazily clean the superseded state.
    */
  private def publish(
      log: CommitLog,
      fileSystem: org.apache.hadoop.fs.FileSystem,
      tableDir: String,
      live: Seq[CommitLog#Manifest],
      allLive: Seq[CommitLog#Manifest],
      newFiles: Seq[String],
      newStats: Map[String, String],
      retainMillis: Long): Result = {
    val fs = fileSystem
    val oldFiles = live.flatMap(_.files)
    // the watermark must be the max streaming epoch this compaction
    // actually COVERED (consumed ids + consumed manifests' carried
    // watermarks) — NOT the table-global streamingWatermark(): with
    // protectEpoch in play the global mark includes a live epoch the
    // snapshot does not contain, and a fresh tail whose end offset sits
    // just below that epoch would skip this manifest (watermark > end)
    // while the consumed epochs' own manifests are already deleted —
    // silently losing the whole pre-compaction corpus to that tail
    val watermark = (live.map(_.epochId).filter(_ >= 0) ++
      live.flatMap(_.watermark)).foldLeft(-1L)(math.max)
    // Tombstone bookkeeping stays BOUNDED over an unbounded run:
    //  - supersedes lists only the DIRECTLY consumed ids (never the
    //    transitive closure — that list grew with every epoch ever
    //    consumed, and the per-commit tombstone guard parses it each
    //    epoch);
    //  - positive-epoch tombstones compress into ONE ceiling header —
    //    consumed streaming epochs always form a prefix, and the ceiling
    //    carries forward as the max over consumed manifests' ceilings;
    //  - crash-leftover protection for older generations comes from the
    //    CLEANUP ORDER below instead of list carry: grand-superseded
    //    manifests are re-deleted BEFORE the consumed manifests (whose
    //    still-present supersedes lists hide them in the meantime), so at
    //    no point does a leftover lack a live hider.
    // the ceiling may only cover ids with NO live survivor at or under it:
    // a protectEpoch below the max consumed id (legal API use) leaves a
    // live streaming manifest that a naive max-consumed ceiling would hide
    // forever — silent data loss. Clamp to just under the lowest surviving
    // positive id when one falls inside the candidate range.
    val candidate = (live.map(_.epochId).filter(_ >= 0) ++
      live.flatMap(_.tombstoneCeiling)).foldLeft(Long.MinValue)(math.max)
    val consumedIds = live.map(_.epochId).toSet
    val survivors = allLive.map(_.epochId)
      .filter(id => id >= 0 && !consumedIds.contains(id) && id <= candidate)
    val ceiling =
      if (survivors.isEmpty) candidate else survivors.min - 1
    // positive tombstones ABOVE the clamped ceiling (epochs consumed while
    // a lower epoch was protected) are load-bearing: once the manifest
    // listing them is itself consumed and deleted, only this carry keeps a
    // fresh-lineage re-commit of those epochs failing loudly instead of
    // publishing duplicate rows. Bounded: only the gap between a protected
    // epoch and the then-max survives, and each id retires as soon as a
    // later ceiling passes it. Negative ids are never carried — leftovers
    // are retried by the transitive delete below, and re-listing them
    // would regrow the lists the ceiling exists to bound.
    val carried = live.flatMap(_.supersedes)
      .filter(id => id >= 0 && id > ceiling)
    val tombstones = (live.map(_.epochId) ++ carried).distinct
    // crash-proof old-file cleanup: the superseded files' ledger is
    // written BEFORE the commit as `.trash-pending-<epoch>-<uuid>` and
    // promoted (renamed to an effective `.trash-…`) only AFTER the
    // manifest is visible. A crash in EITHER window stays safe: before
    // the commit, the referenced manifest never appears and the purge
    // discards the ledger WITHOUT touching the (still live) files; after
    // the commit, the purge sees the manifest exists and promotes the
    // pending ledger itself — so the acked compaction's superseded files
    // can no longer leak forever behind a death between commit and
    // ledger write (the pre-r15 window).
    var epoch = -math.abs(System.nanoTime())
    def pendingPath(e: Long) = new Path(tableDir,
      s"${CommitLog.COMMITS_DIR}/.trash-pending-$e" +
        s"-${java.util.UUID.randomUUID.toString.take(8)}")
    var pending: Path = null
    var committed = false
    while (!committed) {
      pending = pendingPath(epoch)
      if (oldFiles.nonEmpty) {
        val out = fs.create(pending, false)
        // table-RELATIVE lines (r16): the ledger survives a table
        // rename/migration the same way manifests do
        try out.write(oldFiles.map(log.toRelative)
          .mkString("\n").getBytes("UTF-8"))
        finally out.close()
      }
      committed = log.commit(epoch, newFiles,
        supersedes = tombstones,
        watermark = if (watermark >= 0) Some(watermark) else None,
        tombstoneCeiling = if (ceiling > Long.MinValue) Some(ceiling) else None,
        fileStats = newStats)
      if (!committed) {
        if (oldFiles.nonEmpty) fs.delete(pending, false)
        epoch -= 1
      }
    }
    // lazy cleanup — the compaction manifest is visible, so NEW readers no
    // longer reference the superseded state. Deletion is TRANSITIVE and
    // bottom-up: each consumed manifest's crashed-cleanup leftovers (to
    // any depth — two crashed cleanups in a row must not let a
    // grand-grand-superseded manifest outlive every list that hid it) are
    // removed while their hider still exists, then the hider itself. Data
    // files go now (retainMillis = 0) or via the promoted trash ledger,
    // giving IN-FLIGHT readers that already planned against the old file
    // list time to finish.
    live.foreach(m => log.deleteManifestTransitively(m.epochId))
    if (oldFiles.nonEmpty) {
      if (retainMillis <= 0) {
        log.deleteFiles(oldFiles)
        fs.delete(pending, false)
      } else {
        val trash = new Path(tableDir,
          s"${CommitLog.COMMITS_DIR}/.trash-${System.currentTimeMillis()}" +
            s"-${java.util.UUID.randomUUID.toString.take(8)}")
        // a failed promotion leaves the PENDING ledger in place — the
        // purge promotes it itself once it sees the manifest exists;
        // deleting it here would re-open the leak the protocol closes
        fs.rename(pending, trash)
      }
    }
    Result(newFiles.size, live.size, oldFiles.size)
  }

  /** Pre-register a consolidation/clustering attempt's intended outputs
    * (`out:<dir>/<stem>` prefixes) and scratch dirs (`tmp:<path>`) BEFORE
    * the first output byte is written; deleted after publish. A process
    * death mid-write then cannot leak unreferenced `compact-*` files:
    * the next compaction's purge — which runs under the same exclusive
    * lock, so any ledger it sees belongs to a crashed attempt — deletes
    * every registered output that no live manifest references, plus the
    * scratch dirs. (The in-process catch blocks already clean up on
    * EXCEPTIONS; this ledger covers kill -9.)
    */
  private def writeOutputsLedger(
      fs: org.apache.hadoop.fs.FileSystem, tableDir: String,
      outPrefixes: Seq[String], tmpPaths: Seq[String]): Path = {
    val p = new Path(tableDir,
      s"${CommitLog.COMMITS_DIR}/.outputs-pending-" +
        java.util.UUID.randomUUID.toString.take(8))
    val out = fs.create(p, false)
    try out.write((outPrefixes.map("out:" + _) ++ tmpPaths.map("tmp:" + _))
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    p
  }

  /** Trash-ledger lines are table-relative since r16 (relocatable tables);
    * absolute lines from older ledgers resolve as-is. Delegates to
    * [[CommitLog.resolvePath]] so the manifest and ledger resolution rules
    * can never drift apart.
    */
  private def resolveLedgerPath(tableDir: String, f: String): Path =
    new Path(CommitLog.resolvePath(tableDir, f))

  private def purgeExpiredTrash(
      fs: org.apache.hadoop.fs.FileSystem, tableDir: String,
      retainMillis: Long): Unit = {
    val commits = new Path(tableDir, CommitLog.COMMITS_DIR)
    if (!fs.exists(commits)) return
    val now = System.currentTimeMillis()
    // orphan SHARD directories: a commit that crashed between writing its
    // shards and renaming its manifest in, or a deleteManifest that crashed
    // between the manifest and shard deletes. A dir is an orphan exactly
    // when its epoch's manifest does not REFERENCE it — manifest absent
    // (deletes go manifest-first), OR present but pointing at a different
    // attempt's UUID dir (the replay of a crashed commit writes fresh
    // shards under a new dir; without the reference check the dead
    // attempt's bytes would survive as long as the epoch does). The age
    // guard keeps an IN-FLIGHT commit's shards (written moments before
    // its rename) out of reach.
    val ShardDir = "\\.epoch-(-?\\d+)\\.shards-.*".r
    // age floor 15 min (was 60 s): the floor is the ONLY thing keeping a
    // STALLED in-flight commit's shards (written, parent not yet renamed)
    // out of the sweep's reach, and a driver can stall past a minute on a
    // hard GC pause or a suspended VM. commit()'s pre-rename shard-dir
    // re-check narrows the residual window to milliseconds, and
    // resolveShardsOf fails LOUDLY if a live manifest's shards ever do
    // get swept — three layers where there used to be one.
    val shardFloor = math.max(retainMillis, 15L * 60 * 1000)
    fs.listStatus(commits).foreach { st =>
      st.getPath.getName match {
        case ShardDir(id)
          if now - st.getModificationTime > shardFloor =>
          val mf = new Path(commits, s"epoch-$id.manifest")
          val referenced = fs.exists(mf) && {
            val txt =
              try CommitLog.readFully(fs, mf)
              catch { case _: java.io.FileNotFoundException => "" }
            // shard lines are `#shard:<dirName>/<shard>\t<k=v…>`; the
            // UUID-suffixed dir name keys the attempt unambiguously
            txt.contains(st.getPath.getName + "/")
          }
          if (!referenced) fs.delete(st.getPath, true)
        case _ => ()
      }
    }
    // crashed attempts' OUTPUT ledgers: every ledger present here is
    // debris (purges run under the exclusive compaction lock, and a live
    // attempt writes its ledger only after this purge) — delete each
    // registered output the live manifests don't reference, and every
    // scratch dir, then the ledger
    val outLedgers = fs.listStatus(commits)
      .filter(_.getPath.getName.startsWith(".outputs-pending-"))
    if (outLedgers.nonEmpty) {
      // scheme-insensitive membership: listStatus returns QUALIFIED paths
      // (file:/... , hdfs://...) while manifests record the writer's
      // unqualified strings — compare on the uri path both sides
      val liveFiles = new CommitLog(tableDir, fs.getConf)
        .committedFiles().map(f => new Path(f).toUri.getPath).toSet
      outLedgers.foreach { st =>
        val text =
          try CommitLog.readFully(fs, st.getPath)
          catch { case _: java.io.FileNotFoundException => "" }
        text.split("\n").filter(_.nonEmpty).foreach { l =>
          if (l.startsWith("tmp:")) {
            try fs.delete(new Path(l.stripPrefix("tmp:")), true)
            catch { case _: java.io.IOException => () }
          } else if (l.startsWith("out:")) {
            val prefix = new Path(l.stripPrefix("out:"))
            val (dir, stem) = (prefix.getParent, prefix.getName)
            try if (fs.exists(dir)) {
              fs.listStatus(dir).map(_.getPath)
                .filter(p => p.getName.startsWith(stem) &&
                  !liveFiles.contains(p.toUri.getPath))
                .foreach { p =>
                  fs.delete(p, false)
                  Bloom.deleteSidecar(fs, p.toString)
                }
            } catch { case _: java.io.IOException => () }
          }
        }
        fs.delete(st.getPath, false)
      }
    }
    // PENDING trash ledgers (`.trash-pending-<epoch>-<uuid>`, written
    // before their compaction's commit): promoted here when the
    // referenced manifest EXISTS (the compaction published but died
    // before its own promotion/delete) — its files are genuinely
    // superseded and deletable after retention; discarded WITHOUT
    // touching files when the manifest is absent (the compaction never
    // published, the listed files are still the live table).
    val Pending = "\\.trash-pending-(-?\\d+)-.*".r
    fs.listStatus(commits).foreach { st =>
      st.getPath.getName match {
        case Pending(epoch)
          if now - st.getModificationTime > math.max(retainMillis, 60000L) =>
          if (fs.exists(new Path(commits, s"epoch-$epoch.manifest"))) {
            val text =
              try CommitLog.readFully(fs, st.getPath)
              catch { case _: java.io.FileNotFoundException => "" }
            text.split("\n").filter(_.nonEmpty).foreach { f =>
              val p = resolveLedgerPath(tableDir, f)
              fs.delete(p, false)
              Bloom.deleteSidecar(fs, p.toString)
            }
          }
          fs.delete(st.getPath, false)
        case _ => ()
      }
    }
    fs.listStatus(commits).filter(st =>
        st.getPath.getName.startsWith(".trash-") &&
        !st.getPath.getName.startsWith(".trash-pending-"))
      .foreach { st =>
        // name is .trash-<millis> (pre-uuid ledgers) or .trash-<millis>-<uuid>
        val ts = st.getPath.getName.stripPrefix(".trash-")
          .takeWhile(_.isDigit).toLong
        if (now - ts > retainMillis) {
          val text = CommitLog.readFully(fs, st.getPath)
          text.split("\n").filter(_.nonEmpty).foreach { f =>
            val p = resolveLedgerPath(tableDir, f)
            fs.delete(p, false)
            Bloom.deleteSidecar(fs, p.toString)
          }
          fs.delete(st.getPath, false)
        }
      }
  }
}
