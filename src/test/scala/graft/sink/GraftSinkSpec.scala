package graft.sink

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{StructField, StructType, IntegerType, StringType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

/** End-to-end + semantics tests for the graft-streaming sink — the coverage
  * the reference never had (its only “tests” were two examples needing a
  * live Hive metastore; SURVEY §5.1).
  */
class GraftSinkSpec extends SparkSpec {

  private def tmp(): String =
    tempDir("graft-sink")

  private def opts(path: String, extra: (String, String)*): Map[String, String] =
    (Map("path" -> path, "db" -> "testdb", "table" -> "t") ++ extra.toMap)

  test("A1 registration: format short name resolves through ServiceLoader") {
    val sl = java.util.ServiceLoader.load(
      classOf[org.apache.spark.sql.sources.DataSourceRegister])
    val names = sl.iterator().asScala.map(_.shortName()).toSet
    assert(names.contains("graft-streaming"))
  }

  test("A3 options: missing required option throws naming the key") {
    val e = intercept[IllegalArgumentException] {
      GraftSinkOptions.from(new CaseInsensitiveStringMap(Map("path" -> "/x").asJava))
    }
    assert(e.getMessage.contains("'db'"))
    val e2 = intercept[IllegalArgumentException] {
      GraftSinkOptions.from(new CaseInsensitiveStringMap(
        Map("path" -> "/x", "db" -> "d", "table" -> "t", "batch.size" -> "0").asJava))
    }
    assert(e2.getMessage.contains("batch.size"))
  }

  test("A12 kerberos options: principal without keytab, unreadable keytab rejected") {
    val base = Map("path" -> "/x", "db" -> "d", "table" -> "t")
    val e1 = intercept[IllegalArgumentException] {
      GraftSinkOptions.from(new CaseInsensitiveStringMap(
        (base + ("principal" -> "svc@REALM")).asJava))
    }
    assert(e1.getMessage.contains("together"))
    val e2 = intercept[IllegalArgumentException] {
      GraftSinkOptions.from(new CaseInsensitiveStringMap(
        (base + ("principal" -> "svc@REALM",
          "keytab" -> "/nonexistent/svc.keytab")).asJava))
    }
    assert(e2.getMessage.contains("keytab") || e2.getMessage.contains("Keytab"))
    // a readable keytab file parses cleanly (no KDC contact at parse time)
    val kt = java.nio.file.Files.createFile(
      java.nio.file.Paths.get(tempDir("graft-keytab"), "svc.keytab"))
    val ok = GraftSinkOptions.from(new CaseInsensitiveStringMap(
      (base + ("principal" -> "svc@REALM", "keytab" -> kt.toString)).asJava))
    assert(ok.principal.contains("svc@REALM"))
  }

  test("A12 kerberos UGI: lazy resolution, per-(principal,keytab) login " +
      "cache, clear fake-keytab failure (reference HiveOptions.scala:61-75)") {
    // no principal/keytab -> no UGI, and crucially no login attempt at all
    val plain = GraftSinkOptions.from(new CaseInsensitiveStringMap(
      Map("path" -> "/x", "db" -> "d", "table" -> "t").asJava))
    assert(plain.ugi().isEmpty)

    // caching contract: ONE login per (principal, keytab) per JVM — a
    // second writer with the same identity reuses the first login, a
    // different identity logs in anew (injected login fn, no KDC needed)
    val logins = new java.util.concurrent.atomic.AtomicInteger(0)
    // realm-less names: createRemoteUser on name@REALM consults
    // auth_to_local rules, which need a loaded Hadoop Configuration —
    // irrelevant to the caching contract under test
    def fakeLogin(p: String, k: String) = {
      logins.incrementAndGet()
      org.apache.hadoop.security.UserGroupInformation.createRemoteUser(p)
    }
    val u1 = GraftSinkOptions.cachedUgi("svcA", "/kt/a", fakeLogin _)
    val u2 = GraftSinkOptions.cachedUgi("svcA", "/kt/a", fakeLogin _)
    val u3 = GraftSinkOptions.cachedUgi("svcB", "/kt/b", fakeLogin _)
    assert(u1 eq u2, "same (principal, keytab) must reuse the cached UGI")
    assert(!(u1 eq u3), "a different identity must get its own UGI")
    assert(logins.get === 2, s"expected 2 logins (one per identity), got $logins")

    // the real login path against a fake keytab fails with an actionable
    // error (KerberosAuthException naming the principal/keytab), not an
    // opaque NPE — and the failure is NOT cached (a later call retries).
    // Keytab logins are a no-op under simple auth, so flip UGI to
    // kerberos for just this window (restored in finally: UGI config is
    // JVM-global)
    import org.apache.hadoop.security.UserGroupInformation
    val kt = java.nio.file.Files.createFile(
      java.nio.file.Paths.get(tempDir("graft-keytab"), "fake.keytab"))
    java.nio.file.Files.write(kt, "not a keytab".getBytes)
    val opts = GraftSinkOptions.from(new CaseInsensitiveStringMap(
      Map("path" -> "/x", "db" -> "d", "table" -> "t",
        "principal" -> "nosuch@NOREALM", "keytab" -> kt.toString).asJava))
    val kerbConf = new org.apache.hadoop.conf.Configuration()
    kerbConf.set("hadoop.security.authentication", "kerberos")
    val simpleConf = new org.apache.hadoop.conf.Configuration()
    simpleConf.set("hadoop.security.authentication", "simple")
    try {
      // the sandbox has no /etc/krb5.conf; a realm+kdc sysprop pair is the
      // JDK's documented override and lets UGI initialize kerberos mode
      System.setProperty("java.security.krb5.realm", "NOREALM")
      System.setProperty("java.security.krb5.kdc", "localhost:88")
      UserGroupInformation.setConfiguration(kerbConf)
      val e = intercept[Exception] { opts.ugi() }
      def texts(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ texts(x.getCause))
      assert(texts(e).exists(m => m.contains("nosuch@NOREALM") ||
        m.toLowerCase.contains("keytab") || m.toLowerCase.contains("login")),
        s"failure must name the identity or keytab: ${texts(e)}")
      val e2 = intercept[Exception] { opts.ugi() }
      assert(e2 != null, "a failed login must not be cached as success")
    } finally {
      System.clearProperty("java.security.krb5.realm")
      System.clearProperty("java.security.krb5.kdc")
      UserGroupInformation.setConfiguration(simpleConf)
    }
  }

  test("streaming e2e: memory stream rows land once, readable via manifests") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS().map(i => (i, s"name-$i")).toDF("id", "msg")
      .writeStream.format("graft-streaming")
      .options(opts(dir))
      .option("checkpointLocation", s"$dir/_cp")
      .start()
    in.addData(1 to 500: _*)
    q.processAllAvailable()
    in.addData(501 to 1000: _*)
    q.processAllAvailable()
    q.stop()
    val out = CommitLog.readCommitted(spark, s"$dir/testdb.t")
    assert(out.count() === 1000)
    assert(out.select("id").as[Long].collect().sorted.toSeq === (1L to 1000L))
  }

  test("A5 partition routing: rows land under partition-value directories") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS()
      .map(i => (i, if (i % 2 == 0) "EU" else "US", s"m$i"))
      .toDF("id", "region", "msg")
      .writeStream.format("graft-streaming")
      .options(opts(dir, "partition.columns" -> "region"))
      .option("checkpointLocation", s"$dir/_cp")
      .start()
    in.addData(1 to 100: _*)
    q.processAllAvailable()
    q.stop()
    val files = new CommitLog(s"$dir/testdb.t",
      spark.sparkContext.hadoopConfiguration).committedFiles()
    assert(files.nonEmpty)
    assert(files.forall(f => f.contains("region=EU") || f.contains("region=US")))
    val out = CommitLog.readCommitted(spark, s"$dir/testdb.t")
    // partition columns are routed to the path, then restored on read
    assert(out.columns.toSet === Set("id", "msg", "region"))
    assert(out.count() === 100)
    import spark.implicits._
    assert(out.filter($"region" === "EU").count() === 50)
    assert(out.filter($"region" === "US").count() === 50)
  }

  test("partition layout resolves from the table record (reference metastore behavior)") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    // first writer declares the layout → recorded
    val in = MemoryStream[Int]
    val q = in.toDS().map(i => (i, if (i % 2 == 0) "EU" else "US", s"m$i"))
      .toDF("id", "region", "msg")
      .writeStream.format("graft-streaming")
      .options(opts(dir, "partition.columns" -> "region"))
      .option("checkpointLocation", s"$dir/_cp").start()
    in.addData(1 to 10: _*); q.processAllAvailable(); q.stop()
    // a later batch append WITHOUT the option inherits the recorded layout
    (11 to 20).map(i => (i, if (i % 2 == 0) "EU" else "US", s"m$i"))
      .toDF("id", "region", "msg")
      .write.format("graft-streaming").options(opts(dir)).mode("append").save()
    val files = new CommitLog(s"$dir/testdb.t",
      spark.sparkContext.hadoopConfiguration).committedFiles()
    assert(files.forall(f => f.contains("region=EU") || f.contains("region=US")),
      s"resolved writes must keep routing into the recorded layout: $files")
    val out = CommitLog.readCommitted(spark, s"$dir/testdb.t")
    assert(out.count() === 20)
    assert(out.filter($"region" === "EU").count() === 10)
    // a CONFLICTING re-declaration fails loudly instead of splitting the
    // table into two physical layouts (the user error the reference's
    // metastore resolution structurally prevents)
    val e = intercept[Exception] {
      (21 to 25).map(i => (i, "EU", s"m$i")).toDF("id", "region", "msg")
        .write.format("graft-streaming")
        .options(opts(dir, "partition.columns" -> "msg")).mode("append").save()
    }
    def msgs(t: Throwable): String =
      Option(t).map(x => x.getMessage + msgs(x.getCause)).getOrElse("")
    assert(msgs(e).contains("partitioned by"), msgs(e))
    // the identical re-declaration still works
    (21 to 24).map(i => (i, "EU", s"m$i")).toDF("id", "region", "msg")
      .write.format("graft-streaming")
      .options(opts(dir, "partition.columns" -> "region")).mode("append").save()
    assert(CommitLog.readCommitted(spark, s"$dir/testdb.t").count() === 24)
  }

  test("A8 exactly-once: replayed epoch commit publishes no duplicates") {
    val dir = tmp()
    val o = GraftSinkOptions.from(new CaseInsensitiveStringMap(
      opts(dir).asJava))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("msg", StringType)))
    // the provider records the schema in newWriteBuilder; this test drives
    // GraftWrite directly, so record it here for the read-back
    SchemaRegistry.saveIfAbsent(o, schema)
    val write = new GraftWrite(schema, o, TaskConf.broadcast(spark.sparkContext))
    val sw = write.toStreaming
    val factory = sw.createStreamingWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })

    def runEpoch(epoch: Long, ids: Range): WriterCommitMessage = {
      val w = factory.createWriter(0, epoch * 100, epoch)
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(schema)
      ids.foreach { i =>
        val r = org.apache.spark.sql.catalyst.InternalRow(
          i, org.apache.spark.unsafe.types.UTF8String.fromString(s"m$i"))
        w.write(proj(r))
      }
      w.commit()
    }

    val m1 = runEpoch(7L, 1 to 50)
    sw.commit(7L, Array(m1))
    // replay the SAME epoch (task re-execution after driver failover)
    val m2 = runEpoch(7L, 1 to 50)
    sw.commit(7L, Array(m2))

    val out = CommitLog.readCommitted(spark, s"$dir/testdb.t")
    assert(out.count() === 50, "replayed epoch must not duplicate rows")
    // the replay's files were physically discarded, not just hidden
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftover = m2.asInstanceOf[GraftCommitMessage].files
      .filter(f => fs.exists(new org.apache.hadoop.fs.Path(f)))
    assert(leftover.isEmpty, s"replay files not cleaned: $leftover")
  }

  test("A11 keep-alive: heartbeat flushes buffered rows before any commit") {
    val dir = tmp()
    val o = GraftSinkOptions.from(new CaseInsensitiveStringMap(
      opts(dir, "batch.size" -> "1000000",
        "keepalive.interval.ms" -> "100").asJava))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("msg", StringType)))
    val w = new GraftDataWriter(schema, o,
      spark.sparkContext.hadoopConfiguration, 0, 1L, 1L)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
    // enough bytes to clear the local filesystem's checksum-chunk buffering
    (1 to 500).foreach { i =>
      w.write(proj(org.apache.spark.sql.catalyst.InternalRow(
        i, org.apache.spark.unsafe.types.UTF8String.fromString(s"msg-$i-" + "x" * 50))))
    }
    // batch.size is far away — only the heartbeat can have flushed
    val deadline = System.currentTimeMillis() + 5000
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visibleBytes(): Long = {
      val d = new org.apache.hadoop.fs.Path(s"$dir/testdb.t")
      if (!fs.exists(d)) 0L
      else fs.listStatus(d).filter(_.getPath.getName.startsWith("part-"))
        .map(_.getLen).sum
    }
    while (visibleBytes() == 0 && System.currentTimeMillis() < deadline)
      Thread.sleep(100)
    assert(visibleBytes() > 0, "heartbeat should have flushed buffered rows")
    w.commit()
  }

  test("A11 keep-alive flushes do not count toward rotation: one file per " +
      "batch.size × txn.per.batch rows") {
    val dir = tmp()
    val o = GraftSinkOptions.from(new CaseInsensitiveStringMap(
      opts(dir, "batch.size" -> "1000000", "txn.per.batch" -> "2",
        "keepalive.interval.ms" -> "100").asJava))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("msg", StringType)))
    val w = new GraftDataWriter(schema, o,
      spark.sparkContext.hadoopConfiguration, 0, 1L, 1L)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
    def write(ids: Range): Unit = ids.foreach { i =>
      w.write(proj(org.apache.spark.sql.catalyst.InternalRow(
        i, org.apache.spark.unsafe.types.UTF8String.fromString(s"msg-$i-" + "x" * 50))))
    }
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def visibleBytes(): Long = {
      val d = new org.apache.hadoop.fs.Path(s"$dir/testdb.t")
      if (!fs.exists(d)) 0L
      else fs.listStatus(d).filter(_.getPath.getName.startsWith("part-"))
        .map(_.getLen).sum
    }
    def awaitVisibleAbove(floor: Long): Long = {
      val deadline = System.currentTimeMillis() + 5000
      while (visibleBytes() <= floor && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val now = visibleBytes()
      assert(now > floor, s"heartbeat should have flushed past $floor bytes")
      now
    }
    // two heartbeat flushes of partial buffers, then one more row: a
    // flush-counting rotation would have closed the file at the second
    write(1 to 500)
    val first = awaitVisibleAbove(0L)
    write(501 to 1000)
    awaitVisibleAbove(first)
    write(1001 to 1001)
    val msg = w.commit().asInstanceOf[GraftCommitMessage]
    assert(msg.rows === 1001L)
    assert(msg.files.size === 1, msg.files)
    val text = CommitLog.readFully(fs, new org.apache.hadoop.fs.Path(msg.files.head))
    assert(text.split("\n").count(_.nonEmpty) === 1001)
  }

  test("read path: spark.read.format(graft-streaming) round-trips with pruning") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS()
      .map(i => (i, if (i % 2 == 0) "EU" else "US", s"m$i"))
      .toDF("id", "region", "msg")
      .writeStream.format("graft-streaming")
      .options(opts(dir, "partition.columns" -> "region"))
      .option("checkpointLocation", s"$dir/_cp")
      .start()
    in.addData(1 to 100: _*)
    q.processAllAvailable()
    q.stop()

    val table = spark.read.format("graft-streaming").options(opts(dir)).load()
    assert(table.columns.sorted.toSeq === Seq("id", "msg", "region"))
    assert(table.count() === 100)
    assert(table.filter($"region" === "EU").count() === 50)
    val got = table.select($"id", $"msg").as[(Int, String)].collect().sortBy(_._1)
    assert(got.take(3).toSeq === Seq((1, "m1"), (2, "m2"), (3, "m3")))
    // pruned read: only requested columns in the scan schema
    val pruned = table.select("id")
    assert(pruned.queryExecution.executedPlan.toString.contains("id"))
    assert(pruned.as[Long].collect().sorted.toSeq === (1L to 100L))

    // partition pruning: an equality predicate on the partition column must
    // shrink the planned input partitions to the matching directory's files
    val conf = spark.sparkContext.hadoopConfiguration
    val allFiles = new CommitLog(s"$dir/testdb.t", conf).committedFiles()
    val euFiles = allFiles.count(_.contains("region=EU"))
    assert(euFiles < allFiles.size)
    val prunedScan = table.filter($"region" === "EU")
    val scans = prunedScan.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.nonEmpty)
    assert(scans.head.inputPartitions.size === euFiles,
      s"expected $euFiles partitions, planned ${scans.head.inputPartitions.size}")
    assert(prunedScan.count() === 50)
  }

  test("streaming source: a second query tails the table exactly-once (relay)") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val writer = in.toDS().map(i => (i, s"m$i")).toDF("id", "msg")
      .writeStream.format("graft-streaming")
      .options(opts(dir)).option("checkpointLocation", s"$dir/_cpw").start()
    in.addData(1 to 40: _*)
    writer.processAllAvailable()

    val reader = spark.readStream.format("graft-streaming").options(opts(dir))
      .load()
      .writeStream.format("memory").queryName("relay_out")
      .option("checkpointLocation", s"$dir/_cpr").start()
    reader.processAllAvailable()
    assert(spark.table("relay_out").count() === 40)

    // epochs committed AFTER the reader started are picked up incrementally
    in.addData(41 to 60: _*)
    writer.processAllAvailable()
    reader.processAllAvailable()
    writer.stop(); reader.stop()
    val got = spark.table("relay_out").select("id").as[Long].collect().sorted
    assert(got.toSeq === (1L to 60L), "relay must deliver each row exactly once")
  }

  test("read path prunes partitions: an equality predicate skips foreign directories") {
    import spark.implicits._
    val dir = tmp()
    (1 to 60).map(i => (i, if (i % 3 == 0) "EU" else if (i % 3 == 1) "US" else "AP", s"m$i"))
      .toDF("id", "region", "msg")
      .write.format("graft-streaming").mode("append")
      .options(opts(dir, "partition.columns" -> "region")).save()
    val all = new CommitLog(s"$dir/testdb.t",
      spark.sparkContext.hadoopConfiguration).committedFiles()
    assert(all.exists(_.contains("region=EU")) && all.exists(_.contains("region=US")))
    val df = spark.read.format("graft-streaming")
      .options(opts(dir)).load().filter($"region" === "EU")
    // the pushed predicate must reach OUR scan through Spark's DSv2
    // pushdown, and planning must then skip every foreign region=... file —
    // the A5-inverse guarantee: routing rows INTO partition dirs is only
    // worth it if a partition predicate avoids reading the others back
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.asInstanceOf[GraftScan]
    }.getOrElse(fail("no BatchScanExec in plan"))
    val planned = scan.toBatch.planInputPartitions()
      .map(_.asInstanceOf[GraftInputPartition].file)
    assert(planned.nonEmpty && planned.forall(_.contains("region=EU")),
      s"scan planned foreign partitions: ${planned.mkString("\n")}")
    assert(planned.length < all.length,
      "pruning must plan strictly fewer files than the table holds")
    assert(df.count() === 20)
  }

  test("read path: never-written table fails with a clear message") {
    val dir = tmp()
    val e = intercept[Exception] {
      spark.read.format("graft-streaming").options(opts(dir)).load().count()
    }
    val all = (e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse(""))
    assert(all.contains("no recorded schema"))
  }

  test("compaction: consolidates files atomically, preserves rows and tailing") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS().map(i => (i, if (i % 2 == 0) "EU" else "US", s"m$i"))
      .toDF("id", "region", "msg")
      .writeStream.format("graft-streaming")
      .options(opts(dir, "partition.columns" -> "region"))
      .option("checkpointLocation", s"$dir/_cp").start()
    // several epochs → several small files per partition
    (0 until 5).foreach { e =>
      in.addData(e * 20 + 1 to e * 20 + 20: _*)
      q.processAllAvailable()
    }
    q.stop()
    val conf = spark.sparkContext.hadoopConfiguration
    val tableDir = s"$dir/testdb.t"
    val log = new CommitLog(tableDir, conf)
    val before = log.committedFiles()
    assert(before.size > 2)
    val hwmBefore = log.streamingWatermark()

    // retainMillis = 0 is the explicit single-process opt-in: superseded
    // files must be physically gone right after the run (the default keeps
    // them in a trash ledger for in-flight readers; see the retention test)
    val res = Compact.run(tableDir, conf, retainMillis = 0L)
    assert(res.supersededEpochs === 5)
    assert(res.consolidatedFiles === 2, "one consolidated file per partition dir")

    val after = log.committedFiles()
    assert(after.size === 2)
    assert(after.forall(_.contains("compact-")))
    // superseded manifests and files physically gone
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    assert(before.forall(f => !fs.exists(new org.apache.hadoop.fs.Path(f))))
    // rows identical through the read path, partition columns intact
    val out = spark.read.format("graft-streaming").options(opts(dir)).load()
    assert(out.count() === 100)
    assert(out.select("id").as[Long].collect().sorted.toSeq === (1L to 100L))
    assert(out.filter($"region" === "EU").count() === 50)
    // streaming watermark preserved → a NEW tail still starts cleanly and
    // latestOffset never regresses
    assert(log.streamingWatermark() === hwmBefore)
    // compacting an already-compact table is a no-op
    assert(Compact.run(tableDir, conf) === Compact.Result(0, 0, 0))
  }

  test("fresh tail after compaction receives the full snapshot") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS().map(i => (i, s"m$i")).toDF("id", "msg")
      .writeStream.format("graft-streaming")
      .options(opts(dir)).option("checkpointLocation", s"$dir/_cpw").start()
    (0 until 3).foreach { e => in.addData(e * 10 + 1 to e * 10 + 10: _*); q.processAllAvailable() }
    q.stop()
    val conf = spark.sparkContext.hadoopConfiguration
    assert(Compact.run(s"$dir/testdb.t", conf).supersededEpochs === 3)
    // a brand-new tail must see the compacted rows as its initial snapshot
    val reader = spark.readStream.format("graft-streaming").options(opts(dir))
      .load()
      .writeStream.format("memory").queryName("snap_out")
      .option("checkpointLocation", s"$dir/_cpr").start()
    reader.processAllAvailable()
    reader.stop()
    val got = spark.table("snap_out").select("id").as[Long].collect().sorted
    assert(got.toSeq === (1L to 30L),
      "compacted rows must reach a fresh tail exactly once")
  }

  test("compaction retention: superseded files trashed, purged after expiry") {
    val dir = tmp()
    val conf = spark.sparkContext.hadoopConfiguration
    val tableDir = s"$dir/t.t"
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def writeData(name: String, rows: Seq[String]): String = {
      val p = new org.apache.hadoop.fs.Path(s"$tableDir/$name")
      fs.mkdirs(p.getParent)
      val out = fs.create(p, false)
      out.write((rows.mkString("\n") + "\n").getBytes("UTF-8")); out.close()
      p.toString
    }
    val log = new CommitLog(tableDir, conf)
    val f1 = writeData("a.jsonl", Seq("""{"id":1}"""))
    val f2 = writeData("b.jsonl", Seq("""{"id":2}"""))
    assert(log.commit(0L, Seq(f1)) && log.commit(1L, Seq(f2)))
    assert(Compact.run(tableDir, conf, retainMillis = 50L).supersededEpochs === 2)
    // retained: old data files still on disk for in-flight readers
    assert(fs.exists(new org.apache.hadoop.fs.Path(f1)))
    assert(fs.exists(new org.apache.hadoop.fs.Path(f2)))
    // ...but no longer visible
    assert(spark.read.json(log.committedFiles(): _*).count() === 2)
    Thread.sleep(80)
    // a later run purges the expired trash
    val f3 = writeData("c.jsonl", Seq("""{"id":3}"""))
    assert(log.commit(5L, Seq(f3)))
    Compact.run(tableDir, conf, retainMillis = 50L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(f1)), "trash must be purged")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(f2)))
    assert(spark.read.json(log.committedFiles(): _*).count() === 3)
  }

  test("compaction survives externally-deleted data files: dangling references heal") {
    val dir = tmp()
    val conf = spark.sparkContext.hadoopConfiguration
    val tableDir = s"$dir/t.t"
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def writeData(name: String, rows: Seq[String]): String = {
      val p = new org.apache.hadoop.fs.Path(s"$tableDir/$name")
      fs.mkdirs(p.getParent)
      val out = fs.create(p, false)
      out.write((rows.mkString("\n") + "\n").getBytes("UTF-8")); out.close()
      p.toString
    }
    val log = new CommitLog(tableDir, conf)
    val f1 = writeData("a.jsonl", Seq("""{"id":1}"""))
    val f2 = writeData("b.jsonl", Seq("""{"id":2}"""))
    val f3 = writeData("c.jsonl", Seq("""{"id":3}"""))
    assert(log.commit(0L, Seq(f1)) && log.commit(1L, Seq(f2)) &&
      log.commit(2L, Seq(f3)))
    // foreign tooling deletes a manifest-listed data file out from under
    // the table — an EXTERNAL Compact.run must heal, not die (previously:
    // ladder sizing and the concat both threw FileNotFoundException)
    fs.delete(new org.apache.hadoop.fs.Path(f2), false)
    val res = Compact.run(tableDir, conf, retainMillis = 0L)
    assert(res.supersededEpochs === 3,
      "all manifests must be consumed, the dangling one included")
    // the dangling reference is GONE from the live set; surviving rows intact
    val live = log.committedFiles()
    assert(live.size === 1 && live.head.contains("compact-"))
    val ids = spark.read.json(live: _*)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids === Set(1L, 3L), "surviving rows must compact normally")
    // deltas-only path (the in-loop shape) heals the same way
    val f4 = writeData("d.jsonl", Seq("""{"id":4}"""))
    val f5 = writeData("e.jsonl", Seq("""{"id":5}"""))
    assert(log.commit(3L, Seq(f4)) && log.commit(4L, Seq(f5)))
    fs.delete(new org.apache.hadoop.fs.Path(f4), false)
    Compact.run(tableDir, conf, retainMillis = 0L, deltasOnly = true)
    val ids2 = spark.read.json(log.committedFiles(): _*)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ids2 === Set(1L, 3L, 5L))
  }

  test("empty manifests fold away: zero-row epochs and all-healed folds stay bounded") {
    val dir = tmp()
    val conf = spark.sparkContext.hadoopConfiguration
    val tableDir = s"$dir/t.t"
    val log = new CommitLog(tableDir, conf)
    // zero-row streaming epochs commit empty manifests (the streaming
    // commit path publishes them; only batch writes skip empties)
    (0L to 4L).foreach(e => assert(log.commit(e, Seq.empty)))
    val res = Compact.run(tableDir, conf, retainMillis = 0L, deltasOnly = true)
    assert(res.supersededEpochs === 5,
      "empty delta manifests must be consumed, not accumulate per epoch")
    assert(log.manifests().size === 1, s"got ${log.committedEpochs()}")
    // repeated cycles with nothing new must terminate and stay at one
    // manifest — the all-empty size class must never spin the tier ladder
    (5L to 8L).foreach(e => assert(log.commit(e, Seq.empty)))
    Compact.run(tableDir, conf, retainMillis = 0L, deltasOnly = true)
    Compact.run(tableDir, conf, retainMillis = 0L, deltasOnly = true)
    assert(log.manifests().size <= 2,
      s"empty-manifest folds must stay bounded: ${log.committedEpochs()}")
  }

  test("foreachBatch commit.epoch: deduped rows are tailable and replay-safe") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingDedup.start(
      in.toDF().toDF("doc_id", "text"), dir, "corpus", "docs", s"$dir/_cp")
    in.addData((1L, "alpha"), (2L, "beta"))
    q.processAllAvailable()
    in.addData((3L, "alpha"), (4L, "gamma"))
    q.processAllAvailable()
    q.stop()
    val log = new CommitLog(s"$dir/corpus.docs",
      spark.sparkContext.hadoopConfiguration)
    // epochs are STREAMING ids (from foreachBatch), not negative pseudo-ids
    assert(log.committedEpochs().forall(_ >= 0L))
    // so a tailing reader of the deduped table receives the rows
    val reader = spark.readStream.format("graft-streaming")
      .option("path", dir).option("db", "corpus").option("table", "docs")
      .load()
      .writeStream.format("memory").queryName("dedup_tail")
      .option("checkpointLocation", s"$dir/_cpr").start()
    reader.processAllAvailable()
    reader.stop()
    assert(spark.table("dedup_tail").count() === 3)
  }

  test("committing a tombstoned epoch fails loudly, fresh epochs still commit") {
    val dir = tmp()
    val conf = spark.sparkContext.hadoopConfiguration
    val tableDir = s"$dir/t.t"
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def writeData(name: String): String = {
      val p = new org.apache.hadoop.fs.Path(s"$tableDir/$name")
      fs.mkdirs(p.getParent)
      val out = fs.create(p, false)
      out.write("""{"id":1}""".getBytes("UTF-8")); out.close()
      p.toString
    }
    val log = new CommitLog(tableDir, conf)
    assert(log.commit(0L, Seq(writeData("a.jsonl"))))
    assert(log.commit(1L, Seq(writeData("b.jsonl"))))
    assert(Compact.run(tableDir, conf).supersededEpochs === 2)
    // a stale lineage replaying epoch 0 must NOT silently publish rows that
    // manifests() filters forever — it must surface the conflict
    val e = intercept[IllegalStateException] { log.commit(0L, Seq(writeData("c.jsonl"))) }
    assert(e.getMessage.contains("compacted"))
    // epochs the compaction never consumed are unaffected
    assert(log.commit(2L, Seq(writeData("d.jsonl"))))
    assert(log.committedEpochs().contains(2L))
  }

  test("fresh tail of a batch-only table delivers the initial snapshot") {
    import spark.implicits._
    val dir = tmp()
    // batch write only: negative manifest, no streaming watermark — the tail
    // must still get one snapshot micro-batch (then go quiescent)
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "msg")
      .write.format("graft-streaming").mode("append").options(opts(dir)).save()
    val reader = spark.readStream.format("graft-streaming").options(opts(dir))
      .load()
      .writeStream.format("memory").queryName("batch_snap")
      .option("checkpointLocation", s"$dir/_cpr").start()
    reader.processAllAvailable()
    reader.stop()
    assert(spark.table("batch_snap").select("id").as[Int].collect().sorted
      .toSeq === Seq(1, 2, 3))
    // the |snap sentinel must not re-deliver: once the offset carries
    // snapshotDone, latestOffset is stable and a plan from it is empty
    val sinkOpts = GraftSinkOptions.from(
      new CaseInsensitiveStringMap(opts(dir).asJava))
    val stream = new GraftMicroBatchStream(
      StructType(Seq(StructField("id", IntegerType), StructField("msg", StringType))),
      sinkOpts,
      TaskConf.broadcast(spark.sparkContext))
    val snap = stream.latestOffset()
    assert(snap.json() === "-1|snap")
    assert(stream.deserializeOffset(snap.json()).json() === snap.json(),
      "sentinel must round-trip through the checkpoint json")
    assert(stream.planInputPartitions(snap, stream.latestOffset()).isEmpty,
      "snapshot must be delivered exactly once")
    // while a plan from the fresh initial offset DOES carry the snapshot
    assert(stream.planInputPartitions(stream.initialOffset(), snap).nonEmpty)
  }

  test("a string partition value equal to the null sentinel round-trips") {
    import spark.implicits._
    val dir = tmp()
    Seq((1, "__NULL__", "x"), (2, "real", "y")).toDF("id", "k", "msg")
      .write.format("graft-streaming").mode("append")
      .options(opts(dir, "partition.columns" -> "k")).save()
    val out = spark.read.format("graft-streaming").options(opts(dir)).load()
    val ks = out.select("k").as[String].collect().sorted
    assert(ks.toSeq === Seq("__NULL__", "real"), s"got ${ks.toSeq}")
  }

  test("manifests are table-relative: a MOVED table directory reads intact, " +
      "percent-encoded (colon) partition values included") {
    import spark.implicits._
    val dir = tmp()
    // ':' is percent-encoded by the partition sanitizer, so a relative
    // manifest line can never false-positive the absolute-path heuristic
    // (`contains(\":/\")` matches scheme URIs only)
    Seq((1, "12:30/a", "x"), (2, "plain", "y")).toDF("id", "k", "msg")
      .write.format("graft-streaming").mode("append")
      .options(opts(dir, "partition.columns" -> "k")).save()
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val moved = tmp()
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/testdb.t"),
      new org.apache.hadoop.fs.Path(s"$moved/moved.t")),
      "directory rename must succeed")
    val out = CommitLog.readCommitted(spark, s"$moved/moved.t")
    assert(out.count() === 2, "all committed rows must survive the move")
    assert(out.select("k").as[String].collect().sorted.toSeq ===
      Seq("12:30/a", "plain"), "partition values must unescape at the new location")
  }

  test("minor (deltas-only) compaction consolidates streaming deltas, protects the in-flight epoch, leaves prior minors live") {
    import spark.implicits._
    val dir = tmp()
    val tableDir = s"$dir/testdb.t"
    def writeEpoch(e: Long): Unit =
      Seq((e.toInt, s"m$e")).toDF("id", "msg")
        .write.format("graft-streaming").mode("append")
        .options(opts(dir)).option(GraftSinkOptions.COMMIT_EPOCH, e).save()
    (0L to 3L).foreach(writeEpoch)
    val log = new CommitLog(tableDir, spark.sparkContext.hadoopConfiguration)
    val r1 = Compact.run(tableDir, spark.sparkContext.hadoopConfiguration,
      retainMillis = 0, protectEpoch = 3L, deltasOnly = true)
    assert(r1.supersededEpochs === 3, "epochs 0-2 consume; 3 is protected")
    val after1 = log.committedEpochs()
    assert(after1.count(_ < 0) === 1 && after1.contains(3L),
      s"expected one minor manifest + the protected epoch, got $after1")
    // the compaction manifest's watermark must be the max epoch it
    // CONSUMED (2), not the table-global high-water mark (3): a fresh
    // tail whose end offset is 2 must still take this manifest — with a
    // watermark of 3 it would skip it while epochs 0-2's own manifests
    // are already deleted, silently losing the pre-compaction corpus
    val minorWm = log.manifests().find(_.epochId < 0).flatMap(_.watermark)
    assert(minorWm === Some(2L),
      s"compaction watermark must cover only consumed epochs, got $minorWm")
    assert(CommitLog.readCommitted(spark, tableDir).count() === 4)
    // protected epoch is NOT tombstoned: its replayed commit still follows
    // the normal idempotent discard path instead of failing loudly
    assert(!log.allTombstones().contains(3L))
    // second and third cycles: new deltas consolidate; prior minors stay
    // live and untouched (L0 posture — cost bounded by new bytes)
    (4L to 6L).foreach(writeEpoch)
    val r2 = Compact.run(tableDir, spark.sparkContext.hadoopConfiguration,
      retainMillis = 0, protectEpoch = 6L, deltasOnly = true)
    assert(r2.supersededEpochs === 3, "epochs 3-5 consume this cycle")
    val after2 = log.committedEpochs()
    assert(after2.count(_ < 0) === 2 && after2.contains(6L),
      s"expected two coexisting minor manifests, got $after2")
    assert(CommitLog.readCommitted(spark, tableDir).count() === 7)
    (7L to 9L).foreach(writeEpoch)
    Compact.run(tableDir, spark.sparkContext.hadoopConfiguration,
      retainMillis = 0, protectEpoch = 9L, deltasOnly = true)
    assert(log.committedEpochs().count(_ < 0) === 3)
    // fourth cycle trips the TIER LADDER: its own minor makes TierFanout
    // same-size-class minors, which fold into one — negative manifests
    // stay O(log) over an unbounded run instead of one per cycle (each
    // epoch commit's tombstone guard opens every negative manifest, so
    // this bound is also a per-epoch ingest cost bound)
    (10L to 12L).foreach(writeEpoch)
    Compact.run(tableDir, spark.sparkContext.hadoopConfiguration,
      retainMillis = 0, protectEpoch = 12L, deltasOnly = true)
    val after4 = log.committedEpochs()
    assert(after4.count(_ < 0) === 1,
      s"the tier ladder must fold ${Compact.TierFanout} same-class minors, got $after4")
    assert(after4.contains(12L))
    assert(CommitLog.readCommitted(spark, tableDir)
      .select("id").as[Int].collect().sorted.toSeq === (0 to 12),
      "every row must survive the fold")
    // tombstones stayed transitive through the fold: a replayed commit of
    // a folded-away epoch still fails loudly instead of resurrecting rows
    intercept[IllegalStateException] { writeEpoch(0L) }
    // ...and the bookkeeping that enforces it is BOUNDED: positive-epoch
    // tombstones compress into one ceiling header instead of an
    // ever-growing id list (the per-epoch commit guard parses every
    // negative manifest, so list length is a per-epoch ingest cost)
    val folded = log.manifests().filter(_.epochId < 0)
    assert(folded.nonEmpty)
    assert(folded.forall(_.supersedes.size <= Compact.TierFanout + 3),
      s"supersedes lists must stay bounded, got ${folded.map(_.supersedes)}")
    assert(folded.flatMap(_.tombstoneCeiling).max === 11L,
      "the fold must carry the max consumed streaming epoch as its ceiling")
    // a FULL run on top is a no-op shape-wise (already one minor + tail)
    Compact.run(tableDir, spark.sparkContext.hadoopConfiguration,
      retainMillis = 0, protectEpoch = 12L)
    assert(CommitLog.readCommitted(spark, tableDir).count() === 13)
  }

  test("a protected epoch BELOW the max consumed id survives the tombstone ceiling") {
    import spark.implicits._
    val dir = tmp()
    val tableDir = s"$dir/testdb.t"
    def writeEpoch(e: Long): Unit =
      Seq((e.toInt, s"m$e")).toDF("id", "msg")
        .write.format("graft-streaming").mode("append")
        .options(opts(dir)).option(GraftSinkOptions.COMMIT_EPOCH, e).save()
    (0L to 4L).foreach(writeEpoch)
    // protect a MIDDLE epoch (legal API use): consumed = {0,1,3,4}. A
    // naive max-consumed ceiling (4) would hide live epoch 2 forever —
    // silent data loss; the ceiling must clamp below the survivor
    Compact.run(tableDir, spark.sparkContext.hadoopConfiguration,
      retainMillis = 0, protectEpoch = 2L, deltasOnly = true)
    val log = new CommitLog(tableDir, spark.sparkContext.hadoopConfiguration)
    assert(log.committedEpochs().contains(2L),
      "the protected epoch's manifest must stay live")
    assert(CommitLog.readCommitted(spark, tableDir)
      .select("id").as[Int].collect().sorted.toSeq === (0 to 4),
      "the protected epoch's rows must stay visible")
    // its replay follows the normal idempotent-discard path...
    writeEpoch(2L)
    assert(CommitLog.readCommitted(spark, tableDir).count() === 5)
    // ...while consumed epochs above the clamped ceiling stay guarded by
    // their explicit tombstones
    intercept[IllegalStateException] { writeEpoch(4L) }
    intercept[IllegalStateException] { writeEpoch(0L) }
    // consume the manifest HOLDING those above-ceiling tombstones (full
    // run takes the minor + epoch 2): the new manifest must carry 3 and 4
    // forward explicitly — its clamped ceiling (2) cannot cover them, and
    // dropping them would let a fresh-lineage re-commit publish epochs 3/4
    // a second time as silent duplicates
    Compact.run(tableDir, spark.sparkContext.hadoopConfiguration,
      retainMillis = 0)
    assert(CommitLog.readCommitted(spark, tableDir).count() === 5)
    intercept[IllegalStateException] { writeEpoch(3L) }
    intercept[IllegalStateException] { writeEpoch(4L) }
    // a genuinely new epoch above everything still commits
    writeEpoch(5L)
    assert(CommitLog.readCommitted(spark, tableDir).count() === 6)
  }

  test("transitive manifest deletion retries crashed cleanups to any depth") {
    val dir = tmp()
    val conf = spark.sparkContext.hadoopConfiguration
    val tableDir = s"$dir/t.t"
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    val log = new CommitLog(tableDir, conf)
    // a chain of crashed cleanups: A superseded by B, B by C — each
    // cleanup crashed after committing, so all three files remain. When a
    // later compaction finally consumes C, the delete must walk the chain
    // bottom-up (A, then B, then C): deleting C's list alone would leave
    // A hidden by nothing once B goes
    def plant(id: Long, supersedes: Seq[Long]): Unit = {
      fs.mkdirs(log.manifestPath(id).getParent)
      val out = fs.create(log.manifestPath(id), false)
      val header = if (supersedes.nonEmpty)
        s"#supersedes:${supersedes.mkString(",")}\n" else ""
      out.write((header + "/gone.jsonl").getBytes("UTF-8")); out.close()
    }
    plant(-100L, Seq.empty)
    plant(-101L, Seq(-100L))
    plant(-102L, Seq(-101L))
    // while the chain is intact, only the top is live
    assert(log.manifests().map(_.epochId).filter(_ < -10) === Seq(-102L))
    log.deleteManifestTransitively(-102L)
    assert(!fs.exists(log.manifestPath(-100L)), "depth-2 leftover must go")
    assert(!fs.exists(log.manifestPath(-101L)), "depth-1 leftover must go")
    assert(!fs.exists(log.manifestPath(-102L)))
  }

  test("compaction tombstones are transitive across generations") {
    val dir = tmp()
    val conf = spark.sparkContext.hadoopConfiguration
    val tableDir = s"$dir/t.t"
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def writeData(name: String, rows: Seq[String]): String = {
      val p = new org.apache.hadoop.fs.Path(s"$tableDir/$name")
      fs.mkdirs(p.getParent)
      val out = fs.create(p, false)
      out.write((rows.mkString("\n") + "\n").getBytes("UTF-8")); out.close()
      p.toString
    }
    val log = new CommitLog(tableDir, conf)
    assert(log.commit(0L, Seq(writeData("a.jsonl", Seq("""{"id":1}""", """{"id":2}""")))))
    assert(log.commit(1L, Seq(writeData("b.jsonl", Seq("""{"id":3}""")))))
    assert(Compact.run(tableDir, conf).supersededEpochs === 2)

    // simulate a crashed cleanup: a superseded manifest survives on disk
    val leftover = log.manifestPath(0L)
    val out = fs.create(leftover, false)
    out.write("/long/gone/file.jsonl".getBytes("UTF-8")); out.close()
    assert(log.manifests().forall(_.epochId != 0L),
      "tombstoned manifest must stay dead")

    // a SECOND compaction consumes the first; transitive tombstones must
    // keep the leftover dead even after the first compaction manifest (the
    // only holder of epoch-0's tombstone) is deleted
    assert(log.commit(5L, Seq(writeData("c.jsonl", Seq("""{"id":4}""")))))
    assert(Compact.run(tableDir, conf).supersededEpochs >= 2)
    assert(log.manifests().forall(_.epochId != 0L),
      "leftover must stay dead across compaction generations")
    assert(log.committedFiles().forall(!_.contains("long/gone")))
    // 4 rows total, nothing resurrected, nothing lost
    assert(spark.read.json(log.committedFiles(): _*).count() === 4)
  }

  test("A9 abort: epoch abort deletes staged files, nothing becomes visible") {
    val dir = tmp()
    val o = GraftSinkOptions.from(new CaseInsensitiveStringMap(opts(dir).asJava))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("msg", StringType)))
    val write = new GraftWrite(schema, o, TaskConf.broadcast(spark.sparkContext))
    val sw = write.toStreaming
    val factory = sw.createStreamingWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })
    val w = factory.createWriter(0, 1L, 3L)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
    (1 to 10).foreach { i =>
      w.write(proj(org.apache.spark.sql.catalyst.InternalRow(
        i, org.apache.spark.unsafe.types.UTF8String.fromString(s"m$i"))))
    }
    val msg = w.commit()
    sw.abort(3L, Array(msg))
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftover = msg.asInstanceOf[GraftCommitMessage].files
      .filter(f => fs.exists(new org.apache.hadoop.fs.Path(f)))
    assert(leftover.isEmpty, s"aborted files not cleaned: $leftover")
    assert(CommitLog.readCommitted(spark, s"$dir/testdb.t").count() === 0)
  }

  test("A2 schema validation: name-set mismatch on restart is rejected") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS().map(i => (i, s"m$i")).toDF("id", "msg")
      .writeStream.format("graft-streaming")
      .options(opts(dir)).option("checkpointLocation", s"$dir/_cp1").start()
    in.addData(1, 2, 3)
    q.processAllAvailable()
    q.stop()

    val in2 = MemoryStream[Int]
    val q2 = in2.toDS().map(i => (i, i * 2)).toDF("id", "doubled")
      .writeStream.format("graft-streaming")
      .options(opts(dir)).option("checkpointLocation", s"$dir/_cp2").start()
    in2.addData(4)
    val e = intercept[Exception] { q2.processAllAvailable() }
    assert(e.getMessage.contains("different from the schema") ||
      Option(e.getCause).exists(_.getMessage.contains("different from the schema")))
    q2.stop()
  }

  test("append-only: complete output mode is rejected (reference A2 gate)") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val agg = in.toDS().groupBy("value").count()
    // the rejection surfaces when the first batch is planned (Spark requires
    // SupportsTruncate for Complete mode, which the sink does not implement)
    val e = intercept[Exception] {
      val q = agg.writeStream.format("graft-streaming")
        .outputMode("complete")
        .options(opts(dir)).option("checkpointLocation", s"$dir/_cp").start()
      try { in.addData(1, 2, 2); q.processAllAvailable() } finally q.stop()
    }
    val all = (e.getMessage + Option(e.getCause).map(_.getMessage).getOrElse("")).toLowerCase
    assert(all.contains("complete") || all.contains("truncate"))
  }

  test("rate-source e2e under micro-batch trigger (reference example parity)") {
    // mirrors RateStreamingExample.scala:63-82 (rate source → select → sink)
    val dir = tmp()
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", "50").load()
      .selectExpr("value", "CAST(timestamp AS STRING) AS ts")
      .writeStream.format("graft-streaming")
      .options(opts(dir))
      .trigger(Trigger.ProcessingTime(200))
      .option("checkpointLocation", s"$dir/_cp")
      .start()
    // let a few micro-batches commit
    val deadline = System.currentTimeMillis() + 15000
    var rows = 0L
    while (rows == 0 && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
      rows = new CommitLog(s"$dir/testdb.t",
        spark.sparkContext.hadoopConfiguration).committedFiles().size.toLong
    }
    q.stop()
    val out = CommitLog.readCommitted(spark, s"$dir/testdb.t")
    assert(out.count() > 0, "rate source rows should have been committed")
    assert(out.columns.toSet === Set("value", "ts"))
  }

  test("rate-source e2e under continuous trigger (reference README.md:9)") {
    val dir = tmp()
    val q = spark.readStream.format("rate")
      .option("rowsPerSecond", "50").load()
      .selectExpr("value", "CAST(timestamp AS STRING) AS ts")
      .writeStream.format("graft-streaming")
      .options(opts(dir))
      .trigger(Trigger.Continuous(500))
      .option("checkpointLocation", s"$dir/_cp")
      .start()
    val deadline = System.currentTimeMillis() + 20000
    var rows = 0L
    while (rows == 0 && System.currentTimeMillis() < deadline) {
      Thread.sleep(500)
      rows = new CommitLog(s"$dir/testdb.t",
        spark.sparkContext.hadoopConfiguration).committedFiles().size.toLong
    }
    q.stop()
    val out = CommitLog.readCommitted(spark, s"$dir/testdb.t")
    assert(out.count() > 0, "continuous mode should have committed rows")
    // exactly-once within committed epochs: values unique
    assert(out.select("value").distinct().count() === out.count())
  }

  test("batch write path: df.write lands rows through the same commit log") {
    import spark.implicits._
    val dir = tmp()
    (1 to 20).map(i => (i, s"m$i")).toDF("id", "msg")
      .write.format("graft-streaming").mode("append").options(opts(dir)).save()
    val out = CommitLog.readCommitted(spark, s"$dir/testdb.t")
    assert(out.count() === 20)
  }

  test("SQL DDL surface: CREATE TABLE USING graft-streaming, INSERT, SELECT") {
    // the DSv2 TableProvider works from pure SQL too — the surface a
    // reference user gets from Hive DDL ("create table ... stored as orc",
    // FIXTURES.md) maps onto
    val dir = tmp()
    spark.sql(s"""CREATE TABLE sink_ddl_t (id INT, msg STRING)
      USING `graft-streaming`
      OPTIONS (path '$dir', db 'testdb', `table` 't')""")
    try {
      spark.sql("INSERT INTO sink_ddl_t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      assert(spark.sql("SELECT count(1) FROM sink_ddl_t").head().getLong(0) === 3)
      assert(spark.sql("SELECT msg FROM sink_ddl_t WHERE id = 2")
        .head().getString(0) === "b")
      // the SQL-created table and the programmatic read path see the same
      // manifest-gated state
      assert(CommitLog.readCommitted(spark, s"$dir/testdb.t").count() === 3)
    } finally spark.sql("DROP TABLE sink_ddl_t")
  }

  test("A7 batching: batch.size/txn.per.batch rotate files deterministically") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Seq("jsonl", "parquet", "orc").foreach { format =>
      val dir = tmp()
      val in = MemoryStream[Int]
      // batch.size=10 × txn.per.batch=2 → 20 rows per file; 100 rows in
      // one micro-batch (single partition) → 5 files, in every format
      val q = in.toDS().repartition(1).map(i => (i, s"m$i")).toDF("id", "msg")
        .writeStream.format("graft-streaming")
        .options(opts(dir, "batch.size" -> "10", "txn.per.batch" -> "2",
          "format" -> format))
        .option("checkpointLocation", s"$dir/_cp")
        .start()
      in.addData(1 to 100: _*)
      q.processAllAvailable()
      q.stop()
      val files = new CommitLog(s"$dir/testdb.t",
        spark.sparkContext.hadoopConfiguration).committedFiles()
      assert(files.size === 5, s"$format: expected 5 rotated files, got ${files.size}")
      assert(files.forall(_.endsWith(s".$format")), files)
      val rowsPerFile = files.map { f =>
        val r = spark.read
        (format match {
          case "jsonl" => r.text(f)
          case "parquet" => r.parquet(f)
          case _ => r.orc(f)
        }).count()
      }
      assert(rowsPerFile === Seq.fill(5)(20L), s"$format: $rowsPerFile")
      assert(CommitLog.readCommitted(spark, s"$dir/testdb.t").count() === 100)
    }
  }
}
