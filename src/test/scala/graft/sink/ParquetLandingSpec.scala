package graft.sink

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

/** The columnar landing mode (`option("format","parquet")`) — storage parity
  * with the reference's ORC tables (`HiveStreamingExample.scala:26-31`
  * `stored as orc`). Every guarantee the JSONL path carries (exactly-once
  * replay, partition routing, compaction atomicity, tailing) must hold
  * byte-for-byte identically in parquet mode, plus read-back equality
  * BETWEEN the two modes on the same rows.
  */
class ParquetLandingSpec extends SparkSpec {

  private def tmp(): String =
    tempDir("graft-parquet")

  private def opts(path: String, extra: (String, String)*): Map[String, String] =
    (Map("path" -> path, "db" -> "testdb", "table" -> "t",
      "format" -> "parquet") ++ extra.toMap)

  private def hconf = spark.sparkContext.hadoopConfiguration

  test("option parsing: format accepts jsonl/parquet/orc, rejects others") {
    val o = GraftSinkOptions.from(new CaseInsensitiveStringMap(
      Map("path" -> "/x", "db" -> "d", "table" -> "t",
        "format" -> "PARQUET").asJava))
    assert(o.isParquet)
    val orc = GraftSinkOptions.from(new CaseInsensitiveStringMap(
      Map("path" -> "/x", "db" -> "d", "table" -> "t",
        "format" -> "orc").asJava))
    assert(orc.isOrc)
    val e = intercept[IllegalArgumentException] {
      GraftSinkOptions.from(new CaseInsensitiveStringMap(
        Map("path" -> "/x", "db" -> "d", "table" -> "t",
          "format" -> "avro").asJava))
    }
    assert(e.getMessage.contains("format"))
  }

  test("parquet e2e: streamed rows land as .parquet, partition-routed, read back") {
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
    in.addData(101 to 200: _*)
    q.processAllAvailable()
    q.stop()
    val files = new CommitLog(s"$dir/testdb.t", hconf).committedFiles()
    assert(files.nonEmpty)
    assert(files.forall(_.endsWith(".parquet")), s"non-parquet landing: $files")
    assert(files.forall(f => f.contains("region=EU") || f.contains("region=US")))
    val out = CommitLog.readCommitted(spark, s"$dir/testdb.t")
    assert(out.columns.toSet === Set("id", "msg", "region"))
    assert(out.count() === 200)
    assert(out.select("id").as[Long].collect().sorted.toSeq === (1L to 200L))
    assert(out.filter($"region" === "EU").count() === 100)
  }

  test("parquet exactly-once: replayed epoch publishes no duplicates") {
    val dir = tmp()
    val o = GraftSinkOptions.from(new CaseInsensitiveStringMap(opts(dir).asJava))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("msg", StringType)))
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
    val m2 = runEpoch(7L, 1 to 50)
    sw.commit(7L, Array(m2))
    val out = CommitLog.readCommitted(spark, s"$dir/testdb.t")
    assert(out.count() === 50, "replayed epoch must not duplicate rows")
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    val leftover = m2.asInstanceOf[GraftCommitMessage].files
      .filter(f => fs.exists(new org.apache.hadoop.fs.Path(f)))
    assert(leftover.isEmpty, s"replay files not cleaned: $leftover")
  }

  test("parquet compaction: row-group merge preserves rows, tailing intact") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS().map(i => (i, if (i % 2 == 0) "EU" else "US", s"m$i"))
      .toDF("id", "region", "msg")
      .writeStream.format("graft-streaming")
      .options(opts(dir, "partition.columns" -> "region"))
      .option("checkpointLocation", s"$dir/_cp").start()
    (0 until 5).foreach { e =>
      in.addData(e * 20 + 1 to e * 20 + 20: _*)
      q.processAllAvailable()
    }
    q.stop()
    val tableDir = s"$dir/testdb.t"
    val log = new CommitLog(tableDir, hconf)
    val before = log.committedFiles()
    assert(before.size > 2)
    val hwmBefore = log.streamingWatermark()

    val res = Compact.run(tableDir, hconf, retainMillis = 0L)
    assert(res.supersededEpochs === 5)
    assert(res.consolidatedFiles === 2, "one merged parquet per partition dir")

    val after = log.committedFiles()
    assert(after.size === 2)
    assert(after.forall(f => f.contains("compact-") && f.endsWith(".parquet")))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    assert(before.forall(f => !fs.exists(new org.apache.hadoop.fs.Path(f))))
    val out = spark.read.format("graft-streaming").options(opts(dir)).load()
    assert(out.count() === 100)
    assert(out.select("id").as[Long].collect().sorted.toSeq === (1L to 100L))
    assert(out.filter($"region" === "EU").count() === 50)
    assert(log.streamingWatermark() === hwmBefore)
    assert(Compact.run(tableDir, hconf) === Compact.Result(0, 0, 0))
  }

  test("mixed-format table: jsonl and parquet epochs read together, compact per format") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    // epoch set 1: jsonl landing
    val in1 = MemoryStream[Int]
    val q1 = in1.toDS().map(i => (i, s"m$i")).toDF("id", "msg")
      .writeStream.format("graft-streaming")
      .options(opts(dir, "format" -> "jsonl"))
      .option("checkpointLocation", s"$dir/_cp1").start()
    in1.addData(1 to 50: _*); q1.processAllAvailable(); q1.stop()
    // second landing: parquet via the BATCH append path (negative
    // pseudo-epoch — a second streaming lineage would restart at epoch 0
    // and be discarded as a replay, by design)
    (51 to 100).map(i => (i, s"m$i")).toDF("id", "msg")
      .write.format("graft-streaming")
      .options(opts(dir)).mode("append").save()

    val tableDir = s"$dir/testdb.t"
    val log = new CommitLog(tableDir, hconf)
    val exts = log.committedFiles().map(f => f.substring(f.lastIndexOf('.'))).toSet
    assert(exts === Set(".jsonl", ".parquet"))
    val out = CommitLog.readCommitted(spark, tableDir)
    assert(out.select("id").as[Long].collect().sorted.toSeq === (1L to 100L))

    // compaction folds each format separately in the shared dir
    val res = Compact.run(tableDir, hconf, retainMillis = 0L)
    assert(res.consolidatedFiles === 2, "one compact file per landing format")
    val after = log.committedFiles()
    assert(after.map(f => f.substring(f.lastIndexOf('.'))).toSet
      === Set(".jsonl", ".parquet"))
    val out2 = CommitLog.readCommitted(spark, tableDir)
    assert(out2.select("id").as[Long].collect().sorted.toSeq === (1L to 100L))
  }

  test("landing-format equality: parquet and jsonl tables agree on typed rows") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    // exercise the type surface both encoders share: integral, floating,
    // boolean, string (with escapes), date, timestamp, binary, decimal
    val df = spark.range(0, 300).selectExpr(
      "id",
      "cast(id as int) as i",
      "cast(id % 7 as short) as sh",
      "cast(id * 1.5 as double) as d",
      "cast(id as float) / 3 as f",
      "id % 2 = 0 as b",
      "concat('s\"x\\n', id) as s",
      "date_add(date'2020-01-01', cast(id as int)) as dt",
      "timestamp_millis(1577836800000 + id * 1000) as ts",
      "cast(concat('bin', id) as binary) as bin",
      "cast(id as decimal(10,2)) / 4 as dec")
    def land(table: String, format: String): Unit = {
      val in = MemoryStream[Long]
      val q = in.toDS().toDF("seed").join(df, $"seed" === $"id").drop("seed")
        .writeStream.format("graft-streaming")
        .option("path", dir).option("db", "fmt").option("table", table)
        .option("format", format)
        .option("checkpointLocation", s"$dir/_cp_$table")
        .start()
      in.addData(0L until 300L: _*)
      q.processAllAvailable()
      q.stop()
    }
    land("pq", "parquet")
    land("js", "jsonl")
    val pq = CommitLog.readCommitted(spark, s"$dir/fmt.pq")
    val js = CommitLog.readCommitted(spark, s"$dir/fmt.js")
    assert(pq.count() === 300)
    // full-row equality across landings (order-insensitive)
    assert(pq.exceptAll(js).isEmpty && js.exceptAll(pq).isEmpty,
      "parquet and jsonl landings must read back identically")
  }

  test("parquet compaction tolerates field-order drift across lineages") {
    // the schema contract is NAME-SET only, so two lineages may write the
    // same columns in different physical order; row-group merge must not
    // die on it — each physical schema folds into its own compact file
    val dir = tmp()
    def land(epoch: Long, flip: Boolean): Unit = {
      val schema =
        if (flip) StructType(Seq(
          StructField("msg", StringType), StructField("id", IntegerType)))
        else StructType(Seq(
          StructField("id", IntegerType), StructField("msg", StringType)))
      val o = GraftSinkOptions.from(new CaseInsensitiveStringMap(opts(dir).asJava))
      val w = new GraftWrite(schema, o, TaskConf.broadcast(spark.sparkContext)).toStreaming
      val f = w.createStreamingWriterFactory(new PhysicalWriteInfo {
        override def numPartitions(): Int = 1
      })
      val dw = f.createWriter(0, epoch, epoch)
      val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(schema)
      (1 to 10).foreach { i =>
        val r =
          if (flip) org.apache.spark.sql.catalyst.InternalRow(
            org.apache.spark.unsafe.types.UTF8String.fromString(s"m${epoch * 100 + i}"),
            (epoch * 100 + i).toInt)
          else org.apache.spark.sql.catalyst.InternalRow(
            (epoch * 100 + i).toInt,
            org.apache.spark.unsafe.types.UTF8String.fromString(s"m${epoch * 100 + i}"))
        dw.write(proj(r))
      }
      w.commit(epoch, Array(dw.commit()))
    }
    val o = GraftSinkOptions.from(new CaseInsensitiveStringMap(opts(dir).asJava))
    SchemaRegistry.saveIfAbsent(o, StructType(Seq(
      StructField("id", IntegerType), StructField("msg", StringType))))
    land(0L, flip = false)
    land(1L, flip = true)
    land(2L, flip = false)
    val tableDir = s"$dir/testdb.t"
    val res = Compact.run(tableDir, hconf, retainMillis = 0L)
    assert(res.supersededEpochs === 3)
    assert(res.consolidatedFiles === 2,
      "one merged parquet per distinct physical schema")
    val out = CommitLog.readCommitted(spark, tableDir)
    assert(out.count() === 30)
    assert(out.select("id").collect().map(_.getInt(0)).toSet
      === ((1 to 10) ++ (101 to 110) ++ (201 to 210)).toSet)
  }

  test("keepalive is rejected with the parquet landing (silent no-op guard)") {
    val e = intercept[IllegalArgumentException] {
      GraftSinkOptions.from(new CaseInsensitiveStringMap(
        Map("path" -> "/x", "db" -> "d", "table" -> "t",
          "format" -> "parquet", "keepalive.interval.ms" -> "5000").asJava))
    }
    assert(e.getMessage.contains("keepalive"))
    // jsonl keeps supporting it
    val ok = GraftSinkOptions.from(new CaseInsensitiveStringMap(
      Map("path" -> "/x", "db" -> "d", "table" -> "t",
        "keepalive.interval.ms" -> "5000").asJava))
    assert(ok.keepaliveIntervalMs === 5000L)
  }

  test("all-parquet tables scan COLUMNAR; mixed tables fall back to rows") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS().map(i => (i, s"m$i")).toDF("id", "msg")
      .writeStream.format("graft-streaming")
      .options(opts(dir))
      .option("checkpointLocation", s"$dir/_cp").start()
    in.addData(1 to 100: _*); q.processAllAvailable(); q.stop()
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val pq = spark.read.format("graft-streaming").options(opts(dir)).load()
    assert(planOf(pq.select("id", "msg")).contains("ColumnarToRow"),
      "an all-parquet table must plan a vectorized columnar scan")
    assert(pq.select("msg").count() === 100)
    val pqRows = pq.select("id", "msg").collect().toSet
    // a parquet + ORC table scans columnar too
    val pqOrcDir = tmp()
    Seq("parquet" -> (1 to 50), "orc" -> (51 to 100)).foreach { case (format, ids) =>
      ids.map(i => (i, s"m$i")).toDF("id", "msg").write.format("graft-streaming")
        .options(opts(pqOrcDir, "format" -> format)).mode("append").save()
    }
    val pqOrc = spark.read.format("graft-streaming").options(opts(pqOrcDir)).load()
    assert(planOf(pqOrc.select("id", "msg")).contains("ColumnarToRow"),
      "a parquet + orc table must plan a vectorized columnar scan")
    assert(pqOrc.select("id", "msg").collect().toSet === pqRows)
    // with Spark's vectorized parquet reader switched off, the scan takes
    // the row path and parquet's row decoder reads the files
    val vectorizedKey = "spark.sql.parquet.enableVectorizedReader"
    spark.conf.set(vectorizedKey, "false")
    try {
      val rowScan = spark.read.format("graft-streaming").options(opts(dir)).load()
      assert(!planOf(rowScan.select("id", "msg")).contains("ColumnarToRow"),
        "without the vectorized parquet reader the scan must take rows")
      val factory = new GraftScanBuilder(rowScan.schema,
        GraftSinkOptions.from(new CaseInsensitiveStringMap(opts(dir).asJava)))
        .build().toBatch.createReaderFactory().asInstanceOf[GraftReaderFactory]
      assert(!factory.columnar && !factory.parquetBatches)
      assert(rowScan.select("id", "msg").collect().toSet === pqRows)
    } finally spark.conf.unset(vectorizedKey)
    // a JSONL epoch lands in the same table → the scan must fall back to
    // rows uniformly (Spark requires all partitions to agree)
    (101 to 110).map(i => (i, s"m$i")).toDF("id", "msg")
      .write.format("graft-streaming")
      .options(opts(dir, "format" -> "jsonl")).mode("append").save()
    val mixed = spark.read.format("graft-streaming").options(opts(dir)).load()
    assert(!planOf(mixed.select("id", "msg")).contains("ColumnarToRow"),
      "a mixed-format table must scan on the row path")
    assert(mixed.count() === 110)
  }

  test("pushed filters through the columnar scan: exact results over multi-file ranges") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS().map(i => (i.toLong, s"m$i", i % 2 == 0))
      .toDF("id", "msg", "even")
      .writeStream.format("graft-streaming")
      .options(opts(dir))
      .option("checkpointLocation", s"$dir/_cp").start()
    // several epochs → several files with DISJOINT id ranges, so row-group
    // statistics can actually exclude whole files
    (0 until 5).foreach { e =>
      in.addData(e * 1000 until e * 1000 + 100: _*)
      q.processAllAvailable()
    }
    q.stop()
    val t = spark.read.format("graft-streaming").options(opts(dir)).load()
    assert(t.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    // numeric range straddling two files
    assert(t.filter($"id" >= 3050 && $"id" < 4010).count() === 60)
    assert(t.filter($"id" === 2042).select("msg").as[String].collect()
      === Array("m2042"))
    // string + boolean predicates (pushed as stats/dictionary filters)
    assert(t.filter($"msg" === "m1001").count() === 1)
    assert(t.filter($"even" && $"id" < 1000).count() === 50)
    // a filter matching nothing anywhere
    assert(t.filter($"id" === 999999).count() === 0)
  }

  test("A9 parquet abort: staged parquet files deleted, nothing visible") {
    val dir = tmp()
    val o = GraftSinkOptions.from(new CaseInsensitiveStringMap(opts(dir).asJava))
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("msg", StringType)))
    SchemaRegistry.saveIfAbsent(o, schema)
    val write = new GraftWrite(schema, o, TaskConf.broadcast(spark.sparkContext))
    val sw = write.toStreaming
    val factory = sw.createStreamingWriterFactory(new PhysicalWriteInfo {
      override def numPartitions(): Int = 1
    })
    val w = factory.createWriter(0, 1L, 3L)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(schema)
    (1 to 10).foreach { i =>
      w.write(proj(org.apache.spark.sql.catalyst.InternalRow(
        i, org.apache.spark.unsafe.types.UTF8String.fromString(s"m$i"))))
    }
    w.abort()
    w.close()
    assert(CommitLog.readCommitted(spark, s"$dir/testdb.t").count() === 0)
  }
}
