package graft.sink

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

/** The ORC landing mode (`option("format","orc")`) — LITERAL storage parity
  * with the reference's tables (`HiveStreamingExample.scala:26-31`
  * `stored as orc`). The parquet landing's guarantees must hold
  * identically: exactly-once replay, partition routing, manifest stats +
  * plan-time skipping, compaction atomicity, abort hygiene, and read-back
  * equality against the other two landings on the shared type surface.
  */
class OrcLandingSpec extends SparkSpec {

  private def tmp(): String =
    tempDir("graft-orc")

  private def opts(path: String, extra: (String, String)*): Map[String, String] =
    (Map("path" -> path, "db" -> "testdb", "table" -> "t",
      "format" -> "orc") ++ extra.toMap)

  private def hconf = spark.sparkContext.hadoopConfiguration

  test("keepalive is rejected with the orc landing (silent no-op guard)") {
    val e = intercept[IllegalArgumentException] {
      GraftSinkOptions.from(new CaseInsensitiveStringMap(
        Map("path" -> "/x", "db" -> "d", "table" -> "t",
          "format" -> "orc", "keepalive.interval.ms" -> "5000").asJava))
    }
    assert(e.getMessage.contains("keepalive"))
  }

  test("orc e2e: streamed rows land as .orc, partition-routed, read back") {
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
    assert(files.forall(_.endsWith(".orc")), s"non-orc landing: $files")
    assert(files.forall(f => f.contains("region=EU") || f.contains("region=US")))
    val out = CommitLog.readCommitted(spark, s"$dir/testdb.t")
    assert(out.columns.toSet === Set("id", "msg", "region"))
    assert(out.count() === 200)
    assert(out.select("id").as[Long].collect().sorted.toSeq === (1L to 200L))
    assert(out.filter($"region" === "EU").count() === 100)
  }

  test("orc exactly-once: replayed epoch publishes no duplicates") {
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

  test("orc stats land in the manifest; point lookups skip files") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS()
      .map(i => (i.toLong, s"m$i", if (i % 10 == 0) null else s"tag$i"))
      .toDF("id", "msg", "tag")
      .writeStream.format("graft-streaming").options(opts(dir))
      .option("checkpointLocation", s"$dir/_cp").start()
    (0 until 5).foreach { e =>
      in.addData(e * 1000 until e * 1000 + 100: _*)
      q.processAllAvailable()
    }
    q.stop()
    val log = new CommitLog(s"$dir/testdb.t", hconf)
    val ms = log.manifests().filter(_.files.nonEmpty)
    assert(ms.nonEmpty)
    ms.foreach(m => m.files.foreach { f =>
      val st = m.fileStats.get(f)
      assert(st.isDefined, s"no stats recorded for ORC $f")
      assert(st.get.cols("id").min.exists(_.startsWith("l")))
      assert(st.get.cols("msg").min.exists(_.startsWith("s")))
      assert(st.get.cols("tag").nullCount.exists(_ > 0L))
    })
    def planned(filters: Filter*): Int = {
      val df = spark.read.format("graft-streaming").options(opts(dir)).load()
      val builder = new GraftScanBuilder(df.schema,
        GraftSinkOptions.from(new CaseInsensitiveStringMap(opts(dir).asJava)))
      builder.pushFilters(filters.toArray)
      builder.build().asInstanceOf[GraftScan].planInputPartitions().length
    }
    assert(planned() === 5)
    assert(planned(EqualTo("id", 2042L)) === 1)
    assert(planned(EqualTo("id", 999999L)) === 0)
    assert(planned(EqualTo("msg", "zzz")) === 0)
    val t = spark.read.format("graft-streaming").options(opts(dir)).load()
    assert(t.filter($"id" === 2042L).select("msg").as[String].collect() === Array("m2042"))
  }

  test("orc double stats: mixed NaN poisons min/max, never mis-prunes") {
    import spark.implicits._
    import org.apache.spark.sql.sources.GreaterThan
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    // every file carries non-NaN values AND a NaN: orc-core seeds min/max
    // from the first value and silently skips later NaNs, so without the
    // sum-based poison check the file would record a finite min/max that
    // excludes the NaN rows (Spark orders NaN above every double)
    val q = in.toDS()
      .map(i => (i.toLong, if (i % 100 == 7) Double.NaN else i / 100.0))
      .toDF("id", "score")
      .writeStream.format("graft-streaming").options(opts(dir))
      .option("checkpointLocation", s"$dir/_cp").start()
    (0 until 3).foreach { e =>
      in.addData(e * 1000 until e * 1000 + 100: _*)
      q.processAllAvailable()
    }
    q.stop()
    val log = new CommitLog(s"$dir/testdb.t", hconf)
    val ms = log.manifests().filter(_.files.nonEmpty)
    assert(ms.nonEmpty)
    ms.foreach(m => m.files.foreach { f =>
      val st = m.fileStats.get(f)
      assert(st.isDefined, s"no stats recorded for ORC $f")
      // id stats survive; NaN-poisoned score declines min/max entirely
      assert(st.get.cols("id").min.exists(_.startsWith("l")))
      assert(st.get.cols("score").min.isEmpty)
      assert(st.get.cols("score").max.isEmpty)
      assert(st.get.cols("score").nullCount.contains(0L))
    })
    def planned(filters: Filter*): Int = {
      val df = spark.read.format("graft-streaming").options(opts(dir)).load()
      val builder = new GraftScanBuilder(df.schema,
        GraftSinkOptions.from(new CaseInsensitiveStringMap(opts(dir).asJava)))
      builder.pushFilters(filters.toArray)
      builder.build().asInstanceOf[GraftScan].planInputPartitions().length
    }
    // a > predicate that only NaN rows satisfy must not prune any file
    assert(planned(GreaterThan("score", 100.0)) === 3)
    val t = spark.read.format("graft-streaming").options(opts(dir)).load()
    assert(t.filter($"score" > 100.0).count() === 3) // the NaN rows
    assert(t.filter($"score".isNaN).count() === 3)
  }

  test("orc compaction: stripe merge preserves rows, stats survive, idempotent") {
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

    val res = Compact.run(tableDir, hconf, retainMillis = 0L)
    assert(res.supersededEpochs === 5)
    assert(res.consolidatedFiles === 2, "one merged orc per partition dir")

    val after = log.committedFiles()
    assert(after.size === 2)
    assert(after.forall(f => f.contains("compact-") && f.endsWith(".orc")))
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(hconf)
    assert(before.forall(f => !fs.exists(new org.apache.hadoop.fs.Path(f))))
    // merged files re-derive manifest stats from their footers
    log.committedFilesWithStats().foreach { case (f, st) =>
      assert(st.isDefined, s"no stats on compacted $f")
      assert(st.get.cols("id").min.exists(_.startsWith("l")))
    }
    val out = spark.read.format("graft-streaming").options(opts(dir)).load()
    assert(out.count() === 100)
    assert(out.select("id").as[Long].collect().sorted.toSeq === (1L to 100L))
    assert(out.filter($"region" === "EU").count() === 50)
    assert(Compact.run(tableDir, hconf) === Compact.Result(0, 0, 0))
  }

  test("landing-format equality: orc agrees with parquet and jsonl on typed rows") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val dense = spark.range(0, 300).selectExpr(
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
    // every typed column is null on one row in eleven
    val df = dense.selectExpr("id" +: dense.columns.tail
      .map(c => s"if(id % 11 = 3, null, $c) as $c").toSeq: _*)
    def land(table: String, format: String,
        ids: Seq[Long] = 0L until 300L): Unit = {
      val in = MemoryStream[Long]
      val q = in.toDS().toDF("seed").join(df, $"seed" === $"id").drop("seed")
        .writeStream.format("graft-streaming")
        .option("path", dir).option("db", "fmt").option("table", table)
        .option("format", format)
        .option("checkpointLocation", s"$dir/_cp_$table")
        .start()
      in.addData(ids: _*)
      q.processAllAvailable()
      q.stop()
    }
    land("orc", "orc")
    land("pq", "parquet")
    land("js", "jsonl")
    // one orc and one jsonl epoch in one table: the scan takes the row
    // path, so the ORC rows come through ColumnarBatch.rowIterator
    land("mix", "orc", 0L until 150L)
    val mixOpts = Map("path" -> dir, "db" -> "fmt", "table" -> "mix")
    df.where("id >= 150").write.format("graft-streaming").options(mixOpts)
      .option("format", "jsonl").mode("append").save()
    val mixScan = new GraftScanBuilder(df.schema,
      GraftSinkOptions.from(new CaseInsensitiveStringMap(mixOpts.asJava)))
    assert(!mixScan.build().asInstanceOf[GraftScan].columnar,
      "an orc + jsonl table must take the row path")
    val orc = CommitLog.readCommitted(spark, s"$dir/fmt.orc")
    val pq = CommitLog.readCommitted(spark, s"$dir/fmt.pq")
    val js = CommitLog.readCommitted(spark, s"$dir/fmt.js")
    assert(orc.count() === 300)
    assert(orc.exceptAll(pq).isEmpty && pq.exceptAll(orc).isEmpty,
      "orc and parquet landings must read back identically")
    assert(orc.exceptAll(js).isEmpty && js.exceptAll(orc).isEmpty,
      "orc and jsonl landings must read back identically")
    val mix = CommitLog.readCommitted(spark, s"$dir/fmt.mix")
    assert(mix.count() === 300)
    assert(mix.exceptAll(pq).isEmpty && pq.exceptAll(mix).isEmpty,
      "the orc row path must read back what the parquet landing does")
  }

  test("orc round-trips dates and timestamps exactly outside UTC, columnar and row paths") {
    val saved = java.util.TimeZone.getDefault
    java.util.TimeZone.setDefault(
      java.util.TimeZone.getTimeZone("America/Los_Angeles"))
    try {
      val dir = tmp()
      val stamps = Seq("1500-03-01 00:00:00.123456",
        "1900-01-01 00:00:00.123456", "2020-06-15 12:34:56.654321")
      spark.sql(stamps.zipWithIndex.map { case (t, i) =>
        s"select $i as id, date'1500-03-01' as d, " +
          s"timestamp'$t' as ts, timestamp_ntz'$t' as ntz"
      }.mkString(" union all "))
        .write.format("graft-streaming").options(opts(dir))
        .mode("append").save()
      // proleptic Gregorian, UTC: what the session wrote
      val day = java.time.LocalDate.parse("1500-03-01").toEpochDay.toInt
      def micros(t: String): Long = {
        val ldt = java.time.LocalDateTime.parse(t.replace(' ', 'T'))
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000
      }
      val expected = stamps.zipWithIndex.map { case (t, i) =>
        (i, day, micros(t), micros(t)) }

      import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
      val schema = StructType(Seq(StructField("id", IntegerType),
        StructField("d", DateType), StructField("ts", TimestampType),
        StructField("ntz", TimestampNTZType)))
      val files = new CommitLog(s"$dir/testdb.t", hconf).committedFiles()
      assert(files.nonEmpty && files.forall(_.endsWith(".orc")))
      // each file's rows under `proj`, with `parts` as its partition
      // values: (columnar path, row path)
      def read(proj: StructType, parts: Map[String, String] = Map.empty) = {
        def values(r: org.apache.spark.sql.catalyst.InternalRow): Seq[Any] =
          proj.fields.indices.map { i =>
            if (r.isNullAt(i)) null
            else r.get(i, proj(i).dataType) match {
              case s: org.apache.spark.unsafe.types.UTF8String => s.toString
              case v => v
            }
          }
        val columnar = files.flatMap { f =>
          val rd = new GraftColumnarReader(
            GraftInputPartition(f, parts), proj, hconf)
          try Iterator.continually(rd.next()).takeWhile(identity)
            .flatMap(_ => rd.get().rowIterator().asScala.map(values)).toList
          finally rd.close()
        }
        val rowPath = files.flatMap { f =>
          val rd = new GraftPartitionReader(
            GraftInputPartition(f, parts), proj, hconf)
          try Iterator.continually(rd.next()).takeWhile(identity)
            .map(_ => values(rd.get())).toList
          finally rd.close()
        }
        def byId(rows: Seq[Seq[Any]]) = rows.sortBy(_.headOption match {
          case Some(id: Int) => id
          case _ => 0
        })
        (byId(columnar), byId(rowPath))
      }
      val rows = expected.map { case (i, d, ts, ntz) => Seq(i, d, ts, ntz) }
      assert(read(schema) === (rows, rows))
      // a partition column in the middle of the projection and a field
      // the file lacks
      val middle = StructType(Seq(StructField("id", IntegerType),
        StructField("p", StringType), StructField("ts", TimestampType),
        StructField("absent", StringType)))
      val withPart = expected.map { case (i, _, ts, _) => Seq(i, "EU", ts, null) }
      assert(read(middle, Map("p" -> "EU")) === (withPart, withPart))
      // no file column read: a count, and a partition-only select
      assert(read(StructType(Nil)) === (rows.map(_ => Nil), rows.map(_ => Nil)))
      val pOnly = StructType(Seq(StructField("p", StringType)))
      assert(read(pOnly, Map("p" -> "EU")) ===
        (rows.map(_ => Seq("EU")), rows.map(_ => Seq("EU"))))
    } finally java.util.TimeZone.setDefault(saved)
  }

  test("orc landing rejects a non-scalar column even when the epoch is empty") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    // every row is filtered out, so no writer ever sees a row: the
    // scalar-only contract must fail at writer construction
    val q = in.toDS().filter(_ < 0).map(i => (i, Seq(i)))
      .toDF("id", "xs")
      .writeStream.format("graft-streaming").options(opts(dir))
      .option("checkpointLocation", s"$dir/_cp").start()
    in.addData(1 to 10: _*)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("scalar columns only"))),
      s"expected the scalar-only contract, got $e")
    assert(new CommitLog(s"$dir/testdb.t", hconf).manifests().isEmpty,
      "no epoch may commit")
  }

  test("orc vectorized path: all-orc scans go columnar; nulls + partition constants exact") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val q = in.toDS()
      .map(i => (i.toLong, if (i % 3 == 0) null else s"m$i",
        if (i % 5 == 0) null else java.lang.Double.valueOf(i / 2.0),
        if (i % 2 == 0) "EU" else "US"))
      .toDF("id", "msg", "score", "region")
      .writeStream.format("graft-streaming")
      .options(opts(dir, "partition.columns" -> "region"))
      .option("checkpointLocation", s"$dir/_cp")
      .start()
    in.addData(0 until 300: _*)
    q.processAllAvailable()
    q.stop()
    val df = spark.read.format("graft-streaming")
      .option("path", dir).option("db", "testdb").option("table", "t").load()
    // the scan itself must elect the columnar path for an all-ORC table
    val builder = new GraftScanBuilder(df.schema,
      GraftSinkOptions.from(new CaseInsensitiveStringMap(opts(dir).asJava)))
    builder.pruneColumns(df.schema)
    assert(builder.build().asInstanceOf[GraftScan].columnar,
      "all-ORC scalar table must take the vectorized read path")
    // values, nulls, and partition constants decode exactly through it
    assert(df.count() === 300)
    assert(df.filter($"msg".isNull).count() === 100)
    assert(df.filter($"score".isNull).count() === 60)
    assert(df.filter($"region" === "EU").count() === 150)
    val r = df.filter($"id" === 7L).collect().head
    assert(r.getAs[String]("msg") === "m7" &&
      r.getAs[Double]("score") === 3.5 && r.getAs[String]("region") === "US")
    // aggregate over the columnar batches agrees with the row math
    assert(df.agg(org.apache.spark.sql.functions.sum($"id")).head.getLong(0)
      === (0L until 300L).sum)
  }

  test("column pruning + field-order drift: projection served by name") {
    // name-set contract: a second lineage writes (msg, id) instead of
    // (id, msg); the reader matches fields by name per file
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
    val out = CommitLog.readCommitted(spark, s"$dir/testdb.t")
    assert(out.count() === 20)
    assert(out.select("id").collect().map(_.getInt(0)).toSet
      === ((1 to 10) ++ (101 to 110)).toSet)
    // compaction groups by physical schema: two outputs
    val res = Compact.run(s"$dir/testdb.t", hconf, retainMillis = 0L)
    assert(res.consolidatedFiles === 2,
      "one merged orc per distinct physical schema")
    assert(CommitLog.readCommitted(spark, s"$dir/testdb.t").count() === 20)
  }

  test("A9 orc abort: staged orc files deleted, nothing visible") {
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

  test("mixed table: orc epochs coexist with jsonl/parquet, compact per format") {
    import spark.implicits._
    val dir = tmp()
    implicit val sqlCtx = spark.sqlContext
    val in1 = MemoryStream[Int]
    val q1 = in1.toDS().map(i => (i, s"m$i")).toDF("id", "msg")
      .writeStream.format("graft-streaming")
      .options(opts(dir))
      .option("checkpointLocation", s"$dir/_cp1").start()
    in1.addData(1 to 50: _*); q1.processAllAvailable(); q1.stop()
    (51 to 100).map(i => (i, s"m$i")).toDF("id", "msg")
      .write.format("graft-streaming")
      .options(opts(dir, "format" -> "parquet")).mode("append").save()
    (101 to 150).map(i => (i, s"m$i")).toDF("id", "msg")
      .write.format("graft-streaming")
      .options(opts(dir, "format" -> "jsonl")).mode("append").save()

    val tableDir = s"$dir/testdb.t"
    val log = new CommitLog(tableDir, hconf)
    val exts = log.committedFiles().map(f => f.substring(f.lastIndexOf('.'))).toSet
    assert(exts === Set(".orc", ".parquet", ".jsonl"))
    val out = CommitLog.readCommitted(spark, tableDir)
    assert(out.select("id").as[Long].collect().sorted.toSeq === (1L to 150L))

    val res = Compact.run(tableDir, hconf, retainMillis = 0L)
    assert(res.consolidatedFiles === 3, "one compact file per landing format")
    val out2 = CommitLog.readCommitted(spark, tableDir)
    assert(out2.select("id").as[Long].collect().sorted.toSeq === (1L to 150L))
  }
}
