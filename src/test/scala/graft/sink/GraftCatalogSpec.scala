package graft.sink

import org.apache.spark.sql.functions._
import org.apache.spark.sql.connector.catalog.Identifier

import graft.SparkSpec

/** [[GraftCatalog]]: graft tables as first-class catalog citizens — DDL,
  * DML, catalog-qualified SQL, streaming toTable, and interop with the
  * `format("graft-streaming")` path API on the SAME table directories.
  */
class GraftCatalogSpec extends SparkSpec {

  private lazy val warehouse = {
    val dir = tempDir("graft-warehouse")
    spark.conf.set("spark.sql.catalog.gtest", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gtest.path", dir)
    dir
  }

  test("CREATE TABLE / INSERT INTO / SELECT round-trip through the catalog") {
    warehouse
    spark.sql("CREATE TABLE gtest.db1.users (id BIGINT, msg STRING)")
    // created-but-empty table is SELECTable as zero rows (metastore
    // behavior), not an error
    assert(spark.sql("SELECT * FROM gtest.db1.users").count() === 0)
    spark.sql("INSERT INTO gtest.db1.users VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val rows = spark.sql("SELECT id, msg FROM gtest.db1.users ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq === Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // the identity mapping: the rows live in the path-API layout
    assert(new java.io.File(s"$warehouse/db1.users/_schema.json").exists)
  }

  test("partitioned create routes rows into partition directories and prunes") {
    warehouse
    spark.sql("""CREATE TABLE gtest.db1.events (id BIGINT, region STRING)
      PARTITIONED BY (region)""")
    spark.sql(
      "INSERT INTO gtest.db1.events VALUES (1,'eu'), (2,'us'), (3,'eu')")
    assert(new java.io.File(s"$warehouse/db1.events/region=eu").isDirectory,
      "identity partitioning must map to partition-value directories")
    val eu = spark.sql(
      "SELECT id FROM gtest.db1.events WHERE region = 'eu' ORDER BY id")
    assert(eu.collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    // a second INSERT must INHERIT the recorded layout (no re-declaration)
    spark.sql("INSERT INTO gtest.db1.events VALUES (4,'ap')")
    assert(new java.io.File(s"$warehouse/db1.events/region=ap").isDirectory)
  }

  test("CTAS and writeTo(...).append work against the catalog") {
    warehouse
    spark.sql("""CREATE TABLE gtest.db1.lifted AS
      SELECT id, CONCAT('m', CAST(id AS STRING)) AS msg FROM RANGE(5)""")
    assert(spark.table("gtest.db1.lifted").count() === 5)
    import spark.implicits._
    Seq((100L, "x")).toDF("id", "msg").writeTo("gtest.db1.lifted").append()
    assert(spark.table("gtest.db1.lifted").count() === 6)
  }

  test("streaming writeStream.toTable lands exactly-once epochs") {
    warehouse
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.sql("CREATE TABLE gtest.db1.stream_t (id BIGINT, msg STRING)")
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    val cp = tempDir("graft-cat-cp")
    val q = in.toDS().map(i => (i, s"m$i")).toDF("id", "msg")
      .writeStream.option("checkpointLocation", cp)
      .toTable("gtest.db1.stream_t")
    in.addData(1L to 50L: _*)
    q.processAllAvailable()
    in.addData(51L to 80L: _*)
    q.processAllAvailable()
    q.stop()
    val n = spark.table("gtest.db1.stream_t").count()
    val d = spark.table("gtest.db1.stream_t").select("id").distinct().count()
    assert(n === 80 && d === 80, "streaming epochs must land exactly-once")
  }

  test("SHOW TABLES, tableExists, DROP TABLE, RENAME") {
    warehouse
    spark.sql("CREATE TABLE gtest.db2.a (id BIGINT)")
    spark.sql("CREATE TABLE gtest.db2.b (id BIGINT)")
    val listed = spark.sql("SHOW TABLES IN gtest.db2")
      .select("tableName").collect().map(_.getString(0)).toSet
    assert(listed === Set("a", "b"))
    spark.sql("ALTER TABLE gtest.db2.a RENAME TO gtest.db2.a2")
    assert(spark.sql("SHOW TABLES IN gtest.db2").count() === 2)
    spark.sql("INSERT INTO gtest.db2.a2 VALUES (7)")
    assert(spark.table("gtest.db2.a2").head.getLong(0) === 7,
      "rename must carry committed data (manifest paths are table-relative)")
    spark.sql("DROP TABLE gtest.db2.b")
    assert(spark.sql("SHOW TABLES IN gtest.db2").count() === 1)
    intercept[Exception] { spark.table("gtest.db2.b").collect() }
  }

  test("creation-time format property persists: ORC table stays ORC") {
    warehouse
    spark.sql(
      "CREATE TABLE gtest.db1.orc_t (id BIGINT, msg STRING) TBLPROPERTIES ('format'='orc')")
    spark.sql("INSERT INTO gtest.db1.orc_t VALUES (1, 'a')")
    val dataFiles = new java.io.File(s"$warehouse/db1.orc_t").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    assert(dataFiles.nonEmpty && dataFiles.forall(_.getName.endsWith(".orc")),
      s"format=orc must persist to later inserts; got ${dataFiles.map(_.getName).toSeq}")
    assert(spark.table("gtest.db1.orc_t").count() === 1)
  }

  test("schema contract: name-set mismatch on INSERT fails; evolution rejected") {
    warehouse
    spark.sql("CREATE TABLE gtest.db1.strict (id BIGINT, msg STRING)")
    // a write with an extra column must fail against the catalog schema
    // (Spark null-fills MISSING columns on INSERT INTO t (cols), so the
    // extra-column direction is the deterministic mismatch)
    import spark.implicits._
    val e = intercept[Exception] {
      Seq((1L, "a", 9)).toDF("id", "msg", "extra")
        .writeTo("gtest.db1.strict").append()
    }
    assert(e != null)
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE gtest.db1.strict ADD COLUMN extra INT")
    }
    assert(e2.getMessage.contains("schema evolution") ||
      Option(e2.getCause).exists(_.getMessage.contains("schema evolution")))
    // property changes ARE allowed and persist
    spark.sql("ALTER TABLE gtest.db1.strict SET TBLPROPERTIES ('batch.size'='5000')")
    val cat = spark.sessionState.catalogManager.catalog("gtest")
      .asInstanceOf[GraftCatalog]
    val t = cat.loadTable(Identifier.of(Array("db1"), "strict"))
    assert(t.properties().get("batch.size") === "5000")
  }

  test("interop: a path-API table is readable and writable through the catalog") {
    warehouse
    import spark.implicits._
    // write via format("graft-streaming") directly into the warehouse
    Seq((1L, "a"), (2L, "b")).toDF("id", "msg")
      .write.format("graft-streaming")
      .option("path", warehouse).option("db", "db3").option("table", "legacy")
      .mode("append").save()
    // same directory resolves as a catalog table with the recorded schema
    assert(spark.table("gtest.db3.legacy").count() === 2)
    spark.sql("INSERT INTO gtest.db3.legacy VALUES (3, 'c')")
    // and the path API reads the catalog's insert back
    val viaPath = spark.read.format("graft-streaming")
      .option("path", warehouse).option("db", "db3").option("table", "legacy")
      .load()
    assert(viaPath.count() === 3)
  }

  test("compaction interop: a compacted catalog table reads identically " +
      "through catalog SQL, and partitioning() survives rename") {
    warehouse
    spark.sql("""CREATE TABLE gtest.db4.ct (id BIGINT, region STRING)
      PARTITIONED BY (region)""")
    // several small inserts -> several epochs worth of files
    for (i <- 0 until 4) {
      spark.sql(s"INSERT INTO gtest.db4.ct VALUES ($i, 'eu'), (${i + 10}, 'us')")
    }
    val before = spark.sql("SELECT id FROM gtest.db4.ct ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(before.size === 8)
    Compact.run(s"$warehouse/db4.ct", spark.sparkContext.hadoopConfiguration)
    val after = spark.sql("SELECT id FROM gtest.db4.ct ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(after === before,
      "compaction must be invisible to catalog readers")
    // partition pruning still works post-compaction through the catalog
    assert(spark.sql("SELECT id FROM gtest.db4.ct WHERE region='eu'")
      .count() === 4)
    // rename carries the recorded partitioning, surfaced as identity
    // transforms on the loaded table
    spark.sql("ALTER TABLE gtest.db4.ct RENAME TO gtest.db4.ct2")
    val cat = spark.sessionState.catalogManager.catalog("gtest")
      .asInstanceOf[GraftCatalog]
    val t = cat.loadTable(Identifier.of(Array("db4"), "ct2"))
    assert(t.partitioning().map(_.toString).toSeq === Seq("identity(region)"),
      s"partitioning must survive rename, got ${t.partitioning().toSeq}")
    assert(spark.sql("SELECT id FROM gtest.db4.ct2 WHERE region='us'")
      .count() === 4)
  }

  test("namespaces: create, list, drop with cascade semantics") {
    warehouse
    spark.sql("CREATE NAMESPACE gtest.fresh")
    val ns = spark.sql("SHOW NAMESPACES IN gtest").collect()
      .map(_.getString(0)).toSet
    assert(ns.contains("fresh"))
    spark.sql("CREATE TABLE gtest.fresh.t1 (id BIGINT)")
    val e = intercept[Exception] { spark.sql("DROP NAMESPACE gtest.fresh") }
    assert(e.getMessage.toLowerCase.contains("cascade") ||
      Option(e.getCause).exists(_.getMessage.toLowerCase.contains("cascade")))
    spark.sql("DROP NAMESPACE gtest.fresh CASCADE")
    assert(!spark.sql("SHOW NAMESPACES IN gtest").collect()
      .map(_.getString(0)).contains("fresh"))
  }
}
