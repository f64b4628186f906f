package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Types the driver's sort-and-hash comparator can handle: scalar cells
    * only. Arrays/maps/structs must be serialized to a canonical scalar
    * (e.g. comma-joined string) in BOTH the query and its oracle.
    */
  def comparatorSafe(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.ArrayType => false
      case _: org.apache.spark.sql.types.MapType => false
      case _: org.apache.spark.sql.types.StructType => false
      case _ => true
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = args match {
      case Array(s, o) => (s, o)
      case Array() => (sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"),
                       sys.env.getOrElse("SPARK_GRAFT_OUT_DIR", "/tmp/verify_out"))
      case other => sys.error(
        s"usage: graft.Verify [<sfDir> <outDir>] — got ${other.length} args")
    }
    val spark = MainSession.start(MainSession.cpus(4))
    new java.io.File(outDir).mkdirs()
    // optional comma-separated filter for focused local iteration. The
    // env var is VERIFY-specific (r17 advice): sharing Bench's
    // SPARK_GRAFT_ONLY meant a leftover var from a bench shell could
    // silently narrow the round-close correctness gate while gate3sf.sh
    // still printed a pass. The summary line below makes any narrowing
    // visible either way.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(f) => SparkEntry.queries.filter { case (n, _) => f(n) }
      case None => SparkEntry.queries
    }
    var dumped = 0
    selected.foreach { case (name, fn) =>
      // coalesce(1), not repartition(1): the driver compares rows in FILE
      // ORDER against the oracle's ORDER BY, and repartition is a
      // round-robin shuffle whose output order Spark does not guarantee
      // (it held locally only because a single reducer fetches map blocks
      // in map-id order — on a cluster the fetch order is randomized).
      // coalesce(1) reads parent partitions in partition-index order, so
      // the trailing orderBy's range-partitioned sort survives verbatim.
      // Every query ends in orderBy (an exchange), so coalesce single-tasks
      // only the final small sort, not the whole query.
      try {
        val df = fn(spark, sfDir)
        // the driver's comparator sorts + hashes SCALAR cells only — an
        // array/map/struct output column crashes its pandas sort_values
        // (the r16 q_embed_codes red row). Fail the query loudly here so
        // a complex-typed oracled result can never reach the comparator;
        // PlanGuardSpec enforces the same contract at build time.
        if (SparkEntry.oracleSql.contains(name)) {
          val complex = df.schema.fields.collect {
            case f if !Verify.comparatorSafe(f.dataType) =>
              s"${f.name}: ${f.dataType.simpleString}"
          }
          if (complex.nonEmpty)
            throw new ComparatorViolation(s"oracled query $name emits " +
              s"non-scalar column(s) the driver comparator cannot " +
              s"sort/hash: " + complex.mkString(", "))
        }
        df.coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name.parquet")
        dumped += 1
      } catch {
        // a comparator-unsafe oracled column is a shipped builder bug, not
        // a data condition — fail the whole dump loudly (r17 advice: the
        // catch-all below would otherwise soften it to a dropped query
        // that compare.py then counts as '0 bad' over a shrunken set)
        case e: ComparatorViolation => throw e
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // drop any intermediates a query persisted before running the next
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The driver keys its oracle lookup by result filename ("q_x.parquet");
    // CORRECTNESS_r02 proved a bare "q_x" key never matches. Emit BOTH key
    // forms per query so either lookup convention resolves.
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // self-reporting summary (r17 advice): gate3sf.sh asserts this line's
    // counts so a narrowed or partially-failed dump can never read as a
    // clean gate. Printed to stdout ON PURPOSE — it is part of the
    // verification record, not a diagnostic.
    println(s"[verify] dumped $dumped/${selected.size} query results " +
      s"(registry ${SparkEntry.queries.size}, " +
      s"${SparkEntry.oracleSql.size} oracle entries)")
    spark.stop()
    if (dumped != selected.size) sys.exit(2)
  }
}

/** A shipped comparator-contract bug (oracled query with a complex-typed
  * output column) — distinct from runtime Throwables so [[Verify]]'s
  * per-query catch-all can rethrow it and fail the dump loudly. */
private[graft] final class ComparatorViolation(msg: String)
  extends RuntimeException(msg)
