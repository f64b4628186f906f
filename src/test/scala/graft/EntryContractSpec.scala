package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants over the SparkEntry registry. A typo'd
  * oracleSql key never fails loudly — the driver would just record a weaker
  * rows-only check — so the shape is pinned here instead.
  */
class EntryContractSpec extends AnyFunSuite {

  // the 7 hash-/FP-dependent queries that are rows-only BY DESIGN, each
  // covered by a named property test (SURVEY §2.C)
  private val rowsOnlyByDesign = Set(
    "q_agg_approx", "q_agg_approx_pct", "q_dedup_near", "q_dedup_simhash",
    "q_sim_ivf", "q_sim_ivf_trained", "q_sim_ivf_pq", "q_sim_ivf_pq_res",
    "q_sim_ivf_pq_stored",
    "q_fingerprint_rolling",
    "q_vocab_heavy")

  test("every oracle key names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL for unregistered queries: $orphans")
  }

  test("exactly the declared rows-only queries lack an oracle") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing === rowsOnlyByDesign,
      "every other query must carry a DuckDB oracle")
  }

  test("registry size matches the declared inventory") {
    assert(SparkEntry.queries.size === 103)
    assert(SparkEntry.oracleSql.size === 92)
  }

  test("bench re-sampling policy: healthy host-side outliers only, bounded") {
    // fires: >2x running median, >=1s, zero spill, GC under 15% of wall
    assert(Bench.shouldResample(4.3, 0.9, 0L, 100L, 0))
    // in-JVM pressure must be KEPT (code-attributable, reproducible):
    assert(!Bench.shouldResample(4.3, 0.9, 512L, 100L, 0), "spill keeps")
    assert(!Bench.shouldResample(4.3, 0.9, 0L, 800L, 0), "heavy GC keeps")
    // under the ratio, under the absolute floor, or no reference median:
    assert(!Bench.shouldResample(1.7, 0.9, 0L, 10L, 0), "<=2x keeps")
    assert(!Bench.shouldResample(0.8, 0.3, 0L, 10L, 0), "sub-second keeps")
    assert(!Bench.shouldResample(4.3, 0.0, 0L, 10L, 0), "first sample keeps")
    // retry bound: after MaxResamples discards, accept whatever comes
    assert(!Bench.shouldResample(4.3, 0.9, 0L, 100L, Bench.MaxResamples))
    // GC threshold scales with wall: 600ms GC on a 10s sample is healthy
    assert(Bench.shouldResample(10.0, 2.0, 0L, 600L, 1))
  }

  test("bench final stdout line: bare JSON carrying the driver contract") {
    // r21 verdict #1: the driver json-parses the LAST stdout line; every
    // round through r21 failed that parse. The line must be bare JSON
    // (no prefix), carry {metric,value,unit,queries,sf}, and keep the
    // summary scalars at the END so a ~2 KiB stdout-tail truncation from
    // the head never loses them.
    val board = SparkEntry.queries.keys.toSeq.sorted.map(q => q -> 1.234)
    val line = Bench.finalContractLine("/data/sf0.1", 3, "32",
      "BENCH_SELF_32cpu.json", board, "[]", 0L, 0.731, 0.162,
      ""","vs_baseline":1.0438,"baseline_queries":92""", 72.284)
    assert(line.startsWith("{") && line.endsWith("}") && !line.contains("\n"))
    val parsed = org.json4s.jackson.JsonMethods.parse(line)
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    assert((parsed \ "metric").extract[String] === "total")
    assert((parsed \ "unit").extract[String] === "sec")
    assert((parsed \ "sf").extract[String] === "/data/sf0.1")
    assert((parsed \ "value").extract[Double] === 72.284)
    assert((parsed \ "vs_baseline").extract[Double] === 1.0438)
    val qs = (parsed \ "queries").extract[Map[String, Double]]
    assert(qs.keySet === SparkEntry.queries.keySet)
    // the scalars (vs_baseline, value) sit INSIDE the last 2000 chars
    assert(line.length - line.indexOf("\"vs_baseline\"") < 2000)
    assert(line.lastIndexOf("\"value\"") > line.indexOf("\"queries\""))
  }

  test("bench SPARK_GRAFT_CONF parse: blank keys skipped, values whole, trimmed") {
    assert(Bench.confOverrides(" =v") === Nil, "a blank key is skipped")
    assert(Bench.confOverrides("novalue") === Nil, "a pair without = is skipped")
    assert(Bench.confOverrides("k=a=b") === Seq("k" -> "a=b"),
      "a value holding = is kept whole")
    assert(Bench.confOverrides(" spark.a = 1 , ,spark.b=x ") ===
      Seq("spark.a" -> "1", "spark.b" -> "x"), "keys and values are trimmed")
  }

  test("one session policy: SparkSession.builder only in MainSession and the sink examples") {
    // every measurement main starts its session through MainSession; a new
    // hand-copied builder would let one main's settings drift from the rest
    val root = java.nio.file.Paths.get("src", "main", "scala")
    assert(java.nio.file.Files.isDirectory(root), s"no ${root.toAbsolutePath}")
    val allowed = Set("graft/MainSession.scala",
      "graft/sink/RateSinkExample.scala", "graft/sink/SocketSinkExample.scala")
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(root)
    val copies = try walk.iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .contains("SparkSession.builder"))
      .map(p => root.relativize(p).toString.replace('\\', '/'))
      .toSet
    finally walk.close()
    assert(copies -- allowed === Set.empty[String],
      "start the session with MainSession.start instead")
    assert(copies === allowed, "the allowed builders moved; update this list")
  }
}
