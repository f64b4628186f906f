package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-step evidence for the r21/r22-touched operators (r21 verdict #5):
  * the fixture SFs top out at sf0.1, where most walls sit at the
  * jobs×scheduling floor, so the rounds' corpus-pass claims ("removes a
  * 4-5× scan multiplier", "removes the co-count fan-out", "removes per-row
  * boxing") are argued at 100 TB but measured where they barely move the
  * wall. This main synthesizes DETERMINISTIC inputs at 10× the sf0.1 row
  * counts (docs 50k vs 5k, vectors 20k vs 2k, quantile rows 6M vs 600k —
  * in-Spark expression generators, seeded, same shapes as the fixture and
  * PqBench's vector generator) and times the touched operator
  * CORES against untouched controls, at whatever core count
  * $SPARK_GRAFT_CPUS sets — run it at 32 and 8 and commit both lines.
  *
  * Everything is computed from the synthesized frames at run time through
  * the noop sink, median of 3 (the bench methodology); nothing is read
  * from or keyed on /root/testdata, and nothing persists across runs.
  *
  * Prints ONE JSON line {cpus, rows, queries:{name: sec}, floor_sec}.
  */
object ScaleStepBench {
  def main(args: Array[String]): Unit = {
    val cpus = MainSession.cpus(32)
    val mult = sys.env.getOrElse("SPARK_GRAFT_SCALESTEP_MULT", "10").toInt
    val spark = MainSession.start(cpus)

    val nDocs = 5000L * mult
    val nVecs = 2000L * mult
    val nRows = 600000L * mult

    // ~25-token docs with a fixed near-dup structure (every i≡4 mod 10 is
    // a one-token mutation of i-4) so dedup paths do real work; token
    // modulus large enough that accidental exact dups don't occur. (The
    // streaming dedup path is measured by perfbench's dedup_stream, whose
    // bandindex.* metrics report the index's files, bytes and probe cost.)
    val seedCol = when(pmod(col("id"), lit(10)) === 4, col("id") - 4)
      .otherwise(col("id"))
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"), seedCol.as("seed"))
      .select(col("doc_id"),
        concat_ws(" ", transform(sequence(lit(0), lit(24)), t =>
          when(col("seed") =!= col("doc_id") && t === 12,
            concat(lit("mut"), col("doc_id")))
            .otherwise(concat(lit("w"),
              pmod(col("seed") * 31 + t * 7, lit(1000003L)), lit("-"), t))))
          .as("text"))
      .withColumn("lang",
        element_at(array(lit("en"), lit("de"), lit("fr")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")))
      .withColumn("n_chars", length(col("text")))

    // PqBench's deterministic vector generator (fract(sin)) at 10×
    val vecs = spark.range(nVecs).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), j => {
        val h = sin(col("id") * 12.9898 + j * 78.233) * 43758.5453
        ((h - floor(h)) * 2.0 - 1.0).cast("float")
      }).as("embedding"),
      pmod(col("id"), lit(10)).cast("int").as("label"))

    // lineitem-shaped (g, v) rows for the quantile family
    val gv = spark.range(nRows).select(
      element_at(array(lit("A"), lit("N"), lit("R")),
        (pmod(col("id"), lit(3)) + 1).cast("int")).as("g"),
      {
        val h = sin(col("id") * 12.9898 + 1.0) * 43758.5453
        ((h - floor(h)) * 90000.0 + 900.0).as("v")
      })

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def reclaim(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc(); Thread.sleep(300)
    }
    def med3(label: String)(body: => Unit): (String, Double) = {
      body // untimed warm (codegen compile)
      val ss = (1 to 3).map { _ =>
        reclaim()
        val t0 = System.nanoTime(); body
        (System.nanoTime() - t0) / 1e9
      }
      (label, ss.sorted.apply(1))
    }

    val floorSec = {
      spark.range(100).write.format("noop").mode("overwrite").save() // warm
      val t0 = System.nanoTime()
      spark.range(100).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val Dedup = graft.operators.Dedup
    val Sim = graft.operators.Similarity
    val SND = graft.streaming.StreamingNearDedup

    // r21 persist win: the against-index batch dedup core. Corpus = 90%
    // of docs recorded once (untimed setup); the timed body probes the
    // remaining 10% batch (the incremental-refresh shape).
    val corpusDocs = docs.filter(pmod(col("doc_id"), lit(10)) =!= 9)
      .select(col("doc_id"), col("text"))
    val batchDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 9)
      .select(col("doc_id"), col("text"))
    val idxDir = TempDirs.scratch("graft_scalestep_idx") + "/corpus.docs"
    SND.recordBatch(corpusDocs, idxDir, SND.BandingNgram, epochId = 0L)

    val results = Seq(
      med3("dedup_incremental_core") {
        val (kept, release) = SND.dedupBatchAgainstIndexManaged(
          batchDocs, idxDir, SND.BandingNgram, epochId = 1L)
        noop(kept); release()
      },
      // r21 classify rewrite: |ps| = 7 (the q_agg_hist_eq shape) over 6M rows
      med3("quantile_classify") {
        noop(graft.operators.Quantiles.exactPercentilesOn(
          gv, "g", "v", (1 until 8).map(_ / 8.0)))
      },
      // r22 co-count removal
      med3("ngram_jaccard") { noop(Dedup.ngramJaccardOn(
        docs.select(col("doc_id"), col("lang"), col("n_chars"), col("text")))) },
      // r22 CoarseArgmax: the residual encode pass (the production
      // corpus-scale half of IVF-PQ)
      {
        val (coarse, pq) = Sim.ivfPqTrain(
          vecs.filter(col("vec_id") =!= 0), byResidual = true)
        med3("pq_encode_residual") {
          noop(Sim.pqEncodeOn(vecs.filter(col("vec_id") =!= 0), coarse, pq))
        }
      },
      // untouched controls at the same scale/window
      med3("control_agg_hash") {
        noop(gv.groupBy("g").agg(count(lit(1)), sum("v"), avg("v")))
      },
      med3("control_scan_filter") {
        noop(docs.filter(col("n_chars") > 100)
          .select(col("doc_id"), col("lang")))
      })

    val qs = results.map { case (k, v) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}")
    println(f"""{"metric":"scalestep","cpus":"$cpus","mult":$mult,"n_docs":$nDocs,"n_vecs":$nVecs,"n_rows":$nRows,"floor_sec":$floorSec%.3f,"queries":$qs}""")
    spark.stop()
  }
}
