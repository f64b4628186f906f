package graft

import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndexIO, Similarity}

/** Persisted IVF-PQ index lifecycle (r18 verdict #3): a saved index
  * reopened by a fresh reader must serve the SAME top-k as the in-session
  * search, and the stored-path plan must read only the probed lists' code
  * partitions with a vector-free schema.
  */
class AnnIndexIOSpec extends SparkSpec {

  private def fixture(byResidual: Boolean) = {
    val vecs = Tables.embeddings(spark, sf0001)
    val probe = vecs.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head.getSeq[Double](0).toSeq
    val corpus = vecs.filter(col("vec_id") =!= 0)
    val (coarse, pq) = Similarity.ivfPqTrain(corpus, byResidual = byResidual)
    (corpus, probe, coarse, pq)
  }

  private def tmpBase(tag: String): String =
    tempDir(s"graft_annio_$tag")

  for (byResidual <- Seq(false, true)) {
    val tag = if (byResidual) "residual" else "plain"
    test(s"save → reopen → search returns the in-session top-k ($tag)") {
      val (corpus, probe, coarse, pq) = fixture(byResidual)
      val encoded = Similarity.pqEncodeOn(corpus, coarse, pq)
      val inSession = Similarity.ivfPqSearch(encoded, corpus, probe,
        coarse, pq, k = 10, nprobe = 3, rerank = 64).collect()

      val base = tmpBase(tag)
      AnnIndexIO.save(base, coarse, pq, encoded)
      val stored = AnnIndexIO.searchStored(spark, base, corpus, probe,
        k = 10, nprobe = 3, rerank = 64).collect()

      assert(stored.length == 10)
      assert(stored.toSeq == inSession.toSeq,
        "stored-index search must be row-identical to the in-session search")
    }
  }

  test("reopened model round-trips bit-for-bit (pairing guard satisfied)") {
    val (corpus, _, coarse, pq) = fixture(byResidual = true)
    val base = tmpBase("model")
    AnnIndexIO.save(base, coarse, pq, Similarity.pqEncodeOn(corpus, coarse, pq))
    val (coarse2, pq2, codes) = AnnIndexIO.load(spark, base)
    assert(pq2.m == pq.m && pq2.ksub == pq.ksub)
    assert(java.util.Arrays.equals(pq2.codebook, pq.codebook))
    assert(pq2.residual && java.util.Arrays.equals(
      pq2.residualCoarse.get, pq.residualCoarse.get))
    // coarse centroids round-trip exactly (doubles are exact in parquet)
    val a = coarse.orderBy("c_id").collect().map(_.getSeq[Double](1))
    val b = coarse2.orderBy("c_id").collect().map(_.getSeq[Double](1))
    assert(a.toSeq == b.toSeq)
    assert(codes.columns.toSet ==
      Set("vec_id", "label", "nrm", "codes", "list_id"))
  }

  test("stored search prunes codes partitions and reads no vector bytes") {
    val (corpus, probe, coarse, pq) = fixture(byResidual = true)
    val base = tmpBase("plan")
    AnnIndexIO.save(base, coarse, pq, Similarity.pqEncodeOn(corpus, coarse, pq))
    val df = AnnIndexIO.searchStored(spark, base, corpus, probe,
      k = 10, nprobe = 3, rerank = 64)
    val plan = df.queryExecution.explainString(FormattedMode)
    // locate the codes-table scan node: its Location carries the base path
    val blocks = plan.split("\n\n")
    val codesBlock = blocks.find(b => b.contains("graft_annio_plan") &&
        b.contains(AnnIndexIO.CodesDir))
      .getOrElse(fail(s"no codes-table scan in plan:\n$plan"))
    val read = codesBlock.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema in codes scan:\n$codesBlock"))
    assert(!read.contains("embedding") && !read.contains("cv"),
      s"codes scan must be vector-free, got:\n$read")
    val pf = codesBlock.linesIterator.find(_.contains("PartitionFilters"))
      .getOrElse(fail(s"no PartitionFilters in codes scan:\n$codesBlock"))
    assert(pf.contains("list_id"),
      s"probed-list filter must prune codes partitions, got:\n$pf")
    // the list filter must NOT survive as a post-scan data filter instead
    assert(df.collect().length == 10)
  }

  test("append encodes against the stored model: half+append == full save") {
    val (corpus, probe, coarse, pq) = fixture(byResidual = true)
    // split the corpus; save an index over the first half, append the rest
    val first = corpus.filter(col("vec_id") % 2 === 0)
    val rest = corpus.filter(col("vec_id") % 2 =!= 0)
    val incBase = tmpBase("inc")
    AnnIndexIO.save(incBase, coarse, pq,
      Similarity.pqEncodeOn(first, coarse, pq))
    AnnIndexIO.append(incBase, rest)
    // reference: one save over the full corpus with the SAME model
    val fullBase = tmpBase("full")
    AnnIndexIO.save(fullBase, coarse, pq,
      Similarity.pqEncodeOn(corpus, coarse, pq))
    val inc = AnnIndexIO.searchStored(spark, incBase, corpus, probe,
      k = 10, nprobe = 3, rerank = 64).collect()
    val full = AnnIndexIO.searchStored(spark, fullBase, corpus, probe,
      k = 10, nprobe = 3, rerank = 64).collect()
    assert(inc.toSeq == full.toSeq,
      "appending the second half must answer like a full one-shot save")
    // and the incremental table really holds the whole corpus's codes
    val (_, _, codes) = AnnIndexIO.load(spark, incBase)
    assert(codes.count() ==
      Similarity.pqEncodeOn(corpus, coarse, pq).count())
  }

  test("append drift detection: in-distribution batch is NOT flagged") {
    val (corpus, _, coarse, pq) = fixture(byResidual = true)
    val first = corpus.filter(col("vec_id") % 2 === 0)
    val rest = corpus.filter(col("vec_id") % 2 =!= 0)
    val base = tmpBase("drift_ok")
    AnnIndexIO.save(base, coarse, pq,
      Similarity.pqEncodeOn(first, coarse, pq), fitSource = Some(first))
    val report = AnnIndexIO.append(base, rest)
    assert(report.batchRows > 0 && report.trainMeanDist.isDefined)
    assert(report.ratio.isDefined && !report.drifted,
      s"an in-distribution append must not flag drift, got $report")
    assert(report.ratio.get < AnnIndexIO.DriftRatioThreshold)
  }

  test("append drift detection: distribution-shifted batch IS flagged, " +
      "and its recall really is degraded") {
    val (corpus, _, coarse, pq) = fixture(byResidual = true)
    val base = tmpBase("drift_bad")
    AnnIndexIO.save(base, coarse, pq,
      Similarity.pqEncodeOn(corpus, coarse, pq), fitSource = Some(corpus))
    // the shifted regime: vectors dominated by a direction the quantizers
    // never saw (fixture embeddings are unit-norm, ~zero-mean — the
    // all-ones direction is near-orthogonal to every trained centroid)
    val shifted = corpus
      .withColumn("embedding",
        expr("transform(embedding, x -> CAST(0.05 * x + 1.0 AS FLOAT))"))
      .withColumn("vec_id", col("vec_id") + lit(1000000))
    val report = AnnIndexIO.append(base, shifted)
    assert(report.drifted && report.ratio.exists(_ > AnnIndexIO.DriftRatioThreshold),
      s"a shifted append must flag drift, got $report")
    // the flag corresponds to REAL degradation: serve a shifted probe and
    // compare the ANN answer to brute-force cosine over the shifted rows —
    // with the frozen quantizers the stored search must do strictly worse
    // on the shifted region than on the training region (where the
    // round-trip spec already pins in-session-identical answers)
    val probeShifted = shifted.filter(col("vec_id") === 1000002)
      .select(col("embedding").cast("array<double>"))
      .head.getSeq[Double](0).toSeq
    val all = corpus.select("vec_id", "label", "embedding")
      .union(shifted.select("vec_id", "label", "embedding"))
    val got = AnnIndexIO.searchStored(spark, base, all, probeShifted,
      k = 10, nprobe = 3, rerank = 64)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val exact = Similarity.cosineTopKOn(all, 10, probeShifted)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    val recall = (got & exact).size / 10.0
    assert(recall < 1.0,
      s"shifted-region recall should be degraded under the frozen model " +
        s"(got $recall); if this ever reads 1.0 the fixture stopped " +
        "exercising the drift regime and the test needs a harder shift")
  }

  test("format-version guard fails loudly on a foreign layout") {
    val s = spark
    import s.implicits._
    val base = tmpBase("badver")
    Seq((99, 8, 32, Seq(0.0), Option.empty[Seq[Double]]))
      .toDF("version", "m", "ksub", "codebook", "residual_coarse")
      .write.parquet(s"$base/${AnnIndexIO.ModelDir}")
    val e = intercept[IllegalArgumentException] {
      AnnIndexIO.load(spark, base)
    }
    assert(e.getMessage.contains("format version"))
  }
}
