package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}

/** Property checks for the hash-dependent operators that have no SQL oracle
  * (rows-only in the driver's correctness gate) — the verification the code
  * comments promise.
  */
class OperatorPropertiesSpec extends SparkSpec {

  /** Exact word-3-gram Jaccard over ALL pairs of a small corpus (driver-side
    * brute force — test-only; the operators themselves never do this).
    */
  private lazy val exactJaccard: Map[(Long, Long), Double] = {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
      .filter(_._2.length >= 3)
      .map { case (id, tk) =>
        id -> tk.sliding(3).map(_.mkString(" ")).toSet
      }
    (for {
      (a, sa) <- docs
      (b, sb) <- docs if a < b
      inter = (sa & sb).size
      if inter > 0
    } yield (a, b) -> inter.toDouble / (sa.size + sb.size - inter)).toMap
  }

  test("wide-band sign-LSH: 8x8 is the declared fixture banding; wide keys verify exactly") {
    import graft.operators.{Dedup, Hyperplanes}
    import org.apache.spark.sql.functions.{col, posexplode}
    val vecs = Tables.embeddings(spark, sf0001).select(col("vec_id"), col("embedding"))
    val e = vecs.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    // bandKeysWide(8, 8) must be bit-identical to the fixture bandKeys —
    // the oracle SQL embeds exactly this banding
    val a = e.select(col("vec_id"), Hyperplanes.bandKeys(col("v")).as("k"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val b = e.select(col("vec_id"),
        Hyperplanes.bandKeysWide(col("v"), 8, 8).as("k"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(a === b, "8x8 wide banding must equal the declared fixture banding")
    // a wider banding changes CANDIDATE generation only: every emitted pair
    // still carries its exact verified cosine >= threshold (no false
    // positives at any width)
    val exactPairs = {
      val en = e.select(col("vec_id"), col("v"))
      val brute = en.select(col("vec_id").as("a_id"), col("v").as("va"))
        .crossJoin(en.select(col("vec_id").as("b_id"), col("v").as("vb")))
        .filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          (Hyperplanes.dot64(col("va"), col("vb")) /
            (org.apache.spark.sql.functions.sqrt(Hyperplanes.dot64(col("va"), col("va"))) *
             org.apache.spark.sql.functions.sqrt(Hyperplanes.dot64(col("vb"), col("vb"))))).as("c"))
        .filter(col("c") >= 0.3)
      brute.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val wide = Dedup.embedCosineOn(vecs, threshold = 0.3,
        numBands = 12, bitsPerBand = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide.subsetOf(exactPairs),
      s"wide-band candidates must verify exactly; extras=${wide -- exactPairs}")
    // banding bounds are validated
    intercept[IllegalArgumentException] {
      Hyperplanes.bandKeysWide(col("v"), 8, 33) }
    intercept[IllegalArgumentException] {
      Hyperplanes.bandKeysWide(col("v"), 17, 16) } // 272 > 256 planes
  }

  test("gram fingerprints: ngram jaccard values equal the string-gram brute force") {
    // the n-gram family shuffles 64-bit xxhash64 gram fingerprints, never
    // gram text (Dedup.gramFingerprints); set sizes and intersections are
    // preserved unless two distinct grams collide in 64 bits. This pins
    // the reported jaccard of every surfaced pair to the DRIVER-side
    // string-gram brute force — a collision anywhere in the fixture would
    // shift a value and fail loudly (the DuckDB oracle asserts the same
    // from the SQL side at sf0.01).
    import graft.operators.Dedup
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
    val got = Dedup.ngramJaccardOn(docs, threshold = 0.2).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3)))
    assert(got.nonEmpty, "expected near-dup pairs at sf0.001")
    got.foreach { case ((a, b), j) =>
      val exact = exactJaccard.getOrElse((a, b), 0.0)
      assert(math.abs(exact - j) <= 5e-5, // jaccard column is Norm.r4'd
        s"pair ($a,$b): fingerprint jaccard $j vs string-gram $exact")
    }
  }

  test("ngram verification counts hot grams: inter = m + shared-hot remainder") {
    // r22 internals change: verification derives `inter` from the
    // candidate pair's bucket multiplicity (shared grams with block-df in
    // [2, hotCap]) plus an array_intersect over per-doc HOT-gram arrays
    // (block-df > hotCap). This corpus forces the hot path: two docs that
    // share a boilerplate gram present in EVERY doc (df > hotCap) plus
    // enough rare shared grams to be candidates — inter must still count
    // the full gram sets, exactly like the old co-count formulation.
    import graft.operators.Dedup
    import spark.implicits._
    val boiler = "the same header always"  // 4 tokens → 2 shared 3-grams
    val hotCap = 3
    // doc 0/1: near-dups sharing rare grams AND the boilerplate; docs
    // 2..9 carry ONLY the boilerplate (push its df over hotCap = 3)
    val docs = (Seq(
      (0L, s"$boiler alpha beta gamma delta epsilon zeta"),
      (1L, s"$boiler alpha beta gamma delta epsilon eta")) ++
      (2L to 9L).map(i => (i, s"$boiler filler$i"))).toDF("doc_id", "text")
      .select(col("doc_id"), lit("en").as("lang"),
        length(col("text")).as("n_chars"), col("text"))
    val got = Dedup.ngramJaccardOn(docs, threshold = 0.2, hotCap = hotCap)
      .collect().map(r =>
        ((r.getLong(0), r.getLong(1)), (r.getInt(2), r.getDouble(3)))).toMap
    // string-gram brute force for the (0,1) pair
    def grams(t: String): Set[String] =
      t.split(" ").sliding(3).map(_.mkString(" ")).toSet
    val (g0, g1) = (grams(docs.where("doc_id=0").head.getString(3)),
      grams(docs.where("doc_id=1").head.getString(3)))
    val inter = (g0 & g1).size
    val expectJ = inter.toDouble / (g0.size + g1.size - inter)
    assert(got.contains((0L, 1L)), s"expected pair (0,1); got ${got.keySet}")
    assert(got((0L, 1L))._1 === inter,
      "inter must count hot grams excluded from candidate generation")
    assert(math.abs(got((0L, 1L))._2 - expectJ) <= 5e-5)
    // the boilerplate-only docs must NOT pair up (their only shared grams
    // are hot, so they never become candidates — the declared cap rule)
    assert(got.keySet.forall { case (a, b) => a == 0L && b == 1L },
      s"hot-only overlaps must not generate pairs: ${got.keySet}")
  }

  test("CoarseArgmax/CoarseResidSq are bit-identical to the literal-sims trees they replaced") {
    // r22 internals change: the coarse assignment / fit statistic are one
    // codegen loop over referenced arrays instead of array_position over
    // cells × vec_dot(v, <literal array>) expression trees (the measured
    // per-row boxing pathology — OPTIMIZATION_r22.md). This pins the new
    // expressions to the EXACT replaced formulations, including the
    // first-max tiebreak and the residual 0-clamp, on the real fixture
    // corpus against a deliberately awkward codebook (duplicated
    // centroid → tie; near-orthogonal cells).
    import org.apache.spark.sql.GraftSqlBridge.{column => gcol, expression => gexp}
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"),
        graft.operators.Hyperplanes.vecClean(
          col("embedding").cast("array<double>")).as("v"))
      .withColumn("nrm", gcol(graft.functions.DotProduct(
        gexp(col("v")), gexp(col("v")))))
      .filter(col("nrm") > 0)
    val dim = 64
    // 4 cells; cells 0 and 1 IDENTICAL to force the lowest-index tiebreak
    val cents: Seq[Seq[Double]] = Seq(
      (0 until dim).map(i => math.sin(i * 0.7) * 0.3),
      (0 until dim).map(i => math.sin(i * 0.7) * 0.3),
      (0 until dim).map(i => if (i % 2 == 0) 0.5 else -0.25),
      (0 until dim).map(i => math.cos(i * 1.3)))
    val norms = cents.map(c => c.map(x => x * x).sum)
    def litVec(p: Seq[Double]) = array(p.map(lit): _*)
    val csims = cents.zip(norms).map { case (cv, cn) =>
      gcol(graft.functions.DotProduct(gexp(col("v")), gexp(litVec(cv)))) /
        (sqrt(col("nrm")) * lit(math.sqrt(cn)))
    }
    val sims = array(csims: _*)
    val dots = array(cents.map(cv => gcol(graft.functions.DotProduct(
      gexp(col("v")), gexp(litVec(cv))))): _*)
    val cnsArr = array(norms.map(lit): _*)
    val oldStyle = e
      .withColumn("cidx_old",
        (array_position(sims, array_max(sims)) - 1).cast("int"))
      .withColumn("dots", dots)
      .withColumn("residsq_old",
        greatest(col("nrm") - lit(2.0) *
          element_at(col("dots"), col("cidx_old") + 1)
          + element_at(cnsArr, col("cidx_old") + 1), lit(0.0)))
    val flat = cents.flatten
    val both = oldStyle
      .withColumn("cidx_new", gcol(graft.functions.CoarseArgmax(
        gexp(col("v")), gexp(col("nrm")), flat, norms.map(math.sqrt))))
      .withColumn("residsq_new", gcol(graft.functions.CoarseResidSq(
        gexp(col("v")), gexp(col("nrm")), flat, norms)))
      .select("vec_id", "cidx_old", "cidx_new", "residsq_old", "residsq_new")
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getInt(1) === r.getInt(2), s"cidx mismatch at vec ${r.getLong(0)}")
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(3)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(4)),
        s"residsq not bit-identical at vec ${r.getLong(0)}: " +
          s"${r.getDouble(3)} vs ${r.getDouble(4)}")
    }
    // the duplicated-centroid tie really exercised the first-max rule
    assert(both.exists(_.getInt(2) == 0) || both.forall(_.getInt(2) != 1),
      "tie cells 0/1: index 1 must never win over identical index 0")
  }

  test("CoarseArgmax/CoarseResidSq throw on a NaN similarity, naming the cell, " +
      "interpreted and generated") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // cell 1 is the zero vector: its similarity is 0 / 0, which a strict
    // `>` would skip, assigning the row to cell 0 without a word
    val cents = Seq(1.0, 0.0, 0.0, 0.0)
    val v = BoundReference(0, ArrayType(DoubleType, containsNull = false), nullable = false)
    val nrm = BoundReference(1, DoubleType, nullable = false)
    val row = new GenericInternalRow(Array[Any](new GenericArrayData(Array(0.6, 0.8)), 1.0))
    Seq(graft.functions.CoarseArgmax(v, nrm, cents, Seq(1.0, 0.0)),
      graft.functions.CoarseResidSq(v, nrm, cents, Seq(1.0, 0.0))).foreach { e =>
      val interpreted = intercept[IllegalArgumentException](e.eval(row))
      val generated = intercept[IllegalArgumentException](
        GenerateUnsafeProjection.generate(Seq(e)).apply(row))
      Seq(interpreted, generated).foreach { t =>
        assert(t.getMessage.contains(s"${e.prettyName}: the similarity to coarse cell 1 is NaN"),
          t.getMessage)
      }
    }
  }

  test("minhash LSH pairs are contained in the exact-Jaccard pair set") {
    val got = Dedup.minhashLsh(spark, sf0001, threshold = 0.4)
      .select("a_id", "b_id", "jaccard").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(got.nonEmpty, "LSH should surface at least one near-dup pair at sf0.001")
    got.foreach { case ((a, b), j) =>
      val exact = exactJaccard.getOrElse((a, b), 0.0)
      assert(exact >= 0.4, s"pair ($a,$b) reported j=$j but exact=$exact < 0.4")
      assert(math.abs(exact - j) < 1e-3, s"pair ($a,$b): reported $j vs exact $exact")
    }
  }

  test("minhash LSH recall: high-similarity pairs are found") {
    // With 32 hashes in 8 bands of 4, P(candidate) = 1-(1-j^4)^8 ≈ 0.9998
    // at j≥0.9 — on this corpus every j≥0.9 pair must surface.
    val strong = exactJaccard.filter(_._2 >= 0.9).keySet
    val got = Dedup.minhashLsh(spark, sf0001, threshold = 0.4)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = strong -- got
    assert(missed.isEmpty, s"LSH missed strong pairs: $missed")
  }

  test("simhash: near-identical docs collide, hamming is symmetric sanity") {
    val rows = Dedup.simhash(spark, sf0001, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    rows.foreach { case (a, b, h) =>
      assert(a < b, "pairs must be emitted with a_id < b_id")
      assert(h >= 0 && h <= 3)
    }
    // every exact-duplicate text pair must have hamming 0 and be reported
    val dupPairs = exactJaccard.filter(_._2 >= 0.999).keySet
    val got = rows.map(t => (t._1, t._2)).toSet
    val missedDups = dupPairs -- got
    assert(missedDups.isEmpty, s"simhash missed exact duplicates: $missedDups")
  }

  test("simhash64 expression, packed aggregate, and naive 64-buffer agree bit-for-bit") {
    // three formulations of the same declared semantics: the r14 one-pass
    // codegen expression (production path), the r13 count-weighted
    // 32-packed-long aggregate (retained reference), and 64 independent
    // sum() buffers over every token OCCURRENCE
    val docsDf = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val expr = Dedup.simhashDocs(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val packed = Dedup.simhashDocsAggregated(docsDf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val toks = docsDf
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val bufs = (0 until 64).map(i =>
      sum(shiftright(col("h"), i).bitwiseAND(1L)).as(s"b$i"))
    val naive = toks.groupBy("doc_id").agg(count(lit(1)).as("n"), bufs: _*)
      .select(col("doc_id"), (0 until 64).map(i =>
        when(col(s"b$i") * 2 > col("n"), lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ bitwiseOR _).as("simhash"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expr.size === naive.size)
    assert(expr === naive,
      "one-pass expression must reproduce the per-occurrence naive simhash exactly")
    assert(packed === naive,
      "count-weighted packed votes must reproduce the per-occurrence naive simhash exactly")

    // SQL surface via the extensions builder (arity is validated)
    spark.sessionState.functionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier("simhash64"),
      graft.functions.SimHash64.info,
      graft.functions.SimHash64.builder _)
    val one = naive.head
    val viaSql = spark.sql(
      s"SELECT simhash64(text) AS sh FROM parquet.`$sf0001/documents.parquet` " +
      s"WHERE doc_id = ${one._1}").head.getLong(0)
    assert(viaSql === one._2)
    val err = intercept[Exception] {
      spark.sql("SELECT simhash64('a', 'b')").collect()
    }
    assert(err.getMessage.contains("1 argument") ||
      Option(err.getCause).exists(_.getMessage.contains("1 argument")))
  }

  test("bucketPairs skips oversized buckets and fully expands small ones") {
    import spark.implicits._
    // one degenerate bucket with 150 members (over the cap of 100) and one
    // healthy 4-member bucket — the 100 TB skew scenario in miniature
    val rows = (0 until 150).map(i => ("big", i.toLong)) ++
      (200 until 204).map(i => ("ok", i.toLong))
    val pairs = Dedup.bucketPairs(rows.toDF("bkey", "doc_id"), Seq("bkey"), cap = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length === 6, s"expected C(4,2)=6 pairs, got ${pairs.length}")
    pairs.foreach { case (a, b) =>
      assert(a >= 200 && b >= 200, s"pair ($a,$b) leaked from the oversized bucket")
      assert(a < b, "pairs must be ordered a_id < b_id")
    }
  }

  test("degenerate buckets: >cap identical docs/vectors don't blow up any dedup path") {
    // synthesize a corpus where 150 docs share every band bucket (identical
    // text → identical minhash signature and simhash) and 150 vectors share
    // every sign-LSH band key (identical embedding). The capped expansion
    // must neither go quadratic nor emit pairs from the oversized buckets.
    val tmp = tempDir("graft_degen")
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang", "n_chars", "text")
    val doc1 = docs.orderBy("doc_id").limit(1)
    doc1.crossJoin(spark.range(150))
      .select((col("id") + 1000000L).as("doc_id"),
        col("lang"), col("n_chars"), col("text"))
      .unionByName(docs)
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val embs = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select("vec_id", "label", "embedding")
    embs.orderBy("vec_id").limit(1).crossJoin(spark.range(150))
      .select((col("id") + 1000000L).as("vec_id"),
        col("label"), col("embedding"))
      .unionByName(embs)
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")

    def noClonePairs(df: org.apache.spark.sql.DataFrame): Unit = {
      val leaked = df.filter(col("a_id") >= 1000000L && col("b_id") >= 1000000L).count()
      assert(leaked === 0, s"$leaked pairs leaked from the 150-member degenerate bucket")
    }
    noClonePairs(Dedup.minhashLsh(spark, tmp))
    noClonePairs(Dedup.simhash(spark, tmp))
    noClonePairs(Dedup.embedCosine(spark, tmp))
    spark.catalog.clearCache()
  }

  test("clusterPairs: components over an arbitrary pair graph, multi-round convergence") {
    import spark.implicits._
    // a 6-hop PATH graph is the adversarial case for min-label propagation:
    // the min id must walk the whole chain, so the loop genuinely iterates
    // (the oracled near-dup corpus is clique-heavy and converges in the
    // folded first round — this pins the loop body itself), plus a
    // triangle, a duplicated/reversed edge, and an isolated pair
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L), // path
      (10L, 11L), (11L, 12L), (10L, 12L),                         // triangle
      (12L, 11L),                                                 // reversed dup
      (20L, 21L))
      .toDF("a_id", "b_id")
    // BOTH execution paths must produce identical components: the default
    // (bounded driver-side union-find) and the distributed label-
    // propagation loop (forced via localEdgeCap = 0 — the over-cap
    // fallback at scale)
    for (cap <- Seq(1000000, 0)) {
      val out = Dedup.clusterPairs(pairs, localEdgeCap = cap).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2), r.getInt(3)))
        .toMap
      assert(out.keySet === Set(1L, 2L, 3L, 4L, 5L, 6L, 7L, 10L, 11L, 12L, 20L, 21L))
      for (id <- 1L to 7L) assert(out(id) === ((1L, id == 1L, 7)), s"cap=$cap")
      for (id <- 10L to 12L) assert(out(id) === ((10L, id == 10L, 3)), s"cap=$cap")
      for (id <- 20L to 21L) assert(out(id) === ((20L, id == 20L, 2)), s"cap=$cap")
    }
  }

  test("clusterPairs: union-find and distributed propagation agree on seeded random graphs") {
    import spark.implicits._
    // adversarial shapes the clique-heavy dedup corpus never produces:
    // long chains, stars, random sparse unions — exactly where a subtle
    // divergence between the two paths would hide
    val rng = new scala.util.Random(4217)
    for (trial <- 1 to 3) {
      val nodes = 40 + trial * 30
      val edges = Seq.tabulate(nodes)(i =>
        (rng.nextInt(nodes).toLong, rng.nextInt(nodes).toLong))
        .filter { case (a, b) => a != b }
      val pairs = edges.toDF("a_id", "b_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val local = Dedup.clusterPairs(pairs).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getInt(3)))
          .toSet
        val dist = Dedup.clusterPairs(pairs, maxIters = 40, localEdgeCap = 0)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getInt(3)))
          .toSet
        assert(local === dist, s"trial $trial: paths disagree")
      } finally pairs.unpersist(blocking = true)
    }
  }

  test("clusterPairs: empty pair graph yields an empty, correctly-typed result on both paths") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    for (cap <- Seq(1000000, 0)) {
      val out = Dedup.clusterPairs(empty, localEdgeCap = cap)
      assert(out.columns.toSeq ===
        Seq("doc_id", "cluster_rep", "is_rep", "cluster_size"), s"cap=$cap")
      assert(out.count() === 0, s"cap=$cap")
    }
    // and the semantic composition still emits every vector as a singleton
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val sem = Dedup.semanticClustersOn(vecs, threshold = 0.999).collect()
    assert(sem.length === 2 && sem.forall(_.getAs[Boolean]("is_rep")))
  }

  test("clusterPairs falls back to the distributed loop above localEdgeCap") {
    import spark.implicits._
    // 10 edges with a cap of 4: the take(cap+1) probe must see the
    // over-cap count and route to label propagation — and still converge
    // to the same components the union-find path reports
    val pairs = (1L to 10L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val viaDist = Dedup.clusterPairs(pairs, localEdgeCap = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getInt(3))).toSet
    val viaLocal = Dedup.clusterPairs(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getInt(3))).toSet
    assert(viaDist === viaLocal)
    assert(viaDist.size === 11 && viaDist.forall(_._2 == 1L))
  }

  test("generic dedup overloads run on arbitrary frames and find the planted pair") {
    import spark.implicits._
    // minimal user-shaped corpus: two near-dups (one token of 30 changed)
    // and one unrelated doc — every *On variant must accept the frame
    // as-is (no fixture table) and report exactly the planted pair
    val base = (1 to 60).map(i => s"alpha$i").mkString(" ")
    val near = (1 to 60).map(i => if (i == 15) "CHANGED" else s"alpha$i").mkString(" ")
    val other = (100 to 159).map(i => s"beta$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, other)).toDF("doc_id", "text")
    val mh = Dedup.minhashLshOn(docs, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(mh === Set((1L, 2L)),
      "minhashLshOn must flag the planted near-dup (hash-dependent: if this " +
        "fails after a banding change, re-tune the fixture, not the operator)")
    val sh = Dedup.simhashOn(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(sh === Set((1L, 2L)))
    val blocked = docs.withColumn("lang", lit("xx"))
      .withColumn("n_chars", length($"text"))
    val ng = Dedup.ngramJaccardOn(blocked, threshold = 0.5)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(ng === Set((1L, 2L)))
    val cl = Dedup.nearDupClustersOn(blocked).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2), r.getInt(3)))
      .toMap
    assert(cl === Map(1L -> ((1L, true, 2)), 2L -> ((1L, false, 2))),
      "doc 3 is isolated and must not appear")
    val vecs = Seq(
      (1L, Array.fill(64)(0.5f)),
      (2L, Array.tabulate(64)(i => if (i == 0) 0.45f else 0.5f)),
      (3L, Array.tabulate(64)(i => ((i % 7) - 3).toFloat)))
      .toDF("vec_id", "embedding")
    val ec = Dedup.embedCosineOn(vecs, threshold = 0.9)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(ec === Set((1L, 2L)))
    spark.catalog.clearCache()
  }

  test("generic text/train-prep overloads run on arbitrary frames") {
    import spark.implicits._
    import graft.operators.{Text, TrainPrep}
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length($"text"))
    assert(Text.qualityGateOn(docs).columns.contains("keep") &&
      Text.qualityGateOn(docs).count() === 2)
    val tc = Text.tokenCountOn(docs).collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(tc === Map(1L -> 12, 2L -> 10))
    // chunking arithmetic on a hand-sized doc: 10 tokens, window 4 stride 2
    // -> starts 0,2,4,6 with the final chunk ending exactly at 10
    val ch = TrainPrep.chunkOn(docs.filter($"doc_id" === 2), 4, 2)
      .select("chunk_idx", "start_tok", "chunk_len")
      .as[(Int, Int, Int)].collect().toSeq
    assert(ch === Seq((0, 0, 4), (1, 2, 4), (2, 4, 4), (3, 6, 4)))
    // scrubbing an arbitrary column name
    val pii = TrainPrep.piiScrubOn(
        Seq((7L, "call 1234567 now")).toDF("uid", "note"), "uid", "note")
      .collect().head
    assert(pii.getString(1) === "call <ID> now" && pii.getInt(2) === 1)
    // packing with EXPLICIT token counts (a real tokenizer's numbers):
    // lang a: 6+6 tokens at seqLen 10 -> both docs start in sequence 0
    val packed = TrainPrep.packSequencesOn(
        Seq(("a", 1L, 6L), ("a", 2L, 6L), ("b", 3L, 25L))
          .toDF("lang", "doc_id", "n_tokens"), seqLen = 10)
      .select("lang", "seq_id", "n_docs", "n_tokens")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(packed === Set(("a", 0L, 2L, 12L), ("b", 0L, 1L, 25L)))
    // contamination against an explicit eval frame: doc 1 shares the
    // planted clause verbatim, doc 2 shares nothing
    val cont = TrainPrep.contaminationOn(
        docs, Seq("over the lazy dog").toDF("text"))
      .select("doc_id", "hit_grams").as[(Long, Int)].collect().toMap
    assert(cont === Map(1L -> 2))
    spark.catalog.clearCache()
  }

  test("generic multimodal overloads run on arbitrary binary frames") {
    import spark.implicits._
    import graft.operators.Multimodal
    val media = Seq(
      (1L, Array[Byte](1, 2, 3, 4, 5), "en"),
      (2L, Array.fill[Byte](700)(9), "de"))
      .toDF("doc_id", "payload", "lang")
    val dec = Multimodal.decodePipelineOn(media).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // FakeDecoder arithmetic: width = 64 + n_bytes % 640
    assert(dec === Map("en" -> ((1L, 69.0)), "de" -> ((1L, 124.0))))
    val frames = Multimodal.framePipelineOn(media, every = 2).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // frames = 1 + n%16: en -> 6 frames, idx 0,2,4 sampled; de -> 13, 7 sampled
    assert(frames === Map("en" -> 3L, "de" -> 7L))
    spark.catalog.clearCache()
  }

  test("generic similarity overloads run on arbitrary frames") {
    import spark.implicits._
    val vecs = (0 until 40).map(i => (i.toLong, s"lab${i % 4}",
        Array.tabulate(64)(d => math.sin(i * 17 + d).toFloat)))
      .toDF("vec_id", "label", "embedding")
    val probe = Array.tabulate(64)(d => math.sin(7 * 17 + d)).toSeq
    // the probe IS vector 7 — every exact/recall path must surface it first
    val top = Similarity.cosineTopKOn(vecs, 5, probe).collect()
    assert(top.head.getLong(0) === 7L && top.head.getDouble(2) === 1.0)
    val ann = Similarity.annLshOn(vecs, 5, 4, probe)
      .select("vec_id").as[Long].collect()
    assert(ann.head === 7L, s"ANN must surface the probe's identical vector: ${ann.toSeq}")
    val ivf = Similarity.ivfOn(vecs, 5, 2, probe)
      .select("vec_id").as[Long].collect()
    assert(ivf.head === 7L, s"IVF must surface the probe's identical vector: ${ivf.toSeq}")
    // self-join shape: every probe's nearest corpus vector is itself
    val knn = Similarity.knnJoinOn(corpus = vecs, probes = vecs.limit(5), k = 1)
      .select("probe_id", "vec_id").as[(Long, Long)].collect()
    assert(knn.nonEmpty && knn.forall { case (p, v) => p == v },
      s"top-1 of a self kNN join must be the vector itself: ${knn.toSeq}")
    assert(Similarity.centroidsOn(vecs).count() === 4)
    spark.catalog.clearCache()
  }

  test("ivf refuses a codebook wider than the driver-metadata bound") {
    import org.apache.spark.sql.functions._
    // 70k distinct labels = 70k label-mean "centroids": not a quantizer,
    // and collecting it would be the driver-OOM shape the bound exists for
    val vecs = spark.range(70000).select(col("id").as("vec_id"),
      col("id").cast("string").as("label"),
      array(lit(1.0f), (col("id") % 7 + 1).cast("float")).as("embedding"))
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfOn(vecs, 3, 1, Seq(1.0, 2.0))
    }
    assert(e.getMessage.contains("train a bounded one") ||
      e.getMessage.contains("trainKMeans"),
      s"over-wide codebook must fail with the actionable fix: ${e.getMessage}")
  }

  test("ivf fails loudly on a degenerate (all-zero-norm) codebook") {
    import spark.implicits._
    val vecs = (0 until 8).map(i =>
        (i.toLong, Array.tabulate(4)(d => (i + d).toFloat)))
      .toDF("vec_id", "embedding")
    val zeroCb = Seq((0, Seq(0.0, 0.0, 0.0, 0.0)))
      .toDF("c_id", "cv")
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfOn(vecs, 3, 1, Seq(1.0, 2.0, 3.0, 4.0), zeroCb)
    }
    assert(e.getMessage.contains("no usable"),
      "a codebook with no non-zero-norm centroid must fail at plan " +
        "construction, not return an empty result silently")
  }

  test("q_embed_codes string serialization is the exact join of the typed codes") {
    // the registry form (comparator-safe comma-joined string) must carry
    // EXACTLY the library form's array — element order and rendering
    val typed = Similarity.quantizeCodes(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](2).mkString(",")).toMap
    val str = Similarity.quantizeCodesStr(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(str.nonEmpty && str === typed)
  }

  test("tokenEntropyOn: hand-computed values on a synthetic corpus") {
    import spark.implicits._
    import graft.operators.Text
    // d1 uniform over 4 distinct tokens: H = ln(4), ratio = 1
    // d2 all-same: H = 0, ratio null (single token type)
    // d3 "a a b": H = ln(3) - (2 ln 2)/3
    val docs = Seq((1L, "w x y z"), (2L, "q q q"), (3L, "a a b"))
      .toDF("doc_id", "text")
    val out = Text.tokenEntropyOn(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    val r4 = (x: Double) => math.round(x * 10000).toDouble / 10000
    assert(out(1L) === ((4L, 4, r4(math.log(4)), Some(1.0))))
    assert(out(2L) === ((3L, 1, 0.0, None)))
    val h3 = math.log(3) - 2 * math.log(2) / 3
    assert(out(3L) === ((3L, 2, r4(h3), Some(r4(h3 / math.log(2))))))
  }

  test("histogramOn: hand-computed buckets and shares") {
    import spark.implicits._
    import graft.operators.Relational
    val df = Seq(("a", 5.0), ("a", 15.0), ("a", 17.0), ("a", 25.0),
        ("b", 10.0))
      .toDF("grp", "x")
    val out = Relational.histogramOn(df, width = 10).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq === Seq(
      ("a", 0, 1L, 0.25), ("a", 1, 2L, 0.5), ("a", 2, 1L, 0.25),
      ("b", 1, 1L, 1.0)))
  }

  test("vocabTopKOn / tfidfTopTermsOn: hand-computed values on a synthetic corpus") {
    import spark.implicits._
    import graft.operators.Text
    // d1: "a a b", d2: "a c", d3: "b b b c"
    val docs = Seq((1L, "a a b"), (2L, "a c"), (3L, "b b b c"))
      .toDF("doc_id", "text")
    // doc_freq: a→2, b→2, c→2; occurrences: a→3, b→4, c→2; ties on
    // doc_freq break by occurrences desc then token asc → b, a, c
    val vocab = Text.vocabTopKOn(docs, k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(vocab.toSeq === Seq(("b", 4L, 2L), ("a", 3L, 2L)))
    // tf-idf with N=3: every token appears in 2 docs → idf = ln(1.5)
    // d1: a 2/3·ln1.5, b 1/3·ln1.5 → top1 = a
    // d3: b 3/4·ln1.5, c 1/4·ln1.5 → top1 = b
    val r4 = (x: Double) => math.round(x * 10000).toDouble / 10000
    val tfidf = Text.tfidfTopTermsOn(docs, k = 1)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSeq
    assert(tfidf === Seq(
      (1L, "a", r4(2.0 / 3 * math.log(1.5))),
      (2L, "a", r4(0.5 * math.log(1.5))), // d2 tie a/c on tf-idf → token asc
      (3L, "b", r4(0.75 * math.log(1.5)))))
  }

  test("curriculumBinsOn: known quartiles, boundary docs stay in the lower bin") {
    import spark.implicits._
    import graft.operators.TrainPrep
    // scores 1..8 for g1: quartiles (interpolated, r4) = 2.75 / 4.5 / 6.25
    // → bins 1..4 get 3/2/2/1... check: >2.75: 3..8; >4.5: 5..8; >6.25: 7,8
    // bin = 1+#strictly-greater → scores 1,2→1; 3,4→2; 5,6→3; 7,8→4
    val rows = (1 to 8).map(i => ("g1", i.toDouble)) ++
      // g2: all-equal scores → all quartiles equal the score; strict >
      // never fires → every doc lands in bin 1 (the boundary contract)
      (1 to 4).map(_ => ("g2", 5.0))
    val got = TrainPrep.curriculumBinsOn(rows.toDF("lang", "quality"),
      "lang", "quality")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq === Seq(
      ("g1", 1, 2L), ("g1", 2, 2L), ("g1", 3, 2L), ("g1", 4, 2L),
      ("g2", 1, 4L)))
  }

  test("funnelOn: ordering enforced, unreachable steps emit zero rows") {
    import spark.implicits._
    import graft.operators.TimeOps
    // u1 completes a→b→c in order; u2 has b BEFORE its first a (must not
    // count for b); u3 only reaches a. Step d is unreachable by everyone
    // and must still appear with users = 0 (parity with the oracle's
    // global per-CTE COUNT, which always emits a row).
    val events = Seq(
      (1L, "a", 10L), (1L, "b", 20L), (1L, "c", 30L),
      (2L, "b", 5L), (2L, "a", 10L),
      (3L, "a", 7L))
      .toDF("user_id", "event_type", "ts_ms")
    val got = TimeOps.funnelOn(events, Seq("a", "b", "c", "d"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq((1, "a", 3L), (2, "b", 1L), (3, "c", 1L),
      (4, "d", 0L)))
    // same-timestamp events do NOT advance the funnel (strictly-after)
    val tied = Seq((1L, "a", 10L), (1L, "b", 10L))
      .toDF("user_id", "event_type", "ts_ms")
    val got2 = TimeOps.funnelOn(tied, Seq("a", "b"))
      .collect().map(r => (r.getString(1), r.getLong(2)))
    assert(got2.toSeq === Seq(("a", 1L), ("b", 0L)))
  }

  test("generic asofJoinOn reproduces the oracled purchase/click as-of join") {
    import spark.implicits._
    import graft.operators.TimeOps
    val ev = graft.Tables.events(spark, sf0001)
      .select($"event_id", $"user_id", $"event_type",
        graft.Norm.ms($"ts").as("ts_ms"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id", $"ts_ms".as("p_ms"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id".as("c_id"), $"user_id", $"ts_ms".as("c_ms"))
    val generic = TimeOps.asofJoinOn(purchases, clicks, Seq("user_id"),
        leftTime = "p_ms", rightTime = "c_ms", rightOrder = Seq("c_id"))
      .filter($"c_id".isNotNull) // the fixture query keeps matched rows only
      .select("p_id", "user_id", "p_ms", "c_id", "c_ms")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val fixture = TimeOps.asofJoin(spark, sf0001)
      .select("p_id", "user_id", "p_ms", "c_id", "c_ms")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(generic === fixture)
    assert(fixture.nonEmpty)
  }

  test("asofJoinOn: tolerance gates stale matches, unmatched lefts survive") {
    import spark.implicits._
    import graft.operators.TimeOps
    val left = Seq((1L, "a", 100L), (2L, "a", 30L), (3L, "b", 50L))
      .toDF("id", "k", "t")
    val right = Seq(("a", 40L, "x"), ("a", 95L, "y"), ("a", 95L, "z"))
      .toDF("k", "rt", "v")
    def run(tol: Option[Long]) = TimeOps.asofJoinOn(
        left, right, Seq("k"), "t", "rt", tolerance = tol,
        rightOrder = Seq("v"))
      .select($"id", $"v").as[(Long, Option[String])].collect().toMap
    // no tolerance: id 1 takes the later of the t=95 rows ("z" by
    // rightOrder), id 2 takes t=30's only eligible... none (40 > 30), id 3
    // has no "b" rows at all
    assert(run(None) === Map(1L -> Some("z"), 2L -> None, 3L -> None))
    // tolerance 10: t=95 within [90, 100] still matches
    assert(run(Some(10L)) === Map(1L -> Some("z"), 2L -> None, 3L -> None))
    // tolerance 3: 100 - 95 = 5 > 3 — the match is too stale
    assert(run(Some(3L)) === Map(1L -> None, 2L -> None, 3L -> None))
  }

  test("asofJoinOn directions: forward mirror, nearest tie-breaks backward") {
    import spark.implicits._
    import graft.operators.TimeOps
    val left = Seq((1L, "a", 100L), (2L, "a", 10L), (3L, "a", 55L))
      .toDF("id", "k", "t")
    val right = Seq(("a", 40L, "w"), ("a", 70L, "x"),
      ("a", 70L, "y"), ("a", 100L, "z")).toDF("k", "rt", "v")
    def run(dir: String, tol: Option[Long] = None) = TimeOps.asofJoinOn(
        left, right, Seq("k"), "t", "rt", tolerance = tol,
        rightOrder = Seq("v"), direction = dir)
      .select($"id", $"v").as[(Long, Option[String])].collect().toMap
    // forward: earliest rt >= t; at rt ties the SMALLEST rightOrder wins
    // (the backward mirror); an at-instant right (rt=100) matches
    assert(run("forward") === Map(
      1L -> Some("z"), 2L -> Some("w"), 3L -> Some("x")))
    // backward sanity on the same frames: at-instant match for id 1, the
    // latest eligible for id 3, nothing before t=10
    assert(run("backward") === Map(
      1L -> Some("z"), 2L -> None, 3L -> Some("w")))
    // nearest: id 3 sits 15 before rt=70 / 15 after rt=40 — EQUIDISTANT
    // goes backward ("w"); id 2's only candidate is forward
    assert(run("nearest") === Map(
      1L -> Some("z"), 2L -> Some("w"), 3L -> Some("w")))
    // tolerance gates per direction: forward distance for id 2 is 30
    assert(run("forward", Some(20L))(2L) === None)
    assert(run("nearest", Some(10L)) === Map(
      1L -> Some("z"), 2L -> None, 3L -> None))
    // unknown direction fails loudly
    intercept[IllegalArgumentException] { run("sideways") }
  }

  test("asofJoinOn directions agree with a brute-force reference on random frames") {
    import spark.implicits._
    import graft.operators.TimeOps
    // deterministic pseudo-random fixtures: heavy timestamp collisions on
    // a SMALL time domain so at-instant matches, equidistant ties, and
    // per-key empties all occur
    val rnd = new scala.util.Random(20260814L)
    (1 to 3).foreach { trial =>
      val keys = Seq("a", "b", "c")
      val left = (1L to 40L).map(id =>
        (id, keys(rnd.nextInt(3)), rnd.nextInt(30).toLong)).toSeq
      val right = (1L to 60L).map(id =>
        (keys(rnd.nextInt(3)), rnd.nextInt(30).toLong, id)).toSeq
      val lDf = left.toDF("id", "k", "t")
      val rDf = right.toDF("k", "rt", "rid")
      // brute force: per left row, scan every right row of the key
      def brute(direction: String, tol: Option[Long]): Map[Long, Option[Long]] =
        left.map { case (id, k, t) =>
          val cands = right.filter(_._1 == k)
          val pick = direction match {
            case "backward" =>
              val el = cands.filter(_._2 <= t)
              // latest rt, largest rid at ties
              if (el.isEmpty) None else Some(el.maxBy(c => (c._2, c._3))._3)
            case "forward" =>
              val el = cands.filter(_._2 >= t)
              // earliest rt, SMALLEST rid at ties
              if (el.isEmpty) None
              else Some(el.minBy(c => (c._2, c._3))._3)
            case "nearest" =>
              val back = cands.filter(_._2 <= t)
                .sortBy(c => (c._2, c._3)).lastOption
              val fwd = cands.filter(_._2 >= t)
                .sortBy(c => (c._2, c._3)).headOption
              (back, fwd) match {
                case (None, f) => f.map(_._3)
                case (b, None) => b.map(_._3)
                case (Some(b), Some(f)) =>
                  if (t - b._2 <= f._2 - t) Some(b._3) else Some(f._3)
              }
          }
          val gated = pick.filter { rid =>
            tol.forall { tl =>
              val rt = right.find(_._3 == rid).get._2
              (direction match {
                case "backward" => t - rt
                case "forward" => rt - t
                case "nearest" => math.abs(t - rt)
              }) <= tl
            }
          }
          id -> gated
        }.toMap
      for (dir <- Seq("backward", "forward", "nearest");
           tol <- Seq(None, Some(3L))) {
        val got = TimeOps.asofJoinOn(lDf, rDf, Seq("k"), "t", "rt",
            tolerance = tol, rightOrder = Seq("rid"), direction = dir)
          .select($"id", $"rid").as[(Long, Option[Long])].collect().toMap
        assert(got === brute(dir, tol),
          s"trial $trial direction=$dir tol=$tol diverged from brute force")
      }
    }
  }

  test("freq_items_sketch: Misra-Gries bound holds under Spark partial merges") {
    import spark.implicits._
    // skewed synthetic stream: token "h_i" appears (20 - i) * 40 times for
    // i in 0..19 plus a 2000-token uniform tail of singletons, shuffled
    // deterministically across 8 partitions so partial merges really fire
    val rnd = new scala.util.Random(42)
    val heavy = (0 until 20).flatMap(i => Seq.fill((20 - i) * 40)(s"h_$i"))
    val tail = (0 until 2000).map(i => s"t_$i")
    val stream = rnd.shuffle(heavy ++ tail)
    val n = stream.size.toLong
    val truth = stream.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val df = spark.createDataset(stream).repartition(8).toDF("token")
    val k = 16
    val sk = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.FreqItemsSketch(
        org.apache.spark.sql.GraftSqlBridge.expression(col("token")), k)
        .toAggregateExpression())
    val est = df.agg(sk.as("m")).select(explode(col("m")).as(Seq("token", "est")))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.size <= k, s"sketch must hold at most $k counters, got ${est.size}")
    val bound = n / (k + 1) + 1
    // every estimate is a lower bound within n/(k+1)
    est.foreach { case (t, e) =>
      val tr = truth(t)
      assert(e <= tr, s"$t overestimated: $e > $tr")
      assert(tr - e <= bound, s"$t bound violated: $tr - $e > $bound")
    }
    // every item heavier than n/(k+1) is guaranteed tracked
    truth.filter(_._2 > bound).keys.foreach { t =>
      assert(est.contains(t), s"heavy item $t (count ${truth(t)}) missing")
    }
    // empty input: empty map, not null
    assert(spark.emptyDataset[String].toDF("token").agg(sk.as("m"))
      .select(org.apache.spark.sql.functions.map_keys(col("m"))).head.getSeq[String](0).isEmpty)
  }

  test("q_vocab_heavy fixture: every returned row carries a satisfied bound") {
    val out = graft.operators.Text.vocabHeavy(spark, sf001).collect()
    assert(out.nonEmpty && out.length <= 15)
    assert(out.forall(_.getAs[Boolean]("within_bound")),
      "in-output evidence must hold for every returned token")
  }

  test("clusterPairs leaves a caller-owned pair cache in place") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a_id", "b_id")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      assert(Dedup.clusterPairs(pairs).count() === 3)
      assert(pairs.storageLevel !== StorageLevel.NONE,
        "clusterPairs must not unpersist a cache it did not create")
    } finally pairs.unpersist(blocking = true)
  }

  test("piiScrubOn resolves column names col() accepts, not just SQL identifiers") {
    import spark.implicits._
    val out = graft.operators.TrainPrep.piiScrubOn(
        Seq((1L, "id 9876543 ok")).toDF("row id", "user note"),
        "row id", "user note")
      .collect().head
    assert(out.getString(1) === "id <ID> ok" && out.getInt(2) === 1)
  }

  test("clusterPairs refuses to emit unconverged labels") {
    import spark.implicits._
    val longPath = (1L until 12L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    // 11-hop path needs ~6 rounds; maxIters = 2 must fail loudly
    // (localEdgeCap = 0 forces the distributed loop — union-find has no
    // convergence bound to refuse on)
    val e = intercept[IllegalArgumentException] {
      Dedup.clusterPairs(longPath, maxIters = 2, localEdgeCap = 0).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    spark.catalog.clearCache()
  }

  test("approx_count_distinct within 5% of exact") {
    val df = spark.read.parquet(s"$sf001/lineitem.parquet")
    val exact = df.select(countDistinct(col("l_partkey"))).head.getLong(0)
    val approx = df.select(approx_count_distinct(col("l_partkey"))).head.getLong(0)
    assert(math.abs(approx - exact).toDouble / exact <= 0.05,
      s"approx=$approx exact=$exact")
  }

  test("approx profile stats match exact within 5% on every cardinality") {
    // the documented 100 TB swap (profileStats(approx = true)): schema and
    // all non-cardinality stats identical, each HLL n_distinct within ±5%
    def byCol(approx: Boolean) = graft.operators.TrainPrep
      .profileStats(spark, sf001, approx).collect()
      .map(r => r.getString(0) -> r).toMap
    val exact = byCol(approx = false)
    val est = byCol(approx = true)
    assert(est.keySet === exact.keySet)
    for ((c, e) <- exact) {
      val a = est(c)
      assert(a.getLong(1) === e.getLong(1) && a.getLong(2) === e.getLong(2),
        s"$c: row/null counts must not change under approx")
      val (en, an) = (e.getLong(3), a.getLong(3))
      assert(math.abs(an - en).toDouble / en <= 0.05,
        s"$c: approx n_distinct $an vs exact $en")
    }
  }

  test("approx_percentile within rank tolerance of the exact percentile") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sf001/lineitem.parquet")
    val exact = df.groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5)").as("p50"),
        expr("percentile(l_extendedprice, 0.95)").as("p95"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val approx = graft.operators.Relational
      .aggApproxPercentile(spark, sf001).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    approx.foreach { case (k, (a50, a95)) =>
      val (e50, e95) = exact(k)
      assert(math.abs(a50 - e50) / e50 <= 0.01, s"$k p50: $a50 vs $e50")
      assert(math.abs(a95 - e95) / e95 <= 0.01, s"$k p95: $a95 vs $e95")
    }
  }

  test("exact dedup is idempotent") {
    val once = Dedup.exact(spark, sf0001)
    val cached = once.cache()
    try {
      val n1 = cached.count()
      // dedup of the dedup result on the same key keeps every row
      val again = cached
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("user_id", "event_type")
            .orderBy("ts_ms", "event_id")))
        .filter(col("rn") === 1)
      assert(again.count() === n1)
    } finally cached.unpersist()
  }

  test("rolling fingerprint is stable across independent runs") {
    val a = graft.operators.Text.rollingFingerprint(spark, sf0001).collect()
    val b = graft.operators.Text.rollingFingerprint(spark, sf0001).collect()
    assert(a.toSeq === b.toSeq)
  }

  test("bracketed exact percentile equals Spark's exact percentile " +
      "aggregate bit-for-bit") {
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    val mine = graft.operators.Quantiles.exactPercentilesOn(
      li, "l_returnflag", "l_extendedprice", Seq(0.5, 0.95))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val ref = li.groupBy(col("l_returnflag").as("g"))
      .agg(percentile(col("l_extendedprice"),
        array(lit(0.5), lit(0.95))).as("pe"))
      .collect().flatMap { r =>
        val pe = r.getSeq[Double](1)
        Seq((r.getString(0), 0.5) -> pe(0), (r.getString(0), 0.95) -> pe(1))
      }.toMap
    assert(mine === ref,
      "bracket-and-verify must reproduce the value-map aggregate exactly")
  }

  test("withApprox rides the SAME GK buffer: pct_approx is bit-identical " +
      "to a standalone approx_percentile and the default path is unchanged") {
    val li = spark.read.parquet(s"$sf001/lineitem.parquet")
    val ps = Seq(0.5, 0.95)
    val fused = graft.operators.Quantiles.exactPercentilesOn(
      li, "l_returnflag", "l_extendedprice", ps, withApprox = true)
      .collect()
    // the sketch values off the shared pass-1 buffer must equal a
    // dedicated approx_percentile aggregate's (the r21 q_agg_approx_pct
    // fusion's correctness claim: the GK summary's construction depends
    // only on data + accuracy, never on the query points)
    val approxFused = fused
      .map(r => (r.getString(0), r.getDouble(1)) ->
        r.getDouble(r.fieldIndex("pct_approx"))).toMap
    val approxRef = li.groupBy(col("l_returnflag").as("g"))
      .agg(approx_percentile(col("l_extendedprice"),
        array(lit(0.5), lit(0.95)), lit(10000)).as("pa"))
      .collect().flatMap { r =>
        val pa = r.getSeq[Double](1)
        Seq((r.getString(0), 0.5) -> pa(0), (r.getString(0), 0.95) -> pa(1))
      }.toMap
    assert(approxFused === approxRef,
      "pct_approx must be the standalone sketch's values, bit-for-bit")
    // adding the approx query points must not perturb the exact columns:
    // the withApprox=true rows minus pct_approx == the default path's rows
    val defaults = graft.operators.Quantiles.exactPercentilesOn(
      li, "l_returnflag", "l_extendedprice", ps)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val exactFused = fused
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(exactFused === defaults,
      "withApprox must leave the exact pct values untouched")
  }

  test("shingle_stats expression is bit-identical to the window 5-gram " +
      "formulation, including empty tokens and multi-byte UTF-8") {
    import spark.implicits._
    val n = 5
    // adversarial strings: sub-n docs (dropped), doubled/leading/trailing
    // spaces (empty tokens), a tab inside a token (NOT a separator), and
    // multi-byte UTF-8 (byte-slice boundaries must stay on 0x20)
    val edges = Seq(
      (10001L, ""), (10002L, "one two three four"),
      (10003L, "a b c d e"), (10004L, "a  b c d e f"),
      (10005L, " lead b c d e"), (10006L, "trail b c d e "),
      (10007L, "a\tb c d e f"),
      (10008L, "naïve café über 汉字 emoji✨ six"))
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(edges.toDF("doc_id", "text"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val legacy = docs
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "w0")))
      .select(col("doc_id"), col("n_tokens"),
        concat_ws(" ", col("w0") +:
          (1 until n).map(j => lead(col("w0"), j).over(w)): _*).as("g"),
        lead(col("w0"), n - 1).over(w).as("tail"))
      .filter(col("tail").isNotNull)
      .select(col("doc_id"), col("n_tokens"), xxhash64(col("g")).as("h"))
      .groupBy("doc_id", "n_tokens")
      .agg(min(col("h")).as("min_hash"), max(col("h")).as("max_hash"),
        count(lit(1)).cast("int").as("n_shingles"))
      .select(col("doc_id"), col("min_hash"), col("max_hash"),
        col("n_shingles"), col("n_tokens"))
      .orderBy("doc_id").collect()
    val fast = graft.operators.Text.rollingFingerprintOn(docs).collect()
    assert(fast.toSeq === legacy.toSeq)
  }

  test("batched decoder path agrees with the expression decode pipeline") {
    val expr = graft.operators.Multimodal.decodePipeline(spark, sf0001).collect()
    val batched = graft.operators.Multimodal.decodeBatched(spark, sf0001).collect()
    assert(expr.toSeq === batched.toSeq)
  }

  test("vec_dot custom expression matches the HOF fold and works in SQL") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .select(col("vec_id"),
        transform(col("embedding"), _.cast("double")).as("v"))
    val hof = df.select(col("vec_id"),
      aggregate(zip_with(col("v"), col("v"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("d")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val custom = df.select(col("vec_id"),
      graft.operators.Hyperplanes.dot64(col("v"), col("v")).as("d")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(custom === hof, "codegen loop must be bit-identical to the HOF fold")

    // SQL surface: register into the live session (fresh sessions get this
    // via spark.sql.extensions=graft.functions.GraftExtensions)
    spark.sessionState.functionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier("vec_dot"),
      graft.functions.DotProduct.info,
      graft.functions.DotProduct.builder _)
    df.createOrReplaceTempView("vdot_t")
    val viaSql = spark.sql("SELECT vec_id, vec_dot(v, v) AS d FROM vdot_t")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(viaSql === hof)

    // mismatched lengths are NULL (like the HOF fold), not a partial sum
    val mism = spark.sql(
      "SELECT vec_dot(slice(v, 1, 32), v) AS d FROM vdot_t LIMIT 1").head
    assert(mism.isNullAt(0), "length mismatch must yield null")
    // a NULL ELEMENT nulls the dot too — getDouble on a null slot reads
    // 0.0 and would otherwise produce a plausible partial sum
    val nullElem = spark.sql(
      "SELECT vec_dot(array(1.0d, cast(null as double)), array(2.0d, 3.0d)) AS d")
      .head
    assert(nullElem.isNullAt(0), "null element must yield null, not 2.0")
    // wrong arity is a clear error, not IndexOutOfBounds
    val e = intercept[Exception] { spark.sql("SELECT vec_dot(1)").collect() }
    assert(e.getMessage.contains("2 arguments") ||
      Option(e.getCause).exists(_.getMessage.contains("2 arguments")))
  }

  test("custom expressions COMPILE under codegen, containsNull included " +
      "(r15 regression: brace bug silently dropped the vector family to " +
      "interpreted eval)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._

    // GenerateUnsafeProjection THROWS on a Janino failure; the query path
    // instead logs one line and silently falls back to interpreted eval —
    // exactly how the r15 `else <declaration>` bug shipped with all tests
    // green. This pins compilation itself, not just result values.
    def compiled(e: Expression) = GenerateUnsafeProjection.generate(Seq(e))

    // corpus embeddings are containsNull=true arrays — the branch that
    // was broken; assert the generated (not interpreted) code is also
    // semantically right for all three null shapes
    val dNull = ArrayType(DoubleType, containsNull = true)
    val dotNullable = compiled(graft.functions.DotProduct(
      BoundReference(0, dNull, nullable = true),
      BoundReference(1, dNull, nullable = true)))
    val plain = InternalRow(
      new GenericArrayData(Array(1.0, 2.0, 3.0)),
      new GenericArrayData(Array(4.0, 5.0, 6.0)))
    assert(dotNullable(plain).getDouble(0) === 32.0)
    val nullElem = InternalRow(
      new GenericArrayData(Array[Any](1.0, null, 3.0)),
      new GenericArrayData(Array[Any](4.0, 5.0, 6.0)))
    assert(dotNullable(nullElem).isNullAt(0),
      "generated code must null the dot on a null element")
    val mismatched = InternalRow(
      new GenericArrayData(Array(1.0, 2.0)),
      new GenericArrayData(Array(4.0, 5.0, 6.0)))
    assert(dotNullable(mismatched).isNullAt(0),
      "generated code must null the dot on a length mismatch")

    // containsNull=false keeps the branch-free loop — compile that shape too
    val dTight = ArrayType(DoubleType, containsNull = false)
    val dotTight = compiled(graft.functions.DotProduct(
      BoundReference(0, dTight, nullable = true),
      BoundReference(1, dTight, nullable = true)))
    assert(dotTight(plain).getDouble(0) === 32.0)

    // every sibling custom scalar expression compiles too
    compiled(graft.functions.MinHashes(
      BoundReference(0, ArrayType(LongType, containsNull = true),
        nullable = true), 8))
    compiled(graft.functions.SimHash64(
      BoundReference(0, StringType, nullable = true)))
    compiled(graft.functions.ShingleStats(
      BoundReference(0, StringType, nullable = true), 3))

    // vec_clean: the hoisted scan — clean arrays pass through unchanged,
    // a null element nulls the WHOLE vector, and its output type feeds
    // DotProduct's branch-free path (containsNull = false)
    val vc = graft.functions.VecClean(
      BoundReference(0, dNull, nullable = true))
    assert(vc.dataType === ArrayType(DoubleType, containsNull = false))
    val cleanProj = compiled(vc)
    val passed = cleanProj(InternalRow(
      new GenericArrayData(Array(1.0, 2.0, 3.0)))).getArray(0)
    assert((0 until 3).map(passed.getDouble) === Seq(1.0, 2.0, 3.0))
    assert(cleanProj(InternalRow(
      new GenericArrayData(Array[Any](1.0, null, 3.0)))).isNullAt(0),
      "a null element must null the whole cleaned vector")
    // composed: DotProduct over two cleaned children compiles with NO
    // per-dot scan (both children declare containsNull = false)
    val cleanedDot = compiled(graft.functions.DotProduct(
      graft.functions.VecClean(BoundReference(0, dNull, nullable = true)),
      graft.functions.VecClean(BoundReference(1, dNull, nullable = true))))
    assert(cleanedDot(plain).getDouble(0) === 32.0)
    assert(cleanedDot(nullElem).isNullAt(0),
      "a ragged vector must null the dot through the hoisted clean too")

    // vec_quant_stats (the riskiest generated shape here: primitives
    // boxed into an Object[] row): compiles behind vec_clean and the
    // generated values match the declared math
    val quant = compiled(graft.functions.VecQuantStats(
      graft.functions.VecClean(BoundReference(0, dNull, nullable = true))))
    val qRow = quant(InternalRow(
      new GenericArrayData(Array(1.0, -127.0, 64.0)))).getStruct(0, 3)
    assert(qRow.getDouble(0) === 1.0, "scale = max|x|/127 = 1.0")
    assert(qRow.getDouble(1) === 0.0,
      "integers quantize losslessly at scale 1.0")
    assert(qRow.getInt(2) === 3)
    assert(quant(InternalRow(
      new GenericArrayData(Array[Any](1.0, null, 3.0)))).isNullAt(0),
      "a ragged vector must null the stats through the hoisted clean")

    // vec_int8_codes: codes + scale through generated code; negative
    // halves round HALF-UP (floor(x/s + 0.5)), the cross-engine contract
    val codesExpr = compiled(graft.functions.VecInt8Codes(
      graft.functions.VecClean(BoundReference(0, dNull, nullable = true))))
    val cRow = codesExpr(InternalRow(
      new GenericArrayData(Array(1.0, -127.0, 63.5)))).getStruct(0, 2)
    assert(cRow.getDouble(0) === 1.0)
    val cArr = cRow.getArray(1)
    assert((0 until 3).map(cArr.getInt) === Seq(1, -127, 64),
      "63.5/1.0 rounds half-up to 64")
    assert(codesExpr(InternalRow(
      new GenericArrayData(Array(0.0, 0.0)))).isNullAt(0),
      "an all-zero vector has no scale and must yield null")
  }

  test("freq_items_sketch works from pure SQL with the extensions builder") {
    import spark.implicits._
    spark.sessionState.functionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier("freq_items_sketch"),
      graft.functions.FreqItemsSketch.info,
      graft.functions.FreqItemsSketch.builder _)
    // skewed stream: 'a' x60, 'b' x30, ten singletons; k=4 must track both
    // heavy items (each > n/(k+1) = 20) with est <= true <= est + n/(k+1)
    val toks = (Seq.fill(60)("a") ++ Seq.fill(30)("b") ++
      (0 until 10).map("rare" + _)).toDF("tok")
    toks.createOrReplaceTempView("fis_t")
    val m = spark.sql("SELECT freq_items_sketch(tok, 4) AS s FROM fis_t")
      .head.getMap[String, Long](0)
    assert(m.contains("a") && m.contains("b"),
      s"heavy items must survive the k-counter sketch, got $m")
    assert(m("a") <= 60 && m("a") >= 60 - 100 / 5, s"a bound: ${m("a")}")
    assert(m("b") <= 30 && m("b") >= 30 - 100 / 5, s"b bound: ${m("b")}")
    // the bare-AggregateFunction builder means the analyzer attaches
    // FILTER itself — a pre-wrapped AggregateExpression would reject this
    val f = spark.sql(
      "SELECT freq_items_sketch(tok, 4) FILTER (WHERE tok <> 'a') AS s FROM fis_t")
      .head.getMap[String, Long](0)
    assert(!f.contains("a") && f.contains("b"),
      s"FILTER must exclude 'a' from the sketch, got $f")
    // k must be a literal — a clear error, not a ClassCastException
    val e = intercept[Exception] {
      spark.sql("SELECT freq_items_sketch(tok, CAST(tok AS INT)) FROM fis_t")
        .collect()
    }
    assert(e.getMessage.contains("integer literal") ||
      Option(e.getCause).exists(_.getMessage.contains("integer literal")))
  }

  test("IVF ANN recall: top-10 overlaps brute-force top-10 substantially") {
    val exact = Similarity.cosineTopK(spark, sf0001, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivf(spark, sf0001, k = 10, nprobe = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // nprobe=3 of 10 lists; random 64-dim data gives weak cluster structure,
    // so demand a floor, not equality
    val overlap = (exact & ivf).size
    assert(overlap >= 3, s"IVF recall too low: $overlap/10 (exact=$exact ivf=$ivf)")
  }

  test("k-means codebook: deterministic, k cells, recall >= label codebook") {
    import graft.Tables
    val vecs = Tables.embeddings(spark, sf0001)
    val cb = Similarity.trainKMeans(vecs, k = 10, iters = 5, seed = 42L)
    val rows = cb.collect()
    assert(rows.length === 10, "one centroid per cell")
    assert(rows.forall(_.getSeq[Double](1).length === 64), "64-dim centroids")
    // determinism: identical seed → bit-identical codebook
    val cb2 = Similarity.trainKMeans(vecs, k = 10, iters = 5, seed = 42L)
    assert(cb.exceptAll(cb2).isEmpty && cb2.exceptAll(cb).isEmpty,
      "same seed must reproduce the codebook exactly")
    // a trained codebook must serve IVF at least as well as the fixture's
    // label means (the recall floor the label codebook is held to)
    val exact = Similarity.cosineTopK(spark, sf0001, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val labelIvf = Similarity.ivf(spark, sf0001, k = 10, nprobe = 3)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val probe = vecs.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0).map(_.toDouble).toSeq
    val trainedIvf = Similarity.ivfOn(
        vecs.filter(org.apache.spark.sql.functions.col("vec_id") =!= 0),
        k = 10, nprobe = 3, probeVec = probe, codebook = cb)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val labelRecall = (exact & labelIvf).size
    val trainedRecall = (exact & trainedIvf).size
    assert(trainedRecall >= 3 && trainedRecall >= labelRecall - 1,
      s"trained-codebook recall $trainedRecall/10 must not trail the label " +
        s"codebook's $labelRecall/10")
    // production shape: a (vec_id, embedding) frame WITHOUT a label column
    // works with a supplied codebook (label is only the fixture quantizer)
    val noLabel = Similarity.ivfOn(
        vecs.filter(org.apache.spark.sql.functions.col("vec_id") =!= 0)
          .select("vec_id", "embedding"),
        k = 10, nprobe = 3, probeVec = probe, codebook = cb)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(noLabel === trainedIvf,
      "a label-less frame must answer identically through a trained codebook")
    // the registry fixture runs end-to-end and honors the probe contract
    val fixture = Similarity.ivfTrained(spark, sf0001)
    assert(fixture.count() === 10)
    assert(!fixture.select("vec_id").collect().map(_.getLong(0)).contains(0L),
      "the probe vector itself must be excluded")
    spark.catalog.clearCache()
  }

  test("sampled k-means: fraction 0.1 trains a codebook that holds the recall floor") {
    import graft.Tables
    val vecs = Tables.embeddings(spark, sf0001)
    // the 100 TB posture: every Lloyd's pass touches only the hash-sample;
    // the corpus is assigned once against the trained codebook
    val cb = Similarity.trainKMeans(vecs, k = 10, iters = 5, seed = 42L,
      sampleFraction = 0.1)
    val rows = cb.collect()
    assert(rows.length === 10, "one centroid per cell (sample of ~50 >> k)")
    assert(rows.forall(_.getSeq[Double](1).length === 64))
    // determinism: sample membership is a row property (hash of vec_id), so
    // the same corpus + seed + fraction reproduces the codebook exactly
    val cb2 = Similarity.trainKMeans(vecs, k = 10, iters = 5, seed = 42L,
      sampleFraction = 0.1)
    assert(cb.exceptAll(cb2).isEmpty && cb2.exceptAll(cb).isEmpty,
      "same seed + fraction must reproduce the codebook exactly")
    // recall floor: the sampled codebook must serve IVF at the same floor
    // the full-corpus codebook is held to (>= 3/10 against brute force)
    val exact = Similarity.cosineTopK(spark, sf0001, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val probe = vecs.filter(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0).map(_.toDouble).toSeq
    val sampledIvf = Similarity.ivfOn(
        vecs.filter(org.apache.spark.sql.functions.col("vec_id") =!= 0),
        k = 10, nprobe = 3, probeVec = probe, codebook = cb)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val recall = (exact & sampledIvf).size
    assert(recall >= 3,
      s"sampled-codebook recall too low: $recall/10 (exact=$exact ivf=$sampledIvf)")
    // guard the contract edges: fraction must be validated
    intercept[IllegalArgumentException] {
      Similarity.trainKMeans(vecs, k = 10, sampleFraction = 0.0) }
    intercept[IllegalArgumentException] {
      Similarity.trainKMeans(vecs, k = 10, sampleFraction = 1.5) }
    spark.catalog.clearCache()
  }

  test("driver-side sampled k-means: deterministic, recall floor, " +
      "ragged guard (the bounded-sample trainer ivfTrained now uses)") {
    import graft.Tables
    import org.apache.spark.sql.functions.{col, expr}
    val vecs = Tables.embeddings(spark, sf0001)
    val cb = Similarity.trainKMeansLocal(vecs, k = 10, iters = 5, seed = 42L)
    val rows = cb.collect()
    assert(rows.length === 10, "one centroid per cell")
    assert(rows.forall(_.getSeq[Double](1).length === 64), "64-dim centroids")
    // determinism: the sample is a hash-ordered TakeOrdered and the
    // in-memory fold order is the sample order — bit-identical re-trains
    val cb2 = Similarity.trainKMeansLocal(vecs, k = 10, iters = 5, seed = 42L)
    assert(cb.exceptAll(cb2).isEmpty && cb2.exceptAll(cb).isEmpty,
      "same seed must reproduce the codebook exactly")
    // seeding identity with the distributed trainer: iters = 0 returns the
    // raw seeds, which are the SAME hash-ordered first k on both paths
    val seedsLocal = Similarity.trainKMeansLocal(vecs, k = 10, iters = 0)
    val seedsDist = Similarity.trainKMeans(vecs, k = 10, iters = 0)
    assert(seedsLocal.exceptAll(seedsDist).isEmpty &&
      seedsDist.exceptAll(seedsLocal).isEmpty,
      "both trainers must seed from the identical hash-ordered sample")
    // recall floor through IVF, same bar as the distributed trainer
    val exact = Similarity.cosineTopK(spark, sf0001, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val probe = vecs.filter(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0).map(_.toDouble).toSeq
    val ivf = Similarity.ivfOn(vecs.filter(col("vec_id") =!= 0),
        k = 10, nprobe = 3, probeVec = probe, codebook = cb)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((exact & ivf).size >= 3,
      s"local-trainer recall too low: ${(exact & ivf).size}/10")
    // contract edges: cap below k, ragged corpus
    intercept[IllegalArgumentException] {
      Similarity.trainKMeansLocal(vecs, k = 10, sampleCap = 5) }
    val ragged = vecs.withColumn("embedding",
      expr("CASE WHEN vec_id = 5 THEN slice(embedding, 1, 10) ELSE embedding END"))
    val ex = intercept[Exception] {
      Similarity.trainKMeansLocal(ragged, k = 4, iters = 2).collect() }
    assert(Option(ex.getMessage).exists(_.contains("ragged")),
      s"ragged guard must fire: ${ex.getMessage}")
  }

  test("pq_encode: codegen/interpreted bit-identity, nearest-subcentroid " +
      "semantics, ragged null") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    // m=2 subspaces, ksub=3 centroids, dsub=2: codebook laid out flat
    // [(j*ksub + c)*dsub + i]
    val cb = Seq(
      0.0, 0.0,   1.0, 0.0,   0.0, 1.0, // subspace 0
      5.0, 5.0,   -1.0, -1.0, 2.0, 2.0) // subspace 1
    val expr0 = graft.functions.PqEncode(
      BoundReference(0, ArrayType(DoubleType, containsNull = false),
        nullable = true), 2, 3, cb)
    val proj = GenerateUnsafeProjection.generate(Seq(expr0))
    def codesOf(v: Array[Double]): Seq[Int] = {
      // codes are BYTES (r19, the faiss production layout); read unsigned
      val gen = proj(InternalRow(new GenericArrayData(v))).getBinary(0)
      val genCodes = gen.map(_ & 0xFF).toSeq
      // interpreted eval must agree bit-for-bit with the generated code
      val interp = expr0.eval(InternalRow(new GenericArrayData(v)))
        .asInstanceOf[Array[Byte]]
      assert(interp.map(_ & 0xFF).toSeq === genCodes,
        "interpreted and generated encodings must be identical")
      genCodes
    }
    // subvector (0.9, 0.1) is nearest (1,0) → code 1; (2.1, 1.9) → (2,2) = 2
    assert(codesOf(Array(0.9, 0.1, 2.1, 1.9)) === Seq(1, 2))
    // exact centroid hits
    assert(codesOf(Array(0.0, 1.0, 5.0, 5.0)) === Seq(2, 0))
    // tie between (0,0) and (1,0) at (0.5, 0): strict < keeps the LOWER code
    assert(codesOf(Array(0.5, 0.0, -1.0, -1.0)) === Seq(0, 1))
    // ragged (length != m*dsub) → null, both paths
    val ragged = InternalRow(new GenericArrayData(Array(1.0, 2.0, 3.0)))
    assert(proj(ragged).isNullAt(0), "generated: ragged must yield null")
    assert(expr0.eval(ragged) === null, "interpreted: ragged must yield null")
    // malformed model is a loud constructor error
    intercept[IllegalArgumentException] {
      graft.functions.PqEncode(expr0.child, 2, 3, Seq(1.0, 2.0)) }
    intercept[IllegalArgumentException] {
      graft.operators.PqModel(2, 3, Array(1.0)) }
  }

  test("pq_encode_res: codegen/interpreted bit-identity, residual " +
      "semantics, out-of-range cell nulls") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
    // m=2, ksub=2, dsub=2 (dim 4); 2 coarse cells. Residual of v against
    // C[cell] must be what gets encoded.
    val pqCb = Seq(
      0.0, 0.0,   1.0, 1.0,  // subspace 0: codes 0 / 1
      0.0, 0.0,   -1.0, -1.0) // subspace 1
    val coarse = Seq(
      10.0, 10.0, 10.0, 10.0, // cell 0
      0.0, 0.0, 0.0, 0.0)     // cell 1 (origin: residual == v)
    val e = graft.functions.PqEncodeResidual(
      BoundReference(0, ArrayType(DoubleType, containsNull = false),
        nullable = true),
      BoundReference(1, IntegerType, nullable = true),
      coarse, 2, 2, pqCb)
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    def codesOf(v: Array[Double], cell: Int): Seq[Int] = {
      val row = InternalRow(new GenericArrayData(v), cell)
      val gen = proj(row).getBinary(0)
      val genCodes = gen.map(_ & 0xFF).toSeq
      val interp = e.eval(row).asInstanceOf[Array[Byte]]
      assert(interp.map(_ & 0xFF).toSeq === genCodes,
        "interpreted and generated residual encodings must be identical")
      genCodes
    }
    // cell 0: residual of (10.9, 10.9, 9.2, 9.2) is (0.9, 0.9, -0.8,
    // -0.8) → nearest (1,1) then (-1,-1) → codes (1, 1)
    assert(codesOf(Array(10.9, 10.9, 9.2, 9.2), 0) === Seq(1, 1))
    // cell 1 (origin): residual == v, so it must agree with plain
    // pq_encode on the same codebook
    val plain = graft.functions.PqEncode(
      BoundReference(0, ArrayType(DoubleType, containsNull = false),
        nullable = true), 2, 2, pqCb)
    val v2 = Array(0.9, 0.9, -0.2, -0.2)
    val plainCodes = plain.eval(InternalRow(new GenericArrayData(v2)))
      .asInstanceOf[Array[Byte]].map(_ & 0xFF).toSeq
    assert(codesOf(v2, 1) === plainCodes,
      "origin-cell residual encoding must equal plain encoding")
    // out-of-range cell and ragged vector → null, both paths
    val oob = InternalRow(new GenericArrayData(Array(1.0, 2.0, 3.0, 4.0)), 7)
    assert(proj(oob).isNullAt(0) && e.eval(oob) === null,
      "out-of-range cell must yield null")
    val ragged = InternalRow(new GenericArrayData(Array(1.0, 2.0)), 0)
    assert(proj(ragged).isNullAt(0) && e.eval(ragged) === null,
      "ragged vector must yield null")
  }

  test("residual IVF-PQ: recall floor, determinism, trained-IVF window " +
      "identity, codebook-pairing guard") {
    import graft.Tables
    import org.apache.spark.sql.functions.col
    val exact = Similarity.cosineTopK(spark, sf0001, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val fixture = Similarity.ivfPqResidual(spark, sf0001, k = 10, nprobe = 3)
    val got = fixture.collect()
    assert(got.length === 10)
    assert(!got.map(_.getLong(0)).contains(0L), "probe must be excluded")
    val recall = (exact & got.map(_.getLong(0)).toSet).size
    assert(recall >= 3, s"residual IVF-PQ recall too low: $recall/10")
    val again = Similarity.ivfPqResidual(spark, sf0001, k = 10, nprobe = 3)
      .collect()
    assert(got.map(_.toString).toSeq === again.map(_.toString).toSeq,
      "residual IVF-PQ must be deterministic run-to-run")
    // corpus-covering rerank reduces to trained IVF exactly, same as the
    // non-residual path (the ADC order inside the window is irrelevant)
    val vecs = Tables.embeddings(spark, sf0001).filter(col("vec_id") =!= 0)
    val probe = Tables.embeddings(spark, sf0001).filter(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0).map(_.toDouble).toSeq
    val (coarse, pq) = Similarity.ivfPqTrain(vecs, byResidual = true)
    assert(pq.residual, "ivfPqTrain(byResidual) must mark the model")
    val encoded = Similarity.pqEncodeOn(vecs, coarse, pq)
    val widePq = Similarity.ivfPqSearch(encoded, vecs, probe, coarse, pq,
        k = 10, nprobe = 3, rerank = 500)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val coarseIvf = Similarity.ivfOn(vecs, k = 10, nprobe = 3,
        probeVec = probe, codebook = coarse)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(widePq === coarseIvf,
      "a corpus-covering rerank must reduce residual IVF-PQ to trained IVF")
    // pairing guard: a residual model must refuse a different coarse
    // codebook (here: the label-means codebook instead of the trained one)
    val otherCb = Similarity.trainKMeansLocal(vecs, k = 5, iters = 2)
    val ex = intercept[IllegalArgumentException] {
      Similarity.pqEncodeOn(vecs, otherCb, pq)
    }
    assert(ex.getMessage.contains("DIFFERENT coarse codebook"),
      s"pairing guard must fire: ${ex.getMessage}")
    spark.catalog.clearCache()
  }

  test("IVF-PQ: recall floor vs brute force, determinism, probe excluded, " +
      "search reads codes not vectors") {
    import graft.Tables
    import org.apache.spark.sql.functions.col
    val exact = Similarity.cosineTopK(spark, sf0001, k = 10)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val fixture = Similarity.ivfPq(spark, sf0001, k = 10, nprobe = 3)
    val got = fixture.collect()
    assert(got.length === 10)
    assert(!got.map(_.getLong(0)).contains(0L),
      "the probe vector itself must be excluded")
    // ADC + exact rerank must hold the family's recall floor (losses come
    // only from coarse-list misses — the q_sim_ivf exposure — or a true
    // neighbor ranked below the ADC rerank window; measured at the 8×32
    // default the PQ path returns the trained-IVF answer verbatim)
    val recall = (exact & got.map(_.getLong(0)).toSet).size
    assert(recall >= 3, s"IVF-PQ recall too low: $recall/10")
    // the artifact's own recall evidence column agrees
    assert(got.count(_.getAs[Boolean]("in_exact_topk")) === recall)
    // determinism: trainers are hash-ordered and ADC is map-side literal
    // arithmetic — two runs produce identical rows
    val again = Similarity.ivfPq(spark, sf0001, k = 10, nprobe = 3).collect()
    assert(got.map(_.toString).toSeq === again.map(_.toString).toSeq,
      "IVF-PQ must be deterministic run-to-run")
    // storage/search split: encode to parquet, search from the parquet —
    // the search scan must read codes and never the embedding column
    val vecs = Tables.embeddings(spark, sf0001).filter(col("vec_id") =!= 0)
    val probe = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0).map(_.toDouble).toSeq
    val coarse = Similarity.trainKMeansLocal(vecs,
      k = Similarity.IvfTrainedCells, iters = Similarity.IvfTrainedIters,
      sampleCap = Similarity.IvfTrainedSampleCap)
    val pq = Similarity.trainPqLocal(vecs)
    val dir = tempDir("pq_codes")
    Similarity.pqEncodeOn(vecs, coarse, pq).write.mode("overwrite").parquet(dir)
    val encoded = spark.read.parquet(dir)
    val fromCodes = Similarity.ivfPqSearch(encoded, vecs, probe, coarse, pq,
      k = 10, nprobe = 3, rerank = 64)
    // plan evidence: the candidate side scans the codes table (no
    // embedding column anywhere in its ReadSchema)
    val plan = fromCodes.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val codesRead = plan.linesIterator
      .filter(_.contains("ReadSchema")).toSeq
    assert(codesRead.exists(_.contains("codes")),
      s"search must scan the stored codes:\n$plan")
    assert(codesRead.count(_.contains("embedding")) <= 1,
      s"only the rerank point-fetch may touch vector bytes:\n$plan")
    // and the stored-table path answers identically to the inline path
    val inline = Similarity.ivfPqOn(vecs, k = 10, nprobe = 3, probeVec = probe)
    assert(fromCodes.collect().map(_.toString).toSeq ===
      inline.collect().map(_.toString).toSeq,
      "parquet-stored codes must answer identically to inline encoding")
    // EXACTNESS identity: probing every list with a rerank window covering
    // the corpus must reproduce brute-force top-k exactly — proves the
    // ADC → rerank pipeline loses nothing beyond its declared windows
    val full = Similarity.ivfPqOn(vecs, k = 10,
        nprobe = Similarity.IvfTrainedCells, probeVec = probe, rerank = 500)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(full === exact,
      s"nprobe=all + rerank=corpus must equal brute force: $full vs $exact")
    // window identity: at a corpus-covering rerank the PQ path answers
    // exactly what trained IVF answers on the same codebook (the ADC
    // order inside the window is irrelevant once the window covers it)
    val coarseIvf = Similarity.ivfOn(vecs, k = 10, nprobe = 3,
        probeVec = probe, codebook = coarse)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val widePq = Similarity.ivfPqSearch(encoded, vecs, probe, coarse, pq,
        k = 10, nprobe = 3, rerank = 500)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(widePq === coarseIvf,
      "a corpus-covering rerank window must reduce IVF-PQ to trained IVF")
    // contract edges
    intercept[IllegalArgumentException] {
      Similarity.ivfPqSearch(encoded, vecs, probe, coarse, pq,
        k = 10, nprobe = 3, rerank = 5) } // rerank < k
    intercept[IllegalArgumentException] {
      Similarity.trainPqLocal(vecs, m = 7) } // 64 % 7 != 0
    spark.catalog.clearCache()
  }

  test("pq_adc: codegen/interpreted bit-identity; unsigned byte reads; " +
      "length guard") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.BinaryType
    // m=2, ksub=256: lut[j*256 + c]; code byte 0xFF must read as 255,
    // not -1 — the unsigned contract the byte layout depends on
    val lut = Array.tabulate(2 * 256)(i => i * 0.5)
    val e = graft.functions.PqAdc(
      BoundReference(0, BinaryType, nullable = true), 2, 256, lut.toSeq)
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    def score(codes: Array[Byte]): Double = {
      val row = InternalRow(codes)
      val gen = proj(row).getDouble(0)
      assert(e.eval(row).asInstanceOf[Double] === gen,
        "interpreted and generated ADC must be identical")
      gen
    }
    assert(score(Array(0x00.toByte, 0x00.toByte)) ===
      lut(0) + lut(256))
    assert(score(Array(0xFF.toByte, 0x01.toByte)) ===
      lut(255) + lut(256 + 1), "0xFF must index 255, not -1")
    // wrong code length → null, both paths
    val bad = InternalRow(Array[Byte](1))
    assert(proj(bad).isNullAt(0) && e.eval(bad) === null)
    // a code >= ksub means the codes were produced by a DIFFERENT
    // quantizer than the serving model — loud, not a raw AIOOBE
    val small = graft.functions.PqAdc(
      BoundReference(0, BinaryType, nullable = true), 2, 32,
      Array.fill(64)(0.0).toSeq)
    val smallProj = GenerateUnsafeProjection.generate(Seq(small))
    val mismatch = InternalRow(Array(0xFF.toByte, 0x00.toByte))
    for (run <- Seq(() => smallProj(mismatch), () => small.eval(mismatch))) {
      val ex = intercept[Exception] { run() }
      val msg = Option(ex.getMessage).getOrElse("") +
        Option(ex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
      assert(msg.contains("DIFFERENT quantizer"), s"got: $ex")
    }
    intercept[IllegalArgumentException] {
      graft.functions.PqAdc(e.child, 2, 256, Seq(1.0)) } // lut size
    intercept[IllegalArgumentException] {
      graft.functions.PqAdc(e.child, 2, 257, lut.toSeq) } // ksub > 256
  }

  test("IVF-PQ at production ksub=256: byte codes hold the exactness " +
      "identity") {
    import org.apache.spark.sql.functions.col
    val vecs = Tables.embeddings(spark, sf0001).filter(col("vec_id") =!= 0)
    val probe = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>"))
      .head.getSeq[Double](0).toSeq
    val exact = Similarity.cosineTopKOn(vecs, 10, probe)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // ksub=256 needs >= 256 sampled vectors per subspace — the sf0.001
    // corpus (499 usable) covers it; one byte per subspace still encodes
    val full = Similarity.ivfPqOn(vecs, k = 10,
        nprobe = Similarity.IvfTrainedCells, probeVec = probe,
        ksub = 256, rerank = 500)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(full === exact,
      s"ksub=256: nprobe=all + rerank=corpus must equal brute force")
    // ksub > 256 cannot fit a byte — loud, at the encoder constructor
    intercept[IllegalArgumentException] {
      graft.functions.PqEncode(
        org.apache.spark.sql.GraftSqlBridge.expression(col("embedding")),
        8, 300, Array.fill(8 * 300 * 8)(0.0).toSeq)
    }
  }

  test("media functions register on the SQL surface (GraftExtensions)") {
    import org.apache.spark.sql.functions.col
    spark.sessionState.functionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier("media_header_parse"),
      graft.functions.MediaHeaderParse.info,
      graft.functions.MediaHeaderParse.builder _)
    spark.sessionState.functionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier("media_body_stats"),
      graft.functions.MediaBodyStats.info,
      graft.functions.MediaBodyStats.builder _)
    graft.operators.Multimodal.mediaFixture(Tables.documents(spark, sf0001))
      .createOrReplaceTempView("media_t")
    val r = spark.sql(
      """SELECT media_header_parse(payload).width AS w,
        |       media_body_stats(payload, 7).n_samples AS n
        |FROM media_t WHERE doc_id % 97 <> 0 LIMIT 1""".stripMargin).head
    assert(r.getInt(0) >= 64 && r.getInt(1) > 0)
    // SQL and the column API run the SAME expression — per-doc identity
    val viaSql = spark.sql(
      """SELECT doc_id, media_body_stats(payload, 7).sum_amp AS s
        |FROM media_t WHERE doc_id <= 20 ORDER BY doc_id""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaApi = graft.operators.Multimodal
      .mediaFixture(Tables.documents(spark, sf0001)
        .filter(col("doc_id") <= 20))
      .select(col("doc_id"), org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.MediaBodyStats(
          org.apache.spark.sql.GraftSqlBridge.expression(col("payload")),
          7)).getField("sum_amp").as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaSql === viaApi, "SQL and column-API body stats must agree")
    // a non-literal stride is a clear analysis-time error
    val e = intercept[Exception] {
      spark.sql("SELECT media_body_stats(payload, CAST(doc_id AS INT)) " +
        "FROM media_t").collect()
    }
    assert(e.getMessage.contains("integer literal") ||
      Option(e.getCause).exists(_.getMessage.contains("integer literal")))
  }

  test("k-means rejects ragged embeddings loudly (no silent centroid bias)") {
    // sum(v[i]) skips a short vector's null dims while count() still counts
    // the row — without the guard a ragged corpus silently skews the
    // codebook; the contract is fail-loud
    import org.apache.spark.sql.functions.{col, expr}
    val vecs = Tables.embeddings(spark, sf0001)
      .withColumn("embedding",
        expr("CASE WHEN vec_id = 5 THEN slice(embedding, 1, 10) ELSE embedding END"))
    val ex = intercept[Exception] {
      Similarity.trainKMeans(vecs, k = 4, iters = 2, seed = 42L).collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("ragged") || msg.contains("size"),
      s"expected the ragged-embedding guard to fire, got: $msg")
    // and an untouched corpus still trains fine through the guarded path
    assert(Similarity.trainKMeans(Tables.embeddings(spark, sf0001),
      k = 4, iters = 1, seed = 42L).count() === 4L)
    // a NULL embedding is MISSING data, not partial data: it is excluded
    // from training (the zero/null-norm filter — SQL-aggregate-style null
    // skipping) rather than failing the run the way ragged vectors do
    val nulled = Tables.embeddings(spark, sf0001)
      .withColumn("embedding",
        expr("CASE WHEN vec_id = 5 THEN NULL ELSE embedding END"))
    assert(Similarity.trainKMeans(nulled, k = 4, iters = 2, seed = 42L)
      .count() === 4L, "null embeddings are skipped, not fatal")
    // a NaN component has no place in the cosine order: the assignment
    // must fail naming the cell, not rank it first and pull every later
    // row into that cell
    val nan = Tables.embeddings(spark, sf0001)
      .withColumn("embedding", expr(
        "CASE WHEN vec_id = 5 THEN concat(array(CAST('NaN' AS FLOAT)), " +
          "slice(embedding, 2, size(embedding) - 1)) ELSE embedding END"))
    val nanEx = intercept[Exception] {
      Similarity.trainKMeans(nan, k = 4, iters = 2, seed = 42L).collect()
    }
    val nanMsgs = Iterator.iterate[Throwable](nanEx)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(nanMsgs.contains("coarse_argmax: the similarity to coarse cell"),
      s"expected CoarseArgmax's NaN guard to fire, got: $nanMsgs")
  }

  test("brute-force cosine top-k dominates the ANN shortlist (recall sanity)") {
    val exact = Similarity.cosineTopK(spark, sf0001, k = 20)
      .select("vec_id", "cosine").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ann = Similarity.annLsh(spark, sf0001, k = 10)
      .select("vec_id", "cosine").collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    // ANN returns true cosines for its candidates; none may exceed the best
    // exact cosine, and every ANN hit that IS in the exact top-20 must agree
    val bestExact = exact.values.max
    ann.foreach { case (id, c) =>
      assert(c <= bestExact + 1e-9)
      exact.get(id).foreach(e => assert(math.abs(e - c) < 1e-9))
    }
  }

  test("min_hashes codegen loop is bit-identical to the HOF formulation") {
    val n = 32
    val hs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"),
        transform(split(col("text"), " "), t => xxhash64(t)).as("hs"))
    val hof = hs.select(col("doc_id"), array((0 until n).map { i =>
        array_min(transform(col("hs"), h => xxhash64(lit(i), h)))
      }: _*).as("sig")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    val custom = hs.select(col("doc_id"),
        org.apache.spark.sql.GraftSqlBridge.column(
          graft.functions.MinHashes(
            org.apache.spark.sql.GraftSqlBridge.expression(col("hs")), n))
          .as("sig")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
    assert(custom === hof)
    // empty array → n null minima, like array_min([])
    val empty = spark.sql("SELECT 1").select(
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.MinHashes(
          org.apache.spark.sql.GraftSqlBridge.expression(
            array().cast("array<bigint>")), n)).as("sig")).head.getSeq[Any](0)
    assert(empty.length === n && empty.forall(_ == null))

    // null ELEMENT exercises the isNullAt branch of the generated loop:
    // a hash expression skips null children, so the candidate is the bare
    // seed — same as the HOF's xxhash64(lit(i), null)
    val withNull = spark.range(1).select(
      array(lit(7L), lit(null).cast("bigint")).as("hs"))
    val hofNull = withNull.select(array((0 until n).map { i =>
        array_min(transform(col("hs"), h => xxhash64(lit(i), h)))
      }: _*).as("sig")).head.getSeq[Any](0)
    val customNull = withNull.select(
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.MinHashes(
          org.apache.spark.sql.GraftSqlBridge.expression(col("hs")), n))
        .as("sig")).head.getSeq[Any](0)
    assert(customNull === hofNull)

    // SQL surface via the extensions builder (count must be a literal)
    spark.sessionState.functionRegistry.registerFunction(
      new org.apache.spark.sql.catalyst.FunctionIdentifier("min_hashes"),
      graft.functions.MinHashes.info,
      graft.functions.MinHashes.builder _)
    val viaSql = spark.sql(
      "SELECT min_hashes(array(CAST(7 AS BIGINT)), 4) AS sig").head.getSeq[Any](0)
    val expected = spark.sql(
      """SELECT array(min(xxhash64(0, h)), min(xxhash64(1, h)),
        |             min(xxhash64(2, h)), min(xxhash64(3, h))) AS sig
        |FROM (SELECT CAST(7 AS BIGINT) AS h)""".stripMargin)
      .head.getSeq[Any](0)
    assert(viaSql === expected)
    val err = intercept[Exception] {
      spark.sql("SELECT min_hashes(array(CAST(7 AS BIGINT)))").collect()
    }
    assert(err.getMessage.contains("2 arguments") ||
      Option(err.getCause).exists(_.getMessage.contains("2 arguments")))
  }

  test("literal-probe overloads agree with the corpus-lookup fixture path") {
    // feed vec 0's own embedding as the literal probe: the parameterized
    // plan (no corpus lookup, nothing excluded) must return the fixture
    // result plus possibly vec 0 itself at cosine 1
    val p = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .where(col("vec_id") === 0).select("embedding").head
      .getSeq[Any](0).map(x => x.toString.toDouble)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cosine").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val fix = rows(Similarity.cosineTopK(spark, sf0001, k = 10))
    val lit = rows(Similarity.cosineTopK(spark, sf0001, k = 11, probeVec = p))
    assert(lit(0L) === 1.0, "probe matches itself at cosine 1")
    assert((lit - 0L) === fix, "non-self results must be identical")
    val fixAnn = rows(Similarity.annLsh(spark, sf0001, k = 10))
    val litAnn = rows(Similarity.annLsh(spark, sf0001, 11, 4, probeVec = p))
    assert((litAnn - 0L) === fixAnn)
  }

  test("substringDup equals driver-side brute force; exact dup docs score 1.0") {
    // brute force: per-doc distinct 3-gram sets, gram -> containing-doc
    // count, per-doc duplicated fraction (test-only driver loop)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
      .filter(_._2.length >= 3)
      .map { case (id, tk) => id -> tk.sliding(3).map(_.mkString(" ")).toSet }
    val docFreq = docs.flatMap(_._2).groupBy(identity).map { case (g, o) => g -> o.size }
    val expected = docs.map { case (id, grams) =>
      val dup = grams.count(g => docFreq(g) >= 2)
      id -> ((grams.size.toLong, dup.toLong,
        BigDecimal(dup.toDouble / grams.size)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toMap
    val got = Dedup.substringDup(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (id, (n, dup, frac, keep)) =>
      val (en, edup, efrac) = expected(id)
      assert(n === en, s"doc $id gram count")
      assert(dup === edup, s"doc $id dup-gram count")
      assert(math.abs(frac - efrac) <= 1e-9, s"doc $id dup fraction")
      assert(keep === (frac < 0.8), s"doc $id keep flag derives from dup_frac")
    }
    // an exact duplicate pair saturates both docs' fractions at 1.0
    val twin = spark.createDataFrame(Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "zeta eta theta iota kappa")))
      .toDF("doc_id", "text")
    val tw = Dedup.substringDupOn(twin).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(tw(1L) === 1.0 && tw(2L) === 1.0)
    assert(tw(3L) === 0.0)
  }

  test("equi-depth histogram: hand-computed quartiles, edge-equal rows " +
      "bin down, shares sum to 1") {
    import graft.operators.Quantiles
    // x = 1..16, bins = 4: edges at t = p·15 → 4.75 / 8.5 / 12.25, so the
    // quartile bins each hold exactly 4 rows
    val df = spark.createDataFrame((1 to 16).map(i => ("a", i.toDouble)))
      .toDF("grp", "x")
    val got = Quantiles.histogramEqDepthOn(df, bins = 4).collect()
      .map(r => r.getInt(1) -> ((r.getLong(2), r.getDouble(3),
        if (r.isNullAt(4)) Double.NaN else r.getDouble(4))))
      .toMap
    assert(got(0) === ((4L, 0.25, 4.75)))
    assert(got(1) === ((4L, 0.25, 8.5)))
    assert(got(2) === ((4L, 0.25, 12.25)))
    assert(got(3)._1 === 4L && got(3)._2 === 0.25 && got(3)._3.isNaN)
    // edge-equal rows bin DOWN: with x = (1,1,1,2), the median edge IS 1.0
    // and all three 1s land in the low bins, the single 2 above
    val ties = spark.createDataFrame(
      Seq(("a", 1.0), ("a", 1.0), ("a", 1.0), ("a", 2.0))).toDF("grp", "x")
    val t2 = Quantiles.histogramEqDepthOn(ties, bins = 2).collect()
      .map(r => r.getInt(1) -> r.getLong(2)).toMap
    assert(t2(0) === 3L && t2(1) === 1L,
      s"rows equal to the median edge must bin down: $t2")
    intercept[IllegalArgumentException] {
      Quantiles.histogramEqDepthOn(df, bins = 1) }
    intercept[IllegalArgumentException] {
      Quantiles.histogramEqDepthOn(df, bins = 100) }
  }

  test("spanScrub: hand-computed spans, multi-run docs, short-doc zeros, " +
      "within-doc repeats don't self-duplicate") {
    // d1/d2 share "a b c" and "b c d" (df=2): d1 grams 0,1 duplicated →
    // tokens 0-3 covered, ONE run of 4; chars = |a|+|b|+|c|+|d| + 3
    // internal spaces = 7. d2 symmetric (positions 1,2 → tokens 1-4).
    // d5 has TWO separated duplicated runs ("a b c" at 0, "b c d" at 7);
    // its own "z z z" repeats WITHIN the doc only (df=1) → not duplicated.
    // d3 is sub-3-token (no grams), d4 is unique — both all-zero.
    val docs = spark.createDataFrame(Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d y"),
      (3L, "one two"),
      (4L, "p q r s"),
      (5L, "a b c z z z z b c d")))
      .toDF("doc_id", "text")
    val got = Dedup.spanScrubOn(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(got(1L) === ((6L, 4L, 1L, 7L, 0.6667)))
    assert(got(2L) === ((6L, 4L, 1L, 7L, 0.6667)))
    assert(got(3L) === ((2L, 0L, 0L, 0L, 0.0)))
    assert(got(4L) === ((4L, 0L, 0L, 0L, 0.0)))
    assert(got(5L) === ((10L, 6L, 2L, 10L, 0.6)))
    // whole-doc duplication covers every token in one run: chars_removed
    // equals the full text length (excising the run deletes everything)
    val twin = spark.createDataFrame(Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta")))
      .toDF("doc_id", "text")
    val tw = Dedup.spanScrubOn(twin).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(tw(1L) === ((4L, 1L, "alpha beta gamma delta".length.toLong)))
    assert(tw(1L) === tw(2L))
    // contract edge
    intercept[IllegalArgumentException] { Dedup.spanScrubOn(docs, minDf = 0) }
  }

  test("spanScrub equals driver-side brute force on the fixture corpus") {
    // brute force: positional 3-grams, df over containing docs, covered
    // positions, maximal runs — an independent reimplementation in plain
    // Scala (test-only driver loop over sf0.001's 500 docs)
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toIndexedSeq))
    val df = scala.collection.mutable.HashMap.empty[String, Set[Long]]
    for ((id, tk) <- docs; i <- 0 to tk.length - 3) {
      val g = s"${tk(i)} ${tk(i + 1)} ${tk(i + 2)}"
      df(g) = df.getOrElse(g, Set.empty) + id
    }
    val expected = docs.map { case (id, tk) =>
      val covered = scala.collection.mutable.SortedSet.empty[Int]
      for (i <- 0 to tk.length - 3
           if df(s"${tk(i)} ${tk(i + 1)} ${tk(i + 2)}").size >= 2)
        covered ++= Seq(i, i + 1, i + 2)
      val runs = covered.toSeq.foldLeft((0, -2)) { case ((n, prev), t) =>
        (if (t == prev + 1) n else n + 1, t) }._1
      val chars = covered.toSeq.map(t => tk(t).length).sum +
        covered.size - runs
      id -> ((tk.length.toLong, covered.size.toLong, runs.toLong,
        (if (covered.isEmpty) 0L else chars.toLong)))
    }.toMap
    val got = Dedup.spanScrub(spark, sf0001).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (id, v) =>
      assert(v === expected(id), s"doc $id span stats diverge from brute force")
    }
    spark.catalog.clearCache()
  }

  test("equi-depth histogram invariants on the fixture: counts sum to n, " +
      "shares to ~1, bins ordered by their edges") {
    import graft.operators.Quantiles
    val got = Quantiles.histogramEqDepth(spark, sf0001).collect()
    val n = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got.groupBy(_.getString(0)).foreach { case (grp, rows) =>
      assert(rows.map(_.getLong(2)).sum === n(grp),
        s"group $grp: bin counts must sum to the group size")
      val shares = rows.map(_.getDouble(3)).sum
      assert(math.abs(shares - 1.0) < 0.01,
        s"group $grp: shares must sum to ~1 (got $shares)")
      val his = rows.sortBy(_.getInt(1)).flatMap(r =>
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))
      assert(his.sameElements(his.sorted),
        s"group $grp: bin upper edges must be non-decreasing")
    }
    spark.catalog.clearCache()
  }

  test("cosine paths tolerate zero vectors: excluded, not DIVIDE_BY_ZERO") {
    import spark.implicits._
    import graft.operators.{Dedup, Similarity}
    val dim = 64
    def vec(seed: Int) = Array.tabulate(dim)(j => ((seed * 31 + j) % 7 - 3).toFloat)
    val vecs = (Seq((0L, vec(1)), (1L, vec(2)), (2L, Array.fill(dim)(0.0f)),
      (3L, Array.fill(dim)(0.0f)), (4L, vec(3))))
      .toDF("vec_id", "embedding")
      .withColumn("label", org.apache.spark.sql.functions.lit("x"))
    val probe = Seq.tabulate(dim)(j => (j % 5 - 2).toDouble)
    // brute force, LSH, kNN join, and embed dedup all run to completion
    // with the zero vectors simply absent from scoring
    val topk = Similarity.cosineTopKOn(vecs, k = 10, probe).collect()
    assert(topk.map(_.getLong(0)).toSet == Set(0L, 1L, 4L))
    val ann = Similarity.annLshOn(vecs, k = 10, tables = 4, probe).collect()
    assert(!ann.map(_.getLong(0)).toSet.exists(Set(2L, 3L)))
    val knn = Similarity.knnJoinOn(
      vecs.select("vec_id", "embedding"),
      vecs.filter($"vec_id" === 0L).select("vec_id", "embedding"), k = 3)
      .collect()
    assert(knn.nonEmpty && !knn.map(_.getLong(1)).contains(2L))
    val pairs = Dedup.embedCosineOn(vecs.select("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairs.exists(p => Set(p._1, p._2).exists(Set(2L, 3L))),
      "the two zero vectors must not pair with anything (incl. each other)")
    // and a zero PROBE fails loudly with an actionable message
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineTopKOn(vecs, 5, Seq.fill(dim)(0.0))
    }
    assert(e.getMessage.contains("zero probe"))
  }

  test("salted join is salt-count invariant and equals the plain join") {
    import graft.operators.Relational
    def run(n: Int) = Relational.joinSalted(spark, sf0001, nSalts = n)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    val salted = run(8)
    assert(salted == run(1), "replicate-and-salt must not change the result")
    val plain = Tables.events(spark, sf0001)
      .join(Tables.customer(spark, sf0001),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"), Norm.dsum2(col("value")).as("sum_value"))
      .orderBy("c_mktsegment")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(salted == plain, "salting must be invisible in the result set")
  }

  test("event gaps match a hand-computed fixture incl. the single-event user") {
    import spark.implicits._
    import graft.operators.TimeOps
    val h = 3600L * 1000
    // user 1: gaps of 10 s and 7 h (one long); user 2: one event, no gaps
    val ev = Seq(
      (1L, 1L, 0L), (2L, 1L, 10000L), (3L, 1L, 10000L + 7 * h),
      (4L, 2L, 500L))
      .toDF("event_id", "user_id", "ts_ms")
    val got = TimeOps.eventGapsOn(ev, longGapMs = 6 * h).collect()
      .map(r => r.getLong(0) -> r).toMap
    val u1 = got(1L)
    assert(u1.getLong(1) == 3 && u1.getLong(2) == 2 && u1.getLong(3) == 1)
    assert(u1.getLong(4) == 7 * h)
    assert(u1.getDouble(5) == (10000.0 + 7 * h) / 2)
    val u2 = got(2L)
    assert(u2.getLong(1) == 1 && u2.getLong(2) == 0 && u2.getLong(3) == 0)
    assert(u2.isNullAt(4) && u2.isNullAt(5),
      "a single-event user has no gaps: max/avg must be null")
  }

  test("media_header_parse: codegen/interpreted bit-identity, full-range " +
      "LE assembly, corrupt/short payloads row not null, null payload null") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.BinaryType
    val expr0 = graft.functions.MediaHeaderParse(
      BoundReference(0, BinaryType, nullable = true))
    val proj = GenerateUnsafeProjection.generate(Seq(expr0))
    def mk(m0: Int, m1: Int, version: Int, channels: Int, width: Int,
        height: Int, frames: Int, body: Array[Byte]): Array[Byte] = {
      val buf = java.nio.ByteBuffer.allocate(14 + body.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put(m0.toByte).put(m1.toByte).put(version.toByte)
        .put(channels.toByte).putInt(width).putInt(height)
        .putShort(frames.toShort).put(body)
      buf.array()
    }
    def parse(b: Array[Byte]): (Boolean, Int, Int, Int, Int, Int) = {
      val gen = proj(InternalRow(b)).getStruct(0, 6)
      val g = (gen.getBoolean(0), gen.getInt(1), gen.getInt(2),
        gen.getInt(3), gen.getInt(4), gen.getInt(5))
      // interpreted eval must agree bit-for-bit with the generated code
      val it = expr0.eval(InternalRow(b)).asInstanceOf[InternalRow]
      assert((it.getBoolean(0), it.getInt(1), it.getInt(2), it.getInt(3),
        it.getInt(4), it.getInt(5)) === g,
        "interpreted and generated parses must be identical")
      g
    }
    // full-range little-endian assembly: every width/height byte distinct
    // (catches any offset or endianness slip), frames at the uint16 max,
    // channels at the uint8 max
    assert(parse(mk('G', 'M', 1, 255, 0x12345678, 0x0A0B0C0D, 0xFFFF,
      "xyz".getBytes("UTF-8"))) ===
      ((true, 255, 0x12345678, 0x0A0B0C0D, 0xFFFF, 3)))
    // header-only payload is valid with an empty body
    assert(parse(mk('G', 'M', 1, 3, 640, 480, 1, Array.empty)) ===
      ((true, 3, 640, 480, 1, 0)))
    // corrupt magic / wrong version / truncated header → ok=false ROW
    // (countable), never null
    assert(parse(mk('X', 'X', 1, 3, 640, 480, 1, Array.empty)) ===
      ((false, 0, 0, 0, 0, 0)))
    assert(parse(mk('G', 'M', 2, 3, 640, 480, 1, Array.empty)) ===
      ((false, 0, 0, 0, 0, 0)))
    assert(parse(Array[Byte](0x47, 0x4D, 0x01)) === ((false, 0, 0, 0, 0, 0)))
    assert(parse(Array.empty[Byte]) === ((false, 0, 0, 0, 0, 0)))
    // null payload → null struct, both paths
    assert(proj(InternalRow(null)).isNullAt(0), "generated: null payload")
    assert(expr0.eval(InternalRow(null)) === null, "interpreted: null payload")
  }

  test("multimodal parse: fixture-wide brute force from doc columns; " +
      "batched ByteBuffer path ≡ expression path") {
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, sf0001)
    val media = Multimodal.mediaFixture(docs)
    val viaExpr = Multimodal.parseOn(media).collect()
    // the mapPartitions/ByteBuffer parser (the real-decoder plumbing) must
    // agree with the codegen expression on every aggregate cell
    val viaBatch = Multimodal.parseBatched(media).collect()
    assert(viaExpr.map(_.toSeq).toSeq === viaBatch.map(_.toSeq).toSeq,
      "batched and expression parse pipelines must agree exactly")
    // brute force: re-derive the expected stats from the doc columns in
    // plain Scala (independent of BOTH the encoder's and the parser's
    // byte arithmetic)
    val raw = docs.select(col("doc_id"), col("lang"), col("n_chars"),
        col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    val expected = raw.groupBy(_._2).map { case (lang, rows) =>
      val ok = rows.filter(_._1 % 97 != 0)
      val bad = rows.length - ok.length
      def r2(x: Double) = math.round(x * 100.0) / 100.0
      (lang, ok.length.toLong, bad.toLong,
        r2(ok.map(t => 64 + t._3 % 640).sum.toDouble / ok.length),
        r2(ok.map(t => 64 + (t._3 * 7) % 480).sum.toDouble / ok.length),
        ok.map(t => 1 + t._1 % 4).sum,
        ok.map(t => 1 + t._3 % 16).max.toInt,
        ok.map(_._4.getBytes("UTF-8").length.toLong).sum)
    }.toSeq.sortBy(_._1)
    val got = viaExpr.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getDouble(3), r.getDouble(4), r.getLong(5), r.getInt(6),
      r.getLong(7))).toSeq
    assert(got === expected,
      "parsed per-lang stats must equal the arithmetic re-derivation")
  }
}
