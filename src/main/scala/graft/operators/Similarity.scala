package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Norm, Tables}

/** Approximate-nearest-neighbor / similarity search over the embedding
  * column (north-star component). Two paths:
  *   - brute-force cosine top-k: one broadcast of the probe row, a single
  *     map-side higher-order-function scan, TakeOrdered for the top-k — the
  *     exact baseline, linear in |embeddings| and embarrassingly parallel;
  *   - multi-table sign-LSH variant: 4 independent 8-bit random-hyperplane
  *     signatures ([[Hyperplanes]]); the probe examines only its 4 buckets
  *     (~n/64 of the data in expectation) — the 100 TB path, with recall
  *     lifted by the candidate union across tables.
  */
object Similarity {

  private def dot(a: Column, b: Column): Column = Hyperplanes.dot64(a, b)

  // native array cast, NOT transform(_.cast): the HOF is CodegenFallback and
  // poisons whole-stage codegen for every downstream operator in the stage
  // (measured round 6: exploding a computed HOF array ran 20x slower than a
  // materialized one); Cast(array<float> -> array<double>) codegens.
  // vec_clean hoists the null-element scan to this ONE projection (nulling
  // ragged vectors whole) and declares containsNull = false, so the 64
  // downstream plane dots per row keep their branch-free loops — without
  // it each dot re-scans the parquet-typed containsNull array (r16 A/B:
  // the fused per-dot scan held the whole family at interpreted-era speed)
  private def asDouble(c: Column): Column = Hyperplanes.vecClean(c.cast("array<double>"))

  private def litVec(p: Seq[Double]): Column = array(p.map(lit): _*)

  /** 0-based index of the cosine-nearest of the flat `cells × dim`
    * `centroids` to column `v` (squared norm `nrm`), first max on ties —
    * [[graft.functions.CoarseArgmax]], which throws on a NaN similarity.
    */
  private def coarseArgmax(centroids: Seq[Double], sqrtNorms: Seq[Double]): Column =
    org.apache.spark.sql.GraftSqlBridge.column(graft.functions.CoarseArgmax(
      org.apache.spark.sql.GraftSqlBridge.expression(col("v")),
      org.apache.spark.sql.GraftSqlBridge.expression(col("nrm")),
      centroids, sqrtNorms))

  /** 1-row (probe_v, probe_nrm) frame from a literal probe vector — the
    * at-scale probe shape (SURVEY §7.4): a query vector arrives as a
    * parameter, never as a corpus lookup, so the plan contains exactly one
    * corpus scan.
    */
  private def litProbe(s: SparkSession, p: Seq[Double]): DataFrame = {
    require(p.exists(_ != 0.0),
      "zero probe vector has no direction — cosine scoring is undefined")
    val pv = litVec(p)
    s.range(1).select(pv.as("probe_v"), dot(pv, pv).as("probe_nrm"))
  }

  /** Zero-norm guard shared by every cosine path: a zero vector has no
    * direction, so it is EXCLUDED from cosine scoring/candidacy rather
    * than crashing the query (Spark 4's ANSI default makes x/0.0 throw
    * DIVIDE_BY_ZERO for doubles too — measured, not assumed; zero
    * vectors are routine in real embedding dumps as failed-encode or
    * padding rows).
    */
  private def nonZero(df: DataFrame): DataFrame = df.filter(col("nrm") > 0)

  /** Brute-force cosine top-k of probe vec_id=0 (the driver fixture
    * contract: probe looked up in the corpus and excluded from results).
    * The probe is a 1-row broadcast (never a driver-side collect→literal of
    * data), so the plan is scan + BroadcastNestedLoopJoin(1 row) + project +
    * TakeOrdered.
    */
  def cosineTopK(s: SparkSession, dir: String, k: Int = 20): DataFrame =
    cosineTopKImpl(Tables.embeddings(s, dir), k, None)

  /** Probe-as-parameter overload: the probe vector is a literal, so no
    * second corpus pass derives it and nothing is excluded from the corpus
    * side.
    */
  def cosineTopK(s: SparkSession, dir: String, k: Int,
      probeVec: Seq[Double]): DataFrame =
    cosineTopKImpl(Tables.embeddings(s, dir), k, Some(probeVec))

  /** [[cosineTopK]] over an arbitrary (vec_id: long, label: string,
    * embedding: array&lt;float|double&gt;) frame — pass a constant label
    * column if the corpus has none.
    */
  def cosineTopKOn(vecs: DataFrame, k: Int, probeVec: Seq[Double]): DataFrame =
    cosineTopKImpl(vecs, k, Some(probeVec))

  private def cosineTopKImpl(vecs: DataFrame, k: Int,
      probeVec: Option[Seq[Double]]): DataFrame = {
    val s = vecs.sparkSession
    val e = nonZero(vecs
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", dot(col("v"), col("v"))))
    val (corpus, probe) = probeVec match {
      case Some(p) => (e, litProbe(s, p))
      case None => (e.filter(col("vec_id") =!= 0),
        e.filter(col("vec_id") === 0)
          .select(col("v").as("probe_v"), col("nrm").as("probe_nrm")))
    }
    corpus
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"),
        Norm.r4(dot(col("v"), col("probe_v")) /
          (sqrt(col("nrm")) * sqrt(col("probe_nrm")))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Multi-table sign-LSH ANN ([[Hyperplanes]]): 4 independent hash tables,
    * each an 8-bit random-hyperplane signature (256 buckets). A vector is a
    * candidate if it shares ANY table's bucket with the probe — candidate
    * union across tables is what lifts recall from one table's ~p⁸ to
    * 1-(1-p⁸)⁴ while each table's bucket still holds only ~n/256 vectors.
    * Candidates are ranked by exact cosine, top-k.
    *
    * The bucket keys are deterministic (fixed hyperplane literals shared
    * with the oracle SQL), so the whole query is SQL-checkable. At 100 TB
    * the same band keys feed a bucketed table layout so the probe-side join
    * prunes to 4 buckets per table instead of scanning.
    */
  def annLsh(s: SparkSession, dir: String, k: Int = 10, tables: Int = 4): DataFrame =
    annLshImpl(Tables.embeddings(s, dir), k, tables, None)

  /** Probe-as-parameter overload: probe band keys and norm are computed
    * from the literal vector map-side — the corpus is scanned exactly once
    * (for its own signatures), matching the bucketed-layout probe path at
    * scale.
    */
  def annLsh(s: SparkSession, dir: String, k: Int, tables: Int,
      probeVec: Seq[Double]): DataFrame =
    annLshImpl(Tables.embeddings(s, dir), k, tables, Some(probeVec))

  /** [[annLsh]] over an arbitrary (vec_id, label, embedding) frame. */
  def annLshOn(vecs: DataFrame, k: Int, tables: Int,
      probeVec: Seq[Double]): DataFrame =
    annLshImpl(vecs, k, tables, Some(probeVec))

  private def annLshImpl(vecs: DataFrame, k: Int, tables: Int,
      probeVec: Option[Seq[Double]]): DataFrame = {
    val s = vecs.sparkSession
    // one pass computes norm + all band signatures per vector, persisted —
    // the same shape as [[knnJoin]]'s base: un-persisted, the scan + the
    // 64-plane signature ran TWICE (once feeding the key join, once feeding
    // the exact-cosine ranking), the query's dominant cost (VERDICT r5)
    val base = nonZero(vecs
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
      .withColumn("nrm", dot(col("v"), col("v"))))
      .withColumn("bk", array((0 until tables).map(b =>
        Hyperplanes.bandKey(col("v"), b)): _*))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keys = base.select(col("vec_id"),
      posexplode(col("bk")).as(Seq("tbl", "bkey")))
    val (corpusKeys, probeKeys, probe) = probeVec match {
      case Some(p) =>
        val pv = litVec(p)
        (keys,
          s.range(1).select(posexplode(array((0 until tables).map(b =>
            Hyperplanes.bandKey(pv, b)): _*)).as(Seq("p_tbl", "p_bkey"))),
          litProbe(s, p))
      case None =>
        (keys.filter(col("vec_id") =!= 0),
          keys.filter(col("vec_id") === 0)
            .select(col("tbl").as("p_tbl"), col("bkey").as("p_bkey")),
          base.filter(col("vec_id") === 0)
            .select(col("v").as("probe_v"), col("nrm").as("probe_nrm")))
    }
    val cand = corpusKeys
      .join(broadcast(probeKeys),
        col("tbl") === col("p_tbl") && col("bkey") === col("p_bkey"))
      .select(col("vec_id")).distinct()
    cand
      .join(base.select(col("vec_id"), col("label"), col("v"), col("nrm")),
        "vec_id")
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), col("label"),
        Norm.r4(dot(col("v"), col("probe_v")) /
          (sqrt(col("nrm")) * sqrt(col("probe_nrm")))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Approximate kNN JOIN — top-k neighbors for EVERY probe vector at once,
    * the batch shape of similarity search in a training-data pipeline
    * (single-probe top-k is a lookup; corpus enrichment is a join).
    * Candidates are pairs sharing any sign-LSH band ([[Hyperplanes]]), so
    * the join is a sparse equi-join on (band, key) — never |probes|×|corpus|
    * — followed by exact-cosine scoring and a per-probe window top-k.
    * Deterministic banding → fully DuckDB-oracled.
    */
  def knnJoin(s: SparkSession, dir: String, k: Int = 3, nProbes: Int = 10): DataFrame =
    // the fixture derives the side tag from vec_id on ONE scan — the
    // two-frame generic form would read the parquet once per side
    knnJoinTagged(Tables.embeddings(s, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v"),
        (col("vec_id") < nProbes).as("is_probe")), k)

  /** [[knnJoin]] over arbitrary corpus and probe frames (each
    * (vec_id: long, embedding: array)): top-k corpus neighbors for every
    * probe row. The two sides may be the same frame or disjoint splits.
    */
  def knnJoinOn(corpus: DataFrame, probes: DataFrame, k: Int = 3): DataFrame =
    knnJoinTagged(
      corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"),
        lit(false).as("is_probe"))
      .unionByName(probes.select(col("vec_id"),
        asDouble(col("embedding")).as("v"), lit(true).as("is_probe"))), k)

  /** Core over a side-tagged (vec_id, v, is_probe) frame. One pass
    * computes norm + all 8 band keys per vector, persisted: the un-cached
    * formulation re-executed the scan + 64-plane signature five times
    * (keys feeds a self-join, the exact-cosine scoring joins back twice) —
    * the query's dominant cost, since every join is broadcast (AqeAudit
    * measures 0.0 MiB of shuffle here).
    */
  private def knnJoinTagged(tagged: DataFrame, k: Int): DataFrame = {
    val base = nonZero(tagged
      .withColumn("nrm", dot(col("v"), col("v"))))
      .withColumn("bk", Hyperplanes.bandKeys(col("v")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keys = base.select(col("vec_id"), col("is_probe"),
      posexplode(col("bk")).as(Seq("band", "bkey")))
    val probeKeys = keys.filter(col("is_probe"))
      .select(col("vec_id").as("probe_id"), col("band"), col("bkey"))
    val cand = keys.filter(!col("is_probe"))
      .join(probeKeys, Seq("band", "bkey"))
      .select(col("probe_id"), col("vec_id"))
      .distinct()
    val scored = cand
      .join(base.filter(!col("is_probe"))
        .select(col("vec_id"), col("v"), col("nrm")), "vec_id")
      .join(base.filter(col("is_probe"))
        .select(col("vec_id").as("probe_id"), col("v").as("pv"),
          col("nrm").as("pn")), "probe_id")
      .select(col("probe_id"), col("vec_id"),
        Norm.r4(dot(col("v"), col("pv")) /
          (sqrt(col("nrm")) * sqrt(col("pn")))).as("cosine"))
    scored
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
          .orderBy(col("cosine").desc, col("vec_id").asc)).cast("int"))
      .filter(col("rn") <= k)
      .orderBy("probe_id", "rn")
  }

  /** IVF (inverted-file) ANN: coarse-quantize every vector to its nearest
    * centroid, then search only the probe's `nprobe` nearest inverted lists
    * with exact cosine — the classic two-level index. The default codebook
    * is the per-label means (the fixture quantizer); at 100 TB train one
    * with [[trainKMeans]] and pass it to the codebook overload of
    * [[ivfOn]] — the assignment feeds a bucketed table layout, so a probe
    * reads `nprobe` buckets instead of the corpus.
    *
    * Assignment compares FP distances, which is not oracle-stable across
    * engines → rows-only driver check; the ScalaTest suite asserts recall
    * against brute-force top-k.
    */
  def ivf(s: SparkSession, dir: String, k: Int = 10, nprobe: Int = 3): DataFrame =
    withExactTopkFlag(s, dir, k,
      ivfImpl(Tables.embeddings(s, dir), k, nprobe, None))

  /** Probe-as-parameter overload: the probe's `nprobe` inverted lists are
    * chosen by scoring the literal vector against the broadcast codebook —
    * no corpus/cache lookup derives the probe.
    */
  def ivf(s: SparkSession, dir: String, k: Int, nprobe: Int,
      probeVec: Seq[Double]): DataFrame =
    ivfImpl(Tables.embeddings(s, dir), k, nprobe, Some(probeVec))

  /** [[ivf]] over an arbitrary (vec_id, label, embedding) frame — `label`
    * is the coarse-quantizer cell (a k-means assignment at scale).
    */
  def ivfOn(vecs: DataFrame, k: Int, nprobe: Int,
      probeVec: Seq[Double]): DataFrame =
    ivfImpl(vecs, k, nprobe, Some(probeVec))

  /** Training constants for [[ivfTrained]], exposed so external timers
    * (Bench's `ivf_split`) provably measure the SAME training call the
    * query runs — a hard-coded copy in Bench could silently drift.
    */
  val IvfTrainedCells: Int = 10
  val IvfTrainedIters: Int = 4
  val IvfTrainedSampleCap: Int = 4096

  /** The IVF-PQ registry queries' constants, exposed for the same reason
    * as the trained-IVF trio above: Bench's `pq_split` times the search
    * stage directly with the query's OWN k/nprobe/rerank — hard-coded
    * copies there could silently drift from what `q_sim_ivf_pq` runs.
    */
  val IvfPqK: Int = 10
  val IvfPqNprobe: Int = 3
  val IvfPqRerank: Int = 64

  /** The end-to-end TRAINED IVF fixture (registry `q_sim_ivf_trained`):
    * train a [[trainKMeansLocal]] codebook on a bounded sample of the
    * corpus, then answer the same probe contract as [[ivf]] (probe =
    * vec 0, excluded from results) through the trained inverted lists —
    * the production IVF shape exercised through the driver gate
    * (rows-only: k-means assignment compares FP distances, same declared
    * reason as `q_sim_ivf`).
    */
  def ivfTrained(s: SparkSession, dir: String,
      k: Int = 10, nprobe: Int = 3, cells: Int = IvfTrainedCells): DataFrame = {
    val vecs = Tables.embeddings(s, dir)
    val cb = trainKMeansLocal(vecs, k = cells, iters = IvfTrainedIters,
      sampleCap = IvfTrainedSampleCap)
    // fixture-only 1-row driver lookup for the probe vector (the
    // probe-as-parameter contract every at-scale overload takes)
    val probe = vecs.filter(col("vec_id") === 0)
      .select(asDouble(col("embedding"))).head.getSeq[Double](0).toSeq
    withExactTopkFlag(s, dir, k,
      ivfImpl(vecs.filter(col("vec_id") =!= 0), k, nprobe, Some(probe),
        Some(cb)), probeVec = Some(probe))
  }

  /** Fixture-gate evidence column for the two rows-only IVF registry
    * queries (r12 queue #8): flag each returned row by membership in the
    * brute-force exact top-k for the same probe (vec 0, excluded), so the
    * dumped artifact itself shows the recall (count of `in_exact_topk`)
    * instead of pointing at the ScalaTest floor. Both result sets are k
    * rows — the comparison is metadata-sized. The production `ivfOn`
    * overloads stay pure: at 100 TB there is no brute-force companion.
    */
  private def withExactTopkFlag(s: SparkSession, dir: String, k: Int,
      res: DataFrame, probeVec: Option[Seq[Double]] = None): DataFrame = {
    // r22 (r21 verdict #4, the evidence-overhead audit): callers that
    // already fetched the probe vector driver-side (every PQ/trained path
    // needs it for LUT arithmetic anyway) pass it through, so the
    // brute-force evidence pass stops RE-SCANNING the corpus parquet just
    // to re-derive the same probe row — one scan plus its broadcast stage
    // gone per invocation. The exact top-k is identical: same corpus
    // exclusion (vec_id != 0), and the literal probe IS the asDouble-cast
    // row the in-plan derivation would produce (dot64 over equal doubles
    // in the same fold order → bit-identical cosine; pin-gated ×3 SFs).
    val exact = (probeVec match {
      case Some(p) => cosineTopKOn(
        Tables.embeddings(s, dir).filter(col("vec_id") =!= 0), k, p)
      case None => cosineTopK(s, dir, k)
    }).select(col("vec_id").as("exact_id"))
    res
      .join(broadcast(exact), col("vec_id") === col("exact_id"), "left")
      .withColumn("in_exact_topk", col("exact_id").isNotNull)
      .drop("exact_id")
      .orderBy(col("cosine").desc, col("vec_id").asc)
  }

  /** [[ivf]] with a TRAINED coarse codebook — `(c_id, cv: array<double>)`,
    * e.g. from [[trainKMeans]] — instead of deriving cells from `label`:
    * vectors are quantized against the given centroids and the probe scans
    * its `nprobe` nearest inverted lists, exactly the production IVF shape
    * (train once on a sample, assign the corpus, bucket the table by
    * `list_id`).
    */
  def ivfOn(vecs: DataFrame, k: Int, nprobe: Int,
      probeVec: Seq[Double], codebook: DataFrame): DataFrame =
    ivfImpl(vecs, k, nprobe, Some(probeVec), Some(codebook))

  /** Lloyd's k-means over the embedding column — the codebook trainer IVF
    * needs at 100 TB (labels are a stand-in quantizer only on the fixture).
    * Spark-shaped per iteration: ONE corpus pass — broadcast-codebook
    * assignment (map-side argmax, no shuffle of vectors), then per-(cell,
    * dim) mean whose shuffle is bounded by k×dim partial aggregates per
    * partition, never by corpus size. Centroids live on the driver between
    * iterations (k×dim doubles — bounded metadata, the same residence
    * MLlib's k-means uses), so each iteration's plan is flat rather than a
    * lineage chain over all previous iterations.
    *
    * Deterministic: seeding picks the k vectors with the smallest
    * `xxhash64(vec_id, seed)` (a uniform pseudo-random sample chosen by one
    * TakeOrdered pass), ties in assignment break toward the lower cell
    * index, and empty cells retain their previous centroid — same inputs,
    * same codebook, every run.
    *
    * `sampleFraction` < 1 trains on a deterministic hash-based subsample
    * of the corpus — the 100 TB posture: a codebook only needs enough
    * vectors to place k centroids stably (k × a few hundred is plenty),
    * so every Lloyd's pass should touch a bounded sample, never the full
    * corpus; the corpus is then assigned ONCE against the trained
    * codebook by [[ivfOn]]. Membership is `xxhash64(vec_id, seed) mod 1e6
    * < fraction*1e6` — a property of the row, not of partitioning or
    * execution order, so the same corpus + seed + fraction trains the
    * same codebook on any cluster layout.
    *
    * @return `(c_id: int, cv: array<double>)`, `c_id` in
    *         `[0, min(k, |sample|))` — a (sampled) corpus smaller than
    *         `k` seeds (and therefore returns) one cell per vector;
    *         callers sizing a bucket layout or `nprobe` against `k` must
    *         use the returned row count, not the requested `k`.
    */
  def trainKMeans(vecs: DataFrame, k: Int, iters: Int = 8,
      seed: Long = 42L, sampleFraction: Double = 1.0): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    require(sampleFraction > 0.0 && sampleFraction <= 1.0,
      s"sampleFraction must be in (0, 1]; got $sampleFraction")
    val corpus = vecs.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val sampled =
      if (sampleFraction >= 1.0) corpus
      else corpus.filter(
        pmod(xxhash64(col("vec_id"), lit(seed)), lit(1000000L)) <
          lit((sampleFraction * 1e6).toLong))
    // assignment is by COSINE, so zero vectors (no direction) are
    // excluded from training — an unguarded one would DIVIDE_BY_ZERO the
    // assignment under Spark 4's ANSI default
    val e = nonZero(sampled
      .withColumn("nrm", dot(col("v"), col("v"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cents: Seq[(Int, Seq[Double])] = e
        .orderBy(xxhash64(col("vec_id"), lit(seed)).asc, col("vec_id").asc)
        .limit(k)
        .select("v").collect()
        .zipWithIndex.map { case (r, i) => i -> r.getSeq[Double](0) }.toSeq
      require(cents.nonEmpty,
        "trainKMeans: no trainable vectors (corpus empty, sampled to " +
          "empty at this sampleFraction, or all zero-norm) — nothing to " +
          "seed a codebook from")
      val dim = cents.head._2.size
      for (_ <- 1 to iters) {
        // The centroids are driver-resident METADATA (k×dim doubles), so
        // assignment carries them inside its expression and runs entirely
        // map-side. The earlier formulation broadcast-crossJoined the
        // codebook (k× row expansion) and then shuffled every expanded
        // row, VECTORS INCLUDED, through a groupBy(vec_id) argmax plus a
        // posexplode (cell, dim) rollup; now the only shuffle is the
        // per-cell rollup of dim+1 partial sums per map partition.
        // In-bench A/B at the 2 k-vector fixture: train share 1.45 s both
        // ways — per-iteration cost there is job scheduling, not data —
        // so the rewrite is a SCALE-shape change (zero vector bytes
        // shuffled per iteration), not a fixture speedup.
        // argmax as ONE codegen loop over referenced centroid arrays
        // ([[graft.functions.CoarseArgmax]], as [[ivfOn]] assigns): the
        // first max wins, the lower-cell-index tiebreak, and `cents`
        // indices are 0..k-1 in sequence order by construction (seeding
        // zipWithIndex; updates are keyed in place), so the result IS the
        // cell index. A ragged vector yields a null cell, which the guard
        // below reports; a NaN similarity throws, naming the cell. The
        // flat centroid array needs every cell at `dim`: a ragged seed
        // fails here with the guard's message.
        require(cents.forall(_._2.size == dim),
          s"trainKMeans: a seed vector with size != $dim — ragged " +
            "embeddings would silently bias the codebook; clean or filter " +
            "the corpus first")
        val argmax = coarseArgmax(cents.flatMap(_._2), cents.map { case (_, cv) =>
          math.sqrt(math.max(cv.map(x => x * x).sum, 1e-300))
        })
        // The per-dimension mean sum(v[i])/cn assumes every vector has
        // exactly `dim` elements: a shorter vector's missing dims would
        // skew the mean (sum skips, cn counts) and a longer vector's tail
        // would be silently truncated. `get()` (null past the end — the
        // ANSI-safe accessor; plain v[i] throws a cryptic task-side
        // INVALID_ARRAY_INDEX under ANSI) lets the ragged counter, folded
        // into the SAME aggregate (no extra pass), reach the driver where
        // the guard fails with an actionable message.
        val sums = (0 until dim).map(i =>
          sum(get(col("v"), lit(i))).as(s"s$i")) :+
          sum((size(col("v")) =!= dim).cast("long")).as("ragged")
        val means = e
          .select(argmax.as("cell"), col("v"))
          .groupBy("cell")
          .agg(count(lit(1)).as("cn"), sums: _*)
          .collect()
          .map { r =>
            // check ragged BEFORE reading cell: ragged rows get a null
            // argmax and group under a null cell, so getInt(0) would
            // throw a cryptic ROW_VALUE_IS_NULL.
            // The ragged counter itself reads null-safely: a group of
            // only NULL vectors sums the counter to SQL NULL (size(null)
            // is null, never counted as ragged), and a bare getLong
            // there would NPE before this message could fire
            val ragged = if (r.isNullAt(dim + 2)) 0L else r.getLong(dim + 2)
            require(ragged == 0L && !r.isNullAt(0),
              s"trainKMeans: $ragged vector(s) with size != $dim " +
                "(or null embeddings) — ragged/null embeddings would " +
                "silently bias the codebook; clean or filter the corpus " +
                "first")
            val n = r.getLong(1).toDouble
            r.getInt(0) -> (0 until dim).map(i => r.getDouble(i + 2) / n)
          }.toMap
        cents = cents.map { case (i, old) => i -> means.getOrElse(i, old) }
      }
      cents.toDF("c_id", "cv")
    } finally e.unpersist()
  }

  /** [[trainKMeans]] with the iterations run DRIVER-SIDE over a bounded
    * deterministic sample — the production IVF training recipe (faiss
    * trains codebooks on ≲ 256·k sampled vectors): one TakeOrdered pass
    * collects the `sampleCap` vectors with the smallest
    * `xxhash64(vec_id, seed)` (ties → lower vec_id), then Lloyd's runs
    * in memory with zero Spark jobs per iteration. The distributed
    * trainer pays one corpus pass per iteration — the right shape when
    * the training set must exceed driver memory, but at a bounded sample
    * each of its iterations is pure job-scheduling overhead (measured:
    * the fixture's 4-iteration train was ~2.3 s of a 2.5 s query line;
    * this path is one ~0.2 s job).
    *
    * Same declared semantics as the distributed trainer: identical seeding
    * order (the first k of the hash-ordered sample ARE [[trainKMeans]]'s
    * seeds), cosine assignment with the lower-index tiebreak, empty cells
    * retain their previous centroid, zero/null vectors excluded.
    * `sampleCap × dim` doubles is driver-resident metadata, the same
    * residence class as the codebook itself. One honest narrowing: the
    * ragged-embedding loud-fail inspects the SAMPLE (the distributed
    * trainer sees the whole training set every iteration) — a ragged
    * vector outside the sample surfaces later as a null assignment dot
    * excluded by the norm guard, not as a training error.
    */
  def trainKMeansLocal(vecs: DataFrame, k: Int, iters: Int = 8,
      seed: Long = 42L, sampleCap: Int = 4096): DataFrame = {
    require(k > 0 && iters >= 0, s"need k > 0, iters >= 0; got k=$k iters=$iters")
    require(sampleCap >= k,
      s"sampleCap must be >= k (got sampleCap=$sampleCap, k=$k) — fewer " +
        "sampled vectors than cells cannot seed the codebook")
    kMeansLocalCore(vecs.sparkSession,
      hashSample(vecs, seed, sampleCap, "trainKMeansLocal"), k, iters)
  }

  /** The deterministic bounded training sample every driver-side trainer
    * draws: hash-ordered (a uniform pseudo-random subset chosen by one
    * TakeOrdered pass — a row property, identical on any cluster layout),
    * zero/null-norm excluded, ragged corpora fail loudly. Shared by
    * [[trainKMeansLocal]] and [[trainPqLocal]] so [[ivfPqOn]] (which
    * trains BOTH quantizers with the same seed/cap) collects the corpus
    * sample once instead of twice.
    */
  private def hashSample(vecs: DataFrame, seed: Long, sampleCap: Int,
      caller: String): Array[Array[Double]] = {
    val sample: Array[Array[Double]] = nonZero(vecs
        .select(col("vec_id"), asDouble(col("embedding")).as("v"))
        .withColumn("nrm", dot(col("v"), col("v"))))
      .orderBy(xxhash64(col("vec_id"), lit(seed)).asc, col("vec_id").asc)
      .limit(sampleCap)
      .select("v").collect()
      .map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty,
      s"$caller: no trainable vectors (corpus empty or all " +
        "zero/null-norm) — nothing to seed a codebook from")
    val dim = sample.head.length
    sample.find(_.length != dim).foreach { bad =>
      throw new IllegalArgumentException(
        s"$caller: ragged embeddings (size ${bad.length} vs $dim) " +
          "— ragged embeddings would silently bias the codebook; clean or " +
          "filter the corpus first")
    }
    sample
  }

  /** Lloyd's over an in-memory sample — [[trainKMeansLocal]]'s core,
    * callable with a pre-collected [[hashSample]]. */
  private def kMeansLocalCore(s: SparkSession, sample: Array[Array[Double]],
      k: Int, iters: Int): DataFrame = {
    import s.implicits._
    val dim = sample.head.length
    val nCells = math.min(k, sample.length)
    val cents = Array.tabulate(nCells)(i => sample(i).clone())
    val vnorms = sample.map(v => math.sqrt(v.map(x => x * x).sum))
    for (_ <- 1 to iters) {
      val cnorms = cents.map(c => math.sqrt(math.max(c.map(x => x * x).sum, 1e-300)))
      val sums = Array.fill(nCells, dim)(0.0)
      val counts = new Array[Long](nCells)
      var vi = 0
      while (vi < sample.length) {
        val v = sample(vi)
        var best = 0
        var bestSim = Double.NegativeInfinity
        var c = 0
        while (c < nCells) {
          var dp = 0.0
          var i = 0
          while (i < dim) { dp += v(i) * cents(c)(i); i += 1 }
          val sim = dp / (vnorms(vi) * cnorms(c))
          // strict > keeps the lower-index tiebreak of the distributed path
          if (sim > bestSim) { bestSim = sim; best = c }
          c += 1
        }
        counts(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        vi += 1
      }
      var c = 0
      while (c < nCells) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) { cents(c)(i) = sums(c)(i) / counts(c); i += 1 }
        } // empty cell: previous centroid retained
        c += 1
      }
    }
    cents.toSeq.zipWithIndex.map { case (cv, i) => (i, cv.toSeq) }
      .toDF("c_id", "cv")
  }

  private def ivfImpl(vecs: DataFrame, k: Int, nprobe: Int,
      probeVec: Option[Seq[Double]],
      codebook: Option[DataFrame] = None): DataFrame = {
    val s = vecs.sparkSession
    // `label` is the quantizer only on the label-codebook path; with a
    // supplied codebook it is a passthrough output column, so a production
    // (vec_id, embedding) frame without one must still work
    val labelCol =
      if (vecs.columns.contains("label")) col("label")
      else if (codebook.isDefined) lit(null).cast("string").as("label")
      else throw new IllegalArgumentException(
        "ivf without a codebook derives its cells from a 'label' column; " +
          "this frame has none — pass a trained codebook (trainKMeans) " +
          "or add a label column")
    val e = nonZero(vecs
      .select(col("vec_id"), labelCol, asDouble(col("embedding")).as("v"))
      .withColumn("nrm", dot(col("v"), col("v"))))
    // coarse codebook: supplied trained centroids, else one 64-dim mean
    // vector per label (the fixture quantizer)
    val cents = codebook.map { cb =>
      cb.select(col("c_id"), asDouble(col("cv")).as("cv"))
        .withColumn("c_nrm", dot(col("cv"), col("cv")))
        .withColumn("c_idx", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("c_id"))))
    }.getOrElse(e
      .select(col("label").as("c_id"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy("c_id", "dim").agg(avg("x").as("c"))
      .groupBy("c_id")
      .agg(array_sort(collect_list(struct(col("dim"), col("c")))).as("pairs"))
      .select(col("c_id"), transform(col("pairs"), p => p("c")).as("cv"))
      .withColumn("c_nrm", dot(col("cv"), col("cv")))
      // dense numeric index for the assignment tiebreak: labels may be any
      // orderable type (strings in user corpora), so "min c_id on ties"
      // cannot be expressed by negating c_id; the codebook is tiny by
      // construction, so this single-partition window moves metadata only
      .withColumn("c_idx", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("c_id")))))
    // assign: nearest centroid by cosine. Zero-norm centroids (a
    // degenerate user codebook cell / all-zero label mean) are dropped —
    // no direction to assign against, and an unguarded one would
    // DIVIDE_BY_ZERO under the ANSI default
    val centsUsable = cents.filter(col("c_nrm") > 0)
    // MAP-SIDE assignment (r16 verdict #2): the codebook is driver-resident
    // METADATA (tiny by construction — k-means codebooks are ≤ a few
    // thousand entries), so collect it once and assign inside one
    // expression, as [[trainKMeans]] does. The former broadcast-crossJoin
    // + max_by(struct(label, v, nrm, c_id)) expanded EVERY corpus vector
    // ×|codebook| with its full 64-dim array inside a struct before the
    // partial agg collapsed it — measured as the bench's top GC line
    // (q_sim_ivf task GC 23.7 s in BENCH_r16) — and at 100 TB it shuffles
    // one full-vector row per corpus vector. This shape shuffles NOTHING
    // for assignment; the cells are ordered by c_idx, so the tiebreak
    // (highest csim, ties → lowest c_idx) is the first max.
    // bounded collect: a coarse codebook is ≤ a few thousand cells BY
    // CONSTRUCTION (trainKMeans k, or a label domain); a high-cardinality
    // label column is not a quantizer, and silently collecting it would
    // trade the old shape's slow crossJoin for a driver OOM — fail loudly
    // with the actionable fix instead. take(cap+1) bounds the fetch itself.
    val MaxCodebookCells = 65536
    val cb: Array[(Any, Seq[Double], Double)] = centsUsable
      .orderBy(col("c_idx"))
      .select(col("c_id"), col("cv"), col("c_nrm"))
      .take(MaxCodebookCells + 1)
      .map(r => (r.get(0), r.getSeq[Double](1), r.getDouble(2)))
    require(cb.length <= MaxCodebookCells,
      s"ivf: coarse codebook exceeds $MaxCodebookCells cells — a " +
        "label-derived quantizer this wide is not an IVF codebook; train " +
        "a bounded one with trainKMeans/trainKMeansLocal and pass it to " +
        "the codebook overload")
    require(cb.nonEmpty,
      "ivf: no usable (non-zero-norm) centroid — nothing to assign against")
    val listIds = array(cb.map(c => lit(c._1)): _*)
    // r22: argmax as ONE codegen loop over referenced centroid arrays
    // ([[graft.functions.CoarseArgmax]]) — the former
    // array_position-over-literal-sims tree rebuilt every literal
    // centroid as a boxed GenericArrayData per dot per row (see
    // pqEncodeOn); tiebreak and arithmetic are bit-identical (first max
    // over the c_idx-ordered cells). +1: element_at is 1-based.
    // NOT persisted: assignment is now a pure map-side projection over the
    // pruned scan, and the vector family's cache A/Bs have lost twice
    // (Similarity/Dedup round-5/round-10 notes) — two codegen'd scans beat
    // materializing full-vector rows
    val argmax = coarseArgmax(cb.toSeq.flatMap(_._2), cb.toSeq.map(c => math.sqrt(c._3)))
    val assigned = e.withColumn("list_id",
      element_at(listIds, argmax + 1))
    // probe: its nprobe nearest centroids select the inverted lists to
    // scan; the probe row needs only (v, nrm) — never its own assignment
    val probeRow = probeVec match {
      case Some(p) =>
        val pv = litVec(p)
        s.range(1).select(pv.as("pv"), dot(pv, pv).as("pn"))
      case None => e.filter(col("vec_id") === 0)
        .select(col("v").as("pv"), col("nrm").as("pn"))
    }
    val probeLists = probeRow
      .crossJoin(broadcast(centsUsable))
      .withColumn("csim", dot(col("pv"), col("cv")) /
        (sqrt(col("pn")) * sqrt(col("c_nrm"))))
      .orderBy(col("csim").desc, col("c_id").asc)
      .limit(nprobe)
      .select(col("c_id").as("list_id"), col("pv"), col("pn"))
    val corpus = probeVec match {
      case Some(_) => assigned
      case None => assigned.filter(col("vec_id") =!= 0)
    }
    corpus
      .join(broadcast(probeLists), "list_id")
      .select(col("vec_id"), col("label"), col("list_id"),
        Norm.r4(dot(col("v"), col("pv")) /
          (sqrt(col("nrm")) * sqrt(col("pn")))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Per-label centroid then distance-to-centroid ranking — the IVF
    * building block (coarse quantizer = label here; at scale, a k-means
    * assignment column). Elementwise array average via posexplode +
    * re-assemble keeps state bounded per (label, dim).
    */
  def centroids(s: SparkSession, dir: String): DataFrame =
    centroidsOn(Tables.embeddings(s, dir))

  /** [[centroids]] over an arbitrary (label, embedding) frame. */
  def centroidsOn(vecs: DataFrame): DataFrame = {
    // plain cast, NOT asDouble: this path element-averages (no dot
    // product to protect), and its declared semantics — shared with the
    // DuckDB oracle — are SQL null-skipping per dimension. vec_clean's
    // whole-vector-null would silently drop a ragged vector from every
    // dimension's average instead.
    val e = vecs
      .select(col("label"), posexplode(col("embedding").cast("array<double>"))
        .as(Seq("dim", "x")))
    e.groupBy("label", "dim")
      .agg(avg("x").as("c"))
      .groupBy("label")
      .agg(Norm.r4(sqrt(sum(col("c") * col("c")))).as("centroid_norm"),
        count(lit(1)).as("dims"))
      .orderBy("label")
  }

  /** Symmetric int8 quantization statistics per embedding — the memory-
    * scale path for ANN over large corpora (int8 codes are 4× smaller
    * than float32 and the distance error is bounded by the reported
    * per-vector reconstruction MSE). One codegen pass per vector
    * ([[graft.functions.VecQuantStats]]); zero shuffle beyond the scan;
    * all arithmetic is IEEE-identical to the DuckDB oracle (shared
    * left-fold order, explicit half-up rounding), so scale and mse
    * hash-match WITHOUT rounding. Zero vectors have no scale and are
    * excluded — the cosine family's zero-norm convention; vectors with a
    * NULL element are likewise excluded (vec_clean nulls them whole, the
    * filter drops them, and the oracle applies the same null-element
    * exclusion explicitly).
    */
  def quantizeInt8(s: SparkSession, dir: String): DataFrame =
    quantizeInt8On(Tables.embeddings(s, dir))

  /** [[quantizeInt8]] over an arbitrary (vec_id, embedding) frame. */
  def quantizeInt8On(vecs: DataFrame): DataFrame = {
    val q = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.VecQuantStats(
        org.apache.spark.sql.GraftSqlBridge.expression(col("v"))))
    vecs
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), q.as("q"))
      .select(col("vec_id"), col("q.scale").as("scale"),
        col("q.mse").as("mse"), col("q.n").as("n"))
      .filter(col("scale") > 0)
      .orderBy("vec_id")
  }

  /** The MATERIALIZED int8 quantization — per vector, (scale, codes) —
    * what an ANN pipeline actually stores at 100 TB ([[quantizeInt8]]
    * proves the reconstruction error, this produces the artifact). One
    * codegen pass per vector ([[graft.functions.VecInt8Codes]]), zero
    * shuffle beyond the scan + contract sort; codes are exact integers so
    * the oracle matches with no rounding anywhere. Zero/empty/ragged
    * vectors are excluded (no scale — the family convention).
    */
  def quantizeCodes(s: SparkSession, dir: String): DataFrame =
    quantizeCodesOn(Tables.embeddings(s, dir))

  /** [[quantizeCodes]] with `codes` serialized as the canonical
    * comma-joined string — the driver-gate form. The correctness
    * comparator sorts-and-hashes SCALAR cells only (r16's one red row:
    * an `array<int>` output column crashed its pandas `sort_values`), so
    * every ORACLED registry query must emit scalar columns; the typed
    * array stays the library API ([[quantizeCodesOn]]). The cast to
    * `array<string>` is a native Cast (codegen), and the join is
    * lossless for integer codes: one canonical rendering per value,
    * no separator ambiguity, both engines render ints identically.
    */
  def quantizeCodesStr(s: SparkSession, dir: String): DataFrame =
    quantizeCodesOn(Tables.embeddings(s, dir))
      .withColumn("codes",
        concat_ws(",", col("codes").cast("array<string>")))

  /** [[quantizeCodes]] over an arbitrary (vec_id, embedding) frame. */
  def quantizeCodesOn(vecs: DataFrame): DataFrame = {
    val q = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.VecInt8Codes(
        org.apache.spark.sql.GraftSqlBridge.expression(col("v"))))
    vecs
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), q.as("q"))
      .filter(col("q").isNotNull)
      .select(col("vec_id"), col("q.scale").as("scale"),
        col("q.codes").as("codes"))
      .orderBy("vec_id")
  }

  // ----------------------------------------------------------------------
  // IVF-PQ: product-quantized ADC search (Jégou et al., TPAMI 2011; the
  // faiss IVFPQ recipe with by_residual=false). The 100 TB shape:
  //   TRAIN  (once, bounded sample, driver-side — the faiss recipe)
  //     coarse codebook: trainKMeansLocal          → `cells` centroids
  //     product quantizer: [[trainPqLocal]]        → m × ksub sub-centroids
  //   STORE  ([[pqEncodeOn]] — the corpus the probe actually scans)
  //     (vec_id, label, list_id, nrm, codes: array<int> of m)
  //     — m codes + one norm per vector instead of `dim` floats: the scan
  //       bytes per vector drop ~16× at m=8/dim=64, which is the whole
  //       point at 100 TB (the r17 verdict's "one real ANN gap": IVF
  //       reranked with full float vectors, so candidate scans paid full
  //       vector bytes)
  //   SEARCH ([[ivfPqSearch]])
  //     probe → nprobe nearest coarse cells (driver arithmetic over the
  //       collected codebook — bounded metadata, same residence as the
  //       literal-argmax assignment);
  //     ADC: per-subspace lookup tables lut[j][c] = <probe_j, cent_{j,c}>
  //       built ONCE from the probe (m × ksub doubles), embedded as plan
  //       literals; each candidate row costs m element_at's on literal
  //       arrays — pure map-side codegen, no shuffle, no vector bytes;
  //     exact rerank of ONLY the top `rerank` ADC candidates against the
  //       float vectors (a broadcast point-fetch of ≤ rerank ids — at
  //       100 TB this is the only stage that touches vector bytes).
  // ----------------------------------------------------------------------

  /** Train a product quantizer on a bounded deterministic sample: per
    * subspace `j` of width `dim/m`, plain squared-L2 Lloyd's over the
    * sample's subvectors (ksub seeds = first ksub sampled subvectors,
    * ties toward the lower code, empty cells retain their centroid —
    * the family's determinism conventions). L2, not cosine: PQ minimizes
    * subvector RECONSTRUCTION error, and zero subvectors (routine —
    * sparse dims) have no cosine direction but L2-assign cleanly.
    *
    * Driver-side on a `sampleCap` sample for the same reason as
    * [[trainKMeansLocal]]: a quantizer needs k × a-few-hundred vectors to
    * place centroids stably, never the corpus — `sampleCap × dim` doubles
    * of driver metadata, then the corpus is encoded ONCE map-side.
    */
  def trainPqLocal(vecs: DataFrame, m: Int = 8, ksub: Int = 32,
      iters: Int = 8, seed: Long = 42L, sampleCap: Int = 4096): PqModel = {
    require(m > 0 && ksub > 0 && iters >= 0,
      s"need m > 0, ksub > 0, iters >= 0; got m=$m ksub=$ksub iters=$iters")
    pqLocalCore(hashSample(vecs, seed, sampleCap, "trainPqLocal"),
      m, ksub, iters)
  }

  /** Per-subspace L2 Lloyd's over an in-memory sample — [[trainPqLocal]]'s
    * core, callable with a pre-collected [[hashSample]]. */
  private def pqLocalCore(sample: Array[Array[Double]], m: Int, ksub: Int,
      iters: Int): PqModel = {
    require(sample.length >= ksub,
      s"trainPqLocal: ${sample.length} sampled vector(s) cannot seed " +
        s"ksub=$ksub sub-centroids — lower ksub or grow the corpus/sample")
    val dim = sample.head.length
    require(dim % m == 0,
      s"trainPqLocal: dim=$dim is not divisible by m=$m subspaces — " +
        "pick m dividing the embedding width")
    val dsub = dim / m
    val cb = new Array[Double](m * ksub * dsub)
    val n = sample.length
    var j = 0
    while (j < m) {
      val off = j * dsub
      // seeds: the first ksub sampled subvectors (deterministic — the
      // sample order is the xxhash64 order)
      val cents = Array.tabulate(ksub)(c =>
        java.util.Arrays.copyOfRange(sample(c), off, off + dsub))
      for (_ <- 1 to iters) {
        val sums = Array.fill(ksub, dsub)(0.0)
        val counts = new Array[Long](ksub)
        var vi = 0
        while (vi < n) {
          val v = sample(vi)
          var best = 0
          var bestD = Double.PositiveInfinity
          var c = 0
          while (c < ksub) {
            var d = 0.0
            var i = 0
            while (i < dsub) {
              val diff = v(off + i) - cents(c)(i)
              d += diff * diff
              i += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          counts(best) += 1
          var i = 0
          while (i < dsub) { sums(best)(i) += v(off + i); i += 1 }
          vi += 1
        }
        var c = 0
        while (c < ksub) {
          if (counts(c) > 0) {
            var i = 0
            while (i < dsub) { cents(c)(i) = sums(c)(i) / counts(c); i += 1 }
          } // empty cell: previous centroid retained
          c += 1
        }
      }
      var c = 0
      while (c < ksub) {
        System.arraycopy(cents(c), 0, cb, (j * ksub + c) * dsub, dsub)
        c += 1
      }
      j += 1
    }
    PqModel(m, ksub, cb)
  }

  /** Shared (vec_id, label, v, nrm) projection: cleaned vectors with the
    * zero-norm exclusion, label passthrough (null if the frame has none).
    */
  private def cleanedWithNrm(vecs: DataFrame): DataFrame = {
    val labelCol =
      if (vecs.columns.contains("label")) col("label")
      else lit(null).cast("string").as("label")
    nonZero(vecs
      .select(col("vec_id"), labelCol, asDouble(col("embedding")).as("v"))
      .withColumn("nrm", dot(col("v"), col("v"))))
  }

  /** Collect a (c_id, cv) codebook frame as driver metadata — ordered by
    * c_id (the deterministic tiebreak index), zero-norm cells dropped,
    * bounded by the same cap and loud failure as the IVF literal-argmax
    * assignment.
    */
  private def collectCoarse(cb: DataFrame): Array[(Any, Array[Double], Double)] = {
    val MaxCodebookCells = 65536
    val taken = cb
      .select(col("c_id"), col("cv").cast("array<double>").as("cv"))
      .orderBy(col("c_id"))
      .take(MaxCodebookCells + 1)
    // over-cap check runs on the UNFILTERED fetch (r18 advice): a
    // zero-norm cell inside the fetched window must not let an oversized
    // codebook slip under the cap and be silently truncated
    require(taken.length <= MaxCodebookCells,
      s"ivf_pq: coarse codebook exceeds $MaxCodebookCells cells — train a " +
        "bounded one with trainKMeans/trainKMeansLocal")
    val rows = taken
      .map { r =>
        val v = r.getSeq[Double](1).toArray
        (r.get(0), v, v.map(x => x * x).sum)
      }
      .filter(_._3 > 0)
    require(rows.nonEmpty,
      "ivf_pq: no usable (non-zero-norm) coarse centroid — nothing to " +
        "assign against")
    rows
  }

  /** The STORED IVF-PQ corpus: coarse cell (literal-argmax cosine
    * assignment — the r17 no-expansion shape), exact norm, and the m
    * PQ codes per vector ([[graft.functions.PqEncode]], one codegen pass).
    * Zero-norm and ragged vectors are excluded (family convention). At
    * 100 TB this frame is what lands in the bucketed table (partitioned
    * by `list_id`); the float vectors are kept in a separate point-fetch
    * table that only the rerank stage reads.
    */
  /** Enforce that a residual model is paired with the coarse codebook it
    * was trained against — a silently different codebook would mis-center
    * every residual. Bit-for-bit compare of the flat centroid arrays.
    */
  private def requireResidualPairing(pq: PqModel,
      coarse: Array[(Any, Array[Double], Double)]): Array[Double] = {
    val flat = pq.residualCoarse.get
    val dim = pq.m * pq.dsub
    require(flat.length == coarse.length * dim &&
      coarse.zipWithIndex.forall { case ((_, cv, _), i) =>
        java.util.Arrays.equals(cv, 0, dim,
          flat, i * dim, (i + 1) * dim) },
      "residual PqModel is paired with a DIFFERENT coarse codebook than " +
        "it was trained against — train and serve with the same ivfPqTrain " +
        "output")
    flat
  }

  /** Cheap distribution-fit statistic for index-lifecycle drift detection
    * (r19 verdict #5): count and mean RESIDUAL NORM ‖v − c_best‖ over a
    * batch, where c_best is the encoder's own coarse assignment (argmax
    * cosine). The residual is exactly what residual PQ quantizes, so its
    * magnitude is the direct driver of quantization error: a batch whose
    * mean residual norm is far off the training corpus's is served with
    * silently degraded recall unless something makes it loud. (A pure
    * angle stat — mean 1 − best cos sim — was measured first and has no
    * contrast on weakly-clustered corpora: an off-manifold batch reads
    * ~1.05× baseline because arbitrary directions are already ~orthogonal
    * to every centroid; the residual norm reads ~8× on the same batch.)
    * One map-side aggregate over the same literal-centroid arithmetic the
    * encoder uses; no shuffle beyond the scalar fold, no vector collect.
    */
  def coarseFitStats(vecs: DataFrame, coarseCb: DataFrame): (Long, Double) = {
    val coarse = collectCoarse(coarseCb)
    // r22: one codegen loop ([[graft.functions.CoarseResidSq]]) — the
    // former dots-array + element_at formulation re-inlined the full
    // cells × literal-centroid dots CreateArray into every element_at
    // reference (the same per-row boxing pathology as pqEncodeOn's old
    // argmax; see CoarseArgmax's docstring). Arithmetic, fold order,
    // first-max tiebreak and the 0-clamp are replicated exactly.
    val residsq = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.CoarseResidSq(
        org.apache.spark.sql.GraftSqlBridge.expression(col("v")),
        org.apache.spark.sql.GraftSqlBridge.expression(col("nrm")),
        coarse.flatMap(_._2.toSeq).toSeq,
        coarse.map(_._3).toSeq))
    val row = cleanedWithNrm(vecs)
      .withColumn("residsq", residsq)
      .agg(count(lit(1)), avg(sqrt(col("residsq")))).head
    (row.getLong(0), if (row.isNullAt(1)) 0.0 else row.getDouble(1))
  }

  def pqEncodeOn(vecs: DataFrame, coarseCb: DataFrame, pq: PqModel): DataFrame = {
    val coarse = collectCoarse(coarseCb)
    val listIds = array(coarse.map(c => lit(c._1)).toIndexedSeq: _*)
    // r22: the coarse assignment is ONE codegen loop over referenced
    // arrays ([[graft.functions.CoarseArgmax]]) instead of the
    // array_position-over-literal-sims tree — Catalyst inlined that tree
    // into every consumer (list_id AND the residual encoder's cell
    // argument) and codegen rebuilt each literal centroid as a boxed
    // GenericArrayData per dot per row; the residual encode stage
    // measured ~10× the non-residual one from exactly this (thread-dump
    // + debug-codegen evidence, OPTIMIZATION_r22.md). Semantics are
    // bit-identical (same fold order, same sqrt constants, first-max
    // tiebreak = array_position's first-match rule; pin-gated ×3 SFs).
    val argmax = coarseArgmax(coarse.flatMap(_._2.toSeq).toSeq,
      coarse.map(c => math.sqrt(c._3)).toSeq)
    val enc = if (pq.residual) {
      val flat = requireResidualPairing(pq, coarse)
      org.apache.spark.sql.GraftSqlBridge.column(
        graft.functions.PqEncodeResidual(
          org.apache.spark.sql.GraftSqlBridge.expression(col("v")),
          org.apache.spark.sql.GraftSqlBridge.expression(col("cidx")),
          flat.toSeq, pq.m, pq.ksub, pq.codebook.toSeq))
    } else org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PqEncode(
        org.apache.spark.sql.GraftSqlBridge.expression(col("v")),
        pq.m, pq.ksub, pq.codebook.toSeq))
    cleanedWithNrm(vecs)
      // 0-based coarse index once; list_id derives from it so the residual
      // encoder and the emitted list agree by construction
      .withColumn("cidx", argmax)
      .withColumn("list_id", element_at(listIds, col("cidx") + 1))
      .select(col("vec_id"), col("label"), col("list_id"), col("nrm"),
        enc.as("codes"))
      .filter(col("codes").isNotNull)
  }

  /** ADC search over a [[pqEncodeOn]]-shaped frame: the probe's `nprobe`
    * coarse lists are chosen by driver arithmetic over the collected
    * codebook, candidates in those lists are scored map-side through the
    * probe's literal lookup tables (m element_at's per row — no vector
    * bytes, no shuffle), and only the top `rerank` candidates are
    * exact-reranked against `rerankVecs` via a broadcast point-fetch.
    *
    * `adc_cosine` uses the STORED exact norm (`lut-dot / (‖v‖·‖p‖)`) —
    * the standard IP-metric IVFPQ posture of carrying one norm per vector
    * alongside the codes; `cosine` is the exact rerank score the top-k is
    * ordered by.
    */
  def ivfPqSearch(encoded: DataFrame, rerankVecs: DataFrame,
      probeVec: Seq[Double], coarseCb: DataFrame, pq: PqModel,
      k: Int, nprobe: Int, rerank: Int): DataFrame = {
    require(rerank >= k,
      s"rerank window must cover k (got rerank=$rerank, k=$k)")
    val p = probeVec.toArray
    require(p.exists(_ != 0.0),
      "zero probe vector has no direction — cosine scoring is undefined")
    require(p.length == pq.m * pq.dsub,
      s"probe dim ${p.length} does not match the quantizer's " +
        s"${pq.m} × ${pq.dsub}")
    val pn = math.sqrt(p.map(x => x * x).sum)
    val coarse = collectCoarse(coarseCb)
    // probe lists: driver arithmetic over collected metadata — ties break
    // toward the lower c_id (the collect order), as everywhere in the family
    val probed: Seq[(Any, Int)] = coarse.zipWithIndex
      .map { case ((id, cv, cn), idx) =>
        // loud dim check against the COARSE codebook too (r18 advice): the
        // probe is validated against the PQ model above, but on the
        // non-residual path a wrong-dim coarse codebook would otherwise
        // select probe lists from a truncated dot product
        require(cv.length == p.length,
          s"ivf_pq: coarse centroid $id dim ${cv.length} != probe dim " +
            s"${p.length}")
        var dp = 0.0
        var i = 0
        while (i < p.length) { dp += cv(i) * p(i); i += 1 }
        (id, idx, dp / (pn * math.sqrt(cn)))
      }
      .sortBy { case (_, idx, sim) => (-sim, idx) }
      .take(nprobe).map(t => (t._1, t._2)).toSeq
    val probeListIds: Seq[Any] = probed.map(_._1)
    // ADC lookup tables from the probe: lut[j][c] = <probe_j, cent_{j,c}>.
    // On the residual path the pq centroids quantize v − C[cell], and for
    // the INNER-PRODUCT metric <p, v> = <p, C_cell> + <p, residual> — the
    // SAME shared tables plus one per-list constant (faiss's IP
    // by_residual decomposition; only L2 needs per-list tables).
    val lutFlat: Array[Double] = Array.tabulate(pq.m * pq.ksub) { jc =>
      val j = jc / pq.ksub
      val c = jc % pq.ksub
      var s = 0.0
      val base = (j * pq.ksub + c) * pq.dsub
      var i = 0
      while (i < pq.dsub) { s += p(j * pq.dsub + i) * pq.codebook(base + i); i += 1 }
      s
    }
    // one codegen loop over the m BYTE codes against the probe's flat
    // lookup table (r19 — replaces m element_at's over literal arrays):
    // a single expression node regardless of m/ksub, same ascending-j sum
    // order so ADC doubles are bit-identical; zero vector bytes
    val sumLut = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.PqAdc(
        org.apache.spark.sql.GraftSqlBridge.expression(col("codes")),
        pq.m, pq.ksub, lutFlat.toSeq))
    val adcDot = if (!pq.residual) sumLut else {
      val flat = requireResidualPairing(pq, coarse)
      val dim = pq.m * pq.dsub
      // per probed list: const_l = <p, C_l>, selected by a ≤ nprobe-branch
      // literal when-chain (candidates are filtered to the probed lists,
      // so every row matches a branch)
      val consts = probed.map { case (id, idx) =>
        var s = 0.0
        var i = 0
        while (i < dim) { s += p(i) * flat(idx * dim + i); i += 1 }
        (id, s)
      }
      val constCol = consts.tail.foldLeft(
        when(col("list_id") === lit(consts.head._1), lit(consts.head._2))) {
        case (w, (id, s)) => w.when(col("list_id") === lit(id), lit(s))
      }
      constCol + sumLut
    }
    val cand = encoded
      .filter(col("list_id").isin(probeListIds: _*))
      .withColumn("adc_cosine", adcDot / (sqrt(col("nrm")) * lit(pn)))
      .orderBy(col("adc_cosine").desc, col("vec_id").asc)
      .limit(rerank)
      .select(col("vec_id").as("cand_id"), col("adc_cosine"))
    // exact rerank: broadcast the ≤ rerank candidate ids and point-fetch
    // their float vectors — the ONLY stage that reads vector bytes
    cleanedWithNrm(rerankVecs)
      .join(broadcast(cand), col("vec_id") === col("cand_id"))
      .select(col("vec_id"), col("label"),
        Norm.r4(col("adc_cosine")).as("adc_cosine"),
        Norm.r4(dot(col("v"), litVec(probeVec)) /
          (sqrt(col("nrm")) * lit(pn))).as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Train-encode-search IVF-PQ over an arbitrary (vec_id[, label],
    * embedding) frame — the one-call form; at scale you train once, store
    * [[pqEncodeOn]]'s output bucketed by `list_id`, and serve probes with
    * [[ivfPqSearch]].
    */
  /** [[ivfPqOn]]'s training step, exposed so external timers (Bench's
    * `pq_split`) provably measure the SAME preparation the query runs:
    * both quantizers train on the SAME deterministic hash sample (same
    * seed/cap), collected once — results bit-identical to calling the two
    * public trainers separately (asserted by the parquet-path identity
    * test), one corpus TakeOrdered pass cheaper.
    */
  def ivfPqTrain(vecs: DataFrame, cells: Int = IvfTrainedCells,
      m: Int = 8, ksub: Int = 32,
      byResidual: Boolean = false): (DataFrame, PqModel) = {
    require(IvfTrainedSampleCap >= cells,
      s"sampleCap must be >= cells (got $IvfTrainedSampleCap, $cells)")
    val sample = hashSample(vecs, 42L, IvfTrainedSampleCap, "ivfPqTrain")
    val coarse = kMeansLocalCore(vecs.sparkSession, sample, cells,
      IvfTrainedIters)
    if (!byResidual)
      return (coarse, pqLocalCore(sample, m, ksub, iters = 8))
    // RESIDUAL training (faiss by_residual=true): quantize v − C[cell]
    // instead of v. The sample's coarse assignment mirrors the map-side
    // literal-argmax EXACTLY (cosine, strict > → lowest index on ties,
    // zero-norm cells dropped) so training and encoding see the same
    // geometry; the model carries the flat centroid array it was trained
    // against and the consumers enforce the pairing bit-for-bit.
    val cc = collectCoarse(coarse)
    val dim = sample.head.length
    val flat = new Array[Double](cc.length * dim)
    cc.zipWithIndex.foreach { case ((_, cv, _), i) =>
      require(cv.length == dim,
        s"ivfPqTrain: coarse centroid dim ${cv.length} != corpus dim $dim")
      System.arraycopy(cv, 0, flat, i * dim, dim)
    }
    val residuals = sample.map { v =>
      val vn = math.sqrt(v.map(x => x * x).sum)
      var best = 0
      var bestSim = Double.NegativeInfinity
      var c = 0
      while (c < cc.length) {
        val cv = cc(c)._2
        var dp = 0.0
        var i = 0
        while (i < dim) { dp += v(i) * cv(i); i += 1 }
        val sim = dp / (vn * math.sqrt(cc(c)._3))
        if (sim > bestSim) { bestSim = sim; best = c }
        c += 1
      }
      val r = new Array[Double](dim)
      var i = 0
      while (i < dim) { r(i) = v(i) - flat(best * dim + i); i += 1 }
      r
    }
    val pq = pqLocalCore(residuals, m, ksub, iters = 8)
    (coarse, pq.copy(residualCoarse = Some(flat)))
  }

  def ivfPqOn(vecs: DataFrame, k: Int, nprobe: Int, probeVec: Seq[Double],
      cells: Int = IvfTrainedCells, m: Int = 8, ksub: Int = 32,
      rerank: Int = IvfPqRerank, byResidual: Boolean = false): DataFrame = {
    val (coarse, pq) = ivfPqTrain(vecs, cells, m, ksub, byResidual)
    ivfPqSearch(pqEncodeOn(vecs, coarse, pq), vecs, probeVec, coarse, pq,
      k, nprobe, rerank)
  }

  /** The end-to-end IVF-PQ fixture (registry `q_sim_ivf_pq`): same probe
    * contract as [[ivf]]/[[ivfTrained]] (probe = vec 0, excluded), scored
    * through trained coarse + product quantizers with ADC and exact
    * rerank. Rows-only in the driver gate (k-means assignment and ADC
    * compare FP distances — not oracle-stable across engines, the same
    * declared reason as `q_sim_ivf`); the artifact carries its own recall
    * evidence (`in_exact_topk`), and the ScalaTest suite asserts the
    * recall floor against brute force plus determinism.
    */
  def ivfPq(s: SparkSession, dir: String, k: Int = IvfPqK,
      nprobe: Int = IvfPqNprobe): DataFrame = {
    val vecs = Tables.embeddings(s, dir)
    val probe = vecs.filter(col("vec_id") === 0)
      .select(asDouble(col("embedding"))).head.getSeq[Double](0).toSeq
    withExactTopkFlag(s, dir, k,
      ivfPqOn(vecs.filter(col("vec_id") =!= 0), k, nprobe, probe),
      probeVec = Some(probe))
  }

  /** The RESIDUAL IVF-PQ fixture (registry `q_sim_ivf_pq_res`): same
    * contract as [[ivfPq]] with `by_residual=true` — the faiss default,
    * and the measured fix for ADC recall decay on weakly-clustered
    * corpora (PQBENCH: residuals concentrate near the origin, so the same
    * m × ksub budget quantizes them with less error). Rows-only for the
    * same declared reason as the whole IVF family.
    */
  def ivfPqResidual(s: SparkSession, dir: String, k: Int = IvfPqK,
      nprobe: Int = IvfPqNprobe): DataFrame = {
    val vecs = Tables.embeddings(s, dir)
    val probe = vecs.filter(col("vec_id") === 0)
      .select(asDouble(col("embedding"))).head.getSeq[Double](0).toSeq
    withExactTopkFlag(s, dir, k,
      ivfPqOn(vecs.filter(col("vec_id") =!= 0), k, nprobe, probe,
        byResidual = true), probeVec = Some(probe))
  }

  /** The PERSISTED-index fixture (registry `q_sim_ivf_pq_stored`, r19):
    * the full index lifecycle — train (residual, the faiss default), save
    * through [[AnnIndexIO]], REOPEN from disk, and serve the same probe
    * contract as [[ivfPqResidual]] from the stored codes. The search scans
    * only the probed lists' partitions of the codes table (partition
    * pruning — AnnIndexIOSpec pins the PartitionFilters and the
    * vector-free ReadSchema); results are identical to the in-session
    * path, so the pin/rows-only evidence carries over. Rows-only for the
    * family's declared reason (FP k-means + ADC).
    */
  def ivfPqStored(s: SparkSession, dir: String, k: Int = IvfPqK,
      nprobe: Int = IvfPqNprobe): DataFrame = {
    val vecs = Tables.embeddings(s, dir)
    val probe = vecs.filter(col("vec_id") === 0)
      .select(asDouble(col("embedding"))).head.getSeq[Double](0).toSeq
    val corpus = vecs.filter(col("vec_id") =!= 0)
    val (coarse, pq) = ivfPqTrain(corpus, byResidual = true)
    val base = graft.TempDirs.scratch("graft_ann_index")
    AnnIndexIO.save(base, coarse, pq, pqEncodeOn(corpus, coarse, pq),
      fitSource = Some(corpus))
    withExactTopkFlag(s, dir, k,
      AnnIndexIO.searchStored(s, base, corpus, probe, k, nprobe,
        IvfPqRerank), probeVec = Some(probe))
  }
}

/** Driver-resident product-quantizer model — `m` subspaces × `ksub`
  * sub-centroids of `dsub` dims each, flat row-major
  * `[(j·ksub + c)·dsub + i]`. Plan metadata, the same residence class as
  * the IVF coarse codebook (m·ksub·dsub doubles — 16 KiB at the 8×32×8
  * default over 64-dim embeddings; production deployments typically use
  * ksub=256, still metadata-sized).
  */
case class PqModel(m: Int, ksub: Int, codebook: Array[Double],
    residualCoarse: Option[Array[Double]] = None) {
  require(m > 0 && ksub > 0 && codebook.nonEmpty &&
    codebook.length % (m * ksub) == 0,
    s"PqModel: codebook length ${codebook.length} must be a positive " +
      s"multiple of m*ksub = ${m * ksub}")
  /** Subvector width implied by the codebook. */
  def dsub: Int = codebook.length / (m * ksub)
  /** True when the quantizer was trained on coarse-cell RESIDUALS
    * (faiss `by_residual=true`): the model then carries the flat
    * `cells × dim` centroid array it was trained against (index order =
    * cell index), and encode/search MUST pair it with the same coarse
    * codebook — enforced bit-for-bit by the consumers.
    */
  def residual: Boolean = residualCoarse.nonEmpty
  residualCoarse.foreach { cc =>
    require(cc.nonEmpty && cc.length % (m * dsub) == 0,
      s"PqModel: residual coarse length ${cc.length} must be a positive " +
        s"multiple of dim = ${m * dsub}")
  }
}
