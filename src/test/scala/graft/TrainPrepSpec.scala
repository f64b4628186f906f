package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TrainPrep}

/** Properties for the training-data prep operators (chunking,
  * contamination, PII scrub, stratified sampling) and near-dup clustering —
  * each checked against a driver-side brute-force reference on the small
  * fixture (test-only; the operators themselves never collect).
  */
class TrainPrepSpec extends SparkSpec {

  test("near-dup clusters partition the ngram pair graph with min-id reps") {
    val pairs = Dedup.ngramJaccard(spark, sf0001).select("a_id", "b_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture must contain near-dup pairs")
    // brute-force union-find with min-id roots
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(v => v -> find(v)).toMap
    val got = Dedup.nearDupClusters(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getInt(3)))
    assert(got.map(_._1).toSet === expected.keySet)
    got.foreach { case (id, rep, isRep, size) =>
      assert(rep === expected(id), s"doc $id: rep $rep vs expected ${expected(id)}")
      assert(isRep === (id == rep))
      assert(size === expected.values.count(_ == expected(id)))
    }
  }

  test("label propagation converges on a diameter-300 chain in O(log D) rounds") {
    import spark.implicits._
    // a path graph 0-1-...-300 needs ~300 hop-only propagation rounds —
    // far beyond maxIters = 20, so convergence HERE proves both the
    // pointer-jump acceleration (hop+jump covers distance ≥ 2^k after k
    // rounds) and the per-round lineage cut (20 rounds of plan-on-plan
    // growth would explode analysis cost without it)
    val n = 300L
    val chain = (0L until n).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val got = Dedup.clusterPairs(chain, maxIters = 20).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getInt(3)))
    assert(got.length == (n + 1).toInt)
    got.foreach { case (id, rep, isRep, size) =>
      assert(rep == 0L, s"node $id: chain component rep must be 0, got $rep")
      assert(isRep == (id == 0L))
      assert(size == (n + 1).toInt)
    }
  }

  test("clusterPairs equals driver union-find on seeded random graphs (jump soundness)") {
    import spark.implicits._
    // three densities: sparse (forest-ish, long chains), medium, dense
    // (near one giant component) — the regimes where pointer jumping and
    // the hop step interact differently
    for ((seed, nNodes, nEdges) <- Seq((1L, 40, 18), (2L, 40, 45), (3L, 30, 120))) {
      val rnd = new scala.util.Random(seed)
      val edges = Seq.fill(nEdges) {
        val a = rnd.nextInt(nNodes).toLong
        val b = rnd.nextInt(nNodes).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(e => e._1 != e._2).distinct
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v)).toMap
      val got = Dedup.clusterPairs(edges.toDF("a_id", "b_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getInt(3)))
      assert(got.map(_._1).toSet == expect.keySet, s"seed=$seed node set")
      got.foreach { case (id, rep, isRep, size) =>
        assert(rep == expect(id), s"seed=$seed node $id rep")
        assert(isRep == (id == rep), s"seed=$seed node $id is_rep")
        assert(size == expect.values.count(_ == expect(id)), s"seed=$seed size")
      }
    }
  }

  test("semantic clusters assign EVERY vector, singletons as their own rep") {
    val vecs = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding"))
    val nVecs = vecs.count()
    val pairs = Dedup.embedCosineOn(vecs).select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val paired = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val got = Dedup.semanticClustersOn(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getInt(3)))
    assert(got.length.toLong == nVecs, "assignment must cover the corpus")
    assert(got.map(_._1).distinct.length == got.length, "one row per vector")
    got.filterNot(g => paired(g._1)).foreach { case (id, rep, isRep, size) =>
      assert(rep == id && isRep && size == 1,
        s"singleton $id must be its own rep of size 1, got ($rep, $isRep, $size)")
    }
    // paired vectors carry the clusterPairs labels verbatim
    val lab = Dedup.clusterPairs(
      Dedup.embedCosineOn(vecs).select("a_id", "b_id")).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2), r.getInt(3))))
      .toMap
    got.filter(g => paired(g._1)).foreach { case (id, rep, isRep, size) =>
      assert((rep, isRep, size) == lab(id))
    }
  }

  test("semantic clusters on an all-orthogonal corpus: every vector a singleton") {
    import spark.implicits._
    // pairwise-orthogonal vectors share no sign pattern beyond chance and
    // have cosine 0 < threshold — the empty-pair-graph path end to end
    val dim = 64
    val vecs = (0 until 3).map { i =>
      (i.toLong, Array.tabulate(dim)(j => if (j == i) 1.0f else 0.0f))
    }.toDF("vec_id", "embedding")
    val got = Dedup.semanticClustersOn(vecs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getInt(3)))
    assert(got.toSeq == Seq((0L, 0L, true, 1), (1L, 1L, true, 1),
      (2L, 2L, true, 1)))
  }

  test("clustering a corpus with no near-dups yields an empty result, not a hang") {
    // all-distinct texts: no shared 3-gram, so the pair graph is empty and
    // label propagation must exit on its first fixpoint check
    val tmp = tempDir("graft_nodups")
    import spark.implicits._
    (0 until 20).map { i =>
      (i.toLong, "en", 100, (0 until 10).map(j => s"w${i * 100 + j}").mkString(" "))
    }.toDF("doc_id", "lang", "n_chars", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = Dedup.nearDupClusters(spark, tmp)
    assert(got.columns.toSeq ===
      Seq("doc_id", "cluster_rep", "is_rep", "cluster_size"))
    assert(got.count() === 0)
    spark.catalog.clearCache()
  }

  test("chunking covers every token exactly to the end with stride/window invariants") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val chunks = TrainPrep.chunk(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    val byDoc = chunks.groupBy(_._1)
    assert(byDoc.keySet === docs.keySet, "every doc must produce chunks")
    byDoc.foreach { case (id, cs) =>
      val n = docs(id)
      val sorted = cs.sortBy(_._2)
      sorted.zipWithIndex.foreach { case ((_, idx, start, len), i) =>
        assert(idx === i, "chunk indexes must be dense from 0")
        assert(start === i * 16)
        assert(len === math.min(32, n - start))
        assert(len > 0, "no empty chunks")
      }
      val last = sorted.last
      assert(last._3 + last._4 === n, s"doc $id: final chunk must end at token $n")
    }
  }

  test("contamination reports exactly the train docs sharing a 3-gram with the eval set") {
    val all = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("tk")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1)))
      .filter(_._2.length >= 3)
      .map { case (id, tk) => id -> tk.sliding(3).map(_.mkString(" ")).toSet }
    val evalGrams = all.filter(_._1 % 97 == 0).flatMap(_._2).toSet
    assert(evalGrams.nonEmpty)
    val expected = all.filter(_._1 % 97 != 0)
      .map { case (id, g) => (id, (g & evalGrams).size, g.size) }
      .filter(_._2 > 0).map(t => t._1 -> ((t._2, t._3))).toMap
    val got = TrainPrep.contamination(spark, sf0001).collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getInt(1)))).toMap
    assert(got === expected)
  }

  test("pii scrub removes every long digit run and counts redactions") {
    val rows = TrainPrep.piiScrub(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val scrubbed = r.getString(1)
      assert("[0-9]{6,}".r.findFirstIn(scrubbed).isEmpty,
        s"long digit run survives in '$scrubbed'")
      assert(r.getInt(2) >= 1, "every synthetic customer name carries an id run")
      assert(r.getInt(3) >= 6 * r.getInt(2),
        "each redaction must account for at least 6 removed chars")
    }
  }

  test("sequence packing conserves tokens with dense per-lang sequence ids") {
    val totalByLang = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("lang"), size(split(col("text"), " ")).as("n"))
      .groupBy("lang").agg(sum("n").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val packed = TrainPrep.packSequences(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byLang = packed.groupBy(_._1)
    assert(byLang.keySet === totalByLang.keySet)
    byLang.foreach { case (lang, seqs) =>
      // every token of the domain lands in exactly one sequence
      assert(seqs.map(_._4).sum === totalByLang(lang), s"$lang loses tokens")
      // doc gaps are < seqLen, so sequence ids are dense from 0
      val ids = seqs.map(_._2).sorted
      assert(ids === (0L until ids.length).toArray.toSeq, s"$lang ids not dense: $ids")
      assert(seqs.forall(_._3 >= 1))
    }
  }

  test("sequence packing is invariant to the split count") {
    // the two-level prefix sum must produce the SAME packing regardless of
    // how many range splits carry it — split boundaries cancel out of the
    // arithmetic; degenerate cases included (1 split = global window
    // semantics, more splits than docs-per-lang)
    def run(n: Int) = TrainPrep.packSequences(spark, sf0001, splits = n)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted.toSeq
    val ref = run(1)
    for (n <- Seq(3, 8, 64)) assert(run(n) === ref, s"splits=$n diverges")
  }

  test("repetition signals match a per-doc brute-force reference") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = graft.operators.Text.repetition(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getDouble(3)))
    def r4(x: Double) = math.round(x * 10000.0) / 10000.0
    val expected = docs.collect { case (id, text) =>
      val tk = text.split(" ", -1)
      val g2 = tk.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      (id, tk.length, g2)
    }.filter(_._3.nonEmpty)
    assert(got.map(_._1).sorted.toSeq === expected.map(_._1).toSeq.sorted)
    val byId = expected.map(e => e._1 -> e).toMap
    got.foreach { case (id, n, dupFrac, topFrac) =>
      val (_, en, g2) = byId(id)
      assert(n === en)
      assert(dupFrac === r4(1.0 - g2.distinct.size.toDouble / g2.size), s"doc $id")
      val tk = docs(id).split(" ", -1)
      val maxTf = tk.groupBy(identity).values.map(_.length).max
      assert(topFrac === r4(maxTf.toDouble / tk.length), s"doc $id")
    }
  }

  test("quality gate flags match a per-doc brute-force reference") {
    val stop = Set("the", "a", "of", "to", "in", "and", "is")
    def r4(x: Double) = math.round(x * 10000.0) / 10000.0
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "n_chars", "text").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val got = graft.operators.Text.qualityGate(spark, sf001).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6))).toMap
    val eligible = docs.filter(_._3.split(" ", -1).length >= 2)
    assert(got.keySet === eligible.map(_._1).toSet)
    eligible.foreach { case (id, nChars, text) =>
      val tk = text.split(" ", -1)
      val n = tk.length
      val g2 = tk.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val tooShort = n < 20
      val badTok = {
        val m = r4((nChars - n + 1).toDouble / n); m < 3.0 || m > 10.0
      }
      val lowStop = r4(tk.count(stop).toDouble / n) < 0.01
      val repetitive = r4(1.0 - g2.distinct.size.toDouble / g2.size) > 0.08
      val keep = !tooShort && !badTok && !lowStop && !repetitive
      assert(got(id) === ((n, tooShort, badTok, lowStop, repetitive, keep)),
        s"doc $id")
    }
    // the fixture must actually exercise the gate in both directions
    assert(got.values.exists(_._6) && got.values.exists(!_._6),
      "fixture should contain both kept and dropped docs")
  }

  test("repetition and quality gate handle degenerate documents") {
    // single-token doc excluded; all-identical tokens hit max repetition;
    // consecutive spaces produce empty tokens — counted identically by
    // Spark split and DuckDB string_split, so the operator must not
    // special-case them away
    val tmp = tempDir("graft_degen")
    import spark.implicits._
    Seq(
      (0L, Seq.fill(25)("w").mkString(" "), "en", "web", 49L),
      (1L, "a b", "en", "web", 3L),
      (2L, "solo", "en", "web", 4L),
      (3L, "a  b c", "en", "web", 6L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    def r4(x: Double) = math.round(x * 10000.0) / 10000.0
    val rep = graft.operators.Text.repetition(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(rep.keySet === Set(0L, 1L, 3L), "single-token doc must drop out")
    // doc 0: 24 identical 2-grams, 1 distinct; top token is all 25
    assert(rep(0L) === ((25, r4(1.0 - 1.0 / 24.0), 1.0)))
    // doc 1: one 2-gram, no repetition, each token appears once
    assert(rep(1L) === ((2, 0.0, 0.5)))
    // doc 3: tokens are [a, "", b, c] — the empty token counts
    assert(rep(3L) === ((4, 0.0, 0.25)))
    val gate = graft.operators.Text.qualityGate(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5), r.getBoolean(6))).toMap
    // the GATE (unlike the repetition signal report) verdicts every doc:
    // the single-token doc appears flagged too_short with null-signal
    // rules coalesced false — never silently absent
    assert(gate.keySet === Set(0L, 1L, 2L, 3L))
    assert(gate(2L) === ((true, false, false, false, false)))
    // doc 0: repetitive AND low-stopword AND (mean_tok_len = 1 < 3)
    assert(gate(0L) === ((false, true, true, true, false)))
    // docs 1/3: too short + sub-3 mean token length ("a" IS a stopword, so
    // not low-stopword) => dropped with those two reasons
    assert(gate(1L) === ((true, true, false, false, false)))
    assert(gate(3L) === ((true, true, false, false, false)))
    spark.catalog.clearCache()
  }

  test("source-mix shares sum to 1 and match per-cell brute force") {
    val rows = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("source"), col("lang"),
        size(split(col("text"), " ")).as("nt"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
    val got = TrainPrep.sourceMix(spark, sf0001).collect().map(r =>
      (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    def r4(x: Double) = math.round(x * 10000.0) / 10000.0
    val cells = rows.groupBy(r => (r._1, r._2))
    val totDocs = rows.length.toDouble
    val totToks = rows.map(_._3.toLong).sum.toDouble
    assert(got.length === cells.size)
    got.foreach { case (src, lang, nDocs, sumT, sumC, dShare, tShare) =>
      val cell = cells((src, lang))
      assert(nDocs === cell.length)
      assert(sumT === cell.map(_._3.toLong).sum)
      assert(sumC === cell.map(_._4).sum)
      assert(dShare === r4(nDocs / totDocs))
      assert(tShare === r4(sumT / totToks))
    }
    // shares are a partition of the corpus (up to per-cell rounding)
    assert(math.abs(got.map(_._6).sum - 1.0) < 1e-2)
  }

  test("gates give EVERY doc a verdict: short/null docs flagged, not dropped") {
    import spark.implicits._
    import graft.operators.Text
    val corpus = Seq(
      (1L, "one", 3L),
      (2L, null.asInstanceOf[String], 0L),
      (3L, "the a of to in and is the a of to in and is the a of to in and is", 66L))
      .toDF("doc_id", "text", "n_chars")
    val gate = Text.qualityGateOn(corpus).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(gate.keySet == Set(1L, 2L, 3L), "every doc appears")
    assert(gate(1L).getInt(1) == 1 && gate(1L).getBoolean(2) &&
      !gate(1L).getBoolean(6), "1-token doc: too_short, keep=false")
    assert(gate(2L).getInt(1) == 0 && gate(2L).getBoolean(2) &&
      !gate(2L).getBoolean(6), "null-text doc: 0 tokens, too_short")
    // substring dedup: a sub-3-token doc has no grams → (0, 0, 0.0, keep)
    val sd = Dedup.substringDupOn(
      Seq((1L, "alpha beta gamma delta"), (2L, "so short"))
        .toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    assert(sd.length == 2)
    assert(sd.find(_._1 == 2L).get == ((2L, 0L, 0L, 0.0, true)),
      "gram-less doc gets the zero verdict, not silence")
  }

  test("per-group sample is deterministic, k-bounded, and md5-ordered") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("lang", "doc_id")
    val k = 5
    val got = TrainPrep.sampleGroupOn(docs, k).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    // driver-side brute force of the declared permutation (test-only)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val expect = docs.collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1)
      .map { case (lang, rows) =>
        lang -> rows.map(_._2).sortBy(id => (md5hex(id.toString), id)).take(k).toSeq
      }
    val byLang = got.groupBy(_._1)
    assert(byLang.keySet == expect.keySet)
    byLang.foreach { case (lang, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length),
        s"$lang: ranks must be dense from 1")
      assert(rows.sortBy(_._3).map(_._2).toSeq == expect(lang),
        s"$lang: sample must be the first $k of the md5 permutation")
    }
    // reproducibility: an independent run picks the identical sample
    assert(TrainPrep.sampleGroupOn(docs, k).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSeq
      == got.toSeq)
  }

  test("mode profile breaks count ties to the smallest source") {
    import spark.implicits._
    val rows = Seq(("en", "b"), ("en", "a"), ("en", "a"), ("en", "b"),
      ("en", "c"), ("fr", "z")).toDF("lang", "source")
    val got = TrainPrep.modeProfileOn(rows).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("en", "a", 2L, 0.4), ("fr", "z", 1L, 1.0)),
      s"tie a=2/b=2 must resolve to 'a'; got ${got.toSeq}")
  }

  test("stratified sample is deterministic and near its per-lang rate") {
    def run() = TrainPrep.sampleStratified(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val a = run()
    assert(a.toSeq === run().toSeq, "content-hash sampling must be reproducible")
    a.foreach { case (lang, n, kept, frac) =>
      assert(kept <= n)
      val target = if (lang == "en") 0.5 else 0.25
      assert(math.abs(frac - target) <= 0.2,
        s"$lang: frac=$frac far from target=$target (n=$n)")
    }
  }
}
