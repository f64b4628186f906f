package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Norm, Tables}

/** Exact distributed quantiles by BRACKET-AND-VERIFY — the formulation
  * that stays exact at 100 TB.
  *
  * Spark's built-in exact `percentile` aggregate accumulates a per-group
  * value-count map (every distinct value lives in one aggregation buffer,
  * serialized through the shuffle) and DuckDB's `quantile_cont` sorts the
  * group — both single-node shapes that break on a 100 TB column. Here the
  * corpus is only ever touched by two map-side passes:
  *
  *   1. one `approx_percentile` sketch per group brackets each target
  *      quantile: the GK summary guarantees rank error ≤ n/accuracy, so
  *      the sketch values at p ± 2/accuracy enclose the true quantile's
  *      neighbourhood;
  *   2. a second pass classifies each row against its group's bracket
  *      (below / inside / above) and aggregates ONLY (distinct value,
  *      count) pairs inside the bracket plus a below-count — by the rank
  *      guarantee, at most ~4·n/accuracy ranks, so the shuffle and the
  *      final per-group candidate set are metadata-sized regardless of
  *      corpus size (value ties collapse into one counter).
  *
  * The exact interpolated quantile is then assembled from the candidates'
  * cumulative ranks with the same `lower + (t − ⌊t⌋)·(upper − lower)`
  * rule as Spark `percentile` / DuckDB `quantile_cont`, so results are
  * oracle-comparable. The trailing window runs over ≤ |groups|·|ps|·
  * bracket-width rows — bounded by construction, never by the corpus.
  */
object Quantiles {

  /** q_agg_pct_exact: exact interpolated p50/p95 of l_extendedprice per
    * return flag, long form (flag, p, pct) — oracled against DuckDB's
    * `quantile_cont` on both quantiles.
    */
  def aggPercentileExact(s: SparkSession, dir: String): DataFrame =
    exactPercentilesOn(Tables.lineitem(s, dir),
      "l_returnflag", "l_extendedprice", Seq(0.5, 0.95))
      .select(col("g").as("l_returnflag"), col("p"),
        Norm.r4(col("pct")).as("pct"))
      // |groups|×|ps| METADATA rows: a global orderBy would pay a
      // range-partitioning sampling job on them — one partition +
      // in-partition sort is the identical total order for one job less
      // (the r20 q_agg_hist_eq fold, applied to its sibling lines r21)
      .coalesce(1)
      .sortWithinPartitions("l_returnflag", "p")

  /** Exact interpolated quantiles `ps` of `valueCol` per `groupCol`,
    * returned long-form as (g, p, pct). `accuracy` trades bracket size
    * (≈ 4·n/accuracy ranks shuffled per group) against sketch cost.
    * A null `pct` means the sketch's rank guarantee was violated —
    * impossible for Spark's GK implementation at the declared accuracy,
    * and loudly caught by the oracle/spec rather than silently absorbed.
    *
    * @throws IllegalArgumentException when `ps` is empty, holds a point
    *   outside [0, 1], or repeats a point. A repeated point used to return
    *   double-counted, wrong quantiles; it now throws, so pass each point
    *   once and reuse its row.
    */
  def exactPercentilesOn(df: DataFrame, groupCol: String, valueCol: String,
      ps: Seq[Double], accuracy: Int = 10000,
      withApprox: Boolean = false): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0))
    // duplicate query points would explode to two identical (g, p) rows
    // whose running cum_in sums and final groupBy(g, p) csum DOUBLE-COUNT —
    // wrong quantiles, silently. Fail loudly instead (r21 advice); callers
    // wanting one p twice can dedupe and reuse the row.
    require(ps.distinct.size == ps.size,
      s"exactPercentilesOn: duplicate query points in ps: $ps")
    val delta = 2.0 / accuracy
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(valueCol).cast("double").as("v"))

    // pass 1: per-group count + one sketch evaluated at every bracket edge.
    // `withApprox` additionally evaluates the SAME sketch buffer at the
    // target quantiles themselves and carries the values through as
    // `pct_approx` — the GK summary's construction depends only on the
    // data and accuracy, never on the query points, so the bracket values
    // (and every default-path consumer's plan) are unchanged; callers that
    // need sketch + exact together (q_agg_approx_pct) save a whole
    // separate corpus aggregate pass plus the join that reattached it
    // (r21: 3 corpus scans + 1 join → 2 corpus scans, 0 joins).
    val edges: Seq[Double] = ps.flatMap(p =>
      Seq(math.max(0.0, p - delta), math.min(1.0, p + delta)))
    val queryPts = edges ++ (if (withApprox) ps else Nil)
    val pass1 = base.groupBy("g").agg(
      count(lit(1)).as("n"),
      approx_percentile(col("v"), array(queryPts.map(lit): _*), lit(accuracy))
        .as("qs"))
    // ONE wide bracket row per group: the former per-(g, p) exploded
    // bracket rows made the classify join fan every corpus row out ×|ps|
    // before the aggregate — |ps|× the hash-aggregate work and |ps|× the
    // shuffled partial rows (q_agg_hist_eq runs this at |ps| = 7). The
    // arrays keep the join 1:1; the per-p expansion happens AFTER the
    // corpus aggregate, at metadata scale (r21).
    val bracketsWide = pass1.select(Seq(col("g"), col("n"),
        array(ps.indices.map(i => col("qs")(i * 2)): _*).as("vlos"),
        array(ps.indices.map(i => col("qs")(i * 2 + 1)): _*).as("vhis")) ++
      (if (withApprox)
        Seq(array(ps.indices.map(i =>
          col("qs")(ps.size * 2 + i)): _*).as("pas"))
      else Nil): _*)

    // pass 2: classify map-side against the broadcast brackets — per row
    // ONE cls vector (the exact same per-p when-chain as the old exploded
    // form, so null-bracket semantics are untouched). The shuffle carries
    // one partial per (in-any-bracket DISTINCT value, cls-vector) plus a
    // handful of outside-pattern rows per map partition (the cls vector of
    // an outside value is monotone over the ordered brackets, so ≤ 2|ps|+1
    // distinct patterns exist) — the below-counts and the brackets'
    // immediate NEIGHBOR values (min above, max below) still ride the same
    // aggregate via mn/mx per pattern group; the window assembly's
    // conditional sums/maxes fold the split pattern rows to exactly the
    // values the old single collapsed ±1 rows carried. The neighbors
    // matter at small n or duplicate-heavy boundaries, where the sketch's
    // returned value can sit one rank short of an interpolation endpoint
    // (measured at sf0.001: all three p95 brackets excluded one endpoint);
    // carrying them makes the assembly exact whenever the bracket misses
    // by at most one distinct value — a miss of two or more (impossible
    // within the sketch's rank guarantee) surfaces loudly as a null.
    // null-safe group join: pass 1's groupBy aggregates a NULL group like
    // any other, so pass 2 must match it back — a plain equi-join would
    // silently drop every null-group row from the output.
    val clsArr = array(ps.indices.map(i =>
      when(col("v") < col("vlos")(i), lit(-1))
        .when(col("v") > col("vhis")(i), lit(1)).otherwise(lit(0))): _*)
    // `pas` (the sketch values at the ps themselves, withApprox only) is
    // constant per group: it rides the grouping keys without changing
    // group granularity
    val paArrCols = if (withApprox) Seq(col("pas")) else Nil
    val compact = base.join(
        broadcast(bracketsWide.withColumnRenamed("g", "bg")),
        col("g") <=> col("bg"))
      .drop("bg")
      .select(Seq(col("g"), col("n"), col("v"),
        clsArr.as("cls_arr")) ++ paArrCols: _*)
      .groupBy(Seq(col("g"), col("n"), col("cls_arr"),
        when(array_contains(col("cls_arr"), 0), col("v")).as("bv")) ++
        paArrCols: _*)
      .agg(count(lit(1)).as("c"), min(col("v")).as("mn"),
        max(col("v")).as("mx"))

    // metadata-scale re-expansion to the per-(g, p) row shape the window
    // assembly below consumes: cls decodes positionally from the vector,
    // cv is the value only where THIS p's bracket contains it (±1 rows
    // carry a null cv exactly like the old collapsed form — the cum-rank
    // ordering and every conditional below depend on that)
    val pArr = array(ps.map(lit): _*)
    val classified = compact
      .select(Seq(col("g"), col("n"), col("bv"), col("c"), col("mn"),
        col("mx")) ++ paArrCols :+
        posexplode(col("cls_arr")).as(Seq("pi", "cls")): _*)
      .select(Seq(col("g"),
        element_at(pArr, col("pi") + 1).as("p"),
        col("n"), col("cls"),
        when(col("cls") === 0, col("bv")).as("cv"),
        col("c"), col("mn"), col("mx")) ++
        (if (withApprox)
          Seq(element_at(col("pas"), col("pi") + 1).as("pa"))
        else Nil): _*)

    // Per-(g, p) metadata (below-count, bracket neighbors) and the
    // in-bracket cumulative ranks both come from WINDOWS over the same
    // (tiny, bounded) classified set — one (g, p) exchange feeds every
    // computation, where the former groupBy-meta + join formulation
    // re-aggregated and re-shuffled the classified set twice more
    // (in-bench A/B at sf0.1: 1.67 s → ~1.2 s for identical output). The
    // ordered window ranks candidates by cv with the below/above rows
    // riding along contributing 0; the unordered windows fold the
    // below-count and neighbor values that the meta aggregate used to
    // carry. All windows run over ≤ |groups|·|ps|·bracket-width rows.
    val wAll = Window.partitionBy("g", "p")
    val wCum = Window.partitionBy("g", "p").orderBy("cls", "cv")
    classified
      .withColumn("below",
        sum(when(col("cls") === -1, col("c")).otherwise(lit(0L))).over(wAll))
      .withColumn("prevv", max(when(col("cls") === -1, col("mx"))).over(wAll))
      .withColumn("nextv", min(when(col("cls") === 1, col("mn"))).over(wAll))
      .withColumn("cum_in",
        sum(when(col("cls") === 0, col("c")).otherwise(lit(0L))).over(wCum))
      .filter(col("cls") === 0)
      .withColumn("t", (col("n") - 1) * col("p"))
      .withColumn("cum_end", col("below") + col("cum_in"))
      .withColumn("cum_start", col("cum_end") - col("c"))
      .groupBy("g", "p")
      .agg(first(col("t")).as("t"),
        (Seq(
          first(col("n")).as("n"),
          first(col("below")).as("below"),
          first(col("prevv")).as("prevv"),
          first(col("nextv")).as("nextv"),
          sum(col("c")).as("csum"),
          max(when(col("cum_start") <= floor(col("t")) &&
            floor(col("t")) < col("cum_end"), col("cv"))).as("v_l0"),
          // v_l's cumulative rank rides the same conditional — it is
          // #rows ≤ v_l, which is also #rows ≤ the interpolated quantile
          // (the edge lies strictly between v_l and the next distinct
          // value when frac > 0, and IS v_l's value when frac = 0 or on a
          // tie) — what [[histogramEqDepthOn]] bins by without a third
          // corpus pass
          max(when(col("cum_start") <= floor(col("t")) &&
            floor(col("t")) < col("cum_end"), col("cum_end"))).as("rank_l0"),
          max(when(col("cum_start") <= ceil(col("t")) &&
            ceil(col("t")) < col("cum_end"), col("cv"))).as("v_u0")) ++
          (if (withApprox) Seq(first(col("pa")).as("pct_approx")) else Nil)): _*)
      // rank below−1 is the below-class maximum; rank below+csum is the
      // above-class minimum
      .withColumn("v_l", coalesce(col("v_l0"),
        when(floor(col("t")) === col("below") - 1, col("prevv"))))
      .withColumn("v_u", coalesce(col("v_u0"),
        when(ceil(col("t")) === col("below") + col("csum"), col("nextv"))))
      // Integral t needs only ONE endpoint: floor(t)==ceil(t) means the
      // exact answer is the value at that single rank, so either endpoint
      // column that resolved carries it — coalesce instead of
      // interpolating, otherwise a one-rank sketch miss that filled v_l
      // (via prevv) but not v_u would null-propagate through
      // `v_l + 0*(null - v_l)` even though the answer is known.
      // Fractional t uses Spark Percentile's weighted form
      // (1−frac)·lower + frac·higher (not lower + frac·(higher−lower)),
      // keeping the bit-identity claim robust rather than 1-ulp-fragile.
      .withColumn("frac", col("t") - floor(col("t")))
      // (g, p, pct) keep their positions — callers index rows positionally
      // (the bit-identity spec, aggPercentileExact's select); the r18 rank
      // additions ride BEHIND them
      .select((Seq(col("g"), col("p"),
        when(col("frac") === 0.0, coalesce(col("v_l"), col("v_u")))
          .otherwise((lit(1.0) - col("frac")) * col("v_l") +
            col("frac") * col("v_u")).as("pct"),
        col("n")) :+
        // #rows ≤ the quantile value: v_l's cum_end, or the below-count
        // when v_l resolved via the prevv neighbor (all below-class rows
        // are ≤ prevv and nothing else is). NULL only in the
        // frac=0-resolved-via-nextv corner (the pct there is the
        // above-bracket minimum, whose ties the bracket cannot count) —
        // a one-rank sketch miss on the high side at an integral rank;
        // rank consumers fail loudly on it rather than mis-bin.
        (coalesce(col("rank_l0"),
          when(floor(col("t")) === col("below") - 1, col("below")))
          .as("rank_le"))) ++
        (if (withApprox) Seq(col("pct_approx")) else Nil): _*)
  }

  /** EQUI-DEPTH histogram (registry `q_agg_hist_eq`): `bins` buckets per
    * group whose edges are the EXACT interpolated quantiles at
    * i/bins (i = 1..bins−1) — the profile that stays informative on
    * heavy-tailed columns where fixed-width buckets
    * ([[Relational.histogramOn]]) put everything in one bucket. Per
    * (group, bin): count, share, and the bin's upper edge (`hi`, null for
    * the last bin).
    *
    * Composition of two proven pieces, nothing new touches the corpus:
    * edges come from [[exactPercentilesOn]] (bracket-and-verify — two
    * map-side passes, metadata-sized shuffles at any corpus), then ONE
    * more map-side pass bins each row against its group's broadcast edge
    * row (a chained `when`, codegen) and folds (group, bin) counters.
    * Rows equal to an edge go DOWN (`x <= edge`), the shared convention
    * with the DuckDB oracle's CASE binning; edge values are compared
    * unrounded — interpolated edges lie strictly between adjacent
    * distinct data values (or exactly ON a data value when the rank is
    * integral or tied, where both engines' interpolation is exact), so
    * the comparison is not ulp-fragile. Empty bins (possible under heavy
    * ties) are absent from the output on both sides, same convention.
    */
  def histogramEqDepth(s: SparkSession, dir: String,
      bins: Int = 8): DataFrame =
    histogramEqDepthOn(Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("grp"),
        col("l_extendedprice").as("x")), bins)

  /** [[histogramEqDepth]] over an arbitrary (grp, x) frame.
    *
    * No binning pass: the bin populations are already implied by the
    * quantile machinery's cumulative ranks. `#rows with x ≤ edge_p` is
    * exactly [[exactPercentilesOn]]'s `rank_le` — when the edge
    * interpolates strictly between two adjacent distinct values nothing
    * sits between them, and when it lands ON a value (integral rank or a
    * tie) `rank_le` counts through that value's ties, the same rows the
    * oracle's `x <= edge` CASE admits (and MORE robustly: ranks are
    * integers, immune to the one-ulp interpolation drift a raw
    * edge-comparison binning pass would be exposed to on ties). So:
    * `cnt_i = rank_le(p_i) − rank_le(p_{i−1})`, last bin = `n − rank_le
    * (p_last)`, and the whole histogram assembles from the (g, p)
    * METADATA — two corpus passes total (the quantile sketch + classify),
    * vs three for the naive edge-rebroadcast formulation (A/B at sf0.1:
    * 13 jobs → 10; at 100 TB one full corpus pass + a broadcast join
    * simply disappear). A null `rank_le` (the documented
    * one-rank-sketch-miss corner) fails loudly via raise_error rather
    * than mis-binning.
    */
  def histogramEqDepthOn(df: DataFrame, bins: Int): DataFrame = {
    require(bins >= 2 && bins <= 64,
      s"bins must be in [2, 64] (edges are broadcast plan metadata); got $bins")
    val ps = (1 until bins).map(_.toDouble / bins)
    val base = df.filter(col("x").isNotNull)
      .select(col("grp"), col("x").cast("double").as("x"))
    // one row per group, wide: edges e0.. and their cumulative ranks r0..
    // (|groups| × (bins−1) doubles+longs — plan metadata)
    val aggs = ps.zipWithIndex.flatMap { case (p, i) => Seq(
      max(when(col("p") === p, col("pct"))).as(s"e$i"),
      max(when(col("p") === p,
        when(col("rank_le").isNull, raise_error(lit(
          s"histogramEqDepth: rank for quantile $p unresolved (one-rank " +
            "sketch miss at an integral rank) — raise accuracy")))
          .otherwise(col("rank_le")))).as(s"r$i")) } :+
      max(col("n")).as("n")
    val wide = exactPercentilesOn(base, "grp", "x", ps)
      .groupBy(col("g")).agg(aggs.head, aggs.tail: _*)
    // bins as metadata arithmetic: cnt_i = r_i − r_{i−1}; hi_i = e_i
    // (null for the open-ended last bin). Empty bins are dropped, the
    // shared convention with the oracle's CASE binning.
    def r(i: Int): Column =
      if (i < 0) lit(0L) else if (i >= bins - 1) col("n") else col(s"r$i")
    val binRows = (0 until bins).map { i =>
      struct(lit(i).as("bin"), (r(i) - r(i - 1)).as("cnt"),
        (if (i < bins - 1) col(s"e$i") else lit(null).cast("double"))
          .as("hi"))
    }
    wide
      .select(col("g").as("grp"), col("n"),
        explode(array(binRows: _*)).as("b"))
      .select(col("grp"), col("b.bin").as("bin"), col("b.cnt").as("cnt"),
        Norm.r4(col("b.cnt") / col("n")).as("share"),
        Norm.r4(col("b.hi")).as("hi"))
      .filter(col("cnt") > 0)
      // the frame here is |groups|×bins METADATA rows; a global orderBy
      // would pay a range-partitioning SAMPLING job on it (the 10th job of
      // the chain, r19 weak-line letter) — one partition + in-partition
      // sort gives the identical total order for one job less
      .coalesce(1)
      .sortWithinPartitions("grp", "bin")
  }
}
