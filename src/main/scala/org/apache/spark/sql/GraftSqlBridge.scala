package org.apache.spark.sql

import scala.util.Try

import org.apache.hadoop.hive.ql.io.sarg.SearchArgument

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.orc.OrcFilters
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Minimal bridge into the `private[sql]` Column ↔ Expression converters —
  * the standard extension-library pattern for using a custom Catalyst
  * [[Expression]] from the public DataFrame API without going through a
  * registered SQL function.
  */
object GraftSqlBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Re-root `df` on its own physical RDD (a compact LogicalRDD plan),
    * discarding logical lineage — the plan-side analogue of
    * `Dataset.checkpoint` without the reliable write (same
    * `toRdd.map(_.copy())` row-materialization step Spark's checkpoint
    * uses; the copy is required because operators downstream of an RDD
    * scan may buffer rows that unsafe-row reuse would alias). For
    * ITERATIVE operators this is load-bearing: a loop whose round-k state
    * is expressed over round-(k-1)'s Dataset grows the logical plan
    * geometrically (each round embeds multiple copies of the previous
    * round's tree), so analysis cost — and even the plan's *string
    * rendering* inside `persist()` — explodes long before any data does.
    * Cutting at each round keeps per-round plan size constant. Data-level
    * cost is one extra per-row copy; the RDD still reads through any
    * cache backing `df`.
    */
  def lineageCut(df: Dataset[Row]): Dataset[Row] = {
    val cs = df.sparkSession.asInstanceOf[classic.SparkSession]
    cs.internalCreateDataFrame(
      df.queryExecution.toRdd.map(_.copy()), df.schema, isStreaming = false)
  }

  /** Spark's own ORC filter conversion (`OrcFilters`, the one its ORC
    * source pushes with): source filters → an ORC SearchArgument over the
    * fields of `schema`, or None when nothing converts. `createFilter`
    * throws on a null literal; such filters decline instead.
    */
  def orcSearchArgument(schema: StructType, filters: Seq[Filter]): Option[SearchArgument] =
    Try(OrcFilters.createFilter(schema, filters)).toOption.flatten
}
