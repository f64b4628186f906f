package graft

import org.apache.spark.sql.SparkSession

/** The one session policy of the measurement and verification mains
  * (`Bench`, `Verify`, `PqBench`, `PlanScaleBench`, `ScaleStepBench`,
  * `AqeAudit`): `local[cpus]` with as many shuffle partitions, a UTC
  * session time zone, the fixtures' nanosecond timestamps read as longs,
  * no UI, and WARN logging. The two sink examples build their own
  * sessions, since they show a user how to start one.
  */
object MainSession {

  /** `SPARK_GRAFT_CPUS`, else the calling main's own default. */
  def cpus(default: Int): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default.toString)

  /** A session under the policy; `conf` pairs are applied after it, so an
    * experiment may override any of its settings.
    */
  def start(cpus: String, conf: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
