package graft.sink

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.RawLocalFileSystem
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.SparkSpec

/** How task-side code gets its Hadoop configuration ([[TaskConf]]): one
  * broadcast per query (per scan for batch reads), so what a task's closure
  * carries does not grow with the conf, while every key set on the
  * session's `hadoopConfiguration` before the query starts still reaches
  * the tasks.
  */
class TaskConfSpec extends SparkSpec {

  private def tmp(): String = tempDir("graft-taskconf")

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("msg", StringType)))

  private def props(path: String) =
    Map("path" -> path, "db" -> "testdb", "table" -> "t").asJava

  private def serializedBytes(o: AnyRef): Int = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(o)
    out.close()
    bytes.size()
  }

  private val onePartition = new PhysicalWriteInfo {
    override def numPartitions(): Int = 1
  }

  private def writeInfo = new LogicalWriteInfo {
    override def options(): CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()
    override def queryId(): String = "taskconf-spec"
    override def schema(): StructType = TaskConfSpec.this.schema
  }

  test("writer and reader factories stay small however large the Hadoop conf is") {
    import spark.implicits._
    val dir = tmp()
    Seq(1 -> "a", 2 -> "b").toDF("id", "msg").write.format("graft-streaming")
      .mode("append").options(props(dir).asScala).save()

    val hc = spark.sparkContext.hadoopConfiguration
    // about 1 MiB of extra properties
    val bulk = (0 until 4096).map(i => s"graft.taskconf.bulk.$i")
    bulk.foreach(k => hc.set(k, "x" * 256))
    try {
      val table = new GraftSinkProvider().getTable(schema, Array.empty, props(dir))
        .asInstanceOf[GraftSinkTable]
      def writerFactory() = table.newWriteBuilder(writeInfo).build().toStreaming
        .createStreamingWriterFactory(onePartition).asInstanceOf[GraftWriterFactory]
      val w1 = writerFactory()
      val w2 = writerFactory()
      // one broadcast per table object, which a streaming query reuses
      // for every epoch
      assert(w1.conf.id === w2.conf.id)
      assert(w1.conf.value.value.get(bulk.head) === "x" * 256)

      val scan = table.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
      val reader = scan.toBatch.createReaderFactory().asInstanceOf[GraftReaderFactory]
      assert(reader.conf.value.value.get(bulk.last) === "x" * 256)

      val limit = 16 * 1024
      assert(serializedBytes(w1) < limit, s"writer factory: ${serializedBytes(w1)} B")
      assert(serializedBytes(reader) < limit, s"reader factory: ${serializedBytes(reader)} B")
    } finally bulk.foreach(hc.unset)
  }

  test("a key set on hadoopConfiguration before start reaches the task side") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val hc = spark.sparkContext.hadoopConfiguration
    val scheme = ConfProbeFs.Scheme
    // the task side can only resolve the scheme if these keys reached it
    val keys = Map(
      s"fs.$scheme.impl" -> classOf[ConfProbeFs].getName,
      s"fs.$scheme.impl.disable.cache" -> "true",
      ConfProbeFs.MarkerKey -> "set-before-start")
    keys.foreach { case (k, v) => hc.set(k, v) }
    ConfProbeFs.seen.clear()
    val dir = tmp()
    try {
      val in = MemoryStream[Int]
      val q = in.toDS().map(i => (i, s"m$i")).toDF("id", "msg")
        .writeStream.format("graft-streaming")
        .options(props(s"$scheme://$dir").asScala)
        .option("checkpointLocation", s"$dir/_cp").start()
      try {
        in.addData(1 to 20: _*)
        q.processAllAvailable()
      } finally q.stop()
      val back = spark.read.format("graft-streaming")
        .options(props(s"$scheme://$dir").asScala).load()
      assert(back.select("id").as[Int].collect().sorted.toSeq === (1 to 20))
      val onTasks = ConfProbeFs.seen.asScala.filter(_._1.startsWith("Executor task launch"))
      assert(onTasks.nonEmpty, "no task opened the probe file system")
      assert(onTasks.forall(_._2 == "set-before-start"), onTasks.toString)
    } finally keys.keys.foreach(hc.unset)
  }
}

/** The local file system under its own scheme, recording for every
  * instance the creating thread and the marker key of the conf it was
  * created with. With its cache disabled, each lookup creates an instance,
  * so the record shows which conf each caller held.
  */
final class ConfProbeFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create(s"${ConfProbeFs.Scheme}:///")
  override def getScheme: String = ConfProbeFs.Scheme
  override def initialize(uri: java.net.URI, conf: Configuration): Unit = {
    super.initialize(uri, conf)
    ConfProbeFs.seen.add(Thread.currentThread.getName -> conf.get(ConfProbeFs.MarkerKey))
  }
}

object ConfProbeFs {
  val Scheme = "graftprobe"
  val MarkerKey = "graft.taskconf.marker"
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
}
