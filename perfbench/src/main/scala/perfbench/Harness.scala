package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one timed operation did. `parts` are its top-level steps
  * (Dag nodes or registry keys) with their wall time; `sourceBytes`
  * is the source input it processed; `counts` are the row counts of
  * the results it forced, by key, for the checks. */
final case class OpResult(parts: Seq[(String, Double)], sourceBytes: Long,
                          failures: Seq[String], planMs: Long = 0L,
                          cachedBytes: Long = 0L, counts: Map[String, Long] = Map.empty)

/** A workload over generated inputs: warm-up, one operation at a time,
  * and an export of its outputs for the checks. */
trait Workload {
  /** Bootstrap and one untimed operation, so JIT and caches are warm. */
  def warmup(): Unit
  def hasNext: Boolean
  def runOp(i: Int): OpResult
  /** Write the outputs the checks compare into `out`; returns facts
    * the checks need (for example the last day loaded). */
  def exportOutputs(out: String): Map[String, Any]
  /** Directory whose new files count as written by an operation. */
  def outputRoot: String
}

/** The Spark session, the recorder and the tracer of one run. */
final class Harness(val cores: Int, work: String) {
  var spark: SparkSession = _
  var recorder: Recorder = _
  var tracer: Tracer = _

  def start(): Unit = {
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    recorder = new Recorder
    spark.sparkContext.addSparkListener(recorder)
    spark.listenerManager.register(recorder)
    tracer = new Tracer(spark)
  }

  def stop(): Unit = if (spark != null) { spark.stop(); spark = null }

  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Bytes held by persisted RDDs and DataFrames right now. */
  def cachedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  def confs: Map[String, String] =
    spark.sparkContext.getConf.getAll.toMap
      .filter { case (k, _) => !Set("spark.app.id", "spark.app.startTime",
        "spark.driver.port", "spark.driver.host", "spark.executor.id",
        "spark.app.submitTime", "spark.driver.extraJavaOptions",
        "spark.executor.extraJavaOptions").contains(k) }
}

object Files2 {
  /** Regular files under `root` with their sizes. */
  def sizes(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  /** Block until `path` exists; fails after `timeoutSeconds`. */
  def await(path: String, timeoutSeconds: Int): Unit = {
    val deadline = System.nanoTime() + timeoutSeconds * 1000000000L
    while (!Files.exists(Paths.get(path))) {
      require(System.nanoTime() < deadline, s"no $path after $timeoutSeconds s")
      Thread.sleep(20)
    }
  }

  def size(root: String): Long = sizes(root).values.sum

  def write(path: String, text: String): Unit = {
    new File(path).getParentFile.mkdirs()
    Files.write(Paths.get(path), text.getBytes("UTF-8"))
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The generator's `meta.json` of an input directory. */
  def meta(input: String): JsonNode = json.readTree(new File(s"$input/meta.json"))

  /** Write Scala maps, sequences and values as JSON. */
  def writeJson(path: String, value: Any): Unit = write(path, json.writeValueAsString(value))
}
