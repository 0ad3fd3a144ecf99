package perfbench

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.{Par, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Read-only analyst traffic: a fixed list of registry keys against the
  * generated star schema in `dir`, in an order drawn from the seed per
  * pass. Timed passes force each key the way `graft.Bench` does and
  * keep its row count; the warm-up pass writes each key's result to
  * `checked` instead. The checks compare both with the oracle. */
final class QueryMix(h: Harness, seed: Long, dir: String, checked: String) extends Workload {
  import QueryMix._

  private val registry: Map[String, (SparkSession, String) => DataFrame] = SparkEntry.queries
  private val meta = Files2.meta(dir)
  private def tableBytes(t: String): Long = meta.get("bytes").get(t).asLong
  private val rng = new scala.util.Random(seed)

  def outputRoot: String = checked
  def hasNext: Boolean = true

  /** The cold pass, writing each key's result. The keys run side by
    * side, one thread and cache scope each, so the pass costs less
    * set-up time. */
  def warmup(): Unit = {
    val pool = Executors.newFixedThreadPool(Keys.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(Keys.map { case (k, _) =>
      Future(Par.scoped(registry(k)(h.spark, dir).write.parquet(s"$checked/$k")))
    }), Duration.Inf)
    finally pool.shutdown()
  }

  def runOp(i: Int): OpResult = pass(rng.shuffle(Keys.map(_._1)), (_, df) => {
    val qe = df.queryExecution
    val n = h.span("exec.force")(qe.toRdd.count())
    (n, qe.tracker.phases.values.map(_.durationMs).sum)
  })

  /** Build and force every key; `force` returns the row count and the
    * Catalyst milliseconds. */
  private def pass(order: Seq[String], force: (String, DataFrame) => (Long, Long)): OpResult = {
    var planMs = 0L
    var cached = 0L
    val counts = Map.newBuilder[String, Long]
    val failures = Seq.newBuilder[String]
    val parts = order.map { k =>
      val t0 = System.nanoTime()
      try {
        val (n, ms) = force(k, h.span("registry.build")(registry(k)(h.spark, dir)))
        counts += k -> n
        planMs += ms
      } catch { case e: Exception => failures += s"$k: $e" }
      val sec = (System.nanoTime() - t0) / 1e9
      cached += h.cachedBytes()
      h.span("par.release")(Par.release())
      k -> sec
    }
    OpResult(parts, Keys.map(_._2.map(tableBytes).sum).sum, failures.result(), planMs,
      cached, counts.result())
  }

  def exportOutputs(out: String): Map[String, Any] = {
    val oracle = SparkEntry.oracleSql
    Map("star" -> dir, "outputs" -> checked,
      "oracle_sql" -> Keys.map { case (k, _) => k -> oracle(k) }.toMap)
  }
}

object QueryMix {
  /** The mix, each key with the tables its query reads: a scan and
    * aggregate, a six-table join, an operator over the registry and
    * the dedup candidate index. Three timed passes of it must fit in
    * a run after a cold warm-up pass, which leaves room for four of
    * the registry's keys on a 4-core host. */
  val Keys: Seq[(String, Seq[String])] = Seq(
    "q1_pricing_summary" -> Seq("lineitem"),
    "q5_regional_revenue" -> Seq("region", "nation", "customer", "supplier", "orders", "lineitem"),
    "cdc_upsert" -> Seq("events"),
    "dedup_ngram_jaccard" -> Seq("documents"))
}
