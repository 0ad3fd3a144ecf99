package perfbench

import java.time.{Instant, ZoneId}

import graft.Tables
import graft.operators.{Cdc, Quality, Scd2}
import graft.pipeline.{Dag, Schedule}
import graft.sources.{Staging, Versioned}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference pipeline's daily cycle on the generated Nomba-shaped
  * sources in `src`, one day per operation through `Schedule.step`,
  * writing under `data`. The warm-up is day 0's cycle, which loads the
  * history; its DQ gate and marts wait for day 1. */
final class EltDaily(h: Harness, src: String, data: String) extends Workload {
  private var day = 0L
  private val zone = ZoneId.of("Africa/Lagos")
  private val dayZero = Files2.meta(src).get("day_zero").asLong

  def outputRoot: String = data

  private def spark = h.spark
  private def span[T](name: String)(body: => T): T = h.span(name)(body)

  private def dayStart(d: Long): Long = dayZero + d * 86400L
  private def instant(d: Long): Column =
    timestamp_seconds(lit(dayStart(d)))

  private val userCols = Seq("user_id", "full_name", "email", "state", "occupation")
  private val planCols = Seq("plan_id", "user_id", "product", "target_amount",
    "status", "created_at", "updated_at")
  private val txnCols = Seq("txn_id", "plan_id", "amount", "txn_type", "status",
    "created_at", "updated_at")

  /** The source rows that had arrived when day `d`'s cycle ran: the
    * change batches 0..d. */
  private def arrived(table: String, cols: Seq[String], d: Long): DataFrame =
    span("sources.read_build")(Tables.read(spark, src, table))
      .filter(col("batch") <= d).select(cols.map(col): _*)

  private def usersOn(d: Long): DataFrame =
    span("sources.read_build")(Tables.read(spark, src, "users"))
      .filter(col("snapshot_day") === d).select(userCols.map(col): _*)

  private def batchBytes(table: String, partition: String): Long =
    Files2.size(s"$src/$table.parquet/$partition")

  private def stg(t: String) = s"$data/staging/$t"
  private def wh(t: String) = s"$data/warehouse/$t"

  def warmup(): Unit = {
    day = 0
    val boot = cycle(0)
    require(boot.failures.isEmpty, s"history load failed: ${boot.failures}")
  }

  def hasNext: Boolean = new java.io.File(s"$src/users.parquet/snapshot_day=${day + 1}").isDirectory

  def runOp(i: Int): OpResult = { day += 1; cycle(day) }

  /** Extract the rows of `table` changed at or after the warehouse
    * watermark among those arrived by day `d`, and stage them.
    *
    * The bound is inclusive (one microsecond below the watermark):
    * rows that arrive after a cycle with `updated_at` equal to its
    * watermark are otherwise never extracted. Rows already loaded at
    * the watermark are extracted again, which the upsert absorbs. */
  private def extractIncremental(table: String, cols: Seq[String], d: Long): Unit =
    span("operators.cdc") {
      val visible = arrived(table, cols, d)
      val delta =
        if (Versioned.currentVersion(spark, wh(table)) == 0) visible
        else {
          val target = span("sources.read_build")(Versioned.read(spark, wh(table)))
          val wm = Cdc.lastLoadedValue(target, "updated_at").head().getTimestamp(0)
          Cdc.incrementalFilter(visible, "updated_at", lit(wm.toInstant.minusNanos(1000L)))
        }
      span("sources.stage")(
        Staging.stage(delta, stg(table), f"d$d%05d", trackingCol = Some("updated_at")))
    }

  private def loadAll(table: String)(load: DataFrame => Unit): Unit =
    span("sources.load") {
      Staging.pending(spark, stg(table)).foreach(b =>
        Staging.loadStaged(spark, stg(table), b)(load))
    }

  private def cycle(d: Long): OpResult = {
    val times = new java.util.concurrent.ConcurrentHashMap[String, Double]()
    def node(name: String, deps: Seq[String], group: String)(body: => Unit): Dag.Node =
      Dag.Node(name, deps, () => {
        val t0 = System.nanoTime()
        try span("pipeline.node")(body)
        finally times.put(name, (System.nanoTime() - t0) / 1e9)
      }, group)

    val nodes = Seq(
      node("extract_users", Nil, "sources") {
        span("sources.stage")(Staging.stage(usersOn(d), stg("users"), f"d$d%05d"))
      },
      node("extract_plans", Nil, "sources") {
        extractIncremental("savings_plan", planCols, d)
      },
      node("extract_txns", Nil, "sources") {
        extractIncremental("savings_transaction", txnCols, d)
      },
      node("load_users", Seq("extract_users"), "staging") {
        loadAll("users")(df =>
          span("sources.commit")(Versioned.commit(df, wh("users_snapshot"), replace = true)))
      },
      node("load_plans", Seq("extract_plans"), "staging") {
        loadAll("savings_plan")(df =>
          Versioned.upsert(df, wh("savings_plan"), Seq("plan_id"), "updated_at"))
      },
      node("load_txns", Seq("extract_txns"), "staging") {
        loadAll("savings_transaction")(df =>
          Versioned.upsert(df, wh("savings_transaction"), Seq("txn_id"), "updated_at"))
      },
      node("snapshot_users", Seq("load_users"), "snapshots") {
        span("operators.scd2") {
          val snap = span("sources.read_build")(Versioned.read(spark, wh("users_snapshot")))
          val merged =
            if (Versioned.currentVersion(spark, wh("users_scd2")) == 0)
              snap.withColumn(Scd2.ValidFrom, instant(d))
                .withColumn(Scd2.ValidTo, lit(null).cast("timestamp"))
            else
              Scd2.merge(span("sources.read_build")(Versioned.read(spark, wh("users_scd2"))),
                snap, Seq("user_id"), Seq("state", "occupation"), instant(d),
                invalidateHardDeletes = true)
          span("sources.commit")(Versioned.commit(merged, wh("users_scd2"), replace = true))
        }
      },
      node("dq_gate", Seq("snapshot_users", "load_plans", "load_txns"), "quality") {
        span("operators.quality") {
          val plans = span("sources.read_build")(Versioned.read(spark, wh("savings_plan")))
          val txns = span("sources.read_build")(Versioned.read(spark, wh("savings_transaction")))
          val users = span("sources.read_build")(Versioned.read(spark, wh("users_scd2")))
          val checks = Quality.runChecks(plans, Seq(Quality.NotNull("plan_id"),
              Quality.Unique("plan_id"), Quality.NotNull("user_id")))
            .unionByName(Quality.runChecks(txns, Seq(Quality.NotNull("txn_id"),
              Quality.Unique("txn_id"), Quality.NotNull("plan_id"))))
            .unionByName(Quality.runChecks(Scd2.currentRows(users),
              Seq(Quality.Unique("user_id"))))
          val rels = Quality.referentialIntegrity(Seq(
            ("savings_plan.user_id->users", plans, "user_id", users, "user_id"),
            ("savings_transaction.plan_id->savings_plan", txns, "plan_id", plans, "plan_id")))
          val bad = checks.filter(col("violations") > 0).collect().map(_.toString) ++
            rels.filter(col("n_orphan_rows") > 0).collect().map(_.toString)
          if (bad.nonEmpty)
            throw new IllegalStateException("dq gate failed: " + bad.mkString(", "))
        }
      },
      node("build_marts", Seq("dq_gate"), "marts") {
        span("pipeline.mart") {
          val users = Scd2.currentRows(
            span("sources.read_build")(Versioned.read(spark, wh("users_scd2"))))
          val plans = span("sources.read_build")(Versioned.read(spark, wh("savings_plan")))
          val txns = span("sources.read_build")(Versioned.read(spark, wh("savings_transaction")))
          val dimUsers = users.select((userCols :+ Scd2.ValidFrom).map(col): _*)
          val dimPlans = plans.join(
            users.select(col("user_id"), col("state").as("user_state")), Seq("user_id"), "left")
          val fact = txns.join(plans.select(col("plan_id"), col("user_id"), col("product")),
              Seq("plan_id"), "left")
            .withColumn("txn_date", to_date(col("created_at")))
          span("sources.commit")(Versioned.commit(dimUsers, wh("dim_users"), replace = true))
          span("sources.commit")(Versioned.commit(dimPlans, wh("dim_savings_plan"), replace = true))
          span("sources.commit")(
            Versioned.commit(fact, wh("fact_savings_transaction"), replace = true))
        }
      })

    // day 0 loads the history; the DQ gate and marts start on day 1
    val due = if (d == 0) nodes.filterNot(n => Set("dq_gate", "build_marts")(n.name)) else nodes
    // the reference's 01:40 Lagos daily cadence; day d's changes are
    // extracted in the early hours of day d + 1
    val specs = due.map(n => Schedule.CronSpec(n.name, "40 1 * * *", zone))
    val runAt = Instant.ofEpochSecond(dayStart(d + 1))
    val status = span("pipeline.step")(Schedule.step(due, specs,
      runAt.plusSeconds(30 * 60), runAt.plusSeconds(45 * 60), levelParallelism = 2))
    val failures = due.map(_.name).flatMap { n =>
      status.get(n) match {
        case Some(Dag.Succeeded) => None
        case Some(Dag.Failed(e, _)) => Some(s"day $d $n: $e")
        case other => Some(s"day $d $n: $other")
      }
    }
    val sourceBytes = batchBytes("users", s"snapshot_day=$d") +
      batchBytes("savings_plan", s"batch=$d") + batchBytes("savings_transaction", s"batch=$d")
    OpResult(due.map(n => n.name -> times.getOrDefault(n.name, 0.0)), sourceBytes, failures)
  }

  def exportOutputs(out: String): Map[String, Any] = {
    Seq("users_scd2", "dim_users", "dim_savings_plan", "fact_savings_transaction")
      .foreach(t => Versioned.read(spark, wh(t)).write.parquet(s"$out/$t"))
    Map("last_day" -> day, "src" -> src, "day_zero" -> dayZero)
  }
}
