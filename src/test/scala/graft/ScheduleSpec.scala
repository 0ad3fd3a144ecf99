package graft

import graft.pipeline.{Dag, Schedule}
import graft.pipeline.Schedule.CronSpec
import java.time.{Instant, ZoneId}

class ScheduleSpec extends SparkSuite {

  private val lagos = ZoneId.of("Africa/Lagos") // UTC+1, no DST
  private def utc(s: String) = Instant.parse(s)

  test("the reference's cron cadences parse and fire at their documented times") {
    // all_schedules.py:12-47 — the five production cadences
    val usersExtract = CronSpec("raw_users", "40 1 * * *", lagos)
    val usersMart    = CronSpec("dim_users", "0 2 * * *", lagos)
    val plansExtract = CronSpec("raw_savings_plans", "2 7-18/3 * * *", lagos)
    val txHourly     = CronSpec("raw_savings_transactions", "5 * * * *", lagos)

    // 01:40 Lagos = 00:40 UTC
    assert(usersExtract.matches(utc("2024-03-11T00:40:30Z")))
    assert(!usersExtract.matches(utc("2024-03-11T01:40:00Z"))) // 02:40 Lagos
    assert(usersMart.matches(utc("2024-03-11T01:00:00Z")))
    // 7-18/3 → Lagos hours 7,10,13,16 at minute 2
    val plansHours = (0 until 24).filter { h =>
      plansExtract.matches(utc(f"2024-03-11T$h%02d:02:00Z").plusSeconds(0))
    }
    assert(plansHours.map(_ + 1) === Seq(7, 10, 13, 16)) // UTC+1
    assert(txHourly.matches(utc("2024-03-11T09:05:59Z")))
    assert(!txHourly.matches(utc("2024-03-11T09:06:00Z")))
  }

  test("due finds exactly the jobs with a tick inside the window, once each") {
    val specs = Seq(
      CronSpec("hourly", "5 * * * *"),
      CronSpec("daily", "40 1 * * *"),
      CronSpec("weekly_sun", "0 3 * * 0"))
    // 15-minute window crossing 09:05 — only the hourly job fires
    assert(Schedule.due(specs, utc("2024-03-11T08:55:00Z"),
      utc("2024-03-11T09:10:00Z")) === Seq("hourly"))
    // 2-day catch-up window: hourly AND daily fire (each once);
    // Monday→Wednesday never crosses Sunday 03:00
    assert(Schedule.due(specs, utc("2024-03-11T00:00:00Z"),
      utc("2024-03-13T00:00:00Z")).sorted === Seq("daily", "hourly"))
    // empty window → nothing
    val t = utc("2024-03-11T09:00:30Z")
    assert(Schedule.due(specs, t, t) === Seq.empty)
  }

  test("dom/dow follow standard cron OR semantics when both are restricted") {
    // fires on the 15th OR on Fridays
    val s = CronSpec("payday", "0 9 15 * 5")
    assert(s.matches(utc("2024-03-15T09:00:00Z"))) // the 15th (also a Friday)
    assert(s.matches(utc("2024-03-22T09:00:00Z"))) // a Friday, not the 15th
    assert(s.matches(utc("2024-04-15T09:00:00Z"))) // a Monday the 15th
    assert(!s.matches(utc("2024-03-14T09:00:00Z"))) // Thursday the 14th
  }

  test("nextFire pins the next tick; step runs only the due sub-graph in dep order") {
    val daily = CronSpec("extract", "40 1 * * *", lagos)
    assert(Schedule.nextFire(daily, utc("2024-03-11T00:00:00Z"))
      === Some(utc("2024-03-11T00:40:00Z")))

    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    val nodes = Seq(
      Dag.Node("extract", Nil, () => { ran += "extract"; () }),
      Dag.Node("staging", Seq("extract"), () => { ran += "staging"; () }),
      Dag.Node("mart", Seq("staging"), () => { ran += "mart"; () }))
    val specs = Seq(
      CronSpec("extract", "40 1 * * *", lagos),
      CronSpec("staging", "40 1 * * *", lagos),
      CronSpec("mart", "0 9 * * *", lagos)) // NOT due in this window
    val status = Schedule.step(nodes, specs,
      utc("2024-03-11T00:30:00Z"), utc("2024-03-11T00:45:00Z"))
    // mart (different cadence) did not run; staging's dep on extract
    // was honored within the due sub-graph
    assert(ran.toSeq === Seq("extract", "staging"))
    assert(status.keySet === Set("extract", "staging"))
    assert(status.values.forall(_ == Dag.Succeeded))
  }

  test("a missed-tick catch-up window folds into ONE run (idempotent loaders)") {
    val hourly = CronSpec("tx", "5 * * * *")
    // a 6-hour outage: six ticks passed, the job is due exactly once
    assert(Schedule.due(Seq(hourly), utc("2024-03-11T00:00:00Z"),
      utc("2024-03-11T06:00:00Z")) === Seq("tx"))
  }

  test("lineage exports levels, edges, and per-run outcomes") {
    val boom = new RuntimeException("boom")
    val nodes = Seq(
      Dag.Node("extract", Nil, () => (), group = "sources"),
      Dag.Node("stg_a", Seq("extract"), () => throw boom, group = "staging"),
      Dag.Node("stg_b", Seq("extract"), () => (), group = "staging"),
      Dag.Node("mart", Seq("stg_a", "stg_b"), () => (), group = "marts"))
    val status = Dag.run(nodes)
    val rows = Dag.lineage(spark, nodes, status).collect()
      .map(r => r.getString(0) ->
        ((r.getString(1), r.getInt(2), r.getString(3), r.getString(4),
          r.getString(5), Option(r.getString(6))))).toMap
    // levels: longest dep path; dependents are the reverse edges
    assert(rows("extract") === (("sources", 0, "", "stg_a,stg_b",
      "succeeded", None)))
    assert(rows("stg_a") === (("staging", 1, "extract", "mart",
      "failed", Some("RuntimeException"))))
    assert(rows("stg_b") === (("staging", 1, "extract", "mart",
      "succeeded", None)))
    // the skip records the ROOT failure, and the level is the long path
    assert(rows("mart") === (("marts", 2, "stg_a,stg_b", "",
      "skipped", Some("stg_a"))))
    // without a status map, nodes report not_run
    val cold = Dag.lineage(spark, nodes).collect().map(_.getString(5)).toSet
    assert(cold === Set("not_run"))
  }

  test("catalog exports per-model column schemas; orchestration nodes omitted") {
    import spark.implicits._
    val nodes = Seq(
      Dag.Node("extract", Nil, () => (), group = "sources"),
      Dag.Node("stg", Seq("extract"), () => (), group = "staging"))
    val model = Seq((1L, "a", 2.5)).toDF("id", "name", "score")
    val rows = Dag.catalog(spark, nodes, Map("stg" -> model)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getString(4), r.getString(5), r.getBoolean(6)))
    // extract has no frame → no rows; stg's columns in schema order
    assert(rows.toSeq === Seq(
      ("stg", "staging", 1, 0, "id", "bigint", false),
      ("stg", "staging", 1, 1, "name", "string", true),
      ("stg", "staging", 1, 2, "score", "double", false)))
  }

  test("renderDocs emits one self-contained page: cards, links, mermaid edges") {
    import spark.implicits._
    val nodes = Seq(
      Dag.Node("extract", Nil, () => (), group = "sources"),
      Dag.Node("stg_a", Seq("extract"), () => (), group = "staging"),
      Dag.Node("mart", Seq("stg_a"), () => (), group = "marts"))
    val model = Seq((1L, "v")).toDF("id", "a<b")
    val html = Dag.renderDocs(nodes, Map("stg_a" -> model), "test site")
    // a card per node, anchored
    assert(Seq("extract", "stg_a", "mart")
      .forall(n => html.contains(s"""id="model-$n"""")))
    // the materialized model lists its columns; others declare none
    assert(html.contains("<td>id</td>") && html.contains("<td>bigint</td>"))
    assert(html.contains("orchestration step"))
    // dep links both directions
    assert(html.contains("""depends on: <a href="#model-extract">"""))
    assert(html.contains("""referenced by: <a href="#model-stg_a">"""))
    // mermaid source carries every edge (escaped inside <pre>)
    assert(html.contains("extract --&gt; stg_a") && html.contains("stg_a --&gt; mart"))
    // a hostile column NAME is escaped, never raw
    assert(!html.contains("<td>a<b</td>") && html.contains("a&lt;b"))
  }

  test("Dag.run retries and records only non-fatal failures; a fatal one ends the run, serial or pooled") {
    import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    // a pooled run that swallowed a fatal error would block forever:
    // run it on its own thread with a deadline
    def bounded(run: => Map[String, Dag.Status]): Map[String, Dag.Status] = {
      val pool = Executors.newSingleThreadExecutor()
      try pool.submit(new Callable[Map[String, Dag.Status]] { def call() = run })
        .get(120, TimeUnit.SECONDS)
      catch { case e: ExecutionException => throw e.getCause }
      finally pool.shutdownNow()
    }
    val ok = Dag.Node("ok", Nil, () => ())
    for (par <- Seq(1, 2)) {
      val flakyRuns = new AtomicInteger()
      val flaky = Dag.Node("flaky", Nil, () => {
        if (flakyRuns.incrementAndGet() == 1) throw new RuntimeException("transient")
      })
      val broken = Dag.Node("broken", Nil, () => throw new IllegalStateException("bad"))
      val status = bounded(Dag.run(Seq(flaky, broken, ok), maxRetries = 1,
        levelParallelism = par))
      assert(status("flaky") === Dag.Succeeded && flakyRuns.get === 2, s"par=$par")
      assert(status("ok") === Dag.Succeeded)
      assert(status("broken").isInstanceOf[Dag.Failed] &&
        status("broken").asInstanceOf[Dag.Failed].attempts === 2)

      val fatalRuns = new AtomicInteger()
      val fatal = Dag.Node("fatal", Nil, () => {
        fatalRuns.incrementAndGet(); throw new OutOfMemoryError("simulated")
      })
      intercept[OutOfMemoryError](
        bounded(Dag.run(Seq(fatal, ok), maxRetries = 3, levelParallelism = par)))
      assert(fatalRuns.get === 1, s"a fatal error is not retried (par=$par)")

      val interrupted = Dag.Node("interrupted", Nil, () => throw new InterruptedException())
      intercept[InterruptedException](
        bounded(Dag.run(Seq(interrupted, ok), maxRetries = 3, levelParallelism = par)))
    }
  }
}
