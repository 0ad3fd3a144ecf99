package graft

import graft.operators.Quality
import org.apache.spark.sql.functions._

/** Pins the semantics of the rows-only profile variants: the sketch
  * paths must track their exact twins within published error bounds.
  */
class QualitySpec extends SparkSuite {
  import spark.implicits._

  private lazy val orders = Tables.orders(spark, "/root/testdata/sf0.01")

  test("profileApprox tracks the exact profile (HLL within rsd, min/max/null exact)") {
    val cols = Seq("o_orderstatus", "o_custkey", "o_totalprice")
    def byCol(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4), r.getString(5))).toMap
    val exact = byCol(Quality.profile(orders, cols))
    val approx = byCol(Quality.profileApprox(orders, cols, rsd = 0.05))
    cols.foreach { c =>
      val (nRows, nNull, nDist, mn, mx) = exact(c)
      val (aRows, aNull, aDist, amn, amx) = approx(c)
      assert(aRows === nRows && aNull === nNull && amn === mn && amx === mx)
      // HLL++ at 5% rsd: allow 3 sigma
      assert(math.abs(aDist - nDist).toDouble <= math.max(1.0, 0.15 * nDist),
        s"$c: approx distinct $aDist vs exact $nDist")
    }
  }

  test("profileNumericApprox percentiles land within GK rank error of exact") {
    val cols = Seq("o_custkey", "o_totalprice")
    def byCol(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getString(0) ->
        (r.getDouble(5), r.getDouble(6))).toMap
    val exact = byCol(Quality.profileNumeric(orders, cols))
    val approx = byCol(Quality.profileNumericApprox(orders, cols, accuracy = 10000))
    // rank error 1/accuracy = 0.01% → value error bounded by the local
    // quantile density; assert within 1% of the exact VALUE, far looser
    cols.foreach { c =>
      val (p50, p90) = exact(c)
      val (a50, a90) = approx(c)
      assert(math.abs(a50 - p50) <= 0.01 * math.abs(p50), s"$c p50: $a50 vs $p50")
      assert(math.abs(a90 - p90) <= 0.01 * math.abs(p90), s"$c p90: $a90 vs $p90")
    }
  }

  test("withStatus classifies by thresholds") {
    val results = Seq(("a", 0L), ("b", 5L), ("c", 500L)).toDF("check_name", "violations")
    val out = Quality.withStatus(results, warnIf = 0L, errorIf = 100L)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out === Map("a" -> "pass", "b" -> "warn", "c" -> "error"))
  }

  test("freshness: pass/warn/error and the empty-table edge") {
    val asOf = lit("2024-01-01 01:00:00").cast("timestamp")
    def status(ts: String*) = {
      val df = ts.map(java.sql.Timestamp.valueOf).toDF("ts")
      Quality.freshness(df, "ts", asOf, warnAfterSec = 600L, errorAfterSec = 3600L)
        .collect()(0).getString(2)
    }
    assert(status("2024-01-01 00:55:00") === "pass")
    assert(status("2024-01-01 00:30:00") === "warn")
    assert(status("2023-12-31 00:00:00") === "error")
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.TimestampType))))
    assert(Quality.freshness(empty, "ts", asOf, 600L, 3600L)
      .collect()(0).getString(2) === "error")
  }

  test("volumeAnomaly: spiked day flagged, normal days not, degenerate cases null") {
    // 20 days × 100 rows + one day × 1000 → spike z ≈ 4.36
    val rows = (1 to 21).flatMap { day =>
      val n = if (day == 21) 1000 else 100
      (1 to n).map(i => java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:${i % 60}%02d"))
    }
    val out = Quality.volumeAnomaly(rows.toDF("ts"), "ts")
      .collect().map(r => (r.getTimestamp(0).toString.take(10),
        r.getLong(1), Option(r.get(2)).map(_ => r.getDouble(2)), r.getBoolean(3)))
    assert(out.count(_._4) === 1)
    val spike = out.find(_._1 == "2024-01-21").get
    assert(spike._2 === 1000L && spike._4 && spike._3.get > 3.0)
    assert(out.filter(_._1 != "2024-01-21").forall(d => !d._4 && math.abs(d._3.get) < 1))
    // one day / identical days → z null, never flagged
    val one = Quality.volumeAnomaly(
      Seq(java.sql.Timestamp.valueOf("2024-01-01 10:00:00")).toDF("ts"), "ts")
      .collect()(0)
    assert(one.isNullAt(2) && !one.getBoolean(3))
    val flat = Quality.volumeAnomaly((1 to 4).flatMap(d =>
        Seq.fill(50)(java.sql.Timestamp.valueOf(f"2024-01-0$d 09:00:00")))
      .toDF("ts"), "ts").collect()
    assert(flat.forall(r => r.isNullAt(2) && !r.getBoolean(3)))
  }

  test("seasonalAnomaly: same-hour spike flagged, zero hours materialized, cold start null") {
    // days 1-14: hour 10 carries 100+(d%3) events, hour 22 a flat 5;
    // day 15 hour 10 spikes to 500. The seasonal baseline must flag
    // ONLY the spike — the all-hours volumeAnomaly view would see
    // every quiet hour as deviant.
    val rows = (1 to 15).flatMap { day =>
      val n10 = if (day == 15) 500 else 100 + (day % 3)
      val h10 = (0 until n10).map(i =>
        java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:${i / 60}%02d:${i % 60}%02d"))
      val h22 = (0 until 5).map(i =>
        java.sql.Timestamp.valueOf(f"2024-01-$day%02d 22:00:0$i"))
      h10 ++ h22
    }
    val out = Quality.seasonalAnomaly(rows.toDF("ts"), "ts", zThreshold = 2.0)
      .collect().map(r => r.getTimestamp(0).toString.take(13) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_ => r.getDouble(3)),
          r.getBoolean(4)))).toMap
    // the spike is the ONLY flagged hour
    val spike = out("2024-01-15 10")
    assert(spike._1 === 500L && spike._4 && spike._3.get > 2.0)
    assert(out.values.count(_._4) === 1)
    // zero-count hours exist as rows (the dead-pipeline visibility)
    assert(out("2024-01-05 15")._1 === 0L)
    // flat hour 22 never flags (variance 0 → z null by contract)
    assert((4 to 15).forall(d => !out(f"2024-01-$d%02d 22")._4))
    // cold start: first two same-hour observations have no baseline
    assert(out("2024-01-01 10")._3.isEmpty && out("2024-01-02 10")._3.isEmpty)
    // steady days stay unflagged with a live z
    assert(out("2024-01-10 10")._3.exists(z => math.abs(z) < 2.0))
  }

  test("failingRows surfaces the offending rows per check (store_failures)") {
    val t = Seq(
      (1L, Some("A"), "x"), (2L, Some("Z"), "x"),  // 2 fails accepted
      (3L, None, "y"), (3L, Some("A"), "y"),       // null status; dup key 3
      (4L, Some("N"), "z")
    ).toDF("k", "status", "grp")
    val out = Quality.failingRows(t, Seq(
        Quality.NotNull("status"), Quality.Unique("k"),
        Quality.AcceptedValues("status", Seq("A", "N"))), keyCols = Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out === Set(
      ("not_null_status", 3L),
      ("unique_k", 3L), ("unique_k", 3L), // both dup rows (set dedups)
      ("accepted_values_status", 2L)))
    // counts agree with the one-pass gate
    val counts = Quality.runChecks(t, Seq(Quality.NotNull("status"),
        Quality.Unique("k"), Quality.AcceptedValues("status", Seq("A", "N"))))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("not_null_status") === 1L &&
      counts("accepted_values_status") === 1L)
  }

  test("normalizeScores: per-group z and min-max, degenerate groups go NULL") {
    val df = Seq(
      ("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0), ("a", 4L, 6.0),
      ("b", 5L, 5.0), ("b", 6L, 5.0), // zero variance → both NULL
      ("c", 7L, 9.0)                  // single row → both NULL
    ).toDF("g", "id", "score")
    val out = Quality.normalizeScores(df, "g", "score")
      .collect().map(r => r.getLong(1) ->
        ((Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    // group a: mean 3, var = (1+4+9+36)/4 - 9 = 3.5
    val sd = math.sqrt(3.5)
    assert(out(1L)._1.get === math.rint((1.0 - 3.0) / sd * 1e6) / 1e6)
    assert(out(4L)._1.get === math.rint((6.0 - 3.0) / sd * 1e6) / 1e6)
    assert(out(1L)._2.get === 0.0 && out(4L)._2.get === 1.0)
    assert(out(2L)._2.get === 0.2) // (2-1)/5
    assert(out(5L) === ((None, None)) && out(6L) === ((None, None)))
    assert(out(7L) === ((None, None)))
  }

  test("piiColumnScan: per-(column, kind) counts, nulls safe, clean columns zero") {
    val df = Seq(
      (1L, "mail a@b.co and c@d.org plus http://x.io", "en"),
      (2L, "ip 10.0.0.1 here", "fr"),
      (3L, null.asInstanceOf[String], "en")
    ).toDF("id", "body", "lang")
    val out = Quality.piiColumnScan(df, Seq("body", "lang"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(("body", "email")) === ((3L, 1L, 2L))) // one row, two emails
    assert(out(("body", "url")) === ((3L, 1L, 1L)))
    assert(out(("body", "ipv4")) === ((3L, 1L, 1L)))
    // the clean column screens zero across all kinds
    Seq("email", "url", "ipv4").foreach { k =>
      assert(out(("lang", k)) === ((3L, 0L, 0L)))
    }
    // empty input: zero-filled report, not a driver NPE
    val empty = Quality.piiColumnScan(df.filter(col("id") < 0), Seq("body"))
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(4))).toSet
    assert(empty === Set(("email", 0L, 0L), ("url", 0L, 0L), ("ipv4", 0L, 0L)))
  }

  test("auc: perfect 1, inverted 0, all-tied 0.5, hand-computed 0.75, single-class null") {
    val df = Seq(
      ("perf", 3.0, 1L), ("perf", 4.0, 1L), ("perf", 1.0, 0L), ("perf", 2.0, 0L),
      ("inv", 1.0, 1L), ("inv", 2.0, 0L),
      ("tied", 2.0, 1L), ("tied", 2.0, 0L),
      ("hand", 3.0, 1L), ("hand", 1.0, 1L), ("hand", 2.0, 0L), ("hand", 0.0, 0L),
      ("mono", 1.0, 1L), ("mono", 2.0, 1L)
    ).toDF("k", "s", "y")
    val out = Quality.auc(df, "k", "s", "y")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(out("perf") === Some(1.0))
    assert(out("inv") === Some(0.0))
    assert(out("tied") === Some(0.5))
    assert(out("hand") === Some(0.75))
    assert(out("mono") === None)
  }

  test("gainsTable: bucket stats, cumulative capture, lift vs base rate, id tie-break") {
    val df = Seq(
      ("c", 1L, 4.0, 1L), ("c", 2L, 3.0, 0L), ("c", 3L, 2.0, 1L),
      ("c", 4L, 1.0, 0L)).toDF("k", "id", "s", "y")
    val out = Quality.gainsTable(df, "k", "id", "s", "y", buckets = 2)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6)))).toMap
    assert(out(1L) === ((2L, 1L, 0.5, 0.5, 1.0)))
    assert(out(2L) === ((2L, 1L, 0.5, 1.0, 1.0)))
    // top-heavy: all positives in the first bucket → lift 2, capture 1
    val top = Seq(("t", 1L, 9.0, 1L), ("t", 2L, 8.0, 1L),
      ("t", 3L, 2.0, 0L), ("t", 4L, 1.0, 0L)).toDF("k", "id", "s", "y")
    val t = Quality.gainsTable(top, "k", "id", "s", "y", buckets = 2)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(3), r.getDouble(5), r.getDouble(6)))).toMap
    assert(t(1L) === ((2L, 1.0, 2.0)))
    assert(t(2L) === ((0L, 1.0, 0.0)))
  }

  test("kAnonymity: class floors, risk share, l-diversity, null quasi-id forms a class") {
    val df = Seq(
      (Some("a"), 1, "x"), (Some("a"), 1, "x"), (Some("a"), 1, "y"),
      (Some("a"), 2, "z"), (Some("b"), 1, "x"), (Some("b"), 1, "y"),
      (Option.empty[String], 1, "q")
    ).toDF("zip", "age", "diag")
    val r = Quality.kAnonymity(df, Seq("zip", "age"), k = 2,
      sensitiveCol = Some("diag")).head()
    assert(r.getAs[Long]("n_rows") === 7L)
    assert(r.getAs[Long]("n_classes") === 4L) // null zip is a class
    assert(r.getAs[Long]("min_class_size") === 1L)
    assert(r.getAs[Long]("risk_rows") === 2L) // the two 1-row classes
    assert(r.getAs[Double]("risk_share") === 0.285714)
    assert(!r.getAs[Boolean]("is_k_anonymous"))
    assert(r.getAs[Long]("l_min") === 1L)
    // k=1 always holds; without a sensitive column no l_min is emitted
    val r1 = Quality.kAnonymity(df, Seq("zip", "age"), k = 1)
    assert(!r1.columns.contains("l_min"))
    val h1 = r1.head()
    assert(h1.getAs[Long]("risk_rows") === 0L)
    assert(h1.getAs[Boolean]("is_k_anonymous"))
  }

  test("welchT: hand-computed t/df, zero-variance null, n<2 keys dropped, foreign groups ignored") {
    val df = Seq(
      ("k", "A", 1L), ("k", "A", 2L), ("k", "A", 3L),
      ("k", "B", 2L), ("k", "B", 4L),
      ("k", "C", 99L), // foreign group: must not perturb k
      ("z", "A", 5L), ("z", "A", 5L), ("z", "B", 5L), ("z", "B", 5L),
      ("x", "A", 1L), ("x", "B", 1L), ("x", "B", 2L) // n_a = 1 → dropped
    ).toDF("k", "g", "v")
    val out = Quality.welchT(df, "k", "g", "v", "A", "B")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("k", "z"))
    val k = out("k")
    assert((k.getLong(1), k.getLong(2)) === ((3L, 2L)))
    assert((k.getDouble(3), k.getDouble(4)) === ((2.0, 3.0)))
    // se2a = 1/3, se2b = 1 → t = −1/√(4/3), df = (4/3)²/(1/18 + 1)
    assert(k.getDouble(5) === -0.866025)
    assert(k.getDouble(6) === 1.684211)
    assert(out("z").isNullAt(5) && out("z").isNullAt(6))
  }

  test("tCloseness: hand-computed TV with absent values, global-matching class, breach flagged") {
    // global: a:4 b:4 c:2 (N=10) → p_g = .4/.4/.2
    val df = Seq(
      (1, "a"), (1, "a"), (1, "a"), (1, "b"),
      (2, "a"), (2, "b"), (2, "b"), (2, "b"),
      (3, "c"), (3, "c")
    ).toDF("q", "s")
    val out = Quality.tCloseness(df, Seq("q"), "s", t = 0.5)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    // q1: ½(|.75−.4| + |.25−.4| + .2 for the absent c) = 0.35
    assert(out(1) === ((4L, 0.35, true)))
    assert(out(2) === ((4L, 0.35, true)))
    // q3 is all-c: ½(|1−.2| + .4 + .4) = 0.8 — the leak k-anon and
    // l-diversity both miss (class size 2, 1 distinct value aside)
    assert(out(3) === ((2L, 0.8, false)))
    // a class mirroring the global distribution is distance 0
    val mirror = Seq((1, "a"), (1, "b"), (2, "a"), (2, "b")).toDF("q", "s")
    val m = Quality.tCloseness(mirror, Seq("q"), "s", t = 0.1)
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(m(1) === 0.0 && m(2) === 0.0)
    // r11 ADVICE: null QI forms a class, null sensitive is a value —
    // the kAnonymity "a null zip is itself identifying" convention.
    // global: a:2 null:2 (N=4) → p_g = .5/.5
    val withNulls = Seq(
      (Some(1), Some("a")), (Some(1), None),
      (None, Some("a")), (None, None)
    ).toDF("q", "s")
    val nm = Quality.tCloseness(withNulls, Seq("q"), "s", t = 0.5)
      .collect().map(r => (if (r.isNullAt(0)) -1 else r.getInt(0)) ->
        ((r.getLong(1), r.getDouble(2)))).toMap
    // both classes mirror the global {a:.5, null:.5} → TV 0
    assert(nm(1) === ((2L, 0.0)))
    assert(nm(-1) === ((2L, 0.0))) // the null-QI class is REPORTED
    assert(nm.size === 2)
  }

  test("cuped: hand-computed theta/adjusted diff/variance reduction, constant covariate degenerates to raw") {
    val df = Seq(
      // key k: A units (x,y) = (1,3),(2,5); B units (1,2),(3,4)
      ("k", "A", 1L, 3L), ("k", "A", 2L, 5L),
      ("k", "B", 1L, 2L), ("k", "B", 3L, 4L),
      ("k", "C", 9L, 9L), // foreign group: ignored
      // key z: constant covariate → denx = 0 → theta/adj/rho2 null
      ("z", "A", 2L, 1L), ("z", "A", 2L, 3L),
      ("z", "B", 2L, 2L), ("z", "B", 2L, 6L),
      // key w: n_b = 1 → dropped
      ("w", "A", 1L, 1L), ("w", "A", 2L, 2L), ("w", "B", 1L, 1L)
    ).toDF("k", "g", "x", "y")
    val out = Quality.cuped(df, "k", "g", "x", "y", "A", "B")
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out.keySet === Set("k", "z"))
    val k = out("k")
    // n=4, sx=7, sy=14, sxx=15, syy=54, sxy=27 →
    // num = 4·27−7·14 = 10, denx = 4·15−49 = 11, deny = 4·54−196 = 20
    assert((k.getLong(1), k.getLong(2)) === ((2L, 2L)))
    assert(k.getDouble(3) === 0.909091)  // θ = 10/11
    assert(k.getDouble(4) === 1.0)       // raw: 8/2 − 6/2
    assert(k.getDouble(5) === 1.454545)  // 1 − (10/11)·(−0.5)
    assert(k.getDouble(6) === 0.454545)  // ρ² = 100/(11·20)
    val z = out("z")
    assert(z.getDouble(4) === -2.0)      // raw diff survives
    assert(z.isNullAt(3) && z.isNullAt(5) && z.isNullAt(6))
  }

  test("mutualInformation: perfect association nmi 1, independence mi 0, rounded-term entropies") {
    val perfect = Seq(("x", 1), ("x", 1), ("y", 2), ("y", 2)).toDF("a", "b")
    val p = Quality.mutualInformation(perfect, "a", "b").head()
    assert((p.getLong(0), p.getLong(1)) === ((4L, 2L)))
    // H = 2·round6(½·ln 2) = 0.693148 over rounded terms
    assert(p.getDouble(2) === 0.693148 && p.getDouble(3) === 0.693148)
    assert(p.getDouble(4) === 0.693148) // H(A,B) = H(A) here
    assert(p.getDouble(5) === 0.693148 && p.getDouble(6) === 1.0)
    val indep = Seq(("x", 1), ("x", 2), ("y", 1), ("y", 2)).toDF("a", "b")
    val i = Quality.mutualInformation(indep, "a", "b").head()
    assert(i.getLong(1) === 4L)
    assert(i.getDouble(5) === 0.0 && i.getDouble(6) === 0.0)
    assert(i.getDouble(4) === 1.386296) // 4·round6(¼·ln 4)
  }

  test("weightOfEvidence: hand-computed woe/iv, smoothing keeps zero cells finite") {
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // A: 3 units 2 pos; B: 2 units 0 pos → P=2, N=3
    val units = Seq(("A", 1L), ("A", 1L), ("A", 0L), ("B", 0L), ("B", 0L))
      .toDF("cat", "y")
    val out = Quality.weightOfEvidence(units, "cat", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6)))).toMap
    val gsA = (2.0 + 0.5) / (2.0 + 0.5); val bsA = (1.0 + 0.5) / (3.0 + 0.5)
    val woeA = r6(math.log(gsA / bsA)); val cA = r6((gsA - bsA) * woeA)
    val gsB = (0.0 + 0.5) / (2.0 + 0.5); val bsB = (2.0 + 0.5) / (3.0 + 0.5)
    val woeB = r6(math.log(gsB / bsB)); val cB = r6((gsB - bsB) * woeB)
    def s6(x: Double) = BigDecimal(x * 1000000.0)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val ivTotal = r6((s6(cA) + s6(cB)).toDouble / 1000000.0)
    assert(out("A") === ((3L, 2L, 1L, woeA, cA, ivTotal)))
    assert(out("B") === ((2L, 0L, 2L, woeB, cB, ivTotal)))
    // zero-positive category got a finite negative woe, not -inf
    assert(woeB < 0 && !woeB.isInfinite)
    Par.release()
  }

  test("spearman: monotone 1/-1, hand-computed -0.5, aligned ties still 1, constant side null") {
    val df = Seq(
      ("up", 1.0, 10.0), ("up", 2.0, 20.0), ("up", 3.0, 25.0), ("up", 4.0, 99.0),
      ("down", 1.0, 9.0), ("down", 2.0, 5.0), ("down", 3.0, 1.0),
      ("hand", 1.0, 3.0), ("hand", 2.0, 1.0), ("hand", 3.0, 2.0),
      ("tied", 1.0, 5.0), ("tied", 1.0, 5.0), ("tied", 2.0, 9.0),
      ("flat", 1.0, 7.0), ("flat", 2.0, 7.0), ("flat", 3.0, 7.0)
    ).toDF("k", "x", "y")
    val out = Quality.spearman(df, "k", "x", "y")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
    assert(out("up") === ((4L, Some(1.0))))     // monotone, nonlinear
    assert(out("down") === ((3L, Some(-1.0))))
    assert(out("hand") === ((3L, Some(-0.5)))) // 1 - 6*6/24
    assert(out("tied") === ((3L, Some(1.0))))  // aligned tie patterns
    assert(out("flat") === ((3L, None)))       // zero variance side
  }

  test("chiSquareIndependence: hand-computed 2x2, independent table is 0, zero cells contribute") {
    // (x,p)=10 (x,q)=20 (y,p)=20 (y,q)=10: e = 15 everywhere,
    // per-cell 25/15 → rounded-cell χ² = 6.666668
    val df = (Seq.fill(10)(("x", "p")) ++ Seq.fill(20)(("x", "q")) ++
      Seq.fill(20)(("y", "p")) ++ Seq.fill(10)(("y", "q"))).toDF("a", "b")
    val r = Quality.chiSquareIndependence(df, "a", "b").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      === ((60L, 2L, 2L, 1L)))
    assert(r.getDouble(4) === 6.666668)
    assert(r.getDouble(5) === BigDecimal(math.sqrt(6.666668 / (60.0 * 1.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // perfectly independent table: χ² = 0, V = 0
    val ind = (for { a <- Seq("x", "y"); b <- Seq("p", "q"); _ <- 1 to 10 }
      yield (a, b)).toDF("a", "b")
    val i = Quality.chiSquareIndependence(ind, "a", "b").collect().head
    assert(i.getDouble(4) === 0.0 && i.getDouble(5) === 0.0)
    // full association with ZERO cells: (x,p)=2 (z,q)=1 → the two
    // unobserved cells contribute their e; χ² = N = 3 exactly, V = 1
    val zc = (Seq.fill(2)(("x", "p")) :+ (("z", "q"))).toDF("a", "b")
    val z = Quality.chiSquareIndependence(zc, "a", "b").collect().head
    assert((z.getLong(0), z.getLong(3), z.getDouble(4), z.getDouble(5))
      === ((3L, 1L, 3.0, 1.0)))
    Par.release()
  }

  test("twoProportionZ: hand-computed pooled z; degenerate all-converted reports null") {
    val units = Seq((1L, 1, 1L), (3L, 1, 0L), (2L, 0, 1L), (4L, 0, 1L))
      .toDF("u", "variant", "conv")
    val r = Quality.twoProportionZ(units, "variant", "conv").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      === ((2L, 1L, 2L, 2L)))
    assert((r.getDouble(4), r.getDouble(5)) === ((0.5, 1.0)))
    val zExp = BigDecimal(-0.5 / math.sqrt(0.75 * 0.25 * 1.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(6) === zExp)
    // everyone converts: pooled rate 1 → zero variance → null
    val degen = Quality.twoProportionZ(
      Seq((1L, 1, 1L), (2L, 0, 1L)).toDF("u", "variant", "conv"),
      "variant", "conv").collect().head
    assert(degen.isNullAt(6))
  }

  test("quantileNormalize: scale-shifted sources map to identical normalized sets; singleton maps to global min") {
    val df = Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L),
      (4L, "b", 100L), (5L, "b", 200L), (6L, "b", 300L),
      (7L, "c", 7L)
    ).toDF("id", "src", "v")
    val out = Quality.quantileNormalize(df, "src", "v", "id")
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3)))
    val bySrc = out.groupBy(_._1).map { case (s, rows) =>
      s -> rows.map(_._3).sorted.toList }
    // global sorted: 7,10,20,30,100,200,300 — ranks 0/.5/1 hit
    // indices 1/4/7 for BOTH 3-row sources: identical after norm
    assert(bySrc("a") === List(7L, 30L, 300L))
    assert(bySrc("b") === List(7L, 30L, 300L))
    assert(bySrc("a") === bySrc("b"))
    // a singleton source pins to rank 0 — the global minimum
    assert(bySrc("c") === List(7L))
  }

  test("quantileNormalizeApprox: endpoint equality, in-group monotonicity, bounded rank distance vs exact") {
    // 100 distinct values across two scale-shifted sources + a
    // singleton — dense enough that rank distance is meaningful
    val rows = (1L to 50L).map(i => (i, "a", i * 10L)) ++
      (51L to 100L).map(i => (i, "b", (i - 50L) * 1000L)) ++
      Seq((101L, "c", 5L))
    val df = rows.toDF("id", "src", "v")
    val exact = Quality.quantileNormalize(df, "src", "v", "id")
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    val approx = Quality.quantileNormalizeApprox(df, "src", "v", "id",
        probes = 201, accuracy = 100000)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    assert(approx.length === rows.size) // no row lost to the index join
    val globalSorted = rows.map(_._3).sorted
    val rankOf = globalSorted.zipWithIndex.toMap
    // 1. norm values always come from the global value set
    assert(approx.forall(a => rankOf.contains(a._4)))
    // 2. group extremes map to the global extremes exactly
    val byId = approx.map(a => a._1 -> a._4).toMap
    assert(byId(1L) === globalSorted.head)    // a's min (pr = 0)
    assert(byId(51L) === globalSorted.head)   // b's min
    assert(byId(101L) === globalSorted.head)  // singleton pins to min
    assert(byId(50L) === globalSorted.last)   // a's max (pr = 1)
    assert(byId(100L) === globalSorted.last)  // b's max
    // 3. monotone in value within every group
    approx.groupBy(_._2).foreach { case (_, g) =>
      val sortedG = g.sortBy(_._3).map(_._4)
      assert(sortedG === sortedG.sorted, "approx norm not monotone")
    }
    // 4. bounded rank distance from the exact operator (dense grid +
    // high accuracy: the sketch is near-exact, the grid rounds to
    // 1/200 — allow 3 of 101 global rank positions)
    approx.foreach { a =>
      assert(math.abs(rankOf(a._4) - rankOf(exact(a._1))) <= 3,
        s"row ${a._1}: approx ${a._4} vs exact ${exact(a._1)}")
    }
  }

  test("mannWhitney: separation maxes U with hand-computed z; full ties zero σ → null z; other groups ignored") {
    val df = Seq(
      // k1: A strictly above B — U = n_a·n_b = 4
      (1, "A", 3.0), (1, "A", 5.0), (1, "B", 1.0), (1, "B", 2.0),
      (1, "C", 99.0),                       // not in the comparison
      // k2: everything ties — σ² = 0
      (2, "A", 1.0), (2, "A", 1.0), (2, "B", 1.0), (2, "B", 1.0)
    ).toDF("k", "grp", "v")
    val out = Quality.mannWhitney(df, "k", "grp", "v", "A", "B")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    val zExp = BigDecimal(4.0 / (2.0 * math.sqrt(5.0 / 3.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1) === ((2L, 2L, 4.0, Some(zExp))))
    assert(out(2) === ((2L, 2L, 2.0, None)))
  }

  test("candidateKeys: is-key verdicts, uniqueness ratios, struct-null semantics, one row per combo") {
    val df = Seq(
      (Some(1), "x"), (Some(2), "x"), (Some(2), "y"), (None, "x")
    ).toDF("a", "b")
    val out = Quality.candidateKeys(df,
        Seq(Seq("a"), Seq("b"), Seq("a", "b")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    // struct-distinct COUNTS a null member as a value: a has
    // {1, 2, null} = 3 distinct (plain count(DISTINCT a) would say 2)
    assert(out("a") === ((4L, 3L, 0.75, false)))
    assert(out("b") === ((4L, 2L, 0.5, false)))
    // (a, b) has 4 distinct tuples — the only key here
    assert(out("a,b") === ((4L, 4L, 1.0, true)))
    assert(out.size === 3)
    // duplicate combos rejected
    intercept[IllegalArgumentException] {
      Quality.candidateKeys(df, Seq(Seq("a"), Seq("a"))) }
  }

  test("referentialIntegrity: an empty child counts zeros and a null orphan row sum; null parent keys match nothing") {
    val parent = Seq(Some(1L), None).toDF("pk")
    val empty = Seq.empty[Option[Long]].toDF("fk")
    val nulls = Seq(Some(1L), Some(2L), None, None).toDF("fk")
    val out = Quality.referentialIntegrity(Seq(
        ("empty", empty, "fk", parent, "pk"),
        ("nulls", nulls, "fk", parent, "pk")))
      .collect().map(r => r.getString(0) -> r).toMap
    val e = out("empty")
    assert((e.getLong(1), e.getLong(2), e.isNullAt(3), e.getLong(4)) === ((0L, 0L, true, 0L)))
    val n = out("nulls")
    assert((n.getLong(1), n.getLong(2), n.getLong(3), n.getLong(4)) === ((2L, 2L, 1L, 1L)))
  }
}
