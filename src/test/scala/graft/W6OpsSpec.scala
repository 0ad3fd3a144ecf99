package graft

import graft.operators.{Graph, Recurrence}
import org.apache.spark.sql.functions._

/** Round-9 continuation operators: fixed-point PageRank, k-core,
  * degree assortativity, Holt-Winters smoothing, CUSUM drift.
  */
class W6OpsSpec extends SparkSuite {
  import spark.implicits._

  // ---- Graph.pageRankFixedPoint ----

  test("pageRankFixedPoint: agrees with the double PageRank to fixed-point precision") {
    // 2 triangles bridged by one edge + a pendant
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (4L, 6L), (6L, 7L)).toDF("a", "b")
    val fp = Graph.pageRankFixedPoint(edges, "a", "b", iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dbl = Graph.pageRank(edges, "a", "b", iterations = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fp.keySet === dbl.keySet)
    // micro-units / 1e12 tracks the double iteration to ~1e-9 (the
    // floor losses of 10 rounds over 7 nodes)
    fp.foreach { case (n, r) =>
      assert(math.abs(r / 1e12 - dbl(n)) < 1e-9, s"node $n: $r vs ${dbl(n)}")
    }
    // total mass conserved to within n integer floors per round
    val mass = fp.values.sum
    assert(mass <= 1000000000000L && mass > 1000000000000L - 10 * 7 * 2)
  }

  test("pageRankFixedPoint: partition-order invariance — bit-identical longs") {
    val edges = (1L to 60L).map(i => (i, i % 20 + 100L)).toDF("a", "b")
    val once = Graph.pageRankFixedPoint(edges, "a", "b", iterations = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val rep = Graph.pageRankFixedPoint(edges.repartition(7), "a", "b",
        iterations = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(once === rep)
  }

  test("pageRankFixedPoint: reliable checkpoint twin is identical") {
    val edges = (1L to 40L).map(i => (i, (i * 7) % 13 + 200L)).toDF("a", "b")
    val dir = tmpDir("w6-ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    val local = Graph.pageRankFixedPoint(edges, "a", "b", iterations = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val rel = Graph.pageRankFixedPoint(edges, "a", "b", iterations = 7,
        reliable = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(local === rel)
  }

  test("pageRankFixedPointWeighted: equal weights ≡ unweighted; heavy edges pull rank") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L)).toDF("a", "b")
    val unw = Graph.pageRankFixedPoint(edges, "a", "b", iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val eq = Graph.pageRankFixedPointWeighted(
        edges.withColumn("w", lit(7L)), "a", "b", "w", iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // uniform weights cancel: (r·7) div (7·deg) = r div deg exactly
    // only when the division is exact — allow off-by-floor units
    unw.keySet.foreach { k =>
      assert(math.abs(unw(k) - eq(k)) < 1000L, s"node $k: ${unw(k)} vs ${eq(k)}")
    }
    // star with one heavy spoke: the heavy leaf outranks light leaves
    val star = Seq((0L, 1L, 10L), (0L, 2L, 1L), (0L, 3L, 1L)).toDF("a", "b", "w")
    val wr = Graph.pageRankFixedPointWeighted(star, "a", "b", "w", iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wr(1L) > wr(2L) && wr(2L) === wr(3L))
    // duplicate + reversed pairs canonicalize by summing weights
    val dup = Seq((0L, 1L, 5L), (1L, 0L, 5L), (0L, 2L, 1L), (0L, 3L, 1L))
      .toDF("a", "b", "w")
    val dr = Graph.pageRankFixedPointWeighted(dup, "a", "b", "w", iterations = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dr === wr)
  }

  test("personalizedPageRankFixedPoint: seeds dominate, symmetric non-seeds tie, off-graph seeds rejected") {
    // path 1-2-3-4-5: seed at the center
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val seeds = Seq(3L).toDF("n")
    val r = Graph.personalizedPageRankFixedPoint(path, "a", "b", seeds, "n",
        iterations = 10)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(3L) > r(2L) && r(3L) > r(4L))
    assert(r(2L) === r(4L) && r(1L) === r(5L)) // symmetry about the seed
    assert(r(2L) > r(1L)) // mass decays with distance from the seed
    // total mass ≈ scale
    assert(math.abs(r.values.sum - 1000000000000L) < 1000L)
    // a seed that is not a graph node cannot anchor the teleport
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRankFixedPoint(path, "a", "b",
        Seq(99L).toDF("n"), "n", iterations = 3)
    }
  }

  // ---- Graph.kCore ----

  test("kCore: pendant chain peels iteratively, clique survives with in-core degrees") {
    // K4 on {1,2,3,4} + chain 4-5-6-7: the chain is in the 1-core
    // only; 2-core = K4 (chain peels over THREE rounds, end first)
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val chain = Seq((4L, 5L), (5L, 6L), (6L, 7L))
    val edges = (k4 ++ chain).toDF("a", "b")
    val core2 = Graph.kCore(edges, "a", "b", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2.keySet === Set(1L, 2L, 3L, 4L))
    assert(core2.values.toSet === Set(3L)) // all K4-internal degrees
    val core3 = Graph.kCore(edges, "a", "b", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core3.keySet === Set(1L, 2L, 3L, 4L))
    // k above the clique degree: empty core
    assert(Graph.kCore(edges, "a", "b", k = 4).count() === 0L)
  }

  test("kCore: peeling cascade — removing low-degree shell can drop a former high-degree node") {
    // hub 10 connects to 4 leaves; triangle 1-2-3 attached to hub via
    // node 1: 2-core keeps triangle+hub? hub's leaves peel → hub
    // degree falls to 1 (edge to node 1) → hub peels too: 2-core is
    // exactly the triangle
    val edges = Seq((10L, 20L), (10L, 21L), (10L, 22L), (10L, 23L),
      (10L, 1L), (1L, 2L), (2L, 3L), (1L, 3L)).toDF("a", "b")
    val core = Graph.kCore(edges, "a", "b", k = 2)
      .collect().map(_.getLong(0)).toSet
    assert(core === Set(1L, 2L, 3L))
  }

  // ---- Graph.assortativity ----

  test("assortativity: star is -1, clique is degree-regular (NaN den) — and a hand-computed mix") {
    val star = Seq((1L, 10L), (1L, 11L), (1L, 12L)).toDF("a", "b")
    val r = Graph.assortativity(star, "a", "b").head()
    assert(r.getAs[Long]("n_nodes") === 4L)
    assert(r.getAs[Long]("n_edges") === 3L)
    assert(r.getAs[Double]("assortativity") === -1.0)
    // path 1-2-3-4, degrees 1,2,2,1; directed (dx,dy) pairs:
    // (1,2),(2,1),(2,2),(2,2),(2,1),(1,2) → m=6, sx=10, sxx=18,
    // sxy=16 → r = (6·16−100)/(6·18−100) = −4/8 = −0.5
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val p = Graph.assortativity(path, "a", "b").head()
    assert(p.getAs[Double]("assortativity") === -0.5)
  }

  // ---- Recurrence.holtWinters ----

  test("holtWinters: exact recurrence replay, key reset, constant and linear series") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(m: Int) = new java.sql.Timestamp(ts0.getTime + m * 60000L)
    // user 1: linear ramp; user 2: constant
    val rows = (1 to 8).map(i => (1L, i.toLong, t(i), 10.0 * i)) ++
      (1 to 5).map(i => (2L, 100L + i, t(i), 42.0))
    val df = rows.toDF("user_id", "event_id", "ts", "value")
    val got = Recurrence.holtWinters(df, "user_id", "event_id", "ts", "value")
      .orderBy("user_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(4), r.getDouble(5)))
    // driver-side replay of the identical fold
    val sorted = rows.sortBy(r => (r._1, r._2))
    var lvl = 0.0; var tr = 0.0
    val want = sorted.zipWithIndex.map { case ((u, id, _, v), i) =>
      val isFirst = i == 0 || sorted(i - 1)._1 != u
      if (isFirst) { lvl = v; tr = 0.0 }
      else { val nl = 0.5 * v + 0.5 * (lvl + tr); tr = 0.5 * (nl - lvl) + 0.5 * tr; lvl = nl }
      (u, id, lvl, tr)
    }
    assert(got.toSeq === want)
    // constant series: level == value, trend == 0 throughout
    got.filter(_._1 == 2L).foreach { case (_, _, l, b) =>
      assert(l === 42.0 && b === 0.0)
    }
    // linear +10/step series: trend converges toward 10
    val lastTrend = got.filter(_._1 == 1L).last._4
    assert(math.abs(lastTrend - 10.0) < 2.0)
  }

  test("holtWinters: partition-order invariance (bit-identical doubles)") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (1 to 200).map(i =>
      ((i % 7).toLong, i.toLong,
        new java.sql.Timestamp(ts0.getTime + i * 1000L), math.sin(i) * 50 + 100))
    val df = rows.toDF("user_id", "event_id", "ts", "value")
    val a = Recurrence.holtWinters(df, "user_id", "event_id", "ts", "value")
      .orderBy("user_id", "event_id").collect().toSeq
    val b = Recurrence.holtWinters(df.repartition(9), "user_id", "event_id", "ts", "value")
      .orderBy("user_id", "event_id").collect().toSeq
    assert(a === b)
  }

  // ---- Recurrence.holtWintersSeasonal ----

  test("holtWintersSeasonal: hand-computed seasonal fold, constant series flat, key reset") {
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // key a: two events in hour 0, four in hour 1, six in next-day
    // hour 0 (slot repeats), two in next-day hour 1
    def ev(k: String, ts: String, n: Int) =
      (1 to n).map(_ => (k, t(ts)))
    val rows =
      ev("a", "2024-01-01 00:10:00", 2) ++ ev("a", "2024-01-01 01:20:00", 4) ++
      ev("a", "2024-01-02 00:30:00", 6) ++ ev("a", "2024-01-02 01:40:00", 2) ++
      ev("b", "2024-01-01 05:00:00", 3) ++ ev("b", "2024-01-01 06:00:00", 3) ++
      ev("b", "2024-01-01 07:00:00", 3)
    val df = rows.toDF("event_type", "ts")
    val got = Recurrence.holtWintersSeasonal(df, "event_type", "ts")
      .orderBy("event_type", "bucket")
      .collect().map(r => (r.getString(0), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6)))
    // hand fold for key a (slots 0/1): seed l=2 b=0 s=0; then
    // x=4: l = ½·4 + ½·2 = 3, b = ½, s1 = ½(4−3) = ½
    // x=6 (slot 0 again, sPrev 0): l = 3 + 1.75 = 4.75,
    //   b = 0.875 + 0.25 = 1.125, s0 = 0.625
    // x=2 (slot 1, sPrev ½): l = 0.75 + 2.9375 = 3.6875,
    //   b = −0.53125 + 0.5625 = 0.03125, s1 = −0.84375 + 0.25 = −0.59375
    val a = got.filter(_._1 == "a")
    assert(a === Seq(
      ("a", 0L, 2.0, 2.0, 0.0, 0.0),
      ("a", 1L, 4.0, 3.0, 0.5, 0.5),
      ("a", 0L, 6.0, 4.75, 1.125, 0.625),
      ("a", 1L, 2.0, 3.6875, 0.03125, -0.59375)))
    // constant hourly volume: level pins to it, trend and seasonal 0
    got.filter(_._1 == "b").foreach { case (_, _, x, l, b, s) =>
      assert(x === 3.0 && l === 3.0 && b === 0.0 && s === 0.0)
    }
  }

  test("holtWintersSeasonal: partition-order invariance (bit-identical doubles)") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (1 to 600).map { i =>
      (s"k${i % 3}", new java.sql.Timestamp(ts0.getTime + (i % 97) * 3600000L))
    }
    val df = rows.toDF("event_type", "ts")
    val a = Recurrence.holtWintersSeasonal(df, "event_type", "ts")
      .orderBy("event_type", "bucket").collect().toSeq
    val b = Recurrence.holtWintersSeasonal(df.repartition(9), "event_type", "ts")
      .orderBy("event_type", "bucket").collect().toSeq
    assert(a === b)
  }

  // ---- Analytics.theilSenTrend ----

  test("theilSenTrend: hand-computed median slope, outlier robustness, recency cap, equal-ts skip") {
    import graft.pipeline.Analytics
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(s: Int) = new java.sql.Timestamp(ts0.getTime + s * 1000L)
    // key 1: points (0s,0),(1s,1),(2s,10) → slopes 1, 5, 9 → median 5
    // key 2: clean slope-2 line with ONE wild outlier; Theil-Sen holds 2
    // key 3: two points at the SAME timestamp → no valid pair → absent
    val rows = Seq(
      (1L, 1L, t(0), 0.0), (1L, 2L, t(1), 1.0), (1L, 3L, t(2), 10.0),
      (3L, 30L, t(5), 1.0), (3L, 31L, t(5), 9.0)) ++
      (0 to 10).map(i => (2L, 100L + i, t(i), 2.0 * i)) :+
      (2L, 200L, t(20), 1000.0) // outlier at the end
    val df = rows.toDF("user_id", "event_id", "ts", "value")
    val got = Analytics.theilSenTrend(df, "user_id", "event_id", "ts", "value")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) === ((3L, 3L, 5.0)))
    // key 2: 12 points, 66 pairs; majority of slopes are exactly 2
    assert(got(2L)._1 === 12L && got(2L)._2 === 66L)
    assert(math.abs(got(2L)._3 - 2.0) < 0.5, s"outlier dragged trend to ${got(2L)._3}")
    assert(!got.contains(3L), "equal-timestamp-only key must produce no trend")
    // recency cap: with maxPoints = 3, key 2 keeps only the LAST 3
    // points (ts 9,10 and the outlier at 20) — the outlier now
    // dominates and the trend jumps far above 2
    val capped = Analytics.theilSenTrend(df, "user_id", "event_id", "ts", "value",
        maxPoints = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(capped(2L)._1 === 3L && capped(2L)._2 === 3L)
    assert(capped(2L)._3 > 50.0)
  }

  // ---- Quality.jsDrift ----

  test("jsDrift: identical = 0, disjoint ≈ ln 2, one-sided categories stay finite") {
    import graft.operators.Quality
    val ref = (Seq.fill(60)("a") ++ Seq.fill(40)("b")).toDF("c")
    // identical distribution → p = q exactly under smoothing → js = 0
    assert(Quality.jsDrift(ref, ref, "c")
      .select("js").head().getDouble(0) === 0.0)
    // disjoint supports → js near ln 2 ≈ 0.6931, every contribution
    // finite despite zero counts on one side (Laplace smoothing)
    val cur = (Seq.fill(50)("x") ++ Seq.fill(50)("y")).toDF("c")
    val dis = Quality.jsDrift(ref, cur, "c").collect()
    assert(dis.length === 4) // union domain a,b,x,y
    // Laplace smoothing pulls disjoint below the ln 2 bound at small
    // n (measured 0.598 at 100 rows/side over a 4-category domain)
    val js = dis.head.getAs[Double]("js")
    assert(js > 0.55 && js <= math.log(2.0) + 1e-9, s"js=$js")
    assert(dis.forall(r => !r.getAs[Double]("js_contrib").isInfinite))
    // a shifted mix lands strictly between
    val shifted = (Seq.fill(30)("a") ++ Seq.fill(70)("b")).toDF("c")
    val mid = Quality.jsDrift(ref, shifted, "c")
      .select("js").head().getDouble(0)
    assert(mid > 0.0 && mid < js)
  }

  // ---- Quality.keySkew ----

  test("keySkew: hand-computed shares, tie-break by key, topK bound") {
    import graft.operators.Quality
    // 10 rows: key 7 × 5, key 3 × 3, keys 1,2 × 1 each
    val df = (Seq.fill(5)(7L) ++ Seq.fill(3)(3L) ++ Seq(1L, 2L)).toDF("k")
    val got = Quality.keySkew(df, "k", topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(got.toSeq === Seq(
      (1L, 7L, 5L, 0.5, 0.5),
      (2L, 3L, 3L, 0.3, 0.8),
      (3L, 1L, 1L, 0.1, 0.9))) // tie 1 vs 2 → key asc wins; topK cuts key 2
  }

  test("keySkew: empty input yields an empty frame, not a driver NPE") {
    import graft.operators.Quality
    // r10 ADVICE: sum over zero groups is NULL — the total read must
    // be null-safe so an empty monitored table screens as empty
    val empty = Seq.empty[Long].toDF("k")
    assert(Quality.keySkew(empty, "k", topK = 3).count() === 0L)
  }

  // ---- Analytics.frequentSequences ----

  test("frequentSequences: gap-tolerant order, direction sensitivity, repeats, threshold") {
    import graft.pipeline.Analytics
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(s: Int) = new java.sql.Timestamp(ts0.getTime + s * 1000L)
    def seq(u: Long, types: String*): Seq[(Long, String, java.sql.Timestamp, Long)] =
      types.zipWithIndex.map { case (ty, i) => (u, ty, t(i), u * 100 + i) }
    // u1: a c b — a precedes b WITH a gap; u2: a b; u3: b a (reverse)
    val df = (seq(1L, "a", "c", "b") ++ seq(2L, "a", "b") ++ seq(3L, "b", "a"))
      .toDF("user_id", "event_type", "ts", "event_id")
    val got = Analytics.frequentSequences(df, "user_id", "event_type",
        "ts", "event_id", minSupportFrac = 0.5) // 3 users → minCount 2
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        Option(r.getString(3)), r.getLong(4))).toSet
    // only a→b reaches support 2 (u1 via the gap, u2 adjacent);
    // b→a, a→c, c→b are singletons; no triples survive pruning
    assert(got === Set((2L, "a", "b", None, 2L)))

    // repeats: (x,x) needs two occurrences, (x,x,x) three — the
    // strictly-between position test must not reuse one occurrence
    val rep = (seq(1L, "x", "y", "x", "x") ++ seq(2L, "x", "x", "z", "x") ++
        seq(3L, "x")) // one x only — supports nothing
      .toDF("user_id", "event_type", "ts", "event_id")
    val gotRep = Analytics.frequentSequences(rep, "user_id", "event_type",
        "ts", "event_id", minSupportFrac = 0.6) // 3 users → minCount 2
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        Option(r.getString(3)), r.getLong(4))).toSet
    assert(gotRep === Set(
      (2L, "x", "x", None, 2L),
      (3L, "x", "x", Some("x"), 2L)))
  }

  // ---- Recurrence.cusum ----

  test("cusum: slow drift breaches, stable series never does, accumulators reset per key") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(m: Int) = new java.sql.Timestamp(ts0.getTime + m * 60000L)
    // user 1: mean 100 (in-band, |x-100| ≤ 25 slack) — never breaches;
    // user 2: mean 160 — s⁺ grows by 35/step, breaches h=200 at step 6
    val rows = (1 to 20).map(i => (1L, i.toLong, t(i), if (i % 2 == 0) 110.0 else 90.0)) ++
      (1 to 10).map(i => (2L, 100L + i, t(i), 160.0))
    val got = Recurrence.cusum(rows.toDF("user_id", "event_id", "ts", "value"),
        "user_id", "event_id", "ts", "value",
        target = 100.0, slack = 25.0, h = 200.0)
      .orderBy("user_id", "event_id").collect()
    val u1 = got.filter(_.getLong(0) == 1L)
    assert(u1.forall(!_.getBoolean(6)), "in-band series must not breach")
    // in-band: each step's |x−k| excursion cancels at the max(0,·) floor
    assert(u1.forall(r => r.getDouble(4) === 0.0 && r.getDouble(5) === 0.0))
    val u2 = got.filter(_.getLong(0) == 2L)
    // s⁺ after i steps of +35: 35·i; first breach where 35·i > 200 → i=6
    u2.zipWithIndex.foreach { case (r, i) =>
      assert(r.getDouble(4) === 35.0 * (i + 1))
      assert(r.getBoolean(6) === (35.0 * (i + 1) > 200.0))
    }
    // user 2's ramp must not leak into user 1 (reset at key boundary):
    // already covered by u1 all-zero accumulators above
  }

  test("ewmaBand: flag judged vs PRIOR state, constant series silent, a spike flags") {
    import graft.operators.Recurrence
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def t(m: Int) = new java.sql.Timestamp(ts0.getTime + m * 60000L)
    // user 1: noisy-but-stable 90/110 alternation, then a 500 spike —
    // only the spike may breach; user 2: constant, never breaches
    // (zero-width band guarded by v > 0)
    val rows = (1 to 20).map(i =>
        (1L, i.toLong, t(i), if (i % 2 == 0) 110.0 else 90.0)) :+
      (1L, 21L, t(21), 500.0)
    val rows2 = (1 to 10).map(i => (2L, 100L + i, t(i), 42.0))
    val got = Recurrence.ewmaBand((rows ++ rows2).toDF("user_id", "event_id", "ts", "value"),
        "user_id", "event_id", "ts", "value")
      .orderBy("user_id", "event_id").collect()
    val u1 = got.filter(_.getLong(0) == 1L)
    assert(!u1.init.exists(_.getBoolean(6)), "stable alternation must not breach")
    assert(u1.last.getBoolean(6), "the 500 spike must breach the learned band")
    val u2 = got.filter(_.getLong(0) == 2L)
    assert(u2.forall(r => !r.getBoolean(6) && r.getDouble(4) === 42.0
      && r.getDouble(5) === 0.0))
    // driver replay of the exact fold on user 1
    var m = 0.0; var v = 0.0
    rows.zipWithIndex.foreach { case ((_, _, _, x), i) =>
      if (i == 0) { m = x; v = 0.0 }
      else {
        val dev = x - m
        val breach = v > 0.0 && math.abs(dev) > 3.0 * math.sqrt(v)
        assert(u1(i).getBoolean(6) === breach, s"row $i")
        val nm = 0.5 * x + 0.5 * m; v = 0.5 * (dev * dev) + 0.5 * v; m = nm
      }
      assert(u1(i).getDouble(4) === m && u1(i).getDouble(5) === v, s"row $i state")
    }
  }

  test("cusum: downward drift trips the negative side") {
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val rows = (1 to 10).map(i =>
      (5L, i.toLong, new java.sql.Timestamp(ts0.getTime + i * 1000L), 40.0))
    val got = Recurrence.cusum(rows.toDF("user_id", "event_id", "ts", "value"),
        "user_id", "event_id", "ts", "value",
        target = 100.0, slack = 25.0, h = 200.0)
      .orderBy("event_id").collect()
    // kDn = 75: s⁻ grows 35/step, s⁺ pinned at 0
    got.zipWithIndex.foreach { case (r, i) =>
      assert(r.getDouble(4) === 0.0)
      assert(r.getDouble(5) === 35.0 * (i + 1))
    }
    assert(got.last.getBoolean(6))
  }

  test("pettitt: hand-computed U/K/argmax with ties, flat series, key isolation, n<2 dropped") {
    val series = Seq(
      // key A: level shift 1→10 after t=3; tie-averaged ranks
      ("a", 1, 1L), ("a", 2, 1L), ("a", 3, 1L),
      ("a", 4, 10L), ("a", 5, 10L), ("a", 6, 10L),
      // key B: flat — U ≡ 0 everywhere, K = 0, earliest argmax
      ("b", 1, 5L), ("b", 2, 5L), ("b", 3, 5L),
      // key C: single point — no interior split, must be absent
      ("c", 1, 7L)
    ).toDF("k", "ts", "v")
    val out = Recurrence.pettitt(series, "k", "ts", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4)))).toMap
    // A: U = [-3,-6,-9,-6,-3] (doubled tie ranks 4/10), K=9 at t=3
    val pA = BigDecimal(math.min(1.0, 2.0 * math.exp(-6.0 * 81.0 / 252.0)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out("a") === ((6L, 3, 9L, pA)))
    // B: all ranks tie ⇒ U_t = 0, K = 0, p capped at 1
    assert(out("b") === ((3L, 1, 0L, 1.0)))
    assert(!out.contains("c"))
  }

  test("seasonalDecompose: linear series decomposes exactly, alternating splits into seasonal, edges dropped, keys isolated") {
    import graft.pipeline.Analytics
    val series = Seq(
      // key L: linear 1..6 — trend IS the value, seasonal/resid 0
      ("L", 1, 1L), ("L", 2, 2L), ("L", 3, 3L),
      ("L", 4, 4L), ("L", 5, 5L), ("L", 6, 6L),
      // key A: alternating 10/20 — pure seasonal signal
      ("A", 1, 10L), ("A", 2, 20L), ("A", 3, 10L),
      ("A", 4, 20L), ("A", 5, 10L), ("A", 6, 20L)
    ).toDF("k", "t", "v")
    val out = Analytics.seasonalDecompose(series, "k", "t", "v",
        seasonCol = pmod(col("t"), lit(2)), halfWindow = 1)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    // edges (t=1, t=6) have no full window — absent
    assert(out.keySet === (2 to 5).flatMap(t => Seq(("L", t), ("A", t))).toSet)
    for (t <- 2 to 5) {
      val (v, tr, se, re) = out(("L", t))
      assert(v === t.toLong && tr === t.toDouble && se === 0.0 && re === 0.0)
    }
    // A: detr×3 = ±20 per row, season means ±20·2/(3·2·2)... = ±6.666667
    val (v2, tr2, se2, re2) = out(("A", 2))
    assert(v2 === 20L && tr2 === BigDecimal(40.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(se2 === BigDecimal(40.0 / 6)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(math.abs(re2) < 1e-9)
    val (_, _, se3, re3) = out(("A", 3))
    assert(se3 === -se2 && math.abs(re3) < 1e-9)
    // the decomposition identity holds after rounding: v ≈ tr + se + re
    out.values.foreach { case (v, tr, se, re) =>
      assert(math.abs(v - tr - se - re) < 2e-6)
    }
  }

  test("olsTrend: perfect line, hand-computed fit, flat series R² null, n<2 dropped") {
    import graft.pipeline.Analytics
    val series = Seq(
      ("line", 1, 3L), ("line", 2, 5L), ("line", 3, 7L),   // y = 2x+1
      ("hand", 1, 1L), ("hand", 2, 2L), ("hand", 3, 4L),
      ("flat", 1, 5L), ("flat", 2, 5L), ("flat", 3, 5L),
      ("solo", 1, 9L)
    ).toDF("k", "t", "v")
    val out = Analytics.olsTrend(series, "k", "t", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    assert(out("line") === ((3L, 2.0, 1.0, Some(1.0))))
    // n=3: num=9, dx=6 → slope 1.5; intercept −2/3; r² 81/84
    assert(out("hand") === ((3L, 1.5, -0.666667, Some(0.964286))))
    assert(out("flat") === ((3L, 0.0, 5.0, None)))
    assert(!out.contains("solo"))
  }

  test("acf: hand-computed lags, alternating series negative lag-1, constant null, lag >= n dropped") {
    import graft.pipeline.Analytics
    val series = Seq(
      ("ramp", 1, 1L), ("ramp", 2, 2L), ("ramp", 3, 3L),
      ("alt", 1, 1L), ("alt", 2, 2L), ("alt", 3, 1L), ("alt", 4, 2L),
      ("flat", 1, 5L), ("flat", 2, 5L), ("flat", 3, 5L), ("flat", 4, 5L)
    ).toDF("k", "t", "v")
    val out = Analytics.acf(series, "k", "t", "v", maxLag = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    // ramp 1,2,3: r1 = 0, r2 = -1/2; lag 3 has no pairs → dropped
    assert(out(("ramp", 1L)) === Some(0.0))
    assert(out(("ramp", 2L)) === Some(-0.5))
    assert(!out.contains(("ramp", 3L)))
    // alternating 1,2,1,2: r1 = -3/4 (anti-persistent)
    assert(out(("alt", 1L)) === Some(-0.75))
    // constant series: zero variance → null at every lag
    assert(out(("flat", 1L)) === None)
    assert(out(("flat", 2L)) === None)
  }

  test("burstiness: clockwork -1, hand-computed bursty, degenerate null, single-gap dropped") {
    import graft.pipeline.Analytics
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq(
      (1L, ts(0)), (1L, ts(100)), (1L, ts(200)), (1L, ts(300)), // equal gaps
      (2L, ts(0)), (2L, ts(1)), (2L, ts(2)), (2L, ts(12)),      // gaps 1,1,10
      (3L, ts(5)), (3L, ts(5)), (3L, ts(5)),                    // gaps 0,0 → σ+μ=0
      (4L, ts(0)), (4L, ts(9))                                  // one gap → dropped
    ).toDF("u", "t")
    val out = Analytics.burstiness(ev, "u", "t")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    assert(out(1L) === ((3L, 100.0, Some(-1.0)))) // σ=0: clockwork
    // μ=4, σ=√18: B = (√18−4)/(√18+4)
    assert(out(2L) === ((3L, 4.0, Some(0.029437))))
    assert(out(3L) === ((2L, 0.0, None))) // σ+μ=0 guard
    assert(!out.contains(4L))
  }

  test("growthAccounting: new/retained/resurrected/churned ledger, churn capped at last week, quick ratio") {
    import graft.pipeline.Analytics
    def ts(s: String) = java.sql.Timestamp.valueOf(s + " 12:00:00")
    val ev = Seq(
      (1L, ts("2024-01-01")), (1L, ts("2024-01-03")), // u1 W1 (two events, one week)
      (1L, ts("2024-01-08")),                         // u1 W2 retained
      (1L, ts("2024-01-22")),                         // u1 W4 resurrected
      (2L, ts("2024-01-02")),                         // u2 W1 only → churns W2
      (3L, ts("2024-01-15"))                          // u3 W3 new → churns W4
    ).toDF("u", "t")
    val out = Analytics.growthAccounting(ev, "u", "t")
      .collect().map(r => r.getTimestamp(0).toString.take(10) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          if (r.isNullAt(5)) None else Some(r.getDouble(5))))).toMap
    assert(out("2024-01-01") === ((2L, 0L, 0L, 0L, None))) // zero churn → null
    assert(out("2024-01-08") === ((0L, 1L, 0L, 1L, Some(0.0))))
    assert(out("2024-01-15") === ((1L, 0L, 0L, 1L, Some(1.0))))
    assert(out("2024-01-22") === ((0L, 0L, 1L, 1L, Some(1.0))))
    // u1's W4 exit is beyond the corpus' last week → no phantom W5 row
    assert(!out.contains("2024-01-29"))
  }

  test("debounce: gap measured from last SURVIVOR not last event, per-key reset, ts tie keeps lowest id") {
    import graft.operators.Recurrence
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq(
      (1L, 10L, ts(0)), (1L, 11L, ts(100)), (1L, 12L, ts(200)),
      (1L, 13L, ts(350)), (1L, 14L, ts(400)),
      (2L, 20L, ts(50)),                       // new key: first kept
      (3L, 6L, ts(0)), (3L, 5L, ts(0)),        // ts tie → lowest id
      (4L, 40L, ts(0)), (4L, 41L, ts(250)), (4L, 42L, ts(500))
    ).toDF("u", "id", "t")
    val kept = Recurrence.debounce(ev, "u", "id", "t", gapSeconds = 300L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // user 1: 0 kept; 100/200 inside gap; 350 kept (vs 0); 400 inside
    // user 4: 250 dropped, but 500 KEPT — 500−0 ≥ 300 measured from
    // the survivor; a lag()-based filter would drop it (500−250 < 300)
    assert(kept === Set((1L, 10L), (1L, 13L), (2L, 20L), (3L, 5L),
      (4L, 40L), (4L, 42L)))
  }

  test("revenueBridge: effects sum to delta, new/discontinued classify with null splits") {
    import graft.pipeline.Analytics
    val df = Seq(
      ("A", 0, 6.0, 60.0), ("A", 0, 4.0, 40.0), // q0 10, r0 100, p0 10
      ("A", 1, 12.0, 132.0),                    // q1 12, r1 132, p1 11
      ("N", 1, 5.0, 50.0),                      // period-1 only
      ("D", 0, 3.0, 30.0)                       // period-0 only
    ).toDF("g", "per", "q", "r")
    val out = Analytics.revenueBridge(df, "g", "per", "q", "r")
      .collect().map(r => r.getString(0) -> r).toMap
    val a = out("A")
    assert(a.getString(1) === "continuing")
    assert(a.getDouble(6) === 32.0) // delta_r
    assert(a.getDouble(7) === 20.0) // (12−10)·10
    assert(a.getDouble(8) === 10.0) // (11−10)·10
    assert(a.getDouble(9) === 2.0)  // cross
    assert(a.getDouble(7) + a.getDouble(8) + a.getDouble(9)
      === a.getDouble(6)) // the bridge identity
    val n = out("N")
    assert(n.getString(1) === "new" && n.getDouble(6) === 50.0)
    assert(n.isNullAt(7) && n.isNullAt(8) && n.isNullAt(9))
    val dd = out("D")
    assert(dd.getString(1) === "discontinued" && dd.getDouble(6) === -30.0)
    assert(dd.isNullAt(7))
  }

  test("m4Downsample: four extremes per bucket, coincident points collapse, value ties keep both endpoints") {
    import graft.pipeline.Analytics
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val series = Seq(
      ("k", ts(0), 5L), ("k", ts(10), 9L), ("k", ts(20), 1L),
      ("k", ts(30), 7L),              // bucket 0: all four distinct
      ("k", ts(110), 3L),             // bucket 1: single point → 1 row
      ("k", ts(210), 4L), ("k", ts(220), 4L) // bucket 2: value tie
    ).toDF("k", "t", "v")
    val out = Analytics.m4Downsample(series, "k", "t", "v",
        bucketSeconds = 100L)
      .collect()
      .map(r => (r.getLong(1), r.getTimestamp(2).getTime / 1000L,
        r.getLong(3))).toSet
    assert(out === Set(
      (0L, 0L, 5L), (0L, 10L, 9L), (0L, 20L, 1L), (0L, 30L, 7L),
      (1L, 110L, 3L),
      // min ties to the earliest ts, max to the latest → both survive
      (2L, 210L, 4L), (2L, 220L, 4L)))
  }

  test("forecastAccuracy: hand-computed scorecard, perfect-naive mase null, short series absent") {
    import graft.pipeline.Analytics
    val series = Seq(
      ("k", 1, 1L), ("k", 2, 2L), ("k", 3, 4L), ("k", 4, 3L), ("k", 5, 5L),
      ("z", 1, 5L), ("z", 2, 5L), ("z", 3, 5L), ("z", 4, 5L),
      ("s", 1, 1L), ("s", 2, 2L) // no row past the season → absent
    ).toDF("k", "t", "v")
    val out = Analytics.forecastAccuracy(series, "k", "t", "v", season = 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5),
          if (r.isNullAt(6)) None else Some(r.getDouble(6))))).toMap
    // naive errors 2,−1,2: mae 5/3, rmse √3, smape mean of rounded
    // terms (666667+285714+500000)/3e6, mase 5/5
    assert(out(("k", "naive")) ===
      ((3L, 1.666667, 1.732051, 0.484127, Some(1.0))))
    // seasonal errors 3,1,1: rmse √(11/3), smape (1200000+400000+222222)/3e6
    assert(out(("k", "seasonal_naive")) ===
      ((3L, 1.666667, 1.914854, 0.607407, Some(1.0))))
    // constant series: both models perfect → zero errors, MASE null
    assert(out(("z", "naive")) === ((2L, 0.0, 0.0, 0.0, None)))
    assert(out(("z", "seasonal_naive")) === ((2L, 0.0, 0.0, 0.0, None)))
    assert(!out.keySet.exists(_._1 == "s"))
  }

  test("markovAccuracy: modal successor per state, alphabetical tie-break, exact accuracy") {
    import graft.pipeline.Analytics
    val ev = Seq(
      (1L, 1L, 1, "a"), (1L, 2L, 2, "b"), (1L, 3L, 3, "a"), (1L, 4L, 4, "b"),
      (2L, 5L, 1, "a"), (2L, 6L, 2, "c"),
      (3L, 7L, 1, "c"), (3L, 8L, 2, "d"),
      (4L, 9L, 1, "c"), (4L, 10L, 2, "e")
    ).toDF("user_id", "event_id", "ts", "event_type")
    val out = Analytics.markovAccuracy(ev, "user_id", "event_type",
        "ts", "event_id")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out("a") === ((3L, "b", 2L, 0.666667))) // a→b 2, a→c 1
    assert(out("b") === ((1L, "a", 1L, 1.0)))
    assert(out("c") === ((2L, "d", 1L, 0.5)))      // d/e tie → d
    assert(!out.contains("d") && !out.contains("e")) // terminal states
  }

  test("kaplanMeier: censoring shrinks risk set without events, event-time rows only, per-key reset") {
    import graft.operators.Recurrence
    // key 1: durations (1 ev), (2 cens), (3 ev), (3 ev), (5 cens)
    // risk sets 5,4,3,1 → curve at event times: t=1 S=4/5, t=3 S=4/5·1/3
    // key 2: single immediate event → S = 0
    val subj = Seq((1L, 1L, 1L), (1L, 2L, 0L), (1L, 3L, 1L),
      (1L, 3L, 1L), (1L, 5L, 0L), (2L, 1L, 1L)).toDF("k", "dur", "ev")
    val out = Recurrence.kaplanMeier(subj, "k", "dur", "ev")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.keySet === Set((1L, 1L), (1L, 3L), (2L, 1L)))
    assert(out((1L, 1L)) === ((5L, 1L, 4.0 / 5.0)))
    assert(out((1L, 3L)) === ((3L, 2L, (4.0 / 5.0) * (1.0 / 3.0))))
    assert(out((2L, 1L)) === ((1L, 1L, 0.0)))
    // no-censoring sanity: KM reduces to the empirical survivor fn
    val plain = Seq((9L, 1L, 1L), (9L, 2L, 1L), (9L, 3L, 1L), (9L, 4L, 1L))
      .toDF("k", "dur", "ev")
    val p = Recurrence.kaplanMeier(plain, "k", "dur", "ev")
      .collect().map(r => r.getLong(1) -> r.getDouble(4)).toMap
    assert(p(1L) === 3.0 / 4.0)
    assert(math.abs(p(4L)) < 1e-15)
  }

  test("xyzClassification: integer class cuts incl. the exact CV=0.5 boundary, all-zero is X, per-period pre-sum") {
    import graft.pipeline.Analytics
    val rows = Seq(
      (1L, "p1", 10L), (1L, "p2", 10L), (1L, "p3", 10L), // σ=0 → X
      (2L, "p1", 1L), (2L, "p1", 3L), (2L, "p2", 6L),    // {4,6}: cv .2 → X
      (3L, "p1", 1L), (3L, "p2", 9L),                    // cv .8 → Y
      (4L, "p1", 0L), (4L, "p2", 10L),                   // cv 1.0 → Z (not <1)
      (5L, "p1", 0L), (5L, "p2", 0L),                    // all-zero → X, cv null
      (6L, "p1", 1L), (6L, "p2", 3L)                     // cv EXACTLY 0.5 → Y
    ).toDF("k", "p", "v")
    val out = Analytics.xyzClassification(rows, "k", "p", "v")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          r.getString(3)))).toMap
    assert(out(1L) === ((3L, Some(0.0), "X")))
    assert(out(2L) === ((2L, Some(0.2), "X"))) // rows pre-sum to {4, 6}
    assert(out(3L) === ((2L, Some(0.8), "Y")))
    assert(out(4L) === ((2L, Some(1.0), "Z")))
    assert(out(5L) === ((2L, None, "X")))
    assert(out(6L) === ((2L, Some(0.5), "Y")))
  }

  test("nelsonAalen: scaled d/n increments accumulate as integers, censoring shrinks risk set, per-key reset") {
    import graft.operators.Recurrence
    // same data as the KM spec: increments 1/5 then 2/3 → cum
    // 0.2, 0.2 + round6(2/3) = 0.866667; key 2 jumps straight to 1.0
    val subj = Seq((1L, 1L, 1L), (1L, 2L, 0L), (1L, 3L, 1L),
      (1L, 3L, 1L), (1L, 5L, 0L), (2L, 1L, 1L)).toDF("k", "dur", "ev")
    val out = Recurrence.nelsonAalen(subj, "k", "dur", "ev")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out.keySet === Set((1L, 1L), (1L, 3L), (2L, 1L)))
    assert(out((1L, 1L)) === ((5L, 1L, 0.2)))
    assert(out((1L, 3L)) === ((3L, 2L, 0.866667)))
    assert(out((2L, 1L)) === ((1L, 1L, 1.0)))
  }

  test("logRank: hand-computed risk grid and scaled E/V sums, identical groups z=0, empty group null") {
    import graft.operators.Recurrence
    // A: (1 ev) (3 ev) (5 cens); B: (1 ev) (2 cens) (4 ev)
    // event times 1/3/4 → e6 = 1000000+666667+500000, v6 =
    // 400000+222222+250000 (hypergeometric, hand-computed)
    val subj = Seq(("a", 1L, 1L), ("a", 3L, 1L), ("a", 5L, 0L),
      ("b", 1L, 1L), ("b", 2L, 0L), ("b", 4L, 1L)).toDF("g", "dur", "ev")
    val r = Recurrence.logRank(subj, "g", "dur", "ev", "a", "b").head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ===
      ((3L, 3L, 2L, 2L)))
    assert(r.getDouble(4) === 2.166667) // ΣE from the scaled terms
    val z = (2.0 - 2166667 / 1e6) / math.sqrt(872222 / 1e6)
    assert(r.getDouble(5) ===
      BigDecimal(z).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(r.getDouble(6) ===
      BigDecimal(z * z).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // identical groups: O = E at every time → z exactly 0
    val same = Seq(("a", 1L, 1L), ("a", 2L, 1L), ("a", 4L, 0L),
      ("b", 1L, 1L), ("b", 2L, 1L), ("b", 4L, 0L)).toDF("g", "dur", "ev")
    val s = Recurrence.logRank(same, "g", "dur", "ev", "a", "b").head()
    assert(s.getDouble(5) === 0.0 && s.getDouble(6) === 0.0)
    // one-sided population: zero variance → z/χ² null, counts intact
    val solo = Seq(("a", 1L, 1L), ("a", 2L, 1L)).toDF("g", "dur", "ev")
    val o = Recurrence.logRank(solo, "g", "dur", "ev", "a", "b").head()
    assert((o.getLong(0), o.getLong(1)) === ((2L, 0L)))
    assert(o.isNullAt(5) && o.isNullAt(6))
  }

  test("abcClassification: exact 80/95 boundaries, all-zero group classifies A, deterministic tie rank") {
    import graft.pipeline.Analytics
    // 80/15/4/1: cum shares exactly 0.80 (A), 0.95 (B), then C
    val rows = Seq(("g", 1L, 80L), ("g", 2L, 15L), ("g", 3L, 4L),
      ("g", 4L, 1L), ("z", 7L, 0L), ("z", 8L, 0L)).toDF("b", "k", "v")
    val out = Analytics.abcClassification(rows, "b", "k", "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(4), r.getString(5)))).toMap
    assert(out(("g", 1L)) === ((1L, 80L, "A")))   // exactly 80% → A
    assert(out(("g", 2L)) === ((2L, 95L, "B")))   // exactly 95% → B
    assert(out(("g", 3L)) === ((3L, 99L, "C")))
    assert(out(("g", 4L)) === ((4L, 100L, "C")))
    // all-zero group: 0 ≤ 0 → everything A, ties ranked by key
    assert(out(("z", 7L)) === ((1L, 0L, "A")))
    assert(out(("z", 8L)) === ((2L, 0L, "A")))
  }

  test("giniConcentration: equality 0, max concentration 1-1/n, zero-total null, tie-order invariant") {
    import graft.pipeline.Analytics
    val rows = Seq(
      ("eq", 1L, 5.0), ("eq", 2L, 5.0), ("eq", 3L, 5.0), ("eq", 4L, 5.0),
      ("whale", 1L, 0.0), ("whale", 2L, 0.0), ("whale", 3L, 0.0),
      ("whale", 4L, 4.0),
      ("zero", 1L, 0.0), ("zero", 2L, 0.0)
    ).toDF("g", "id", "v")
    val out = Analytics.giniConcentration(rows, "g", "id", "v")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out("eq") === ((4L, 20.0, Some(0.0))))
    assert(out("whale") === ((4L, 4.0, Some(0.75)))) // 1 - 1/n
    assert(out("zero") === ((2L, 0.0, None)))
    // tie-order invariance: permuting ids of equal values changes nothing
    val perm = rows.withColumn("id", lit(10L) - col("id"))
    val p = Analytics.giniConcentration(perm, "g", "id", "v")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(p("eq") === Some(0.0) && p("whale") === Some(0.75))
  }

  test("stlAnomaly: a spike against the seasonal shape is flagged; the shape itself is not") {
    import graft.pipeline.Analytics
    // alternating 10/20 season with ONE corrupted point (t=7: 100
    // where the shape says 10); a raw-value MAD screen would flag
    // every 20 — deseasonalized, only the spike stands out
    val vals = (1 to 16).map(t => (t, if (t == 7) 100L else if (t % 2 == 0) 20L else 10L))
    val series = vals.map { case (t, v) => ("a", t, v) }.toDF("k", "t", "v")
    val out = Analytics.stlAnomaly(series, "k", "t", "v",
        seasonCol = pmod(col("t"), lit(2)), halfWindow = 1)
      .collect().map(r => r.getInt(1) -> r.getBoolean(6)).toMap
    assert(out.keySet === (2 to 15).toSet)        // interior only
    assert(out(7), "the injected spike must be flagged")
    // the periodic 20s are the SHAPE, not anomalies
    assert(Seq(2, 4, 12, 14).forall(t => !out(t)))
    // only the spike's neighborhood may trip (its trend bleed)
    assert(out.count(_._2) <= 3)
  }

  test("skyline2d: frontier kept, equal-coordinate dupes tie-survive, dominated-at-equal-x dropped; ≡ brute force") {
    import graft.pipeline.Analytics
    val pts = Seq((5, 1), (4, 2), (3, 3), (4, 1), (2, 3), (3, 3), (1, 1), (5, 0))
      .zipWithIndex.map { case ((x, y), i) => (i.toLong, x, y) }
    val df = pts.toDF("id", "x", "y")
    val got = Analytics.skyline2d(df, "x", "y")
      .collect().map(_.getLong(0)).toSet
    // brute force dominance
    val expected = pts.filter { case (_, x, y) =>
      !pts.exists { case (_, x2, y2) =>
        x2 >= x && y2 >= y && (x2 > x || y2 > y) }
    }.map(_._1).toSet
    assert(got === expected)
    // (5,1),(4,2) and BOTH (3,3) dupes survive; (4,1),(2,3),(1,1),(5,0) dominated
    assert(got === Set(0L, 1L, 2L, 5L))
  }

  test("linkPredict: diagonal of a square predicted, adjacent pairs excluded, topK ranks deterministically") {
    // square 1-2-3-4 plus diagonal 1-3 (duplicate reversed edge too):
    // only (2,4) is non-adjacent with common neighbors {1,3} — full
    // Jaccard 2/(2+2-2) = 1.0
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("x", "y")
    val out = Graph.linkPredict(edges, "x", "y", topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4)))
    assert(out.toList === List((2L, 4L, 2L, 1.0, 1)))
    // star 0-{1,2,3}: every leaf pair scores 1/(1+1-1)=1.0; topK=2
    // cuts by (score, u, v)
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("x", "y")
    val top2 = Graph.linkPredict(star, "x", "y", topK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(4))).toList
    assert(top2 === List((1L, 2L, 1), (1L, 3L, 2)))
    // minCommon above the max shared count empties the prediction
    assert(Graph.linkPredict(star, "x", "y", topK = 5, minCommon = 2)
      .count() === 0L)
    Par.release()
  }

  test("centroidShift: n-cancelling cosine to the global centroid, norms, hand-computed axes") {
    import graft.operators.Similarity
    val emb = Seq(
      (1, Array(1.0f, 0.0f)), (1, Array(1.0f, 0.0f)), // A on the x axis
      (2, Array(0.0f, 1.0f)),                         // B on the y axis
      (3, Array(0.5f, 0.5f))                          // diagonal
    ).toDF("label", "embedding")
    val out = Similarity.centroidShift(emb, "label", "embedding")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // global scaled sums: (2.5e6, 1.5e6)
    assert(out(1)._1 === 2L)
    assert(out(1)._2 === 1.0) // unit centroid
    // cos(A, G) = 2.5/√(1·8.5) — A sums (2e6,0), G (2.5e6,1.5e6):
    // dot 5e12, |A| 2e6, |G| √8.5e6 → 5/(2·2.915476) = 0.857493
    assert(out(1)._3 === 0.857493)
    assert(out(2) === ((1L, 1.0, 0.514496)))  // 1.5/√8.5
    assert(out(3) === ((1L, 0.707107, 0.970143))) // 2/(√.5·√8.5)
    Par.release()
  }

  test("repurchaseCycle: per-customer gap recurrence, first order contributes nothing, same-day tie gap 0") {
    import graft.pipeline.Analytics
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      (1L, 10L, t("2024-01-01")), (1L, 11L, t("2024-01-04")), // gap 3
      (1L, 12L, t("2024-01-14")),                             // gap 10
      (2L, 20L, t("2024-01-01")), (2L, 21L, t("2024-01-01")), // same day: 0
      (3L, 30L, t("2024-01-05"))                              // single: none
    ).toDF("o_custkey", "o_orderkey", "o_orderdate")
    val cust = Seq((1L, "AUTO"), (2L, "AUTO"), (3L, "AUTO"))
      .toDF("c_custkey", "c_mktsegment")
    val r = Analytics.repurchaseCycle(orders, cust).head()
    // gaps {3, 10, 0}: mean 13/3, p50 = 3, p90 interpolates 3+0.8·7
    assert(r.getLong(1) === 3L)
    assert(r.getDouble(2) === 4.333333)
    assert(r.getDouble(3) === 3.0)
    assert(r.getDouble(4) === 8.6)
  }

  test("shareOfParent: leaf/parent/global shares, pre-aggregation of duplicate leaves") {
    import graft.pipeline.Analytics
    val rows = Seq(("R1", "N1", 10.0), ("R1", "N1", 20.0),
      ("R1", "N2", 30.0), ("R2", "N3", 40.0)).toDF("r", "n", "v")
    val out = Analytics.shareOfParent(rows, "r", "n", "v")
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        ((x.getDouble(2), x.getDouble(3), x.getDouble(4)))).toMap
    assert(out(("R1", "N1")) === ((30.0, 0.5, 0.6)))
    assert(out(("R1", "N2")) === ((30.0, 0.5, 0.6)))
    assert(out(("R2", "N3")) === ((40.0, 1.0, 0.4)))
  }

  test("newVsReturning: first-month customers are new, later months returning, share rounded") {
    import graft.pipeline.Analytics
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      (1L, t("1970-01-05"), 10.0), (1L, t("1970-01-20"), 5.0),
      (1L, t("1970-02-10"), 20.0), // cust 1 returns in Feb
      (2L, t("1970-02-15"), 7.0)   // cust 2 is new in Feb
    ).toDF("c", "ts", "amt")
    val out = Analytics.newVsReturning(orders, "c", "ts", "amt")
      .collect().map(r => r.getTimestamp(0).toString.take(7) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3), r.getLong(4),
          r.getDouble(5)))).toMap
    assert(out("1970-01") === ((15.0, 0.0, 1L, 0L, 1.0)))
    assert(out("1970-02") === ((7.0, 20.0, 1L, 1L, 0.259259))) // 7/27
  }

  test("cycleSla: integer day gaps, interpolated p90, SLA breach share, singleton class") {
    import graft.pipeline.Analytics
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val df = Seq(
      ("U", t("2024-01-01"), t("2024-01-03")),  // 2d
      ("U", t("2024-01-01"), t("2024-01-05")),  // 4d
      ("U", t("2024-01-01"), t("2024-01-11")),  // 10d → breaches sla 9
      ("H", t("2024-01-01"), t("2024-01-06"))   // 5d
    ).toDF("cls", "st", "en")
    val out = Analytics.cycleSla(df, "cls", "st", "en", slaDays = 9)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    // days {2,4,10}: p90 interpolates 4 + 0.8·6 = 8.8
    assert(out("U") === ((3L, 0.333333, 5.333333, 4.0, 8.8)))
    assert(out("H") === ((1L, 0.0, 5.0, 5.0, 5.0)))
  }

  test("priceElasticity: perfect -2 power law, constant price null, short series dropped") {
    import graft.pipeline.Analytics
    def t(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    // brand B: q = 16·p^-2 across p = 1, 2, 4 (unit price = r/q)
    val li = Seq(
      (10L, t("2024-01-05"), 16.0, 16.0),
      (10L, t("2024-02-05"), 4.0, 8.0),
      (10L, t("2024-03-05"), 1.0, 4.0),
      // brand C: constant price → zero x-variance → nulls
      (20L, t("2024-01-05"), 5.0, 10.0),
      (20L, t("2024-02-05"), 7.0, 14.0),
      (20L, t("2024-03-05"), 9.0, 18.0),
      // brand D: two months only → dropped
      (30L, t("2024-01-05"), 5.0, 10.0), (30L, t("2024-02-05"), 6.0, 18.0)
    ).toDF("l_partkey", "l_shipdate", "l_quantity", "l_extendedprice")
    val part = Seq((10L, "B"), (20L, "C"), (30L, "D"))
      .toDF("p_partkey", "p_brand")
    val out = Analytics.priceElasticity(li, part)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out.keySet === Set("B", "C"))
    // the r6-scaled lns are off-collinear by one µ-unit (ln2 rounds
    // down, ln16 rounds up) — the graded statistic is −2.000001
    assert(out("B") === ((3L, Some(-2.000001), Some(1.0))))
    assert(out("C") === ((3L, None, None)))
  }

  test("basketCosine: affinity outranks bestseller incidence, hand-computed scores, rank after cut") {
    import graft.pipeline.Analytics
    // orders: {1,2} twice, {1,3}, {3,4} → freq 1:3 2:2 3:2 4:1
    val li = Seq((1L, 1L), (1L, 2L), (2L, 1L), (2L, 2L),
      (3L, 1L), (3L, 3L), (4L, 3L), (4L, 4L))
      .toDF("l_orderkey", "l_partkey")
    val out = Analytics.basketCosine(li, minCount = 1L, topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getInt(4)))).toMap
    assert(out((1L, 2L)) === ((2L, 0.816497, 1))) // 2/√(3·2)
    // same raw count, but the niche pair outranks the bestseller one
    assert(out((3L, 4L)) === ((1L, 0.707107, 2))) // 1/√(2·1)
    assert(out((1L, 3L)) === ((1L, 0.408248, 3))) // 1/√(3·2)
    Par.release()
  }

  test("ssspWeighted: cheap two-hop beats expensive direct edge, reversed-dup keeps min weight, unreached absent") {
    def seeds(ids: Long*) = ids.toDF("n")
    // 1-2 (5), 2-3 (5), 1-3 (20): the direct edge loses to the path
    val g = Seq((1L, 2L, 5L), (2L, 3L, 5L), (1L, 3L, 20L),
      (8L, 9L, 1L)).toDF("x", "y", "w")
    val out = Graph.ssspWeighted(g, "x", "y", "w", seeds(1L), "n",
        rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 0L, 2L -> 5L, 3L -> 10L)) // 8,9 unreached
    // reversed duplicate keeps the MIN weight
    val dup = Seq((1L, 2L, 5L), (2L, 1L, 3L), (2L, 3L, 5L))
      .toDF("x", "y", "w")
    val d2 = Graph.ssspWeighted(dup, "x", "y", "w", seeds(1L), "n",
        rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d2 === Map(1L -> 0L, 2L -> 3L, 3L -> 8L))
    Par.release()
  }

  test("hitsFixedPoint: mutual reinforcement ranks, max-normalized tops at Scale, symmetric tie, bit-identical reruns") {
    // customers 1,2,3 all buy part 10; customer 1 also buys the
    // niche part 11 → 1 is the best hub, 10 the best authority,
    // 2 and 3 symmetric (exact tie), 11 strictly weaker than 10
    val ed = Seq((1L, 10L), (2L, 10L), (3L, 10L), (1L, 11L))
      .toDF("c", "p")
    val out = Graph.hitsFixedPoint(ed, "c", "p", iterations = 8, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getInt(3)))).toMap
    assert(out(("hub", 1L)) === ((1000000L, 1)))
    assert(out(("authority", 10L)) === ((1000000L, 1)))
    val (s2, r2) = out(("hub", 2L)); val (s3, r3) = out(("hub", 3L))
    assert(s2 === s3 && s2 < 1000000L) // exact integer tie
    assert((r2, r3) === ((2, 3)))      // tie ranks break on node
    assert(out(("authority", 11L))._1 < 1000000L)
    // order-free integer arithmetic: reruns are bit-identical
    val again = Graph.hitsFixedPoint(ed, "c", "p", iterations = 8, topK = 10)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getInt(3)))).toMap
    assert(again === out)
    Par.release()
  }

  test("adamicAdar: hand-computed 1/ln(deg) sum, rare neighbor outranks hub, adjacency excluded") {
    // square 1-2-3-4 + diagonal 1-3: only (2,4) is predictable,
    // common {1,3} both degree 3 → 2·round6(1/ln 3) = 1.820478
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L))
      .toDF("x", "y")
    val out = Graph.adamicAdar(edges, "x", "y", topK = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getInt(4)))
    assert(out.toList === List((2L, 4L, 2L, 1.820478, 1)))
    // the rarity property Jaccard cannot see: (3,4) share a degree-2
    // neighbor (1/ln 2 = 1.442695) and outrank every hub-leaf pair
    // sharing only the degree-4 hub (1/ln 4 = 0.721348)
    val g = Seq((10L, 1L), (10L, 2L), (10L, 5L), (10L, 6L),
      (20L, 3L), (20L, 4L)).toDF("x", "y")
    val top = Graph.adamicAdar(g, "x", "y", topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3),
        r.getInt(4))).toList
    assert(top === List((3L, 4L, 1.442695, 1), (1L, 2L, 0.721348, 2),
      (1L, 5L, 0.721348, 3)))
    Par.release()
  }

  test("adamicAdar: a sort-merge plan never evaluates a leaf center's 1/ln 1") {
    // without broadcast joins the degree term is computed on adjacency
    // rows before the wedge filter drops leaf centers; the session is
    // the test's own, so the shared one keeps its threshold
    val own = spark.newSession()
    own.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val g = own.createDataFrame(Seq((10L, 1L), (10L, 2L), (10L, 5L), (10L, 6L),
      (20L, 3L), (20L, 4L))).toDF("x", "y")
    val top = Graph.adamicAdar(g, "x", "y", topK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3),
        r.getInt(4))).toList
    assert(top === List((3L, 4L, 1.442695, 1), (1L, 2L, 0.721348, 2),
      (1L, 5L, 0.721348, 3)))
    Par.release()
  }
}
