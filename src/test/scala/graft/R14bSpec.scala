package graft

import graft.operators.Quality
import graft.pipeline.Analytics
import org.apache.spark.sql.functions._

/** r14 session-2 operator specs: delta-method ratio A/B and the
  * lagged cross-correlation function. */
class R14bSpec extends SparkSuite {
  import spark.implicits._

  test("ratioDelta: hand-computed two-group fixture") {
    // A units: u1 = (x 10, y 2), u2 = (20, 3); B: u3 = (5, 1), u4 = (15, 4)
    val rows = Seq(
      ("t", 1L, "A", 4.0), ("t", 1L, "A", 6.0),
      ("t", 2L, "A", 5.0), ("t", 2L, "A", 5.0), ("t", 2L, "A", 10.0),
      ("t", 3L, "B", 5.0),
      ("t", 4L, "B", 3.0), ("t", 4L, "B", 4.0), ("t", 4L, "B", 4.0),
      ("t", 4L, "B", 4.0))
      .toDF("k", "unit", "grp", "v")
    val r = Quality.ratioDelta(rows, "k", "unit", "grp", "v", "A", "B")
      .collect()(0)
    // ra = 30/5 = 6, rb = 20/5 = 4
    // va = (50 − 2·6·5 + 36·0.5)/(2·2.5²) = 8/12.5 = 0.64
    // vb = (50 − 2·4·15 + 16·4.5)/(2·2.5²) = 2/12.5 = 0.16
    assert(r.getAs[Long]("n_a") === 2L && r.getAs[Long]("n_b") === 2L)
    assert(r.getAs[Double]("ratio_a") === 6.0)
    assert(r.getAs[Double]("ratio_b") === 4.0)
    assert(r.getAs[Double]("diff") === 2.0)
    assert(math.abs(r.getAs[Double]("se") - 0.894427) < 1e-6)
    assert(math.abs(r.getAs[Double]("z") - 2.236068) < 1e-6)
  }

  test("ratioDelta: the naive per-event view would miss unit correlation") {
    // same per-event means but all of B's volume concentrated in one
    // unit: a per-event t-test sees identical data; the delta method
    // must see ONE effective unit on the B side and drop the key
    // (n_b = 1 < 2)
    val rows = Seq(
      ("t", 1L, "A", 1.0), ("t", 2L, "A", 2.0),
      ("t", 3L, "B", 1.0), ("t", 3L, "B", 2.0))
      .toDF("k", "unit", "grp", "v")
    assert(Quality.ratioDelta(rows, "k", "unit", "grp", "v", "A", "B")
      .count() === 0L)
  }

  test("ratioDelta: zero variance → se 0, z null") {
    val rows = Seq(
      ("t", 1L, "A", 10.0), ("t", 1L, "A", 0.0),
      ("t", 2L, "A", 10.0), ("t", 2L, "A", 0.0),
      ("t", 3L, "B", 10.0), ("t", 3L, "B", 0.0),
      ("t", 4L, "B", 10.0), ("t", 4L, "B", 0.0))
      .toDF("k", "unit", "grp", "v")
    val r = Quality.ratioDelta(rows, "k", "unit", "grp", "v", "A", "B")
      .collect()(0)
    assert(r.getAs[Double]("se") === 0.0)
    assert(r.isNullAt(r.fieldIndex("z")))
  }

  private def ev(hour: Int, tpe: String, n: Int) =
    (1 to n).map(_ => (f"2024-01-01 $hour%02d:30:00", tpe))

  test("crossCorrelation: shifted impulse peaks at the true lag") {
    // x = [2,1,0,1] (views, hours 0..3); y = x shifted by 2 → [0,0,2,1]
    val rows = (ev(0, "view", 2) ++ ev(1, "view", 1) ++ ev(3, "view", 1) ++
      ev(2, "purchase", 2) ++ ev(3, "purchase", 1))
      .toDF("t", "event_type")
      .select(to_timestamp(col("t")).as("ts"), col("event_type"))
    val r = Analytics.crossCorrelation(rows, "ts", "event_type",
        "view", "purchase", maxLag = 3)
      .collect().map(x => x.getLong(0) -> x).toMap
    // lag 2 pairs: (2,2),(1,1) → perfect correlation
    assert(r(2L).getAs[Double]("r") === 1.0)
    assert(r(2L).getAs[Long]("n") === 2L)
    // lag 0 pairs: (2,0),(1,0),(0,2),(1,1) → r = −8/√88
    assert(math.abs(r(0L).getAs[Double]("r") - (-0.852803)) < 1e-6)
    assert(r(0L).getAs[Long]("n") === 4L)
  }

  test("crossCorrelation: an empty hour gap-fills as a REAL zero") {
    // hour 1 has no events of either type; without the spine the
    // lag-0 pairs would collapse to (1,1),(1,1) (zero variance, null)
    val rows = (ev(0, "view", 1) ++ ev(2, "view", 1) ++
      ev(0, "purchase", 1) ++ ev(2, "purchase", 1))
      .toDF("t", "event_type")
      .select(to_timestamp(col("t")).as("ts"), col("event_type"))
    val r = Analytics.crossCorrelation(rows, "ts", "event_type",
        "view", "purchase", maxLag = 1)
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(0L).getAs[Long]("n") === 3L)
    assert(r(0L).getAs[Double]("r") === 1.0)
  }

  test("powerlawFit: hand-computed star fixture") {
    // star K1,5: hub degree 5, five leaves degree 1 → with dMin 2 the
    // tail is just the hub: alpha = 1 + 1/ln(5/1.5) = 1.830584
    val edges = (1 to 5).map(i => (0L, i.toLong)).toDF("a", "b")
    val r = graft.operators.Graph.powerlawFit(edges, "a", "b", dMin = 2L)
      .collect()(0)
    assert(r.getAs[Long]("n_nodes") === 6L)
    assert(r.getAs[Long]("n_tail") === 1L)
    assert(r.getAs[Long]("d_min") === 2L)
    assert(math.abs(r.getAs[Double]("alpha")
      - (1.0 + 1.0 / math.log(5.0 / 1.5))) < 1e-5)
  }

  test("powerlawFit: empty tail emits no row; dMin guard") {
    // a single edge: both degrees 1 < dMin → no row
    val edges = Seq((1L, 2L)).toDF("a", "b")
    assert(graft.operators.Graph.powerlawFit(edges, "a", "b").count() === 0L)
    intercept[IllegalArgumentException] {
      graft.operators.Graph.powerlawFit(edges, "a", "b", dMin = 1L)
    }
  }

  test("versioned read with mergeSchema widens and null-fills") {
    import graft.sources.Versioned
    val dst = tmpDir("graft_vse_spec") + "/t"
    Versioned.commit(Seq((1L, 10.0)).toDF("k", "v"), dst)
    Versioned.commit(Seq((2L, 20.0, "x")).toDF("k", "v", "tag"), dst)
    // head merged: old row null-fills tag
    val head = Versioned.read(spark, dst)
      .orderBy(col("k")).collect()
    assert(head.length === 2)
    assert(head(0).getLong(0) === 1L && head(0).isNullAt(2))
    assert(head(1).getAs[String]("tag") === "x")
    // time travel keeps the narrow schema
    assert(Versioned.read(spark, dst, Some(1))
      .columns.toSeq === Seq("k", "v"))
  }

  test("joinCardinality: hand-computed fanout fixture with null keys") {
    val l = Seq(Some(1L), Some(1L), Some(2L), Some(3L), None)
      .toDF("k")
    val r = Seq(Some(1L), Some(1L), Some(1L), Some(2L), None, None)
      .toDF("c_k")
    val row = graft.operators.Quality.joinCardinality(l, "k", r, "c_k")
      .collect()(0)
    // join rows: key 1 → 2·3 = 6, key 2 → 1·1 = 1; key 3 unmatched
    assert(row.getAs[Long]("n_left") === 5L)
    assert(row.getAs[Long]("n_right") === 6L)
    assert(row.getAs[Long]("n_null_left") === 1L)
    assert(row.getAs[Long]("n_null_right") === 2L)
    assert(row.getAs[Long]("d_left") === 3L)
    assert(row.getAs[Long]("d_right") === 2L)
    assert(row.getAs[Long]("d_common") === 2L)
    assert(row.getAs[Long]("est_rows") === 7L)
    assert(row.getAs[Long]("max_key_fanout") === 6L)
    // the identity: est_rows equals the definitional join count
    assert(l.join(r, l("k") === r("c_k")).count() === 7L)
  }

  test("joinCardinality: disjoint keys → zero estimate") {
    val l = Seq(1L, 2L).toDF("k")
    val r = Seq(3L, 4L).toDF("c_k")
    val row = graft.operators.Quality.joinCardinality(l, "k", r, "c_k")
      .collect()(0)
    assert(row.getAs[Long]("est_rows") === 0L)
    assert(row.getAs[Long]("max_key_fanout") === 0L)
    assert(row.getAs[Long]("d_common") === 0L)
  }

  test("doc_line_dedup key semantics: keep-first order on a known doc") {
    // drive the graded key's HOF directly on a crafted frame
    val df = Seq((1L, "a. b. a. c"))
      .toDF("doc_id", "text")
      .withColumn("synth",
        expr("replace(text, '. ', concat('.', chr(10)))"))
      .withColumn("out", expr(
        """array_join(aggregate(split(synth, '\n'),
             cast(array() as array<string>),
             (acc, x) -> case when array_contains(acc, x) then acc
               else array_append(acc, x) end), '\n')"""))
    assert(df.collect()(0).getAs[String]("out") === "a.\nb.\nc")
  }

  test("doc_c4_line_clean key semantics: each rule edge") {
    val lines = Seq(
      "this line has five words.",   // kept
      "too short.",                  // < 3 words → dropped
      "no terminal punctuation here", // dropped
      "he said \"stop right there\"", // quote-terminal → kept
      "",                            // empty → dropped
      "is this a question?").mkString("\n") // kept
    val kept = Seq((1L, lines)).toDF("doc_id", "synth")
      .select(expr(
        """filter(split(synth, '\n'),
             x -> trim(x) rlike '[.!?"]$'
               and size(split(trim(x), '\\s+')) >= 3)""").as("k"))
      .collect()(0).getSeq[String](0)
    assert(kept === Seq("this line has five words.",
      "he said \"stop right there\"", "is this a question?"))
  }

  test("mergeTimestamp: strictly-newer versions only (replay-safe)") {
    import graft.operators.Scd2
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val t0 = ts("2024-01-01 00:00:00"); val t1 = ts("2024-01-02 00:00:00")
    val t2 = ts("2024-01-03 00:00:00"); val asOf = ts("2024-01-04 00:00:00")
    val hist = Seq(
      (1L, "a", t1, t0, Option.empty[java.sql.Timestamp]),
      (2L, "b", t1, t0, Option.empty[java.sql.Timestamp]),
      (3L, "c", t1, t0, Option.empty[java.sql.Timestamp]))
      .toDF("k", "v", "u", "valid_from", "valid_to")
    val ex = Seq(
      (1L, "a2", t2),  // strictly newer → versioned
      (2L, "b2", t0),  // REPLAYED older extract → must not re-open
      (3L, "c2", t1),  // equal timestamp → not strictly newer → no-op
      (4L, "d", t2))   // new key → insert
      .toDF("k", "v", "u")
    val out = Scd2.mergeTimestamp(hist, ex, Seq("k"), "u", lit(asOf))
      .orderBy(col("k"), col("valid_from")).collect()
    assert(out.length === 5)
    // key 1: closed old + opened new
    assert(out(0).getAs[String]("v") === "a"
      && out(0).getAs[java.sql.Timestamp]("valid_to") === asOf)
    assert(out(1).getAs[String]("v") === "a2"
      && out(1).isNullAt(out(1).fieldIndex("valid_to")))
    // keys 2 and 3: untouched current rows, ORIGINAL attributes
    assert(out(2).getAs[String]("v") === "b"
      && out(2).isNullAt(out(2).fieldIndex("valid_to")))
    assert(out(3).getAs[String]("v") === "c"
      && out(3).isNullAt(out(3).fieldIndex("valid_to")))
    // key 4: fresh insert
    assert(out(4).getAs[String]("v") === "d"
      && out(4).getAs[java.sql.Timestamp]("valid_from") === asOf)
  }

  test("nfc: decomposed composes, NFC text passes through, null-safe") {
    import graft.functions.Unicode
    val df = Seq(
      (1L, Some("café")),       // decomposed e + combining acute
      (2L, Some("café")),        // already precomposed
      (3L, Some("plain ascii")),
      (4L, Option.empty[String]))
      .toDF("id", "t")
      .select(col("id"), Unicode.nfc(col("t")).as("n"))
      .orderBy(col("id")).collect()
    assert(df(0).getString(1) === "café")
    assert(df(1).getString(1) === "café")
    assert(df(2).getString(1) === "plain ascii")
    assert(df(3).isNullAt(1))
  }

  test("proximitySearch: window boundary, order, same-term, straddle") {
    import graft.operators.Search
    // tokens: a(1) table(2) x(3) y(4) scan(5) table(6) b(7) scan(8)
    val idx = Search.positionalFrame(
      Seq((1L, "a table x y scan table b scan")).toDF("doc_id", "text"),
      "doc_id", "text")
    // window 3: (2,5) diff 3 kept (<= is inclusive; ALSO the
    // bucket-straddle case: buckets 0 vs 1), (6,8) diff 2 kept,
    // (2,8) diff 6 dropped; scan-before-table never counts
    val r = Search.proximitySearch(idx, "table", "scan", window = 3L)
      .collect()(0)
    assert(r.getAs[Long]("n_matches") === 2L)
    assert(r.getAs[Long]("first_pos") === 2L)
    // same-term proximity: table(2) .. table(6), diff exactly 4
    val s4 = Search.proximitySearch(idx, "table", "table", window = 4L)
      .collect()(0)
    assert(s4.getAs[Long]("n_matches") === 1L)
    // window 3 excludes the same pair
    assert(Search.proximitySearch(idx, "table", "table", window = 3L)
      .count() === 0L)
  }

  test("histogram fold ≡ full recompute (incl. null keys)") {
    import graft.operators.Quality
    val full = Seq(Some(1L), Some(1L), Some(2L), None, Some(3L))
      .toDF("k")
    val a = full.limit(2)
    val b = full.exceptAll(a)
    val folded = Quality.histogramMerge(
      Quality.keyHistogram(a, "k"), Quality.keyHistogram(b, "k"))
    val direct = Quality.keyHistogram(full, "k")
    assert(folded.exceptAll(direct).count() === 0L)
    assert(direct.exceptAll(folded).count() === 0L)
    // and the estimator answers identically from either form
    val rh = Quality.keyHistogram(Seq(1L, 1L, 2L).toDF("c"), "c")
    val viaFold = Quality.joinCardinalityFromHistograms(folded, rh)
      .collect()(0)
    val viaFull = Quality.joinCardinality(full, "k",
      Seq(1L, 1L, 2L).toDF("c"), "c").collect()(0)
    assert(viaFold.toSeq === viaFull.toSeq)
  }

  test("versioned prunedRead: skips files, pins stats per version") {
    import graft.sources.Versioned
    val dst = tmpDir("graft_vpr_spec") + "/t"
    val v1rows = spark.range(0, 800).select(col("id").as("k"),
      (col("id") * 2).as("v"))
    Versioned.commit(v1rows.repartitionByRange(8, col("k"))
      .sortWithinPartitions(col("k")), dst)
    val nFiles = Versioned.writeStats(spark, dst, Seq("k"))
    assert(nFiles >= 8)
    val pruned = Versioned.prunedRead(spark, dst, "k", 10L, 20L)
    // correctness: ≡ the plain filter
    assert(pruned.count() === 11L)
    // the skip is real: a narrow range opens a strict subset of files
    assert(pruned.inputFiles.length < nFiles)
    // stats pin to the version: v2 replaces with a DISJOINT domain,
    // but a v1 pruned read still answers from v1's rows and stats
    Versioned.commit(spark.range(10000, 10800).select(col("id").as("k"),
      (col("id") * 2).as("v")), dst, replace = true)
    Versioned.writeStats(spark, dst, Seq("k"))
    assert(Versioned.prunedRead(spark, dst, "k", 10L, 20L,
      version = Some(1)).count() === 11L)
    assert(Versioned.prunedRead(spark, dst, "k", 10L, 20L).count() === 0L)
    // missing manifest is an explicit error, not a silent full scan
    val bare = tmpDir("graft_vpr_bare") + "/t"
    Versioned.commit(v1rows, bare)
    intercept[IllegalArgumentException] {
      Versioned.prunedRead(spark, bare, "k", 0L, 1L)
    }
  }

  test("modularity: two disjoint triangles Q = 0.5; one blob Q = 0") {
    import graft.operators.Graph
    val tri2 = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L)).toDF("a", "b")
    val labs = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (4L, 20L), (5L, 20L), (6L, 20L)).toDF("node", "label")
    val r = Graph.modularity(tri2, "a", "b", labs)
      .orderBy(col("label")).collect()
    // each community: e_c = 3, d_c = 6, m = 6 → 0.5 − 0.25 = 0.25
    assert(r.map(_.getAs[Double]("contribution")).toSeq === Seq(0.25, 0.25))
    assert(r.map(_.getAs[Long]("internal_edges")).toSeq === Seq(3L, 3L))
    assert(r.map(_.getAs[Long]("degree_sum")).toSeq === Seq(6L, 6L))
    // one blob: Q = e/m − (2m/2m)² = 1 − 1 = 0
    val blob = labs.select(col("node"), lit(1L).as("label"))
    val q0 = Graph.modularity(tri2, "a", "b", blob).collect()(0)
    assert(q0.getAs[Double]("contribution") === 0.0)
  }

  test("crossCorrelation: constant series → null r") {
    val rows = (ev(0, "view", 1) ++ ev(1, "view", 1) ++
      ev(0, "purchase", 2) ++ ev(1, "purchase", 1))
      .toDF("t", "event_type")
      .select(to_timestamp(col("t")).as("ts"), col("event_type"))
    val r = Analytics.crossCorrelation(rows, "ts", "event_type",
        "view", "purchase", maxLag = 0).collect()(0)
    assert(r.isNullAt(r.fieldIndex("r")))
  }
}
