package graft

import graft.operators._
import graft.pipeline.{Analytics, Dag, DayReplay, IncrementalModel, Models, Schedule}
import graft.sources.SchemaEvolution
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.EntryHelpers._

/** Query-registry shard 1/5 — split out of the 11k-line
  * SparkEntry (r11 verdict ask #8). Entries are VERBATIM (wave order
  * preserved); [[SparkEntry.queries]] composes the shards. */
private[graft] object QueriesShard1 {
  val m: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- analytics (§2.4) ----
    "q1_pricing_summary" -> ((s, d) => Analytics.q1PricingSummary(s, d)),
    "q3_shipping_priority" -> ((s, d) => Analytics.q3ShippingPriority(s, d)),
    "q5_regional_revenue" -> ((s, d) => Analytics.q5RegionalRevenue(s, d)),
    "q10_returned_revenue" -> ((s, d) => Analytics.q10ReturnedRevenue(s, d)),
    "q14_promo_share" -> ((s, d) => Analytics.q14PromoShare(s, d)),
    "top_orders_per_cust" -> ((s, d) => Analytics.topOrdersPerCust(s, d)),
    "events_hourly" -> ((s, d) => Analytics.eventsHourly(s, d)),
    "q4_returned_priority" -> ((s, d) => Analytics.q4ReturnedByPriority(s, d)),
    "q21_waiting_supplier" -> ((s, d) => Analytics.q21WaitingSupplier(s, d)),
    // r8 wave 3: the remaining TPC-H shapes (adapted where the schema
    // lacks partsupp/commitdate — each adaptation is stated in the
    // operator's doc and replayed verbatim by its oracle)
    "q6_forecast_revenue" -> ((s, d) => Analytics.q6ForecastRevenue(s, d)),
    "q7_volume_shipping" -> ((s, d) => Analytics.q7VolumeShipping(s, d)),
    "q8_market_share" -> ((s, d) => Analytics.q8MarketShare(s, d)),
    "q9_product_profit" -> ((s, d) => Analytics.q9ProductProfit(s, d)),
    "q11_important_parts" -> ((s, d) => Analytics.q11ImportantParts(s, d)),
    "q12_late_priority" -> ((s, d) => Analytics.q12LateByPriority(s, d)),
    "q15_top_supplier" -> ((s, d) => Analytics.q15TopSupplier(s, d)),
    "q16_supplier_counts" -> ((s, d) => Analytics.q16SupplierCounts(s, d)),
    "q17_small_qty_revenue" -> ((s, d) => Analytics.q17SmallQtyRevenue(s, d)),
    "q19_banded_revenue" -> ((s, d) => Analytics.q19BandedRevenue(s, d)),
    "q20_excess_shippers" -> ((s, d) => Analytics.q20ExcessShippers(s, d)),
    "q2_min_cost_supplier" -> ((s, d) => Analytics.q2MinCostSupplier(s, d)),
    // bloom semi-join reduction (r8 wave 3): the fact is pruned at
    // the scan side of the shuffle by a broadcast 1-row sketch of the
    // filtered dim keys; the oracle is the PLAIN join — the bloom is
    // semantically transparent (no false negatives)
    // r8 wave 3: grouping-sets/time-series/segment analytics staples
    "cube_revenue" -> ((s, d) => Analytics.cubeRevenue(s, d)),
    "events_gapfill" -> ((s, d) => Analytics.eventsGapfill(s, d)),
    // r8 wave 5: linear-interpolation twin of the LOCF gapfill
    "events_interpolate" -> ((s, d) =>
      Analytics.eventsInterpolate(s, d)
        .orderBy(col("event_type"), col("hour_ts"))),
    // r8 wave 5: rolling distinct actives (DAU + trailing-7d)
    "events_active_users" -> ((s, d) =>
      Analytics.activeUsers(Tables.events(s, d), "user_id", "ts", 7)
        .orderBy(col("day"))),
    // r8 wave 5: top event-type trigram paths across user timelines
    "events_top_paths" -> ((s, d) =>
      Analytics.topPaths(Tables.events(s, d), "user_id", "event_type",
        "ts", "event_id", len = 3, k = 25)),
    // r8 wave 5: per-type coverage islands — event windows [ts, ts+10min]
    // merged into disjoint covered intervals
    "sessions_coverage" -> ((s, d) => {
      val iv = Tables.events(s, d).select(col("event_type"),
        col("ts").as("lo"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("hi"))
      Sessionize.mergeIntervals(iv, Seq("event_type"), "lo", "hi")
        .withColumn("covered_sec",
          col("island_end").cast("long") - col("island_start").cast("long"))
        .orderBy(col("event_type"), col("island_seq"))
    }),
    // r8 wave 5: generalized MERGE INTO — conditional update, ordered
    // matched-clause chain (update wins over delete), conditional
    // insert, source-driven retirement; one full-outer key join
    "merge_into" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val target = o.filter(col("o_orderkey") % 3 =!= 0)
      val source = o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
        .withColumn("o_orderstatus", lit("M"))
      Merge.mergeInto(target, source, Seq("o_orderkey"),
        matched = Seq(
          Merge.MatchedUpdate(
            Map("o_totalprice" -> col("s.o_totalprice"),
              "o_orderstatus" -> lit("U")),
            Some(col("s.o_totalprice") > 200000.0)),
          Merge.MatchedDelete(Some(col("t.o_orderstatus") === "F"))),
        notMatched = Seq(
          Merge.NotMatchedInsert(cond = Some(col("s.o_totalprice") > 150000.0))),
        notMatchedBySource = Seq(
          Merge.NotMatchedBySourceDelete(
            Some(col("t.o_orderpriority") === "1-URGENT"))))
        .orderBy(col("o_orderkey"))
    }),
    // Versioned-table MERGE INTO (r10): the same clause chain as
    // merge_into, committed atomically through the manifest CAS —
    // graded across BOTH committed versions (version 1 must still
    // time-travel to the pre-merge snapshot after the merge lands,
    // version 2 is the merge result)
    "versioned_merge_into" -> ((s, d) => {
      import graft.sources.Versioned
      val root = graft.TempDirs.create("graft_vmi_") + "/t"
      val o = Tables.orders(s, d)
      val target = o.filter(col("o_orderkey") % 3 =!= 0)
      val source = o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(10.0))
        .withColumn("o_orderstatus", lit("M"))
      val v1 = Versioned.commit(target, root, replace = true)
      require(v1 == 1, s"expected bootstrap commit at version 1, got $v1")
      val v2 = Versioned.mergeInto(source, root, Seq("o_orderkey"),
        matched = Seq(
          Merge.MatchedUpdate(
            Map("o_totalprice" -> col("s.o_totalprice"),
              "o_orderstatus" -> lit("U")),
            Some(col("s.o_totalprice") > 200000.0)),
          Merge.MatchedDelete(Some(col("t.o_orderstatus") === "F"))),
        notMatched = Seq(
          Merge.NotMatchedInsert(cond = Some(col("s.o_totalprice") > 150000.0))),
        notMatchedBySource = Seq(
          Merge.NotMatchedBySourceDelete(
            Some(col("t.o_orderpriority") === "1-URGENT"))))
      require(v2 == 2, s"expected the merge to commit version 2, got $v2")
      Versioned.read(s, root, version = Some(1))
        .withColumn("version", lit(1L))
        .unionByName(Versioned.read(s, root).withColumn("version", lit(2L)))
        .orderBy(col("version"), col("o_orderkey"))
    }),
    // write-audit-publish (r11): a dirty candidate (null custkeys
    // injected) STAGES but fails its not-null audit → head untouched,
    // segment reclaimed; the corrected candidate publishes v2. The
    // graded read-back proves the gate: the dirty rows can never
    // appear, and published_version counts only CLEAN publishes.
    "versioned_wap" -> ((s, d) => {
      import graft.sources.Versioned
      val root = graft.TempDirs.create("graft_wap_") + "/t"
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val audit = (df: DataFrame) => df.filter(col("o_custkey").isNull)
      val day1 = o.filter(col("o_orderkey") % 2 === 0)
      val (p1, _) = Versioned.writeAuditPublish(day1, root, audit)
      require(p1.contains(1), s"clean bootstrap must publish v1, got $p1")
      val dirty = day1.unionByName(o.filter(col("o_orderkey") % 2 =!= 0)
        .withColumn("o_custkey", when(col("o_orderkey") % 97 === 0,
          lit(null).cast("long")).otherwise(col("o_custkey"))))
      val (p2, fail2) = Versioned.writeAuditPublish(dirty, root, audit)
      require(p2.isEmpty && !fail2.isEmpty,
        "the dirty candidate must be rejected with failure rows")
      val (p3, _) = Versioned.writeAuditPublish(
        dirty.filter(col("o_custkey").isNotNull), root, audit)
      require(p3.contains(2), s"corrected candidate must publish v2, got $p3")
      Versioned.read(s, root)
        .withColumn("published_version",
          lit(Versioned.currentVersion(s, root).toLong))
        .orderBy(col("o_orderkey"))
    }),

    // r8 wave 5: Apriori frequent triples — the oracle states the
    // definitional (unpruned) triple self-join, so the gate proves the
    // anti-monotonic candidate pruning lossless
    "basket_triples" -> ((s, d) =>
      Analytics.frequentTriples(s, d)
        .orderBy(col("brand_a"), col("brand_b"), col("brand_c"))),
    // r8 wave 5: late-arriving dimension — facts referencing dim keys
    // the dim feed hasn't delivered get placeholder "inferred members"
    "dim_late_arriving" -> ((s, d) => {
      val dim = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
          col("c_acctbal"))
        .filter(col("c_custkey") % 11 =!= 0) // simulate the lagging feed
      Models.inferredMembers(dim, Tables.orders(s, d), "c_custkey",
          "o_custkey",
          Map("c_name" -> lit("UNKNOWN"), "c_mktsegment" -> lit("UNKNOWN"),
            "c_acctbal" -> lit(0.0)))
        .orderBy(col("c_custkey"))
    }),
    // r8 wave 5: Benford's-law audit screen over order amounts
    "dq_benford" -> ((s, d) =>
      Quality.benford(Tables.orders(s, d), "o_totalprice",
          Seq("o_orderpriority"))
        .orderBy(col("o_orderpriority"), col("digit"))),
    // r8 wave 5: functional-dependency violations — "is l_partkey →
    // l_suppkey an FD?" (it isn't: parts ship from many suppliers)
    "dq_fd_violations" -> ((s, d) =>
      Quality.fdViolations(Tables.lineitem(s, d), Seq("l_partkey"), "l_suppkey")
        .orderBy(col("l_partkey"))),
    // cohort LTV curves (r11): cumulative decimal revenue per
    // first-order-month cohort, normalized by cohort size
    "cohort_ltv" -> ((s, d) =>
      Analytics.cohortLtv(Tables.orders(s, d))
        .orderBy(col("cohort_month"), col("period_m"))),
    // ABC classification per brand (r11): part revenue in exact
    // 1e-4 integer units, class thresholds as integer
    // cross-products — no float share anywhere
    "abc_parts" -> ((s, d) => {
      val units = Tables.lineitem(s, d)
        .select(col("l_partkey"),
          (col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1) - col("l_discount").cast("decimal(12,2)"))
            * lit(10000)).cast("long").as("u"))
        .groupBy(col("l_partkey")).agg(sum(col("u")).as("rev_u"))
      val df = units.join(broadcast(Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"))),
        col("l_partkey") === col("p_partkey"))
        .select(col("p_brand"), col("p_partkey"), col("rev_u"))
      Analytics.abcClassification(df, "p_brand", "p_partkey", "rev_u")
        .orderBy(col("p_brand"), col("rank"))
    }),
    // column-level snapshot diff (r11): which FIELDS drift between
    // snapshots — per-column null-safe change counts from one
    // full-outer join + one wide aggregate, then a bounded unpivot
    "cdc_column_diff" -> ((s, d) => {
      val base = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice").cast("double").as("o_totalprice"),
        col("o_orderpriority"))
      val newer = base.filter(col("o_orderkey") % 31 =!= 0)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 10 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .withColumn("o_orderpriority",
          when(col("o_orderkey") % 13 === 0, lit("9-RECLASSED"))
            .otherwise(col("o_orderpriority")))
        .unionByName(base.filter(col("o_orderkey") % 17 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 900000000L))
      operators.Cdc.columnDiff(base, newer, Seq("o_orderkey"),
          Seq("o_custkey", "o_totalprice", "o_orderpriority"))
        .orderBy(col("column_name"))
    }),
    // semi-additive month-end balance snapshots (r11): the Kimball
    // periodic-snapshot fact — exact-decimal running balances carried
    // through quiet months on a per-account month grid
    "fact_balance_snapshots" -> ((s, d) =>
      Analytics.periodEndBalances(Tables.orders(s, d), "o_custkey",
          "o_orderdate", "o_totalprice")
        .orderBy(col("o_custkey"), col("month_start"))),
    // week-over-week growth per event type (r11): Δ and Δ% vs the
    // preceding CALENDAR week — gap weeks null the comparison
    "events_wow_growth" -> ((s, d) =>
      Analytics.weekOverWeek(eventCols(Tables.events(s, d)),
          "event_type", "ts")
        .orderBy(col("event_type"), col("week_start"))),
    // XYZ demand-variability classes (r11): ABC's companion axis —
    // CV of monthly shipped quantity per part, class boundaries
    // compared in EXACT integer arithmetic (4·varNum < Σv² etc.)
    "inventory_xyz" -> ((s, d) =>
      Analytics.xyzClassification(Tables.lineitem(s, d)
          .select(col("l_partkey"),
            date_trunc("month", col("l_shipdate")).as("period"),
            col("l_quantity")),
        "l_partkey", "period", "l_quantity")
        .orderBy(col("l_partkey"))),
    // per-nation revenue Gini (r11): customer-revenue concentration
    // — exact decimal rank sums, one double division
    "revenue_gini" -> ((s, d) => {
      val rev = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(12,2)")).as("rev"))
      val df = rev
        .join(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey")),
          rev("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("c_custkey"), col("rev"))
      Analytics.giniConcentration(df, "nation", "c_custkey", "rev")
        .orderBy(col("nation"))
    }),
    // referential-integrity audit (r11): dbt's relationships test —
    // orphan child keys per declared FK edge
    "dq_referential" -> ((s, d) =>
      Quality.referentialIntegrity(Seq(
          ("orders.custkey->customer", Tables.orders(s, d), "o_custkey",
            Tables.customer(s, d), "c_custkey"),
          ("lineitem.orderkey->orders", Tables.lineitem(s, d), "l_orderkey",
            Tables.orders(s, d), "o_orderkey"),
          ("lineitem.partkey->part", Tables.lineitem(s, d), "l_partkey",
            Tables.part(s, d), "p_partkey"),
          ("lineitem.suppkey->supplier", Tables.lineitem(s, d), "l_suppkey",
            Tables.supplier(s, d), "s_suppkey")))
        .orderBy(col("relationship"))),
    // 2-D skyline (r11): orders on the price × recency Pareto
    // frontier — the sorted-window form, no dominance self-join; the
    // oracle is the definitional NOT EXISTS dominance scan
    "skyline_frontier" -> ((s, d) =>
      Analytics.skyline2d(
          Tables.orders(s, d)
            .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate")),
          "o_totalprice", "o_orderdate")
        .orderBy(col("o_orderkey"))),
    // candidate-key discovery (r11): uniqueness profiling of proposed
    // key combos in ONE scan — run before wiring a key into an
    // upsert/SCD2 merge
    "dq_candidate_keys" -> ((s, d) =>
      Quality.candidateKeys(Tables.orders(s, d), Seq(
          Seq("o_orderkey"), Seq("o_custkey"), Seq("o_orderstatus"),
          Seq("o_orderdate"), Seq("o_custkey", "o_orderdate"),
          Seq("o_orderdate", "o_orderstatus")))
        .orderBy(col("columns"))),
    "audience_overlap" -> ((s, d) =>
      Analytics.audienceOverlap(Tables.events(s, d), "event_type", "user_id")
        .orderBy(col("type_a"), col("type_b"))),
    "events_value_histogram" -> ((s, d) =>
      Analytics.valueHistogram(Tables.events(s, d), "event_type", "value")
        .orderBy(col("event_type"), col("bin"))),
    // melt (unpivot) round trip of the wide per-user pivot — the
    // long form carries explicit zero cells, same as the pivot
    "events_pivot_melt" -> ((s, d) => {
      val types = Seq("click", "view", "purchase", "signup", "error")
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0L)
        .unpivot(Array(col("user_id")), types.map(col).toArray,
          "event_type", "n_events")
        .orderBy(col("user_id"), col("event_type"))
    }),

    // per-file bloom index point lookup (r8 wave 3): the layout is
    // clustered by PRICE, so orderkey min/max can't prune — the
    // bloom sketches do; oracle = the plain equality filter
    "bloom_point_read" -> ((s, d) => {
      val dir = graft.TempDirs.create("graft_bloompt_")
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      graft.sources.Sink.clusteredWrite(o, dir, Seq("o_totalprice"), numFiles = 16)
      graft.sources.Sink.writeFileBloom(s, dir, "o_orderkey",
        expectedItemsPerFile = 100000L)
      graft.sources.Sink.bloomPointRead(s, dir, "o_orderkey", 1234L)
    }),

    "events_winsorized" -> ((s, d) =>
      Analytics.winsorize(eventCols(Tables.events(s, d))
          .select(col("event_id"), col("event_type"), col("value")),
          "event_type", "value")
        .select(col("event_id"), col("event_type"), col("value"), col("clipped"))
        .orderBy(col("event_id"))),
    "events_transitions" -> ((s, d) =>
      Analytics.transitionMatrix(Tables.events(s, d), "user_id", "event_type",
          "ts", "event_id")
        .orderBy(col("from_type"), col("to_type"))),
    // Markov next-event accuracy (r11): is "predict the modal
    // successor" worth deploying? — per-state argmax + one division
    "events_markov_accuracy" -> ((s, d) =>
      Analytics.markovAccuracy(Tables.events(s, d), "user_id",
          "event_type", "ts", "event_id")
        .orderBy(col("from_type"))),
    "events_rolling_range" -> ((s, d) =>
      Analytics.eventsRollingRange(s, d)
        .orderBy(col("user_id"), col("event_id"))),
    "events_value_deciles" -> ((s, d) =>
      Analytics.valueDeciles(Tables.events(s, d), "event_type", "value",
          "event_id")
        .orderBy(col("event_type"), col("decile"))),

    "bloom_reduced_join" -> ((s, d) => {
      val rev = col("l_extendedprice").cast("decimal(12,2)") *
        (lit(1) - col("l_discount").cast("decimal(12,2)"))
      val r = Tables.region(s, d).filter(col("r_name") === "EUROPE")
      val n = Tables.nation(s, d)
        .select(col("n_nationkey"), col("n_regionkey"), col("n_name"))
      val eu = Tables.supplier(s, d)
        .join(broadcast(n), col("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(col("s_suppkey"), col("n_name"))
      BloomJoin.reducedJoin(
          Tables.lineitem(s, d).select(col("l_suppkey"), rev.as("rev")),
          "l_suppkey", eu, "s_suppkey")
        .groupBy(col("n_name"))
        .agg(sum(col("rev")).cast("double").as("revenue"),
          count(lit(1)).as("n_lines"))
        .orderBy(col("n_name"))
    }),
    "q22_no_orders" -> ((s, d) => Analytics.q22NoOrders(s, d)),
    "rollup_revenue" -> ((s, d) => Analytics.rollupRevenue(s, d)),
    "segment_distincts" -> ((s, d) => Analytics.segmentDistincts(s, d)),
    "events_sessions" -> ((s, d) =>
      Sessionize.byGap(Tables.events(s, d), "user_id", "ts", 1800L)
        .orderBy(col("user_id"), col("session_seq"))),
    // per-session entry/exit/bounce readout (r11): landing and exit
    // event types via (ts, id, type) struct extrema — one exchange
    "sessions_entry_exit" -> ((s, d) =>
      Sessionize.entryExit(eventCols(Tables.events(s, d)), "user_id",
          "event_id", "event_type", "ts", 1800L)
        .orderBy(col("user_id"), col("session_seq"))),
    // peak concurrent sessions per hour (r11): bucketed sweep line
    // with grid carry — a spanning session counts in EVERY bucket
    "sessions_concurrency" -> ((s, d) =>
      Sessionize.concurrency(
          Sessionize.byGap(Tables.events(s, d), "user_id", "ts", 1800L),
          "session_start", "session_end", bucketSeconds = 3600L)
        .orderBy(col("bucket_ts"))),
    // calendar date-spine dimension (r11): dbt-utils date_spine /
    // Kimball dim_date over the orders range, engine-safe attributes
    "dim_date_spine" -> ((s, d) =>
      graft.pipeline.Models.dimDate(Tables.orders(s, d), "o_orderdate")
        .orderBy(col("day_ts"))),
    // incremental sessionization (r11): stored sessions + a day's
    // batch — untouched users carry forward, touched users replay
    // from history; ≡ the full resessionization (the shared oracle)
    "events_sessions_incr" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
      val cut = lit(java.sql.Timestamp.valueOf(CdcCutoff))
      val hist = ev.filter(col("ts") < cut)
      val delta = ev.filter(col("ts") >= cut)
      val stored = Sessionize.byGap(hist, "user_id", "ts", 1800L)
      Sessionize.byGapIncremental(stored, hist, delta, "user_id", "ts", 1800L)
        .orderBy(col("user_id"), col("session_seq"))
    }),
    "q18_large_orders" -> ((s, d) => Analytics.q18LargeOrders(s, d)),
    // interval-OVERLAP join (r8-cont): concurrent sessions across
    // users — each overlapping pair accepted only in its
    // overlap-left-edge bucket, so the bucketed join needs no dedup
    "sessions_overlap" -> ((s, d) => {
      val sess = Sessionize.byGap(Tables.events(s, d), "user_id", "ts", 1800L)
        .select(col("user_id"), col("session_seq"),
          col("session_start"), col("session_end"))
      RangeJoin.intervalOverlap(sess, sess, Seq.empty,
          "session_start", "session_end", bucketSeconds = 3600L)
        .filter(col("a_user_id") < col("b_user_id"))
        .select(col("a_user_id"), col("a_session_seq"),
          col("b_user_id"), col("b_session_seq"))
        .orderBy(col("a_user_id"), col("a_session_seq"),
          col("b_user_id"), col("b_session_seq"))
    }),
    "q13_custdist" -> ((s, d) => Analytics.q13CustDist(s, d)),
    // co-purchase part pairs (r7): order-keyed self-join, per-order
    // fan-out bounded by line count
    // association rules (r11): directional confidence/lift over the
    // co-purchase pairs — {a}→{b} and {b}→{a} differ exactly when the
    // item frequencies do
    "basket_rules" -> ((s, d) =>
      Analytics.basketRules(Tables.lineitem(s, d), minCount = 4L)
        .orderBy(col("antecedent"), col("consequent"))),
    // RFM segmentation (r11): recency/frequency/monetary quintiles
    // against the corpus's own max date; decimal money, ties pinned
    "customer_rfm" -> ((s, d) =>
      Analytics.rfm(Tables.orders(s, d))
        .orderBy(col("o_custkey"))),
    "basket_pairs" -> ((s, d) =>
      Analytics.basketPairs(Tables.lineitem(s, d), minCount = 2L)
        .orderBy(col("part_a"), col("part_b"))),
    // per-label embedding centroid vs the global centroid (r11):
    // cosine + norm from exact integer per-dim sums (n cancels in
    // the cosine) — the embedding-space drift/coherence monitor
    "embedding_centroid_shift" -> ((s, d) =>
      operators.Similarity.centroidShift(Tables.embeddings(s, d),
          "label", "embedding")
        .orderBy(col("label"))),
    // repurchase cycle per segment (r11): days between consecutive
    // orders per customer — reorder-cadence mean/p50/p90
    "repurchase_cycle" -> ((s, d) =>
      Analytics.repurchaseCycle(Tables.orders(s, d), Tables.customer(s, d))
        .orderBy(col("c_mktsegment"))),
    // share-of-parent hierarchy rollup (r11): nation revenue as a
    // share of ITS region, region share of global — one leaf row
    "rollup_share" -> ((s, d) => {
      val rev = Tables.orders(s, d)
        .select(col("o_custkey"), col("o_totalprice"))
        .join(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d).select(col("n_nationkey"),
          col("n_name"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)
          .select(col("r_regionkey"), col("r_name"))),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("r_name"), col("n_name"), col("o_totalprice"))
      Analytics.shareOfParent(rev, "r_name", "n_name", "o_totalprice")
        .orderBy(col("r_name"), col("n_name"))
    }),
    // new-vs-returning revenue split per month (r11): acquisition vs
    // retention decomposition — first-order-month customers are NEW
    "revenue_new_vs_returning" -> ((s, d) =>
      Analytics.newVsReturning(Tables.orders(s, d), "o_custkey",
          "o_orderdate", "o_totalprice")
        .orderBy(col("month_start"))),
    // fulfillment cycle-time SLA per priority (r11): exact integer
    // order→ship days, interpolated p50/p90, 90-day breach share
    "fulfillment_cycle_sla" -> ((s, d) => {
      val joined = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(broadcast(Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderdate"),
            col("o_orderpriority"))),
          col("l_orderkey") === col("o_orderkey"))
      Analytics.cycleSla(joined, "o_orderpriority", "o_orderdate",
          "l_shipdate", slaDays = 90)
        .orderBy(col("o_orderpriority"))
    }),
    // log-log price elasticity per brand (r11): OLS slope of monthly
    // ln(qty) on ln(unit price) over r6-scaled exact integer sums
    "price_elasticity" -> ((s, d) =>
      Analytics.priceElasticity(Tables.lineitem(s, d), Tables.part(s, d))
        .orderBy(col("p_brand"))),
    // item-item cosine affinity (r11): co-occurrence normalized by
    // √(c_a·c_b) — niche affinity outranks bestseller incidence
    "basket_cosine" -> ((s, d) =>
      Analytics.basketCosine(Tables.lineitem(s, d), minCount = 2L,
          topK = 100)
        .orderBy(col("rank"))),
    "events_rolling" -> ((s, d) => Analytics.eventsRolling(s, d)),
    // ordered-step conversion funnel (r7): one shuffle + per-user
    // sorted fold; oracle replays the min-join recurrence
    "events_funnel" -> ((s, d) =>
      Analytics.funnel(Tables.events(s, d), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"))
        .orderBy(col("user_id"))),
    // weekly cohort retention matrix (r7)
    "events_retention" -> ((s, d) =>
      Analytics.retention(Tables.events(s, d), "user_id", "ts")
        .orderBy(col("cohort_ts"), col("period_n"))),
    // windowed funnel (r7): conversion within 1 h of the step-1
    // start, every start evaluated; oracle replays the per-start
    // min-join recurrence + deepest/earliest tie-break
    "events_funnel_windowed" -> ((s, d) =>
      Analytics.funnelWindowed(Tables.events(s, d), "user_id", "event_type",
          "ts", Seq("view", "click", "purchase"), windowSeconds = 3600L)
        .orderBy(col("user_id"))),

    // ---- temporal joins (§2.4b) ----
    // as-of BACKWARD: each purchase gets the user's latest view
    // at-or-before it (single shuffle on user_id — never a range join)
    "asof_last_view" -> ((s, d) => {
      val ev = eventCols(Tables.events(s, d))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      AsOf.backward(purchases, views, Seq("user_id"), "ts", "ts",
          Seq("event_id", "ts"), "view_")
        .orderBy(col("event_id"))
    }),
    // same as-of lookup with a 1-hour staleness bound: a last view
    // older than the tolerance is nulled out, the purchase row is kept
    // (merge_asof `tolerance` semantics)
    "asof_last_view_tol" -> ((s, d) => {
      val ev = eventCols(Tables.events(s, d))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      AsOf.backward(purchases, views, Seq("user_id"), "ts", "ts",
          Seq("event_id", "ts"), "view_", toleranceSec = Some(3600L))
        .orderBy(col("event_id"))
    }),
    // as-of FORWARD: each purchase gets the user's next error after it
    "asof_next_error" -> ((s, d) => {
      val ev = eventCols(Tables.events(s, d))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts"), col("event_id"))
      AsOf.forward(purchases, errors, Seq("user_id"), "ts", "ts",
          Seq("event_id", "ts"), "err_")
        .orderBy(col("event_id"))
    }),
    // bucketed interval join: events → containing session, counted per
    // session (equi-join on (user, time-bucket) + exact containment)
    "range_join_sessions" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("user_id"), col("ts"))
      val sessions = Sessionize.byGap(Tables.events(s, d), "user_id", "ts", 1800L)
        .select(col("user_id"), col("session_seq"),
          col("session_start"), col("session_end"))
      RangeJoin.pointInInterval(ev, sessions, Seq("user_id"), "ts",
          "session_start", "session_end", bucketSeconds = 1800L)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_in_session"))
        .orderBy(col("user_id"), col("session_seq"))
    }),
    // DECLARATIVE containment join — no equi key at all, the shape
    // that plans as a BroadcastNestedLoopJoin unless
    // plans.RangeJoinRewrite (registered via spark.sql.extensions in
    // the graded sessions) rewrites it to the bucketed equi-join.
    // Correct either way; PlansSpec asserts the rewrite actually fires
    "range_join_rewrite" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("ts"))
      val days = Tables.events(s, d)
        .select(date_trunc("day", col("ts")).as("day_start"))
        .distinct()
        .withColumn("day_end",
          col("day_start") + expr("INTERVAL '0 23:59:59.999999' DAY TO SECOND"))
      ev.join(days, col("ts") >= col("day_start") && col("ts") <= col("day_end"))
        .groupBy(col("day_start")).agg(count(lit(1)).as("n_events"))
        .orderBy(col("day_start"))
    }),

    // ---- continuous CDC apply, graded batch-side (§2.6) ----
    // the reference's 15-min load loop run as a real Structured
    // Streaming job on STATIC input: batch 1 lands → bootstrap, batch
    // 2 lands → keyed upsert via foreachBatch; the FINAL parquet table
    // is the graded output (= latest event per user, the cdc_upsert
    // invariant), so the streaming path gets a full DuckDB oracle
    "stream_cdc_apply" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_cdc")
      val inDir = s"$base/in"; val target = s"$base/target"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
      val cutoff = lit(CdcCutoff).cast("timestamp")
      graft.StreamFixtures.land(s"ev_le_cutoff:$d",
        ev.filter(col("ts") <= cutoff), inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val q = graft.streaming.EventStream.applyUpserts(
        graft.streaming.EventStream.read(ss, inDir),
        target, ckpt, Seq("user_id"), "ts", Seq("event_id"))
      try {
        q.processAllAvailable() // microbatch 1: bootstrap load
        graft.StreamFixtures.land(s"ev_gt_cutoff:$d",
          ev.filter(col("ts") > cutoff), inDir)
        q.processAllAvailable() // microbatch 2: upsert the delta
      } finally q.stop()
      s.read.parquet(target)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), col("value"))
        .orderBy(col("user_id"))
    }),

    // ---- exactly-once JDBC CDC apply, graded batch-side (r9) ----
    // the reference's ClickHouse sink protocol run as a REAL stream
    // into embedded Derby: batch 0 bootstraps the warehouse table,
    // batch 1 merges the delta (ledger mark inside the merge tx).
    // Then the crash-redelivery case is DRIVEN, not just spec'd: a
    // fresh-checkpoint restart replays ALL input as a new batch 0 —
    // plus a POISON row that would corrupt the table if applied — and
    // the (sink_table, batch_id) ledger must skip it untouched. The
    // final warehouse table is graded against the latest-per-user
    // oracle over the ORIGINAL events; an applied poison row or a
    // double-applied batch fails the hash.
    "stream_cdc_jdbc_exactly_once" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_jx")
      val inDir = s"$base/in"
      val dbName = "jx" + java.util.UUID.randomUUID().toString.replace("-", "")
      val url = s"jdbc:derby:memory:$dbName;create=true"
      val table = "events_sink"
      val ev = eventCols(Tables.events(s, d))
      val cutoff = lit(CdcCutoff).cast("timestamp")
      graft.StreamFixtures.land(s"ev_le_cutoff:$d",
        ev.filter(col("ts") <= cutoff), inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      def start(ckpt: String) = graft.streaming.EventStream
        .applyUpsertsJdbcExactlyOnce(
          graft.streaming.EventStream.read(ss, inDir), url, table,
          ckpt, Seq("user_id"), "ts", Seq("event_id"))
      val q = start(s"$base/ckpt1")
      try {
        q.processAllAvailable() // batch 0: bootstrap load
        graft.StreamFixtures.land(s"ev_gt_cutoff:$d",
          ev.filter(col("ts") > cutoff), inDir)
        q.processAllAvailable() // batch 1: staged merge + ledger mark
      } finally q.stop()
      // redelivery: fresh checkpoint ⇒ every file replays as batch 0
      // again, now including a poison row newer than everything —
      // applying it would win the latest-per-key merge and corrupt
      // the graded output; the ledger row for batch 0 must skip it
      graft.StreamFixtures.land(s"ev_poison:$d", {
        import s.implicits._
        Seq((-999L, -999L,
            new java.sql.Timestamp(maxEventTs(s, d).getTime + 3600000L),
            "__poison", -1.0))
          .toDF("user_id", "event_id", "ts", "event_type", "value")
      }, inDir)
      val q2 = start(s"$base/ckpt2")
      try q2.processAllAvailable() finally q2.stop()
      derbySnapshotAndDrop(s, url, dbName, table, "graft_jx_")
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type"), col("value"))
        .orderBy(col("user_id"))
    }),

    // ---- watermarked windowed agg, graded batch-side (§2.6) ----
    // the REAL hourlyCounts stream (watermark + tumbling window,
    // append mode, parquet sink) on static input. Append mode only
    // emits a window once the watermark passes its end, so two
    // sentinel microbatches beyond max(ts)+watermark flush every real
    // window; the sentinels' own windows stay in state (never emitted)
    // and the query is stopped. Final sink vs the events_hourly oracle.
    "stream_hourly_counts" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_hr")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
      graft.StreamFixtures.land(s"ev_all:$d", ev, inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val q = graft.streaming.EventStream
        .hourlyCounts(graft.streaming.EventStream.read(ss, inDir))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        q.processAllAvailable() // batch 1: all real events, wm = 0
        graft.StreamFixtures.land(s"ev_sentinel_4h:$d",
          eventSentinel(s, d, 4L * 3600 * 1000), inDir)
        q.processAllAvailable() // batch 2: wm = maxTs - 2h
        graft.StreamFixtures.land(s"ev_sentinel_4h60s:$d",
          eventSentinel(s, d, 4L * 3600 * 1000 + 60000), inDir)
        q.processAllAvailable() // batch 3: wm = maxTs + 2h → all real windows out
      } finally q.stop()
      s.read.parquet(outDir)
        .filter(col("event_type") =!= "__sentinel")
        .orderBy(col("hour_ts"), col("event_type"))
    }),

    // native session_window sessions, graded through the REAL stream
    // (r8 wave 3): sentinel events advance the watermark so every
    // real session finalizes; oracle = lag-islands in SQL with the
    // same strict-gap break and end-padding
    "stream_session_windows" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_sw")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
      graft.StreamFixtures.land(s"ev_all:$d", ev, inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val q = graft.streaming.EventStream
        .sessionCounts(graft.streaming.EventStream.read(ss, inDir))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        q.processAllAvailable() // batch 1: all real events, wm = 0
        graft.StreamFixtures.land(s"ev_sentinel_4h:$d",
          eventSentinel(s, d, 4L * 3600 * 1000), inDir)
        q.processAllAvailable() // batch 2: wm = maxTs - 2h
        graft.StreamFixtures.land(s"ev_sentinel_4h60s:$d",
          eventSentinel(s, d, 4L * 3600 * 1000 + 60000), inDir)
        q.processAllAvailable() // batch 3: wm > all session ends
      } finally q.stop()
      s.read.parquet(outDir)
        .filter(col("user_id") =!= -1L)
        .orderBy(col("user_id"), col("session_start"))
    }),

    // ---- streaming dedup, graded batch-side (§2.6) ----
    // the REAL dropDuplicatesWithinWatermark stream on static input
    // with injected at-least-once redelivery: batch 1 carries every
    // event plus bit-identical duplicates of every 10th user's events
    // (same-batch dupes), batch 2 redelivers the last hour of events
    // (cross-batch dupes, inside the watermark horizon). The sink must
    // equal the events table exactly once per event_id.
    "stream_dedup" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_dd")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
      graft.StreamFixtures.land(s"ev_all:$d", ev, inDir)
      graft.StreamFixtures.land(s"ev_user_mod10:$d",
        ev.filter(col("user_id") % 10 === 0), inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val q = graft.streaming.EventStream
        .dedup(graft.streaming.EventStream.read(ss, inDir))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        q.processAllAvailable() // batch 1: originals + same-batch dupes
        graft.StreamFixtures.land(s"ev_lasthour:$d",
          ev.filter(col("ts") > lit(new java.sql.Timestamp(
            maxEventTs(s, d).getTime - 3600 * 1000))), inDir)
        q.processAllAvailable() // batch 2: cross-batch redelivery
      } finally q.stop()
      s.read.parquet(outDir)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }),

    // ---- streaming as-of enrichment, graded batch-side (§2.6) ----
    // the real stream-static validity-window join on static input,
    // two microbatches (the second re-plans the dim side); every
    // event must pick the SCD2 version true at ITS timestamp
    "stream_enrich_asof" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_ao")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
      val cutoff = lit(CdcCutoff).cast("timestamp")
      graft.StreamFixtures.land(s"ev_le_cutoff:$d",
        ev.filter(col("ts") <= cutoff), inDir)
      val hist = Scd2.historyFromLog(ev, Seq("user_id"), "ts", Seq("event_id"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("valid_from"), col("valid_to"))
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val q = graft.streaming.EventStream.enrichAsOf(
          graft.streaming.EventStream.read(ss, inDir), hist, Seq("user_id"), "ts")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("dim_event_id").as("version_id"),
          col("dim_event_type").as("state_at_event"))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        q.processAllAvailable() // batch 1
        graft.StreamFixtures.land(s"ev_gt_cutoff:$d",
          ev.filter(col("ts") > cutoff), inDir)
        q.processAllAvailable() // batch 2: dim side re-planned
      } finally q.stop()
      s.read.parquet(outDir).orderBy(col("event_id"))
    }),

    // ---- stream-STREAM interval join, graded batch-side (r10) ----
    // the REAL EventStream.correlate: each purchase joined to the
    // views that preceded it by <= 6h on the same user, both sides
    // watermarked so state stays bounded. Two microbatches split at
    // the CDC cutoff; an INNER interval join emits on match (no
    // sentinel flush needed), and the state-retention math — needed
    // views have ts > cutoff - 6h, expiry floor after batch 1 is
    // (cutoff - 1h) - 6h — guarantees no cross-batch match is lost.
    // Sink vs the DuckDB interval-join oracle.
    "stream_correlate" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_cx")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
      val cutoff = lit(CdcCutoff).cast("timestamp")
      graft.StreamFixtures.land(s"ev_le_cutoff:$d",
        ev.filter(col("ts") <= cutoff), inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val src = graft.streaming.EventStream.read(ss, inDir)
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
      val views = src.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          col("ts").as("view_ts"))
      val q = graft.streaming.EventStream.correlate(purchases, views,
          Seq("user_id"), "purchase_ts", "view_ts",
          withinSeconds = 6L * 3600)
        .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
          col("view_id"), col("view_ts"))
        .writeStream.format("parquet").option("path", outDir)
        .option("checkpointLocation", ckpt).outputMode("append").start()
      try {
        q.processAllAvailable() // batch 1: both sides <= cutoff
        graft.StreamFixtures.land(s"ev_gt_cutoff:$d",
          ev.filter(col("ts") > cutoff), inDir)
        q.processAllAvailable() // batch 2: cross-batch matches
      } finally q.stop()
      s.read.parquet(outDir).orderBy(col("purchase_id"), col("view_id"))
    }),
  )
}
