package graft

import graft.operators._
import graft.pipeline.{Analytics, Dag, DayReplay, IncrementalModel, Models, Schedule}
import graft.sources.SchemaEvolution
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.EntryHelpers._

/** Query-registry shard 5/5 — split out of the 11k-line
  * SparkEntry (r11 verdict ask #8). Entries are VERBATIM (wave order
  * preserved); [[SparkEntry.queries]] composes the shards. */
private[graft] object QueriesShard5 {
  val m: Map[String, (SparkSession, String) => DataFrame] = Map(
    // HITS hubs/authorities (r11) on the DIRECTED customer→part
    // purchase graph: 8 integer fixed-point rounds, max-normalized
    // per phase — hash-green where float HITS never could be
    "graph_hits" -> ((s, d) => {
      val edges = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d)
          .filter(col("l_partkey") % 4 === 0)
          .select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_partkey").as("part"))
      Graph.hitsFixedPoint(edges, "cust", "part", iterations = 8, topK = 50)
        .orderBy(col("kind"), col("rank"))
    }),
    // column-level lineage of the fact model, extracted STRUCTURALLY
    // from the analyzed Catalyst plan (nothing executed); the oracle
    // states the expected provenance literally — the gate proves the
    // plan walk, not a data computation
    "pipeline_column_lineage" -> ((s, d) =>
      graft.plans.ColumnLineage.of(graft.pipeline.Models.factLineitem(s, d))
        .orderBy(col("column"), col("source_table"), col("source_column"))),
    // The float-form PageRank is NOT graded (retired r11, verdict
    // item 5): per-node double sums add in partition order, so its
    // output is not cross-engine replayable and the graded key was a
    // permanent rows-only row. The operator stays ([[Graph.pageRank]],
    // PageRankSpec pins semantics against a driver-side reference
    // iteration) and the THREE fixed-point twins below grade the
    // iterative semantics hash-green.
    // fixed-point-arithmetic PageRank twin (r9): long micro-rank
    // units and integer `div` make every round order-free and
    // engine-portable, so THIS form is hash-green — the md5-twin
    // discipline applied to the iterative operator (the double form
    // above stays rows-only with its spec-pinned semantics)
    "graph_pagerank_fixed" -> ((s, d) => {
      Graph.pageRankFixedPoint(coPurchaseEdges(s, d), "pa", "pb",
          iterations = 10)
        .orderBy(col("rank_fp").desc, col("node")).limit(100)
    }),
    // WEIGHTED fixed-point PageRank: edge weight = shared-order
    // count, contributions proportional to exact integer weights
    "graph_pagerank_weighted" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(col("l_partkey") % 4 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val wedges = li.select(col("ok"), col("pk").as("pa"))
        .join(li.select(col("ok"), col("pk").as("pb")), Seq("ok"))
        .filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("w"))
      Graph.pageRankFixedPointWeighted(wedges, "pa", "pb", "w",
          iterations = 10)
        .orderBy(col("rank_fp").desc, col("node")).limit(100)
    }),
    // PERSONALIZED fixed-point PageRank: teleport restarts at the
    // pk % 40 == 0 seed parts — "central relative to THESE products"
    "graph_ppr" -> ((s, d) =>
      Graph.personalizedPageRankFixedPoint(coPurchaseEdges(s, d), "pa", "pb",
          Tables.part(s, d).select(col("p_partkey").as("n"))
            .filter(col("n") % 40 === 0), "n", iterations = 10)
        .orderBy(col("rank_fp").desc, col("node")).limit(100)),
    // k-core of the co-purchase graph (r9): synchronous peeling to
    // the unique fixed point; the oracle unrolls the same peels
    // (monotone set shrinkage ⇒ extra unrolled rounds are idempotent)
    "graph_kcore" -> ((s, d) =>
      Graph.kCore(coPurchaseEdges(s, d), "pa", "pb", k = 16)
        .orderBy(col("node"))),
    // degree assortativity (r9): exact long sufficient statistics,
    // one final double Pearson — hash-green cross-engine
    "graph_assortativity" -> ((s, d) =>
      Graph.assortativity(coPurchaseEdges(s, d), "pa", "pb")),

    // label-propagation communities (r9) on the same co-purchase
    // graph: integer vote counts + (count desc, label asc) argmax
    // make every round a pure function of the edge set, so the
    // iterative operator hash-grades end to end against a round-
    // unrolled DuckDB replay (r10 — the pageRankFixedPoint
    // discipline; W4OpsSpec still pins planted-clique semantics)
    "graph_communities" -> ((s, d) => {
      Graph.labelPropagation(coPurchaseEdges(s, d), "pa", "pb",
          iterations = 6)
        .orderBy(col("node"))
    }),
    // multi-source BFS hop distance (r11): blast-radius analysis
    // from the pk % 40 == 0 seed parts (the PPR teleport set) —
    // integer hops and order-free min() make every synchronous
    // round a pure function of the edge set, so the 6 rounds
    // hash-grade against the same rounds unrolled as MATERIALIZED
    // CTEs (6 ≥ the seed set's eccentricity at the graded SFs ⇒
    // exact BFS distances; extra rounds idempotent by monotonicity)
    "graph_bfs_distance" -> ((s, d) =>
      Graph.bfsDistance(coPurchaseEdges(s, d), "pa", "pb",
          Tables.part(s, d).select(col("p_partkey").as("n"))
            .filter(col("n") % 40 === 0), "n", maxHops = 6)
        .orderBy(col("node"))),
    // weighted SSSP (r11): Bellman-Ford rounds over affinity-derived
    // integer costs (frequent co-purchase = closer) from the same
    // seed set — order-free integer min per round, 6-round contract
    "graph_sssp_weighted" -> ((s, d) => {
      val li = Tables.lineitem(s, d).filter(col("l_partkey") % 4 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      val weighted = li.select(col("ok"), col("pk").as("pa"))
        .join(li.select(col("ok"), col("pk").as("pb")), Seq("ok"))
        .filter(col("pa") < col("pb"))
        .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("n"))
        .select(col("pa"), col("pb"),
          greatest(lit(1L), lit(20L) - col("n")).as("w"))
      Graph.ssspWeighted(weighted, "pa", "pb", "w",
          Tables.part(s, d).select(col("p_partkey").as("n"))
            .filter(col("n") % 40 === 0), "n", rounds = 6)
        .orderBy(col("node"))
    }),
    // Holt double-exponential smoothing per user (r9): the level+trend
    // recurrence no batch window computes, folded in one keyed
    // mapPartitions pass and replayed BIT-EXACT by a recursive CTE
    // (α = β = ½ → every step is exact halving + ordered adds, the
    // stream_ewma discipline)
    "events_holt_winters" -> ((s, d) =>
      operators.Recurrence.holtWinters(eventCols(Tables.events(s, d)),
          "user_id", "event_id", "ts", "value")
        .orderBy(col("user_id"), col("event_id"))),
    // TRIPLE (seasonal additive) exponential smoothing (r10): the
    // full Holt-Winters recurrence over per-type hourly volumes —
    // level+trend+24 seasonal slots, all-dyadic coefficients, graded
    // bit-exact against a recursive CTE carrying the seasonal ring
    // as 24 columns
    "events_holt_winters_seasonal" -> ((s, d) =>
      operators.Recurrence.holtWintersSeasonal(
          eventCols(Tables.events(s, d)), "event_type", "ts", period = 24)
        .orderBy(col("event_type"), col("bucket"))),
    // two-sided CUSUM drift detector per user (r9): max(0, s + (x−k))
    // recurrences with driver-folded constants, same bit-exact
    // recursive-CTE replay
    "events_cusum" -> ((s, d) =>
      operators.Recurrence.cusum(eventCols(Tables.events(s, d)),
          "user_id", "event_id", "ts", "value",
          target = 100.0, slack = 25.0, h = 200.0)
        .orderBy(col("user_id"), col("event_id"))),
    // EWMA adaptive control band per user (r9-cont): self-tuning
    // mean/variance recurrences, flag vs the PRIOR state's 3σ band
    "events_ewma_band" -> ((s, d) =>
      operators.Recurrence.ewmaBand(eventCols(Tables.events(s, d)),
          "user_id", "event_id", "ts", "value")
        .orderBy(col("user_id"), col("event_id"))),
    // classical additive seasonal decomposition (r11): centered-MA
    // trend + grand-mean-centered seasonal means per hour-of-day —
    // every sum integer (detrended carried ×25), so the doubles are
    // single correctly-rounded divisions
    "events_seasonal_decompose" -> ((s, d) => {
      val grid = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
      Analytics.seasonalDecompose(grid, "event_type", "hr", "cnt",
          seasonCol = hour(col("hr")), halfWindow = 12)
        .orderBy(col("event_type"), col("hr"))
    }),
    // quantile normalization (r11): per-source n_chars mapped onto
    // the global distribution at the same within-source rank fraction
    "quality_quantile_norm" -> ((s, d) =>
      Quality.quantileNormalize(
          Tables.documents(s, d).select(col("doc_id"), col("source"),
            col("n_chars")),
          "source", "n_chars", "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("norm_value"))
        .orderBy(col("doc_id"))),
    // two-proportion z (r11): conversion-rate A/B over a
    // deterministic user split (user_id parity as the holdout)
    "ab_proportions" -> ((s, d) => {
      val users = Tables.events(s, d)
        .groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", lit(1L))
          .otherwise(lit(0L))).as("converted"))
        .withColumn("variant", pmod(col("user_id"), lit(2)))
      Quality.twoProportionZ(users, "variant", "converted")
    }),
    // rank-based ROC AUC per user-parity cohort (r11): does raw
    // activity (event count) predict purchase? — exact U-statistic
    // arithmetic, one division
    "model_auc" -> ((s, d) => {
      val units = Tables.events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(when(col("event_type") === "purchase", lit(1L))
            .otherwise(lit(0L))).as("converted"))
        .withColumn("cohort", pmod(col("user_id"), lit(2)))
      Quality.auc(units, "cohort", "n_events", "converted")
        .orderBy(col("cohort"))
    }),
    // decile gains/lift table per cohort (r11): the targeting
    // readout behind the AUC number
    "model_gains" -> ((s, d) => {
      val units = Tables.events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(when(col("event_type") === "purchase", lit(1L))
            .otherwise(lit(0L))).as("converted"))
        .withColumn("cohort", pmod(col("user_id"), lit(2)))
      Quality.gainsTable(units, "cohort", "user_id", "n_events",
          "converted", buckets = 10)
        .orderBy(col("cohort"), col("bucket"))
    }),
    // WoE/IV (r11): how predictive is a user's FIRST event type of
    // eventual purchase conversion — half-unit-smoothed shares,
    // rounded-WoE contributions, order-free integer IV sum
    "dq_woe_iv" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val ev = eventCols(Tables.events(s, d))
      val first = ev.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"), col("event_type").as("first_event"))
      val conv = ev.groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", lit(1L))
          .otherwise(lit(0L))).as("converted"))
      Quality.weightOfEvidence(first.join(conv, Seq("user_id")),
          "first_event", "converted")
        .orderBy(col("first_event"))
    }),
    // Spearman rank correlation per nation (r11): does account
    // balance move with lifetime revenue? — doubled tie-averaged
    // ranks, decimal-exact big-integer sums, one double tree
    "corr_spearman" -> ((s, d) => {
      val rev = Tables.orders(s, d).groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(12,2)")).as("rev"))
      val df = rev.join(Tables.customer(s, d)
          .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal")),
        rev("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)
          .select(col("n_nationkey"), col("n_name"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), col("c_acctbal"), col("rev"))
      Quality.spearman(df, "nation", "c_acctbal", "rev")
        .orderBy(col("nation"))
    }),
    // chi-squared independence (r11): market segment × nation over
    // customers — full R×C grid, 6-decimal-rounded cell
    // contributions summed as integers (order-free)
    "dq_chi2" -> ((s, d) =>
      Quality.chiSquareIndependence(Tables.customer(s, d),
        "c_mktsegment", "c_nationkey")),
    // Mann-Whitney U per hour-of-day (r11): purchase vs view value
    // distributions — the nonparametric A/B primitive, integer-rank
    // exact with tie-corrected z
    "ab_mannwhitney" -> ((s, d) =>
      Quality.mannWhitney(
          eventCols(Tables.events(s, d)).withColumn("hod", hour(col("ts"))),
          "hod", "event_type", "value", "purchase", "view")
        .orderBy(col("hod"))),
    // Welch's t per event type (r11): do even- vs odd-parity users
    // differ in MEAN per-user activity — unequal-variance t on exact
    // integer sums, one fixed double tree
    "ab_welch_t" -> ((s, d) => {
      val units = Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("grp", pmod(col("user_id"), lit(2)).cast("string"))
      Quality.welchT(units, "event_type", "grp", "n_events", "1", "0")
        .orderBy(col("event_type"))
    }),
    // CUPED variance-reduced A/B per event type (r11): pre-cutoff
    // activity as the covariate, post-cutoff activity as the metric,
    // user-parity variants — exact integer sufficient statistics,
    // θ/adjusted-diff/ρ² one double tree each
    "ab_cuped" -> ((s, d) => {
      val cutoff = lit(CdcCutoff).cast("timestamp")
      val units = eventCols(Tables.events(s, d))
        .groupBy(col("event_type"), col("user_id"))
        .agg(sum(when(col("ts") <= cutoff, 1L).otherwise(0L)).as("x_pre"),
          sum(when(col("ts") > cutoff, 1L).otherwise(0L)).as("y_post"))
        .withColumn("grp", pmod(col("user_id"), lit(2)).cast("string"))
      Quality.cuped(units, "event_type", "grp", "x_pre", "y_post",
          "1", "0")
        .orderBy(col("event_type"))
    }),
    // mutual information event_type × hour-of-day (r11): the
    // information-theoretic strength reading next to dq_chi2 —
    // rounded per-cell terms summed as order-free integers
    "dq_mutual_info" -> ((s, d) =>
      Quality.mutualInformation(
        eventCols(Tables.events(s, d)).withColumn("hod", hour(col("ts"))),
        "event_type", "hod")),
    // per-key OLS trend (r11): slope/intercept/R² from five exact
    // integer sums — the least-squares complement of events_theilsen
    "events_ols_trend" -> ((s, d) => {
      val grid = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
      Analytics.olsTrend(grid, "event_type", "hr", "cnt")
        .orderBy(col("event_type"))
    }),
    // seasonal-residual anomalies (r11): decompose, then the robust
    // MAD rule on the ROUNDED residual — "departure from the expected
    // shape", not "the daily peak again"
    "events_stl_anomaly" -> ((s, d) => {
      val grid = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
      Analytics.stlAnomaly(grid, "event_type", "hr", "cnt",
          seasonCol = hour(col("hr")), halfWindow = 12)
        .orderBy(col("event_type"), col("hr"))
    }),
    // per-key ACF at lags 1-3 over the hourly-count grid (r11):
    // every statistic an exact integer sum (the OLS discipline), one
    // double division per (key, lag)
    "events_acf" -> ((s, d) => {
      val grid = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
      Analytics.acf(grid, "event_type", "hr", "cnt", maxLag = 3)
        .orderBy(col("event_type"), col("lag"))
    }),
    // forecast-accuracy scorecard (r11): MAE/RMSE/sMAPE/MASE for the
    // naive and seasonal-naive baselines over the hourly grid — the
    // Hyndman-Koehler harness a fitted forecaster must beat
    "events_forecast_accuracy" -> ((s, d) => {
      val grid = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
      Analytics.forecastAccuracy(grid, "event_type", "hr", "cnt",
          season = 24)
        .orderBy(col("event_type"), col("model"))
    }),
    // M4 downsampling (r11): the hourly grid reduced to 6-hour pixel
    // columns keeping first/last/min/max — the error-free-at-pixel-
    // resolution reduction, one order-free group-by
    "events_m4_downsample" -> ((s, d) => {
      val grid = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
      Analytics.m4Downsample(grid, "event_type", "hr", "cnt",
          bucketSeconds = 6L * 3600)
        .orderBy(col("event_type"), col("ts"), col("value"))
    }),
    // inter-event burstiness per user (r11): B = (σ−μ)/(σ+μ) over
    // integer-second gaps — bots → −1, Poisson → 0, bursts → 1
    "events_burstiness" -> ((s, d) =>
      Analytics.burstiness(eventCols(Tables.events(s, d)),
          "user_id", "ts")
        .orderBy(col("user_id"))),
    // weekly growth accounting (r11): the new/retained/resurrected/
    // churned ledger + quick ratio — what a bare WAU curve hides
    "events_growth_accounting" -> ((s, d) =>
      Analytics.growthAccounting(eventCols(Tables.events(s, d)),
          "user_id", "ts")
        .orderBy(col("week_start"))),
    // per-user debounce (r11): keep an event only ≥6h after the last
    // KEPT one — a true recurrence on the last survivor (lag() sees
    // dropped rows too), folded in the one-exchange sorted pass
    "events_debounce" -> ((s, d) =>
      operators.Recurrence.debounce(eventCols(Tables.events(s, d)),
          "user_id", "event_id", "ts", gapSeconds = 21600L)
        .orderBy(col("user_id"), col("ts"), col("event_id"))),
    // price-volume-mix revenue bridge (r11): 1997→1998 shipped
    // revenue per brand decomposed into volume/price/cross effects —
    // exact-decimal sums, one double tree per effect
    "revenue_bridge" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .filter(year(col("l_shipdate")).isin(1997, 1998))
        .withColumn("period",
          when(year(col("l_shipdate")) === 1997, 0).otherwise(1))
        .withColumn("rev",
          col("l_extendedprice").cast("decimal(12,2)")
            * (lit(1) - col("l_discount").cast("decimal(12,2)")))
      val withBrand = li.join(
        Tables.part(s, d).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      Analytics.revenueBridge(withBrand, "p_brand", "period",
          "l_quantity", "rev")
        .orderBy(col("p_brand"))
    }),
    // Pettitt change-point test per event_type over the hourly-count
    // series (r11): rank-based U_t is exact integer arithmetic end to
    // end — only the final p-value touches a double
    "events_pettitt" -> ((s, d) => {
      val grid = Tables.events(s, d)
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("cnt"))
      operators.Recurrence.pettitt(grid, "event_type", "hr", "cnt")
        .orderBy(col("event_type"))
    }),
    // Kaplan-Meier time-to-first-purchase per user-parity cohort
    // (r11): duration = whole hours from a user's first event to
    // their first purchase, administratively CENSORED at the
    // 48-hour horizon — conversions past the window count as
    // at-risk exposure, never as events (the estimator's point)
    "events_survival" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_type"))
      val subj = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).as("__first"),
          min(when(col("event_type") === "purchase", col("ts"))).as("__fp"))
        .withColumn("__gap_h",
          (unix_timestamp(col("__fp")) - unix_timestamp(col("__first")))
            .divide(lit(3600)).cast("long"))
        .select(pmod(col("user_id"), lit(2)).as("cohort"),
          when(col("__gap_h") <= 48, col("__gap_h")).otherwise(lit(48L))
            .as("dur"),
          when(col("__gap_h") <= 48, lit(1L)).otherwise(lit(0L))
            .as("converted"))
      operators.Recurrence.kaplanMeier(subj, "cohort", "dur", "converted")
        .orderBy(col("cohort"), col("t_duration"))
    }),
    // Nelson-Aalen cumulative hazard over the SAME cohorts (r11):
    // the additive risk curve — integer risk sets, rounded-6/1e6-
    // scaled d/n increments, integer running sum (no recursion)
    "survival_hazard" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_type"))
      val subj = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).as("__first"),
          min(when(col("event_type") === "purchase", col("ts"))).as("__fp"))
        .withColumn("__gap_h",
          (unix_timestamp(col("__fp")) - unix_timestamp(col("__first")))
            .divide(lit(3600)).cast("long"))
        .select(pmod(col("user_id"), lit(2)).as("cohort"),
          when(col("__gap_h") <= 48, col("__gap_h")).otherwise(lit(48L))
            .as("dur"),
          when(col("__gap_h") <= 48, lit(1L)).otherwise(lit(0L))
            .as("converted"))
      operators.Recurrence.nelsonAalen(subj, "cohort", "dur", "converted")
        .orderBy(col("cohort"), col("t_duration"))
    }),
    // funnel step latency (r11): seconds between the funnel chain's
    // first-qualifying events per consecutive step pair — exact µs
    // gaps, double-tree mean, exact interpolated p50
    "events_funnel_latency" -> ((s, d) =>
      Analytics.funnelLatency(Tables.events(s, d), "user_id",
          "event_type", "ts", Seq("view", "click", "purchase"))
        .orderBy(col("step_from"))),
    // log-rank test over the SAME two survival cohorts (r11): is the
    // parity split's time-to-purchase difference real? — exact
    // integer risk sets, rounded-6/1e6-scaled per-time E/V terms
    // summed order-free, one double tree for z/χ²
    "survival_logrank" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_type"))
      val subj = ev.groupBy(col("user_id"))
        .agg(min(col("ts")).as("__first"),
          min(when(col("event_type") === "purchase", col("ts"))).as("__fp"))
        .withColumn("__gap_h",
          (unix_timestamp(col("__fp")) - unix_timestamp(col("__first")))
            .divide(lit(3600)).cast("long"))
        .select(pmod(col("user_id"), lit(2)).cast("string").as("cohort"),
          when(col("__gap_h") <= 48, col("__gap_h")).otherwise(lit(48L))
            .as("dur"),
          when(col("__gap_h") <= 48, lit(1L)).otherwise(lit(0L))
            .as("converted"))
      operators.Recurrence.logRank(subj, "cohort", "dur", "converted",
        "1", "0")
    }),
    // Theil-Sen robust trend per user (r9-cont): median of pairwise
    // slopes over the maxPoints most-recent points — the hard
    // per-key fan-out cap is part of the graded semantics
    "events_theilsen" -> ((s, d) =>
      Analytics.theilSenTrend(eventCols(Tables.events(s, d)),
          "user_id", "event_id", "ts", "value", maxPoints = 200)
        .orderBy(col("user_id"))),
    // dbt delete+insert incremental materialization, end to end: a
    // day-1 load, then a day-2 pass whose watermark delta carries
    // LATE UPDATES of already-loaded keys (%97 keys bumped +30d with
    // changed values) — stale versions must vanish, not duplicate
    "incr_model_delete_insert" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_incr_di")
      val tgt = s"$base/t"
      val ev = eventCols(Tables.events(s, d))
      val cutoff = lit(CdcCutoff).cast("timestamp")
      graft.pipeline.IncrementalModel.runDeleteInsert(s,
        ev.filter(col("ts") <= cutoff), tgt, "ts", Seq("event_id"))
      val upd = col("event_id") % 97 === 0
      val src = ev.select(col("user_id"), col("event_id"),
        when(upd, col("ts") + expr("INTERVAL 30 DAYS")).otherwise(col("ts")).as("ts"),
        col("event_type"),
        when(upd, col("value") + 1000.0).otherwise(col("value")).as("value"))
      graft.pipeline.IncrementalModel.runDeleteInsert(s, src, tgt, "ts",
        Seq("event_id"))
      s.read.parquet(tgt)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .orderBy(col("event_id"))
    }),
    // Jensen-Shannon categorical drift on event_type (ref = events
    // off the %5 slice, cur = on it — the dq_drift_psi split),
    // Laplace-smoothed over the union domain
    "dq_drift_js" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"))
      Quality.jsDrift(
          ev.filter(col("event_id") % 5 =!= 0),
          ev.filter(col("event_id") % 5 === 0), "event_type")
        .orderBy(col("category"))
    }),
    // key-skew screen on a join key: top-k heavy keys with share and
    // cumulative share — one grouped count + bounded TakeOrdered +
    // k-row window (measure-before-salting, the Skew companion)
    "dq_key_skew" -> ((s, d) =>
      Quality.keySkew(Tables.lineitem(s, d).select(col("l_suppkey")),
          "l_suppkey", topK = 50)
        .orderBy(col("rank"))),
    // frequent ORDERED event-type sequences (subsequence containment,
    // any gap): occurrence-statistics tests, |types|²-bounded fan-out,
    // Apriori-pruned broadcast triples
    "events_frequent_seqs" -> ((s, d) =>
      Analytics.frequentSequences(eventCols(Tables.events(s, d)),
          "user_id", "event_type", "ts", "event_id", minSupportFrac = 0.2)
        .orderBy(col("len"), col("p1"), col("p2"), col("p3"))),
    // incremental COUNT(DISTINCT) maintenance: distinct-pair state
    // folded with the delta must equal the full distinct recompute
    "mv_incremental_distinct" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("user_id"), col("event_id"))
      val cut = lit(8000L)
      val st = IncrementalAgg.initDistinct(
        ev.filter(col("event_id") < cut), Seq("event_type"), "user_id")
      IncrementalAgg.finalizeDistinct(
          IncrementalAgg.maintainDistinct(st, ev.filter(col("event_id") >= cut),
            Seq("event_type"), "user_id"),
          Seq("event_type"), "user_id")
        .orderBy(col("event_type"))
    }),
    // r8 wave 5: the HLL-sketch twin of mv_incremental_distinct — the
    // stated 100 TB fallback when even the distinct pair set is too
    // hot. Rows-only BY DESIGN (the sketch binary and its estimate
    // aren't DuckDB-portable); the fold ≡ one-shot-sketch equality and
    // the 5%-of-exact bracket are pinned in W5OpsSpec.
    "mv_incremental_distinct_hll" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("event_type"), col("user_id"), col("event_id"))
      val cut = lit(8000L)
      val st = IncrementalAgg.initDistinctSketch(
        ev.filter(col("event_id") < cut), Seq("event_type"), "user_id")
      IncrementalAgg.finalizeDistinctSketch(
          IncrementalAgg.maintainDistinctSketch(st,
            ev.filter(col("event_id") >= cut), Seq("event_type"), "user_id"),
          Seq("event_type"))
        .orderBy(col("event_type"))
    }),
    // transparent MV QUERY-REWRITE graded end-to-end: a copy of the
    // events fact gets an IncrementalAgg state + MvCatalog
    // registration; the query is the PLAIN aggregate over the fact —
    // MvRewrite must answer it from the state (asserted eagerly on
    // the optimized plan, so the entry FAILS rather than silently
    // grading the unrewritten scan), and the answer must equal the
    // DuckDB recompute over the original events table. Exercises the
    // subset-grain path (state at (user_id, event_type), query at
    // event_type) plus a group-key filter.
    "mv_rewrite" -> ((s, d) => {
      import graft.plans.{MvCatalog, MvRewrite}
      import org.apache.spark.sql.execution.datasources.LogicalRelation
      val base = graft.TempDirs.create("graft_mvrw_")
      val factPath = s"$base/fact"; val statePath = s"$base/state"
      val keys = Seq("user_id", "event_type")
      Tables.events(s, d).select(col("user_id"), col("event_type"), col("value"))
        .write.parquet(factPath)
      IncrementalAgg.init(s.read.parquet(factPath), keys, "value")
        .write.parquet(statePath)
      MvCatalog.register(s,
        MvCatalog.MvDef(factPath, keys, "value", statePath))
      val df = s.read.parquet(factPath)
        .filter(col("event_type") =!= lit("__none__"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("value").cast("decimal(18,6)")).as("sum_value"),
          min(col("value")).as("min_value"),
          max(col("value")).as("max_value"))
        .withColumn("sum_value", col("sum_value").cast("double"))
        .orderBy(col("event_type"))
      // non-vacuous: the optimized plan must read the STATE, not the
      // fact — a rewrite that fails to fire fails the graded entry
      val scans = df.queryExecution.optimizedPlan.collect {
        case r: LogicalRelation => r
      }.flatMap(_.relation match {
        case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          fs.location.rootPaths.map(_.toUri.getPath)
        case _ => Seq.empty
      })
      require(scans.exists(_.contains("/state")) && !scans.exists(_.contains("/fact")),
        s"MvRewrite did not fire: scans=$scans " +
          s"(enabled=${s.conf.get(MvRewrite.EnabledConf, "true")})")
      df
    }),
    // streaming versioned MV graded batch-side (§2.6): two
    // microbatches fold into the Versioned aggregate state, one
    // atomic version each; the final finalized read must equal the
    // batch mv_incremental oracle (decimal partials make the fold
    // arithmetic exact)
    "stream_mv_versioned" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_mv")
      val inDir = s"$base/in"; val root = s"$base/state"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
        .select(col("user_id"), col("event_type"), col("value"), col("ts"))
      val cutoff = lit(CdcCutoff).cast("timestamp")
      graft.StreamFixtures.land(s"evUTV_le_cutoff:$d",
        ev.filter(col("ts") <= cutoff).drop("ts"), inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val q = graft.streaming.EventStream.maintainAggVersioned(
        ss.readStream.schema(s.read.parquet(inDir).schema).parquet(inDir),
        root, ckpt, Seq("user_id", "event_type"), "value")
      try {
        q.processAllAvailable()
        graft.StreamFixtures.land(s"evUTV_gt_cutoff:$d",
          ev.filter(col("ts") > cutoff).drop("ts"), inDir)
        q.processAllAvailable()
      } finally q.stop()
      IncrementalAgg.finalize(graft.sources.Versioned.read(s, root))
        .select(col("user_id"), col("event_type"), col("n_rows"),
          col("sum_value"), col("min_value"), col("max_value"), col("avg_value"))
        .orderBy(col("user_id"), col("event_type"))
    }),
    // streaming unbounded EWMA graded batch-side (§2.6): the true
    // recurrence no batch window computes, replayed bit-exact by a
    // recursive CTE (α = 0.5 → every step is one exact scale + one
    // identically-ordered add)
    // streaming debounce graded batch-side (r11, §2.6): the
    // last-survivor clock carries across the cutoff-split
    // microbatches; sink ≡ batch Recurrence.debounce row-for-row,
    // so it shares events_debounce's recursive-CTE oracle
    // streaming funnel graded batch-side (r11, §2.6): two microbatches
    // split at the cutoff; per-user (stage, t_first, t_last) state
    // must carry across the boundary (a user's view can land in batch
    // 1 and the click completing the chain in batch 2); the sink's
    // max-version row per user is the current view and must equal the
    // batch fold — the oracle is events_funnel's, verbatim
    "stream_funnel" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_fn")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
      val cutoff = lit(CdcCutoff).cast("timestamp")
      graft.StreamFixtures.land(s"ev_le_cutoff:$d",
        ev.filter(col("ts") <= cutoff), inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val q = graft.streaming.EventStream.funnel(
          graft.streaming.EventStream.read(ss, inDir),
          Seq("view", "click", "purchase"))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).start()
      try {
        q.processAllAvailable()
        graft.StreamFixtures.land(s"ev_gt_cutoff:$d",
          ev.filter(col("ts") > cutoff), inDir)
        q.processAllAvailable()
      } finally q.stop()
      val out = s.read.parquet(outDir)
      val mx = out.groupBy(col("user_id")).agg(max(col("version")).as("version"))
      out.join(mx, Seq("user_id", "version"))
        .select(col("user_id"), col("stage"), col("t_first"), col("t_last"))
        .orderBy(col("user_id"))
    }),
    "stream_debounce" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_db")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
      val cutoff = lit(CdcCutoff).cast("timestamp")
      graft.StreamFixtures.land(s"ev_le_cutoff:$d",
        ev.filter(col("ts") <= cutoff), inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val q = graft.streaming.EventStream.debounce(
          graft.streaming.EventStream.read(ss, inDir),
          gapSeconds = 21600L)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).start()
      try {
        q.processAllAvailable()
        graft.StreamFixtures.land(s"ev_gt_cutoff:$d",
          ev.filter(col("ts") > cutoff), inDir)
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(outDir)
        .select(col("user_id"), col("event_id"), col("ts"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    }),
    "stream_ewma" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_ew")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
      val cutoff = lit(CdcCutoff).cast("timestamp")
      graft.StreamFixtures.land(s"ev_le_cutoff:$d",
        ev.filter(col("ts") <= cutoff), inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val q = graft.streaming.EventStream.ewma(
          graft.streaming.EventStream.read(ss, inDir), alpha = 0.5)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).start()
      try {
        q.processAllAvailable()
        graft.StreamFixtures.land(s"ev_gt_cutoff:$d",
          ev.filter(col("ts") > cutoff), inDir)
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(outDir)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("value"), col("ewma"))
        .orderBy(col("user_id"), col("event_id"))
    }),
    // streaming Holt smoothing graded batch-side (r9-cont, §2.6):
    // level/trend state carries across the cutoff-split microbatches;
    // sink must equal batch Recurrence.holtWinters bit-for-bit
    "stream_holt_winters" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_hw")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
      val cutoff = lit(CdcCutoff).cast("timestamp")
      graft.StreamFixtures.land(s"ev_le_cutoff:$d",
        ev.filter(col("ts") <= cutoff), inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val q = graft.streaming.EventStream.holtWinters(
          graft.streaming.EventStream.read(ss, inDir))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).start()
      try {
        q.processAllAvailable()
        graft.StreamFixtures.land(s"ev_gt_cutoff:$d",
          ev.filter(col("ts") > cutoff), inDir)
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(outDir)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"),
          col("level"), col("trend"))
        .orderBy(col("user_id"), col("event_id"))
    }),
    // streaming SEASONAL Holt-Winters graded batch-side (r10, §2.6):
    // grid rows stream in two microbatches split at the cutoff (whole
    // buckets only — the grid is built once from all events); level,
    // trend AND the 24-slot seasonal ring must carry across the batch
    // boundary, sink ≡ the batch operator (shared recursive-CTE oracle)
    "stream_holt_winters_seasonal" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_hs")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
      val grid = ev.groupBy(col("event_type").as("key"),
          date_trunc("hour", col("ts")).as("bucket"))
        .agg(count(lit(1)).cast("double").as("x"))
        .withColumn("slot",
          (floor(col("bucket").cast("long") / 3600L) % 24).cast("int"))
        .select(col("key"), col("bucket"), col("x"), col("slot"))
      val cutoff = lit(CdcCutoff).cast("timestamp")
      graft.StreamFixtures.land(s"hsgrid_le_cutoff:$d",
        grid.filter(col("bucket") <= cutoff), inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val stream = ss.readStream.schema(grid.schema).parquet(inDir)
      val q = graft.streaming.EventStream.holtWintersSeasonal(stream, 24)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).start()
      try {
        q.processAllAvailable()
        graft.StreamFixtures.land(s"hsgrid_gt_cutoff:$d",
          grid.filter(col("bucket") > cutoff), inDir)
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(outDir)
        .select(col("event_type"), col("bucket"), col("slot"), col("x"),
          col("level"), col("trend"), col("seasonal"))
        .orderBy(col("event_type"), col("bucket"))
    }),
    // streaming CUSUM graded batch-side (r9-cont, §2.6): two
    // microbatches split at the CDC cutoff; the accumulators must
    // carry across the batch boundary and the sink must equal the
    // batch Recurrence.cusum bit-for-bit (shared oracle)
    "stream_cusum" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_cu")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
      val cutoff = lit(CdcCutoff).cast("timestamp")
      graft.StreamFixtures.land(s"ev_le_cutoff:$d",
        ev.filter(col("ts") <= cutoff), inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val q = graft.streaming.EventStream.cusum(
          graft.streaming.EventStream.read(ss, inDir),
          target = 100.0, slack = 25.0, h = 200.0)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).start()
      try {
        q.processAllAvailable()
        graft.StreamFixtures.land(s"ev_gt_cutoff:$d",
          ev.filter(col("ts") > cutoff), inDir)
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(outDir)
        .select(col("user_id"), col("event_id"), col("ts"), col("value"),
          col("cusum_pos"), col("cusum_neg"), col("breach"))
        .orderBy(col("user_id"), col("event_id"))
    }),
    // streaming last-touch attribution graded batch-side (§2.6): two
    // microbatches split at the CDC cutoff; the final sink must equal
    // the BATCH attribution oracle (state carries the latest touch
    // across the batch boundary)
    "stream_attribution" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_at")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
      val cutoff = lit(CdcCutoff).cast("timestamp")
      graft.StreamFixtures.land(s"ev_le_cutoff:$d",
        ev.filter(col("ts") <= cutoff), inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val q = graft.streaming.EventStream.attribution(
          graft.streaming.EventStream.read(ss, inDir),
          touchTypes = Seq("click", "view"), convType = "purchase")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).start()
      try {
        q.processAllAvailable() // microbatch 1: ≤ cutoff
        graft.StreamFixtures.land(s"ev_gt_cutoff:$d",
          ev.filter(col("ts") > cutoff), inDir)
        q.processAllAvailable() // microbatch 2: the rest
      } finally q.stop()
      s.read.parquet(outDir)
        .select(col("user_id"), col("conv_id"), col("conv_ts"),
          col("touch_id"), col("touch_ts"))
        .orderBy(col("conv_id"))
    }),
    // SemDeDup-style semantic near-dup pairs: IVF cells (the graded
    // deterministic first-16 quantizer) + within-cell cosine — the
    // cluster-blocked modality beside the LSH one
    "dedup_semantic" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val cents = embs.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt,
          r.getSeq[Float](1).map(_.toDouble).toSeq))
        .sortBy(_._1).toSeq
      Dedup.semanticDedup(embs, "vec_id", "embedding", cents, threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- r12 wave ----
    // Croston + SBA intermittent-demand forecast (r12): monthly
    // shipped quantity per slow-moving part (pk-sampled 1/40) on the
    // zero-filled month grid — size and interval smoothed separately
    // (the Holt recurrence systematically undershoots sparse demand),
    // all-dyadic fold, outputs unrounded and bit-exact vs the
    // recursive-CTE replay
    "demand_croston" -> ((s, d) =>
      operators.Recurrence.crostonSba(crostonDemandGrid(s, d),
          "part", "month_start", "qty")
        .orderBy(col("part"), col("month_start"))),
    // the CONTINUOUS Croston twin (r12, §2.6): the demand grid lands
    // in two microbatches split at a mid month — (z, p, q, seeded)
    // must carry across the batch boundary and the sink equal the
    // batch fold bit-for-bit (demand_croston's oracle verbatim)
    "stream_croston" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_cro")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val grid = crostonDemandGrid(s, d)
      val cutoff = lit("1995-01-01 00:00:00").cast("timestamp")
      graft.StreamFixtures.land(s"crogrid_le_cutoff:$d",
        grid.filter(col("month_start") <= cutoff), inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val q = graft.streaming.EventStream.croston(
          ss.readStream.schema(
            "part BIGINT, month_start TIMESTAMP, qty BIGINT")
            .parquet(inDir))
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).start()
      try {
        q.processAllAvailable()
        graft.StreamFixtures.land(s"crogrid_gt_cutoff:$d",
          grid.filter(col("month_start") > cutoff), inDir)
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(outDir)
        .select(col("part"), col("month_start"), col("qty"),
          col("z_size"), col("p_interval"), col("croston"), col("sba"))
        .orderBy(col("part"), col("month_start"))
    }),
    // deterministic k-means over RFM scores (r12): Lloyd rounds with
    // literal corner seeding, 1e6 fixed-point centroids re-rounded
    // per round (ONE k-bounded driver pull each — the IVF collect
    // discipline), assignment a pure codegen'd argmin over literal
    // centroids: zero joins on the data path
    "customer_kmeans" -> ((s, d) => {
      val scores = Analytics.rfm(Tables.orders(s, d))
        .select(col("o_custkey"), col("r_score").cast("long").as("r_score"),
          col("f_score").cast("long").as("f_score"),
          col("m_score").cast("long").as("m_score"))
      operators.KMeans.fit(scores, "o_custkey",
          Seq("r_score", "f_score", "m_score"),
          init = Seq(Seq(1.0, 1.0, 1.0), Seq(5.0, 5.0, 5.0),
            Seq(5.0, 1.0, 1.0), Seq(1.0, 5.0, 5.0)),
          rounds = 5)._1
        .orderBy(col("o_custkey"))
    }),
    // RESTORE TABLE TO VERSION (r12): metadata-only rollback AS A
    // NEW COMMIT — the restored head must equal v1 byte-for-byte
    // while v2 stays intact underneath (history preserved for the
    // post-mortem; nothing rewound or deleted)
    "versioned_restore" -> ((s, d) => {
      val dir = graft.TempDirs.create("graft_vre_")
      val t0 = lit("2026-01-01 00:00:00").cast("timestamp")
      val t1 = lit("2026-02-01 00:00:00").cast("timestamp")
      val base = Models.stgCustomer(s, d).select(col("customer_id"),
        col("customer_name"), col("account_balance"), col("market_segment"))
      val v1rows = base.filter(col("customer_id") % 2 === 0)
        .withColumn("updated_at", t0)
      require(graft.sources.Versioned.commit(v1rows, dir) == 1)
      val updates = base.filter(col("customer_id") % 4 === 0)
        .withColumn("account_balance", col("account_balance") + 1000.0)
        .withColumn("updated_at", t1)
        .unionByName(base
          .filter(col("customer_id") % 2 === 1 && col("customer_id") % 3 === 0)
          .withColumn("updated_at", t1))
      require(graft.sources.Versioned.upsert(updates, dir,
        Seq("customer_id"), "updated_at") == 2)
      val v3 = graft.sources.Versioned.restore(s, dir, toVersion = 1)
      require(v3 == 3, s"restore must publish a NEW version, got $v3")
      graft.sources.Versioned.read(s, dir) // the restored HEAD = v1
        .withColumn("version_tag", lit("restored"))
        .unionByName(graft.sources.Versioned.read(s, dir, Some(2))
          .withColumn("version_tag", lit("v2_intact")))
        .orderBy(col("version_tag"), col("customer_id"))
    }),
    // fraction-per-stratum hash sample (r12): the last ungraded
    // sampler — per-stratum xxhash64 thresholds, membership a pure
    // function of (id, seed), oracled through the xxHash64 SQL chain
    "sample_stratified_frac" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .select(col("doc_id"),
          concat(lit("s"), pmod(col("doc_id"), lit(3))).as("stratum"))
      Sampling.stratifiedSample(docs, "doc_id", "stratum",
          fractions = Map("s0" -> 0.5, "s1" -> 0.2, "s2" -> 0.8))
        .orderBy(col("doc_id"))
    }),
    // Mann-Kendall monotone-trend test per event type (r12): the
    // significance half of the Theil-Sen pairing — S and the
    // tie-corrected variance as exact integers over weekly volumes,
    // one continuity-corrected z
    "events_mann_kendall" -> ((s, d) => {
      val wk = (datediff(date_trunc("week", col("ts")).cast("date"),
        lit("1970-01-05").cast("date")) / 7).cast("long")
      val weekly = eventCols(Tables.events(s, d))
        .select(col("event_type"), wk.as("week"))
        .groupBy(col("event_type"), col("week"))
        .agg(count(lit(1)).as("n"))
      Analytics.mannKendall(weekly, "event_type", "week", "n")
        .orderBy(col("event_type"))
    }),
    // Wald SPRT on the conversion stream (r12): the sequential
    // always-valid A/B decision — exact integer LLR cumsums against
    // 1e6-scaled boundary literals shared with the oracle
    "ab_sprt" -> ((s, d) =>
      Quality.sprtBernoulli(
        eventCols(Tables.events(s, d)).select(
          pmod(col("user_id"), lit(2)).cast("string").as("variant"),
          col("event_id"),
          (col("event_type") === "purchase").as("converted")),
        "variant", "event_id", "converted", p0 = 0.18, p1 = 0.22)
        .orderBy(col("variant"))),
    // the CONTINUOUS SPRT (r12, §2.6): the decision emits in the
    // microbatch the boundary is crossed; input split on event_id
    // (the fold order), sink = the batch test restricted to crossed
    // variants (ab_sprt's oracle with that one filter)
    "stream_sprt" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_sp")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
      // SF-independent split point: one driver scalar (the bootstrap
      // discipline), half the id range per microbatch
      val cut = lit(graft.StreamFixtures.scalar(s"ev_maxid:$d") {
        java.lang.Long.valueOf(ev.agg(max(col("event_id"))).head.getLong(0))
      }.longValue / 2)
      graft.StreamFixtures.land(s"evID_le_half:$d",
        ev.filter(col("event_id") <= cut), inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val q = graft.streaming.EventStream.sprt(
          graft.streaming.EventStream.read(ss, inDir),
          p0 = 0.18, p1 = 0.22, convType = "purchase")
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .format("parquet").option("path", outDir).start()
      try {
        q.processAllAvailable()
        graft.StreamFixtures.land(s"evID_gt_half:$d",
          ev.filter(col("event_id") > cut), inDir)
        q.processAllAvailable()
      } finally q.stop()
      s.read.parquet(outDir)
        .select(col("variant"), col("decision"), col("n_obs"),
          col("successes"), col("llr"))
        .orderBy(col("variant"))
    }),
    // Count-Min sketch frequency estimation (r12): d=4 × w=1024
    // integer cells, md5-bucketed; graded as (term, exact, estimate)
    // over the exact top-20 so est ≥ exact is itself verified
    "corpus_cms_counts" -> ((s, d) =>
      functions.Text.cmsTermCounts(Tables.documents(s, d), "doc_id",
        "text", depth = 4, width = 1024, topK = 20)),
    // contrastive hard-negative mining (r12): per labeled query
    // vector, the top-8 most-similar corpus vectors with a DIFFERENT
    // label — the brute scoring stream with the label-inequality
    // filter riding it
    "ann_hard_negatives" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      Similarity.hardNegatives(embs,
          embs.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", "label", k = 8)
        .orderBy(col("query_id"), col("rank"))
    }),
    // MAINTAINED tf-idf index (r12): two corpus halves' per-(doc,term)
    // tf frames unioned (doc-disjoint ⇒ no merge; df/N re-derive as
    // exact integer adds inside the scorer) must answer exactly like
    // the full re-scan — corpus_tfidf_topk's oracle verbatim
    "corpus_tfidf_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val i1 = functions.Text.tfidfIndexFrame(
        docs.filter(col("doc_id") < 250), "doc_id", "text")
      val i2 = functions.Text.tfidfIndexFrame(
        docs.filter(col("doc_id") >= 250), "doc_id", "text")
      functions.Text.tfidfCosineTopKIndexed(i1.unionByName(i2),
          queryTerms = Seq("spark", "hash", "join"), k = 50)
        .orderBy(col("rank"))
    }),
    // deterministic bootstrap CI for the A/B mean difference (r12):
    // 200 md5-seeded with-replacement resamples per variant, exact
    // decimal sums, percentile CI — the nonparametric companion to
    // ab_welch_t, fully replayed (draws included) by the oracle
    "ab_bootstrap" -> ((s, d) =>
      Quality.bootstrapMeanDiff(
        eventCols(Tables.events(s, d))
          .select(pmod(col("user_id"), lit(2)).cast("string").as("variant"),
            col("event_id"), col("value")),
        "variant", "event_id", "value", groupA = "1", groupB = "0",
        resamples = 200)),
    // vector-space cosine retrieval over tf-idf (r12): fixed-point
    // 1e6-scaled weights make dot and norms order-free exact integer
    // sums; ranking on the rounded cosine, lower doc id on ties
    "corpus_tfidf_topk" -> ((s, d) =>
      functions.Text.tfidfCosineTopK(Tables.documents(s, d), "doc_id",
          "text", queryTerms = Seq("spark", "hash", "join"), k = 50)
        .orderBy(col("rank"))),
    // generalized ESD outlier screen (r12): 5 unrolled
    // remove-and-re-estimate rounds over per-type daily volumes —
    // exact-integer argmax per round, studentized deviate emitted
    // unrounded
    "dq_anomaly_esd" -> ((s, d) => {
      val daily = eventCols(Tables.events(s, d))
        .select(col("event_type"),
          datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
            .cast("long").as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"))
      Quality.esdOutliers(daily, "event_type", "day", "n", rounds = 5)
        .orderBy(col("event_type"), col("esd_round"))
    }),
    // pair-set evaluation scorecard (r12): MinHash-LSH's verified
    // pairs measured against the exact PPJoin n-gram Jaccard truth
    // set — banding recall made a graded number (precision is
    // structurally ≤ 1.0 only through the df-cap asymmetry; the
    // oracle replays BOTH pipelines and the same confusion counts)
    "dedup_eval" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.evalPairs(
        Dedup.minHashLsh(docs, "doc_id", "text", n = 3, numHashes = 32,
          bands = 16, threshold = 0.5,
          shingleHash = functions.Text.portableHash60),
        Dedup.ngramJaccard(docs, "doc_id", "text", n = 3, threshold = 0.5,
          maxDocFreq = 1000))
    }),
  )
}
