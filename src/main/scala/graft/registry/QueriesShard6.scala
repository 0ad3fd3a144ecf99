package graft

import graft.operators._
import graft.pipeline.Analytics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query-registry shard 6 — the r13 wave (RegistrySpec's shard-size
  * ceiling means a new wave opens a new shard instead of appending).
  * [[SparkEntry.queries]] composes the shards. */
private[graft] object QueriesShard6 {
  val m: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- the 100 TB weak-labeling path (r12 verdict ask #2) ----
    // knnLabelVote is ranker-agnostic; this key feeds it from
    // ivfTopKIndexed over a PERSISTED index (the ann_ivf_incr_topk
    // store-hop discipline) instead of the |corpus|x|batch| brute
    // ranker — converting the knnLabel scaladoc's "at 100 TB swap
    // the ranker for ivfTopKIndexed" claim into a hash-green row.
    // Quantizer = the deterministic first-16 pick so the whole path
    // (assignment, nprobe=4 probing, exact-cosine rerank, integer
    // vote) replays in SQL.
    "ann_knn_label_ivf" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val labeled = embs.filter(col("vec_id") % 50 =!= 0)
      val unlabeled = embs.filter(col("vec_id") % 50 === 0)
      val cents = embs.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt,
          r.getSeq[Float](1).map(_.toDouble).toSeq))
        .sortBy(_._1).toSeq
      val store = graft.TempDirs.create("graft_knnivf_") + "/t"
      Similarity.ivfIndexFrame(labeled, "vec_id", "embedding", cents)
        .write.parquet(store)
      val neighbors = Similarity.ivfTopKIndexed(s.read.parquet(store),
        unlabeled, "embedding", "vec_id", k = 10, centroids = cents,
        nprobe = 4)
      Similarity.knnLabelVote(neighbors, labeled, "vec_id", "label")
        .orderBy(col("vec_id"))
    }),

    // ---- sketch-based quantile normalization (r12 verdict ask #3) ----
    // the 100 TB path of quality_quantile_norm: global side = ONE
    // approx_percentile sketch (no global sort); sketch quantiles are
    // not SQL-portable, so the key grades rows-only and
    // QualitySpec pins exact-vs-approx agreement (endpoint equality,
    // in-group monotonicity, bounded rank distance)
    "quality_quantile_norm_approx" -> ((s, d) =>
      Quality.quantileNormalizeApprox(
          Tables.documents(s, d).select(col("doc_id"), col("source"),
            col("n_chars")),
          "source", "n_chars", "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("norm_value"))
        .orderBy(col("doc_id"))),

    // ---- graded multimodal VIDEO path (r12 verdict ask #6) ----
    // round-trip grading: containers are SYNTHESIZED with parameters
    // derived from doc_id, the parse must recover exactly them, and
    // the oracle replays the parameters in SQL — a green row proves
    // the full byte path (synth -> binary column -> box walk).
    // Timescale/duration vary (90 kHz v1 boxes every 5th id) so the
    // 64-bit mvhd arm and the ms conversion are graded, not just
    // the happy path.
    "multimodal_video_meta" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val durMs = 500L + (id % 97) * 250L
          val v1 = id % 5 == 0
          val ts = if (v1) 90000 else 1000
          val dur = if (v1) durMs * 90L else durMs
          graft.multimodal.MediaRow(id, "video",
            graft.multimodal.Multimodal.synthMp4(
              ts, dur,
              160 + (id % 20).toInt * 16, 90 + (id % 12).toInt * 9,
              if (id % 2 == 0) "avc1" else "hev1",
              if (id % 3 == 0) "mp42" else "isom", mvhdV1 = v1),
            0, 0, 0L)
        }
      graft.multimodal.Multimodal.videoMetadata(media)
        .orderBy(col("media_id"))
    }),

    // frame sampling over synthesized MJPEG-AVI containers: 25 fps
    // cadence (40 ms/frame), everyMs=120 -> every 3rd frame; frame
    // payloads are SOI-marker + "frame:<id>:<no>" so the emitted
    // byte length replays in SQL (the RIFF walk must find the movi
    // chunks for any row to exist at all)
    "multimodal_frame_sample" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val frames = (0 until (2 + (id % 7).toInt)).map { f =>
            Array[Byte](0xff.toByte, 0xd8.toByte) ++
              s"frame:$id:$f".getBytes("UTF-8")
          }
          graft.multimodal.MediaRow(id, "video",
            graft.multimodal.Multimodal.synthMjpegAvi(frames), 0, 0, 0L)
        }
      graft.multimodal.Multimodal.frameSample(media, everyMs = 120)
        .select(col("media_id"), col("frame_no"),
          octet_length(col("frame")).as("n_frame_bytes"))
        .orderBy(col("media_id"), col("frame_no"))
    }),

    // ---- percentile-bucket RFM (r12 verdict ask #7) ----
    // row-identical to customer_rfm by the exact-ntile construction,
    // with zero SinglePartition exchanges — graded against the same
    // oracle to PROVE the equality at sf, not just claim it
    "customer_rfm_bucketed" -> ((s, d) =>
      Analytics.rfmBucketed(Tables.orders(s, d))
        .orderBy(col("o_custkey"))),

    // ---- grid-blocked planar radius join ----
    // deterministic micro-degree coordinates derived from the
    // customer key (the multimodal round-trip discipline: synth
    // params replay in SQL), radius 20k units in a 1e6-unit box;
    // the oracle states the DEFINITIONAL O(n^2) cross join — the
    // gate proves the 3x3 grid blocking loses nothing
    "geo_radius_join" -> ((s, d) => {
      val pts = Tables.customer(s, d).select(col("c_custkey"),
        pmod(col("c_custkey") * lit(7919L), lit(1000000L)).as("x"),
        pmod(col("c_custkey") * lit(104729L), lit(1000000L)).as("y"))
      Geo.radiusJoin(pts, "c_custkey", pts, "c_custkey", "x", "y",
          radius = 20000L, selfJoin = true)
        .orderBy(col("left_id"), col("right_id"))
    }),

    // ---- exact rolling median per user (window 7) ----
    "events_rolling_median" -> ((s, d) =>
      Analytics.rollingMedian(Tables.events(s, d), "user_id", "ts",
          "event_id", "value", window = 7)
        .orderBy(col("user_id"), col("event_id"))),

    // ---- trimmed/winsorized mean per order priority ----
    "dq_robust_mean" -> ((s, d) =>
      Quality.robustMean(Tables.orders(s, d), "o_orderpriority",
          "o_totalprice", "o_orderkey", trimFrac = 0.05)
        .orderBy(col("o_orderpriority"))),

    // ---- Tukey IQR outlier fences per event type ----
    "dq_outlier_iqr" -> ((s, d) =>
      Quality.iqrOutliers(Tables.events(s, d), "event_type", "event_id",
          "value")
        .orderBy(col("event_type"), col("event_id"))),

    // ---- G-test of independence (chi2's LLR companion) ----
    "dq_gtest" -> ((s, d) =>
      Quality.gTest(Tables.customer(s, d), "c_mktsegment", "c_nationkey")),

    // ---- Cohen's kappa: labeled lang vs the lang-ID heuristic ----
    // chance-corrected agreement — the scalar readout of
    // lang_id_confusion; the closed form is ONE exact integer
    // division, no rounding anywhere
    "dq_cohens_kappa" -> ((s, d) =>
      Quality.cohensKappa(
        Tables.documents(s, d)
          .select(col("lang"), functions.Text.langId(col("text"))
            .as("lang_pred")),
        "lang", "lang_pred")),

    // ---- per-source JSD from the corpus distribution ----
    "corpus_source_divergence" -> ((s, d) =>
      functions.Text.sourceDivergence(Tables.documents(s, d),
          "source", "text")
        .orderBy(col("source"))),

    // ---- incremental keep-best maintenance ----
    // the last ScalaTest-only dedup item converted to a graded row:
    // day-1 keepers + labels fold with day-2 docs/pairs; the fold is
    // provably ≡ the full keepBest (incremental CC shares the full
    // labeling, and a day-1 non-keeper can never beat its own
    // cluster's keeper, so the merged argmax sees every possible
    // winner) — the dedup_keep_best oracle grades it verbatim
    "dedup_keep_best_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val scored = docs.select(col("doc_id"),
        functions.Text.tokenCountWs(col("text")).as("n_words"))
      val pairs = graft.Par.persistTracked(
        Dedup.ngramJaccard(docs, "doc_id", "text",
          n = 3, threshold = 0.5, maxDocFreq = 1000))
      val cut = lit(250L)
      val day1Pairs = pairs.filter(col("id_a") < cut && col("id_b") < cut)
      val day2Pairs = pairs.filter(!(col("id_a") < cut && col("id_b") < cut))
      val labels1 = Dedup.connectedComponents(day1Pairs)
      val keepers1 = Dedup.keepBestPerCluster(
        scored.filter(col("doc_id") < cut), "doc_id", day1Pairs, "n_words")
      val (keepers2, _) = Dedup.keepBestPerClusterIncremental(
        keepers1, labels1, scored.filter(col("doc_id") >= cut), day2Pairs,
        "doc_id", "n_words")
      keepers2.select(col("comp"), col("doc_id").as("keeper_id"),
          col("n_words"))
        .orderBy(col("comp"))
    }),

    // ---- Heaps'-law vocabulary-growth fit (corpus_zipf's twin) ----
    "corpus_heaps" -> ((s, d) =>
      functions.Text.heapsFit(Tables.documents(s, d), "doc_id", "text",
        points = 32)),

    // ---- Fellegi–Sunter match scoring ----
    // (nation, custkey%8)-blocked customer pairs scored on (name
    // edit<=2, segment exact, balance within 10.00) with the error
    // model's 1e6-scaled integer log-weights shared with the oracle —
    // the sprtConstants6 discipline applied to record linkage.
    // Block DENSITY re-scoped with the %8 slice (the er_fuzzy_pairs
    // precedent): nation-only blocks at sf0.1 are 600 rows wide —
    // 4.5M candidate pairs, 48 s of pure levenshtein emission; the
    // slice grades the identical scoring at bounded density
    "er_fs_scores" -> ((s, d) => {
      import Linkage.FsComparator._
      Linkage.fellegiSunter(Tables.customer(s, d), "c_custkey",
          concat_ws(":", col("c_nationkey"),
            pmod(col("c_custkey"), lit(8))),
          Seq((Edit("c_name", 2), 0.9, 0.001),
            (Exact("c_mktsegment"), 0.95, 0.2),
            (Tolerance("c_acctbal", BigDecimal("10.00")), 0.8, 0.01)),
          upper = 5.0, lower = 0.0)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // incremental FS door: stored = even custkeys, batch = odd —
    // only batch-touching pairs scored, output ≡ the full self-join
    // restricted to pairs with an odd side (the dedup_minhash_incr
    // equivalence shape; oracle = er_fs_scores restricted)
    "er_fs_scores_incr" -> ((s, d) => {
      import Linkage.FsComparator._
      val c = Tables.customer(s, d)
      Linkage.fellegiSunterIncremental(
          c.filter(col("c_custkey") % 2 === 0),
          c.filter(col("c_custkey") % 2 =!= 0),
          "c_custkey", concat_ws(":", col("c_nationkey"),
            pmod(col("c_custkey"), lit(8))),
          Seq((Edit("c_name", 2), 0.9, 0.001),
            (Exact("c_mktsegment"), 0.95, 0.2),
            (Tolerance("c_acctbal", BigDecimal("10.00")), 0.8, 0.01)),
          upper = 5.0, lower = 0.0)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // ---- experimentation-stats wave 2 ----
    // Kruskal–Wallis per hour-of-day: do the five event types' value
    // distributions differ — the k-group rung above ab_mannwhitney,
    // same doubled-tie-averaged integer ranks, per-group
    // contributions r6-scaled and integer-summed
    "ab_kruskal_wallis" -> ((s, d) =>
      Quality.kruskalWallis(
          EntryHelpers.eventCols(Tables.events(s, d))
            .withColumn("hod", hour(col("ts"))),
          "hod", "event_type", "value")
        .orderBy(col("hod"))),

    // Brown–Forsythe per hour-of-day: variance-equality screen on
    // the same frame — |value − group median| deviations (round-6
    // guarded medians), exact integer z6 sums, ANOVA F
    "ab_brown_forsythe" -> ((s, d) =>
      Quality.brownForsythe(
          EntryHelpers.eventCols(Tables.events(s, d))
            .withColumn("hod", hour(col("ts"))),
          "hod", "event_type", "value")
        .orderBy(col("hod"))),

    // Benjamini–Hochberg step-up over the 24 hourly Mann–Whitney
    // tests: z → two-sided p via the A&S 26.2.17 closed form, then
    // the FDR correction — the readout layer every per-key test
    // family needs before anyone acts on it
    "dq_bh_fdr" -> ((s, d) => {
      val mw = Quality.mannWhitney(
        EntryHelpers.eventCols(Tables.events(s, d))
          .withColumn("hod", hour(col("ts"))),
        "hod", "event_type", "value", "purchase", "view")
      Quality.bhCorrect(
          mw.filter(col("z").isNotNull)
            .select(col("hod"), Quality.zToPTwoSided(col("z")).as("p")),
          "hod", "p", alpha = 0.05)
        .orderBy(col("rank"))
    }),

    // closed-form power/MDE per event type on the ab_welch_t frame:
    // what effect is detectable NOW, and what n/arm would 5% need —
    // z quantiles as literals, welch-style exact integer stats
    "ab_power_mde" -> ((s, d) => {
      val units = Tables.events(s, d)
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("grp", pmod(col("user_id"), lit(2)).cast("string"))
      Quality.powerMde(units, "event_type", "grp", "n_events", "1", "0")
        .orderBy(col("event_type"))
    }),

    // balanced per-class downsample: every lang keeps exactly the
    // minority lang's count, membership the deterministic
    // hash-smallest (the sampler family's stability contract)
    "sample_balanced" -> ((s, d) =>
      Sampling.balancedSample(Tables.documents(s, d), "doc_id", "lang")
        .select(col("doc_id"), col("lang"), col("rank"))
        .orderBy(col("lang"), col("rank"))),

    // streaming SRM monitor: two microbatch halves fold assignment
    // units into a persisted set; the accumulated verdict must equal
    // the batch SRM over everything streamed. The redelivery no-op
    // (already-landed units anti-join out, no version churn) is
    // pinned in StreamingSpec's srmMonitor replay test (r14 ask #2
    // trim)
    "stream_srm" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_srm")
      val inDir = s"$base/in"; val root = s"$base/store"
      val ev = EntryHelpers.eventCols(Tables.events(s, d))
        .select(col("event_type"), col("user_id"), col("event_id"))
      graft.StreamFixtures.land(s"evTUE_even:$d",
        ev.filter(col("event_id") % 2 === 0), inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val stream = ss.readStream.schema(ev.schema).parquet(inDir)
      val q = graft.streaming.EventStream.srmMonitor(stream, root,
        s"$base/ckpt", "event_type", "user_id",
        pmod(col("user_id"), lit(2)).cast("string"))
      try {
        q.processAllAvailable() // day 1: even event ids
        graft.StreamFixtures.land(s"evTUE_odd:$d",
          ev.filter(col("event_id") % 2 =!= 0), inDir)
        q.processAllAvailable() // day 2: odd event ids
      } finally q.stop()
      Quality.sampleRatioMismatch(
          graft.sources.VersionedGroup.read(s, root, "units")
            .withColumnRenamed("k", "event_type"),
          "event_type", "g", "1", "0")
        .orderBy(col("event_type"))
    }),

    // graded multimodal AUDIO path (completing the video round-trip
    // family): WAV containers SYNTHESIZED with doc_id-derived
    // parameters, the real JDK PCM decode must recover exactly them
    // — square-wave amplitudes are multiples of 256 so RMS/peak are
    // exact 1e7-scaled integers end to end
    "multimodal_audio_meta" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val n = 800 + (id % 50).toInt * 16 // multiple of 8: exact ms
          val m = 1 + (id % 100).toInt       // amp = 256*m
          graft.multimodal.MediaRow(id, "audio",
            graft.multimodal.Multimodal.synthWav(8000, n, 256 * m),
            0, 0, 0L)
        }
      graft.multimodal.Multimodal.audioMetadata(media)
        .orderBy(col("media_id"))
    }),

    // distribution-free median CI per event type: binomial order-
    // statistic ranks from round-6-guarded normal-approx trees,
    // values off the id-tie-broken ranked frame
    "dq_median_ci" -> ((s, d) =>
      Quality.medianCi(
          EntryHelpers.eventCols(Tables.events(s, d)),
          "event_type", "event_id", "value")
        .orderBy(col("event_type"))),

    // sample-ratio mismatch guardrail per event type: distinct
    // (type, user) UNITS against the declared 50/50 parity split —
    // chi-square(1) + the A&S p-value via chi2(1) = Z^2
    "ab_srm" -> ((s, d) => {
      val units = Tables.events(s, d)
        .select(col("event_type"), col("user_id")).distinct()
        .withColumn("grp", pmod(col("user_id"), lit(2)).cast("string"))
      Quality.sampleRatioMismatch(units, "event_type", "grp", "1", "0")
        .orderBy(col("event_type"))
    }),

    // two-regressor OLS per event type: daily volume on an epoch-day
    // trend PLUS a weekend dummy — Cramer's rule on exact integer
    // normal equations, closed-form R^2
    "events_ols_multi" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .select(col("event_type"),
          to_date(col("ts").cast("timestamp")).as("__day"))
        .groupBy(col("event_type"), col("__day"))
        .agg(count(lit(1)).as("y"))
        .withColumn("t",
          datediff(col("__day"), lit("1970-01-01").cast("date")).cast("long"))
        .withColumn("w",
          dayofweek(col("__day")).isin(1, 7).cast("long"))
      Analytics.olsMulti(daily, "event_type", "t", "w", "y")
        .orderBy(col("event_type"))
    }),

    // per-node local clustering coefficient on the bounded-density
    // co-purchase slice (the graph_triangles fixture): oriented
    // wedges credit all three corners via one explode
    "graph_clustering" -> ((s, d) =>
      operators.Graph.localClustering(
          EntryHelpers.coPurchaseEdges(s, d), "pa", "pb")
        .orderBy(col("n"))),

    // safety-stock / reorder-point sizing on the demand_croston part
    // slice: closed-form zero-month fill, z and lead time as
    // literals, exact integer moments
    "inventory_safety_stock" -> ((s, d) =>
      Analytics.safetyStock(Tables.lineitem(s, d),
          col("l_partkey") % 40 === 0)
        .orderBy(col("part"))),

    // sketch-triage candidate keys (rows-only by design: HLL
    // estimates are engine-specific; QualitySpec pins the rsd
    // agreement + never-false-negative contract): the 100 TB
    // profiling pass over the same combos dq_candidate_keys grades
    // exactly
    "dq_candidate_keys_approx" -> ((s, d) =>
      Quality.candidateKeysApprox(Tables.orders(s, d), Seq(
          Seq("o_orderkey"), Seq("o_custkey"), Seq("o_orderstatus"),
          Seq("o_orderdate"), Seq("o_custkey", "o_orderdate"),
          Seq("o_orderdate", "o_orderstatus")))
        .orderBy(col("columns"))),

    // streaming quality-rule ingest gate: the Gopher-rule door check
    // completing the curation-gate family — two microbatch days,
    // final corpus = the batch verdict (per-doc static rules =>
    // batch-split invariant). Replay no-op pinned in StreamingSpec's
    // qualityGate replay test (r14 ask #2 trim)
    "stream_quality_gate" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_qg")
      val inDir = s"$base/in"; val root = s"$base/store"
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      graft.StreamFixtures.land(s"docsDT_even:$d",
        docs.filter(col("doc_id") % 2 === 0), inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val stream = ss.readStream.schema(docs.schema).parquet(inDir)
      val q = graft.streaming.EventStream.qualityGate(stream, root,
        s"$base/ckpt", "doc_id", "text", minWords = 20L,
        maxWords = 1000L, minDistinctRatio = 0.4, maxTopWordFrac = 0.12)
      try {
        q.processAllAvailable() // day 1
        graft.StreamFixtures.land(s"docsDT_odd:$d",
          docs.filter(col("doc_id") % 2 =!= 0), inDir)
        q.processAllAvailable() // day 2
      } finally q.stop()
      graft.sources.VersionedGroup.read(s, root, "docs")
        .orderBy(col("doc_id"))
    }),

    // time-weighted average per event type: the irregular-sampling
    // correction — exact integer seconds x 1e2-scaled values, one
    // lead window + one aggregate
    "events_twap" -> ((s, d) =>
      Analytics.twap(EntryHelpers.eventCols(Tables.events(s, d)),
          "event_type", "ts", "event_id", "value")
        .orderBy(col("event_type"))),

    // leakage-safe LOO target encoding of the market segment against
    // a positive-balance label — singleton-category shrinkage to the
    // global prior, exact integer sufficient statistics
    "feature_target_encoding" -> ((s, d) => {
      val c = Tables.customer(s, d)
        .withColumn("converted", (col("c_acctbal") > 0).cast("long"))
      Sampling.targetEncode(c, "c_custkey", "c_mktsegment", "converted")
        .orderBy(col("c_custkey"))
    }),

    // blocked Jaro–Winkler candidate pairs (native codegen'd
    // comparator, pinned bit-for-bit against the reference
    // formulation): (nation, custkey%8)-blocked customers at
    // round-6 sim >= 0.97 — the similarity-space twin of
    // er_fuzzy_pairs' edit distance
    "er_jaro_pairs" -> ((s, d) =>
      Linkage.jaroWinklerPairs(Tables.customer(s, d), "c_custkey",
          "c_name",
          blockCol = col("c_nationkey") * 8 + pmod(col("c_custkey"), lit(8)),
          minSim = 0.97)
        .orderBy(col("id_a"), col("id_b"))),

    // MRR + AP@50 retrieval scorecard on the search_ndcg ranking:
    // binary strict-AND relevance, corpus-wide AP denominator via
    // the tagged-union single aggregate
    "search_map_mrr" -> ((s, d) =>
      functions.Text.mapMrrAtK(Tables.documents(s, d), "doc_id", "text",
        queryTerms = Seq("spark", "hash", "join"), k = 50)),

    // calibration scorecard per cohort on the model_auc frame: the
    // activity squash n/(n+20) as the score, conversion as the
    // label — ECE (10 bins) + Brier from exact r6-scaled integers
    "model_calibration" -> ((s, d) => {
      val units = Tables.events(s, d).groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          max(when(col("event_type") === "purchase", lit(1L))
            .otherwise(lit(0L))).as("converted"))
        .withColumn("cohort", pmod(col("user_id"), lit(2)))
        .withColumn("score",
          col("n_events").cast("double")
            / (col("n_events").cast("double") + lit(20.0)))
      Quality.calibration(units, "cohort", "score", "converted", bins = 10)
        .orderBy(col("cohort"))
    }),
  )
}
