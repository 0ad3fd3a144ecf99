package graft

import graft.EntryHelpers._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query-registry shard 8 — r14 session-2 waves 21+ (Shard7 nears the
  * RegistrySpec ceiling). [[SparkEntry.queries]] composes the shards. */
private[graft] object QueriesShard8 {

  /** Shared line-ified synthesis for the line-level curation keys:
    * sentence breaks become newlines (the corpus is one-line prose),
    * then the doc's OWN first line is planted twice at the tail — a
    * known in-doc duplicate for the dedup key, replayed verbatim by
    * the SQL twin. */
  private def lineified(df: DataFrame): DataFrame =
    df.withColumn("__l",
        expr("replace(coalesce(text, ''), '. ', concat('.', chr(10)))"))
      .withColumn("synth",
        expr("""concat(__l, chr(10), element_at(split(__l, '\n'), 1),
                chr(10), element_at(split(__l, '\n'), 1))"""))

  val m: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- within-doc line dedup (r14 wave 21) ----
    // the CCNet/C4 intra-document cleanup the SEGMENT family doesn't
    // do (dedup_segments removes lines duplicated ACROSS docs; this
    // removes repetition INSIDE one doc — boilerplate nav bars,
    // scraped pagination): keep the FIRST occurrence of each line,
    // preserve order. Pure built-in HOF fold (aggregate over the
    // split array) — codegen'd, zero shuffle, no UDF.
    "doc_line_dedup" -> ((s, d) => {
      lineified(Tables.documents(s, d))
        .withColumn("text_dedup", expr(
          """array_join(aggregate(split(synth, '\n'),
               cast(array() as array<string>),
               (acc, x) -> case when array_contains(acc, x) then acc
                 else array_append(acc, x) end), '\n')"""))
        .select(col("doc_id"),
          expr("size(split(synth, '\n'))").cast("long").as("n_lines"),
          expr("size(split(text_dedup, '\n'))").cast("long")
            .as("n_unique"),
          col("text_dedup"))
        .orderBy(col("doc_id"))
    }),

    // ---- C4 line-quality filter (r14 wave 21) ----
    // Raffel et al. '20 §2.2's line rules: keep lines ending in
    // terminal punctuation with >= 3 words; the doc-level Gopher
    // rules are [doc_quality_filter] — this is the finer scalpel
    // that SALVAGES a page instead of dropping it. Built-in
    // filter()/rlike HOFs, codegen'd, zero shuffle.
    "doc_c4_line_clean" -> ((s, d) => {
      lineified(Tables.documents(s, d))
        .withColumn("__kept", expr(
          """filter(split(synth, '\n'),
               x -> trim(x) rlike '[.!?"]$'
                 and size(split(trim(x), '\\s+')) >= 3)"""))
        .select(col("doc_id"),
          expr("size(split(synth, '\n'))").cast("long").as("n_lines"),
          expr("size(__kept)").cast("long").as("n_kept"),
          expr("array_join(__kept, '\n')").as("text_clean"))
        .orderBy(col("doc_id"))
    }),

    // ---- Unicode NFC normalization (r14 wave 22) ----
    // the FIXER behind the mojibake screen: precomposed and
    // decomposed forms of the same text hash apart, breaking exact
    // dedup and tokenization downstream. Native codegen'd JDK
    // Normalizer vs DuckDB's utf8proc — two INDEPENDENT Unicode
    // implementations agreeing byte-for-byte is the gate. The plant
    // (EntryHelpers.NfcPlant, one constant interpolated into both
    // sides) carries combining marks + the angstrom singleton + an
    // already-composed passthrough.
    "doc_unicode_normalize" -> ((s, d) => {
      Tables.documents(s, d)
        .withColumn("synth",
          concat(coalesce(col("text"), lit("")), lit(NfcPlant)))
        .select(col("doc_id"),
          (col("synth") =!= graft.functions.Unicode.nfc(col("synth")))
            .as("changed"),
          graft.functions.Unicode.nfc(col("synth")).as("text_nfc"))
        .orderBy(col("doc_id"))
    }),

    // ---- SCD2 timestamp-strategy merge (r14 wave 23) ----
    // dbt's RECOMMENDED snapshot strategy (strategy='timestamp'):
    // versioned iff updated_at is STRICTLY newer — the %10==5 rows
    // flap their segment under an UNCHANGED updated_at (a replayed
    // stale extract) and must NOT version, exactly where the check
    // strategy would; %7==0 omitted keys stay open
    "scd2_merge_timestamp" -> ((s, d) => {
      import graft.operators.Scd2
      import graft.pipeline.Models
      val t0 = lit("2026-01-01 00:00:00").cast("timestamp")
      val t1 = lit("2026-02-01 00:00:00").cast("timestamp")
      val tU = lit("2026-01-15 00:00:00").cast("timestamp")
      val s1 = Models.stgCustomer(s, d).select(col("customer_id"),
          col("customer_name"), col("market_segment"))
        .withColumn("updated_at", t0)
      val history0 = s1.withColumn(Scd2.ValidFrom, t0)
        .withColumn(Scd2.ValidTo, lit(null).cast("timestamp"))
      val s2 = s1.filter(col("customer_id") % 7 =!= 0)
        .withColumn("market_segment",
          when(col("customer_id") % 10 === 0
            || col("customer_id") % 10 === 5, lit("CHANGED"))
            .otherwise(col("market_segment")))
        .withColumn("updated_at",
          when(col("customer_id") % 10 === 0, tU).otherwise(t0))
      Scd2.mergeTimestamp(history0, s2, Seq("customer_id"),
          "updated_at", t1)
        .orderBy(col("customer_id"), col("valid_from"))
    }),

    // ---- ordered proximity search (r14 wave 24) ----
    // "table before scan within 5 tokens" over the memoized
    // positional index (probe-only timing, the posidx discipline);
    // the RangeJoin bucket trick in 1-D token space keeps candidates
    // per-bucket, never tf-quadratic
    "doc_proximity_search" -> ((s, d) => {
      import graft.operators.Search
      val store = graft.Stores.cached(s"posidx:$d") { dir =>
        Search.positionalFrame(Tables.documents(s, d), "doc_id", "text")
          .write.parquet(dir + "/t")
      } + "/t"
      Search.proximitySearch(s.read.parquet(store), "table", "scan",
          window = 5L)
        .select(col("id").as("doc_id"), col("n_matches"), col("first_pos"))
        .orderBy(col("doc_id"))
    }),

    // ---- incremental join-cardinality maintenance (r14 wave 24) ----
    // histograms are ADDITIVE sufficient statistics: the stored
    // pre-cutoff histogram folds the delta batch in at
    // O(delta + distinct keys) — the planner stats-maintenance
    // contract — and must answer exactly like the full recompute
    // (oracle = dq_join_cardinality's, verbatim)
    "dq_join_cardinality_incr" -> ((s, d) => {
      import graft.operators.Quality
      val ev = Tables.events(s, d)
      val cutoff = lit(CdcCutoff).cast("timestamp")
      val store = graft.Stores.cached(s"jchist:$d") { dir =>
        Quality.keyHistogram(ev.filter(col("ts") <= cutoff), "user_id")
          .write.parquet(dir + "/t")
      } + "/t"
      val merged = Quality.histogramMerge(s.read.parquet(store),
        Quality.keyHistogram(ev.filter(col("ts") > cutoff), "user_id"))
      Quality.joinCardinalityFromHistograms(merged,
        Quality.keyHistogram(Tables.customer(s, d), "c_custkey"))
    }),

    // ---- Versioned stats-pruned read (r14 wave 25) ----
    // Delta/Iceberg data skipping on the engine's OWN table format:
    // a range-clustered commit + a per-file min/max stats manifest
    // pinned to the version; the narrow read drops provably-missing
    // files DRIVER-SIDE before the scan is planned. ≡ the plain
    // BETWEEN filter (the oracle); the file-skip itself is pinned in
    // the spec via inputFiles
    "versioned_prune_read" -> ((s, d) => {
      import graft.sources.Versioned
      val dst = graft.TempDirs.create("graft_vpr") + "/t"
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"), col("o_orderdate"))
      Versioned.commit(o.repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey")), dst)
      Versioned.writeStats(s, dst, Seq("o_orderkey"))
      Versioned.prunedRead(s, dst, "o_orderkey", 1000L, 5000L)
        .orderBy(col("o_orderkey"))
    }),

    // ---- community modularity scorecard (r14 wave 26) ----
    // Newman–Girvan Q over the SAME labeling graph_communities
    // grades: per-community internal-edge/degree/size counts (exact
    // integers) + the one fixed contribution tree — the "were those
    // communities real" follow-up every clustering run needs
    "graph_modularity" -> ((s, d) => {
      import graft.operators.Graph
      val edges = coPurchaseEdges(s, d)
      // the labeling is long-lived corpus state whose BUILD is graded
      // by graph_communities (the same labelPropagation call); the
      // scorecard probes a memoized store (the posidx discipline) so
      // the suite doesn't pay the 6-round iteration twice
      val store = graft.Stores.cached(s"lplabels:$d") { dir =>
        Graph.labelPropagation(edges, "pa", "pb", iterations = 6)
          .write.parquet(dir + "/t")
      } + "/t"
      Graph.modularity(edges, "pa", "pb", s.read.parquet(store))
        .orderBy(col("label"))
    }),

    // ---- continuous SCD2 apply door (r14 wave 26) ----
    // the reference's scheduled dbt-snapshot job as a STREAM: three
    // microbatches (day-1 snapshot, day-2, day-2 REDELIVERED) fold
    // through mergeTimestamp into a Versioned history — the replay
    // must be a no-op by the strictly-newer contract, so the sink
    // equals the clean two-fold (the oracle); %10==5 flaps its
    // segment under an unchanged updated_at and must not version
    "stream_scd2_apply" -> ((s, d) => {
      import graft.pipeline.Models
      val base = graft.TempDirs.create("graft_stream_s2")
      val inDir = s"$base/in"; val tbl = s"$base/tbl"; val ckpt = s"$base/ckpt"
      val t0 = lit("2026-01-01 00:00:00").cast("timestamp")
      val tU = lit("2026-01-15 00:00:00").cast("timestamp")
      val a1 = lit("2026-01-01 00:00:00").cast("timestamp")
      val a2 = lit("2026-02-01 00:00:00").cast("timestamp")
      val s1 = Models.stgCustomer(s, d).select(col("customer_id"),
          col("customer_name"), col("market_segment"))
        .withColumn("updated_at", t0)
      val day1 = s1.withColumn("snap_ts", a1)
      val day2 = s1
        .withColumn("market_segment",
          when(col("customer_id") % 10 === 0
            || col("customer_id") % 10 === 5, lit("CHANGED"))
            .otherwise(col("market_segment")))
        .withColumn("updated_at",
          when(col("customer_id") % 10 === 0, tU).otherwise(t0))
        .withColumn("snap_ts", a2)
      graft.StreamFixtures.land(s"s2_day1:$d", day1, inDir)
      val ss = Sessions.own(s, "spark.sql.shuffle.partitions" -> "4")
      val q = graft.streaming.EventStream.applyScd2(
        ss.readStream.schema(day1.schema).parquet(inDir),
        tbl, ckpt, Seq("customer_id"), "updated_at", "snap_ts")
      try {
        q.processAllAvailable() // batch 1: bootstrap fold
        graft.StreamFixtures.land(s"s2_day2:$d", day2, inDir)
        q.processAllAvailable() // batch 2: the day-2 fold
        // REDELIVERY files must be NEW paths (the file source skips
        // already-seen files) — land a second physical copy
        graft.StreamFixtures.land(s"s2_day2b:$d", day2, inDir)
        q.processAllAvailable() // batch 3: REDELIVERY — must no-op
      } finally q.stop()
      graft.sources.Versioned.read(s, tbl)
        .orderBy(col("customer_id"), col("valid_from"))
    }),

    // ---- BPE encode with a FIXED merge table (r15; r14 verdict ask
    // #5) ---- corpus_bpe_encode inherits the LEARNED table, so its
    // token counts are rows-only by design; this twin freezes the
    // stateful input (the doc_pack_serial trick) with a hand-specified
    // 10-merge table exercising chained merges (e+</w> before
    // th+e</w>, d+</w> before an+d</w>), repeat greedy application
    // (in+g after i+n) — so the SAME encodeCounts word-type fold
    // grades hash-exactly. The oracle replays greedy left-to-right
    // no-re-merge application as a chain of separator-wrapped string
    // replaces: with every symbol wrapped as ␟sym␟, adjacent merge
    // sites never share characters, so SQL's non-overlapping
    // left-to-right replace() IS the greedy fold, for ANY (l, r)
    // including l = r.
    "corpus_bpe_encode_fixed" -> ((s, d) =>
      graft.functions.Bpe.encodeCounts(Tables.documents(s, d), "doc_id",
          "text", FixedBpeMerges)
        .orderBy(col("doc_id"))),
  )

  /** The pinned merge table shared by the corpus_bpe_encode_fixed key
    * and its oracle replay (which derives the replace chain from this
    * same list — one definition, two engines). */
  private[graft] val FixedBpeMerges: Seq[(String, String)] = Seq(
    ("e", "</w>"), ("d", "</w>"), ("t", "h"), ("th", "e</w>"),
    ("s", "</w>"), ("a", "n"), ("an", "d</w>"), ("i", "n"),
    ("in", "g"), ("o", "r"))
}
