package graft

import graft.EntryHelpers._
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Query-registry shard 7 — the r14 wave (RegistrySpec's shard-size
  * ceiling means a new wave opens a new shard instead of appending).
  * [[SparkEntry.queries]] composes the shards. */
private[graft] object QueriesShard7 {

  /** Learned BPE merge table for the corpus at `d`, memoized as a
    * per-JVM store (the posidx discipline): the vocabulary is
    * long-lived state learned once per corpus version while encode
    * jobs run all day — the learning cost is graded by its own key
    * (corpus_bpe, the same learnMerges call), the encode keys time
    * the APPLICATION. The table is bounded (numMerges rows), so the
    * probe-side collect is a bounded-scalar pull, not a driver loop.
    */
  private def bpeMerges(s: SparkSession, d: String): Seq[(String, String)] = {
    val store = graft.Stores.cached(s"bpe_merges:$d") { dir =>
      functions.Bpe.learnMerges(Tables.documents(s, d), "doc_id", "text",
          numMerges = 30)
        .write.parquet(dir + "/t")
    } + "/t"
    s.read.parquet(store).orderBy(col("merge_no")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
  }

  val m: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- FT-checkpoint connected components (r13 verdict ask #8) ----
    // the reliable=true variant swaps eager localCheckpoint (blocks
    // pinned to executors — lost on executor death) for the
    // HDFS-backed checkpoint() a dynamic-allocation cluster needs;
    // the labeling must be IDENTICAL, so it grades against the
    // dedup_components recursive-reachability oracle verbatim
    "dedup_components_reliable" -> ((s, d) => {
      if (s.sparkContext.getCheckpointDir.isEmpty)
        s.sparkContext.setCheckpointDir(graft.TempDirs.create("graft_ckpt_"))
      Dedup.connectedComponents(
          Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", "text",
            n = 3, threshold = 0.5, maxDocFreq = 1000),
          reliable = true)
        .orderBy(col("id"))
    }),

    // ---- serial FFD exact twin (r13 verdict ask #7) ----
    // doc_pack's bin ids depend on the partition layout (each task
    // packs its slice), so the DISTRIBUTED key is rows-only by
    // design. This twin pins the FFD algorithm itself hash-exactly:
    // one partition, unbounded open bins, deterministic
    // (tokens desc, id asc) order — the DuckDB oracle replays the
    // identical first-fit-decreasing fold as a recursive CTE over
    // the same BPE-proxy token counts, so bin ids, slots, and
    // remaining-capacity arithmetic all grade bit-for-bit. The
    // distributed form is the 100 TB path; this twin is its
    // algorithm gate.
    "doc_pack_serial" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        functions.Text.tokenCountBpe(col("text")).as("n_tokens"))
      Pack.firstFit(docs.coalesce(1), "doc_id", "n_tokens",
          binTokens = 2048L, maxOpenBins = Int.MaxValue,
          widenInput = false)
        .orderBy(col("doc_id"))
    }),

    // ---- Misra–Gries presence-guarantee gate (r13 verdict ask #7) ----
    // corpus_top_terms_approx's count_min values are partition-
    // layout-dependent (rows-only by design), but the sketch's
    // PRESENCE guarantee is exact: every term with true count
    // > N/(capacity+1) is in the merged summary (Misra & Gries '82;
    // mergeability per Agarwal et al.). This key runs the sketch,
    // semi-joins the exact heavy-hitter set against the summary
    // terms, and emits the survivors with their EXACT counts — by
    // the guarantee the output equals the heavy set, which is plain
    // SQL. A sketch bug that drops a heavy term hash-fails the key.
    "corpus_top_terms_guarantee" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val capacity = 256
      val summary = functions.Text.topTermsApprox(docs, "doc_id", "text",
        k = capacity, capacity = capacity).select(col("term"))
      val words = docs.select(
          explode(split(functions.Text.normalize(col("text")), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val total = words.agg(count(lit(1)).as("__n"))
      val heavy = words.groupBy(col("term"))
        .agg(count(lit(1)).as("true_count"))
        .crossJoin(broadcast(total)) // one row
        .filter(col("true_count") * (capacity + 1) > col("__n"))
      heavy.join(summary, Seq("term"), "left_semi")
        .select(col("term"), col("true_count"))
        .orderBy(col("term"))
    }),

    // ---- BPE encode over the corpus (r13 verdict ask #3) ----
    // corpus_bpe learns merges; this key APPLIES them corpus-wide —
    // the tokenize hop every training-data pipeline actually runs.
    // Per-doc output: non-empty word count + the BPE token count
    // after greedy merge application in learned order, via the
    // WORD-TYPE path (the K-deep merge fold runs once per distinct
    // word, not per occurrence — measured 79 s → 3 s at sf0.1; the
    // per-occurrence fold re-paid the chain for every repeat of
    // "the"). The merge table rides the memoized store (build graded
    // by corpus_bpe's own key). Token counts depend on the LEARNED
    // table (not SQL-stateable) → rows-only; BpeSpec pins encode
    // semantics on a hand-computed corpus and encodeCounts ≡ the
    // per-occurrence fold.
    "corpus_bpe_encode" -> ((s, d) =>
      functions.Bpe.encodeCounts(Tables.documents(s, d), "doc_id", "text",
          bpeMerges(s, d))
        .orderBy(col("doc_id"))),

    // ---- tokenize→pack composition (r13 verdict ask #3) ----
    // the full curation→tokenize→pack chain as ONE graded pipeline:
    // BPE-encode the corpus with the learned merges (word-type
    // path), then FFD-pack the resulting token counts into
    // 2048-token bins. Bin ids are partition-layout-dependent (the
    // doc_pack contract) → rows-only; PackSpec pins the FFD
    // invariants (capacity, slot density, per-bin conservation) on
    // the composed pipeline and doc_pack_serial hash-grades the
    // packing algorithm itself.
    "doc_pack_bpe" -> ((s, d) => {
      val toks = functions.Bpe.encodeCounts(Tables.documents(s, d),
          "doc_id", "text", bpeMerges(s, d))
        .select(col("doc_id"), col("n_bpe_tokens").as("n_tokens"))
      Pack.firstFit(toks, "doc_id", "n_tokens", binTokens = 2048L)
        .orderBy(col("doc_id"))
    }),

    // ---- cross-source duplication matrix (r14 wave 2) ----
    // "which sources copy from each other": shared winnow
    // fingerprints per source pair + the Szymkiewicz–Simpson overlap
    // coefficient; per-fingerprint join fan-out bounded by |sources|
    "dedup_source_matrix" -> ((s, d) =>
      Dedup.crossSourceOverlap(Tables.documents(s, d), "doc_id", "text",
          "source")
        .orderBy(col("src_a"), col("src_b"))),

    // ---- near-dup cluster-size histogram (r14 wave 2) ----
    // the dedup health view an operator actually reads before
    // committing a keep-one pass: how big do duplicate clusters get?
    // (cluster_size, n_clusters) from the graded components labeling
    "dedup_cluster_histogram" -> ((s, d) =>
      Dedup.connectedComponents(
          Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", "text",
            n = 3, threshold = 0.5, maxDocFreq = 1000))
        .groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))),

    // ---- embedding-column health audit (r14 wave 2) ----
    // the DQ gate before any ANN/near-dup trust: dims ragged? NaN/Inf
    // components? zero-norm vectors? norm stats via r6-integer sums
    "emb_health" -> ((s, d) =>
      Quality.embeddingHealth(Tables.embeddings(s, d), "label", "embedding")
        .orderBy(col("label"))),

    // ---- tokenizer fertility per source (r14 wave 2) ----
    // tokens-per-word / chars-per-token per corpus slice on the
    // deterministic BPE proxy — fertility spikes flag sources the
    // vocabulary serves badly
    "corpus_fertility" -> ((s, d) =>
      functions.Text.tokenFertility(Tables.documents(s, d), "source", "text")
        .orderBy(col("source"))),

    // ---- HTML → text extraction (r14 wave 3) ----
    // the FIRST step of web-corpus curation, graded by round-trip
    // synthesis (the multimodal discipline): each doc is wrapped in
    // deterministic boilerplate (head/title/style/script/comment,
    // entity-escaped body) and the extractor must recover the clean
    // text — script/style content dropped, tags become spaces,
    // entities decode, whitespace collapses. The oracle replays the
    // identical synth + strip chain.
    "doc_html_extract" -> ((s, d) => {
      val esc = functions.Text.htmlEscape(col("text"))
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><style>p{color:red}</style>"),
        lit("<script>var x=1;</script></head><body>"),
        lit("<!-- crawl artifact --><h1>Doc "), col("doc_id").cast("string"),
        lit(" &amp; friends</h1><p>"), esc,
        lit("</p><br/>&nbsp;</body></html>"))
      Tables.documents(s, d)
        .select(col("doc_id"), functions.Text.stripHtml(html).as("extracted"))
        .orderBy(col("doc_id"))
    }),

    // ---- mojibake screen (r14 wave 3) ----
    // encoding-damage detection graded by round-trip synthesis:
    // every 7th doc gets the deterministic damage sample appended;
    // the screen must count its smears and flag exactly those docs
    "doc_mojibake" -> ((s, d) => {
      val t = when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(functions.Text.MojibakeSample)))
        .otherwise(col("text"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          functions.Text.mojibakeScan(t).as("n_mojibake"),
          (functions.Text.mojibakeScan(t) > 0).as("damaged"))
        .orderBy(col("doc_id"))
    }),

    // ---- code-switching / mixed-language screen (r14 wave 3) ----
    // the signal lang-ID's argmax hides: stopword hits split across
    // two languages flag interleaved-translation docs
    "doc_lang_mix" -> ((s, d) =>
      functions.Text.langMix(Tables.documents(s, d), "doc_id", "text")
        .orderBy(col("doc_id"))),

    // ---- reciprocal-rank fusion (r14 wave 3) ----
    // the zero-training hybrid-retrieval combiner over the two
    // graded rankers; exact integer 1e6-scaled RRF terms, k-bounded
    // fusion window
    "search_rrf_fusion" -> ((s, d) =>
      functions.Text.rrfFusion(Tables.documents(s, d), "doc_id", "text",
          queryTerms = Seq("spark", "hash", "join"), k = 50)
        .orderBy(col("rank"))),

    // ---- incremental cross-source matrix (r14 wave 4) ----
    // the daily-delta fold: yesterday's maintained (source, fp) set
    // (memoized store — only the batch is shingled/winnowed) unions
    // the batch frame; distinct-union makes the fold PROVABLY the
    // full recompute, so it grades against the full oracle verbatim
    "dedup_source_matrix_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val store = graft.Stores.cached(s"srcfp:$d") { dir =>
        Dedup.sourceFingerprintFrame(docs.filter(col("doc_id") < 250),
            "doc_id", "text", "source")
          .write.parquet(dir + "/t")
      } + "/t"
      Dedup.crossSourceOverlapIncremental(s.read.parquet(store),
          docs.filter(col("doc_id") >= 250), "doc_id", "text", "source")
        .orderBy(col("src_a"), col("src_b"))
    }),

    // ---- dedup token-savings estimate (r14 wave 4) ----
    // "what does near-dup dedup buy us": per source, docs/tokens
    // before vs after keep-lowest-id-per-cluster — the number a
    // curation team actually reports. Composes the graded components
    // labeling with the BPE-proxy token counts; singletons are their
    // own cluster
    "dedup_savings" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val labels = Dedup.connectedComponents(
        Dedup.ngramJaccard(docs, "doc_id", "text",
          n = 3, threshold = 0.5, maxDocFreq = 1000))
      val toks = docs.select(col("doc_id"), col("source"),
        functions.Text.tokenCountBpe(col("text")).as("__nt"))
      val labeled = toks.join(labels.withColumnRenamed("id", "doc_id"),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("__nt"),
          coalesce(col("comp"), col("doc_id")).as("comp"))
      val keep = labeled.groupBy(col("comp"))
        .agg(min(col("doc_id")).as("__keep"))
      labeled.join(keep, Seq("comp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum((col("doc_id") =!= col("__keep")).cast("long"))
            .as("n_dropped"),
          sum(col("__nt")).as("tokens_total"),
          sum(when(col("doc_id") === col("__keep"), col("__nt"))
            .otherwise(lit(0L))).as("tokens_kept"))
        .orderBy(col("source"))
    }),

    // ---- n-gram diversity per source (r14 wave 4) ----
    // distinct/total n-gram ratios at n=1,2,3 — the templated-corpus
    // screen; trigram diversity collapses on looped content whose
    // word ratios look normal
    "corpus_ngram_diversity" -> ((s, d) =>
      functions.Text.ngramDiversity(Tables.documents(s, d), "source", "text")
        .orderBy(col("source"), col("n"))),

    // ---- ANN recall scorecard (r14 wave 6) ----
    // the eval every ANN deployment tracks: recall@10 of the IVF
    // probe against exhaustive cosine, per query — both rankers are
    // themselves graded keys, so the scorecard's oracle composes
    // their oracles and the recall arithmetic is an integer ratio
    "ann_recall_eval" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val queries = embs.filter(col("vec_id") < 5)
      val cents = embs.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt,
          r.getSeq[Float](1).map(_.toDouble).toSeq))
        .sortBy(_._1).toSeq
      val ivf = Similarity.ivfTopKWith(embs, queries, "vec_id", "embedding",
          "vec_id", k = 10, centroids = cents, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"))
      val brute = Similarity.bruteForceTopK(embs, queries, "vec_id",
          "embedding", "vec_id", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      brute.join(ivf.withColumn("__hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("k"),
          coalesce(sum(col("__hit")), lit(0L)).as("n_matched"))
        .select(col("query_id"), col("k"), col("n_matched"),
          round(col("n_matched").cast("double") / col("k").cast("double"), 6)
            .as("recall"))
        .orderBy(col("query_id"))
    }),

    // ---- streaming mojibake ingest gate (r14 wave 5) ----
    // the doc_mojibake synthesis streamed through the door in two
    // halves: every 7th doc arrives damaged and must drop; the final
    // corpus is exactly the clean docs — a full SQL oracle, rare for
    // a streaming key (per-doc verdict ⇒ batch-split invariant ⇒ the
    // convergence claim is hash-graded, not narrated). Replay no-op
    // pinned in StreamingSpec's mojibakeGate replay test (r14 ask #2
    // trim)
    "stream_mojibake_gate" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_mg")
      val inDir = s"$base/in"; val root = s"$base/store"
      val docs = Tables.documents(s, d).select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(col("text"), lit(functions.Text.MojibakeSample)))
          .otherwise(col("text")).as("text"))
      graft.StreamFixtures.land(s"docsMoji_even:$d",
        docs.filter(col("doc_id") % 2 === 0), inDir)
      EntryHelpers.withShufflePartitions(s, 4) {
        val stream = s.readStream.schema(docs.schema).parquet(inDir)
        val q = graft.streaming.EventStream.mojibakeGate(stream, root,
          s"$base/ckpt", "doc_id", "text")
        try {
          q.processAllAvailable() // day 1
          graft.StreamFixtures.land(s"docsMoji_odd:$d",
            docs.filter(col("doc_id") % 2 =!= 0), inDir)
          q.processAllAvailable() // day 2
        } finally q.stop()
      }
      graft.sources.VersionedGroup.read(s, root, "docs")
        .orderBy(col("doc_id"))
    }),

    // ---- packing efficiency scorecard (r14 wave 2) ----
    // per-bin rollup of the serial FFD twin: n_docs, token mass, and
    // padding waste per 2048-token bin — THE packing metric; grades
    // against the same recursive-CTE replay rolled up in SQL
    "doc_pack_stats" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        functions.Text.tokenCountBpe(col("text")).as("n_tokens"))
      Pack.firstFit(docs.coalesce(1), "doc_id", "n_tokens",
          binTokens = 2048L, maxOpenBins = Int.MaxValue,
          widenInput = false)
        .groupBy(col("bin_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("token_sum"),
          (lit(2048L) - sum(least(col("n_tokens"), lit(2048L))))
            .as("waste"))
        .orderBy(col("bin_id"))
    }),

    // ---- URL canonicalization family (r14 wave 7) ----
    // the first dedup key every crawl pipeline computes BEFORE any
    // content pass; no URL column in the testdata, so the messy raw
    // URL is the multimodal round-trip-synthesis discipline: derived
    // deterministically from (source, doc_id) in BOTH engines, then
    // the NORMALIZATION is what's graded — case noise, default vs
    // kept ports, tracking params, shuffled query order, fragments,
    // trailing slashes all collapse per RFC 3986 §6 + the utm strip
    "doc_url_normalize" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          functions.Url.synthesize(col("source"), col("doc_id"))
            .as("url_raw"))
        .select(col("doc_id"), col("url_raw"),
          functions.Url.canonicalize(col("url_raw")).as("url_canon"),
          functions.Url.domain(col("url_raw")).as("domain"))
        .orderBy(col("doc_id"))),

    // URL-grain dedup: distinct raw fetches of the same canonical
    // page merge to one group — keep-first by doc_id. The synthesis
    // mods are small on purpose so the groups carry REAL merges
    // (different raw strings), not a corpus of singletons.
    "dedup_url" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          functions.Url.canonicalize(
              functions.Url.synthesize(col("source"), col("doc_id")))
            .as("url_canon"))
        .groupBy(col("url_canon"))
        .agg(count(lit(1)).as("n_dups"),
          min(col("doc_id")).as("keeper_doc"))
        .orderBy(col("url_canon"))),

    // per-site corpus composition: docs, distinct canonical URLs,
    // token mass, corpus share — the mix table a curation run reads
    // before setting per-domain caps. Rollup is domain-grain (tiny),
    // so the grand total rides a broadcast of the 1-row agg, never a
    // single-partition window over the corpus.
    "corpus_domain_stats" -> ((s, d) => {
      val u = functions.Url.synthesize(col("source"), col("doc_id"))
      val base = Tables.documents(s, d).select(
        functions.Url.domain(u).as("domain"),
        functions.Url.canonicalize(u).as("url_canon"),
        functions.Text.tokenCountWs(col("text")).as("n_tokens"))
      val perDom = base.groupBy(col("domain")).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("url_canon")).as("n_urls"),
        sum(col("n_tokens")).as("token_sum"))
      val tot = perDom.agg(sum(col("n_docs")).as("total_docs"))
      perDom.crossJoin(broadcast(tot))
        .withColumn("share_ppm",
          round(col("n_docs") * 1000000.0 / col("total_docs"))
            .cast("long"))
        .select(col("domain"), col("n_docs"), col("n_urls"),
          col("token_sum"), col("share_ppm"))
        .orderBy(col("domain"))
    }),

    // ---- (ScalaTest only) -> graded (r14 wave 8) ----
    // dbt derived-metric columns standalone: the concat analog + the
    // exact-decimal revenue calc per row (q1's decimal discipline,
    // ungrouped) — pure projection, scan-speed at any SF
    "stg_derived_metrics" -> ((s, d) => {
      def dec2(c: org.apache.spark.sql.Column) = c.cast("decimal(12,2)")
      val revenue = dec2(col("l_extendedprice")) *
        (lit(1) - dec2(col("l_discount")))
      Tables.lineitem(s, d).select(
          col("l_orderkey"), col("l_linenumber"),
          concat(col("l_returnflag"), lit("/"), col("l_linestatus"))
            .as("status_code"),
          revenue.cast("double").as("revenue"),
          (revenue * (lit(1) + dec2(col("l_tax")))).cast("double")
            .as("charge"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    // Versioned.upsert graded directly: a two-day upsert fold. Day 1
    // bootstraps from a snapshot whose %6==1 keys stream in TWICE
    // (tracking 1 and 2) — latest-wins dedup at the door; day 2
    // replaces every even key (price bump) and inserts the %3==0
    // keys day 1 never had. Both committed versions read back, so
    // the key grades the version store AND the merge semantics
    // (replace-by-key: target rows with a matching key drop
    // regardless of tracking; within a batch, highest tracking wins).
    "versioned_upsert" -> ((s, d) => {
      import graft.sources.Versioned
      val root = graft.TempDirs.create("graft_vup_") + "/t"
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"))
      val day1 = o.filter(col("o_orderkey") % 3 =!= 0)
        .withColumn("ingest_seq", lit(1L))
        .unionByName(o.filter(col("o_orderkey") % 6 === 1)
          .withColumn("o_orderstatus", lit("X"))
          .withColumn("ingest_seq", lit(2L)))
      val v1 = Versioned.upsert(day1, root, Seq("o_orderkey"),
        "ingest_seq")
      require(v1 == 1, s"expected bootstrap upsert at version 1, got $v1")
      val day2 = o.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(5.0))
        .withColumn("ingest_seq", lit(3L))
      val v2 = Versioned.upsert(day2, root, Seq("o_orderkey"),
        "ingest_seq")
      require(v2 == 2, s"expected day-2 upsert at version 2, got $v2")
      Versioned.read(s, root, version = Some(1))
        .withColumn("version", lit(1L))
        .unionByName(Versioned.read(s, root).withColumn("version", lit(2L)))
        .orderBy(col("version"), col("o_orderkey"))
    }),

    // ---- streaming URL-dedup ingest gate (r14 wave 9) ----
    // the crawl frontier drains in discovery (id) order in two
    // prefixes; keep-first at the door ≡ the batch dedup_url keeper
    // set, so the landed corpus grades against a FULL SQL oracle
    // (the urlCanonSql keeper rollup) — the batch-split-invariance
    // claim is hash-graded, not narrated. Replay no-op pinned in
    // StreamingSpec's urlGate replay test (r14 ask #2 trim)
    "stream_url_gate" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_ug")
      val inDir = s"$base/in"; val root = s"$base/store"
      val docs = Tables.documents(s, d).select(col("doc_id"),
        functions.Url.synthesize(col("source"), col("doc_id"))
          .as("url_raw"))
      graft.StreamFixtures.land(s"docsUrl_lt250:$d",
        docs.filter(col("doc_id") < 250), inDir)
      EntryHelpers.withShufflePartitions(s, 4) {
        val stream = s.readStream.schema(docs.schema).parquet(inDir)
        val q = graft.streaming.EventStream.urlGate(stream, root,
          s"$base/ckpt", "doc_id", "url_raw")
        try {
          q.processAllAvailable() // frontier prefix 1
          graft.StreamFixtures.land(s"docsUrl_ge250:$d",
            docs.filter(col("doc_id") >= 250), inDir)
          q.processAllAvailable() // frontier prefix 2
        } finally q.stop()
      }
      graft.sources.VersionedGroup.read(s, root, "docs")
        .select(col("doc_id"), col("url_canon"))
        .orderBy(col("doc_id"))
    }),

    // ---- perceptual-hash image dedup (r14 wave 10) ----
    // the media twin of the text dedup family, end-to-end REAL:
    // synthesized BMP containers (doc_id % 23 distinct patterns, odd
    // ids as 2x-upscaled re-uploads) decode through javax.imageio,
    // average-pool to the 8x8 aHash grid, and group on the 64-bit
    // hash — the scale-invariance is what's graded: every upscaled
    // re-upload must land in its original's group, so the groups are
    // exactly the doc_id % 23 classes and the oracle is a plain
    // rollup (MultimodalSpec pins the hash arithmetic itself)
    "multimodal_phash_dedup" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .map { id =>
          val cls = (id % 23).toInt
          def base(x: Int, y: Int): Int = ((y * 8 + x) * (2 * cls + 3) + cls * 17) % 256
          val px =
            if (id % 2 == 0) graft.multimodal.Multimodal.synthBmp(8, 8, base)
            else graft.multimodal.Multimodal.synthBmp(16, 16,
              (x, y) => base(x / 2, y / 2))
          graft.multimodal.MediaRow(id, "image", px, 0, 0, 0L)
        }
      graft.multimodal.Multimodal.imageDedup(media)
    }),

    // ---- Markdown → text extraction (r14 wave 11) ----
    // the doc_html_extract sibling for the README/docs slice, graded
    // by the same round-trip synthesis: each doc wraps in
    // deterministic markdown (header, quote+emphasis, bullet+link,
    // fenced code that must DROP, inline code + trailing rule) and
    // the extractor must recover the prose; the oracle replays the
    // identical synth + strip chain
    "doc_markdown_extract" -> ((s, d) => {
      val id = col("doc_id").cast("string")
      val nl = lit("\n")
      val md = concat(
        lit("## Doc "), id, nl,
        lit("> quoted **bold** _note_"), nl,
        lit("- item [Link "), id, lit("](https://ex.com/"), id, lit(")"), nl,
        lit("```"), nl, lit("secret "), id, nl, lit("```"), nl,
        col("text"), lit(" `tick`"), nl,
        lit("---"), nl)
      Tables.documents(s, d)
        .select(col("doc_id"),
          functions.Text.stripMarkdown(md).as("extracted"))
        .orderBy(col("doc_id"))
    }),

    // ---- near-dup threshold sweep (r14 wave 12) ----
    // the tuning artifact a curation team reads before fixing a
    // dedup threshold: pair counts per Jaccard band from ONE scoring
    // pass at the loosest threshold (never one pass per candidate
    // threshold), with the cumulative "pairs you'd merge at >= t"
    // column computed on the band-sized rollup — the window runs
    // over <= 8 rows, never the pair stream
    "dedup_threshold_sweep" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val pairs = Dedup.ngramJaccard(Tables.documents(s, d), "doc_id",
        "text", n = 3, threshold = 0.05, maxDocFreq = 1000)
      val bands = pairs
        .withColumn("band", floor(col("jaccard") * 10).cast("int"))
        .groupBy(col("band")).agg(count(lit(1)).as("n_pairs"))
      bands
        .withColumn("n_pairs_cum",
          sum(col("n_pairs")).over(Window.orderBy(col("band").desc)))
        .orderBy(col("band"))
    }),

    // ---- ER blocking-quality scorecard (r14 wave 15) ----
    // Christen's two numbers for a blocking scheme (Data Matching
    // '12): PAIRS COMPLETENESS (how many true matches the blocks
    // keep reachable) and REDUCTION RATIO (how many comparisons the
    // blocks avoid). Truth = the exhaustive length-banded edit join
    // over the er_fuzzy_pairs fixture (a lev<=2 pair has length diff
    // <=2, so the band join is lossless); blocked-true = truth pairs
    // sharing the block key (the hot-block band split compares
    // adjacent bands, which a lev<=2 pair always occupies — no loss
    // to replicate). n_compared is the unsplit per-block pair count
    // Σ m(m-1)/2 — the comparisons the scheme COMMITS to, exact in
    // SQL. One row: the artifact read before trusting a block key.
    "er_blocking_eval" -> ((s, d) => {
      val slice = Tables.part(s, d).filter(col("p_partkey") % 4 === 0)
        .select(col("p_partkey").as("id"), col("p_name").as("s"),
          element_at(split(col("p_name"), " "), -1).as("bk"))
      val nRec = slice.agg(count(lit(1)).as("n_records"))
      val nCmp = slice.groupBy(col("bk")).agg(count(lit(1)).as("m"))
        .agg(sum((col("m") * (col("m") - 1) / 2).cast("long"))
          .as("n_compared"))
      // widen the streamed side (r15): the truth pass's length-band
      // join broadcasts `b`, so an unwidened narrow scan runs the
      // whole all-pairs levenshtein sweep in ONE task (profiled
      // 7.8 s single-task stage at sf0.1)
      val a = graft.Par.widen(
        slice.select(col("id").as("id_a"), col("s").as("s_a"),
          col("bk").as("bk_a"), length(col("s")).as("l_a")), "id_a")
      val b = slice.select(col("id").as("id_b"), col("s").as("s_b"),
        col("bk").as("bk_b"), length(col("s")).as("l_b"))
      val truth = a
        .withColumn("lp", explode(array((-2 to 2).map(o => col("l_a") + o): _*)))
        .join(b, col("lp") === col("l_b") && col("id_a") < col("id_b"))
        // thresholded lev abandons at the bound: O(max·len) per pair,
        // the blockedFuzzyPairs discipline applied to the truth pass
        .filter(levenshtein(col("s_a"), col("s_b"), 2) >= 0)
        .agg(count(lit(1)).as("n_true"),
          sum(when(col("bk_a") === col("bk_b"), 1L).otherwise(0L))
            .as("n_blocked_true"))
      nRec.crossJoin(broadcast(nCmp)).crossJoin(broadcast(truth))
        .select(col("n_records"),
          (col("n_records") * (col("n_records") - 1) / 2).cast("long")
            .as("n_all_pairs"),
          col("n_compared"), col("n_true"), col("n_blocked_true"),
          round(col("n_blocked_true") * 1000000.0 / col("n_true"))
            .cast("long").as("pc_ppm"),
          round((lit(1.0) - col("n_compared")
              / (col("n_records") * (col("n_records") - 1) / 2.0))
            * 1000000.0).cast("long").as("rr_ppm"))
    }),

    // ---- zero-copy shallow clone (r14 wave 14) ----
    // the lakehouse dev/test branch: clone pins the source's v2
    // segments by reference (one JSON write — no data copied at any
    // table size), then BOTH sides diverge independently — the clone
    // appends its 'C' batch, the source appends 'S' AFTER the clone
    // — and the graded read-back of both heads proves the isolation:
    // the clone never sees 'S', the source never sees 'C'
    "versioned_clone" -> ((s, d) => {
      import graft.sources.Versioned
      val base = graft.TempDirs.create("graft_vcl_")
      val src = s"$base/src"; val dst = s"$base/clone"
      val o = Tables.orders(s, d).select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"))
      val v1 = Versioned.commit(o.filter(col("o_orderkey") % 3 =!= 0),
        src, replace = true)
      require(v1 == 1, s"expected source v1, got $v1")
      val v2 = Versioned.commit(
        o.filter(col("o_orderkey") % 3 === 0 && col("o_orderkey") % 2 === 0),
        src)
      require(v2 == 2, s"expected source v2, got $v2")
      val cv = Versioned.shallowClone(s, src, dst)
      require(cv == 1, s"expected clone v1, got $cv")
      val cv2 = Versioned.commit(
        o.filter(col("o_orderkey") % 5 === 0)
          .withColumn("o_orderstatus", lit("C")), dst)
      require(cv2 == 2, s"expected clone v2, got $cv2")
      val v3 = Versioned.commit(
        o.filter(col("o_orderkey") % 7 === 0)
          .withColumn("o_orderstatus", lit("S")), src)
      require(v3 == 3, s"expected source v3, got $v3")
      Versioned.read(s, src).withColumn("side", lit("src"))
        .unionByName(Versioned.read(s, dst).withColumn("side", lit("clone")))
        .orderBy(col("side"), col("o_orderkey"), col("o_orderstatus"))
    }),

    // ---- span-level decontamination (r14 wave 13) ----
    // the surgical alternative to the doc-drop: eval = every 10th
    // doc (the decontamination convention), and every training-doc
    // word covered by a 3-gram shared with the eval set masks while
    // the rest of the doc survives — (id, text_redacted, n_masked)
    // for ALL training docs, clean docs untouched
    "decontamination_redact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminationRedact(
          Dedup.evalGramIndex(docs.filter(col("doc_id") % 10 === 0),
            "doc_id", "text", n = 3),
          docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    }),

    // ---- stateful sessionization, graded batch-side (§2.6; r14
    // wave 16) ---- the REAL flatMapGroupsWithState sessionizer on
    // static input: batch 1 carries every event (wm=0, nothing
    // dropped; all but each user's LAST session close in-stream),
    // two sentinel microbatches then advance the event-time
    // watermark past max(ts)+gap so the open tails emit via state
    // TIMEOUT — the path a cron-driven batch job never exercises.
    // session_seq/duration derive from the sink, so the graded frame
    // equals the batch byGap islands and shares events_sessions'
    // oracle verbatim.
    "stream_sessions_stateful" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_ss")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
      graft.StreamFixtures.land(s"ev_all:$d", ev, inDir)
      withShufflePartitions(s, 4) {
        val q = graft.streaming.EventStream
          .sessions(graft.streaming.EventStream.read(s, inDir),
            gapSeconds = 1800L)
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        try {
          q.processAllAvailable() // batch 1: all real events, wm = 0
          graft.StreamFixtures.land(s"ev_sentinel_4h:$d",
            eventSentinel(s, d, 4L * 3600 * 1000), inDir)
          q.processAllAvailable() // batch 2: wm = maxTs - 1h
          graft.StreamFixtures.land(s"ev_sentinel_4h60s:$d",
            eventSentinel(s, d, 4L * 3600 * 1000 + 60000), inDir)
          q.processAllAvailable() // batch 3: wm = maxTs + 3h → tails time out
        } finally q.stop()
      }
      s.read.parquet(outDir).filter(col("user_id") =!= -1L)
        .select(col("user_id"),
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id")).orderBy(col("session_start")))
            .cast("long").as("session_seq"),
          col("session_start"), col("session_end"),
          (unix_timestamp(col("session_end"))
            - unix_timestamp(col("session_start"))).as("duration_sec"),
          col("n_events"))
        .orderBy(col("user_id"), col("session_seq"))
    }),

    // ---- stream-static dim enrichment, graded batch-side (§2.6;
    // r14 wave 16) ---- the REAL EventStream.enrich: a live event
    // stream LEFT-joined to the customer dimension (stream-static
    // joins hold no state; each microbatch equi-joins the static
    // side under the same AQE broadcast policy as the batch models).
    // Two microbatches split at the CDC cutoff prove the join is
    // per-batch, not per-query-start; events without a dim row keep
    // NULL attributes. Sink vs the plain SQL left join.
    "stream_enrich_static" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_en")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
      val cutoff = lit(CdcCutoff).cast("timestamp")
      graft.StreamFixtures.land(s"ev_le_cutoff:$d",
        ev.filter(col("ts") <= cutoff), inDir)
      val dim = Tables.customer(s, d).select(
        col("c_custkey").as("user_id"),
        col("c_name").as("customer_name"),
        col("c_mktsegment").as("market_segment"))
      withShufflePartitions(s, 4) {
        val q = graft.streaming.EventStream.enrich(
            graft.streaming.EventStream.read(s, inDir), dim, Seq("user_id"))
          .select(col("event_id"), col("user_id"), col("ts"),
            col("event_type"), col("value"), col("customer_name"),
            col("market_segment"))
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        try {
          q.processAllAvailable() // batch 1: events <= cutoff
          graft.StreamFixtures.land(s"ev_gt_cutoff:$d",
            ev.filter(col("ts") > cutoff), inDir)
          q.processAllAvailable() // batch 2: the rest
        } finally q.stop()
      }
      s.read.parquet(outDir).orderBy(col("event_id"))
    }),

    // ---- file-source incremental ingest, graded batch-side (§2.6;
    // r14 wave 16) ---- the REAL readStream file source as a bare
    // passthrough: batch 1 ingests the pre-cutoff files, batch 2
    // ONLY the newly landed ones. The sink is append-only with no
    // dedup, so a source that re-listed history would double rows
    // and hash-fail — this grades the exactly-once file-listing
    // contract itself (the streaming twin of Cdc.incrementalFilter's
    // "read only what's new").
    "stream_file_ingest" -> ((s, d) => {
      val base = graft.TempDirs.create("graft_stream_fi")
      val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
      val ev = eventCols(Tables.events(s, d))
      val cutoff = lit(CdcCutoff).cast("timestamp")
      graft.StreamFixtures.land(s"ev_le_cutoff:$d",
        ev.filter(col("ts") <= cutoff), inDir)
      withShufflePartitions(s, 4) {
        val q = graft.streaming.EventStream.read(s, inDir)
          .select(col("event_id"), col("ts"), col("user_id"),
            col("event_type"), col("value"))
          .writeStream.format("parquet").option("path", outDir)
          .option("checkpointLocation", ckpt).outputMode("append").start()
        try {
          q.processAllAvailable() // batch 1: pre-cutoff files only
          graft.StreamFixtures.land(s"ev_gt_cutoff:$d",
            ev.filter(col("ts") > cutoff), inDir)
          q.processAllAvailable() // batch 2: only the new files
        } finally q.stop()
      }
      s.read.parquet(outDir).orderBy(col("event_id"))
    }),

    // ---- Luhn-validated card-number scan (r14 wave 17) ----
    // the regex PII family pattern-matches; a PAN is only PII when
    // its mod-10 checksum HOLDS (redacting every 16-digit run would
    // shred order ids and EANs). Round-trip synthesis: every 3rd doc
    // gets a VALID card (check digit computed by the same Luhn sum
    // the oracle replays), every 5th an invalid twin (+5 on the
    // check digit), every 7th a 12-digit non-candidate — planted on
    // the NATURAL text, so natural digit runs grade too (the oracle
    // replays candidate grammar + checksum over every run in SQL).
    "pii_luhn_scan" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"),
          expr("lpad(CAST(doc_id AS STRING), 15, '4')").as("base15"))
        .withColumn("card_sum", expr(
          """aggregate(sequence(1, 15), 0, (acc, i) -> acc +
             CASE WHEN i % 2 = 1 THEN
               CASE WHEN 2 * CAST(substring(base15, i, 1) AS INT) > 9
                 THEN 2 * CAST(substring(base15, i, 1) AS INT) - 9
                 ELSE 2 * CAST(substring(base15, i, 1) AS INT) END
             ELSE CAST(substring(base15, i, 1) AS INT) END)"""))
        .withColumn("valid16", expr(
          "concat(base15, CAST((10 - card_sum % 10) % 10 AS STRING))"))
        .withColumn("synth", expr(
          """concat(text,
             CASE WHEN doc_id % 3 = 0 THEN concat(' pay ',
               substring(valid16, 1, 4), ' ', substring(valid16, 5, 4), ' ',
               substring(valid16, 9, 4), ' ', substring(valid16, 13, 4))
             ELSE '' END,
             CASE WHEN doc_id % 5 = 0 THEN concat(' ref ',
               substring(valid16, 1, 15),
               CAST((CAST(substring(valid16, 16, 1) AS INT) + 5) % 10 AS STRING))
             ELSE '' END,
             CASE WHEN doc_id % 7 = 0 THEN
               concat(' acct ', lpad(CAST(doc_id AS STRING), 12, '9'))
             ELSE '' END)"""))
        .select(col("doc_id"),
          graft.functions.Pii.cardCandidates(col("synth")).cast("long")
            .as("n_candidates"),
          graft.functions.Pii.cardsValid(col("synth")).cast("long")
            .as("n_valid"))
        .orderBy(col("doc_id"))
    }),

    // ---- checksum-gated card redaction (r14 wave 17) ----
    // the scrub pass itself: Luhn-VALID runs become <CARD>, invalid
    // runs and non-candidates survive untouched. Natural digits are
    // stripped first so the oracle's replace() replay is exact — the
    // arbitrary-text path is graded by [pii_luhn_scan].
    "doc_card_redact" -> ((s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          expr("regexp_replace(coalesce(text, ''), '[0-9]', '')").as("text"),
          expr("lpad(CAST(doc_id AS STRING), 15, '4')").as("base15"))
        .withColumn("card_sum", expr(
          """aggregate(sequence(1, 15), 0, (acc, i) -> acc +
             CASE WHEN i % 2 = 1 THEN
               CASE WHEN 2 * CAST(substring(base15, i, 1) AS INT) > 9
                 THEN 2 * CAST(substring(base15, i, 1) AS INT) - 9
                 ELSE 2 * CAST(substring(base15, i, 1) AS INT) END
             ELSE CAST(substring(base15, i, 1) AS INT) END)"""))
        .withColumn("valid16", expr(
          "concat(base15, CAST((10 - card_sum % 10) % 10 AS STRING))"))
        .withColumn("synth", expr(
          """concat(text,
             CASE WHEN doc_id % 3 = 0 THEN concat(' pay ',
               substring(valid16, 1, 4), ' ', substring(valid16, 5, 4), ' ',
               substring(valid16, 9, 4), ' ', substring(valid16, 13, 4))
             ELSE '' END,
             CASE WHEN doc_id % 5 = 0 THEN concat(' ref ',
               substring(valid16, 1, 15),
               CAST((CAST(substring(valid16, 16, 1) AS INT) + 5) % 10 AS STRING))
             ELSE '' END,
             CASE WHEN doc_id % 7 = 0 THEN
               concat(' acct ', lpad(CAST(doc_id AS STRING), 12, '9'))
             ELSE '' END)"""))
        .select(col("doc_id"),
          graft.functions.Pii.cardsValid(col("synth")).cast("long")
            .as("n_cards"),
          graft.functions.Pii.redactCards(col("synth")).as("text_redacted"))
        .orderBy(col("doc_id"))
    }),

    // ---- delta-method ratio-metric A/B (r14 wave 18) ----
    // the experimentation stack's missing member: Welch/MW/CUPED
    // compare per-UNIT means, but "value per event" randomized by
    // USER needs the delta method (Deng, Knoblich & Lu KDD '18) —
    // variant = user_id % 2 (the ab_srm convention), unit = user,
    // numerator = value, denominator = event count
    "ab_ratio_delta" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .withColumn("variant",
          when(col("user_id") % 2 === 1, "A").otherwise("B"))
      Quality.ratioDelta(ev, "event_type", "user_id", "variant", "value",
          "A", "B")
        .orderBy(col("event_type"))
    }),

    // ---- lagged cross-correlation (r14 wave 18) ----
    // Box–Jenkins CCF between the hourly view and purchase count
    // series on a shared gap-filled spine (a missing hour is a real
    // zero); exact integer moments, one double tree per lag
    "events_xcorr" -> ((s, d) =>
      pipeline.Analytics.crossCorrelation(Tables.events(s, d),
        "ts", "event_type", "view", "purchase", maxLag = 6)),

    // ---- Versioned schema evolution (r14 wave 19) ----
    // the dbt on_schema_change: append_new_columns contract on the
    // engine's own table format: v1 lands the narrow schema, v2
    // appends with an ADDED column; the merged head read null-fills
    // v1's rows, while time travel to v1 keeps the original narrow
    // schema (asserted in-key — old manifests list only old segments)
    "versioned_schema_evolution" -> ((s, d) => {
      import graft.sources.Versioned
      val dst = graft.TempDirs.create("graft_vse") + "/t"
      val o = Tables.orders(s, d)
      val v1 = Versioned.commit(o.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_totalprice")), dst)
      val v2 = Versioned.commit(o.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus")), dst)
      require(v1 == 1 && v2 == 2, s"unexpected versions ($v1, $v2)")
      val narrow = Versioned.read(s, dst, Some(1))
      require(narrow.columns.sorted.toSeq ==
        Seq("o_orderkey", "o_totalprice"),
        s"time travel must keep the pre-evolution schema, " +
          s"got ${narrow.columns.mkString(",")}")
      Versioned.read(s, dst)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // ---- power-law degree-distribution fit (r14 wave 19) ----
    // CSN '09 MLE over the co-purchase graph's degree tail — the
    // one-row scale-free screen; per-node log terms as rounded 1e-6
    // integers (order-free exact sum), one final double division
    "graph_powerlaw_fit" -> ((s, d) =>
      Graph.powerlawFit(coPurchaseEdges(s, d), "pa", "pb", dMin = 4L)),

    // ---- JDBC merge-dialect matrix (r14 wave 20) ----
    // the warehouse-seam honesty row graded: the dialect layer's
    // CONTRACT is the SQL text it generates (the live Derby path is
    // graded by sink_jdbc_upsert; ClickHouse/ANSI can't run in this
    // container, but their statements are pure functions of the merge
    // spec) — one fixed spec with a string key drives forUrl inference
    // + prep/merge generation for all three dialects, graded against
    // a VALUES oracle stating every statement verbatim
    "sink_jdbc_dialect_matrix" -> ((s, d) => {
      import graft.sources.JdbcMergeDialect
      val urls = Seq(
        ("ansi", "jdbc:postgresql://host/db"),
        ("clickhouse", "jdbc:clickhouse://host/db"),
        ("derby", "jdbc:derby:memory:x"))
      val key = Seq("o_orderkey", "o_tag")
      val cols = Seq("o_orderkey", "o_tag", "o_val")
      val strKeys = Set("o_tag")
      val rows = urls.flatMap { case (name, url) =>
        val dia = JdbcMergeDialect.forUrl(url)
        val prep = dia.stagingPrepStatements("stg_orders", key, strKeys)
          .map(("prep", _))
        val merge = dia.mergeStatements("t_orders", "stg_orders", key,
          cols, strKeys).map(("merge", _))
        (prep ++ merge).zipWithIndex.map { case ((kind, sql), i) =>
          (name, (i + 1).toLong, kind, sql, dia.transactional)
        }
      }
      import s.implicits._
      rows.toDF("dialect", "stmt_no", "kind", "sql_text", "transactional")
        .orderBy(col("dialect"), col("stmt_no"))
    }),

    // ---- exact join-cardinality estimate (r14 wave 20) ----
    // the planner question answered WITHOUT running the join: by the
    // aggregation identity |A ⋈ B| = Σ_v f_A(v)·f_B(v), two
    // histogram aggregates + a key-join of the (bounded-width)
    // histograms replace materializing the join itself — plus the
    // max single-key fanout, the skew red flag
    "dq_join_cardinality" -> ((s, d) => {
      Quality.joinCardinality(
        Tables.events(s, d), "user_id",
        Tables.customer(s, d), "c_custkey")
    }),
  )
}
