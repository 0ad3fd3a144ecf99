package graft

import graft.operators._
import graft.pipeline.{Analytics, Dag, DayReplay, IncrementalModel, Models, Schedule}
import graft.sources.SchemaEvolution
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.EntryHelpers._

/** Query-registry shard 4/5 — split out of the 11k-line
  * SparkEntry (r11 verdict ask #8). Entries are VERBATIM (wave order
  * preserved); [[SparkEntry.queries]] composes the shards. */
private[graft] object QueriesShard4 {
  val m: Map[String, (SparkSession, String) => DataFrame] = Map(
    // keep-BEST-per-cluster (r8): the curation form — the longest doc
    // of each near-dup cluster survives (ties to the lowest id),
    // unclustered docs survive as their own cluster
    "dedup_keep_best" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val scored = docs.select(col("doc_id"),
        functions.Text.tokenCountWs(col("text")).as("n_words"))
      val pairs = Dedup.ngramJaccard(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxDocFreq = 1000)
      Dedup.keepBestPerCluster(scored, "doc_id", pairs, "n_words")
        .select(col("comp"), col("doc_id").as("keeper_id"), col("n_words"))
        .orderBy(col("comp"))
    }),
    // cluster-maintenance twin (r7): the same pair stream split into
    // "yesterday" (both ids < cut → labeled) and "today" (the rest,
    // folded via the star-edge incremental) — provably identical to
    // the full replay, so the SAME recursive oracle grades it
    "dedup_components_incr" -> ((s, d) => {
      // persisted: the day-1/day-2 filters both read this pair stream
      val pairs = graft.Par.persistTracked(
        Dedup.ngramJaccard(Tables.documents(s, d), "doc_id", "text",
          n = 3, threshold = 0.5, maxDocFreq = 1000))
      val cut = lit(250L)
      val day1 = pairs.filter(col("id_a") < cut && col("id_b") < cut)
      val day2 = pairs.filter(!(col("id_a") < cut && col("id_b") < cut))
      Dedup.connectedComponentsIncremental(
          Dedup.connectedComponents(day1), day2)
        .orderBy(col("id"))
    }),

    // ---- sampling / splitting (§2.5b) ----
    // modulo split: the bit-portable oracle for the assignment chain
    "sample_split" -> ((s, d) =>
      Sampling.modSplit(Tables.documents(s, d), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))),
    // hash split: the production path, graded with FULL rows since r7 —
    // the oracle replays Spark's xxHash64-of-long itself (HUGEINT
    // modular arithmetic in DuckDB), so the real hash assignment is
    // checked, not a twin
    "sample_split_hash" -> ((s, d) =>
      Sampling.hashSplit(Tables.documents(s, d), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))),
    // leakage-safe split (r8): near-dup clusters never straddle
    // train/val — split key = transitive-cluster label over the
    // graded ngram-Jaccard pair graph, own id for unclustered docs
    "sample_split_leakage_safe" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pairs = Dedup.ngramJaccard(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxDocFreq = 1000)
      Sampling.leakageSafeSplit(docs.select(col("doc_id")), "doc_id", pairs,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),
    // exact-n-per-stratum sample (r8): each language contributes its
    // 100 lowest-hash docs — the two-phase bounded-heap top-n; the
    // oracle replays the xxHash64 ranking over the FULL stratum, so
    // the phase-1 candidate pruning is proven lossless on real data
    "sample_stratified_n" -> ((s, d) =>
      Sampling.stratifiedTopN(Tables.documents(s, d), "doc_id", "lang", n = 100)
        .select(col("doc_id"), col("lang"), col("rank"))
        .orderBy(col("lang"), col("rank"))),
    // sequential Poisson PPS sample (r8-cont): ξ = uniform(h)/weight,
    // n smallest — every step cross-engine exact (53-bit logical
    // shift, power-of-two scale, one IEEE division), so the oracle
    // replays the full ranking
    "sample_weighted_n" -> ((s, d) =>
      Sampling.weightedSampleN(Tables.documents(s, d), "doc_id", "n_chars",
          n = 200)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("rank"))
        .orderBy(col("rank"))),
    // per-stratum PPS (r8-cont): each language keeps its n smallest
    // ξ — same bit-portable rank variable, ranking replayed per
    // stratum
    "sample_weighted_n_stratum" -> ((s, d) =>
      Sampling.weightedSampleNPerStratum(Tables.documents(s, d), "doc_id",
          "lang", "n_chars", n = 50)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("rank"))
        .orderBy(col("lang"), col("rank"))),
    // PPS-maintenance twin: day 1's sample folded with day 2's batch —
    // the n-smallest-ξ reduction is associative and idempotent, so the
    // SAME full-corpus ranking oracle grades the fold
    "sample_weighted_n_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cut = lit(250L)
      val day1 = Sampling.weightedSampleN(docs.filter(col("doc_id") < cut),
        "doc_id", "n_chars", n = 200)
      Sampling.weightedSampleNIncremental(day1,
          docs.filter(col("doc_id") >= cut), "doc_id", "n_chars", n = 200)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("rank"))
        .orderBy(col("rank"))
    }),
    // sample-maintenance twin: day 1's sample folded with day 2's
    // batch — provably identical to the full run (top-n by hash is an
    // associative idempotent reduction), so the SAME oracle grades it
    "sample_stratified_n_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cut = lit(250L)
      val day1 = Sampling.stratifiedTopN(docs.filter(col("doc_id") < cut),
        "doc_id", "lang", n = 100)
      Sampling.stratifiedTopNIncremental(day1,
          docs.filter(col("doc_id") >= cut), "doc_id", "lang", n = 100)
        .select(col("doc_id"), col("lang"), col("rank"))
        .orderBy(col("lang"), col("rank"))
    }),
    // proportional low-discrepancy interleave (r8-cont): every prefix
    // of the output order carries each source within ±1 of its exact
    // proportional share; pos = (r−0.5)/n is bit-identical IEEE
    // arithmetic in both engines, so the FULL ordering is graded (the
    // operator runs the 256-bucket scale path, the oracle the naive
    // per-group rank window; seq added here — the operator itself
    // ends at the distributed range sort, never a global row_number)
    "corpus_interleave" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("pos").asc, col("source").asc, col("doc_id").asc)
      Sampling.interleaveByGroup(Tables.documents(s, d), "doc_id", "source")
        .select(col("doc_id"), col("group_key").as("source"), col("pos"))
        .withColumn("seq", row_number().over(w))
        .orderBy(col("seq"))
    }),
    // training-shard writer manifest (r8-cont): the graded result IS
    // the manifest the REAL writer returns — the query routes the
    // corpus through Sink.writeShards into a fresh temp dir (files +
    // _manifest written as a side effect), and the oracle replays the
    // pmod(xxhash64) shard assignment per shard
    "corpus_shards" -> ((s, d) => {
      val out = s"/tmp/graft-shards-${java.util.UUID.randomUUID()}"
      graft.sources.Sink.writeShards(Tables.documents(s, d), "doc_id",
          nShards = 8, path = out)
        .orderBy(col("shard"))
    }),

    // ---- corpus vocabulary stats (§2.5) ----
    "corpus_top_terms" -> ((s, d) =>
      functions.Text.topTerms(Tables.documents(s, d), "doc_id", "text", k = 100)),

    // BM25 top-k retrieval (r8-cont): Lucene-IDF BM25 over the corpus
    // for a fixed query — ranking on the ROUNDED score (ties to the
    // lower doc id) so the cross-engine order is stable; the oracle
    // replays the identical left-to-right IEEE arithmetic
    "corpus_bm25_topk" -> ((s, d) =>
      functions.Text.bm25TopK(Tables.documents(s, d), "doc_id", "text",
          queryTerms = Seq("spark", "hash", "join"), k = 50)
        .orderBy(col("rank"))),
    // nDCG@50 over that same BM25 ranking (r11): graded term-overlap
    // relevance, rounded-term DCG/IDCG integer sums, one division —
    // the search-quality eval harness
    "search_ndcg" -> ((s, d) =>
      functions.Text.ndcgAtK(Tables.documents(s, d), "doc_id", "text",
        queryTerms = Seq("spark", "hash", "join"), k = 50)),
    // PMI collocations (r11, Church & Hanks): strongly-associated
    // adjacent pairs, hapax-pair pathology cut by minCount, top-k on
    // the rounded score
    "corpus_collocations" -> ((s, d) =>
      functions.Text.collocations(Tables.documents(s, d), "doc_id", "text",
        minCount = 5L, k = 50)),

    // maintained BM25 inverted index (r11): two corpus halves indexed
    // separately (per-doc postings + lens rows — the daily-append
    // shape), the query runs against the UNIONED index frames and
    // must answer exactly like the full re-scan — integer tf/len/df
    // adds and the shared scoring tail make the equality structural
    "corpus_bm25_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (p1, l1) = functions.Text.bm25IndexFrames(
        docs.filter(col("doc_id") < 250), "doc_id", "text")
      val (p2, l2) = functions.Text.bm25IndexFrames(
        docs.filter(col("doc_id") >= 250), "doc_id", "text")
      functions.Text.bm25TopKIndexed(p1.unionByName(p2), l1.unionByName(l2),
          queryTerms = Seq("spark", "hash", "join"), k = 50)
        .orderBy(col("rank"))
    }),

    // word-level repetition signals (Gopher A1.1-style): type-token
    // ratio + top-word fraction per doc
    "doc_repetition" -> ((s, d) =>
      functions.Text.wordRepetition(Tables.documents(s, d), "doc_id", "text")
        .withColumn("distinct_ratio", round(col("distinct_ratio"), 6))
        .withColumn("top_word_frac", round(col("top_word_frac"), 6))
        .orderBy(col("doc_id"))),

    // Misra–Gries heavy-hitter terms (r7): the bounded-memory top-k
    // whose shuffle is partitions×capacity rows regardless of vocab.
    // count_min depends on the partition layout → rows-only by
    // design; TextSpec pins the presence + bracketing guarantees
    "corpus_top_terms_approx" -> ((s, d) =>
      functions.Text.topTermsApprox(Tables.documents(s, d), "doc_id", "text",
          k = 20, capacity = 256)
        .orderBy(col("count_min").desc, col("term"))),

    // n-gram repetition signals (r7; Gopher A1.1 duplicate/top
    // n-gram filters) — catches looped/templated text whose
    // word-level ratios look normal
    "doc_ngram_repetition" -> ((s, d) =>
      functions.Text.ngramRepetition(Tables.documents(s, d), "doc_id", "text", n = 3)
        .withColumn("top_ngram_frac", round(col("top_ngram_frac"), 6))
        .withColumn("dup_ngram_frac", round(col("dup_ngram_frac"), 6))
        .orderBy(col("doc_id"))),

    // rule filter over those signals: keep + FIRST failing rule
    // (thresholds chosen to split this corpus: median distinct_ratio
    // ≈ 0.46, median top_word_frac ≈ 0.09)
    "doc_quality_filter" -> ((s, d) =>
      functions.Text.qualityFilter(Tables.documents(s, d), "doc_id", "text",
          minWords = 20L, maxWords = 1000L,
          minDistinctRatio = 0.4, maxTopWordFrac = 0.12)
        .orderBy(col("doc_id"))),

    // segment-level exact dedup (r9; CCNet line-dedup with a fixed
    // 20-word window as the unit — this corpus has no newlines):
    // keep each segment's corpus-wide first occurrence, rebuild docs
    "dedup_segments" -> ((s, d) =>
      Dedup.segmentDedup(Tables.documents(s, d), "doc_id", "text", window = 20)
        .orderBy(col("doc_id"))),

    // incremental segment dedup (r9): batch dedups against the
    // persisted segment-hash index; batch ids order after the index
    "dedup_segments_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val cut = lit(250L)
      val index = Dedup.segmentIndex(docs.filter(col("doc_id") < cut),
        "doc_id", "text", window = 20)
      Dedup.segmentDedupIncremental(index, docs.filter(col("doc_id") >= cut),
          "doc_id", "text", window = 20)
        .orderBy(col("doc_id"))
    }),

    // Zipf's-law OLS fit over the top-100 vocabulary (r9): the
    // one-row natural-language-vs-template corpus screen
    "corpus_zipf" -> ((s, d) =>
      functions.Text.zipfFit(Tables.documents(s, d), "doc_id", "text", k = 100)),

    // BPE merge learning (r9; Sennrich '16): iterative argmax-pair
    // merges over the word-TYPE table. Deterministic (tie-break by
    // count desc, pair asc) but iterative — not SQL-expressible, so
    // rows-only; BpeSpec pins the merge table on a hand-computed
    // corpus and merge-application semantics
    "corpus_bpe" -> ((s, d) =>
      functions.Bpe.learnMerges(Tables.documents(s, d), "doc_id", "text",
        numMerges = 30)),

    // model-based quality score (r9; GPT-3 appendix A distillation):
    // logistic regression on the repetition/stopword signals with
    // the rule verdict as teacher. L-BFGS coefficients reproduce
    // only to float-sum order → rows-only; QualityModelSpec pins
    // teacher agreement + separation
    "doc_quality_model" -> ((s, d) =>
      QualityModel.trainScore(Tables.documents(s, d), "doc_id", "text",
          minWords = 50L, maxWords = 1000L,
          minDistinctRatio = 0.4, maxTopWordFrac = 0.12)
        .orderBy(col("doc_id"))),

    // per-domain score calibration (r8): z + min-max normalization of
    // the quality score within source — scores comparable across
    // domains before any global threshold
    "doc_quality_normalized" -> ((s, d) => {
      val t = col("text")
      val nWords = functions.Text.tokenCountWs(t)
      val score = functions.Text.stopwordHits(t, functions.Text.StopwordsEn)
        .cast("double") / nullif(nWords, lit(0L)).cast("double")
      val scored = Tables.documents(s, d).select(col("doc_id"), col("source"),
        coalesce(score, lit(0.0)).as("score"))
      Quality.normalizeScores(scored, "source", "score")
        .select(col("doc_id"), col("source"), col("score_z"), col("score_minmax"))
        .orderBy(col("doc_id"))
    }),

    // per-domain fractional quality cut (r8): keep the best 30% of
    // every source by the stopword-ratio score — the operator runs the
    // bucketed per-group scale path, the oracle the naive rank window
    "doc_quality_top_frac" -> ((s, d) => {
      val t = col("text")
      val nWords = functions.Text.tokenCountWs(t)
      val score = functions.Text.stopwordHits(t, functions.Text.StopwordsEn)
        .cast("double") / nullif(nWords, lit(0L)).cast("double")
      val scored = Tables.documents(s, d).select(col("doc_id"), col("source"),
        coalesce(score, lit(0.0)).as("score"))
      Sampling.topFracPerGroup(scored, "doc_id", "source", "score", frac = 0.3)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // greedy token-budget assembly (r8): the maximal prefix of the
    // corpus ordered most-natural-text-first (stopword ratio desc)
    // whose token sum fits the budget; the operator runs the bucketed
    // scale path, the oracle the naive global running-sum window
    "corpus_select_budget" -> ((s, d) => {
      val t = col("text")
      val nWords = functions.Text.tokenCountWs(t)
      val score = functions.Text.stopwordHits(t, functions.Text.StopwordsEn)
        .cast("double") / nullif(nWords, lit(0L)).cast("double")
      val scored = Tables.documents(s, d).select(col("doc_id"),
        nWords.as("n_words"), coalesce(score, lit(0.0)).as("score"))
      Sampling.selectBudget(scored, "doc_id", "n_words", "score",
          budget = 15000L)
        .select(col("doc_id"), col("n_words"))
        .orderBy(col("doc_id"))
    }),

    // DSIR importance-resampling selection (r11, Xie et al. '23):
    // non-English candidates ranked by how much they read like the
    // English target under hashed-unigram models (md5-slice buckets —
    // the whole score replays in SQL); deterministic top-k form
    "select_dsir" -> ((s, d) =>
      Sampling.dsirSelect(Tables.documents(s, d), "doc_id", "text",
          isTarget = col("lang") === "en", n = 100)
        .orderBy(col("rank"))),

    // per-(doc, term) TF-IDF; nDocs from the raw scan (metadata-only)
    "doc_tfidf" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      functions.Text.tfIdf(docs, "doc_id", "text", docs.count())
        .withColumn("tfidf", round(col("tfidf"), 6))
        .orderBy(col("doc_id"), col("term"))
    }),

    // corpus-unigram surprisal: the distribution-outlier curation
    // signal; round(4) keeps the cross-engine double-sum comparison
    // far from rounding boundaries
    "doc_surprisal" -> ((s, d) =>
      functions.Text.unigramSurprisal(Tables.documents(s, d), "doc_id", "text")
        .withColumn("avg_logprob", round(col("avg_logprob"), 4))
        .orderBy(col("doc_id"))),
    // conditional (bigram) surprisal — word-ORDER-sensitive quality
    // signal (r7); same round(4) cross-engine double-sum guard
    "doc_bigram_surprisal" -> ((s, d) =>
      functions.Text.bigramSurprisal(Tables.documents(s, d), "doc_id", "text")
        .withColumn("avg_logprob", round(col("avg_logprob"), 4))
        .orderBy(col("doc_id"))),

    // ---- PII redaction (§2.5) ----
    // deterministic synthetic PII seeded INSIDE the query (the raw
    // corpus carries none), so redaction + audit counts grade against
    // a DuckDB regexp oracle — patterns are RE2-compatible by design
    // (functions/Text.scala), so both engines match identically
    "doc_pii_redact" -> ((s, d) => {
      val seeded = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
          lit(" see https://ex.org/p/"), col("doc_id").cast("string"),
          lit(" from 10.1.2.3")).as("text"))
      seeded.select(col("doc_id"),
          functions.Text.redactPii(col("text")).as("redacted"),
          functions.Text.piiCounts(col("text")).as("pii"))
        .select(col("doc_id"), col("redacted"),
          col("pii.n_emails").as("n_emails"),
          col("pii.n_urls").as("n_urls"),
          col("pii.n_ips").as("n_ips"))
        .orderBy(col("doc_id"))
    }),

    // column-level PII exposure scan (r11): the governance screen a
    // table passes before training/export clearance — every string
    // column × PII kind gets (rows hit, total hits) from ONE scan
    // using the SAME patterns the redaction pass applies. The text
    // column is seeded with one email/url/ip per doc (the
    // doc_pii_redact corpus), lang/source must screen clean
    "pii_column_scan" -> ((s, d) => {
      val seeded = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
          lit(" see https://ex.org/p/"), col("doc_id").cast("string"),
          lit(" from 10.1.2.3")).as("text"),
        col("lang"), col("source"))
      Quality.piiColumnScan(seeded, Seq("text", "lang", "source"))
        .orderBy(col("column_name"), col("pii_kind"))
    }),
    // k-anonymity / l-diversity audit (r11): equivalence classes on
    // (nation, segment), acctbal as the sensitive attribute — the
    // re-identification screen before export clearance
    "pii_k_anonymity" -> ((s, d) =>
      Quality.kAnonymity(Tables.customer(s, d),
        Seq("c_nationkey", "c_mktsegment"), k = 10,
        sensitiveCol = Some("c_acctbal"))),
    // t-closeness (r11): the third privacy rung — per (nation,
    // segment) class, total-variation distance of the balance-band
    // distribution from the global one; zero cells via algebra (no
    // grid), rounded-6/1e6-scaled terms summed as integers
    "dq_t_closeness" -> ((s, d) =>
      Quality.tCloseness(Tables.customer(s, d)
          .withColumn("bal_band",
            floor(col("c_acctbal") / lit(2000.0)).cast("int")),
        Seq("c_nationkey", "c_mktsegment"), "bal_band", t = 0.2)
        .orderBy(col("c_nationkey"), col("c_mktsegment"))),

    // salted pseudonymization (r8-cont): both sides tokenize their
    // key under one salt and the JOIN RUNS ON TOKENS — the graded
    // aggregate (incl. a sample token value) proves referential
    // integrity survives tokenization and the md5-slice tokens are
    // engine-portable
    "pii_pseudonymized_join" -> ((s, d) => {
      val c = Tables.customer(s, d).select(
        functions.Text.pseudonymize(col("c_custkey"), "tenant-a").as("token"),
        col("c_mktsegment"))
      val o = Tables.orders(s, d).select(
        functions.Text.pseudonymize(col("o_custkey"), "tenant-a").as("token"))
      c.join(o, Seq("token"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          countDistinct(col("token")).as("n_customers"),
          min(col("token")).as("sample_token"))
        .orderBy(col("c_mktsegment"))
    }),

    // trigram-indexed substring search (r8-cont, the pg_trgm
    // pattern): candidates from posting-list intersection over the
    // pattern's trigrams, exact contains verify on candidates only —
    // the oracle is the definitional scan
    "doc_substring_search" -> ((s, d) => {
      val docsDf = Tables.documents(s, d)
      val idx = Search.trigramFrame(docsDf, "doc_id", "text")
      Search.substringSearch(idx, docsDf, "doc_id", "text", "data group")
        .select(col("id").as("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // batch multi-pattern search (r8-cont): N phrases probe the
    // posting index in ONE pass; oracle = the per-pattern scans
    "doc_multi_search" -> ((s, d) => {
      val docsDf = Tables.documents(s, d)
      val idx = Search.trigramFrame(docsDf, "doc_id", "text")
      Search.multiSearch(idx, docsDf, "doc_id", "text",
          Seq("data group", "window dup", "sort merge part", "spark group"))
        .select(col("pattern"), col("id").as("doc_id"))
        .orderBy(col("pattern"), col("doc_id"))
    }),

    // positional-index phrase search (r11, the Lucene PhraseQuery
    // shape): anchor-vote adjacency intersect over (id, term, pos)
    // postings — "table table" exercises repeated phrase terms AND
    // overlapping occurrences; oracle = the definitional padded-text
    // scan counting every (incl. overlapping) occurrence.
    // The index is a MEMOIZED per-JVM parquet store (graft.Stores)
    // and the probe runs against the stored frame (r12 verdict ask
    // #4: with the build inlined, every probe re-derived the
    // tokenize+explode subplan and the bench conflated build with
    // probe cost; with a per-invocation store hop it conflated
    // build+WRITE with probe — the warmup pass now builds once and
    // the timed passes probe only; build cost has its own graded
    // key, doc_phrase_index_build)
    "doc_phrase_search" -> ((s, d) => {
      val store = graft.Stores.cached(s"posidx:$d") { dir =>
        Search.positionalFrame(Tables.documents(s, d), "doc_id", "text")
          .write.parquet(dir + "/t")
      } + "/t"
      Search.phraseSearch(s.read.parquet(store), Seq("table", "table"))
        .select(col("id").as("doc_id"), col("n_matches"), col("first_pos"))
        .orderBy(col("doc_id"))
    }),

    // the positional-index BUILD as its own graded key (r12 verdict
    // ask #4's second half): the index frame itself is fully
    // SQL-replayable (normalize + split + 1-based positions), so
    // build cost is tracked where it belongs instead of riding every
    // probe key
    "doc_phrase_index_build" -> ((s, d) =>
      Search.positionalFrame(Tables.documents(s, d), "doc_id", "text")
        .select(col("id").as("doc_id"), col("term"), col("pos"))
        .orderBy(col("doc_id"), col("pos"))),

    // batch multi-phrase search (r11): N phrases probe the positional
    // index in ONE pass — the banned-phrase-list shape at token
    // level; includes a rare and a no-hit phrase. Probe-only against
    // the stored index (store-hop discipline, see doc_phrase_search)
    "doc_multi_phrase" -> ((s, d) => {
      val store = graft.Stores.cached(s"posidx:$d") { dir =>
        Search.positionalFrame(Tables.documents(s, d), "doc_id", "text")
          .write.parquet(dir + "/t")
      } + "/t"
      Search.multiPhraseSearch(s.read.parquet(store), Seq(
          Seq("table", "table"), Seq("value", "table"),
          Seq("fast", "sort", "key"), Seq("quantum", "leap")))
        .select(col("pattern"), col("id").as("doc_id"),
          col("n_matches"), col("first_pos"))
        .orderBy(col("pattern"), col("doc_id"))
    }),

    // maintained positional index (r11): two corpus halves indexed
    // separately and APPENDED to the same store — positions are
    // per-doc, so batch frames append row-for-row; the phrase runs
    // against the maintained store and must answer exactly like the
    // fresh build
    "doc_phrase_search_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val store = graft.Stores.cached(s"posidx_incr:$d") { dir =>
        Search.positionalFrame(docs.filter(col("doc_id") < 250),
            "doc_id", "text")
          .write.parquet(dir + "/t")
        Search.positionalFrame(docs.filter(col("doc_id") >= 250),
            "doc_id", "text")
          .write.mode("append").parquet(dir + "/t")
      } + "/t"
      Search.phraseSearch(s.read.parquet(store), Seq("table", "table"))
        .select(col("id").as("doc_id"), col("n_matches"), col("first_pos"))
        .orderBy(col("doc_id"))
    }),

    // ---- sequence packing (§2.5b) ----
    // bin ids depend on partition layout → rows-only (one row per doc;
    // PackSpec pins the packing invariants)
    "doc_pack" -> ((s, d) => {
      val docs = Tables.documents(s, d).select(col("doc_id"),
        functions.Text.tokenCountBpe(col("text")).as("n_tokens"))
      Pack.firstFit(docs, "doc_id", "n_tokens", binTokens = 2048L)
        .orderBy(col("doc_id"))
    }),
    // fixed-window chunking with stride overlap (r7): window 32,
    // stride 24 → consecutive chunks share 8 tokens; full oracle
    // (the start/length arithmetic replays exactly in SQL)
    "doc_chunk" -> ((s, d) =>
      Pack.chunkTokens(Tables.documents(s, d), "doc_id", "text",
          window = 32, stride = 24)
        .orderBy(col("doc_id"), col("chunk_id"))),

    // ---- numeric distribution profile (§2.3) ----
    // exact percentiles: the oracle baseline (buffers the column —
    // bounded inputs only; the approx variant is the 100 TB path)
    "dq_numeric_profile" -> ((s, d) =>
      Quality.profileNumeric(Tables.orders(s, d),
          Seq("o_custkey", "o_totalprice"))
        .orderBy(col("column_name"))),
    "dq_numeric_profile_approx" -> ((s, d) =>
      Quality.profileNumericApprox(Tables.orders(s, d),
          Seq("o_custkey", "o_totalprice"))
        .orderBy(col("column_name"))),

    // ---- eval-set decontamination (§2.5b) ----
    // eval = every 10th doc; flag eval docs sharing ≥3 shingles with
    // any training doc, reporting the worst-overlapping train doc
    "decontamination" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.contamination(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", n = 3, minCommon = 3, maxDocFreq = 1000)
        .orderBy(col("eval_id"))
    }),
    // daily-ingest decontamination (r11): the direction-flipped delta
    // form — the eval set's gram index is fixed, today's training
    // batch (second half of the train docs) is checked against it at
    // batch cost, and contaminated BATCH docs are flagged with their
    // worst offending eval doc so they drop before training
    "decontamination_incr" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val evalIdx = Dedup.evalGramIndex(
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text", n = 3)
      Dedup.contaminationBatch(evalIdx,
          docs.filter(col("doc_id") % 10 =!= 0 && col("doc_id") >= 250),
          "doc_id", "text", n = 3, minCommon = 3, maxDocFreq = 1000)
        .orderBy(col("doc_id"))
    }),

    // ---- end-to-end curation pipeline (§2.5b) ----
    // the whole training-set story composed: quality gate → exact
    // dedup (keep lowest id) → near-dup removal (drop the higher id of
    // every ngram-Jaccard pair) → deterministic split. Each stage is a
    // graded operator; this entry proves they COMPOSE, oracle-checked
    // end to end.
    "curation_pipeline" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val quality = docs.filter(
        functions.Text.tokenCountWs(col("text")) >= 5 &&
          functions.Text.stopwordHits(col("text"), functions.Text.StopwordsEn) > 0)
      val keepers = Dedup.exact(quality, "doc_id", "text")
        .select(col("keeper_id").as("doc_id"))
      val survivors = quality.join(keepers, Seq("doc_id"), "left_semi")
      val nearDupLosers = Dedup.ngramJaccard(survivors, "doc_id", "text",
          n = 3, threshold = 0.5, maxDocFreq = 1000)
        .select(col("id_b").as("doc_id")).distinct()
      val curated = survivors.join(nearDupLosers, Seq("doc_id"), "left_anti")
      Sampling.modSplit(curated, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // ---- multimodal (§2.5) ----
    // document text as an opaque binary asset through the REAL
    // multimodal batch path (mapPartitions feature extraction);
    // n_bytes + byte entropy are codec-free and oracle-comparable
    // (rounded: the two engines sum -p·log2(p) in different orders)
    "multimodal_features" -> ((s, d) => {
      import s.implicits._
      val media = Tables.documents(s, d).select(
          col("doc_id").as("media_id"), lit("text").as("media_type"),
          col("text").cast("binary").as("content"),
          lit(0).as("width"), lit(0).as("height"), lit(0L).as("duration_ms"))
        .as[graft.multimodal.MediaRow]
      graft.multimodal.Multimodal.extractFeatures(media).toDF()
        .select(col("media_id"), col("n_bytes"),
          round(col("byte_entropy"), 6).as("byte_entropy"))
        .orderBy(col("media_id"))
    }),

    // ---- similarity search (§2.5) ----
    // IVF mechanics graded against a FULL DuckDB oracle (r7): the
    // graded quantizer is the deterministic "first nlist corpus
    // vectors" pick, so assignment/probing/scoring replicate exactly
    // in SQL — the trained-KMeans quantizer path keeps its recall
    // ≥0.8 spec in SimilaritySpec (k-means iterations aren't SQL)
    "ann_ivf_topk" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val queries = embs.filter(col("vec_id") < 5)
      val cents = embs.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt,
          r.getSeq[Float](1).map(_.toDouble).toSeq))
        .sortBy(_._1).toSeq
      Similarity.ivfTopKWith(embs, queries, "vec_id", "embedding", "vec_id",
          k = 10, centroids = cents, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // k-NN weak labeling (r11): every 50th vector plays the
    // unlabeled batch, the rest the labeled seed corpus; each batch
    // vector takes the majority label of its 10 nearest neighbors
    // (integer votes, ties to the lowest label — fully
    // SQL-replayable, no float aggregation)
    "ann_knn_label" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      Similarity.knnLabel(
          embs.filter(col("vec_id") % 50 =!= 0),
          embs.filter(col("vec_id") % 50 === 0),
          "vec_id", "embedding", "label", k = 10)
        .orderBy(col("vec_id"))
    }),
    // incremental IVF index maintenance (r11): the daily-ingest ANN
    // path — the corpus's first half is indexed, the second half is
    // ASSIGNED AT BATCH COST against the frozen centroids and
    // appended through a real parquet store hop, and the query runs
    // against the maintained index. Frozen centroids make per-row
    // assignment deterministic, so the result is IDENTICAL to a full
    // rebuild — the oracle is ann_ivf_topk's replay verbatim
    "ann_ivf_incr_topk" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val queries = embs.filter(col("vec_id") < 5)
      val cents = embs.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding")).collect()
        .map(r => (r.getLong(0).toInt,
          r.getSeq[Float](1).map(_.toDouble).toSeq))
        .sortBy(_._1).toSeq
      val store = graft.TempDirs.create("graft_ivf_") + "/t"
      Similarity.ivfIndexFrame(embs.filter(col("vec_id") < 250),
        "vec_id", "embedding", cents).write.parquet(store)
      Similarity.ivfIndexFrame(embs.filter(col("vec_id") >= 250),
        "vec_id", "embedding", cents).write.mode("append").parquet(store)
      Similarity.ivfTopKIndexed(s.read.parquet(store), queries,
          "embedding", "vec_id", k = 10, centroids = cents, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    "ann_brute_topk" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val queries = embs.filter(col("vec_id") < 5)
      Similarity.bruteForceTopK(embs, queries, "vec_id", "embedding", "vec_id", k = 10)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // hyperplane-LSH ANN path — FULL oracle since r7 (same literal-
    // plane replay as dedup_embedding_lsh); SimilaritySpec still
    // asserts recall ≥0.6 vs brute force
    "ann_lsh_topk" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val queries = embs.filter(col("vec_id") < 5)
      Similarity.lshTopK(embs, queries, "vec_id", "embedding", "vec_id",
          k = 10, planes = 8, tables = 4)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // product-quantized ANN (r8-cont): deterministic codebooks — the
    // 16 lowest-id vectors' normalized subvectors (m=4 × 16 dims),
    // the ivf first-16 discipline — so assignment, ADC scoring, the
    // candidate cut at 40, and the exact-cosine rerank all replay in
    // SQL. Driver-side normalization matches unitNorm bit-for-bit
    // (sequential square sum, one sqrt, one division per element)
    "ann_pq_topk" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val queries = embs.filter(col("vec_id") < 5)
      val first = embs.filter(col("vec_id") < 16)
        .select(col("vec_id"), col("embedding")).collect()
        .sortBy(_.getLong(0))
        .map { r =>
          val v = r.getSeq[Float](1).map(_.toDouble)
          var ss = 0.0
          v.foreach(x => ss += x * x)
          val n = math.sqrt(ss)
          if (n == 0) v.map(_ => 0.0) else v.map(_ / n)
        }
      val books = (0 until 4).map(j =>
        first.map(_.slice(j * 16, j * 16 + 16).toSeq).toSeq)
      Similarity.pqTopKWith(embs, queries, "vec_id", "embedding", "vec_id",
          k = 10, codebooks = books, rerankMult = 4)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),
    // int8 scalar-quantized ANN (r8-cont): phase-1 candidate ranking
    // by the EXACT integer code dot product (fully deterministic —
    // the oracle replays quantization, candidate cut, and rerank),
    // phase-2 exact-cosine rerank of 4k survivors
    "ann_sq8_topk" -> ((s, d) => {
      val embs = Tables.embeddings(s, d)
      val queries = embs.filter(col("vec_id") < 5)
      Similarity.sqTopK(embs, queries, "vec_id", "embedding", "vec_id",
          k = 10, rerankMult = 4)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // ---- r8 wave 4 ----
    // distributed dense surrogate keys: two-phase range-partitioned
    // numbering ≡ row_number() OVER (ORDER BY o_orderdate, o_orderkey)
    // with no SinglePartition exchange (SurrogateKeySpec asserts)
    "surrogate_keys" -> ((s, d) =>
      SurrogateKey.assign(
          Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
          Seq("o_orderdate", "o_orderkey"), "sk")
        .orderBy(col("sk"))),
    // incremental materialized aggregate: state over event_id < 8000
    // folded with the ≥ 8000 delta must equal the full recompute the
    // oracle runs (the id split stands in for the daily watermark —
    // same pushed-down predicate shape)
    "mv_incremental" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select(col("user_id"), col("event_type"), col("value"), col("event_id"))
      val keys = Seq("user_id", "event_type")
      val cut = lit(8000L)
      val state = IncrementalAgg.init(ev.filter(col("event_id") < cut), keys, "value")
      IncrementalAgg.finalize(
          IncrementalAgg.maintain(state, ev.filter(col("event_id") >= cut), keys, "value"))
        .select(col("user_id"), col("event_type"), col("n_rows"),
          col("sum_value"), col("min_value"), col("max_value"), col("avg_value"))
        .orderBy(col("user_id"), col("event_type"))
    }),
    // derived CDC between two committed versions of a Versioned table
    // (inserts + deletes + null-safe updates; unchanged keys silent)
    "versioned_change_feed" -> ((s, d) => {
      import graft.sources.Versioned
      val root = graft.TempDirs.create("graft_vcf_") + "/t"
      val c = Tables.customer(s, d)
      val v1 = c.filter(col("c_custkey") % 10 =!= 3)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val v2 = c.filter(col("c_custkey") % 10 =!= 7)
        .select(col("c_custkey"), col("c_name"),
          when(col("c_custkey") % 5 === 0, col("c_acctbal") + lit(100.0))
            .otherwise(col("c_acctbal")).as("c_acctbal"))
      Versioned.commit(v1, root, replace = true)
      Versioned.commit(v2, root, replace = true)
      Versioned.changes(s, root, 1, 2, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    }),
    // robust per-group outlier counts: MAD flags with round(6)-guarded
    // threshold compare (same cross-engine percentile discipline as
    // the dq profiles)
    "events_mad_outliers" -> ((s, d) =>
      Analytics.madOutliers(
          Tables.events(s, d).select(col("event_type"), col("value")),
          "event_type", "value", k = 3.0)
        .orderBy(col("event_type"))),
    // last-touch attribution: purchases credited to the latest
    // click/view at-or-before them within a 7-day lookback — one
    // sorted pass, no conversion×touch join
    "events_attribution" -> ((s, d) =>
      Analytics.attributionLastTouch(
          Tables.events(s, d)
            .select(col("user_id"), col("event_id"), col("ts"), col("event_type")),
          touchTypes = Seq("click", "view"), convType = "purchase")
        .orderBy(col("conv_id"))),
    // LINEAR multi-touch attribution (r11): every in-window touch
    // (capped at the 50 most recent) shares the conversion's credit
    // equally — per-row rational credit rounded once, no float sums,
    // one row per (conversion, credited touch)
    "events_attribution_linear" -> ((s, d) =>
      Analytics.attributionLinear(
          Tables.events(s, d)
            .select(col("user_id"), col("event_id"), col("ts"), col("event_type")),
          touchTypes = Seq("click", "view"), convType = "purchase")
        .orderBy(col("conv_id"), col("touch_id"))),
    // U-shaped (position-based) attribution (r11): first and last
    // in-window touches carry 40% each, middles split the remainder;
    // same per-row-rational + recency-cap discipline as the linear
    // form
    "events_attribution_ushape" -> ((s, d) =>
      Analytics.attributionPositionBased(
          Tables.events(s, d)
            .select(col("user_id"), col("event_id"), col("ts"), col("event_type")),
          touchTypes = Seq("click", "view"), convType = "purchase")
        .orderBy(col("conv_id"), col("touch_id"))),
    // exponentially-decayed activity feature: α=0.5 depth-16 lag
    // chain — power-of-two scaling + pinned add order make the doubles
    // bit-exact cross-engine (no rounding in the output)
    "events_decay" -> ((s, d) =>
      Analytics.decayedFeature(
          Tables.events(s, d)
            .select(col("user_id"), col("event_id"), col("ts"), col("value")),
          alpha = 0.5, depth = 16)
        .orderBy(col("user_id"), col("ts"), col("event_id"))),
    // PSI drift monitor: reference = events below the id watermark,
    // current = the rest; equal-depth reference bins, Laplace-smoothed
    // fractions, Σ(q−p)·ln(q/p)
    "dq_drift_psi" -> ((s, d) => {
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
      Quality.psiDrift(
          ev.filter(col("event_id") % 5 =!= 0).select(col("value")),
          ev.filter(col("event_id") % 5 === 0).select(col("value")),
          "value", bins = 10)
        .orderBy(col("bin"))
    }),
    // KS two-sample drift: binning-free max-CDF-gap via the two-phase
    // distributed cumsum (no SinglePartition window)
    "dq_drift_ks" -> ((s, d) => {
      // proportional id split (4:1) so both samples are nonempty at
      // every SF (an absolute watermark empties the current side at
      // sf0.001 — KS needs both CDFs to exist)
      val ev = Tables.events(s, d).select(col("event_id"), col("value"))
      Quality.ksDrift(
        ev.filter(col("event_id") % 5 =!= 0).select(col("value")),
        ev.filter(col("event_id") % 5 === 0).select(col("value")),
        "value")
    }),
    // BM25 ranked retrieval over the corpus (Lucene-shifted idf,
    // k1=1.2 b=0.75), scored only on posting-sized frames
    "doc_bm25_search" -> ((s, d) =>
      Search.bm25(Tables.documents(s, d), "doc_id", "text",
          query = Seq("window", "join", "scan"), topK = 20)
        .orderBy(col("score").desc, col("id"))),
    // triangle census of the co-purchase graph (degree-oriented wedge
    // counting — each triangle closed at its min-degree corner)
    "graph_triangles" -> ((s, d) => {
      // pk-sampled subgraph (¼ of parts, pushed to the scan): the
      // full co-purchase graph is DENSE (avg degree >100 at sf0.1 →
      // ~140M wedges); the graded census runs the identical operator
      // on a bounded-density slice; its scaling is argued on the
      // operator doc (out-degree O(√E) by orientation)
      Graph.triangleStats(coPurchaseEdges(s, d), "pa", "pb")
    }),
    // neighbor-Jaccard link prediction (r11) on the same bounded-
    // density co-purchase slice: top-100 non-adjacent pairs by shared-
    // neighbor Jaccard — ranked on the ROUNDED score, ties to ids
    "graph_link_predict" -> ((s, d) =>
      Graph.linkPredict(coPurchaseEdges(s, d), "pa", "pb", topK = 100)),
    // Adamic–Adar link prediction (r11) on the same slice: shared
    // RARE neighbors outweigh shared hubs — per-center 1/ln(deg)
    // terms, rounded-6/1e6-scaled, summed as order-free integers
    "graph_adamic_adar" -> ((s, d) =>
      Graph.adamicAdar(coPurchaseEdges(s, d), "pa", "pb", topK = 100)),
  )
}
