package graft.operators

import graft.Par
import graft.functions.{Text, Vectors}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication for LLM training-data pipelines.
  *
  * Scale design (the whole point): never materialize the n² pair
  * space. Exact dedup is a hash group-by (map-side partial agg);
  * near-dup methods generate *candidate* pairs through bucketing
  * (LSH bands / simhash blocks / shared shingles) and only score
  * candidates. At 100 TB each variant is shuffle-on-bucket-key,
  * with per-bucket fan-out bounded by construction — ngramJaccard's
  * shared-shingle buckets are additionally capped by document
  * frequency (`maxDocFreq`) so one hot shingle can't fan out d².
  *
  * The six pair methods — n-gram Jaccard, MinHash-LSH, SimHash,
  * shared runs, embedding cosine and edit distance — plus
  * [[semanticDedup]] share ONE candidate core. Each method supplies
  * only its per-doc frames, its blocking-key frames (probe side and
  * index side, which may differ: PPJoin prefixes vs full postings,
  * edit-distance probes vs segments) and its verifier. The core does
  * the rest: the key join (salted where the method asks), pair
  * orientation, the keyed repartition that pins the pair-space width,
  * `distinct` (or the shared-runs count), the payload fetch, and the
  * cross ∪ intra union. A batch run `X(docs)` is the intra half over
  * the method's frames of `docs`; `XIncremental(index, batch)` is the
  * cross half — the batch probing the stored index — unioned with
  * the batch's intra half when intra-batch pairs are asked for, so
  * the two forms cannot drift apart or build the batch frames twice.
  * Method-specific pre-steps (n-gram's merged-df cap and orphan
  * rescue, shared runs' merged df, edit distance's short-string band)
  * keep their own code and feed the core. Exact, segment,
  * contamination and cross-source dedup produce keepers, rebuilt text
  * or matrices rather than scored pairs, and stay outside it.
  *
  * Cost discipline for the expensive parts (measured, not guessed):
  *  - inputs are `Par.widen`ed — shingling/hashing after a
  *    single-file scan otherwise runs on one core;
  *  - each shingle is hashed ONCE (signatures derive from that hash,
  *    never re-hash per bit/per band);
  *  - intermediates referenced on both sides of a self-join are
  *    persisted via `Par.persistTracked`, else Spark recomputes the
  *    whole shingle pipeline per branch; callers drop the cached
  *    blocks with `Par.release()` after their action completes.
  */
object Dedup {

  /** Exact dedup on normalized content hash: one row per distinct
    * content with the lowest id as the keeper.
    * md5 (128-bit) makes collisions negligible at 100 TB; the
    * group-by runs with map-side partial aggregation.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(md5(Text.normalize(col(textCol))).as("content_hash"), col(idCol))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Incremental exact dedup — the daily-delta form of [[exact]]: a
    * 100 TB corpus is never re-deduped from scratch; each new batch
    * is deduped against the existing keeper INDEX (content_hash →
    * keeper), and only genuinely new content enters. Returns the
    * batch's new index entries: hashes unseen in `index`, keeper =
    * lowest batch id, copies counted within the batch. One left-anti
    * join on the 128-bit hash + one batch-local group-by (the
    * composition of [[exact]] with the Cdc incremental-load
    * discipline, reference base_loader.py `_perform_incremental_load`
    * applied to content identity instead of business keys).
    *
    * '''Index-side shuffle — the 100 TB contract''': a plain anti
    * join hash-shuffles BOTH sides, and the index side is
    * corpus-sized. Store the keeper index BUCKETED on `content_hash`
    * ([[graft.sources.Sink.bucketedTable]]) and pass
    * `spark.table(...)`: the bucketed scan satisfies the join's
    * distribution, so the only exchange left is the delta (DedupSpec
    * asserts exactly one). Spark's runtime bloom filter (the delta
    * side is small) further prunes the index scan before the join.
    */
  def exactIncremental(index: DataFrame, batch: DataFrame,
                       idCol: String, textCol: String): DataFrame =
    batch
      .select(md5(Text.normalize(col(textCol))).as("content_hash"), col(idCol))
      .join(index.select(col("content_hash")), Seq("content_hash"), "left_anti")
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Per-group exact-duplication report — the corpus-health summary a
    * curation run publishes ("how much of each source is byte-dup"):
    * per `groupCol` value, total docs, distinct normalized contents,
    * duplicate docs (total − distinct), and the dup rate. Two
    * partial-agged groupBys — (group, content-hash) then group — no
    * joins, no windows: scan-bound at 100 TB, and the second
    * aggregate's input is already one row per distinct content.
    */
  def rateReport(docs: DataFrame, textCol: String,
                 groupCol: String): DataFrame =
    docs.groupBy(col(groupCol), md5(Text.normalize(col(textCol))).as("__h"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(groupCol))
      .agg(sum(col("__c")).as("n_docs"),
        count(lit(1)).as("n_distinct"),
        (sum(col("__c")) - count(lit(1))).as("dup_docs"))
      .withColumn("dup_rate",
        round(col("dup_docs").cast("double") / col("n_docs").cast("double"), 6))

  // ---- the candidate-pair core ----

  /** One corpus as the candidate core sees it — a batch, or a stored
    * index. `probe` and `index` are blocking-key rows
    * `(id, key columns, carried columns)`: within the corpus `probe`
    * joins `index`; across, a batch's `probe` joins the stored index's
    * `index`. A symmetric method passes one frame as both (PPJoin
    * prefixes, LSH bands, SimHash blocks); an asymmetric one passes
    * two (edit-distance probes vs segments, n-gram prefixes vs full
    * postings) and carries no columns. `payload` builds the per-doc
    * rows `(id, ...)` the verifier reads from this side's distinct
    * candidate ids (`id`; only the stored n-gram index uses them, to
    * fetch candidate postings alone); `None` when everything rides the
    * key rows. `extra` holds candidate pairs found outside the key
    * join, already oriented (edit distance's short-string band).
    */
  private final case class Frames(probe: DataFrame, index: DataFrame,
                                  payload: Option[DataFrame => DataFrame] = None,
                                  extra: Option[DataFrame] = None)

  /** What a pair method fixes beyond its frames: the blocking key
    * columns, the verifier, whether the key join is salted, and
    * whether candidates are deduplicated (`distinct`) or counted
    * (`minShared` shared keys, the shared-runs rule). The verifier
    * reads `(id_a, id_b)` plus every carried and payload column
    * suffixed `_a` / `_b`, treats both sides alike, and returns
    * `(id_a, id_b, score)`.
    */
  private final case class PairMethod(on: Seq[String],
                                      verify: DataFrame => DataFrame,
                                      salted: Boolean = false,
                                      minShared: Option[Int] = None)

  /** The batch form of a pair method: the intra half over its frames. */
  private def intra(m: PairMethod, f: Frames): DataFrame =
    verifiedPairs(m, f.probe, f.index, within = true, f.payload, f.payload, f.extra)

  /** The cross half: `batch` probes the stored `index`. */
  private def cross(m: PairMethod, index: Frames, batch: Frames): DataFrame =
    verifiedPairs(m, batch.probe, index.index, within = false,
      index.payload, batch.payload, batch.extra)

  /** The incremental form: the cross half, plus the batch's own intra
    * half when intra-batch pairs are asked for. Both halves read the
    * same batch frames, built once by the caller. With `oneJoin` (a
    * method that fetches no payload and whose index keys are already
    * cut down to the batch's) the halves share ONE key join — the
    * batch probes index ∪ batch keys, each row oriented by the side it
    * came from — and one pair shuffle.
    */
  private def incremental(m: PairMethod, index: Frames, batch: Frames,
                          withIntra: Boolean, oneJoin: Boolean = false): DataFrame =
    if (withIntra && oneJoin)
      verifiedPairs(m, batch.probe, index.index.withColumn("__intra", lit(false))
          .unionByName(batch.index.withColumn("__intra", lit(true))),
        within = false, None, None, None)
    else {
      val c = cross(m, index, batch)
      if (withIntra) c.unionByName(intra(m, batch)) else c
    }

  /** Candidate pairs of `probe` (side `b`) against `index` (side `a`),
    * verified:
    *  - Orientation. Within one corpus pairs leave as `id_a < id_b` —
    *    a symmetric join filters `<`, an asymmetric one filters `=!=`
    *    and takes `least`/`greatest` so both directions collapse.
    *    Across, pairs keep their (index, batch) sides through the
    *    payload fetch, so each side joins its OWN payload frame (a
    *    bucketed index payload stays exchange-free), and are put in
    *    `least`/`greatest` order after the verifier.
    *  - Salting. `(key)` values can be few (LSH buckets, k-means
    *    cells), so an unsalted join hands whole buckets to single
    *    reducers — and AQE, seeing tiny INPUT bytes, coalesces the
    *    pair-GENERATING join down to one task (measured at sf0.1: the
    *    whole embedding candidate pipeline ran single-threaded, 16 s).
    *    Side `a` keeps one salt derived from its id; side `b` is
    *    replicated across all salts, so each pair still matches once.
    *  - Width. The candidate join's INPUT is small, so AQE would also
    *    coalesce the pair space (the join output) to one task; a
    *    keyed user repartition pins the width, and `distinct` (or the
    *    shared-key count) and the payload joins reuse it.
    */
  private def verifiedPairs(m: PairMethod, probe: DataFrame, index: DataFrame,
                            within: Boolean,
                            payloadA: Option[DataFrame => DataFrame],
                            payloadB: Option[DataFrame => DataFrame],
                            extra: Option[DataFrame]): DataFrame = {
    val spark = probe.sparkSession
    def side(df: DataFrame, s: String): DataFrame = df.select(df.columns.map(c =>
      if (m.on.contains(c)) col(c) else col(c).as(s"${c}_$s")): _*)
    val (a, b, on) =
      if (!m.salted) (side(index, "a"), side(probe, "b"), m.on)
      else {
        val salts = math.max(1, math.min(64, spark.sparkContext.defaultParallelism))
        (side(index, "a").withColumn("salt", pmod(xxhash64(col("id_a")), lit(salts.toLong))),
          side(probe, "b").withColumn("salt",
            explode(array((0 until salts).map(s => lit(s.toLong)): _*))),
          m.on :+ "salt")
      }
    val joined = a.join(b, on)
    val carried = joined.columns.filterNot(c =>
      on.contains(c) || Seq("id_a", "id_b", "__intra_a").contains(c)).map(col)
    val (ida, idb) = (col("id_a"), col("id_b"))
    // across, rows a one-join incremental drew from the batch's own
    // keys pair within (`<`); the stored index's rows pair across
    val intraRow =
      if (joined.columns.contains("__intra_a")) col("__intra_a") else lit(false)
    val oriented =
      if (within && (probe eq index)) joined.filter(ida < idb).select(ida +: idb +: carried: _*)
      else if (within) joined.filter(ida =!= idb)
        .select(least(ida, idb).as("id_a"), greatest(ida, idb).as("id_b"))
      else joined.filter(when(intraRow, ida < idb).otherwise(ida =!= idb))
        .select(ida +: idb +: carried: _*)
    val width = spark.conf.getOption("spark.sql.shuffle.partitions")
      .flatMap(v => scala.util.Try(v.toInt).toOption)
      .getOrElse(spark.sparkContext.defaultParallelism)
    val spread = extra.fold(oriented)(oriented.unionByName(_))
      .repartition(width, ida, idb)
    val cand = m.minShared match {
      case Some(k) => spread.groupBy(ida, idb)
        .agg(count(lit(1)).as("n_shared")).filter(col("n_shared") >= k)
      case None => spread.distinct()
    }
    def fetch(df: DataFrame, payload: Option[DataFrame => DataFrame], s: String) =
      payload.fold(df) { p =>
        val ids = cand.select(col(s"id_$s").as("id")).distinct()
        df.join(side(p(ids), s), Seq(s"id_$s"))
      }
    val scored = m.verify(fetch(fetch(cand, payloadA, "a"), payloadB, "b"))
    if (within) scored
    else scored.select(least(ida, idb).as("id_a") +: greatest(ida, idb).as("id_b") +:
      scored.columns.filterNot(c => c == "id_a" || c == "id_b").map(col): _*)
  }

  /** Exact Jaccard of sorted hashed-shingle arrays `hs_a` / `hs_b`
    * (codegen'd merge-walk intersection, no per-pair hash set;
    * |A ∪ B| = |A| + |B| − |A ∩ B|).
    */
  private def jaccardPairs(on: Seq[String], threshold: Double): PairMethod =
    PairMethod(on, _
      .withColumn("common", Vectors.sortedIntersectCount(col("hs_a"), col("hs_b")))
      .withColumn("jaccard", col("common").cast("double") /
        (size(col("hs_a")) + size(col("hs_b")) - col("common")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard")))

  /** Exact cosine over (vec, nrm) payloads: vectors are normalized once
    * per doc, so a pair costs one dot product.
    */
  private def cosine(pairs: DataFrame, threshold: Double): DataFrame = pairs
    .withColumn("cosine",
      Vectors.dot(col("vec_a"), col("vec_b")) / (col("nrm_a") * col("nrm_b")))
    .filter(col("cosine") >= threshold)
    .select(col("id_a"), col("id_b"), col("cosine"))

  /** Salted LSH-bucket (or cell) blocking, verified by exact cosine. */
  private def cosinePairs(on: Seq[String], threshold: Double): PairMethod =
    PairMethod(on, cosine(_, threshold), salted = true)

  /** Asymmetric CONTAINMENT search (Broder '97's c(Q,D) =
    * |S(Q)∩S(D)|/|S(Q)| — the one-sided cousin of Jaccard): find
    * documents that CONTAIN a query document's shingles, however much
    * extra text surrounds them. Jaccard dedup misses exactly this
    * case — a quote embedded in a 100× longer doc has near-zero
    * Jaccard but containment ≈ 1 — making this the quote/inclusion/
    * superset detector (and the asymmetric half of contamination
    * checks).
    *
    * Scale shape: the query docs' shingle sets are query-sized ⇒
    * BROADCAST; the corpus stream explodes once, joins the broadcast
    * gram set (scan-side filter, no corpus shuffle on text), and the
    * per-(query, doc) counts aggregate map-side. Shingles are
    * distinct per doc, so joined-row count = |∩| exactly; grams ride
    * as xxhash64 longs (the [[ngramJaccard]] hashing discipline).
    *
    * @return (query_id, doc_id, n_common, containment) for pairs at
    *         or above `threshold`, self-pairs excluded
    */
  def containmentSearch(docs: DataFrame, idCol: String, textCol: String,
                        queryIds: Seq[Long], n: Int = 3,
                        threshold: Double = 0.5,
                        roundTo: Int = 6): DataFrame = {
    require(queryIds.nonEmpty, "containmentSearch needs at least one query id")
    require(threshold > 0.0, "threshold must be positive")
    val grams = Par.widen(docs.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol).as("id"),
        explode(Text.shingles(col(textCol), n)).as("g"))
      .select(col("id"), xxhash64(col("g")).as("gram"))
    val q = grams.filter(col("id").isin(queryIds: _*))
      .select(col("id").as("query_id"), col("gram"))
    val qsize = q.groupBy(col("query_id")).agg(count(lit(1)).as("__qn"))
    grams.join(broadcast(q), Seq("gram"))
      .filter(col("id") =!= col("query_id"))
      .groupBy(col("query_id"), col("id")).agg(count(lit(1)).as("n_common"))
      .join(broadcast(qsize), Seq("query_id"))
      .withColumn("containment", round(col("n_common").cast("double")
        / col("__qn").cast("double"), roundTo))
      .filter(col("containment") >= threshold)
      .select(col("query_id"), col("id").as("doc_id"),
        col("n_common"), col("containment"))
  }

  /** Near-duplicate pairs by word-n-gram Jaccard similarity, with
    * PPJoin-style PREFIX FILTERING for candidate generation (Bayardo
    * et al. WWW'07 "Scaling Up All Pairs"; Xiao et al. PPJoin): order
    * every doc's shingles by a global (document-frequency asc, gram)
    * order and join only each doc's first `len - ceil(t*len) + 1`
    * shingles. Any pair with Jaccard ≥ t shares ≥ ceil(t*len) shingles
    * per side, so by pigeonhole the prefixes of both sides must
    * intersect — no qualifying pair is missed. Candidates are then
    * verified with the EXACT Jaccard over the full surviving shingle
    * sets, so output is identical to the naive share-any-shingle join
    * while the candidate join touches a fraction of the occurrences
    * (and the rarest-first order keeps hot grams out of prefixes).
    *
    * `maxDocFreq > 0` removes shingles whose document frequency
    * exceeds the cap from the VOCABULARY — candidate generation AND
    * scoring (per-doc sets are recomputed over surviving shingles, so
    * numerator and denominator stay consistent). This is the standard
    * hot-shingle bound: one boilerplate phrase shared by 10k docs
    * would alone fan out 5·10⁷ candidate pairs. With the cap above
    * every actual df, output is bit-identical to uncapped.
    *
    * Edge case, handled: a doc whose shingles are ALL above the cap
    * drops out of the capped vocabulary entirely. Such orphans are
    * rescued through a whole-document bucket (hash of the full sorted
    * shingle multiset): orphans with IDENTICAL shingle sets — e.g.
    * bit-identical pure-boilerplate docs — still pair, at their true
    * Jaccard of 1.0. Orphans that differ get no pair (their mutual
    * similarity is boilerplate-only by construction); pair with
    * [[exact]] if byte-identical fallback coverage must be total.
    */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.8,
                   maxDocFreq: Int = 0): DataFrame = {
    val base = ngramOccurrences(docs, idCol, textCol, n)
    // df from a groupBy (map-side partial agg): a window over gram
    // would funnel every occurrence of a hot gram through one reducer.
    val dfs = base.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val vocab = if (maxDocFreq > 0) dfs.filter(col("df") <= maxDocFreq) else dfs
    // the orphan path reads surviving IDS from the persisted `sets`
    val sets = ngramSets(base, vocab, threshold)
    val prefix = sets.select(col("id"), explode(col("prefix")).as("gram"))
    val scored = intra(jaccardPairs(Seq("gram"), threshold),
      Frames(prefix, prefix, Some(_ => sets.select(col("id"), col("hs")))))
    if (maxDocFreq <= 0) scored
    else {
      // whole-doc-hash rescue bucket for all-hot-shingle orphans;
      // surviving ids read from the persisted `sets` (one row per doc)
      val survId = sets.select(col("id"))
      val orphan = base.join(survId, Seq("id"), "left_anti")
        .groupBy(col("id"))
        .agg(xxhash64(sort_array(collect_list(col("gram")))).as("__h"))
      val rescued = orphan.select(col("__h"), col("id").as("id_a"))
        .join(orphan.select(col("__h"), col("id").as("id_b")), Seq("__h"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard"))
      scored.unionByName(rescued)
    }
  }

  /** Per-doc n-gram sets (id, hs, prefix) over the occurrences
    * (id, gram) whose gram is in `vocab` (gram, df), persisted; docs
    * with no surviving gram get no row. ONE per-doc aggregation
    * produces BOTH sides: `hs` sorted by value for the merge-walk
    * verify, and the PPJoin prefix — (df, gram) structs array_sorted
    * rarest-first in-group, sliced to the first
    * (len - ceil(t*len) + 1) entries. A separate window-function
    * prefix pass would re-shuffle and re-sort the whole occurrence
    * table; folding it here rides the shuffle the set build already
    * pays, and the in-group array_sort is bounded by doc size.
    *
    * The df attaches by a LEFT join, whose broadcast build side can
    * only be `vocab`: the occurrences then stream on their id
    * partitioning straight into the per-doc aggregation. With an
    * inner join AQE broadcast whichever small side reported
    * statistics first, and when that was the occurrences the
    * aggregation paid one more shuffle — a job count that changed
    * from run to run on the same input. Over-cap grams come out with
    * a null df, which the aggregates skip.
    */
  private def ngramSets(occ: DataFrame, vocab: DataFrame, threshold: Double): DataFrame = {
    val kept = col("df").isNotNull
    Par.persistTracked(occ.join(vocab, Seq("gram"), "left").groupBy(col("id"))
      .agg(sort_array(collect_list(when(kept, col("gram")))).as("hs"),
        count(col("df")).as("cnt"),
        sort_array(collect_list(when(kept, struct(col("df"), col("gram"))))).as("__dg"))
      .filter(col("cnt") > 0)
      .withColumn("__plen",
        (col("cnt") - ceil(col("cnt") * lit(threshold)) + 1).cast("int"))
      .withColumn("prefix",
        transform(slice(col("__dg"), lit(1), col("__plen")), _.getField("gram")))
      .drop("__dg", "__plen", "cnt"))
  }

  /** Persistent n-gram index frames. `occ` (id, gram) is probed BY
    * GRAM in the incremental candidate join — store it bucketed on
    * `gram`. The incremental path also FETCHES candidate docs' full
    * posting sets BY ID; `occById` is the same rows stored bucketed
    * on `id` for that access path (the classic dual-copy posting
    * layout: each copy is exchange-free for its own join). When
    * absent, `occ` serves both (correct, but the id-keyed fetch then
    * reshuffles corpus-sized postings daily). `dfs` (gram, df) is
    * vocabulary-sized; `meta` carries per-doc whole-set hashes +
    * orphan flags for cap-rescue.
    */
  final case class NgramIndex(occ: DataFrame, dfs: DataFrame, meta: DataFrame,
                              occById: Option[DataFrame] = None)

  /** Build [[NgramIndex]] frames for a corpus (same shingling +
    * hashing as [[ngramJaccard]]).
    */
  def ngramIndexFrames(docs: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, maxDocFreq: Int = 0): NgramIndex = {
    val base = ngramOccurrences(docs, idCol, textCol, n)
    val dfs = base.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val whole = base.groupBy(col("id"))
      .agg(xxhash64(sort_array(collect_list(col("gram")))).as("wh"))
    val meta =
      if (maxDocFreq <= 0) whole.withColumn("orphan", lit(false))
      else {
        val surv = base
          .join(dfs.filter(col("df") <= maxDocFreq).select(col("gram")), Seq("gram"))
          .select(col("id")).distinct()
        whole.join(surv.withColumn("__s", lit(1)), Seq("id"), "left_outer")
          .select(col("id"), col("wh"), col("__s").isNull.as("orphan"))
      }
    NgramIndex(base, dfs, meta)
  }

  /** Persisted hashed-gram occurrences (id, gram) of a corpus. Every
    * gram is hashed to a LONG once at explode time: df counting, the
    * prefix join, and set intersection all run on 8-byte keys instead
    * of ~30-byte strings (measured 2× on the whole operator; 64-bit
    * collisions are vanishingly rare and only perturb one pair's
    * count). Shingles are distinct per doc, so the hashes are too
    * (w.h.p.) and count-per-hash = document frequency.
    */
  private def ngramOccurrences(docs: DataFrame, idCol: String, textCol: String,
                               n: Int): DataFrame =
    Par.persistTracked(
      Par.widen(docs.select(col(idCol), col(textCol)), idCol)
        .select(col(idCol).as("id"), Text.shingles(col(textCol), n).as("sh"))
        .select(col("id"), explode(col("sh")).as("g"))
        .select(col("id"), xxhash64(col("g")).as("gram")))

  /** Incremental n-gram Jaccard — the daily-delta form of
    * [[ngramJaccard]], with EXACT merged-corpus semantics: document
    * frequencies are `index df + batch df`, so the cap, the surviving
    * vocabularies, and every Jaccard score are computed as if the
    * full run had seen index ∪ batch — including the two subtle
    * consequences of a growing corpus:
    *  - a gram can CROSS the cap when the batch arrives (crossing
    *    grams are necessarily present in the batch, so detecting them
    *    and the index docs they affect is batch-driven work);
    *  - a previously-indexed doc can become an ORPHAN (all grams
    *    over-cap) — such docs are re-checked only when one of their
    *    grams crossed, and rescued through the stored whole-set hash.
    *
    * Output = the full run on index ∪ batch RESTRICTED to pairs that
    * touch the batch (DedupSpec proves the equality on data where the
    * cap actually bites). Previously emitted index-index pairs are by
    * design not revisited — the standard incremental-dedup contract.
    * All joins are delta-driven: the candidate join probes index
    * occurrences by the batch's surviving grams, set rescoring
    * fetches candidate index docs only, and the df merge is
    * vocabulary-sized. Batch ids must be disjoint from index ids.
    *
    * SINGLE-SIDED prefix: a pair with J ≥ t has |a∩b| ≥ ⌈t·|a|⌉ for
    * the BATCH doc a alone, so if b misses all of a's first
    * |a|−⌈t·|a|⌉+1 rarest grams the overlap fits in a's suffix of
    * size ⌈t·|a|⌉−1 — contradiction. Probing the index's full
    * postings with batch PREFIXES only is therefore lossless, and
    * needs no stored index-side prefixes (the global df order moves
    * as the corpus grows; batch prefixes use the merged df computed
    * this run).
    */
  def ngramJaccardIncremental(index: NgramIndex, batch: DataFrame,
                              idCol: String, textCol: String,
                              n: Int = 3, threshold: Double = 0.8,
                              maxDocFreq: Int = 0,
                              includeIntraBatch: Boolean = false): DataFrame = {
    val bbase = ngramOccurrences(batch, idCol, textCol, n)
    val bdfs = bbase.groupBy(col("gram")).agg(count(lit(1)).as("bdf"))
    val merged = Par.persistTracked(
      index.dfs.join(bdfs, Seq("gram"), "full_outer")
        .select(col("gram"),
          (coalesce(col("df"), lit(0L)) + coalesce(col("bdf"), lit(0L))).as("df")))
    val vocab =
      if (maxDocFreq > 0) merged.filter(col("df") <= maxDocFreq) else merged
    // batch sets under the MERGED vocabulary, the merged df ordering
    // each prefix
    val bsets = ngramSets(bbase, vocab, threshold)
    val bprefix = bsets.select(col("id"), explode(col("prefix")).as("gram"))
    // surviving sets for CANDIDATE index docs only, under the merged
    // vocab (sub-cap is a GLOBAL property) — an id-keyed fetch, so it
    // reads the id-bucketed copy
    val occById = index.occById.getOrElse(index.occ)
    val occ = index.occ.select(col("id"), col("gram"))
    val stored = Frames(occ, occ, Some(ids => occById.join(ids, Seq("id"))
      .join(vocab.select(col("gram")), Seq("gram"))
      .groupBy(col("id")).agg(sort_array(collect_list(col("gram"))).as("hs"))))
    val scored = incremental(jaccardPairs(Seq("gram"), threshold), stored,
      Frames(bprefix, bprefix, Some(_ => bsets.select(col("id"), col("hs")))),
      includeIntraBatch)
    if (maxDocFreq <= 0) scored
    else {
      // --- orphan rescue under the merged cap ---
      // Its joins that only keep or drop rows are semi joins and its
      // pairing joins left joins, so each can build only its right
      // side: an inner join of two small inputs lets AQE build
      // whichever side reports statistics first, and the job count then
      // changes from run to run on the same input.
      val bwhole = bbase.groupBy(col("id"))
        .agg(xxhash64(sort_array(collect_list(col("gram")))).as("wh"))
      val bOrphan = Par.persistTracked(
        bwhole.join(bsets.select(col("id")), Seq("id"), "left_anti"))
      // grams that CROSSED the cap with this batch (⊆ batch grams)
      val crossing = index.dfs.filter(col("df") <= maxDocFreq).select(col("gram"))
        .join(merged.filter(col("df") > maxDocFreq).select(col("gram")), Seq("gram"),
          "left_semi")
      // previously non-orphan index docs touched by a crossing gram...
      val affected = index.occ.join(crossing, Seq("gram"), "left_semi")
        .select(col("id")).distinct()
        .join(index.meta.filter(!col("orphan")).select(col("id")), Seq("id"), "left_semi")
      // ...that now have ZERO surviving grams (id-keyed fetch again)
      val stillAlive = occById.join(affected, Seq("id"), "left_semi")
        .join(vocab.select(col("gram")), Seq("gram"), "left_semi")
        .select(col("id")).distinct()
      val newOrphans = affected.join(stillAlive, Seq("id"), "left_anti")
      val iOrphan = index.meta.filter(col("orphan")).select(col("id"), col("wh"))
        .unionByName(index.meta.select(col("id"), col("wh"))
          .join(newOrphans, Seq("id"), "left_semi"))
      val rescueCross = iOrphan.select(col("wh"), col("id").as("id_i"))
        .join(bOrphan.select(col("wh"), col("id").as("id_n")), Seq("wh"), "left")
        .filter(col("id_n").isNotNull)
        .select(least(col("id_i"), col("id_n")).as("id_a"),
          greatest(col("id_i"), col("id_n")).as("id_b"), lit(1.0).as("jaccard"))
      val rescued =
        if (!includeIntraBatch) rescueCross
        else rescueCross.unionByName(bOrphan.select(col("wh"), col("id").as("id_a"))
          .join(bOrphan.select(col("wh"), col("id").as("id_b")), Seq("wh"), "left")
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"), lit(1.0).as("jaccard")))
      scored.unionByName(rescued)
    }
  }

  /** Shared MinHash machinery: per-doc sorted shingle-hash arrays
    * (`sh`: id, hs) and banded signature keys (`banded`: id, band,
    * bucket), both persisted — the reusable INDEX frames of the
    * near-dup family.
    */
  private def minHashFrames(docs: DataFrame, idCol: String, textCol: String,
                            n: Int, numHashes: Int, bands: Int,
                            shingleHash: Column => Column): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // each shingle hashed ONCE to a long, kept as a SORTED per-doc
    // array; persisted — re-read for signatures AND for the
    // exact-jaccard verify (where the sorted form lets the codegen'd
    // merge-walk SortedIntersectCount replace per-pair hash sets)
    val sh = Par.persistTracked(
      Par.widen(docs.select(col(idCol), col(textCol)), idCol)
        .select(col(idCol).as("id"),
          sort_array(transform(Text.shingles(col(textCol), n),
            g => shingleHash(g))).as("hs")))
    // Signatures via explode + grouped min aggregates: numHashes FLAT
    // codegen'd min() columns. (A transform/aggregate lambda tree of
    // width numHashes chokes the Catalyst optimizer — measured 10-30 s
    // of plan time.) Double hashing (Kirsch–Mitzenmacher) derives slot
    // i as h1 + i*h2 from two real hashes (the shingle hash and its
    // re-hash), folded into [0, 2^56) so the multiply can't overflow
    // ANSI longs.
    val m = lit(1L << 56)
    val ex = sh.select(col("id"), explode(col("hs")).as("h"))
      .select(col("id"),
        pmod(col("h"), m).as("h1"),
        pmod(xxhash64(col("h")), m).as("h2"))
    val sigAggs = (0 until numHashes).map(i =>
      min(col("h1") + col("h2") * lit(i.toLong)).as(s"s$i"))
    val sig = ex.groupBy(col("id")).agg(sigAggs.head, sigAggs.tail: _*)
    // band key = (band index, hash of that band's signature slots)
    // persisted: both sides of the band self-join read this
    val banded = Par.persistTracked(sig.select(col("id"),
        explode(array((0 until bands).map { bnd =>
          struct(lit(bnd).as("band"),
            xxhash64((bnd * rows until (bnd + 1) * rows).map(j => col(s"s$j")): _*)
              .as("bucket"))
        }: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bucket")))
    (sh, banded)
  }

  /** One corpus's MinHash frames for the candidate core: bands probe
    * bands, the verifier reads the shingle-hash arrays.
    */
  private def minHashSide(sh: DataFrame, banded: DataFrame): Frames = {
    val keys = banded.select(col("id"), col("band"), col("bucket"))
    Frames(keys, keys, Some(_ => sh.select(col("id"), col("hs"))))
  }

  /** MinHash signature + banded LSH candidates, verified with true
    * Jaccard. `numHashes` hash functions are xxhash64(shingle, seed i)
    * minimized per doc; signatures are split into `bands` bands —
    * docs colliding on any full band become candidates
    * (standard MinHash-LSH banding; Broder '97 / MMDS ch.3).
    * Only candidates get the exact-Jaccard rescoring join.
    */
  def minHashLsh(docs: DataFrame, idCol: String, textCol: String,
                 n: Int = 3, numHashes: Int = 32, bands: Int = 8,
                 threshold: Double = 0.8,
                 shingleHash: Column => Column = xxhash64(_)): DataFrame = {
    val (sh, banded) = minHashFrames(docs, idCol, textCol, n, numHashes,
      bands, shingleHash)
    intra(jaccardPairs(Seq("band", "bucket"), threshold), minHashSide(sh, banded))
  }

  /** Persistent MinHash index frames for [[minHashLshIncremental]]:
    * `(shingles: (id, hs), banded: (id, band, bucket))`. Write
    * `banded` BUCKETED on `(band, bucket)` and `shingles` on `id`
    * ([[graft.sources.Sink.bucketedTableBy]]) and neither the daily
    * candidate join nor the verify fetch ever shuffles the index —
    * the [[exactIncremental]] contract, plan-asserted in DedupSpec.
    */
  def minHashIndexFrames(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 3, numHashes: Int = 32, bands: Int = 8,
                         shingleHash: Column => Column = xxhash64(_))
      : (DataFrame, DataFrame) =
    minHashFrames(docs, idCol, textCol, n, numHashes, bands, shingleHash)

  /** Incremental near-dup — the daily-delta form of [[minHashLsh]]:
    * a new batch is checked against the EXISTING corpus index (the
    * frames of [[minHashIndexFrames]], same n/numHashes/bands/hash)
    * without recomputing anything corpus-sized. Returns
    * (id_a, id_b, jaccard ≥ threshold) pairs with id_a < id_b, each
    * pairing an index doc with a batch doc; `includeIntraBatch = true`
    * adds batch-internal pairs (both ids new) so a batch with its own
    * dups doesn't slip through.
    *
    * Identical answers to running [[minHashLsh]] over index ∪ batch
    * and keeping the batch-touching pairs — same hashes, same banding —
    * at delta cost: only the batch is shingled/signed, the candidate
    * join touches index rows only through their (band, bucket) keys,
    * and the verify fetches index shingle arrays for candidates only.
    */
  def minHashLshIncremental(indexShingles: DataFrame, indexBanded: DataFrame,
                            batch: DataFrame, idCol: String, textCol: String,
                            n: Int = 3, numHashes: Int = 32, bands: Int = 8,
                            threshold: Double = 0.8,
                            includeIntraBatch: Boolean = false,
                            shingleHash: Column => Column = xxhash64(_)): DataFrame = {
    val (bsh, bbanded) = minHashFrames(batch, idCol, textCol, n, numHashes,
      bands, shingleHash)
    incremental(jaccardPairs(Seq("band", "bucket"), threshold),
      minHashSide(indexShingles, indexBanded), minHashSide(bsh, bbanded),
      includeIntraBatch)
  }

  /** Shared SimHash machinery: the persisted blocked frame
    * (id, simhash, blk, blkval) — one row per pigeonhole block.
    * The reusable INDEX frame of [[simHashIncremental]].
    */
  private def simHashBlocked(docs: DataFrame, idCol: String, textCol: String,
                             n: Int, blocks: Int,
                             shingleHash: Column => Column): DataFrame = {
    val sh = Par.widen(docs.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol).as("id"), Text.shingles(col(textCol), n).as("sh"))
    // votes[b] = number of shingles whose hash has bit b set
    val hashes = transform(col("sh"), g => shingleHash(g))
    val bitsOf = (h: Column) =>
      transform(sequence(lit(0), lit(63)),
        b => call_function("getbit", h, b).cast("long"))
    val votes = aggregate(hashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, bitsOf(h), (a, v) => a + v))
    // bit b of the simhash is set iff set-bits outnumber clear bits:
    // 2*votes[b] > n_shingles
    val nsh = size(col("sh")).cast("long")
    val simhashCol = aggregate(
      zip_with(votes, sequence(lit(0L), lit(63L)), (c, b) =>
        when(c * lit(2L) > nsh,
          call_function("shiftleft", lit(1L), b.cast("int"))).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
    val signed = sh.select(col("id"), simhashCol.as("simhash"))
    // pigeonhole blocking on 64/blocks-bit blocks; persisted — both
    // sides of the block self-join (or the index) read this
    val blockBits = 64 / blocks
    Par.persistTracked(signed.select(col("id"), col("simhash"),
      explode(transform(sequence(lit(0), lit(blocks - 1)), b =>
        struct(b.as("blk"),
          call_function("shiftright", col("simhash"), b * blockBits)
            .bitwiseAND((1L << blockBits) - 1).as("blkval")))).as("bk"))
      .select(col("id"), col("simhash"), col("bk.blk"), col("bk.blkval")))
  }

  /** SimHash for the candidate core: blocks probe blocks, each row
    * carries its signature, and the verifier is the Hamming budget.
    */
  private def simHashPairs(maxHamming: Int): PairMethod =
    PairMethod(Seq("blk", "blkval"), _
      .select(col("id_a"), col("id_b"),
        bit_count(col("simhash_a").bitwiseXOR(col("simhash_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming))

  private def simHashSide(blocked: DataFrame): Frames = {
    val keys = blocked.select(col("id"), col("simhash"), col("blk"), col("blkval"))
    Frames(keys, keys)
  }

  /** 64-bit SimHash (Charikar '02): sign-aggregate the per-shingle
    * hash bits, weight +1/-1, then near-dups are pairs within
    * `maxHamming` bits. Blocking: split the 64-bit key into
    * (maxHamming+1) blocks — by pigeonhole, any pair within
    * maxHamming matches exactly on at least one block, so candidate
    * generation is an equi-join on (block index, block value).
    *
    * The signature is computed PER ROW from the doc's shingle array
    * with array higher-order functions — no explode, no 64-column
    * aggregation (the previous 64-flat-sum formulation was measured
    * at 9.8 s / 27% of the sf0.1 bench; this one avoids the wide
    * hash-agg buffer entirely and keeps the work in one pass over
    * the shingle array). Each shingle is hashed ONCE; per-bit votes
    * accumulate in a 64-slot array folded over the hash array.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String,
              n: Int = 3, maxHamming: Int = 3,
              shingleHash: Column => Column = xxhash64(_)): DataFrame =
    intra(simHashPairs(maxHamming), simHashSide(
      simHashBlocked(docs, idCol, textCol, n, maxHamming + 1, shingleHash)))

  /** Persistent SimHash index frame for [[simHashIncremental]]:
    * (id, simhash, blk, blkval) — write it BUCKETED on
    * `(blk, blkval)` ([[graft.sources.Sink.bucketedTableBy]]) and the
    * daily candidate join never shuffles the index (the
    * [[exactIncremental]] contract, plan-asserted in DedupSpec).
    */
  def simHashIndexFrame(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, maxHamming: Int = 3,
                        shingleHash: Column => Column = xxhash64(_)): DataFrame =
    simHashBlocked(docs, idCol, textCol, n, maxHamming + 1, shingleHash)

  /** Incremental SimHash near-dup — the daily-delta form of
    * [[simHash]]: a new batch's signatures check against the existing
    * corpus index frame at delta cost (only the batch is shingled and
    * signed; index rows join by (blk, blkval) carrying their stored
    * signature — no index recompute). Returns (id_a, id_b,
    * hamming ≤ maxHamming) with id_a < id_b, each pairing an index doc
    * with a batch doc; `includeIntraBatch` adds batch-internal pairs.
    * Same signatures + same pigeonhole blocks ⇒ identical to the full
    * run's batch-touching pairs.
    */
  def simHashIncremental(indexBlocked: DataFrame, batch: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 3, maxHamming: Int = 3,
                         includeIntraBatch: Boolean = false,
                         shingleHash: Column => Column = xxhash64(_)): DataFrame =
    incremental(simHashPairs(maxHamming), simHashSide(indexBlocked),
      simHashSide(simHashBlocked(batch, idCol, textCol, n, maxHamming + 1,
        shingleHash)),
      includeIntraBatch)

  /** Eval-set decontamination: flag eval documents whose n-gram
    * overlap with ANY training document reaches `minCommon` shingles —
    * the standard benchmark-contamination test run before training.
    * Same bucketed shape as [[ngramJaccard]] (hashed shingles,
    * equi-join on the gram, never a cross join), but ASYMMETRIC: the
    * output is per EVAL doc (worst overlapping train doc), so the
    * aggregation state is eval-sized, not train-sized — at 100 TB of
    * train data the join shuffles train-side occurrences but
    * aggregates only (eval, train) candidate pairs that share grams.
    * `maxDocFreq` caps ubiquitous-gram fan-out exactly as in
    * ngramJaccard (df computed over BOTH sides).
    */
  def contamination(train: DataFrame, eval: DataFrame,
                    idCol: String, textCol: String,
                    n: Int = 8, minCommon: Int = 1,
                    maxDocFreq: Int = 0): DataFrame = {
    def exploded(df: DataFrame): DataFrame =
      Par.widen(df.select(col(idCol), col(textCol)), idCol)
        .select(col(idCol).as("id"),
          explode(Text.shingles(col(textCol), n)).as("g"))
        .select(col("id"), xxhash64(col("g")).as("gram"))
    val tr = Par.persistTracked(exploded(train))
    val ev = Par.persistTracked(exploded(eval))
    val joined =
      if (maxDocFreq > 0) {
        val hot = tr.select(col("gram")).unionByName(ev.select(col("gram")))
          .groupBy(col("gram")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDocFreq).select(col("gram"))
        ev.join(hot, Seq("gram"), "left_anti")
          .join(tr.join(hot, Seq("gram"), "left_anti")
            .select(col("gram"), col("id").as("train_id")), Seq("gram"))
      } else {
        ev.join(tr.select(col("gram"), col("id").as("train_id")), Seq("gram"))
      }
    joined.select(col("id").as("eval_id"), col("train_id"))
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
      // worst offender per eval doc: lexicographic max = highest
      // n_common, ties to the highest train id (deterministic)
      .groupBy(col("eval_id"))
      .agg(max(struct(col("n_common"), col("train_id"))).as("__worst"))
      .select(col("eval_id"), col("__worst.train_id").as("worst_train_id"),
        col("__worst.n_common").as("n_common"))
  }

  /** The persisted eval-set gram index for [[contaminationBatch]]:
    * `(eval_id, gram)` hashed shingles of the FIXED eval set — built
    * once, stored (bucketed on `gram`), reused by every daily batch.
    */
  def evalGramIndex(eval: DataFrame, idCol: String, textCol: String,
                    n: Int = 8): DataFrame =
    Par.widen(eval.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol).as("eval_id"),
        explode(Text.shingles(col(textCol), n)).as("g"))
      .select(col("eval_id"), xxhash64(col("g")).as("gram"))

  /** Daily-ingest decontamination — [[contamination]] with the
    * direction FLIPPED for the training pipeline: the eval set is
    * fixed and small (its [[evalGramIndex]] persists between runs),
    * the training corpus arrives in batches, and the output flags
    * BATCH docs whose n-gram overlap with ANY eval doc reaches
    * `minCommon` (worst offending eval doc per batch doc) so they
    * drop before training. Work per day is batch-sized: the batch
    * explodes its own shingles and equi-joins the eval-sized gram
    * index — nothing corpus-sized recomputes, and at 100 TB/day the
    * join shuffles only batch-side occurrences that actually share a
    * gram with the (tiny) eval set. `maxDocFreq` caps
    * ubiquitous-gram fan-out with the df computed over index + batch
    * (the [[contamination]] both-sides rule applied to this run's
    * universe).
    */
  def contaminationBatch(evalGrams: DataFrame, batch: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 8, minCommon: Int = 1,
                         maxDocFreq: Int = 0): DataFrame = {
    val b = Par.persistTracked(
      Par.widen(batch.select(col(idCol), col(textCol)), idCol)
        .select(col(idCol).as("__bid"),
          explode(Text.shingles(col(textCol), n)).as("g"))
        .select(col("__bid"), xxhash64(col("g")).as("gram")))
    val ev = evalGrams.select(col("gram"), col("eval_id"))
    val joined =
      if (maxDocFreq > 0) {
        val hot = b.select(col("gram")).unionByName(ev.select(col("gram")))
          .groupBy(col("gram")).agg(count(lit(1)).as("__df"))
          .filter(col("__df") > maxDocFreq).select(col("gram"))
        b.join(hot, Seq("gram"), "left_anti")
          .join(ev.join(hot, Seq("gram"), "left_anti"), Seq("gram"))
      } else b.join(ev, Seq("gram"))
    joined
      .groupBy(col("__bid"), col("eval_id"))
      .agg(count(lit(1)).as("n_common"))
      .filter(col("n_common") >= minCommon)
      // worst offender per BATCH doc: highest n_common, ties to the
      // highest eval id (deterministic, mirrors contamination)
      .groupBy(col("__bid"))
      .agg(max(struct(col("n_common"), col("eval_id"))).as("__worst"))
      .select(col("__bid").as(idCol),
        col("__worst.eval_id").as("worst_eval_id"),
        col("__worst.n_common").as("n_common"))
  }

  /** SPAN-level decontamination (r14) — the surgical alternative to
    * [[contaminationBatch]]'s doc-drop: instead of discarding every
    * training doc that overlaps the eval set, mask ONLY the words
    * covered by a shared n-gram and keep the rest of the doc. The
    * doc-drop form wastes the non-overlapping 99% of a long doc over
    * one quoted benchmark question; the span form is what PII
    * pipelines already do ([[graft.functions]] regex redaction)
    * applied to the gram-join modality.
    *
    * Semantics: the batch text NORMALIZES (lowercase, collapsed
    * whitespace — the shingle convention, so masks align with the
    * eval index built by [[evalGramIndex]]), every position whose
    * n-gram appears in the eval gram set marks words pos..pos+n-1,
    * and each marked word rewrites to `mask`. Docs shorter than n
    * words shingle as one whole-text gram (the [[graft.functions
    * .Text.shingles]] fallback) covering every word. Output: one row
    * per batch doc — (id, text_redacted, n_masked), n_masked = 0 and
    * the normalized text unchanged for clean docs.
    *
    * Scale: batch-sized work, the [[contaminationBatch]] shape — the
    * batch explodes positional grams (id, pos, 8-byte hash), joins
    * the eval-sized index on the hash, and only MATCHED positions
    * shuffle to the per-doc mask set; the rewrite is a per-row array
    * transform over the already-held words.
    */
  def decontaminationRedact(evalGrams: DataFrame, batch: DataFrame,
                            idCol: String, textCol: String, n: Int = 3,
                            mask: String = "[MASKED]"): DataFrame = {
    require(n >= 1, "n must be >= 1")
    val base = Par.persistTracked(
      Par.widen(batch.select(col(idCol), col(textCol)), idCol)
        .select(col(idCol).as("__id"),
          split(Text.normalize(col(textCol)), " ").as("__words")))
    val nw = size(col("__words"))
    val pos = base.select(col("__id"), col("__words"), nw.as("__nw"),
        explode(when(nw >= n, sequence(lit(0), nw - n))
          .otherwise(array(lit(0)))).as("__p"))
      .select(col("__id"), col("__p"), col("__nw"),
        xxhash64(when(col("__nw") >= n,
            concat_ws(" ", slice(col("__words"), col("__p") + 1, lit(n))))
          .otherwise(array_join(col("__words"), " "))).as("gram"))
    val hits = pos
      .join(evalGrams.select(col("gram")).distinct(), Seq("gram"))
      .select(col("__id"),
        explode(sequence(col("__p"),
          least(col("__p") + (n - 1), col("__nw") - 1))).as("__m"))
      .groupBy(col("__id")).agg(collect_set(col("__m")).as("__mask"))
    base.join(hits, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        array_join(
          when(col("__mask").isNull, col("__words"))
            .otherwise(transform(col("__words"),
              (w, i) => when(array_contains(col("__mask"), i), lit(mask))
                .otherwise(w))),
          " ").as("text_redacted"),
        coalesce(size(col("__mask")), lit(0)).cast("long").as("n_masked"))
  }

  /** Cross-document exact-substring-run pairs via winnowing
    * fingerprints — the distributed stand-in for suffix-array
    * substring dedup (Lee et al. '22 "Deduplicating Training Data
    * Makes Language Models Better" motivates removing long verbatim
    * runs; a cluster-wide suffix array is impractical, winnowing
    * buckets are not). The winnowing invariant (Text.winnow: any
    * shared run of ≥ k+w-1 words contributes ≥1 common selected
    * hash) makes fingerprint buckets a NO-FALSE-NEGATIVE candidate
    * generator for runs of that length; `minShared` fingerprints
    * filters incidental single-hash collisions, `maxDocFreq` drops
    * boilerplate fingerprints from pairing exactly as in
    * [[ngramJaccard]] (one hot license header must not fan out d²).
    *
    * Output: (id_a, id_b, n_shared) — pairs ranked by how many
    * distinct selected hashes they share, counted in the candidate
    * core on its keyed repartition.
    */
  def sharedRuns(docs: DataFrame, idCol: String, textCol: String,
                 k: Int = 5, w: Int = 4, minShared: Int = 2,
                 maxDocFreq: Int = 1000,
                 hashFn: Column => Column = xxhash64(_)): DataFrame = {
    val fp = Par.persistTracked(
      sharedRunsIndexFrame(docs, idCol, textCol, k, w, hashFn))
    val dfs = fp.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
    // persisted: `kept` feeds BOTH sides of the pair self-join below,
    // and Spark has no cross-branch CSE (§5 round 1) — without this
    // the fingerprint-df join+filter recomputes once per side (at
    // 100 TB that is the fingerprint-df shuffle twice). Same
    // discipline as ngramJaccard's prefix frame.
    val kept = Par.persistTracked(
      fp.join(dfs.filter(col("__df") <= maxDocFreq).select(col("fp")),
        Seq("fp")))
    intra(sharedRunPairs(minShared), Frames(kept, kept))
  }

  /** Shared runs for the candidate core: fingerprints probe
    * fingerprints, and pairs sharing `minShared` of them survive.
    */
  private def sharedRunPairs(minShared: Int): PairMethod =
    PairMethod(Seq("fp"), identity, minShared = Some(minShared))

  /** The persisted winnowing-fingerprint frame `(id, fp)` of a
    * corpus — the index [[sharedRunsIncremental]] maintains between
    * daily runs. Per-doc fingerprints are distinct by
    * [[graft.functions.Text.winnow]]'s construction, so `count(*)`
    * over this frame per fp IS the document frequency. Store it
    * BUCKETED on `fp` ([[graft.sources.Sink.bucketedTable]]) so the
    * daily df probe and candidate join read it exchange-free.
    */
  def sharedRunsIndexFrame(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 5, w: Int = 4,
                           hashFn: Column => Column = xxhash64(_)): DataFrame =
    Par.widen(docs.select(col(idCol), col(textCol)), idCol)
      .select(col(idCol).as("id"),
        explode(Text.winnow(col(textCol), k, w, hashFn)).as("fp"))

  /** Incremental shared-runs — the daily-delta form of
    * [[sharedRuns]] closing the last near-dup family without one:
    * each new batch pairs against the persisted
    * [[sharedRunsIndexFrame]] (and within itself) without
    * re-fingerprinting the corpus. EXACT merged-corpus df semantics:
    * every candidate pair shares a fingerprint the BATCH carries, so
    * the merged document frequency (index + batch occurrences) is
    * computable for exactly the fp set that matters by probing index
    * occurrences with the batch's fps — delta-driven, like the
    * [[ngramJaccardIncremental]] cap rule. Output = the full run on
    * index ∪ batch RESTRICTED to pairs that touch the batch (batch
    * ids must be disjoint from index ids — the standard
    * incremental-dedup contract; index-index pairs, including any
    * whose fp crossed the cap this batch, are not revisited).
    */
  def sharedRunsIncremental(indexFp: DataFrame, batch: DataFrame,
                            idCol: String, textCol: String,
                            k: Int = 5, w: Int = 4, minShared: Int = 2,
                            maxDocFreq: Int = 1000,
                            hashFn: Column => Column = xxhash64(_)): DataFrame = {
    val bfp = Par.persistTracked(
      sharedRunsIndexFrame(batch, idCol, textCol, k, w, hashFn))
    val bdf = bfp.groupBy(col("fp")).agg(count(lit(1)).as("__bdf"))
    val idf = indexFp.select(col("fp"))
      .join(bdf.select(col("fp")), Seq("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("__idf"))
    val keptFps = Par.persistTracked(
      bdf.join(idf, Seq("fp"), "left_outer")
        .filter(col("__bdf") + coalesce(col("__idf"), lit(0L)) <= maxDocFreq)
        .select(col("fp")))
    // persisted: feeds the candidate join's BOTH batch sides (no
    // cross-branch CSE — the sharedRuns discipline)
    val keptB = Par.persistTracked(bfp.join(keptFps, Seq("fp")))
    val keptI = indexFp.select(col("id"), col("fp")).join(keptFps, Seq("fp"))
    incremental(sharedRunPairs(minShared), Frames(keptI, keptI),
      Frames(keptB, keptB), withIntra = true, oneJoin = true)
  }

  /** Shared embedding-LSH machinery: the persisted normalized-vector
    * frame (id, vec, nrm) and the bucket KEY frame (id, table,
    * bucket) — the reusable INDEX frames of
    * [[embeddingCosineIncremental]].
    */
  private def embeddingFrames(embs: DataFrame, idCol: String, vecCol: String,
                              planes: Int, tables: Int): (DataFrame, DataFrame) = {
    val base = Par.persistTracked(
      Par.widen(embs.select(col(idCol), col(vecCol)), idCol)
        .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("nrm", Vectors.norm(col("vec"))))
    // bucket KEYS only: one pass computes all `tables` bucket ids per
    // row (each hyperplane dot runs once); derived from the persisted
    // base so re-evaluation costs the dots, never the scan
    val keys = base.select(col("id"),
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("table"),
          Similarity.hyperplaneBucket(col("vec"), planes, t).as("bucket"))
      }: _*)).as("tb"))
      .select(col("id"), col("tb.table").as("table"), col("tb.bucket").as("bucket"))
    (base, keys)
  }

  /** One corpus's embedding frames for the candidate core: the bucket
    * join moves bare (table, bucket, id) keys, never vectors; vectors
    * are fetched for surviving candidates only.
    */
  private def embeddingSide(vecs: DataFrame, keys: DataFrame): Frames = {
    val k = keys.select(col("id"), col("table"), col("bucket"))
    Frames(k, k, Some(_ => vecs.select(col("id"), col("vec"), col("nrm"))))
  }

  /** Embedding near-dup: pairs with cosine ≥ threshold. Candidates
    * come from multi-table random-hyperplane LSH buckets (Charikar
    * '02; same planes as Similarity.lshTopK) so every join is
    * bucket-local — never all-pairs — and candidates are verified
    * with the exact cosine (no false positives; recall is the only
    * approximation). Per-table collision probability for a pair at
    * angle θ is (1-θ/π)^planes; `tables` independent tables lift
    * recall to 1-(1-p)^tables. Tune planes UP for high thresholds
    * (strong pruning: at 0.95 cosine, 12 planes keep p≈0.28/table)
    * and DOWN with more tables for mid thresholds. A pair colliding
    * in several tables is scored once (measured at sf0.1: ~1.6M
    * bucket-join hits collapse to ~1.1M unique pairs).
    * `exhaustive=true` scores all pairs — the correctness baseline
    * for bounded inputs, never the scale path.
    */
  def embeddingCosine(embs: DataFrame, idCol: String, vecCol: String,
                      threshold: Double = 0.95,
                      exhaustive: Boolean = false,
                      planes: Int = 12, tables: Int = 4): DataFrame = {
    val (base, keys) = embeddingFrames(embs, idCol, vecCol, planes, tables)
    if (exhaustive) {
      val a = base.select(col("id").as("id_a"), col("vec").as("vec_a"), col("nrm").as("nrm_a"))
      val b = base.select(col("id").as("id_b"), col("vec").as("vec_b"), col("nrm").as("nrm_b"))
      cosine(a.join(b, col("id_a") < col("id_b")), threshold)
    } else intra(cosinePairs(Seq("table", "bucket"), threshold),
      embeddingSide(base, keys))
  }

  /** Persistent embedding-LSH index frames for
    * [[embeddingCosineIncremental]]: `(vecs: (id, vec, nrm), keys:
    * (id, table, bucket))`. Store `keys` BUCKETED on `bucket` and
    * `vecs` on `id` and the daily run neither re-hashes nor shuffles
    * the corpus (the [[exactIncremental]] contract).
    */
  def embeddingIndexFrames(embs: DataFrame, idCol: String, vecCol: String,
                           planes: Int = 12, tables: Int = 4)
      : (DataFrame, DataFrame) =
    embeddingFrames(embs, idCol, vecCol, planes, tables)

  /** Incremental embedding near-dup — the daily-delta form of the
    * [[embeddingCosine]] LSH path, completing the incremental family
    * (exact / MinHash / SimHash / embedding): a new batch of vectors
    * checks against the stored corpus index at delta cost — only the
    * batch is normalized and bucket-hashed, index rows enter the
    * candidate join by (table, bucket) key, and vectors are fetched
    * for surviving candidate ids only. Batch ids must be disjoint
    * from index ids. Pairs come out (id_a, id_b) = (min, max) with
    * exact cosine ≥ threshold — identical to the full run on
    * index ∪ batch restricted to batch-touching pairs (same planes,
    * same buckets). The index side of the candidate join is SALTED
    * exactly as the full path (the AQE tiny-input one-task trap);
    * the batch side replicates across salts (delta-sized × salts).
    */
  def embeddingCosineIncremental(indexVecs: DataFrame, indexKeys: DataFrame,
                                 batch: DataFrame, idCol: String, vecCol: String,
                                 threshold: Double = 0.95,
                                 planes: Int = 12, tables: Int = 4,
                                 includeIntraBatch: Boolean = false): DataFrame = {
    val (bbase, bkeys) = embeddingFrames(batch, idCol, vecCol, planes, tables)
    incremental(cosinePairs(Seq("table", "bucket"), threshold),
      embeddingSide(indexVecs, indexKeys), embeddingSide(bbase, bkeys),
      includeIntraBatch)
  }

  /** Connected components over a near-dup PAIR graph: label every id
    * that appears in a pair with the MINIMUM id of its transitive
    * cluster. This is the correct "keep one per cluster" semantics
    * when duplicates CHAIN (a~b, b~c, a̸~c): dropping the higher id
    * of each pair keeps every locally-minimal doc — in the component
    * {1,5,3} with edges (1,5),(3,5) it keeps BOTH 1 and 3 — while the
    * component label keeps exactly one (the output of any of the pair
    * generators above feeds straight in).
    *
    * Algorithm: FRONTIER (delta) min-label propagation — each round
    * only the nodes whose label CHANGED last round push their label to
    * their neighbors (round 1: every node). A node whose label is
    * stable has already delivered that label to its neighbors, so
    * re-sending it is a no-op — the classic delta-iteration invariant
    * (Ewen et al., VLDB'12 "Spinning Fast Iterative Data Flows").
    * Per round: one hash join edges⋈frontier (frontier shrinks every
    * round — at scale most clusters settle in round 1 and later
    * rounds touch a sliver of the edge set), one map-side-combined
    * min-aggregate of the contributions, and one LEFT join onto the
    * full label table keyed on id — the label table is checkpointed
    * hash-partitioned on id, so that join moves only the (small)
    * contribution side. Rounds needed = graph diameter, which for
    * near-dup clusters is tiny (duplicate families are dense);
    * `maxIter` caps pathological chains. Each round ends in an EAGER
    * localCheckpoint: the loop is driver-side control flow, and
    * without truncation the iteration plan doubles per round (the
    * [[Scd2.mergeAll]] lesson). Convergence = zero changed labels,
    * collected via an [[org.apache.spark.sql.Observation]] metric ON
    * the checkpoint action itself — no separate convergence-check job
    * per round (the old label-sum pass is folded into the
    * materialization for free).
    *
    * `localCheckpoint` pins blocks to their executors — on a cluster
    * with dynamic allocation / spot nodes one lost executor kills a
    * long run. There, set a fault-tolerant
    * `sparkContext.setCheckpointDir` and pass `reliable=true` to use
    * `checkpoint()` instead (same truncation, HDFS-backed blocks) —
    * mirrors [[Scd2.mergeAll]]'s flag.
    *
    * Output: (id, comp) for every id in `pairs`; docs with no dup
    * pair never enter the graph (their "component" is themselves).
    */
  def connectedComponents(pairs: DataFrame, idA: String = "id_a",
                          idB: String = "id_b", maxIter: Int = 20,
                          reliable: Boolean = false): DataFrame = {
    // size-adaptive state width (r15, guide §2): label/edge state of a
    // small pair graph collapses to its size-derived width — per-round
    // session-wide stages were pure shuffle-file + SizeEstimator
    // overhead (see Par.statePartitions); a no-op at cluster scale
    var p = Par.statePartitions(pairs)
    def truncate(df: DataFrame): DataFrame =
      if (reliable) df.coalesce(p).checkpoint(eager = true)
      else df.coalesce(p).localCheckpoint(eager = true)
    // the edge cache persists at its natural width (no pre-coalesce:
    // a leaf underestimate must never squeeze a blown-up pair graph
    // into one cached block — r15 ADVICE); reads coalesce to p, a
    // narrow dependency over the cached blocks.
    // Both directions come from ONE explode pass (r16, guide §1.2):
    // the former two-select union EVALUATED `pairs` twice — for the
    // near-dup generators feeding this (PPJoin rescore, levenshtein
    // comparator) that doubled the whole scoring pass (profiled: a
    // 64-task union map stage carrying 2× the comparator CPU).
    val edges0 = Par.persistTracked(
      pairs.select(explode(array(
          struct(col(idA).as("src"), col(idB).as("dst")),
          struct(col(idB).as("src"), col(idA).as("dst")))).as("__e"))
        .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
        .distinct())
    def edges = edges0.coalesce(p)
    // seed with ROUND 1 fused into initialization: label₀(x) =
    // min(x, min over x's neighbors) is exactly what one propagation
    // round over self-labels produces, and it's a single map-side-
    // combined aggregation over the edge list — one full
    // join+checkpoint round saved. The frontier starts as the nodes
    // round 1 changed; an empty graph observes 0 changes and is
    // converged by definition (a pair generator can legitimately emit
    // zero pairs — e.g. a quiet daily delta).
    val obs0 = org.apache.spark.sql.Observation()
    var labels = truncate(edges.groupBy(col("src").as("id"))
      .agg(min(col("dst")).as("__m"))
      .select(col("id"), least(col("id"), col("__m")).as("comp"),
        (least(col("id"), col("__m")) < col("id")).as("__chg"))
      .observe(obs0, sum(when(col("__chg"), 1L).otherwise(0L)).as("changed")))
    var frontier = labels.filter(col("__chg")).select(col("id"), col("comp"))
    labels = labels.drop("__chg")
    var it = 0
    var converged = (obs0.get("changed") match {
      case null => 0L
      case n: Number => n.longValue()
    }) == 0L
    // the seed action materialized the edge cache: floor the loop
    // width from its TRUE cached bytes — the leaf estimate can only
    // underestimate a pair graph built via join blow-up (r15 ADVICE)
    p = Par.measuredStatePartitions(edges0, p)
    while (!converged && it < maxIter) {
      // contributions from CHANGED nodes only, min-combined per target
      // (map-side partial agg; shuffle size = frontier's edge fan-out)
      val contrib = edges
        .join(frontier.select(col("id").as("dst"), col("comp")), "dst")
        .groupBy(col("src")).agg(min(col("comp")).as("__newc"))
      // fold into the full label table: labels is checkpointed
      // hash-partitioned on id, so only `contrib` shuffles here. The
      // changed-count rides the SAME materialization as an observed
      // metric — zero extra jobs per round.
      val obs = org.apache.spark.sql.Observation()
      val next = truncate(
        labels.join(contrib.select(col("src").as("id"), col("__newc")),
            Seq("id"), "left")
          .select(col("id"),
            least(coalesce(col("__newc"), col("comp")), col("comp")).as("comp"),
            (coalesce(col("__newc"), col("comp")) < col("comp")).as("__chg"))
          .observe(obs, sum(when(col("__chg"), 1L).otherwise(0L)).as("changed")))
      val changed = obs.get("changed") match {
        case null => 0L
        case n: Number => n.longValue()
      }
      // the frontier re-reads the checkpointed blocks — a filter over
      // pinned partitions, not a recomputation
      frontier = next.filter(col("__chg")).select(col("id"), col("comp"))
      labels = next.drop("__chg")
      converged = changed == 0L
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds " +
      "— pathological chain-shaped duplicate graph; raise maxIter")
    labels
  }

  /** Keep the BEST document of each near-dup cluster — the curation
    * form of "keep one per cluster": min-id keeps an arbitrary
    * member, but training-set recipes keep the highest-QUALITY member
    * (longest, best quality score, newest). Clusters come from
    * [[connectedComponents]] over the supplied pairs; unclustered
    * docs are their own cluster and always survive. Winner per
    * cluster = max `scoreCol`, ties to the LOWEST id (deterministic).
    * One window over cluster-sized groups — no shuffle beyond the
    * pair graph and one partition of docs by cluster label.
    * Output: the surviving rows of `docs` plus their `comp` label.
    */
  def keepBestPerCluster(docs: DataFrame, idCol: String, pairs: DataFrame,
                         scoreCol: String, idA: String = "id_a",
                         idB: String = "id_b"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val comps = connectedComponents(pairs, idA, idB)
      .select(col("id").as(idCol), col("comp"))
    val withComp = docs.join(comps, Seq(idCol), "left")
      .withColumn("comp", coalesce(col("comp"), col(idCol)))
    val w = Window.partitionBy(col("comp"))
      .orderBy(col(scoreCol).desc, col(idCol))
    withComp.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Incremental connected components — fold a day's NEW near-dup
    * pairs into yesterday's (id, comp) labeling without replaying the
    * full edge history: existing labels re-enter as (id → comp)
    * edges — each old component collapses to a STAR, so its whole
    * history contributes one hop regardless of how many edges built
    * it — and propagation runs over star edges + the new pairs only.
    * Convergence is bounded by the NEW pairs' diameter, not the
    * accumulated graph's. Output has the same shape as
    * [[connectedComponents]] and the same invariant (comp = min id of
    * the transitive cluster over ALL pairs ever seen), proven
    * equal-to-full-replay in DedupSpec.
    */
  def connectedComponentsIncremental(labels: DataFrame, newPairs: DataFrame,
                                     idA: String = "id_a", idB: String = "id_b",
                                     maxIter: Int = 20,
                                     reliable: Boolean = false): DataFrame = {
    val starEdges = labels.filter(col("id") =!= col("comp"))
      .select(col("id").as(idA), col("comp").as(idB))
    connectedComponents(
      starEdges.unionByName(newPairs.select(col(idA), col(idB))),
      idA, idB, maxIter, reliable)
  }

  /** Incremental [[keepBestPerCluster]] — curation-view maintenance
    * at delta cost: fold a day's new docs + new near-dup pairs into
    * yesterday's keeper state WITHOUT rescoring the corpus. Because
    * clusters only ever MERGE (pairs accumulate) and "best" is a max,
    * a merged cluster's winner is the max over its constituent
    * clusters' stored winners plus the day's new docs — so the only
    * inputs are the keeper STATE (one row per cluster), the new
    * docs, and the relabeled graph ([[connectedComponentsIncremental]]:
    * convergence bounded by the NEW pairs' diameter). Old non-winning
    * members never need revisiting: a merged cluster's best is ≥
    * each old cluster's best, which already dominated them. Winner
    * per cluster = max score, ties to the LOWEST id (same contract as
    * the full operator); the winner aggregation is a partial-agg
    * groupBy (map-side combine), not a window.
    *
    * State frames: `keepers` (comp, idCol, scoreCol) — one row per
    * cluster including singletons (comp = own id); `priorLabels` the
    * pair-graph labeling that produced it. Returns the updated
    * (keepers, labels) pair; DedupSpec proves two-day folding equals
    * the full run over the merged corpus.
    */
  def keepBestPerClusterIncremental(
      keepers: DataFrame, priorLabels: DataFrame,
      newDocs: DataFrame, newPairs: DataFrame,
      idCol: String, scoreCol: String,
      idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 20,
      reliable: Boolean = false): (DataFrame, DataFrame) = {
    val labels2 = Par.persistTracked(connectedComponentsIncremental(
      priorLabels, newPairs, idA, idB, maxIter, reliable))
    // re-key by the row's own id: clustered rows take the (possibly
    // merged) label, never-clustered rows stay their own cluster
    def relabel(df: DataFrame): DataFrame = df
      .join(labels2.select(col("id").as(idCol), col("comp").as("__c")),
        Seq(idCol), "left")
      .withColumn("comp", coalesce(col("__c"), col(idCol)))
      .drop("__c")
    val cand = relabel(keepers.drop("comp"))
      .unionByName(relabel(newDocs.select(col(idCol), col(scoreCol))))
    // argmax via struct max: score desc, then LOWEST id (negated so
    // the lexicographic max breaks ties downward) — associative, so
    // partial aggregation applies
    val keepers2 = cand.groupBy(col("comp"))
      .agg(max(struct(col(scoreCol).as("s"), (-col(idCol)).as("negid")))
        .as("__w"))
      .select(col("comp"), (-col("__w.negid")).as(idCol),
        col("__w.s").as(scoreCol))
    (keepers2, labels2)
  }

  /** Edit-distance similarity self-join: all unordered pairs with
    * `levenshtein(a, b) <= maxDist` — the typo-level fuzzy-match
    * modality (entity names, titles, OCR output) that the token-set
    * methods above cannot express (Jaccard on shingles is blind to
    * single-character edits in short strings).
    *
    * Scale path is PASS-JOIN-style segment filtering (Li, Deng,
    * Feng & Li, VLDB 2012): each indexed string splits into
    * `maxDist+1` disjoint segments; by pigeonhole, `d` edits leave at
    * least one segment untouched, and an untouched segment appears in
    * the partner verbatim, shifted by at most `d` positions (the net
    * indel balance before it). So candidates = an EQUI-join of index
    * segments against probe substrings on `(length-class, segment-idx,
    * text)` — never the n² pair space. Per-row fan-out is bounded by
    * construction: ≤ `d+1` index segments, ≤ `(d+1)²·(2d+1)` probe
    * substrings; each probes only length classes ≤ its own (the pair
    * is still found once from the longer side). Survivors are
    * verified with the banded O(d·len) threshold levenshtein.
    * Strings shorter than `d+1` chars can't host non-empty segments;
    * they pair through a broadcast length-band join (a corpus keeps
    * few near-empty strings — documented assumption).
    *
    * Degenerate corpora where one segment value is universal (a
    * constant prefix spanning a whole segment) make every pair a
    * candidate — inherent to any no-false-negative segment filter;
    * strip known-constant prefixes before joining. The candidate
    * shuffle keys on (length, segment, text) with an explicit keyed
    * repartition pinning the pair-space width (the AQE small-input
    * trap, as [[ngramJaccard]]).
    *
    * @return (id_a, id_b, dist) with id_a < id_b, dist <= maxDist
    */
  def editDistance(docs: DataFrame, idCol: String, strCol: String,
                   maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    intra(editPairs(maxDist), editSide(editBase(docs, idCol, strCol), maxDist))
  }

  /** Persisted (id, s, len) rows of a string corpus. */
  private def editBase(docs: DataFrame, idCol: String, strCol: String): DataFrame =
    Par.persistTracked(
      Par.widen(docs.select(col(idCol), col(strCol)), idCol)
        .select(col(idCol).as("id"), col(strCol).as("s"))
        .withColumn("len", length(col("s"))))

  /** Edit distance for the candidate core: probe substrings meet
    * segments on (length-class, segment-idx, text), and the verifier
    * is the banded O(d·len) threshold levenshtein.
    */
  private def editPairs(d: Int): PairMethod =
    PairMethod(Seq("l", "i", "sub"), _
      .withColumn("dist", levenshtein(col("s_a"), col("s_b"), d))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist")))

  /** One corpus's edit-distance frames over its (id, s, len) rows:
    * its long strings' probes against their segments — probing only
    * length classes ≤ the prober's own (the pair is still found once:
    * the longer partner probes this row's class) — plus the
    * short-string band as extra candidates. Strings too short to
    * segment: ed ≤ d forces |len diff| ≤ d, so the (tiny by
    * construction) short side explodes over its ≤ 2d+1 candidate
    * partner lengths and EQUI-joins on length — a hash join, never a
    * nested loop over the corpus.
    */
  private def editSide(base: DataFrame, d: Int): Frames = {
    val long = base.filter(col("len") >= d + 1)
    val shortProbe = base.filter(col("len") < d + 1)
      .select(col("id").as("id_x"),
        explode(sequence(greatest(lit(0), col("len").cast("int") - d),
          col("len").cast("int") + d)).as("len"))
    val candShort = broadcast(shortProbe)
      .join(base.select(col("id").as("id_y"), col("len").cast("int").as("len")),
        Seq("len"))
      .filter(col("id_x") =!= col("id_y"))
      .select(least(col("id_x"), col("id_y")).as("id_a"),
        greatest(col("id_x"), col("id_y")).as("id_b"))
    Frames(edProbes(long, d, longerClasses = false),
      edSegments(long, d).withColumnRenamed("id_x", "id"),
      Some(_ => base.select(col("id"), col("s"))), Some(candShort))
  }

  /** Segment geometry of a length-l string under k = d+1 segments:
    * the first (l % k) segments are one char longer — start/width
    * derive from (l, i) alone, so index build and probe generation
    * share one convention.
    */
  private def edGeom(k: Int, l: Column, i: Column): (Column, Column) = {
    val b = ((l - (l % k)) / k).cast("int")
    val r = (l % k).cast("int")
    val st = (i * b + least(i, r)).cast("int")
    val w = (b + when(i < r, 1).otherwise(0)).cast("int")
    (st, w)
  }

  /** Index side of the segment filter: one row per (string, segment)
    * → (l, i, sub, id_x). Input must carry (id, s, len) with
    * len ≥ d+1.
    */
  private def edSegments(long: DataFrame, d: Int): DataFrame = {
    val k = d + 1
    long.select(col("id"), col("len").cast("int").as("l"),
        posexplode(transform(sequence(lit(0), lit(d)), i => {
          val (st, w) = edGeom(k, col("len"), i)
          col("s").substr(st + 1, w)
        })).as(Seq("i", "sub")))
      .select(col("l"), col("i").cast("int").as("i"), col("sub"),
        col("id").as("id_x"))
  }

  /** Probe side: candidate substrings of each string for every
    * indexed length class l ∈ [max(k, len−d), len] (self-join) or
    * [max(k, len−d), len+d] (`longerClasses` — probing a one-sided
    * index that will not probe back), every segment idx, and every
    * start within the ±d shift window. For l ≤ len the window is
    * provably non-empty (st ≤ l−w ≤ len−w, len−w ≥ 0); for the
    * longer classes it can be empty, and Spark's `sequence` DESCENDS
    * on an inverted range (junk rows — the RangeJoin lesson), so the
    * guard returns a typed empty array instead.
    */
  private def edProbes(long: DataFrame, d: Int,
                       longerClasses: Boolean): DataFrame = {
    val k = d + 1
    val hi = if (longerClasses) col("len").cast("int") + d
             else col("len").cast("int")
    long.select(col("id"),
        explode(flatten(transform(
          sequence(greatest(lit(k), col("len").cast("int") - d), hi),
          l => flatten(transform(sequence(lit(0), lit(d)), i => {
            val (st, w) = edGeom(k, l, i)
            val qLo = greatest(lit(0), st - d)
            val qHi = least(col("len").cast("int") - w, st + d)
            when(qHi >= qLo,
              transform(sequence(qLo, qHi), q =>
                struct(l.as("l"), i.as("i"),
                  col("s").substr(q + 1, w).as("sub"))))
              .otherwise(array().cast("array<struct<l:int,i:int,sub:string>>"))
          }))))).as("p"))
      .select(col("id"), col("p.l").as("l"), col("p.i").as("i"),
        col("p.sub").as("sub"))
  }

  /** Persistent edit-distance index frames: `segs` (l, i, sub, id_x) is
    * probed by (l, i, sub) in the incremental candidate join — store
    * it bucketed on those keys; `strs` (id, s, len) feeds the verify
    * fetch BY ID — store it bucketed on id (the dual-copy posting
    * discipline of [[NgramIndex]], one copy per access path).
    */
  final case class EditIndex(segs: DataFrame, strs: DataFrame)

  /** Build [[EditIndex]] frames (same segmentation as
    * [[editDistance]] at the same `maxDist`).
    */
  def editIndexFrames(docs: DataFrame, idCol: String, strCol: String,
                      maxDist: Int): EditIndex = {
    require(maxDist >= 0, "maxDist must be non-negative")
    val base = Par.widen(docs.select(col(idCol), col(strCol)), idCol)
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .withColumn("len", length(col("s")))
    EditIndex(edSegments(base.filter(col("len") >= maxDist + 1), maxDist),
      base)
  }

  /** Incremental edit-distance join (the daily-delta form, completing
    * the incremental family: exact / MinHash / SimHash / n-gram /
    * embedding / edit-distance): all pairs with levenshtein ≤ maxDist
    * where at least one side is in `batch` — new-vs-index pairs plus
    * (optionally) batch-internal pairs — WITHOUT re-segmenting or
    * re-shuffling the corpus. Only the batch generates probe
    * substrings; the stored index contributes its segments as-is.
    * Single-sided filtering is lossless here for the same pigeonhole
    * reason as the PPJoin prefix probe: partitioning the INDEX string
    * into d+1 segments leaves one untouched, and that segment appears
    * verbatim in the batch string — so batch probes must cover length
    * classes on BOTH sides of their own length (`longerClasses`),
    * since the index never probes back. Cross pairs where either side
    * is shorter than d+1 chars have both lengths ≤ 2d (length-band
    * broadcast of the delta); batch-internal pairs are the
    * [[editDistance]] frames of the same persisted batch rows.
    * Assumes batch ids are new (disjoint from index ids), as the
    * other incremental forms do.
    */
  def editDistanceIncremental(index: EditIndex, batch: DataFrame,
                              idCol: String, strCol: String,
                              maxDist: Int,
                              includeBatchPairs: Boolean = true): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    val d = maxDist
    val b = editBase(batch, idCol, strCol)
    // pairs with a sub-segment-length member: both sides ≤ 2d chars;
    // the delta side explodes over its ≤ 2d+1 candidate partner
    // lengths and equi-joins on length (hash join, no nested loop)
    val candShort = broadcast(
        b.filter(col("len") <= 2 * d)
          .select(col("id").as("id_b"), col("len").cast("int").as("len_b"),
            explode(sequence(greatest(lit(0), col("len").cast("int") - d),
              col("len").cast("int") + d)).as("len_a")))
      .join(index.strs.filter(col("len") <= 2 * d)
          .select(col("id").as("id_a"), col("len").cast("int").as("len_a")),
        Seq("len_a"))
      .filter(col("len_a") < d + 1 || col("len_b") < d + 1)
      .select(col("id_a"), col("id_b"))
    val segs = index.segs.select(col("l"), col("i"), col("sub"), col("id_x").as("id"))
    // a batch that only probes passes its probes as both key frames
    val probes = edProbes(b.filter(col("len") >= d + 1), d, longerClasses = true)
    val crossPairs = cross(editPairs(d),
      Frames(segs, segs, Some(_ => index.strs.select(col("id"), col("s")))),
      Frames(probes, probes, Some(_ => b.select(col("id"), col("s"))), Some(candShort)))
    if (!includeBatchPairs) crossPairs
    else crossPairs.unionByName(intra(editPairs(d), editSide(b, d)))
  }

  /** SemDeDup-style semantic near-dup pairs (r8-w4): cluster the
    * embedding space with an IVF/k-means quantizer, then score
    * cosine only WITHIN each cluster — the published semantic-dedup
    * recipe (SemDeDup, Abbas et al. 2023: k-means on embeddings,
    * intra-cluster cosine above a threshold marks semantic dupes).
    * The cluster pass is what makes 100 TB feasible: candidate pairs
    * are Σ|cell|² instead of N², and `nlist` scales with the corpus
    * (√N cells keeps expected cell size √N). The LSH modality
    * ([[embeddingCosine]]) catches near-identical vectors via random
    * buckets; the cluster modality groups by SEMANTIC neighborhood —
    * pairs far apart in every hash table but close to the same
    * centroid.
    *
    * Same argmin cell assignment as [[Similarity.ivfTopKWith]]
    * (codegen'd least() over (dist, cell) structs — deterministic,
    * oracle-replayable with literal centroids). The within-cell
    * self-join is the candidate core's salted join over bare
    * (cell, id) keys, exactly as [[embeddingCosine]]'s buckets (cells
    * are few); vectors are fetched once, for surviving pairs only.
    */
  def semanticDedup(embs: DataFrame, idCol: String, vecCol: String,
                    centroids: Seq[(Int, Seq[Double])],
                    threshold: Double = 0.95): DataFrame = {
    require(centroids.nonEmpty, "semanticDedup needs at least one centroid")
    val base = Par.persistTracked(
      Par.widen(embs.select(col(idCol), col(vecCol)), idCol)
        .select(col(idCol).as("id"), Vectors.toDouble(col(vecCol)).as("vec"))
        .withColumn("nrm", Vectors.norm(col("vec"))))
    def selfDot(v: Seq[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { s += v(i) * v(i); i += 1 }
      s
    }
    def nearestCell(vec: Column): Column =
      least(centroids.map { case (cell, cv) =>
        struct((-Vectors.dot(vec, typedLit(cv)) * 2 + lit(selfDot(cv))).as("d"),
          lit(cell).as("c"))
      }: _*).getField("c")
    val keys = Par.persistTracked(
      base.select(col("id"), nearestCell(col("vec")).as("cell")))
    intra(cosinePairs(Seq("cell"), threshold), Frames(keys, keys, Some(_ => base)))
  }

  /** Segment-level exact dedup — the sub-document analog of CCNet's
    * line-level dedup (Wenzek et al. '19): boilerplate repeats
    * ACROSS documents (headers, navigation, license blurbs) that
    * whole-document dedup can't see. CCNet's unit is the line; this
    * corpus carries no newlines, so the unit is a fixed
    * non-overlapping `window`-word segment of the normalized text —
    * same algorithm, same keep-first-occurrence rule.
    *
    * Semantics: a segment survives iff its (doc, position) is the
    * corpus-wide FIRST occurrence of that segment's content,
    * ordering occurrences by (docId, segNo). Each document is then
    * reconstructed as the in-order join of its surviving segments;
    * a document whose every segment is boilerplate yields NULL text
    * (CCNet drops these). Output: one row per doc —
    * (docId, text_dedup, n_segments, n_kept).
    *
    * Scale design: the explode is corpus-sized but narrow
    * (id, segNo, 64-bit segment hash); the winner-per-segment agg is
    * a map-side-combined `min(struct)` whose shuffle carries one
    * partial per DISTINCT segment hash — 8-byte keys, never the
    * segment strings (CCNet ships sha1 prefixes for the same
    * reason). Only the marker join back to the (id, segNo, text)
    * stream moves segment text, and that shuffle is linear in corpus
    * size with no fan-out: each hash matches its own occurrences.
    * 64-bit hashing makes cross-content collisions possible in
    * principle at 100 TB segment counts (~billions); a collision
    * deletes a non-duplicate segment — the standard CCNet trade,
    * noted here rather than hidden.
    *
    * Reference tie-in: the reference dedups at row grain only
    * (`base_loader.py` ReplacingMergeTree keys); sub-record dedup is
    * part of the mandated LLM-pipeline extension surface.
    */
  def segmentDedup(docs: DataFrame, idCol: String, textCol: String,
                   window: Int = 20): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val segs = Par.persistTracked(segmentsOf(docs, idCol, textCol, window))
    // one partial per distinct segment hash; keys-only shuffle
    val winners = segs
      .groupBy(col("seg_hash"))
      .agg(min(struct(col("doc_id"), col("seg_no"))).as("first"))
      .select(col("seg_hash"), col("first.doc_id").as("w_doc"),
        col("first.seg_no").as("w_seg"))
    val marked = segs.join(winners, Seq("seg_hash"))
      .withColumn("kept",
        col("doc_id") === col("w_doc") && col("seg_no") === col("w_seg"))
    rebuild(marked)
  }

  /** The fixed-window segment stream behind [[segmentDedup]]:
    * (doc_id, seg_no, seg, seg_hash), one row per segment.
    */
  private def segmentsOf(docs: DataFrame, idCol: String, textCol: String,
                         window: Int): DataFrame = {
    // bind the word array once as a lambda var (the Text.shingles
    // lesson: a Column reference would re-run normalize+split per
    // segment position — O(len²/window) per doc)
    val segsCol = element_at(transform(
      array(split(Text.normalize(col(textCol)), " ")), ws =>
        transform(sequence(lit(0), ceil(size(ws).cast("double") / window).cast("int") - 1),
          i => concat_ws(" ", slice(ws, i * window + 1, lit(window))))), 1)
    Par.widen(docs.select(col(idCol).as("doc_id"), col(textCol)), "doc_id")
      .select(col("doc_id"), posexplode(segsCol).as(Seq("seg_no", "seg")))
      .select(col("doc_id"), col("seg_no"), col("seg"),
        xxhash64(col("seg")).as("seg_hash"))
  }

  /** Doc reconstruction shared by the batch and incremental paths:
    * in-order join of kept segments, NULL when nothing survives.
    */
  private def rebuild(marked: DataFrame): DataFrame =
    marked
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segments"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_sort(collect_list(when(col("kept"),
          struct(col("seg_no"), col("seg"))))).as("kept_segs"))
      .select(col("doc_id"),
        when(col("n_kept") === 0, lit(null).cast("string"))
          .otherwise(array_join(transform(col("kept_segs"), s => s("seg")), " "))
          .as("text_dedup"),
        col("n_segments"), col("n_kept"))

  /** The (distinct) segment-hash index of a corpus — the state an
    * incremental segment-dedup pipeline persists between daily runs.
    * Store it BUCKETED on `seg_hash` ([[graft.sources.Sink
    * .bucketedTable]]) so [[segmentDedupIncremental]]'s anti join
    * reads it exchange-free (the exactIncremental contract).
    */
  def segmentIndex(docs: DataFrame, idCol: String, textCol: String,
                   window: Int = 20): DataFrame =
    segmentsOf(docs, idCol, textCol, window)
      .select(col("seg_hash")).distinct()

  /** Incremental segment-level dedup — the daily-delta form of
    * [[segmentDedup]]: the corpus is never re-exploded; each new
    * batch dedups against the persisted [[segmentIndex]]. A batch
    * segment survives iff its hash is unseen in the index AND its
    * (doc, position) is the BATCH-wide first occurrence. Output is
    * [[segmentDedup]]'s schema over the batch docs; equals the full
    * run restricted to the batch whenever batch ids order after the
    * indexed corpus's (the keep-first rule is id-ordered — the same
    * contract every incremental dedup here states).
    *
    * Shuffles are batch-sized except the anti join's index side,
    * which a bucketed index scan reads exchange-free.
    */
  def segmentDedupIncremental(index: DataFrame, batch: DataFrame,
                              idCol: String, textCol: String,
                              window: Int = 20): DataFrame = {
    val segs = Par.persistTracked(segmentsOf(batch, idCol, textCol, window))
    val winners = segs
      .groupBy(col("seg_hash"))
      .agg(min(struct(col("doc_id"), col("seg_no"))).as("first"))
      .join(index.select(col("seg_hash")), Seq("seg_hash"), "left_anti")
      .select(col("seg_hash"), col("first.doc_id").as("w_doc"),
        col("first.seg_no").as("w_seg"))
    val marked = segs.join(winners, Seq("seg_hash"), "left")
      .withColumn("kept",
        col("w_doc").isNotNull &&
          col("doc_id") === col("w_doc") && col("seg_no") === col("w_seg"))
    rebuild(marked)
  }

  /** Pair-set EVALUATION scorecard — precision / recall / F1 of a
    * PREDICTED duplicate-pair set against a reference pair set (the
    * "how much does the LSH candidate pass miss?" readout every
    * approximate dedup deployment needs before trusting its blocking
    * recall at 100 TB; also the harness for tuning bands/rows or a
    * fuzzy-linkage threshold against labeled truth). Both inputs are
    * (idA, idB) pair frames; orientation is normalized (a < b) and
    * duplicates collapsed, so callers can pass raw operator output.
    *
    * Counts are exact integers off ONE full-outer join on the pair
    * key (pair-hash partitioned — no skew: pair keys are near-unique
    * by construction); precision/recall/F1 are single round-`roundTo`
    * double trees, null when the denominator is 0 (an empty predicted
    * or truth set reads as "ill-posed", not 0.0).
    */
  def evalPairs(predicted: DataFrame, truth: DataFrame,
                idA: String = "id_a", idB: String = "id_b",
                roundTo: Int = 6): DataFrame = {
    val d = (c: Column) => c.cast("double")
    def norm(df: DataFrame, tag: String): DataFrame =
      df.select(least(col(idA), col(idB)).as("__a"),
          greatest(col(idA), col(idB)).as("__b"))
        .distinct().withColumn(s"__$tag", lit(1))
    norm(predicted, "p")
      .join(norm(truth, "t"), Seq("__a", "__b"), "full_outer")
      .agg(
        sum(when(col("__p") === 1 && col("__t") === 1, 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("__p") === 1 && col("__t").isNull, 1L).otherwise(0L))
          .as("fp"),
        sum(when(col("__p").isNull && col("__t") === 1, 1L).otherwise(0L))
          .as("fn"))
      .select(col("tp"), col("fp"), col("fn"),
        round(when(col("tp") + col("fp") > 0,
          d(col("tp")) / d(col("tp") + col("fp"))), roundTo).as("precision"),
        round(when(col("tp") + col("fn") > 0,
          d(col("tp")) / d(col("tp") + col("fn"))), roundTo).as("recall"),
        round(when(lit(2L) * col("tp") + col("fp") + col("fn") > 0,
          d(lit(2L) * col("tp"))
            / d(lit(2L) * col("tp") + col("fp") + col("fn"))), roundTo)
          .as("f1"))
  }

  /** Cross-source duplication matrix (r14) — "which sources copy
    * from each other": for every source pair, the number of shared
    * winnow fingerprints ([[Text.winnow]]'s ≥k+w−1-
    * word shared-run guarantee, so a shared fingerprint means a
    * literally shared text run) plus the Szymkiewicz–Simpson overlap
    * coefficient |A∩B| / min(|A|,|B|) — the containment-style
    * normalization that stays meaningful when one source is tiny
    * (mirror-vs-origin reads ~1.0 where Jaccard would vanish).
    *
    * Shape: one scan winnows every doc (per-row array expressions,
    * no shuffle), (source, fp) pairs distinct on the composite key,
    * one self-equi-join on the fingerprint. Per-fingerprint fan-out
    * is bounded by the SOURCE count (distinct collapsed the doc
    * dimension first), so a corpus-wide boilerplate hash costs
    * |sources|² pairs, not |docs|² — the join is corpus-linear at
    * any skew. Per-source totals ride a broadcast (|sources| rows).
    *
    * Output: (src_a, src_b, shared_fingerprints, n_a, n_b, overlap)
    * for src_a < src_b, round-6 overlap.
    */
  def crossSourceOverlap(docs: DataFrame, idCol: String, textCol: String,
                         srcCol: String, k: Int = 5, w: Int = 4,
                         roundTo: Int = 6): DataFrame =
    overlapFromFps(
      sourceFingerprintFrame(docs, idCol, textCol, srcCol, k, w), roundTo)

  /** The maintained (source, fingerprint) index frame behind
    * [[crossSourceOverlap]] — the state a daily pipeline persists:
    * distinct winnow fingerprints per source. Appending a day's
    * frame and re-distincting IS the index maintenance (set union);
    * the expensive half — shingling + winnowing the text — runs on
    * the DELTA only.
    */
  def sourceFingerprintFrame(docs: DataFrame, idCol: String,
                             textCol: String, srcCol: String,
                             k: Int = 5, w: Int = 4): DataFrame =
    docs.select(col(srcCol).as("source"),
        explode(Text.winnow(col(textCol), k, w, Text.portableHash60))
          .as("fp"))
      .distinct()

  /** Incremental twin of [[crossSourceOverlap]] (the daily-delta
    * form): yesterday's maintained (source, fp) set unions the
    * batch's freshly-winnowed frame — a distinct-union, so the fold
    * is PROVABLY the full recompute's input set and the matrix
    * grades against the full oracle verbatim. At 100 TB the saving
    * is the text pass: only the delta is shingled/winnowed; the
    * pair-count join runs over fingerprint SETS, which are orders
    * smaller than corpus text.
    */
  def crossSourceOverlapIncremental(storedFps: DataFrame, batch: DataFrame,
                                    idCol: String, textCol: String,
                                    srcCol: String, k: Int = 5, w: Int = 4,
                                    roundTo: Int = 6): DataFrame =
    overlapFromFps(
      storedFps.select(col("source"), col("fp"))
        .unionByName(
          sourceFingerprintFrame(batch, idCol, textCol, srcCol, k, w))
        .distinct(), roundTo)

  private def overlapFromFps(fpsIn: DataFrame, roundTo: Int): DataFrame = {
    val fps = Par.persistTracked(fpsIn)
    val totals = fps.groupBy(col("source")).agg(count(lit(1)).as("__n"))
    val pairs = fps.select(col("source").as("src_a"), col("fp"))
      .join(fps.select(col("source").as("src_b"), col("fp")), Seq("fp"))
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared_fingerprints"))
    pairs
      .join(broadcast(totals.select(col("source").as("src_a"),
        col("__n").as("n_a"))), Seq("src_a"))
      .join(broadcast(totals.select(col("source").as("src_b"),
        col("__n").as("n_b"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared_fingerprints"),
        col("n_a"), col("n_b"),
        round(col("shared_fingerprints").cast("double")
          / least(col("n_a"), col("n_b")).cast("double"), roundTo)
          .as("overlap"))
  }
}
