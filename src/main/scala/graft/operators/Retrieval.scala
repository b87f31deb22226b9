package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Lexical ranked retrieval over the corpus — the BM25 side of the
  * search story (the embedding side is [[Similarity]]'s ANN family).
  * A training-data pipeline uses it to pull topical slices out of a
  * web-scale corpus ("all docs about X, best first") and to audit
  * near-boundary quality decisions, where exact reproducibility of the
  * ranking matters more than float-perfect BM25 — so the scorer is
  * BM25 with k1 = 1.2, b = 0.75 computed entirely in INTEGER
  * fixed-point (the q105/q108 discipline): every division is a floor
  * division both engines replay bit-for-bit, so the ranking (and its
  * ties) is deterministic across Spark, DuckDB, and any partitioning.
  *
  * Scoring, per (query term t, doc d) — all int64:
  *  - `ratio  = ((N+1)·2^20) div (df_t+1)`       (idf argument, ≥ 2^20)
  *  - `widf   = (e·1024) + ((ratio·1024) div 2^e) − 1024`, `e = ilog2(ratio)`
  *    — fixed-point log2 with a linear-interpolated 10-bit mantissa
  *    (exact at powers of two, monotone in between; `ilog2(x)` is
  *    `length(bin(x))−1`, the q108 floor-log2 idiom)
  *  - `norm1000  = 250 + (750·dl_d·N) div T`     (1−b+b·dl/avgdl, avgdl = T/N
  *    as the exact rational — never a floored average)
  *  - `denom1000 = tf·1000 + (1200·norm1000) div 1000`
  *  - `sat1000   = (tf·2200·1000) div denom1000`  (tf·(k1+1)/(tf+k1·norm))
  *  - `score = Σ_t widf·sat1000`, ties broken by doc_id — fully ordered.
  *
  * Shape at 100 TB: ONE shuffle builds the postings (tf per (doc,
  * term)); the df table is vocabulary-sized and BROADCASTS back onto
  * the postings, as do the single-row corpus stats and the query-term
  * list; one more shuffle groups (query, doc) partial scores. Nothing
  * is ever all-pairs and the corpus is never re-scanned per query.
  * Reference: kinesis-s3 has no retrieval operator; semantics follow
  * Robertson/Spärck Jones BM25 as published.
  */
object Retrieval {

  /** Top-k docs per query by integer-exact BM25.
    *
    * @param queryTerms (query_id: long, term: string) — small (it
    *        broadcasts); duplicate (query_id, term) rows are collapsed
    *        so repeated query words score once, like Lucene.
    * @return (query_id, doc_id, score, rank) with rank 1..k dense per
    *         query in (score desc, doc_id asc) order.
    */
  def bm25TopK(docs: DataFrame, id: Column, text: Column,
               queryTerms: DataFrame, k: Int): DataFrame =
    bm25FromPostings(
      docs.select(id.as("doc_id"), TextFns.tokens(text).as("toks"))
        .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
          explode(col("toks")).as("term"))
        .groupBy(col("doc_id"), col("dl"), col("term"))
        .agg(count(lit(1)).as("tf")),
      queryTerms, k)

  /** BM25 scoring over an ALREADY-BUILT postings relation — the
    * consumption path of the maintained-index family
    * ([[postingsStore]] / [[incrementalPostings]] /
    * [[upsertPostings]]): df, n_docs, and Σdl all aggregate from the
    * postings themselves (vocabulary-sized / single-row, broadcast
    * back), so a maintained inverted index serves fresh rankings with
    * ZERO corpus re-tokenization — the property q293 pins maintained ≡
    * from-scratch. Fixed-point arithmetic identical to [[bm25TopK]]
    * (which now delegates here).
    *
    * @param postings (doc_id, dl, term, tf) — one row per (doc, term);
    *                 extra columns (content_fp, src) are ignored
    */
  def bm25FromPostings(postings: DataFrame, queryTerms: DataFrame,
                       k: Int): DataFrame = {
    val p = postings.select(col("doc_id"), col("dl"), col("term"), col("tf"))
      .localCheckpoint(false) // stats + df + the scored join all consume it

    // single-row corpus stats: exact rational avgdl = total/n_docs
    val stats = p.select(col("doc_id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("total_tokens"))

    // df is vocabulary-sized → broadcast back onto the postings
    val df = p.groupBy(col("term")).agg(count(lit(1)).as("df"))

    val scored = p
      .join(broadcast(queryTerms.select(col("query_id"), col("term")).distinct()), "term")
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("ratio", expr("((n_docs + 1) * 1048576) div (df + 1)"))
      .withColumn("e", (length(bin(col("ratio"))) - 1).cast("long"))
      .withColumn("widf",
        expr("e * 1024 + (ratio * 1024) div shiftleft(cast(1 as bigint), cast(e as int)) - 1024"))
      .withColumn("norm1000", expr("250 + (750 * dl * n_docs) div total_tokens"))
      .withColumn("denom1000", expr("tf * 1000 + (1200 * norm1000) div 1000"))
      .withColumn("sat1000", expr("(tf * 2200 * 1000) div denom1000"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(expr("widf * sat1000")).as("score"))

    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
  }

  /** Persisted POSTINGS STORE — the inverted index as maintained state
    * ([[Dedup.signatureStore]]'s discipline applied to retrieval): one
    * row per (doc, term) carrying the term frequency, the doc's token
    * length, and the doc's 60-bit content fingerprint (repeated per
    * posting — ~8 B against the posting payload — so the store is
    * self-contained: its (doc_id, fp) slice IS the diff side of
    * [[incrementalPostings]], no second table to keep in sync). df,
    * corpus stats, and hence BM25 scores are all derivable from the
    * store by vocabulary-sized aggregation — maintain the postings and
    * the whole [[bm25TopK]] scoring surface stays warm.
    *
    * @return (doc_id, content_fp, term, tf, dl, src='computed')
    */
  def postingsStore(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = docs.select(id.as("doc_id"),
      TextFns.hash60(text).as("content_fp"), TextFns.tokens(text).as("toks"))
    toks.select(col("doc_id"), col("content_fp"),
        size(col("toks")).cast("long").as("dl"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("content_fp"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .select(col("doc_id"), col("content_fp"), col("term"), col("tf"),
        col("dl"), lit("computed").as("src"))
  }

  /** Incremental inverted-index maintenance — the RETRIEVAL leg of the
    * crawl-incremental chain (signatures q259 → LSH pairs q262 →
    * components q265 → IVF routing q280 → here): at 100 TB nobody
    * re-tokenizes the corpus to refresh its search index.
    * [[SnapshotDiff.diffStored]] classifies every doc by text
    * fingerprint against the store's (doc_id, fp) slice; ONLY
    * added/changed docs are re-tokenized (observed as
    * `incr_postings_docs`), unchanged docs keep their posting rows
    * verbatim, removed/changed docs' old postings drop. The result is
    * pinned bit-equal to a full [[postingsStore]] rebuild — and since
    * df/avgdl/BM25 derive from the store, index freshness costs
    * O(delta · tokens-per-doc), never O(corpus).
    *
    * @return next store, same schema, `src` ∈ computed|retained
    */
  def incrementalPostings(newDocs: DataFrame, prevStore: DataFrame,
                          id: Column, text: Column): DataFrame =
    incrementalPostingsFrom(
      SnapshotDiff.diffStored(
        prevStore.select(col("doc_id").as("id"), col("content_fp").as("fp")).distinct(),
        newDocs, id, TextFns.hash60(text)),
      newDocs, prevStore, id, text)

  /** [[incrementalPostings]] over a PRECOMPUTED snapshot diff
    * ([[Dedup.incrementalSignaturesFrom]]'s shared-diff contract: one
    * hash60-text diff per crawl feeds every text-keyed store). */
  def incrementalPostingsFrom(d: DataFrame, newDocs: DataFrame,
                              prevStore: DataFrame,
                              id: Column, text: Column): DataFrame =
    Dedup.maintainStore(d, newDocs.select(id.as("doc_id"), text.as("text")), prevStore,
        Seq("doc_id", "content_fp", "term", "tf", "dl"), "incr_postings_docs", "n_docs") {
      (toCompute, _) => postingsStore(toCompute, col("doc_id"), col("text"))
    }

  /** Ranking-churn audit between two top-k runs of the same query
    * battery — the serving-stability SLO a pipeline checks after
    * nightly index maintenance (how much did live rankings move?).
    * Per query: membership churn (docs entering/leaving the top-k) and
    * ORDER churn over the common docs as exact Kendall pair counts —
    * concordant/discordant pairs plus the tau-a numerator/denominator
    * as exact integers (never a float division, and no floor-vs-trunc
    * hazard on the possibly-negative numerator). Ranks within a query
    * are assumed distinct (row_number output).
    *
    * Scale shape: both inputs are k-bounded per query, so the join is
    * Q·k-sized and the pair self-join Q·k²/2 — independent of corpus
    * size, like [[rrfFuse]].
    *
    * @param prev,cur (query_id, doc_id, rank) relations
    * @return (query_id, n_common, n_new, n_dropped, conc, disc,
    *         tau_num = conc−disc, tau_den = C(n_common, 2)); when
    *         n_common < 2 Kendall's τ is UNDEFINED (no orderable pair),
    *         so tau_num/tau_den are emitted as NULL — never the
    *         0/0 rational a consumer could divide blindly
    */
  def rankChurn(prev: DataFrame, cur: DataFrame): DataFrame = {
    val p = prev.select(col("query_id"), col("doc_id"),
      col("rank").cast("long").as("pr"))
    val c = cur.select(col("query_id"), col("doc_id"),
      col("rank").cast("long").as("cr"))
    val j = p.join(c, Seq("query_id", "doc_id"), "full_outer")
      .localCheckpoint(false) // counts + the pair self-join both consume it
    val common = j.filter(col("pr").isNotNull && col("cr").isNotNull)
      .select(col("query_id"), col("doc_id"), col("pr"), col("cr"))
    val pairs = common.as("a")
      .join(common.as("b"),
        col("a.query_id") === col("b.query_id") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.query_id").as("query_id"))
      .agg(
        sum(when((col("a.pr") < col("b.pr")) === (col("a.cr") < col("b.cr")), 1L)
          .otherwise(0L)).as("conc"),
        sum(when((col("a.pr") < col("b.pr")) =!= (col("a.cr") < col("b.cr")), 1L)
          .otherwise(0L)).as("disc"))
    j.groupBy(col("query_id"))
      .agg(
        sum((col("pr").isNotNull && col("cr").isNotNull).cast("long")).as("n_common"),
        sum(col("pr").isNull.cast("long")).as("n_new"),
        sum(col("cr").isNull.cast("long")).as("n_dropped"))
      .join(pairs, Seq("query_id"), "left")
      .select(col("query_id"), col("n_common"), col("n_new"), col("n_dropped"),
        coalesce(col("conc"), lit(0L)).as("conc"),
        coalesce(col("disc"), lit(0L)).as("disc"),
        when(col("n_common") >= 2,
          coalesce(col("conc"), lit(0L)) - coalesce(col("disc"), lit(0L)))
          .as("tau_num"),
        when(col("n_common") >= 2, expr("n_common * (n_common - 1) div 2"))
          .as("tau_den"))
  }

  /** Reciprocal-rank fusion of ranked-retrieval legs — the hybrid
    * sparse+dense serving step (Cormack/Clarke/Buettcher RRF, the
    * standard fusion in production RAG stacks): each leg contributes
    * `1/(kRrf + rank)` per (query, id), summed across legs. Computed in
    * exact integer ppm (`1_000_000 div (kRrf + rank)`) so the fused
    * ranking and its ties replay bit-for-bit on any engine — the
    * q105/q115 fixed-point discipline.
    *
    * Shape at 100 TB: the legs are already top-k-bounded per query
    * (BM25 window / ANN window), so fusion sees Q·k·legs rows — one
    * k-bounded aggregate and one k-bounded window, zero corpus cost.
    * Fusing on rank (not score) is what makes cross-modal combination
    * sane: BM25 fixed-point scores and cosine floats never meet.
    *
    * @param legs (query_id, id, rank) relations, rank 1-based; extra
    *             columns ignored
    * @return (query_id, id, rrf_ppm, n_legs, rank) — top-k per query by
    *         (rrf_ppm desc, id asc)
    */
  def rrfFuse(legs: Seq[DataFrame], k: Int, kRrf: Int = 60): DataFrame = {
    require(legs.nonEmpty, "rrfFuse needs at least one leg")
    val pooled = legs
      .map(_.select(col("query_id"), col("id"), col("rank").cast("long").as("rank")))
      .reduce(_ unionByName _)
    pooled
      .groupBy(col("query_id"), col("id"))
      .agg(sum(expr(s"1000000 div ($kRrf + rank)")).as("rrf_ppm"),
        count(lit(1)).as("n_legs"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("rrf_ppm").desc, col("id"))))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id"), col("rrf_ppm"), col("n_legs"), col("rank"))
  }

  /** Per-micro-batch postings UPSERT — the STREAMING form of
    * [[incrementalPostings]], for ingest-time index freshness: the
    * input is an upsert delta (the batch's latest revision per doc),
    * not a corpus snapshot, so ids absent from the batch are RETAINED
    * (nothing drops — deletes are a separate pipeline, q146's
    * discipline) and batch ids re-tokenize ONLY when their content
    * fingerprint differs from the store — IDEMPOTENT under the
    * at-least-once redelivery every streaming source exhibits (a
    * verbatim redelivered doc keeps its stored rows AND its original
    * provenance tag). Fresh rows carry `srcTag` (e.g. `b<batchId>`), so
    * the maintained index records which micro-batch last computed each
    * doc — the per-batch provenance q292 pins in-data.
    *
    * @param batch  (id, text) upserts, unique per id within the batch
    * @param srcTag provenance label for rows computed by THIS batch
    */
  def upsertPostings(batch: DataFrame, prevStore: DataFrame,
                     id: Column, text: Column, srcTag: String): DataFrame = {
    val b = batch.select(id.as("doc_id"), text.as("text"),
      TextFns.hash60(text).as("content_fp"))
    val prevFp = prevStore.select(col("doc_id"),
      col("content_fp").as("prev_fp")).distinct()
    val changed = b.join(prevFp, Seq("doc_id"), "left")
      .filter(col("prev_fp").isNull || col("prev_fp") =!= col("content_fp"))
      .select(col("doc_id"), col("text"))
      .localCheckpoint(false) // feeds the fresh build AND the retain anti-join
    val fresh = postingsStore(
        changed.observe("upsert_postings_docs", count(lit(1)).as("n_docs")),
        col("doc_id"), col("text"))
      .select(col("doc_id"), col("content_fp"), col("term"), col("tf"),
        col("dl"), lit(srcTag).as("src"))
    val retained = prevStore
      .join(changed.select(col("doc_id")), Seq("doc_id"), "left_anti")
    fresh.unionByName(retained)
  }

  /** Ranked-retrieval EVALUATION — the metrics every retrieval change
    * (BM25 params, maintained-index drift, fusion weights, an ANN
    * recall knob) is judged by, released per query in the exact
    * integer discipline of the rest of the module: no float ever
    * touches a released number, so an eval regression is a hash
    * mismatch, not a tolerance debate.
    *
    *  - `hits`        = |top-k ∩ relevant|
    *  - `first_rank`  = rank of the first relevant result (0 if none)
    *  - reciprocal rank as the EXACT rational `rr_num / rr_den` with
    *    `rr_den = lcm(1..k)` (constant per eval, int64 for k ≤ 42) and
    *    `rr_num = rr_den / first_rank` — so MRR aggregates exactly as
    *    `Σ rr_num / (|Q|·rr_den)` with no per-query rounding
    *  - `prec_ppm`    = 10⁶·hits div k          (P@k, fixed k denominator)
    *  - `recall_ppm`  = 10⁶·hits div n_rel, or −1 when the query has NO
    *    relevant docs (sentinel, not null: recall is undefined there and
    *    a null would silently vanish from downstream averages)
    *
    * Shape at 100 TB: the ranking side is top-k-bounded (Q·k rows) and
    * BROADCASTS into the qrels join; n_rel is one query-keyed aggregate
    * over the qrels relation. The corpus appears nowhere — evaluation
    * cost scales with the judgment set, never the index.
    *
    * @param ranking (query_id, doc_id, rank) — rank 1-based; rows with
    *                rank > k are ignored (evaluating a deeper ranking
    *                at a shallower k is the normal sweep)
    * @param qrels   (query_id, doc_id) binary relevance judgments;
    *                duplicates collapse
    * @return one row per query present in `ranking`:
    *         (query_id, n_rel, n_ret, hits, first_rank, rr_num, rr_den,
    *         prec_ppm, recall_ppm)
    */
  def rankedEval(ranking: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 42,
      s"rankedEval: k = $k outside 1..42 — lcm(1..k) must stay int64")
    @annotation.tailrec
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcmK = (1L to k).foldLeft(1L)((a, b) => a / gcd(a, b) * b)
    val rels = qrels.select(col("query_id"), col("doc_id")).distinct()
      .localCheckpoint(false) // the hit join + the n_rel fold both consume it
    val nRel = rels.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_rel"))
    val topk = ranking
      .select(col("query_id"), col("doc_id"), col("rank").cast("long").as("rank"))
      .filter(col("rank") <= k)
      .localCheckpoint(false) // the n_ret fold + the hit join both consume it
    // an OUTER join would have to preserve the ranking side — which a
    // broadcast build cannot (no buildLeft LeftOuter) — so the miss
    // case is handled by aggregating the INNER hit join (broadcast of
    // the Q·k-bounded ranking is then legal) and re-attaching it to
    // the per-query retrieved counts; qrels may be corpus-scale for
    // pooled judgments and is never broadcast
    val ret = topk.groupBy(col("query_id")).agg(count(lit(1)).as("n_ret"))
    val hitAgg = broadcast(topk).join(rels, Seq("query_id", "doc_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("hits"), min(col("rank")).as("first_rank"))
    ret.join(hitAgg, Seq("query_id"), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .withColumn("first_rank", coalesce(col("first_rank"), lit(0L)))
      .join(nRel, Seq("query_id"), "left")
      .withColumn("n_rel", coalesce(col("n_rel"), lit(0L)))
      .select(col("query_id"), col("n_rel"), col("n_ret"), col("hits"),
        col("first_rank"),
        when(col("first_rank") > 0, expr(s"$lcmK div first_rank"))
          .otherwise(lit(0L)).as("rr_num"),
        lit(lcmK).as("rr_den"),
        expr(s"(1000000 * hits) div $k").as("prec_ppm"),
        when(col("n_rel") > 0, expr("(1000000 * hits) div n_rel"))
          .otherwise(lit(-1L)).as("recall_ppm"))
  }
}
