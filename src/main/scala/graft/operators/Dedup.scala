package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/** Deduplication operators over a document corpus, designed
  * shuffle-shaped for 100 TB:
  *
  *  - exact dedup: one hash-shuffle on the content hash (map-side
  *    partial agg applies; the hash is 128-bit md5 so no false merges);
  *  - near-dup: inverted-index self-join on shingles — the classic
  *    all-pairs-similarity shape (one shuffle on the shingle, one on the
  *    pair), never a cartesian product;
  *  - MinHash + banded LSH: fixed-size signatures via 2×16 min-aggregates
  *    (single shuffle, no per-seed row explosion), band-bucket join for
  *    candidates, exact-Jaccard verification only within candidates.
  *
  * The crawl-incremental index family rests on two private cores:
  *  - [[maintainStore]]: one store step per crawl — diff, recompute
  *    only the added/changed ids, carry unchanged rows as `retained`,
  *    union. Every `incremental…` store (signatures, SimHash,
  *    containment index, and in sibling objects phash, IVF assignments,
  *    postings) is a binding of it;
  *  - [[bandedPairs]] / [[maintainedPairs]]: one banded-pair chain —
  *    full pairs, the touched-bucket fresh leg, the both-retained
  *    survivor leg, the cap-crossing detector and the checked
  *    re-expansion — parameterized by a [[Banding]] (MinHash bands with
  *    identity verify, or Manku bands with the stored-fingerprint
  *    hamming verify).
  */
object Dedup {

  /** Exact duplicate groups: canonical (min) doc id + group size per
    * distinct content hash. `dropDuplicates(hash)` semantics, but
    * returning the groups so callers can keep/purge.
    */
  def exactGroups(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.groupBy(md5(text).as("content_hash"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_copies"))

  /** (doc_id, sh: array<string>) with non-empty distinct shingle sets.
    * Repartitioned by doc_id BEFORE the shingle/hash compute: the input
    * may arrive in few large (or one small) parquet partitions, and the
    * downstream per-doc aggregates hash-partition on doc_id anyway — so
    * this shuffle moves the CPU-heavy expression work onto all cores for
    * free (the later groupBy/window reuses the partitioning).
    */
  private def shingled(docs: DataFrame, id: Column, text: Column, w: Int): DataFrame =
    docs.repartition(id)
      .select(id.as("doc_id"), graft.catalyst.WordShingles(text, w).as("sh"))
      .filter(size(col("sh")) > 0)

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs against
    * the full shingle arrays: J = |A∩B| / (|A|+|B|-|A∩B|). Candidate
    * count is small post-filtering, so the per-pair array intersect is
    * cheap and the join is on doc ids (broadcast-able when candidates
    * are few).
    */
  private def verifyJaccard(candidates: DataFrame, sets: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .withColumn("n_common", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jacc", col("n_common") / (size(col("sha")) + size(col("shb")) - col("n_common")))
      .filter(col("jacc") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jacc"))

  /** EXACT Jaccard near-dup pairs (same result set as a brute-force
    * all-pairs scan) via prefix filtering: under a global shingle order
    * (rarest first), two sets with J ≥ t must share a shingle within
    * each one's first `|S| - ⌈t·|S|⌉ + 1` shingles. Only those prefixes
    * are indexed, so the inverted-index self-join touches the rare end
    * of the vocabulary — candidate pairs shrink by orders of magnitude
    * versus indexing every shingle, and hot (high-df) shingles never
    * join. A length filter (min ≥ t·max) prunes the rest before the
    * exact verify.
    *
    * Shuffle shape at 100 TB: one shuffle to count df, one on the
    * (rare) prefix shingle, one on doc ids for the verify join — all
    * key-partitioned, no cartesian anywhere.
    */
  def nearDupPairs(docs: DataFrame, id: Column, text: Column,
                   threshold: Double, w: Int = 3,
                   maxBucket: Int = Int.MaxValue): DataFrame = {
    // The shingle table feeds four plan branches (df count, prefix
    // grouping, both verify sides); a lazy local checkpoint materializes
    // it once per action instead of re-tokenizing per branch. At
    // warehouse scale this is where a persisted shingle/postings table
    // would slot in.
    val sets = shingled(docs, id, text, w).localCheckpoint(false)
    // The candidate machinery never needs the shingle TEXT — postings
    // carry xxhash64(shingle) so the two posting-level shuffles (df
    // count, prefix buckets) move 8-byte longs instead of shingle
    // strings (~4× less shuffle volume at warehouse scale). Equal
    // shingles hash equal, so candidates are generated against the
    // hash-space shingle SETS (collect_set below keeps set, not
    // multiset, sizing if two of a doc's shingles ever collide); a
    // collision can only add a spurious candidate — filtered by the
    // string-level Jaccard verify — except in the astronomically
    // unlikely (~2^-64 per shingle pair) case of a collision inside two
    // docs' shingle intersection, which could nudge the hash-space
    // Jaccard below t and drop that pair from the candidate set.
    val post = sets.select(col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("sid"))
    val df = post.groupBy(col("sid")).agg(count(lit(1)).as("df"))

    // Per-doc prefix without a window: group the df-annotated postings
    // back per doc, sort in-array by (df, sid) — any consistent global
    // order works for prefix filtering — and slice the prefix. One
    // shuffle (by doc), no per-doc sort exchange, and the doc size is
    // just the collected array's length (no extra sizes join).
    val prefix = post
      .join(df, "sid")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(struct(col("df"), col("sid")))).as("ranked"))
      .select(col("doc_id"), size(col("ranked")).as("n"),
        slice(col("ranked"), lit(1),
          (size(col("ranked")) - ceil(lit(threshold) * size(col("ranked"))) + 1).cast("int")).as("pref"))
      .select(col("doc_id"), col("n"), explode(col("pref.sid")).as("sid"))

    // Bucket by prefix shingle-hash, expand pairs inside the bucket
    // array: a self-join here would recompute the whole prefix branch
    // twice (no common-subplan reuse across join sides); grouping runs
    // it once. Prefix postings are rare-by-construction, so buckets
    // stay small.
    val candidates = pairsFromBuckets(
      prefix.groupBy(col("sid"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ds")),
      maxBucket)
      .filter(least(col("na"), col("nb")) >= lit(threshold) * greatest(col("na"), col("nb")))
      .select(col("doc_a"), col("doc_b"))
      .distinct()

    verifyJaccard(candidates, sets, threshold)
  }

  // Per-call counter keeps observed-metric names unique: two bucket
  // operators composed into ONE plan would otherwise both register the
  // same CollectMetrics name and fail analysis. Listeners prefix-match
  // on "bucket_stats_".
  private val bucketMetricSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Expand a bucket's sorted member array into its (i<j) pairs with a
    * nested array transform — no self-join, no recomputation of the
    * bucket input. Buckets with one member vanish.
    *
    * `maxBucket` is the hot-bucket production cap: a bucket with more
    * than `maxBucket` members contributes NO pairs (a pathological
    * shingle/band key would otherwise expand quadratically and wedge one
    * reducer). Dropped work is not silent — the per-call-named
    * `bucket_stats_<n>` `observe` metrics (`n_buckets` /
    * `dropped_buckets` / `max_bucket`) surface the drop count to any
    * QueryExecutionListener, the engine's logging seam. Callers that
    * need EXACT results keep the default no-drop cap.
    */
  private[operators] def pairsFromBuckets(buckets: DataFrame,
                                          maxBucket: Int = Int.MaxValue): DataFrame =
    buckets
      .observe(s"bucket_stats_${bucketMetricSeq.incrementAndGet()}",
        count(lit(1)).as("n_buckets"),
        sum(when(size(col("ds")) > maxBucket, 1).otherwise(0)).as("dropped_buckets"),
        max(size(col("ds"))).as("max_bucket"))
      .filter(size(col("ds")) > 1 && size(col("ds")) <= maxBucket)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ds) - 2),
          |  i -> transform(slice(ds, i + 2, size(ds) - i - 1),
          |    b -> struct(element_at(ds, i + 1).doc_id AS doc_a,
          |                element_at(ds, i + 1).n AS na,
          |                b.doc_id AS doc_b, b.n AS nb))))""".stripMargin)).as("p"))
      .select(col("p.doc_a"), col("p.na"), col("p.doc_b"), col("p.nb"))

  /** MinHash signatures via the single-pass MinHashSignature expression:
    * a NARROW projection — no posting explode, no shuffle (the signature
    * is a per-doc scalar, not an aggregate). Output schema keeps one
    * sig_i column per permutation.
    */
  def minhashSignatures(docs: DataFrame, id: Column, text: Column,
                        numPerms: Int, w: Int = 3): DataFrame = {
    val sigs = shingled(docs, id, text, w)
      .select(col("doc_id"), graft.catalyst.MinHashSignature(col("sh"), numPerms).as("sig"))
    val cols = (0 until numPerms).map(i => element_at(col("sig"), i + 1).as(s"sig$i"))
    sigs.select(col("doc_id") +: cols: _*)
  }

  /** The explode + numPerms·min-aggregate formulation, kept for
    * cross-checking the expression in tests. */
  private[operators] def minhashSignaturesAgg(docs: DataFrame, id: Column, text: Column,
                                              numPerms: Int, w: Int = 3): DataFrame = {
    val post = shingled(docs, id, text, w)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), TextFns.hash60(col("shingle")).as("h"))
    val aggs = (0 until numPerms).map(i =>
      min(TextFns.minhashPerm(i, col("h"))).as(s"sig$i"))
    post.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Persisted MinHash signature STORE — the text-dedup analogue of
    * [[graft.operators.Multimodal.phashStore]]: one row per signable doc
    * (≥ w tokens) carrying the numPerms MinHash slots PLUS a 60-bit
    * content fingerprint of the raw text — ~8·(numPerms+2) bytes/row
    * against the multi-KB texts. The store is the `prev` side of
    * [[incrementalSignatures]]; persist it as parquet under
    * `Staging.ensureFresh` keyed on the corpus source so crawl N's
    * output is crawl N+1's input.
    */
  def signatureStore(docs: DataFrame, id: Column, text: Column,
                     numPerms: Int, w: Int = 3): DataFrame = {
    val sigCols = (0 until numPerms).map(i => col(s"sig$i"))
    minhashSignatures(docs, id, text, numPerms, w)
      .join(docs.select(id.as("doc_id"), TextFns.hash60(text).as("content_fp")), "doc_id")
      .select(col("doc_id") +: col("content_fp") +: sigCols :+
        lit("computed").as("src"): _*)
  }

  /** Incremental MinHash signature maintenance — at 100 TB nobody
    * re-shingles the corpus to refresh its dedup index. Given the
    * previous crawl's signature store ([[signatureStore]] schema) and
    * the NEW document snapshot, [[SnapshotDiff.diffStored]] classifies
    * every id by text-level [[TextFns.hash60]] — the old texts are
    * never re-read, only the ~24 B/row (id, fp) slice of the store —
    * and [[maintainStore]] sends ONLY `added`/`changed` texts through
    * the shingle + MinHash pass (observed as `incr_sig_texts`);
    * `unchanged` ids keep their stored slots, `removed` ids drop.
    * Returns the NEXT store: same schema, `src` marking `computed` vs
    * `retained` provenance — and the maintained store keeps feeding
    * [[lshCandidates]] / [[minhashNearDups]]' banding unchanged.
    */
  def incrementalSignatures(newDocs: DataFrame, prevStore: DataFrame,
                            id: Column, text: Column,
                            numPerms: Int, w: Int = 3): DataFrame =
    incrementalSignaturesFrom(
      SnapshotDiff.diffStored(
        prevStore.select(col("doc_id").as("id"), col("content_fp").as("fp")),
        newDocs, id, TextFns.hash60(text)),
      newDocs, prevStore, id, text, numPerms, w)

  /** [[incrementalSignatures]] over a PRECOMPUTED snapshot diff — the
    * shared-diff form q301's nightly composite uses: every text-keyed
    * store (signatures, simhash, postings) diffs the same corpus by
    * the same hash60 text fingerprint, so a nightly job computes the
    * diff ONCE and feeds all maintenance legs from it.
    *
    * @param d [[SnapshotDiff.diffStored]] output for this corpus —
    *          (id, status, old_fp, new_fp) keyed on hash60(text)
    */
  def incrementalSignaturesFrom(d: DataFrame, newDocs: DataFrame,
                                prevStore: DataFrame, id: Column, text: Column,
                                numPerms: Int, w: Int = 3): DataFrame =
    maintainStore(d, newDocs.select(id.as("doc_id"), text.as("text")), prevStore,
        Seq("doc_id", "content_fp") ++ (0 until numPerms).map(i => s"sig$i"),
        "incr_sig_texts", "n_texts") { (toCompute, _) =>
      minhashSignatures(toCompute, col("doc_id"), col("text"), numPerms, w)
    }

  /** The store-maintenance core behind every crawl-incremental store:
    * given a [[SnapshotDiff.diffStored]] diff `d`, ONLY the
    * `added`/`changed` ids go through `compute` (their count surfaced
    * as the `metric` observation, field `counter`, so a pipeline can
    * alert when compute volume stops tracking the crawl delta);
    * `unchanged` ids keep their stored rows verbatim, tagged
    * `retained`; `removed` ids drop. Returns the NEXT store — same
    * columns, fresh rows tagged `computedTag` — so maintenance costs
    * O(delta) compute per crawl, never O(corpus).
    *
    * @param payload   the new snapshot projected to the key plus what
    *                  `compute` reads
    * @param cols      the store's columns before `src`: key first,
    *                  content fingerprint second
    * @param compute   (rows to recompute, retained rows) ⇒ fresh store
    *                  rows; the first argument is `payload` joined with
    *                  each id's new fingerprint (under `cols(1)`), and
    *                  an output without that column gets it from the diff
    * @param shareRetained materialize the retained rows once, for a
    *                  `compute` that reads them as well
    */
  private[operators] def maintainStore(d: DataFrame, payload: DataFrame,
                                       prevStore: DataFrame, cols: Seq[String],
                                       metric: String, counter: String,
                                       computedTag: String = "computed",
                                       shareRetained: Boolean = false)(
      compute: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val (key, fp) = (cols.head, cols(1))
    val storeCols = cols.map(col)
    // The change set feeds the compute input and the fingerprint carry;
    // the lazy checkpoint keeps the diff join from re-running — it is
    // O(delta) rows of (id, fp), never payloads.
    val changes = d.filter(col("status").isin("added", "changed"))
      .select(col("id").as(key), col("new_fp").as(fp))
      .localCheckpoint(false)
    val kept = prevStore
      .join(d.filter(col("status") === "unchanged").select(col("id").as(key)), key)
      .select(storeCols :+ lit("retained").as("src"): _*)
    val retained = if (shareRetained) kept.localCheckpoint(false) else kept
    val out = compute(
      payload.join(changes, key).observe(metric, count(lit(1)).as(counter)), retained)
    (if (out.columns.contains(fp)) out else out.join(changes, key))
      .select(storeCols :+ lit(computedTag).as("src"): _*)
      .unionByName(retained)
  }

  /** Delta-scoped banded-LSH PAIR maintenance — the third leg of the
    * incremental dedup index next to [[incrementalSignatures]]: given
    * the MAINTAINED signature store (`src` provenance) and the PREVIOUS
    * crawl's candidate-pair set, produce crawl N+1's pair set without
    * re-expanding untouched buckets — [[maintainedPairs]] over MinHash
    * bands. Output carries an `origin` column (`survivor`/`new`) so
    * downstream Jaccard verification can also run delta-only. Under a
    * finite `maxBucket` see [[maintainedPairs]] for the cap-crossing
    * caveat; production chains (q262/q265/q287) use
    * [[incrementalLshPairsChecked]].
    */
  def incrementalLshPairs(store: DataFrame, prevPairs: DataFrame,
                          numPerms: Int, rowsPerBand: Int,
                          maxBucket: Int = 100000): DataFrame =
    maintainedPairs(store, prevPairs, minhashBanding(numPerms, rowsPerBand), maxBucket)

  /** The cap-crossing buckets of a MinHash maintenance step — see
    * [[bucketCrossings]] for the predicate.
    *
    * @return (band, key, prev_size, next_size) — the crossing buckets
    */
  def cappedBucketCrossings(prevStore: DataFrame, store: DataFrame,
                            numPerms: Int, rowsPerBand: Int,
                            maxBucket: Int): DataFrame =
    bucketCrossings(prevStore, store, bandCols(numPerms, rowsPerBand), maxBucket)

  /** One banded (band, key) struct per band over a signature store's
    * `sig0..sigN` slots — the MinHash family's bucketing projection. */
  private def bandCols(numPerms: Int, rowsPerBand: Int): Column = {
    val numBands = numPerms / rowsPerBand
    array((0 until numBands).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws("_", (0 until rowsPerBand)
          .map(r => col(s"sig${bnd * rowsPerBand + r}")): _*).as("key"))
    }: _*)
  }

  /** [[incrementalLshPairs]] with the cap-crossing caveat CLOSED
    * in-chain (the checked mode of [[maintainedPairs]]; invariant
    * there). Re-expanded pairs carry origin `new`: they were
    * cap-dropped from `prevPairs`, so downstream verification
    * ([[incrementalMinhashNearDups]]) verifies them fresh and
    * [[incrementalComponents]] contracts them — exactly the `new`
    * semantics.
    */
  def incrementalLshPairsChecked(prevStore: DataFrame, store: DataFrame,
                                 prevPairs: DataFrame, numPerms: Int,
                                 rowsPerBand: Int,
                                 maxBucket: Int = 100000): DataFrame =
    maintainedPairs(store, prevPairs, minhashBanding(numPerms, rowsPerBand),
      maxBucket, Some(prevStore))

  /** One banded index family of the pair core: `cols` are the store
    * columns its `bands` read, `pairCols` its pair schema, and `verify`
    * turns candidate (doc_a, doc_b) pairs into `pairCols` rows against
    * the banded slice — the identity for MinHash candidates, the
    * stored-fingerprint `bit_count(xor)` check for the Manku family. */
  private final case class Banding(cols: Seq[String], bands: Column,
                                    pairCols: Seq[String],
                                    verify: (DataFrame, DataFrame) => DataFrame)

  private def minhashBanding(numPerms: Int, rowsPerBand: Int): Banding =
    Banding((0 until numPerms).map(i => s"sig$i"), bandCols(numPerms, rowsPerBand),
      Seq("doc_a", "doc_b"), (cands, _) => cands)

  /** The slice every leg of the pair core reads: (doc_id, n, the
    * family's columns), `n` = 1 for a computed row and 0 otherwise,
    * materialized EAGERLY once — bucketing, verification, survivors,
    * the crossing detector and the re-expansion all consume it, and
    * consumer stages of one action must not race a lazy checkpoint
    * (q290's lesson). */
  private def bandSlice(store: DataFrame, b: Banding, computed: Column): DataFrame =
    store.select(col("doc_id") +: computed.cast("long").as("n") +: b.cols.map(col): _*)
      .localCheckpoint(true)

  /** Candidate (doc_a, doc_b) pairs sharing a (band, key) bucket of the
    * slice. `fresh`: buckets with NO computed member are discarded
    * BEFORE pair expansion (at a 1% crawl delta that kills ~99% of the
    * quadratic bucket work) and only pairs with ≥1 computed endpoint
    * are kept. `only`: expand just these (band, key) buckets. */
  private def bucketPairs(slice: DataFrame, bands: Column, maxBucket: Int,
                          fresh: Boolean = false,
                          only: Option[DataFrame] = None): DataFrame = {
    val exploded = slice.select(col("doc_id"), col("n"), explode(bands).as("b"))
      .select(col("doc_id"), col("b.band").as("band"), col("b.key").as("key"), col("n"))
    val grouped = only.fold(exploded)(exploded.join(_, Seq("band", "key")))
      .groupBy(col("band"), col("key"))
    val members = sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ds")
    val pairs =
      if (!fresh) pairsFromBuckets(grouped.agg(members), maxBucket)
      else pairsFromBuckets(
          grouped.agg(members, max(col("n")).as("touched"))
            .filter(col("touched") === 1L).drop("touched"),
          maxBucket)
        .filter(col("na") === 1L || col("nb") === 1L)
    pairs.select(col("doc_a"), col("doc_b")).distinct()
  }

  /** Rows of `pairs` whose endpoints are BOTH in `ids` (doc_id), in
    * `pairs`' column order (a USING join puts its key first). */
  private def bothIn(pairs: DataFrame, ids: DataFrame): DataFrame =
    pairs.join(ids.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(ids.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
      .select(pairs.columns.map(col): _*)

  /** The full banded pair set of a store: bucket, expand, verify. */
  private def bandedPairs(store: DataFrame, b: Banding, maxBucket: Int): DataFrame = {
    val slice = bandSlice(store, b, lit(0L))
    b.verify(bucketPairs(slice, b.bands, maxBucket), slice)
  }

  /** The banded-pair maintenance core: crawl N+1's pair set from the
    * MAINTAINED store (`src` provenance) and crawl N's pairs, without
    * re-expanding untouched buckets. Two disjoint legs, tagged
    * `origin`:
    *  - survivors: prev pairs whose BOTH endpoints are `retained` —
    *    their band inputs are unchanged, so they share exactly the
    *    buckets (and verify exactly as) last crawl; pairs with a removed
    *    or changed endpoint drop out by construction;
    *  - new: [[bucketPairs]]' fresh leg, verified.
    * The union equals [[bandedPairs]] over the store — a
    * retained–retained pair shares a bucket now iff it did last crawl
    * and was hence in `prevPairs`; every other pair has a computed
    * endpoint and its bucket survives the touched filter — as long as
    * no bucket CROSSES `maxBucket` between crawls (vacuous at the
    * no-drop cap).
    *
    * THE CAP-CROSSING INVARIANT. A bucket that exceeded the cap last
    * crawl (its pairs cap-dropped from `prevPairs`) and shrank to ≤ cap
    * holds retained–retained pairs that are in a full recompute but in
    * NEITHER leg — and that stays true even when the bucket also gained
    * a computed member (the fresh leg only emits pairs with a computed
    * endpoint; an earlier revision that flagged only `touched = 0`
    * crossings lost exactly those pairs). Given `prevStore`, the
    * CHECKED mode closes it in-chain: [[bucketCrossings]] flags those
    * buckets from the two stores, exactly those are re-expanded from
    * the maintained slice and verified, and pairs already present via
    * another bucket fall out in an anti-join (origin `new`). Then
    * maintained ⊇ full, with equality unless some bucket crossed UP
    * over the cap this crawl: an up-crossed bucket's surviving pairs
    * are KEPT while a full recompute cap-drops them — deliberately,
    * since their inputs are unchanged and they remain true pairs
    * (DedupSpec's up-crossing case pins both families). Crossings are
    * rare by construction, so the extra leg is empty in the steady
    * state and the detector's two banded counts are its only cost.
    */
  private def maintainedPairs(store: DataFrame, prevPairs: DataFrame, b: Banding,
                              maxBucket: Int,
                              prevStore: Option[DataFrame] = None): DataFrame = {
    val slice = bandSlice(store, b, col("src") === "computed")
    val base = bothIn(prevPairs.select(b.pairCols.map(col): _*), slice.filter(col("n") === 0L))
      .withColumn("origin", lit("survivor"))
      .unionByName(b.verify(bucketPairs(slice, b.bands, maxBucket, fresh = true), slice)
        .withColumn("origin", lit("new")))
    prevStore.fold(base) { prev =>
      val kept = base.localCheckpoint(true) // eager: the output union AND the anti-join
      val flagged = bucketCrossings(prev, slice, b.bands, maxBucket)
        .select(col("band"), col("key"))
      kept.unionByName(
        b.verify(bucketPairs(slice, b.bands, maxBucket, only = Some(flagged)), slice)
          .join(kept.select(col("doc_a"), col("doc_b")), Seq("doc_a", "doc_b"), "left_anti")
          .withColumn("origin", lit("new")))
    }
  }

  /** The crossing detector of [[maintainedPairs]]' cap-crossing
    * invariant: a (band, key) bucket whose previous-store size exceeded
    * `maxBucket` and whose current size is within it. Both crawls'
    * bucket sizes are RE-DERIVED from the two stores' band inputs
    * (nothing extra to persist; banding is a narrow projection + one
    * count per store). Empty → the incremental ≡ full invariant held
    * this crawl; non-empty → re-expand exactly these buckets (the
    * checked mode) or schedule a full rebuild.
    *
    * @return (band, key, prev_size, next_size)
    */
  private def bucketCrossings(prevStore: DataFrame, store: DataFrame,
                              bands: Column, maxBucket: Int): DataFrame = {
    def sized(st: DataFrame, n: String) = st
      .select(col("doc_id"), explode(bands).as("b"))
      .groupBy(col("b.band").as("band"), col("b.key").as("key"))
      .agg(count(lit(1)).as(n))
    sized(prevStore, "prev_size")
      .filter(col("prev_size") > maxBucket)
      .join(sized(store, "next_size"), Seq("band", "key"))
      .filter(col("next_size") <= maxBucket)
      .select(col("band"), col("key"), col("prev_size"), col("next_size"))
  }

  /** Incremental connected-component maintenance — the CLUSTER leg of
    * the crawl-incremental dedup index ([[incrementalSignatures]] →
    * [[incrementalLshPairs]] → here): maintain per-doc component labels
    * across a crawl without re-propagating over the whole graph.
    *
    * Additions only MERGE clusters, so prior components collapse to
    * their representative (label = min member id) and merging happens
    * on the contracted graph; only components that LOST a member
    * (removed, or changed — its old edges are gone) can split, and
    * exactly those are re-propagated from their surviving edges:
    *  - a prev component is DIRTY iff some member is no longer
    *    `retained` in the store; clean components keep their label
    *    unless the contracted propagation merges them;
    *  - survivor pairs inside clean components are self-loops by
    *    construction (both endpoints share the prev label) and are
    *    dropped WITHOUT entering propagation — only `new` pairs
    *    (endpoints contracted to their clean representative) and
    *    survivor pairs of dirty components feed
    *    [[connectedComponents]], so propagation runs on an
    *    O(delta + dirty) graph, never O(corpus edges);
    *  - labels stay canonical: a representative is its component's min
    *    id, so the min over a merged contracted cluster is the true min
    *    over all underlying members.
    * Output: (doc_id, component) for EVERY doc in the store (docs in no
    * pair label themselves) — exactly `connectedComponents(pairs)` over
    * the current pair set plus singleton coalesce, proven by the q265
    * oracle's from-scratch replay.
    *
    * @param prevLabels (doc_id, component) from crawl N (same
    *                   singleton-coalesced convention as this output)
    * @param store      maintained signature store (`src` provenance)
    * @param pairs      crawl N+1 pair set with `origin` — the
    *                   [[incrementalLshPairs]] output
    */
  def incrementalComponents(prevLabels: DataFrame, store: DataFrame,
                            pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    val retained = store.filter(col("src") === "retained").select(col("doc_id"))
    val current = store.select(col("doc_id"))
    val prevL = prevLabels.select(col("doc_id"), col("component"))
    val dirty = prevL.join(retained, Seq("doc_id"), "left_anti")
      .select(col("component")).distinct()
    val cleanMap = prevL
      .join(dirty, Seq("component"), "left_anti")
      .select(col("doc_id"), col("component"))
      .localCheckpoint(false) // feeds contraction, the survivor filter, and the final union
    val survivorsDirty = pairs.filter(col("origin") === "survivor")
      .join(cleanMap.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
      .select(col("doc_a"), col("doc_b"))
    val newContracted = pairs.filter(col("origin") === "new")
      .join(cleanMap.select(col("doc_id").as("doc_a"), col("component").as("ca")),
        Seq("doc_a"), "left")
      .join(cleanMap.select(col("doc_id").as("doc_b"), col("component").as("cb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("ca"), col("doc_a")).as("doc_a"),
        coalesce(col("cb"), col("doc_b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b"))
    val cc = connectedComponents(
      survivorsDirty.unionByName(newContracted), maxIter)
      .localCheckpoint(false) // joined twice below
    val cleanFinal = cleanMap.as("m")
      .join(cc.select(col("doc_id").as("component"), col("component").as("cc_label")),
        Seq("component"), "left")
      .select(col("m.doc_id"),
        coalesce(col("cc_label"), col("component")).as("component"))
    val othersFinal = current
      .join(cleanMap.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("component"))
    cleanFinal.unionByName(othersFinal)
  }

  /** Banded-LSH candidate pairs from MinHash signatures: bands of
    * `rowsPerBand` signature slots; docs sharing any band key are
    * candidates. Bucket-grouped on (band, key) and pair-expanded in the
    * array ([[bandedPairs]]) — never all-pairs, and the signature plan
    * runs once.
    */
  def lshCandidates(signatures: DataFrame, numPerms: Int, rowsPerBand: Int,
                    maxBucket: Int = 100000): DataFrame =
    bandedPairs(signatures, minhashBanding(numPerms, rowsPerBand), maxBucket)

  /** Full MinHash-LSH near-dup: candidates from banded LSH, then exact
    * Jaccard verification restricted to candidates only (the
    * false-positive filter; false negatives are the price of LSH and
    * deterministic for a fixed hash family).
    */
  def minhashNearDups(docs: DataFrame, id: Column, text: Column,
                      threshold: Double, numPerms: Int = 16, rowsPerBand: Int = 4,
                      w: Int = 3, maxBucket: Int = 100000): DataFrame = {
    val sets = shingled(docs, id, text, w)
    val sigs = minhashSignatures(docs, id, text, numPerms, w)
    val candidates = lshCandidates(sigs, numPerms, rowsPerBand, maxBucket)
    verifyJaccard(candidates, sets, threshold)
  }

  /** Incremental VERIFIED near-dup maintenance — the last leg of the
    * crawl-incremental text-dedup chain ([[incrementalSignatures]] →
    * [[incrementalLshPairs]] → here → [[incrementalComponents]]):
    * maintain the exact-Jaccard-verified pair set without re-shingling
    * the corpus. Survivor candidates (both endpoints `retained`) have
    * UNCHANGED texts on both sides, so their Jaccard is unchanged — the
    * previous verified rows carry over verbatim, and a survivor that
    * FAILED verification last crawl still fails; only `new` candidates
    * (≥1 computed endpoint) are verified, and only the docs those pairs
    * actually touch are re-shingled (`incr_verify_docs` observe metric
    * — O(pair delta), never O(corpus)). Output schema matches
    * [[minhashNearDups]]; the q287 oracle pins maintained ≡ full.
    *
    * @param incPairs     [[incrementalLshPairs]] output (with `origin`)
    * @param prevVerified previous crawl's verified pairs
    *                     ((doc_a, doc_b, jacc) — [[minhashNearDups]]
    *                     schema)
    */
  def incrementalMinhashNearDups(docs: DataFrame, id: Column, text: Column,
                                 incPairs: DataFrame, prevVerified: DataFrame,
                                 threshold: Double, w: Int = 3): DataFrame = {
    val newPairs = incPairs.filter(col("origin") === "new")
      .select(col("doc_a"), col("doc_b"))
      .localCheckpoint(false) // feeds touched-doc set AND the verify join
    val touched = newPairs.select(col("doc_a").as("doc_id"))
      .unionByName(newPairs.select(col("doc_b").as("doc_id")))
      .distinct()
    val d = docs.select(id.as("doc_id"), text.as("text")).join(touched, "doc_id")
    val sets = shingled(
      d.observe("incr_verify_docs", count(lit(1)).as("n_docs")),
      col("doc_id"), col("text"), w)
    val survivors = prevVerified.select(col("doc_a"), col("doc_b"), col("jacc"))
      .join(incPairs.filter(col("origin") === "survivor")
        .select(col("doc_a"), col("doc_b")), Seq("doc_a", "doc_b"), "left_semi")
    survivors.unionByName(verifyJaccard(newPairs, sets, threshold))
  }

  /** Connected components over a near-dup pair list — the step that
    * turns pairwise matches into DEDUP CLUSTERS (keep `min(doc_id)` per
    * component, purge the rest). Iterative min-label propagation: every
    * node starts as its own label; each round a node takes the minimum
    * of its own and its neighbors' labels; converged when a round
    * changes nothing. Rounds needed = graph diameter (near-dup clusters
    * are shallow); each round is one shuffle on the edge key plus a
    * lineage truncation per the [[Truncation]] policy (fast local
    * checkpoints by default, durable [[Truncation.Reliable]] roots for
    * long iterations on preemptible hardware), and the per-round
    * convergence count is a deliberate driver action (a control-flow
    * decision, not data movement).
    *
    * Output: (doc_id, component) for every node that appears in a pair;
    * `component` = the minimum doc id reachable from it.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          truncation: Truncation = Truncation.Local): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    // lazy checkpoint BEFORE the symmetric union: both union branches
    // share one materialization of the (possibly expensive) pair plan
    // instead of recomputing it per branch
    val p = pairs.select(col("doc_a"), col("doc_b")).localCheckpoint(false)
    // round 0 = the base tables every round joins against (Reliable
    // checkpoints them durably — they must outlive any executor)
    val edges = truncation.truncate(
      p.select(col("doc_a").as("u"), col("doc_b").as("v"))
        .unionByName(p.select(col("doc_b").as("u"), col("doc_a").as("v")))
        .distinct(),
      0)
    var labels = truncation.truncate(
      edges.select(col("u").as("node")).distinct()
        .withColumn("label", col("node")),
      0)
    var iter = 0
    var converged = false
    // maxIter + 1 rounds: a diameter-d component needs ≤ d label-changing
    // rounds plus ONE no-change round to observe convergence, so diameter
    // == maxIter must still be accepted (off-by-one otherwise)
    while (iter < maxIter + 1 && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("node", "v").withColumnRenamed("label", "vlabel"), "v")
        .groupBy(col("u").as("node"))
        .agg(min(col("vlabel")).as("nmin"))
      // the per-row change flag rides INSIDE the round's one materialized
      // frame, so observing convergence is a scan of the checkpointed
      // blocks — not (as before) a second labels join + shuffle per round
      val next = truncation.truncate(
        labels.join(neighborMin, Seq("node"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("nmin"), col("label"))).as("label"),
            (col("nmin") < col("label")).as("__changed")),
        iter + 1)
      converged = next.filter(col("__changed")).isEmpty
      labels = next.drop("__changed")
      iter += 1
    }
    // Un-converged labels are WRONG labels (one component under several
    // ids) and a downstream purge would keep duplicates — fail loudly,
    // matching this module's dropped-work-is-not-silent standard.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter label-propagation " +
          "rounds (a component's diameter exceeds maxIter); raise maxIter")
    truncation.finish(labels)
      .select(col("node").as("doc_id"), col("label").as("component"))
  }

  /** Connected components by ALTERNATING STAR CONTRACTION (the
    * large-star/small-star algorithm of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC 2014 — public
    * algorithm): round count grows with log²(n) (log n in practice),
    * not with graph DIAMETER like [[connectedComponents]]' min-label
    * propagation, so a 200-hop chain converges in ~10 rounds instead
    * of 200. Use this variant when clusters can be long and thin
    * (chained near-dups, transitive similarity paths);
    * [[connectedComponents]] stays the cheaper per-round choice for
    * the shallow star-shaped clusters typical of duplicate groups.
    *
    * Edges are kept CANONICALLY DOWNWARD (child > parent). Per round:
    *  - large-star: every node x links each LARGER neighbor to
    *    m(x) = min(x ∪ neighbors(x)) — one groupBy(node) min + join;
    *  - small-star: every node links its parents (and itself) to its
    *    minimum parent — one groupBy(child) min + join.
    * Both are key-partitioned shuffles with map-side partial mins;
    * nothing is ever all-pairs. The fixpoint is a star forest rooted
    * at each component's minimum id; stability is observed with a
    * count + anti-join probe per round (driver control flow, same
    * budget as the label-propagation variant), and an un-converged
    * result throws rather than returning wrong labels. Same contract
    * as [[connectedComponents]]: (doc_id, component) for every node
    * appearing in `pairs` (self-paired singletons label themselves),
    * lineage truncated per round through the [[Truncation]] seam.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIter: Int = 30,
                              truncation: Truncation = Truncation.Local): DataFrame = {
    require(maxIter >= 1, s"maxIter must be >= 1, got $maxIter")
    val p = pairs.select(col("doc_a"), col("doc_b")).localCheckpoint(false)
    val nodes = truncation.truncate(
      p.select(col("doc_a").as("node")).unionByName(p.select(col("doc_b").as("node"))).distinct(),
      0)
    // self-pairs drop out of the edge set; their nodes re-enter as
    // singletons through the `nodes` left join below
    var edges = truncation.truncate(
      p.select(greatest(col("doc_a"), col("doc_b")).as("u"),
          least(col("doc_a"), col("doc_b")).as("v"))
        .filter(col("u") =!= col("v")).distinct(),
      0)
    var edgeCount = edges.count()
    var iter = 0
    var converged = edgeCount == 0L
    while (iter < maxIter && !converged) {
      // large-star: child = each neighbor LARGER than x, parent = m(x)
      val sym = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u")).agg(min(col("v")).as("nmin"))
        .select(col("u"), least(col("u"), col("nmin")).as("m"))
      val large = sym.filter(col("v") > col("u")).join(m, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v")).distinct()
      // small-star: parents of each child all link to its minimum parent
      val pm = large.groupBy(col("u")).agg(min(col("v")).as("m"))
      val small = large.join(pm, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .unionByName(pm.select(col("u"), col("m").as("v")))
        .distinct()
      val next = truncation.truncate(small, iter + 1)
      val nextCount = next.count()
      converged = nextCount == edgeCount &&
        next.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edges = next
      edgeCount = nextCount
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge within $maxIter alternating " +
          "star-contraction rounds; raise maxIter (rounds needed ≈ log²|V| worst case)")
    val labels = edges.select(col("u").as("doc_id"), col("v").as("component"))
      .unionByName(edges.select(col("v").as("doc_id"), col("v").as("component")))
      .distinct()
    truncation.finish(
      nodes.join(labels, col("node") === col("doc_id"), "left")
        .select(col("node").as("doc_id"),
          coalesce(col("component"), col("node")).as("component")))
  }

  /** End-to-end near-dup purge: keep one canonical document per
    * connected component (the minimum id), pass through documents with
    * no near-dup at all — the dedup pipeline's final materialization
    * (`docs → pairs → clusters → keep`). A left-anti join against the
    * non-canonical member set, so the corpus streams through one
    * hash join keyed on the (small) purge list.
    */
  def purgeNearDups(docs: DataFrame, id: Column, pairs: DataFrame,
                    maxIter: Int = 20,
                    truncation: Truncation = Truncation.Local): DataFrame = {
    val purge = connectedComponents(pairs, maxIter, truncation)
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("__purge_id"))
    docs.join(purge, id === col("__purge_id"), "left_anti")
  }

  /** Quality-aware cluster purge: like [[purgeNearDups]] but each
    * near-dup cluster keeps its HIGHEST-`score` member (ties broken by
    * greatest id — a total, deterministic order) instead of the min-id
    * canonical — what a curation pipeline actually keeps when it has a
    * quality signal. One extra shuffle over [[purgeNearDups]]: the
    * per-component arg-max aggregate (component-keyed, map-side
    * combining); cluster membership itself is the same
    * [[connectedComponents]] plan. Docs in no cluster survive untouched.
    */
  def purgeNearDupsBy(docs: DataFrame, id: Column, score: Column, pairs: DataFrame,
                      maxIter: Int = 20,
                      truncation: Truncation = Truncation.Local): DataFrame =
    purgeNearDupsByMembers(docs, id, score, connectedComponents(pairs, maxIter, truncation))

  /** [[purgeNearDupsBy]] over PRECOMPUTED cluster membership (a
    * `(doc_id, component)` frame from [[connectedComponents]]) — the
    * form a pipeline uses when it materializes membership once and
    * consumes it for both the purge and reporting, instead of paying
    * the iterative propagation twice. */
  def purgeNearDupsByMembers(docs: DataFrame, id: Column, score: Column,
                             members: DataFrame): DataFrame = {
    val scored = docs.select(id.as("__m_id"), score.as("__m_score"))
      .join(members, col("__m_id") === col("doc_id"))
    val keepers = scored.groupBy(col("component"))
      .agg(max(struct(col("__m_score"), col("__m_id"))).as("best"))
      .select(col("component"), col("best.__m_id").as("__keep_id"))
    val purge = members
      .join(keepers, "component")
      .filter(col("doc_id") =!= col("__keep_id"))
      .select(col("doc_id").as("__purge_id"))
    docs.join(purge, id === col("__purge_id"), "left_anti")
  }

  /** Train/test DECONTAMINATION — the cross-corpus membership check a
    * training pipeline runs before every eval: which training documents
    * share at least `minShared` distinct w-shingles with ANY test/eval
    * document. A bipartite inverted-index join (never a cartesian):
    * both sides explode to hashed-shingle postings, the equi-join on
    * the 8-byte shingle key meets exactly the co-occurring pairs, and a
    * count per (train, test) pair thresholds the evidence. The test
    * side is typically tiny (an eval set) — Catalyst broadcasts it and
    * the training corpus streams through map-side.
    *
    * `maxDf` caps ubiquitous stop-shingles on the TRAIN side (a
    * shingle in half the corpus adds quadratic pair rows and no
    * evidence); dropped shingles are observable via the
    * `contamination_df_<n>` observe metrics. Exact by default.
    *
    * Output: (train_id, test_id, n_shared) for every contaminated pair.
    */
  def contaminationPairs(train: DataFrame, trainId: Column, trainText: Column,
                         test: DataFrame, testId: Column, testText: Column,
                         w: Int = 3, minShared: Int = 1,
                         maxDf: Int = Int.MaxValue): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    // sids deduped WITHIN the doc's array before the explode (narrow, no
    // extra shuffle): per-doc shingles are already distinct, but two
    // distinct shingles could collide under xxhash64 — without this, a
    // within-doc collision would emit two rows for one (pair, sid) match
    // and double-count n_shared at the minShared boundary
    def postings(docs: DataFrame, id: Column, text: Column, as: String) =
      shingled(docs, id, text, w)
        .select(col("doc_id").as(as),
          explode(array_distinct(transform(col("sh"), s => xxhash64(s)))).as("sid"))
    // under a finite maxDf the train postings feed TWO branches (the
    // df-count and the filtering join) — materialize once, like
    // nearDupPairs' shingle table, instead of re-shingling the corpus
    // per branch
    val trRaw = postings(train, trainId, trainText, "train_id")
    val tr = if (maxDf == Int.MaxValue) trRaw else trRaw.localCheckpoint(false)
    val te = postings(test, testId, testText, "test_id")
    val trKept =
      if (maxDf == Int.MaxValue) tr
      else {
        val dfc = tr.groupBy(col("sid")).agg(count(lit(1)).as("df"))
          .observe(s"contamination_df_${bucketMetricSeq.incrementAndGet()}",
            count(lit(1)).as("n_shingles"),
            sum(when(col("df") > maxDf, 1).otherwise(0)).as("dropped_shingles"))
        tr.join(dfc.filter(col("df") <= maxDf).select(col("sid")), "sid")
      }
    // per-doc sid sets are distinct (array_distinct above), so each
    // (train, test, sid) match is one row and the per-pair count IS the
    // shared-set size
    trKept.join(te, "sid")
      .groupBy(col("train_id"), col("test_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Persisted SIMHASH fingerprint store — [[signatureStore]]'s
    * discipline for the hamming family: one row per doc carrying its
    * b-bit SimHash and the text content fingerprint (the diff key of
    * [[incrementalSimhash]]).
    *
    * @return (doc_id, content_fp, simhash, src='computed')
    */
  def simhashStore(docs: DataFrame, id: Column, text: Column,
                   bits: Int = 32): DataFrame =
    simhash(docs, id, text, bits)
      .join(docs.select(id.as("doc_id"), TextFns.hash60(text).as("content_fp")),
        "doc_id")
      .select(col("doc_id"), col("content_fp"), col("simhash"),
        lit("computed").as("src"))

  /** Incremental SimHash store maintenance — the HAMMING-family leg of
    * the crawl-incremental index chain ([[maintainStore]]):
    * [[SnapshotDiff.diffStored]] classifies docs by text fingerprint,
    * only added/changed docs re-hash (`incr_simhash_docs` observe),
    * unchanged keep their stored fingerprint, removed drop.
    *
    * @return next store, same schema, `src` ∈ computed|retained
    */
  def incrementalSimhash(newDocs: DataFrame, prevStore: DataFrame,
                         id: Column, text: Column, bits: Int = 32): DataFrame =
    incrementalSimhashFrom(
      SnapshotDiff.diffStored(
        prevStore.select(col("doc_id").as("id"), col("content_fp").as("fp")).distinct(),
        newDocs, id, TextFns.hash60(text)),
      newDocs, prevStore, id, text, bits)

  /** [[incrementalSimhash]] over a PRECOMPUTED snapshot diff
    * ([[incrementalSignaturesFrom]]'s shared-diff contract). */
  def incrementalSimhashFrom(d: DataFrame, newDocs: DataFrame,
                             prevStore: DataFrame, id: Column, text: Column,
                             bits: Int = 32): DataFrame =
    maintainStore(d, newDocs.select(id.as("doc_id"), text.as("text")), prevStore,
        Seq("doc_id", "content_fp", "simhash"), "incr_simhash_docs", "n_docs") {
      (toCompute, _) => simhash(toCompute, col("doc_id"), col("text"), bits)
    }

  /** Delta-scoped HAMMING near-dup maintenance over any maintained
    * fingerprint store — [[maintainedPairs]] over Manku pigeonhole
    * bands ([[hammingNearDups]]), serving text SimHash and image/audio
    * perceptual hashes alike. Unlike the shingle families, VERIFICATION
    * IS FREE here: the fingerprints live in the store, so fresh
    * candidates verify with one `bit_count(xor)` per pair — no
    * re-hashing, no payload reads — and survivor pairs carry their
    * hamming verbatim. With the family's default NO-DROP cap
    * maintained ≡ full `hammingNearDups(store)` unconditionally;
    * deployments that cap hot fingerprints call
    * [[incrementalHammingNearDupsChecked]] (invariant on
    * [[maintainedPairs]]).
    *
    * @param fpStore   (doc_id, fp, src) — the maintained store's
    *                  fingerprint slice
    * @param prevPairs previous crawl's verified (doc_a, doc_b, hamming)
    */
  def incrementalHammingNearDups(fpStore: DataFrame, prevPairs: DataFrame,
                                 maxHamming: Int, bits: Int,
                                 maxBucket: Int = Int.MaxValue,
                                 spareBlocks: Int = 1): DataFrame =
    maintainedPairs(fpStore, prevPairs, hammingBanding(maxHamming, bits, spareBlocks),
      maxBucket).drop("origin")

  /** The cap-crossing buckets of a hamming maintenance step over Manku
    * bands — see [[bucketCrossings]] for the predicate.
    *
    * @return (band, key, prev_size, next_size) — the crossing buckets
    */
  def hammingCappedBucketCrossings(prevStore: DataFrame, fpStore: DataFrame,
                                   maxHamming: Int, bits: Int, maxBucket: Int,
                                   spareBlocks: Int = 1): DataFrame =
    bucketCrossings(prevStore, fpStore,
      hammingBanding(maxHamming, bits, spareBlocks).bands, maxBucket)

  /** [[incrementalHammingNearDups]] with the finite-`maxBucket`
    * cap-crossing caveat CLOSED in-chain (the checked mode of
    * [[maintainedPairs]]; invariant there): flagged buckets are
    * re-expanded from the maintained store and verified with the same
    * stored-fingerprint `bit_count(xor)` — still no re-hashing.
    */
  def incrementalHammingNearDupsChecked(prevStore: DataFrame, fpStore: DataFrame,
                                        prevPairs: DataFrame, maxHamming: Int,
                                        bits: Int, maxBucket: Int,
                                        spareBlocks: Int = 1): DataFrame =
    maintainedPairs(fpStore, prevPairs, hammingBanding(maxHamming, bits, spareBlocks),
      maxBucket, Some(prevStore)).drop("origin")

  /** The Manku family for the pair core: multi-index bands over a long
    * `fp` column, verified by `bit_count(xor) ≤ maxHamming` against the
    * slice's stored fingerprints. */
  private def hammingBanding(maxHamming: Int, bits: Int, spareBlocks: Int): Banding = {
    require(spareBlocks >= 1, s"spareBlocks must be >= 1, got $spareBlocks")
    require(maxHamming >= 0 && maxHamming + spareBlocks <= bits,
      s"need 0 <= maxHamming and maxHamming+spareBlocks blocks <= $bits bits, " +
        s"got $maxHamming + $spareBlocks")
    require(bits <= 64, s"fingerprints are long-typed: bits must be <= 64, got $bits")
    Banding(Seq("fp"), hammingBands(maxHamming, bits, spareBlocks),
      Seq("doc_a", "doc_b", "hamming"),
      (cands, fp) => cands
        .join(fp.select(col("doc_id").as("doc_a"), col("fp").as("sa")), "doc_a")
        .join(fp.select(col("doc_id").as("doc_b"), col("fp").as("sb")), "doc_b")
        .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
        .filter(col("hamming") <= maxHamming)
        .select(col("doc_a"), col("doc_b"), col("hamming")))
  }

  /** The Manku multi-index band array over a long `fp` column. */
  private def hammingBands(maxHamming: Int, bits: Int,
                           spareBlocks: Int): Column = {
    val numBlocks = maxHamming + spareBlocks
    val blockRange = (0 until numBlocks)
      .map(i => (i * bits / numBlocks, (i + 1) * bits / numBlocks))
    val combos = (0 until numBlocks).combinations(spareBlocks).toSeq
    array(combos.zipWithIndex.map { case (combo, ci) =>
      // pack the combination's block values into one long key: total
      // width = s·bits/b ≤ bits ≤ 64 by construction
      var shift = 0
      val key = combo.map { bi =>
        val (lo, hi) = blockRange(bi)
        // width can be the full 64 (maxHamming=0, bits=64): (1L<<64)-1
        // is 0 under JVM shift-mod-64 semantics — build the mask
        // shift-safe
        val mask = -1L >>> (64 - (hi - lo))
        val v = shiftleft(shiftright(col("fp"), lo).bitwiseAND(lit(mask)), shift)
        shift += hi - lo
        v
      }.reduce(_ bitwiseOR _)
      struct(lit(ci).as("band"), key.as("key"))
    }: _*)
  }

  /** SimHash near-duplicate pairs with EXACT recall for
    * `hamming ≤ maxHamming`, via the multi-index pigeonhole scheme
    * (Manku/Jain/Sarma, WWW'07 — public algorithm): split the b-bit
    * fingerprint into `maxHamming + 1` bands; a pair differing in at
    * most `maxHamming` bits must agree EXACTLY on at least one band
    * (pigeonhole), so band-bucket equi-joins produce a complete
    * candidate set — deterministically, unlike probabilistic LSH — and
    * `bit_count(xor) ≤ maxHamming` verifies. Shuffles on (band, key)
    * and the pair ids; never all-pairs.
    *
    * The default `maxBucket` is the no-drop cap, so the EXACT-recall
    * guarantee holds out of the box; a warehouse deployment that sets a
    * finite cap (against pathological hot fingerprints) trades that
    * guarantee for bounded reducers and sees every drop in the
    * `bucket_stats_<n>` observe metrics.
    */
  def simhashNearDups(docs: DataFrame, id: Column, text: Column,
                      maxHamming: Int = 3, bits: Int = 32,
                      maxBucket: Int = Int.MaxValue,
                      spareBlocks: Int = 1): DataFrame =
    hammingNearDups(
      simhash(docs, id, text, bits).select(col("doc_id"), col("simhash").as("fp")),
      maxHamming, bits, maxBucket, spareBlocks)

  /** The pigeonhole core of [[simhashNearDups]] over ANY fingerprint
    * table (doc_id, fp) — the same complete hamming-≤k pair search
    * serves text SimHash and image/audio perceptual hashes (any b-bit
    * fingerprint whose hamming distance means similarity). `bits` is
    * the fingerprint width (≤ 64, two's-complement safe: band
    * extraction masks after an arithmetic shift).
    *
    * `spareBlocks` (s) is the SCALE knob (Manku et al., WWW'07 §3): the
    * fingerprint splits into `maxHamming + s` blocks and candidates key
    * on every s-block COMBINATION — ≤ maxHamming differing bits corrupt
    * ≤ maxHamming blocks, so some s blocks survive intact and their
    * combination still collides (complete, like s=1). s=1 is the
    * classic (h+1)-band pigeonhole: key width bits/(h+1), fine while
    * 2^(bits/(h+1)) ≫ N but QUADRATIC past it (at h=8, 64-bit keys are
    * 7 bits → 128 buckets per band: measured 17–28× across the sf1
    * decade on the phash corpora). Each +1 of s multiplies the key
    * space by 2^(bits/b) and the explode factor by ~b/s — C(h+s, s)
    * bands of s·bits/(h+s)-wide keys; s=2 at h=8 is 45 bands of
    * ~13-bit keys (8k values), restoring linear pair growth at 10⁵+
    * fingerprints for a 5× explode. Pick s ≈ the smallest value with
    * key space ≥ corpus size. Answers never change — candidates are
    * exact-verified either way (spec-pinned s-equivalence). */
  def hammingNearDups(fpTable: DataFrame, maxHamming: Int, bits: Int,
                      maxBucket: Int = Int.MaxValue, spareBlocks: Int = 1): DataFrame =
    bandedPairs(fpTable, hammingBanding(maxHamming, bits, spareBlocks), maxBucket)

  /** Bloom-prefiltered incremental exact dedup — "which of today's crawl
    * is genuinely new?" at the scale where the history side can never be
    * shuffled: a bloom sketch of the history's content hashes (built in
    * ONE distributed pass, `DataFrameStatFunctions.bloomFilter`'s
    * mergeable tree-aggregate) prunes the new batch to its tiny
    * maybe-duplicate fraction BEFORE any join. Bloom filters have no
    * false negatives, so a NOT-might-contain row is provably new and
    * skips verification entirely; the (fpp-bounded) positives are
    * verified exactly with two broadcast probes:
    *
    *  1. semi-join HISTORY against the broadcast candidate hashes — a
    *     narrow scan of history, no history shuffle — extracting the few
    *     hash keys that really exist;
    *  2. anti-join the candidates against that (broadcast) hit set.
    *
    * Result is EXACTLY the plain `newDocs ANTI JOIN history` on content
    * hash — the sketch changes the cost, never the answer. Shuffle
    * ledger at 100 TB: two narrow history scans (sketch build + probe),
    * zero history shuffles; the new batch is scanned once (materialized
    * after tagging) and only its candidate fraction joins.
    *
    * Contract: the candidate set (≈ fpp·|new| + true duplicates) must be
    * broadcast-sized — pick `fpp` accordingly (1% of a batch, not 1% of
    * history). `expectedItems` sizes the sketch for the HISTORY
    * cardinality.
    */
  def bloomNewDocs(newDocs: DataFrame, history: DataFrame, text: Column,
                   expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val reserved = newDocs.columns.filter(_.startsWith("__bf_"))
    require(reserved.isEmpty,
      s"new-docs frame already has reserved __bf_* working columns (${reserved.mkString(", ")}) — rename them first")
    val sketch = history.select(xxhash64(text).as("__bf_h"))
      .stat.bloomFilter(col("__bf_h"), expectedItems, fpp)
    // tagged feeds both branches (definitely-new + candidates) —
    // materialize once so the new batch is scanned once
    val tagged = newDocs
      .withColumn("__bf_maybe",
        graft.catalyst.BloomMightContain.contains(xxhash64(text), sketch))
      .localCheckpoint(false)
    val definitelyNew = tagged.filter(!col("__bf_maybe"))
    val candidates = tagged.filter(col("__bf_maybe"))
    val candKeys = candidates.select(md5(text).as("__bf_key")).distinct()
    val hitKeys = history.select(md5(text).as("__bf_key"))
      .join(broadcast(candKeys), Seq("__bf_key"), "left_semi")
      .distinct()
    val verifiedNew = candidates
      .join(broadcast(hitKeys), md5(text) === col("__bf_key"), "left_anti")
    definitelyNew.unionByName(verifiedNew).drop("__bf_maybe")
  }

  /** Cross-document EXACT substring duplication — the span-level member
    * of the dedup taxonomy (doc-level exact/Jaccard/MinHash/SimHash
    * catch whole-document copies; THIS catches a 200-token quote pasted
    * into an otherwise-unique page, the signal suffix-array dedup
    * exists for). Token-granular and exact for spans ≥ `n` tokens: a
    * shared span of L tokens yields L−n+1 positional n-gram matches on
    * one (doc_a, doc_b, pos_a−pos_b) DIAGONAL, so maximal shared spans
    * are exactly the maximal consecutive runs on a diagonal —
    * recovered with gaps-and-islands (`pos_a − row_number` per
    * diagonal), never a suffix array and never an all-pairs product.
    *
    * Shuffle ledger at 100 TB: one narrow positional-gram explode, one
    * group-by on the gram hash (stop-grams above `maxDf` dropped BY
    * RULE — the cap is part of the semantics, identically applied by
    * the oracle, not a silent truncation), pair expansion inside
    * buckets (bounded by the cap), one window over (pair, diagonal) —
    * all key-partitioned.
    *
    * Grams are matched by their 60-bit hash; a collision could merge
    * two diagonals, but the probability at corpus scale is ~|grams|²/2⁶⁰
    * and the ORACLE hashes identically, so verification is unaffected.
    *
    * @return one row per document pair sharing a span of ≥ `minTokens`
    *         tokens: `doc_a, doc_b, max_span` (longest shared span in
    *         tokens), `n_spans` (how many distinct qualifying spans)
    */
  def sharedSpans(docs: DataFrame, id: Column, text: Column,
                  n: Int = 5, minTokens: Int = 10, maxDf: Int = 1000): DataFrame =
    spanIslands(docs, id, text, n, minTokens, maxDf)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("span_tokens")).as("max_span"), count(lit(1)).as("n_spans"))

  /** The qualifying maximal spans behind [[sharedSpans]] and
    * [[removeSharedSpans]], one row per (doc_a, doc_b, diagonal,
    * island): `start_a` (first n-gram position of the run in doc_a),
    * `diag` (pos_a − pos_b), `span_tokens` (run length in TOKENS,
    * ≥ minTokens). doc_a < doc_b always (pair expansion is ordered).
    */
  private def spanIslands(docs: DataFrame, id: Column, text: Column,
                          n: Int, minTokens: Int, maxDf: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minTokens >= n, s"minTokens must be >= n=$n, got $minTokens")
    import org.apache.spark.sql.expressions.Window
    // tokens → attribute BEFORE the gram lambda (HOF subexpression rule)
    val grams = docs.repartition(id)
      .select(id.as("doc_id"), TextFns.tokens(text).as("t"))
      .select(col("doc_id"), posexplode(TextFns.ngramsOf(col("t"), n)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), TextFns.hash60(col("gram")).as("h"))
    val buckets = grams.groupBy(col("h"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("pos").cast("long").as("n")))).as("ds"))
      .filter(size(col("ds")) <= maxDf) // deterministic stop-gram rule
    val matches = pairsFromBuckets(buckets)
      .filter(col("doc_a") =!= col("doc_b")) // in-doc repetition is Repetition's domain
      .select(col("doc_a"), col("doc_b"), col("na").as("pos_a"), col("nb").as("pos_b"))
      .distinct()
      .withColumn("diag", col("pos_a") - col("pos_b"))
    val w = Window.partitionBy(col("doc_a"), col("doc_b"), col("diag")).orderBy(col("pos_a"))
    matches
      .withColumn("island", col("pos_a") - row_number().over(w))
      .groupBy(col("doc_a"), col("doc_b"), col("diag"), col("island"))
      .agg(min(col("pos_a")).as("start_a"), (count(lit(1)) + (n - 1)).as("span_tokens"))
      .filter(col("span_tokens") >= minTokens)
  }

  /** [[sharedSpans]]' curation ACTION: excise every qualifying shared
    * span from the doc on the LOSING side of each pair — the higher id
    * (the lower id is the canonical keeper and survives untouched, the
    * same keep-earliest rule the doc-level dedups use). A doc that
    * shares spans with several earlier docs loses the UNION of those
    * spans; tokens outside every losing span survive in order and
    * reassemble with single spaces (order-preserving removal, like
    * Boilerplate's line filter). The rule is one-shot and
    * order-independent — losing intervals are decided against the
    * ORIGINAL corpus, never against already-excised text — so the
    * result is deterministic regardless of partitioning or evaluation
    * order.
    *
    * Scale shape: [[spanIslands]]' key-partitioned ledger plus ONE
    * doc-keyed equi-join of the per-doc interval lists back onto the
    * corpus; the excision itself is a per-row higher-order filter
    * (O(tokens × intervals)), no extra shuffle, no explode of the
    * surviving corpus.
    *
    * @return `doc_id, text` for EVERY input doc (untouched docs pass
    *         through with their original text)
    */
  def removeSharedSpans(docs: DataFrame, id: Column, text: Column,
                        n: Int = 5, minTokens: Int = 10, maxDf: Int = 1000): DataFrame = {
    val islands = spanIslands(docs, id, text, n, minTokens, maxDf)
    // loser-side interval: pos_b = pos_a - diag, token span
    // [start_b, start_b + span_tokens - 1]
    val ivs = islands
      .select(col("doc_b").as("doc_id"),
        (col("start_a") - col("diag")).as("s"),
        (col("start_a") - col("diag") + col("span_tokens") - 1).as("e"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("s"), col("e"))).as("__sp_ivs"))
    docs.select(id.as("doc_id"), TextFns.tokens(text).as("__sp_t"))
      .join(ivs, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__sp_ivs").isNull, array_join(col("__sp_t"), " "))
          .otherwise(array_join(
            transform(
              filter(
                // index the tokens: HOF filter has no index argument
                transform(sequence(lit(0), size(col("__sp_t")) - 1),
                  i => struct(i.as("pos"), get(col("__sp_t"), i).as("tok"))),
                st => !exists(col("__sp_ivs"), iv =>
                  st.getField("pos") >= iv.getField("s") &&
                    st.getField("pos") <= iv.getField("e"))),
              st => st.getField("tok")),
            " ")).as("text"))
  }

  /** All DISTINCT-string pairs at edit distance exactly 1 — fuzzy
    * vocabulary matching (typo clustering, spell-variant folding,
    * entity-alias detection) via the symmetric-delete scheme (the
    * SymSpell idea): every string s emits itself plus its |s|
    * single-character deletions as candidate keys; two strings within
    * one edit MUST share a key (substitution x→y: deleting the edited
    * position from both yields the same string; insertion/deletion:
    * the shorter string IS a deletion variant of the longer), so an
    * equi-join on the key finds every true pair and `levenshtein`
    * verification inside candidates removes the false ones (shared-key
    * pairs can be distance 2, e.g. "ab"/"ba").
    *
    * Scale shape: one narrow variant explode (|s|+1 rows per string),
    * one group-by on the variant key with the shared bucket-cap/observe
    * machinery (`pairsFromBuckets`), one distinct on the pair — never
    * an all-pairs product over the vocabulary. `maxBucket` bounds a
    * pathological key (e.g. the empty-string variant shared by every
    * single-character string) exactly like the shingle caps.
    */
  def editDistOnePairs(strings: DataFrame, str: Column,
                       maxBucket: Int = Int.MaxValue): DataFrame = {
    val vocab = strings.select(str.cast("string").as("s")).distinct()
    // sequence(0, -1) DESCENDS in Spark, so the empty string needs its
    // own branch (it has no deletions — only itself as a key)
    val dels = when(length(col("s")) === 0, array(col("s")))
      .otherwise(array_distinct(concat(
        array(col("s")),
        expr("""transform(sequence(0, length(s) - 1),
               |  i -> concat(substring(s, 1, i), substring(s, i + 2, length(s))))""".stripMargin))))
    val variants = vocab.select(col("s"), explode(dels).as("v"))
    val buckets = variants
      .groupBy(col("v"))
      .agg(sort_array(collect_list(struct(col("s").as("doc_id"), lit(0L).as("n")))).as("ds"))
    pairsFromBuckets(buckets, maxBucket)
      .select(col("doc_a").as("tok_a"), col("doc_b").as("tok_b"))
      .distinct()
      .withColumn("dist", levenshtein(col("tok_a"), col("tok_b")).cast("long"))
      .filter(col("dist") === 1)
  }

  /** 32-bit SimHash over distinct tokens with the shared 60-bit hash's
    * low 32 bits: bit b of the fingerprint is set iff more than half the
    * tokens have bit b set. Computed as 32 conditional-sum aggregates —
    * one hash-agg pass, no bit explosion.
    */
  def simhash(docs: DataFrame, id: Column, text: Column, bits: Int = 32): DataFrame = {
    val toks = docs.repartition(id)
      .select(id.as("doc_id"), explode(TextFns.distinctTokens(text)).as("tok"))
      .withColumn("h", TextFns.hash60(col("tok")))
    val bitSums = (0 until bits).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(1)).as(s"b$b"))
    val counted = toks.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), bitSums: _*)
    val fp = (0 until bits).map(b =>
      when(col(s"b$b") * 2 > col("n_toks"), lit(1L << b)).otherwise(lit(0L)))
      .reduce(_ + _)
    counted.select(col("doc_id"), fp.as("simhash"))
  }

  /** Asymmetric CONTAINMENT pairs — subset/clone detection, the
    * relation symmetric Jaccard structurally misses: a short document
    * embedded verbatim in a much longer one has
    * C(A→B) = |sh(A)∩sh(B)| / |sh(A)| ≈ 1 while J(A,B) ≈ |A|/|B| ≈ 0,
    * so quote-farms, boilerplate-wrapped mirrors, and excerpt spam
    * survive every Jaccard dedup pass. Emits the pair when EITHER
    * direction's containment reaches `threshold`, both directions
    * reported in exact ppm (floor division — engine-replayable).
    *
    * Scale shape (the [[nearDupPairs]] machinery, re-derived for the
    * DIRECTED filter): candidates from the PROBE side's prefix — if
    * C(A→B) ≥ t then one of A's (n−⌈t·n⌉+1) rarest shingles must hit
    * B, so each doc probes the full posting index with only its
    * prefix; every doc is a probe, so both directions are covered.
    * Verification joins the candidate pairs back to the STRING shingle
    * sets (exact, collision-free) — candidate volume, never all pairs.
    */
  def containmentPairs(docs: DataFrame, id: Column, text: Column,
                       threshold: Double, w: Int = 3): DataFrame = {
    val tPpm = thresholdPpm(threshold)
    val sets = shingled(docs, id, text, w).localCheckpoint(false)
    val post = sets.select(col("doc_id"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), xxhash64(col("shingle")).as("sid"))
    val dfc = post.groupBy(col("sid")).agg(count(lit(1)).as("df"))
    val prefix = post
      .join(dfc, "sid")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(struct(col("df"), col("sid")))).as("ranked"))
      .select(col("doc_id").as("probe_id"),
        slice(col("ranked"), lit(1),
          prefixLen(size(col("ranked")).cast("long"), tPpm).cast("int")).as("pref"))
      .select(col("probe_id"), explode(col("pref.sid")).as("sid"))
    val cands = prefix
      .join(post.select(col("doc_id").as("cand_id"), col("sid")), "sid")
      .filter(col("probe_id") =!= col("cand_id"))
      .select(least(col("probe_id"), col("cand_id")).as("doc_a"),
        greatest(col("probe_id"), col("cand_id")).as("doc_b"))
      .distinct()
    verifyContainment(cands, sets, tPpm)
  }

  /** `threshold` as floored ppm, the integer unit of every containment
    * filter. */
  private def thresholdPpm(threshold: Double): Long = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    math.floor(threshold * 1e6).toLong
  }

  /** Directed-prefix length max(1, n − cmin + 1) of an n-shingle doc.
    * The emit filter is the exact cross-multiply c·10⁶ ≥ tPpm·n
    * (⟺ floored ppm ≥ tPpm), so the smallest passing intersection is
    * cmin = ⌈tPpm·n / 10⁶⌉ — computed here in the SAME integer
    * arithmetic (a double ceil(threshold·n) can exceed it by 1 on
    * binary-unrepresentable thresholds, shortening the prefix and
    * silently breaking candidate completeness at the boundary). */
  private def prefixLen(n: Column, tPpm: Long): Column =
    greatest(lit(1L),
      n - call_function("div", lit(tPpm) * n + lit(999999L), lit(1000000L)) + 1L)

  /** Exact directed containment of candidate (doc_a, doc_b) pairs
    * against the STRING shingle sets (doc_id, sh): both ratios in
    * floored ppm, kept when either reaches `tPpm`. */
  private def verifyContainment(cands: DataFrame, sets: DataFrame, tPpm: Long): DataFrame =
    cands
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sha"), col("shb"))).cast("long").as("c"),
        size(col("sha")).cast("long").as("na"),
        size(col("shb")).cast("long").as("nb"))
      .select(col("doc_a"), col("doc_b"),
        call_function("div", col("c") * lit(1000000L), col("na")).as("cont_ab_ppm"),
        call_function("div", col("c") * lit(1000000L), col("nb")).as("cont_ba_ppm"))
      .filter(greatest(col("cont_ab_ppm"), col("cont_ba_ppm")) >= tPpm)

  /** Shingle-containment INDEX store — the crawl-persistent state that
    * makes [[containmentPairs]] maintainable at O(delta)
    * ([[incrementalContainmentPairs]]): per doc, its distinct shingle
    * ids with a `pref` flag marking the directed-prefix slots (the
    * [[prefixLen]] df-rarest shingles) plus the text content
    * fingerprint. Completeness of the prefix filter is ORDER-
    * INDEPENDENT (pigeonhole: any fixed n−cmin+1-subset of A's shingles
    * must hit B when |A∩B| ≥ cmin), so a stored prefix stays complete
    * even after corpus-wide df drifts — df ranking only tunes candidate
    * volume, which is why the store never needs re-flagging.
    *
    * @return (doc_id, content_fp, sid, pref, src='computed')
    */
  def containmentIndex(docs: DataFrame, id: Column, text: Column,
                       threshold: Double, w: Int = 3): DataFrame = {
    val tPpm = thresholdPpm(threshold)
    val post = containmentPostings(docs, id, text, w)
    flagPrefixes(post, tPpm,
      dfc = post.groupBy(col("sid")).agg(count(lit(1)).as("df")))
  }

  /** (doc_id, content_fp, sid) — one row per distinct shingle id of a
    * doc, materialized for the df aggregate AND the flagging join. */
  private def containmentPostings(docs: DataFrame, id: Column, text: Column,
                                  w: Int): DataFrame =
    docs.repartition(id)
      .select(id.as("doc_id"), TextFns.hash60(text).as("content_fp"),
        graft.catalyst.WordShingles(text, w).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("doc_id"), col("content_fp"), explode(col("sh")).as("shingle"))
      .select(col("doc_id"), col("content_fp"), xxhash64(col("shingle")).as("sid"))
      .localCheckpoint(false)

  /** Rank each doc's sids by (df, sid) ascending and flag the first
    * [[prefixLen]] as the directed probe prefix. */
  private def flagPrefixes(post: DataFrame, tPpm: Long, dfc: DataFrame): DataFrame =
    post.join(dfc, "sid")
      .groupBy(col("doc_id"), col("content_fp"))
      .agg(sort_array(collect_set(struct(col("df"), col("sid")))).as("ranked"))
      .select(col("doc_id"), col("content_fp"), col("ranked"),
        prefixLen(size(col("ranked")).cast("long"), tPpm).as("plen"))
      .select(col("doc_id"), col("content_fp"), col("plen"),
        posexplode(col("ranked")))
      .select(col("doc_id"), col("content_fp"), col("col.sid").as("sid"),
        (col("pos") < col("plen")).as("pref"), lit("computed").as("src"))

  /** Incremental maintenance of the [[containmentIndex]] store — the
    * ASYMMETRIC leg of the crawl-incremental dedup chain
    * (q259 signatures → q262 candidates → q287 verified pairs → here),
    * a [[maintainStore]] binding: only added/changed docs are
    * re-shingled (`incr_containment_docs` observe), unchanged docs keep
    * their (sid, pref) rows VERBATIM — their stale-df prefixes remain
    * complete by the order-independence argument on
    * [[containmentIndex]] — and removed/changed docs' old rows drop.
    * Fresh docs are flagged under the CURRENT store-derived df (one
    * count aggregate over the maintained store, q282's
    * everything-derives-from-the-store discipline).
    *
    * @return next store, same schema, `src` ∈ computed|retained
    */
  def incrementalContainmentIndex(newDocs: DataFrame, prevStore: DataFrame,
                                  id: Column, text: Column,
                                  threshold: Double, w: Int = 3): DataFrame = {
    val tPpm = thresholdPpm(threshold)
    maintainStore(
        SnapshotDiff.diffStored(
          prevStore.select(col("doc_id").as("id"), col("content_fp").as("fp")).distinct(),
          newDocs, id, TextFns.hash60(text)),
        newDocs.select(id.as("doc_id"), text.as("text")), prevStore,
        Seq("doc_id", "content_fp", "sid", "pref"), "incr_containment_docs", "n_docs",
        shareRetained = true) { (toCompute, retained) =>
      val post = containmentPostings(toCompute, col("doc_id"), col("text"), w)
      flagPrefixes(post, tPpm, retained.select(col("sid"))
        .unionByName(post.select(col("sid")))
        .groupBy(col("sid")).agg(count(lit(1)).as("df")))
    }
  }

  /** Incremental CONTAINMENT pair maintenance — [[containmentPairs]]
    * under q287's survivor discipline, closing the asymmetric leg of
    * the crawl-incremental chain: survivor pairs (both endpoints
    * `retained`) carry BOTH ppm ratios verbatim (texts unchanged on
    * both sides ⇒ c/na/nb unchanged — including previously-failed
    * survivors staying failed), and candidates are probed
    * delta-directionally:
    *  - computed prefixes probe the WHOLE posting store (catches
    *    C(computed→any) ≥ t; with a small crawl delta AQE broadcasts
    *    the prefix side, so the store is streamed, never reshuffled);
    *  - retained prefixes probe ONLY computed docs' postings (catches
    *    C(retained→computed) ≥ t — the direction computed-only probing
    *    provably misses: the short retained doc contained in a long
    *    computed one passes on the RETAINED side's cmin, which says
    *    nothing about the computed side's prefix).
    * Every candidate has ≥1 computed endpoint, so the legs are disjoint
    * from the survivor set by construction. Verification re-shingles
    * ONLY pair-touched docs (`incr_containment_verify_docs` observe —
    * O(pair delta), never O(corpus)). Output schema matches
    * [[containmentPairs]]; maintained ≡ full is the q290 pin.
    *
    * @param store     maintained [[containmentIndex]] (`src` provenance)
    * @param prevPairs previous crawl's [[containmentPairs]] output
    */
  def incrementalContainmentPairs(newDocs: DataFrame, id: Column, text: Column,
                                  store: DataFrame, prevPairs: DataFrame,
                                  threshold: Double, w: Int = 3): DataFrame = {
    val tPpm = thresholdPpm(threshold)
    val survivors = bothIn(
      prevPairs.select(col("doc_a"), col("doc_b"), col("cont_ab_ppm"), col("cont_ba_ppm")),
      store.filter(col("src") === "retained").select(col("doc_id")).distinct())
    val post = store.select(col("doc_id"), col("sid"),
      (col("src") === "computed").as("comp"))
    val compPref = store.filter(col("src") === "computed" && col("pref"))
      .select(col("doc_id").as("probe_id"), col("sid"))
    val retPref = store.filter(col("src") === "retained" && col("pref"))
      .select(col("doc_id").as("probe_id"), col("sid"))
    val cands = compPref
      .join(post.select(col("doc_id").as("cand_id"), col("sid")), "sid")
      .unionByName(retPref.join(
        post.filter(col("comp")).select(col("doc_id").as("cand_id"), col("sid")),
        "sid"))
      .filter(col("probe_id") =!= col("cand_id"))
      .select(least(col("probe_id"), col("cand_id")).as("doc_a"),
        greatest(col("probe_id"), col("cand_id")).as("doc_b"))
      .distinct()
      .localCheckpoint(false) // touched-doc set AND the verify joins
    val touched = cands.select(col("doc_a").as("doc_id"))
      .unionByName(cands.select(col("doc_b").as("doc_id")))
      .distinct()
    val sets = shingled(
      newDocs.select(id.as("doc_id"), text.as("text")).join(touched, "doc_id")
        .observe("incr_containment_verify_docs", count(lit(1)).as("n_docs")),
      col("doc_id"), col("text"), w)
      .localCheckpoint(false) // consumed twice: the doc_a AND doc_b joins
    verifyContainment(cands, sets, tPpm).unionByName(survivors)
  }
}
