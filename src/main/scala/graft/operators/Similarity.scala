package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** Similarity search over an embedding column (`array<float|double>`).
  *
  * Scale shapes:
  *  - brute force: broadcast the (small) query set against the corpus —
  *    no shuffle on the corpus side at all, embarrassingly parallel,
  *    then a per-query top-k window (k rows per query survive the
  *    partial sort). The right baseline up to ~10^4 queries.
  *  - IVF: partition the corpus by nearest centroid once (one narrow
  *    pass + broadcast of centroids), search only the probe's bucket —
  *    the classic inverted-file ANN layout; corpus bucketing would be a
  *    materialized table at 100 TB, recomputed here for self-containment.
  *  - all-pairs threshold search: two candidate generators with the same
  *    verify stage — [[cosineNearDupPairs]] (EXACT: blocked equi-join,
  *    for thresholds inside the corpus's similarity continuum where no
  *    sublinear filter can be complete) and [[signLshNearDupPairs]]
  *    (sign-LSH buckets, for true near-dup regimes where duplicates are
  *    well-separated from the background and candidates ≪ all pairs).
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query vector. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cvec"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", VectorFns.cosine(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("sim"))
  }

  /** Greedy Maximal-Marginal-Relevance selection over a BOUNDED
    * candidate set — the diversified-retrieval step after ANN: pick k
    * items maximizing `λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s)` one at a
    * time. Inherently sequential in k, so production systems run it on
    * the ANN candidate list (C ≈ 100s), never the corpus — which is why
    * this takes PRE-BOUNDED integer fixed-point similarities and runs
    * locally: the distributed work is candidate generation + pair
    * scoring upstream (q210 does both in-plan); this is the k-step tail
    * on |C| rows. λ is scaled by 10 (lam10=7 ⇒ λ=0.7) so the score is
    * exact integer arithmetic: `7·simfp − 3·maxpairfp`, ties to the
    * smaller id — deterministic on any engine.
    *
    * @param cands (candidateId, simFp-to-query), pairFp ((a,b) →
    *              pairwise simFp, symmetric entries present)
    * @return (step 1..k, pickedId, scoreFp)
    */
  def mmrGreedy(cands: Seq[(Long, Long)], pairFp: Map[(Long, Long), Long],
                k: Int, lam10: Long): Seq[(Int, Long, Long)] = {
    require(lam10 >= 0 && lam10 <= 10, s"lam10 in [0,10], got $lam10")
    val picked = collection.mutable.ArrayBuffer.empty[(Int, Long, Long)]
    val sel = collection.mutable.ArrayBuffer.empty[Long]
    val remaining = collection.mutable.LinkedHashMap(cands: _*)
    var step = 1
    while (step <= k && remaining.nonEmpty) {
      val scored = remaining.iterator.map { case (id, simfp) =>
        val div = if (sel.isEmpty) 0L
          else sel.iterator.map(s => pairFp.getOrElse((id, s), 0L)).max
        (id, lam10 * simfp - (10 - lam10) * div)
      }.toSeq
      val (bestId, bestScore) = scored.minBy { case (id, sc) => (-sc, id) }
      picked += ((step, bestId, bestScore))
      sel += bestId
      remaining.remove(bestId)
      step += 1
    }
    picked.toSeq
  }

  /** Contrastive hard-negative mining: for each anchor in `anchors`,
    * the top-`k` highest-cosine corpus vectors with a DIFFERENT label —
    * the negatives that actually move a contrastive/embedding loss
    * (random negatives are trivially separable; the hard ones live at
    * the decision boundary). Both frames need (vec_id, embedding,
    * label).
    *
    * Scale shape = [[bruteTopK]]'s: the anchor set is a training batch
    * (small by construction) and BROADCASTS against the corpus scan —
    * no corpus shuffle, the per-anchor top-k window sees only candidate
    * rows. At corpus sizes where even one scan per batch is too slow,
    * route candidates through [[ivfTopK]]'s buckets first and re-rank —
    * mining tolerates approximate candidates (a missed hard negative is
    * just a slightly easier batch, unlike dedup recall).
    *
    * Output: (query_id, query_label, rnk, neighbor_id, neighbor_label,
    * sim), neighbor_label ≠ query_label by construction.
    */
  def hardNegatives(corpus: DataFrame, anchors: DataFrame, k: Int): DataFrame = {
    val c = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("cvec"), col("label").as("neighbor_label"))
    val q = anchors.select(col("vec_id").as("query_id"),
      col("embedding").as("qvec"), col("label").as("query_label"))
    val scored = c.join(broadcast(q), col("neighbor_label") =!= col("query_label"))
      .withColumn("sim", VectorFns.cosine(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("query_label"), col("rnk"),
        col("neighbor_id"), col("neighbor_label"), col("sim"))
  }

  /** Margin-based parallel-pair mining (the ratio-margin criterion of
    * Artetxe & Schwenk, "Margin-based Parallel Corpus Mining with
    * Multilingual Sentence Embeddings", ACL 2019 — public method): a
    * candidate (x, y) across two collections scores
    * `cos(x,y) / ((avgₖNN(x→Y) + avgₖNN(y→X)) / 2)` — raw cosine is a
    * poor alignment signal because "hubs" are near everything; dividing
    * by each side's average k-NN similarity cancels the hubness — and a
    * pair is mined when it is the MUTUAL margin-best of both sides.
    *
    * Engine-exact determinism: cosines land in ×10⁶ fixed point first
    * (`round`, the q24/q37 replay idiom), the k-NN averages stay exact
    * integer SUMS, and the margin is the single integer division
    * `simfp·2k·10⁶ div (sumX + sumY)` — so ranking keys and output
    * values replay bit-for-bit in SQL. Non-positive similarities and
    * denominators never enter the ranking (they are not mineable pairs
    * and would mix floor/trunc division semantics across engines).
    *
    * Scale shape: `ys` broadcasts against a single `xs` scan (the
    * mining batch × target-shard pattern), then everything downstream
    * is keyed shuffles over (x, y, simfp) rows. Work is |X|·|Y| scoring
    * by construction — at corpus×corpus scale route BOTH sides through
    * [[ivfTopK]]'s buckets first and margin-score candidates only;
    * mining tolerates approximate candidate recall the way
    * [[hardNegatives]] does.
    *
    * @return (x_id, y_id, simfp, margin_micro) — mutual-best pairs with
    *         margin ≥ `minMarginMicro`, one row per mined pair
    */
  def marginMutualPairs(xs: DataFrame, ys: DataFrame, k: Int,
                        minMarginMicro: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val x = xs.select(col("vec_id").as("x_id"), col("embedding").as("xv"))
    val y = ys.select(col("vec_id").as("y_id"), col("embedding").as("yv"))
    val scored = x.join(broadcast(y), lit(true))
      .withColumn("simfp",
        round(VectorFns.cosine(col("xv"), col("yv")) * lit(1000000d), 0).cast("long"))
      .select(col("x_id"), col("y_id"), col("simfp"))
      .localCheckpoint(false) // feeds three branches: two k-NN sums + the margin join
    val wx = Window.partitionBy(col("x_id")).orderBy(col("simfp").desc, col("y_id"))
    val wy = Window.partitionBy(col("y_id")).orderBy(col("simfp").desc, col("x_id"))
    val sumX = scored.withColumn("r", row_number().over(wx))
      .filter(col("r") <= k).groupBy(col("x_id")).agg(sum(col("simfp")).as("sx"))
    val sumY = scored.withColumn("r", row_number().over(wy))
      .filter(col("r") <= k).groupBy(col("y_id")).agg(sum(col("simfp")).as("sy"))
    val margins = scored
      .join(sumX, "x_id").join(sumY, "y_id")
      .filter(col("simfp") > 0 && (col("sx") + col("sy")) > 0)
      .withColumn("margin_micro",
        call_function("div", col("simfp") * lit(2L * k * 1000000L), col("sx") + col("sy")))
    val bx = Window.partitionBy(col("x_id")).orderBy(col("margin_micro").desc, col("y_id"))
    val by = Window.partitionBy(col("y_id")).orderBy(col("margin_micro").desc, col("x_id"))
    margins
      .withColumn("bx", row_number().over(bx))
      .withColumn("by", row_number().over(by))
      .filter(col("bx") === 1 && col("by") === 1 && col("margin_micro") >= minMarginMicro)
      .select(col("x_id"), col("y_id"), col("simfp"), col("margin_micro"))
  }

  /** EXACT embedding-cosine near-duplicate pairs — all unordered pairs
    * with cosine ≥ threshold — via a BLOCKED pairwise equi-join, not a
    * nested-loop cartesian.
    *
    * Exactness at an arbitrary threshold needs every pair compared when
    * the threshold sits inside the corpus's similarity continuum (no
    * bucketing filter can be complete there — see
    * [[signLshNearDupPairs]] for the separated-duplicate regime). What
    * CAN scale is the shape of the O(n²) compare: vectors hash into
    * `numBlocks` id-blocks; side A replicates each vector to the block
    * pairs (b, j≥b), side B to (i≤b, b); an equi-join on the packed
    * block-pair key meets exactly the rows of each unordered block pair
    * once. The join is a hash/sort-merge SHUFFLE join on the key — work
    * spreads over `numBlocks·(numBlocks+1)/2` reducers, no broadcast of
    * the corpus, no BroadcastNestedLoopJoin node, no driver involvement.
    * Size `numBlocks` ≈ a few × cluster cores so one block pair
    * ((n/numBlocks)² compares) fits a task.
    *
    * Each unordered pair appears exactly once: a cross-block pair meets
    * only at key (min-block, max-block) with roles fixed by block order;
    * a same-block pair meets at (b, b) where `ida < idb` keeps one
    * orientation.
    *
    * SCALE HAZARD, MEASURED: the compare count is Θ(n²) BY OPERATOR
    * CONTRACT (exactness at an in-continuum threshold — no bucketing
    * filter can be complete there), so every run publishes an
    * `exact_cosine_pairs_<n>` observe metric with the executed compare
    * count and the surviving pair count. A 100 TB caller watching that
    * metric climb quadratically has its pointer to the scale paths:
    * [[signLshNearDupPairs]] (separated-duplicate regimes) or
    * [[semanticDedup]] (cluster-bounded). Keep this operator out of
    * corpus-scale pipelines.
    */
  def cosineNearDupPairs(corpus: DataFrame, threshold: Double, numBlocks: Int = 16): DataFrame = {
    require(numBlocks >= 1, s"numBlocks must be >= 1, got $numBlocks")
    val nb = numBlocks.toLong
    val base = corpus.select(col("vec_id"), col("embedding"),
      pmod(xxhash64(col("vec_id")), lit(nb)).as("__blk"))
    val a = base.select(col("vec_id").as("ida"), col("embedding").as("ea"), col("__blk").as("ba"),
        explode(sequence(col("__blk"), lit(nb - 1))).as("__hi"))
      .withColumn("__bkey", col("ba") * nb + col("__hi"))
      .drop("__hi")
    val b = base.select(col("vec_id").as("idb"), col("embedding").as("eb"), col("__blk").as("bb"),
        explode(sequence(lit(0L), col("__blk"))).as("__lo"))
      .withColumn("__bkey", col("__lo") * nb + col("bb"))
      .drop("__lo")
    a.join(b, "__bkey")
      .filter(col("ba") =!= col("bb") || col("ida") < col("idb"))
      .withColumn("cos_sim", VectorFns.cosine(col("ea"), col("eb")))
      .observe(s"exact_cosine_pairs_${cosineMetricSeq.incrementAndGet()}",
        count(lit(1)).as("n_compares"),
        sum(when(col("cos_sim") >= threshold, 1L).otherwise(0L)).as("n_pairs"))
      .filter(col("cos_sim") >= threshold)
      .select(least(col("ida"), col("idb")).as("vec_a"),
        greatest(col("ida"), col("idb")).as("vec_b"),
        round(col("cos_sim"), 6).as("sim_r"))
  }

  private val cosineMetricSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The broadcast nested-loop all-pairs form, kept ONLY as the spec
    * cross-check oracle for [[cosineNearDupPairs]] /
    * [[signLshNearDupPairs]] on test corpora. Never in a query path: the
    * `vec_a < vec_b` predicate plans a cartesian. */
  private[operators] def bruteCosinePairs(corpus: DataFrame, threshold: Double): DataFrame = {
    val a = corpus.select(col("vec_id").as("vec_a"), col("embedding").as("ea"))
    val b = corpus.select(col("vec_id").as("vec_b"), col("embedding").as("eb"))
    a.join(broadcast(b), col("vec_a") < col("vec_b"))
      .withColumn("cos_sim", VectorFns.cosine(col("ea"), col("eb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos_sim"), 6).as("sim_r"))
  }

  /** Sign-LSH embedding near-duplicate pairs — the sublinear scale path
    * for TRUE near-dup regimes (duplicates well-separated from the
    * background, e.g. cosine ≥ 0.9 vs a ≤ 0.6 background): band keys
    * from seeded random hyperplanes ([[graft.catalyst.HyperplaneBands]],
    * one codegen'd pass, zero shuffle), bucket-grouped on (band, key)
    * with pair expansion inside the bucket array, exact cosine verify
    * only on candidates. Shuffles on the band key and the pair ids —
    * never all-pairs.
    *
    * Recall is `1 − (1 − p^R)^B` with `p = 1 − θ/π`: at cosine 0.995
    * (R=8, B=12) a true pair is missed with p ≈ 2e-8, while a random
    * orthogonal pair becomes a candidate in ~4% of buckets — the filter
    * that makes the all-pairs verify affordable. For thresholds inside
    * the similarity continuum use [[cosineNearDupPairs]]: no LSH
    * parameterization is simultaneously complete and selective there.
    *
    * `maxBucket` caps pathological buckets (degenerate embeddings, e.g.
    * all-zero vectors hashing identically) with the drop count observed
    * via the per-call-named `bucket_stats_<n>` observe metrics — see
    * [[Dedup.pairsFromBuckets]].
    */
  def signLshNearDupPairs(corpus: DataFrame, threshold: Double,
                          numBands: Int = 12, rowsPerBand: Int = 8,
                          seed: Long = 42L, maxBucket: Int = 100000): DataFrame = {
    val keyed = corpus
      .select(col("vec_id"),
        posexplode(graft.catalyst.HyperplaneBands(col("embedding"), numBands, rowsPerBand, seed)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("key"))
    val candidates = Dedup.pairsFromBuckets(
      keyed.groupBy(col("band"), col("key"))
        .agg(sort_array(collect_list(struct(col("vec_id").as("doc_id"), lit(0L).as("n")))).as("ds")),
      maxBucket)
      .select(col("doc_a").as("vec_a"), col("doc_b").as("vec_b"))
      .distinct()
    candidates
      .join(corpus.select(col("vec_id").as("vec_a"), col("embedding").as("ea")), "vec_a")
      .join(corpus.select(col("vec_id").as("vec_b"), col("embedding").as("eb")), "vec_b")
      .withColumn("cos_sim", VectorFns.cosine(col("ea"), col("eb")))
      .filter(col("cos_sim") >= threshold)
      .select(col("vec_a"), col("vec_b"), round(col("cos_sim"), 6).as("sim_r"))
  }

  /** Nearest-centroid assignment (ties → lowest centroid id) as a
    * `max_by` aggregation: map-side partial agg (`partial_max_by`)
    * collapses to one row per vector per partition BEFORE the shuffle,
    * where the window row_number formulation exchanged and sorted every
    * vector×centroid scored row. (The struct buffer keeps it a
    * SortAggregate rather than HashAggregate; the partial step is the
    * scale win.) Tie-break encoded in the ordering struct: higher csim
    * wins, then lower centroid id (negated id under max). */
  def assign(vectors: DataFrame, centroids: DataFrame): DataFrame = {
    val c = centroids.select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
    vectors.select(col("vec_id"), col("embedding"))
      .join(broadcast(c))
      .withColumn("csim", VectorFns.cosine(col("embedding"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(max_by(
        struct(col("embedding"), col("centroid_id")),
        struct(col("csim"), (-col("centroid_id")).as("neg_id"))).as("m"))
      .select(col("vec_id"), col("m.embedding").as("embedding"), col("m.centroid_id").as("centroid_id"))
  }

  /** Top-`n` nearest centroids per vector (probe list) as one hash
    * aggregation: collect the scored centroids per vector, sort in-array
    * (csim desc, centroid id asc on ties), slice `n` — no window, no
    * per-vector sort exchange. */
  private[operators] def assignTopN(vectors: DataFrame, centroids: DataFrame, n: Int): DataFrame = {
    val c = centroids.select(col("vec_id").as("centroid_id"), col("embedding").as("centroid"))
    vectors.select(col("vec_id"), col("embedding"))
      .join(broadcast(c))
      .withColumn("csim", VectorFns.cosine(col("embedding"), col("centroid")))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        slice(reverse(sort_array(collect_list(
          struct(col("csim"), (-col("centroid_id")).as("neg_id"), col("centroid_id"))))),
          1, n).as("probes"))
      .select(col("vec_id"), col("embedding"), explode(col("probes.centroid_id")).as("centroid_id"))
  }

  /** SemDeDup — cluster-scoped semantic deduplication (Abbas et al.
    * 2023, arXiv:2303.09540): assign every embedding to its nearest
    * centroid, then dedup ONLY within each cluster — a vector is
    * dropped when an earlier-id vector in the SAME cluster sits at
    * cosine ≥ `threshold` (keep-earliest, the engine's standard
    * canonical rule). Cross-cluster near-dups are deliberately out of
    * scope: that approximation is what makes semantic dedup tractable —
    * pairwise work is Σ|cluster|², bounded by growing k with the
    * corpus so cluster sizes stay flat, instead of N² (the 100 TB
    * story; [[cosineNearDupPairs]] is the exact fallback when N is
    * small enough to afford it).
    *
    * Plan shape: one broadcast-centroid assignment pass, one
    * key-partitioned self-join on `centroid_id` (never a cartesian),
    * one distinct on the losers, one left join back. Centroids come
    * from [[trainCentroids]] in production; any (vec_id, embedding)
    * frame works (deterministic slices make the whole operator
    * SQL-oracle-checkable).
    *
    * Output: (vec_id, centroid_id, kept) — total over the corpus, so a
    * caller can keep, purge, or audit.
    */
  /** The k that holds SemDeDup's expected cluster size flat as the
    * corpus grows (VERDICT r6 #6 / r7 #6): `semanticDedup`'s pairwise
    * stage does Σ|cluster|² cosine comparisons; with k = ⌈N / target⌉
    * the expected cluster size E|c| = N/k ≤ target, so balanced
    * expected work is Σ|c|² ≈ k·(N/k)² = N·E|c| ≤ N·target — LINEAR in
    * N at a fixed target, where a caller-fixed k silently degrades to
    * N²/k as the corpus grows. `target` trades dedup recall (bigger
    * clusters → more within-cluster pairs examined) against cost; the
    * SemDeDup paper operates at ~10⁴–10⁵ docs/cluster on 10⁸-doc
    * corpora.
    */
  def semanticDedupK(corpusSize: Long, targetClusterSize: Long = 4096L): Int = {
    require(targetClusterSize >= 1, s"targetClusterSize must be >= 1, got $targetClusterSize")
    math.min(
      math.max(1L, (corpusSize + targetClusterSize - 1) / targetClusterSize),
      Int.MaxValue.toLong).toInt
  }

  /** The k balancing BRUTE assignment cost against pairwise cost: with
    * [[assign]] comparing every vector to every centroid, total work is
    * N·k (assignment) + N²/k (balanced pairwise), minimized at k = √N
    * → 2·N^1.5. Use this when centroids are assigned brute-force (the
    * exact, oracle-checkable path); [[semanticDedupK]]'s linear-pairs
    * derivation is the right k when assignment is sublinear in k — a
    * coarse-quantized / ANN centroid lookup, the standard IVF trick
    * applied to the codebook itself (measured: the r8 sf1 decade shows
    * q109's assignment term N·k surfacing at 10.65× once pairs are
    * linearized; see BASELINE.md).
    */
  def semanticDedupKBalanced(corpusSize: Long): Int =
    math.min(math.max(1L, math.ceil(math.sqrt(corpusSize.toDouble)).toLong),
      Int.MaxValue.toLong).toInt

  /** [[semanticDedup]] with k DERIVED from the corpus size
    * ([[semanticDedupK]]) and centroids trained in-line
    * ([[trainCentroids]]) — the production entry point: one count, one
    * training run, one dedup pass, with Σ|cluster|² held ~linear in N
    * by construction. Callers that manage their own codebook lifecycle
    * (train once, dedup many increments) use [[semanticDedup]] directly
    * with centroids sized by [[semanticDedupK]].
    */
  def semanticDedupAuto(corpus: DataFrame, threshold: Double,
                        targetClusterSize: Long = 4096L, iters: Int = 2,
                        truncation: Truncation = Truncation.Local): DataFrame = {
    val k = semanticDedupK(corpus.count(), targetClusterSize)
    semanticDedup(corpus, trainCentroids(corpus, k, iters, truncation), threshold)
  }

  def semanticDedup(corpus: DataFrame, centroids: DataFrame, threshold: Double): DataFrame = {
    val assigned = assign(corpus, centroids)
    val a = assigned.select(col("centroid_id"),
      col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
    val b = assigned.select(col("centroid_id"),
      col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
    val losers = a.join(b, "centroid_id")
      .filter(col("vec_a") < col("vec_b"))
      .filter(VectorFns.cosine(col("emb_a"), col("emb_b")) >= threshold)
      .select(col("vec_b").as("vec_id")).distinct()
    assigned
      .join(losers.withColumn("__dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("centroid_id"), col("__dup").isNull.as("kept"))
  }

  /** Lloyd's k-means over the embedding column — trains the IVF centroid
    * codebook (at warehouse scale centroids come from training, not from
    * the first K rows). Pure DataFrame ops per iteration: one broadcast
    * assign + one per-dimension mean (posexplode → groupBy(centroid,
    * pos) avg → re-collect), with a per-round [[Truncation]] cutting
    * the otherwise-exponential iterative lineage (fast local
    * checkpoints by default, durable [[Truncation.Reliable]] roots for
    * long trainings on preemptible hardware). Deterministic: init =
    * the K lowest-id vectors; a centroid that loses all members keeps
    * its position. Output schema matches the `centroids` argument of
    * [[assign]]/[[ivfTopK]]: (vec_id, embedding).
    */
  def trainCentroids(corpus: DataFrame, k: Int, iters: Int,
                     truncation: Truncation = Truncation.Local): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    var centroids = truncation.truncate(
      corpus.orderBy(col("vec_id")).limit(k)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")),
      0)
    for (i <- 0 until iters) {
      val assigned = assign(corpus, centroids)
      val means = assigned
        .select(col("centroid_id"), posexplode(col("embedding").cast("array<double>")))
        .groupBy(col("centroid_id"), col("pos"))
        .agg(avg(col("col")).as("m"))
        .groupBy(col("centroid_id"))
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("centroid_id").as("vec_id"), col("pm.m").as("embedding"))
      centroids = truncation.truncate(
        means.unionByName(centroids.join(means, Seq("vec_id"), "left_anti")),
        i + 1)
    }
    truncation.finish(centroids)
  }

  /** IVF-style ANN: search the query's `nprobe` nearest centroid buckets
    * (corpus vectors live in exactly one bucket each — the classic
    * inverted-file layout). Approximate by construction, deterministic
    * for fixed centroids; recall rises with `nprobe` and reaches brute
    * at `nprobe = numCentroids`.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, centroids: DataFrame, k: Int,
              nprobe: Int = 1): DataFrame =
    ivfSearch(assign(corpus, centroids), queries, centroids, k, nprobe)

  /** IVF search over MAINTAINED routing — the consumption half of the
    * q280 claim (exactly as [[Retrieval.bm25FromPostings]] is q282's):
    * corpus-side buckets come from the persisted assignment store via
    * one id-equi-join — the corpus is never re-scored against the
    * centroids at query time — and only the ad-hoc `queries` score
    * against the (broadcast) centroid set. Identical output to
    * [[ivfTopK]] under the same centroid set, which q295 pins through
    * the incrementally-maintained store.
    *
    * @param assignments (vec_id, centroid_id) — [[assignmentStore]] /
    *                    [[incrementalAssignments]] output (extra
    *                    columns ignored)
    */
  def ivfTopKFromAssignments(corpus: DataFrame, queries: DataFrame,
                             assignments: DataFrame, centroids: DataFrame,
                             k: Int, nprobe: Int = 1): DataFrame =
    ivfSearch(
      corpus.select(col("vec_id"), col("embedding"))
        .join(assignments.select(col("vec_id"), col("centroid_id")), "vec_id"),
      queries, centroids, k, nprobe)

  /** Shared IVF search tail: probe the query's nprobe nearest centroid
    * buckets over an already-assigned corpus. */
  private def ivfSearch(assigned: DataFrame, queries: DataFrame,
                        centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1, s"nprobe must be >= 1, got $nprobe")
    val q = assignTopN(queries, centroids, nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"),
        col("centroid_id").as("qc"))
    val c = assigned.select(col("vec_id").as("neighbor_id"), col("embedding").as("cvec"),
      col("centroid_id").as("cc"))
    val scored = c.join(broadcast(q), col("qc") === col("cc") && col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", VectorFns.cosine(col("qvec"), col("cvec")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("rnk"), col("neighbor_id"), col("sim"))
  }

  /** Matryoshka truncation-recall audit — the sizing question every
    * MRL-style embedding deployment answers before shipping a
    * truncated index (Kusupati et al. 2022): how much brute-force
    * top-k recall survives keeping only the first m dimensions? For
    * each m, the corpus and query vectors are PREFIX-SLICED (no
    * re-encode, the matryoshka property), searched exactly, and the
    * top-k set is compared against the full-dimension reference;
    * recall is exact integer ppm (⌊10⁶·hits/(Q·k)⌋). The full-dim m
    * is its own sanity row (recall ≡ 10⁶ by construction).
    *
    * Scale shape: one bounded brute scan per audited m (queries
    * broadcast, k-bounded window), one k·Q-sized join per leg — the
    * audit is Q∝-bounded like the ANN battery it sizes.
    *
    * @return (dims, n_queries, sum_overlap, recall_ppm), one row per m
    */
  def truncationRecall(corpus: DataFrame, queries: DataFrame,
                       dims: Seq[Int], k: Int): DataFrame = {
    require(dims.nonEmpty, "truncationRecall needs at least one dim")
    val ref = bruteTopK(corpus, queries, k)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(true) // eager: every dims leg joins it inside one action
    val legs = dims.map { m =>
      def proj(df: DataFrame) = df.select(col("vec_id"),
        slice(col("embedding"), 1, m).as("embedding"))
      bruteTopK(proj(corpus), proj(queries), k)
        .join(ref.withColumn("hit", lit(1L)),
          Seq("query_id", "neighbor_id"), "left")
        .agg(countDistinct(col("query_id")).as("n_queries"),
          sum(coalesce(col("hit"), lit(0L))).as("sum_overlap"))
        .select(lit(m).as("dims"), col("n_queries"), col("sum_overlap"),
          // degenerate-input guard made EXPLICIT: an empty query or
          // corpus side yields n_queries = 0 (and sum_overlap null) —
          // the audit row says "no evidence" as a null recall rather
          // than silently emitting a 0/0 division artifact
          when(col("n_queries") > 0,
            expr(s"coalesce(sum_overlap, 0) * 1000000 div (n_queries * $k)"))
            .as("recall_ppm"))
    }
    legs.reduce(_ unionByName _).orderBy(col("dims"))
  }

  /** 8-byte content fingerprint of an embedding column — the diff key
    * for [[incrementalAssignments]]' store maintenance. Byte-level
    * (`xxhash64` over the raw array), so ANY component change reroutes
    * the vector through re-assignment; semantically-equal re-encodes
    * count as changes, which is the safe direction.
    */
  def embeddingFp(embedding: Column): Column = xxhash64(embedding)

  /** Persisted IVF ASSIGNMENT STORE — the ANN-index analogue of
    * [[Dedup.signatureStore]]: one row per vector carrying its
    * nearest-centroid assignment under the CURRENT centroid set plus
    * the embedding's content fingerprint — ~28 B/row against the
    * KB-scale vectors, so crawl N's store is crawl N+1's cheap `prev`
    * side. Embeddings themselves stay in the corpus table (the IVF
    * bucket search joins them back by id); the store is pure routing
    * state. Persist under `Staging.ensureFresh` keyed on the corpus
    * source, exactly like the signature/phash stores.
    *
    * @return (vec_id, content_fp, centroid_id, src='computed')
    */
  def assignmentStore(vectors: DataFrame, centroids: DataFrame): DataFrame =
    assign(vectors, centroids)
      .select(col("vec_id"), col("centroid_id"))
      .join(vectors.select(col("vec_id"),
        embeddingFp(col("embedding")).as("content_fp")), "vec_id")
      .select(col("vec_id"), col("content_fp"), col("centroid_id"),
        lit("computed").as("src"))

  /** Incremental IVF assignment maintenance — the ANN leg of the
    * crawl-incremental index chain ([[Dedup.incrementalSignatures]] →
    * [[Dedup.incrementalLshPairs]] → [[Dedup.incrementalComponents]],
    * now closed over the vector index too): at 100 TB nobody re-scores
    * the corpus against the centroids to refresh its IVF routing.
    * [[SnapshotDiff.diffStored]] classifies every id by embedding
    * fingerprint — old embeddings are never re-read, only the store's
    * (id, fp) slice — and ONLY `added`/`changed` vectors go through
    * the broadcast-centroid argmax; `unchanged` ids keep their stored
    * bucket, `removed` ids drop. The scored delta is surfaced as an
    * `observe` metric (`incr_assign_vecs`) so a pipeline can alert
    * when compute volume stops tracking the crawl delta. Centroids are
    * FIXED across the maintenance step by design: re-bucketing is the
    * retrain decision, which [[assignmentDrift]] informs.
    *
    * @return next store, same schema as [[assignmentStore]] with `src`
    *         marking `computed` vs `retained` provenance — bit-equal
    *         to a full re-assignment at O(delta) scoring cost
    */
  def incrementalAssignments(newVectors: DataFrame, prevStore: DataFrame,
                             centroids: DataFrame): DataFrame =
    Dedup.maintainStore(
        SnapshotDiff.diffStored(
          prevStore.select(col("vec_id").as("id"), col("content_fp").as("fp")),
          newVectors, col("vec_id"), embeddingFp(col("embedding"))),
        newVectors.select(col("vec_id"), col("embedding")), prevStore,
        Seq("vec_id", "content_fp", "centroid_id"), "incr_assign_vecs", "n_vecs") {
      (toCompute, _) => assign(toCompute, centroids)
    }

  /** Per-micro-batch assignment UPSERT — the STREAMING form of
    * [[incrementalAssignments]], for ingest-time ANN-routing freshness
    * ([[Retrieval.upsertPostings]]' discipline applied to the vector
    * index): the input is an upsert delta (the batch's latest revision
    * per vec_id), not a corpus snapshot, so ids absent from the batch
    * are RETAINED (deletes are a separate pipeline, q146) and batch
    * ids re-score against the broadcast centroids ONLY when their
    * embedding fingerprint differs from the store — IDEMPOTENT under
    * at-least-once redelivery (a verbatim redelivered vector keeps its
    * stored bucket AND its original provenance tag). Fresh rows carry
    * `srcTag` (e.g. `b<batchId>`), so the maintained routing records
    * which micro-batch last scored each vector.
    *
    * @param batch  (vec_id, embedding) upserts, unique per id in-batch
    * @param srcTag provenance label for rows scored by THIS batch
    */
  def upsertAssignments(batch: DataFrame, prevStore: DataFrame,
                        centroids: DataFrame, srcTag: String): DataFrame = {
    val b = batch.select(col("vec_id"), col("embedding"),
      embeddingFp(col("embedding")).as("content_fp"))
    val prevFp = prevStore.select(col("vec_id"), col("content_fp").as("prev_fp"))
    val changed = b.join(prevFp, Seq("vec_id"), "left")
      .filter(col("prev_fp").isNull || col("prev_fp") =!= col("content_fp"))
      .select(col("vec_id"), col("embedding"), col("content_fp"))
      .localCheckpoint(true) // eager: feeds the fresh scoring AND the retain anti-join — a multi-action caller must not race a lazy materialization
    val fresh = assign(
        changed.observe("upsert_assign_vecs", count(lit(1)).as("n_vecs")),
        centroids)
      .select(col("vec_id"), col("centroid_id"))
      .join(changed.select(col("vec_id"), col("content_fp")), "vec_id")
      .select(col("vec_id"), col("content_fp"), col("centroid_id"),
        lit(srcTag).as("src"))
    val retained = prevStore
      .join(changed.select(col("vec_id")), Seq("vec_id"), "left_anti")
    fresh.unionByName(retained)
  }

  /** Centroid-drift audit over one maintenance step — the retrain
    * signal: per centroid, how much routing churned between the
    * previous and the maintained store. `moved` counts vectors present
    * in BOTH stores whose bucket changed (an embedding revision landed
    * elsewhere); arrivals/departures are population churn, not drift.
    * The global reassignment fraction — Σ moved / Σ persisted, exposed
    * here in exact ppm — is the classic "retrain when routing decays"
    * trigger; fixed-centroid maintenance stays valid while it is low.
    *
    * @return (centroid_id, n_prev, n_next, n_moved_in, n_moved_out,
    *         moved_ppm) — moved_ppm is the per-centroid outbound churn,
    *         ⌊10⁶·n_moved_out/n_prev⌋, 0 when n_prev = 0
    */
  def assignmentDrift(prevStore: DataFrame, nextStore: DataFrame): DataFrame = {
    val both = prevStore.select(col("vec_id"), col("centroid_id").as("prev_c"))
      .join(nextStore.select(col("vec_id"), col("centroid_id").as("next_c")),
        Seq("vec_id"), "full_outer")
      .localCheckpoint(true) // eager: aggregated once per side below — a multi-action caller must not race a lazy materialization
    def side(c: Column, other: Column, n: String, movedIn: Boolean) =
      both.filter(c.isNotNull).groupBy(c.as("centroid_id"))
        .agg(count(lit(1)).as(n),
          sum((other.isNotNull && other =!= c).cast("long"))
            .as(if (movedIn) "n_moved_in" else "n_moved_out"))
    val prev = side(col("prev_c"), col("next_c"), "n_prev", movedIn = false)
    val next = side(col("next_c"), col("prev_c"), "n_next", movedIn = true)
    prev.join(next, Seq("centroid_id"), "full_outer")
      .select(col("centroid_id"),
        coalesce(col("n_prev"), lit(0L)).as("n_prev"),
        coalesce(col("n_next"), lit(0L)).as("n_next"),
        coalesce(col("n_moved_in"), lit(0L)).as("n_moved_in"),
        coalesce(col("n_moved_out"), lit(0L)).as("n_moved_out"))
      .withColumn("moved_ppm",
        when(col("n_prev") === 0L, lit(0L)).otherwise(
          call_function("div", col("n_moved_out") * lit(1000000L), col("n_prev"))))
  }
}
