package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two paths, per the standard ANN playbook:
  *   - brute-force cosine top-k as the exactness baseline: a broadcast
  *     nested-loop of a SMALL query set against the corpus. Each executor
  *     streams its corpus partition against the in-memory queries — at
  *     100 TB the corpus is never shuffled at all, and the custom TopK
  *     aggregator reduces each partition to k rows per query BEFORE the
  *     (tiny) final shuffle. This is the only brute-force shape that scales.
  *   - LSH (random-hyperplane signatures) as the sublinear path: bucket
  *     equi-join instead of the nested loop, same verify-then-rank tail.
  *
  * Dot products are `zip_with` + `aggregate` over array<double> — codegen'd
  * sequential folds, bit-identical to the DuckDB oracle's accumulation
  * order, which is what lets brute-force kNN be oracle-checked exactly.
  */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns (composed
    * built-ins — portable to any session, three passes per row).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity. All engine entry points route through the native
    * fused expression (graft.functions.CosineSimilarity — one codegen'd
    * loop, no intermediate arrays); it is bit-identical to the composed
    * fold form because every accumulator sees the same IEEE addition order.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.vecCosine(a, b)

  /** The composed-built-ins form, kept for cross-checking the native
    * expression in tests.
    */
  def cosineComposed(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  // --- custom typed top-k aggregate --------------------------------------

  final case class Scored(id: Long, score: Double)
  final case class TopKBuf(items: Seq[Scored])

  /** Per-group top-k with map-side partial aggregation: the buffer is a
    * bounded sorted list, so each partition contributes at most k candidates
    * per group to the shuffle instead of its whole scored partition — the
    * shuffle after this aggregate carries O(groups * k * partitions) rows
    * instead of O(all scored rows), which is what makes brute-force search
    * survive a wide corpus. A typed Aggregator is preference (b) in the
    * custom-operator ladder: an agg function Spark lacks, no plan surgery.
    *
    * Ordering is a TOTAL order (descending score, ascending id, NaN ranks
    * LAST — a zero-norm vector makes cosine 0/0 = NaN, and a sortWith over a
    * non-total comparator would make survivor choice partition-order
    * dependent). The hot `reduce` path is a bounded insertion into an
    * already-sorted buffer — O(k) per row with an O(1) common-case reject,
    * not a sort per row.
    */
  final class TopK(k: Int) extends Aggregator[Scored, TopKBuf, Seq[Scored]] {
    // < 0 iff a ranks strictly before b; total even when scores are NaN.
    private def cmp(a: Scored, b: Scored): Int = {
      val an = java.lang.Double.isNaN(a.score)
      val bn = java.lang.Double.isNaN(b.score)
      if (an || bn) {
        if (an && bn) java.lang.Long.compare(a.id, b.id)
        else if (an) 1
        else -1
      } else {
        val c = java.lang.Double.compare(b.score, a.score)
        if (c != 0) c else java.lang.Long.compare(a.id, b.id)
      }
    }
    def zero: TopKBuf = TopKBuf(Vector.empty)
    def reduce(b: TopKBuf, x: Scored): TopKBuf = {
      val items = b.items
      if (items.size >= k && cmp(x, items.last) >= 0) b // common case: reject
      else {
        val idx = items.indexWhere(it => cmp(x, it) < 0)
        val pos = if (idx < 0) items.size else idx
        TopKBuf(((items.take(pos) :+ x) ++ items.drop(pos)).take(k))
      }
    }
    def merge(a: TopKBuf, b: TopKBuf): TopKBuf =
      TopKBuf((a.items ++ b.items).sortWith(cmp(_, _) < 0).take(k))
    def finish(b: TopKBuf): Seq[Scored] = b.items
    def bufferEncoder: Encoder[TopKBuf] = ExpressionEncoder[TopKBuf]()
    def outputEncoder: Encoder[Seq[Scored]] = ExpressionEncoder[Seq[Scored]]()
  }

  /** DataFrame-level top-k: one row per group member of the top k, with
    * rank 1..k (by descending score, id tie-break).
    */
  def topKPerGroup(scored: DataFrame, groupCol: String, idCol: String,
                   scoreCol: String, k: Int): DataFrame = {
    val topk = udaf(new TopK(k), ExpressionEncoder[Scored]())
    scored
      .groupBy(col(groupCol))
      .agg(topk(col(idCol), col(scoreCol)).as("top"))
      .select(col(groupCol), posexplode(col("top")).as(Seq("rank0", "item")))
      .select(col(groupCol),
        col("item.id").as("neighbor_id"),
        (col("rank0") + 1).cast("int").as("rank"),
        col("item.score").as("score"))
  }

  /** Brute-force cosine top-k of the `nQueries` lowest-id vectors against
    * the whole corpus (self-matches excluded). Broadcast nested loop + TopK
    * aggregate; returns (query_id, neighbor_id, rank).
    */
  def bruteForceKnn(embeddings: DataFrame, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    nQueries: Int = 20, k: Int = 10): DataFrame = {
    val vecs = embeddings.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"))
    val queries = vecs.filter(col("vid") < nQueries)
      .toDF("query_id", "qv")
    val scored = vecs.join(broadcast(queries), col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid"),
        cosine(col("qv"), col("v")).as("sim"))
    topKPerGroup(scored, "query_id", "vid", "sim", k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Metadata-filtered exact kNN — the vector-DB "filtered search"
    * pattern (tenant / language / source predicates applied BEFORE
    * similarity): neighbors restricted to candidates sharing the query's
    * label. The label equality turns the broadcast from a pure nested
    * loop into a HASH join keyed on the label, so the filter prunes
    * candidates before any dot product is evaluated — pre-filtering, not
    * the post-filter-then-hope-k-survive shape naive stacks use.
    */
  def filteredKnn(embeddings: DataFrame, idCol: String = "vec_id",
                  vecCol: String = "embedding", labelCol: String = "label",
                  nQueries: Int = 20, k: Int = 10): DataFrame = {
    val vecs = embeddings.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"),
      col(labelCol).as("lbl"))
    val queries = vecs.filter(col("vid") < nQueries)
      .toDF("query_id", "qv", "qlbl")
    val scored = vecs.join(broadcast(queries),
        col("lbl") === col("qlbl") && col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid"),
        cosine(col("qv"), col("v")).as("sim"))
    topKPerGroup(scored, "query_id", "vid", "sim", k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  final case class MmrCand(vid: Long, sim: Double, v: Seq[Double])

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein, SIGIR
    * 1998): from each query's top-`nCand` cosine candidates, greedily pick
    * `k` results maximizing  lam·sim(q,d) − mu·max_{s∈S} sim(d,s)  — the
    * relevance/diversity trade-off every retrieval stack applies after
    * ANN. The first pick scores lam·sim (empty-set diversity term = 0);
    * ties break toward the smaller id, so the greedy is a total order and
    * replays exactly on any engine. lam and mu are SEPARATE parameters
    * (not mu = 1−lam) so both stay literal doubles — 1−0.7 is not IEEE
    * 0.3, and the oracle writes literals.
    *
    * Scale shape: candidate generation is the bruteForceKnn broadcast
    * shape (corpus never shuffled, TopK partial-aggregated); the greedy
    * runs per query over ≤ nCand candidates via collect_list — state
    * bounded by nCand·dim, the bounded-by-k exception the plan audit
    * allows, never corpus-sized. Pairwise sims among candidates are
    * recomputed in the same sequential-fold order as the native kernel,
    * so scores hash-match the DuckDB replay.
    */
  def mmrRerank(embeddings: DataFrame, idCol: String = "vec_id",
                vecCol: String = "embedding", nQueries: Int = 10,
                nCand: Int = 20, k: Int = 8, lam: Double = 0.7,
                mu: Double = 0.3): DataFrame = {
    require(k <= nCand, s"k=$k must not exceed nCand=$nCand")
    val sess = embeddings.sparkSession
    import sess.implicits._
    val vecs = embeddings.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"))
    val queries = vecs.filter(col("vid") < nQueries).toDF("qid", "qv")
    val scored = vecs.join(broadcast(queries), col("vid") =!= col("qid"))
      .select(col("qid"), col("vid"), cosine(col("qv"), col("v")).as("sim"))
    val cands = topKPerGroup(scored, "qid", "vid", "sim", nCand)
      .select(col("qid"), col("neighbor_id").as("vid"),
        col("score").as("sim"))
      .join(vecs, "vid") // nQueries·nCand rows re-acquire their vectors
    def cosJvm(a: Seq[Double], b: Seq[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    cands
      .select(col("qid"),
        struct(col("vid"), col("sim"), col("v")).as("c"))
      .groupBy(col("qid")).agg(collect_list(col("c")).as("cs"))
      .as[(Long, Seq[MmrCand])]
      .flatMap { case (qid, cs) =>
        val pool = scala.collection.mutable.ArrayBuffer(cs.sortBy(_.vid): _*)
        val sel = scala.collection.mutable.ArrayBuffer.empty[MmrCand]
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Long, Int, Long, Double)]
        var rank = 1
        while (rank <= k && pool.nonEmpty) {
          var bestIdx = -1; var bestScore = Double.NegativeInfinity
          var idx = 0
          while (idx < pool.length) {
            val c = pool(idx)
            val ms = if (sel.isEmpty) 0.0
              else sel.iterator.map(s => cosJvm(c.v, s.v)).max
            val score = lam * c.sim - mu * ms
            // pool is vid-ascending, so strict > keeps the smallest vid
            if (score > bestScore) { bestScore = score; bestIdx = idx }
            idx += 1
          }
          val picked = pool.remove(bestIdx)
          sel += picked
          out += ((qid, rank, picked.vid, bestScore))
          rank += 1
        }
        out
      }
      .toDF("query_id", "rank", "neighbor_id", "mmr_score")
  }

  // --- LSH path ----------------------------------------------------------

  /** Deterministic pseudo-random hyperplane for (table, plane): components
    * in [-1, 1) derived from a splitmix64 sequence of the (table, plane,
    * dim) triple. Computed driver-side and shipped as LITERAL arrays: no
    * per-row hashing, far shallower codegen than hashing each component in
    * an expression, and still reproducible at any partitioning and cluster
    * size (no RNG state).
    */
  def hyperplane(table: Int, plane: Int, dim: Int): Seq[Double] =
    (0 until dim).map { d =>
      var z = table.toLong * 0x9E3779B97F4A7C15L +
        plane.toLong * 0xC2B2AE3D27D4EB4FL + d.toLong * 0x165667B19E3779F9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      (java.lang.Math.floorMod(z, 2000L).toDouble - 1000.0) / 1000.0
    }

  /** Sign-of-projection signature for one hash table: `planes` bits packed
    * into one long. `dim` must match the embedding dimensionality. Uses the
    * native fused vec_dot (bit-identical to the composed fold — same index
    * order — so the embed_near_dup oracle replay is unaffected) instead of
    * an interpreted zip_with/aggregate pair per plane: tables x planes
    * folds per row is the signature stage's entire cost.
    */
  def lshSignature(vec: Column, planes: Int, table: Int, dim: Int): Column =
    (0 until planes).map { p =>
      when(graft.functions.GraftFunctions
          .vecDot(vec, typedlit(hyperplane(table, p, dim))) >= 0, 1L << p)
        .otherwise(0L)
    }.reduce(_ bitwiseOR _)

  /** (vid, v, table, bucket): one row per hash table via posexplode —
    * multi-table LSH (OR-amplification). More tables raise recall at the
    * cost of candidate volume: P[candidate] = 1 - (1 - s^planes)^tables for
    * a pair with angular similarity s. The join key is (table, bucket) so
    * tables never cross-pollinate.
    */
  def lshBuckets(vecs: DataFrame, planes: Int, tables: Int,
                 dim: Int): DataFrame =
    vecs.select(col("vid"), col("v"),
      posexplode(array((0 until tables).map(t =>
        lshSignature(col("v"), planes, t, dim)): _*))
        .as(Seq("table", "bucket")))

  /** Bucket granularity that SCALES WITH THE CORPUS: enough hyperplanes
    * that the expected bucket population stays near `targetBucket`
    * regardless of corpus size (2^planes ≈ n / targetBucket). A fixed plane
    * count is the classic LSH scale trap: bucket population — and therefore
    * same-bucket pair count — grows linearly with the corpus, so the
    * candidate join output grows quadratically. Keeping expected population
    * constant keeps candidates O(n · targetBucket · tables), i.e. linear.
    */
  def planesFor(n: Long, targetBucket: Int = 64,
                minPlanes: Int = 4, maxPlanes: Int = 24): Int = {
    val buckets = math.max(1L, n / math.max(1, targetBucket))
    val p = 64 - java.lang.Long.numberOfLeadingZeros(buckets) // ~ceil(log2)
    math.min(maxPlanes, math.max(minPlanes, p))
  }

  /** Resolve the bucket space: a pinned `planes` or a caller-provided
    * `corpusSize` hint keeps the operator fully lazy (no job at
    * plan-construction time) — the production path. The auto fallback
    * runs one counting scan at plan time; it deliberately does NOT
    * persist the projection to save that scan, because a library
    * operator has no safe point to unpersist (the cache would outlive
    * the returned lazy DataFrame and leak for the session's lifetime).
    */
  private def resolveBuckets(vecs: DataFrame, planes: Int,
                             corpusSize: Long): (DataFrame, Int) =
    if (planes > 0) (vecs, planes)
    else if (corpusSize > 0) (vecs, planesFor(corpusSize))
    else (vecs, planesFor(vecs.count()))

  /** Bucketed ANN: candidates come from a SELF-EQUI-JOIN on (table,
    * bucket) — the same pair count as any in-bucket enumeration, but
    * distributed across shuffle tasks instead of materialized inside
    * single aggregate rows (the bucket-collect formulation packs O(m²)
    * structs of an m-member bucket into ONE row: an executor OOM / terminal
    * straggler as buckets grow, and any bucket-size cap silently zeroes
    * recall). The signature subtree is evaluated once per join side — pure
    * map-side CPU, no extra shuffle. `planes = 0` (the default) derives the
    * bucket space from the corpus size via planesFor — from the
    * `corpusSize` hint when given, else from a count over a persisted
    * projection (see resolveBuckets) — so buckets stay bounded at any
    * scale. Rank distinct candidates by true cosine. Sublinear: only
    * same-bucket pairs are scored. Recall vs the brute-force baseline is
    * asserted in the test suite; with pinned planes the whole pipeline is
    * deterministic and replays in the DuckDB oracle (the knn_lsh entry).
    */
  def lshKnn(embeddings: DataFrame, idCol: String = "vec_id",
             vecCol: String = "embedding",
             planes: Int = 0, tables: Int = 8, k: Int = 10,
             dim: Int = 64, corpusSize: Long = 0L): DataFrame = {
    val (vecs, p) = resolveBuckets(
      embeddings.select(col(idCol).as("vid"),
        col(vecCol).cast("array<double>").as("v")),
      planes, corpusSize)
    val b = lshBuckets(vecs, p, tables, dim).select("vid", "table", "bucket")
    val candidates = b.toDF("query_id", "table", "bucket")
      .join(b.toDF("vid", "table", "bucket"), Seq("table", "bucket"))
      .filter(col("query_id") =!= col("vid"))
      .select("query_id", "vid").distinct()
    val scored = candidates
      .join(vecs.toDF("query_id", "qv"), Seq("query_id"))
      .join(vecs, Seq("vid"))
      .select(col("query_id"), col("vid"), cosine(col("qv"), col("v")).as("sim"))
    topKPerGroup(scored, "query_id", "vid", "sim", k)
  }

  // --- IVF path ----------------------------------------------------------

  /** IVF (inverted-file) ANN: a k-means coarse quantizer assigns every
    * vector to its nearest of `nlist` centroids; a query searches only the
    * `nprobe` nearest lists. The other standard ANN scale path next to LSH:
    * data-adaptive (clustered corpora get tight lists) where LSH is
    * data-oblivious.
    *
    * Plan shape: the quantizer is trained once driver-side on a bounded
    * deterministic sample — the only driver state, `nlist` centroid
    * vectors carried by the pq_encode/pq_adc_table kernels; assignment
    * and probing are pure map-side, and candidates come from an equi-join
    * on the list id. No RNG anywhere -> identical results across runs AND
    * partitionings (asserted in SimilaritySpec).
    */
  /** The IVF coarse quantizer alone — the TRAIN step of the
    * train / index / search production split. Two modes:
    *   - default: driver-side Lloyd's on a bounded deterministic sample
    *     (the maxSample smallest (hash, vid) keys — one distributed
    *     top-k, O(1) driver state at any corpus size). Same trainer as
    *     pqKnn's codebooks: no MLlib fit jobs, and — unlike a sampled
    *     random-init fit — the centroids, list assignment, and results
    *     are partitioning-invariant.
    *   - `centroidVecIds` nonempty: the centroids ARE those corpus
    *     vectors (in vec-id order, list index = rank) with no k-means at
    *     all — the oracle-replayable pinning (the knn_lsh planes=7
    *     trick): argmin-of-squared-L2 against named corpus rows is
    *     plain SQL, so the whole pipeline replays in DuckDB
    *     (knn_ivf_recall). Quantization is weaker than trained
    *     centroids; the production path stays the trained one.
    */
  def ivfCentroids(embeddings: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding", nlist: Int = 16,
                   centroidVecIds: Seq[Long] = Nil): Array[Array[Double]] = {
    val vecs = embeddings.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"))
    if (centroidVecIds.nonEmpty)
      vecs.filter(col("vid").isin(centroidVecIds: _*))
        .orderBy(col("vid"))
        .select("v").collect().map(_.getSeq[Double](0).toArray)
    else {
      val sampleRows = vecs
        .orderBy(pmod(xxhash64(col("vid")), lit(1000003L)), col("vid"))
        .limit(2048)
        .select("v").collect().map(_.getSeq[Double](0).toArray)
      localKMeans(sampleRows, nlist, iters = 10)
    }
  }

  /** The persistent IVF index relation — the INDEX step: (idCol, list),
    * one small row per corpus vector, the inverted-file a vector store
    * keeps next to its vectors (parquet/table, partitioned by list).
    * Assignment is pure map-side through the pq_encode kernel; ids only,
    * no vectors — search re-attaches vectors by id join, the
    * Dedup.bandIndex discipline.
    */
  def ivfIndexRelation(embeddings: DataFrame,
                       centroids: Array[Array[Double]],
                       idCol: String = "vec_id",
                       vecCol: String = "embedding"): DataFrame = {
    val book: Seq[Seq[Seq[Double]]] = Seq(centroids.map(_.toSeq).toSeq)
    embeddings.select(col(idCol).as("vid"),
        col(vecCol).cast("array<double>").as("v"))
      .select(col("vid"), element_at(
        graft.functions.GraftFunctions.pqEncode(col("v"), book), 1)
        .as("list"))
  }

  /** The SEARCH step against a STORED index: queries probe their nprobe
    * nearest lists, candidates come from the (vid, list) relation
    * equi-joined on list with vectors re-attached by vid — so a daily
    * search job never re-trains or re-assigns. Results are identical to
    * the monolithic [[ivfKnn]] (SimilaritySpec round-trips the index
    * through parquet and asserts equality).
    */
  def ivfSearchWithIndex(embeddings: DataFrame,
                         centroids: Array[Array[Double]],
                         index: DataFrame,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         nprobe: Int = 4, k: Int = 10,
                         nQueries: Int = 0): DataFrame = {
    val vecs = embeddings.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"))
    val nLists = centroids.length
    val book: Seq[Seq[Seq[Double]]] = Seq(centroids.map(_.toSeq).toSeq)
    val distRow = element_at(
      graft.functions.GraftFunctions.pqAdcTable(col("v"), book), 1)
    // by-name select: a column-reordered index parquet errors instead of
    // silently swapping vid/list under a positional rename
    val assigned = index.select(col("vid"), col("list")).join(vecs, Seq("vid"))
    val querySide = if (nQueries > 0) vecs.filter(col("vid") < nQueries)
      else vecs
    val probed = querySide.select(col("vid"), col("v"),
      explode(slice(array_sort(
        zip_with(distRow,
          sequence(lit(0), lit(nLists - 1)),
          (d, i) => struct(d.as("d"), i.as("list")))), 1, nprobe))
        .as("probe"))
      .select(col("vid").as("query_id"), col("v").as("qv"),
        col("probe.list").as("list"))
    val scored = probed
      .join(assigned, Seq("list"))
      .filter(col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid"),
        cosine(col("qv"), col("v")).as("sim"))
    topKPerGroup(scored, "query_id", "vid", "sim", k)
  }

  def ivfKnn(embeddings: DataFrame, idCol: String = "vec_id",
             vecCol: String = "embedding",
             nlist: Int = 16, nprobe: Int = 4, k: Int = 10,
             centroidVecIds: Seq[Long] = Nil,
             nQueries: Int = 0): DataFrame = {
    val vecs = embeddings.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"))
    // coarse quantizer: see ivfCentroids (train / index / search split)
    val centroids = ivfCentroids(embeddings, idCol, vecCol, nlist,
      centroidVecIds)
    val nLists = centroids.length
    val book: Seq[Seq[Seq[Double]]] = Seq(centroids.map(_.toSeq).toSeq)

    // Centroid distances via the PQ kernels with a single subspace (m=1,
    // dsub=dim): pq_encode gives the nearest list in one fused pass,
    // pq_adc_table the full distance row for the nprobe ranking —
    // replacing nlist interpreted zip_with folds per row.
    val nearest = element_at(
      graft.functions.GraftFunctions.pqEncode(col("v"), book), 1)
    val distRow = element_at(
      graft.functions.GraftFunctions.pqAdcTable(col("v"), book), 1)
    // corpus side: nearest list only; query side: nprobe nearest lists
    val assigned = vecs.select(col("vid"), col("v"), nearest.as("list"))
    val querySide = if (nQueries > 0) vecs.filter(col("vid") < nQueries)
      else vecs
    val probed = querySide.select(col("vid"), col("v"),
      explode(slice(array_sort(
        zip_with(distRow,
          sequence(lit(0), lit(nLists - 1)),
          (d, i) => struct(d.as("d"), i.as("list")))), 1, nprobe))
        .as("probe"))
      .select(col("vid").as("query_id"), col("v").as("qv"),
        col("probe.list").as("list"))
    val scored = probed
      .join(assigned, Seq("list"))
      .filter(col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid"), cosine(col("qv"), col("v")).as("sim"))
    topKPerGroup(scored, "query_id", "vid", "sim", k)
  }

  /** PQ-ADC ANN (Jégou et al., "Product Quantization for Nearest Neighbor
    * Search", TPAMI 2011): vectors are split into `m` subvectors, and each
    * subvector quantized to one of `ksub` per-subspace
    * centroids — the corpus lives as `m` SMALL INTS per vector (a 64-dim
    * float64 embedding becomes m bytes: 64x smaller at m=8). This is the
    * memory scale path the other ANN ops lack: at 100 TB of raw embeddings
    * the PQ code table fits in a fraction of the executors' page cache, so
    * the scan is memory-bound on codes, not I/O-bound on floats.
    *
    * Queries (the `nQueries` lowest ids, matching knn_cosine) precompute an
    * ADC table — per subspace, the squared distance from the query's
    * subvector to each centroid — so scoring a corpus vector is `m` table
    * lookups and adds, no float-vector math. The metric is squared L2
    * (PQ's native distance); SimilaritySpec checks recall against an exact
    * L2 top-k computed independently.
    *
    * Plan shape: codebooks train per subspace on a bounded deterministic
    * sample (driver-side Lloyd's — partitioning-invariant, unlike a
    * sampled MLlib fit); encoding and table building are native one-pass
    * kernels carrying the codebook; the scan is a broadcast
    * of nQueries table rows against the code table + the TopK partial
    * aggregate — the intended flat-scan shape, like knn_cosine, but over
    * codes instead of vectors.
    */
  def pqKnn(embeddings: DataFrame, idCol: String = "vec_id",
            vecCol: String = "embedding",
            m: Int = 16, ksub: Int = 32, k: Int = 10,
            nQueries: Int = 20, dim: Int = 64,
            codebookVecIds: Seq[Long] = Nil): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into $m subspaces")
    val dsub = dim / m
    val vecs = embeddings
      .select(col(idCol).as("vid"), col(vecCol).cast("array<double>").as("v"))
    // Codebooks, two modes (mirrors ivfKnn's centroid pinning):
    //   - default: bounded deterministic sample — the maxSample smallest
    //     (hash, vid) keys, a distributed top-k, O(1) driver state at any
    //     corpus size, identical under any partitioning. Codebooks train
    //     DRIVER-SIDE (plain Lloyd's on <= maxSample tiny subvectors —
    //     microseconds), which, unlike MLlib's sampled init, makes the
    //     codebooks — and therefore every code and every query result —
    //     partitioning-invariant (asserted in SimilaritySpec).
    //   - `codebookVecIds` nonempty: subspace j's codewords are those
    //     corpus vectors' j-th subvectors (vec-id order = codeword index),
    //     no k-means — argmin against named rows is plain SQL, so the
    //     whole encode/ADC/rank pipeline replays in DuckDB
    //     (knn_pq_recall). Coarser quantization than trained books; the
    //     production path stays the trained one.
    val books: Seq[Array[Array[Double]]] =
      if (codebookVecIds.nonEmpty) {
        val pinned = vecs.filter(col("vid").isin(codebookVecIds: _*))
          .orderBy(col("vid"))
          .select("v").collect().map(_.getSeq[Double](0).toArray)
        (0 until m).map(j => pinned.map(_.slice(j * dsub, (j + 1) * dsub)))
      } else {
        val maxSample = 2048
        val sampleRows = vecs
          .orderBy(pmod(xxhash64(col("vid")), lit(1000003L)), col("vid"))
          .limit(maxSample)
          .select("v").collect().map(_.getSeq[Double](0).toArray)
        (0 until m).map { j =>
          localKMeans(sampleRows.map(_.slice(j * dsub, (j + 1) * dsub)),
            ksub, iters = 10)
        }
      }
    // Native kernels (pq_encode / pq_adc_table / pq_adc_score,
    // functions.PqKernels): the composed centroid-literal formulation
    // built a ~4 MiB interpreted-HOF plan that cost 4.2s at sf0.1; the
    // kernels do the same argmin/table/lookup math as tight JVM loops
    // with the codebook as a codegen reference object.
    val bookLits: Seq[Seq[Seq[Double]]] = books.map(_.map(_.toSeq).toSeq)
    val codes = vecs.select(col("vid"),
      graft.functions.GraftFunctions.pqEncode(col("v"), bookLits).as("code"))
    val queries = vecs.orderBy("vid").limit(nQueries)
      .select(col("vid").as("query_id"),
        graft.functions.GraftFunctions.pqAdcTable(col("v"), bookLits)
          .as("qtab"))
    val scored = codes.crossJoin(broadcast(queries))
      .filter(col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid"),
        // approximate squared L2 = m lookups; negated so TopK's
        // descending order yields nearest-first
        (-graft.functions.GraftFunctions.pqAdcScore(col("code"), col("qtab")))
          .as("sim"))
    topKPerGroup(scored, "query_id", "vid", "sim", k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        (-col("score")).as("adc_dist2"))
  }

  /** Plain Lloyd's k-means over a small in-memory point set — the PQ
    * codebook trainer. Deterministic by construction: init spreads over
    * the lexicographically sorted points, ties in assignment break to the
    * lowest centroid index, and an emptied cluster keeps its previous
    * centroid. No RNG, no partitioning sensitivity.
    */
  private[llm] def localKMeans(points: Array[Array[Double]], k: Int,
                               iters: Int): Array[Array[Double]] = {
    val sorted = points.sortBy(_.toSeq)(
      scala.math.Ordering.Implicits.seqOrdering[Seq, Double])
    val n = sorted.length
    require(n > 0, "empty codebook training sample")
    var cents = Array.tabulate(math.min(k, n))(i =>
      sorted(((i.toLong * n) / k).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(cents.length)(new Array[Double](sorted(0).length))
      val counts = new Array[Int](cents.length)
      sorted.foreach { p =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var d = 0.0; var i = 0
          while (i < p.length) {
            val diff = p(i) - cents(c)(i); d += diff * diff; i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        var i = 0
        while (i < p.length) { sums(best)(i) += p(i); i += 1 }
        counts(best) += 1
      }
      cents = Array.tabulate(cents.length) { c =>
        if (counts(c) == 0) cents(c)
        else sums(c).map(_ / counts(c))
      }
      it += 1
    }
    cents
  }

  // --- PCA whitening -----------------------------------------------------

  /** One-pass moment accumulator for mean + covariance: the buffer is the
    * fixed-size array [n, Σx (d entries), upper-triangle Σxxᵀ (d(d+1)/2
    * entries)] — 2 KB at d = 64 — merged elementwise. The shuffle carries
    * one such array per partition, never a row: the only covariance shape
    * that survives a 100 TB corpus (the explode-(i,j) formulation
    * multiplies the corpus by d² before aggregating). Single-pass
    * E[xxᵀ] − μμᵀ is fine here numerically: embedding components are
    * O(1) and means are near zero, so no catastrophic cancellation;
    * accumulation order varies with partitioning in final ulps, which is
    * why the PCA operators are rows-only with tolerance-based specs
    * rather than hash-compared.
    */
  final class CovAcc(d: Int)
      extends Aggregator[Seq[Double], Array[Double], Array[Double]] {
    private val len = 1 + d + d * (d + 1) / 2
    def zero: Array[Double] = new Array[Double](len)
    def reduce(b: Array[Double], v: Seq[Double]): Array[Double] = {
      b(0) += 1.0
      var i = 0
      while (i < d) { b(1 + i) += v(i); i += 1 }
      var idx = 1 + d
      i = 0
      while (i < d) {
        var j = i
        while (j < d) { b(idx) += v(i) * v(j); idx += 1; j += 1 }
        i += 1
      }
      b
    }
    def merge(a: Array[Double], b: Array[Double]): Array[Double] = {
      var i = 0
      while (i < len) { a(i) += b(i); i += 1 }
      a
    }
    def finish(b: Array[Double]): Array[Double] = b
    def bufferEncoder: Encoder[Array[Double]] =
      ExpressionEncoder[Array[Double]]()
    def outputEncoder: Encoder[Array[Double]] =
      ExpressionEncoder[Array[Double]]()
  }

  /** Cyclic Jacobi eigensolver for a symmetric matrix (Golub & Van Loan
    * §8.5): sweep the upper triangle in fixed (p,q) order, rotating until
    * the off-diagonal norm vanishes. Deterministic — fixed sweep order,
    * no pivot search ties — and O(d³) per sweep on a d×d DRIVER-side
    * matrix (d = embedding dim, never corpus-sized; the localKMeans
    * precedent for bounded driver math). Returns (eigenvalues,
    * eigenvector columns), unsorted.
    */
  private[llm] def jacobiEigen(cov: Array[Array[Double]],
                               maxSweeps: Int = 50)
      : (Array[Double], Array[Array[Double]]) = {
    val d = cov.length
    val a = Array.tabulate(d, d)((i, j) => cov(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm: Double = {
      var s = 0.0; var i = 0
      while (i < d) {
        var j = i + 1
        while (j < d) { s += a(i)(j) * a(i)(j); j += 1 }
        i += 1
      }
      math.sqrt(s)
    }
    var sweep = 0
    while (sweep < maxSweeps && offNorm > 1e-13) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = a(p)(q)
          if (math.abs(apq) > 1e-300) {
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
            // sign(0) must be +1 here: equal diagonals need the full 45°
            // rotation, not the identity
            val t = (if (theta >= 0) 1.0 else -1.0) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              k += 1
            }
            k = 0
            while (k < d) {
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** PCA whitening — the standard embedding post-processing step before
    * quantization or indexing (centers, rotates to the eigenbasis, and
    * equalizes per-direction variance; e.g. the OPQ/whitened-PQ
    * pipelines): x' = Λ^(−1/2) Vᵀ (x − μ). Covariance via ONE distributed
    * pass of [[CovAcc]]; eigendecomposition via [[jacobiEigen]] on the
    * d×d driver matrix; the transform is a broadcast d×d matmul applied
    * map-side — the corpus is read once and never shuffled. Components
    * are sorted by descending eigenvalue and sign-fixed (largest-|entry|
    * coordinate made positive) so the basis is canonical; directions
    * whose eigenvalue falls below `eps` are kept at zero scale instead of
    * exploding (rank-deficient corpora).
    */
  def pcaWhiten(embeddings: DataFrame, idCol: String = "vec_id",
                vecCol: String = "embedding", dim: Int = 64,
                eps: Double = 1e-9): DataFrame = {
    val sess = embeddings.sparkSession
    import sess.implicits._
    val vecs = embeddings.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"))
    val covUdaf = udaf(new CovAcc(dim), ExpressionEncoder[Seq[Double]]())
    val st = vecs.agg(covUdaf(col("v")).as("m")).head().getSeq[Double](0)
    val n = st(0)
    require(n > 0, "pcaWhiten: empty corpus")
    val mu = Array.tabulate(dim)(i => st(1 + i) / n)
    val cov = Array.ofDim[Double](dim, dim)
    var idx = 1 + dim
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) {
        val c = st(idx) / n - mu(i) * mu(j)
        cov(i)(j) = c; cov(j)(i) = c
        idx += 1; j += 1
      }
      i += 1
    }
    val (evalsRaw, evecs) = jacobiEigen(cov)
    val order = (0 until dim).sortBy(k => (-evalsRaw(k), k))
    val w = Array.ofDim[Double](dim, dim) // row k = v_k^T / sqrt(λ_k)
    order.zipWithIndex.foreach { case (k, row) =>
      val lam = evalsRaw(k)
      val scale = if (lam > eps) 1.0 / math.sqrt(lam) else 0.0
      val colK = Array.tabulate(dim)(r => evecs(r)(k))
      // canonical sign: the largest-|entry| coordinate (first on ties)
      // points positive
      var best = 0
      var bi = 1
      while (bi < dim) {
        if (math.abs(colK(bi)) > math.abs(colK(best))) best = bi
        bi += 1
      }
      val sgn = if (colK(best) < 0) -1.0 else 1.0
      var r = 0
      while (r < dim) { w(row)(r) = sgn * scale * colK(r); r += 1 }
    }
    vecs.as[(Long, Seq[Double])].map { case (vid, xs) =>
      val centered = Array.tabulate(dim)(r => xs(r) - mu(r))
      val out = Array.tabulate(dim) { row =>
        var s = 0.0; var r = 0
        while (r < dim) { s += w(row)(r) * centered(r); r += 1 }
        s
      }
      (vid, out.toSeq)
    }.toDF(idCol, "white")
  }

  /** Embedding-cosine near-duplicates: same-bucket pairs with cosine above
    * `threshold` — the embedding-space analog of MinHash dedup. Same
    * self-equi-join candidate formulation and corpus-scaled bucket space as
    * lshKnn (`planes = 0` → planesFor), never an all-pairs comparison and
    * never a per-bucket collect.
    */
  def cosineNearDups(embeddings: DataFrame, idCol: String = "vec_id",
                     vecCol: String = "embedding",
                     planes: Int = 0, tables: Int = 4,
                     threshold: Double = 0.95, dim: Int = 64,
                     corpusSize: Long = 0L): DataFrame = {
    val (vecs, p) = resolveBuckets(
      embeddings.select(col(idCol).as("vid"),
        col(vecCol).cast("array<double>").as("v")),
      planes, corpusSize)
    val b = lshBuckets(vecs, p, tables, dim).select("vid", "table", "bucket")
    b.toDF("id_a", "table", "bucket")
      .join(b.toDF("id_b", "table", "bucket"), Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
      .join(vecs.toDF("id_a", "va"), Seq("id_a"))
      .join(vecs.toDF("id_b", "vb"), Seq("id_b"))
      .select(col("id_a"), col("id_b"), cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Hard-negative mining for contrastive embedding training (the data
    * prep behind DPR/SimCSE-style training sets): for each anchor, the
    * top-k most-similar vectors INSIDE a cosine window [floor, ceiling) —
    * above the floor so the negative is actually hard (random negatives
    * teach nothing), below the ceiling so near-duplicates of the anchor
    * (likely unlabeled positives) are excluded. Returns (query_id,
    * neighbor_id, rank, cos).
    *
    * Scale shape: anchors are a bounded training-batch-sized set, so this
    * is the knn_cosine plan — anchors broadcast, corpus scanned map-side
    * (never shuffled), TopK partial aggregate bounding the shuffle to
    * k rows per anchor per partition.
    */
  def hardNegatives(embeddings: DataFrame, nAnchors: Int = 20, k: Int = 5,
                    floor: Double = 0.2, ceiling: Double = 0.9,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding"): DataFrame = {
    require(floor < ceiling, s"empty cosine window [$floor, $ceiling)")
    val vecs = embeddings.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"))
    val anchors = vecs.filter(col("vid") < nAnchors).toDF("query_id", "qv")
    val scored = vecs.join(broadcast(anchors), col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid"),
        cosine(col("qv"), col("v")).as("cos"))
      .filter(col("cos") >= floor && col("cos") < ceiling)
    topKPerGroup(scored, "query_id", "vid", "cos", k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("score").as("cos"))
  }

  /** Semantic decontamination — the embedding-space analog of the n-gram
    * decontaminate: corpus vectors semantically close to ANY benchmark
    * vector (`benchPred` marks the benchmark rows). Returns one row per
    * CONTAMINATED corpus vector: (idCol, n_bench_hits, max_cos).
    *
    * Scale shape: the benchmark side of a decontamination pass is SMALL
    * (an eval set — thousands of rows against a 100 TB corpus), so the
    * right plan is EXACT brute force against a broadcast of the benchmark
    * vectors: the corpus is scanned map-side and never shuffled; only the
    * (tiny) above-threshold hit set enters the final keyed aggregate.
    * Deliberately NOT the LSH-bucketed candidate join the near-dup ops
    * use: at decontamination thresholds well below near-dup cosine,
    * hyperplane-banding recall collapses, and a missed contamination is a
    * benchmark leak into training data — exactness is the point.
    */
  def semanticDecontaminate(embeddings: DataFrame, benchPred: Column,
                            threshold: Double,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val marked = embeddings.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"), benchPred.as("is_bench"))
    val bench = marked.filter(col("is_bench"))
      .select(col("vid").as("bench_id"), col("v").as("bv"))
    marked.filter(!col("is_bench"))
      .crossJoin(broadcast(bench))
      .select(col("vid"), cosine(col("v"), col("bv")).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("vid"))
      .agg(count(lit(1)).as("n_bench_hits"), max(col("cos")).as("max_cos"))
      .withColumnRenamed("vid", idCol)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): treat
    * embedding-cosine near-duplicate pairs as edges of a duplicate graph,
    * take connected components, and keep ONE canonical survivor (the
    * minimum id) per component. The per-pair "drop the larger id" rule
    * over-keeps whenever a component member's only edges point to larger
    * ids; components give the same one-survivor-per-cluster semantics the
    * MinHash text path (`Dedup.cleanCorpus`) uses.
    *
    * Output: one row per SURVIVING vector — (idCol, dups_removed) where
    * dups_removed is how many component members were dropped in its favor
    * (0 for vectors in no near-dup pair).
    *
    * Plan shape at 100 TB: candidate pairs come from the corpus-scaled LSH
    * bucket self-equi-join (never all-pairs), the component fixpoint runs
    * O(log diameter) keyed rounds over the (small) dup graph only, and the
    * final survivor selection is one broadcast-able left join against the
    * corpus — the corpus itself is never shuffled.
    */
  def semanticDedup(embeddings: DataFrame, idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    planes: Int = 0, tables: Int = 4,
                    threshold: Double = 0.95, dim: Int = 64,
                    corpusSize: Long = 0L): DataFrame = {
    val pairs = cosineNearDups(embeddings, idCol, vecCol, planes, tables,
      threshold, dim, corpusSize)
    val labels = Dedup.componentMinLabels(pairs)
    val clusterSizes = labels.groupBy(col("label"))
      .agg((count(lit(1)) - 1).as("dups_removed"))
      .withColumnRenamed("label", "cluster_label")
    embeddings.select(col(idCol))
      .join(labels, col(idCol) === col("node"), "left")
      .filter(col("node").isNull || col("label") === col(idCol))
      .join(clusterSizes, col(idCol) === col("cluster_label"), "left")
      .select(col(idCol),
        coalesce(col("dups_removed"), lit(0L)).as("dups_removed"))
  }

  /** Incremental semantic dedup — the embedding-space twin of
    * Dedup.incrementalNearDups: flag each NEW-batch vector whose cosine
    * against any ALREADY-STORED corpus vector reaches `threshold`.
    * Returns one row per flagged batch vector:
    * (new_id, n_corpus_dups, max_cos).
    *
    * Scale shape: the batch is LSH-bucketed and equi-joined against the
    * STORED corpus bucket index (`lshBuckets` over the corpus — the
    * persistent relation a vector store keeps next to its vectors, a
    * few rows of (id, table, bucket) per vector), so per-ingest cost is
    * O(batch) hashing + one index equi-join; the exact-cosine verify
    * re-reads only the corpus vectors that produced a candidate (a
    * semi-join prune before the verify join), and the corpus is never
    * self-joined. count/max/min are order-independent-exact, so the
    * rows hash (the embed_decontaminate precedent); `dup_of` is the
    * MINIMUM flagged corpus id — a deterministic duplicate witness for
    * audit records (an argmax-cosine witness would tie-break
    * nondeterministically on equal cosines).
    */
  def incrementalSemanticDedup(newVecs: DataFrame, corpus: DataFrame,
                               corpusBuckets: DataFrame,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding",
                               planes: Int = 8, tables: Int = 4,
                               threshold: Double = 0.95,
                               dim: Int = 64): DataFrame = {
    val nv = newVecs.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"))
    val cv = corpus.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"))
    val cand = lshBuckets(nv, planes, tables, dim)
      .select(col("vid").as("new_id"), col("table"), col("bucket"))
      // select-by-name before renaming: a stored index parquet whose
      // column ORDER differs from the writer's must error, not silently
      // misassign (a positional toDF would).
      .join(corpusBuckets.select(col("vid").as("corpus_id"),
          col("table"), col("bucket")),
        Seq("table", "bucket"))
      .select("new_id", "corpus_id").distinct()
    val touched = cv.join(cand.select(col("corpus_id").as("vid")),
      Seq("vid"), "left_semi")
    cand
      .join(nv.toDF("new_id", "va"), Seq("new_id"))
      .join(touched.toDF("corpus_id", "vb"), Seq("corpus_id"))
      .select(col("new_id"), col("corpus_id"),
        cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= threshold)
      .groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_corpus_dups"), max(col("cos")).as("max_cos"),
        min(col("corpus_id")).as("dup_of"))
  }

  /** Symmetric per-vector int8 quantization — the storage/bandwidth lever
    * of a 100 TB vector store: scale = max |v_i| per vector, codes
    * q_i = clamp(⌊v_i·127/scale + ½⌋, ±127), a 4× shrink against float32
    * (8× against the cast-to-double working form) that turns ANN scoring
    * into integer dot products. Entirely map-side — no shuffle, no state.
    *
    * Determinism contract (what makes the codes oracle-comparable): the
    * scale is an exact max of exact casts, the scaled value is two IEEE
    * double ops applied in a fixed order, and the round is ⌊x + ½⌋ —
    * floor is exact, whereas a bankers'-rounding `round` differs between
    * engines on ties. Returns (idCol, s, qv array<int>).
    */
  def quantizeInt8(embeddings: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame =
    embeddings
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("s", array_max(transform(col("v"), x => abs(x))))
      .select(col(idCol), col("s"),
        when(col("s") === 0.0,
          transform(col("v"), _ => lit(0)))
          .otherwise(transform(col("v"), x =>
            greatest(lit(-127), least(lit(127),
              floor(x * lit(127.0) / col("s") + lit(0.5)).cast("int")))))
          .as("qv"))

  /** Distributed Lloyd's k-means over the embedding column in FIXED-POINT
    * INTEGER arithmetic — the third member of the engine's exact-iterative
    * family next to pageRank and componentMinLabels, and the trainer
    * behind every IVF/PQ-style index at scale. Floating-point k-means can
    * never be compared across engines (the centroid mean re-associates);
    * here inputs are quantized to 2^20 fixed point, shifted non-negative
    * (valid while |x| ≤ 1) so truncating and floor division agree, and
    * every centroid component is an exact integer sum followed by one
    * integer division — deterministic under any partitioning and
    * bit-replayable by a DuckDB recursive CTE, making a clustering
    * algorithm oracle-checkable END TO END (init, every assignment
    * round, every update, empty-cluster carry).
    *
    * Per iteration: one map-side assignment against BROADCAST-LITERAL
    * centroids (k·dim distance folds per row, no shuffle), one keyed
    * (k, dim) integer aggregate (partial+final), and a k·dim-row collect
    * — the model is driver-bounded like the BPE vocab, the corpus never
    * leaves the executors. Assignment ties break to the lowest k; empty
    * clusters keep their previous centroid.
    */
  private def kmeansCore(embeddings: DataFrame, idCol: String,
                         vecCol: String, k: Int, iters: Int)
      : (Array[Array[Long]], DataFrame) = {
    val SHIFT = 1048576L
    // the fixed-point contract is |x| <= 1 (normalized embeddings):
    // beyond it the squared-distance folds overflow BIGINT as a deep
    // ANSI error inside an executor. Fail fast with the actual contract
    // instead (one pushed-filter + limit(1) scan; the loop below scans
    // 2x per iteration, so the check is marginal cost).
    val outOfRange = embeddings
      .filter(exists(col(vecCol).cast("array<double>"),
        x => abs(x) > lit(1.0)))
      .limit(1).count()
    require(outOfRange == 0L,
      s"fixed-point k-means requires |$vecCol| components <= 1 " +
        "(normalize embeddings first); found a vector outside the range")
    val xq = embeddings.select(col(idCol).as("vid"),
        transform(col(vecCol).cast("array<double>"),
          x => floor(x * lit(1048576.0) + lit(0.5)).cast("long") +
            lit(SHIFT)).as("xq"))
      .transform(graft.Ckpt.cut(_)) // scanned every round: materialize once
    var cents: Array[Array[Long]] = xq.filter(col("vid") < k)
      .collect().sortBy(_.getLong(0))
      .map(_.getSeq[Long](1).toArray)
    require(cents.length == k, s"need vectors with $idCol 0..${k - 1} as seeds")
    var it = 0
    while (it < iters) {
      val stats = assignTo(xq, cents)
        .select(col("k"), posexplode(col("xq")))
        .groupBy(col("k"), col("pos"))
        .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone()) // empty clusters carry the old value
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getLong(2) / r.getLong(3)
      }
      cents = next
      it += 1
    }
    (cents, xq)
  }

  /** Map-side argmin assignment against literal centroids: one struct
    * array per row, array_min's lexicographic (distance, k) order IS the
    * tie-break-to-lowest-k rule.
    */
  private def assignTo(xq: DataFrame, cents: Array[Array[Long]]): DataFrame = {
    val dists = cents.indices.map { kk =>
      struct(
        aggregate(zip_with(col("xq"), typedlit(cents(kk).toSeq),
          (a, b) => (a - b) * (a - b)), lit(0L), (acc, v) => acc + v).as("d"),
        lit(kk).as("k"))
    }
    xq.select(col("vid"), col("xq"),
      array_min(array(dists: _*)).getField("k").as("k"))
  }

  /** Final centroids as (k, i, c) rows in the UNSHIFTED fixed-point space
    * — the exact model the oracle's recursive CTE reproduces.
    */
  def kmeansCentroids(embeddings: DataFrame, idCol: String = "vec_id",
                      vecCol: String = "embedding", k: Int = 8,
                      iters: Int = 5): DataFrame = {
    val (cents, xq) = kmeansCore(embeddings, idCol, vecCol, k, iters)
    graft.Ckpt.release(xq)
    val spark = embeddings.sparkSession
    import spark.implicits._
    cents.indices.flatMap { kk =>
      cents(kk).indices.map(i => (kk, i, cents(kk)(i) - 1048576L))
    }.toDF("k", "i", "c")
  }

  /** Final hard assignment (vec_id, k) against the trained centroids —
    * the distributed half of the model, one map-side pass.
    */
  def kmeansAssignments(embeddings: DataFrame, idCol: String = "vec_id",
                        vecCol: String = "embedding", k: Int = 8,
                        iters: Int = 5): DataFrame = {
    val (cents, xq) = kmeansCore(embeddings, idCol, vecCol, k, iters)
    assignTo(xq, cents).select(col("vid").as(idCol), col("k"))
  }

  /** Davies–Bouldin index (Davies & Bouldin 1979) of the trained k-means
    * clustering — the standard internal clustering-quality readout (lower
    * = tighter, better-separated clusters), here EXACT enough to
    * hash-compare: all moments are integer sums in the kmeansCore 2^20
    * fixed-point space (per-cluster size and within-cluster squared
    * scatter; centroid-pair squared gaps), and every float that follows —
    * S_i = sqrt(ss_i/n_i), M_ij = sqrt(gap), R_ij = (S_i+S_j)/M_ij,
    * D_i = max_j R_ij, DB = (ordered fold of D_i)/k — is a fixed
    * sequence of correctly-rounded IEEE ops (÷ and √ are exactly rounded
    * by both engines; the final mean folds in ascending-k order, the
    * per-row double-sum convention).
    *
    * Scale shape: one extra map-side pass over the checkpointed
    * quantized corpus (distance to the OWN assigned centroid via a
    * k-entry literal lookup) and one k-row keyed aggregate; the k×k
    * R-matrix and the fold are driver arithmetic on the k-bounded model.
    * Returns one row per cluster (k, n, ss, s_i, d_i) with the shared
    * `db` scalar repeated — the whole table hash-compares.
    */
  def kmeansDaviesBouldin(embeddings: DataFrame, idCol: String = "vec_id",
                          vecCol: String = "embedding", k: Int = 8,
                          iters: Int = 5): DataFrame = {
    val (cents, xq) = kmeansCore(embeddings, idCol, vecCol, k, iters)
    val centArr = array(cents.map(c => typedlit(c.toSeq)): _*)
    val d2 = aggregate(
      zip_with(col("xq"), element_at(centArr, col("k") + 1),
        (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, v) => acc + v)
    val stats = assignTo(xq, cents)
      .select(col("k"), d2.as("d2"))
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("d2")).as("ss"))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    graft.Ckpt.release(xq)
    val s = (0 until k).map { i =>
      val (n, ss) = stats.getOrElse(i, (0L, 0L))
      if (n == 0L) 0.0 else math.sqrt(ss.toDouble / n)
    }
    def gap(i: Int, j: Int): Long =
      cents(i).indices.map { d =>
        val diff = cents(i)(d) - cents(j)(d); diff * diff
      }.sum
    val dI = (0 until k).map { i =>
      (0 until k).filter(_ != i).map { j =>
        (s(i) + s(j)) / math.sqrt(gap(i, j).toDouble)
      }.max
    }
    val db = dI.foldLeft(0.0)(_ + _) / k
    val spark = embeddings.sparkSession
    import spark.implicits._
    (0 until k).map { i =>
      val (n, ss) = stats.getOrElse(i, (0L, 0L))
      (i, n, ss, s(i), dI(i), db)
    }.toDF("k", "n", "ss", "s_i", "d_i", "db")
  }

  /** Deterministic ±1 sign for the (outDim j, inDim i) cell of the random
    * projection matrix: splitmix64 of the cell index, low bit. Driver-side
    * like [[hyperplane]]; the oracle embeds the SAME literals, so the two
    * sides cannot disagree on the matrix.
    */
  def rpSign(j: Int, i: Int): Long = {
    var z = j.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xC2B2AE3D27D4EB4FL +
      0x165667B19E3779F9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    if ((z & 1L) == 0L) 1L else -1L
  }

  /** Johnson–Lindenstrauss random projection to `outDim` dimensions with a
    * dense ±1 sign matrix (Achlioptas 2003 shows signs lose nothing vs
    * Gaussians) — the dimensionality-reduction lever in front of every
    * downstream ANN/clustering pass: at 100 TB, shrinking 64 floats to 16
    * integers before an LSH or k-means stage cuts that stage's shuffle
    * and memory footprint 4× while JL bounds pairwise-distance distortion
    * by O(1/√outDim).
    *
    * Exactness recipe: inputs are quantized to integers at 2^20 (floor(x·2^20
    * + ½) — exact), so each output component y_j = Σ_i xq_i·s_ji is a pure
    * BIGINT sum — order-independent under any partitioning, bit-replayable
    * in SQL, no float fold anywhere. |y| ≤ dim·2^20·max|x|, far inside
    * BIGINT. Entirely map-side: literal matrix, no shuffle, no state.
    *
    * Returns (idCol, j, y) exploded — integer rows, hash-comparable.
    */
  def randomProject(embeddings: DataFrame, idCol: String = "vec_id",
                    vecCol: String = "embedding", outDim: Int = 16,
                    dim: Int = 64): DataFrame = {
    val xq = transform(col(vecCol).cast("array<double>"),
      x => floor(x * lit(1048576.0) + lit(0.5)).cast("long"))
    val comps = (0 until outDim).map { j =>
      val signs = typedlit((0 until dim).map(i => rpSign(j, i)))
      aggregate(zip_with(col("xq"), signs, (a, b) => a * b),
        lit(0L), (acc, v) => acc + v)
    }
    embeddings.select(col(idCol), xq.as("xq"))
      .select(col(idCol), posexplode(array(comps: _*)))
      .select(col(idCol), col("pos").as("j"), col("col").as("y"))
  }

  /** Exact top-k under the int8 integer dot product — the search half of
    * [[quantizeInt8]]: queries are the vectors with id < nQueries, scores
    * are Σ qa_i·qb_i (pure integer, order-independent, ≤ dim·127² so far
    * inside exact-double range for the TopK comparator). Same plan as
    * bruteForceKnn: queries broadcast, corpus scanned map-side and never
    * shuffled, TopK partial-aggregates bound the shuffle to k rows per
    * query per partition.
    */
  def int8Knn(embeddings: DataFrame, idCol: String = "vec_id",
              vecCol: String = "embedding", nQueries: Int = 20,
              k: Int = 10): DataFrame = {
    // Quantize the UNIT-normalized vector: the integer dot then tracks
    // cosine directly. Quantizing raw vectors ranks by unnormalized dot
    // product — norm leaks into the score (measured recall@10 vs cosine truth at
    // sf0.01: 0.985 normalized+dequantized, 0.74 raw). The division is one
    // IEEE double op per element and the norm is the engine's standard
    // sequential i-order fold, so codes stay oracle-exact.
    val unit = embeddings
      .select(col(idCol), col(vecCol).cast("array<double>").as("v0"))
      .select(col(idCol), col("v0"), l2norm(col("v0")).as("nrm"))
      .select(col(idCol),
        transform(col("v0"), x => x / col("nrm")).as("v"))
    // Score = DEQUANTIZED dot: (Σ qa_i·qb_i)·sa·sb. The integer dot alone
    // ranks by cos/(sa·sb) — the per-vector scales leak into cross-vector
    // comparisons and recall@10 drops to 0.74; multiplying the two scalar
    // scales back restores score ≈ cos up to quantization noise (the ADC
    // convention). Two IEEE multiplies on an exactly-converted int, so
    // the ranking stays oracle-replayable.
    val q = quantizeInt8(unit, idCol, "v")
      .select(col(idCol).as("vid"), col("s"), col("qv"))
    val queries = q.toDF("query_id", "sa", "qa").filter(col("query_id") < nQueries)
    val scored = q.join(broadcast(queries), col("vid") =!= col("query_id"))
      .select(col("query_id"), col("vid"),
        (aggregate(zip_with(col("qa"), col("qv"), (a, b) => a * b),
          lit(0), (acc, x) => acc + x).cast("double") *
          col("sa") * col("s")).as("sim"))
    topKPerGroup(scored, "query_id", "vid", "sim", k)
      .select(col("query_id"), col("neighbor_id"), col("rank"),
        col("score"))
  }
}
