package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search over `embeddings(vec_id, embedding
  * array<float>, label)`.
  *
  * Brute-force cosine top-k is the exact baseline (one broadcast of the
  * query vector; the scan stays columnar and the top-k is
  * TakeOrderedAndProject — no global sort). The LSH path (random
  * hyperplane signatures) restricts the exact computation to one bucket:
  * at 100 TB the bucket join shuffles only (bucket, vec_id) pairs and the
  * per-bucket candidate set is ~n/2^bits.
  *
  * Arithmetic is pinned for oracle parity: elements are cast to double
  * BEFORE multiply/accumulate, and sums run left-to-right — bit-identical
  * in any engine evaluating the same sequential expression.
  */
object Similarity {

  /** Σ aᵢ·bᵢ with double accumulation in array order — codegen'd custom
    * expression (VectorOps.DotProduct); numerically identical to the HOF
    * zip_with+aggregate formulation but ~an order of magnitude faster.
    */
  def dot(a: Column, b: Column): Column = VectorOps.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val den = norm(a) * norm(b)
    when(den > 0, d / den).otherwise(0.0)
  }

  /** Exact cosine top-k against one query vector (vec_id = queryId). */
  def bruteForceTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val q = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    embeddings.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), graft.Num.r(cosine(col("embedding"), col("q_embedding")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Batch kNN join: top-k neighbors for EVERY query vector in one pass —
    * broadcast the (small) query set, one corpus scan computing
    * per-(query, candidate) cosine, then the bounded TopKAgg per query:
    * O(queries·k) aggregation state, no per-group sort, no window. This
    * is the bulk-scoring shape of a retrieval pipeline; at 100 TB the
    * corpus is scanned once regardless of how many queries ride the
    * broadcast.
    */
  def knnJoin(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val queries = embeddings.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"))
    embeddings.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.Num.r(cosine(col("embedding"), col("q_embedding")), 6).as("cos_sim"))
      .groupBy(col("q_id"))
      .agg(TopK.topK(col("cos_sim"), col("vec_id"), k).as("top"))
      .select(col("q_id"), explode(col("top")).as("e"))
      .select(col("q_id"), col("e.id").as("vec_id"), col("e.score").as("cos_sim"))
  }

  /** Hard-negative mining (contrastive-training data op): for every
    * query vector, the k nearest embeddings whose LABEL DIFFERS from the
    * query's — the "looks similar, is a different class" rows a
    * contrastive or reranker trainer wants as negatives. Same one-scan
    * shape as knnJoin: the query set (vectors + labels) broadcasts, the
    * corpus is scanned once, the label-mismatch predicate runs map-side
    * in the scan stage, and the bounded TopKAgg keeps O(queries·k) state.
    */
  def hardNegatives(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val queries = embeddings.filter(col("vec_id").isInCollection(queryIds))
      .select(col("vec_id").as("q_id"), col("embedding").as("q_embedding"),
        col("label").as("q_label"))
    embeddings.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
      .select(col("q_id"), col("q_label"), col("vec_id"), col("label"),
        graft.Num.r(cosine(col("embedding"), col("q_embedding")), 6).as("cos_sim"))
      .groupBy(col("q_id"), col("q_label"))
      .agg(TopK.topK(col("cos_sim"), col("vec_id"), k).as("top"))
      .select(col("q_id"), col("q_label"), explode(col("top")).as("e"))
      .select(col("q_id"), col("q_label"), col("e.id").as("vec_id"),
        col("e.score").as("cos_sim"))
  }

  /** Random-hyperplane signature: one bit per plane = sign(v·plane).
    * Planes come from the data itself (vec_id in [1, 1+bits)) so the
    * construction is deterministic and oracle-expressible.
    *
    * The plane set is tiny and fixed, so it is collected once and inlined
    * as array literals — the signature becomes a pure projection (no
    * crossJoin, no groupBy): zero shuffles before the bucket join itself.
    */
  def lshSignature(embeddings: DataFrame, planeIds: Seq[Long]): DataFrame = {
    val bits = planes(embeddings, planeIds).map { pe =>
      when(dot(col("embedding"), typedLit(pe)) >= 0, "1").otherwise("0")
    }
    embeddings.select(col("vec_id"),
      concat(bits: _*).as("bucket"))
  }

  /** The plane vectors of [[lshSignature]], in plane-id order. */
  private def planes(embeddings: DataFrame, planeIds: Seq[Long]): Seq[Seq[Double]] =
    embeddings
      .filter(col("vec_id").isInCollection(planeIds))
      .select(col("vec_id"), col("embedding"))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq

  /** Approximate top-k: candidates share the query's LSH bucket. */
  def lshTopK(embeddings: DataFrame, queryId: Long, planeIds: Seq[Long], k: Int): DataFrame = {
    val sigs = lshSignature(embeddings, planeIds)
    val qSig = sigs.filter(col("vec_id") === queryId)
      .select(col("bucket").as("q_bucket"))
    val qVec = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    sigs.join(broadcast(qSig), col("bucket") === col("q_bucket"))
      .filter(col("vec_id") =!= queryId)
      .join(embeddings, Seq("vec_id"))
      .crossJoin(broadcast(qVec))
      .select(col("vec_id"), graft.Num.r(cosine(col("embedding"), col("q_embedding")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** All-pairs near-dup at cosine ≥ threshold, bucketed by LSH signature
    * (pairs in different buckets are skipped — the approximation both
    * engines share).
    */
  def nearDupPairs(embeddings: DataFrame, planeIds: Seq[Long], threshold: Double): DataFrame = {
    // The buckets are cells of CellKernel.pairsAbove. The bucket BIT
    // DECISIONS are the exact lshSignature expressions (dot(embedding,
    // plane) >= 0 per plane in sorted-pid order); the int encoding
    // Σ bitᵢ·2ⁱ is a bijection of the concat-string bucket, so the pair
    // partition is identical by construction (no plane: every row in
    // bucket 0, as the empty concat puts every row in bucket "").
    val bucketInt = planes(embeddings, planeIds).zipWithIndex.map { case (pe, i) =>
      when(dot(col("embedding"), typedLit(pe)) >= 0, lit(1 << i)).otherwise(lit(0))
    }.foldLeft(lit(0))(_ + _).cast("int")
    CellKernel.pairsAbove(
        embeddings.select(bucketInt.as("bucket"), col("vec_id"), col("embedding")), threshold)
      .select(col("vec_id").as("v1"), col("nbr_id").as("v2"), col("cos_sim"))
  }

  /** IVF top-k: coarse quantization by label centroid — probe the single
    * nearest centroid to the query, then run exact cosine only within
    * that partition (nprobe=1). At scale the centroid table is tiny and
    * broadcast; the candidate scan reads one inverted list (~n/k vectors)
    * instead of the corpus.
    */
  def ivfTopK(embeddings: DataFrame, queryId: Long, k: Int): DataFrame = {
    val centroids = labelCentroids(embeddings)
    val qVec = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))
    val probe = centroids.crossJoin(broadcast(qVec))
      .select(col("label"), cosine(col("centroid"), col("q_embedding")).as("c_sim"))
      .orderBy(col("c_sim").desc, col("label").asc)
      .limit(1)
      .select(col("label"))
    embeddings.join(broadcast(probe), Seq("label"))
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qVec))
      .select(col("vec_id"), col("label"),
        graft.Num.r(cosine(col("embedding"), col("q_embedding")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
  }

  /** Per-label centroids as arrays (coarse codebook). One hash aggregate
    * with the bounded vector-sum aggregate (VecSumAgg, same as the k-means
    * update step): each task holds one dim-double buffer per label and
    * ships one row per label — no dim× posexplode row expansion between
    * scan and aggregate. sums/n is the identical arithmetic to the
    * per-dimension avg it replaces.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .groupBy(col("label"))
      .agg(VecSum.vecSum(col("embedding")).as("vs"))
      .select(col("label"),
        transform(col("vs.sums"), s => s / col("vs.n").cast("double")).as("centroid"))

  /** Per-label centroid distance — centroid assignment quality view. */
  def labelCentroidSimilarity(embeddings: DataFrame): DataFrame =
    embeddings.join(broadcast(labelCentroids(embeddings)), Seq("label"))
      .select(col("vec_id"), col("label"),
        graft.Num.r(cosine(col("embedding"), col("centroid")), 6).as("centroid_sim"))
}
