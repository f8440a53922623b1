package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Similarity search over an embedding column (`Array[Float]`) —
  * beyond-reference extension set: brute-force cosine top-k as the
  * correctness baseline, random-hyperplane LSH bucketing as the scale
  * path.
  *
  * Numeric determinism: dot products and norms are IN-ORDER left
  * folds of exact double products (float×float widened to double is
  * exact — 24-bit mantissas multiply into 48 < 53 bits), so Spark's
  * `aggregate` and DuckDB's `list_reduce` produce bit-identical
  * doubles, and cosine = dot/(sqrt·sqrt) is bit-identical too. No
  * decimal rounding anywhere.
  *
  * Scale posture (100 TB): brute-force top-k is a broadcast
  * nested-loop of a SMALL query set against the corpus — linear scans
  * parallelize perfectly, no shuffle on the big side. The LSH variant
  * turns all-pairs search into one shuffle on an 8-bit bucket key;
  * within-bucket verification is Σ bucket², not corpus². An IVF
  * variant would swap the hyperplane bucketer for k-means centroid
  * assignment — same plan shape.
  */
object Similarity {

  /** In-order dot product of two float-array columns, in exact
    * doubles — the native codegen'd `graft.functions.VectorDot`
    * (registered by `GraftSession` via `GraftExtensions`), which is
    * bit-identical to [[dotDeclarative]] but allocation-free per row.
    */
  def dot(a: Column, b: Column): Column = call_function("vector_dot", a, b)

  /** The pure-builtin twin of [[dot]] (zip_with + in-order aggregate):
    * used by the parity spec, and by sessions without GraftExtensions.
    */
  def dotDeclarative(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
      lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** L2 norm — precompute ONCE PER ROW before a join/self-join and
    * feed [[cosineWithNorms]]: cosine(q, e) recomputed per pair costs
    * |Q|·|C| norm evaluations where |Q|+|C| suffice. Bit-identical to
    * [[cosine]] (sqrt of the same double, just computed earlier).
    */
  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosineWithNorms(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Random-hyperplane LSH bucket id in [0, 2^planes): bit j is the
    * sign of the projection onto hyperplane j, whose ±1 weight for
    * dimension i is pure integer mixing shared with the oracle:
    * ((i*1103515245 + j*12345) mod 65537) mod 2 == 0 → +1 else -1.
    */
  def lshBucket(emb: Column, planes: Int): Column =
    call_function("lsh_bucket", emb, lit(planes)) // native (graft.functions.LshBucket)

  /** Brute-force cosine top-k: each query vector (selected by
    * `queryPred`) against the whole corpus. The query side is tiny →
    * broadcast; the corpus side streams map-side.
    */
  def cosineTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val q = emb.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        norm(col("embedding")).as("q_norm"))
    val cand = emb.select(col("vec_id"), col("embedding"), col("label"),
      norm(col("embedding")).as("c_norm"))
    val scored = cand
      .join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id"), col("label"),
        cosineWithNorms(col("q_emb"), col("embedding"), col("q_norm"), col("c_norm")).as("cos"))
    val rank = row_number().over(
      Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id")))
    // BIGINT like DuckDB ROW_NUMBER (driver schema compare is strict)
    scored.withColumn("rank", rank.cast("long")).filter(col("rank") <= k)
  }

  /** LSH-bucketed ANN: top-1 in-bucket neighbor per query vector plus
    * the bucket occupancy — the approximate counterpart of
    * [[cosineTopK]] (recall trades against the 2^planes-way pruning).
    */
  def annLsh(emb: DataFrame, queryPred: Column, planes: Int): DataFrame = {
    val bucketed = emb.select(
      col("vec_id"), col("embedding"),
      norm(col("embedding")).as("v_norm"),
      lshBucket(col("embedding"), planes).as("bucket"))
    val bucketSize = Window.partitionBy("bucket")
    val q = bucketed.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("v_norm").as("q_norm"), col("bucket"))
    val scored = bucketed
      .withColumn("bucket_size", count(lit(1)).over(bucketSize))
      .join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("bucket"), col("bucket_size"), col("vec_id"),
        cosineWithNorms(col("q_emb"), col("embedding"), col("q_norm"), col("v_norm")).as("cos"))
    val rank = row_number().over(
      Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id")))
    scored.withColumn("rank", rank).filter(col("rank") === 1).drop("rank")
  }

  /** Embedding near-duplicate pairs: cosine >= `minCos` among pairs
    * sharing an LSH bucket (blocking keeps the pair count linear-ish).
    */
  /** Data-scaled plane count for near-dup LSH blocking: smallest
    * p in [3, 24] with 2^p >= ceil(n/256), i.e. the bucket COUNT
    * grows with the corpus so the EXPECTED bucket size stays ~256.
    * The IVF k = sqrt(N) lesson applied to LSH blocking: a FIXED
    * plane count makes the pair work (sum of bucket^2) quadratic in
    * n — measured 16x on the 10x sf0.1 -> sf1 step before this —
    * while a scaled count holds per-bucket pair work constant, so
    * total pair work grows ~linearly. Bit j of a bucket id depends
    * only on plane j, so the p-plane bucket IS the low p bits of the
    * 24-plane bucket — which is how the SQL twin computes it (one
    * static 24-plane expression masked by a scalar modulus CTE).
    *
    * The floor is 3, not the historical 6 (r16): a floor that binds
    * UNDER-FILLS buckets below n ~ 16k, so a 10x step out of the
    * floor region grows pair work super-linearly (measured 13.2x on
    * a clean host at sf0.1 -> sf1 — the r15 matrices masked it
    * because their sf0.1 leg ran hot). With the avg-256 target held
    * at every scale the step measures ~6x, and small corpora only
    * gain candidate recall.
    */
  def planesFor(n: Long): Int = {
    val target = (n + 255L) / 256L
    var p = 3
    while (p < 24 && (1L << p) < target) p += 1
    p
  }

  def embeddingNearDupPairs(emb: DataFrame, planes: Int, minCos: Double): DataFrame = {
    val bucketed = emb.select(
      col("vec_id"), col("embedding"),
      norm(col("embedding")).as("v_norm"),
      lshBucket(col("embedding"), planes).as("bucket"))
    val a = bucketed.as("a")
    val b = bucketed.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(
        col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("a.bucket").as("bucket"),
        cosineWithNorms(col("a.embedding"), col("b.embedding"),
          col("a.v_norm"), col("b.v_norm")).as("cos"))
      .filter(col("cos") >= minCos)
  }
}
