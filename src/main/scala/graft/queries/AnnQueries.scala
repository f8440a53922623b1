package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}

import graft.Tables
import graft.ext.{BpeTrainer, Dedup, Graph, IvfIndex, IvfStore, Multimodal, PqIndex, RelationStore, Similarity, TextOps, TopK, ZOrder}

/** IVF ANN serving stack: train/store/probe, semantic dedup, recall audits, deletes/compaction, SQ8 + PQ/IVF-PQ
  * — split from the monolithic ExtQueries in r10; mixes into
  * [[ExtQueries]] (self-typed), which carries the oracle-strategy
  * contract and the `queries`/`oracleSql` registries.
  */
private[queries] trait AnnQueries { this: ExtQueries.type =>
  def xAnnIvf(spark: SparkSession, dir: String): DataFrame =
    annIvf(spark, dir, nprobe = 1)

  /** nprobe=2 — each query also searches its second-best cell: the
    * standard IVF recall knob (boundary queries whose true neighbor
    * landed across the cell border get a second chance) at exactly
    * 2× the probe cost, still never a full scan. Combined with the
    * index's own 2× boundary replication, measured recall@1 on the
    * cluster-free corpus is 0.60/0.68/0.53 at sf0.001/0.01/0.1
    * (`x_ann_recall` is the measurement). These FIXED-nprobe numbers
    * fell from r7's 0.80 when the cell count started scaling as √N
    * (more cells ⇒ 2 probes cover a smaller corpus fraction) — the
    * r8 trade that fixed the serving path's scale decay: production
    * probing follows the √N-scaled serving nprobe
    * ([[ivfServeNprobe]], `x_ann_novel_recall` 0.875 at sf0.1), while
    * this query keeps the 2-probe point as the fixed-cost diagnostic.
    */
  def xAnnIvfProbe2(spark: SparkSession, dir: String): DataFrame =
    annIvf(spark, dir, nprobe = 2)

  private[queries] val IvfKFloor = 12
  private[queries] val IvfIters = 10
  private[queries] val IvfAssign = 2
  private[queries] val IvfDim = 64

  /** IVF cell count for a corpus: k = max(12, round(√N)) — the
    * standard IVF sizing rule (cells ∝ √N keeps BOTH the probe cost
    * per query (nprobe·N/k rows) and the assignment cost per vector
    * (k cosines) growing as √N instead of one of them growing
    * linearly). r7 measured why a FIXED k cannot survive scale-up:
    * `x_ann_novel_recall` fell 0.875 → 0.625 as the corpus grew
    * 500 → 2000 rows under k=12. The count is one parquet
    * metadata-only job, memoized through [[IvfStore.kFor]] so k
    * shares the stored index's per-(JVM, corpus) build lifecycle —
    * serving k must equal the k the frozen index was built with, and
    * `IvfStore.reset()` invalidates both together (see kFor's
    * scaladoc for why this memo is correct where `pqServeC`'s was
    * not). The oracle derives the same k via the same
    * `FLOOR(SQRT(N) + 0.5)` chain (integer → IEEE sqrt → floor is
    * engine-identical, see [[ivfKSql]]).
    */
  private[queries] def ivfK(spark: SparkSession, dir: String): Int =
    IvfStore.kFor(dir)(
      math.max(IvfKFloor,
        math.floor(math.sqrt(Tables.embeddings(spark, dir).count().toDouble) + 0.5).toInt))

  /** The oracle's k — same formula, same IEEE ops, as a scalar
    * subquery usable anywhere in the training CTEs.
    */
  private[queries] val ivfKSql =
    s"GREATEST($IvfKFloor, CAST(FLOOR(SQRT(CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE)) + 0.5) AS BIGINT))"

  /** Data-scaled QUERY-SAMPLE modulus for the evaluation legs that
    * brute-force the corpus (exact top-k ground truth, exact-kNN
    * agreement): mod = max(base, N div targetQ), so the sampled query
    * count PINS at ~targetQ as the corpus grows instead of growing
    * with it. The r11 sf1 matrix measured why this matters — with the
    * r10 FIXED moduli the exact legs' cost was |Q|·N = N²/mod:
    * `x_ann_recall` hit 56× and `x_knn_bulk_agreement` 38× on the 10×
    * sf0.1→sf1 step. This is the same fixed-parameter-vs-data-scaled
    * lesson as r8's IVF k=√N and r10's LSH planesFor, applied to the
    * third family: evaluation sample sizes. (The SERVING paths were
    * already fine — the same matrix read every stored-index probe
    * query at ≤2×.) At small N the max() floor keeps the historical
    * sample (base) so low-SF results are unchanged. Memoized through
    * [[IvfStore.kFor]] — an eval sample must stay fixed against one
    * corpus snapshot, and `reset()` invalidates it with the index.
    */
  private[queries] def evalQueryMod(
      spark: SparkSession, dir: String, base: Int, targetQ: Int): Int =
    IvfStore.kFor(s"qmod:$base:$targetQ:$dir") {
      val n = Tables.embeddings(spark, dir).count()
      math.max(base.toLong, n / targetQ).toInt
    }

  /** The oracle's modulus — same integer chain (BIGINT count,
    * truncating div, greatest), as a scalar subquery.
    */
  private[queries] def evalQueryModSql(base: Int, targetQ: Int): String =
    s"GREATEST($base, (SELECT COUNT(*) FROM embeddings) // $targetQ)"

  /** The stored index's replicated-assignment relation for a corpus —
    * built at most once per (JVM, corpus) by [[graft.ext.IvfStore]],
    * then consumed as a parquet scan by every probe query.
    */
  private[queries] def ivfStored(spark: SparkSession, dir: String): IvfStore.StoredIndex = {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("v_norm", Similarity.norm(col("embedding"))) // once per vector
    IvfStore.ensure(emb, key = dir, k = ivfK(spark, dir), iters = IvfIters,
      nassign = IvfAssign, dim = IvfDim)
  }

  private[queries] def ivfAssigned(spark: SparkSession, dir: String): DataFrame =
    Tables.readStable(spark, ivfStored(spark, dir).assignedPath)

  /** The stored index's trained-centroid relation (c_id, c_emb,
    * c_norm) — the hyperparameter-sized half of the persisted index,
    * reloaded for OUT-OF-CORPUS query assignment.
    */
  private[queries] def ivfCentroids(spark: SparkSession, dir: String): DataFrame =
    Tables.readStable(spark, ivfStored(spark, dir).centroidsPath)

  private[queries] def annIvf(spark: SparkSession, dir: String, nprobe: Int,
      queryMod: Int = 100): DataFrame =
    annIvfProbe(ivfAssigned(spark, dir), nprobe, queryMod)

  /** Probe the stored index: query side = the stored rows of the
    * query vectors themselves (their top-`nprobe` assignment cells),
    * corpus side = every replicated row; one join on `cell`, score,
    * keep the best candidate. A replicated candidate can meet a query
    * in both shared cells with an identical cosine, so the ranking
    * tie-breaks on (vec_id, cell) to stay deterministic in both
    * engines.
    */
  private[queries] def annIvfProbe(assigned: DataFrame,
      nprobe: Int, queryMod: Int): DataFrame = {
    val q = assigned
      .filter(col("vec_id") % queryMod === 0 && col("cell_rank") <= nprobe)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("v_norm").as("q_norm"), col("cell"))
    val byQuery = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"), col("cell"))
    assigned.join(broadcast(q), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("cell"), col("vec_id"),
        Similarity.cosineWithNorms(col("q_emb"), col("embedding"),
          col("q_norm"), col("v_norm")).as("cos"))
      .withColumn("rn", row_number().over(byQuery))
      .filter(col("rn") === 1).drop("rn")
      .orderBy("query_id")
  }

  /** One Lloyd step in DuckDB: per-(cell, dim) quantized-integer
    * means over `src`, re-assembled with `list(... ORDER BY dim)` —
    * value-identical to `IvfIndex.lloydStep` (see its determinism
    * contract; SUM over BIGINT is exact in both engines, and the
    * divide/cast chain is the same IEEE ops in the same order).
    */
  private[queries] def ivfMeansSql(src: String): String =
    s"""SELECT cell AS c_id, list(mv ORDER BY dim) AS c_emb FROM (
       |  SELECT a.cell, g.dim,
       |    CAST(CAST(SUM(CAST(FLOOR(CAST(a.embedding[g.dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS REAL) AS mv
       |  FROM $src a CROSS JOIN generate_series(1, $IvfDim) AS g(dim)
       |  GROUP BY a.cell, g.dim) GROUP BY cell""".stripMargin

  /** Nearest-centroid assignment in DuckDB (rank form — same argmax
    * and lowest-c_id tie-break as `IvfIndex.withCell`'s CASE chain).
    */
  private[queries] def ivfAssignSql(cents: String): String =
    s"""SELECT vec_id, embedding, cell FROM (
       |  SELECT e.vec_id, e.embedding, c.c_id AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.c_id) AS rn
       |  FROM embeddings e CROSS JOIN $cents c) WHERE rn = 1""".stripMargin

  /** The full training chain as CTEs: seed c0, then `IvfIters` ×
    * (assign a_i, means c_{i+1}) — the DuckDB mirror of
    * `IvfIndex.train`. Final centroids relation: `c$IvfIters`.
    */
  private[queries] def ivfTrainCtes: String = {
    val steps = (0 until IvfIters).map(i =>
      s"a$i AS (${ivfAssignSql(s"c$i")}),\nc${i + 1} AS (${ivfMeansSql(s"a$i")})")
      .mkString(",\n")
    s"""c0 AS (
       |  SELECT c_id, c_emb FROM (
       |    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS c_id, embedding AS c_emb
       |    FROM embeddings) WHERE c_id < $ivfKSql),
       |$steps""".stripMargin
  }

  /** The same training chain over an ARBITRARY (vec_id, embedding)
    * source CTE with `prefix`-namespaced CTE names, so a second
    * quantizer (e.g. the retrain-on-corpus+delta chain) can coexist
    * with [[ivfTrainCtes]] in one oracle. k stays [[ivfKSql]] (the
    * CORPUS-derived count — fixed-k retrain semantics).
    */
  private[queries] def ivfTrainCtesOver(src: String, prefix: String): String = {
    def assign(cents: String): String =
      s"""SELECT vec_id, embedding, cell FROM (
         |  SELECT e.vec_id, e.embedding, c.c_id AS cell,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.c_id) AS rn
         |  FROM $src e CROSS JOIN $cents c) WHERE rn = 1""".stripMargin
    val steps = (0 until IvfIters).map(i =>
      s"${prefix}a$i AS (${assign(s"${prefix}c$i")}),\n" +
        s"${prefix}c${i + 1} AS (${ivfMeansSql(s"${prefix}a$i")})")
      .mkString(",\n")
    s"""${prefix}c0 AS (
       |  SELECT c_id, c_emb FROM (
       |    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS c_id, embedding AS c_emb
       |    FROM $src) WHERE c_id < $ivfKSql),
       |$steps""".stripMargin
  }

  private[queries] def annIvfSql(nprobe: Int, queryMod: String = "100") =
    s"""WITH $ivfTrainCtes,
       |assigned AS (
       |  SELECT vec_id, embedding, cell, rn AS cell_rank FROM (
       |    SELECT e.vec_id, e.embedding, c.c_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.c_id) AS rn
       |    FROM embeddings e CROSS JOIN c$IvfIters c) WHERE rn <= $IvfAssign),
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb, cell FROM assigned
       |  WHERE vec_id % ($queryMod) = 0 AND cell_rank <= $nprobe),
       |scored AS (
       |  SELECT q.query_id, a.cell, a.vec_id, ${cosSql("q.q_emb", "a.embedding")} AS cos
       |  FROM assigned a JOIN q USING (cell) WHERE q.query_id <> a.vec_id)
       |SELECT query_id, cell, vec_id, cos FROM (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id, cell) AS rn
       |  FROM scored) WHERE rn = 1 ORDER BY query_id""".stripMargin

  private[queries] val xAnnIvfSql = annIvfSql(1)
  private[queries] val xAnnIvfProbe2Sql = annIvfSql(2)

  /** ANN quality, MEASURED: recall@1 of the trained-IVF index against
    * the brute-force exact top-1, at nprobe=1 and nprobe=2 — the
    * honest characterization every approximate index owes its users
    * (the nprobe row pair shows exactly what the 2× probe cost buys
    * back in recall). Deterministic end to end — both the index and
    * the exact ranking are oracle-mirrored, so even this META-query
    * hash-matches. Cost = the brute-force scan + two probe passes
    * over the shared trained index; recall is estimated on a
    * DATA-SCALED query sample ([[evalQueryMod]]: ~25 queries at every
    * corpus size, base 20 preserved at small SFs), so the brute-force
    * leg stays |Q|·corpus with |Q| pinned — never corpus². The r11
    * sf1 matrix measured the fixed-mod form at 56× per 10× data; this
    * form is ~linear.
    */
  def xAnnRecall(spark: SparkSession, dir: String): DataFrame = {
    val qmod = evalQueryMod(spark, dir, base = 20, targetQ = 25)
    // materialized: both probe legs consume the brute-force ranking,
    // and the ~25-row result pins one |Q|·corpus scan instead of two
    val exact = Similarity.cosineTopK(
        Tables.embeddings(spark, dir), col("vec_id") % qmod === 0, k = 1)
      .select(col("query_id"), col("vec_id").as("exact_id"))
      .localCheckpoint()
    // both probe legs consume the SAME stored index — offline state,
    // built at most once per (JVM, corpus); the legs are probe passes
    val assigned = ivfAssigned(spark, dir)
    // LEFT join from the exact side: a query whose probed cells held
    // no candidate must count as a MISS in the denominator — an inner
    // join would silently drop it and overstate recall
    def leg(nprobe: Int) = exact
      .join(annIvfProbe(assigned, nprobe, queryMod = qmod)
        .select(col("query_id"), col("vec_id").as("ann_id")), Seq("query_id"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        sum(when(col("ann_id") === col("exact_id"), 1L).otherwise(0L)).as("n_matched"))
      .select(lit(nprobe).as("nprobe"), col("n_queries"), col("n_matched"),
        (col("n_matched").cast(DoubleType) / col("n_queries").cast(DoubleType)).as("recall"))
    leg(1).unionByName(leg(2)).orderBy("nprobe")
  }

  private[queries] lazy val xAnnRecallSql = {
    val qmod = evalQueryModSql(base = 20, targetQ = 25)
    def leg(nprobe: Int) =
      s"""SELECT $nprobe AS nprobe, COUNT(*) AS n_queries,
         |  CAST(SUM(CASE WHEN a.vec_id = ex.exact_id THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
         |FROM (SELECT query_id, vec_id AS exact_id
         |      FROM (${cosineTopKSqlFor(qmod, k = 1)}) e) ex
         |LEFT JOIN (${annIvfSql(nprobe, queryMod = qmod)}) a
         |  USING (query_id)""".stripMargin
    s"""SELECT nprobe, n_queries, n_matched,
       |  CAST(n_matched AS DOUBLE) / CAST(n_queries AS DOUBLE) AS recall
       |FROM ((${leg(1)}) UNION ALL (${leg(2)}))
       |ORDER BY nprobe""".stripMargin
  }

  private[queries] val NovelQueryN = 24
  private[queries] val NovelQueryK = 3
  private[queries] val SemDedupTau = 0.25

  /** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023):
    * duplicates are found only WITHIN each vector's k-means cell —
    * here the stored IVF index's true (rank-1) assignment, REUSED as
    * the clustering (the paper trains k-means exactly for this; our
    * index already is one). Within a cell the rule is drop-against-
    * ALL-lower-ids: a vector is dropped iff ANY lower-id cell member
    * (kept or itself dropped) has cosine ≥ τ. This is deliberately
    * NOT the paper's sequential greedy (which compares only against
    * the KEPT set, so a chain a~b~c with a≁c keeps c): the all-
    * lower-ids rule drops ≥ the greedy set (τ-chains collapse to one
    * representative), is order-free and embarrassingly parallel where
    * the kept-set iteration is inherently sequential per cell, and is
    * exactly mirrorable (the DuckDB oracle re-derives the same
    * assignment from the training CTEs). `CurationSpec`'s behavioral
    * law pins the difference: every drop is justified by a kept OR
    * dropped lower-id witness.
    *
    * Scale shape — the SemDeDup economics: pairwise cost is
    * Σ cell², never corpus², and the self-join arrives co-located
    * because the stored relation is partitioned by `cell` (bucketed
    * at real scale — zero shuffle); no training, no embeddings-table
    * scan at dedup time (plan-guarded). Boundary caveat (the paper's
    * too): a near-dup pair straddling two cells is not examined —
    * the index's 2× boundary replication could catch exactly those at
    * 2× pair cost (probe `cell_rank <= 2` on one side), the same
    * recall lever `x_ann_ivf_probe2` measures.
    *
    * τ = 0.25 matches `x_embed_neardup`'s threshold, proven
    * non-degenerate on the cluster-free synthetic corpus.
    */
  def xSemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val a = ivfAssigned(spark, dir).filter(col("cell_rank") === 1)
      .select(col("vec_id"), col("cell"), col("embedding"), col("v_norm"))
    val dropped = a.select(col("vec_id").as("x_id"), col("cell"),
        col("embedding").as("x_emb"), col("v_norm").as("x_norm"))
      .join(a.select(col("vec_id").as("y_id"), col("cell"),
        col("embedding").as("y_emb"), col("v_norm").as("y_norm")), Seq("cell"))
      .filter(col("y_id") < col("x_id") &&
        Similarity.cosineWithNorms(col("x_emb"), col("y_emb"),
          col("x_norm"), col("y_norm")) >= lit(SemDedupTau))
      .select(col("x_id").as("vec_id")).distinct()
      .withColumn("_dropped", lit(1))
    a.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("_dropped").isNotNull, "N").otherwise("Y").as("keep"))
      .orderBy("vec_id")
  }

  /** Measured boundary coverage of [[xSemanticDedup]] — the honesty
    * number behind its documented caveat: of the near-dup pairs the
    * cell-agnostic LSH detector (`x_embed_neardup`) finds, what
    * fraction share a rank-1 IVF cell and were therefore actually
    * examined by the within-cell dedup? (The complement is exactly
    * the cross-border blind spot the 2× replication lever recovers
    * part of — [[xSemdedupCoverageR2]] measures the gain; r8 rank-1
    * readings at the √N-scaled cell counts: 0.22/0.19/0.13 at
    * sf0.001/0.01/0.1.) Same contract as `x_ann_recall`/`x_ann_novel_recall`:
    * the approximation's quality is a deterministic, oracle-matched
    * NUMBER, not an assumption. Cost: the LSH pair set (bucket-
    * blocked, never all-pairs) joined twice against the stored
    * assignment — pair-set-sized work.
    */
  def xSemdedupCoverage(spark: SparkSession, dir: String): DataFrame = {
    val cells = ivfAssigned(spark, dir).filter(col("cell_rank") === 1)
      .select(col("vec_id"), col("cell"))
    val pairs = Similarity.embeddingNearDupPairs(
        Tables.embeddings(spark, dir),
        planes = neardupPlanes(spark, dir), minCos = 0.25)
      .select(col("vec_a"), col("vec_b"))
    pairs
      .join(cells.select(col("vec_id").as("vec_a"), col("cell").as("cell_a")), Seq("vec_a"))
      .join(cells.select(col("vec_id").as("vec_b"), col("cell").as("cell_b")), Seq("vec_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("cell_a") === col("cell_b"), 1L).otherwise(0L)).as("n_same_cell"))
      .select(col("n_pairs"), col("n_same_cell"),
        (col("n_same_cell").cast(DoubleType) / col("n_pairs").cast(DoubleType))
          .as("coverage"))
  }

  private[queries] val xSemdedupCoverageSql =
    s"""WITH $ivfTrainCtes,
       |asg AS (${ivfAssignSql(s"c$IvfIters")}),
       |$neardupBucketedSql,
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.25)
       |SELECT COUNT(*) AS n_pairs,
       |  CAST(SUM(CASE WHEN ca.cell = cb.cell THEN 1 ELSE 0 END) AS BIGINT) AS n_same_cell,
       |  CAST(SUM(CASE WHEN ca.cell = cb.cell THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS coverage
       |FROM pairs p
       |  JOIN asg ca ON ca.vec_id = p.vec_a
       |  JOIN asg cb ON cb.vec_id = p.vec_b""".stripMargin

  private[queries] val xSemanticDedupSql =
    s"""WITH $ivfTrainCtes,
       |asg AS (${ivfAssignSql(s"c$IvfIters")}),
       |dropped AS (
       |  SELECT DISTINCT x.vec_id FROM asg x JOIN asg y
       |    ON x.cell = y.cell AND y.vec_id < x.vec_id
       |  WHERE ${cosSql("x.embedding", "y.embedding")} >= $SemDedupTau)
       |SELECT a.vec_id, a.cell,
       |  CASE WHEN d.vec_id IS NULL THEN 'Y' ELSE 'N' END AS keep
       |FROM asg a LEFT JOIN dropped d USING (vec_id)
       |ORDER BY vec_id""".stripMargin

  /** Rank-≤2 assignment in DuckDB — the boundary-replicated relation
    * (each vector under its top-2 cells), the oracle mirror of the
    * stored index's `cell_rank <= 2` rows.
    */
  private[queries] def ivfAssign2Sql(cents: String): String =
    s"""SELECT vec_id, embedding, cell FROM (
       |  SELECT e.vec_id, e.embedding, c.c_id AS cell,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.c_id) AS rn
       |  FROM embeddings e CROSS JOIN $cents c) WHERE rn <= 2""".stripMargin

  /** [[xSemanticDedup]] with the 2× BOUNDARY-REPLICATION lever wired
    * in — the fix its own caveat named, now a verified query: the
    * lower-id (witness) side of the within-cell pair join probes the
    * stored `cell_rank <= 2` rows instead of rank-1 only, so a
    * near-dup pair straddling a Voronoi border is examined whenever
    * the witness's SECOND cell is the candidate's home cell — at
    * exactly 2× pair cost (the witness side doubles; the candidate
    * side is still the rank-1 partition of each cell). Keep/drop rule
    * otherwise identical (drop-against-all-lower-ids at τ), so kept ⊆
    * [[xSemanticDedup]]'s kept set. Coverage gain is MEASURED by
    * [[xSemdedupCoverageR2]]. Still Σ cell² economics, still stored-
    * state-only (plan-guarded: no training, no embeddings scan).
    */
  def xSemanticDedupR2(spark: SparkSession, dir: String): DataFrame = {
    val asg = ivfAssigned(spark, dir)
    val rank1 = asg.filter(col("cell_rank") === 1)
    val dropped = rank1.select(col("vec_id").as("x_id"), col("cell"),
        col("embedding").as("x_emb"), col("v_norm").as("x_norm"))
      .join(asg.select(col("vec_id").as("y_id"), col("cell"),
        col("embedding").as("y_emb"), col("v_norm").as("y_norm")), Seq("cell"))
      .filter(col("y_id") < col("x_id") &&
        Similarity.cosineWithNorms(col("x_emb"), col("y_emb"),
          col("x_norm"), col("y_norm")) >= lit(SemDedupTau))
      .select(col("x_id").as("vec_id")).distinct()
      .withColumn("_dropped", lit(1))
    rank1.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("_dropped").isNotNull, "N").otherwise("Y").as("keep"))
      .orderBy("vec_id")
  }

  private[queries] val xSemanticDedupR2Sql =
    s"""WITH $ivfTrainCtes,
       |asg AS (${ivfAssignSql(s"c$IvfIters")}),
       |asg2 AS (${ivfAssign2Sql(s"c$IvfIters")}),
       |dropped AS (
       |  SELECT DISTINCT x.vec_id FROM asg x JOIN asg2 y
       |    ON x.cell = y.cell AND y.vec_id < x.vec_id
       |  WHERE ${cosSql("x.embedding", "y.embedding")} >= $SemDedupTau)
       |SELECT a.vec_id, a.cell,
       |  CASE WHEN d.vec_id IS NULL THEN 'Y' ELSE 'N' END AS keep
       |FROM asg a LEFT JOIN dropped d USING (vec_id)
       |ORDER BY vec_id""".stripMargin

  /** Measured boundary coverage of [[xSemanticDedupR2]] — the same
    * honesty number as [[xSemdedupCoverage]] under the replication
    * lever: of the LSH-detected near-dup pairs (a < b), what fraction
    * does the r2 candidate rule examine (b's rank-1 cell among a's
    * rank-≤2 cells — exactly the pair join's meeting condition)?
    * r8 measurement (at the √N-scaled cell counts): 0.36/0.33/0.21
    * at sf0.001/0.01/0.1 vs 0.22/0.19/0.13 for rank-1-only — the
    * lever buys ~60-65% more boundary coverage at 2× pair cost.
    * (Both columns sit below the r7 k=12 readings because 2-4× more
    * cells make a finer partition: Σ cell² pair cost fell by the
    * same mechanism — coverage per pair examined actually improved.) Pair-set-sized
    * work, stored-assignment lookups only.
    */
  def xSemdedupCoverageR2(spark: SparkSession, dir: String): DataFrame = {
    val asg = ivfAssigned(spark, dir)
    val pairs = Similarity.embeddingNearDupPairs(
        Tables.embeddings(spark, dir),
        planes = neardupPlanes(spark, dir), minCos = 0.25)
      .select(col("vec_a"), col("vec_b"))
    pairs
      .join(asg.filter(col("cell_rank") === 1)
        .select(col("vec_id").as("vec_b"), col("cell").as("cell_b")), Seq("vec_b"))
      .join(asg.select(col("vec_id").as("vec_a"), col("cell").as("cell_a")), Seq("vec_a"))
      .groupBy("vec_a", "vec_b")
      .agg(max(when(col("cell_a") === col("cell_b"), 1L).otherwise(0L)).as("hit"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("hit")).as("n_examined"))
      .select(col("n_pairs"), col("n_examined"),
        (col("n_examined").cast(DoubleType) / col("n_pairs").cast(DoubleType))
          .as("coverage"))
  }

  private[queries] val xSemdedupCoverageR2Sql =
    s"""WITH $ivfTrainCtes,
       |asg AS (${ivfAssignSql(s"c$IvfIters")}),
       |asg2 AS (${ivfAssign2Sql(s"c$IvfIters")}),
       |$neardupBucketedSql,
       |pairs AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.25),
       |hits AS (
       |  SELECT p.vec_a, p.vec_b,
       |    MAX(CASE WHEN ca.cell = cb.cell THEN 1 ELSE 0 END) AS hit
       |  FROM pairs p
       |    JOIN asg cb ON cb.vec_id = p.vec_b
       |    JOIN asg2 ca ON ca.vec_id = p.vec_a
       |  GROUP BY p.vec_a, p.vec_b)
       |SELECT COUNT(*) AS n_pairs,
       |  CAST(SUM(hit) AS BIGINT) AS n_examined,
       |  CAST(SUM(hit) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS coverage
       |FROM hits""".stripMargin

  /** The ACTUAL serving path of the stored ANN index: a NOVEL query
    * vector — never seen at build time, so it has no stored
    * assignment row — arrives, is assigned to its top-`nprobe` cells
    * ([[ivfServeNprobe]] — scales with the cell count) against
    * the RELOADED trained centroids ([[graft.ext.IvfIndex.pivotRow]]
    * re-pivots the persisted (c_id, c_emb) relation into the one
    * broadcastable row), and probes exactly those cells of the stored
    * replicated corpus for its top-k cosine neighbors. This is what
    * `x_ann_ivf`'s in-corpus probes (self-joins of stored assignments)
    * deliberately don't exercise — the r5/r6 verdicts' carried gap.
    *
    * Query vectors are deterministic synthetic rationals
    * q_i[d] = ((37·i + 17·d) mod 101 − 50) / 64 — every component an
    * exact binary fraction both engines construct identically
    * (`generate_series` mirror), so cosines hash-match bit-for-bit.
    * (mod 101, not the r7 mod 13: 31·(i+13) ≡ 31·i (mod 13) made
    * q_{i+13} = q_i exactly, capping the DISTINCT query count at 13 —
    * 37 is invertible mod 101, so all 24 queries are distinct and the
    * recall denominator is honest.)
    *
    * Scale shape: queries are |Q| rows built by `range` (no corpus
    * scan, no embeddings read); centroid assignment is |Q|·k map-side
    * cosines against the BROADCAST 1-row centroid pivot (zero
    * shuffle, no training aggregates — `PlanAuditSpec` pins all of
    * it); the probe joins the |Q|·nprobe (query, cell) fan-out
    * BROADCAST against the cell-bucketed stored corpus — per-query
    * cost ∝ its probed cells, never the corpus. A boundary-replicated
    * candidate can meet a query in both probed cells with an
    * identical cosine, so candidates dedup by (query, vec) before
    * ranking (max over identical values — deterministic).
    */
  /** The deterministic novel (out-of-corpus) query vectors — exact
    * rational components, engine-identical construction.
    */
  private[graft] def novelQueries(spark: SparkSession): DataFrame =
    spark.range(NovelQueryN)
      .select(
        col("id").as("query_id"),
        transform(sequence(lit(1), lit(IvfDim)),
          d => (((col("id") * 37 + d * 17) % 101 - 50) / lit(64.0)).cast(FloatType))
          .as("embedding"))
      .withColumn("v_norm", Similarity.norm(col("embedding")))

  /** Serving-path candidates for the novel queries: centroid-assign
    * against the stored pivot, probe the top-`nprobe` stored cells
    * ([[ivfServeNprobe]] unless the caller overrides it),
    * dedup replicated candidates by (query, vec). Shared by the
    * top-k serving query and the recall measurement.
    */
  /** Serving nprobe scales with the cell count: nprobe =
    * max(4, round(k/3)). An r8 offline sweep (sf0.1, k=45,
    * 24 distinct novel queries) measured the recall-vs-nprobe curve:
    * 2→0.25, 4→0.50, 6→0.58, 8→0.67, 10→0.71, 12→0.83, 16→0.96
    * (since r9 the {2,4,8} points are a hash-checked oracle query,
    * [[xAnnRecallCurve]]) —
    * barely above the INDEPENDENT-assignment prediction
    * 1−(1−nprobe/k)², because this synthetic corpus is uniform on
    * the sphere: with NO cluster structure, a 64-dim query's cell
    * ranking and its true NN's are only weakly correlated, and
    * recall must be bought with candidate fraction (k/3 probed cells
    * × the 2× replicated corpus ≈ ⅔ of rows scored per query — the
    * honest worst-case price; a real, clustered embedding corpus
    * buys the same recall at a few percent). The oracle derives the
    * same number ([[ivfServeNprobeSql]]).
    */
  private[queries] def ivfServeNprobe(k: Int): Int =
    math.max(4, math.floor(k / 3.0 + 0.5).toInt)

  private[queries] val ivfServeNprobeSql =
    s"GREATEST(4, CAST(FLOOR(CAST(($ivfKSql) AS DOUBLE) / 3.0 + 0.5) AS BIGINT))"

  /** Serving-path candidate generation for an ARBITRARY query set
    * (query_id, embedding, v_norm): centroid-assign against the
    * stored pivot, probe the top-`nprobe` stored cells, dedup
    * replicated candidates by (query, vec). The one engine under the
    * batch novel-query queries AND the streaming serving twin
    * ([[graft.streaming.EventStream.runAnnServeStream]]).
    */
  /** Top-`nprobe` probe cells for a query relation, against the
    * STORED centroid pivot — the (query_id, q_emb, q_norm, cell)
    * fan-out every serving-path scorer (full-precision AND SQ8)
    * broadcasts into the cell-bucketed store.
    */
  private[queries] def storedProbes(spark: SparkSession, dir: String,
      queries: DataFrame, nprobeOverride: Option[Int]): DataFrame = {
    val k = ivfK(spark, dir)
    // the re-pivoted centroid row is itself tiny stored state: pivoting
    // per invocation would re-run the k-row aggregate + checkpoint on
    // every serving query — store it once per corpus and broadcast the
    // 1-row scan instead
    val cents = Tables.readStable(spark,
      RelationStore.ensure(s"ivf-centroid-pivot:$dir") {
        IvfIndex.pivotRow(
          ivfCentroids(spark, dir).select(col("c_id"), col("c_emb")), k)
      })
    // exploded-window probe shape: the serving nprobe scales with k,
    // and at |Q| query rows the |Q|·k ranking window is trivial where
    // the comparison-chain form's codegen breaks past nprobe ≈ 5
    IvfIndex.probeCellsExploded(queries, cents, k,
      nprobeOverride.getOrElse(ivfServeNprobe(k)), idCol = "query_id")
      .select(col("query_id"), col("embedding").as("q_emb"),
        col("v_norm").as("q_norm"), col("cell"),
        // the probe rank rides along (bounded fan-out, broadcast-side):
        // the recall-curve query filters candidates by the rank their
        // cell was probed at, sharing ONE probe pass across its points
        col("cell_rank").as("probe_rank"))
  }

  private[queries] def servingCandidates(spark: SparkSession, dir: String,
      queries: DataFrame, nprobeOverride: Option[Int]): DataFrame =
    servingCandidatesOver(ivfAssigned(spark, dir),
      storedProbes(spark, dir, queries, nprobeOverride))

  /** The probe-join kernel with an explicit corpus side — shared by
    * the stored-index serving path and [[xAnnCompact]]'s compacted
    * twin (same probes, different index relation).
    */
  private[queries] def servingCandidatesOver(assigned: DataFrame,
      probes: DataFrame): DataFrame =
    assigned.join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("vec_id"),
        Similarity.cosineWithNorms(col("q_emb"), col("embedding"),
          col("q_norm"), col("v_norm")).as("cos"))
      // one exchange for dedup + downstream per-query ranking: hash
      // partitioning by query_id satisfies both (see xAnnSq8)
      .repartition(col("query_id"))
      .groupBy("query_id", "vec_id").agg(max(col("cos")).as("cos"))

  private[queries] def novelCandidates(spark: SparkSession, dir: String): DataFrame =
    servingCandidates(spark, dir, novelQueries(spark), nprobeOverride = None)

  /** PUBLIC online-serving entry: top-[[NovelQueryK]] ANN results for
    * an arbitrary (query_id, embedding) query relation against the
    * stored index of `dir`'s corpus — exactly [[xAnnQueryNovel]]'s
    * path with the caller's vectors instead of the synthetic ones
    * (the streaming twin serves each micro-batch through here; its
    * spec pins row-equality on the same vectors). Per-query cost ∝
    * probed cells; no training, no corpus scan.
    */
  def serveAnn(spark: SparkSession, dir: String, queries: DataFrame): DataFrame = {
    val q = queries.select(col("query_id"), col("embedding"))
      .withColumn("v_norm", Similarity.norm(col("embedding")))
    val byQuery = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    servingCandidates(spark, dir, q, nprobeOverride = None)
      .withColumn("rank", row_number().over(byQuery).cast(LongType))
      .filter(col("rank") <= NovelQueryK)
      .select("query_id", "rank", "vec_id", "cos")
  }

  def xAnnQueryNovel(spark: SparkSession, dir: String): DataFrame = {
    val byQuery = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    novelCandidates(spark, dir)
      .withColumn("rank", row_number().over(byQuery).cast(LongType))
      .filter(col("rank") <= NovelQueryK)
      .select("query_id", "rank", "vec_id", "cos")
      .orderBy("query_id", "rank")
  }

  /** Measured serving quality of the OUT-OF-CORPUS path — recall@1 of
    * [[xAnnQueryNovel]]'s served top-1 against the brute-force exact
    * top-1 for the same novel vectors (the `x_ann_recall` honesty
    * contract applied to the serving path, so the index's quality for
    * vectors it has never seen is a NUMBER, not an assumption). LEFT
    * join from the exact side: a query whose probed cells held no
    * candidate counts as a miss. r8 measurement under the √N-scaled
    * cell count + k/3-scaled serving nprobe: 0.708/0.875/0.875 at
    * sf0.001/0.01/0.1 — the r7 fixed-k decay (0.875 → 0.625 as the
    * corpus grew) is gone; the probed corpus FRACTION is now
    * scale-invariant, so recall holds as N grows. Deterministic end to end — the
    * measurement itself hash-matches the oracle. Brute-force leg is
    * |Q|·corpus (the measurement cost, sampled exactly like this at
    * real scale); the served leg reuses the stored-index probe.
    */
  def xAnnNovelRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = novelExactTop1(spark, dir)
    val served = xAnnQueryNovel(spark, dir)
      .filter(col("rank") === 1L)
      .select(col("query_id"), col("vec_id").as("ann_id"))
    exact.join(served, Seq("query_id"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        sum(when(col("ann_id") === col("exact_id"), 1L).otherwise(0L)).as("n_matched"))
      .select(col("n_queries"), col("n_matched"),
        (col("n_matched").cast(DoubleType) / col("n_queries").cast(DoubleType)).as("recall"))
  }

  /** Brute-force exact top-1 for the novel query set — the
    * measurement leg (|Q|·corpus by contract) shared by the FP and
    * SQ8 recall queries.
    */
  private[queries] def novelExactTop1(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .withColumn("v_norm", Similarity.norm(col("embedding")))
    val q = novelQueries(spark)
      .select(col("query_id"), col("embedding").as("q_emb"),
        col("v_norm").as("q_norm"))
    val byQuery = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    emb.crossJoin(broadcast(q))
      .select(col("query_id"), col("vec_id"),
        Similarity.cosineWithNorms(col("q_emb"), col("embedding"),
          col("q_norm"), col("v_norm")).as("cos"))
      .withColumn("rn", row_number().over(byQuery))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id").as("exact_id"))
  }

  /** The recall-vs-nprobe CURVE as a first-class oracle query — the
    * capacity-planning measurement behind the serving-nprobe choice
    * ([[ivfServeNprobe]]'s scaladoc documents the r8 offline sweep;
    * this promotes it to a hash-checked query): recall@1 of the
    * stored-index serving path at nprobe ∈ {2, 4, 8} against the
    * shared brute-force exact top-1. On this uniform-sphere synthetic
    * corpus the curve tracks the independent-assignment prediction
    * 1−(1−nprobe/k)² — recall must be bought with probed fraction —
    * which is exactly why the serving default scales nprobe with k;
    * a clustered real corpus buys the same recall far cheaper.
    *
    * Scale shape: ONE brute-force exact leg (|Q|·corpus by the
    * measurement contract, `localCheckpoint`ed at |Q| rows — bounded
    * state, the 25-row recall-result precedent — so the three curve
    * points don't re-run it); each point is a stored-index probe at
    * its nprobe, per-query cost ∝ probed cells.
    */
  def xAnnRecallCurve(spark: SparkSession, dir: String): DataFrame = {
    val curveNp = Seq(2, 4, 8)
    // ONE serving pass at the curve's MAX nprobe (r17): a candidate's
    // cosine is cell-independent (replicated meetings tie exactly — the
    // dedup-by-max contract), so the nprobe=p candidate set is EXACTLY
    // the rows first met at probe rank ≤ p. The former form re-ran the
    // whole probe-join + dedup chain per curve point (3× the Σ cell²
    // work for nested candidate sets, plus a per-point ranking window);
    // now each point's served top-1 is an argmax (struct max: cos DESC,
    // vec_id ASC via negation — ids are non-negative) over the deduped
    // candidates gated by first-met rank, all three points in ONE
    // aggregation on the dedup exchange's own partitioning — no
    // checkpoint, no windows, one candidate join per pass.
    val probes = storedProbes(spark, dir, novelQueries(spark), Some(curveNp.max))
    val top = ivfAssigned(spark, dir).join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("vec_id"),
        Similarity.cosineWithNorms(col("q_emb"), col("embedding"),
          col("q_norm"), col("v_norm")).as("cos"),
        col("probe_rank"))
      .repartition(col("query_id"))
      .groupBy("query_id", "vec_id")
      .agg(max(col("cos")).as("cos"), min(col("probe_rank")).as("first_rank"))
      .groupBy("query_id")
      .agg(
        max(when(col("first_rank") <= curveNp(0),
          struct(col("cos"), (-col("vec_id")).as("nv")))).as(s"t${curveNp(0)}"),
        curveNp.tail.map(np => max(when(col("first_rank") <= np,
          struct(col("cos"), (-col("vec_id")).as("nv")))).as(s"t$np")): _*)
    val aggd = novelExactTop1(spark, dir).join(top, Seq("query_id"), "left")
      .agg(count(lit(1)).as("n_queries"),
        curveNp.map(np => sum(when((-col(s"t$np.nv")) === col("exact_id"), 1L)
          .otherwise(0L)).as(s"m$np")): _*)
    aggd
      .select(explode(array(curveNp.map(np =>
        struct(lit(np.toLong).as("nprobe"), col("n_queries"),
          col(s"m$np").as("n_matched"))): _*)).as("r"))
      .select(col("r.nprobe").as("nprobe"), col("r.n_queries").as("n_queries"),
        col("r.n_matched").as("n_matched"),
        (col("r.n_matched").cast(DoubleType) / col("r.n_queries").cast(DoubleType))
          .as("recall"))
      .orderBy("nprobe")
  }

  private[queries] lazy val xAnnRecallCurveSql = {
    def probeCte(np: Int): String =
      s"""probe$np AS (
         |  SELECT query_id, q_emb, cell FROM (
         |    SELECT q.query_id, q.q_emb, c.c_id AS cell,
         |      ROW_NUMBER() OVER (PARTITION BY q.query_id
         |        ORDER BY ${cosSql("q.q_emb", "c.c_emb")} DESC, c.c_id) AS rn
         |    FROM q CROSS JOIN c$IvfIters c) WHERE rn <= $np)""".stripMargin
    def leg(np: Int, probe: String): String =
      s"""SELECT CAST($np AS BIGINT) AS nprobe, COUNT(*) AS n_queries,
         |  CAST(SUM(CASE WHEN s.ann_id = ex.exact_id THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
         |  CAST(SUM(CASE WHEN s.ann_id = ex.exact_id THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(COUNT(*) AS DOUBLE) AS recall
         |FROM exact ex LEFT JOIN (
         |  SELECT query_id, vec_id AS ann_id FROM (
         |    SELECT c.query_id, c.vec_id,
         |      ROW_NUMBER() OVER (PARTITION BY c.query_id ORDER BY c.cos DESC, c.vec_id) AS rank
         |    FROM (
         |      SELECT p.query_id, a.vec_id, MAX(${cosSql("p.q_emb", "a.embedding")}) AS cos
         |      FROM assigned a JOIN $probe p USING (cell)
         |      GROUP BY p.query_id, a.vec_id) c) WHERE rank = 1) s USING (query_id)""".stripMargin
    // the base CTEs' own `probe` is built at nprobe=2 and serves as
    // the first curve point; 4 and 8 get their own probe CTEs
    s"""WITH $ivfTrainCtes,
       |${annNovelBaseCtesAt("2")},
       |${probeCte(4)},
       |${probeCte(8)},
       |exact AS (
       |  SELECT query_id, vec_id AS exact_id FROM (
       |    SELECT q.query_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosSql("q.q_emb", "e.embedding")} DESC, e.vec_id) AS rn
       |    FROM q CROSS JOIN embeddings e) WHERE rn = 1)
       |${leg(2, "probe")}
       |UNION ALL
       |${leg(4, "probe4")}
       |UNION ALL
       |${leg(8, "probe8")}
       |ORDER BY nprobe""".stripMargin
  }

  /** The DELETE/tombstone set as stored state: vec_id % 11 == 3 (a
    * deterministic ~9% takedown batch — the GDPR/erasure shape).
    * Stored as its own relation, not a predicate, because real
    * tombstones are an arbitrary id list, not a computable rule; the
    * build scans vec_id only (ReadSchema-pruned).
    */
  private[queries] def annTombstones(spark: SparkSession, dir: String): DataFrame =
    Tables.readStable(spark, RelationStore.ensure(s"ann-tombstones:$dir") {
      Tables.embeddings(spark, dir)
        .select(col("vec_id"))
        .filter(col("vec_id") % 11 === 3)
    })

  /** DELETES WITHOUT RETRAIN — serve [[xAnnQueryNovel]]'s queries
    * against the stored index MINUS a tombstone set: candidates from
    * the unchanged probe path, then a broadcast LEFT ANTI join against
    * the stored tombstone relation before ranking. The index itself is
    * never rewritten — deletion is a serving-time filter, the standard
    * posture for erasure requests between index rebuilds (the rebuild
    * later compacts tombstones away; [[xIvfRetrainDrift]] is the
    * retrain-decision diagnostic for the same maintenance cycle).
    *
    * Scale shape: per-query cost is unchanged (∝ probed cells); the
    * anti-join adds one broadcast of the tombstone ids. A tombstone
    * set too big to broadcast ships as a bloom filter first (false
    * positives re-checked exactly), or — because the store is
    * cell-bucketed — as a per-cell anti-join co-located with the
    * probes; economics otherwise identical. No training, no corpus
    * scan, no index mutation (plan-guarded).
    */
  /** PUBLIC tombstoned-serving entry: [[serveAnn]] for an arbitrary
    * query relation MINUS an arbitrary tombstone relation — the one
    * engine under the batch delete query and the streaming tombstone
    * twin ([[graft.streaming.EventStream.runTombstoneStream]] feeds
    * its accumulated delete store through here; its spec pins
    * row-equality with [[xAnnDelete]] once the same ids streamed in).
    */
  def serveAnnExcluding(spark: SparkSession, dir: String,
      queries: DataFrame, tombstones: DataFrame): DataFrame = {
    val q = queries.select(col("query_id"), col("embedding"))
      .withColumn("v_norm", Similarity.norm(col("embedding")))
    val byQuery = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    servingCandidates(spark, dir, q, nprobeOverride = None)
      .join(broadcast(tombstones.select(col("vec_id"))), Seq("vec_id"), "left_anti")
      .withColumn("rank", row_number().over(byQuery).cast(LongType))
      .filter(col("rank") <= NovelQueryK)
      .select("query_id", "rank", "vec_id", "cos")
  }

  def xAnnDelete(spark: SparkSession, dir: String): DataFrame =
    serveAnnExcluding(spark, dir, novelQueries(spark),
      annTombstones(spark, dir))
      .orderBy("query_id", "rank")

  /** MEASURED result churn under deletion — how much the ~9% takedown
    * moved the served answers: n_top1_tombstoned counts queries whose
    * pre-delete top-1 was erased; n_changed counts queries whose
    * top-1 actually changed. The two are equal by construction
    * (removing a lower-ranked candidate cannot change top-1;
    * [[graft.queries.CurationSpec]] pins the invariant) — published
    * as separate columns because at real scale, with candidate sets
    * that can empty out entirely, their divergence is the alarm that a
    * query lost ALL its candidates. Churn ≈ tombstone fraction is the
    * expected null reading; a churn far above it means deletions
    * concentrated in the index's hot region. r8 measurement:
    * 0.042/0.208/0.125 at sf0.001/0.01/0.1 against the 1/11 ≈ 0.09
    * tombstone rate — within binomial noise of 24 queries, i.e. the
    * expected null reading.
    */
  def xAnnDeleteChurn(spark: SparkSession, dir: String): DataFrame = {
    // ONE candidate pass for BOTH legs (r17): pre- and post-delete
    // serving share probes and candidates and differ only in the
    // tombstone anti-join, so both top-1s come out of one aggregation
    // over the tombstone-flagged candidate set — the recall-curve
    // argmax shape (struct max: cos DESC, vec_id ASC via negation) on
    // the dedup exchange's own partitioning. The former form ran the
    // full probe-join + dedup + ranking chain twice.
    // The tombstone test stays a join against the SAME stored relation
    // the delete path consumes (tombstones are an arbitrary id list,
    // not a computable rule — hardcoding the fixture's %11 rule here
    // would silently desync this measurement from the delete set
    // actually applied if the stored set ever changed).
    val ts = annTombstones(spark, dir)
      .select(col("vec_id"), lit(1L).as("is_ts"))
    val top = novelCandidates(spark, dir)
      .join(broadcast(ts), Seq("vec_id"), "left")
      .groupBy("query_id")
      .agg(
        max(struct(col("cos"), (-col("vec_id")).as("nv"))).as("pre"),
        max(when(col("is_ts").isNull,
          struct(col("cos"), (-col("vec_id")).as("nv")))).as("post"))
      .select(col("query_id"),
        (-col("pre.nv")).as("pre_id"), (-col("post.nv")).as("post_id"))
    top
      .join(broadcast(ts.select(col("vec_id").as("pre_id"), col("is_ts"))),
        Seq("pre_id"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        sum(coalesce(col("is_ts"), lit(0L))).as("n_top1_tombstoned"),
        sum(when(!(col("post_id") <=> col("pre_id")), 1L).otherwise(0L)).as("n_changed"))
      .select(col("n_queries"), col("n_top1_tombstoned"), col("n_changed"),
        (col("n_changed").cast(DoubleType) / col("n_queries").cast(DoubleType))
          .as("churn"))
  }

  /** The COMPACTED index as stored state: the stored assignment
    * relation MINUS the tombstone set, materialized once per corpus
    * snapshot. Same centroids — compaction is NOT a retrain (that
    * decision belongs to [[xIvfRetrainDrift]]); it rewrites the
    * index's data rows so serving no longer pays the per-query
    * anti-join [[xAnnDelete]] applies between rebuilds.
    */
  private[queries] def compactedAssigned(spark: SparkSession, dir: String): DataFrame =
    Tables.readStable(spark, RelationStore.ensure(s"ivf-compacted:$dir") {
      ivfAssigned(spark, dir)
        .join(broadcast(annTombstones(spark, dir).select("vec_id")),
          Seq("vec_id"), "left_anti")
    })

  /** TOMBSTONE COMPACTION — the maintenance step that closes the
    * erasure lifecycle: rebuild the index data as [[compactedAssigned]]
    * (an anti-join rewrite, NO Lloyd retrain, centroids untouched),
    * serve the standard novel queries from the compacted relation, and
    * publish the compaction audit in one row: rows before/after/
    * removed, the served-result agreement with the tombstone-GATED
    * serving path (`x_ann_delete`), and the verdict. `n_serve_match ==
    * n_served` is the correctness contract — the anti-join commutes
    * with the probe join and the per-(query,vec) max, so gated serving
    * over the old index and plain serving over the compacted index
    * MUST agree row-for-row; a mismatch means the rewrite lost or
    * leaked rows (`CurationSpec` additionally pins that the compacted
    * plan consumes the stored compacted relation, not the corpus).
    * Scale shape: compaction is one index-sized anti-join paid once
    * (at 100 TB, per cell-bucket, embarrassingly parallel and
    * restartable per bucket); the audit legs are |Q|·probed-cells.
    */
  def xAnnCompact(spark: SparkSession, dir: String): DataFrame = {
    val before = ivfAssigned(spark, dir).agg(count(lit(1)).as("n_before"))
    val after = compactedAssigned(spark, dir).agg(count(lit(1)).as("n_after"))
    val q = novelQueries(spark)
    val byQuery = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id"))
    // ONE probe set for BOTH serving legs (|Q|·nprobe rows — bounded
    // state, localCheckpointed): the audit then provably compares the
    // two index relations under IDENTICAL probes, and the probe chain
    // runs once instead of twice
    val probes = storedProbes(spark, dir, q, None).localCheckpoint()
    val servedCompacted = servingCandidatesOver(
      compactedAssigned(spark, dir), probes)
      .withColumn("rank", row_number().over(byQuery).cast(LongType))
      .filter(col("rank") <= NovelQueryK)
      .select(col("query_id"), col("rank"),
        col("vec_id").as("c_id"), col("cos").as("c_cos"))
    val servedGated = servingCandidatesOver(ivfAssigned(spark, dir), probes)
      .join(broadcast(annTombstones(spark, dir).select(col("vec_id"))),
        Seq("vec_id"), "left_anti")
      .withColumn("rank", row_number().over(byQuery).cast(LongType))
      .filter(col("rank") <= NovelQueryK)
      .select("query_id", "rank", "vec_id", "cos")
    val agree = servedGated.join(servedCompacted, Seq("query_id", "rank"), "full_outer")
      .agg(
        count(lit(1)).as("n_served"),
        sum(when(col("vec_id") <=> col("c_id") && col("cos") <=> col("c_cos"), 1L)
          .otherwise(0L)).as("n_serve_match"))
    before.crossJoin(after).crossJoin(agree)
      .select(col("n_before"), col("n_after"),
        (col("n_before") - col("n_after")).as("n_removed"),
        col("n_served"), col("n_serve_match"),
        when(col("n_serve_match") === col("n_served"), "compaction_clean")
          .otherwise("COMPACTION_DIVERGED").as("verdict"))
  }

  private[queries] val xAnnCompactSql =
    s"""WITH $ivfTrainCtes,
       |$annNovelCtes,
       |ts AS (SELECT vec_id FROM embeddings WHERE vec_id % 11 = 3),
       |compacted AS (
       |  SELECT * FROM assigned WHERE vec_id NOT IN (SELECT vec_id FROM ts)),
       |gated AS (
       |  SELECT query_id, rank, vec_id, cos FROM (
       |    SELECT query_id, vec_id, cos,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |    FROM cand WHERE vec_id NOT IN (SELECT vec_id FROM ts))
       |  WHERE rank <= $NovelQueryK),
       |ccand AS (
       |  SELECT query_id, vec_id, MAX(cos) AS cos FROM (
       |    SELECT p.query_id, a.vec_id, ${cosSql("p.q_emb", "a.embedding")} AS cos
       |    FROM compacted a JOIN probe p ON a.cell = p.cell)
       |  GROUP BY query_id, vec_id),
       |cserved AS (
       |  SELECT query_id, rank, vec_id AS c_id, cos AS c_cos FROM (
       |    SELECT query_id, vec_id, cos,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |    FROM ccand) WHERE rank <= $NovelQueryK),
       |agree AS (
       |  SELECT COUNT(*) AS n_served,
       |    CAST(SUM(CASE WHEN g.vec_id IS NOT DISTINCT FROM c.c_id
       |      AND g.cos IS NOT DISTINCT FROM c.c_cos THEN 1 ELSE 0 END) AS BIGINT) AS n_serve_match
       |  FROM gated g FULL OUTER JOIN cserved c USING (query_id, rank))
       |SELECT
       |  (SELECT COUNT(*) FROM assigned) AS n_before,
       |  (SELECT COUNT(*) FROM compacted) AS n_after,
       |  (SELECT COUNT(*) FROM assigned) - (SELECT COUNT(*) FROM compacted) AS n_removed,
       |  n_served, n_serve_match,
       |  CASE WHEN n_serve_match = n_served THEN 'compaction_clean'
       |    ELSE 'COMPACTION_DIVERGED' END AS verdict
       |FROM agree""".stripMargin

  /** The novel-query serving chain as shared CTEs (appended after
    * `ivfTrainCtes`): replicated corpus assignment, the synthetic
    * query vectors, their top-2 probe cells, and the deduped
    * candidate set — shared by the top-k serving oracle and the
    * recall-measurement oracle.
    */
  private[queries] def annNovelCtes: String = annNovelCtesAt(ivfServeNprobeSql)

  /** The probe half of the serving chain (assigned corpus, synthetic
    * queries, their top-`nprobe` cells) — shared by the
    * full-precision `cand` consumers and the SQ8 quantized scorer.
    */
  private[queries] def annNovelBaseCtesAt(nprobeSql: String): String =
    s"""assigned AS (
       |  SELECT vec_id, embedding, cell, rn AS cell_rank FROM (
       |    SELECT e.vec_id, e.embedding, c.c_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.embedding", "c.c_emb")} DESC, c.c_id) AS rn
       |    FROM embeddings e CROSS JOIN c$IvfIters c) WHERE rn <= $IvfAssign),
       |q AS (
       |  SELECT i AS query_id,
       |    list(CAST(((37 * i + 17 * d) % 101 - 50) / 64.0 AS REAL) ORDER BY d) AS q_emb
       |  FROM generate_series(0, ${NovelQueryN - 1}) s(i)
       |    CROSS JOIN generate_series(1, $IvfDim) g(d)
       |  GROUP BY i),
       |probe AS (
       |  SELECT query_id, q_emb, cell FROM (
       |    SELECT q.query_id, q.q_emb, c.c_id AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosSql("q.q_emb", "c.c_emb")} DESC, c.c_id) AS rn
       |    FROM q CROSS JOIN c$IvfIters c) WHERE rn <= $nprobeSql)""".stripMargin

  private[queries] def annNovelCtesAt(nprobeSql: String): String =
    s"""${annNovelBaseCtesAt(nprobeSql)},
       |cand AS (
       |  SELECT p.query_id, a.vec_id, MAX(${cosSql("p.q_emb", "a.embedding")}) AS cos
       |  FROM assigned a JOIN probe p USING (cell)
       |  GROUP BY p.query_id, a.vec_id)""".stripMargin

  private[queries] val xAnnQueryNovelSql =
    s"""WITH $ivfTrainCtes,
       |$annNovelCtes
       |SELECT query_id, rank, vec_id, cos FROM (
       |  SELECT query_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM cand) WHERE rank <= $NovelQueryK
       |ORDER BY query_id, rank""".stripMargin

  private[queries] val xAnnNovelRecallSql =
    s"""WITH $ivfTrainCtes,
       |$annNovelCtes,
       |exact AS (
       |  SELECT query_id, vec_id AS exact_id FROM (
       |    SELECT q.query_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosSql("q.q_emb", "e.embedding")} DESC, e.vec_id) AS rn
       |    FROM q CROSS JOIN embeddings e) WHERE rn = 1),
       |served AS (
       |  SELECT query_id, vec_id AS ann_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |    FROM cand) WHERE rank = 1)
       |SELECT COUNT(*) AS n_queries,
       |  CAST(SUM(CASE WHEN s.ann_id = ex.exact_id THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       |  CAST(SUM(CASE WHEN s.ann_id = ex.exact_id THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM exact ex LEFT JOIN served s USING (query_id)""".stripMargin

  private[queries] val xAnnDeleteSql =
    s"""WITH $ivfTrainCtes,
       |$annNovelCtes,
       |ts AS (SELECT vec_id FROM embeddings WHERE vec_id % 11 = 3)
       |SELECT query_id, rank, vec_id, cos FROM (
       |  SELECT query_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM cand WHERE vec_id NOT IN (SELECT vec_id FROM ts)) WHERE rank <= $NovelQueryK
       |ORDER BY query_id, rank""".stripMargin

  private[queries] val xAnnDeleteChurnSql =
    s"""WITH $ivfTrainCtes,
       |$annNovelCtes,
       |ts AS (SELECT vec_id FROM embeddings WHERE vec_id % 11 = 3),
       |pre AS (
       |  SELECT query_id, vec_id AS pre_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
       |    FROM cand) WHERE rn = 1),
       |post AS (
       |  SELECT query_id, vec_id AS post_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
       |    FROM cand WHERE vec_id NOT IN (SELECT vec_id FROM ts)) WHERE rn = 1)
       |SELECT COUNT(*) AS n_queries,
       |  CAST(SUM(CASE WHEN pre_id IN (SELECT vec_id FROM ts) THEN 1 ELSE 0 END) AS BIGINT) AS n_top1_tombstoned,
       |  CAST(SUM(CASE WHEN post_id IS DISTINCT FROM pre_id THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |  CAST(SUM(CASE WHEN post_id IS DISTINCT FROM pre_id THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS churn
       |FROM pre LEFT JOIN post USING (query_id)""".stripMargin

  /** INCREMENTAL semantic dedup — the serving-path twin of
    * [[xSemanticDedup]], completing the delta-only story the exact
    * pipeline already has (`x_dedup_incremental`): ARRIVING vectors
    * (the synthetic novel set — out-of-corpus by construction, ids
    * disjoint from stored vec_ids) are centroid-assigned against the
    * RELOADED stored pivot, probe their top-2 cells (the index's own
    * replication convention — same boundary coverage as the stored
    * rank-≤2 rows give the batch r2 lever), and are dropped iff ANY
    * stored cell member is τ-close. Stored members always rank as the
    * incumbent/witness side — an arrival never evicts corpus data —
    * so the decision rule needs no id ordering against the corpus.
    *
    * Scale shape: per-arrival cost ∝ probed cell size (2·2N/k ≈
    * 4√N rows at k=√N), never corpus; no training, no corpus scan, no
    * index mutation — the nightly gate runs map-side against stored
    * state exactly like `x_contamination_incr`. The streaming twin is
    * REAL: [[graft.streaming.EventStream.runSemanticGateStream]]
    * gates each micro-batch through [[serveSemanticGate]], spec-proven
    * row-equal to this query on the same vectors.
    *
    * The gate τ (0.40) is calibrated to the ARRIVAL-vs-corpus cosine
    * distribution, not reused from the within-corpus τ=0.25: random
    * 64-dim pairs sit at cos ~ N(0, 1/8²), so among the ~4√N probed
    * candidates some max always clears 2σ=0.25 — at the corpus τ the
    * gate degenerately drops every arrival (measured: 24/24 at all
    * three SFs). At 0.40 (~3.2σ) the decision is the measured split
    * 3/8/6 dropped of 24 at sf0.001/0.01/0.1 — the calibration step
    * a real deployment does against ITS arrival distribution.
    */
  private[queries] val SemDedupIncrTau = 0.40

  /** PUBLIC arrival-gate entry: the [[xSemanticDedupIncr]] keep/drop
    * decision for an ARBITRARY (query_id, embedding) arrival relation
    * against the stored index — the streaming twin
    * ([[graft.streaming.EventStream.runSemanticGateStream]]) gates
    * each micro-batch through here; its spec pins row-equality with
    * the batch query on the same vectors.
    */
  def serveSemanticGate(spark: SparkSession, dir: String,
      arrivals: DataFrame): DataFrame = {
    val q = arrivals.select(col("query_id"), col("embedding"))
      .withColumn("v_norm", Similarity.norm(col("embedding")))
    val dup = servingCandidates(spark, dir, q, nprobeOverride = Some(2))
      .filter(col("cos") >= lit(SemDedupIncrTau))
      .select("query_id").distinct()
      .withColumn("_dup", lit(1))
    arrivals.select(col("query_id"))
      .join(broadcast(dup), Seq("query_id"), "left") // |arrivals|-row side
      .select(col("query_id"),
        when(col("_dup").isNotNull, "N").otherwise("Y").as("keep"))
  }

  def xSemanticDedupIncr(spark: SparkSession, dir: String): DataFrame =
    serveSemanticGate(spark, dir, novelQueries(spark)).orderBy("query_id")

  private[queries] lazy val xSemanticDedupIncrSql =
    s"""WITH $ivfTrainCtes,
       |${annNovelCtesAt("2")},
       |dup AS (SELECT DISTINCT query_id FROM cand WHERE cos >= $SemDedupIncrTau)
       |SELECT q.query_id,
       |  CASE WHEN d.query_id IS NULL THEN 'Y' ELSE 'N' END AS keep
       |FROM q LEFT JOIN dup d USING (query_id)
       |ORDER BY query_id""".stripMargin

  /** Scalar int8 quantization of the embedding column (FAISS-SQ8
    * style): per-vector scale = max|v|/127, q_i = round(v_i/scale) —
    * the 4× storage/bandwidth step an embedding store takes before
    * ANN serving at scale (dequantized cosine differs from exact by
    * O(scale), which IVF/LSH candidate generation absorbs). Per-row
    * map-side arithmetic, zero shuffle; `round` is half-away-from-
    * zero in BOTH engines, divisions/folds are the in-order IEEE
    * chain the Similarity oracles already pin, so scale, the
    * quantized checksum, the clip count (0 by construction — scale is
    * derived from the max), and the dequantization error bound all
    * hash-match exactly. Output restricted to the standard query
    * sample (vec_id % 20) to keep the dump row-bounded.
    */
  def xEmbedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val v = col("embedding")
    val scale = aggregate(transform(v, x => abs(x.cast(DoubleType))),
      lit(0.0), (acc, x) => greatest(acc, x)) / lit(127.0)
    Tables.embeddings(spark, dir)
      .filter(col("vec_id") % 20 === 0)
      .select(col("vec_id"), scale.as("scale"), v.as("v"))
      .select(col("vec_id"), col("scale"),
        // zero-scale guard (all-zero or empty vector): 0.0/0.0 is NaN,
        // which Spark's long cast silently zeroes but DuckDB's CAST
        // raises on — route the degenerate case to 0 in BOTH engines
        transform(col("v"), x => when(col("scale") === 0.0, lit(0L))
          .otherwise(round(x.cast(DoubleType) / col("scale")).cast(LongType)))
          .as("q"))
      .select(
        col("vec_id"), col("scale"),
        aggregate(col("q"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        aggregate(col("q"), lit(0L),
          (acc, x) => acc + when(abs(x) > 127, 1L).otherwise(0L)).as("n_clipped"),
        aggregate(col("q"), lit(0L),
          (acc, x) => greatest(acc, abs(x))).as("q_max_abs"))
      .orderBy("vec_id")
  }

  private[queries] val xEmbedQuantizeSql = {
    val scale = "(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      "list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), " +
      "(acc, x) -> greatest(acc, x)) / 127.0)"
    s"""WITH t AS (
       |  SELECT vec_id, $scale AS scale,
       |    list_transform(embedding,
       |      x -> CASE WHEN $scale = 0 THEN CAST(0 AS BIGINT)
       |           ELSE CAST(round(CAST(x AS DOUBLE) / $scale) AS BIGINT) END) AS q
       |  FROM embeddings WHERE vec_id % 20 = 0)
       |SELECT vec_id, scale,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), q), (acc, x) -> acc + x) AS q_sum,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), q),
       |    (acc, x) -> acc + CASE WHEN abs(x) > 127 THEN 1 ELSE 0 END) AS n_clipped,
       |  list_reduce(list_prepend(CAST(0 AS BIGINT), q),
       |    (acc, x) -> greatest(acc, abs(x))) AS q_max_abs
       |FROM t ORDER BY vec_id""".stripMargin
  }

  /** The int8-QUANTIZED stored index — [[xEmbedQuantize]]'s scalar
    * SQ8 rule applied to the whole replicated assignment relation and
    * persisted as its own stored state (`RelationStore`): (vec_id,
    * cell, scale, q, sq_norm) where q_i = round(v_i/scale) with
    * scale = max|v|/127, and sq_norm = √Σq² (exact integer sum). For
    * COSINE serving the per-vector scale cancels out of the score
    * entirely — cos(x, scale·q) = dot(q, x)/(|x|·|q|) — so the
    * quantized scorer needs only the code array and its norm; scale
    * is stored for reconstruction/debug. Storage: the int8-valued
    * codes bit-pack in parquet where the float32 embedding cannot —
    * the ~4× memory/bandwidth lever a 100 TB ANN store takes
    * (FAISS SQ8), with the accuracy cost MEASURED by
    * [[xAnnSq8Recall]] rather than assumed.
    */
  private[queries] def sq8Assigned(spark: SparkSession, dir: String): DataFrame =
    Tables.readStable(spark, RelationStore.ensure(s"ivf-sq8:$dir") {
      val v = col("embedding")
      val scale = aggregate(transform(v, x => abs(x.cast(DoubleType))),
        lit(0.0), (acc, x) => greatest(acc, x)) / lit(127.0)
      ivfAssigned(spark, dir)
        .select(col("vec_id"), col("cell"), scale.as("scale"), v.as("v"))
        .select(col("vec_id"), col("cell"), col("scale"),
          // zero-scale guard — see xEmbedQuantize
          transform(col("v"), x => when(col("scale") === 0.0, lit(0L))
            .otherwise(round(x.cast(DoubleType) / col("scale")).cast(LongType)))
            .as("q"))
        .withColumn("sq_norm",
          sqrt(aggregate(col("q"), lit(0L), (acc, x) => acc + x * x)
            .cast(DoubleType)))
        .repartition(col("cell"))
    })

  /** ANN serving OVER THE QUANTIZED index — [[xAnnQueryNovel]]'s
    * probe path scoring int8 codes instead of float32 embeddings:
    * same stored centroid pivot, same top-`nprobe` probe cells, but
    * candidates join the SQ8 store and score
    * dot(q, x)/(|x|·sq_norm) — the asymmetric-distance form (full-
    * precision query against quantized corpus) every quantized ANN
    * store serves with. Exactly mirrorable: int8 codes cast to float
    * losslessly, products/sums are the pinned in-order IEEE chain.
    * Scale shape identical to the FP path — the point is the 4×
    * smaller store scanned per probe.
    */
  def xAnnSq8(spark: SparkSession, dir: String): DataFrame = {
    val probes = storedProbes(spark, dir, novelQueries(spark), None)
    val qf = transform(col("q"), x => x.cast(FloatType))
    val byQuery = Window.partitionBy("query_id")
      .orderBy(col("qcos").desc, col("vec_id"))
    sq8Assigned(spark, dir).join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("vec_id"),
        (Similarity.dot(qf, col("q_emb")) / (col("q_norm") * col("sq_norm")))
          .as("qcos"))
      // ONE exchange for dedup + ranking: hash-partitioning by query_id
      // satisfies both the (query_id, vec_id) aggregate's clustering
      // and the ranking window's, so the former agg-exchange +
      // window-exchange pair collapses to this single shuffle
      .repartition(col("query_id"))
      .groupBy("query_id", "vec_id").agg(max(col("qcos")).as("qcos"))
      .withColumn("rank", row_number().over(byQuery).cast(LongType))
      .filter(col("rank") <= NovelQueryK)
      .select("query_id", "rank", "vec_id", "qcos")
      .orderBy("query_id", "rank")
  }

  /** The SQ8 chain as oracle CTEs over `assigned` (re-quantizing in
    * SQL with [[xEmbedQuantize]]'s exact formula): `qz` codes +
    * norms, `scand` the quantized candidate scores.
    */
  private[queries] lazy val sq8Ctes: String = {
    val scaleS = "(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      "list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), " +
      "(acc, x) -> greatest(acc, x)) / 127.0)"
    s"""qz AS (
       |  SELECT vec_id, cell, sq,
       |    sqrt(CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(sq, x -> x * x)), (acc, x) -> acc + x) AS DOUBLE)) AS sq_norm
       |  FROM (
       |    SELECT vec_id, cell,
       |      list_transform(embedding,
       |        x -> CASE WHEN $scaleS = 0 THEN CAST(0 AS BIGINT)
       |             ELSE CAST(round(CAST(x AS DOUBLE) / $scaleS) AS BIGINT) END) AS sq
       |    FROM assigned)),
       |scand AS (
       |  SELECT p.query_id, a.vec_id,
       |    MAX(${dotSql("a.sq", "p.q_emb")}
       |      / (sqrt(${dotSql("p.q_emb", "p.q_emb")}) * a.sq_norm)) AS qcos
       |  FROM qz a JOIN probe p USING (cell)
       |  GROUP BY p.query_id, a.vec_id)""".stripMargin
  }

  private[queries] lazy val xAnnSq8Sql =
    s"""WITH $ivfTrainCtes,
       |${annNovelBaseCtesAt(ivfServeNprobeSql)},
       |$sq8Ctes
       |SELECT query_id, rank, vec_id, qcos FROM (
       |  SELECT query_id, vec_id, qcos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qcos DESC, vec_id) AS rank
       |  FROM scand) WHERE rank <= $NovelQueryK
       |ORDER BY query_id, rank""".stripMargin

  /** MEASURED quantization cost on the serving path — the
    * `x_ann_recall` honesty contract applied to SQ8: (a) how often
    * does the QUANTIZED server return the same top-1 as the
    * full-precision server over the same probes (`agree_fp` — the
    * isolated quantization effect), and (b) the quantized server's
    * end-to-end recall@1 vs brute-force exact (`recall` — what a user
    * of the compressed store actually gets). r8 measurement:
    * agree_fp 1.00/1.00/0.958, recall 0.708/0.875/0.833 at
    * sf0.001/0.01/0.1 — int8 quantization flips ONE served top-1 in
    * 72 (a near-tie whose cosine margin is below the O(scale)
    * quantization noise), costing 0.042 recall at sf0.1: the 4×
    * compression is nearly — not exactly — free, which is precisely
    * what this query exists to say with a number. The exact leg is
    * the |Q|·corpus measurement cost by contract.
    */
  def xAnnSq8Recall(spark: SparkSession, dir: String): DataFrame = {
    val sq8 = xAnnSq8(spark, dir)
      .filter(col("rank") === 1L)
      .select(col("query_id"), col("vec_id").as("sq8_id"))
    val fp = xAnnQueryNovel(spark, dir)
      .filter(col("rank") === 1L)
      .select(col("query_id"), col("vec_id").as("fp_id"))
    novelExactTop1(spark, dir)
      .join(fp, Seq("query_id"), "left")
      .join(sq8, Seq("query_id"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        sum(when(col("sq8_id") === col("fp_id"), 1L).otherwise(0L))
          .as("n_agree_fp"),
        sum(when(col("sq8_id") === col("exact_id"), 1L).otherwise(0L))
          .as("n_matched"))
      .select(col("n_queries"), col("n_agree_fp"), col("n_matched"),
        (col("n_agree_fp").cast(DoubleType) / col("n_queries").cast(DoubleType))
          .as("agree_fp"),
        (col("n_matched").cast(DoubleType) / col("n_queries").cast(DoubleType))
          .as("recall"))
  }

  private[queries] lazy val xAnnSq8RecallSql =
    s"""WITH $ivfTrainCtes,
       |${annNovelCtesAt(ivfServeNprobeSql)},
       |$sq8Ctes,
       |fp AS (
       |  SELECT query_id, vec_id AS fp_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |    FROM cand) WHERE rank = 1),
       |s8 AS (
       |  SELECT query_id, vec_id AS sq8_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qcos DESC, vec_id) AS rank
       |    FROM scand) WHERE rank = 1),
       |exact AS (
       |  SELECT query_id, vec_id AS exact_id FROM (
       |    SELECT q.query_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosSql("q.q_emb", "e.embedding")} DESC, e.vec_id) AS rn
       |    FROM q CROSS JOIN embeddings e) WHERE rn = 1)
       |SELECT COUNT(*) AS n_queries,
       |  CAST(SUM(CASE WHEN s.sq8_id = f.fp_id THEN 1 ELSE 0 END) AS BIGINT) AS n_agree_fp,
       |  CAST(SUM(CASE WHEN s.sq8_id = ex.exact_id THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       |  CAST(SUM(CASE WHEN s.sq8_id = f.fp_id THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS agree_fp,
       |  CAST(SUM(CASE WHEN s.sq8_id = ex.exact_id THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM exact ex LEFT JOIN fp f USING (query_id) LEFT JOIN s8 s USING (query_id)""".stripMargin

  /** INDEX-MAINTENANCE drift measurement — the "when do we retrain?"
    * number: the stored quantizer was trained on the corpus alone;
    * after a delta arrives (the novel vectors, stream-ingested
    * without retraining), how far would a FIXED-k retrain on
    * corpus+delta move the codebook? Output: one row per stored
    * centroid with its nearest retrained centroid and their cosine —
    * a codebook that barely moves (cos ≈ 1 everywhere) means the
    * ingest-without-retrain posture is safe; centroids drifting low
    * are the cells the delta reshaped. Alignment is nearest-match
    * (centroid ids are not stable across trainings); delta ids are
    * shifted above every corpus id so the deterministic lowest-id
    * seeds — and hence the oracle's chain — are IDENTICAL to the
    * original training's, isolating drift to the Lloyd iterations
    * actually seeing the new points. r8 measurement (24-vector delta):
    * median nearest-centroid cosine 0.91/0.87/0.95 at
    * sf0.001/0.01/0.1 with minima 0.22/0.23/0.33 — the delta leaves
    * most of the codebook in place and reshapes a few cells, i.e.
    * ingest-without-retrain is safe at this delta fraction and the
    * low-cos rows name exactly the cells to watch.
    *
    * Scale shape: the retrained codebook is built ONCE per corpus
    * snapshot and stored (`RelationStore`) — the diagnostic reads two
    * k-row relations and does a k×k broadcast argmax, metadata-sized
    * work; the retrain itself is the same 10-iteration Lloyd cost as
    * the original build, paid offline exactly like it.
    */
  def xIvfRetrainDrift(spark: SparkSession, dir: String): DataFrame = {
    val k = ivfK(spark, dir)
    val oldC = ivfCentroids(spark, dir).select(col("c_id"), col("c_emb"))
    val newC = Tables.readStable(spark,
      RelationStore.ensure(s"ivf-retrain-cents:$dir") {
        val delta = novelQueries(spark).select(
          (col("query_id") + lit(10000000L)).as("vec_id"), col("embedding"))
        val extended = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding"))
          .unionByName(delta)
          .withColumn("v_norm", Similarity.norm(col("embedding")))
        IvfIndex.centroidRelation(
            IvfIndex.train(extended, k, IvfIters, IvfDim), k)
          .select(col("c_id"), col("c_emb"))
          .coalesce(1) // k rows
      })
      .select(col("c_id").as("n_id"), col("c_emb").as("n_emb"))
    val byOld = Window.partitionBy("c_id")
      .orderBy(col("cos").desc, col("n_id"))
    oldC.crossJoin(broadcast(newC)) // k×k — metadata-sized
      .select(col("c_id"), col("n_id"),
        Similarity.cosine(col("c_emb"), col("n_emb")).as("cos"))
      .withColumn("rn", row_number().over(byOld))
      .filter(col("rn") === 1)
      .select(col("c_id"), col("n_id").as("nearest_new"), col("cos"))
      .orderBy("c_id")
  }

  private[queries] lazy val xIvfRetrainDriftSql =
    s"""WITH $ivfTrainCtes,
       |nvl AS (
       |  SELECT 10000000 + i AS vec_id,
       |    list(CAST(((37 * i + 17 * d) % 101 - 50) / 64.0 AS REAL) ORDER BY d) AS embedding
       |  FROM generate_series(0, ${NovelQueryN - 1}) s(i)
       |    CROSS JOIN generate_series(1, $IvfDim) g(d)
       |  GROUP BY i),
       |embx AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL SELECT vec_id, embedding FROM nvl),
       |${ivfTrainCtesOver("embx", "r")}
       |SELECT c_id, nearest_new, cos FROM (
       |  SELECT o.c_id, n.c_id AS nearest_new,
       |    ${cosSql("o.c_emb", "n.c_emb")} AS cos,
       |    ROW_NUMBER() OVER (PARTITION BY o.c_id
       |      ORDER BY ${cosSql("o.c_emb", "n.c_emb")} DESC, n.c_id) AS rn
       |  FROM c$IvfIters o CROSS JOIN rc$IvfIters n) WHERE rn = 1
       |ORDER BY c_id""".stripMargin

  private[queries] val PqM = 4
  private[queries] val PqSub = 16
  private[queries] val PqK = 8
  private[queries] val PqIters = 3

  /** The M×k' PQ codebooks as their own stored relation
    * (m, code, c_emb) — the MODEL ARTIFACT of the PQ lifecycle, stored
    * separately from the encoded corpus for the same reason the IVF
    * centroid pivot is: the serving-time ADC lookup tables derive from
    * the codebooks alone (M·k' = 32 rows), so a query must be able to
    * load them without touching the N-row code store, and the encode
    * pass must be able to rebuild codes against the SAME codebooks it
    * trained (retrain-vs-reuse becomes an explicit choice, exactly the
    * `x_ivf_retrain_drift` posture).
    */
  private[queries] def pqCodebooks(spark: SparkSession, dir: String): DataFrame =
    Tables.readStable(spark, RelationStore.ensure(s"pq-codebooks:$dir") {
      val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      (0 until PqM).map { m =>
        val sub = emb.select(col("vec_id"),
          slice(col("embedding"), m * PqSub + 1, PqSub).as("sub"))
        PqIndex.trainSubspace(sub, PqK, PqIters, PqSub)
          .select(lit(m).as("m"), col("code"), col("c_emb"))
      }.reduce(_ unionByName _).coalesce(1) // M·k' rows — model-sized
    })

  /** The PQ-ENCODED corpus as stored state: assign every vector its M
    * codeword ids against the STORED codebooks ([[pqCodebooks]] —
    * k'=8 codewords per 16-dim subspace, 3 L2-Lloyd iterations),
    * and persist (vec_id, code_0..3, recon_cos, qcos) where
    * recon_cos = cosine(v, concat of its codewords) and qcos is its
    * 1e-6-quantized BIGINT twin (for order-free exact averaging).
    * Build runs ONCE per corpus snapshot; consumers scan codes,
    * never embeddings.
    */
  private[queries] def pqEncoded(spark: SparkSession, dir: String): DataFrame =
    Tables.readStable(spark, RelationStore.ensure(s"pq-encoded:$dir") {
      val emb = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      def subOf(m: Int) =
        emb.select(col("vec_id"), slice(col("embedding"), m * PqSub + 1, PqSub).as("sub"))
      val cb = pqCodebooks(spark, dir)
      val cbs = (0 until PqM).map(m =>
        cb.filter(col("m") === m).select(col("code"), col("c_emb")))
      var out = emb
      for (m <- 0 until PqM) {
        val enc = PqIndex.assign(subOf(m), cbs(m))
          .select(col("vec_id"), col("code").as(s"code_$m"))
        val cw = cbs(m).select(col("code").as(s"code_$m"), col("c_emb").as(s"cw_$m"))
        out = out.join(enc, Seq("vec_id")).join(broadcast(cw), Seq(s"code_$m"))
      }
      val recon = concat((0 until PqM).map(m => col(s"cw_$m")): _*)
      out
        .withColumn("recon_cos", Similarity.cosine(col("embedding"), recon))
        .withColumn("qcos",
          floor(col("recon_cos") * lit(1e6) + lit(0.5)).cast(LongType))
        .select(col("vec_id") +:
          (0 until PqM).map(m => col(s"code_$m")) :+
          col("recon_cos") :+ col("qcos"): _*)
    })

  /** PRODUCT QUANTIZATION encode (Jégou et al. 2011) — the 16×
    * compression step beyond [[xEmbedQuantize]]'s SQ8 (4 one-byte
    * codeword ids vs 64 int8 codes per 64-dim float vector): each
    * vector's stored representation is its nearest codeword per
    * 16-dim subspace, L2-assigned against the deterministically
    * trained codebooks. Output: the standard vec_id % 20 sample's
    * codes plus each vector's reconstruction cosine — every number
    * hash-matched against the oracle's four parallel training chains.
    */
  def xPqEncode(spark: SparkSession, dir: String): DataFrame =
    pqEncoded(spark, dir)
      .filter(col("vec_id") % 20 === 0)
      .select(col("vec_id") +:
        (0 until PqM).map(m => col(s"code_$m")) :+ col("recon_cos"): _*)
      .orderBy("vec_id")

  /** MEASURED PQ reconstruction quality over the WHOLE corpus — the
    * honesty number for the 16× lever: n, worst, and mean
    * reconstruction cosine (mean over the 1e-6-quantized BIGINT twin
    * so the parallel sum is exact and order-free). r8 measurement:
    * mean 0.426/0.425/0.396, min 0.254/0.231/0.207 at
    * sf0.001/0.01/0.1 — on this uniform-sphere corpus 4 bytes keep
    * well under half the cosine direction (8⁴ reconstructions cannot
    * tile a 64-dim sphere; compare SQ8's measured 0.958 serving
    * agreement at 16× the bytes), i.e. PQ at this budget is a
    * CANDIDATE-GENERATION representation (fetch by code, rescore
    * survivors at full precision — exactly how IVF-PQ systems use
    * it), not a scoring-grade one. The number that tells a deployment
    * which representation to rescore with, measured not assumed.
    * Reads the stored encoded relation only (plan-guarded).
    */
  def xPqQuality(spark: SparkSession, dir: String): DataFrame =
    pqEncoded(spark, dir)
      .agg(
        count(lit(1)).as("n_vectors"),
        min(col("recon_cos")).as("min_cos"),
        sum(col("qcos")).as("_sq"))
      .select(col("n_vectors"), col("min_cos"),
        (col("_sq").cast(DoubleType) / col("n_vectors").cast(DoubleType) /
          lit(1e6)).as("mean_cos"))

  /** ADC rescore-candidate budget: the top-C code-scored vectors per
    * query that graduate to full-precision rescoring. C = max(8,
    * round(√N)) — scaled with the corpus by the same rule as the IVF
    * cell count ([[ivfK]]), for the same measured reason: under a
    * FIXED C=8 the rescored top-1 agreement decayed 0.21 → 0.08 as
    * the corpus grew 500 → 2000 (score quantization collides more
    * vectors into the top-C band as N grows), exactly the r7
    * fixed-k recall decay replayed one tier up. At C=√N the rescore
    * fetch stays negligible (|Q|·√N point-reads) while the candidate
    * band tracks the collision growth.
    */
  private[queries] def pqServeC(spark: SparkSession, dir: String): Int =
    // Recomputed per call (one metadata-cheap count() — negligible next
    // to the serve job): a JVM-global memo keyed by dir would silently
    // serve a stale C after an in-process rebuild/grow of the same
    // corpus path (the streaming-ingestion pattern), desyncing from the
    // oracle's COUNT(*) and the √N scaling contract.
    math.max(8, math.floor(math.sqrt(
      Tables.embeddings(spark, dir).count().toDouble) + 0.5).toInt)

  private[queries] val pqServeCSql =
    "GREATEST(8, CAST(FLOOR(SQRT(CAST((SELECT COUNT(*) FROM embeddings) AS DOUBLE)) + 0.5) AS BIGINT))"

  /** Asymmetric-distance (ADC) scores of the STORED PQ codes against a
    * (query_id, embedding) relation — the serving-side half of the PQ
    * story: per (query, subspace, codeword) partial dots form a
    * |Q|·M·k' lookup table (768 rows here — broadcast), and each
    * corpus vector's score is the 4-term LUT sum addressed by its
    * stored codeword ids. The scan reads CODES only (4 bytes/vector —
    * the 16× IO saving is the point); per-pair work is 4 lookups + 3
    * adds, never a 64-dim dot. Four broadcast joins, all map-side,
    * zero shuffle before the caller's ranking window. At 100 TB the
    * same scan composes with the IVF index (restrict to probed cells
    * before scoring — IVFADC, Jégou et al. 2011 §IV); kept full-scan
    * here so the agreement measurement isolates the PQ representation
    * from cell-recall effects.
    */
  /** The stored codebooks pivoted to ONE dense (m, code)-ordered array
    * row — model-sized state (M·k' = 32 entries), stored once per
    * corpus exactly like `ivf-centroid-pivot` and for the same reason:
    * without it every serving query re-ran a groupBy + collect_list
    * pivot job (an exchange + AQE stage of pure fixed cost) to
    * assemble its LUT row.
    */
  private[queries] def pqCodebookPivot(spark: SparkSession, dir: String): DataFrame =
    Tables.readStable(spark, RelationStore.ensure(s"pq-codebook-pivot:$dir") {
      pqCodebooks(spark, dir)
        .agg(array_sort(collect_list(struct(col("m"), col("code"), col("c_emb"))))
          .as("cb"))
    })

  /** The per-query ADC lookup table as ONE dense array row per query
    * (index m·k′+code — the codebook is dense over (m, code) by
    * construction): each entry is the partial dot of the query's m-th
    * subvector with that codeword. r17 final shape: computed ENTIRELY
    * map-side over the queries relation against the stored codebook
    * pivot (broadcast, 1 row) — the former form built the |Q|·M·k'
    * row relation and re-pivoted it with a groupBy + collect_list
    * exchange on every serving query. Same doubles in the same array
    * positions: the pivot array is (m, code)-sorted exactly like the
    * old array_sort(collect_list(struct(m, code, part))), and each
    * partial is the same dot over the same slice.
    */
  private[queries] def pqLut(spark: SparkSession, dir: String,
      queries: DataFrame): DataFrame =
    queries.crossJoin(broadcast(pqCodebookPivot(spark, dir)))
      .select(col("query_id"),
        transform(col("cb"), s =>
          Similarity.dot(
            slice(col("embedding"),
              s.getField("m") * lit(PqSub) + lit(1), lit(PqSub)),
            s.getField("c_emb"))).as("ivf_lut"))

  /** Attach the LUT partial dots to a (…, code_0..3) code stream and
    * sum them in fixed subspace order; each code's partial is a
    * map-side `element_at` into the broadcast per-query LUT row
    * (same doubles, same left-to-right IEEE sum as the original
    * four-join form). `firstKeys` containing `query_id` means the
    * stream already carries the query (join on it); otherwise every
    * query scores every code row, the cross the old m=0 code_0-only
    * join produced implicitly.
    */
  private[queries] def adcSummed(codeStream: DataFrame, lutRow: DataFrame,
      firstKeys: Seq[String]): DataFrame = {
    val joined =
      if (firstKeys.contains("query_id"))
        codeStream.join(broadcast(lutRow), Seq("query_id"))
      else codeStream.crossJoin(broadcast(lutRow))
    joined
      .withColumn("adc", (0 until PqM).map(m =>
        element_at(col("ivf_lut"),
          (col(s"code_$m").cast(IntegerType) + lit(m * PqK + 1)))).reduce(_ + _))
      .drop("ivf_lut")
  }

  private[queries] def pqAdcScored(spark: SparkSession, dir: String,
      queries: DataFrame): DataFrame = {
    val codes = pqEncoded(spark, dir)
      .select(col("vec_id") +: (0 until PqM).map(m => col(s"code_$m")): _*)
    adcSummed(codes, pqLut(spark, dir, queries), firstKeys = Seq("code_0"))
      .select(col("query_id"), col("vec_id"), col("adc"))
  }

  /** PQ SERVING with exact rescore — the two-tier retrieval
    * [[xPqQuality]]'s number prescribes (mean recon cosine ~0.4 at a
    * 4-byte budget: candidate generation, not scoring): rank the whole
    * corpus by ADC over the stored codes, keep the top-[[pqServeC]]
    * per query, fetch ONLY those candidates' full vectors and rescore
    * with exact cosine; output the rescored top-[[NovelQueryK]].
    * Rescore fetch is candidate-sized (|Q|·C rows broadcast into the
    * embeddings scan — the Spark rendering of a point-lookup fetch
    * from a vector store); the corpus-wide work touches 4-byte codes
    * only. How often this two-tier answer matches brute force is the
    * companion measurement ([[xPqServeAgreement]]), not an assumption.
    */
  def xPqServe(spark: SparkSession, dir: String): DataFrame = {
    val byAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("vec_id"))
    val cands = pqAdcScored(spark, dir,
        novelQueries(spark).select(col("query_id"), col("embedding")))
      .withColumn("adc_rank", row_number().over(byAdc))
      .filter(col("adc_rank") <= pqServeC(spark, dir))
      .select("query_id", "vec_id")
    val qe = novelQueries(spark)
      .select(col("query_id"), col("embedding").as("q_emb"))
    val byCos = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .join(broadcast(cands), Seq("vec_id"))
      .join(broadcast(qe), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        Similarity.cosine(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(byCos).cast(LongType))
      .filter(col("rank") <= NovelQueryK)
      .select("query_id", "rank", "vec_id", "cos")
      .orderBy("query_id", "rank")
  }

  /** MEASURED two-tier serving quality — the honesty numbers for the
    * PQ tier: top-1 agreement with brute-force exact search of (a) raw
    * ADC ranking (the 4-byte representation alone) and (b) the
    * rescored pipeline (exact top-1 found iff it survives into the
    * ADC top-C). The gap between the two columns is the measured value
    * of the rescore tier; the gap between (b) and 1.0 is the price of
    * C — raise [[pqServeC]]'s budget to buy it down. r8 measurement at
    * C=√N: ADC-alone 0.042/0.083/0.042, rescored 0.25/0.25/0.417 at
    * sf0.001/0.01/0.1 — the rescore tier multiplies top-1 agreement
    * 3-10× over the raw 4-byte ranking, and the number is
    * scale-STABLE (rising, as √N outpaces the collision band) where
    * the initial fixed C=8 decayed 0.21 → 0.08 over the same corpora.
    * On this uniform sphere that is the honest ceiling for 4-byte
    * codes; a clustered real corpus concentrates the exact top-1 into
    * the ADC band far harder. Brute-force leg is |Q|·corpus by the
    * measurement contract.
    */
  def xPqServeAgreement(spark: SparkSession, dir: String): DataFrame = {
    val exact = novelExactTop1(spark, dir)
    val byAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("vec_id"))
    val adc1 = pqAdcScored(spark, dir,
        novelQueries(spark).select(col("query_id"), col("embedding")))
      .withColumn("rn", row_number().over(byAdc))
      .filter(col("rn") === 1)
      .select(col("query_id"), col("vec_id").as("adc_id"))
    val pq1 = xPqServe(spark, dir).filter(col("rank") === 1L)
      .select(col("query_id"), col("vec_id").as("pq_id"))
    exact.join(adc1, Seq("query_id"), "left").join(pq1, Seq("query_id"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        sum(when(col("adc_id") === col("exact_id"), 1L).otherwise(0L)).as("n_adc_top1"),
        sum(when(col("pq_id") === col("exact_id"), 1L).otherwise(0L)).as("n_rescored"))
      .select(col("n_queries"), col("n_adc_top1"), col("n_rescored"),
        (col("n_adc_top1").cast(DoubleType) / col("n_queries").cast(DoubleType))
          .as("adc_agree"),
        (col("n_rescored").cast(DoubleType) / col("n_queries").cast(DoubleType))
          .as("rescored_agree"))
  }

  /** The COMPOSED IVF-PQ index as stored state: the IVF replicated
    * cell assignment joined to the PQ codes — (cell, vec_id,
    * code_0..3), the memory-resident layout of a Jégou-style IVFADC
    * system (the inverted lists hold 4-byte codes, not vectors). The
    * join of the two stored relations runs ONCE offline; at 100 TB
    * this relation is ~1/16 the embedding store and is the ONLY thing
    * the serving hot path keeps warm — cell-bucketed, so a probe
    * reads its cells' code rows and nothing else.
    */
  private[queries] def ivfPqIndex(spark: SparkSession, dir: String): DataFrame =
    Tables.readStable(spark, RelationStore.ensure(s"ivfpq-index:$dir") {
      ivfAssigned(spark, dir).select(col("vec_id"), col("cell"))
        .join(pqEncoded(spark, dir).select(
          col("vec_id") +: (0 until PqM).map(m => col(s"code_$m")): _*),
          Seq("vec_id"))
    })

  /** IVF-PQ COMPOSED serving — the full production ANN shape (IVFADC,
    * Jégou et al. 2011 §IV): probe the top-nprobe stored cells
    * ([[storedProbes]] — the index's own serving convention), score
    * ONLY the probed cells' rows by ADC over their 4-byte codes
    * (broadcast LUT joins, map-side), rescore the per-query top-C at
    * full precision. Versus [[xPqServe]] (full-scan ADC) the scored
    * fraction drops from 100% to nprobe/k of the replicated corpus;
    * versus [[xAnnQueryNovel]] (full-precision probes) the probed
    * bytes drop 16×. Per-query cost: ∝ probed-cell code rows + C
    * point-reads; no training, no corpus scan (plan-guarded).
    * Replicated rows dedup by (query, vec) max — ADC is
    * code-determined so replicas tie exactly.
    */
  def xIvfPqServe(spark: SparkSession, dir: String): DataFrame = {
    val probes = storedProbes(spark, dir, novelQueries(spark),
        nprobeOverride = None)
      .select(col("query_id"), col("cell"))
    val lut = pqLut(spark, dir,
      novelQueries(spark).select(col("query_id"), col("embedding")))
    val inCells = ivfPqIndex(spark, dir).join(broadcast(probes), Seq("cell"))
    val byAdc = Window.partitionBy("query_id").orderBy(col("adc").desc, col("vec_id"))
    val cands = adcSummed(inCells, lut, firstKeys = Seq("query_id", "code_0"))
      // one exchange for dedup + downstream per-query ranking: hash
      // partitioning by query_id satisfies both (see xAnnSq8)
      .repartition(col("query_id"))
      .groupBy("query_id", "vec_id").agg(max(col("adc")).as("adc"))
      .withColumn("adc_rank", row_number().over(byAdc))
      .filter(col("adc_rank") <= pqServeC(spark, dir))
      .select("query_id", "vec_id")
    val qe = novelQueries(spark)
      .select(col("query_id"), col("embedding").as("q_emb"))
    val byCos = Window.partitionBy("query_id").orderBy(col("cos").desc, col("vec_id"))
    Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
      .join(broadcast(cands), Seq("vec_id"))
      .join(broadcast(qe), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        Similarity.cosine(col("q_emb"), col("embedding")).as("cos"))
      .withColumn("rank", row_number().over(byCos).cast(LongType))
      .filter(col("rank") <= NovelQueryK)
      .select("query_id", "rank", "vec_id", "cos")
      .orderBy("query_id", "rank")
  }

  /** MEASURED IVF-PQ recall@1 vs brute force — the composed pipeline
    * stacks two approximations (cell recall × ADC-band recall), so
    * its number must be measured against exact search, not inferred
    * from the tiers' separate measurements. Read beside
    * `x_ann_novel_recall` (cells at full precision) and
    * `x_pq_serve_agreement` (ADC over all cells): the three numbers
    * bracket where the composed loss comes from. r8 measurement:
    * 0.292/0.25/0.417 at sf0.001/0.01/0.1 — scale-stable under the
    * √N-scaled k and C, and at sf0.1 EQUAL to the full-scan ADC
    * number (0.417) while scoring only nprobe/k of the corpus: on
    * this uniform sphere the ADC band, not cell recall, is the
    * binding constraint, so the composed index buys its 16×-bytes ×
    * (nprobe/k)-rows cost reduction for free relative to the PQ
    * representation's own ceiling. Brute-force leg is |Q|·corpus by
    * the measurement contract.
    */
  def xIvfPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = novelExactTop1(spark, dir)
    val served = xIvfPqServe(spark, dir).filter(col("rank") === 1L)
      .select(col("query_id"), col("vec_id").as("ivfpq_id"))
    exact.join(served, Seq("query_id"), "left")
      .agg(
        count(lit(1)).as("n_queries"),
        sum(when(col("ivfpq_id") === col("exact_id"), 1L).otherwise(0L)).as("n_matched"))
      .select(col("n_queries"), col("n_matched"),
        (col("n_matched").cast(DoubleType) / col("n_queries").cast(DoubleType))
          .as("recall"))
  }

  /** The four subspace training chains + corpus encode as oracle CTEs
    * (`pq{m}c{i}` codebooks, `enc{m}` assignments, `pqenc` the final
    * encoded relation with reconstruction cosines).
    */
  private[queries] lazy val pqCtes: String = {
    def chain(m: Int): String = {
      val src = s"sub$m"
      def assignSql(cb: String) =
        s"""SELECT vec_id, sub, code FROM (
           |  SELECT e.vec_id, e.sub, c.code,
           |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
           |      ORDER BY (${dotSql("e.sub", "c.c_emb")}
           |        - 0.5 * ${dotSql("c.c_emb", "c.c_emb")}) DESC, c.code) AS rn
           |  FROM $src e CROSS JOIN $cb c) WHERE rn = 1""".stripMargin
      def meansSql(a: String) =
        s"""SELECT code, list(mv ORDER BY dim) AS c_emb FROM (
           |  SELECT a.code, g.dim,
           |    CAST(CAST(SUM(CAST(FLOOR(CAST(a.sub[g.dim] AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
           |      / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS REAL) AS mv
           |  FROM $a a CROSS JOIN generate_series(1, $PqSub) AS g(dim)
           |  GROUP BY a.code, g.dim) GROUP BY code""".stripMargin
      val steps = (0 until PqIters).map(i =>
        s"pq${m}a$i AS (${assignSql(s"pq${m}c$i")}),\npq${m}c${i + 1} AS (${meansSql(s"pq${m}a$i")})")
        .mkString(",\n")
      s"""$src AS (SELECT vec_id, embedding[${m * PqSub + 1}:${(m + 1) * PqSub}] AS sub FROM embeddings),
         |pq${m}c0 AS (
         |  SELECT code, c_emb FROM (
         |    SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code, sub AS c_emb
         |    FROM $src) WHERE code < $PqK),
         |$steps,
         |enc$m AS (${assignSql(s"pq${m}c$PqIters")})""".stripMargin
    }
    val recon = "list_concat(list_concat(list_concat(cb0.c_emb, cb1.c_emb), cb2.c_emb), cb3.c_emb)"
    s"""${(0 until PqM).map(chain).mkString(",\n")},
       |pqenc AS (
       |  SELECT e.vec_id,
       |    e0.code AS code_0, e1.code AS code_1, e2.code AS code_2, e3.code AS code_3,
       |    ${cosSql("e.embedding", recon)} AS recon_cos
       |  FROM embeddings e
       |  JOIN enc0 e0 USING (vec_id) JOIN enc1 e1 USING (vec_id)
       |  JOIN enc2 e2 USING (vec_id) JOIN enc3 e3 USING (vec_id)
       |  JOIN pq0c$PqIters cb0 ON cb0.code = e0.code
       |  JOIN pq1c$PqIters cb1 ON cb1.code = e1.code
       |  JOIN pq2c$PqIters cb2 ON cb2.code = e2.code
       |  JOIN pq3c$PqIters cb3 ON cb3.code = e3.code)""".stripMargin
  }

  private[queries] lazy val xPqEncodeSql =
    s"""WITH $pqCtes
       |SELECT vec_id, code_0, code_1, code_2, code_3, recon_cos
       |FROM pqenc WHERE vec_id % 20 = 0 ORDER BY vec_id""".stripMargin

  private[queries] lazy val xPqQualitySql =
    s"""WITH $pqCtes
       |SELECT COUNT(*) AS n_vectors, MIN(recon_cos) AS min_cos,
       |  CAST(SUM(CAST(FLOOR(recon_cos * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) / 1000000.0 AS mean_cos
       |FROM pqenc""".stripMargin

  /** The PQ serving chain as CTEs (appended after `pqCtes`): the novel
    * query vectors, the per-(query, subspace) ADC lookup tables, the
    * LUT-summed code scores, the top-C candidate cut, and the
    * exact-cosine rescore — shared by the serving oracle and the
    * agreement oracle. LUT partial sums add in fixed subspace order
    * (l0+l1+l2+l3), the same left-fold the Spark column expression
    * evaluates.
    */
  /** Per-(query, subspace) ADC lookup-table CTEs (`lut0..3`) — expect
    * a `q(query_id, q_emb)` CTE already defined; shared by the
    * full-scan serving chain and the IVF-PQ composed chain.
    */
  private[queries] lazy val pqLutCtes: String =
    (0 until PqM).map { m =>
      val sub = s"q.q_emb[${m * PqSub + 1}:${(m + 1) * PqSub}]"
      s"""lut$m AS (
         |  SELECT q.query_id, c.code, ${dotSql(sub, "c.c_emb")} AS part
         |  FROM q CROSS JOIN pq${m}c$PqIters c)""".stripMargin
    }.mkString(",\n")

  private[queries] lazy val pqServeCtes: String = {
    s"""q AS (
       |  SELECT i AS query_id,
       |    list(CAST(((37 * i + 17 * d) % 101 - 50) / 64.0 AS REAL) ORDER BY d) AS q_emb
       |  FROM generate_series(0, ${NovelQueryN - 1}) s(i)
       |    CROSS JOIN generate_series(1, $IvfDim) g(d)
       |  GROUP BY i),
       |$pqLutCtes,
       |scored AS (
       |  SELECT l0.query_id, p.vec_id,
       |    l0.part + l1.part + l2.part + l3.part AS adc
       |  FROM pqenc p
       |  JOIN lut0 l0 ON l0.code = p.code_0
       |  JOIN lut1 l1 ON l1.code = p.code_1 AND l1.query_id = l0.query_id
       |  JOIN lut2 l2 ON l2.code = p.code_2 AND l2.query_id = l0.query_id
       |  JOIN lut3 l3 ON l3.code = p.code_3 AND l3.query_id = l0.query_id),
       |cands AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rn
       |    FROM scored) WHERE rn <= $pqServeCSql),
       |resc AS (
       |  SELECT c.query_id, c.vec_id, ${cosSql("q.q_emb", "e.embedding")} AS cos
       |  FROM cands c JOIN embeddings e USING (vec_id) JOIN q USING (query_id))""".stripMargin
  }

  private[queries] lazy val xPqServeSql =
    s"""WITH $pqCtes,
       |$pqServeCtes
       |SELECT query_id, rank, vec_id, cos FROM (
       |  SELECT query_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM resc) WHERE rank <= $NovelQueryK
       |ORDER BY query_id, rank""".stripMargin

  private[queries] lazy val xPqServeAgreementSql =
    s"""WITH $pqCtes,
       |$pqServeCtes,
       |exact AS (
       |  SELECT query_id, vec_id AS exact_id FROM (
       |    SELECT q.query_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosSql("q.q_emb", "e.embedding")} DESC, e.vec_id) AS rn
       |    FROM q CROSS JOIN embeddings e) WHERE rn = 1),
       |adc1 AS (
       |  SELECT query_id, vec_id AS adc_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rn
       |    FROM scored) WHERE rn = 1),
       |pq1 AS (
       |  SELECT query_id, vec_id AS pq_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
       |    FROM resc) WHERE rn = 1)
       |SELECT COUNT(*) AS n_queries,
       |  CAST(SUM(CASE WHEN a.adc_id = ex.exact_id THEN 1 ELSE 0 END) AS BIGINT) AS n_adc_top1,
       |  CAST(SUM(CASE WHEN p.pq_id = ex.exact_id THEN 1 ELSE 0 END) AS BIGINT) AS n_rescored,
       |  CAST(SUM(CASE WHEN a.adc_id = ex.exact_id THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS adc_agree,
       |  CAST(SUM(CASE WHEN p.pq_id = ex.exact_id THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS rescored_agree
       |FROM exact ex LEFT JOIN adc1 a USING (query_id) LEFT JOIN pq1 p USING (query_id)""".stripMargin

  /** The IVF-PQ composed serving chain: IVF training + probe CTEs
    * (`assigned`/`q`/`probe`), the PQ training + encode CTEs, the ADC
    * LUTs, then cell-restricted ADC scoring, the top-C cut, and the
    * exact rescore.
    */
  private[queries] lazy val ivfPqServeCtes: String =
    s"""$ivfTrainCtes,
       |${annNovelBaseCtesAt(ivfServeNprobeSql)},
       |$pqCtes,
       |$pqLutCtes,
       |scoredp AS (
       |  SELECT p.query_id, a.vec_id,
       |    MAX(l0.part + l1.part + l2.part + l3.part) AS adc
       |  FROM assigned a
       |  JOIN probe p USING (cell)
       |  JOIN pqenc e ON e.vec_id = a.vec_id
       |  JOIN lut0 l0 ON l0.query_id = p.query_id AND l0.code = e.code_0
       |  JOIN lut1 l1 ON l1.query_id = p.query_id AND l1.code = e.code_1
       |  JOIN lut2 l2 ON l2.query_id = p.query_id AND l2.code = e.code_2
       |  JOIN lut3 l3 ON l3.query_id = p.query_id AND l3.code = e.code_3
       |  GROUP BY p.query_id, a.vec_id),
       |candsp AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc DESC, vec_id) AS rn
       |    FROM scoredp) WHERE rn <= $pqServeCSql),
       |rescp AS (
       |  SELECT c.query_id, c.vec_id, ${cosSql("q.q_emb", "e.embedding")} AS cos
       |  FROM candsp c JOIN embeddings e USING (vec_id) JOIN q USING (query_id))""".stripMargin

  private[queries] lazy val xIvfPqServeSql =
    s"""WITH $ivfPqServeCtes
       |SELECT query_id, rank, vec_id, cos FROM (
       |  SELECT query_id, vec_id, cos,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rank
       |  FROM rescp) WHERE rank <= $NovelQueryK
       |ORDER BY query_id, rank""".stripMargin

  private[queries] lazy val xIvfPqRecallSql =
    s"""WITH $ivfPqServeCtes,
       |exact AS (
       |  SELECT query_id, vec_id AS exact_id FROM (
       |    SELECT q.query_id, e.vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id
       |        ORDER BY ${cosSql("q.q_emb", "e.embedding")} DESC, e.vec_id) AS rn
       |    FROM q CROSS JOIN embeddings e) WHERE rn = 1),
       |servedp AS (
       |  SELECT query_id, vec_id AS ivfpq_id FROM (
       |    SELECT query_id, vec_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
       |    FROM rescp) WHERE rn = 1)
       |SELECT COUNT(*) AS n_queries,
       |  CAST(SUM(CASE WHEN s.ivfpq_id = ex.exact_id THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
       |  CAST(SUM(CASE WHEN s.ivfpq_id = ex.exact_id THEN 1 ELSE 0 END) AS DOUBLE)
       |    / CAST(COUNT(*) AS DOUBLE) AS recall
       |FROM exact ex LEFT JOIN servedp s USING (query_id)""".stripMargin

  /** Typed JSON parsing of the `props` column (`from_json` with a
    * declared schema — the schema'd twin of `xEventsWindow`'s
    * `get_json_object`), aggregated per extracted key.
    */
}
