package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, FloatType, IntegerType, LongType, StringType, StructField, StructType}

import graft.Tables
import graft.ext.{BpeTrainer, Dedup, Graph, IvfIndex, IvfStore, Multimodal, PqIndex, RelationStore, Similarity, TextOps, TopK, ZOrder}

/** DuckDB SQL fragment builders shared by every domain trait
  * — split from the monolithic ExtQueries in r10; mixes into
  * [[ExtQueries]] (self-typed), which carries the oracle-strategy
  * contract and the `queries`/`oracleSql` registries.
  */
private[queries] trait ExtFragments { this: ExtQueries.type =>
  // ===================================================================
  // DuckDB SQL fragment builders (mirror graft.ext expressions 1:1)
  // ===================================================================

  /** string tokens — mirrors TextOps.tokens */
  private[queries] val ToksSql = "string_split(trim(text), ' ')"

  /** word n-shingles over a toks column — mirrors TextOps.shingles */
  private[queries] def shinglesSql(toks: String, n: Int): String = {
    val parts = (0 until n).map(k => s"$toks[i+$k]").mkString(" || ' ' || ")
    s"list_transform(range(1, len($toks) - ${n - 2}), i -> $parts)"
  }

  /** mirrors TextOps.shingleHash: first 8 hex chars of md5 packed to a
    * BIGINT via shared ascii arithmetic (argument: a string expr).
    */
  private[queries] def shingleHashSql(s: String): String = {
    val m = s"md5($s)"
    (1 to 8).map { i =>
      val a = s"ascii(substr($m, $i, 1))"
      s"CAST(CASE WHEN $a >= 97 THEN $a - 87 ELSE $a - 48 END AS BIGINT) * ${1L << ((8 - i) * 4)}"
    }.mkString("(", " + ", ")")
  }

  /** mirrors TextOps.minhashFromHashes over a pre-hashed list column */
  private[queries] def minhashSql(hs: String, j: Int): String =
    s"list_min(list_transform($hs, h -> (h * ${TextOps.minhashA(j)} + ${TextOps.minhashB(j)}) % ${TextOps.MinhashP}))"

  /** mirrors TextOps.simhash16 */
  private[queries] def simhashSql(toks: String): String =
    (0 until 16).map { b =>
      s"(CASE WHEN list_reduce(list_prepend(0, list_transform($toks, t -> " +
        s"CASE WHEN substr(md5(t), ${b + 1}, 1) >= '8' THEN 1 ELSE -1 END)), " +
        s"(acc, x) -> acc + x) >= 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** the token integer of TextOps.rollingHash (argument: an md5-hex expression) */
  private[queries] def tokenIntSql(m: String): String =
    s"(ascii(substr($m, 1, 1)) * 1000000 + ascii(substr($m, 2, 1)) * 10000 + " +
      s"ascii(substr($m, 3, 1)) * 100 + ascii(substr($m, 4, 1)))"

  /** mirrors TextOps.rollingHash */
  private[queries] def rollingSql(toks: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform($toks, t -> " +
      s"CAST(${tokenIntSql("md5(t)")} AS BIGINT))), (acc, x) -> (acc * 131 + x) % 1000000007)"

  /** mirrors Similarity.dot — in-order left fold of exact doubles.
    * Expressed as DuckDB's native `list_dot_product` over DOUBLE[]
    * (a plain in-index-order C++ accumulation loop — verified
    * bit-identical to the explicit list_reduce fold over 40k real
    * embedding pairs, and ~19× faster; the fold form made the
    * 23 IVF-training oracle chains so slow at k=√N that the round-8
    * DuckDB gate timed out).
    */
  private[queries] def dotSql(a: String, b: String): String =
    s"list_dot_product(CAST($a AS DOUBLE[]), CAST($b AS DOUBLE[]))"

  /** mirrors Similarity.cosine */
  private[queries] def cosSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"

  /** mirrors Similarity.lshBucket (dim is fixed 64 in testdata) */
  private[queries] def lshBucketSql(emb: String, planes: Int): String =
    (0 until planes).map { j =>
      val w = s"(CASE WHEN ((p[2] * 1103515245 + ${j * 12345}) % 65537) % 2 = 0 " +
        "THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END)"
      val proj = s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(list_zip($emb, range(0, 64)), p -> CAST(p[1] AS DOUBLE) * $w)), " +
        "(acc, x) -> acc + x)"
      s"(CASE WHEN $proj >= 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  private[queries] def inList(xs: Seq[String]): String = xs.map(s => s"'$s'").mkString("(", ", ", ")")

  /** Bucketed-embeddings CTE pair with the DATA-SCALED near-dup plane
    * count (mirrors Similarity.planesFor): `nbp` computes the bucket
    * modulus 2^p from COUNT(*), and `bucketed` masks the static
    * 24-plane bucket down to its low p bits (bit j depends only on
    * plane j, so the masked value IS the p-plane bucket id).
    */
  private[queries] lazy val neardupBucketedSql: String = {
    val whens = (3 to 23)
      .map(p => s"WHEN (COUNT(*) + 255) // 256 <= ${1L << p} THEN ${1L << p}")
      .mkString(" ")
    s"""nbp AS (SELECT CASE $whens ELSE ${1L << 24} END AS nb FROM embeddings),
       |bucketed AS (SELECT vec_id, embedding,
       |  (${lshBucketSql("embedding", 24)}) % nb AS bucket
       |  FROM embeddings CROSS JOIN nbp)""".stripMargin
  }

}
