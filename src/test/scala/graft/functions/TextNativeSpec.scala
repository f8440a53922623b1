package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.SparkSpec
import graft.ext.{Similarity, TextOps}

/** Native-vs-declarative parity: each native expression must be
  * value-identical to its pure-builtin twin on a varied corpus
  * (including short/empty/whitespace docs), because the DuckDB oracle
  * mirrors the DECLARATIVE form.
  */
class TextNativeSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over a lazy dog"),
      (1L, "a b"),                 // fewer tokens than shingle width
      (2L, ""),                    // empty text -> [""] after split(trim)
      (3L, "data key data key data the the"),
      (4L, "  padded   with   spaces  "),
      (5L, "x")).toDF("doc_id", "text")
  }
  private def toks = TextOps.tokens(col("text"))

  // Pure-builtin parity oracles of the native expressions: the DuckDB
  // oracle SQL (`graft.queries.ExtFragments`) mirrors these forms.

  /** Bit b is set iff the sum over tokens of ±1 (hex digit b of the
    * token's md5 >= '8' means +1) is non-negative.
    */
  private def simhash16Declarative(toks: Column): Column =
    (0 until 16).map { b =>
      val contrib = transform(toks, t =>
        when(substring(md5(t), b + 1, 1) >= "8", lit(1)).otherwise(lit(-1)))
      val s = aggregate(contrib, lit(0), (acc, x) => acc + x)
      when(s >= 0, lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Token → integer from the `ascii` codes of its md5's first 4 hex chars. */
  private def tokenInt(t: Column): Column = {
    val m = md5(t)
    (ascii(substring(m, 1, 1)) * lit(1000000L) +
      ascii(substring(m, 2, 1)) * lit(10000L) +
      ascii(substring(m, 3, 1)) * lit(100L) +
      ascii(substring(m, 4, 1))).cast(LongType)
  }

  private def rollingHashDeclarative(toks: Column): Column =
    aggregate(toks, lit(0L), (acc, t) => (acc * 131L + tokenInt(t)) % 1000000007L)

  /** ±1 hyperplane weight for (dimension i, plane j):
    * ((i*1103515245 + j*12345) mod 65537) mod 2 == 0 → +1 else -1.
    */
  private def weight(i: Column, j: Int): Column =
    when((i.cast("long") * 1103515245L + lit(j * 12345L)) % 65537L % 2L === 0L,
      lit(1.0)).otherwise(lit(-1.0))

  private def lshBucketDeclarative(emb: Column, planes: Int): Column =
    (0 until planes).map { j =>
      val proj = aggregate(
        transform(emb, (x, i) => x.cast(DoubleType) * weight(i, j)),
        lit(0.0), (acc, x) => acc + x)
      when(proj >= 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)

  private def assertSame(native: org.apache.spark.sql.Column, declarative: org.apache.spark.sql.Column): Unit = {
    val bad = docs.select(col("doc_id"), native.as("n"), declarative.as("d"))
      .filter(!(col("n") <=> col("d")))
      .collect()
    assert(bad.isEmpty, s"native != declarative: ${bad.mkString(", ")}")
  }

  test("word_shingles == declarative shingles")(
    assertSame(TextOps.shingles(toks, 3), TextOps.shinglesDeclarative(toks, 3)))

  test("word_shingles NULLs any shingle containing a NULL token (matches min_shingle/minhash)") {
    import spark.implicits._
    // tokens [a, NULL, b, c, d]: shingles 1 and 2 contain the NULL ->
    // NULL; shingle 3 = "b c d". All three expressions must agree on
    // this (they share the DuckDB `||` NULL-propagation semantics).
    val df = Seq(Tuple1(Seq(Some("a"), None, Some("b"), Some("c"), Some("d"))))
      .toDF("toks")
    val row = df.select(
      TextOps.shingles(col("toks"), 3).as("n"),
      TextOps.shinglesDeclarative(col("toks"), 3).as("d"),
      call_function("min_shingle", col("toks"), lit(3)).as("ms"),
      md5(lit("b c d")).as("expect_ms")).collect().head
    assert(row.getSeq[String](0) == Seq(null, null, "b c d"))
    assert(row.getSeq[String](0) == row.getSeq[String](1))
    assert(row.getString(2) == row.getString(3)) // only the non-NULL shingle competes
  }

  test("simhash16 == declarative simhash16")(
    assertSame(TextOps.simhash16(toks), simhash16Declarative(toks)))

  test("rolling_hash == declarative rollingHash")(
    assertSame(TextOps.rollingHash(toks), rollingHashDeclarative(toks)))

  test("min_shingle == array_min of md5'd declarative shingles")(
    assertSame(
      call_function("min_shingle", toks, lit(3)),
      array_min(transform(TextOps.shinglesDeclarative(toks, 3), s => md5(s)))))

  test("count_in_set == size(filter(isInCollection))")(
    assertSame(
      TextOps.stopwordCount(toks),
      size(filter(toks, t => t.isInCollection(TextOps.Stopwords)))))

  test("token_len_sum-based avgTokenLen == declarative fold")(
    assertSame(
      TextOps.avgTokenLen(toks),
      when(size(toks) === 0, lit(null).cast("double")).otherwise(
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") /
          size(toks).cast("double"))))

  test("char_rolling_hash == per-character ascii fold (ASCII corpus)")(
    assertSame(
      call_function("char_rolling_hash", col("text")),
      expr("aggregate(sequence(1, length(text)), 0L, " +
        "(acc, i) -> (acc * 131 + ascii(substring(text, i, 1))) % 1000000007)")))

  test("minhash_sigs == declarative per-signature minhash over hashed shingles") {
    val sigsNative = call_function("minhash_sigs", toks, lit(3), lit(8))
    val sigsDecl = array((0 until 8).map(j =>
      TextOps.minhashFromHashes(
        transform(TextOps.shinglesDeclarative(toks, 3), TextOps.shingleHash(_)), j)): _*)
    // both NULL (no shingles) or element-wise equal; array() builds a
    // non-null array of NULLs, so compare through a normalizing guard
    val bad = docs.select(col("doc_id"), sigsNative.as("n"), sigsDecl.as("d"))
      .filter(!(col("n") <=> when(element_at(col("d"), 1).isNull, lit(null)).otherwise(col("d"))))
      .collect()
    assert(bad.isEmpty, s"native != declarative: ${bad.mkString(", ")}")
  }

  test("lsh_bucket == declarative lshBucket on embeddings") {
    import spark.implicits._
    val rng = new scala.util.Random(11)
    val emb = Seq.tabulate(40)(i => (i.toLong, Array.fill(64)(rng.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val bad = emb.select(
        Similarity.lshBucket(col("embedding"), 8).as("n"),
        lshBucketDeclarative(col("embedding"), 8).as("d"))
      .filter(!(col("n") <=> col("d"))).collect()
    assert(bad.isEmpty)
  }
}
