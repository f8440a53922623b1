package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StringType}

/** Text-analysis primitives for a large-scale training-data pipeline:
  * tokenization, shingling, hashing, language-ID scoring, quality
  * stats, fingerprinting. The reference repo has no text surface at
  * all (its only string ops are column-NAME case changes,
  * `transform_functions.py:8-24`), so this module is part of the
  * beyond-reference extension set (SURVEY.md §7.3 step 5).
  *
  * Design constraints:
  *  - Everything is a Catalyst `Column` expression (codegen-friendly,
  *    no UDFs) built from `functions._` + higher-order functions, so
  *    it runs map-side with zero shuffles — at 100 TB each operator is
  *    a single pass over the corpus, embarrassingly parallel.
  *  - Every function is *cross-engine deterministic*: only integer
  *    arithmetic, md5 (identical lowercase hex in Spark and DuckDB),
  *    lexicographic string min, and in-order left folds — so each
  *    query has an exact DuckDB oracle (no float-accumulation-order
  *    nondeterminism).
  */
object TextOps {

  /** Whitespace tokens. `trim` first: Spark's `split` drops trailing
    * empty strings while DuckDB's `string_split` keeps them, so a
    * trailing space would desync the engines.
    */
  def tokens(text: Column): Column = split(trim(text), " ")

  /** Word n-shingles ("n-grams of tokens") as space-joined strings.
    * Guarded: Spark `sequence(0, -1)` would generate a DESCENDING
    * sequence for docs shorter than n, so short docs map to an empty
    * array explicitly (DuckDB's `range(1, len-1)` is empty naturally).
    */
  def shingles(toks: Column, n: Int): Column =
    call_function("word_shingles", toks, lit(n)) // native (graft.functions.WordShingles)

  /** Pure-builtin twin of [[shingles]] (spec cross-check; sessions
    * without GraftExtensions). `concat` — not `concat_ws` — so a NULL
    * token NULLs the shingle, matching the native expression and the
    * DuckDB `||` oracle.
    */
  def shinglesDeclarative(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast(ArrayType(StringType)))
      .otherwise(transform(sequence(lit(0), size(toks) - n), i =>
        concat((1 to n).flatMap(k =>
          if (k == 1) Seq(element_at(toks, i + k))
          else Seq(lit(" "), element_at(toks, i + k))): _*)))

  /** 32-bit shingle hash: the first 8 hex chars of md5(shingle) packed
    * to a long via shared ascii arithmetic (both engines agree on
    * `ascii`/`substr` and lowercase md5 hex). ONE md5 per shingle — the
    * k seeded MinHash functions then derive from this value by integer
    * mixing, instead of k separate md5 calls (8× fewer digests; the
    * md5 is the dominant cost of signature computation at corpus
    * scale).
    */
  def shingleHash(s: Column): Column =
    // conv(hex, 16, 10): one md5 + one parse per shingle. HOF lambda
    // bodies are evaluated interpreted with NO subexpression
    // elimination, so a multi-term expression repeating `md5(s)` would
    // recompute the digest per term — measured 8× slower. The oracle
    // mirrors the same integer via shared ascii arithmetic.
    conv(substring(md5(s), 1, 8), 16, 10).cast(LongType)

  /** Mode count (top-token occurrence count) as the max equal-run
    * length over the SORTED token array — O(n log n) per document,
    * replacing the r4 `array_max(transform(array_distinct(toks), u =>
    * size(filter(toks, x = u))))` form whose distinct-×-scan is
    * O(u·n) per document (quadratic on high-diversity text, and HOF
    * lambda bodies evaluate interpreted — it dominated the curation
    * gate's corpus pass). Same value by definition: equal tokens are
    * adjacent after sorting, so the longest run IS the mode count.
    * NULL on an empty array, exactly like array_max over an empty
    * transform.
    */
  def topTokenCount(toks: Column): Column =
    when(size(toks) === 0, lit(null).cast(LongType)).otherwise(
      aggregate(
        array_sort(toks),
        struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
        (acc, x) => {
          val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
            .otherwise(lit(1L))
          struct(x.as("prev"), run.as("run"),
            greatest(acc.getField("best"), run).as("best"))
        },
        acc => acc.getField("best")))

  /** 2^31-1 (prime) — modulus of the MinHash affine mixes. */
  val MinhashP = 2147483647L
  /** Per-function affine constants: ~2^30, so mix·hash < 2^63 (no
    * 64-bit overflow in either engine).
    */
  def minhashA(j: Int): Long = 1103515245L + 12345L * j
  def minhashB(j: Int): Long = 12345L + 54321L * j

  /** MinHash signature element j over pre-hashed shingles
    * ([[shingleHash]]): min over shingles of (A_j·h + B_j) mod P —
    * pure 64-bit integer math, bit-identical in DuckDB. NULL for
    * shingle-less docs (`array_min` of an empty array).
    */
  def minhashFromHashes(hashes: Column, j: Int): Column =
    array_min(transform(hashes, h => (h * minhashA(j) + minhashB(j)) % MinhashP))

  /** MinHash signature element from raw shingles (one-off convenience;
    * batch callers pre-compute [[shingleHash]] once for all k
    * functions — see `Dedup.minhashBands`).
    */
  def minhash(shingleArr: Column, seed: Int): Column =
    minhashFromHashes(transform(shingleArr, shingleHash(_)), seed)

  /** 16-bit SimHash over tokens. Bit b is set iff the sum over tokens
    * of ±1 (sign taken from hex digit b of the token's md5: >= '8'
    * means +1) is non-negative. Pure integer math → exact oracle.
    */
  def simhash16(toks: Column): Column =
    call_function("simhash16", toks) // native (graft.functions.SimHash16)

  /** Polynomial rolling hash over the token stream:
    * fold(acc * 131 + tokenInt) mod 1e9+7, where tokenInt packs the
    * `ascii` codes of the first 4 hex chars of the token's md5 (which
    * both engines share) — an order-sensitive
    * document fingerprint (content AND sequence), vs the order-free
    * md5-of-text fingerprint. In-order left fold from 0 in both
    * engines (`aggregate` / `list_reduce(list_prepend(0, ...))`).
    */
  def rollingHash(toks: Column): Column =
    call_function("rolling_hash", toks) // native (graft.functions.RollingHash)

  /** Quality-scoring stopword list (drawn from the synthetic corpus
    * vocabulary; stands in for a real language's function words).
    */
  val Stopwords: Seq[String] = Seq("a", "the", "data", "key")

  def stopwordCount(toks: Column): Column =
    call_function("count_in_set", toks, array(Stopwords.map(lit): _*))

  /** Language marker sets for the n-gram-heuristic language ID. Real
    * lang-ID uses char-n-gram profiles per language; the synthetic
    * corpus shares one vocabulary across its `lang` labels, so the
    * heuristic demonstrates the operator shape (per-language marker
    * scoring + deterministic argmax), not label recovery.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast"),
    "es" -> Seq("table", "join", "merge"),
    "de" -> Seq("stream", "window", "batch"))

  def markerCount(toks: Column, markers: Seq[String]): Column =
    call_function("count_in_set", toks, array(markers.map(lit): _*))

  /** Deterministic argmax over the language scores: first language in
    * [[LangMarkers]] order wins ties (same CASE shape as the oracle).
    */
  def predictedLang(scores: Seq[(String, Column)]): Column = {
    // en wins if >= all others; else es if >= remaining; else de
    def pick(rest: List[(String, Column)]): Column = rest match {
      case (lang, _) :: Nil => lit(lang)
      case (lang, s) :: tail =>
        when(tail.map(_._2).map(s >= _).reduce(_ && _), lit(lang))
          .otherwise(pick(tail))
      case Nil => lit(null).cast(StringType)
    }
    pick(scores.toList)
  }

  /** Fixed-width token windows (context packing): chunk i =
    * `toks[i·w+1 .. i·w+w]`, last chunk ragged; floor((len+w-1)/w)
    * chunks (exact in IEEE — w is a power of two in all callers).
    * Guarded like [[shinglesDeclarative]]: on an empty (or NULL,
    * size = -1) token array `sequence(0, -1)` would generate a
    * DESCENDING [0, -1] and emit two spurious chunks — empty array
    * instead (DuckDB's `range(0, 0)` is empty naturally).
    */
  def chunks(toks: Column, w: Int): Column = {
    val nChunks = floor((size(toks) + lit(w - 1)) / lit(w.toDouble))
      .cast(org.apache.spark.sql.types.IntegerType)
    when(size(toks) <= 0, array().cast(ArrayType(ArrayType(StringType))))
      .otherwise(transform(sequence(lit(0), nChunks - 1), i => slice(toks, i * w + 1, lit(w))))
  }

  // C4-style quality-gate thresholds — shared by the batch
  // `x_quality_filter` query and the streaming text pipeline so the
  // two gates can never drift apart
  val MinTokens = 5
  val MaxTokens = 1000
  val MinUniqRatio = 0.3
  val MaxStopwordRatio = 0.5

  /** The quality-gate KEEP predicate over a token array (all three
    * rules; `x_quality_filter` additionally reports which rule fired).
    */
  def qualityKeep(toks: Column): Column = {
    val n = size(toks)
    val uniq = size(array_distinct(toks)).cast(DoubleType) / n.cast(DoubleType)
    val stop = stopwordCount(toks).cast(DoubleType) / n.cast(DoubleType)
    n >= MinTokens && n <= MaxTokens && uniq >= MinUniqRatio && stop <= MaxStopwordRatio
  }

  /** Exact mean token length as int/int double division (single IEEE
    * op → identical in both engines), NULL on empty docs.
    */
  def avgTokenLen(toks: Column): Column = {
    val totalLen = call_function("token_len_sum", toks) // native fold
    when(size(toks) === 0, lit(null).cast(DoubleType))
      .otherwise(totalLen.cast(DoubleType) / size(toks).cast(DoubleType))
  }
}
