package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.GraftBridge.{column => toCol, expression => toExpr}

/** Column-level graft functions (custom Catalyst expressions exposed as
  * `Column`s) + SQL registration.
  */
package object functions {

  import graft.expressions._

  /** 2-D Hilbert-curve index of (x, y) on a 2^bits × 2^bits grid.
    * Replaces the reference's driver-side Hilbert sort key
    * (reference: write.py:36, 66-90) with a codegen'd expression
    * usable inside any Spark plan (e.g. repartitionByRange).
    */
  def hilbert_index(x: Column, y: Column, bits: Int): Column =
    toCol(HilbertIndex(toExpr(x), toExpr(y), bits))

  /** Morton (Z-order) interleave of (x, y) on a 2^bits grid. */
  def morton_index(x: Column, y: Column, bits: Int): Column =
    toCol(MortonIndex(toExpr(x), toExpr(y), bits))

  /** MinHash signature: Array[Long](n) over an array of string
    * shingles, one pass per row, no shingle explode.
    */
  def minhash(shingles: Column, numHashes: Int, seed: Long = 0L): Column =
    toCol(MinHashSignature(toExpr(shingles), numHashes, seed))

  /** Distinct 3-token shingles of a token array, first-occurrence
    * order — bit-identical to array_distinct(transform(sequence(1,
    * greatest(n-2,1)), i => concat_ws(' ', slice(toks, i, 3)))).
    */
  def shingles3(toks: Column): Column =
    toCol(Shingle3Distinct(toExpr(toks)))

  /** All n-token word grams in order, single-space joined — for
    * size(toks) ≥ n, bit-identical to transform(sequence(1,
    * size-(n-1)), i => concat_ws(' ', slice(toks, i, n))); EMPTY
    * below n (callers filter size >= n first).
    */
  def word_ngrams(toks: Column, n: Int): Column =
    toCol(WordNGrams(toExpr(toks), n, distinct = false))

  /** First-occurrence-distinct n-token word grams — the
    * array_distinct(...) wrap of [[word_ngrams]], one pass.
    */
  def shingles_n(toks: Column, n: Int): Column =
    toCol(WordNGrams(toExpr(toks), n, distinct = true))

  /** All length-3 character substrings — for length(text) ≥ 3,
    * bit-identical to transform(sequence(1, length(text)-2),
    * i => substring(text, i, 3)); EMPTY below 3 characters. One
    * linear byte pass vs the chain's O(chars²) re-seeking substring.
    */
  def char_trigrams(text: Column): Column =
    toCol(CharTrigrams(toExpr(text)))

  /** Salted-md5 MinHash signature (the portable-SQL hash family of
    * the C20/C21 tuning reports): element j = min over shingles of the
    * first 48 bits of md5(j + ":" + s) — bit-identical to
    * conv(substring(md5(concat_ws(':', j, s)), 1, 12), 16, 10).
    */
  def salted_md5_minhash(shingles: Column, numHashes: Int): Column =
    toCol(SaltedMd5MinHash(toExpr(shingles), numHashes))

  /** Sliding n-token-gram 16-byte MD5 digests (null tokens skipped
    * like concat_ws); element i covers tokens[i..i+n-1].
    */
  def gram_md5(toks: Column, n: Int): Column =
    toCol(GramMd5(toExpr(toks), n))

  /** 64-bit SimHash over an array of string tokens. */
  def simhash64(tokens: Column): Column =
    toCol(SimHash64(toExpr(tokens)))

  /** Scalar 64-bit string hash: splitmix64(fnv1a64(s) ^ key). */
  def hash64(s: Column, key: Long): Column =
    toCol(Hash64Expr(toExpr(s), key))

  /** Codegen'd cosine similarity over Array[Double] columns. */
  def cosine_similarity(a: Column, b: Column): Column =
    toCol(CosineSimilarity(toExpr(a), toExpr(b)))

  /** Codegen'd squared euclidean distance over Array[Double] columns. */
  def squared_distance(a: Column, b: Column): Column =
    toCol(SquaredDistance(toExpr(a), toExpr(b)))

  /** Codegen'd |A ∩ B| for string arrays (expects deduplicated). */
  def intersect_size(a: Column, b: Column): Column =
    toCol(IntersectSize(toExpr(a), toExpr(b)))

  /** Codegen'd dot product over Array[Double] columns. */
  def dot_product(a: Column, b: Column): Column =
    toCol(DotProduct(toExpr(a), toExpr(b)))

  /** SQ8 per-vector scale (max|x|/127, zero-vector clamped). */
  def sq8_scale(v: Column): Column = toCol(Sq8Scale(toExpr(v)))

  /** SQ8 byte-packed codes (BinaryType, dim bytes per vector). */
  def sq8_pack(v: Column, scale: Column): Column =
    toCol(Sq8Pack(toExpr(v), toExpr(scale)))

  /** Exact integer dot product of two byte-packed SQ8 code vectors. */
  def sq8_dot(a: Column, b: Column): Column =
    toCol(Sq8Dot(toExpr(a), toExpr(b)))

  /** WKB POINT geometry from (lon, lat) — geoparquet encoding. */
  def wkb_point(lon: Column, lat: Column): Column =
    toCol(WkbPoint(toExpr(lon), toExpr(lat)))

  /** First array element with given prefix+suffix, else null. */
  def first_link(links: Column, prefix: String, suffix: String): Column =
    toCol(FirstLink(toExpr(links), prefix, suffix))

  /** Codegen'd Porter stem of a lowercase word. */
  def porter_stem(w: Column): Column = toCol(PorterStem(toExpr(w)))

  /** One BPE merge pass over a symbol array (E20's training rewrite). */
  def bpe_merge_step(syms: Column, a: Column, b: Column): Column =
    toCol(BpeMergeStep(toExpr(syms), toExpr(a), toExpr(b)))

  /** Per-word BPE token count for a trained merge list (E21). */
  def bpe_encoded_length(w: Column,
                         merges: Array[(String, String)]): Column =
    toCol(BpeEncodedLength(toExpr(w), merges))

  /** Codegen'd Σ floor(c·ln c·1e9+0.5) over a binary payload's byte
    * histogram (exact-integer byte-entropy building block).
    */
  def byte_log_units(b: Column): Column = toCol(ByteLogUnits(toExpr(b)))

  /** Identity barrier for an EXPENSIVE derived column that is
    * subsequently filtered on: stops predicate pushdown from
    * duplicating the expression below its Project (guide §4.4; see
    * [[graft.expressions.Once]]). Zero runtime cost.
    */
  def once(c: Column): Column = toCol(Once(toExpr(c)))

  /** graft's SQL functions, name → builder over the call's argument
    * expressions: [[registerAll]] registers them on a session, and
    * `graft.plans.GraftExtensions` injects them into one it builds.
    */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "hilbert_index" -> (e =>
      HilbertIndex(e(0), e(1), e(2).eval().asInstanceOf[Int])),
    "morton_index" -> (e =>
      MortonIndex(e(0), e(1), e(2).eval().asInstanceOf[Int])),
    "minhash" -> (e =>
      MinHashSignature(e(0), e(1).eval().asInstanceOf[Int], 0L)),
    "simhash64" -> (e => SimHash64(e(0))),
    "shingles3" -> (e => Shingle3Distinct(e(0))),
    "salted_md5_minhash" -> (e =>
      SaltedMd5MinHash(e(0), e(1).eval().asInstanceOf[Int])),
    "gram_md5" -> (e => GramMd5(e(0), e(1).eval().asInstanceOf[Int])))

  /** Register graft functions for SQL use on this session. */
  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }

  /** Whether every graft SQL function is registered on this session. */
  def registered(spark: SparkSession): Boolean =
    sqlFunctions.forall { case (name, _) => spark.sessionState
      .functionRegistry.functionExists(FunctionIdentifier(name)) }
}
