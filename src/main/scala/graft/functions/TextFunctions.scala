package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text primitives shared by the text-analysis and dedup
  * operators.
  *
  * Everything here is built from codegen'd Catalyst expressions
  * (regexp/array/lambda functions) — no UDFs — so the operators that use
  * them stay inside whole-stage codegen and scale linearly. Every helper
  * has a bit-identical DuckDB rendering (documented per call site) so the
  * oracle can replay the same computation.
  */
object TextFunctions {

  /** BPE-ish token pattern: letter runs, digit runs, or single non-space
    * symbols — the shape of a byte-pair pre-tokenizer's word split. */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  /** Whitespace word split (empty/whitespace-only text → empty array).
    * Ends are stripped with a regex, not trim(): both Spark's and DuckDB's
    * trim() remove only ASCII spaces, so a leading tab would otherwise
    * produce a phantom empty first token. */
  def wsTokens(text: Column): Column = {
    val t = regexp_replace(text, "^\\s+|\\s+$", "")
    when(length(t) === 0, array().cast("array<string>"))
      .otherwise(split(t, "\\s+"))
  }

  /** Normalized text: lowercase, trimmed, runs of whitespace collapsed —
    * the canonical form hashed by dedup/fingerprint ops. */
  def normText(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  /** Adjacent word n-grams (n = 2 or 3) in position order, duplicates
    * kept; fewer than n tokens yield an empty array, NULL tokens NULL.
    *
    * The lambda reads only its own element — the token zipped with its 1-
    * and 2-shifted slices — and never indexes the outer array. That is
    * the invariant: Catalyst may inline a bound `toks` column back into
    * an expression (PushPredicateThroughNonJoin substitutes a Project's
    * aliases into a Filter, with no cost check), and lambda bodies are not
    * subexpression-eliminated, so a body like `element_at(toks, i + 1)`
    * would re-tokenize the whole text once per element — O(tokens²) per
    * document. Here an inlined tokenizer runs a constant number of times
    * per row, outside the lambda. */
  private def wordNgrams(toks: Column, n: Int): Column = {
    val names = Seq("a", "b", "c").take(n)
    val shifted = names.zipWithIndex.map { case (name, k) =>
      (if (k == 0) toks else slice(toks, lit(k + 1), size(toks))).as(name)
    }
    transform(
      slice(arrays_zip(shifted: _*), lit(1), greatest(size(toks) - (n - 1), lit(0))),
      z => concat_ws(" ", names.map(z.getField): _*))
  }

  /** Word 3-shingles (distinct, first-occurrence order) from a token
    * array; see [[wordNgrams]] for why this is safe to inline. */
  def shingles3FromToks(toks: Column): Column = array_distinct(wordNgrams(toks, 3))

  /** Adjacent word bigrams, NOT distinct (occurrence counts are the
    * statistic), joined with ' ' — tokens are whitespace-split, so ' ' is
    * a safe separator. */
  def bigramsFromToks(toks: Column): Column = wordNgrams(toks, 2)

  /** Word 3-shingles straight from text. */
  def shingles3(text: Column): Column = shingles3FromToks(wsTokens(text))

  /** Distinct 3-shingles hashed to 60-bit md5 longs in one fused pass —
    * bit-identical to `md5Long60` over each element of
    * [[shingles3FromToks]] (string-level dedupe, same digest bytes); see
    * [[HashedShingles3Expr]]. The form the Jaccard dedup family scans
    * with. */
  def hashedShingles3FromToks(toks: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(HashedShingles3Expr(ColumnBridge.expression(toks)))
  }

  /** First 15 hex chars of md5 as a non-negative 60-bit long — the largest
    * md5 prefix that fits a signed 64-bit int in every engine
    * (DuckDB: CAST('0x' || substr(md5(x),1,15) AS BIGINT)). */
  def md5Long60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 64-bit SimHash of a token array as [c0..c3] 16-bit chunks, one fused
    * per-row pass (no explode, no shuffle) — see
    * [[graft.functions.SimHash64Expr]]. */
  def simhash64(toks: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(SimHash64Expr(ColumnBridge.expression(toks)))
  }

  /** `size(array_intersect(a, b))` of two long arrays as ONE fused
    * long-valued expression — the Jaccard confirm phase's inner loop.
    * Bit-parity with the declarative form is asserted in PlanSpec. */
  def intersectCount(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(IntersectCountExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }

  /** Thresholded edit distance: exact Levenshtein when
    * `dist <= max(len_a, len_b) / den`, -1 otherwise — O(n·tau) banded DP,
    * see [[BandedLevenshteinExpr]]. `editDistWithin(a, b, den) >= 0` is
    * bit-equivalent to `den * levenshtein(a, b) <= greatest(length(a),
    * length(b))` (asserted in DedupSimilaritySpec). */
  def editDistWithin(a: Column, b: Column, den: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(BandedLevenshteinExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b), den))
  }

  /** Chars remaining after stripping `stripPattern` — i.e. the count of
    * chars in the complementary class (DuckDB:
    * length(regexp_replace(x, pattern, '', 'g')) — note the 'g' flag,
    * DuckDB replaces only the first match without it). */
  def strippedLength(text: Column, stripPattern: String): Column =
    length(regexp_replace(text, stripPattern, ""))
}
