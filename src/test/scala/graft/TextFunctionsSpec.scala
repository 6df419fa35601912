package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Edge-case behavior of the text Column primitives (empty/degenerate
  * inputs that the synthetic corpus doesn't contain). */
class TextFunctionsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def one(text: String) = {
    import spark.implicits._
    Seq(text).toDF("text")
  }

  test("wsTokens: empty and whitespace-only text yield empty arrays") {
    assert(one("").select(size(wsTokens(col("text")))).collect()(0).getInt(0) == 0)
    assert(one("   \t  ").select(size(wsTokens(col("text")))).collect()(0).getInt(0) == 0)
    assert(one(" a  b\tc ").select(wsTokens(col("text"))).collect()(0)
      .getSeq[String](0) == Seq("a", "b", "c"))
  }

  private def sh(text: String): Seq[String] =
    one(text).select(shingles3(col("text"))).collect()(0).getSeq[String](0)

  test("shingles3: fewer than 3 tokens yields empty, duplicates collapse") {
    Seq("", "   \t  ", "a", "a b").foreach(t => assert(sh(t) == Seq.empty, s"[$t]"))
    assert(sh("a b c") == Seq("a b c"))
    // repeated trigrams kept once, in first-occurrence order
    assert(sh("x y x y x y x y") == Seq("x y x", "y x y"))
  }

  test("shingles3: tab/newline separators and non-ASCII tokens keep " +
    "position order; NULL text stays NULL") {
    assert(sh("a\tb\nc  d") == Seq("a b c", "b c d"))
    assert(sh("é ü 中文 テスト ß") == Seq("é ü 中文", "ü 中文 テスト", "中文 テスト ß"))
    import spark.implicits._
    assert(Seq(Option.empty[String]).toDF("text").select(shingles3(col("text")))
      .collect()(0).isNullAt(0))
  }

  test("bigramsFromToks: adjacent pairs in order, duplicates kept, fewer " +
    "than 2 tokens yield empty") {
    def bg(text: String): Seq[String] =
      one(text).select(bigramsFromToks(wsTokens(col("text")))).collect()(0).getSeq[String](0)
    Seq("", " \n ", "a").foreach(t => assert(bg(t) == Seq.empty, s"[$t]"))
    assert(bg("a b") == Seq("a b"))
    assert(bg("x y x y") == Seq("x y", "y x", "x y"))
  }

  test("normText: case folds, whitespace runs collapse, ends trim") {
    val r = one("  Hello\t WORLD  \n end ").select(normText(col("text"))).collect()(0).getString(0)
    assert(r == "hello world end")
  }

  test("md5Long60 is non-negative and stable") {
    val r = one("abc").select(md5Long60(col("text")), md5Long60(col("text"))).collect()(0)
    assert(r.getLong(0) >= 0 && r.getLong(0) == r.getLong(1))
    // matches first 15 hex chars of the md5
    val expected = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5").digest("abc".getBytes)
        .map("%02x".format(_)).mkString.take(15), 16)
    assert(r.getLong(0) == expected)
  }

  test("strippedLength counts the complement class") {
    val r = one("ab1 2!c").select(
      strippedLength(col("text"), "[^A-Za-z]"),
      strippedLength(col("text"), "[^0-9]")).collect()(0)
    assert(r.getInt(0) == 3 && r.getInt(1) == 2)
  }
}
