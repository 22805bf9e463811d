package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.{Cast, EvalMode, Literal, UnsafeArrayData}
import org.apache.spark.sql.types.{DecimalType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.text.Bm25

/** The BM25 kernels and the driver-side query map, with no
  * SparkSession: both sides tokenize exactly as `graft_tokens` and
  * `graft_token_tf` do, and the scoring arithmetic is Spark's. */
class Bm25KernelSpec extends AnyFunSuite {

  // ASCII words and java-\s bytes, plus the Unicode traps: U+0130,
  // Σ (whose lowercase depends on its position), U+00A0 and U+3000
  // (not java-\s: inside a token), U+017F, U+212A, a combining mark,
  // supplementary-plane letters (U+10400 lowercases to U+10428) and an
  // emoji, accented Latin and CJK.
  private val Alphabet: IndexedSeq[String] = IndexedSeq(
    "the", "a", "Apple", "x", "ab", " ", " ", " ", "\t", "\n", "\u000b", "\f", "\r",
    "\u0130", "\u03a3", "\u03a3\u0391\u03a3", "\u03c2", "\u00a0", "\u3000", "\u017f",
    "\u212a", "\u0301", "e\u0301", "\ud801\udc00", "\ud83d\ude00", "\u00c9", "\u4e2d")

  private def gen(rnd: scala.util.Random): String =
    Iterator.fill(rnd.nextInt(14))(Alphabet(rnd.nextInt(Alphabet.size))).mkString

  private def strings(a: ArrayData): Seq[String] =
    (0 until a.numElements()).map(a.getUTF8String(_).toString)

  private def queriesOf(texts: Seq[String]): Bm25Queries =
    Bm25.queryMap(texts.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }.toArray, LongType)

  test("over 10,000 seeded strings the postings kernel counts TokenTf's query terms and the query side is Tokens") {
    val rnd = new scala.util.Random(11L)
    val q = queriesOf(Seq.fill(300)(gen(rnd)))
    val terms = q.terms.map(_.toString).toSet
    assert(terms.size > 20)
    var hits = 0
    for (i <- 0 until 10000) {
      val s = gen(rnd)
      val u = UTF8String.fromString(s)
      assert(Bm25.queryTokens(s).map(_.toString).toSeq == strings(Tokens.compute(u)),
        s"case $i: query tokens of ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
      val p = Bm25Postings.compute(u, q)
      val got = p.getArray(1).toIntArray().map(q.terms(_).toString)
        .zip(p.getArray(2).toIntArray().map(_.toLong)).toMap
      val tf = TokenTf.compute(u)
      val want = (0 until tf.numElements()).map(tf.getStruct(_, 2))
        .map(r => r.getUTF8String(0).toString -> r.getLong(1))
        .filter { case (t, _) => terms(t) }.toMap
      assert(got == want, s"case $i: postings of ${s.map(c => f"\\u${c.toInt}%04x").mkString}")
      assert(p.getInt(0) == Tokens.compute(u).numElements(), s"case $i: dl")
      hits += got.size
    }
    assert(hits > 5000, s"too few query-term hits to mean anything: $hits")
  }

  test("lowercase pins: U+0130 becomes i + U+0307 and a final Σ becomes ς, unlike DuckDB's lower()") {
    // DuckDB lowercases U+0130 to a bare "i" and ΣΑΣ to "σασ": a query
    // or document holding either scores differently in the oracle SQL.
    assert(Bm25.queryTokens("\u0130").toSeq.map(_.toString) == Seq("i\u0307"))
    assert(Bm25.queryTokens("\u03a3\u0391\u03a3").toSeq.map(_.toString) == Seq("\u03c3\u03b1\u03c2"))
    val q = queriesOf(Seq("\u03a3\u0391\u03a3"))
    val p = Bm25Postings.compute(UTF8String.fromString("\u03c3\u03b1\u03c2 \u03c3\u03b1\u03c3"), q)
    assert(p.getInt(0) == 2 && p.getArray(1).toIntArray().toSeq == Seq(0) &&
      p.getArray(2).toIntArray().toSeq == Seq(1))
  }

  test("query map: rows sharing an id are one query, repeated terms count once, null text has none") {
    val rows = Array(Row(7L, "apple apple cherry"), Row(8L, null), Row(7L, "cherry date"))
    val q = Bm25.queryMap(rows, LongType)
    assert(q.queryIds.toSeq == Seq(7L, 8L))
    assert(q.terms.map(_.toString).toSeq == Seq("apple", "cherry", "date"))
    assert(q.termQueries.map(_.toSeq).toSeq == Seq(Seq(0), Seq(0), Seq(0)))
    val p = Bm25Postings.compute(null, q)
    assert(p.getInt(0) == 0 && p.getArray(1).numElements() == 0)
  }

  test("toDecimal12 is Spark's non-ANSI CAST(double AS DECIMAL(18,12)), overflow and NaN included") {
    val rnd = new scala.util.Random(12L)
    val edge = Seq(0.0, -0.0, 1e-13, 5e-13, -5e-13, 999999.9999999999, 1e6, -1e6, 123456.789012345678,
      Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity, Double.MinPositiveValue)
    val random = Seq.fill(20000)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(16) - 8))
    for (d <- edge ++ random) {
      val spark = Cast(Literal(d), DecimalType(18, 12), Some("UTC"), EvalMode.LEGACY).eval()
      val want = if (spark == null) Bm25Score.NullContribution
        else spark.asInstanceOf[org.apache.spark.sql.types.Decimal].toUnscaledLong
      assert(Bm25Score.toDecimal12(d) == want, s"$d")
    }
  }

  test("score sums are exact past the long range, skip null contributions, and are null when all are") {
    // four queries over one term each (or all three): contributions
    // near the DECIMAL(18,12) ceiling overflow a long when summed
    val rows = Array(Row(1L, "a b c"), Row(2L, "a"), Row(3L, "big"), Row(4L, "a big"))
    val q = Bm25.queryMap(rows, LongType)
    val ids = q.terms.map(_.toString).zipWithIndex.toMap
    // idf picked so that tf = 1 contributes just under 10^6, and 10^7
    // for "big" (a null contribution after the cast)
    val (k1, b, avgdl) = (1.2, 0.75, 10.0)
    val norm = k1 * ((1.0 - b) + b * 10.0 / avgdl)
    val unit = (1.0 + norm) / (k1 + 1.0)
    val idf = Array.fill(q.terms.length)(0.0)
    Seq("a", "b", "c").foreach(t => idf(ids(t)) = 999999.0 * unit)
    idf(ids("big")) = 1e7 * unit
    val postings = InternalRow(10,
      UnsafeArrayData.fromPrimitiveArray(Array("a", "b", "c", "big").map(ids)),
      UnsafeArrayData.fromPrimitiveArray(Array(1, 1, 1, 1)))
    val out = Bm25Score.compute(postings, q, new Bm25Stats(idf, k1, b, avgdl))
    val got = (0 until out.numElements()).map(out.getStruct(_, 2))
      .map(r => r.getLong(0) -> Option(r.getDecimal(1, 28, 12)).map(_.toJavaBigDecimal)).toMap
    def c(t: String) = java.math.BigDecimal.valueOf(
      Bm25Score.toDecimal12(idf(ids(t)) * (1.0 * (k1 + 1.0)) / (1.0 + norm)), 12)
    assert(Bm25Score.toDecimal12(idf(ids("big")) * (k1 + 1.0) / (1.0 + norm)) == Bm25Score.NullContribution)
    assert(got(1L).contains(c("a").add(c("b")).add(c("c"))))
    assert(got(2L).contains(c("a")))
    assert(got(3L).isEmpty) // its only contribution overflowed: a null sum
    assert(got(4L).contains(c("a")))
    // 10 copies of a near-ceiling term overflow the unscaled long sum
    val many = Bm25.queryMap(Array(Row(1L, (0 until 10).map(i => s"t$i").mkString(" "))), LongType)
    val big = Bm25Score.compute(
      InternalRow(10, UnsafeArrayData.fromPrimitiveArray(Array.tabulate(10)(identity)),
        UnsafeArrayData.fromPrimitiveArray(Array.fill(10)(1))),
      many, new Bm25Stats(Array.fill(10)(999999.0 * unit), k1, b, avgdl))
    val sum = big.getStruct(0, 2).getDecimal(1, 28, 12).toJavaBigDecimal
    assert(sum.unscaledValue.bitLength > 63)
    assert(sum == java.math.BigDecimal.valueOf(
      Bm25Score.toDecimal12(999999.0 * unit * (k1 + 1.0) / (1.0 + norm)), 12).multiply(java.math.BigDecimal.TEN))
  }
}
