package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The byte-scan [[TextStats]] kernel against regex references, with
  * no SparkSession. Field order: n_chars, n_tokens, tok_chars, punct,
  * zh, en, de, fr, es. */
class TextStatsSpec extends AnyFunSuite {
  import TextStatsSpec._

  private def stats(s: String): Seq[Long] = fields(TextStats.compute(UTF8String.fromString(s)))

  private def assertAgrees(alphabet: IndexedSeq[String], reference: Reference, seed: Long,
      cases: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    var i = 0
    while (i < cases) {
      val s = Iterator.fill(rnd.nextInt(13))(alphabet(rnd.nextInt(alphabet.size)))
        .map(f => f.map(c => if (c < 0x80 && rnd.nextBoolean()) c.toUpper else c)).mkString
      val got = stats(s)
      val want = reference.compute(s)
      assert(got == want,
        s"case $i: ${s.map(c => f"\\u${c.toInt}%04x").mkString} gave $got, reference $want")
      i += 1
    }
  }

  test("byte scan equals the retired \\b regex kernel over ASCII marker fragments, punct and java-\\s") {
    assertAgrees(AsciiAlphabet, RetiredRegexKernel, seed = 1L, cases = 10000)
  }

  test("byte scan equals an ASCII-lookaround reference over accents, marks, Unicode spaces, case-fold traps and CJK edges") {
    assertAgrees(UnicodeAlphabet, AsciiLookaround, seed = 2L, cases = 10000)
  }

  test("a marker word next to a non-ASCII letter or mark counts, as in RE2 and JDK >= 19") {
    for (s <- Seq("the\u00e9", "\u00e9the", "\u00c9THE", "the\u0301", "the\u212a"))
      assert(stats(s)(5) == 1, s"en hits of $s")
  }

  test("case folding is ASCII-only: i\u017fx has no en hit (the known engine/oracle fold divergence)") {
    assert(stats("i\u017fx")(5) == 0)
    assert(stats("is x")(5) == 1)
  }

  test("_ is punct as well as a word byte") {
    assert(stats("_").slice(3, 4) == Seq(1L))
    assert(stats("the_and")(5) == 0)
    assert(stats("the_and")(3) == 1)
  }

  test("zh counts U+4E00..U+9FFF only") {
    assert(Seq("\u4e00", "\u9fff", "\u4e00x\u9fff").map(stats(_)(4)) == Seq(1L, 1L, 2L))
    assert(Seq("\u4dff", "\ua000", new String(Character.toChars(0x20000))).map(stats(_)(4)) ==
      Seq(0L, 0L, 0L))
  }

  test("U+00A0 and U+3000 do not split tokens") {
    assert(stats("a\u00a0b").slice(0, 3) == Seq(3L, 1L, 3L))
    assert(stats("a\u3000b c").slice(0, 3) == Seq(5L, 2L, 4L))
  }

  test("n_chars steps by lead bytes exactly like UTF8String.numChars, malformed input included") {
    val bytes = Array[Byte](0xE4.toByte, 0x41, 0xB8.toByte, 0xF0.toByte, 0x80.toByte, 0x20, 0xC3.toByte)
    val u = UTF8String.fromBytes(bytes)
    assert(fields(TextStats.compute(u)).head == u.numChars())
  }

  test("marker table: languages OR into one mask, lengths come from the words") {
    val t = MarkerTable(Seq("a" -> "(?i)\\b(ab|cde)\\b", "b" -> "(?i)\\b(cde|fghijklm)\\b"))
    assert(t.lookup(MarkerTable.pack("ab")) == 1)
    assert(t.lookup(MarkerTable.pack("cde")) == 3)
    assert(t.lookup(MarkerTable.pack("fghijklm")) == 2)
    assert(t.lookup(MarkerTable.pack("abc")) == 0)
    assert((t.minLen, t.maxLen) == (2, 8))
  }

  test("marker table: a pattern that drifts from (?i)\\b(w1|…|wn)\\b fails loudly") {
    for (bad <- Seq("(?i)\\b(the|and)\\B", "\\b(the|and)\\b", "(?i)\\b(The|and)\\b",
        "(?i)\\b(the|an d)\\b", "(?i)\\b(the||and)\\b", "(?i)(?<!\\w)(the)\\b")) {
      val e = intercept[IllegalArgumentException](MarkerTable(Seq("en" -> bad)))
      assert(e.getMessage.contains("must have the form (?i)\\b(w1|…|wn)\\b"), bad)
    }
    val long = intercept[IllegalArgumentException](MarkerTable(Seq("en" -> "(?i)\\b(the|abcdefghi)\\b")))
    assert(long.getMessage.contains("marker word 'abcdefghi' of 'en' is longer than the 8-byte key"))
  }
}

object TextStatsSpec {
  def fields(r: InternalRow): Seq[Long] =
    (0 until 9).map(i => if (i == 2) r.getLong(i) else r.getInt(i).toLong)

  /** Marker words and their substrings (case is randomized per case),
    * digits, `_`, ASCII punctuation and the six java-`\s` bytes. */
  val AsciiAlphabet: IndexedSeq[String] = {
    val words = GraftTextPatterns.LangMarkers.flatMap { case (_, p) =>
      p.stripPrefix("(?i)\\b(").stripSuffix(")\\b").split('|')
    }
    val fragments = words.flatMap(w => for (i <- 0 until w.length; j <- i + 1 to w.length) yield w.substring(i, j))
    (words ++ words ++ fragments.distinct ++
      Seq("0", "7", "42", "_", ".", ",", "'", "-", "!", "(", ")", "\"", "#", "~", "`", "@", "x", "q") ++
      Seq(" ", " ", " ", "\t", "\n", "\u000B", "\f", "\r")).toIndexedSeq
  }

  /** [[AsciiAlphabet]] plus accented Latin, a combining mark, Unicode
    * spaces, the case-fold traps U+017F and U+212A, supplementary-plane
    * characters and the edges of U+4E00..U+9FFF. */
  val UnicodeAlphabet: IndexedSeq[String] = AsciiAlphabet ++
    Seq("\u00e9", "\u00c9", "\u0301", "\u00a0", "\u3000", "\u017f", "\u212a",
      new String(Character.toChars(0x1F600)), new String(Character.toChars(0x20000)),
      "\u4dff", "\u4e00", "\u9fff", "\ua000").flatMap(Seq.fill(6)(_))

  /** A regex TextStats: one `find()` count per pattern over the decoded
    * String, plus the raw-byte whitespace tokenize. */
  final class Reference(markers: Seq[String]) {
    private val patterns = (markers ++ Seq(GraftTextPatterns.ZhPattern, GraftTextPatterns.PunctPattern))
      .map(Pattern.compile)

    def compute(s: String): Seq[Long] = {
      val c = patterns.map { p =>
        val m = p.matcher(s)
        var k = 0L
        while (m.find()) k += 1
        k
      }
      val u = UTF8String.fromString(s)
      val bytes = u.getBytes
      val n = bytes.length
      var nTokens = 0L
      var tokChars = 0L
      var p = 0
      while (p < n) {
        while (p < n && Tokenize.isWs(bytes(p))) p += 1
        if (p < n) {
          nTokens += 1
          while (p < n && !Tokenize.isWs(bytes(p))) {
            if ((bytes(p) & 0xC0) != 0x80) tokChars += 1
            p += 1
          }
        }
      }
      Seq(u.numChars().toLong, nTokens, tokChars, c(5), c(4), c(0), c(1), c(2), c(3))
    }
  }

  /** The kernel the byte scan replaced: the `(?i)\b(…)\b` patterns as
    * java.util.regex runs them. Exact on ASCII input on every JDK. */
  val RetiredRegexKernel = new Reference(GraftTextPatterns.LangMarkers.map(_._2))

  /** The same patterns with `\b` spelled as ASCII lookarounds — the
    * word boundary of RE2 (the DuckDB oracle) and of JDK >= 19. */
  val AsciiLookaround = new Reference(GraftTextPatterns.LangMarkers.map(_._2
    .replace("(?i)\\b(", "(?i)(?<![A-Za-z0-9_])(")
    .replace(")\\b", ")(?![A-Za-z0-9_])")))
}
