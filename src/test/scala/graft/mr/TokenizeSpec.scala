package graft.mr

import org.scalatest.funsuite.AnyFunSuite

/** The regex tokenizer `Workloads.tokenize` replaced, kept as the referee
  * its scan must agree with: a split on runs of non-letters (`\p{L}` is
  * the five Unicode letter categories) with the empty tokens dropped. */
object TokenizeReferee {
  def tokens(contents: String): Seq[String] =
    contents.split("[^\\p{L}]+").toSeq.filter(_.nonEmpty)
}

class TokenizeSpec extends AnyFunSuite {

  /** Pieces a random string is drawn from: ASCII, Latin-1 and CJK
    * letters, a non-BMP letter (U+1D400), a combining mark (U+0301,
    * category Mn, a separator), digits, `_`, NUL, CRLF, punctuation and
    * lone high and low surrogates (adjacent, the two form a pair). */
  private val pieces: IndexedSeq[String] = IndexedSeq(
    "a", "Z", "word", "é", "ß", "ÿ", "Ñ", "日", "本語", "\uD835\uDC00",
    "\u0301", "0", "42", "_", "\u0000", "\r\n", " ", ",", "—", "\uD800", "\uDC00")

  private def randomString(rnd: scala.util.Random): String =
    Seq.fill(rnd.nextInt(24))(pieces(rnd.nextInt(pieces.length))).mkString

  test("tokenize equals the letter-run regex split on 10k seeded random strings and the empty string") {
    val rnd = new scala.util.Random(8081)
    val inputs = "" +: Seq.fill(10000)(randomString(rnd))
    inputs.foreach { s =>
      assert(Workloads.tokenize(s).toSeq === TokenizeReferee.tokens(s),
        s.map(c => f"${c.toInt}%04x").mkString(" "))
    }
    // the draw reaches the cases a char-wise or letter-or-digit scan gets wrong
    val all = inputs.flatMap(TokenizeReferee.tokens)
    assert(all.exists(_.contains("\uD835\uDC00")))
    assert(inputs.exists(s => s.matches("(?s).*\\p{L}[0-9].*")))
  }

  test("tokenize on hand-picked edges") {
    assert(Workloads.tokenize("").isEmpty)
    assert(Workloads.tokenize("12 _ \u0000\r\n").isEmpty)
    assert(Workloads.tokenize("\u0000ab\u0301cd_9\uD835\uDC00x").toSeq ===
      Seq("ab", "cd", "\uD835\uDC00x"))
    // a lone surrogate separates; a high+low pair is one code point
    assert(Workloads.tokenize("a\uD800b\uDC00c").toSeq === Seq("a", "b", "c"))
    assert(Workloads.tokenize("Straße, café. 日本").toSeq === Seq("Straße", "café", "日本"))
  }
}
