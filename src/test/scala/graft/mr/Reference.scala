package graft.mr

import java.nio.file.{Files, Paths}

import org.scalactic.source
import org.scalatest.Assertions

/** The reference checkout's committed run artifacts (FIXTURES.md §1): the
  * eight-book corpus, the wc goldens `mr-out-0..9` and the 8-map x
  * 10-reduce intermediates `mr-out-<m>-<r>.json`. The golden
  * differentials read them where the checkout exists and are cancelled,
  * naming the first missing file, where it does not. */
object Reference {
  val main = "/root/reference/src/main"

  val corpus: Seq[String] = Seq("being_ernest", "dorian_gray", "frankenstein",
    "grimm", "huckleberry_finn", "metamorphosis", "sherlock_holmes", "tom_sawyer")
    .map(book => s"$main/pg-$book.txt")

  def golden(r: Int): String = s"$main/mr-out-$r"
  val goldens: Seq[String] = (0 until 10).map(golden)

  /** The files reduce partition `r` decodes: `mr-out-<m>-<r>.json`, m ∈ [0, 8). */
  def intermediates(r: Int): Seq[String] = (0 until 8).map(m => s"$main/mr-out-$m-$r.json")

  def present(path: String): Boolean = Files.isRegularFile(Paths.get(path))

  /** Cancel the calling test unless every one of `paths` exists. */
  def assumePresent(paths: Seq[String])(implicit pos: source.Position): Unit =
    paths.foreach(p => Assertions.assume(present(p), s"— reference artifact missing: $p"))
}
