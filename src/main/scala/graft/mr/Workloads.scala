package graft.mr

/** The reference's 8 mrapps workloads as pure (mapf, reducef) pairs
  * (SURVEY.md §2.2). The fault/timing apps (crash, jobcount, mtiming,
  * rtiming) encode *engine properties*, not data transformations — their
  * side-effecting probes (os.Exit, pid-marker files) are reinterpreted as
  * test-harness fault injection / listeners in the ScalaTest suites; the
  * pure data semantics live here.
  */
object Workloads {

  /** Strip the scheme/directory a Spark wholeTextFiles path carries; the
    * reference passes bare relative filenames on the command line. */
  def baseName(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)

  /** Tokenize on non-letters — Go's
    * `strings.FieldsFunc(s, r => !unicode.IsLetter(r))`
    * (reference: src/mrapps/wc.go:23-26): a lazy scan over code points
    * that yields each maximal run of letters, case kept. `isLetter`
    * tests the five letter categories that `\p{L}` matches, so the
    * tokens equal a `[^\p{L}]+` split with empty tokens dropped; lone
    * surrogates and combining marks are separators. */
  def tokenize(contents: String): Iterator[String] = new Iterator[String] {
    private val n = contents.length
    private var i = scan(0, letters = false)

    /** The first index at or after `from` whose code point is not a
      * letter (`letters`) or is one (`!letters`); `n` if there is none. */
    private def scan(from: Int, letters: Boolean): Int = {
      var j = from
      var more = true
      while (more && j < n) {
        val c = contents.codePointAt(j)
        if (Character.isLetter(c) == letters) j += Character.charCount(c) else more = false
      }
      j
    }

    override def hasNext: Boolean = i < n
    override def next(): String = {
      if (i >= n) Iterator.empty.next()
      val end = scan(i, letters = true)
      val word = contents.substring(i, end)
      i = scan(end, letters = false)
      word
    }
  }

  /** Q1 wc — map: one ("word","1") per occurrence (src/mrapps/wc.go:21-34);
    * reduce: occurrence count (wc.go:41-44). */
  val wcMap: (String, String) => Seq[KV] =
    (_, contents) => tokenize(contents).map(w => KV(w, "1")).toSeq

  val wcReduce: (String, Iterator[String]) => String =
    (_, values) => values.size.toString

  /** Q2 indexer — map: distinct words per document keyed to the doc name
    * (src/mrapps/indexer.go:20-34); reduce: "<count> <doc1,doc2,...>"
    * with docs sorted (indexer.go:36-39). */
  val indexerMap: (String, String) => Seq[KV] =
    (document, contents) =>
      tokenize(contents).toSet.iterator.map((w: String) => KV(w, baseName(document))).toSeq

  val indexerReduce: (String, Iterator[String]) => String =
    (_, values) => {
      val vs = values.toArray
      java.util.Arrays.sort(vs.asInstanceOf[Array[Object]])
      s"${vs.length} ${vs.mkString(",")}"
    }

  /** Q5/Q6 crash/nocrash data semantics — map emits the same four probe
    * records per file (src/mrapps/crash.go:34-43, nocrash.go:26-35);
    * reduce sort-joins values for determinism (crash.go:45-55). The
    * 1/3-crash dice live in the fault-injection test, not here. */
  val probeMap: (String, String) => Seq[KV] =
    (filename, contents) => {
      val f = baseName(filename)
      Seq(KV("a", f), KV("b", f.length.toString),
        KV("c", contents.length.toString), KV("d", "xyzzy"))
    }

  val sortJoinReduce: (String, Iterator[String]) => String =
    (_, values) => {
      val vs = values.toArray
      java.util.Arrays.sort(vs.asInstanceOf[Array[Object]])
      vs.mkString(" ")
    }

  /** Q4 early_exit — map: one (filename,"1") per file
    * (src/mrapps/early_exit.go:21-27); reduce: count, after a delay on
    * chosen keys so output-visibility can be probed mid-job
    * (early_exit.go:32-40). */
  val earlyExitMap: (String, String) => Seq[KV] =
    (filename, _) => Seq(KV(baseName(filename), "1"))

  def earlyExitReduce(slowKeySubstrings: Seq[String], delayMs: Long): (String, Iterator[String]) => String =
    (key, values) => {
      if (slowKeySubstrings.exists(key.contains(_))) Thread.sleep(delayMs)
      values.size.toString
    }

  /** Q3 jobcount map shape — one ("a","x") per file
    * (src/mrapps/jobcount.go:22-33). Execution counting is done with a
    * Spark accumulator in the test (the committed-once analog of the
    * reference's pid-marker files). */
  val jobcountMap: (String, String) => Seq[KV] =
    (_, _) => Seq(KV("a", "x"))
}
