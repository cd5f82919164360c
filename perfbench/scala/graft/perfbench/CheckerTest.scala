package graft.perfbench

/** Hand-computed cases for [[Checker]]. They run at the start of every
  * benchmark run (a failure aborts it) and on their own with
  * `python3 perfbench/run.py --selftest`. */
object CheckerTest {
  private def near(a: Double, b: Double, tol: Double = 1e-12): Boolean = math.abs(a - b) <= tol

  def run(): Unit = {
    def check(cond: Boolean, what: String): Unit =
      if (!cond) throw new AssertionError(s"checker self-test failed: $what")

    // exact top-k: scores 0.5, 0.5, 0.9, -1 -> ids 3, then the 0.5 tie by id
    val ids = Array(7L, 2L, 3L, 4L)
    val vecs = Array(Array(0.5, 0.0), Array(0.0, 0.5), Array(0.9, 0.0), Array(-1.0, 0.0))
    val top = Checker.exactTopK(ids, vecs, Array(1.0, 1.0), 3)
    check(top.map(_._1) == Seq(3L, 2L, 7L), s"exact order ${top.map(_._1)}")
    check(near(top.head._2, 0.9), "exact score")

    // BM25 on two docs: "a b" and "a a c"; query "a": N=2, df=1... both hold a
    // df(a)=2 -> idf = ln(1 + 0.5/2.5) = ln 1.2; avgdl = 2.5
    val docs = Seq(1L -> Checker.doc("a b"), 2L -> Checker.doc("A a c"))
    val s = Checker.bm25(docs, Seq("a"))
    val idf = math.log(1.2)
    val s1 = idf * 1 * 2.5 / (1 + 1.5 * (0.25 + 0.75 * 2 / 2.5))
    val s2 = idf * 2 * 2.5 / (2 + 1.5 * (0.25 + 0.75 * 3 / 2.5))
    check(near(s(1L), s1) && near(s(2L), s2), s"bm25 $s vs $s1 $s2")
    check(Checker.tokens("  Foo  bar ").toSeq == Seq("foo", "bar"), "tokenizer")
    check(Checker.tokens("").toSeq == Seq(""), "empty text is one empty token")

    // RRF, c = 60: vec [1, 2], lex [2, 3] -> 2: 1/62+1/61, 1: 1/61, 3: 1/62
    val r = Checker.rrf(Seq(1L, 2L), Seq(2L, 3L), 60, 10)
    check(r.map(_._1) == Seq(2L, 1L, 3L), s"rrf order ${r.map(_._1)}")
    check(near(r.head._2, 1.0 / 62 + 1.0 / 61), "rrf score")
    // a tie between rank-1 entries of the two legs goes to the lower id
    check(Checker.rrf(Seq(9L), Seq(4L), 60, 2).map(_._1) == Seq(4L, 9L), "rrf tie")

    // MMR, λ = 0.5: a (sim .9), b = a's twin (sim .8), c orthogonal (sim .5)
    // pick a; then b: .4 - .5*1 = -.1, c: .25 - 0 = .25 -> c; then b
    val a = Array(1.0, 0.0)
    val c = Array(0.0, 1.0)
    val m = Checker.mmr(Seq((1L, a, 0.9), (2L, a, 0.8), (3L, c, 0.5)), 3, 0.5)
    check(m == Seq(1L, 3L, 2L), s"mmr picks $m")

    // shingle Jaccard, n = 2: {"a b","b c"} vs {"a b","b d"} -> 1/3
    check(near(Checker.jaccard(Checker.shingles("a b c", 2), Checker.shingles("A b d", 2)), 1.0 / 3),
      "jaccard")
    check(Checker.shingles("a b", 3).isEmpty, "short text has no shingles")

    // embedder: unit norm, deterministic, one token -> one ±1 bucket
    val e = Checker.embed("knee", 8, 42)
    check(e.count(_ != 0f) == 1 && near(e.map(x => x.toDouble * x).sum, 1.0, 1e-6), "embed")

    // recall and the tie-tolerant comparison
    check(near(Checker.recall(Seq(1L, 2L), Seq(2L, 5L)), 0.5), "recall")
    val truth = Map(1L -> 2.0, 2L -> 1.0, 3L -> 1.0)
    check(Checker.sameUpToTies(Seq(1L -> 2.0, 3L -> 1.0), truth, 2, 1e-6, 1e-9).isEmpty,
      "a tie at the cut may go either way")
    check(Checker.sameUpToTies(Seq(2L -> 1.0, 1L -> 2.0), truth, 2, 1e-6, 1e-9).nonEmpty,
      "out of order is caught")

    check(near(Stats.geomean(Seq(2.0, 8.0)), 4.0), "geometric mean")
    check(near(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)), 2.5), "median")
    check(near(Intervals.uncovered(0, 10, Seq((1, 3), (2, 4), (8, 12))), 5.0), "uncovered")
  }

  def main(args: Array[String]): Unit = {
    run()
    println("checker self-test: all cases pass")
  }
}
