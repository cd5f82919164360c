package graft.perfbench

import scala.collection.mutable

/** The benchmark's answer key, written apart from the program: plain
  * Scala over driver-side arrays, no Spark and no import from the
  * engine. Every computation here follows the published definitions
  * (feature-hashing embedder, inner-product top-k, Okapi BM25, RRF,
  * MMR, shingle Jaccard), and runs outside every timed window. */
object Checker {

  /** A ranked answer: (id, score) in rank order. */
  type Ranked = Seq[(Long, Double)]

  // ---- embedding -------------------------------------------------------

  /** Feature-hashing embedder: lower-cased whitespace tokens, each
    * hashed (MurmurHash3 string hash, `seed`) to a bucket with a sign
    * bit, then L2-normalized with a 1e-9 guard. */
  def embed(text: String, dim: Int, seed: Int): Array[Float] = {
    val v = new Array[Float](dim)
    val toks = text.toLowerCase.trim.split("\\s+")
    toks.foreach { t =>
      val h = scala.util.hashing.MurmurHash3.stringHash(t, seed)
      v(math.floorMod(h, dim)) += (if (((h >>> 16) & 1) == 1) 1.0f else -1.0f)
    }
    var norm = 0.0
    v.foreach(x => norm += x.toDouble * x)
    val inv = (1.0 / (math.sqrt(norm) + 1e-9)).toFloat
    v.map(_ * inv)
  }

  /** Inner product in double, accumulated left to right. */
  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  def toD(v: Array[Float]): Array[Double] = v.map(_.toDouble)

  def l2normalize(v: Array[Double]): Array[Double] = {
    var s = 0.0
    v.foreach(x => s += x * x)
    val n = math.sqrt(s) + 1e-9
    v.map(_ / n)
  }

  /** DP query: the text part weighted `w`, a zero attribute pad of
    * `attrDim`, renormalized. */
  def dpQuery(q: Array[Float], attrDim: Int, w: Double): Array[Double] =
    l2normalize(q.map(_.toDouble * w) ++ Array.fill(attrDim)(0.0))

  // ---- exact top-k -----------------------------------------------------

  /** Brute-force top-k by inner product, ordered (score desc, id asc). */
  def exactTopK(ids: Array[Long], vecs: Array[Array[Double]], q: Array[Double],
                k: Int): Ranked = {
    val heap = mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)](x => (-x._1, x._2))) // worst on top
    var i = 0
    while (i < ids.length) {
      val s = dot(vecs(i), q)
      if (heap.size < k) heap.enqueue((s, ids(i)))
      else {
        val (ws, wid) = heap.head
        if (s > ws || (s == ws && ids(i) < wid)) { heap.dequeue(); heap.enqueue((s, ids(i))) }
      }
      i += 1
    }
    heap.toSeq.sortBy(x => (-x._1, x._2)).map { case (s, id) => (id, s) }
  }

  // ---- BM25 ------------------------------------------------------------

  /** The engine's documented tokenizer: NULL as "", lower-case, strip
    * leading and trailing spaces, split on whitespace runs (an empty
    * text is one empty token). */
  def tokens(text: String): Array[String] = {
    val t = Option(text).getOrElse("").toLowerCase
    var a = 0
    var b = t.length
    while (a < b && t.charAt(a) == ' ') a += 1
    while (b > a && t.charAt(b - 1) == ' ') b -= 1
    t.substring(a, b).split("\\s+", -1)
  }

  final case class Doc(len: Double, tf: Map[String, Int])
  def doc(text: String): Doc = {
    val ts = tokens(text)
    Doc(ts.length.toDouble, ts.groupBy(identity).map { case (k, v) => k -> v.length })
  }

  /** Okapi BM25 (k1 = 1.5, b = 0.75, idf = ln(1 + (N - df + 0.5)/(df + 0.5)))
    * of every live document that holds a query term. */
  def bm25(docs: Iterable[(Long, Doc)], terms: Seq[String],
           k1: Double = 1.5, b: Double = 0.75): Map[Long, Double] = {
    val ts = terms.map(_.toLowerCase).distinct
    var n = 0.0
    var lenSum = 0.0
    val df = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    docs.foreach { case (_, d) =>
      n += 1; lenSum += d.len
      ts.foreach(t => if (d.tf.contains(t)) df(t) += 1)
    }
    val avgdl = lenSum / n
    val out = mutable.HashMap.empty[Long, Double]
    docs.foreach { case (id, d) =>
      ts.foreach { t =>
        d.tf.get(t).foreach { tf0 =>
          val tf = tf0.toDouble
          val idf = math.log(1.0 + (n - df(t) + 0.5) / (df(t) + 0.5))
          val s = idf * tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * d.len / avgdl))
          out(id) = out.getOrElse(id, 0.0) + s
        }
      }
    }
    out.toMap
  }

  // ---- fusion and re-rank ------------------------------------------------

  /** Reciprocal-rank fusion of two ranked id lists (rank 1 first):
    * score = Σ 1/(c + rank), ordered (score desc, id asc), top k. */
  def rrf(vec: Seq[Long], lex: Seq[Long], c: Int, k: Int): Ranked = {
    val s = mutable.HashMap.empty[Long, Double]
    def add(xs: Seq[Long]): Unit = xs.zipWithIndex.foreach { case (id, i) =>
      s(id) = s.getOrElse(id, 0.0) + 1.0 / (c + (i + 1))
    }
    add(vec); add(lex)
    s.toSeq.sortBy { case (id, v) => (-v, id) }.take(k)
  }

  /** Greedy Maximal Marginal Relevance: each pick maximizes
    * λ·sim(d) − (1−λ)·max over picked s of ⟨d, s⟩; ties to the lower id. */
  def mmr(cands: Seq[(Long, Array[Double], Double)], k: Int, lambda: Double): Seq[Long] = {
    val picked = mutable.ArrayBuffer.empty[Int]
    val left = mutable.LinkedHashSet(cands.indices: _*)
    while (picked.size < math.min(k, cands.size)) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      left.foreach { i =>
        val red = if (picked.isEmpty) 0.0 else picked.map(j => dot(cands(i)._2, cands(j)._2)).max
        val sc = lambda * cands(i)._3 - (1 - lambda) * red
        if (sc > bestScore || (sc == bestScore && best >= 0 && cands(i)._1 < cands(best)._1)) {
          bestScore = sc; best = i
        }
      }
      picked += best
      left -= best
    }
    picked.map(i => cands(i)._1).toSeq
  }

  // ---- near duplicates ------------------------------------------------

  /** Distinct word n-gram shingles of the lower-cased, trimmed,
    * whitespace-split text. */
  def shingles(text: String, n: Int): Set[String] = {
    val t = text.toLowerCase.trim.split("\\s+")
    if (t.length < n) Set.empty else t.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val u = (a union b).size
    if (u == 0) 0.0 else (a intersect b).size.toDouble / u
  }

  // ---- comparison -------------------------------------------------------

  def recall(truth: Seq[Long], got: Seq[Long]): Double =
    if (truth.isEmpty) 1.0 else got.toSet.intersect(truth.toSet).size.toDouble / truth.size

  /** `got` equals `want` id for id and in order, each score within `tol`. */
  def sameRanking(got: Ranked, want: Ranked, tol: Double): Option[String] =
    if (got.map(_._1) != want.map(_._1))
      Some(s"ids ${got.map(_._1).mkString(",")} != expected ${want.map(_._1).mkString(",")}")
    else got.zip(want).collectFirst {
      case ((id, g), (_, w)) if math.abs(g - w) > tol => s"id $id score $g != expected $w"
    }

  /** A ranking over scores with floating-point near-ties: `got` must be
    * sorted by the true scores, hold only ids whose true score is within
    * `tieTol` of the k-th best, match every reported score to `scoreTol`,
    * and have exactly min(k, candidates) entries. Used where the engine's
    * summation order differs from ours (BM25's per-document sums). */
  def sameUpToTies(got: Ranked, truth: Map[Long, Double], k: Int,
                   scoreTol: Double, tieTol: Double): Option[String] = {
    val want = truth.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
    if (got.size != want.size) return Some(s"${got.size} results, expected ${want.size}")
    if (want.isEmpty) return None
    val kth = want.last._2
    got.collectFirst {
      case (id, _) if !truth.contains(id) => s"id $id matches no query term"
      case (id, s) if math.abs(s - truth(id)) > scoreTol => s"id $id score $s != expected ${truth(id)}"
      case (id, _) if truth(id) < kth - tieTol => s"id $id is below the k-th score $kth"
    }.orElse(got.map(_._1).sliding(2).collectFirst {
      case Seq(a, b) if truth(a) < truth(b) - tieTol => s"ids $a, $b out of order"
    }).orElse(
      if (got.map(_._1).distinct.size != got.size) Some("duplicate ids") else None)
  }
}
