package perfbench

import scala.collection.mutable

/** Independent reference computations for checking the engine's outputs.
  * Plain Scala over the generated text: it shares no code with the engine
  * (string shingles, not 32-bit shingle hashes; its own union-find; the
  * LSH recall model from the method's parameters).
  */
object Check {

  /** Distinct k-shingles of an already-normalized text (tokens joined by
    * single spaces), as strings.
    */
  def shingles(text: String, k: Int): Set[String] = {
    val toks = if (text.isEmpty) Array.empty[String] else text.split(' ')
    if (toks.length < k) Set.empty
    else (0 to toks.length - k).iterator.map(i => toks.slice(i, i + k).mkString(" ")).toSet
  }

  /** |A ∩ B| / |A ∪ B|; two empty sets are identical (1.0), as in the
    * method's rule that docs without shingles are mutual duplicates.
    */
  def jaccard(a: Set[String], b: Set[String]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else { val i = a.count(b.contains); i.toDouble / (a.size + b.size - i) }

  final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    /** Links the larger root under the smaller, so every root is its
      * component's minimum id.
      */
    def union(a: Int, b: Int): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
  }

  /** Probability that a pair of Jaccard `j` shares at least one of `bands`
    * bands of `rows` rows: the LSH S-curve 1 - (1 - j^r)^b.
    */
  def sCurve(j: Double, rows: Int, bands: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rows), bands)

  /** P(X >= ceil(t n)) for X ~ Binomial(n, j): the chance the n-position
    * signature agreement estimate reaches the threshold t.
    */
  def binomTail(n: Int, j: Double, t: Double): Double = {
    val k0 = math.ceil(t * n - 1e-9).toInt
    if (j >= 1.0) return 1.0
    if (j <= 0.0) return if (k0 <= 0) 1.0 else 0.0
    // log C(n,k) + k log j + (n-k) log(1-j), summed from k0 to n
    var logC = 0.0
    var sum = 0.0
    for (k <- 0 to n) {
      if (k > 0) logC += math.log((n - k + 1).toDouble / k)
      if (k >= k0) sum += math.exp(logC + k * math.log(j) + (n - k) * math.log1p(-j))
    }
    math.min(1.0, sum)
  }

  /** Expected chance the engine reports a pair of Jaccard j. */
  def pairRecall(j: Double, n: Int, rows: Int, t: Double): Double =
    sCurve(j, rows, n / rows) * binomTail(n, j, t)

  /** Collects failures; the run is correct when none were recorded. */
  final class Report {
    val failures = mutable.ArrayBuffer[String]()
    val notes = mutable.ArrayBuffer[String]()
    def require(ok: Boolean, msg: => String): Unit = if (!ok) failures += msg
    def note(msg: String): Unit = notes += msg
    def ok: Boolean = failures.isEmpty
  }

  /** Pairs: doc1 < doc2, similarity >= threshold, each pair once, and every
    * planted exact copy present with similarity 1.0.
    */
  def pairs(r: Report, ps: Array[(Long, Long, Double)], threshold: Double,
            exactCopies: Seq[(Long, Long)]): Unit = {
    r.require(ps.nonEmpty, "no pairs reported")
    val bad = ps.filterNot { case (a, b, s) => a < b && s >= threshold && s <= 1.0 }
    r.require(bad.isEmpty, s"${bad.length} pairs break doc1<doc2 / threshold, e.g. ${bad.take(3).mkString(",")}")
    val keys = ps.map(p => (p._1, p._2))
    r.require(keys.distinct.length == keys.length, s"${keys.length - keys.distinct.length} duplicate pairs")
    val sim = ps.iterator.map(p => (p._1, p._2) -> p._3).toMap
    val missing = exactCopies.filterNot(p => sim.get(p).contains(1.0))
    r.require(missing.isEmpty, s"${missing.size}/${exactCopies.size} exact copies missing or below 1.0, e.g. ${missing.take(3)}")
    r.note(s"pairs=${ps.length} exact_copies=${exactCopies.size}")
  }

  /** Clusters: every label is the minimum of its component under our own
    * union-find over the engine's pairs, and each planted group is exactly
    * one cluster holding no other doc.
    */
  def clusters(r: Report, n: Int, labels: Map[Long, Long], ps: Iterator[(Long, Long)],
               groups: Seq[(String, Seq[Long])]): Unit = {
    val uf = new UnionFind(n)
    ps.foreach { case (a, b) => uf.union(a.toInt, b.toInt) }
    r.require(labels.size == n, s"labels cover ${labels.size} of $n docs")
    val wrong = labels.count { case (d, c) => uf.find(d.toInt).toLong != c }
    r.require(wrong == 0, s"$wrong docs carry a label other than their component minimum")
    val size = labels.values.groupBy(identity).map { case (c, v) => c -> v.size }
    for ((kind, members) <- groups) {
      val ls = members.flatMap(labels.get).distinct
      r.require(ls.size == 1 && size(ls.head) == members.size,
        s"$kind group of ${members.size} docs spans ${ls.size} clusters " +
          s"(sizes ${ls.map(size.getOrElse(_, 0)).mkString(",")})")
    }
    r.note(s"clusters=${size.size} groups=${groups.size}")
  }
}
