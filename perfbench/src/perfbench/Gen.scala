package perfbench

import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** One planted group of related documents. `members(0)` is the base doc;
  * `edits(i)` is the number of tokens member i differs from the base by
  * (0 for an exact copy).
  */
final case class Family(kind: String, members: Array[Long], edits: Array[Int])

/** A generated corpus plus its ground truth. Ids are a random permutation of
  * 0 until docs.length, so planted groups are scattered over the input.
  */
final case class Corpus(texts: Array[String], families: Seq[Family]) {
  def n: Int = texts.length
  def text(id: Long): String = texts(id.toInt)
  /** Planted pairs: every unordered pair inside a family, doc1 < doc2. */
  def plantedPairs: Iterator[(Long, Long)] = families.iterator.flatMap { f =>
    for (i <- f.members.indices.iterator; j <- (i + 1 until f.members.length).iterator)
      yield (math.min(f.members(i), f.members(j)), math.max(f.members(i), f.members(j)))
  }
  private def baseLinks(keep: (Family, Int) => Boolean): Seq[(Long, Long)] = families.flatMap { f =>
    f.members.indices.drop(1).filter(keep(f, _)).map { i =>
      (math.min(f.members(0), f.members(i)), math.max(f.members(0), f.members(i)))
    }
  }
  /** Exact copies of a family's base doc (edits == 0), as (doc1, doc2). */
  def exactCopyPairs: Seq[(Long, Long)] = baseLinks((f, i) => f.edits(i) == 0)
  /** Base-member pairs the engine must report at any seed: exact copies,
    * and every member of the corpus-dedup groups, whose edits keep Jaccard
    * near 0.9 or above (graded `family` edits do not).
    */
  def linkedPairs: Seq[(Long, Long)] = baseLinks((f, i) => f.edits(i) == 0 || f.kind != "family")
}

/** Seeded corpus generator. Tokens are lowercase `[a-z0-9]+` joined by
  * single spaces, so the engine's tokenizer leaves a document unchanged and
  * the checker's string shingles are exactly the shingles the engine hashes.
  */
final class Gen(seed: Long) {
  private val rnd = new SplittableRandom(seed)
  private val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"

  private def word(minLen: Int, maxLen: Int): String = {
    val len = minLen + rnd.nextInt(maxLen - minLen + 1)
    val sb = new java.lang.StringBuilder(len)
    sb.append(alphabet.charAt(rnd.nextInt(26))) // identifiers start with a letter
    var i = 1
    while (i < len) { sb.append(alphabet.charAt(rnd.nextInt(alphabet.length))); i += 1 }
    sb.toString
  }

  /** Source-code-like vocabulary: Zipf-weighted identifiers. */
  final class Vocab(size: Int, zipf: Boolean) {
    private val words = Array.fill(size)(word(2, 9))
    private val cum: Array[Double] = {
      val w = Array.tabulate(size)(r => if (zipf) 1.0 / (r + 8) else 1.0)
      w.scanLeft(0.0)(_ + _).tail
    }
    def draw(): String = {
      val x = rnd.nextDouble() * cum(size - 1)
      val i = java.util.Arrays.binarySearch(cum, x)
      words(if (i >= 0) i else math.min(size - 1, -i - 1))
    }
    def doc(tokens: Int): Array[String] = Array.fill(tokens)(draw())
  }

  private def between(lo: Int, hi: Int): Int = lo + rnd.nextInt(hi - lo + 1)

  /** Replace the last `e` tokens (tail edit). */
  private def tailEdit(base: Array[String], e: Int, v: Vocab): Array[String] = {
    val out = base.clone()
    for (i <- out.length - e until out.length) out(i) = v.draw()
    out
  }

  /** Substitute `e` tokens at distinct random positions (graded edit). */
  private def scatterEdit(base: Array[String], e: Int, v: Vocab): Array[String] = {
    val out = base.clone()
    val pos = scala.collection.mutable.LinkedHashSet[Int]()
    while (pos.size < e) pos += rnd.nextInt(out.length)
    pos.foreach(p => out(p) = v.draw())
    out
  }

  /** Lays the groups and the unrelated docs out under a random id
    * permutation.
    */
  private def assemble(groups: Seq[(String, Seq[(Array[String], Int)])],
                       singles: Seq[Array[String]]): Corpus = {
    val total = groups.map(_._2.size).sum + singles.size
    val perm = (0 until total).toArray
    for (i <- total - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t
    }
    val texts = new Array[String](total)
    var next = 0
    val fams = groups.map { case (kind, docs) =>
      val ids = docs.map { case (toks, _) =>
        val id = perm(next); next += 1
        texts(id) = toks.mkString(" ")
        id.toLong
      }
      Family(kind, ids.toArray, docs.map(_._2).toArray)
    }
    singles.foreach { toks => texts(perm(next)) = toks.mkString(" "); next += 1 }
    Corpus(texts, fams)
  }

  /** `corpus-dedup`: mostly unrelated source-like files, exact copies,
    * tail-edited near-dups, one boilerplate clone family larger than the
    * star cap (the mega-bucket), and sub-shingle docs (fewer than 3 tokens,
    * all mutual duplicates under the method's empty-signature rule).
    */
  def corpus(unrelated: Int, exactFams: Int, nearFams: Int, boiler: Int, subShingle: Int): Corpus = {
    val v = new Vocab(20000, zipf = true)
    val groups = ArrayBuffer[(String, Seq[(Array[String], Int)])]()
    for (_ <- 0 until exactFams) {
      val base = v.doc(between(60, 300))
      groups += ("exact" -> Seq.fill(1 + between(1, 2))((base, 0)))
    }
    for (_ <- 0 until nearFams) {
      val base = v.doc(between(180, 320))
      val variants = Seq.fill(between(1, 3)) { val e = between(1, 3); (tailEdit(base, e, v), e) }
      groups += ("near" -> ((base, 0) +: variants))
    }
    val header = v.doc(200)
    groups += ("boilerplate" -> Seq.fill(boiler)((header ++ v.doc(3), 3)))
    groups += ("subshingle" -> Seq.fill(subShingle)((v.doc(between(0, 2)), 0)))
    assemble(groups.toSeq, Seq.fill(unrelated)(v.doc(between(60, 300))))
  }

  /** `dense-families`: short docs in large near-dup families. Each member
    * substitutes 0 to `maxEdits` tokens of the family's base, so pairs
    * inside a family span Jaccard from about 0.2 to 1.0.
    */
  def dense(families: Int, minSize: Int, maxSize: Int, maxEdits: Int, unrelated: Int): Corpus = {
    val v = new Vocab(50000, zipf = false)
    val groups = (0 until families).map { _ =>
      val base = v.doc(between(36, 48))
      val size = between(minSize, maxSize)
      "family" -> ((base, 0) +: Seq.fill(size - 1) {
        val e = rnd.nextInt(maxEdits + 1)
        (scatterEdit(base, e, v), e)
      })
    }
    assemble(groups, Seq.fill(unrelated)(v.doc(between(36, 48))))
  }
}
