package graft.core

/** The fused per-document compute kernel: tokenize -> shingle -> MinHash
  * signature -> XOR band fold, one pass, preallocated arrays. This is the
  * hard-correctness core; every semantic quirk is pinned by SURVEY.md §2.3
  * and FIXTURES.md golden data:
  *
  *   - hash family: hash k of a shingle uses seed `seed * k` as a WRAPPING
  *     Int multiply (/root/reference/src/MPI/minhash.c:182) — k=0 always
  *     uses seed 0 regardless of the configured seed (Q2)
  *   - min-update is UNSIGNED 32-bit comparison
  *     (/root/reference/src/MPI/minhash.c:183-184) (Q1/§1.2)
  *   - a document with fewer than shingleSize tokens yields zero shingles;
  *     its signature stays all-0xFFFFFFFF, so all such docs are mutual
  *     perfect duplicates (Q3) — preserved, not "fixed"
  *   - band j is the positional XOR of signature rows [j*r, (j+1)*r)
  *     (/root/reference/src/MPI/minhash.c:205-215) (Q4)
  *   - duplicate shingles collapse implicitly (min is idempotent), so the
  *     signature is a function of the shingle *set* (Q12)
  *
  * Pure Scala, no Spark imports: callable from `mapPartitions`, unit tests,
  * and property tests alike.
  */
object SignatureKernel {

  /** Signature + bands for one document. Arrays are freshly allocated per
    * call (they become the row values); all scratch state is local, and
    * nothing outlives the call.
    *
    * Lane layout: `h(j)` is the running MurmurHash2 state of seed lane j
    * (seed `seeds(j) = cfg.seed * j`). Per shingle, each 4-byte word is
    * mixed once and folded into every lane by one flat loop over j, then
    * the tail and the avalanche run as flat loops too. Each loop is a
    * counted loop over int arrays that C2's SuperWord pass vectorizes.
    * On one thread of a 4-core Xeon (JDK 17) it signed 6.8–11x the docs/s
    * of the old per-(shingle, seed) `hashRange` loop in the reference's
    * medical and medpub shapes, and 3.0–3.6x with `-XX:-UseSuperWord`.
    *
    * Bit-exact with that per-(shingle, seed) loop because (a) the word mix
    * takes no input from the seed, so mixing once and chaining per lane is
    * the same arithmetic in the same order, and (b) the running minimum is
    * kept on sign-flipped values (`x ^ MIN_VALUE`), whose signed order is
    * the unsigned order of `x`: `Math.min` on them is the reference's
    * unsigned min, with no `compareUnsigned` branch.
    */
  def compute(content: String, cfg: MinHashConfig): (Array[Int], Array[Int]) = {
    val n = cfg.signatureSize
    val sig = new Array[Int](n) // sign-flipped running minima until the end
    java.util.Arrays.fill(sig, 0xffffffff ^ Int.MinValue) // UINT32_MAX init
    val (joined, starts, ends) = Tokenizer.joinedTokens(content)
    val k = cfg.shingleSize
    val nShingles = starts.length - k + 1
    var j = 0
    if (nShingles > 0) {
      val seeds = new Array[Int](n)
      while (j < n) { seeds(j) = cfg.seed * j; j += 1 }
      val h = new Array[Int](n)
      var s = 0
      while (s < nShingles) {
        val from = starts(s)
        val len = ends(s + k - 1) - from
        val n4 = from + (len - (len & 3))
        j = 0
        while (j < n) { h(j) = seeds(j) ^ len; j += 1 }
        var i = from
        while (i < n4) {
          val w = Murmur2.mixWord(Murmur2.wordAt(joined, i))
          j = 0
          while (j < n) { h(j) = Murmur2.step(h(j), w); j += 1 }
          i += 4
        }
        if ((len & 3) > 0) {
          val t = Murmur2.tailAt(joined, n4, len & 3)
          j = 0
          while (j < n) { h(j) = Murmur2.tail(h(j), t); j += 1 }
        }
        j = 0
        while (j < n) {
          sig(j) = Math.min(sig(j), Murmur2.avalanche(h(j)) ^ Int.MinValue)
          j += 1
        }
        s += 1
      }
    }
    j = 0
    while (j < n) { sig(j) ^= Int.MinValue; j += 1 }
    (sig, bandsOf(sig, cfg))
  }

  /** XOR band fold of an existing signature (Q4). */
  def bandsOf(sig: Array[Int], cfg: MinHashConfig): Array[Int] = {
    val bands = new Array[Int](cfg.nBands)
    var b = 0
    while (b < cfg.nBands) {
      var acc = 0
      var r = b * cfg.nBandRows
      val end = r + cfg.nBandRows
      while (r < end) { acc ^= sig(r); r += 1 }
      bands(b) = acc
      b += 1
    }
    bands
  }

  /** Positional signature agreement — the reference's similarity estimate
    * (/root/reference/src/MPI/utils.c:79-87, Q6). Computed in double;
    * golden comparison rounds to 4 decimals at the output boundary only.
    */
  def signatureSimilarity(s1: Array[Int], s2: Array[Int]): Double = {
    var eq = 0
    var i = 0
    while (i < s1.length) {
      if (s1(i) == s2(i)) eq += 1
      i += 1
    }
    eq.toDouble / s1.length
  }

  /** Distinct shingle hashes of a document (single fixed seed = cfg.seed),
    * sorted by UNSIGNED value. This is the input to the exact-Jaccard
    * verification stage (the hook the reference ships but never calls:
    * /root/reference/src/MPI/utils.c:65-77, O15b). Deduplicated per Q12.
    */
  def shingleHashSet(content: String, cfg: MinHashConfig): Array[Int] = {
    val (joined, starts, ends) = Tokenizer.joinedTokens(content)
    val k = cfg.shingleSize
    val nShingles = starts.length - k + 1
    if (nShingles <= 0) return Array.emptyIntArray
    // sign-flipped while sorting: signed order on x ^ MIN_VALUE is the
    // unsigned order on x
    val hs = new Array[Int](nShingles)
    var s = 0
    while (s < nShingles) {
      hs(s) = Murmur2.hashRange(joined, starts(s), ends(s + k - 1), cfg.seed) ^ Int.MinValue
      s += 1
    }
    java.util.Arrays.sort(hs)
    var n = 1
    s = 1
    while (s < nShingles) {
      if (hs(s) != hs(n - 1)) { hs(n) = hs(s); n += 1 }
      s += 1
    }
    s = 0
    while (s < n) { hs(s) ^= Int.MinValue; s += 1 }
    if (n == nShingles) hs else java.util.Arrays.copyOf(hs, n)
  }

  /** Exact Jaccard of two unsigned-sorted distinct hash arrays:
    * |A ∩ B| / |A ∪ B|, linear merge scan. Both-empty => 1.0 (two docs with
    * zero shingles are identical under the reference's Q3 semantics).
    */
  def exactJaccard(a: Array[Int], b: Array[Int]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) {
      val c = java.lang.Integer.compareUnsigned(a(i), b(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }
}
