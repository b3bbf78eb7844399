package graft

import graft.core._
import org.scalatest.funsuite.AnyFunSuite

/** Golden-vector tests pinned from the compiled reference (FIXTURES.md §2-3).
  * Any drift here silently destroys dup-pair recall downstream — these are
  * the most load-bearing tests in the repo.
  */
class KernelSpec extends AnyFunSuite {

  private def mm(s: String, seed: Int): Long =
    Murmur2.asUnsigned(Murmur2.hashString(s, seed))

  test("murmur2 golden vectors (FIXTURES.md §2)") {
    val vectors = Seq(
      ("the quick brown", 0, 4092507337L),
      ("the quick brown", 13, 3138408474L),
      ("the quick brown", 26, 571178942L),
      ("the quick brown", 39, 1321904577L),
      ("the quick brown", 7, 3716598002L),
      ("quick brown fox", 0, 3677687893L),
      ("quick brown fox", 13, 1709493782L),
      ("quick brown fox", 26, 1645005544L),
      ("quick brown fox", 39, 1225156830L),
      ("quick brown fox", 7, 692240644L),
      ("hello", 0, 3848350155L),
      ("hello", 13, 405484702L),
      ("hello", 7, 88108689L),
      ("ab", 13, 1338735974L),
      ("abc", 13, 2630255634L),
      ("abcd", 13, 2197256810L),
      ("abcde", 13, 3754285280L),
      ("", 13, 2846461888L)
    )
    vectors.foreach { case (s, seed, want) =>
      assert(mm(s, seed) == want, s"murmur2($s, $seed)")
    }
  }

  test("murmur2 hashRange == hashString on substrings") {
    val s = "xx the quick brown yy"
    assert(Murmur2.hashRange(s, 3, 18, 13) == Murmur2.hashString("the quick brown", 13))
  }

  test("murmur2 hashBytes agrees with char variant on ASCII") {
    val s = "the quick brown fox"
    assert(Murmur2.hashBytes(s.getBytes("US-ASCII"), 13) == Murmur2.hashString(s, 13))
  }

  test("seed family wraps like C int (FIXTURES.md §2 int-wrap check)") {
    // C int 13 * 200000000 wraps to -1694967296 (u32 2600000000)
    val wrapped = 13 * 200000000
    assert(wrapped == -1694967296)
  }

  test("tokenizer cases (FIXTURES.md §3)") {
    assert(Tokenizer.tokenize("Don't Stop-Me now!").toSeq == Seq("dont", "stopme", "now"))
    assert(Tokenizer.tokenize("a b ... c").toSeq == Seq("a", "b", "c"))
    assert(Tokenizer.tokenize("C++ & Java_2").toSeq == Seq("c", "java2"))
    assert(Tokenizer.tokenize("x\ty\n z").toSeq == Seq("x", "y", "z"))
    assert(Tokenizer.tokenize("café über").toSeq == Seq("caf", "ber"))
    assert(Tokenizer.tokenize("").toSeq == Seq())
    assert(Tokenizer.tokenize("  \n\t ").toSeq == Seq())
    assert(Tokenizer.tokenize("!!! ???").toSeq == Seq())
  }

  test("joinedWithOffsets produces exact shingle byte layout (Q8)") {
    val toks = Tokenizer.tokenize("the quick brown fox jumps")
    val (joined, starts) = Tokenizer.joinedWithOffsets(toks)
    assert(joined == "the quick brown fox jumps")
    // 3-shingle at position 0 covers "the quick brown"
    val from = starts(0)
    val until = starts(2) + toks(2).length
    assert(joined.substring(from, until) == "the quick brown")
    val from1 = starts(1)
    val until1 = starts(3) + toks(3).length
    assert(joined.substring(from1, until1) == "quick brown fox")
  }

  test("signature: doc with < shingleSize tokens stays all-0xFFFFFFFF (Q3)") {
    val cfg = MinHashConfig(shingleSize = 3, signatureSize = 8, nBandRows = 4, seed = 13)
    val (sig, bands) = SignatureKernel.compute("short doc", cfg)
    assert(sig.forall(_ == 0xffffffff))
    // XOR of an even count (4) of equal values cancels to 0
    assert(bands.forall(_ == 0))
    val (sig2, bands2) = SignatureKernel.compute("another short", cfg)
    assert(sig.sameElements(sig2) && bands.sameElements(bands2))
    assert(SignatureKernel.signatureSimilarity(sig, sig2) == 1.0)
  }

  test("signature min-update uses unsigned comparison") {
    // Find a doc whose min hash has the sign bit set; compare against a
    // manual unsigned min over all shingle hashes.
    val cfg = MinHashConfig(shingleSize = 2, signatureSize = 4, nBandRows = 2, seed = 13)
    val text = "alpha beta gamma delta epsilon zeta eta theta"
    val toks = Tokenizer.tokenize(text)
    val shingles = toks.sliding(2).map(_.mkString(" ")).toSeq
    val (sig, _) = SignatureKernel.compute(text, cfg)
    for (j <- 0 until 4) {
      val want = shingles
        .map(s => Murmur2.hashString(s, cfg.seed * j))
        .reduce((a, b) => if (java.lang.Integer.compareUnsigned(a, b) <= 0) a else b)
      assert(sig(j) == want, s"slot $j")
    }
  }

  test("identical docs => identical signature and bands; similarity 1.0") {
    val cfg = MinHashConfig(shingleSize = 3, signatureSize = 64, nBandRows = 4, seed = 13)
    val t = "the quick brown fox jumps over the lazy dog again and again"
    val (s1, b1) = SignatureKernel.compute(t, cfg)
    val (s2, b2) = SignatureKernel.compute(t, cfg)
    assert(s1.sameElements(s2) && b1.sameElements(b2))
    assert(SignatureKernel.signatureSimilarity(s1, s2) == 1.0)
  }

  test("duplicate shingles collapse (Q12): repeated text == single pass set") {
    val cfg = MinHashConfig(shingleSize = 2, signatureSize = 16, nBandRows = 4, seed = 7)
    // "a b a b a b" has shingle set {"a b", "b a"} — same as "a b a"
    val (s1, _) = SignatureKernel.compute("a b a b a b", cfg)
    val (s2, _) = SignatureKernel.compute("a b a", cfg)
    assert(s1.sameElements(s2))
  }

  test("shingleHashSet: unsigned-sorted, distinct; exactJaccard sane") {
    val cfg = MinHashConfig(shingleSize = 2, signatureSize = 4, nBandRows = 2, seed = 13)
    val a = SignatureKernel.shingleHashSet("a b c d", cfg)
    assert(a.length == 3) // "a b","b c","c d"
    assert(
      a.toSeq
        .map(Murmur2.asUnsigned)
        .sliding(2)
        .forall(p => p.length < 2 || p(0) < p(1))
    )
    val b = SignatureKernel.shingleHashSet("a b c x", cfg)
    // shared: "a b","b c"; union: "a b","b c","c d","c x" => 2/4
    assert(SignatureKernel.exactJaccard(a, b) == 0.5)
    assert(SignatureKernel.exactJaccard(a, a) == 1.0)
    val e = SignatureKernel.shingleHashSet("tiny", cfg)
    assert(e.isEmpty)
    assert(SignatureKernel.exactJaccard(e, e) == 1.0) // Q3 semantics
    assert(SignatureKernel.exactJaccard(e, a) == 0.0)
  }

  /** The scalar reference the lane kernel replaced: one
    * `Murmur2.hashRange` per (shingle, seed) with an unsigned-compare
    * min, and a boxed unsigned `TreeSet` for the shingle-hash set.
    */
  private object ScalarKernel {
    def signature(content: String, cfg: MinHashConfig): Array[Int] = {
      val sig = Array.fill(cfg.signatureSize)(0xffffffff)
      val (joined, starts, ends) = Tokenizer.joinedTokens(content)
      for (s <- 0 to starts.length - cfg.shingleSize; j <- sig.indices) {
        val h = Murmur2.hashRange(joined, starts(s), ends(s + cfg.shingleSize - 1), cfg.seed * j)
        if (java.lang.Integer.compareUnsigned(h, sig(j)) < 0) sig(j) = h
      }
      sig
    }

    def hashSet(content: String, cfg: MinHashConfig): Array[Int] = {
      val set = new java.util.TreeSet[Integer](
        (a: Integer, b: Integer) => java.lang.Integer.compareUnsigned(a, b))
      val (joined, starts, ends) = Tokenizer.joinedTokens(content)
      for (s <- 0 to starts.length - cfg.shingleSize)
        set.add(Murmur2.hashRange(joined, starts(s), ends(s + cfg.shingleSize - 1), cfg.seed))
      set.toArray(new Array[Integer](0)).map(_.intValue)
    }
  }

  test("lane kernel == scalar per-seed reference: random streams, every tail, odd widths, edge seeds") {
    val rnd = new java.util.Random(20261020L)
    val alnum = "abcdefghijklmnopqrstuvwxyz0123456789"
    val ws = Array(" ", "  ", "\t", "\n", "\r\n")
    // tokens of 1..9 chars, so shingle byte lengths hit every residue mod 4;
    // some carry case or punctuation the tokenizer folds or strips
    def token(): String = {
      val t = Array.fill(1 + rnd.nextInt(9))(alnum.charAt(rnd.nextInt(alnum.length))).mkString
      rnd.nextInt(8) match {
        case 0 => t.toUpperCase
        case 1 => t + "!"
        case 2 => "--"
        case _ => t
      }
    }
    def doc(): String = rnd.nextInt(6) match {
      case 0 => "" // zero shingles
      case 1 => Seq.fill(rnd.nextInt(4))(token()).mkString(" ") // often below shingleSize
      case _ => Seq.fill(rnd.nextInt(60))(token()).map(_ + ws(rnd.nextInt(ws.length))).mkString
    }
    val tails = new Array[Int](4)
    var zeroShingleDocs = 0
    var topBitSig = 0
    var topBitSet = 0
    for {
      shingle <- 1 to 5
      signature <- Seq(1, 3, 17, 200, 300)
      seed <- Seq(0, 1, -1, Int.MaxValue, Int.MinValue)
    } {
      val cfg = MinHashConfig(shingle, signature, 1, seed)
      (0 until 6).foreach { _ =>
        val d = doc()
        val (joined, starts, ends) = Tokenizer.joinedTokens(d)
        if (starts.length < shingle) zeroShingleDocs += 1
        for (s <- 0 to starts.length - shingle) tails((ends(s + shingle - 1) - starts(s)) & 3) += 1
        val (sig, bands) = SignatureKernel.compute(d, cfg)
        val want = ScalarKernel.signature(d, cfg)
        assert(sig.sameElements(want), s"signature of ${joined.take(60)} under $cfg")
        assert(bands.sameElements(want)) // one row per band: bands are the rows
        val set = SignatureKernel.shingleHashSet(d, cfg)
        assert(set.sameElements(ScalarKernel.hashSet(d, cfg)), s"shingle set of ${joined.take(60)} under $cfg")
        topBitSig += sig.count(_ < 0)
        topBitSet += set.count(_ < 0)
      }
    }
    // the draws really covered what the test claims to cover
    assert(tails.forall(_ > 100), s"shingle lengths by residue mod 4: ${tails.toSeq}")
    assert(zeroShingleDocs > 50 && topBitSig > 100 && topBitSet > 100,
      s"zero-shingle docs $zeroShingleDocs, top-bit signature rows $topBitSig, top-bit set hashes $topBitSet")
  }

  test("bandsOf folds by XOR positionally (Q4)") {
    val cfg = MinHashConfig(shingleSize = 3, signatureSize = 8, nBandRows = 2, seed = 13)
    val sig = Array(1, 2, 3, 4, 5, 6, 7, 8)
    assert(SignatureKernel.bandsOf(sig, cfg).toSeq == Seq(1 ^ 2, 3 ^ 4, 5 ^ 6, 7 ^ 8))
  }

  test("joinedTokens (fused) == tokenize + joinedWithOffsets on arbitrary input") {
    val gen = org.scalacheck.Gen.listOf(org.scalacheck.Gen.frequency(
      8 -> org.scalacheck.Gen.alphaNumChar,
      3 -> org.scalacheck.Gen.oneOf(' ', '\t', '\n', '\r'),
      2 -> org.scalacheck.Gen.oneOf('!', '.', '-', '\'', '+', '_'),
      1 -> org.scalacheck.Gen.choose(128.toChar, 1000.toChar)
    )).map(_.mkString)
    val prop = org.scalacheck.Prop.forAll(gen) { content =>
      val toks = Tokenizer.tokenize(content)
      val (wantJoined, wantStarts) = Tokenizer.joinedWithOffsets(toks)
      val (gotJoined, gotStarts, gotEnds) = Tokenizer.joinedTokens(content)
      gotJoined == wantJoined &&
        gotStarts.toSeq == wantStarts.toSeq &&
        gotEnds.toSeq == toks.indices.map(i => wantStarts(i) + toks(i).length)
    }
    val res = org.scalacheck.Test.check(prop)(_.withMinSuccessfulTests(500))
    assert(res.passed, res.status.toString)
  }

  test("config validation (Q9)") {
    assertThrows[IllegalArgumentException](MinHashConfig(signatureSize = 10, nBandRows = 4))
    assert(MinHashConfig(signatureSize = 100, nBandRows = 4).nBands == 25)
  }

  test("GramTally.coveredMasses: hand-computed masses, ties, surrogate order") {
    def m(s: String) = GramTally.coveredMasses(s.split(" "))
    // "a b a b": bigrams "a b"x2 "b a"x1 -> top2 = 2*3; trigrams "a b a",
    // "b a b" tie at 1 with equal len 5 -> 5; one 4-gram -> 7; no dup>=5
    assert(m("a b a b").toSeq == Seq(6L, 5L, 7L, 0L, 0L, 0L, 0L, 0L, 0L))
    // length-ambiguous tie at max: "a b"x2 and "longone longtwo"x2 both
    // win on count; lexicographically smallest ("a b", len 3) decides
    assert(m("a b a b longone longtwo longone longtwo")(0) == 2L * 3)
    // dup family: "p q r s t" twice -> 2 * len 9 at n=5
    assert(m("p q r s t p q r s t")(3) == 2L * 9)
    // surrogate re-ranking in the tie-break: tokens [😀, a,
    // bb]; candidates "😀 a" (len 4 CODEPOINTS) vs
    // "a bb" (len 6). Code-point/UTF-8 order puts U+E000
    // BELOW the astral 😀 (naive UTF-16 order would not) -> winner len 6
    assert(m("😀 a bb")(0) == 6L)
    // token-prefix boundary: candidates "ab abc" / "abc ab" / "ab xyzw"
    // all tie at 1 with lens {6,6,7}; smallest is "ab abc" (separator
    // 0x20 sorts below 'c' at the prefix boundary) -> len 6
    assert(m("ab abc ab xyzw")(0) == 6L)
    // codepoint lengths: astral chars count 1 ("😀 😀" len 3, counted 1x
    // -> top2 = 3)
    assert(m("😀 😁")(0) == 3L)
    assert(GramTally.coveredMasses(Array("solo")).toSeq == Seq.fill(9)(0L))
  }
}
