package perfbench

import graft.core.{BucketPairs, MinHashConfig, Murmur2, SignatureKernel, Tokenizer}

/** The `core` layer on one thread, no Spark: rates of the engine's kernels
  * over the workload's own docs and config. Each rate is the best of three
  * rounds after a warm-up round; a round cycles the inputs for at least
  * `roundS` seconds.
  */
object Kernel {
  /** Results land here so the JIT cannot drop the measured work. */
  @volatile private var sink = 0L

  private def rate(roundS: Double)(unit: Int => Long, inputs: Int): Double = {
    def round(): Double = {
      val t0 = System.nanoTime()
      var done = 0L
      var i = 0
      while (System.nanoTime() - t0 < roundS * 1e9) { done += unit(i % inputs); i += 1 }
      done / ((System.nanoTime() - t0) / 1e9)
    }
    round()
    Seq.fill(3)(round()).max
  }

  def lane(texts: Array[String], cfg: MinHashConfig, starCap: Option[Int],
           roundS: Double = 0.25): Seq[(String, Double, String)] = {
    val docs = texts.take(1500)
    val joined = docs.map(Tokenizer.joinedTokens)
    val tok = rate(roundS)(i => { sink += Tokenizer.joinedTokens(docs(i))._2.length; 1L }, docs.length)
    val sig = rate(roundS)(i => { sink += SignatureKernel.compute(docs(i), cfg)._1(0); 1L }, docs.length)
    val k = cfg.shingleSize
    val hashes = rate(roundS)(i => {
      val (s, st, en) = joined(i)
      var h = 0; var j = 0
      while (j + k <= st.length) { h ^= Murmur2.hashRange(s, st(j), en(j + k - 1), cfg.seed); j += 1 }
      sink += h
      math.max(0, st.length - k + 1).toLong
    }, docs.length)
    // bucket rows of the workload's own signatures, sorted as the candidate
    // operator feeds them to the emitter
    val bands = docs.map(d => SignatureKernel.compute(d, cfg)._2)
    val rows = (for ((b, d) <- bands.zipWithIndex; (h, bi) <- b.zipWithIndex) yield (bi, h, d.toLong))
      .sortBy(r => (r._1, r._2, r._3))
    val cap = starCap.getOrElse(Int.MaxValue)
    val bucketRate = rate(roundS)(_ => BucketPairs.emit(rows.iterator, cap).size.toLong, 1)
    val cands = BucketPairs.emit(rows.iterator, cap).toArray.distinct.take(200000)
    val sets = docs.map(SignatureKernel.shingleHashSet(_, cfg))
    val jac = rate(roundS)(i => {
      val (a, b) = cands(i)
      sink += SignatureKernel.exactJaccard(sets(a.toInt), sets(b.toInt)).toLong
      1L
    }, math.max(1, cands.length))
    Seq(
      ("core.tokenizer.docs_per_s", tok, "docs/s"),
      ("core.signature.docs_per_s", sig, "docs/s"),
      ("core.murmur2.hashes_per_s", hashes, "hashes/s"),
      ("core.bucketpairs.pairs_per_s", bucketRate, "pairs/s"),
      ("core.jaccard.pairs_per_s", if (cands.isEmpty) 0.0 else jac, "pairs/s"))
  }
}
