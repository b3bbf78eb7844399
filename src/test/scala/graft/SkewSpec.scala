package graft

import graft.core.MinHashConfig
import graft.operators.{ConnectedComponents, MinHashPipeline}
import org.apache.spark.sql.functions._

/** Skew armor under a deliberately hostile corpus: one identical-content
  * clique of 1,000 docs inside a 3,000-doc corpus (the license/boilerplate
  * mega-bucket, SURVEY.md Q3-adjacent skew case).
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  private val cliqueN = 1000
  private val cfg = MinHashConfig(shingleSize = 3, signatureSize = 32, nBandRows = 4, seed = 13, threshold = 0.8)

  private lazy val docs = {
    val license = "licensed under the apache license version two you may not use " +
      "this file except in compliance with the license you may obtain a copy"
    val rows = (0 until cliqueN).map(i => (i.toLong, license)) ++
      (cliqueN until 3000).map { i =>
        val rng = new java.util.Random(i)
        val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
          "theta", "iota", "kappa", "lam", "mu", "nu", "xi", "omi", "pi")
        (i.toLong, (0 until 60).map(_ => words(rng.nextInt(words.length)) + rng.nextInt(1000)).mkString(" "))
      }
    rows.toDF("doc_id", "content").repartition(8).cache()
  }

  test("candidates() == naive ∃-band gate on RANDOM band matrices (both paths)") {
    // not corpus-derived: random bands over a tiny hash domain force heavy
    // collisions, multi-band hits, and mega-buckets, exercising the whole
    // bucket-join plan (positional band_idx semantics, ∃-band distinct,
    // and the salted chunk-pair path) against the reference's gate
    // (is_candidate_pair in its src/MPI/utils.c:89-96). The
    // second input's domain of 24 puts buckets under, at and over the
    // chunk size of 5, so both routes run in one plan.
    for ((seed, domain, chunk) <- Seq((99, 8, 4), (5, 24, 5))) {
      val rng = new scala.util.Random(seed)
      val n = 120
      val nBands = 6
      val rows = (0 until n).map { i =>
        (i.toLong, Array.fill(8)(rng.nextInt()), Array.fill(nBands)(rng.nextInt(domain)))
      }
      val sizes = (0 until nBands).flatMap(b => rows.groupBy(_._3(b)).values.map(_.length))
      assert(sizes.max > chunk &&
        (seed == 99 || (sizes.exists(_ < chunk) && sizes.contains(chunk))), sizes.sorted)
      val sigs = rows.toDF("doc_id", "signature", "bands")
      val expected = (for {
        i <- 0 until n; j <- (i + 1) until n
        if (0 until nBands).exists(b => rows(i)._3(b) == rows(j)._3(b))
      } yield (i.toLong, j.toLong)).toSet
      assert(expected.nonEmpty && expected.size < n * (n - 1) / 2) // non-trivial
      val plain = MinHashPipeline.candidates(sigs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(plain == expected,
        s"seed=$seed plain: missing=${(expected -- plain).take(3)} extra=${(plain -- expected).take(3)}")
      // salted path forced onto the buckets larger than the chunk size
      val salted = MinHashPipeline.candidates(sigs, None, saltChunkSize = chunk)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(salted == expected, s"seed=$seed salted")
    }
  }

  test("GroupPairs: one (min, max) pair per shared group in exact mode, the hub-star in star mode") {
    // random keyed tables: groups of 1-11 members around a chunk/cap of 4,
    // drawn from 40 docs so that many doc pairs share several groups;
    // negative keys and a custom exchange width ride along
    val chunk = 4
    def pairsOf(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Int] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(identity)
        .map { case (p, ps) => p -> ps.length }
    for (seed <- Seq(3, 17, 29)) {
      val rng = new scala.util.Random(seed)
      val groups = (0 until 30).map { g =>
        val key = (rng.nextInt(3), rng.nextInt(2000) + (g - 15) * 2000)
        val size = Seq(1, chunk - 1, chunk, chunk + 1, 2 * chunk + 1, 11)(rng.nextInt(6))
        key -> rng.shuffle((0L until 40L).toList).take(size).sorted
      }
      val keyed = groups.flatMap { case ((a, b), docs) => docs.map(d => (a, b, d)) }
        .toDF("ka", "kb", "member").repartition(5)
      val clique = groups.flatMap { case (_, d) =>
        for (i <- d.indices; j <- (i + 1) until d.length) yield (d(i), d(j))
      }.groupBy(identity).map { case (p, ps) => p -> ps.length }
      val star = groups.flatMap { case (_, d) =>
        if (d.length <= chunk) for (i <- d.indices; j <- (i + 1) until d.length) yield (d(i), d(j))
        else d.tail.map(m => (d.head, m))
      }.groupBy(identity).map { case (p, ps) => p -> ps.length }
      assert(clique.values.exists(_ > 1), "some pair must share several groups")
      val exact = pairsOf(graft.operators.GroupPairs(keyed, None, chunk))
      assert(exact == clique, s"seed=$seed exact: missing=${(clique.toSet -- exact.toSet).take(3)} " +
        s"extra=${(exact.toSet -- clique.toSet).take(3)}")
      assert(pairsOf(graft.operators.GroupPairs(keyed, None, chunk, Some(3))) == clique,
        s"seed=$seed exact, width 3")
      assert(pairsOf(graft.operators.GroupPairs(keyed, Some(chunk), chunk)) == star,
        s"seed=$seed star")
    }
  }

  test("star-cap mode: linear pair count, full clique still one cluster") {
    val sigs = MinHashPipeline.signatures(docs, cfg).toDF().cache()
    val cands = MinHashPipeline.candidates(sigs, starCapBucketSize = Some(64))
    val cliqueCands = cands.filter(col("doc1") < cliqueN && col("doc2") < cliqueN)
    // star mode: the mega-bucket contributes (n-1) hub pairs, not C(n,2)
    assert(cliqueCands.count() == (cliqueN - 1).toLong)
    val pairs = MinHashPipeline.pairs(cands, sigs, cfg)
    val clusters = ConnectedComponents.cluster(pairs, docs.select("doc_id"))
    val licenseClusters = clusters.filter(col("doc_id") < cliqueN)
      .select("cluster_id").distinct().count()
    assert(licenseClusters == 1)
    sigs.unpersist()
  }

  test("salted parity mode: exact C(n,2) clique pairs, distributed generation") {
    val sigs = MinHashPipeline.signatures(docs, cfg).toDF().cache()
    val cands = MinHashPipeline.candidates(sigs, None, saltChunkSize = 128)
    val cliquePairs = cands.filter(col("doc1") < cliqueN && col("doc2") < cliqueN).count()
    assert(cliquePairs == cliqueN.toLong * (cliqueN - 1) / 2)
    sigs.unpersist()
  }

  test("substringDupPairs: hot window at the cap emits via salted chunks, exact relation") {
    // 30 docs share ONE 6-token run (every other window is unique per doc):
    // with saltChunkSize = 4 the shared window's group (wdf = 30 > 4) takes
    // the chunk-pair path — its ~C(30,2) output is generated across chunk
    // groups, no single window-key task — and the relation must stay EXACT:
    // every pair once, n_shared_windows == 1.
    val shared = "alpha bravo charlie delta echo foxtrot"
    val d = (0 until 30).map(i => (i.toLong, s"$shared uniq${i}a uniq${i}b uniq${i}c"))
      .toDF("doc_id", "text")
    val chunked = graft.operators.Dedup.substringDupPairs(
      d, minTokens = 6, existsMode = false, saltChunkSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(chunked.size == 30 * 29 / 2, chunked.size.toString)
    assert(chunked.values.forall(_ == 1L), chunked.filter(_._2 != 1L).toString)
    // parity vs the small (single-group streaming) path on the same corpus
    val plain = graft.operators.Dedup.substringDupPairs(
      d, minTokens = 6, existsMode = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(chunked == plain)
    // exists mode agrees through the chunked path too
    val exists = graft.operators.Dedup.substringDupPairs(
      d, minTokens = 6, saltChunkSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exists == chunked.keySet)
  }

  test("hammingPairs64: identical-fingerprint clique — salted exact, star-cap linear") {
    // the r6 verdict's last scale gap: a class of B IDENTICAL fingerprints
    // (blank images, silence, undecodable->0) is ONE (block_idx, block_val)
    // key per block; the old raw self-join generated its B²/2 rows in one
    // task. 60 identical hashes + 40 near/far others, saltChunkSize = 8
    // forces the clique through the chunk-pair emitters — output must stay
    // the EXACT exhaustive Hamming relation (brute force below).
    val rng = new scala.util.Random(41)
    val hs = (0 until 60).map(i => (i.toLong, 0x0123456789abcdefL)) ++
      (60 until 100).map { i =>
        val base = 0x0123456789abcdefL
        val flips = rng.nextInt(8)
        var h = base
        (0 until flips).foreach(_ => h ^= (1L << rng.nextInt(64)))
        (i.toLong, h)
      }
    val brute = (for {
      i <- hs.indices; j <- (i + 1) until hs.length
      ham = java.lang.Long.bitCount(hs(i)._2 ^ hs(j)._2)
      if ham <= 3
    } yield ((hs(i)._1, hs(j)._1), ham)).toMap
    assert(brute.size >= 60 * 59 / 2) // the clique alone is quadratic
    val df = hs.toDF("doc_id", "simhash").repartition(8).cache()
    val salted = graft.operators.Dedup.hammingPairs64(df, maxHamming = 3,
        saltChunkSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(salted == brute,
      s"missing=${(brute.keySet -- salted.keySet).take(3)} extra=${(salted.keySet -- brute.keySet).take(3)}")
    // default chunk size (groups fit one emitter pass) agrees too
    val plain = graft.operators.Dedup.hammingPairs64(df, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(plain == brute)
    // star-cap mode: the identical clique contributes hub-star pairs only —
    // linear in B — and stays one connected component
    val starred = graft.operators.Dedup.hammingPairs64(df, maxHamming = 3,
        starCapGroupSize = Some(16))
      .select("doc1", "doc2")
    val cliqueStar = starred.filter(col("doc1") < 60 && col("doc2") < 60)
    assert(cliqueStar.count() < 60L * 59 / 2)
    assert(cliqueStar.filter(col("doc1") === 0L).count() == 59,
      "hub-star must keep the clique connected through the min id")
    df.unpersist()
  }

  test("hammingPairs64 adaptive boundary: cliques straddling saltChunkSize, identical relation either shape") {
    // a (block_idx, block_val) group larger than saltChunkSize takes the
    // chunk-salted route, a smaller one the sorted emitter. Property-test
    // the boundary — identical cliques of size cap-1 / cap (sorted route)
    // and cap+1 / 2cap+1 (salted route) over a random tail must all
    // reproduce the exhaustive Hamming relation exactly.
    val rng = new scala.util.Random(97)
    for (cliqueSize <- Seq(7, 8, 9, 17)) {
      val hs = (0 until cliqueSize).map(i => (i.toLong, 0x5a5a3c3ca5a5c3c3L)) ++
        (cliqueSize until cliqueSize + 30).map { i =>
          val base = 0x5a5a3c3ca5a5c3c3L
          val flips = 1 + rng.nextInt(10)
          var h = base
          (0 until flips).foreach(_ => h ^= (1L << rng.nextInt(64)))
          (i.toLong, h)
        }
      val brute = (for {
        i <- hs.indices; j <- (i + 1) until hs.length
        ham = java.lang.Long.bitCount(hs(i)._2 ^ hs(j)._2)
        if ham <= 3
      } yield ((hs(i)._1, hs(j)._1), ham)).toMap
      val df = hs.toDF("doc_id", "simhash").repartition(5).cache()
      val got = graft.operators.Dedup.hammingPairs64(df, maxHamming = 3,
          saltChunkSize = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      assert(got == brute, s"cliqueSize=$cliqueSize: " +
        s"missing=${(brute.keySet -- got.keySet).take(3)} extra=${(got.keySet -- brute.keySet).take(3)}")
      df.unpersist()
    }
  }

  test("hammingPairs64 with 32-bit blocks: top-bit blocks pair exactly in exact and star modes") {
    // nBlocks = 2 makes each block a full 32-bit value; both blocks of the
    // base below have their top bit set, so a block key must reach int
    // range without an overflowing cast (ANSI casts throw on overflow)
    val base = 0xf0e1d2c3b4a59687L
    val rng = new scala.util.Random(53)
    val hs = (0 until 50).map { i =>
      val flips = if (i < 6) 0 else rng.nextInt(3)
      var h = if (i % 7 == 3) ~base else base
      (0 until flips).foreach(_ => h ^= (1L << rng.nextInt(64)))
      (i.toLong, h)
    }
    val brute = (for {
      i <- hs.indices; j <- (i + 1) until hs.length
      ham = java.lang.Long.bitCount(hs(i)._2 ^ hs(j)._2)
      if ham <= 1
    } yield ((hs(i)._1, hs(j)._1), ham)).toMap
    assert(brute.size > 6 * 5 / 2 && brute.values.exists(_ == 1))
    val df = hs.toDF("doc_id", "simhash").repartition(4).cache()
    def run(star: Option[Int]) = graft.operators.Dedup.hammingPairs64(df, maxHamming = 1,
        nBlocks = 2, starCapGroupSize = star, saltChunkSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val exact = run(None)
    assert(exact == brute,
      s"missing=${(brute.keySet -- exact.keySet).take(3)} extra=${(exact.keySet -- brute.keySet).take(3)}")
    // a star cap above every block group's size keeps the full relation
    assert(run(Some(hs.length)) == brute)
    df.unpersist()
  }
}
