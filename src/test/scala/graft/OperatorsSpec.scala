package graft

import graft.functions.TextAnalysis
import graft.operators._
import org.apache.spark.sql.functions._

/** Unit specs for the training-data-pipeline operator family (dedup
  * variants, similarity search, text analysis, multimodal plumbing).
  */
class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog"),
    (1L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat"), // near dup
    (3L, "completely different text about spark shuffles and joins"),
    (4L, "")
  ).toDF("doc_id", "text")

  test("exactDedup / exactDupGroups") {
    val groups = Dedup.exactDupGroups(docs).collect()
    assert(groups.length == 4) // 0&1 collapse
    val dupGroup = groups.find(_.getAs[Long]("n_copies") == 2).get
    assert(dupGroup.getAs[Long]("rep_id") == 0L)
    val survivors = Dedup.exactDedup(docs).collect().map(_.getLong(0)).toSet
    assert(survivors == Set(0L, 2L, 3L, 4L))
  }

  test("bestPerClusterLabels / keepBestPerCluster: argmax score, tie -> min id, null-safe") {
    // cluster {0,1,2}: 1 has the top score; cluster {3,4}: tie -> min id 3;
    // 5 absent from the labels table -> singleton, its own rep;
    // cluster {6,7}: both scores NULL -> null-safe max still elects min id 6
    val scored = Seq(
      (0L, Some(10L)), (1L, Some(25L)), (2L, Some(25L - 25L)),
      (3L, Some(7L)), (4L, Some(7L)),
      (5L, Some(3L)),
      (6L, None: Option[Long]), (7L, None: Option[Long])
    ).toDF("doc_id", "s")
    val clusters = Seq(
      (0L, 0L), (1L, 0L), (2L, 0L),
      (3L, 3L), (4L, 3L),
      (6L, 6L), (7L, 6L)
    ).toDF("doc_id", "cluster_id")

    val labels = Dedup.bestPerClusterLabels(scored, clusters, col("s")).collect()
    assert(labels.length == 8)
    val reps = labels.filter(_.getAs[Int]("is_rep") == 1).map(_.getAs[Long]("doc_id")).toSet
    assert(reps == Set(1L, 3L, 5L, 6L))
    // every member row carries its cluster label (absent doc coalesced to own id)
    val byDoc = labels.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(byDoc(5L) == 5L && byDoc(4L) == 3L && byDoc(7L) == 6L)

    val kept = Dedup.keepBestPerCluster(scored, clusters, col("s"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept == Set(1L, 3L, 5L, 6L))
    spark.catalog.clearCache()
  }

  test("simHash: identical == ; near-dup close ; distinct far") {
    val h0 = Dedup.simHash64("the quick brown fox jumps over the lazy dog", 13)
    val h1 = Dedup.simHash64("the quick brown fox jumps over the lazy dog", 13)
    val h2 = Dedup.simHash64("the quick brown fox jumps over the lazy cat", 13)
    val h3 = Dedup.simHash64("completely different text about spark shuffles and joins", 13)
    assert(h0 == h1)
    assert(java.lang.Long.bitCount(h0 ^ h2) < 16)
    assert(java.lang.Long.bitCount(h0 ^ h3) > 16)
  }

  test("simHashPairs finds exact dup at hamming 0") {
    val pairs = Dedup.simHashPairs(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 1L && p._3 == 0))
  }

  test("ngramJaccardPairs: hand-computed 2-gram jaccard") {
    // doc0/doc1 identical: jaccard 1.0; doc0/doc2 share 7 of their 8
    // distinct bigrams each -> |∩|=7, |∪|=9
    val pairs = Dedup.ngramJaccardPairs(docs, n = 2, minJaccard = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((0L, 1L)) == 1.0)
    assert(math.abs(pairs((0L, 2L)) - 7.0 / 9) < 1e-12)
    assert(!pairs.contains((0L, 3L)))
  }

  test("ngramContainment: benchmark leakage flagged, partial overlap below threshold dropped") {
    val corpus = Seq(
      (1L, "x a b c d e y"), // contains ALL of bench 100's 3-grams -> 1.0
      (2L, "a b c something else entirely here"), // 1 of 3 -> 0.333, dropped
      (3L, "nothing shared at all in this one")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e")).toDF("doc_id", "text") // grams: abc,bcd,cde
    val out = Dedup.ngramContainment(corpus, bench, n = 3, minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 100L, 1.0)), out.mkString(","))
  }

  test("ngramContainment: oversized benchmark degrades to a shuffle join, same rows") {
    val corpus = Seq(
      (1L, "x a b c d e y"),
      (2L, "a b c something else entirely here"),
      (3L, "nothing shared at all in this one")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    // gate at 0 grams: the "benchmark" counts as oversized -> no broadcast
    // hint may survive planning on either gram-join side
    val gated = Dedup.ngramContainment(corpus, bench, n = 3, minContainment = 0.5,
      maxBroadcastGrams = 0L)
    val rows = gated.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(rows.toSeq == Seq((1L, 100L, 1.0)), rows.mkString(","))
    val opt = gated.queryExecution.optimizedPlan.toString
    assert(!opt.contains("ResolvedHint") && !opt.toLowerCase.contains("broadcast"), opt)
    spark.catalog.clearCache()
  }

  test("ngramContainmentBloom == ngramContainment (no false negatives; FPs die in verify join)") {
    // planted structure: full leak, partial leak above/below threshold,
    // disjoint docs, multiple benchmark items — the bloom path must
    // reproduce the exact operator row-for-row
    val corpus = Seq(
      (1L, "x a b c d e y"),
      (2L, "a b c something else entirely here"),
      (3L, "nothing shared at all in this one"),
      (4L, "p q r s t u v w"),
      (5L, "a b c d and p q r s also present")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e"), (200L, "p q r s")).toDF("doc_id", "text")
    val exact = Dedup.ngramContainment(corpus, bench, n = 3, minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    spark.catalog.clearCache()
    val bloomed = Dedup.ngramContainmentBloom(corpus, bench, n = 3, minContainment = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(exact.nonEmpty && bloomed == exact, s"exact=$exact bloom=$bloomed")
    spark.catalog.clearCache()
  }

  test("ngramContainmentBloom: empty benchmark yields empty typed frame") {
    val corpus = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val out = Dedup.ngramContainmentBloom(corpus, bench, n = 3, minContainment = 0.5)
    assert(out.columns.toSeq == Seq("doc_id", "bench_id", "containment"))
    assert(out.count() == 0L)
    spark.catalog.clearCache()
  }

  test("ngramJaccardPairs: hashed gram key equals the string-keyed formulation on randomized corpora") {
    // round-8 optimization: the internal join key is gramHash(gram), not
    // the gram string — output must be identical (a 64-bit collision
    // between distinct grams on these corpora would fail this loudly)
    val rng = new scala.util.Random(1213)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa", "mu", "nu", "xi", "", "o o", "Ωmega", "tab\tsep")
    for (trial <- 0 until 3) {
      val rows = (0L until 60L).map { id =>
        val len = 3 + rng.nextInt(25)
        (id, (0 until len).map(_ => vocab(rng.nextInt(vocab.length))).mkString(" "))
      }
      val d = rows.toDF("doc_id", "text")
      val cap = if (trial == 2) Some(10) else None
      def rowsOf(hashed: Boolean) =
        Dedup.ngramJaccardPairs(d, n = 2 + trial % 2, minJaccard = 0.05,
            maxGramDocFreq = cap, hashedGrams = hashed)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
      assert(rowsOf(true) == rowsOf(false), s"trial $trial")
      spark.catalog.clearCache()
    }
  }

  test("gram doc-frequency cap drops only hot grams") {
    // 'the quick' appears in 3 docs; cap=2 removes it but near-dup pairs
    // survive via the remaining grams
    val pairs = Dedup.ngramJaccardPairs(docs, n = 2, minJaccard = 0.5, maxGramDocFreq = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("substringDupPairs: shared >= L-token run detected, shorter overlap not") {
    val d = Seq(
      (0L, "aa bb cc dd ee ff gg hh unique tail one"),
      (1L, "prefix other aa bb cc dd ee ff gg hh different end"), // shares an 8-token run with 0
      (2L, "aa bb cc xx yy zz qq ww completely other words here"), // only 3-token overlap
      (3L, "nothing in common with anything at all whatsoever truly")
    ).toDF("doc_id", "text")
    val pairs = Dedup.substringDupPairs(d, minTokens = 6, existsMode = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((0L, 1L)))
    // 8-token shared run => 3 distinct 6-token windows
    assert(pairs((0L, 1L)) == 3L)
    assert(!pairs.contains((0L, 2L)))
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("substringDupPairs rolling hash == direct window hash (no drift)") {
    // one long doc vs itself shifted: every window of the overlap matches
    val text = (1 to 40).map(i => s"tok$i").mkString(" ")
    val d = Seq((0L, text), (1L, text)).toDF("doc_id", "text")
    val n = Dedup.substringDupPairs(d, minTokens = 10, existsMode = false)
      .head().getLong(2)
    assert(n == 31L) // 40 - 10 + 1 distinct windows, all shared
  }

  test("substringDupPairs: exists-mode pair set == count-mode pair set; cap is a pair budget") {
    val d = Seq(
      (0L, "aa bb cc dd ee ff gg hh unique tail one"),
      (1L, "prefix other aa bb cc dd ee ff gg hh different end"),
      (2L, "aa bb cc xx yy zz qq ww completely other words here"),
      (3L, "nothing in common with anything at all whatsoever truly")
    ).toDF("doc_id", "text")
    val counted = Dedup.substringDupPairs(d, minTokens = 6, existsMode = false)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exists = Dedup.substringDupPairs(d, minTokens = 6) // exists is the DEFAULT
    assert(exists.columns.toSeq == Seq("doc1", "doc2")) // count-free contract
    assert(exists.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == counted)

    // pair budget: a window shared by MORE than maxWindowDocFreq docs emits
    // zero pairs (boilerplate dropped); at exactly the cap the clique stays
    val boiler = (0L until 5L).map(i => (i, "same boiler plate text here repeated " +
      s"run$i"))
      .toDF("doc_id", "text")
    val over = Dedup.substringDupPairs(boiler, minTokens = 6, maxWindowDocFreq = 4)
      .collect()
    assert(over.isEmpty, over.mkString(","))
    val atCap = Dedup.substringDupPairs(boiler, minTokens = 6, maxWindowDocFreq = 5)
      .collect()
    assert(atCap.length == 5 * 4 / 2, atCap.length)
    spark.catalog.clearCache()
  }

  test("bruteForceTopK: exact ranking on crafted vectors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)), // closest to 0
      (2L, Array(0.5f, 0.5f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))  // orthogonal to 0
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, vecs.filter($"vec_id" === 0L), k = 3)
      .collect().map(r => (r.getInt(1), r.getLong(2)))
    assert(top.toSeq == Seq((1, 1L), (2, 2L), (3, 3L)))
  }

  test("lshTopK recall vs brute force on real embeddings >= 0.85 (tuned defaults)") {
    // tuned via `graft.tools.Probe recall` sweep: DIRECTED-multiprobe defaults
    // (nTables=24, bandBits=8, T=4 lowest-margin flips) measure recall@5 =
    // 0.860 on this corpus (0.900 at sf0.1) at lower candidate volume than
    // either the blind-probe or probe-free alternative
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bf = Similarity.bruteForceTopK(e, e, k = 5)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(e, k = 5, dim = 64)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect lsh).size.toDouble / bf.size
    info(s"LSH ANN recall@5 = $recall")
    assert(recall >= 0.85, s"recall $recall")
    spark.catalog.clearCache()
    // SERVING regime: a query batch sketches with the same seeded planes
    // and gets exactly its self-ANN rows against the corpus index
    val served = Similarity.lshTopK(e, k = 5, dim = 64,
        queries = Some(e.filter($"vec_id" < 20)))
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val self20 = Similarity.lshTopK(e, k = 5, dim = 64).filter($"query_id" < 20)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == self20)
    spark.catalog.clearCache()
  }

  test("lshTopK/embeddingNearDupPairs with nProbes=0 degrade to plain buckets, not empty") {
    // multiProbe=true + nProbes=0 used to store an EMPTY probe array and
    // posexplode it to zero probe rows — every query silently had no
    // neighbors. It must mean "no extra probes" = the multiProbe=false path.
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val plain = Similarity.lshTopK(e, k = 5, dim = 64, multiProbe = false)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val zeroProbe = Similarity.lshTopK(e, k = 5, dim = 64, multiProbe = true, nProbes = 0)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(zeroProbe == plain)
    assert(zeroProbe.nonEmpty)
    val pairsPlain = Similarity.embeddingNearDupPairs(e, minCosine = 0.4, dim = 64,
        multiProbe = false)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairsZero = Similarity.embeddingNearDupPairs(e, minCosine = 0.4, dim = 64,
        multiProbe = true, nProbes = 0)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairsZero == pairsPlain)
    assert(pairsZero.nonEmpty)
    spark.catalog.clearCache()
  }

  test("ivfTopK recall vs brute force on real embeddings") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = e.filter($"vec_id" < 20)
    val bf = Similarity.bruteForceTopK(e, queries, k = 5)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(e, k = 5, nCentroids = 16, nProbe = 12)
      .filter($"query_id" < 20)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bf intersect ivf).size.toDouble / bf.size
    info(s"IVF ANN recall@5 = $recall (nProbe=12/16, 2 Lloyd passes; full-corpus measure 0.94)")
    assert(recall >= 0.88, s"recall $recall")
    // full probe == exact: probing ALL lists must reproduce brute force
    val full = Similarity.ivfTopK(e, k = 5, nCentroids = 8, nProbe = 8)
      .filter($"query_id" < 20)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == bf)
    spark.catalog.clearCache()
    // SERVING regime: a query batch over the corpus-built index gets
    // exactly its self-ANN rows
    val served = Similarity.ivfTopK(e, k = 5, nCentroids = 16, nProbe = 12,
        queries = Some(e.filter($"vec_id" < 20)))
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served == ivf)
  }

  test("embeddingNearDupPairs recall >= 0.85 vs exact threshold pairs (multiprobe)") {
    // exact pairs at cosine >= 0.4 computed driver-side (2.5k vectors)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vecs = e.select($"vec_id".cast("long"), $"embedding".cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    val exact = Similarity.exactCosinePairsLocal(vecs, 0.4)
    val got = Similarity.embeddingNearDupPairs(e, minCosine = 0.4, dim = 64)
      .select("doc1", "doc2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // no false positives (candidates are exactly reranked)...
    assert(got.subsetOf(exact), (got -- exact).take(3).toString)
    // ...and multiprobe recall holds (measured 0.939 on this corpus)
    val recall = (exact intersect got).size.toDouble / math.max(1, exact.size)
    info(s"near-dup pair recall = $recall (${got.size}/${exact.size})")
    assert(recall >= 0.85, s"recall $recall")
  }

  test("ANN output is invariant under input partition layout (O18 for the extensions)") {
    // the reference's O18 (determinism across process counts) extended to
    // the ANN family: same rows whatever the source partitioning — guards
    // the Lloyd-refinement and top-k-agg paths, whose naive formulations
    // (distributed FP partial sums, arrival-order NaN ranking) would break
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val lsh1 = rows(Similarity.lshTopK(e.repartition(1), k = 5, dim = 64))
    val lsh7 = rows(Similarity.lshTopK(e.repartition(7), k = 5, dim = 64))
    assert(lsh1 == lsh7)
    val ivf1 = rows(Similarity.ivfTopK(e.repartition(1), k = 5, nCentroids = 16, nProbe = 10))
    val ivf7 = rows(Similarity.ivfTopK(e.repartition(7), k = 5, nCentroids = 16, nProbe = 10))
    assert(ivf1 == ivf7)
    spark.catalog.clearCache()
  }

  test("committed ANN candidate frames reproduce the query results (oracle-replay parity)") {
    // the Scala-side mirror of the q_ann_lsh / q_ann_ivf / q_embed_neardup
    // DuckDB oracles: the PUBLIC committable frames (lshCandidateIds,
    // ivfCellsFrame/ivfCentroidsFrame, embedNearDupCandidateIds) must
    // determine exactly the answers the internal paths produce — a drift
    // between the exposed candidate relation and the one the rerank
    // consumed would silently hollow out the replay oracles
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vecs = e.select($"vec_id".cast("long"), $"embedding".cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def rerank(cands: Map[Long, Seq[Long]], k: Int): Set[(Long, Int, Long)] =
      cands.flatMap { case (q, ns) =>
        ns.map(n => (n, cosine(vecs(q), vecs(n))))
          .sortBy { case (n, c) => (-c, n) }.take(k).zipWithIndex
          .map { case ((n, _), i) => (q, i + 1, n) }
      }.toSet

    // LSH: local rerank of the committed candidates == lshTopK
    val lshCands = Similarity.lshCandidateIds(e, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
      .groupBy(_._1).map { case (q, ps) => (q, ps.map(_._2)) }
    val lshGot = Similarity.lshTopK(e, k = 5, dim = 64).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rerank(lshCands, 5) == lshGot)

    // IVF: candidates derived from the committed cells (assignment =
    // probes.head, probe x assignment join) rerank to ivfTopK; and the
    // cells' probe ranking must match a local re-rank of the committed
    // centroids (what the DuckDB cells oracle does)
    val cells = Similarity.ivfCellsFrame(e, nCentroids = 16, nProbe = 12).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toArray)).toMap
    val assignedOf = cells.map { case (vid, probes) => (vid, probes.head) }
    val byList = assignedOf.groupBy(_._2).map { case (c, m) => (c, m.keys.toSeq) }
    val ivfCands = cells.map { case (q, probes) =>
      (q, probes.toSeq.flatMap(c => byList.getOrElse(c, Seq.empty)).filter(_ != q))
    }
    val ivfGot = Similarity.ivfTopK(e, k = 5, nCentroids = 16, nProbe = 12).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(rerank(ivfCands, 5) == ivfGot)
    val centroids = Similarity.ivfCentroidsFrame(e, nCentroids = 16).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray)).sortBy(_._1).map(_._2)
    cells.foreach { case (vid, probes) =>
      val v = vecs(vid)
      val nv = math.sqrt(v.map(x => x * x).sum)
      val expect = centroids.zipWithIndex
        .map { case (c, i) => (if (nv == 0) 0.0 else c.zip(v).map(p => p._1 * p._2).sum / nv, i) }
        .sortBy { case (s, i) => (-s, i) }.take(12).map(_._2)
      assert(probes.toSeq == expect.toSeq, s"vid=$vid")
    }

    // near-dup: thresholding the committed symmetric candidates == pairs
    val nearCands = Similarity.embedNearDupCandidateIds(e, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nearGot = Similarity.embeddingNearDupPairs(e, minCosine = 0.4, dim = 64).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nearCands.filter { case (a, b) => cosine(vecs(a), vecs(b)) >= 0.4 } == nearGot)
    spark.catalog.clearCache()
  }

  test("pqTopK (IVFADC): recall, exact-cosine output, partition invariance, committed-frame replay parity") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val vecs = e.select($"vec_id".cast("long"), $"embedding".cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    def cosine(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val pqRows = Similarity.pqTopK(e, k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    spark.catalog.clearCache()

    // recall@5 vs brute force (ADC shortlist of 128 under the IVF 12/16
    // candidate gate; quantization 8x16 codes trained on the 2048 sample;
    // measured 0.912 — the IVF gate alone ceilings at 0.94)
    val bf = Similarity.bruteForceTopK(e, e.filter($"vec_id" < 50), k = 5)
      .select("query_id", "nbr_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqPairs = pqRows.filter(_._1 < 50).map(r => (r._1, r._3)).toSet
    val recall = (bf intersect pqPairs).size.toDouble / bf.size
    info(s"PQ (IVFADC) recall@5 = $recall")
    assert(recall >= 0.85, s"recall $recall")

    // the output cosine is the EXACT cosine (rerank truth), never the ADC
    pqRows.foreach { case (q, _, n, c) =>
      assert(math.abs(c - cosine(vecs(q), vecs(n))) < 1e-12, s"($q,$n)")
    }

    // SERVING regime: a query batch over the same corpus-built index gets
    // exactly its self-ANN rows (same probes, exclusion, tie-breaks)
    val served = Similarity.pqTopK(e, k = 5, queries = Some(e.filter($"vec_id" < 30)))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    spark.catalog.clearCache()
    assert(served == pqRows.filter(_._1 < 30).toSet)

    // O18 for the PQ path: invariant under input partition layout
    val p1 = Similarity.pqTopK(e.repartition(1), k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    spark.catalog.clearCache()
    val p7 = Similarity.pqTopK(e.repartition(7), k = 5).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    spark.catalog.clearCache()
    assert(p1 == p7)
    assert(p1 == pqRows.toSet)

    // committed-frame replay parity — the Scala mirror of the q_ann_pq /
    // q_ann_pq_codes DuckDB oracles: IVF cells (candidates) + PQ books +
    // codes, replayed locally term-for-term (dot/|q| per subspace, ordered
    // sum, adc-desc/nbr-asc shortlist of 128, exact-cosine top-5), must
    // reproduce pqTopK's rows exactly
    val cells = Similarity.ivfCellsFrame(e, nCentroids = 16, nProbe = 12).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toArray)).toMap
    spark.catalog.clearCache()
    val booksRows = Similarity.pqBooksFrame(e).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2).toArray)).toMap
    val m = booksRows.keys.map(_._1).max + 1
    val ksub = booksRows.keys.map(_._2).max + 1
    val books = Array.tabulate(m, ksub)((s, c) => booksRows((s, c)))
    val codes = Similarity.pqCodesFrame(e).collect()
      .map(r => (r.getLong(0), r.getSeq[Int](1).toArray)).toMap
    spark.catalog.clearCache()
    val dsub = books(0)(0).length
    // codes frame == an independent local argmin replay against the
    // committed books (the q_ann_pq_codes oracle's exact ranking:
    // -2·dot(raw_slice, cw)/|v| + dot(cw, cw), ties -> min code id;
    // zero-norm -> all-0)
    def encodeLocal(v: Array[Double]): Seq[Int] = {
      val nx = math.sqrt(v.map(x => x * x).sum)
      if (nx == 0) Seq.fill(m)(0)
      else (0 until m).map { s =>
        (0 until ksub).map { c =>
          val cw = books(s)(c)
          var d = 0.0; var cc = 0.0; var j = 0
          while (j < dsub) { d += v(s * dsub + j) * cw(j); cc += cw(j) * cw(j); j += 1 }
          (-2.0 * d / nx + cc, c)
        }.minBy { case (score, c) => (score, c) }._2
      }
    }
    codes.foreach { case (vid, cs) =>
      assert(cs.toSeq == encodeLocal(vecs(vid)), s"vid=$vid")
      assert(cs.forall(c => c >= 0 && c < ksub))
    }
    def adcLocal(q: Array[Double], cs: Array[Int]): Double = {
      val nq = math.sqrt(q.map(x => x * x).sum)
      if (nq == 0) return 0.0
      var acc = 0.0
      var s = 0
      while (s < m) {
        val cw = books(s)(cs(s))
        var d = 0.0; var j = 0
        while (j < dsub) { d += q(s * dsub + j) * cw(j); j += 1 }
        acc += d / nq
        s += 1
      }
      acc
    }
    val assignedOf = cells.map { case (vid, probes) => (vid, probes.head) }
    val byList = assignedOf.groupBy(_._2).map { case (c, mm) => (c, mm.keys.toSeq) }
    val replay = cells.flatMap { case (q, probes) =>
      val cands = probes.toSeq.flatMap(c => byList.getOrElse(c, Seq.empty)).filter(_ != q)
      val short = cands.map(n => (n, adcLocal(vecs(q), codes(n))))
        .sortBy { case (n, a) => (-a, n) }.take(128).map(_._1)
      short.map(n => (n, cosine(vecs(q), vecs(n))))
        .sortBy { case (n, c) => (-c, n) }.take(5).zipWithIndex
        .map { case ((n, c), i) => (q, i + 1, n, c) }
    }.toSet
    assert(replay == pqRows.toSet,
      s"missing=${(pqRows.toSet -- replay).take(2)} extra=${(replay -- pqRows.toSet).take(2)}")
    spark.catalog.clearCache()
  }

  test("persistent ANN indexes: build once, later query batches resume, results identical") {
    // r6 verdict #7: a 100 TB index must build ONCE. Both index families
    // commit StageStore tables; a second query batch must (a) resume (no
    // computed stages), (b) add no new kernel lineage rows to _metrics,
    // (c) return identical rows, all equal to the non-indexed operators.
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank")
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

    val lshDir = java.nio.file.Files.createTempDirectory("graft_lsh_idx").toString
    val (l1, lshLog1) = Similarity.lshIndexedTopK(e, k = 5, dim = 64, workDir = lshDir)
    val lshRows1 = rows(l1)
    assert(lshLog1.computed.toSeq == Seq("lsh_sketch"), lshLog1.toString)
    val lshStore = new graft.plans.StageStore(spark, lshDir)
    // _metrics records one lineage row PER PARTITION per completed stage —
    // a resumed run must not grow it
    val lineageAfterBuild = lshStore.metrics.filter(col("stage") === "lsh_sketch").count()
    assert(lineageAfterBuild >= 1)
    spark.catalog.clearCache()
    val (l2, lshLog2) = Similarity.lshIndexedTopK(e, k = 5, dim = 64, workDir = lshDir)
    val lshRows2 = rows(l2)
    assert(lshLog2.computed.isEmpty && lshLog2.skipped.toSeq == Seq("lsh_sketch"),
      lshLog2.toString)
    assert(lshRows2 == lshRows1)
    assert(lshRows1 == rows(Similarity.lshTopK(e, k = 5, dim = 64)))
    assert(lshStore.metrics.filter(col("stage") === "lsh_sketch").count() == lineageAfterBuild,
      "resume must not append kernel lineage")
    spark.catalog.clearCache()

    val ivfDir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    val (v1, ivfLog1) = Similarity.ivfIndexedTopK(e, k = 5, workDir = ivfDir,
      nCentroids = 16, nProbe = 12)
    val ivfRows1 = rows(v1)
    assert(ivfLog1.computed.toSeq == Seq("ivf_centroids", "ivf_cells"), ivfLog1.toString)
    spark.catalog.clearCache()
    val (v2, ivfLog2) = Similarity.ivfIndexedTopK(e, k = 5, workDir = ivfDir,
      nCentroids = 16, nProbe = 12)
    assert(ivfLog2.computed.isEmpty &&
      ivfLog2.skipped.toSeq == Seq("ivf_centroids", "ivf_cells"), ivfLog2.toString)
    assert(rows(v2) == ivfRows1)
    assert(ivfRows1 == rows(Similarity.ivfTopK(e, k = 5, nCentroids = 16, nProbe = 12)))
    spark.catalog.clearCache()
    // probe-width change re-derives ONLY the cells (never a second Lloyd)
    val (_, ivfLog3) = Similarity.ivfIndexedTopK(e, k = 5, workDir = ivfDir,
      nCentroids = 16, nProbe = 10)
    assert(ivfLog3.computed.toSeq == Seq("ivf_cells") &&
      ivfLog3.skipped.toSeq == Seq("ivf_centroids"), ivfLog3.toString)
    spark.catalog.clearCache()

    // PQ over the SAME workDir: the coarse-quantizer stages are SHARED —
    // a PQ build on an existing IVF index computes only the PQ stages
    val (pq1, pqLog1) = Similarity.pqIndexedTopK(e, k = 5, workDir = ivfDir,
      nCentroids = 16, nProbe = 10)
    val pqRows1 = rows(pq1)
    assert(pqLog1.computed.toSeq == Seq("pq_books", "pq_codes") &&
      pqLog1.skipped.toSeq == Seq("ivf_centroids", "ivf_cells"), pqLog1.toString)
    spark.catalog.clearCache()
    // resume: all four stages skip; rows identical and == the non-indexed
    // operator at the same config (bit-exact, cosines included)
    val (pq2, pqLog2) = Similarity.pqIndexedTopK(e, k = 5, workDir = ivfDir,
      nCentroids = 16, nProbe = 10)
    assert(pqLog2.computed.isEmpty && pqLog2.skipped.toSeq ==
      Seq("ivf_centroids", "ivf_cells", "pq_books", "pq_codes"), pqLog2.toString)
    assert(rows(pq2) == pqRows1)
    spark.catalog.clearCache()
    assert(pqRows1 == rows(Similarity.pqTopK(e, k = 5, nProbe = 10)))
    spark.catalog.clearCache()
    // probe-width change re-derives the cells but NEVER re-encodes
    val (_, pqLog3) = Similarity.pqIndexedTopK(e, k = 5, workDir = ivfDir,
      nCentroids = 16, nProbe = 12)
    assert(pqLog3.computed.toSeq == Seq("ivf_cells") &&
      pqLog3.skipped.toSeq == Seq("ivf_centroids", "pq_books", "pq_codes"),
      pqLog3.toString)
    spark.catalog.clearCache()
  }

  test("token counts: ws vs bpe-ish") {
    val df = Seq((0L, "hello world"), (1L, "don't stop-me now!"), (2L, ""), (3L, "  "))
      .toDF("doc_id", "text")
      .select(
        col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).as("ws"),
        TextAnalysis.tokenCountBpe(col("text")).as("bpe")
      )
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2))).toMap
    assert(df(0L) == ((2, 2)))
    // don't -> don,',t ; stop-me -> stop,-,me ; now! -> now,!  => 8
    assert(df(1L) == ((3, 8)))
    assert(df(2L) == ((0, 0)))
    assert(df(3L) == ((0, 0)))
  }

  test("quality columns: ratios on crafted text") {
    val q = TextAnalysis
      .withQualityColumns(Seq((0L, "the cat!! sat")).toDF("doc_id", "text"))
      .head()
    assert(q.getAs[Long]("n_tokens") == 3)
    assert(q.getAs[Long]("n_punct") == 2)
    assert(q.getAs[Double]("stopword_ratio") == 1.0 / 3)
    assert(q.getAs[Double]("punct_ratio") == 2.0 / 13)
    // tokens: the(3) cat!!(5) sat(3) -> mean 11/3
    assert(q.getAs[Double]("mean_token_len") == 11.0 / 3)
  }

  test("fingerprint: formatting-invariant, content-sensitive") {
    val fp = TextAnalysis.fingerprints(
      Seq(
        (0L, "Hello, World"),
        (1L, "hello   world"), // same token stream after normalization
        (2L, "hello worlds")
      ).toDF("doc_id", "text")
    ).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(0L) == fp(1L))
    assert(fp(0L) != fp(2L))
  }

  test("lang-id: deterministic argmax with marker words") {
    val out = TextAnalysis
      .withLangId(Seq(
        (0L, "the cat and the dog of the house"),
        (1L, "el gato y la casa de los perros que")
      ).toDF("doc_id", "text"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang_pred")).toMap
    assert(out(0L) == "en")
    assert(out(1L) == "es")
  }

  test("dotD expression == interpreted aggregate/zip_with fold, bit-exact") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val both = e.select(
      graft.functions.VectorExprs.dotD(col("v"), col("v")).as("fast"),
      expr("aggregate(zip_with(v, v, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)").as("slow")
    )
    assert(both.filter(col("fast") =!= col("slow")).isEmpty)
    // SQL surface
    graft.functions.VectorExprs.register(spark)
    val viaSql = e.limit(1).selectExpr("graft_dot(v, v) as d").head().getDouble(0)
    assert(viaSql > 0)
    // length mismatch -> null
    val n = spark.sql("SELECT graft_dot(array(1.0d, 2.0d), array(1.0d))").head()
    assert(n.isNullAt(0))
  }

  test("graft_murmur2 SQL expression matches golden vectors, codegen and interpreted") {
    graft.functions.Murmur2Expr.register(spark)
    val got = spark.sql(
      "SELECT graft_murmur2('the quick brown', 13) AS a, graft_murmur2('', 13) AS b," +
        " graft_murmur2('abcde', 13) AS c").head()
    assert(got.getLong(0) == 3138408474L)
    assert(got.getLong(1) == 2846461888L)
    assert(got.getLong(2) == 3754285280L)
    // column API over real data: equal to kernel result
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(20)
      .select(col("text"), graft.functions.Murmur2Expr.murmur2(col("text"), lit(13)).as("h"))
      .collect()
    d.foreach { r =>
      val want = graft.core.Murmur2.asUnsigned(
        graft.core.Murmur2.hashBytes(r.getString(0).getBytes("UTF-8"), 13))
      assert(r.getLong(1) == want)
    }
  }

  test("multimodal: PNG encode/decode is a REAL lossless pixel round-trip") {
    // golden: 2x2 image seeded by 3 bytes -> pixel p gets channels
    // src[(3p)%3], src[(3p+1)%3], src[(3p+2)%3] = (1,2,3) for every p
    val seed = Array[Byte](1, 2, 3)
    val png = Multimodal.Codec.synthesizePng(2, 2, seed)
    // a real PNG, not a passthrough: magic bytes + bigger than the seed
    assert(png.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte), png.take(4).toSeq)
    val pixels = Multimodal.Codec.decode("image", png)
    assert(pixels.toSeq == Seq.fill(4)(Seq[Byte](1, 2, 3)).flatten, pixels.toSeq)
    // histogram over the decoded pixel bytes: all 12 bytes in bin 0
    val hist = Multimodal.Codec.histogram16(pixels)
    assert(hist(0) == 1.0 && hist.drop(1).forall(_ == 0.0))
    assert(Multimodal.Codec.entropy(hist) == 0.0)
    // varied seed -> varied pixels -> positive entropy
    val png2 = Multimodal.Codec.synthesizePng(8, 8, Array.tabulate(64)(i => (i * 37).toByte))
    val h2 = Multimodal.Codec.histogram16(Multimodal.Codec.decode("image", png2))
    assert(Multimodal.Codec.entropy(h2) > 1.0)
  }

  test("multimodal: aHash64 deterministic, scale-tolerant, undecodable -> 0") {
    val png = Multimodal.Codec.synthesizePng(64, 48, "abc seed".getBytes("UTF-8"))
    val h1 = Multimodal.Codec.aHash64(png)
    // deterministic: same bytes, same hash
    assert(h1 == Multimodal.Codec.aHash64(
      Multimodal.Codec.synthesizePng(64, 48, "abc seed".getBytes("UTF-8"))))
    // perceptual: a RESIZED copy of the same picture stays near (that is
    // the whole point of the hash — re-encoded/rescaled dups must pair)
    val resized = Multimodal.Codec.resizePng(png, 32)
    assert(resized.nonEmpty)
    val hr = Multimodal.Codec.aHash64(resized)
    assert(java.lang.Long.bitCount(h1 ^ hr) <= 8,
      s"resized copy drifted ${java.lang.Long.bitCount(h1 ^ hr)} bits")
    // undecodable payload hashes to 0
    assert(Multimodal.Codec.aHash64(Array[Byte](1, 2, 3)) == 0L)
  }

  test("multimodal: imageNearDupPairs pairs planted identical images only") {
    // ids 0 and 273 share modality (%3=0) AND dims (%13=0, %7=0): identical
    // text => byte-identical synthesized PNG => hamming 0. id 3 is an
    // image with different content/dims — must not pair at hamming <= 3.
    // The planted text must render a NON-degenerate image (aHash != 0):
    // r7's sentinel exclusion drops hash-0 (uniform/undecodable) assets
    // from perceptual pairing by design — byte-identical uniform copies
    // are exact-dedup territory. Precondition-pinned below.
    val seed = "high Contrast VARIED pixel seed 0xZZ 9911 zz AA bb ## stripes"
    assert(Multimodal.Codec.aHash64(
      Multimodal.Codec.synthesizePng(64, 48, seed.getBytes("UTF-8"))) != 0L,
      "test seed renders a degenerate image; pick a busier one")
    val docs3 = Seq(
      (0L, seed),
      (273L, seed),
      (3L, "completely different content to paint with other bytes")
    ).toDF("doc_id", "text")
    val pairs = Multimodal.imageNearDupPairs(
        Multimodal.synthesizeAssets(docs3), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(pairs == Seq((0L, 273L, 0)), pairs.mkString(","))
    spark.catalog.clearCache()
  }

  test("multimodal: sentinel-0 (degenerate) fingerprints never pair by default") {
    // two byte-identical UNIFORM images hash to 0 (all aHash bits are
    // 'pixel > mean' over equal pixels): the default excludes them from
    // perceptual pairing (the 100 TB mega-clique armor + undecodable
    // payloads share the sentinel); excludeUndecodable = false restores
    // the raw exhaustive relation for callers that want it.
    val uniform = "the same pixel seed text" // empirically degenerate at 64x48
    assert(Multimodal.Codec.aHash64(
      Multimodal.Codec.synthesizePng(64, 48, uniform.getBytes("UTF-8"))) == 0L,
      "expected a degenerate seed; synthesis changed?")
    val docs3 = Seq((0L, uniform), (273L, uniform)).toDF("doc_id", "text")
    val dflt = Multimodal.imageNearDupPairs(
      Multimodal.synthesizeAssets(docs3), maxHamming = 3).count()
    assert(dflt == 0L)
    spark.catalog.clearCache()
    val raw = Multimodal.imageNearDupPairs(
        Multimodal.synthesizeAssets(docs3), maxHamming = 3,
        excludeUndecodable = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(raw == Seq((0L, 273L, 0)), raw.mkString(","))
    spark.catalog.clearCache()
  }

  test("multimodal: audioHash64 deterministic, duration- and resample-tolerant") {
    val wav = Multimodal.Codec.synthesizeWav(800L, 4000, "AB tone seed x".getBytes("UTF-8"))
    val h1 = Multimodal.Codec.audioHash64(wav)
    assert(h1 != 0L)
    assert(h1 == Multimodal.Codec.audioHash64(
      Multimodal.Codec.synthesizeWav(800L, 4000, "AB tone seed x".getBytes("UTF-8"))))
    // frequency-domain: the SAME tones at a different duration and at a
    // RESAMPLED rate must stay near (the re-ingested-copy edits)
    val longer = Multimodal.Codec.synthesizeWav(1500L, 4000, "AB tone seed x".getBytes("UTF-8"))
    val dDur = java.lang.Long.bitCount(h1 ^ Multimodal.Codec.audioHash64(longer))
    assert(dDur <= 8, s"duration change drifted $dDur bits")
    val resampled = Multimodal.Codec.resampleWav(wav, 8000)
    val dRate = java.lang.Long.bitCount(h1 ^ Multimodal.Codec.audioHash64(resampled))
    assert(dRate <= 8, s"resample drifted $dRate bits")
    // genuinely different tones land far: seed bytes 'A'(65) vs 'z'(122)
    // put f1 at 370 vs 598 Hz — disjoint peak clusters. (Seeds with CLOSE
    // first bytes produce tones within a band step and legitimately pair:
    // the hash measures peak overlap, i.e. perceptual similarity.)
    val other = Multimodal.Codec.synthesizeWav(800L, 4000, "zz other tone".getBytes("UTF-8"))
    assert(java.lang.Long.bitCount(h1 ^ Multimodal.Codec.audioHash64(other)) > 4)
    // undecodable payload hashes to 0
    assert(Multimodal.Codec.audioHash64(Array[Byte](9, 9, 9)) == 0L)
  }

  test("multimodal: audioNearDupPairs pairs planted identical clips only") {
    // ids 1 and 1+48 share modality (%3=1) and duration (%16): identical
    // text => byte-identical WAV => hamming 0. id 4 is audio with
    // different tones — must not pair at hamming <= 3.
    val docs3 = Seq(
      (1L, "same tone text"),
      (49L, "same tone text"),
      (4L, "completely different tonal seed bytes")
    ).toDF("doc_id", "text")
    val pairs = Multimodal.audioNearDupPairs(
        Multimodal.synthesizeAssets(docs3), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(pairs == Seq((1L, 49L, 0)), pairs.mkString(","))
    spark.catalog.clearCache()
  }

  test("multimodal: videoHash64 deterministic, fps-resample tolerant") {
    val y4m = Multimodal.Codec.synthesizeY4m(64, 48, 12, 4, "AB video seed".getBytes("UTF-8"))
    val h1 = Multimodal.Codec.videoHash64(y4m)
    assert(h1 == Multimodal.Codec.videoHash64(
      Multimodal.Codec.synthesizeY4m(64, 48, 12, 4, "AB video seed".getBytes("UTF-8"))))
    // the key frame is picked at the temporal midpoint, so an fps-
    // resampled copy (same timeline, duplicated/dropped frames) stays near
    val res = Multimodal.Codec.resampleY4m(y4m, 8)
    val d = java.lang.Long.bitCount(h1 ^ Multimodal.Codec.videoHash64(res))
    assert(d <= 8, s"fps resample drifted $d bits")
    assert(Multimodal.Codec.videoHash64(Array[Byte](5, 5)) == 0L)
  }

  test("multimodal: videoNearDupPairs pairs planted identical clips only") {
    // ids 2 and 62 share modality (%3=2), dims (%4, %3) and duration
    // (%60): identical text => byte-identical Y4M => hamming 0
    val docs3 = Seq(
      (2L, "same clip text"),
      (62L, "same clip text"),
      (5L, "a different moving gradient clip")
    ).toDF("doc_id", "text")
    val pairs = Multimodal.videoNearDupPairs(
        Multimodal.synthesizeAssets(docs3), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(pairs == Seq((2L, 62L, 0)), pairs.mkString(","))
    spark.catalog.clearCache()
  }

  test("multimodal: thumbnails are REAL resized PNGs with the exact box dims") {
    val assets = Multimodal.synthesizeAssets(docs)
    val th = Multimodal.thumbnails(assets).collect()
    assert(th.nonEmpty)
    th.foreach { t =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(t.thumb_png))
      assert(img != null, s"asset ${t.asset_id}: thumb not decodable")
      assert(img.getWidth == t.thumb_w && img.getHeight == t.thumb_h,
        s"asset ${t.asset_id}: ${img.getWidth}x${img.getHeight} vs ${t.thumb_w}x${t.thumb_h}")
      assert(math.max(t.thumb_w, t.thumb_h) == 256)
    }
  }

  test("multimodal: features + frame plan shapes") {
    val assets = Multimodal.synthesizeAssets(docs)
    val feats = Multimodal.extractFeatures(assets).collect()
    assert(feats.length == 5)
    assert(feats.forall(_.histogram.length == 16))
    val img = feats.find(_.asset_id == 0L).get
    assert(img.modality == "image" && img.thumb_w == 256)
    assert(feats.filter(_.n_bytes > 0).forall(f => f.byte_entropy > 0 && f.byte_entropy <= 8.0))
    val frames = Multimodal.sampleFramePlan(assets.toDF())
    val perAsset = frames.groupBy("asset_id").count().collect()
    assert(perAsset.nonEmpty)
    // every video's frame count == ceil(duration/1000) capped at 32
    val durs = assets.filter($"modality" === "video").collect()
      .map(a => a.asset_id -> a.duration_ms).toMap
    perAsset.foreach { r =>
      val want = math.min(32, (durs(r.getLong(0)) + 999) / 1000)
      assert(r.getLong(1) == want)
    }
  }

  test("repetitionSignals: exact within-doc duplicate-line fractions") {
    val rows = Seq(
      (0L, "aa\nbb\ncc"),          // all distinct
      (1L, "aa\naa\naa\nbb"),      // 4 lines, 2 distinct
      (2L, ""),                    // one empty line; 0 chars
      (3L, "xyz\nxyz")             // 2 lines, 1 distinct
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(rows)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(got(0L) == ((3L, 0.0, 0.0)), got(0L).toString)
    // doc 1: dup_line_frac = (4-2)/4; char frac = (8-4)/8
    assert(got(1L) == ((4L, 0.5, 0.5)), got(1L).toString)
    assert(got(2L) == ((1L, 0.0, 0.0)), got(2L).toString)
    // doc 3: (2-1)/2; chars (6-3)/6
    assert(got(3L) == ((2L, 0.5, 0.5)), got(3L).toString)
  }

  test("topNgramCharFractions: exact top-2/3/4-gram coverage, ties and edges") {
    val rows = Seq(
      (0L, "aa bb aa bb aa"), // overlapping repeats; 2-gram tie aa bb / bb aa
      (1L, "xx yy zz"),       // 3 tokens: single occurrence of everything
      (2L, "single"),         // < 2 tokens: all zeros
      (3L, "a  b"),           // double space: ws-CLASS split, len(text)=4
      (4L, ""),               // empty
      (5L, "foo bar\n"),      // trailing newline: class trim, len(text)=8
      (6L, "\u0001ab cd")     // leading CONTROL char is NOT trimmed (it is
                              // part of the first token on both engines)
    ).toDF("doc_id", "text")
    val got = TextAnalysis.topNgramCharFractions(rows)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    // doc 0 (len 14): top2 = "aa bb" (cnt 2, tie-break lex) -> 2*5/14;
    // top3 = "aa bb aa" cnt 2 -> 2*8/14 > 1.0 (overlap, by design);
    // top4 tie -> "aa bb aa bb" -> 11/14
    assert(got(0L) == ((10.0 / 14, 16.0 / 14, 11.0 / 14)), got(0L).toString)
    assert(got(1L) == ((5.0 / 8, 1.0, 0.0)), got(1L).toString)
    assert(got(2L) == ((0.0, 0.0, 0.0)))
    assert(got(3L) == ((3.0 / 4, 0.0, 0.0)), got(3L).toString)
    assert(got(4L) == ((0.0, 0.0, 0.0)))
    // class trim strips the trailing \n (tokens [foo, bar]) but the char
    // base stays length(text)=8 — the SQL-replayable contract
    assert(got(5L) == ((7.0 / 8, 0.0, 0.0)), got(5L).toString)
    // \u0001 is NOT in the trim/split class: it stays in the first token
    // (Java String.trim would have stripped it — oracle divergence)
    assert(got(6L) == ((1.0, 0.0, 0.0)), got(6L).toString)
  }

  test("dupNgramCharFractions: exact duplicated-gram coverage for n=5..10") {
    val rows = Seq(
      (0L, "p q r s t p q r s t"),         // "p q r s t" x2 at n=5, nothing longer
      (1L, "a b a b a b a b a b a b"),     // alternating: dups at every n
      (2L, (1 to 12).map(i => s"u$i").mkString(" ")), // all distinct
      (3L, "x y")                          // < 5 tokens
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dupNgramCharFractions(rows)
      .collect().map(r => r.getLong(0) -> (1 to 6).map(i => r.getDouble(i))).toMap
    // doc 0 (len 19): n=5 -> 2 x len("p q r s t")=9 -> 18/19; n>5 all distinct
    assert(got(0L) == Seq(18.0 / 19, 0.0, 0.0, 0.0, 0.0, 0.0), got(0L).toString)
    // doc 1 (len 23), hand-counted duplicated-window masses per n
    assert(got(1L) == Seq(72.0 / 23, 77.0 / 23, 78.0 / 23, 75.0 / 23, 68.0 / 23, 38.0 / 23),
      got(1L).toString)
    assert(got(2L) == Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
    assert(got(3L) == Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0))
  }

  test("gopherQualitySignals: exact bullet/ellipsis/symbol/alpha fractions") {
    val rows = Seq(
      (0L, "- a b\nplain...\nno"), // 3 lines: 1 bullet, 1 ellipsis
      (1L, "#### ###"),             // pure symbols
      (2L, ""),                     // empty: 1 empty line, 0 words
      (3L, "  * spaced bullet\n-not a bullet\nmid...dots here")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherQualitySignals(rows)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getDouble(6)))).toMap
    // doc 0: words [-, a, b, plain..., no]: alpha 4/5, dotruns 1 -> symbol 1/5
    assert(got(0L) == ((3L, 5L, 1.0 / 3, 1.0 / 3, 1.0 / 5, 4.0 / 5)), got(0L).toString)
    // doc 1: 1 line, 2 words, 7 '#' chars -> symbol 3.5, alpha 0
    assert(got(1L) == ((1L, 2L, 0.0, 0.0, 3.5, 0.0)), got(1L).toString)
    assert(got(2L) == ((1L, 0L, 0.0, 0.0, 0.0, 0.0)), got(2L).toString)
    // doc 3: "  * spaced bullet" IS a bullet (leading ws ok); "-not a bullet"
    // is NOT (no space after -); "mid...dots here" has no TRAILING ellipsis
    // but its word "mid...dots" carries one '...' run; words: 8, all alpha
    // except none... [*, spaced, bullet, -not, a, bullet, mid...dots, here]
    assert(got(3L) == ((3L, 8L, 1.0 / 3, 0.0, 1.0 / 8, 7.0 / 8)), got(3L).toString)
  }

  test("ngramRepetitionFractions (one pass) == the two separate operators, exactly") {
    // parquet corpus + constructed docs that force the hashed top family's
    // AMBIGUOUS path (a tie at the max count between grams of different
    // lengths, where only the pinned lexicographic tie-break decides the
    // covered length): doc 9001 ties "a b" vs "longone longtwo" at cnt=2;
    // doc 9002 has NO repeated bigram at all (every gram ties at cnt=1,
    // lengths differ -> the winner is the lexicographically smallest gram)
    // doc 9003: the tied candidates "😀 a" (emoji first,
    // len 4) and "a bb" (len 6) order DIFFERENTLY in UTF-16
    // unit order (surrogate 0xD83D < 0xE000) vs code-point/UTF-8 order
    // (U+E000 < U+1F600, which Spark's UTF8String and DuckDB both use) —
    // pins the kernel's surrogate re-ranking. doc 9004 pins the
    // token-prefix boundary (separator ' ' vs continuing token chars).
    val ambiguityDocs = Seq(
      (9001L, "a b a b longone longtwo longone longtwo"),
      (9002L, "zebra quark be ax nmmm x"),
      (9003L, "😀 a bb"),
      (9004L, "ab abc ab xyzw")
    ).toDF("doc_id", "text")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(150).select("doc_id", "text").union(ambiguityDocs)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (1 until r.length).map(r.getDouble)).toMap
    val combined = rows(TextAnalysis.ngramRepetitionFractions(docs))
    val top = rows(TextAnalysis.topNgramCharFractions(docs))
    val dup = rows(TextAnalysis.dupNgramCharFractions(docs))
    assert(combined.keySet == top.keySet && combined.keySet == dup.keySet)
    combined.foreach { case (id, vals) =>
      assert(vals == top(id) ++ dup(id), s"doc $id: $vals vs ${top(id)} ++ ${dup(id)}")
    }
  }

  test("gopherQualitySignals: CR-terminated ellipsis lines and null text") {
    val rows = Seq(
      (0L, "crlf dots...\r\nplain line"),  // \r-terminated ellipsis line COUNTS
      (1L, null.asInstanceOf[String])       // null text = one empty line, zero words
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherQualitySignals(rows)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(4)))).toMap
    assert(got(0L)._3 == 0.5, got(0L).toString) // 1 of 2 lines is ellipsis
    assert(got(1L) == ((1L, 0L, 0.0)), got(1L).toString)
  }

  test("CleanPipeline gopher gates drop repetition/shape offenders, keep clean docs") {
    val words = Seq("quasar", "nebula", "photon", "gluon", "hadron", "lepton", "meson",
      "boson", "proton", "neutron", "quark", "tachyon", "axion", "graviton", "dilaton", "instanton")
    // 40 disjoint-vocab tokens per doc: long enough that the paper's
    // top-n-gram thresholds pass for organic text
    def body(i: Int): String =
      (0 until 40).map(k => words((i * 5 + k * 3) % 16) + i + "x" + k).mkString(" ")
    val rows = Seq(
      (0L, body(0)), (1L, body(1)), (2L, body(2)),
      (10L, "buy now " * 30),                                  // top-2gram spam
      (11L, body(11) + " " + Seq.fill(12)("######").mkString(" ")), // symbol ratio
      (12L, (1 to 10).map(k => s"- bullet line number $k").mkString("\n")), // all bullets
      (13L, Seq.fill(10)("the same exact line repeated").mkString("\n"))    // dup lines
    ).toDF("doc_id", "text")
    val cfg = CleanPipeline.Config(
      maxLineDocFreq = 100L, minTokens = 5L,
      gopher = Some(CleanPipeline.GopherGates()),
      minhash = graft.core.MinHashConfig(3, 64, 4, 13, 0.8),
      tokensPerShard = 1000L)
    val (out, counts) = CleanPipeline.run(rows, cfg)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 1L, 2L), kept.toString)
    assert(counts.afterQuality == 3, counts.toString)
    out.unpersist()
    spark.catalog.clearCache()
  }

  test("CleanPipeline keep-best: richest cluster member survives; run == runCheckpointed") {
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
      "hotel", "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa")
    def body(i: Int): String =
      (0 until 15).map(k => words((i * 7 + k * 3) % 16) + i).mkString(" ")
    // doc 10 = body(1) plus 5 extra tokens: same cluster (shingle superset,
    // jaccard ~0.72 >= 0.5) but RICHER (20 tokens vs 15) — keep-best must
    // elect it over the min-label root 1
    val richDup = body(1) + " " + (0 until 5).map(k => s"extraword${k}q1").mkString(" ")
    val rows = Seq(
      (0L, body(0)), (1L, body(1)), (2L, body(2)), (10L, richDup)
    ).toDF("doc_id", "text")
    val cfg = CleanPipeline.Config(
      maxLineDocFreq = 100L, minTokens = 5L,
      minhash = graft.core.MinHashConfig(3, 64, 4, 13, 0.5),
      tokensPerShard = 100L, keepBestByQuality = true)

    val (out, _) = CleanPipeline.run(rows, cfg)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 2L, 10L), kept.toString)
    out.unpersist()

    val (outDefault, _) = CleanPipeline.run(rows, cfg.copy(keepBestByQuality = false))
    val keptDefault = outDefault.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptDefault == Set(0L, 1L, 2L), keptDefault.toString)
    outDefault.unpersist()

    val work = java.nio.file.Files.createTempDirectory("graft_keepbest").toString
    val (ck, _, _) = CleanPipeline.runCheckpointed(spark, rows, work, cfg)
    val keptCk = ck.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptCk == kept, s"checkpointed $keptCk != in-memory $kept")
    spark.catalog.clearCache()
  }

  test("CleanPipeline: the composed recipe applies every gate") {
    val header = "REPEATED BOILERPLATE NAVIGATION HEADER LINE"
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
      "hotel", "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa")
    // per-doc DISJOINT vocab (suffix i): no accidental cross-doc shingle overlap
    def body(i: Int): String =
      (0 until 15).map(k => words((i * 7 + k * 3) % 16) + i).mkString(" ")
    val nearDupOf1 = body(1).split(" ").dropRight(1).mkString(" ") + " zulu1"
    val rows = ((0 until 8).map(i => (i.toLong, s"$header\n${body(i)}")) ++ Seq(
      (8L, body(0)),                              // exact dup of doc 0 post-strip
      (9L, "tiny doc"),                           // fails the quality token gate
      (10L, nearDupOf1),                          // near-dup of doc 1
      (11L, body(11) + " contact a@b.io now")     // carries PII
    )).toDF("doc_id", "text")
    val cfg = CleanPipeline.Config(
      maxLineDocFreq = 3L, minTokens = 5L,
      minhash = graft.core.MinHashConfig(3, 64, 4, 13, 0.5),
      tokensPerShard = 100L)
    val (out, counts) = CleanPipeline.run(rows, cfg)
    val got = out.collect().map(r =>
      r.getLong(0) -> (r.getString(1), r.getString(2), r.getLong(3))).toMap
    assert(counts == CleanPipeline.StageCounts(12, 12, 11, 10, 9), counts.toString)
    // survivors: quality dropped 9; exact dedup kept min(0,8)=0;
    // near-dup cluster {1,10} kept min=1
    assert(got.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L, 11L), got.keySet.toString)
    // boilerplate stripped everywhere, PII redacted, splits/shards assigned
    got.values.foreach { case (text, split, shard) =>
      assert(!text.contains(header))
      assert(Set("train", "val", "test").contains(split))
      assert(shard >= 0)
    }
    assert(got(11L)._1.contains("<EMAIL>"), got(11L)._1)
    spark.catalog.clearCache()
  }

  test("CleanPipeline: optional embeddings add semantic near-dup merging") {
    val words = Seq("zeta", "yankee", "xray", "whiskey", "victor", "uniform",
      "tango", "sierra", "romeo", "quebec", "papa2", "oscar2", "nova", "milo", "lima2", "kilo2")
    def sbody(i: Int): String =
      (0 until 12).map(k => words((i * 5 + k * 3) % 16) + i).mkString(" ")
    val docs = Seq((0L, sbody(0)), (1L, sbody(1)), (2L, sbody(2)))
      .toDF("doc_id", "text")
    // docs 0 and 1: lexically DISJOINT but embedding-identical; doc 2 far
    val e = Seq(
      (0L, Array.fill(8)(1.0f)),
      (1L, Array.fill(8)(1.0f)),
      (2L, Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f))
    ).toDF("doc_id", "embedding")
    val cfg = CleanPipeline.Config(maxLineDocFreq = 100L, minTokens = 5L,
      minhash = graft.core.MinHashConfig(3, 64, 4, 13, 0.8), tokensPerShard = 1000L)
    val (noSem, _) = CleanPipeline.run(docs, cfg)
    assert(noSem.select("doc_id").collect().map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
    noSem.unpersist()
    val (withSem, counts) = CleanPipeline.run(docs, cfg, embeddings = Some(e))
    // semantic pair (0,1) merges the lexically-disjoint docs; rep = min id
    assert(withSem.select("doc_id").collect().map(_.getLong(0)).toSet == Set(0L, 2L))
    assert(counts.output == 2)
    withSem.unpersist()
    spark.catalog.clearCache()
  }

  test("CleanPipeline.nearDupInputs mirrors run()'s internal stages 1-4 (replay-commit parity)") {
    // nearDupInputs is the frame the committed-artifact queries
    // (q_clean_signatures / q_clean_embsketch) sign and sketch; if it
    // drifted from run()'s internal stage composition, the DuckDB replay
    // oracles would verify the wrong corpus. Pin: its row count equals
    // run()'s exact-stage count, and near-dup clustering ITS survivors
    // (same config + semantic arm) reproduces run()'s output doc set.
    val header = "REPEATED BOILERPLATE NAVIGATION HEADER LINE"
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
      "hotel", "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa")
    def body(i: Int): String =
      (0 until 15).map(k => words((i * 7 + k * 3) % 16) + i).mkString(" ")
    val nearDupOf1 = body(1).split(" ").dropRight(1).mkString(" ") + " zulu1"
    val docs = ((0 until 8).map(i => (i.toLong, s"$header\n${body(i)}")) ++ Seq(
      (8L, body(0)),                              // exact dup of doc 0 post-strip
      (9L, "tiny doc"),                           // fails the quality token gate
      (10L, nearDupOf1),                          // near-dup of doc 1
      (11L, body(11) + " contact a@b.io now")     // carries PII
    )).toDF("doc_id", "text")
    // embedding-identical pair (2, 3): the semantic arm must merge them in
    // BOTH the pipeline and the mirror
    val emb = Seq(
      (2L, Array.fill(8)(1.0f)),
      (3L, Array.fill(8)(1.0f)),
      (4L, Array.tabulate(8)(i => if (i == 0) 1.0f else 0.0f))
    ).toDF("doc_id", "embedding")
    val cfg = CleanPipeline.Config(
      maxLineDocFreq = 3L, minTokens = 5L,
      minhash = graft.core.MinHashConfig(3, 64, 4, 13, 0.5),
      tokensPerShard = 100L)
    val (out, counts) = CleanPipeline.run(docs, cfg, embeddings = Some(emb))
    val gotIds = out.select("doc_id").collect().map(_.getLong(0)).toSet

    val surv = CleanPipeline.nearDupInputs(docs, cfg)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assert(surv.count() == counts.afterExactDedup,
      s"${surv.count()} vs ${counts.afterExactDedup}")
    // mirror of run()'s near-dup stage over the committed-query frame
    val sigs = MinHashPipeline.signatures(
      surv.select(col("doc_id"), col("text").as("content")), cfg.minhash).toDF()
    val lexPairs = MinHashPipeline.pairs(
      MinHashPipeline.candidates(sigs, cfg.starCapBucketSize), sigs, cfg.minhash)
      .select("doc1", "doc2")
    val semEmb = emb.select(col("doc_id").as("vec_id"), col("embedding"))
      .join(surv.select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
    val semPairs = Similarity.embeddingNearDupPairs(semEmb, cfg.embeddingMinCosine, dim = 8)
      .select("doc1", "doc2")
    val clusters = ConnectedComponents.cluster(
      lexPairs.union(semPairs), surv.select(col("doc_id")))
    val reps = Dedup.keepRepresentatives(surv, clusters)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(reps == gotIds, s"mirror $reps vs run $gotIds")
    out.unpersist()
    spark.catalog.clearCache()
  }

  test("removeExactDuplicateSpans: keep-first across docs, intra-doc repeats, exactness") {
    val docs = Seq(
      (0L, "p q r s t u"), // unique — untouched
      (1L, "x1 x2 a b c d x3"), // first occurrence of the shared span
      (2L, "y1 a b c d y2 y3"), // later doc — span excised, rest kept
      (3L, "m n o m n o") // intra-doc repeat: second occurrence excised
    ).toDF("doc_id", "text")
    val got = Dedup.removeExactDuplicateSpans(docs, windowTokens = 3)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == (("p q r s t u", 6L, 0L)), got(0L).toString)
    // keeper = min (doc_id, start): doc 1 keeps "a b c"/"b c d" windows
    assert(got(1L) == (("x1 x2 a b c d x3", 7L, 0L)), got(1L).toString)
    // doc 2 loses tokens 1..4 (two overlapping removable windows merge)
    assert(got(2L) == (("y1 y2 y3", 7L, 4L)), got(2L).toString)
    // doc 3: class "m n o" occurs at starts 0 and 3; keeper 0, excise 3..5
    assert(got(3L) == (("m n o", 6L, 3L)), got(3L).toString)
    spark.catalog.clearCache()
  }

  test("removeExactDuplicateSpans == brute force on randomized small corpora (seeded)") {
    // the DuckDB oracle pins injected shapes at sf0.01; this hunts the
    // edge cases random structure finds — dense repeats, ties, window
    // overlaps at doc edges, sub-window docs, empty docs
    val rnd = new scala.util.Random(424242)
    def brute(docs: Seq[(Long, String)], L: Int): Map[Long, (String, Long, Long)] = {
      val toks = docs.map { case (id, t) =>
        val tt = graft.functions.TextAnalysis.wsClassTrim(t)
        id -> (if (tt.isEmpty) Array.empty[String] else Dedup.WsPattern.split(tt))
      }
      val occ = scala.collection.mutable.Map[Seq[String], List[(Long, Int)]]()
        .withDefaultValue(Nil)
      for ((id, ts) <- toks; s <- 0 to ts.length - L if ts.length >= L)
        occ(ts.slice(s, s + L).toSeq) = (id, s) :: occ(ts.slice(s, s + L).toSeq)
      val removable = occ.values.filter(_.size >= 2)
        .flatMap(_.sorted.drop(1)) // keeper = min (doc_id, start)
        .toSeq
      val markedByDoc = removable.groupBy(_._1).map { case (id, rs) =>
        id -> rs.flatMap { case (_, s) => s until (s + L) }.toSet
      }
      toks.map { case (id, ts) =>
        val cut = markedByDoc.getOrElse(id, Set.empty)
        val kept = ts.indices.filterNot(cut).map(ts)
        id -> ((kept.mkString(" "), ts.length.toLong, cut.size.toLong))
      }.toMap
    }
    (1 to 4).foreach { trial =>
      val l = 2 + rnd.nextInt(2) // 2..3
      val vocab = Array("aa", "bb", "cc", "dd", "ee")
      val docs = (0 until 25).map { i =>
        val n = rnd.nextInt(12)
        (i.toLong, (0 until n).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val want = brute(docs, l)
      val got = Dedup.removeExactDuplicateSpans(docs.toDF("doc_id", "text"), l)
        .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == want, s"trial $trial (L=$l): " +
        (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
          .map(k => s"doc $k: got=${got.get(k)} want=${want.get(k)}").mkString("; "))
      spark.catalog.clearCache()
    }
  }

  test("removeDuplicateSpans: shared windows excised, unique text kept, overlaps merge") {
    val span = "one two three four five six seven eight" // 8 shared tokens
    val rows = Seq(
      (0L, s"alpha0 beta0 $span gamma0 delta0"),
      (1L, s"$span epsilon1"),
      (2L, s"totally unrelated words here nothing shared at all today"),
      (3L, span) // covered entirely -> empty clean_text, row KEPT
    ).toDF("doc_id", "text")
    val got = Dedup.removeDuplicateSpans(rows, minTokens = 8, maxSpanDocFreq = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    // the span appears in 3 docs (> 2) -> removed everywhere it occurs
    assert(got(0L) == (("alpha0 beta0 gamma0 delta0", 12L, 8L)), got(0L).toString)
    assert(got(1L) == (("epsilon1", 9L, 8L)), got(1L).toString)
    assert(got(2L)._1 == "totally unrelated words here nothing shared at all today")
    assert(got(2L)._3 == 0L)
    assert(got(3L) == (("", 8L, 8L)), got(3L).toString)
    // below the df cap nothing is touched
    val lax = Dedup.removeDuplicateSpans(rows, minTokens = 8, maxSpanDocFreq = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(lax.values.forall(_ == 0L), lax.toString)
    // overlapping flagged windows merge: a 10-token shared run with
    // minTokens=8 flags windows at starts 0,1,2 -> one contiguous span
    val long = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val rows2 = Seq((0L, s"u0a u0b $long"), (1L, long), (2L, s"$long z2"))
      .toDF("doc_id", "text")
    val got2 = Dedup.removeDuplicateSpans(rows2, minTokens = 8, maxSpanDocFreq = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
    assert(got2(0L) == (("u0a u0b", 10L)), got2(0L).toString)
    assert(got2(1L) == (("", 10L)), got2(1L).toString)
    assert(got2(2L) == (("z2", 10L)), got2(2L).toString)
    // O18 extension: output invariant under input partition layout
    val re = Dedup.removeDuplicateSpans(rows.repartition(7), minTokens = 8, maxSpanDocFreq = 2)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
    assert(re == got)
    spark.catalog.clearCache()
  }

  test("stripBoilerplateLines: high-df lines drop, short/rare lines stay, order kept") {
    val header = "SHARED BOILERPLATE NAVIGATION HEADER"
    val rows = Seq(
      (0L, s"$header\nunique first line\n--\nunique second line"),
      (1L, s"$header\nanother unique body"),
      (2L, s"$header\nthird unique body\n--"),
      (3L, "no header here at all"),
      (4L, header) // ONLY boilerplate: doc drops out entirely
    ).toDF("doc_id", "text")
    val got = Dedup.stripBoilerplateLines(rows, maxLineDocFreq = 2L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // header df=4 > 2 -> stripped; "--" is short (< minLineLen) -> kept
    assert(got(0L) == "unique first line\n--\nunique second line", got(0L))
    assert(got(1L) == "another unique body")
    assert(got(2L) == "third unique body\n--")
    assert(got(3L) == "no header here at all")
    assert(!got.contains(4L), "all-boilerplate doc must drop out")
    // the plan stays lambdafunction-free (reassembly uses native
    // sort_array + GetArrayStructFields, not transform)
    val plan = Dedup.stripBoilerplateLines(rows, 2L)
      .queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("lambdafunction"), plan)
    // O18 extension: output invariant under input partition layout
    val re = Dedup.stripBoilerplateLines(rows.repartition(7), maxLineDocFreq = 2L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(re == got)
    spark.catalog.clearCache() // release the operator's caller-owned caches
  }

  test("redactPii: emails, IPv4s and long digit runs become typed placeholders") {
    val rows = Seq(
      (0L, "contact me at john.doe+spam@example.co.uk or on 10.0.255.3 now"),
      (1L, "card 4111111111111111 expires soon; short 12345 stays"),
      (2L, "no pii here"),
      (3L, "a@b.io x 999.999.999.999 y 1234567890123456789")
    ).toDF("doc_id", "text")
    val got = rows.select($"doc_id", TextAnalysis.redactPii($"text").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "contact me at <EMAIL> or on <IP> now", got(0L))
    assert(got(1L) == "card <NUM> expires soon; short 12345 stays", got(1L))
    assert(got(2L) == "no pii here")
    // the IPv4 pattern is deliberately shape-only (not range-validated) and
    // digit runs of card/account length (13-19) are scrubbed
    assert(got(3L) == "<EMAIL> x <IP> y <NUM>", got(3L))
  }

  test("quotaSample: exact per-group cap, deterministic, layout-invariant, brute-force parity") {
    // 3 groups of very different sizes; cap below two of them
    val docs = spark.range(0, 300)
      .select($"id".as("doc_id"),
        when($"id" < 200, "en").when($"id" < 280, "de").otherwise("fr").as("lang"))
    val got = Corpus.quotaSample(docs, "lang", cap = 50, seed = 13L)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val byLang = got.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang == Map("en" -> 50, "de" -> 50, "fr" -> 20), byLang.toString)
    // brute-force parity: the kept ids ARE the cap lowest (mixHash, id) per group
    val m = Corpus.SplitModulus
    def prio(id: Long): Long = ((id % m + 13L) % m) * Corpus.SplitMultiplier % m
    val expect = (0L until 300L)
      .map(i => (i, if (i < 200) "en" else if (i < 280) "de" else "fr"))
      .groupBy(_._2)
      .flatMap { case (_, g) => g.sortBy { case (i, _) => (prio(i), i) }.take(50) }
      .map(_._1).toSet
    assert(got.map(_._1).toSet == expect)
    // layout-invariant: same membership at any parallelism
    val re = Corpus.quotaSample(docs.repartition(7), "lang", cap = 50, seed = 13L)
      .collect().map(r => r.getLong(0)).toSet
    assert(re == expect)
    // a null id must FAIL loudly (data-lineage contract, as split)
    val withNull = Seq((Some(1L), "en"), (None: Option[Long], "en")).toDF("doc_id", "lang")
    val err = intercept[Exception] {
      Corpus.quotaSample(withNull, "lang", cap = 5).collect()
    }
    assert(err.getMessage.contains("quotaSample"), err.getMessage)
  }

  test("Corpus.profile: hand-computed data-card numbers per group") {
    val docs = Seq(
      (0L, "en", "web", "a b c"),          // 3 tokens, 5 chars
      (1L, "en", "web", "a b c"),          // exact dup of 0
      (2L, "en", "web", "d e f g"),        // 4 tokens, 7 chars
      (3L, "en", "books", "hello"),        // 1 token, 5 chars
      (4L, "de", "web", ""),               // empty: 0 tokens, 0 chars
      (5L, "de", "web", null.asInstanceOf[String]) // null == empty
    ).toDF("doc_id", "lang", "source", "text")
    val got = Corpus.profile(docs)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    // (n_docs, total_tokens, min_tokens, max_tokens, total_chars, n_distinct)
    assert(got(("en", "web")) == ((3L, 10L, 3L, 4L, 17L, 2L)), got.toString)
    assert(got(("en", "books")) == ((1L, 1L, 1L, 1L, 5L, 1L)), got.toString)
    assert(got(("de", "web")) == ((2L, 0L, 0L, 0L, 0L, 1L)), got.toString)
    assert(got.size == 3)
  }

  test("corpus split: deterministic, covering, layout-invariant, ~weighted") {
    val ids = spark.range(0, 10000).select($"id".as("doc_id"))
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = Corpus.split(ids, w, seed = 13L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 10000) // every doc in exactly one split
    // fractions close to the weights (modular mix is uniform-ish)
    val counts = got.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(counts("train") - 8000) < 400, counts.toString)
    assert(math.abs(counts("val") - 1000) < 200, counts.toString)
    assert(math.abs(counts("test") - 1000) < 200, counts.toString)
    // membership is a pure function of the id: invariant under input
    // layout (rand(seed) would FAIL this — per-partition seeding)
    val re = Corpus.split(ids.repartition(7), w, seed = 13L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(re == got)
    // a different seed moves the boundaries
    val other = Corpus.split(ids, w, seed = 14L)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(other != got)
    // a null id must FAIL, not silently land in the (held-out) last split
    val withNull = Seq(Some(1L), None).toDF("doc_id")
    val err = intercept[Exception] { Corpus.split(withNull, w).collect() }
    assert(err.getMessage.contains("Corpus.split"), err.getMessage)
    // a positive weight that rounds to an empty bucket interval is rejected
    val tiny = intercept[IllegalArgumentException] {
      Corpus.split(ids, Seq("train" -> 0.99996, "holdout" -> 0.00004))
    }
    assert(tiny.getMessage.contains("empty interval"), tiny.getMessage)
  }

  test("corpus tokenShards: two-pass prefix sum == global-order cumsum; layout-invariant") {
    val docs = spark.range(0, 5000)
      .select($"id".as("doc_id"), (pmod($"id" * 37, lit(997)) + 1).as("n_tokens"))
    val budget = 10000L
    val got = Corpus.tokenShards(docs, budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // oracle: driver-side exclusive cumulative sum over doc_id order
    var cum = 0L
    val want = docs.orderBy("doc_id").collect().map { r =>
      val (id, n) = (r.getLong(0), r.getLong(1))
      val s = cum / budget
      cum += n
      (id, n, s)
    }
    assert(got.toSeq == want.toSeq)
    // shards are contiguous in id order and (except the last) fill the
    // budget to within one document
    val perShard = got.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    val lastShard = got.map(_._3).max
    perShard.foreach { case (sId, tok) =>
      if (sId != lastShard) assert(tok >= budget - 997 && tok <= budget + 997, s"$sId -> $tok")
    }
    // invariant under input partition layout
    val re = Corpus.tokenShards(docs.repartition(11), budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(re.toSeq == got.toSeq)
    spark.catalog.clearCache()
  }

  test("multimodal: Y4M encode/decode is a REAL lossless frame round trip") {
    val w = 8; val h = 6
    val frameBytes = w * h * 3 / 2
    val frames = (0 until 3).map(f => Array.tabulate[Byte](frameBytes)(i => ((i * 7 + f * 31) & 0xff).toByte))
    val y4m = Multimodal.Codec.encodeY4m(frames, w, h, 4)
    // a real YUV4MPEG2 container: ASCII stream magic + FRAME markers
    assert(new String(y4m.take(9), "US-ASCII") == "YUV4MPEG2", new String(y4m.take(9)))
    val v = Multimodal.Codec.decodeY4m(y4m)
    assert(v.width == w && v.height == h && v.fpsNum == 4 && v.fpsDen == 1)
    assert(v.frames.length == 3)
    (0 until 3).foreach(f => assert(v.frames(f).toSeq == frames(f).toSeq)) // bit-exact
    assert(v.durationMs == 750L) // 3 frames at 4 fps
    // decode("video") = concatenated raw frame bytes
    assert(Multimodal.Codec.decode("video", y4m).length == 3 * frameBytes)
    // non-Y4M input is rejected, not passed through
    assert(Multimodal.Codec.decode("video", "not a video".getBytes).isEmpty)
    // flat mid-gray YUV frame -> exactly mid-gray RGB pixels (BT.601 at
    // U=V=128 is the identity on luma)
    val gray = Array.fill[Byte](frameBytes)(128.toByte)
    val png = Multimodal.Codec.frameToPng(
      Multimodal.Codec.Y4mVideo(w, h, 4, 1, IndexedSeq(gray)), 0)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    assert(img.getWidth == w && img.getHeight == h)
    assert(img.getRGB(3, 2) == 0xff808080, img.getRGB(3, 2).toHexString)
  }

  test("multimodal: video frames + features are REAL decodes of the Y4M payload") {
    val assets = Multimodal.synthesizeAssets(docs)
    val vids = assets.filter($"modality" === "video").collect()
    assert(vids.nonEmpty)
    // features recover dims / frame count / duration from the CONTAINER
    val feats = Multimodal.videoFeatures(assets).collect().map(f => f.asset_id -> f).toMap
    vids.foreach { a =>
      val f = feats(a.asset_id)
      assert(f.width == a.width && f.height == a.height, s"asset ${a.asset_id}")
      assert(f.fps == Multimodal.SynthVideoFps)
      assert(f.n_frames == a.duration_ms / 250, s"asset ${a.asset_id}: ${f.n_frames}")
      assert(f.duration_ms == a.duration_ms)
      assert(f.mean_luma > 0.0 && f.mean_luma < 1.0)
      // the synthetic gradient MOVES between frames: motion is measurably
      // nonzero (a static clip would measure 0.0)
      assert(f.motion > 0.01, s"asset ${a.asset_id}: motion ${f.motion}")
    }
    // real pixel grabs match the metadata-only plan's schedule...
    val planned = Multimodal.sampleFramePlan(assets.toDF())
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val grabbed = Multimodal.sampleFrames(assets).collect()
    assert(grabbed.map(g => (g.asset_id, g.frame_idx, g.ts_ms)).toSet == planned)
    // ...and every grabbed frame is a decodable PNG at the asset's dims
    val dims = vids.map(a => a.asset_id -> (a.width, a.height)).toMap
    grabbed.foreach { g =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(g.frame_png))
      assert(img != null, s"asset ${g.asset_id} frame ${g.frame_idx}: not a PNG")
      assert((img.getWidth, img.getHeight) == dims(g.asset_id))
    }
  }

  test("multimodal: video fps resampling preserves duration and frame bytes") {
    val w = 8; val h = 6
    val frameBytes = w * h * 3 / 2
    val frames = (0 until 8).map(f =>
      Array.tabulate[Byte](frameBytes)(i => ((i + f * 31) & 0xff).toByte))
    val y4m = Multimodal.Codec.encodeY4m(frames, w, h, 4) // 8 frames @4fps = 2s
    // upsample 4 -> 8 fps: 16 frames, same 2s, every source frame doubled
    val up = Multimodal.Codec.decodeY4m(Multimodal.Codec.resampleY4m(y4m, 8))
    assert(up.fpsNum == 8 && up.frames.length == 16 && up.durationMs == 2000L)
    (0 until 16).foreach(i => assert(up.frames(i).toSeq == frames(i / 2).toSeq))
    // downsample 4 -> 2 fps: 4 frames, same 2s, every other source frame
    val down = Multimodal.Codec.decodeY4m(Multimodal.Codec.resampleY4m(y4m, 2))
    assert(down.fpsNum == 2 && down.frames.length == 4 && down.durationMs == 2000L)
    (0 until 4).foreach(i => assert(down.frames(i).toSeq == frames(i * 2).toSeq))
    // the operator path over synthesized assets
    val assets = Multimodal.synthesizeAssets(docs)
    val res = Multimodal.resampleVideo(assets, targetFps = 8).collect()
    val durs = assets.filter($"modality" === "video").collect()
      .map(a => a.asset_id -> a.duration_ms).toMap
    assert(res.nonEmpty)
    res.foreach { r =>
      assert(r.fps == 8)
      assert(r.n_frames == durs(r.asset_id) * 8 / 1000, s"asset ${r.asset_id}")
    }
  }

  test("multimodal: WAV encode/decode is a REAL lossless PCM round trip") {
    val sr = 8000
    val samples = Array.tabulate[Short](sr / 2)(i =>
      (math.sin(2 * math.Pi * 440.0 * i / sr) * 20000).toShort)
    val wav = Multimodal.Codec.encodeWav(samples, sr)
    // a real RIFF/WAVE container, not raw bytes
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val (rate, back) = Multimodal.Codec.decodeWav(wav)
    assert(rate == sr)
    assert(back.toSeq == samples.toSeq) // bit-exact samples through the codec
  }

  test("multimodal: audio features match analytic DSP on a pure tone; resample preserves duration") {
    val sr = 8000
    val f = 400.0
    val amp = 0.5
    val samples = Array.tabulate[Short](sr)(i =>
      (math.sin(2 * math.Pi * f * i / sr) * amp * 32767).toShort)
    val asset = Multimodal.MediaAsset(7L, "audio", "audio/wav", 0, 0, 1000L,
      Multimodal.Codec.encodeWav(samples, sr))
    val feats = Multimodal.audioFeatures(Seq(asset).toDS()).collect()
    assert(feats.length == 1)
    val ft = feats.head
    assert(ft.sample_rate == sr && ft.n_samples == sr && ft.duration_ms == 1000L)
    // pure sine: rms = amp/sqrt(2); zcr = 2 crossings per period = 2f/sr
    assert(math.abs(ft.rms - amp / math.sqrt(2)) < 0.01, ft.rms)
    assert(math.abs(ft.zcr - 2 * f / sr) < 0.005, ft.zcr)
    // resample to 2x: same duration, 2x samples; tone survives (rms stable)
    val res = Multimodal.resampleAudio(Seq(asset).toDS(), targetRate = 16000).collect().head
    val rf = Multimodal.audioFeatures(Seq(asset.copy(payload = res.wav)).toDS()).collect().head
    assert(rf.sample_rate == 16000 && rf.duration_ms == 1000L && rf.n_samples == 16000L)
    assert(math.abs(rf.rms - amp / math.sqrt(2)) < 0.01, rf.rms)
    assert(math.abs(rf.zcr - 2 * f / 16000) < 0.005, rf.zcr)
  }

  test("multimodal: synthesized audio assets decode through the shared feature path") {
    val assets = Multimodal.synthesizeAssets(docs) // ids 0..4 -> audio at 1,4
    val af = Multimodal.audioFeatures(assets).collect().map(a => a.asset_id -> a).toMap
    assert(af.keySet == Set(1L, 4L))
    assert(af(1L).duration_ms == 300L && af(1L).n_samples == 1200L) // 200+(1%16)*100 @4kHz
    assert(af(4L).duration_ms == 600L && af(4L).n_samples == 2400L)
    assert(af.values.forall(a => a.rms > 0.1 && a.zcr > 0))
    // the generic byte-feature path now sees DECODED PCM for audio, with
    // positive entropy (a real signal, not container bytes)
    val feats = Multimodal.extractFeatures(assets).collect()
    val audioFeat = feats.find(_.asset_id == 1L).get
    assert(audioFeat.modality == "audio" && audioFeat.n_bytes == 2 * 1200L)
    assert(audioFeat.byte_entropy > 1.0)
  }
}
