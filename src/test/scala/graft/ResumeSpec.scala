package graft

import graft.core.MinHashConfig
import graft.operators.CleanPipeline
import graft.plans.CheckpointedPipeline
import graft.sources.CorpusGen
import org.apache.spark.sql.functions._

/** Checkpoint/resume contract (north-star): kill-and-rerun resumes from the
  * last committed stage with byte-identical results and no recompute of
  * completed stages (proven via the _metrics lineage table and stage log).
  */
class ResumeSpec extends SparkSpec {

  private val cfg = MinHashConfig(shingleSize = 3, signatureSize = 64, nBandRows = 4, seed = 13, threshold = 0.5)

  test("rerun skips committed stages; mid-pipeline delete resumes from there") {
    val work = java.nio.file.Files.createTempDirectory("graft_resume").toString
    val docs = CorpusGen.withDocIds(CorpusGen.sourceFiles(spark, 300)).cache()

    val p1 = new CheckpointedPipeline(spark, cfg, work)
    val (c1, log1) = p1.run(docs)
    val clusters1 = c1.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(log1.computed.toSeq == Seq("signatures", "candidates", "pairs", "clusters"))

    // full rerun: everything resumed
    val (c2, log2) = new CheckpointedPipeline(spark, cfg, work).run(docs)
    assert(log2.computed.isEmpty && log2.skipped.size == 4)
    assert(c2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == clusters1)

    // the clusters stage table is the durable copy — the per-iteration CC
    // scratch dir must be gone once the stage committed (no stale label
    // tables accumulating across reruns)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(work), spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$work/_cc_scratch")))

    // simulate failure after 'candidates': later stages gone
    fs.delete(new org.apache.hadoop.fs.Path(s"$work/pairs"), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$work/clusters"), true)
    val (c3, log3) = new CheckpointedPipeline(spark, cfg, work).run(docs)
    assert(log3.skipped.toSeq == Seq("signatures", "candidates"))
    assert(log3.computed.toSeq == Seq("pairs", "clusters"))
    assert(c3.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == clusters1)

    // _metrics has per-partition lineage rows for every stage
    val m = new CheckpointedPipeline(spark, cfg, work).metrics
    assert(m.select("stage").distinct().count() == 4)
    assert(m.columns.toSet == Set("stage", "partition_id", "rows", "input_fingerprint", "config", "ts_ns"))

    // threshold-only change recomputes pairs+clusters but resumes sigs+cands
    val cfg2 = cfg.copy(threshold = 0.9)
    val (_, log4) = new CheckpointedPipeline(spark, cfg2, work).run(docs)
    assert(log4.skipped.toSeq == Seq("signatures", "candidates"))
    assert(log4.computed.toSeq == Seq("pairs", "clusters"))

    // switching BACK to the original threshold must recompute pairs too —
    // the pairs table currently holds threshold-0.9 content (this is the
    // overwritten-stage case the per-table tag exists for)
    val (_, logBack) = new CheckpointedPipeline(spark, cfg, work).run(docs)
    assert(logBack.computed.toSeq == Seq("pairs", "clusters"))

    // enabling the exact-Jaccard verification stage computes ONLY it
    val (_, logJ) = new CheckpointedPipeline(spark, cfg, work, None, verifyExactJaccard = true).run(docs)
    assert(logJ.computed.toSeq == Seq("jaccard"))
    assert(logJ.skipped.toSeq == Seq("signatures", "candidates", "pairs", "clusters"))
    val jac = spark.read.parquet(s"$work/jaccard")
    assert(jac.columns.toSet == Set("doc1", "doc2", "jaccard"))
    assert(jac.count() > 0)

    // input change invalidates everything (fingerprint mismatch)
    val docs2 = CorpusGen.withDocIds(CorpusGen.sourceFiles(spark, 301))
    val (_, log5) = new CheckpointedPipeline(spark, cfg, work).run(docs2)
    assert(log5.computed.toSeq == Seq("signatures", "candidates", "pairs", "clusters"))

    docs.unpersist()
  }

  test("CleanPipeline.runCheckpointed: kill-and-rerun resumes; tags scope invalidation") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_clean_resume").toString
    // same fixture family as the OperatorsSpec recipe test: a boilerplate
    // header, disjoint per-doc vocab, one exact dup, one quality reject,
    // one near-dup, one PII carrier
    val header = "REPEATED BOILERPLATE NAVIGATION HEADER LINE"
    val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
      "hotel", "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa")
    def body(i: Int): String =
      (0 until 15).map(k => words((i * 7 + k * 3) % 16) + i).mkString(" ")
    val nearDupOf1 = body(1).split(" ").dropRight(1).mkString(" ") + " zulu1"
    val rows = ((0 until 8).map(i => (i.toLong, s"$header\n${body(i)}")) ++ Seq(
      (8L, body(0)), (9L, "tiny doc"), (10L, nearDupOf1),
      (11L, body(11) + " contact a@b.io now")
    )).toDF("doc_id", "text")
    val cfg = CleanPipeline.Config(
      maxLineDocFreq = 3L, minTokens = 5L,
      minhash = MinHashConfig(3, 64, 4, 13, 0.5),
      tokensPerShard = 100L)
    val allStages = Seq("line_clean", "quality", "redact", "exact", "neardup", "clean_corpus")

    // cold run computes every stage and MATCHES the cache-based run()
    val (refOut, refCounts) = CleanPipeline.run(rows, cfg)
    val ref = refOut.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    refOut.unpersist()
    spark.catalog.clearCache()
    val (o1, n1, log1) = CleanPipeline.runCheckpointed(spark, rows, work, cfg)
    assert(log1.computed.toSeq == allStages, log1.toString)
    assert(n1 == refCounts, n1.toString)
    def snap(df: org.apache.spark.sql.DataFrame) = df.select("doc_id", "text", "split", "shard_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    assert(snap(o1) == ref)

    // warm rerun: nothing recomputes
    val (o2, n2, log2) = CleanPipeline.runCheckpointed(spark, rows, work, cfg)
    assert(log2.computed.isEmpty && log2.skipped.toSeq == allStages, log2.toString)
    assert(n2 == refCounts && snap(o2) == ref)

    // crash after clustering: only the final stage recomputes — stages 1-5
    // must NOT re-run (the verdict's resume-at-split/shards contract)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(work), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$work/clean_corpus"), true)
    val (o3, _, log3) = CleanPipeline.runCheckpointed(spark, rows, work, cfg)
    assert(log3.computed.toSeq == Seq("clean_corpus"), log3.toString)
    assert(log3.skipped.toSeq == allStages.dropRight(1), log3.toString)
    assert(snap(o3) == ref)

    // a sharding-only change invalidates ONLY the final stage
    val (_, _, log4) = CleanPipeline.runCheckpointed(spark, rows, work,
      cfg.copy(tokensPerShard = 50L))
    assert(log4.computed.toSeq == Seq("clean_corpus"), log4.toString)

    // a quality-gate change invalidates quality and everything downstream,
    // but line_clean resumes
    val (_, _, log5) = CleanPipeline.runCheckpointed(spark, rows, work,
      cfg.copy(minTokens = 6L))
    assert(log5.skipped.toSeq == Seq("line_clean"), log5.toString)
    assert(log5.computed.toSeq == allStages.tail, log5.toString)

    // toggling the survivor rule (keep-best) invalidates ONLY neardup and
    // downstream — the four text gates resume (tag chained only when ON)
    val (_, _, logKb) = CleanPipeline.runCheckpointed(spark, rows, work,
      cfg.copy(minTokens = 6L, keepBestByQuality = true))
    assert(logKb.skipped.toSeq == Seq("line_clean", "quality", "redact", "exact"), logKb.toString)
    assert(logKb.computed.toSeq == Seq("neardup", "clean_corpus"), logKb.toString)

    // adding an embeddings table re-clusters (its fingerprint is in the
    // neardup tag) without re-running any text gate — and the embeddings
    // ARM of the checkpointed path must match run() exactly (the semantic
    // pair source is shared; this guards the two paths against drift)
    val emb = (0L until 12L).map(i => (i, Array.fill(8)(1.0f))).toDF("doc_id", "embedding")
    val (refEmbOut, refEmbCounts) = CleanPipeline.run(rows, cfg.copy(minTokens = 6L),
      embeddings = Some(emb))
    val refEmb = refEmbOut.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    refEmbOut.unpersist()
    spark.catalog.clearCache()
    val (o6, n6, log6) = CleanPipeline.runCheckpointed(spark, rows, work,
      cfg.copy(minTokens = 6L), embeddings = Some(emb))
    assert(log6.skipped.toSeq == Seq("line_clean", "quality", "redact", "exact"), log6.toString)
    assert(log6.computed.toSeq == Seq("neardup", "clean_corpus"), log6.toString)
    assert(n6 == refEmbCounts && snap(o6) == refEmb)

    // content fingerprint captures IDS, not just texts: identical texts
    // under re-assigned ids must invalidate EVERY stage (splits/shards are
    // pure functions of the id — resuming would emit the old memberships)
    val shifted = rows.select((col("doc_id") + 5000L).as("doc_id"), col("text"))
    val (_, _, log7) = CleanPipeline.runCheckpointed(spark, shifted, work,
      cfg.copy(minTokens = 6L))
    assert(log7.computed.toSeq == allStages, log7.toString)

    // enabling Gopher gates (pass-through thresholds — only the tag moves)
    // invalidates quality and downstream, resumes line_clean
    val passThrough = CleanPipeline.GopherGates(
      maxDupLineFrac = 1.0, maxDupLineCharFrac = 1.0,
      maxTopNgramCharFrac = Seq(9, 9, 9), maxDupNgramCharFrac = Seq(9, 9, 9, 9, 9, 9),
      maxSymbolWordRatio = 9, maxBulletLineFrac = 1.0,
      maxEllipsisLineFrac = 1.0, minAlphaWordFrac = 0.0)
    val (_, _, log8) = CleanPipeline.runCheckpointed(spark, shifted, work,
      cfg.copy(minTokens = 6L, gopher = Some(passThrough)))
    assert(log8.skipped.toSeq == Seq("line_clean"), log8.toString)
    assert(log8.computed.toSeq == allStages.tail, log8.toString)

    // enabling exact-span excision: the optional stage computes, the
    // upstream text gates resume, neardup+downstream invalidate (cSpan is
    // a prefix of the neardup tag) — and the checkpointed path matches the
    // cache-based run() with the same config exactly
    // keep gopher identical to the last committed state (log8) so ONLY the
    // spans flag moves the tags
    val spanCfg = cfg.copy(minTokens = 6L, gopher = Some(passThrough),
      exactSpanTokens = Some(4))
    val (refSpanOut, refSpanCounts) = CleanPipeline.run(rows, spanCfg)
    val refSpan = refSpanOut.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    refSpanOut.unpersist()
    spark.catalog.clearCache()
    val (o9, n9, log9) = CleanPipeline.runCheckpointed(spark, shifted, work, spanCfg)
    assert(log9.skipped.toSeq == Seq("line_clean", "quality", "redact", "exact"), log9.toString)
    assert(log9.computed.toSeq == Seq("exact_spans", "neardup", "clean_corpus"), log9.toString)
    val (o9b, n9b, log9b) = CleanPipeline.runCheckpointed(spark, shifted, work, spanCfg)
    assert(log9b.computed.isEmpty, log9b.toString)
    assert(n9b == n9 && snap(o9b) == snap(o9))
    // run() parity needs UN-shifted ids — recompute on `rows` in a fresh dir
    val workS = java.nio.file.Files.createTempDirectory("graft_clean_resume_span").toString
    val (o10, n10, _) = CleanPipeline.runCheckpointed(spark, rows, workS, spanCfg)
    assert(n10 == refSpanCounts && snap(o10) == refSpan)

    // lineage: every stage has per-partition metrics rows, plus the cached
    // input-count rows (stage="input", partition_id=-1 — one per distinct
    // input fingerprint, read back on resume instead of re-counting docs)
    // and the optional exact_spans stage enabled above
    val m = new graft.plans.StageStore(spark, work).metrics
    assert(m.select("stage").distinct().count() == allStages.size.toLong + 2)
    assert(m.filter(col("stage") === "input" && col("partition_id") === -1).count() >= 1L)
    spark.catalog.clearCache()

    // benchmark decontamination: a planted verbatim leak (bench doc 500 ==
    // body(2)) is dropped identically by run() and runCheckpointed();
    // toggling decontam ON resumes the four text gates and computes only
    // decontam + downstream (tag chained only when a benchmark is passed)
    val benchTbl = Seq((500L, body(2))).toDF("doc_id", "text")
    val workD = java.nio.file.Files.createTempDirectory("graft_clean_resume_dc").toString
    val (oD0, _, logD0) = CleanPipeline.runCheckpointed(spark, rows, workD, cfg)
    assert(logD0.computed.toSeq == allStages, logD0.toString)
    val baselineIds = snap(oD0).map(_._1)
    val (refDcOut, refDcCounts) = CleanPipeline.run(rows, cfg, benchmark = Some(benchTbl))
    val refDc = refDcOut.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSet
    refDcOut.unpersist()
    spark.catalog.clearCache()
    val (oD, nD, logD) = CleanPipeline.runCheckpointed(spark, rows, workD, cfg,
      benchmark = Some(benchTbl))
    assert(logD.skipped.toSeq == Seq("line_clean", "quality", "redact", "exact"), logD.toString)
    assert(logD.computed.toSeq == Seq("decontam", "neardup", "clean_corpus"), logD.toString)
    assert(nD == refDcCounts, nD.toString)
    assert(snap(oD) == refDc)
    // the leak carrier is gone, nothing else newly dropped
    assert(baselineIds.contains(2L) && !snap(oD).exists(_._1 == 2L))
    assert(snap(oD).map(_._1) == baselineIds - 2L)
    assert(nD.afterDecontam.contains(nD.afterExactDedup - 1))
    // warm rerun with the same benchmark: nothing recomputes
    val (_, _, logD2) = CleanPipeline.runCheckpointed(spark, rows, workD, cfg,
      benchmark = Some(benchTbl))
    assert(logD2.computed.isEmpty, logD2.toString)

    // a gram-less benchmark (empty or all-sub-gram docs) fails LOUDLY on
    // both paths — a silently skipped decontam stage ships contaminated
    // data (an emptied/mispointed benchmark table must not no-op)
    val gramless = Seq((999L, "x y")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      CleanPipeline.run(rows, cfg, benchmark = Some(gramless))
    }
    spark.catalog.clearCache()
    intercept[IllegalArgumentException] {
      CleanPipeline.runCheckpointed(spark, rows, workD, cfg, benchmark = Some(gramless))
    }
    spark.catalog.clearCache()
  }

  test("CleanPipeline.runCheckpointed: every stage tag is byte-identical to its pinned literal") {
    // A drifted tag silently recomputes every stage of every existing work
    // dir. The literals were captured before the recipe became one step
    // list; the content fingerprint of the in-memory fixtures makes them
    // deterministic.
    val rows = CleanFixture.rows(spark)
    val bench = Some(CleanFixture.benchmark(spark))
    val emb = Some(CleanFixture.embeddings(spark))
    val base = CleanFixture.cfg
    val gopher = Some(CleanPipeline.GopherGates())
    val all = base.copy(gopher = gopher, exactSpanTokens = Some(4), keepBestByQuality = true)
    val runs = Seq(
      ("default", base, None, None),
      ("gopher", base.copy(gopher = gopher), None, None),
      ("decontam", base, None, bench),
      ("spans", base.copy(exactSpanTokens = Some(4)), None, None),
      ("keepbest", base.copy(keepBestByQuality = true), None, None),
      ("embeddings", base, emb, None),
      ("all", all, emb, bench))
    val got = runs.map { case (name, c, e, b) =>
      val work = java.nio.file.Files.createTempDirectory(s"graft_tags_$name")
      CleanPipeline.runCheckpointed(spark, rows, work.toString, c, embeddings = e, benchmark = b)
      val tags = work.toFile.listFiles().toSeq.sortBy(_.getName).flatMap { d =>
        val t = d.toPath.resolve("_graft_tag")
        if (java.nio.file.Files.exists(t))
          Some(d.getName -> java.nio.file.Files.readAllBytes(t).toSeq)
        else None
      }
      name -> tags
    }
    val expected: Map[String, Seq[(String, String)]] = Map(
      "default" -> Seq(
        "clean_corpus" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off;sh=3;sig=64;r=4;" +
          "seed=13;thr=0.5;cap=256;cp=-1;cos=0.95;emb=none;" +
          "splits=train:0.98,val:0.01,test:0.01;sseed=13;tps=100"),
        "exact" ->
          "n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off",
        "line_clean" ->
          "n=12;h=17028483549|mldf=3",
        "neardup" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off;sh=3;sig=64;r=4;" +
          "seed=13;thr=0.5;cap=256;cp=-1;cos=0.95;emb=none"),
        "quality" ->
          "n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off",
        "redact" ->
          "n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off"),
      "gopher" -> Seq(
        "clean_corpus" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;" +
          "gopher=0.3,0.2,0.2/0.18/0.16,0.15/0.14/0.13/0.12/0.11/0.1,0.1,0.9,0.3,0.8;" +
          "sh=3;sig=64;r=4;seed=13;thr=0.5;cap=256;cp=-1;cos=0.95;emb=none;" +
          "splits=train:0.98,val:0.01,test:0.01;sseed=13;tps=100"),
        "exact" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;" +
          "gopher=0.3,0.2,0.2/0.18/0.16,0.15/0.14/0.13/0.12/0.11/0.1,0.1,0.9,0.3,0.8"),
        "line_clean" ->
          "n=12;h=17028483549|mldf=3",
        "neardup" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;" +
          "gopher=0.3,0.2,0.2/0.18/0.16,0.15/0.14/0.13/0.12/0.11/0.1,0.1,0.9,0.3,0.8;" +
          "sh=3;sig=64;r=4;seed=13;thr=0.5;cap=256;cp=-1;cos=0.95;emb=none"),
        "quality" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;" +
          "gopher=0.3,0.2,0.2/0.18/0.16,0.15/0.14/0.13/0.12/0.11/0.1,0.1,0.9,0.3,0.8"),
        "redact" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;" +
          "gopher=0.3,0.2,0.2/0.18/0.16,0.15/0.14/0.13/0.12/0.11/0.1,0.1,0.9,0.3,0.8")),
      "decontam" -> Seq(
        "clean_corpus" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off;dcn=8;dct=0.8;" +
          "bench=n=1;h=3994077573;sh=3;sig=64;r=4;seed=13;thr=0.5;cap=256;cp=-1;cos=0.95;" +
          "emb=none;splits=train:0.98,val:0.01,test:0.01;sseed=13;tps=100"),
        "decontam" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off;dcn=8;dct=0.8;" +
          "bench=n=1;h=3994077573"),
        "exact" ->
          "n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off",
        "line_clean" ->
          "n=12;h=17028483549|mldf=3",
        "neardup" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off;dcn=8;dct=0.8;" +
          "bench=n=1;h=3994077573;sh=3;sig=64;r=4;seed=13;thr=0.5;cap=256;cp=-1;cos=0.95;" +
          "emb=none"),
        "quality" ->
          "n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off",
        "redact" ->
          "n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off"),
      "spans" -> Seq(
        "clean_corpus" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off;spans=4;sh=3;" +
          "sig=64;r=4;seed=13;thr=0.5;cap=256;cp=-1;cos=0.95;emb=none;" +
          "splits=train:0.98,val:0.01,test:0.01;sseed=13;tps=100"),
        "exact" ->
          "n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off",
        "exact_spans" ->
          "n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off;spans=4",
        "line_clean" ->
          "n=12;h=17028483549|mldf=3",
        "neardup" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off;spans=4;sh=3;" +
          "sig=64;r=4;seed=13;thr=0.5;cap=256;cp=-1;cos=0.95;emb=none"),
        "quality" ->
          "n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off",
        "redact" ->
          "n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off"),
      "keepbest" -> Seq(
        "clean_corpus" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off;sh=3;sig=64;r=4;" +
          "seed=13;thr=0.5;cap=256;cp=-1;cos=0.95;emb=none;keepbest=on;" +
          "splits=train:0.98,val:0.01,test:0.01;sseed=13;tps=100"),
        "exact" ->
          "n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off",
        "line_clean" ->
          "n=12;h=17028483549|mldf=3",
        "neardup" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off;sh=3;sig=64;r=4;" +
          "seed=13;thr=0.5;cap=256;cp=-1;cos=0.95;emb=none;keepbest=on"),
        "quality" ->
          "n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off",
        "redact" ->
          "n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off"),
      "embeddings" -> Seq(
        "clean_corpus" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off;sh=3;sig=64;r=4;" +
          "seed=13;thr=0.5;cap=256;cp=-1;cos=0.95;emb=n=12;h=32202824770;" +
          "splits=train:0.98,val:0.01,test:0.01;sseed=13;tps=100"),
        "exact" ->
          "n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off",
        "line_clean" ->
          "n=12;h=17028483549|mldf=3",
        "neardup" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off;sh=3;sig=64;r=4;" +
          "seed=13;thr=0.5;cap=256;cp=-1;cos=0.95;emb=n=12;h=32202824770"),
        "quality" ->
          "n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off",
        "redact" ->
          "n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;gopher=off"),
      "all" -> Seq(
        "clean_corpus" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;" +
          "gopher=0.3,0.2,0.2/0.18/0.16,0.15/0.14/0.13/0.12/0.11/0.1,0.1,0.9,0.3,0.8;" +
          "dcn=8;dct=0.8;bench=n=1;h=3994077573;spans=4;sh=3;sig=64;r=4;seed=13;thr=0.5;" +
          "cap=256;cp=-1;cos=0.95;emb=n=12;h=32202824770;keepbest=on;" +
          "splits=train:0.98,val:0.01,test:0.01;sseed=13;tps=100"),
        "decontam" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;" +
          "gopher=0.3,0.2,0.2/0.18/0.16,0.15/0.14/0.13/0.12/0.11/0.1,0.1,0.9,0.3,0.8;" +
          "dcn=8;dct=0.8;bench=n=1;h=3994077573"),
        "exact" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;" +
          "gopher=0.3,0.2,0.2/0.18/0.16,0.15/0.14/0.13/0.12/0.11/0.1,0.1,0.9,0.3,0.8"),
        "exact_spans" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;" +
          "gopher=0.3,0.2,0.2/0.18/0.16,0.15/0.14/0.13/0.12/0.11/0.1,0.1,0.9,0.3,0.8;" +
          "dcn=8;dct=0.8;bench=n=1;h=3994077573;spans=4"),
        "line_clean" ->
          "n=12;h=17028483549|mldf=3",
        "neardup" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;" +
          "gopher=0.3,0.2,0.2/0.18/0.16,0.15/0.14/0.13/0.12/0.11/0.1,0.1,0.9,0.3,0.8;" +
          "dcn=8;dct=0.8;bench=n=1;h=3994077573;spans=4;sh=3;sig=64;r=4;seed=13;thr=0.5;" +
          "cap=256;cp=-1;cos=0.95;emb=n=12;h=32202824770;keepbest=on"),
        "quality" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;" +
          "gopher=0.3,0.2,0.2/0.18/0.16,0.15/0.14/0.13/0.12/0.11/0.1,0.1,0.9,0.3,0.8"),
        "redact" ->
          ("n=12;h=17028483549|mldf=3;mintok=5;maxpunct=0.5;" +
          "gopher=0.3,0.2,0.2/0.18/0.16,0.15/0.14/0.13/0.12/0.11/0.1,0.1,0.9,0.3,0.8")))
    got.foreach { case (name, tags) =>
      val want = expected(name).map { case (stage, tag) => stage -> tag.getBytes("UTF-8").toSeq }
      assert(tags == want, s"$name: " + tags.map { case (stage, bytes) =>
        s"$stage -> ${new String(bytes.toArray, "UTF-8")}" }.mkString("\n"))
    }
    spark.catalog.clearCache()
  }

  test("dedup_corpus stage: representatives only, resumable like any stage") {
    val work = java.nio.file.Files.createTempDirectory("graft_corpus").toString
    val docs = CorpusGen.withDocIds(CorpusGen.sourceFiles(spark, 200)).cache()
    val p = new CheckpointedPipeline(spark, cfg, work, emitDedupCorpus = true)
    val (clusters, log1) = p.run(docs)
    assert(log1.computed.contains("dedup_corpus"))
    val kept = spark.read.parquet(s"$work/dedup_corpus")
    val nClusters = clusters.select("cluster_id").distinct().count()
    assert(kept.count() == nClusters, s"${kept.count()} vs $nClusters clusters")
    // representatives ARE cluster ids
    val repIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val clusterIds = clusters.select("cluster_id").distinct().collect().map(_.getLong(0)).toSet
    assert(repIds == clusterIds)
    // resumes with everything else
    val (_, log2) = new CheckpointedPipeline(spark, cfg, work, emitDedupCorpus = true).run(docs)
    assert(log2.computed.isEmpty && log2.skipped.contains("dedup_corpus"))
    docs.unpersist()
  }

  test("metadata fingerprint: file-backed input resumes without a data pass; rewrite invalidates") {
    val work = java.nio.file.Files.createTempDirectory("graft_meta_fp").toString
    val inDir = java.nio.file.Files.createTempDirectory("graft_meta_in").toString
    CorpusGen.withDocIds(CorpusGen.sourceFiles(spark, 200))
      .write.mode("overwrite").parquet(inDir)
    def docs = spark.read.parquet(inDir)

    val p = new CheckpointedPipeline(spark, cfg, work)
    // file-backed input -> metadata-level fingerprint (no content scan)
    assert(p.fingerprint(docs).startsWith("files="), p.fingerprint(docs))
    // ...and the content level stays available on demand
    assert(new CheckpointedPipeline(spark, cfg, work, contentFingerprint = true)
      .fingerprint(docs).startsWith("n="))

    val (_, log1) = p.run(docs)
    assert(log1.computed.size == 4)
    val (_, log2) = new CheckpointedPipeline(spark, cfg, work).run(docs)
    assert(log2.computed.isEmpty && log2.skipped.size == 4, log2.toString)

    // rewriting the input (different content => different sizes/files)
    // invalidates every stage through the metadata fingerprint alone
    CorpusGen.withDocIds(CorpusGen.sourceFiles(spark, 201))
      .write.mode("overwrite").parquet(inDir)
    val (_, log3) = new CheckpointedPipeline(spark, cfg, work).run(docs)
    assert(log3.computed.size == 4, log3.toString)
  }

  test("pipeline output invariant under shuffle-partition count (reference report-check)") {
    val docs = CorpusGen.goldenCorpus(spark)
    val cfgA = MinHashConfig(3, 64, 4, 13, 0.0)
    def runAt(parts: Int): Seq[String] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try graft.operators.MinHashPipeline.goldenLines(
        graft.operators.MinHashPipeline.run(docs.repartition(parts), cfgA), cfgA)
      finally spark.conf.set("spark.sql.shuffle.partitions", "4")
    }
    assert(runAt(2) == runAt(7))
  }

  test("modality dedup pipeline: resumable stages, planted copies cluster, reps kept") {
    import org.apache.spark.sql.functions.col
    // 90 docs -> 30 assets per modality; planted byte-identical copies via
    // the +LCM offsets SparkEntry's mm queries use (modality + synth params
    // preserved): images +273273 (ids %3=0), audio +4800000 (%3=1), video
    // +6000000 (%3=2) for every 15th doc
    val spark2 = spark
    import spark2.implicits._
    val base = (0 until 90).map(i => (i.toLong, s"asset content $i lorem ipsum dolor"))
    val copies = base.collect {
      case (id, t) if id % 15 == 0 && id % 3 == 0 => (id + 273273L, t)
      case (id, t) if id % 15 == 0 && id % 3 == 1 => (id + 4800000L, t)
      case (id, t) if id % 15 == 0 && id % 3 == 2 => (id + 6000000L, t)
    }
    val docs = (base ++ copies).toDF("doc_id", "text")
    val work = java.nio.file.Files.createTempDirectory("graft_mm_dedup").toString
    val (_, c1, log1) = graft.operators.Multimodal.dedupCheckpointed(
      spark, docs, work, contentFingerprint = true)
    assert(log1.computed.toSeq ==
      Seq("mm_fingerprints", "mm_pairs", "mm_clusters", "mm_corpus"), log1.toString)
    assert(c1.assets == 90L + copies.size)
    // each planted copy is hamming-0 with its source -> fewer survivors
    // than assets, and every copy's cluster contains its source
    assert(c1.survivors < c1.assets)
    val clusters = spark.read.parquet(s"$work/mm_clusters")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    copies.foreach { case (cid, _) =>
      val src = if (cid >= 6000000L) cid - 6000000L
        else if (cid >= 4800000L) cid - 4800000L else cid - 273273L
      assert(clusters(cid) == clusters(src), s"copy $cid not clustered with $src")
    }
    // full rerun: everything resumed
    val (_, c2, log2) = graft.operators.Multimodal.dedupCheckpointed(
      spark, docs, work, contentFingerprint = true)
    assert(log2.computed.isEmpty && log2.skipped.size == 4, log2.toString)
    assert(c2 == c1)
    // mid-pipeline delete: only the downstream stages recompute
    def rm(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles().foreach(rm); p.delete(); ()
    }
    rm(new java.io.File(s"$work/mm_clusters"))
    rm(new java.io.File(s"$work/mm_corpus"))
    val (_, c3, log3) = graft.operators.Multimodal.dedupCheckpointed(
      spark, docs, work, contentFingerprint = true)
    assert(log3.computed.toSeq == Seq("mm_clusters", "mm_corpus") &&
      log3.skipped.toSeq == Seq("mm_fingerprints", "mm_pairs"), log3.toString)
    assert(c3 == c1)
    // config change (hamming width) invalidates every tagged stage
    val (_, _, log4) = graft.operators.Multimodal.dedupCheckpointed(
      spark, docs, work, maxHamming = 2, contentFingerprint = true)
    assert(log4.computed.size == 4, log4.toString)
    spark.catalog.clearCache()
  }

  test("ingest sha256 invariant: parquet rows match .txt corpus (input_hint)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_txt")
    CorpusGen.goldenDocs.foreach { case (id, content) =>
      java.nio.file.Files.write(dir.resolve(s"$id.txt"), content.getBytes("UTF-8"))
    }
    val table = CorpusGen.goldenCorpus(spark).withColumnRenamed("content", "content")
    assert(CorpusGen.ingestShaMismatches(table, dir.toString) == 0)
    // and that a corrupted row IS detected
    val bad = CorpusGen.goldenCorpus(spark)
      .withColumn("content", when(col("doc_id") === 3, lit("tampered")).otherwise(col("content")))
    assert(CorpusGen.ingestShaMismatches(bad, dir.toString) == 1)
  }
}
