package graft.operators

import graft.core.MinHashConfig
import graft.functions.TextAnalysis
import graft.plans.{CheckpointedPipeline, StageStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The composed end-to-end training-data cleaning recipe (the C4/RefinedWeb
  * shape), built entirely from this library's operators and written once,
  * as an ordered list of steps (`recipe`; each step's comment says what it
  * does and why):
  *
  *   line_clean -> quality -> redact -> exact [-> decontam]
  *     [-> exact_spans] -> neardup -> clean_corpus
  *
  * Optional steps are in the list only when enabled. Each stage is
  * individually oracle- or parity-pinned; the recipe only composes them,
  * so its scale story is exactly the sum of its parts: narrow scans,
  * digest-keyed shuffles, one LSH bucket shuffle, O(log D) label rounds, a
  * broadcast-able representative semi-join, and the two-pass prefix sum.
  *
  * Two executors run the list: a cache executor ([[run]],
  * [[nearDupInputs]]) persists and counts each step's output and releases
  * the previous one; a [[StageStore]] executor ([[runCheckpointed]])
  * commits each output as a stage table. A step's `build` registers every
  * cache it makes (operator outputs, self-join inputs); the executor
  * releases them once the output is materialized, in a `finally`, so a
  * failing step leaks nothing. An output that is itself an operator's
  * cache (a rename of it) is owned like any output. [[run]] and
  * [[nearDupInputs]] leave exactly one cache, their persisted and
  * materialized result, which the CALLER owns (unpersist it when done, the
  * repo-wide operator contract); [[runCheckpointed]] leaves none.
  */
object CleanPipeline {

  /** The Gopher rule set (Rae et al. 2021, A1.1) as optional extra quality
    * gates — defaults are the paper's published thresholds. All fractions
    * are this library's exact operators (repetitionSignals,
    * top/dupNgramCharFractions, gopherQualitySignals).
    */
  final case class GopherGates(
      maxDupLineFrac: Double = 0.30,
      maxDupLineCharFrac: Double = 0.20,
      maxTopNgramCharFrac: Seq[Double] = Seq(0.20, 0.18, 0.16), // n = 2, 3, 4
      maxDupNgramCharFrac: Seq[Double] = Seq(0.15, 0.14, 0.13, 0.12, 0.11, 0.10), // n = 5..10
      maxSymbolWordRatio: Double = 0.10,
      maxBulletLineFrac: Double = 0.90,
      maxEllipsisLineFrac: Double = 0.30,
      minAlphaWordFrac: Double = 0.80) {
    require(maxTopNgramCharFrac.length == 3, "one threshold per n in 2..4")
    require(maxDupNgramCharFrac.length == 6, "one threshold per n in 5..10")
    /** Stable tag fragment for the resumable path's stage identity. */
    def tag: String = s"gopher=$maxDupLineFrac,$maxDupLineCharFrac," +
      s"${maxTopNgramCharFrac.mkString("/")},${maxDupNgramCharFrac.mkString("/")}," +
      s"$maxSymbolWordRatio,$maxBulletLineFrac,$maxEllipsisLineFrac,$minAlphaWordFrac"
  }

  final case class Config(
      maxLineDocFreq: Long = 1000L,
      minTokens: Long = 5L,
      maxPunctRatio: Double = 0.5,
      // optional Gopher repetition + document-shape gates, applied after
      // the token/punct gate on the same pre-redaction text; None = off
      gopher: Option[GopherGates] = None,
      minhash: MinHashConfig =
        MinHashConfig(shingleSize = 3, signatureSize = 128, nBandRows = 4,
          seed = 13, threshold = 0.8),
      starCapBucketSize: Option[Int] = Some(256),
      candidatePartitions: Option[Int] = None,
      // semantic (embedding-cosine) near-dup threshold, used only when an
      // embeddings table is passed to run(); conservative by default —
      // semantic merging below ~0.95 cosine deletes paraphrases, which is
      // a curation policy, not dedup
      embeddingMinCosine: Double = 0.95,
      // optional EXACT duplicate-span excision (suffix-array-substring arm,
      // Dedup.removeExactDuplicateSpans) between exact dedup and near-dup:
      // every window of this many tokens occurring >1x corpus-wide is cut
      // from all but its first occurrence. Rewrite, not a filter — doc
      // counts are unchanged. None = off.
      exactSpanTokens: Option[Int] = None,
      // quality-aware near-dup survivor selection: keep the HIGHEST
      // content-richness member of each cluster (whitespace tokens minus
      // punctuation chars, integer arithmetic; tie -> min id) instead of
      // the arbitrary min-label root. Off by default — it changes the
      // survivor RULE, i.e. which copy of each near-dup group ships.
      keepBestByQuality: Boolean = false,
      // benchmark decontamination (the GPT-3/Llama recipe stage; active
      // only when a benchmark table is passed to run/runCheckpointed):
      // drop exact-dedup survivors whose word-n-gram containment of ANY
      // benchmark doc reaches the threshold. Runs via the bloom-gated
      // path (Dedup.ngramContainmentBloom) — a corpus gram that misses
      // the benchmark set never enters an exchange. 8-grams at 0.8 are
      // the published decontamination shape.
      decontamNgram: Int = 8,
      decontamMinContainment: Double = 0.8,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.98, "val" -> 0.01, "test" -> 0.01),
      splitSeed: Long = 13L,
      tokensPerShard: Long = 1000000L)

  /** Documents surviving each gate — the numbers a production data run
    * reports next to its output. `afterLineClean` separates all-boilerplate
    * docs (dropped by stage 1) from quality rejections.
    */
  final case class StageCounts(input: Long, afterLineClean: Long, afterQuality: Long,
                               afterExactDedup: Long, output: Long,
                               afterDecontam: Option[Long] = None)

  /** @param embeddings optional (idCol, embedding: array&lt;float&gt;) table:
    *   when present, embedding-cosine near-dup pairs (>= embeddingMinCosine,
    *   via the multiprobe LSH candidate join) are UNIONED with the lexical
    *   MinHash pairs before clustering — lexically-rewritten but
    *   semantically-identical docs land in the same component and dedup
    *   together. Only embeddings of docs that survived the earlier gates
    *   participate (semi-join).
    * @return (clean corpus: idCol, text, split, shard_id; stage counts).
    * The returned frame is the one cache the caller owns.
    */
  def run(docs: DataFrame, cfg: Config = Config(),
          idCol: String = "doc_id", textCol: String = "text",
          embeddings: Option[DataFrame] = None,
          benchmark: Option[DataFrame] = None): (DataFrame, StageCounts) = {
    val nInput = docs.count()
    val (out, n) = runCached(docs, recipe(cfg, idCol, textCol, embeddings, benchmark))
    (out, stageCounts(nInput, n, benchmark.isDefined))
  }

  /** The recipe's steps before `neardup`: the frame the near-dup stage
    * consumes (idCol, textCol with the REDACTED text, also excised when
    * `exactSpanTokens` is set). The committed-artifact queries
    * (q_clean_signatures / q_clean_embsketch) commit exactly this frame,
    * which makes the WHOLE recipe DuckDB-replayable: the SQL replay of
    * stages 1–4 must equal it (q_clean_signatures' oracle) and the full
    * replay from the artifacts must equal run()'s output (q_clean_pipeline's
    * oracle). The result is the one cache the caller owns.
    */
  def nearDupInputs(docs: DataFrame, cfg: Config = Config(),
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    runCached(docs, recipe(cfg, idCol, textCol, None, None).takeWhile(_.name != "neardup"))._1

  /** RESUMABLE variant of [[run]]: every stage lands in a committed,
    * `_graft_tag`-identified Parquet table under `workDir` (the
    * [[StageStore]] protocol shared with [[CheckpointedPipeline]]), so a
    * crash after any stage resumes at the next one instead of restarting a
    * multi-hour 100 TB run from scratch. Each table is the next stage's
    * input, so a resumed stage never re-evaluates anything upstream of it.
    *
    * Tags chain the config: a stage is invalidated by the input fingerprint
    * plus every parameter at-or-upstream-of it (changing `tokensPerShard`
    * recomputes only `clean_corpus`; changing `minTokens` recomputes
    * everything from `quality` down). The optional embeddings table is
    * fingerprinted into the `neardup` tag — swapping embeddings re-clusters
    * without re-running the text gates.
    *
    * The returned frame and all intermediates are Parquet-backed: nothing to
    * unpersist; stage counts are metadata-cheap counts over the tables.
    *
    * Storage trade (deliberate): four of the six stage tables carry the
    * full text, so durable intermediates cost ~4x the corpus on disk while
    * a run is resumable. That is the standard price of mid-pipeline
    * resume; reclaim by deleting upstream stage dirs once a downstream
    * stage is committed and resume-from-upstream is no longer wanted (the
    * tags make a deleted stage recompute, never corrupt).
    */
  def runCheckpointed(spark: SparkSession, docs: DataFrame, workDir: String,
                      cfg: Config = Config(),
                      idCol: String = "doc_id", textCol: String = "text",
                      embeddings: Option[DataFrame] = None,
                      contentFingerprint: Boolean = false,
                      benchmark: Option[DataFrame] = None)
      : (DataFrame, StageCounts, CheckpointedPipeline.StageLog) = {
    val store = new StageStore(spark, workDir)
    val log = new CheckpointedPipeline.StageLog
    val fp = StageStore.fingerprint(spark, docs, contentFingerprint)
    val steps = recipe(cfg, idCol, textCol, embeddings, benchmark,
      StageStore.fingerprint(spark, _, contentFingerprint), Some(s"$workDir/_cc_scratch"))
    // the CC scratch is dropped once the neardup table is the durable copy
    val tables = try runStored(store, fp, log, docs, steps)
      finally store.deleteScratch("_cc_scratch")
    // input is the one frame with no committed table behind it — its count
    // is cached in the _metrics lineage keyed by the fingerprint, so a
    // fully-resumed run never re-executes the input subtree for a number
    val inputCount = store.cachedInputCount("input", fp, steps.head.tag)(docs.count())
    (tables("clean_corpus"), stageCounts(inputCount, tables(_).count(), benchmark.isDefined), log)
  }

  /** One recipe step: `build` maps the previous step's output to this
    * step's, registering each cache it makes through its callback. `tag`,
    * the resume identity chained from upstream, is evaluated on first use;
    * only the StageStore executor reads it.
    */
  private final class Step(val name: String, tagOf: => String,
                           val build: (DataFrame, DataFrame => DataFrame) => DataFrame) {
    lazy val tag: String = tagOf
  }

  /** Cache executor: persist and count each step's output, then release
    * the previous output and the step's registered caches. Returns the last
    * output (caller-owned) and every step's count.
    */
  private def runCached(docs: DataFrame, steps: Seq[Step]): (DataFrame, Map[String, Long]) = {
    var counts = Map.empty[String, Long]
    val last = steps.foldLeft(docs) { (prev, step) =>
      try releasing { register =>
        val built = step.build(prev, register)
        // a renamed operator result (line_clean's) is its operator's cache
        val out = if (built.storageLevel != StorageLevel.NONE) built
          else built.persist(StorageLevel.MEMORY_AND_DISK)
        try counts += step.name -> out.count()
        catch { case e: Throwable => out.unpersist(); throw e }
        out
      } finally if (prev ne docs) prev.unpersist()
    }
    (last, counts)
  }

  /** StageStore executor: commit (or resume) each step as a stage table,
    * the next step's input. The step's caches, its output included when
    * that is an operator's cache, go once the table is written. */
  private def runStored(store: StageStore, fp: String, log: CheckpointedPipeline.StageLog,
                        docs: DataFrame, steps: Seq[Step]): Map[String, DataFrame] =
    steps.map(_.name).zip(steps.scanLeft(docs) { (prev, step) =>
      releasing(reg => store.stage(step.name, fp, step.tag, log)(reg(step.build(prev, reg))))
    }.tail).toMap

  /** Run `body` with a callback that registers a cache; release them after. */
  private def releasing[A](body: (DataFrame => DataFrame) => A): A = {
    val handles = collection.mutable.ArrayBuffer.empty[DataFrame]
    try body { df => handles += df; df } finally handles.foreach(_.unpersist())
  }

  private def stageCounts(input: Long, n: String => Long, decontam: Boolean): StageCounts =
    StageCounts(input, n("line_clean"), n("quality"), n("exact"), n("clean_corpus"),
      if (decontam) Some(n("decontam")) else None)

  /** The recipe. `fingerprint` names the embeddings and benchmark tables in
    * tags; `ccScratch` holds the distributed CC loop's label tables. */
  private def recipe(cfg: Config, idCol: String, textCol: String,
                     embeddings: Option[DataFrame], benchmark: Option[DataFrame],
                     fingerprint: DataFrame => String = _ => sys.error("no tag on the cache path"),
                     ccScratch: Option[String] = None): Seq[Step] = {
    val mh = cfg.minhash
    // 1: line-level cleanup. The operator returns a persisted,
    // materialized frame; renamed, it is this step's output and its cache.
    lazy val cLine = s"mldf=${cfg.maxLineDocFreq}"
    val lineClean = new Step("line_clean", cLine, (docs, _) =>
      Dedup.stripBoilerplateLines(docs, cfg.maxLineDocFreq, idCol = idCol, textCol = textCol)
        .select(col(idCol), col("clean_text").as(textCol)))

    // 2: quality gate on the PRE-redaction text. Ordering matters twice:
    // PII placeholders would distort the token/punct ratios, and feeding
    // the redact expression INTO withQualityColumns makes CollapseProject
    // inline the 3-regex chain into every quality column — measured 19.4 s
    // fused vs 5.4 + 1.0 s sequenced on a 50k-doc corpus (`Probe clean-stages`). The
    // Gopher signal operators read the survivors from four join sides, so
    // the pre-gate frame is cached first (the self-join recompute edge).
    lazy val cQual = s"$cLine;mintok=${cfg.minTokens};maxpunct=${cfg.maxPunctRatio};" +
      cfg.gopher.map(_.tag).getOrElse("gopher=off")
    val quality = new Step("quality", cQual, (lines, register) => {
      val basic = TextAnalysis.withQualityColumns(lines, textCol)
        .filter(col("n_tokens") >= cfg.minTokens &&
          col("punct_ratio") <= cfg.maxPunctRatio)
        .select(col(idCol), col(textCol))
      cfg.gopher.fold(basic) { g =>
        val pre = register(basic.persist(StorageLevel.MEMORY_AND_DISK))
        pre.count()
        applyGopherGates(pre, g, idCol, textCol)
      }
    })

    // 3: PII scrub. The executor materializes it (cache or table) before
    // exact dedup reads it from two sides: a lazy projection would re-run
    // the 3-regex chain once per side (the CLAUDE.md self-join sharp edge).
    val redact = new Step("redact", cQual, (q, _) =>
      q.select(col(idCol), TextAnalysis.redactPii(col(textCol)).as(textCol)))

    // 4: exact dedup survivors on the REDACTED text (32-byte digest keys)
    val exact = new Step("exact", cQual, (redacted, _) =>
      redacted.join(Dedup.exactDedup(redacted, idCol, textCol).select(idCol),
        Seq(idCol), "left_semi"))

    // 4b (optional): benchmark decontamination — drop any doc containing a
    // benchmark item (n-gram containment >= the threshold) before near-dup
    // signs it. In the tag only when ENABLED, with the benchmark's own
    // fingerprint: swapping the eval set recomputes decontam + downstream
    // without re-running the text gates; workDirs without it resume as is.
    lazy val cDecon = benchmark.fold(cQual)(b =>
      s"$cQual;dcn=${cfg.decontamNgram};dct=${cfg.decontamMinContainment};bench=${fingerprint(b)}")
    val decontam = benchmark.map(b => new Step("decontam", cDecon, (survivors, register) => {
      val (flagged, benchGrams) = Dedup.ngramContainmentBloomWithHandle(
        survivors, b, cfg.decontamNgram, cfg.decontamMinContainment, idCol, textCol)
      benchGrams.foreach(register)
      // a gram-less benchmark would make this a silent no-op that ships
      // contaminated data (an emptied/mispointed table): fail loudly
      require(benchGrams.nonEmpty, s"decontamination benchmark produced zero " +
        s"${cfg.decontamNgram}-grams (empty or sub-gram table) — refusing to " +
        "silently skip the stage; drop the benchmark argument to disable decontam")
      survivors.join(flagged.select(col("doc_id").as(idCol)).distinct(), Seq(idCol), "left_anti")
    }))

    // 4c (optional): EXACT duplicate-span excision — rewrites text (no doc
    // is dropped); near-dup then clusters the excised text, so a span shared
    // by unrelated docs no longer glues them into one cluster. In the tag
    // only when ENABLED: an unconditional "spans=-1" would change every
    // existing workDir's neardup tag and recompute the expensive clustering
    // stages on upgrade with byte-identical semantics.
    lazy val cSpan = cfg.exactSpanTokens.map(l => s"$cDecon;spans=$l").getOrElse(cDecon)
    val spans = cfg.exactSpanTokens.map(l => new Step("exact_spans", cSpan, (survivors, register) => {
      register(Dedup.removeExactDuplicateSpans(survivors, l, idCol, textCol))
        .select(col(idCol), col("clean_text").as(textCol))
    }))

    // 5: near-dup clusters -> one representative per cluster. Composes
    // candidates+pairs directly (NOT MinHashPipeline.run, whose trailing
    // reference-CSV orderBy pays a full sort that clustering discards);
    // signature and sketch caches go as soon as cluster() has materialized
    // the labels. Small graphs solve on the driver; above the driver edge
    // limit the loop keeps per-iteration labels under `ccScratch` when given
    // (a lost executor re-reads parquet). keepbest= is in the tag only when
    // ENABLED (as spans=): existing workDirs keep the min-label rule.
    lazy val cNear = s"$cSpan;sh=${mh.shingleSize};sig=${mh.signatureSize};r=${mh.nBandRows};" +
      s"seed=${mh.seed};thr=${mh.threshold};cap=${cfg.starCapBucketSize.getOrElse(-1)};" +
      s"cp=${cfg.candidatePartitions.getOrElse(-1)};cos=${cfg.embeddingMinCosine};" +
      s"emb=${embeddings.map(fingerprint).getOrElse("none")}" +
      (if (cfg.keepBestByQuality) ";keepbest=on" else "")
    val nearDup = new Step("neardup", cNear, (corpus, register) => {
      val sigs = MinHashPipeline.signatures(
        corpus.select(col(idCol).as("doc_id"), col(textCol).as("content")), mh).toDF()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val clusters = try {
        val lexPairs = MinHashPipeline.pairs(
          MinHashPipeline.candidates(sigs, cfg.starCapBucketSize,
            candidatePartitions = cfg.candidatePartitions), sigs, mh)
          .select("doc1", "doc2")
        val (allPairs, sketch) = withSemanticPairs(corpus, lexPairs, embeddings, cfg, idCol)
        try ConnectedComponents.cluster(allPairs, corpus.select(col(idCol).as("doc_id")),
          reliableCheckpointDir = ccScratch)
        finally sketch.foreach(_.unpersist())
      } finally sigs.unpersist()
      if (cfg.keepBestByQuality) {
        // score once into a persisted frame (three join sides; the
        // self-join recompute sharp edge), elect, semi-join survivors
        val labeled = register(Dedup
          .clusterScoreLabels(corpus, clusters, richnessScore(textCol), idCol)
          .persist(StorageLevel.MEMORY_AND_DISK))
        val repIds = Dedup.electBest(labeled)
          .filter(col("is_rep") === 1).select(col("doc_id").as(idCol))
        corpus.join(repIds, Seq(idCol), "left_semi")
      } else Dedup.keepRepresentatives(corpus, clusters, idCol)
    })

    // 6: deterministic membership + token-budget shards
    lazy val cOut = s"$cNear;splits=${cfg.splits.map { case (n, w) => s"$n:$w" }.mkString(",")};" +
      s"sseed=${cfg.splitSeed};tps=${cfg.tokensPerShard}"
    val cleanCorpus = new Step("clean_corpus", cOut, (deduped, register) => {
      val withSplit = Corpus.split(deduped, cfg.splits, cfg.splitSeed, idCol)
      val shards = register(Corpus.tokenShards(
        withSplit.select(col(idCol),
          TextAnalysis.tokenCountWs(col(textCol)).cast("long").as("n_tokens")),
        cfg.tokensPerShard, idCol))
      withSplit.join(shards.select(col(idCol), col("shard_id")), Seq(idCol))
    })

    Seq(lineClean, quality, redact, exact) ++ decontam ++ spans ++ Seq(nearDup, cleanCorpus)
  }

  /** Integer content-richness score for keep-best election: whitespace
    * tokens minus punctuation chars, NULL text ranks last (-1). Integer
    * arithmetic on purpose — the rule stays replayable in an oracle
    * without IEEE ordering concerns (q_cluster_best pins exactly this
    * expression pair in DuckDB).
    */
  private def richnessScore(textCol: String): org.apache.spark.sql.Column = {
    val t = col(textCol)
    coalesce(
      TextAnalysis.tokenCountWs(t).cast("long")
        - (length(t) - length(regexp_replace(t, "[^A-Za-z0-9\\s]", ""))).cast("long"),
      lit(-1L))
  }

  /** Apply the [[GopherGates]] thresholds to (idCol, textCol) docs: four
    * exact signal operators joined per doc, one conjunctive filter. The
    * input must be materialization-backed (cache or parquet): the signal
    * kernels consume it from four sides.
    */
  private def applyGopherGates(docs: DataFrame, g: GopherGates,
                               idCol: String, textCol: String): DataFrame = {
    val rep = TextAnalysis.repetitionSignals(docs, idCol, textCol)
      .select(col(idCol), col("dup_line_frac"), col("dup_line_char_frac"))
    // both gram families in ONE kernel pass/exchange (column-identical to
    // the separate operators — property-tested in OperatorsSpec)
    val grams = TextAnalysis.ngramRepetitionFractions(docs, idCol, textCol)
    val shape = TextAnalysis.gopherQualitySignals(docs, idCol, textCol)
      .select(col(idCol), col("symbol_word_ratio"), col("bullet_line_frac"),
        col("ellipsis_line_frac"), col("alpha_word_frac"))
    val topCond = Seq(2, 3, 4).zip(g.maxTopNgramCharFrac)
      .map { case (n, t) => col(s"top_${n}gram_char_frac") <= t }.reduce(_ && _)
    val dupCond = (5 to 10).zip(g.maxDupNgramCharFrac)
      .map { case (n, t) => col(s"dup_${n}gram_char_frac") <= t }.reduce(_ && _)
    docs
      .join(rep, Seq(idCol)).join(grams, Seq(idCol)).join(shape, Seq(idCol))
      .filter(col("dup_line_frac") <= g.maxDupLineFrac &&
        col("dup_line_char_frac") <= g.maxDupLineCharFrac &&
        topCond && dupCond &&
        col("symbol_word_ratio") <= g.maxSymbolWordRatio &&
        col("bullet_line_frac") <= g.maxBulletLineFrac &&
        col("ellipsis_line_frac") <= g.maxEllipsisLineFrac &&
        col("alpha_word_frac") >= g.minAlphaWordFrac)
      .select(col(idCol), col(textCol))
  }

  /** The embeddings the semantic arm sketches: (vec_id: long, embedding)
    * rows of `embeddings` (idCol, embedding) whose id is in `survivors`.
    * Uncurated input guard: null ids / null or empty vectors would NPE
    * inside the sketch kernel (and a null first row would crash the dim
    * probe), so they are dropped; vectors must share one dimension. The
    * q_clean_embsketch artifact sketches this same frame.
    */
  private[graft] def survivorEmbeddings(embeddings: DataFrame, survivors: DataFrame,
                                        idCol: String = "doc_id"): DataFrame =
    embeddings
      .select(col(idCol).cast("long").as("vec_id"), col("embedding"))
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull &&
        size(col("embedding")) > 0)
      .join(survivors.select(col(idCol).cast("long").as("vec_id")), Seq("vec_id"), "left_semi")

  /** Optional SEMANTIC pairs (embedding-cosine near-dups of the surviving
    * docs, LSH-candidate join) unioned with the lexical pairs, plus the
    * sketch cache the CALLER releases once clustering has materialized.
    */
  private def withSemanticPairs(survivors: DataFrame, lexPairs: DataFrame,
                                embeddings: Option[DataFrame], cfg: Config,
                                idCol: String): (DataFrame, Option[DataFrame]) =
    embeddings match {
      case Some(emb0) =>
        val emb = survivorEmbeddings(emb0, survivors, idCol)
        // dim probed from the FILTERED survivors (size > 0, never null)
        val dim = emb.select(size(col("embedding"))).limit(1).collect()
          .headOption.map(_.getInt(0)).getOrElse(0)
        if (dim == 0) (lexPairs, None)
        else {
          val (semPairs, sketch) = Similarity.embeddingNearDupPairsWithHandle(
            emb, cfg.embeddingMinCosine, dim)
          (lexPairs.union(semPairs.select("doc1", "doc2")), Some(sketch))
        }
      case None => (lexPairs, None)
    }
}
