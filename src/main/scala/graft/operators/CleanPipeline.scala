package graft.operators

import graft.core.MinHashConfig
import graft.functions.TextAnalysis
import graft.plans.{CheckpointedPipeline, StageStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed end-to-end training-data cleaning recipe (the C4/RefinedWeb
  * shape), built entirely from this library's operators:
  *
  *   1. corpus-wide boilerplate-LINE removal ([[Dedup.stripBoilerplateLines]])
  *   2. quality filtering (token count + punctuation ratio,
  *      [[TextAnalysis.withQualityColumns]]) — BEFORE redaction, so PII
  *      placeholders never distort the ratios (and see the in-code CSE
  *      note: fusing the redact chain into the quality projection makes
  *      Catalyst inline it per column, measured 3x slower)
  *   3. PII redaction of the survivors ([[TextAnalysis.redactPii]])
  *   4. exact dedup (sha-256 digest groups, [[Dedup.exactDedup]])
  *   5. near-dup dedup (MinHash/LSH pairs — optionally UNIONED with
  *      embedding-cosine semantic pairs — -> connected components ->
  *      min-id representatives, [[MinHashPipeline]] / [[Similarity]] /
  *      [[ConnectedComponents]] / [[Dedup.keepRepresentatives]])
  *   6. deterministic split + token-budget sharding ([[Corpus]])
  *
  * Each stage is individually oracle- or parity-pinned; this runner only
  * composes them (plus the stage-count bookkeeping a production run logs),
  * so its scale story is exactly the sum of its parts: narrow scans,
  * digest-keyed shuffles, one LSH bucket shuffle, O(log D) label rounds,
  * a broadcast-able representative semi-join, and the two-pass prefix sum.
  *
  * Cache lifetime is CALLER-owned (the repo-wide operator contract):
  * clearCache()/unpersist the returned frame when done.
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
  final case class StageCounts(input: Long, afterLineClean: Long,
                               afterQuality: Long, afterExactDedup: Long,
                               output: Long,
                               afterDecontam: Option[Long] = None)

  /** @param embeddings optional (idCol, embedding: array&lt;float&gt;) table:
    *   when present, embedding-cosine near-dup pairs (>= embeddingMinCosine,
    *   via the multiprobe LSH candidate join) are UNIONED with the lexical
    *   MinHash pairs before clustering — lexically-rewritten but
    *   semantically-identical docs land in the same component and dedup
    *   together. Only embeddings of docs that survived the earlier gates
    *   participate (semi-join).
    * @return (clean corpus: idCol, text, split, shard_id; stage counts).
    * The returned frame is persisted and materialized; every internal
    * cache is released before returning — the caller owns exactly one
    * handle (unpersist the result when done).
    */
  def run(docs: DataFrame, cfg: Config = Config(),
          idCol: String = "doc_id", textCol: String = "text",
          embeddings: Option[DataFrame] = None,
          benchmark: Option[DataFrame] = None): (DataFrame, StageCounts) = {
    val nInput = docs.count()

    // 1: line-level cleanup (returns a persisted, materialized frame —
    // we hold its handle and release it once quality materializes)
    val stripped = Dedup.stripBoilerplateLines(
      docs, cfg.maxLineDocFreq, idCol = idCol, textCol = textCol)
    val nLineClean = stripped.count() // cache-backed: already materialized

    // 2: quality gate on the PRE-redaction text. Ordering matters twice:
    // PII placeholders would distort the token/punct ratios, and feeding
    // the redact expression INTO withQualityColumns makes CollapseProject
    // inline the 3-regex chain into every quality column — measured 19.4 s
    // fused vs 5.4 + 1.0 s sequenced on a 50k-doc corpus (CleanProbe).
    val basicQuality = TextAnalysis.withQualityColumns(
        stripped.select(col(idCol), col("clean_text").as(textCol)), textCol)
      .filter(col("n_tokens") >= cfg.minTokens &&
        col("punct_ratio") <= cfg.maxPunctRatio)
      .select(col(idCol), col(textCol))
    // optional Gopher gates: the signal operators consume the survivors
    // from SEVERAL join sides — persist the pre-gate frame first (the
    // self-join recompute sharp edge), gate, then persist the result
    val (quality, nQuality) = cfg.gopher match {
      case Some(g) =>
        val pre = basicQuality.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pre.count()
        val gated = applyGopherGates(pre, g, idCol, textCol)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = gated.count() // materializes AND is the stage count — one job
        pre.unpersist()
        (gated, n)
      case None =>
        val q = basicQuality.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        (q, q.count())
    }
    stripped.unpersist()

    // 3: PII scrub of the survivors — persisted and MATERIALIZED before
    // the exact-dedup self-join below consumes it from two sides (the
    // un-persisted projection would re-run the 3-regex chain once per
    // side: the CLAUDE.md self-join sharp edge)
    val redacted = quality
      .select(col(idCol), TextAnalysis.redactPii(col(textCol)).as(textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    redacted.count()
    quality.unpersist()

    // 4: exact dedup survivors on the REDACTED text (digest-keyed:
    // 32-byte shuffle keys)
    val exact = redacted
      .join(Dedup.exactDedup(redacted, idCol, textCol).select(idCol),
        Seq(idCol), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nExact = exact.count()
    redacted.unpersist()

    // 4b (optional): benchmark decontamination of the survivors — drop
    // any doc containing a benchmark item (n-gram containment >= the
    // threshold) before the expensive near-dup stage signs it. The
    // benchmark-gram cache is released as soon as the survivor set
    // materializes; the survivor cache itself at the end.
    var decontamHandle: Option[DataFrame] = None
    val (afterDecontam, nDecontam) = benchmark match {
      case Some(b) =>
        val (flagged, benchHandle) = Dedup.ngramContainmentBloomWithHandle(
          exact, b, cfg.decontamNgram, cfg.decontamMinContainment, idCol, textCol)
        // a gram-less benchmark makes decontamination a silent no-op —
        // in a recipe that is a compliance bug (an emptied/mispointed
        // benchmark table ships contaminated data), so fail loudly
        require(benchHandle.nonEmpty, s"decontamination benchmark produced zero " +
          s"${cfg.decontamNgram}-grams (empty or sub-gram table) — refusing to " +
          "silently skip the stage; drop the benchmark argument to disable decontam")
        val d = exact.join(
            flagged.select(col("doc_id").as(idCol)).distinct(),
            Seq(idCol), "left_anti")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        decontamHandle = Some(d)
        val nD = d.count()
        benchHandle.foreach(_.unpersist())
        (d, Some(nD))
      case None => (exact, None)
    }

    // 4c (optional): EXACT duplicate-span excision on the survivors —
    // rewrites text (no doc is dropped, counts unchanged); near-dup then
    // clusters the excised text, so a boilerplate span shared by unrelated
    // docs no longer glues them into one cluster
    // the operator returns its output persisted + materialized — consume
    // the rename-projection straight off that cache (re-persisting the
    // same text would transiently double-cache the corpus); the handle is
    // released with the other caches at the end
    var spanHandle: Option[DataFrame] = None
    val corpus = cfg.exactSpanTokens match {
      case Some(l) =>
        val spans = Dedup.removeExactDuplicateSpans(afterDecontam, l, idCol, textCol)
        spanHandle = Some(spans)
        spans.select(col(idCol), col("clean_text").as(textCol))
      case None => afterDecontam
    }

    // 5: near-dup clusters -> one representative per cluster. Composes
    // candidates+pairs directly (NOT MinHashPipeline.run, whose trailing
    // reference-CSV orderBy would pay a full sort that clustering
    // discards) and owns the signature cache so it can be released as
    // soon as the labels are materialized (cluster() checkpoints them).
    val sigs = MinHashPipeline.signatures(
      corpus.select(col(idCol).as("doc_id"), col(textCol).as("content")),
      cfg.minhash).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lexPairs = MinHashPipeline.pairs(
      MinHashPipeline.candidates(sigs, cfg.starCapBucketSize,
        candidatePartitions = cfg.candidatePartitions), sigs, cfg.minhash)
      .select("doc1", "doc2")
    val (allPairs, sketchHandle) = withSemanticPairs(corpus, lexPairs, embeddings, cfg, idCol)
    val clusters = ConnectedComponents.cluster(
      allPairs, corpus.select(col(idCol).as("doc_id")))
    sigs.unpersist()
    sketchHandle.foreach(_.unpersist())
    var bestHandle: Option[DataFrame] = None
    val deduped =
      if (cfg.keepBestByQuality) {
        // score once into a persisted frame (three join sides; the
        // self-join recompute sharp edge), elect, semi-join survivors
        val labeled = Dedup
          .clusterScoreLabels(corpus, clusters, richnessScore(textCol), idCol)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        bestHandle = Some(labeled)
        val repIds = Dedup.electBest(labeled)
          .filter(col("is_rep") === 1)
          .select(col("doc_id").as(idCol))
        corpus.join(repIds, Seq(idCol), "left_semi")
      } else Dedup.keepRepresentatives(corpus, clusters, idCol)

    // 6: deterministic membership + token-budget shards
    val withSplit = Corpus.split(deduped, cfg.splits, cfg.splitSeed, idCol)
    val shards = Corpus.tokenShards(
      withSplit.select(col(idCol),
        TextAnalysis.tokenCountWs(col(textCol)).cast("long").as("n_tokens")),
      cfg.tokensPerShard, idCol)
    val out = withSplit
      .join(shards.select(col(idCol), col("shard_id")), Seq(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nOut = out.count()
    shards.unpersist()
    exact.unpersist()
    decontamHandle.foreach(_.unpersist())
    spanHandle.foreach(_.unpersist())
    bestHandle.foreach(_.unpersist())
    (out, StageCounts(nInput, nLineClean, nQuality, nExact, nOut, nDecontam))
  }

  /** Stages 1–4 of [[run]] (boiler-strip → quality [→ gopher] → PII redact
    * → exact-dedup survivors) as one composition: the near-dup stage's
    * input corpus, (idCol, textCol with the REDACTED text). Exists so the
    * committed-artifact queries (q_clean_signatures / q_clean_embsketch)
    * can commit exactly the frame run()'s near-dup stage consumes, making
    * the WHOLE composed recipe DuckDB-replayable: the SQL replay of stages
    * 1–4 must equal THIS frame (q_clean_signatures' oracle) and the full
    * pipeline replay from the committed artifacts must equal run()'s
    * output (q_clean_pipeline's oracle) — drift on either side is a red
    * correctness row. No cache choreography beyond the self-join persist
    * the exact-dedup sharp edge requires (run() keeps its tuned
    * equivalent); cache lifetime is CALLER-owned as everywhere.
    */
  def nearDupInputs(docs: DataFrame, cfg: Config = Config(),
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val stripped = Dedup.stripBoilerplateLines(
      docs, cfg.maxLineDocFreq, idCol = idCol, textCol = textCol)
    val basicQuality = TextAnalysis.withQualityColumns(
        stripped.select(col(idCol), col("clean_text").as(textCol)), textCol)
      .filter(col("n_tokens") >= cfg.minTokens &&
        col("punct_ratio") <= cfg.maxPunctRatio)
      .select(col(idCol), col(textCol))
    val quality = cfg.gopher match {
      case Some(g) =>
        val pre = basicQuality.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        pre.count()
        applyGopherGates(pre, g, idCol, textCol)
      case None => basicQuality
    }
    val redacted = quality
      .select(col(idCol), TextAnalysis.redactPii(col(textCol)).as(textCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    redacted.count()
    redacted.join(Dedup.exactDedup(redacted, idCol, textCol).select(idCol),
      Seq(idCol), "left_semi")
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
    * exact signal operators joined per doc, one conjunctive filter — the
    * one gate implementation for BOTH [[run]] and [[runCheckpointed]].
    * The input must be materialization-backed (cache or parquet): the
    * signal kernels consume it from four sides.
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

  /** Optional SEMANTIC pairs (embedding-cosine near-dups of the surviving
    * docs, LSH-candidate join) unioned with the lexical pairs — the one
    * near-dup pair source for BOTH [[run]] and [[runCheckpointed]] (shared
    * so the guard logic cannot drift between the two paths). Returns the
    * pair frame plus the sketch cache handle the CALLER must release after
    * clustering materializes.
    */
  private def withSemanticPairs(exact: DataFrame, lexPairs: DataFrame,
                                embeddings: Option[DataFrame], cfg: Config,
                                idCol: String): (DataFrame, Option[DataFrame]) =
    embeddings match {
      case Some(emb0) =>
        // uncurated input guard: null ids / null or empty vectors would NPE
        // inside the sketch kernel (and a null first row would crash the
        // dim probe) — drop them; vectors must share one dimension.
        // Only embeddings of docs that survived the earlier gates join.
        val emb = emb0
          .select(col(idCol).cast("long").as("vec_id"), col("embedding"))
          .filter(col("vec_id").isNotNull && col("embedding").isNotNull &&
            size(col("embedding")) > 0)
          .join(exact.select(col(idCol).cast("long").as("vec_id")),
            Seq("vec_id"), "left_semi")
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

  /** RESUMABLE variant of [[run]]: every stage lands in a committed,
    * `_graft_tag`-identified Parquet table under `workDir` (the
    * [[StageStore]] protocol shared with [[CheckpointedPipeline]]), so a
    * crash after any stage resumes at the next one instead of restarting a
    * multi-hour 100 TB run from scratch — a crash after near-dup clustering
    * resumes directly at split/shards.
    *
    * Stage graph (each table is the next stage's input, so a resumed stage
    * never re-evaluates anything upstream of it):
    *
    *   line_clean -> quality -> redact -> exact [-> decontam]
    *     [-> exact_spans] -> neardup -> clean_corpus
    *
    * Tags chain the config: a stage is invalidated by the input fingerprint
    * plus every parameter at-or-upstream-of it (changing `tokensPerShard`
    * recomputes only `clean_corpus`; changing `minTokens` recomputes
    * everything from `quality` down). The optional embeddings table is
    * fingerprinted into the `neardup` tag — swapping embeddings re-clusters
    * without re-running the text gates.
    *
    * Unlike [[run]] (whose intermediates are caller-released caches), the
    * returned frame and all intermediates here are Parquet-backed: there is
    * nothing to unpersist, and stage counts are metadata-cheap counts over
    * the committed tables.
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
    val embFp = embeddings
      .map(e => StageStore.fingerprint(spark, e, contentFingerprint))
      .getOrElse("none")

    val cLine = s"mldf=${cfg.maxLineDocFreq}"
    val cQual = s"$cLine;mintok=${cfg.minTokens};maxpunct=${cfg.maxPunctRatio};" +
      cfg.gopher.map(_.tag).getOrElse("gopher=off")
    val mh = cfg.minhash
    // decontam component only when ENABLED (a benchmark table is passed):
    // the benchmark's own fingerprint is in the tag, so swapping the eval
    // set recomputes decontam + downstream without re-running the text
    // gates; pre-existing workDirs without decontam resume unchanged
    val cDecon = benchmark match {
      case Some(b) =>
        val bFp = StageStore.fingerprint(spark, b, contentFingerprint)
        s"$cQual;dcn=${cfg.decontamNgram};dct=${cfg.decontamMinContainment};bench=$bFp"
      case None => cQual
    }
    // spans component only when ENABLED: unconditionally embedding
    // "spans=-1" would change every pre-existing workDir's neardup tag and
    // force the expensive clustering stages to recompute on upgrade with
    // byte-identical semantics
    val cSpan = cfg.exactSpanTokens.map(l => s"$cDecon;spans=$l").getOrElse(cDecon)
    val cNearBase = s"$cSpan;sh=${mh.shingleSize};sig=${mh.signatureSize};r=${mh.nBandRows};" +
      s"seed=${mh.seed};thr=${mh.threshold};cap=${cfg.starCapBucketSize.getOrElse(-1)};" +
      s"cp=${cfg.candidatePartitions.getOrElse(-1)};cos=${cfg.embeddingMinCosine};emb=$embFp"
    // keep-best component only when ENABLED (same rationale as spans=):
    // pre-existing workDirs keep resuming under the default min-label rule
    val cNear =
      if (cfg.keepBestByQuality) s"$cNearBase;keepbest=on" else cNearBase
    val cOut = s"$cNear;splits=${cfg.splits.map { case (n, w) => s"$n:$w" }.mkString(",")};" +
      s"sseed=${cfg.splitSeed};tps=${cfg.tokensPerShard}"

    // 1: line-level cleanup. stripBoilerplateLines returns a persisted
    // frame (its internal contract) — release it once the table is written.
    var strippedHandle: Option[DataFrame] = None
    val lineClean = store.stage("line_clean", fp, cLine, log) {
      val s = Dedup.stripBoilerplateLines(docs, cfg.maxLineDocFreq, idCol = idCol, textCol = textCol)
      strippedHandle = Some(s)
      s.select(col(idCol), col("clean_text").as(textCol))
    }
    strippedHandle.foreach(_.unpersist())

    // 2: quality gate on the PRE-redaction text (ordering rationale in
    // [[run]]); with Gopher gates the signal kernels consume the pre-gate
    // survivors from four join sides — cache it for the stage write, then
    // release (the committed table is the durable copy)
    var preGateHandle: Option[DataFrame] = None
    val quality = store.stage("quality", fp, cQual, log) {
      val basic = TextAnalysis.withQualityColumns(lineClean, textCol)
        .filter(col("n_tokens") >= cfg.minTokens &&
          col("punct_ratio") <= cfg.maxPunctRatio)
        .select(col(idCol), col(textCol))
      cfg.gopher match {
        case Some(g) =>
          val pre = basic.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          preGateHandle = Some(pre)
          pre.count()
          applyGopherGates(pre, g, idCol, textCol)
        case None => basic
      }
    }
    preGateHandle.foreach(_.unpersist())

    // 3: PII scrub. The committed table replaces [[run]]'s materialization
    // boundary: downstream self-joins re-scan Parquet, never the regex chain.
    val redacted = store.stage("redact", fp, cQual, log) {
      quality.select(col(idCol), TextAnalysis.redactPii(col(textCol)).as(textCol))
    }

    // 4: exact dedup survivors on the redacted text
    val exact = store.stage("exact", fp, cQual, log) {
      redacted.join(Dedup.exactDedup(redacted, idCol, textCol).select(idCol),
        Seq(idCol), "left_semi")
    }

    // 4b (optional): benchmark decontamination — its own committed stage
    // table (the flag pass over the corpus resumes); enabling/disabling or
    // swapping the benchmark invalidates spans/neardup/downstream through
    // the chained tag (cDecon is a prefix of cSpan/cNear)
    var benchGramHandle: Option[DataFrame] = None
    val afterDecontam = benchmark match {
      case Some(b) =>
        val st = store.stage("decontam", fp, cDecon, log) {
          val (flagged, bh) = Dedup.ngramContainmentBloomWithHandle(
            exact, b, cfg.decontamNgram, cfg.decontamMinContainment, idCol, textCol)
          benchGramHandle = bh
          // gram-less benchmark = silent no-op = compliance bug: fail loudly
          // (same contract as run(); see the rationale there)
          require(bh.nonEmpty, s"decontamination benchmark produced zero " +
            s"${cfg.decontamNgram}-grams (empty or sub-gram table) — refusing to " +
            "silently skip the stage; drop the benchmark argument to disable decontam")
          exact.join(
            flagged.select(col("doc_id").as(idCol)).distinct(),
            Seq(idCol), "left_anti")
        }
        benchGramHandle.foreach(_.unpersist())
        st
      case None => exact
    }

    // 4c (optional): exact duplicate-span excision — its own committed
    // stage table so the expensive window pass resumes; enabling/disabling
    // or changing the window length invalidates neardup and downstream
    // through the chained tag (cSpan is a prefix of cNear)
    var spanHandle: Option[DataFrame] = None
    val corpus = cfg.exactSpanTokens match {
      case Some(l) =>
        val st = store.stage("exact_spans", fp, cSpan, log) {
          val s = Dedup.removeExactDuplicateSpans(afterDecontam, l, idCol, textCol)
          spanHandle = Some(s)
          s.select(col(idCol), col("clean_text").as(textCol))
        }
        spanHandle.foreach(_.unpersist())
        st
      case None => afterDecontam
    }

    // 5: near-dup (lexical + optional semantic) -> representatives
    var sigsHandle: Option[DataFrame] = None
    var sketchHandle: Option[DataFrame] = None
    var bestHandle: Option[DataFrame] = None
    val deduped = store.stage("neardup", fp, cNear, log) {
      val sigs = MinHashPipeline.signatures(
        corpus.select(col(idCol).as("doc_id"), col(textCol).as("content")), mh).toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sigsHandle = Some(sigs)
      val lexPairs = MinHashPipeline.pairs(
        MinHashPipeline.candidates(sigs, cfg.starCapBucketSize,
          candidatePartitions = cfg.candidatePartitions), sigs, mh)
        .select("doc1", "doc2")
      val (allPairs, sketch) = withSemanticPairs(corpus, lexPairs, embeddings, cfg, idCol)
      sketchHandle = sketch
      // small graphs solve on the driver with no iteration tables; above
      // the driver edge limit the loop keeps durable per-iteration labels
      // (a lost executor re-reads parquet), scratch dropped below once the
      // stage table is the durable copy
      val clusters = ConnectedComponents.cluster(
        allPairs, corpus.select(col(idCol).as("doc_id")),
        reliableCheckpointDir = Some(s"$workDir/_cc_scratch"))
      if (cfg.keepBestByQuality) {
        val labeled = Dedup
          .clusterScoreLabels(corpus, clusters, richnessScore(textCol), idCol)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        bestHandle = Some(labeled)
        val repIds = Dedup.electBest(labeled)
          .filter(col("is_rep") === 1)
          .select(col("doc_id").as(idCol))
        corpus.join(repIds, Seq(idCol), "left_semi")
      } else Dedup.keepRepresentatives(corpus, clusters, idCol)
    }
    sigsHandle.foreach(_.unpersist())
    sketchHandle.foreach(_.unpersist())
    bestHandle.foreach(_.unpersist())
    store.deleteScratch("_cc_scratch")

    // 6: deterministic membership + token-budget shards
    var shardsHandle: Option[DataFrame] = None
    val out = store.stage("clean_corpus", fp, cOut, log) {
      val withSplit = Corpus.split(deduped, cfg.splits, cfg.splitSeed, idCol)
      val shards = Corpus.tokenShards(
        withSplit.select(col(idCol),
          TextAnalysis.tokenCountWs(col(textCol)).cast("long").as("n_tokens")),
        cfg.tokensPerShard, idCol)
      shardsHandle = Some(shards)
      withSplit.join(shards.select(col(idCol), col("shard_id")), Seq(idCol))
    }
    shardsHandle.foreach(_.unpersist())

    // input is the one frame with no committed table behind it — its count
    // is cached in the _metrics lineage keyed by the fingerprint, so a
    // fully-resumed run never re-executes the input subtree for a number
    val inputCount = store.cachedInputCount("input", fp, cLine)(docs.count())
    val counts = StageCounts(inputCount, lineClean.count(), quality.count(),
      exact.count(), out.count(), benchmark.map(_ => afterDecontam.count()))
    (out, counts, log)
  }
}
