package graft

import graft.core.MinHashConfig
import graft.functions.TextAnalysis
import graft.operators._
import graft.sources.CorpusGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2 + the training-data-pipeline extensions), with a DuckDB
  * `oracleSql` for every SQL-expressible one — including the rolling-hash
  * fingerprint (wrapping u64 emulated via HUGEINT in DuckDB). MurmurHash2
  * kernels (MinHash/LSH/SimHash, hyperplane LSH) are not expressible in
  * DuckDB SQL — they get rows-only checks per the Verify contract and are
  * instead pinned by the golden reference tests (GoldenPipelineSpec /
  * ReferenceParitySpec vs the compiled reference binary's results.csv).
  */
object SparkEntry {

  /** MinHash config used for the documents-table queries (word-salad corpus
    * with planted near-dups; 2-gram Jaccard of the planted pairs reaches
    * 0.99, so 3-shingles at threshold 0.3 separates them cleanly).
    */
  private val docCfg = MinHashConfig(
    shingleSize = 3, signatureSize = 128, nBandRows = 4, seed = 13, threshold = 0.3)

  /** 12-token template block injected (twice) for q_repetition_dupgrams —
    * must stay byte-identical between the Spark query and its oracle SQL.
    */
  private val DupGramPhrase =
    " tpl one two three four five six seven eight nine ten end"

  private def documents(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  private def docsAsCorpus(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).select(col("doc_id"), col("text").as("content"))

  private def embeddings(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/embeddings.parquet")

  /** Input for the perceptual-image-dedup queries: documents plus every
    * 25th doc RE-INGESTED under a shifted id — the re-encoded-copy
    * scenario image dedup exists for. Offset 273273 ≡ 0 mod (3, 13, 7)
    * so a planted copy keeps the asset modality AND synth dims: same
    * text + same dims = byte-identical PNG = Hamming-0 pair, at every sf
    * (natural image dups need not exist in a small slice).
    */
  private def imageDupDocs(spark: SparkSession, dir: String): DataFrame = {
    val base = documents(spark, dir).select(col("doc_id"), col("text"))
    base.union(base.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 273273L).as("doc_id"), col("text")))
  }

  /** Audio analog of [[imageDupDocs]]: offset 4800000 ≡ 0 mod (3, 16)
    * keeps the planted copy's modality AND synth duration — byte-identical
    * WAV, Hamming-0 pair at every sf.
    */
  private def audioDupDocs(spark: SparkSession, dir: String): DataFrame = {
    val base = documents(spark, dir).select(col("doc_id"), col("text"))
    base.union(base.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 4800000L).as("doc_id"), col("text")))
  }

  /** Video analog: offset 6000000 ≡ 0 mod (3, 4, 60) preserves modality,
    * synth dims (w %4, h %3) and duration (%60) — byte-identical Y4M.
    */
  private def videoDupDocs(spark: SparkSession, dir: String): DataFrame = {
    val base = documents(spark, dir).select(col("doc_id"), col("text"))
    base.union(base.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 6000000L).as("doc_id"), col("text")))
  }

  /** Combined input for the end-to-end modality-dedup queries: documents
    * plus every 25th doc re-ingested under its MODALITY-MATCHED offset
    * (image +273273, audio +4800000, video +6000000 — each ≡ 0 mod 3 AND
    * mod its modality's synth params, so every planted copy is a
    * byte-identical asset = Hamming-0 pair to its source). The input shape
    * Multimodal.dedupCheckpointed (`--modality-dedup`) consumes.
    */
  private def mmCombinedDocs(spark: SparkSession, dir: String): DataFrame = {
    val base = documents(spark, dir).select(col("doc_id"), col("text"))
    val every25 = base.filter(col("doc_id") % 25 === 0)
    base
      .union(every25.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + 273273L).as("doc_id"), col("text")))
      .union(every25.filter(col("doc_id") % 3 === 1)
        .select((col("doc_id") + 4800000L).as("doc_id"), col("text")))
      .union(every25.filter(col("doc_id") % 3 === 2)
        .select((col("doc_id") + 6000000L).as("doc_id"), col("text")))
  }

  /** The modality-dedup recipe's fingerprint frame over the combined
    * planted input — shared by q_mm_fps / q_mm_clusters / q_mm_dedup_corpus
    * so all three provably run dedupCheckpointed's exact first stage
    * (one shared asset pass feeding the three modality branches).
    */
  private def mmFpsFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val assets = Multimodal.synthesizeAssets(mmCombinedDocs(s, dir)).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Multimodal.modalityFingerprints(assets.as[Multimodal.MediaAsset])
  }

  /** Flagship: the full near-dup pipeline (signatures -> LSH candidates ->
    * similarity pairs) on sf0.001 documents. Driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    MinHashPipeline.run(docsAsCorpus(spark, "/root/testdata/sf0.001"), docCfg)

  /** Array-bearing committed frames — the `@GRAFT_OUT@` replay substrate.
    * Verify writes each one to `outDir/_artifact_<name>`: the driver's `q*`
    * glob never compares them (its pandas sort cannot hash ndarray cells —
    * the r6 regression that `err`ed 8 rows), but the downstream oracles
    * read the arrays from here, and each artifact's CONTENT is value-pinned
    * by a scalar digest query below (u64Fold on the Spark side, the
    * q_fingerprint HUGEINT fold in DuckDB).
    */
  def artifacts: Map[String, (SparkSession, String) => DataFrame] = Map(
    "minhash_signatures" -> ((s, dir) =>
      // the FULL signature + band arrays: candidates/pairs/clusters/
      // survivors are re-derived from them downstream via @GRAFT_OUT@
      MinHashPipeline.signatures(docsAsCorpus(s, dir), docCfg)
        .toDF().select(col("doc_id"), col("signature"), col("bands"))
        .orderBy("doc_id")),
    "clean_signatures" -> ((s, dir) =>
      cleanSignaturesFrame(s, dir).orderBy("doc_id")),
    "clean_embsketch" -> ((s, dir) =>
      cleanEmbSketchFrame(s, dir).orderBy("vid")),
    "ann_sketch" -> ((s, dir) =>
      Similarity.lshSketchFrame(embeddings(s, dir), dim = 64).orderBy("vid")),
    "ann_ivf_centroids" -> ((s, dir) =>
      Similarity.ivfCentroidsFrame(embeddings(s, dir), nCentroids = 16)
        .orderBy("centroid_id")),
    "ann_ivf_cells" -> ((s, dir) =>
      Similarity.ivfCellsFrame(embeddings(s, dir), nCentroids = 16, nProbe = 12)
        .orderBy("vid")),
    "pq_books" -> ((s, dir) =>
      Similarity.pqBooksFrame(embeddings(s, dir)).orderBy("sub_idx", "code_id")),
    "pq_codes" -> ((s, dir) =>
      Similarity.pqCodesFrame(embeddings(s, dir)).orderBy("vid")),
    "embed_sketch" -> ((s, dir) =>
      Similarity.lshSketchFrame(embeddings(s, dir), dim = 64, nTables = 12, nProbes = 8)
        .orderBy("vid")),
    "mm_features" -> ((s, dir) => mmFeaturesFrame(s, dir).orderBy("asset_id"))
  )

  /** The recipe near-dup stage's signature frame (shared by the artifact
    * and its digest query so both provably run the SAME code path).
    */
  private def cleanSignaturesFrame(s: SparkSession, dir: String): DataFrame = {
    val cfg = CleanPipeline.Config(maxLineDocFreq = 20L, tokensPerShard = 50000L)
    MinHashPipeline.signatures(
        CleanPipeline.nearDupInputs(
            documents(s, dir).select(col("doc_id"), col("text")), cfg)
          .select(col("doc_id"), col("text").as("content")),
        cfg.minhash)
      .toDF().select(col("doc_id"), col("signature"), col("bands"))
  }

  /** The recipe semantic arm's sketch over SURVIVOR embeddings at
    * withSemanticPairs' exact config (12 tables x 8 bits, seed 42, blind
    * nProbes = bandBits = 8) — shared by artifact + digest query.
    */
  private def cleanEmbSketchFrame(s: SparkSession, dir: String): DataFrame = {
    val cfg = CleanPipeline.Config(maxLineDocFreq = 20L, tokensPerShard = 50000L)
    val surv = CleanPipeline.nearDupInputs(
      documents(s, dir).select(col("doc_id"), col("text")), cfg)
    val emb = CleanPipeline.survivorEmbeddings(
      embeddings(s, dir).select(col("vec_id").as("doc_id"), col("embedding")), surv)
    Similarity.lshSketchFrame(emb, dim = 64, nTables = 12, nProbes = 8)
  }

  /** The multimodal feature frame incl. the 16-bin histogram array and the
    * synth dims — shared by the artifact and the scalar digest query.
    */
  private def mmFeaturesFrame(s: SparkSession, dir: String): DataFrame = {
    val assets = Multimodal.synthesizeAssets(documents(s, dir)).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    import s.implicits._
    val feats = Multimodal.extractFeatures(assets.as[Multimodal.MediaAsset]).toDF()
      .select(col("asset_id"), col("modality"), col("n_bytes"),
        round(col("byte_entropy"), 9).as("byte_entropy"),
        col("histogram"), col("thumb_w"), col("thumb_h"))
    feats
      .join(assets.select(col("asset_id"), col("width"), col("height")), "asset_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- flagship MinHash/LSH dedup pipeline (reference parity ops) ----
    "q_minhash_signatures" -> ((s, dir) =>
      // scalar digest surface over the committed-array artifact's exact
      // computation: the driver compares (doc_id, n_sig, sig_digest,
      // band_digest) while the arrays live in _artifact_minhash_signatures;
      // the oracle recomputes the digests (and the Q4 band fold) FROM the
      // artifact, so a drifted/missing/extra artifact row hash-mismatches
      MinHashPipeline.signatures(docsAsCorpus(s, dir), docCfg)
        .toDF().select(col("doc_id"),
          size(col("signature")).cast("long").as("n_sig"),
          graft.functions.VectorExprs.u64Fold(col("signature")).as("sig_digest"),
          graft.functions.VectorExprs.u64Fold(col("bands")).as("band_digest"))
        .orderBy("doc_id")),
    "q_lsh_candidates" -> ((s, dir) =>
      MinHashPipeline.candidates(
        MinHashPipeline.signatures(docsAsCorpus(s, dir), docCfg).toDF())
        .orderBy("doc1", "doc2")),
    "q_minhash_pairs" -> ((s, dir) => MinHashPipeline.run(docsAsCorpus(s, dir), docCfg)),
    "q_exact_jaccard_verify" -> ((s, dir) => {
      val docs = docsAsCorpus(s, dir)
      val sigs = MinHashPipeline.signatures(docs, docCfg).toDF()
      MinHashPipeline.exactJaccardPairs(MinHashPipeline.candidates(sigs), docs, docCfg)
        .filter(col("jaccard") >= 0.3).orderBy("doc1", "doc2")
    }),
    "q_minhash_clusters" -> ((s, dir) => {
      val docs = docsAsCorpus(s, dir)
      // runUnsorted: clustering discards pair order — run()'s trailing
      // reference-CSV sort would cost a range-partitioner SAMPLING pass
      // that executes the pair subtree twice (round 8)
      ConnectedComponents
        .cluster(MinHashPipeline.runUnsorted(docs, docCfg), docs.select("doc_id"))
        .orderBy("doc_id")
    }),
    "q_dedup_corpus" -> ((s, dir) => {
      // the end product: one representative doc per near-dup cluster
      val docs = docsAsCorpus(s, dir)
      val clusters = ConnectedComponents
        .cluster(MinHashPipeline.runUnsorted(docs, docCfg), docs.select("doc_id"))
      Dedup.keepRepresentatives(docs, clusters)
        .select(col("doc_id"), length(col("content")).as("n_chars"))
        .orderBy("doc_id")
    }),
    "q_cluster_best" -> ((s, dir) => {
      // quality-aware survivor selection: the same clusters as
      // q_minhash_clusters, but the kept member is the HIGHEST-scoring doc
      // (content-rich score = tokens - punctuation chars, INTEGER arithmetic
      // for oracle safety; NULL text -> -1), tie -> min doc_id. The oracle
      // re-derives the clusters from the committed (verified) q_minhash_pairs
      // table AND recomputes score + argmax independently in DuckDB — only
      // the murmur-bound pair generation is taken from the artifact.
      val docs = documents(s, dir)
      val corpus = docsAsCorpus(s, dir)
      val clusters = ConnectedComponents
        .cluster(MinHashPipeline.runUnsorted(corpus, docCfg), corpus.select("doc_id"))
      val t = col("text")
      val nToks = TextAnalysis.tokenCountWs(t).cast("long")
      val nPunct = (length(t) - length(regexp_replace(t, "[^A-Za-z0-9\\s]", ""))).cast("long")
      val score = coalesce(nToks - nPunct, lit(-1L))
      Dedup.bestPerClusterLabels(docs, clusters, score).orderBy("doc_id")
    }),

    // ---- dedup family ----
    "q_exact_dedup" -> ((s, dir) =>
      Dedup.exactDedup(documents(s, dir)).orderBy("doc_id")),
    "q_exact_dup_groups" -> ((s, dir) =>
      Dedup.exactDupGroups(documents(s, dir)).orderBy("content_sha")),
    "q_simhash_fp" -> ((s, dir) =>
      // committed 64-bit SimHash per doc: the replay substrate for
      // q_simhash_pairs' oracle (its own oracle is completeness + echo —
      // the VALUES are murmur-bound, pinned by KernelSpec golden vectors)
      Dedup.simHashes(documents(s, dir)).orderBy("doc_id")),
    "q_simhash_pairs" -> ((s, dir) =>
      Dedup.simHashPairs(documents(s, dir), maxHamming = 3).orderBy("doc1", "doc2")),
    "q_substring_dup" -> ((s, dir) =>
      // existsMode default (r4): the production gate needs pairhood, not
      // the quadratic-at-the-cap shared-window counts (count mode stays
      // available and unit-tested)
      Dedup.substringDupPairs(documents(s, dir), minTokens = 12)
        .orderBy("doc1", "doc2")),
    "q_ngram_jaccard" -> ((s, dir) =>
      // word 3-grams: on the small-vocab documents corpus 2-grams are hot
      // keys (every bigram shared by ~10% of docs -> quadratic join blowup);
      // 3-grams keep the planted near-dups at jaccard >= 0.2 with rare keys.
      // The hot-gram doc-freq cap is ON (production shape — a gram shared by
      // >1000 docs adds candidates quadratically but no discrimination);
      // the oracle SQL applies the identical cap on both sides.
      Dedup.ngramJaccardPairs(documents(s, dir), n = 3, minJaccard = 0.2,
        maxGramDocFreq = Some(1000))
        .orderBy("doc1", "doc2")),

    "q_contamination" -> ((s, dir) => {
      // benchmark decontamination: every 25th doc plays the eval set; the
      // full table plays the training corpus (verbatim leakage included —
      // that's the point). containment = benchmark grams found / total.
      val docs = documents(s, dir)
      Dedup.ngramContainment(docs, docs.filter(col("doc_id") % 25 === 0),
        n = 3, minContainment = 0.5)
        .orderBy("doc_id", "bench_id")
    }),
    "q_contamination_bloom" -> ((s, dir) => {
      // the broadcast-Bloom prefilter path: identical output contract as
      // q_contamination (no false negatives; false positives die in the
      // exact verify join) — so it shares q_contamination's oracle SQL
      // verbatim. The 100 TB difference is the exchange: only HIT grams
      // shuffle, never the whole corpus gram explosion.
      val docs = documents(s, dir)
      Dedup.ngramContainmentBloom(docs, docs.filter(col("doc_id") % 25 === 0),
        n = 3, minContainment = 0.5)
        .orderBy("doc_id", "bench_id")
    }),

    // ---- text analysis ----
    "q_token_count" -> ((s, dir) =>
      documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_ws_tokens"),
        TextAnalysis.tokenCountBpe(col("text")).cast("long").as("n_bpe_tokens")
      ).orderBy("doc_id")),
    "q_redact" -> ((s, dir) => {
      // C4-style PII scrub: chained codegen'd regexp_replace; the oracle
      // replays the identical RE2-safe patterns (explicit ASCII classes
      // only — the \s/\w/\d engine divergence never enters). The synth
      // corpus contains no organic PII, so every 7th doc gets a
      // deterministic injected email+IP+card suffix (mirrored in the
      // oracle SQL) — the hash match covers the REWRITE paths, not just
      // identity passthrough.
      val injected = when(pmod(col("doc_id"), lit(7L)) === 0,
        concat(col("text"), lit(" mail user"), col("doc_id").cast("string"),
          lit("@example.com ip 10.0.0."),
          pmod(col("doc_id"), lit(256L)).cast("string"),
          lit(" acct 4111111111111111")))
        .otherwise(col("text"))
      documents(s, dir)
        .select(col("doc_id"), injected.as("t"))
        .select(col("doc_id"), col("t"), TextAnalysis.redactPii(col("t")).as("clean_text"))
        .select(col("doc_id"), col("clean_text"),
          (length(col("t")) - length(col("clean_text"))).cast("long").as("chars_removed"))
        .orderBy("doc_id")
    }),
    "q_span_dedup" -> ((s, dir) => {
      // C4-style duplicate-span REMOVAL (rows-only: window hashes are
      // murmur-bound like q_substring_dup); every 3rd doc gets an injected
      // shared 10-token prefix, which crosses the df cut and is excised
      val injected = when(pmod(col("doc_id"), lit(3L)) === 0,
        concat(lit("shared leading span alpha beta gamma delta epsilon zeta eta "),
          col("text")))
        .otherwise(col("text"))
      Dedup.removeDuplicateSpans(
          documents(s, dir).select(col("doc_id"), injected.as("text")),
          minTokens = 8, maxSpanDocFreq = 20)
        .orderBy("doc_id")
    }),
    "q_repetition" -> ((s, dir) => {
      // Gopher-style within-doc repetition quality signals; every 5th doc
      // gets a deterministically repeated injected line (mirrored in the
      // oracle) so the hash match covers nonzero fractions, not just the
      // all-distinct case
      val injected = when(pmod(col("doc_id"), lit(5L)) === 0,
        concat(col("text"), lit("\nrepeated filler line\nrepeated filler line")))
        .otherwise(col("text"))
      TextAnalysis.repetitionSignals(
          documents(s, dir).select(col("doc_id"), injected.as("text")))
        .orderBy("doc_id")
    }),
    "q_repetition_ngrams" -> ((s, dir) => {
      // top-2/3/4-gram character fractions (the other half of Gopher's
      // repetition family); every 3rd doc gets an injected repeated phrase
      // (mirrored in the oracle) so the hash match covers nonzero
      // fractions and the overlapping-occurrence counting
      val injected = when(pmod(col("doc_id"), lit(3L)) === 0,
        concat(col("text"), lit(" lorem ipsum lorem ipsum lorem ipsum")))
        .otherwise(col("text"))
      TextAnalysis.topNgramCharFractions(
          documents(s, dir).select(col("doc_id"), injected.as("text")))
        .orderBy("doc_id")
    }),
    "q_gopher_quality" -> ((s, dir) => {
      // Gopher document-shape filters (bullet/ellipsis lines, symbol-to-
      // word, alpha-word fraction); every 6th doc gets injected bullets,
      // an ellipsis line and '#'/'...' symbols (mirrored in the oracle).
      // coalesce BEFORE the injection, matching the oracle's s CTE: a bare
      // concat null-propagates, so a NULL text in the injected arm would
      // collapse the whole injection to NULL on the Spark side while the
      // oracle still builds the bullet lines.
      val injected = when(pmod(col("doc_id"), lit(6L)) === 0,
        concat(lit("- bullet item\n* another bullet\nplain line\ntrailing dots...\n"),
          coalesce(col("text"), lit("")), lit(" sym#bol ### trailing...")))
        .otherwise(coalesce(col("text"), lit("")))
      TextAnalysis.gopherQualitySignals(
          documents(s, dir).select(col("doc_id"), injected.as("text")))
        .orderBy("doc_id")
    }),
    "q_repetition_dupgrams" -> ((s, dir) => {
      // duplicate-5..10-gram character fractions (Gopher's diffuse-
      // repetition signals); every 4th doc gets a 12-token template block
      // appended TWICE (mirrored in the oracle) so every n in 5..10 has
      // duplicated grams to cover the sum path
      val injected = when(pmod(col("doc_id"), lit(4L)) === 0,
        concat(col("text"), lit(DupGramPhrase), lit(DupGramPhrase)))
        .otherwise(col("text"))
      TextAnalysis.dupNgramCharFractions(
          documents(s, dir).select(col("doc_id"), injected.as("text")))
        .orderBy("doc_id")
    }),
    // The clean-pipeline replay chain (round 6): the two kernel-bound
    // artifacts of the composed recipe — the near-dup input's signatures
    // (murmur-bound values) and the semantic sketch (gaussian-bound
    // buckets) — are committed once; everything else in the recipe is
    // SQL: DuckDB re-derives stages 1-4 from `documents` (boiler-strip,
    // quality gate, PII redact, exact dedup: q_clean_signatures' oracle
    // pins the survivor SET + the band fold), then candidates (star-cap
    // rule), similarity pairs, semantic cosine pairs, recursive-CTE CC,
    // representatives and the split/shard tail (q_clean_pipeline's
    // oracle) — flipping the composed recipe itself to hash-match.
    "q_clean_signatures" -> ((s, dir) =>
      // scalar digest surface over _artifact_clean_signatures' computation
      // (the shared cleanSignaturesFrame — same code path); the oracle
      // re-derives the survivor universe through the four SQL stages and
      // digests the artifact, so set AND content drift both mismatch
      cleanSignaturesFrame(s, dir)
        .select(col("doc_id"),
          size(col("signature")).cast("long").as("n_sig"),
          graft.functions.VectorExprs.u64Fold(col("signature")).as("sig_digest"),
          graft.functions.VectorExprs.u64Fold(col("bands")).as("band_digest"))
        .orderBy("doc_id")),
    "q_clean_embsketch" -> ((s, dir) =>
      // scalar digest surface over _artifact_clean_embsketch (shared
      // cleanEmbSketchFrame); vnorm stays the real value check
      cleanEmbSketchFrame(s, dir)
        .select(col("vid"), col("vnorm"),
          graft.functions.VectorExprs.u64Fold(col("buckets")).as("buckets_digest"),
          graft.functions.VectorExprs.u64Fold(col("probes")).as("probes_digest"))
        .orderBy("vid")),
    "q_clean_pipeline" -> ((s, dir) => {
      // the COMPOSED C4-style recipe (boiler-lines -> quality -> PII ->
      // exact dedup -> near-dup dedup -> split+shards); hash-matched via
      // the committed-artifact replay above (each stage ALSO has its own
      // standalone oracle/parity pin)
      val (out, _) = CleanPipeline.run(
        documents(s, dir).select(col("doc_id"), col("text")),
        CleanPipeline.Config(maxLineDocFreq = 20L, tokensPerShard = 50000L),
        embeddings = Some(embeddings(s, dir)
          .select(col("vec_id").as("doc_id"), col("embedding"))))
      out.select("doc_id", "split", "shard_id").orderBy("doc_id")
    }),
    "q_clean_tail" -> ((s, dir) => {
      // SQL-replayable TAIL of the cleaning recipe: the survivor SET is
      // murmur-bound (cluster representatives), but split membership and
      // token-shard packing applied to the SPARK-PRODUCED survivors are
      // exact integer + prefix-sum arithmetic — the oracle re-derives both
      // in DuckDB from THIS query's own output columns (doc_id, n_tokens),
      // hash-matching the recipe's tail end-to-end on the real survivor set
      // (q_corpus_split/q_token_shards pin the same math on the full
      // documents table; this pins it composed after dedup).
      val (out, _) = CleanPipeline.run(
        documents(s, dir).select(col("doc_id"), col("text")),
        CleanPipeline.Config(maxLineDocFreq = 20L, tokensPerShard = 50000L),
        embeddings = Some(embeddings(s, dir)
          .select(col("vec_id").as("doc_id"), col("embedding"))))
      out.select(col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"),
          col("split"), col("shard_id"))
        .orderBy("doc_id")
    }),
    "q_line_dedup" -> ((s, dir) => {
      // C4-style boilerplate-line removal. The synth corpus has no shared
      // lines, so half the docs get a common injected header (df 250 >>
      // cut 20 -> stripped everywhere) and a few get a rare one (df 5 ->
      // kept) — the oracle mirrors the injection, so the hash match covers
      // strip, keep and reassembly-order paths.
      val injected = concat(
        when(pmod(col("doc_id"), lit(2L)) === 0,
          lit("=== COMMON SITE NAVIGATION HEADER LINE ===\n")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(100L)) === 1,
          lit("--- rare per-cohort banner line ---\n")).otherwise(lit("")),
        col("text"))
      Dedup.stripBoilerplateLines(
          documents(s, dir).select(col("doc_id"), injected.as("text")),
          maxLineDocFreq = 20L)
        .orderBy("doc_id")
    }),
    "q_exact_spans" -> ((s, dir) => {
      // EXACT (suffix-array-substring-style) duplicate-span removal, keep
      // the first occurrence: a 12-token phrase appended to every 7th doc
      // and PREPENDED to doc_id%11==3 docs (position independence), plus a
      // 10-token phrase repeated twice WITHIN doc_id%13==1 docs (intra-doc
      // self-dedup). Oracle replays the whole operator — windows, exact
      // classes, keep-first by (doc_id, start), overlap-merged excision,
      // single-space reassembly — in DuckDB; the hash match covers the
      // exactness contract end-to-end.
      val p1 = lit("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu")
      val p2 = lit("one two three four five six seven eight nine ten")
      // coalesce BEFORE injection on BOTH engines (oracle s CTE mirrors):
      // concat null-propagates, and DuckDB's trim/split of a NULL would
      // yield n_tokens NULL where the operator emits 0
      val t0 = coalesce(col("text"), lit(""))
      val injected =
        when(pmod(col("doc_id"), lit(7L)) === 0, concat(t0, lit(" "), p1))
          .when(pmod(col("doc_id"), lit(11L)) === 3, concat(p1, lit(" "), t0))
          .when(pmod(col("doc_id"), lit(13L)) === 1,
            concat(t0, lit(" "), p2, lit(" "), p2))
          .otherwise(t0)
      Dedup.removeExactDuplicateSpans(
          documents(s, dir).select(col("doc_id"), injected.as("text")),
          windowTokens = 8)
        .orderBy("doc_id")
    }),
    "q_corpus_split" -> ((s, dir) =>
      // deterministic train/val/test membership: pure modular arithmetic
      // on the id (no rand(), whose per-partition seeding would change
      // membership with the input layout) — the oracle replays the exact
      // integer mix
      Corpus.split(documents(s, dir).select("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 13L)
        .select("doc_id", "split").orderBy("doc_id")),
    "q_quota_sample" -> ((s, dir) =>
      // deterministic per-group corpus balancing: at most 40 docs per lang,
      // chosen by ascending split-mix priority (tie -> min id). Layout-
      // invariant like q_corpus_split; the oracle replays the integer mix
      // and the partitioned rank in DuckDB
      Corpus.quotaSample(documents(s, dir).select("doc_id", "lang"),
          "lang", cap = 40, seed = 13L)
        .orderBy("doc_id")),
    "q_corpus_profile" -> ((s, dir) =>
      // per-(lang, source) data-card profile: doc counts, token totals and
      // extremes, code-point chars, exact distinct-content counts — every
      // measure integer/exact, so DuckDB replays the whole table
      Corpus.profile(documents(s, dir))
        .orderBy("lang", "source")),
    "q_token_shards" -> ((s, dir) =>
      // token-budget packing via the distributed two-pass prefix sum (the
      // naive global-order window is a single task at scale); the oracle
      // recomputes the exclusive cumulative sum with a SQL window — a hash
      // match proves the two-pass decomposition equals the global order
      Corpus.tokenShards(
          documents(s, dir).select(col("doc_id"),
            TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens")),
          tokensPerShard = 50000L)
        .orderBy("doc_id")),
    "q_quality" -> ((s, dir) =>
      TextAnalysis.withQualityColumns(documents(s, dir))
        .select("doc_id", "n_tokens", "n_punct", "punct_ratio", "stopword_ratio", "mean_token_len")
        .orderBy("doc_id")),
    "q_lang_id" -> ((s, dir) =>
      TextAnalysis.withLangId(documents(s, dir))
        .select("doc_id", "lang", "lang_pred", "lang_score").orderBy("doc_id")),
    "q_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprints(documents(s, dir)).orderBy("doc_id")),
    "q_doc_stats" -> ((s, dir) =>
      documents(s, dir).groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), min("n_chars").as("min_chars"),
          max("n_chars").as("max_chars"), sum("n_chars").as("sum_chars"))
        .orderBy("lang")),

    // ---- similarity search over embeddings ----
    "q_ann_topk" -> ((s, dir) => {
      val e = embeddings(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 10), k = 5)
        .orderBy("query_id", "rank")
    }),
    // The ANN replay chain (round 6, the flagship-LSH pattern): hyperplane
    // bucket GENERATION is gaussian-bound (no DuckDB replay), so the sketch
    // arrays are committed once (vnorm value-checked against the embeddings
    // table; buckets/probes echoed) — and everything downstream IS
    // SQL-replayable: the candidate equi-join from the committed arrays,
    // then the cosine rerank from the committed candidates. Flips all three
    // headline ANN queries from rows-only to hash-match.
    "q_ann_sketch" -> ((s, dir) =>
      // scalar digest surface over _artifact_ann_sketch (same call): vnorm
      // is the real value check (recomputed from embeddings in DuckDB);
      // bucket/probe digests pin the committed arrays element-exactly
      Similarity.lshSketchFrame(embeddings(s, dir), dim = 64)
        .select(col("vid"), col("vnorm"),
          graft.functions.VectorExprs.u64Fold(col("buckets")).as("buckets_digest"),
          graft.functions.VectorExprs.u64Fold(col("probes")).as("probes_digest"))
        .orderBy("vid")),
    "q_ann_lsh_cands" -> ((s, dir) =>
      Similarity.lshCandidateIds(embeddings(s, dir), dim = 64)
        .orderBy("query_id", "nbr_id")),
    "q_ann_lsh" -> ((s, dir) =>
      Similarity.lshTopK(embeddings(s, dir), k = 5, dim = 64)
        .orderBy("query_id", "rank")),
    "q_ann_ivf" -> ((s, dir) =>
      // nProbe 12/16 + 2 Lloyd passes: measured recall@5 0.94 (the r3 sweep
      // in BENCHMARKS.md: 8/lloyd0=0.73, 10/2=0.886, 12/2=0.94; hash-seeded
      // centroids without refinement were 0.73). The high
      // nProbe/nCentroids ratio is an artifact of tiny nCentroids at test
      // scale; production sizes nCentroids ~ sqrt(n) with nProbe a small
      // constant fraction.
      Similarity.ivfTopK(embeddings(s, dir), k = 5, nCentroids = 16, nProbe = 12)
        .orderBy("query_id", "rank")),
    "q_ann_ivf_centroids" -> ((s, dir) =>
      // scalar surface over _artifact_ann_ivf_centroids: id + dim echo plus
      // cnorm — the centroid VALUES are lloyd-bound (driver-side FP
      // refinement), but the unit-norm invariant is recomputable from the
      // committed arrays in DuckDB, pinning the artifact's float content
      Similarity.ivfCentroidsFrame(embeddings(s, dir), nCentroids = 16)
        .select(col("centroid_id"),
          size(col("centroid")).cast("long").as("dim"),
          round(sqrt(graft.functions.VectorExprs.dotD(col("centroid"), col("centroid"))), 9)
            .as("cnorm"))
        .orderBy("centroid_id")),
    "q_ann_ivf_cells" -> ((s, dir) =>
      // scalar digest surface over _artifact_ann_ivf_cells; the oracle
      // re-derives the full probe ranking from the committed centroids +
      // embeddings and digests it — full probe-order strength, no arrays
      Similarity.ivfCellsFrame(embeddings(s, dir), nCentroids = 16, nProbe = 12)
        .select(col("vid"),
          element_at(col("probes"), 1).as("probe1"),
          size(col("probes")).cast("long").as("n_probes"),
          graft.functions.VectorExprs.u64Fold(col("probes")).as("probes_digest"),
          // same value under a second name: the oracle computes
          // probes_digest from the RE-DERIVED ranking and artifact_digest
          // from the COMMITTED cells artifact — both must equal this
          graft.functions.VectorExprs.u64Fold(col("probes")).as("artifact_digest"))
        .orderBy("vid")),
    "q_ann_pq_books" -> ((s, dir) =>
      // scalar surface over _artifact_pq_books: shape echo + per-codeword
      // norm recomputed from the committed floats (codeword VALUES are
      // lloyd-bound — exactly the q_ann_ivf_centroids precedent)
      Similarity.pqBooksFrame(embeddings(s, dir))
        .select(col("sub_idx"), col("code_id"),
          size(col("codeword")).cast("long").as("dsub"),
          round(sqrt(graft.functions.VectorExprs.dotD(col("codeword"), col("codeword"))), 9)
            .as("cwnorm"))
        .orderBy("sub_idx", "code_id")),
    "q_ann_pq_codes" -> ((s, dir) =>
      // scalar digest surface over _artifact_pq_codes: the oracle replays
      // the argmin ENCODING from the committed books against embeddings
      // (codes_digest = digest of the RE-DERIVED code vector, verifying
      // pqEncode against DuckDB) while artifact_digest digests the
      // COMMITTED artifact — the Spark side emits u64Fold(codes) under
      // both names, the q_ann_ivf_cells two-name pattern
      Similarity.pqCodesFrame(embeddings(s, dir))
        .select(col("vid"),
          size(col("codes")).cast("long").as("n_codes"),
          graft.functions.VectorExprs.u64Fold(col("codes")).as("codes_digest"),
          graft.functions.VectorExprs.u64Fold(col("codes")).as("artifact_digest"))
        .orderBy("vid")),
    "q_ann_pq" -> ((s, dir) =>
      // IVFADC: IVF candidates (the q_ann_ivf relation) -> ADC shortlist
      // of 128 from the 8x16 PQ codes -> exact-cosine top-5. Defaults are
      // load-bearing: the oracle replays m=8 subspaces and shortlist=128
      // from the committed books/codes/cells artifacts
      Similarity.pqTopK(embeddings(s, dir), k = 5)
        .orderBy("query_id", "rank")),
    "q_embed_sketch" -> ((s, dir) =>
      Similarity.lshSketchFrame(embeddings(s, dir), dim = 64, nTables = 12, nProbes = 8)
        .select(col("vid"), col("vnorm"),
          graft.functions.VectorExprs.u64Fold(col("buckets")).as("buckets_digest"),
          graft.functions.VectorExprs.u64Fold(col("probes")).as("probes_digest"))
        .orderBy("vid")),
    "q_embed_cands" -> ((s, dir) =>
      Similarity.embedNearDupCandidateIds(embeddings(s, dir), dim = 64)
        .orderBy("doc1", "doc2")),
    "q_embed_neardup" -> ((s, dir) =>
      // multiprobe defaults (12 tables, 8 bits): measured pair recall 0.94
      // at cosine>=0.4 vs 0.20 without multiprobe (`Probe recall`)
      Similarity.embeddingNearDupPairs(embeddings(s, dir), minCosine = 0.4, dim = 64)
        .orderBy("doc1", "doc2")),

    // ---- multimodal plumbing ----
    "q_mm_features" -> ((s, dir) =>
      // scalar surface over _artifact_mm_features (the shared
      // mmFeaturesFrame): the 16-bin histogram array lives in the artifact;
      // the DuckDB oracle RE-DERIVES byte_entropy from the committed bins
      // (-sum p*log2 p, 9dp round) and thumb_w/thumb_h from the committed
      // dims (aspect-box integer rule), with the doc universe LEFT-joined
      // so a missing artifact row mismatches
      mmFeaturesFrame(s, dir)
        .select("asset_id", "modality", "n_bytes", "byte_entropy",
          "thumb_w", "thumb_h", "width", "height")
        .orderBy("asset_id")),
    "q_mm_phash" -> ((s, dir) =>
      // committed 64-bit perceptual hash per image asset: the replay
      // substrate for q_mm_imagedup's oracle (values are pixel-DSP-bound,
      // pinned by the OperatorsSpec planted-clone tests; this oracle pins
      // completeness — exactly one hash per image-modality doc incl. the
      // planted re-ingested copies)
      Multimodal.imageHashes(Multimodal.synthesizeAssets(imageDupDocs(s, dir)))
        .toDF().orderBy("asset_id")),
    "q_mm_imagedup" -> ((s, dir) =>
      // perceptual image near-dups over the SAME planted input as
      // q_mm_phash (the oracle replays pairs from those committed hashes):
      // the block-pigeonhole operator output must equal the exhaustive
      // Hamming filter — replayed O(n²) in DuckDB like q_simhash_pairs
      Multimodal.imageNearDupPairs(
        Multimodal.synthesizeAssets(imageDupDocs(s, dir)), maxHamming = 3)
        .orderBy("asset1", "asset2")),
    "q_mm_audiohash" -> ((s, dir) =>
      // committed spectral fingerprint per audio asset (documents + the
      // planted re-ingested copies): the replay substrate for
      // q_mm_audiodup — values are DSP-bound, spec-pinned (determinism,
      // resample robustness); this oracle pins completeness
      Multimodal.audioHashes(Multimodal.synthesizeAssets(audioDupDocs(s, dir)))
        .toDF().orderBy("asset_id")),
    "q_mm_audiodup" -> ((s, dir) =>
      // perceptual audio near-dups over the SAME planted input: block-
      // pigeonhole output == exhaustive Hamming filter over the committed
      // fingerprints, replayed O(n²) in DuckDB. Pair density is high by
      // construction: synth WAVs derive from the first 4 text bytes, so
      // docs sharing a prefix ARE the same two-tone clip — real dups to
      // this fingerprint, and the oracle replays exactly that semantics
      Multimodal.audioNearDupPairs(
        Multimodal.synthesizeAssets(audioDupDocs(s, dir)), maxHamming = 3)
        .orderBy("asset1", "asset2")),
    "q_mm_videohash" -> ((s, dir) =>
      // committed key-frame fingerprint per video asset (documents + the
      // planted re-ingested copies): the replay substrate for
      // q_mm_videodup; values are pixel-DSP-bound, spec-pinned
      Multimodal.videoHashes(Multimodal.synthesizeAssets(videoDupDocs(s, dir)))
        .toDF().orderBy("asset_id")),
    "q_mm_videodup" -> ((s, dir) =>
      // perceptual video near-dups over the SAME planted input: block-
      // pigeonhole output == exhaustive Hamming filter over the committed
      // fingerprints, replayed O(n²) in DuckDB
      Multimodal.videoNearDupPairs(
        Multimodal.synthesizeAssets(videoDupDocs(s, dir)), maxHamming = 3)
        .orderBy("asset1", "asset2")),
    // ---- end-to-end modality dedup (the --modality-dedup recipe path) ----
    "q_mm_fps" -> ((s, dir) =>
      // the recipe's first stage verbatim (modalityFingerprints: all three
      // perceptual families over ONE shared asset pass): per-asset 64-bit
      // fingerprint with its modality — the replay substrate for
      // q_mm_clusters / q_mm_dedup_corpus; values DSP-bound (spec-pinned),
      // completeness pinned by the universe LEFT JOIN oracle
      mmFpsFrame(s, dir).orderBy("asset_id")),
    "q_mm_clusters" -> ((s, dir) => {
      // the recipe's pair + cluster stages verbatim: modality-scoped
      // Hamming pairs (sentinel-0 excluded) -> min-label CC, singletons
      // keeping their own id. Oracle replays BOTH from the committed
      // q_mm_fps table: exhaustive per-modality Hamming join + recursive-
      // CTE transitive closure (the q_minhash_clusters pattern)
      val fps = mmFpsFrame(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      Multimodal.modalityClusters(fps, Multimodal.modalityNearDupPairs(fps))
        .orderBy("asset_id")
    }),
    "q_mm_dedup_corpus" -> ((s, dir) => {
      // the recipe's survivor stage verbatim: the min-label root keeps its
      // fingerprint row. Oracle re-derives representatives INDEPENDENTLY
      // from the committed fingerprints (closure over the replayed pairs,
      // reps = self-minimum) — never from the clusters output, so it
      // doesn't inherit a clusters bug (the q_dedup_corpus pattern)
      val fps = mmFpsFrame(s, dir)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val clusters = Multimodal.modalityClusters(
        fps, Multimodal.modalityNearDupPairs(fps))
      Multimodal.modalityRepresentatives(fps, clusters).orderBy("asset_id")
    }),
    "q_mm_frames" -> ((s, dir) =>
      Multimodal.sampleFramePlan(
        Multimodal.synthesizeAssets(documents(s, dir)).toDF()
      ).orderBy("asset_id", "frame_idx")),
    "q_mm_thumbs" -> ((s, dir) =>
      Multimodal.thumbnails(Multimodal.synthesizeAssets(documents(s, dir)))
        .toDF().select("asset_id", "thumb_w", "thumb_h").orderBy("asset_id")),
    "q_mm_audio" -> ((s, dir) =>
      // REAL WAV round trip: synthesizeAssets writes RIFF/WAVE via
      // javax.sound.sampled, audioFeatures decodes it back — the oracle
      // pins that sample_rate / sample count / duration SURVIVE the real
      // container encode+parse (rms/zcr are DSP, covered by unit tests)
      Multimodal.audioFeatures(Multimodal.synthesizeAssets(documents(s, dir)))
        .toDF().select("asset_id", "sample_rate", "n_samples", "duration_ms")
        .orderBy("asset_id")),
    "q_mm_video" -> ((s, dir) =>
      // REAL Y4M round trip: synthesizeAssets writes an actual YUV4MPEG2
      // stream, videoFeatures parses it back — the oracle pins that dims /
      // frame count / duration SURVIVE the real container encode+parse
      // (mean_luma/motion are pixel DSP, covered by unit tests)
      Multimodal.videoFeatures(Multimodal.synthesizeAssets(documents(s, dir)))
        .toDF().select("asset_id", "width", "height", "n_frames", "duration_ms")
        .orderBy("asset_id")),

    // ---- streaming ingest (incremental dedup over micro-batches) ----
    "q_streaming_dedup" -> ((s, dir) => {
      // stage the documents table as a streaming source dir, then run the
      // incremental dedup job to completion (AvailableNow)
      val input = java.nio.file.Files.createTempDirectory("q_stream_in").toString
      val work = java.nio.file.Files.createTempDirectory("q_stream_work").toString
      docsAsCorpus(s, dir).repartition(4).write.mode("overwrite").parquet(input)
      val q = graft.streaming.StreamingDedup.start(s, input, work, docCfg)
      q.awaitTermination()
      s.read.parquet(s"$work/pairs")
        .select("doc1", "doc2", "similarity").orderBy("doc1", "doc2")
    }),

    // ---- relational sanity (agg + join on the TPC-H-ish tables) ----
    "q1_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"), sum("l_quantity").as("sum_qty"),
          min("l_extendedprice").as("min_price"), max("l_extendedprice").as("max_price"))
        .orderBy("l_returnflag", "l_linestatus")),
    "q_orders_join" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val c = s.read.parquet(s"$dir/customer.parquet")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), min("o_totalprice").as("min_total"),
          max("o_totalprice").as("max_total"))
        .orderBy("c_mktsegment")
    }),
    "q_events_agg" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("n_users"),
          min("value").as("min_value"), max("value").as("max_value"))
        .orderBy("event_type"))
  )

  /** The cleaning recipe's stages 1-4 re-derived from `documents` as a
    * DuckDB CTE fragment ending in `surv(doc_id, rtext)` — the SQL mirror
    * of [[graft.operators.CleanPipeline.nearDupInputs]] at the driver
    * config (maxLineDocFreq 20, minTokens 5, maxPunctRatio 0.5, no
    * gopher): boiler-line strip (q_line_dedup's proven SQL), quality gate
    * (q_quality's), PII redact (q_redact's), exact dedup (min doc_id per
    * distinct redacted text). Shared by the three clean-replay oracles
    * below via string concatenation (PLAIN triple quotes: the \x0b class
    * must never meet the s-interpolator — CLAUDE.md).
    */
  private val cleanSurvCtes: String =
    """l AS (
      |  SELECT doc_id,
      |    generate_subscripts(string_split(text, chr(10)), 1) AS pos,
      |    unnest(string_split(text, chr(10))) AS line
      |  FROM documents),
      |bl AS (
      |  SELECT line FROM (
      |    SELECT line, count(DISTINCT doc_id) AS ldf FROM l
      |    WHERE length(trim(line)) >= 10 GROUP BY line)
      |  WHERE ldf > 20),
      |st1 AS (
      |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
      |  FROM l
      |  WHERE NOT (length(trim(line)) >= 10 AND line IN (SELECT line FROM bl))
      |  GROUP BY doc_id),
      |q0 AS (
      |  SELECT doc_id, text,
      |    CASE WHEN length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')) END
      |      AS n_tokens,
      |    length(text) - length(regexp_replace(text, '[^A-Za-z0-9 \t\n\x0b\f\r]', '', 'g'))
      |      AS n_punct
      |  FROM st1),
      |st2 AS (
      |  SELECT doc_id, text FROM q0
      |  WHERE n_tokens >= 5
      |    AND (CASE WHEN length(text) = 0 THEN 0.0
      |         ELSE CAST(n_punct AS DOUBLE) / length(text) END) <= 0.5),
      |st3 AS (
      |  SELECT doc_id,
      |    regexp_replace(regexp_replace(regexp_replace(text,
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
      |      '\b[0-9]{13,19}\b', '<NUM>', 'g') AS rtext
      |  FROM st2),
      |kmin AS (SELECT min(doc_id) AS doc_id FROM st3 GROUP BY rtext),
      |surv AS (SELECT s3.doc_id, s3.rtext FROM st3 s3 JOIN kmin k ON s3.doc_id = k.doc_id)""".stripMargin

  /** DuckDB replay of [[graft.functions.U64Fold]]: HUGEINT polynomial fold
    * mod 2^64 (the q_fingerprint emulation), mapped back to signed BIGINT.
    * `I` takes list elements as unsigned 32-bit (signature/band/probe-id
    * ints); `L` takes BIGINT elements two's-complement mod 2^64 (bucket
    * longs). Each splices `arr` into one self-contained expression.
    */
  private val U64FoldTailI: String =
    ", x -> CAST(CAST(x AS BIGINT) & 4294967295 AS HUGEINT))), " +
      "(acc, x) -> (acc * 1000003 + x) % CAST(18446744073709551616 AS HUGEINT))"
  private val U64FoldTailL: String =
    ", x -> CASE WHEN x < 0 THEN CAST(x AS HUGEINT) + CAST(18446744073709551616 AS HUGEINT) " +
      "ELSE CAST(x AS HUGEINT) END)), " +
      "(acc, x) -> (acc * 1000003 + x) % CAST(18446744073709551616 AS HUGEINT))"
  private def u64FoldU(arr: String, tail: String): String =
    "list_reduce(list_prepend(CAST(1469598103934665603 AS HUGEINT), " +
      "list_transform(" + arr + tail
  private def u64Signed(f: String): String =
    "CAST(CASE WHEN " + f + " >= CAST(9223372036854775808 AS HUGEINT) THEN " +
      f + " - CAST(18446744073709551616 AS HUGEINT) ELSE " + f + " END AS BIGINT)"
  private def u64FoldSqlI(arr: String): String = u64Signed(u64FoldU(arr, U64FoldTailI))
  private def u64FoldSqlL(arr: String): String = u64Signed(u64FoldU(arr, U64FoldTailL))

  /** DuckDB oracles for the SQL-expressible queries. Column names match the
    * Spark side exactly (driver hash-compares after sorting columns by
    * name). Doubles appear only where per-row IEEE arithmetic or
    * order-insensitive min/max make the value bit-reproducible; no
    * order-sensitive double sums.
    */
  /** Shared by q_contamination and q_contamination_bloom: the Bloom path
    * is a prefilter over the SAME relational semantics (no false
    * negatives; false positives killed by the exact verify join), so one
    * SQL text pins both.
    */
  private val ContaminationSql: String =
    """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
      |g AS (SELECT doc_id,
      |        unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
      |          i -> array_to_string(toks[i:i+2], ' ')))) AS gram
      |      FROM t WHERE len(toks) >= 3),
      |b AS (SELECT doc_id AS bench_id, gram FROM g WHERE doc_id % 25 = 0),
      |bs AS (SELECT bench_id, count(*) AS nb FROM b GROUP BY bench_id),
      |i AS (SELECT g.doc_id, b.bench_id, count(*) AS ni
      |      FROM g JOIN b ON g.gram = b.gram GROUP BY 1, 2)
      |SELECT i.doc_id AS doc_id, i.bench_id AS bench_id,
      |       CAST(ni AS DOUBLE) / CAST(nb AS DOUBLE) AS containment
      |FROM i JOIN bs ON i.bench_id = bs.bench_id
      |WHERE CAST(ni AS DOUBLE) / CAST(nb AS DOUBLE) >= 0.5
      |ORDER BY i.doc_id, i.bench_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_exact_dedup" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,
    "q_exact_dup_groups" ->
      """SELECT sha256(text) AS content_sha, count(*) AS n_copies,
        |       min(doc_id) AS rep_id
        |FROM documents GROUP BY sha256(text) ORDER BY content_sha""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
        |g0 AS (SELECT doc_id,
        |        unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |          i -> array_to_string(toks[i:i+2], ' ')))) AS gram
        |      FROM t WHERE len(toks) >= 3),
        |gok AS (SELECT gram FROM g0 GROUP BY gram HAVING count(*) <= 1000),
        |g AS (SELECT g0.doc_id, g0.gram FROM g0 JOIN gok ON g0.gram = gok.gram),
        |s AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |i AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS ni
        |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |      GROUP BY 1, 2)
        |SELECT d1 AS doc1, d2 AS doc2,
        |       CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) AS jaccard
        |FROM i JOIN s sa ON i.d1 = sa.doc_id JOIN s sb ON i.d2 = sb.doc_id
        |WHERE CAST(ni AS DOUBLE) / CAST(sa.n + sb.n - ni AS DOUBLE) >= 0.2
        |ORDER BY doc1, doc2""".stripMargin,
    "q_contamination" -> ContaminationSql,
    // the Bloom path's contract IS q_contamination's: same rows, same SQL
    "q_contamination_bloom" -> ContaminationSql,
    "q_token_count" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')) END AS n_ws_tokens,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]')) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_redact" ->
      // identical patterns, identical order (emails, IPv4, long digit
      // runs) and the identical every-7th-doc PII injection; DuckDB
      // regexp_replace needs the explicit 'g' flag to match Spark's
      // replace-all default
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN
        |      text || ' mail user' || CAST(doc_id AS VARCHAR)
        |           || '@example.com ip 10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
        |           || ' acct 4111111111111111'
        |    ELSE text END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |    '\b[0-9]{13,19}\b', '<NUM>', 'g') AS clean_text,
        |  CAST(length(text) - length(
        |    regexp_replace(regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g'),
        |      '\b[0-9]{13,19}\b', '<NUM>', 'g')) AS BIGINT) AS chars_removed
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_repetition" ->
      // identical injection + per-(doc,line) then per-doc rollup; DuckDB
      // SUMs return HUGEINT -> cast before the IEEE double division ('/'
      // is float division in DuckDB, matching Spark's Column '/')
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || chr(10) || 'repeated filler line'
        |         || chr(10) || 'repeated filler line' ELSE text END AS text
        |  FROM documents),
        |l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM s),
        |g AS (SELECT doc_id, line, count(*) AS cnt FROM l GROUP BY doc_id, line),
        |d AS (
        |  SELECT doc_id,
        |    CAST(sum(cnt) AS BIGINT) AS n_lines,
        |    CAST(count(*) AS BIGINT) AS n_distinct,
        |    CAST(sum(length(line) * cnt) AS BIGINT) AS n_chars,
        |    CAST(sum(length(line)) AS BIGINT) AS n_distinct_chars
        |  FROM g GROUP BY doc_id)
        |SELECT doc_id, n_lines,
        |  CAST(n_lines - n_distinct AS DOUBLE) / CAST(n_lines AS DOUBLE) AS dup_line_frac,
        |  CASE WHEN n_chars = 0 THEN 0.0
        |       ELSE CAST(n_chars - n_distinct_chars AS DOUBLE) / CAST(n_chars AS DOUBLE)
        |  END AS dup_line_char_frac
        |FROM d ORDER BY doc_id""".stripMargin,
    "q_repetition_ngrams" ->
      // identical injection; overlapping all-position grams (one UNION ALL
      // branch per n — DuckDB slices are INCLUSIVE: toks[i:i+n-1]); top
      // gram per (doc,n) = max count, ties by lexicographically smallest
      // gram (binary collation both engines); BOTH trim and split use the
      // explicit 6-char class — bare trim() is spaces-only in DuckDB and
      // String.trim strips <=0x20 in Java, so the kernel's wsClassTrim and
      // this two-arg trim are the only matching pair (DuckDB \s also
      // excludes \x0b — never use it in oracle SQL)
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |         THEN text || ' lorem ipsum lorem ipsum lorem ipsum'
        |         ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, length(text) AS total_chars,
        |        regexp_split_to_array(
        |          trim(text, concat(' ', chr(9), chr(10), chr(11), chr(12), chr(13))),
        |          '[ \t\n\x0b\f\r]+') AS toks
        |      FROM s
        |      WHERE length(trim(text, concat(' ', chr(9), chr(10), chr(11), chr(12), chr(13)))) > 0),
        |g AS (
        |  SELECT doc_id, total_chars, 2 AS n,
        |    unnest(list_transform(generate_series(1, len(toks) - 1),
        |      i -> array_to_string(toks[i:i+1], ' '))) AS gram
        |  FROM t WHERE len(toks) >= 2
        |  UNION ALL
        |  SELECT doc_id, total_chars, 3 AS n,
        |    unnest(list_transform(generate_series(1, len(toks) - 2),
        |      i -> array_to_string(toks[i:i+2], ' '))) AS gram
        |  FROM t WHERE len(toks) >= 3
        |  UNION ALL
        |  SELECT doc_id, total_chars, 4 AS n,
        |    unnest(list_transform(generate_series(1, len(toks) - 3),
        |      i -> array_to_string(toks[i:i+3], ' '))) AS gram
        |  FROM t WHERE len(toks) >= 4),
        |c AS (SELECT doc_id, total_chars, n, gram, count(*) AS cnt
        |      FROM g GROUP BY 1, 2, 3, 4),
        |r AS (SELECT doc_id, total_chars, n, gram, cnt,
        |        row_number() OVER (PARTITION BY doc_id, n
        |                           ORDER BY cnt DESC, gram ASC) AS rk
        |      FROM c),
        |f AS (SELECT doc_id, n,
        |        CAST(cnt * length(gram) AS DOUBLE) / CAST(total_chars AS DOUBLE) AS frac
        |      FROM r WHERE rk = 1)
        |SELECT d.doc_id,
        |  coalesce(max(CASE WHEN n = 2 THEN frac END), 0.0) AS top_2gram_char_frac,
        |  coalesce(max(CASE WHEN n = 3 THEN frac END), 0.0) AS top_3gram_char_frac,
        |  coalesce(max(CASE WHEN n = 4 THEN frac END), 0.0) AS top_4gram_char_frac
        |FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,
    "q_gopher_quality" ->
      // identical injection; per-LINE and per-WORD predicates on exploded
      // elements (never multiline flags); the ellipsis check is a SUFFIX
      // test after rtrim of space/tab/CR — a `$` anchor diverges (Java's
      // matches before a trailing \r, RE2's does not); explicit ASCII
      // classes; word split keeps both engines' arrays equal after the
      // length>0 filter (Java split drops only TRAILING empties, DuckDB
      // keeps all — the filter erases the difference). coalesce(text, '')
      // mirrors the Spark operator's null handling: the operator emits a
      // zero-word one-line row for a NULL text, while a bare
      // string_split(NULL) would unnest to zero rows and the doc would
      // vanish from the oracle only.
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 6 = 0 THEN
        |      '- bullet item' || chr(10) || '* another bullet' || chr(10) ||
        |      'plain line' || chr(10) || 'trailing dots...' || chr(10) ||
        |      coalesce(text, '') || ' sym#bol ### trailing...'
        |    ELSE coalesce(text, '') END AS text
        |  FROM documents),
        |l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM s),
        |la AS (SELECT doc_id, count(*) AS n_lines,
        |         sum(CASE WHEN regexp_matches(line, '^[ \t]*[-*] ') THEN 1 ELSE 0 END) AS n_bullet,
        |         sum(CASE WHEN right(rtrim(line, ' ' || chr(9) || chr(13)), 3) = '...'
        |                  THEN 1 ELSE 0 END) AS n_ell
        |       FROM l GROUP BY doc_id),
        |w AS (SELECT doc_id, word FROM (
        |        SELECT doc_id,
        |          unnest(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+')) AS word
        |        FROM s) WHERE length(word) > 0),
        |wa AS (SELECT doc_id, count(*) AS n_words,
        |         sum(CASE WHEN regexp_matches(word, '[A-Za-z]') THEN 1 ELSE 0 END) AS n_alpha,
        |         sum(length(word) - length(replace(word, '#', ''))) AS n_hash,
        |         sum((length(word) - length(replace(word, '...', ''))) / 3) AS n_dotruns
        |       FROM w GROUP BY doc_id)
        |SELECT la.doc_id,
        |  CAST(la.n_lines AS BIGINT) AS n_lines,
        |  CAST(coalesce(wa.n_words, 0) AS BIGINT) AS n_words,
        |  CAST(n_bullet AS DOUBLE) / CAST(n_lines AS DOUBLE) AS bullet_line_frac,
        |  CAST(n_ell AS DOUBLE) / CAST(n_lines AS DOUBLE) AS ellipsis_line_frac,
        |  CASE WHEN coalesce(wa.n_words, 0) = 0 THEN 0.0
        |       ELSE CAST(coalesce(n_hash, 0) + coalesce(n_dotruns, 0) AS DOUBLE)
        |            / CAST(n_words AS DOUBLE) END AS symbol_word_ratio,
        |  CASE WHEN coalesce(wa.n_words, 0) = 0 THEN 0.0
        |       ELSE CAST(coalesce(n_alpha, 0) AS DOUBLE)
        |            / CAST(n_words AS DOUBLE) END AS alpha_word_frac
        |FROM la LEFT JOIN wa ON la.doc_id = wa.doc_id
        |ORDER BY la.doc_id""".stripMargin,
    "q_repetition_dupgrams" -> {
      // identical double injection of DupGramPhrase; same class-trim/split
      // and slicing conventions as q_repetition_ngrams; per (doc, n) the
      // covered mass is SUM over grams with cnt >= 2 of cnt*length(gram)
      // (HUGEINT sum cast to DOUBLE before the IEEE division). Backslash
      // segments stay in PLAIN triple quotes: the s-interpolator processes
      // escapes even in triple-quoted parts, and \x0b is not a valid Scala
      // escape (runtime InvalidEscapeException) — the phrase is spliced by
      // replace instead.
      val head = """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |         THEN text || '@PHRASE@' || '@PHRASE@'
        |         ELSE text END AS text
        |  FROM documents),
        |t AS (SELECT doc_id, length(text) AS total_chars,
        |        regexp_split_to_array(
        |          trim(text, concat(' ', chr(9), chr(10), chr(11), chr(12), chr(13))),
        |          '[ \t\n\x0b\f\r]+') AS toks
        |      FROM s
        |      WHERE length(trim(text, concat(' ', chr(9), chr(10), chr(11), chr(12), chr(13)))) > 0),
        |g AS (
        |""".stripMargin.replace("@PHRASE@", DupGramPhrase)
      val branches = (5 to 10).map { n =>
        s"""  SELECT doc_id, total_chars, $n AS n,
           |    unnest(list_transform(generate_series(1, len(toks) - ${n - 1}),
           |      i -> array_to_string(toks[i:i+${n - 1}], ' '))) AS gram
           |  FROM t WHERE len(toks) >= $n""".stripMargin
      }.mkString("\n  UNION ALL\n")
      val cols = (5 to 10).map { n =>
        s"  coalesce(max(CASE WHEN n = $n THEN frac END), 0.0) AS dup_${n}gram_char_frac"
      }.mkString(",\n")
      val tail = """
        |),
        |c AS (SELECT doc_id, total_chars, n, gram, count(*) AS cnt
        |      FROM g GROUP BY 1, 2, 3, 4),
        |f AS (SELECT doc_id, n,
        |        CAST(sum(cnt * length(gram)) AS DOUBLE) / CAST(total_chars AS DOUBLE) AS frac
        |      FROM c WHERE cnt >= 2 GROUP BY doc_id, total_chars, n)
        |SELECT d.doc_id,
        |@COLS@
        |FROM documents d LEFT JOIN f ON d.doc_id = f.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin.replace("@COLS@", cols)
      head + branches + tail
    },
    "q_line_dedup" ->
      // identical injection, eligibility (trimmed length >= 10), doc-freq
      // cut (> 20 distinct docs) and order-preserving reassembly; DuckDB
      // zips unnest + generate_subscripts in lockstep for line ordinals
      """WITH s AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0
        |       THEN '=== COMMON SITE NAVIGATION HEADER LINE ===' || chr(10) ELSE '' END)
        |    || (CASE WHEN doc_id % 100 = 1
        |       THEN '--- rare per-cohort banner line ---' || chr(10) ELSE '' END)
        |    || text AS text
        |  FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    generate_subscripts(string_split(text, chr(10)), 1) AS pos,
        |    unnest(string_split(text, chr(10))) AS line
        |  FROM s),
        |b AS (
        |  SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS ldf FROM l
        |    WHERE length(trim(line)) >= 10 GROUP BY line)
        |  WHERE ldf > 20),
        |k AS (
        |  SELECT doc_id, pos, line FROM l
        |  WHERE NOT (length(trim(line)) >= 10 AND line IN (SELECT line FROM b)))
        |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_clean_signatures" ->
      // survivor-SET teeth: the doc universe is re-derived from `documents`
      // through all four SQL stages (a missing/extra artifact row breaks
      // the LEFT-join hash/count); content teeth: the Q4 XOR band fold
      // recomputed from the committed signature (128 rows, r=4 -> 32
      // bands), then BOTH arrays digested with the u64 fold — the scalar
      // surface the driver compares. Signature VALUES are murmur-bound
      // (reference-binary parity pins them).
      ("WITH " + cleanSurvCtes + "," +
       """
        |sg AS (
        |  SELECT doc_id, signature
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_clean_signatures/*.parquet')),
        |w AS (
        |  SELECT doc_id, signature,
        |    list_transform(generate_series(0, 31), b ->
        |      CAST(xor(xor(signature[b*4+1], signature[b*4+2]),
        |               xor(signature[b*4+3], signature[b*4+4])) AS INTEGER)) AS bands
        |  FROM sg),
        |u AS (
        |  SELECT doc_id, CAST(len(signature) AS BIGINT) AS n_sig,
        |    @SIGD@ AS sig_digest, @BANDD@ AS band_digest
        |  FROM w)
        |SELECT s.doc_id, u.n_sig, u.sig_digest, u.band_digest
        |FROM surv s LEFT JOIN u ON u.doc_id = s.doc_id
        |ORDER BY s.doc_id""".stripMargin
         .replace("@SIGD@", u64FoldSqlI("signature"))
         .replace("@BANDD@", u64FoldSqlI("bands"))),
    "q_clean_embsketch" ->
      // vid set = survivors ∩ valid embeddings (derived side drives the
      // LEFT join: a missing artifact row nulls out and a spurious one
      // breaks the row count); vnorm is the real value check (ordered-fold
      // dot product); bucket/probe arrays digested from the artifact.
      ("WITH " + cleanSurvCtes + "," +
       """
        |es AS (
        |  SELECT vid, buckets, probes
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_clean_embsketch/*.parquet')),
        |u AS (
        |  SELECT vid, @BD@ AS buckets_digest, @PD@ AS probes_digest FROM es),
        |ev AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(embedding) > 0)
        |SELECT sv.doc_id AS vid, sqrt(list_dot_product(e.v, e.v)) AS vnorm,
        |       u.buckets_digest, u.probes_digest
        |FROM surv sv JOIN ev e ON e.vec_id = sv.doc_id
        |LEFT JOIN u ON u.vid = sv.doc_id
        |ORDER BY vid""".stripMargin
         .replace("@BD@", u64FoldSqlL("buckets"))
         .replace("@PD@", u64FoldSqlL("probes"))),
    "q_clean_pipeline" ->
      // the COMPOSED recipe replayed end-to-end: stages 1-4 from
      // `documents` (the shared CTE fragment), lexical near-dup from the
      // committed signatures (star-cap-256 candidate rule: cliques for
      // buckets <= cap, hub-star for larger — hub = bucket min; positional
      // agreement / 128 >= 0.8), semantic near-dup from the committed
      // survivor sketch (12x(1+8)-layout candidate replay + exact cosine
      // >= 0.95), recursive-CTE min-label CC over the pair union,
      // representatives (doc_id == component min), then the split/shard
      // tail (modular mix seed 13, 0.98/0.01/0.01; prefix sum / 50000).
      ("WITH RECURSIVE " + cleanSurvCtes + "," +
       """
        |sg AS (
        |  SELECT doc_id, signature, bands
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_clean_signatures/*.parquet')),
        |x AS (
        |  SELECT doc_id,
        |    generate_subscripts(bands, 1) AS band_idx,
        |    unnest(bands) AS band_hash
        |  FROM sg),
        |bg AS (
        |  SELECT band_idx, band_hash, count(*) AS bn, min(doc_id) AS hub
        |  FROM x GROUP BY band_idx, band_hash),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        |  FROM x a
        |  JOIN x b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
        |         AND a.doc_id < b.doc_id
        |  JOIN bg ON bg.band_idx = a.band_idx AND bg.band_hash = a.band_hash
        |  WHERE bg.bn <= 256 OR a.doc_id = bg.hub),
        |lex AS (
        |  SELECT doc1, doc2 FROM (
        |    SELECT c.doc1, c.doc2,
        |      CAST(len(list_filter(generate_series(1, 128),
        |        i -> s1.signature[i] = s2.signature[i])) AS DOUBLE) / 128.0 AS sim
        |    FROM cand c JOIN sg s1 ON c.doc1 = s1.doc_id
        |                JOIN sg s2 ON c.doc2 = s2.doc_id)
        |  WHERE sim >= 0.8),
        |es AS (
        |  SELECT vid, buckets, probes
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_clean_embsketch/*.parquet')),
        |eb AS (
        |  SELECT vid, generate_subscripts(buckets, 1) - 1 AS table_idx,
        |         unnest(buckets) AS bucket
        |  FROM es),
        |ep AS (
        |  SELECT vid, (generate_subscripts(probes, 1) - 1) // 9 AS table_idx,
        |         unnest(probes) AS bucket
        |  FROM es),
        |ec AS (
        |  SELECT DISTINCT p.vid AS doc1, b.vid AS doc2
        |  FROM ep p JOIN eb b
        |    ON p.table_idx = b.table_idx AND p.bucket = b.bucket AND p.vid < b.vid),
        |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |sem AS (
        |  SELECT doc1, doc2 FROM (
        |    SELECT c.doc1, c.doc2,
        |      list_dot_product(a.v, b.v) /
        |        (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        |        AS cosine
        |    FROM ec c JOIN ev a ON a.vec_id = c.doc1 JOIN ev b ON b.vec_id = c.doc2)
        |  WHERE cosine >= 0.95),
        |p AS (SELECT doc1, doc2 FROM lex UNION SELECT doc1, doc2 FROM sem),
        |e AS (SELECT doc1 AS a, doc2 AS b FROM p UNION SELECT doc2, doc1 FROM p),
        |r AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
        |m AS (SELECT a AS doc_id, min(b) AS mn FROM r GROUP BY a),
        |reps AS (
        |  SELECT s3.doc_id, s3.rtext FROM surv s3 LEFT JOIN m ON s3.doc_id = m.doc_id
        |  WHERE least(s3.doc_id, coalesce(m.mn, s3.doc_id)) = s3.doc_id),
        |tok AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(rtext)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(rtext), '[ \t\n\x0b\f\r]+')) END
        |      AS BIGINT) AS n_tokens
        |  FROM reps),
        |bkt AS (
        |  SELECT doc_id, n_tokens,
        |    ((doc_id % 1000000007 + 13) * 654435747) % 1000000007 % 10000 AS bucket
        |  FROM tok),
        |cum AS (
        |  SELECT doc_id, bucket,
        |    CAST(COALESCE(SUM(n_tokens) OVER
        |      (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum0
        |  FROM bkt)
        |SELECT doc_id,
        |  CASE WHEN bucket < 9800 THEN 'train'
        |       WHEN bucket < 9900 THEN 'val'
        |       ELSE 'test' END AS split,
        |  CAST(cum0 // 50000 AS BIGINT) AS shard_id
        |FROM cum ORDER BY doc_id""".stripMargin),
    "q_clean_tail" ->
      // replays split membership (modular mix, seed 13, default
      // 0.98/0.01/0.01 cuts) + token-shard packing (exclusive prefix sum /
      // 50000) over the SPARK-PRODUCED survivor set — read back from this
      // query's own committed output (doc_id, n_tokens are inputs to the
      // tail; split, shard_id are the verified recomputation). @GRAFT_OUT@
      // is spliced to the absolute output dir by Verify at dump time.
      """WITH t AS (
        |  SELECT doc_id, n_tokens
        |  FROM read_parquet('@GRAFT_OUT@/q_clean_tail/*.parquet')),
        |b AS (
        |  SELECT doc_id, n_tokens,
        |    ((doc_id % 1000000007 + 13) * 654435747) % 1000000007 % 10000 AS bucket
        |  FROM t),
        |c AS (
        |  SELECT doc_id, n_tokens, bucket,
        |    CAST(COALESCE(SUM(n_tokens) OVER
        |      (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum0
        |  FROM b)
        |SELECT doc_id, n_tokens,
        |  CASE WHEN bucket < 9800 THEN 'train'
        |       WHEN bucket < 9900 THEN 'val'
        |       ELSE 'test' END AS split,
        |  CAST(cum0 // 50000 AS BIGINT) AS shard_id
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_exact_spans" ->
      // full replay of removeExactDuplicateSpans (windowTokens=8): same
      // injection, class-trim + explicit-class split tokenization (PLAIN
      // triple quotes — the \x0b class must not meet the s-interpolator),
      // 1-based window slices, exact window-string classes, keep-first by
      // (doc_id, start) via a rank window, overlap-merged marked indices,
      // single-space reassembly. The Spark side never ships window strings
      // for non-candidates (hash-prefilter + exact verify); the oracle
      // proves that implementation detail invisible.
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN coalesce(text, '') || ' ' ||
        |           'alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu'
        |         WHEN doc_id % 11 = 3 THEN
        |           'alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu'
        |           || ' ' || coalesce(text, '')
        |         WHEN doc_id % 13 = 1 THEN coalesce(text, '')
        |           || ' one two three four five six seven eight nine ten'
        |           || ' one two three four five six seven eight nine ten'
        |         ELSE coalesce(text, '') END AS text
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(text, concat(' ', chr(9), chr(10), chr(11), chr(12), chr(13)))) = 0
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(
        |           trim(text, concat(' ', chr(9), chr(10), chr(11), chr(12), chr(13))),
        |           '[ \t\n\x0b\f\r]+') END AS toks
        |  FROM s),
        |wn AS (
        |  SELECT doc_id, u.i AS start, array_to_string(toks[u.i:u.i+7], ' ') AS win
        |  FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)
        |  WHERE len(toks) >= 8),
        |r AS (
        |  SELECT doc_id, start,
        |    row_number() OVER (PARTITION BY win ORDER BY doc_id, start) AS rn,
        |    count(*) OVER (PARTITION BY win) AS c
        |  FROM wn),
        |marked AS (
        |  SELECT DISTINCT r.doc_id, r.start + o.off AS idx
        |  FROM r, unnest(generate_series(0, 7)) AS o(off)
        |  WHERE r.c >= 2 AND r.rn > 1),
        |tr AS (
        |  SELECT t.doc_id, u.i AS idx, toks[u.i] AS tok
        |  FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
        |kept AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean_text
        |  FROM (SELECT tr.doc_id, tr.idx, tr.tok
        |        FROM tr LEFT JOIN marked m ON tr.doc_id = m.doc_id AND tr.idx = m.idx
        |        WHERE m.doc_id IS NULL)
        |  GROUP BY doc_id),
        |rem AS (SELECT doc_id, count(*) AS n_removed FROM marked GROUP BY doc_id)
        |SELECT t.doc_id,
        |  coalesce(k.clean_text, '') AS clean_text,
        |  CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(rem.n_removed, 0) AS BIGINT) AS n_tokens_removed
        |FROM t
        |LEFT JOIN kept k ON t.doc_id = k.doc_id
        |LEFT JOIN rem ON t.doc_id = rem.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "q_corpus_split" ->
      // mirrors Corpus.splitBucket (modular Knuth mix, 2654435761 %
      // 1000000007 = 654435747; all operands nonnegative so % == pmod) and
      // the cumulative weight cuts for 0.8/0.1/0.1
      """WITH b AS (
        |  SELECT doc_id,
        |    ((doc_id % 1000000007 + 13) * 654435747) % 1000000007 % 10000 AS bucket
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN bucket < 8000 THEN 'train'
        |       WHEN bucket < 9000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    "q_quota_sample" ->
      // mirrors Corpus.quotaSample: full-resolution mix as the sampling
      // priority, partitioned rank, cap 40 per lang, tie -> min doc_id
      """WITH s AS (
        |  SELECT doc_id, lang,
        |    ((doc_id % 1000000007 + 13) * 654435747) % 1000000007 AS prio
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang ORDER BY prio, doc_id) AS rn
        |  FROM s)
        |SELECT doc_id, lang FROM r WHERE rn <= 40 ORDER BY doc_id""".stripMargin,
    "q_corpus_profile" ->
      // same token expression as q_token_shards' oracle (the pinned
      // tokenCountWs pair), code-point length(), exact distinct on the
      // text itself (the digest only exists to keep the Spark-side
      // shuffle text-free); DuckDB SUM -> HUGEINT, cast back
      """WITH t AS (
        |  SELECT lang, source, coalesce(text, '') AS tx,
        |    CAST(CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(coalesce(text, '')), '[ \t\n\x0b\f\r]+')) END AS BIGINT)
        |      AS ntk
        |  FROM documents)
        |SELECT lang, source,
        |  count(*) AS n_docs,
        |  CAST(sum(ntk) AS BIGINT) AS total_tokens,
        |  min(ntk) AS min_tokens,
        |  max(ntk) AS max_tokens,
        |  CAST(sum(length(tx)) AS BIGINT) AS total_chars,
        |  count(DISTINCT tx) AS n_distinct_texts
        |FROM t GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,
    "q_token_shards" ->
      // shard = floor(exclusive-prefix-sum(n_tokens) / 50000) over doc_id
      // order; DuckDB SUM(BIGINT) returns HUGEINT -> cast back before the
      // integer division
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')) END AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    CAST(COALESCE(SUM(n_tokens) OVER
        |      (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum0
        |  FROM t)
        |SELECT doc_id, n_tokens, CAST(cum0 // 50000 AS BIGINT) AS shard_id
        |FROM c ORDER BY doc_id""".stripMargin,
    "q_quality" ->
      """WITH q AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')) END AS n_tokens,
        |    length(text) - length(regexp_replace(text, '[^A-Za-z0-9 \t\n\x0b\f\r]', '', 'g')) AS n_punct,
        |    len(list_filter(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+'),
        |      w -> lower(w) IN ('the','a','an','and','or','of','to','in','on','is','it',
        |                        'for','with','as','at','by','be','this','that','are','was')))
        |      AS n_stop,
        |    list_reduce(list_prepend(0, list_transform(
        |      regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+'), w -> length(w))),
        |      (acc, x) -> acc + x) AS sum_tok_len
        |  FROM documents)
        |SELECT doc_id, n_tokens, n_punct,
        |  CASE WHEN length(text) = 0 THEN 0.0
        |       ELSE CAST(n_punct AS DOUBLE) / length(text) END AS punct_ratio,
        |  CASE WHEN n_tokens = 0 THEN 0.0
        |       ELSE CAST(n_stop AS DOUBLE) / n_tokens END AS stopword_ratio,
        |  CASE WHEN n_tokens = 0 THEN 0.0
        |       ELSE CAST(sum_tok_len AS DOUBLE) / n_tokens END AS mean_token_len
        |FROM q ORDER BY doc_id""".stripMargin,
    // ---- the flagship LSH replay chain (round 6): signature GENERATION is
    // murmur-bound (ref-binary parity pins it), but everything downstream of
    // the committed arrays is pure relational/bitwise arithmetic — so each
    // stage's oracle re-derives it in DuckDB from the PREVIOUS stage's
    // committed output via @GRAFT_OUT@ (the q_clean_tail layered pattern):
    // signatures -> XOR band fold -> ∃-band candidates -> positional
    // agreement + threshold -> recursive-CTE min-label CC -> survivor set.
    "q_minhash_signatures" ->
      // the TEETH: bands recomputed from the committed artifact signature
      // via the Q4 XOR fold (docCfg: 128 rows, r=4 -> 32 bands), then both
      // arrays digested element-exactly (u64 fold); doc universe LEFT-joined
      // from `documents` so a missing/extra artifact row mismatches.
      // Signature VALUES are murmur-bound (ref-binary parity pins them).
      """WITH t AS (
        |  SELECT doc_id, signature
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_minhash_signatures/*.parquet')),
        |w AS (
        |  SELECT doc_id, signature,
        |    list_transform(generate_series(0, 31), b ->
        |      CAST(xor(xor(signature[b*4+1], signature[b*4+2]),
        |               xor(signature[b*4+3], signature[b*4+4])) AS INTEGER)) AS bands
        |  FROM t),
        |u AS (
        |  SELECT doc_id, CAST(len(signature) AS BIGINT) AS n_sig,
        |    @SIGD@ AS sig_digest, @BANDD@ AS band_digest
        |  FROM w)
        |SELECT d.doc_id, u.n_sig, u.sig_digest, u.band_digest
        |FROM documents d LEFT JOIN u ON u.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin
        .replace("@SIGD@", u64FoldSqlI("signature"))
        .replace("@BANDD@", u64FoldSqlI("bands")),
    "q_lsh_candidates" ->
      // ∃-band gate replay: unnest committed bands positionally, equi-join
      // on (band_idx, band_hash), distinct doc1<doc2 — the exact candidate
      // relation of the reference's is_candidate_pair
      """WITH t AS (
        |  SELECT doc_id, bands
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_minhash_signatures/*.parquet')),
        |x AS (
        |  SELECT doc_id,
        |    generate_subscripts(bands, 1) AS band_idx,
        |    unnest(bands) AS band_hash
        |  FROM t)
        |SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        |FROM x a JOIN x b
        |  ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
        | AND a.doc_id < b.doc_id
        |ORDER BY doc1, doc2""".stripMargin,
    "q_minhash_pairs" ->
      // candidates (as above) -> positional signature agreement / 128 ->
      // `>=` threshold 0.3; agreement counts are integer, /128.0 is an
      // exact power-of-two division — bit-identical IEEE on both engines
      """WITH t AS (
        |  SELECT doc_id, signature, bands
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_minhash_signatures/*.parquet')),
        |x AS (
        |  SELECT doc_id,
        |    generate_subscripts(bands, 1) AS band_idx,
        |    unnest(bands) AS band_hash
        |  FROM t),
        |c AS (
        |  SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        |  FROM x a JOIN x b
        |    ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
        |   AND a.doc_id < b.doc_id),
        |p AS (
        |  SELECT c.doc1, c.doc2,
        |    CAST(len(list_filter(generate_series(1, 128),
        |      i -> s1.signature[i] = s2.signature[i])) AS DOUBLE) / 128.0 AS similarity
        |  FROM c JOIN t s1 ON c.doc1 = s1.doc_id JOIN t s2 ON c.doc2 = s2.doc_id)
        |SELECT doc1, doc2, similarity FROM p
        |WHERE similarity >= 0.3 ORDER BY doc1, doc2""".stripMargin,
    "q_minhash_clusters" ->
      // min-label connected components replayed as a recursive-CTE
      // transitive closure over the committed (verified) pair table;
      // cluster_id = min doc_id reachable (singletons keep their own id)
      """WITH RECURSIVE p AS (
        |  SELECT doc1, doc2 FROM read_parquet('@GRAFT_OUT@/q_minhash_pairs/*.parquet')),
        |e AS (SELECT doc1 AS a, doc2 AS b FROM p UNION SELECT doc2, doc1 FROM p),
        |r AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
        |m AS (SELECT a AS doc_id, min(b) AS mn FROM r GROUP BY a)
        |SELECT d.doc_id, CAST(least(d.doc_id, coalesce(m.mn, d.doc_id)) AS BIGINT) AS cluster_id
        |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_dedup_corpus" ->
      // survivor set = cluster representatives (doc_id == component min),
      // re-derived INDEPENDENTLY from the committed pairs (not from the
      // clusters output) so this oracle doesn't inherit a clusters bug
      """WITH RECURSIVE p AS (
        |  SELECT doc1, doc2 FROM read_parquet('@GRAFT_OUT@/q_minhash_pairs/*.parquet')),
        |e AS (SELECT doc1 AS a, doc2 AS b FROM p UNION SELECT doc2, doc1 FROM p),
        |r AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
        |m AS (SELECT a AS doc_id, min(b) AS mn FROM r GROUP BY a)
        |SELECT d.doc_id, CAST(length(d.text) AS INTEGER) AS n_chars
        |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id
        |WHERE least(d.doc_id, coalesce(m.mn, d.doc_id)) = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_cluster_best" ->
      // quality-aware representatives replayed end-to-end: clusters from the
      // committed pair table (recursive-CTE closure, as q_minhash_clusters),
      // score recomputed from documents with q_quality's expressions
      // (INTEGER tokens - punct; explicit ws class — RE2 \s excludes \x0b),
      // argmax + min-id tie-break re-derived via max/equi-join (no windows)
      """WITH RECURSIVE p AS (
        |  SELECT doc1, doc2 FROM read_parquet('@GRAFT_OUT@/q_minhash_pairs/*.parquet')),
        |e AS (SELECT doc1 AS a, doc2 AS b FROM p UNION SELECT doc2, doc1 FROM p),
        |r AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
        |m AS (SELECT a AS doc_id, min(b) AS mn FROM r GROUP BY a),
        |s AS (
        |  SELECT d.doc_id,
        |    CAST(least(d.doc_id, coalesce(m.mn, d.doc_id)) AS BIGINT) AS cluster_id,
        |    CAST(COALESCE(
        |      CAST(CASE WHEN length(trim(d.text)) = 0 THEN 0
        |           ELSE len(regexp_split_to_array(trim(d.text), '[ \t\n\x0b\f\r]+')) END AS BIGINT)
        |      - CAST(length(d.text)
        |             - length(regexp_replace(d.text, '[^A-Za-z0-9 \t\n\x0b\f\r]', '', 'g')) AS BIGINT),
        |      -1) AS BIGINT) AS score
        |  FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id),
        |mx AS (SELECT cluster_id, max(score) AS mxs FROM s GROUP BY cluster_id),
        |rep AS (
        |  SELECT s.cluster_id, min(s.doc_id) AS rep_id
        |  FROM s JOIN mx ON s.cluster_id = mx.cluster_id AND s.score = mx.mxs
        |  GROUP BY s.cluster_id)
        |SELECT s.doc_id, s.cluster_id, s.score,
        |  CAST(CASE WHEN s.doc_id = rep.rep_id THEN 1 ELSE 0 END AS INTEGER) AS is_rep
        |FROM s JOIN rep ON s.cluster_id = rep.cluster_id
        |ORDER BY s.doc_id""".stripMargin,
    "q_streaming_dedup" ->
      // stream == batch: the incremental pipeline's final pair table must
      // equal the (oracle-verified) batch pair table on the same corpus —
      // values AND similarity doubles byte-identical
      """SELECT doc1, doc2, similarity
        |FROM read_parquet('@GRAFT_OUT@/q_minhash_pairs/*.parquet')
        |ORDER BY doc1, doc2""".stripMargin,
    "q_exact_jaccard_verify" ->
      // exact Jaccard replay over the committed candidate pairs: distinct
      // 3-shingles of Tokenizer-normalized tokens (the q_fingerprint
      // normalization replay; string sets == 32-bit hash sets absent
      // collisions — ~1e-4 at this scale); both-empty pairs (Q3 short-doc
      // mutual dups) are 1.0 by definition
      """WITH c AS (
        |  SELECT doc1, doc2 FROM read_parquet('@GRAFT_OUT@/q_lsh_candidates/*.parquet')),
        |tok AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(
        |      regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |      x -> regexp_replace(lower(x), '[^a-z0-9]', '', 'g')), x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(generate_series(1, len(toks) - 2),
        |      i -> array_to_string(toks[i:i+2], ' ')))) AS gram
        |  FROM tok WHERE len(toks) >= 3),
        |sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
        |i AS (
        |  SELECT g1.doc_id AS doc1, g2.doc_id AS doc2, count(*) AS ni
        |  FROM c JOIN g g1 ON g1.doc_id = c.doc1
        |         JOIN g g2 ON g2.doc_id = c.doc2 AND g2.gram = g1.gram
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT c.doc1, c.doc2,
        |    coalesce(sa.n, 0) AS na, coalesce(sb.n, 0) AS nb, coalesce(i.ni, 0) AS ni
        |  FROM c
        |  LEFT JOIN sz sa ON sa.doc_id = c.doc1
        |  LEFT JOIN sz sb ON sb.doc_id = c.doc2
        |  LEFT JOIN i ON i.doc1 = c.doc1 AND i.doc2 = c.doc2),
        |f AS (
        |  SELECT doc1, doc2,
        |    CASE WHEN na + nb = 0 THEN CAST(1.0 AS DOUBLE)
        |         ELSE CAST(ni AS DOUBLE) / CAST(na + nb - ni AS DOUBLE) END AS jaccard
        |  FROM j)
        |SELECT doc1, doc2, jaccard FROM f WHERE jaccard >= 0.3
        |ORDER BY doc1, doc2""".stripMargin,
    "q_simhash_fp" ->
      // completeness + echo: exactly one fingerprint per document (the
      // VALUES are murmur-bound — KernelSpec pins them; this oracle pins
      // the row set so q_simhash_pairs' replay below stands on a verified
      // substrate)
      // LEFT JOIN from the derived universe (ADVICE r6): an INNER join let
      // a missing committed row vanish from BOTH sides and hash-compare
      // equal; LEFT yields a NULL-simhash oracle row the Spark side lacks
      """SELECT d.doc_id, f.simhash
        |FROM documents d
        |LEFT JOIN read_parquet('@GRAFT_OUT@/q_simhash_fp/*.parquet') f ON d.doc_id = f.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "q_simhash_pairs" ->
      // the 4-block pigeonhole guarantees every pair at Hamming <= 3 shares
      // a block, so the operator's block-join output must equal the plain
      // all-pairs Hamming filter over the committed fingerprints — replayed
      // exhaustively here (O(n²) is fine at oracle scale)
      """WITH f AS (
        |  SELECT doc_id, simhash FROM read_parquet('@GRAFT_OUT@/q_simhash_fp/*.parquet'))
        |SELECT a.doc_id AS doc1, b.doc_id AS doc2,
        |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
        |FROM f a JOIN f b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY doc1, doc2""".stripMargin,
    "q_substring_dup" ->
      // full replay by exact window STRING (12 consecutive
      // Tokenizer-normalized tokens; string classes == 64-bit rolling-hash
      // classes absent collisions): per-doc DISTINCT windows, doc-freq cap
      // <= 100, equi-join, distinct doc1<doc2
      """WITH tok AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(
        |      regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |      x -> regexp_replace(lower(x), '[^a-z0-9]', '', 'g')), x -> x <> '') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id,
        |    unnest(list_distinct(list_transform(generate_series(1, len(toks) - 11),
        |      i -> array_to_string(toks[i:i+11], ' ')))) AS win
        |  FROM tok WHERE len(toks) >= 12),
        |ok AS (SELECT win FROM w GROUP BY win HAVING count(*) <= 100),
        |wf AS (SELECT w.doc_id, w.win FROM w JOIN ok ON w.win = ok.win)
        |SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        |FROM wf a JOIN wf b ON a.win = b.win AND a.doc_id < b.doc_id
        |ORDER BY doc1, doc2""".stripMargin,
    "q_span_dedup" ->
      // full replay of removeDuplicateSpans (minTokens=8, docFreq cut 20)
      // by exact window string (the q_exact_spans conventions: class-trim +
      // explicit-class split, 1-based inclusive slices, single-space
      // reassembly) — but flag = doc-freq > 20 and excision hits EVERY
      // occurrence (no keep-first). The Spark side's concat null-propagates
      // for doc_id%3=0 NULL-text docs, and the operator maps NULL -> "";
      // coalesce AFTER the injection mirrors that exactly.
      """WITH s AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |         THEN 'shared leading span alpha beta gamma delta epsilon zeta eta ' || text
        |         ELSE text END AS text
        |  FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    CASE WHEN length(trim(coalesce(text, ''), concat(' ', chr(9), chr(10), chr(11), chr(12), chr(13)))) = 0
        |         THEN CAST([] AS VARCHAR[])
        |         ELSE regexp_split_to_array(
        |           trim(coalesce(text, ''), concat(' ', chr(9), chr(10), chr(11), chr(12), chr(13))),
        |           '[ \t\n\x0b\f\r]+') END AS toks
        |  FROM s),
        |wn AS (
        |  SELECT doc_id, u.i AS start, array_to_string(toks[u.i:u.i+7], ' ') AS win
        |  FROM t, unnest(generate_series(1, len(toks) - 7)) AS u(i)
        |  WHERE len(toks) >= 8),
        |fl AS (
        |  SELECT win FROM (SELECT win, count(DISTINCT doc_id) AS wdf FROM wn GROUP BY win)
        |  WHERE wdf > 20),
        |marked AS (
        |  SELECT DISTINCT wn.doc_id, wn.start + o.off AS idx
        |  FROM wn, unnest(generate_series(0, 7)) AS o(off)
        |  WHERE wn.win IN (SELECT win FROM fl)),
        |tr AS (
        |  SELECT t.doc_id, u.i AS idx, toks[u.i] AS tok
        |  FROM t, unnest(generate_series(1, len(toks))) AS u(i)),
        |kept AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean_text
        |  FROM (SELECT tr.doc_id, tr.idx, tr.tok
        |        FROM tr LEFT JOIN marked m ON tr.doc_id = m.doc_id AND tr.idx = m.idx
        |        WHERE m.doc_id IS NULL)
        |  GROUP BY doc_id),
        |rem AS (SELECT doc_id, count(*) AS n_removed FROM marked GROUP BY doc_id)
        |SELECT t.doc_id,
        |  coalesce(k.clean_text, '') AS clean_text,
        |  CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(rem.n_removed, 0) AS BIGINT) AS n_tokens_removed
        |FROM t
        |LEFT JOIN kept k ON t.doc_id = k.doc_id
        |LEFT JOIN rem ON t.doc_id = rem.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "q_mm_frames" ->
      // mirrors Multimodal.synthesizeAssets (modality = video iff doc_id%3=2,
      // duration_ms = 1000 + (doc_id%60)*500) + sampleFramePlan (1 frame per
      // 1000 ms, cap 32)
      """WITH v AS (
        |  SELECT doc_id AS asset_id, 1000 + (doc_id % 60) * 500 AS duration_ms
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT asset_id, unnest(range(0, duration_ms, 1000)) AS ts_ms FROM v)
        |SELECT asset_id, CAST(ts_ms // 1000 AS INTEGER) AS frame_idx, ts_ms
        |FROM f WHERE ts_ms // 1000 < 32
        |ORDER BY asset_id, frame_idx""".stripMargin,
    "q_mm_phash" ->
      // completeness + echo (the q_simhash_fp pattern): exactly one
      // perceptual hash per image-modality asset — documents plus the
      // planted re-ingested copies (every 25th doc under +273273, the
      // offset that preserves modality %3 and synth dims %13/%7); the
      // VALUES are pixel-DSP-bound (aHash over a real decode), spec-pinned
      // LEFT JOIN from the derived id universe (ADVICE r6) so a missing
      // committed fingerprint yields a NULL-phash row instead of vanishing
      """WITH ids AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id + 273273 FROM documents
        |  WHERE doc_id % 25 = 0 AND (doc_id + 273273) % 3 = 0)
        |SELECT i.doc_id AS asset_id, f.phash
        |FROM ids i
        |LEFT JOIN read_parquet('@GRAFT_OUT@/q_mm_phash/*.parquet') f ON i.doc_id = f.asset_id
        |ORDER BY asset_id""".stripMargin,
    "q_mm_imagedup" ->
      // the block-pigeonhole operator must equal the exhaustive Hamming
      // filter over the committed perceptual hashes (O(n²) fine at oracle
      // scale) — the q_simhash_pairs replay pattern on image fingerprints
      // `<> 0` mirrors the operator's sentinel exclusion (undecodable /
      // monochrome fingerprints never pair — r6 verdict's skew decision)
      """WITH f AS (
        |  SELECT asset_id, phash FROM read_parquet('@GRAFT_OUT@/q_mm_phash/*.parquet')
        |  WHERE phash <> 0)
        |SELECT a.asset_id AS asset1, b.asset_id AS asset2,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS INTEGER) AS hamming
        |FROM f a JOIN f b ON a.asset_id < b.asset_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |ORDER BY asset1, asset2""".stripMargin,
    "q_mm_audiohash" ->
      // completeness + echo: one spectral fingerprint per audio-modality
      // asset — documents plus planted copies at +4800000 (≡ 0 mod 3 and
      // 16: modality and synth duration preserved); VALUES are DSP-bound
      // LEFT JOIN from the derived id universe (ADVICE r6), as q_mm_phash
      """WITH ids AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id + 4800000 FROM documents
        |  WHERE doc_id % 25 = 0 AND (doc_id + 4800000) % 3 = 1)
        |SELECT i.doc_id AS asset_id, f.ahash
        |FROM ids i
        |LEFT JOIN read_parquet('@GRAFT_OUT@/q_mm_audiohash/*.parquet') f ON i.doc_id = f.asset_id
        |ORDER BY asset_id""".stripMargin,
    "q_mm_audiodup" ->
      // exhaustive Hamming replay over the committed audio fingerprints
      // `<> 0` mirrors the operator's sentinel exclusion (q_mm_imagedup)
      """WITH f AS (
        |  SELECT asset_id, ahash FROM read_parquet('@GRAFT_OUT@/q_mm_audiohash/*.parquet')
        |  WHERE ahash <> 0)
        |SELECT a.asset_id AS asset1, b.asset_id AS asset2,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
        |FROM f a JOIN f b ON a.asset_id < b.asset_id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
        |ORDER BY asset1, asset2""".stripMargin,
    "q_mm_videohash" ->
      // completeness + echo: one key-frame fingerprint per video-modality
      // asset — documents plus planted copies at +6000000 (≡ 0 mod 3/4/60:
      // modality, synth dims and duration preserved); values DSP-bound
      // LEFT JOIN from the derived id universe (ADVICE r6), as q_mm_phash
      """WITH ids AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 3 = 2
        |  UNION ALL
        |  SELECT doc_id + 6000000 FROM documents
        |  WHERE doc_id % 25 = 0 AND (doc_id + 6000000) % 3 = 2)
        |SELECT i.doc_id AS asset_id, f.vhash
        |FROM ids i
        |LEFT JOIN read_parquet('@GRAFT_OUT@/q_mm_videohash/*.parquet') f ON i.doc_id = f.asset_id
        |ORDER BY asset_id""".stripMargin,
    "q_mm_videodup" ->
      // exhaustive Hamming replay over the committed video fingerprints
      // `<> 0` mirrors the operator's sentinel exclusion (q_mm_imagedup)
      """WITH f AS (
        |  SELECT asset_id, vhash FROM read_parquet('@GRAFT_OUT@/q_mm_videohash/*.parquet')
        |  WHERE vhash <> 0)
        |SELECT a.asset_id AS asset1, b.asset_id AS asset2,
        |  CAST(bit_count(xor(a.vhash, b.vhash)) AS INTEGER) AS hamming
        |FROM f a JOIN f b ON a.asset_id < b.asset_id
        |WHERE bit_count(xor(a.vhash, b.vhash)) <= 3
        |ORDER BY asset1, asset2""".stripMargin,
    "q_mm_fps" ->
      // completeness + echo over the combined planted input (every 25th doc
      // re-ingested under its modality-matched offset): exactly one
      // fingerprint row per derived asset id; LEFT JOIN so a missing
      // committed row yields a NULL-fp64 mismatch (ADVICE r6 pattern)
      """WITH ids AS (
        |  SELECT doc_id FROM documents
        |  UNION ALL SELECT doc_id + 273273 FROM documents
        |    WHERE doc_id % 25 = 0 AND doc_id % 3 = 0
        |  UNION ALL SELECT doc_id + 4800000 FROM documents
        |    WHERE doc_id % 25 = 0 AND doc_id % 3 = 1
        |  UNION ALL SELECT doc_id + 6000000 FROM documents
        |    WHERE doc_id % 25 = 0 AND doc_id % 3 = 2)
        |SELECT i.doc_id AS asset_id, f.modality, f.fp64
        |FROM ids i
        |LEFT JOIN read_parquet('@GRAFT_OUT@/q_mm_fps/*.parquet') f ON i.doc_id = f.asset_id
        |ORDER BY asset_id""".stripMargin,
    "q_mm_clusters" ->
      // the whole modality-dedup chain replayed from the committed
      // fingerprints: exhaustive per-modality Hamming pairs (sentinel-0
      // excluded, exactly the operator's rule) -> recursive-CTE transitive
      // closure -> min-label per asset, singletons keeping their own id;
      // universe re-DERIVED from documents so row count has teeth
      """WITH RECURSIVE ids AS (
        |  SELECT doc_id FROM documents
        |  UNION ALL SELECT doc_id + 273273 FROM documents
        |    WHERE doc_id % 25 = 0 AND doc_id % 3 = 0
        |  UNION ALL SELECT doc_id + 4800000 FROM documents
        |    WHERE doc_id % 25 = 0 AND doc_id % 3 = 1
        |  UNION ALL SELECT doc_id + 6000000 FROM documents
        |    WHERE doc_id % 25 = 0 AND doc_id % 3 = 2),
        |f AS (
        |  SELECT asset_id, modality, fp64
        |  FROM read_parquet('@GRAFT_OUT@/q_mm_fps/*.parquet') WHERE fp64 <> 0),
        |p AS (
        |  SELECT a.asset_id AS a1, b.asset_id AS a2
        |  FROM f a JOIN f b ON a.modality = b.modality AND a.asset_id < b.asset_id
        |  WHERE bit_count(xor(a.fp64, b.fp64)) <= 3),
        |e AS (SELECT a1 AS a, a2 AS b FROM p UNION SELECT a2, a1 FROM p),
        |r AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
        |m AS (SELECT a AS asset_id, min(b) AS mn FROM r GROUP BY a)
        |SELECT i.doc_id AS asset_id,
        |  CAST(least(i.doc_id, coalesce(m.mn, i.doc_id)) AS BIGINT) AS cluster_id
        |FROM ids i LEFT JOIN m ON i.doc_id = m.asset_id
        |ORDER BY asset_id""".stripMargin,
    "q_mm_dedup_corpus" ->
      // survivors re-derived INDEPENDENTLY from the committed fingerprints
      // (never from the clusters output): rep = asset whose reachable
      // minimum is itself; modality/fp64 echoed from the committed row
      """WITH RECURSIVE f AS (
        |  SELECT asset_id, modality, fp64
        |  FROM read_parquet('@GRAFT_OUT@/q_mm_fps/*.parquet')),
        |fnz AS (SELECT asset_id, modality, fp64 FROM f WHERE fp64 <> 0),
        |p AS (
        |  SELECT a.asset_id AS a1, b.asset_id AS a2
        |  FROM fnz a JOIN fnz b ON a.modality = b.modality AND a.asset_id < b.asset_id
        |  WHERE bit_count(xor(a.fp64, b.fp64)) <= 3),
        |e AS (SELECT a1 AS a, a2 AS b FROM p UNION SELECT a2, a1 FROM p),
        |r AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
        |m AS (SELECT a AS asset_id, min(b) AS mn FROM r GROUP BY a)
        |SELECT f.asset_id, f.modality, f.fp64
        |FROM f LEFT JOIN m ON f.asset_id = m.asset_id
        |WHERE least(f.asset_id, coalesce(m.mn, f.asset_id)) = f.asset_id
        |ORDER BY f.asset_id""".stripMargin,
    "q_ann_ivf_centroids" ->
      // id/dim echo + the unit-norm invariant recomputed from the COMMITTED
      // centroid arrays (same ordered IEEE fold as the Spark side's dotD
      // over its deterministic recompute; 9dp round) — pins the artifact's
      // float content; centroid VALUES stay lloyd-bound otherwise
      """SELECT centroid_id, CAST(len(centroid) AS BIGINT) AS dim,
        |  round(sqrt(list_dot_product(centroid, centroid)), 9) AS cnorm
        |FROM read_parquet('@GRAFT_OUT@/_artifact_ann_ivf_centroids/*.parquet')
        |ORDER BY centroid_id""".stripMargin,
    "q_mm_features" ->
      // committed-artifact replay: modality / n_bytes / dims are codec-bound
      // echoes of the artifact, but byte_entropy is RE-DERIVED from the
      // committed 16-bin histogram (-sum p*log2 p, list order = bin order on
      // both engines, 9dp round absorbs the ln/ln2-vs-log2 ulp) and
      // thumb_w/thumb_h from the committed dims (the aspect-box integer
      // rule, maxSide 256 — pure integer SQL); universe = documents
      // LEFT JOIN artifact (one asset per doc), so missing rows mismatch
      """WITH f AS (
        |  SELECT asset_id, modality, n_bytes, histogram, thumb_w, thumb_h,
        |         width, height
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_mm_features/*.parquet'))
        |SELECT d.doc_id AS asset_id, f.modality, f.n_bytes,
        |  round(coalesce(list_sum(list_transform(f.histogram,
        |    p -> CASE WHEN p > 0 THEN -(p * log2(p)) ELSE 0 END)), 0), 9) AS byte_entropy,
        |  CASE WHEN f.width <= 0 OR f.height <= 0 THEN 0
        |       WHEN f.width >= f.height THEN 256
        |       ELSE greatest(1, (f.width * 256) // f.height) END AS thumb_w,
        |  CASE WHEN f.width <= 0 OR f.height <= 0 THEN 0
        |       WHEN f.width >= f.height THEN greatest(1, (f.height * 256) // f.width)
        |       ELSE 256 END AS thumb_h,
        |  f.width, f.height
        |FROM documents d LEFT JOIN f ON f.asset_id = d.doc_id
        |ORDER BY asset_id""".stripMargin,
    "q_mm_audio" ->
      // mirrors synthesizeAssets' audio arm (audio iff doc_id%3=1;
      // duration 200+(id%16)*100 ms at 4000 Hz => n_samples = dur*4, and
      // the decoded duration_ms = n*1000/4000 recovers dur exactly). A
      // hash match proves the REAL RIFF/WAVE encode+parse round trip
      // preserved rate and sample count.
      """SELECT doc_id AS asset_id,
        |  CAST(4000 AS INTEGER) AS sample_rate,
        |  CAST((200 + (doc_id % 16) * 100) * 4 AS BIGINT) AS n_samples,
        |  CAST(200 + (doc_id % 16) * 100 AS BIGINT) AS duration_ms
        |FROM documents WHERE doc_id % 3 = 1 ORDER BY asset_id""".stripMargin,
    "q_mm_video" ->
      // mirrors synthesizeAssets' video arm (video iff doc_id%3=2; dims
      // 48+(id%4)*16 x 32+(id%3)*16; duration 1000+(id%60)*500 ms at 4 fps
      // => n_frames = dur/250, and the decoded duration n_frames*250
      // recovers dur exactly). A hash match proves the REAL YUV4MPEG2
      // encode+parse round trip preserved dims, frame count and timing.
      """SELECT doc_id AS asset_id,
        |  CAST(48 + (doc_id % 4) * 16 AS INTEGER) AS width,
        |  CAST(32 + (doc_id % 3) * 16 AS INTEGER) AS height,
        |  CAST((1000 + (doc_id % 60) * 500) // 250 AS BIGINT) AS n_frames,
        |  CAST(1000 + (doc_id % 60) * 500 AS BIGINT) AS duration_ms
        |FROM documents WHERE doc_id % 3 = 2 ORDER BY asset_id""".stripMargin,
    "q_mm_thumbs" ->
      // mirrors synthesizeAssets dims (image iff doc_id%3=0; w=64+(id%13)*32,
      // h=48+(id%7)*32) + Codec.thumbBox integer arithmetic at maxSide=256
      """WITH i AS (
        |  SELECT doc_id AS asset_id,
        |         64 + (doc_id % 13) * 32 AS w,
        |         48 + (doc_id % 7) * 32 AS h
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT asset_id,
        |  CAST(CASE WHEN w >= h THEN 256 ELSE greatest(1, (w * 256) // h) END AS INTEGER) AS thumb_w,
        |  CAST(CASE WHEN w >= h THEN greatest(1, (h * 256) // w) ELSE 256 END AS INTEGER) AS thumb_h
        |FROM i ORDER BY asset_id""".stripMargin,
    "q_lang_id" ->
      // same marker-hit-rate scores; argmax with ties to the LARGEST lang
      // code, expressed as a descending-code CASE ladder
      """WITH q AS (
        |  SELECT doc_id, lang, regexp_split_to_array(lower(trim(text)), '[ \t\n\x0b\f\r]+') AS toks,
        |    CASE WHEN length(trim(text)) = 0 THEN 1.0
        |         ELSE CAST(len(regexp_split_to_array(lower(trim(text)), '[ \t\n\x0b\f\r]+')) AS DOUBLE) END AS nt
        |  FROM documents),
        |s AS (SELECT doc_id, lang,
        |  CAST(len(list_filter(toks, w -> list_contains(['the','and','of','to','in','is','that','for','with','on'], w))) AS DOUBLE) / nt AS s_en,
        |  CAST(len(list_filter(toks, w -> list_contains(['el','la','de','que','y','en','un','los','del','por'], w))) AS DOUBLE) / nt AS s_es,
        |  CAST(len(list_filter(toks, w -> list_contains(['der','die','und','das','ist','nicht','von','mit','den','ein'], w))) AS DOUBLE) / nt AS s_de,
        |  CAST(len(list_filter(toks, w -> list_contains(['le','la','les','des','et','est','une','dans','que','pour'], w))) AS DOUBLE) / nt AS s_fr,
        |  CAST(len(list_filter(toks, w -> list_contains(['de','shi','le','zai','wo','you','he','ta','men','zhe'], w))) AS DOUBLE) / nt AS s_zh
        |  FROM q)
        |SELECT doc_id, lang,
        |  CASE WHEN s_zh >= greatest(s_en, s_es, s_de, s_fr) THEN 'zh'
        |       WHEN s_fr >= greatest(s_en, s_es, s_de) THEN 'fr'
        |       WHEN s_es >= greatest(s_en, s_de) THEN 'es'
        |       WHEN s_en >= s_de THEN 'en'
        |       ELSE 'de' END AS lang_pred,
        |  greatest(s_en, s_es, s_de, s_fr, s_zh) AS lang_score
        |FROM s ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      // graft.core.Tokenizer in SQL (split on C whitespace, lowercase, strip
      // non-[a-z0-9] IN PLACE, drop empties) + the wrapping-u64 polynomial
      // fold emulated in HUGEINT mod 2^64, mapped back to signed BIGINT.
      // ASCII-ONLY PARITY (here and q_lang_id): DuckDB's lower() Unicode-
      // folds a few non-ASCII codepoints into ASCII (e.g. U+212A -> 'k')
      // while graft.core.Tokenizer drops all bytes >= 0x80 — equivalent on
      // the (ASCII by construction) synthetic corpus; on arbitrary input,
      // pre-strip non-ASCII in the SQL before lower() to keep byte parity
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(list_transform(
        |      regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
        |      x -> regexp_replace(lower(x), '[^a-z0-9]', '', 'g')), x -> x <> '') AS toks
        |  FROM documents),
        |s AS (SELECT doc_id,
        |        CASE WHEN len(toks) = 0 THEN '' ELSE array_to_string(toks, ' ') || ' ' END AS joined
        |      FROM t),
        |f AS (SELECT doc_id,
        |  CASE WHEN joined = '' THEN CAST(1469598103934665603 AS HUGEINT)
        |       ELSE list_reduce(
        |    list_prepend(CAST(1469598103934665603 AS HUGEINT),
        |      list_transform(string_split(joined, ''), c -> CAST(unicode(c) AS HUGEINT))),
        |    (acc, x) -> (acc * 1000003 + x) % CAST(18446744073709551616 AS HUGEINT)) END AS h
        |  FROM s)
        |SELECT doc_id,
        |  CAST(CASE WHEN h >= CAST(9223372036854775808 AS HUGEINT)
        |            THEN h - CAST(18446744073709551616 AS HUGEINT) ELSE h END AS BIGINT)
        |    AS fingerprint
        |FROM f ORDER BY doc_id""".stripMargin,
    "q_doc_stats" ->
      """SELECT lang, count(*) AS n_docs, min(n_chars) AS min_chars,
        |       max(n_chars) AS max_chars, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_ann_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
        |scored AS (
        |  SELECT q.query_id, e.vec_id AS nbr_id,
        |    list_dot_product(q.qv, e.v) /
        |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v)))
        |      AS cosine
        |  FROM q JOIN e ON e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC)
        |      AS rank
        |  FROM scored)
        |SELECT query_id, rank, nbr_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    // ---- the ANN replay chain: sketch arrays committed once (vnorm is the
    // real value check — same ordered IEEE fold as list_dot_product;
    // buckets/probes gaussian-bound echoes), then the candidate equi-join
    // and the cosine rerank are re-derived in DuckDB from the committed
    // stages, exactly like the flagship minhash chain above.
    "q_ann_sketch" ->
      // vnorm recomputed from embeddings (real value check); bucket/probe
      // arrays digested from the artifact; universe = embeddings LEFT JOIN
      // artifact, so a missing/extra artifact row mismatches
      """WITH s AS (
        |  SELECT vid, buckets, probes
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_ann_sketch/*.parquet')),
        |u AS (SELECT vid, @BD@ AS buckets_digest, @PD@ AS probes_digest FROM s),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT e.vec_id AS vid, sqrt(list_dot_product(e.v, e.v)) AS vnorm,
        |       u.buckets_digest, u.probes_digest
        |FROM e LEFT JOIN u ON u.vid = e.vec_id ORDER BY vid""".stripMargin
        .replace("@BD@", u64FoldSqlL("buckets"))
        .replace("@PD@", u64FoldSqlL("probes")),
    "q_ann_lsh_cands" ->
      // candidate replay: probe rows (table-major layout, 1 base + 4 flips
      // per table -> table_idx = pos/5) equi-join base-bucket rows on
      // (table_idx, bucket), directed vid != vid, distinct — the exact
      // candidate relation lshTopK reranks
      """WITH s AS (
        |  SELECT vid, buckets, probes
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_ann_sketch/*.parquet')),
        |b AS (
        |  SELECT vid, generate_subscripts(buckets, 1) - 1 AS table_idx,
        |         unnest(buckets) AS bucket
        |  FROM s),
        |p AS (
        |  SELECT vid, (generate_subscripts(probes, 1) - 1) // 5 AS table_idx,
        |         unnest(probes) AS bucket
        |  FROM s)
        |SELECT DISTINCT p.vid AS query_id, b.vid AS nbr_id
        |FROM p JOIN b
        |  ON p.table_idx = b.table_idx AND p.bucket = b.bucket AND p.vid <> b.vid
        |ORDER BY query_id, nbr_id""".stripMargin,
    "q_ann_lsh" ->
      // rerank replay over the committed candidates: cosine recomputed from
      // the embeddings table (q_ann_topk proves the arithmetic bit-matches),
      // row_number (cosine desc, nbr_id asc) == TopKAgg's tie-break
      """WITH c AS (
        |  SELECT query_id, nbr_id
        |  FROM read_parquet('@GRAFT_OUT@/q_ann_lsh_cands/*.parquet')),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT c.query_id, c.nbr_id,
        |    list_dot_product(q.v, n.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v)))
        |      AS cosine
        |  FROM c JOIN e q ON q.vec_id = c.query_id JOIN e n ON n.vec_id = c.nbr_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC)
        |      AS rank
        |  FROM scored)
        |SELECT query_id, rank, nbr_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q_ann_ivf_cells" ->
      // probe-ranking replay with FULL strength and a scalar surface: every
      // vector ranks the COMMITTED centroids by dot/|v| (zero-norm -> 0.0),
      // ties by centroid index; the re-derived 12-probe list is digested
      // (probes_digest) — verifying nearestCentroidsOf against DuckDB —
      // while artifact_digest digests the COMMITTED cells artifact, pinning
      // it against the same Spark value (the Spark side emits u64Fold(probes)
      // under both names); universe = embeddings LEFT JOIN both
      """WITH cen AS (
        |  SELECT centroid_id, centroid
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_ann_ivf_centroids/*.parquet')),
        |ca AS (
        |  SELECT vid, probes
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_ann_ivf_cells/*.parquet')),
        |av AS (SELECT vid, @AD@ AS artifact_digest FROM ca),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT e.vec_id AS vid, cen.centroid_id,
        |    CASE WHEN sqrt(list_dot_product(e.v, e.v)) = 0 THEN 0.0
        |         ELSE list_dot_product(e.v, cen.centroid)
        |              / sqrt(list_dot_product(e.v, e.v)) END AS s
        |  FROM e CROSS JOIN cen),
        |ranked AS (
        |  SELECT vid, centroid_id,
        |    row_number() OVER (PARTITION BY vid ORDER BY s DESC, centroid_id ASC) AS rk
        |  FROM scored),
        |pl AS (
        |  SELECT vid, list(CAST(centroid_id AS INTEGER) ORDER BY rk) AS probes
        |  FROM ranked WHERE rk <= 12 GROUP BY vid),
        |u AS (
        |  SELECT vid, probes[1] AS probe1, CAST(len(probes) AS BIGINT) AS n_probes,
        |    @PD@ AS probes_digest
        |  FROM pl)
        |SELECT e.vec_id AS vid, u.probe1, u.n_probes, u.probes_digest,
        |       av.artifact_digest
        |FROM e LEFT JOIN u ON u.vid = e.vec_id
        |LEFT JOIN av ON av.vid = e.vec_id
        |ORDER BY vid""".stripMargin
        .replace("@PD@", u64FoldSqlI("probes"))
        .replace("@AD@", u64FoldSqlI("probes")),
    "q_ann_ivf" ->
      // candidate + rerank replay from the committed cells: assignment =
      // probes[1] (the nearest centroid), candidates = query probes x
      // assigned lists, then the same cosine/row_number rerank as q_ann_lsh
      """WITH cells AS (
        |  SELECT vid, probes
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_ann_ivf_cells/*.parquet')),
        |a AS (SELECT vid AS nbr_id, probes[1] AS centroid_id FROM cells),
        |p AS (SELECT vid AS query_id, unnest(probes) AS centroid_id FROM cells),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |cand AS (
        |  SELECT p.query_id, a.nbr_id
        |  FROM p JOIN a ON p.centroid_id = a.centroid_id
        |  WHERE a.nbr_id <> p.query_id),
        |scored AS (
        |  SELECT cand.query_id, cand.nbr_id,
        |    list_dot_product(q.v, n.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v)))
        |      AS cosine
        |  FROM cand JOIN e q ON q.vec_id = cand.query_id
        |            JOIN e n ON n.vec_id = cand.nbr_id),
        |ranked AS (
        |  SELECT query_id, nbr_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC)
        |      AS rank
        |  FROM scored)
        |SELECT query_id, rank, nbr_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q_ann_pq_books" ->
      // shape echo + codeword norm recomputed from the COMMITTED book
      // arrays (same ordered IEEE fold both sides; 9dp round) — pins the
      // artifact's float content; codeword VALUES stay lloyd-bound
      """SELECT sub_idx, code_id, CAST(len(codeword) AS BIGINT) AS dsub,
        |  round(sqrt(list_dot_product(codeword, codeword)), 9) AS cwnorm
        |FROM read_parquet('@GRAFT_OUT@/_artifact_pq_books/*.parquet')
        |ORDER BY sub_idx, code_id""".stripMargin,
    "q_ann_pq_codes" ->
      // encoding replay with full strength: every embedding ranks the
      // COMMITTED codewords per subspace by the squared-L2-equivalent
      // score -2·dot(raw_slice, cw)/|v| + dot(cw, cw) (dot first, ONE
      // division — term-for-term the Spark kernel's arithmetic), ties by
      // code id; zero-norm vectors encode all-0 by rule. The re-derived
      // code vector is digested (codes_digest — verifying pqEncode against
      // DuckDB) while artifact_digest digests the committed artifact;
      // universe = embeddings LEFT JOIN both
      """WITH b AS (
        |  SELECT sub_idx, code_id, codeword
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_pq_books/*.parquet')),
        |ca AS (
        |  SELECT vid, codes
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_pq_codes/*.parquet')),
        |av AS (SELECT vid, @AD@ AS artifact_digest FROM ca),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nx FROM e),
        |sc AS (
        |  SELECT en.vec_id, b.sub_idx, b.code_id,
        |    -2 * list_dot_product(
        |           list_slice(en.v, b.sub_idx * 8 + 1, b.sub_idx * 8 + 8),
        |           b.codeword) / en.nx
        |      + list_dot_product(b.codeword, b.codeword) AS s
        |  FROM en CROSS JOIN b WHERE en.nx <> 0),
        |picked AS (
        |  SELECT vec_id, sub_idx, code_id,
        |    row_number() OVER (PARTITION BY vec_id, sub_idx
        |                       ORDER BY s ASC, code_id ASC) AS rk
        |  FROM sc),
        |dl AS (
        |  SELECT vec_id, list(CAST(code_id AS INTEGER) ORDER BY sub_idx) AS dcodes
        |  FROM picked WHERE rk = 1 GROUP BY vec_id),
        |u AS (
        |  SELECT en.vec_id AS vid,
        |    CASE WHEN en.nx = 0 THEN [0, 0, 0, 0, 0, 0, 0, 0] ELSE dl.dcodes END
        |      AS dcodes
        |  FROM en LEFT JOIN dl ON dl.vec_id = en.vec_id)
        |SELECT u.vid, CAST(len(u.dcodes) AS BIGINT) AS n_codes,
        |  @DD@ AS codes_digest, av.artifact_digest
        |FROM u LEFT JOIN av ON av.vid = u.vid ORDER BY u.vid""".stripMargin
        .replace("@AD@", u64FoldSqlI("codes"))
        .replace("@DD@", u64FoldSqlI("u.dcodes")),
    "q_ann_pq" ->
      // FULL IVFADC replay from the committed artifacts: candidates from
      // the cells (the q_ann_ivf relation — pqTopK trains the identical
      // centroids from the identical deterministic sample), ADC terms
      // dot(query_slice, codeword)/|q| per subspace joined from the
      // committed codes+books, summed LEFT-TO-RIGHT in subspace order
      // (the chained + below == the Spark kernel's ordered accumulation),
      // adc-desc/nbr-asc shortlist of 128, then the exact-cosine top-5
      """WITH cells AS (
        |  SELECT vid, probes
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_ann_ivf_cells/*.parquet')),
        |a AS (SELECT vid AS nbr_id, probes[1] AS centroid_id FROM cells),
        |p AS (SELECT vid AS query_id, unnest(probes) AS centroid_id FROM cells),
        |cand AS (
        |  SELECT p.query_id, a.nbr_id
        |  FROM p JOIN a ON p.centroid_id = a.centroid_id
        |  WHERE a.nbr_id <> p.query_id),
        |bks AS (
        |  SELECT sub_idx, code_id, codeword
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_pq_books/*.parquet')),
        |nc0 AS (
        |  SELECT vid, unnest(list_transform(generate_series(1, 8),
        |    i -> {'s': i - 1, 'c': codes[i]})) AS pc
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_pq_codes/*.parquet')),
        |nc AS (SELECT vid, pc.s AS sub_idx, pc.c AS code_id FROM nc0),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |qn AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nq FROM e),
        |t AS (
        |  SELECT cand.query_id, cand.nbr_id, nc.sub_idx,
        |    CASE WHEN q.nq = 0 THEN 0.0
        |         ELSE list_dot_product(
        |                list_slice(q.v, nc.sub_idx * 8 + 1, nc.sub_idx * 8 + 8),
        |                b.codeword) / q.nq END AS term
        |  FROM cand
        |  JOIN nc ON nc.vid = cand.nbr_id
        |  JOIN bks b ON b.sub_idx = nc.sub_idx AND b.code_id = nc.code_id
        |  JOIN qn q ON q.vec_id = cand.query_id),
        |adc AS (
        |  SELECT query_id, nbr_id,
        |    max(CASE WHEN sub_idx = 0 THEN term END)
        |    + max(CASE WHEN sub_idx = 1 THEN term END)
        |    + max(CASE WHEN sub_idx = 2 THEN term END)
        |    + max(CASE WHEN sub_idx = 3 THEN term END)
        |    + max(CASE WHEN sub_idx = 4 THEN term END)
        |    + max(CASE WHEN sub_idx = 5 THEN term END)
        |    + max(CASE WHEN sub_idx = 6 THEN term END)
        |    + max(CASE WHEN sub_idx = 7 THEN term END) AS ascore
        |  FROM t GROUP BY query_id, nbr_id),
        |short AS (
        |  SELECT query_id, nbr_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY ascore DESC, nbr_id ASC) AS srank
        |  FROM adc),
        |scored AS (
        |  SELECT sh.query_id, sh.nbr_id,
        |    list_dot_product(q.v, n.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(n.v, n.v)))
        |      AS cosine
        |  FROM short sh
        |  JOIN e q ON q.vec_id = sh.query_id
        |  JOIN e n ON n.vec_id = sh.nbr_id
        |  WHERE sh.srank <= 128),
        |ranked AS (
        |  SELECT query_id, nbr_id, cosine,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, nbr_id ASC)
        |      AS rank
        |  FROM scored)
        |SELECT query_id, rank, nbr_id, cosine FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q_embed_sketch" ->
      """WITH s AS (
        |  SELECT vid, buckets, probes
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_embed_sketch/*.parquet')),
        |u AS (SELECT vid, @BD@ AS buckets_digest, @PD@ AS probes_digest FROM s),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT e.vec_id AS vid, sqrt(list_dot_product(e.v, e.v)) AS vnorm,
        |       u.buckets_digest, u.probes_digest
        |FROM e LEFT JOIN u ON u.vid = e.vec_id ORDER BY vid""".stripMargin
        .replace("@BD@", u64FoldSqlL("buckets"))
        .replace("@PD@", u64FoldSqlL("probes")),
    "q_embed_cands" ->
      // near-dup candidate replay: 12 tables x (1 base + 8 blind flips) ->
      // table_idx = pos/9; symmetric doc1 < doc2 form
      """WITH s AS (
        |  SELECT vid, buckets, probes
        |  FROM read_parquet('@GRAFT_OUT@/_artifact_embed_sketch/*.parquet')),
        |b AS (
        |  SELECT vid, generate_subscripts(buckets, 1) - 1 AS table_idx,
        |         unnest(buckets) AS bucket
        |  FROM s),
        |p AS (
        |  SELECT vid, (generate_subscripts(probes, 1) - 1) // 9 AS table_idx,
        |         unnest(probes) AS bucket
        |  FROM s)
        |SELECT DISTINCT p.vid AS doc1, b.vid AS doc2
        |FROM p JOIN b
        |  ON p.table_idx = b.table_idx AND p.bucket = b.bucket AND p.vid < b.vid
        |ORDER BY doc1, doc2""".stripMargin,
    "q_embed_neardup" ->
      // threshold replay over the committed candidates: exact cosine from
      // the embeddings table, >= 0.4 gate — the full near-dup answer
      """WITH c AS (
        |  SELECT doc1, doc2
        |  FROM read_parquet('@GRAFT_OUT@/q_embed_cands/*.parquet')),
        |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |scored AS (
        |  SELECT c.doc1, c.doc2,
        |    list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
        |      AS cosine
        |  FROM c JOIN e a ON a.vec_id = c.doc1 JOIN e b ON b.vec_id = c.doc2)
        |SELECT doc1, doc2, cosine FROM scored WHERE cosine >= 0.4
        |ORDER BY doc1, doc2""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |       sum(l_quantity) AS sum_qty, min(l_extendedprice) AS min_price,
        |       max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_orders_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders, min(o_totalprice) AS min_total,
        |       max(o_totalprice) AS max_total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_events_agg" ->
      """SELECT event_type, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |       min(value) AS min_value, max(value) AS max_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin
  )
}
