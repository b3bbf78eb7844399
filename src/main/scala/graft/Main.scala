package graft

import graft.core.MinHashConfig
import graft.plans.CheckpointedPipeline
import graft.sources.CorpusGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** spark-submit entry point: the production near-dup + clustering job.
  *
  * Usage:
  *   graft.Main --input <parquet path | synth:<nFiles> | textdir:<dir> | jsonl:<path>> --output <dir>
  *     [--shingle 3] [--signature 100] [--bandrows 4] [--seed 13]
  *     [--threshold 0.1] [--offset 0] [--star-cap N] [--text-col content] [--id-col doc_id]
  *     [--candidate-partitions N] [--verbose true] [--dedup-corpus true]
  *     [--content-fingerprint true] [--pairs-csv true]
  *     [--clean true [--max-line-df 1000] [--min-tokens 5] [--tokens-per-shard N]
  *       [--gopher true] [--exact-spans N] [--keep-best true]
  *       [--decontam <parquet> [--decontam-ngram 8] [--decontam-threshold 0.8]
  *         [--decontam-id-col doc_id] [--decontam-text-col text]]
  *       [--splits train:0.98,val:0.01,test:0.01] [--split-seed 13]
  *       [--embeddings <parquet> [--embedding-id-col vec_id] [--embedding-col embedding]]]
  *     [--modality-dedup true [--max-hamming 3] [--star-cap N]]
  *   graft.Main --stream <parquetDir> --output <workDir>
  *     [--maintain-every N] [--star-cap N] [minhash config flags as above]
  *
  * `--stream <dir>` runs the STREAMING engine instead (incremental dedup
  * over micro-batches of (doc_id, content) parquet files landing in
  * `<dir>`; streaming.StreamingDedup): tables + stream checkpoint live
  * under `--output`, each invocation drains what is currently in the dir
  * (AvailableNow) and exits — re-run as files land, the checkpoint resumes
  * batch ids. `--maintain-every N` self-runs incremental cluster
  * maintenance + compaction every N batches; a final maintenance pass
  * always runs before the report, which prints
  * `{"docs":...,"pairs":...,"clusters":...,...}`.
  *
  * `--clean true` runs the composed C4-style cleaning recipe
  * (operators.CleanPipeline: boilerplate lines -> quality -> PII ->
  * exact dedup -> near-dup dedup -> split + token shards) and writes the
  * clean corpus to `<output>/clean_corpus` with per-stage counts on
  * stdout, instead of the reference dedup pipeline. The run is RESUMABLE:
  * each stage is a tagged parquet table under `<output>` (the same
  * StageStore protocol as the reference pipeline's checkpoints), so a
  * rerun after a crash resumes at the first uncommitted stage. `--splits`
  * takes name:weight pairs (weights are normalized); `--split-seed` varies
  * the deterministic membership hash.
  *
  * `--candidate-partitions` sizes the bucket-key exchange (the pipeline's
  * big shuffle) independently of spark.sql.shuffle.partitions — the
  * per-stage tuning knob for 100 TB runs (see
  * MinHashPipeline.candidates).
  *
  * `--derive-ids true` ingests the BASELINE input_hint table shape —
  * (repo, path, commit, lang, content), no id column — assigning doc_id by
  * stable natural-key row number over (repo, path, commit).
  *
  * `textdir:<dir>` reads the reference's native input layout — a directory
  * of `<doc_id>.txt` files — through the binaryFile source (whole-file
  * rows, distributed, no driver listing of contents). `--pairs-csv` also
  * writes the pairs in the reference's CSV shape (header
  * doc1,doc2,similarity; %.4f; doc1 < doc2).
  *
  * `--verbose` is the reference's every-N-docs progress prints
  * (/root/reference/src/MPI/io_interface.c) re-expressed for Spark: a
  * stage-completion listener streaming per-stage progress (tasks, records,
  * wall time) to stderr — per-row executor printing is an anti-pattern.
  *
  * `synth:<n>` generates the deterministic source-code corpus (CorpusGen)
  * in-flight — no external data. A parquet input is any table with an id
  * column and a text column (defaults: doc_id/content; for the driver's
  * documents.parquet use --text-col text).
  *
  * The job is resumable: rerunning with the same input/config/output picks
  * up after the last committed stage (see CheckpointedPipeline).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList, Map.empty)
    val inputOpt = opts.get("input")
    def input = inputOpt.getOrElse(sys.error("--input required"))
    if (inputOpt.isEmpty && !opts.contains("stream"))
      sys.error("--input required (or --stream <dir>)")
    val output = opts.getOrElse("output", sys.error("--output required"))
    val cfg = MinHashConfig(
      shingleSize = opts.getOrElse("shingle", "3").toInt,
      signatureSize = opts.getOrElse("signature", "100").toInt,
      nBandRows = opts.getOrElse("bandrows", "4").toInt,
      seed = opts.getOrElse("seed", "13").toInt,
      threshold = opts.getOrElse("threshold", "0.1").toDouble,
      // the reference's --offset (ids start at offset; all three pinned
      // workloads in /root/reference/makefile:48-76 pass --offset 1):
      // applied at the CSV/golden boundary, exactly like the reference
      // applies it at print time (src/MPI/minhash.c:301)
      docOffset = opts.getOrElse("offset", "0").toLong
    )
    val starCap = opts.get("star-cap").map(_.toInt)
    // per-stage shuffle width for the bucket-key exchange (the pipeline's
    // big shuffle); other stages keep spark.sql.shuffle.partitions
    val candParts = opts.get("candidate-partitions").map(_.toInt)
    val verifyJaccard = opts.get("verify-jaccard").exists(_.toBoolean)
    // resume fingerprint level: metadata (file stats, default) vs full
    // content scan (--content-fingerprint true)
    val contentFp = opts.get("content-fingerprint").exists(_.toBoolean)
    // --dedup-corpus true: also write the deduplicated corpus table (one
    // representative doc per cluster) — the end product, not a diagnostic
    val emitCorpus = opts.get("dedup-corpus").exists(_.toBoolean)
    // spark-submit injects spark.master as a system property; only default
    // to local[*] when launched directly (sbt runMain / tests).
    val master = sys.props.getOrElse(
      "spark.master",
      sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]")
    )
    val spark = Sessions.start("graft-minhash-dedup", master,
      shufflePartitions = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32").toInt,
      logLevel = "WARN")
    if (opts.get("verbose").exists(_.toBoolean))
      graft.obs.Ledger.attach(spark.sparkContext, stageLines = true)

    // --stream <parquetDir>: the STREAMING engine on the CLI — incremental
    // dedup over micro-batches of (doc_id, content) parquet files landing
    // in <dir>, tables + stream checkpoint under --output. AvailableNow
    // trigger: each invocation drains everything currently in the dir and
    // exits (re-run as new files land — the checkpoint resumes ids);
    // --maintain-every N self-runs updateClusters+compact every N batches,
    // and a final maintenance pass always runs so the reported labels
    // cover the tail batches.
    opts.get("stream").foreach { streamDir =>
      println(runStream(spark, streamDir, output, cfg,
        maintainEvery = opts.get("maintain-every").map(_.toInt),
        starCap = starCap))
      spark.stop()
      return
    }

    val docs = readDocs(spark, input,
      opts.getOrElse("id-col", "doc_id"), opts.getOrElse("text-col", "content"),
      deriveIds = opts.get("derive-ids").exists(_.toBoolean),
      idOffset = cfg.docOffset)

    // --clean true: run the composed C4-style cleaning recipe instead of
    // the reference dedup pipeline — writes the clean corpus (doc_id,
    // text, split, shard_id) and prints the per-stage survivor counts
    if (opts.get("clean").exists(_.toBoolean)) {
      val tC = System.nanoTime()
      // near-dup DELETION threshold: Main's --threshold default (0.1) is
      // the reference's pairs-REPORTING gate — deleting at 0.1 would
      // silently purge barely-similar docs. Without an explicit
      // --threshold, cleaning uses CleanPipeline's own default (0.8).
      val cleanCfg = if (opts.contains("threshold")) cfg
        else cfg.copy(threshold = graft.operators.CleanPipeline.Config().minhash.threshold)
      // --embeddings <parquet>: adds SEMANTIC near-dup merging (cosine >=
      // 0.95 via LSH) to the lexical near-dup stage
      val emb = opts.get("embeddings").map { p =>
        spark.read.parquet(p).select(
          col(opts.getOrElse("embedding-id-col", "vec_id")).cast("long").as("doc_id"),
          col(opts.getOrElse("embedding-col", "embedding")).as("embedding"))
      }
      // --decontam <parquet>: benchmark decontamination — drop survivors
      // whose n-gram containment of any benchmark doc reaches the
      // threshold (bloom-gated path; 8-grams at 0.8 by default). The
      // benchmark table uses the same --id-col/--text-col names as the
      // input (or doc_id/text via --decontam-id-col/--decontam-text-col).
      val bench = opts.get("decontam").map { p =>
        spark.read.parquet(p).select(
          col(opts.getOrElse("decontam-id-col", "doc_id")).cast("long").as("doc_id"),
          col(opts.getOrElse("decontam-text-col", "text")).as("text"))
      }
      // --splits name:weight[,name:weight...] (weights need not sum to 1;
      // Corpus.split normalizes and validates non-empty intervals)
      val splits = opts.get("splits").map { s =>
        s.split(",").toSeq.map { part =>
          part.split(":") match {
            case Array(n, w) => n -> w.toDouble
            case _ => throw new IllegalArgumentException(
              s"--splits expects name:weight[,name:weight...], got '$part' in '$s'")
          }
        }
      }.getOrElse(graft.operators.CleanPipeline.Config().splits)
      // RESUMABLE: every stage lands in a tagged parquet table under
      // <output> (StageStore protocol) — a rerun after a crash resumes at
      // the first uncommitted stage; the final table IS <output>/clean_corpus
      val (_, counts, stageLog) = graft.operators.CleanPipeline.runCheckpointed(
        spark,
        docs.select(col("doc_id"), col("content").as("text")),
        output,
        graft.operators.CleanPipeline.Config(
          maxLineDocFreq = opts.getOrElse("max-line-df", "1000").toLong,
          minTokens = opts.getOrElse("min-tokens", "5").toLong,
          // --gopher true: the full Gopher repetition + document-shape
          // rule set at the paper's published thresholds
          gopher = if (opts.get("gopher").exists(_.toBoolean))
            Some(graft.operators.CleanPipeline.GopherGates()) else None,
          // --exact-spans N: excise every N-token window occurring more
          // than once corpus-wide from all but its first occurrence
          // (exact suffix-array-substring dedup; rewrite, not a filter)
          exactSpanTokens = opts.get("exact-spans").map(_.toInt),
          // --keep-best true: near-dup survivors are the highest
          // content-richness cluster member instead of the min-label root
          keepBestByQuality = opts.get("keep-best").exists(_.toBoolean),
          decontamNgram = opts.getOrElse("decontam-ngram", "8").toInt,
          decontamMinContainment =
            opts.getOrElse("decontam-threshold", "0.8").toDouble,
          minhash = cleanCfg,
          starCapBucketSize = starCap.orElse(Some(256)),
          candidatePartitions = candParts,
          splits = splits,
          splitSeed = opts.getOrElse("split-seed", "13").toLong,
          tokensPerShard = opts.getOrElse("tokens-per-shard", "1000000").toLong),
        embeddings = emb,
        contentFingerprint = contentFp,
        benchmark = bench)
      System.err.println(s"[graft] clean stages: $stageLog")
      val secC = (System.nanoTime() - tC) / 1e9
      val decontamField = counts.afterDecontam
        .map(n => s""""after_decontam":$n,""").getOrElse("")
      println(
        s"""{"input":${counts.input},"after_line_clean":${counts.afterLineClean},""" +
          s""""after_quality":${counts.afterQuality},""" +
          s""""after_exact_dedup":${counts.afterExactDedup},""" + decontamField +
          s""""output":${counts.output},"sec":$secC,""" +
          s""""files_per_sec":${counts.input / secC}}""")
      spark.stop()
      return
    }

    // --modality-dedup true: end-to-end perceptual dedup of the asset
    // corpus derived from the input (image/audio/video fingerprints ->
    // per-modality Hamming pairs -> connected components ->
    // representatives), RESUMABLE via the same stage protocol as --clean.
    // --max-hamming N (default 3); --star-cap caps identical-fingerprint
    // cliques to hub-star pairs (exact salted-chunk mode when absent).
    if (opts.get("modality-dedup").exists(_.toBoolean)) {
      val tM = System.nanoTime()
      val (_, counts, mmLog) = graft.operators.Multimodal.dedupCheckpointed(
        spark,
        docs.select(col("doc_id"), col("content").as("text")),
        output,
        maxHamming = opts.getOrElse("max-hamming", "3").toInt,
        starCapGroupSize = starCap,
        contentFingerprint = contentFp)
      System.err.println(s"[graft] modality stages: $mmLog")
      val secM = (System.nanoTime() - tM) / 1e9
      println(
        s"""{"assets":${counts.assets},"pairs":${counts.pairs},""" +
          s""""clusters":${counts.clusters},"survivors":${counts.survivors},""" +
          s""""sec":$secM,"assets_per_sec":${counts.assets / secM},""" +
          s""""stages":"$mmLog"}""")
      spark.stop()
      return
    }

    val t0 = System.nanoTime()
    val pipe = new CheckpointedPipeline(spark, cfg, output, starCap, verifyJaccard,
      contentFp, emitCorpus, candParts)
    val (clusters, log) = pipe.run(docs)
    if (opts.get("pairs-csv").exists(_.toBoolean)) {
      graft.operators.MinHashPipeline.writeReferenceCsv(
        spark.read.parquet(s"$output/pairs"), s"$output/pairs_csv", cfg)
    }
    val nDocs = docs.count()
    val nClusters = clusters.select("cluster_id").distinct().count()
    val nPairs = spark.read.parquet(s"$output/pairs").count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(
      s"""{"docs":$nDocs,"pairs":$nPairs,"clusters":$nClusters,""" +
        s""""sec":$sec,"files_per_sec":${nDocs / sec},"stages":"$log"}"""
    )
    spark.stop()
  }

  /** The --stream CLI path, factored for tests: drain the input dir with
    * the streaming engine, run one final maintenance pass (labels for the
    * tail batches + compaction), and return the report JSON line.
    */
  private[graft] def runStream(spark: SparkSession, streamDir: String,
                               workDir: String, cfg: MinHashConfig,
                               maintainEvery: Option[Int],
                               starCap: Option[Int]): String = {
    import graft.streaming.StreamingDedup
    val t0 = System.nanoTime()
    val q = StreamingDedup.start(spark, streamDir, workDir, cfg,
      maintainEvery = maintainEvery,
      starCapBucketSize = starCap.orElse(Some(StreamingDedup.DefaultStreamStarCap)))
    q.awaitTermination()
    // an empty drop dir produces zero batches and no tables: report zeros
    // instead of a PATH_NOT_FOUND stack trace
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(workDir), spark.sparkContext.hadoopConfiguration)
    def countIn(table: String,
                dedupe: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Long =
      if (!fs.exists(new org.apache.hadoop.fs.Path(s"$workDir/$table"))) 0L
      else dedupe(spark.read.parquet(s"$workDir/$table")).count()
    val labels = StreamingDedup.updateClusters(spark, workDir)
    StreamingDedup.compact(spark, workDir)
    val nDocs = countIn("signatures", _.select("doc_id").dropDuplicates("doc_id"))
    val nPairs = countIn("pairs", _.dropDuplicates("doc1", "doc2"))
    val nClusters = labels.select("cluster_id").distinct().count()
    val sec = (System.nanoTime() - t0) / 1e9
    s"""{"docs":$nDocs,"pairs":$nPairs,"clusters":$nClusters,""" +
      s""""sec":$sec,"files_per_sec":${nDocs / sec}}"""
  }

  /** Input resolution: synth:<n> (generated), textdir:<dir> (the
    * reference's native <doc_id>.txt layout via the binaryFile source —
    * whole-file rows, distributed), or a parquet table. A parquet table in
    * the BASELINE input_hint shape — (repo, path, commit, lang, content)
    * with NO id column — is ingested with `deriveIds = true`: doc_id =
    * stable natural-key row number over (repo, path, commit), the same
    * scalable range-partition + zipWithIndex scheme the synth corpus uses.
    */
  private[graft] def readDocs(spark: SparkSession, input: String,
                              idCol: String, textCol: String,
                              deriveIds: Boolean = false,
                              idOffset: Long = 0L) =
    if (input.startsWith("synth:")) {
      val n = input.stripPrefix("synth:").toLong
      CorpusGen.withDocIds(CorpusGen.sourceFiles(spark, n))
    } else if (input.startsWith("textdir:")) {
      val dir = input.stripPrefix("textdir:")
      val raw = spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(dir)
        // the id is the WHOLE basename (anchored): "v2_123.txt" must not
        // silently collide with "123.txt", a digit-less name must not
        // become a null id, "007.txt" must not collide with "7.txt"
        // (no leading zeros), and an over-Long digit string must not cast
        // to null — all fail fast below instead (<=18 digits always fits
        // in a signed 64-bit id)
        .select(
          element_at(split(col("path"), "/"), -1).as("base"),
          decode(col("content"), "UTF-8").as("content"))
      val bad = raw.filter(!col("base").rlike("^(0|[1-9][0-9]{0,17})\\.txt$"))
        .select("base").limit(5).collect().map(_.getString(0))
      require(bad.isEmpty,
        s"textdir ingest: ${bad.length}+ .txt files whose names are not canonical " +
          s"<digits>.txt (reference layout; no leading zeros, <=18 digits): " +
          bad.mkString(", "))
      // internal ids are ALWAYS 0-based; textdir filenames already carry
      // the reference's offset (the reference reads <offset+i>.txt and
      // prints offset+i, src/MPI/io_interface.c), and the CSV/golden
      // boundary re-adds cfg.docOffset — without this subtraction a
      // textdir+--offset replay would double-apply it in the output ids
      raw.select(
        (regexp_extract(col("base"), "^([0-9]+)\\.txt$", 1).cast("long") - idOffset)
          .as("doc_id"),
        col("content"))
    } else if (input.startsWith("jsonl:")) {
      // JSONL / NDJSON — the de-facto training-data interchange format
      // (one JSON object per line; .jsonl/.json/.gz all work — Spark's
      // json source is line-delimited by default and decompresses by
      // extension). Schema is EXPLICIT: inference would scan the corpus
      // twice and silently widen types.
      val path = input.stripPrefix("jsonl:")
      if (deriveIds) {
        // the id-less BASELINE input_hint shape, JSONL-encoded: same
        // natural-key row-number scheme as the parquet branch. FAILFAST
        // rejects malformed lines/types; a row with NO natural key (all of
        // repo/path/commit null — usually wrong column names, which an
        // explicit json schema cannot detect as missing) fails loudly
        // instead of collapsing every row onto one null key (meaningless
        // ids + a single-partition range skew).
        val src = spark.read
          .schema(s"repo STRING, path STRING, commit STRING, lang STRING, `$textCol` STRING")
          .option("mode", "FAILFAST")
          .json(path)
          .withColumn("repo",
            when(col("repo").isNotNull || col("path").isNotNull || col("commit").isNotNull,
              col("repo"))
              .otherwise(raise_error(lit("jsonl ingest (--derive-ids): row with no " +
                "repo/path/commit natural key — wrong column names?")).cast("string")))
        CorpusGen.withDocIds(src).select(col("doc_id"), col(textCol).as("content"))
      } else {
        // FAILFAST: a string-typed id or malformed line throws instead of
        // silently becoming null; a WELL-FORMED row missing the id field
        // still parses to null, so guard it row-wise (the textdir branch's
        // fail-fast convention — null ids collide and recall dies silently)
        spark.read
          .schema(s"`$idCol` LONG, `$textCol` STRING")
          .option("mode", "FAILFAST")
          .json(path)
          .select(
            when(col(idCol).isNotNull, col(idCol))
              .otherwise(raise_error(lit(s"jsonl ingest: null/missing $idCol — " +
                "wrong --id-col or incomplete records?")).cast("long"))
              .as("doc_id"),
            col(textCol).as("content"))
      }
    } else if (deriveIds) {
      CorpusGen.withDocIds(spark.read.parquet(input))
        .select(col("doc_id"), col(textCol).as("content"))
    } else {
      spark.read
        .parquet(input)
        .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("content"))
    }

  @annotation.tailrec
  private def parse(args: List[String], acc: Map[String, String]): Map[String, String] =
    args match {
      case Nil => acc
      case key :: value :: rest if key.startsWith("--") =>
        parse(rest, acc + (key.stripPrefix("--") -> value))
      case other :: _ => sys.error(s"unexpected argument: $other")
    }
}
