package graft.tools

import graft.{Bench, Sessions, SparkEntry}
import graft.core.{MinHashConfig, SignatureKernel}
import graft.functions.TextAnalysis
import graft.obs.Ledger
import graft.operators.{Dedup, Multimodal, Similarity}
import graft.sources.CorpusGen
import graft.streaming.StreamingDedup
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import scala.util.control.NonFatal

/** Measurement scenarios that the benchmark does not time, behind one main:
  *
  *   graft.tools.Probe <scenario> [args]
  *
  * Arguments are positional (`usage` lists them with their defaults). A
  * scenario's session is `graft.Sessions.local` (SPARK_GRAFT_CPUS, else the
  * machine's cores); its shuffle and CPU figures come from a
  * `graft.obs.Ledger` scoped by job group and drained before it is read.
  */
object Probe {
  private final case class Scenario(args: String, what: String, run: Seq[String] => Unit)

  private val scenarios: Seq[(String, Scenario)] = Seq(
    "queries" -> Scenario("<sfDir> <planDir> [query ...]",
      "per SparkEntry query: min-of-3 count and noop-sink walls, ledger totals, formatted plan",
      queries),
    "kernel-threads" -> Scenario("[nDocs=100000]",
      "signature kernel docs/s on 1, cores/2 and cores threads (no Spark)", kernelThreads),
    "stream" -> Scenario("[batches=12] [perBatch=5000] [compactEvery=0]",
      "streaming dedup: per-batch wall, generations per table, full vs incremental clusters",
      stream),
    "recall" -> Scenario("<sfDir>",
      "ANN recall@5 vs brute force across LSH and IVF settings", recall),
    "bloom" -> Scenario("[nDocs=100000] [reps=3]",
      "decontamination: exact vs bloom-gated containment, wall and shuffle bytes", bloom),
    "pq-bytes" -> Scenario("[nVecs=50000] [dim=64]",
      "ivfTopK vs pqTopK shuffle bytes, batch and serving regimes", pqBytes),
    "mm-hash" -> Scenario("[nDocs=30000]",
      "perceptual fingerprint kernels and image pair join, rows/s", mmHash),
    "clean-stages" -> Scenario("[nDocs=50000]",
      "cleaning recipe stages timed one at a time over one corpus", cleanStages))

  private def usage: String = "usage: graft.tools.Probe <scenario> [args]\n" +
    scenarios.map { case (n, s) => f"  $n%-15s ${s.args}\n  ${""}%-15s ${s.what}" }.mkString("\n")

  def main(args: Array[String]): Unit = {
    val scenario = args.headOption.flatMap(n => scenarios.collectFirst { case (`n`, s) => s })
      .getOrElse(throw new IllegalArgumentException(
        args.headOption.fold("no scenario given")(n => s"unknown scenario '$n'") + "\n" + usage))
    scenario.run(args.toSeq.drop(1))
  }

  private def withSpark(f: SparkSession => Unit): Unit = {
    org.apache.logging.log4j.core.config.Configurator
      .setRootLevel(org.apache.logging.log4j.Level.ERROR)
    val spark = Sessions.local("graft-probe", logLevel = "ERROR")
    try f(spark) finally spark.stop()
  }

  private def seconds[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Min-of-3 per query under Bench's session recipe, after one untimed
    * warm pass over the `sf0.001` beside `sfDir`. The count lane is Bench's action; the noop-sink
    * lane forces every column, so a count that prunes a kernel cannot
    * hide it. A query that fails its warm pass is reported and skipped,
    * and the run exits non-zero.
    */
  private def queries(args: Seq[String]): Unit = {
    require(args.length >= 2, "queries <sfDir> <planDir> [query ...]")
    val Seq(sfDir, planDir) = args.take(2)
    val names = if (args.length > 2) args.drop(2) else Bench.headlineNames
    val warmSf = Paths.get(sfDir).resolveSibling("sf0.001").toString
    var failed = Seq.empty[String]
    withSpark { spark =>
      val ledger = Ledger.attach(spark.sparkContext)
      val warm = names.filter { n =>
        try { SparkEntry.queries(n)(spark, warmSf).count(); true }
        catch { case NonFatal(e) => System.err.println(s"[probe] $n failed: $e"); false }
      }
      failed = names.diff(warm)
      spark.catalog.clearCache()
      Files.createDirectories(Paths.get(planDir))
      warm.foreach { n =>
        def run(action: DataFrame => Unit): Seq[Double] = (1 to 3).map { _ =>
          val (_, s) = seconds(action(SparkEntry.queries(n)(spark, sfDir)))
          spark.catalog.clearCache()
          s
        }
        val (counts, noops) = ledger.scope(n) {
          (run(df => { df.count(); () }),
            run(df => df.write.format("noop").mode("overwrite").save()))
        }
        Files.writeString(Paths.get(planDir, s"$n.txt"),
          SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(FormattedMode))
        spark.catalog.clearCache()
        ledger.drain()
        println(f"$n%-22s count_min3=${counts.min}%6.2f noop_min3=${noops.min}%6.2f " +
          s"count_runs=${counts.map(s => f"$s%.2f").mkString(",")} " +
          s"noop_runs=${noops.map(s => f"$s%.2f").mkString(",")} ${ledger(n)}")
      }
    }
    if (failed.nonEmpty) {
      System.err.println(s"[probe] failed queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** The signature kernel on plain JVM threads over a fixed synthetic
    * workload; no Spark session starts.
    */
  private def kernelThreads(args: Seq[String]): Unit = {
    val nDocs = args.headOption.fold(100000)(_.toInt)
    val cfg = MinHashConfig(3, 128, 4, 13, 0.8)
    val docs = (0 until 2000).map(i => CorpusGen.fileAt(i.toLong, 42L, 2000).content).toArray
    (0 until 4000).foreach(i => SignatureKernel.compute(docs(i % docs.length), cfg)) // JIT warmup
    val cpus = Sessions.cores()
    for (threads <- Seq(1, cpus / 2, cpus).filter(_ >= 1).distinct) {
      val per = nDocs / threads
      val (_, sec) = seconds {
        val ts = (0 until threads).map { t =>
          new Thread(() => {
            var i = 0
            while (i < per) { SignatureKernel.compute(docs((t * per + i) % docs.length), cfg); i += 1 }
          })
        }
        ts.foreach(_.start()); ts.foreach(_.join())
      }
      println(f"[cpu] threads=$threads%2d  ${nDocs / sec}%10.0f docs/sec  ($sec%5.2f s)")
    }
  }

  /** StreamingDedup's per-batch cost as history grows: with a constant
    * batch size the per-batch wall should stay flat. `compactEvery` > 0
    * compacts after every that many batches, which should keep the
    * generations per table flat too.
    */
  private def stream(args: Seq[String]): Unit = withSpark { spark =>
    import spark.implicits._
    val nBatches = args.lift(0).fold(12)(_.toInt)
    val perBatch = args.lift(1).fold(5000L)(_.toLong)
    val compactEvery = args.lift(2).fold(0)(_.toInt)
    val input = Files.createTempDirectory("probe_in").toString
    val work = Files.createTempDirectory("probe_work").toString
    val cfg = MinHashConfig(shingleSize = 3, signatureSize = 128, nBandRows = 4,
      seed = 13, threshold = 0.8)
    // one file per micro-batch of unique-kind docs only (doc_id % 20 >= 6):
    // the synth corpus plants license clones identical across batches, a
    // dup clique whose per-batch pair output grows by design and would mask
    // the history growth measured here. The terminated query's
    // recentProgress is read synchronously, unlike listener events.
    def ingest(b: Long, seed: Long): Seq[(Long, Long, Long)] = {
      CorpusGen.sourceFilesWithIds(spark, perBatch, seed)
        .filter($"doc_id" % 20 >= 6)
        .select(($"doc_id" + b * perBatch).as("doc_id"), $"content")
        .coalesce(1).write.mode("append").parquet(input)
      val q = StreamingDedup.start(spark, input, work, cfg)
      q.awaitTermination()
      q.recentProgress.toSeq.filter(_.numInputRows > 0)
        .map(p => (p.batchId, p.numInputRows, p.batchDuration))
    }
    val durations = (0 until nBatches).flatMap { b =>
      val d = ingest(b, 1000L + b)
      if (compactEvery > 0 && (b + 1) % compactEvery == 0) StreamingDedup.compact(spark, work)
      d
    }
    durations.foreach { case (id, rows, ms) => println(f"batch=$id%3d rows=$rows%7d ms=$ms%6d") }
    Seq("bands", "signatures", "pairs").foreach { t =>
      val entries = Option(new java.io.File(s"$work/$t").listFiles()).getOrElse(Array.empty)
      val files = entries.flatMap(d => if (d.isDirectory) d.listFiles() else Array(d))
        .count(_.getName.endsWith(".parquet"))
      val gens = entries.count(d => d.isDirectory && d.getName.startsWith("batch_id="))
      println(s"table=$t generations=$gens parquet_files=$files")
    }
    val ms = durations.map(_._3.toDouble)
    if (ms.length >= 6) {
      val firstHalf = ms.slice(1, ms.length / 2).sum / (ms.length / 2 - 1)
      val secondHalf = ms.drop(ms.length / 2).sum / (ms.length - ms.length / 2)
      println(f"avg_first_half=$firstHalf%.0f ms avg_second_half=$secondHalf%.0f ms " +
        f"ratio=${secondHalf / firstHalf}%.2f")
    }
    // cluster maintenance: a full snapshot over the whole history vs the
    // incremental update after one more batch
    val (_, snapSec) = seconds(StreamingDedup.clusterSnapshot(spark, work))
    ingest(nBatches.toLong, 5000L)
    val (_, incSec) = seconds(StreamingDedup.updateClusters(spark, work))
    println(f"clusters: full_snapshot=$snapSec%.1fs incremental_update=$incSec%.1fs " +
      f"speedup=${snapSec / math.max(0.001, incSec)}%.1fx")
    Seq(input, work).foreach(d => org.apache.hadoop.fs.FileUtil.fullyDelete(new java.io.File(d)))
  }

  /** ANN recall@5 against brute force on one SF's embeddings: LSH tables
    * and band bits, IVF probes and Lloyd passes, and embedding near-dup
    * pair recall against exact cosine pairs.
    */
  private def recall(args: Seq[String]): Unit = withSpark { spark =>
    import spark.implicits._
    require(args.nonEmpty, "recall <sfDir>")
    val sf = args.head
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    def ids(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def timedIds(df: => DataFrame): (Set[(Long, Long)], Double) = {
      val r = seconds(ids(df))
      spark.catalog.clearCache()
      r
    }
    val bf = ids(Similarity.bruteForceTopK(e, e, k = 5).select("query_id", "nbr_id"))
    def rec(got: Set[(Long, Long)]) = (bf intersect got).size.toDouble / bf.size
    for ((nTables, bandBits, mp, nProbes) <- Seq(
        (24, 5, false, 0), (32, 5, false, 0), // probe-free baselines
        (16, 8, true, 8), // blind Hamming-1 (all flips)
        (16, 8, true, 6), (20, 8, true, 5), (24, 8, true, 4), (24, 8, true, 5))) {
      val (got, sec) = timedIds(Similarity.lshTopK(e, k = 5, dim = 64, nTables = nTables,
        bandBits = bandBits, multiProbe = mp, nProbes = nProbes).select("query_id", "nbr_id"))
      println(f"nTables=$nTables%2d bandBits=$bandBits%2d mp=$mp%5s T=$nProbes%2d " +
        f"recall=${rec(got)}%.3f sec=$sec%.1f")
    }
    for ((nProbe, iters) <- Seq((8, 0), (8, 2), (8, 4), (10, 2), (10, 4), (12, 2), (16, 2))) {
      val (got, sec) = timedIds(Similarity.ivfTopK(e, k = 5, nCentroids = 16, nProbe = nProbe,
        lloydIters = iters).select("query_id", "nbr_id"))
      println(f"ivf nProbe=$nProbe%2d/16 lloyd=$iters%d recall=${rec(got)}%.3f sec=$sec%.1f")
    }
    val vecs = e.select(col("vec_id").cast("long"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    val exact = Similarity.exactCosinePairsLocal(vecs, 0.4)
    for ((nt, bb) <- Seq((12, 8), (8, 8), (16, 10))) {
      val (got, _) = timedIds(Similarity.embeddingNearDupPairs(e, minCosine = 0.4, dim = 64,
        nTables = nt, bandBits = bb).select("doc1", "doc2"))
      println(f"neardup nt=$nt bb=$bb exact=${exact.size} found=${got.size} " +
        f"recall=${(exact intersect got).size.toDouble / math.max(1, exact.size)}%.3f")
    }
  }

  /** The bloom-gated decontamination path against the exact operator where
    * the benchmark's gram set is too big to broadcast (maxBroadcastGrams =
    * 0): the exact arm shuffles every corpus gram, the bloom arm only the
    * bloom hits. maxBroadcastGrams only drops the hint: below ~100k docs the
    * cached benchmark grams fit spark.sql.autoBroadcastJoinThreshold, the
    * planner broadcasts them anyway and the exact arm shuffles ~0 bytes.
    * 8-grams, the realistic decontamination shape; at n = 3 the
    * synth corpus's keyword soup makes both arms time pair emission. The
    * arms interleave, min-of-reps, and rows and id sums must agree every
    * rep. Shuffle bytes are each arm's operator run alone (its job group),
    * not the parity check's.
    */
  private def bloom(args: Seq[String]): Unit = withSpark { spark =>
    val n = args.lift(0).fold(100000L)(_.toLong)
    val reps = args.lift(1).fold(3)(_.toInt)
    val ledger = Ledger.attach(spark.sparkContext)
    // boilerplate license clones dropped on both sides: decontamination
    // runs after boilerplate stripping in a real recipe
    def corpus(nFiles: Long, seed: Long) =
      CorpusGen.withDocIds(CorpusGen.sourceFiles(spark, nFiles, seed))
        .selectExpr("doc_id", "content as text")
        .filter(!col("text").startsWith("Licensed under the Apache"))
    val docs = corpus(n, 42L).persist(MEMORY_AND_DISK)
    // a prime stride plus a unique-body filter: the planted slice must be
    // contaminated content, not boilerplate or sub-gram tiny docs
    val bench = corpus(n / 25, 777L)
      .union(docs.filter(col("doc_id") % 997 === 0 && col("text").startsWith("module m"))
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      .persist(MEMORY_AND_DISK)
    docs.count()
    require(bench.filter(col("doc_id") >= 10000000L).count() > 0, "empty planted slice")

    def arm(name: String)(f: => DataFrame): (Double, Long, Long, Ledger.Totals) = {
      val ((out, rows), sec) = seconds(ledger.scope(name) { val o = f; (o, o.count()) })
      val sums = out.agg(sum("doc_id"), sum("bench_id")).head()
      ledger.drain()
      spark.catalog.clearCache()
      Seq(docs, bench).foreach(_.persist(MEMORY_AND_DISK).count())
      (sec, rows, sums.getLong(0) + sums.getLong(1), ledger(name))
    }
    val times = (0 until reps).map { i =>
      val (te, re, se, le) = arm(s"exact:$i")(Dedup.ngramContainment(
        docs, bench, n = 8, minContainment = 0.5, maxBroadcastGrams = 0L))
      val (tb, rb, sb, lb) = arm(s"bloom:$i")(Dedup.ngramContainmentBloom(
        docs, bench, n = 8, minContainment = 0.5))
      require(re == rb && se == sb, s"parity broke: exact=($re,$se) bloom=($rb,$sb)")
      def mib(b: Long) = f"${b / 1048576.0}%.1f"
      println(f"rep $i: exact_shuffle=$te%.2f s (${mib(le.shuffleWrite)} MiB shuffled)  " +
        f"bloom=$tb%.2f s (${mib(lb.shuffleWrite)} MiB shuffled)  rows=$re")
      (te, tb)
    }
    val (exactMin, bloomMin) = (times.map(_._1).min, times.map(_._2).min)
    println(f"min-of-$reps: exact_shuffle=$exactMin%.2f s  bloom=$bloomMin%.2f s  " +
      f"ratio=${exactMin / bloomMin}%.2f")
  }

  /** pqTopK's candidate join carries m ints per neighbor row where ivfTopK
    * ships the full vector: both at one IVF config over seeded synthetic
    * embeddings, in the batch and the serving (1k-query) regime.
    */
  private def pqBytes(args: Seq[String]): Unit = withSpark { spark =>
    import spark.implicits._
    val n = args.lift(0).fold(50000L)(_.toLong)
    val dim = args.lift(1).fold(64)(_.toInt)
    val ledger = Ledger.attach(spark.sparkContext)
    val emb = spark.range(n).as[Long]
      .mapPartitions(_.map { id =>
        val rng = new java.util.Random(id * 6364136223846793005L + 1442695040888963407L)
        (id, Array.fill(dim)(rng.nextGaussian().toFloat))
      })
      .toDF("vec_id", "embedding")
      .repartition(64)
      .persist()
    println(s"[probe] corpus n=${emb.count()} dim=$dim")
    // no clearCache between runs: the operators' internal vector caches
    // share one logical plan, so every run reuses the corpus cache warmed
    // below and its job group holds only the operator's own exchanges
    def measure(name: String)(f: => Long): Unit = {
      val (rows, sec) = seconds(ledger.scope(name)(f))
      ledger.drain()
      println(f"[probe] $name%-8s rows=$rows%10d wall=$sec%7.2f s ${ledger(name)}")
    }
    val (c, p) = (64, 4)
    // JIT/codegen warmup at tiny scale, then the shared full-size cache
    Similarity.ivfTopK(emb.limit(500), k = 5, nCentroids = 8, nProbe = 2).count()
    Similarity.pqTopK(emb.limit(500), k = 5, nCentroids = 8, nProbe = 2).count()
    spark.catalog.clearCache()
    Similarity.ivfTopK(emb, k = 5, nCentroids = c, nProbe = p).count()
    measure("ivf")(Similarity.ivfTopK(emb, k = 5, nCentroids = c, nProbe = p).count())
    measure("pq")(Similarity.pqTopK(emb, k = 5, nCentroids = c, nProbe = p).count())
    val q = emb.filter(col("vec_id") < 1000).persist()
    println(s"[probe] query batch = ${q.count()}")
    measure("ivf-srv")(Similarity.ivfTopK(emb, k = 5, nCentroids = c, nProbe = p,
      queries = Some(q)).count())
    measure("pq-srv")(Similarity.pqTopK(emb, k = 5, nCentroids = c, nProbe = p,
      queries = Some(q)).count())
  }

  /** Rates of the image, audio and video fingerprint kernels and the image
    * pair join over assets synthesized from the synth corpus (~evenly
    * split across modalities by id % 3); the kernels are narrow, so the
    * rates scale with executors.
    */
  private def mmHash(args: Seq[String]): Unit = withSpark { spark =>
    val n = args.headOption.fold(30000L)(_.toLong)
    val assets = Multimodal.synthesizeAssets(
        CorpusGen.withDocIds(CorpusGen.sourceFiles(spark, n)).selectExpr("doc_id", "content as text"))
      .persist(MEMORY_AND_DISK)
    println(s"assets: ${assets.count()} over $n docs")
    def time(label: String)(f: => Long): Unit = {
      val (rows, sec) = seconds(f)
      println(f"$label%-12s $rows%8d rows  $sec%7.2f s  ${rows / sec}%9.0f rows/s")
      spark.catalog.clearCache()
      assets.persist(MEMORY_AND_DISK).count()
    }
    time("image_hash")(Multimodal.imageHashes(assets).toDF().count())
    time("audio_hash")(Multimodal.audioHashes(assets).toDF().count())
    time("video_hash")(Multimodal.videoHashes(assets).toDF().count())
    time("image_pairs")(Multimodal.imageNearDupPairs(assets, maxHamming = 3).count())
  }

  /** Which cleaning stage dominates: boilerplate strip, PII redaction,
    * quality columns (alone and fused with redaction) and the exact-dedup
    * sha2 groupBy, each an action over one persisted synth corpus.
    */
  private def cleanStages(args: Seq[String]): Unit = withSpark { spark =>
    val n = args.headOption.fold(50000L)(_.toLong)
    def timed[A](what: String)(f: => A): A = {
      val (r, sec) = seconds(f)
      println(f"[probe] $what%-28s $sec%7.1f s")
      r
    }
    val docs = CorpusGen.sourceFilesWithIds(spark, n)
      .select(col("doc_id"), col("content").as("text"))
      .persist(MEMORY_AND_DISK)
    timed("materialize corpus")(docs.count())
    timed("baseline scan (length sum)")(docs.agg(sum(length(col("text")))).collect())
    val stripped = timed("stripBoilerplateLines")(Dedup.stripBoilerplateLines(docs, 1000L))
    timed("redactPii over stripped")(
      stripped.select(TextAnalysis.redactPii(col("clean_text")).as("t"))
        .agg(sum(length(col("t")))).collect())
    def quality(text: org.apache.spark.sql.Column) =
      TextAnalysis.withQualityColumns(stripped.select(col("doc_id"), text.as("text")))
        .filter(col("n_tokens") >= 5 && col("punct_ratio") <= 0.5)
        .count()
    timed("quality cols over stripped")(quality(col("clean_text")))
    timed("redact+quality (fused)")(quality(TextAnalysis.redactPii(col("clean_text"))))
    timed("sha2 groupBy over stripped")(
      stripped.groupBy(sha2(col("clean_text"), 256)).count().count())
  }
}
