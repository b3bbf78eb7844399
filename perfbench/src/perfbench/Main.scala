package perfbench

import graft.core.MinHashConfig
import graft.operators.{ConnectedComponents, MinHashPipeline}
import graft.plans.CheckpointedPipeline
import graft.streaming.StreamingDedup
import java.lang.management.ManagementFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** One benchmark run in one JVM: generate the workload's inputs from the
  * seed, stage them as files, warm up, time whole passes of the CLI batch
  * job (`CheckpointedPipeline.run` into a fresh work dir) for the requested
  * seconds, check the outputs of the last pass, and print one JSON line.
  * `--trace 1` makes a separate traced run that reports per-layer figures.
  *
  * Workloads (README.md gives the make-up of each input):
  *   - corpus-dedup: medpub shape (sh3/sig200/r4, threshold 0.8), star cap
  *     256, over a source-code-like corpus; the kernel does most of the work
  *   - dense-families: medical shape (sh3/sig300/r3, threshold 0.1) in
  *     parity mode with exact-Jaccard verification, over short docs in
  *     large near-dup families; candidates, joins, verification and
  *     connected components do most of the work
  */
object Main {
  final case class Workload(name: String, cfg: MinHashConfig, starCap: Option[Int],
                            verify: Boolean, make: Gen => Corpus)

  val workloads: Map[String, Workload] = Seq(
    Workload("corpus-dedup", MinHashConfig(3, 200, 4, 13, 0.8), Some(256), verify = false,
      _.corpus(unrelated = 2000, exactFams = 100, nearFams = 120, boiler = 400, subShingle = 24)),
    Workload("dense-families", MinHashConfig(3, 300, 3, 13, 0.1), None, verify = true,
      _.dense(families = 20, minSize = 20, maxSize = 40, maxEdits = 4, unrelated = 300))
  ).map(w => w.name -> w).toMap

  /** Passes before timing starts. The first pass of a fresh JVM spends
    * about 35 of its 50 CPU seconds in JIT compilation and the second still
    * about 6, so timing starts at the third.
    */
  val WarmupPasses = 2
  /** Timed passes at least, however short `--seconds` is. */
  val MinPasses = 1

  /** Stream layer shape: docs streamed, micro-batches, and staged files per
    * micro-batch (the engine's maxFilesPerTrigger).
    */
  val StreamDocs = 400
  val StreamBatches = 2
  val FilesPerBatch = 16

  private def now = System.nanoTime()
  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9
  private def median(xs: collection.Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuS = osBean.getProcessCpuTime / 1e9
  private def jitS = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3
  private def classes = ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount
  /** JIT seconds and classes loaded while `f` runs, for the progress log. */
  private def jitNote[T](f: => T): (T, String) = {
    val (j0, c0) = (jitS, classes)
    val r = f
    (r, f"jit=${jitS - j0}%.1f s classes=+${classes - c0}")
  }
  private def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = workloads.getOrElse(opts("workload"),
      sys.error(s"unknown workload ${opts("workload")}; known: ${workloads.keys.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val dir = new java.io.File(opts("dir")).getAbsolutePath
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val tGen = now
    val corpus = w.make(new Gen(seed))
    val genS = secs(tGen)
    log(s"${w.name} seed=$seed docs=${corpus.n} generated in ${"%.2f".format(genS)} s")

    val spark = SparkSession.builder()
      .master(s"local[${opts("cores")}]")
      .appName("perfbench")
      // the CLI's session settings (graft.Main)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.buffer.pageSize", "8m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // keep every file the run writes inside its own directory
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def sinceStart = (System.currentTimeMillis() - jvmStartMs) / 1e3
    log(f"session up at $sinceStart%.1f s after JVM start")
    val bench = new Bench(spark, w, corpus, dir)
    bench.stage()
    log(f"input staged at $sinceStart%.1f s")
    (1 to WarmupPasses).foreach { i =>
      val (p, note) = jitNote(bench.pass())
      log(s"warm-up pass $i: $p $note")
    }
    val setupS = sinceStart - genS

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    val report = new Check.Report
    var attempted = 0
    var failed = 0
    if (!trace) {
      val passes = mutable.ArrayBuffer[Bench.PassResult]()
      val tRun = now
      while (attempted < MinPasses || secs(tRun) < seconds) {
        attempted += 1
        try { val (p, note) = jitNote(bench.pass()); passes += p; log(s"timed pass: $p $note") }
        catch { case e: Exception => failed += 1; log(s"pass failed: $e") }
      }
      val heapMb = Bench.retainedHeapMb()
      if (passes.nonEmpty) {
        metrics("setup_s") = (setupS, "s")
        metrics("docs_per_s") = (corpus.n / median(passes.map(_.wallS)), "docs/s")
        metrics("cpu_s") = (median(passes.map(_.cpuS)), "s")
        metrics("heap_retained_mb") = (heapMb, "MB")
        bench.check(report)
      } else report.require(false, "no pass completed")
    } else {
      attempted = 1
      try bench.traced(report).foreach { case (k, v, u) => metrics(k) = (v, u) }
      catch { case e: Exception => failed = 1; log(s"traced run failed: $e") }
      if (failed == 0) bench.check(report)
      else report.require(false, "traced run failed")
    }
    report.notes.foreach(n => log(s"check: $n"))
    report.failures.foreach(f => log(s"CHECK FAILED: $f"))
    spark.stop()

    val ms = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${report.ok}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Staging, passes, checks and the traced run of one workload. */
  final class Bench(spark: SparkSession, w: Workload, corpus: Corpus, dir: String) {
    import spark.implicits._
    private val cfg = w.cfg
    private val docsPath = s"$dir/input/docs"
    private var passNo = 0
    private var lastWork: Option[String] = None

    private def docsDF(ids: Seq[Long]): DataFrame =
      ids.map(i => (i, corpus.text(i))).toDF("doc_id", "content")

    /** Input staging: the generated docs become the parquet table the
      * engine reads.
      */
    def stage(): Unit = docsDF((0 until corpus.n).map(_.toLong)).repartition(4).write.parquet(docsPath)

    /** One pass of the CLI batch job over a fresh work dir; the previous
      * completed pass's dir is removed after it, outside the timed region.
      */
    def pass(): Bench.PassResult = {
      passNo += 1
      val work = s"$dir/work/pass-$passNo"
      val docs = spark.read.parquet(docsPath)
      val (c0, t0) = (cpuS, now)
      new CheckpointedPipeline(spark, cfg, work, w.starCap, w.verify).run(docs)
      val result = Bench.PassResult(secs(t0), cpuS - c0)
      // the checks read the last pass that completed
      lastWork.foreach(p => Bench.rmrf(new java.io.File(p)))
      lastWork = Some(work)
      result
    }

    private def readPairs(path: String): Array[(Long, Long, Double)] =
      spark.read.parquet(path)
        .select(col("doc1").cast("long"), col("doc2").cast("long"), col("similarity").cast("double"))
        .as[(Long, Long, Double)].collect()

    private def readLabels(df: DataFrame): Map[Long, Long] =
      df.select(col("doc_id").cast("long"), col("cluster_id").cast("long"))
        .as[(Long, Long)].collect().toMap

    /** Outputs of the last pass against the independent computations. */
    def check(r: Check.Report): Unit = {
      val work = lastWork.getOrElse(sys.error("no pass ran"))
      val pairs = readPairs(s"$work/pairs")
      val labels = readLabels(spark.read.parquet(s"$work/clusters"))
      val groups = corpus.families.map(f => f.kind -> f.members.toSeq)
      Check.pairs(r, pairs, cfg.threshold, corpus.exactCopyPairs)
      Check.clusters(r, corpus.n, labels, pairs.iterator.map(p => (p._1, p._2)), groups)
      if (w.verify) verification(r, work, pairs)
    }

    /** dense-families: the `jaccard` stage against string-shingle Jaccard,
      * each estimate within the binomial bound of its Jaccard, and recall of
      * the planted pairs against the S-curve expectation.
      */
    private def verification(r: Check.Report, work: String, pairs: Array[(Long, Long, Double)]): Unit = {
      val sh = corpus.texts.map(Check.shingles(_, cfg.shingleSize))
      val jac = spark.read.parquet(s"$work/jaccard")
        .select(col("doc1").cast("long"), col("doc2").cast("long"), col("jaccard").cast("double"))
        .as[(Long, Long, Double)].collect()
      var hashDiffs = 0
      val badJ = jac.filter { case (a, b, j) =>
        val (x, y) = (sh(a.toInt), sh(b.toInt))
        val want = Check.jaccard(x, y)
        // one 32-bit shingle-hash collision moves the union or the
        // intersection by one element
        val slack = 2.0 / math.max(1, (x ++ y).size) + 1e-12
        if (math.abs(j - want) > 1e-12) hashDiffs += 1
        math.abs(j - want) > slack
      }
      r.require(jac.nonEmpty, "jaccard stage is empty")
      r.require(badJ.isEmpty, s"${badJ.length}/${jac.length} jaccard values differ from string-shingle Jaccard, e.g. ${badJ.take(3).mkString(",")}")
      r.note(s"jaccard rows=${jac.length} differing by a hash collision=$hashDiffs")
      val n = cfg.signatureSize
      val trueJ = mutable.HashMap[(Long, Long), Double]()
      def jOf(a: Long, b: Long) = trueJ.getOrElseUpdate((a, b), Check.jaccard(sh(a.toInt), sh(b.toInt)))
      // 6 standard deviations: no false alarm over ~1e5 pairs per run
      val badEst = pairs.filter { case (a, b, s) =>
        val j = jOf(a, b)
        math.abs(s - j) > 6 * math.sqrt(j * (1 - j) / n) + 1.0 / n
      }
      r.require(badEst.isEmpty, s"${badEst.length}/${pairs.length} estimates outside the binomial bound, e.g. ${badEst.take(3).mkString(",")}")
      val found = pairs.iterator.map(p => (p._1, p._2)).toSet
      val prob = mutable.HashMap[Double, Double]()
      var expected = 0.0; var variance = 0.0; var hits = 0; var planted = 0
      corpus.plantedPairs.foreach { case (a, b) =>
        val p = prob.getOrElseUpdate(jOf(a, b), Check.pairRecall(jOf(a, b), n, cfg.nBandRows, cfg.threshold))
        expected += p; variance += p * (1 - p); planted += 1
        if (found((a, b))) hits += 1
      }
      // margin: 4 standard deviations of independent pair outcomes plus 1%
      // of the expectation for the dependence between pairs of one family
      val margin = 4 * math.sqrt(variance) + 0.01 * expected
      r.require(hits >= expected - margin,
        f"recall $hits/$planted below the S-curve expectation $expected%.1f - margin $margin%.1f")
      r.note(f"recall $hits/$planted, expected $expected%.1f, margin $margin%.1f")
    }

    /** Unregisters a ledger once every queued event has reached it. */
    private def detach(l: Ledger): Unit = {
      org.apache.spark.BenchBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.removeSparkListener(l)
    }

    /** The traced run: per-layer figures. A traced pass between two
      * untraced ones gives the tracing overhead (the traced wall minus the
      * untraced mean, which cancels a steady JIT speed-up); then each
      * operator is materialized in turn under its own job group; then the
      * stream layer; then the kernels.
      */
    def traced(r: Check.Report): Seq[(String, Double, String)] = {
      val sc = spark.sparkContext
      val ledger = new Ledger
      val out = mutable.ArrayBuffer[(String, Double, String)]()
      val plainBefore = pass().wallS
      sc.addSparkListener(ledger)
      sc.setJobGroup("e2e", "e2e")
      val e2eWall = pass().wallS
      sc.clearJobGroup()
      detach(ledger)
      val plainAfter = pass().wallS
      out += (("trace.overhead_s", e2eWall - (plainBefore + plainAfter) / 2, "s"))
      sc.addSparkListener(ledger)

      val docs = spark.read.parquet(docsPath)
      val opWall = mutable.LinkedHashMap[String, Double]()
      val opRows = mutable.HashMap[String, Long]()
      val held = mutable.ArrayBuffer[DataFrame]()
      def materialize(op: String)(df: => DataFrame): DataFrame = {
        sc.setJobGroup(op, op)
        val t0 = now
        val d = df.persist(StorageLevel.MEMORY_AND_DISK)
        opRows(op) = d.count()
        opWall(op) = secs(t0)
        sc.clearJobGroup()
        held += d
        d
      }
      val ccDir = s"$dir/work/trace-cc"
      val sigs = materialize("signatures")(MinHashPipeline.signatures(docs, cfg).toDF())
      val cands = materialize("candidates")(MinHashPipeline.candidates(sigs, w.starCap))
      val prs = materialize("pairs")(MinHashPipeline.pairs(cands, sigs, cfg))
      materialize("jaccard")(MinHashPipeline.exactJaccardPairs(cands, docs, cfg))
      // the pipeline's own durable per-iteration labels
      materialize("cluster")(ConnectedComponents.cluster(prs, docs.select(col("doc_id")),
        reliableCheckpointDir = Some(ccDir)))
      detach(ledger)
      for (op <- opWall.keys) {
        val s = ledger(op)
        val p = s"operators.$op"
        out += ((s"$p.wall_s", opWall(op), "s"))
        out += ((s"$p.exec_cpu_s", s.cpuNs / 1e9, "s"))
        out += ((s"$p.rows_out", opRows(op).toDouble, "rows"))
        out += ((s"$p.shuffle_write_mb", s.shuffleWrite / 1e6, "MB"))
        out += ((s"$p.spill_mb", s.spill / 1e6, "MB"))
        out += ((s"$p.stages", s.stages.toDouble, "count"))
        out += ((s"$p.task_skew", s.skew, "ratio"))
      }
      val kernel = Kernel.lane(corpus.texts, cfg, w.starCap)
      val kernelDocsPerS = kernel.find(_._1 == "core.signature.docs_per_s").get._2
      out += (("operators.signatures.cpu_over_kernel",
        ledger("signatures").cpuNs / 1e9 / corpus.n * kernelDocsPerS, "ratio"))
      out += (("operators.pairs.precision", opRows("pairs").toDouble / math.max(1L, opRows("candidates")), "ratio"))
      // the pass runs the jaccard stage only when verification is on
      val inPass = opWall.keys.filter(op => op != "jaccard" || w.verify)
      out += (("plans.commit_s", e2eWall - inPass.map(opWall).sum, "s"))
      out += (("plans.bytes_written_mb", ledger("e2e").bytesWritten / 1e6, "MB"))

      out ++= streamLayer(r, sigs, prs)
      held.foreach(_.unpersist())
      Bench.rmrf(new java.io.File(ccDir))
      out ++= kernel
      val gcS = ManagementFactory.getGarbageCollectorMXBeans.toArray
        .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum / 1e3
      out += (("jvm.gc_s", gcS, "s"))
      out += (("jvm.jit_s", jitS, "s"))
      out.toSeq
    }

    /** The `streaming` layer, as the CLI's `--stream` mode runs it: the last
      * `StreamDocs` docs stream in as `StreamBatches` micro-batches
      * (AvailableNow, closed loop: the next micro-batch starts when the
      * previous one commits) over a history of the other docs, seeded by
      * `bootstrap` from the materialized signatures and pairs; then the
      * final `updateClusters` + `compact` maintenance pass. Per-batch
      * figures are medians over the micro-batches. Checks that each planted
      * duplicate of a history doc is linked to it and that the labels are
      * the component minima of the stream's pairs.
      */
    private def streamLayer(r: Check.Report, sigs: DataFrame, prs: DataFrame): Seq[(String, Double, String)] = {
      val sc = spark.sparkContext
      val work = s"$dir/work/trace-stream"
      val src = s"$dir/input/stream"
      val cut = corpus.n - StreamDocs
      docsDF(cut.toLong until corpus.n).repartition(StreamBatches * FilesPerBatch).write.parquet(src)
      StreamingDedup.bootstrap(spark, work, sigs.filter(col("doc_id") < cut),
        prs.filter(col("doc2") < cut))
      val progress = mutable.ArrayBuffer[(Long, Long, Long)]()
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
          progress.synchronized {
            val d = e.progress.durationMs
            def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
            if (e.progress.numInputRows > 0)
              progress += ((e.progress.batchId, ms("triggerExecution"), ms("addBatch")))
          }
      }
      val ledger = new Ledger
      spark.streams.addListener(listener)
      sc.addSparkListener(ledger)
      StreamingDedup.start(spark, src, work, cfg, None, Some(StreamingDedup.DefaultStreamStarCap))
        .awaitTermination()
      detach(ledger)
      spark.streams.removeListener(listener)
      val batches = progress.synchronized(progress.toList)
      r.require(batches.length == StreamBatches, s"stream ran ${batches.length} micro-batches, not $StreamBatches")
      def med(f: Long => Double) = median(batches.map(b => f(b._1)))
      def files(f: java.io.File): Int =
        if (f.isDirectory) f.listFiles().map(files).sum
        else if (f.getName.endsWith(".parquet")) 1 else 0
      // files each micro-batch committed, before compaction folds them
      val filesWritten = med(b =>
        Seq("bands", "signatures", "pairs").map(t => files(new java.io.File(s"$work/$t/batch_id=$b"))).sum)
      val t1 = now
      StreamingDedup.updateClusters(spark, work)
      val updS = secs(t1)
      val t2 = now
      StreamingDedup.compact(spark, work)
      val compactS = secs(t2)

      val pairs = readPairs(s"$work/pairs")
      val have = pairs.iterator.map(p => (p._1, p._2)).toSet
      val histDups = corpus.linkedPairs.filter { case (a, b) => a < cut != b < cut }
      val missed = histDups.filterNot(have)
      r.require(missed.isEmpty, s"stream: ${missed.size}/${histDups.size} duplicates of history docs not linked to them")
      r.note(s"stream: ${batches.length} micro-batches, ${histDups.size} duplicates of history docs linked")
      Check.clusters(r, corpus.n, readLabels(StreamingDedup.readClusters(spark, work)),
        pairs.iterator.map(p => (p._1, p._2)), Nil)

      val out = Seq(
        ("streaming.batch.jobs", med(b => ledger(s"batch:$b").jobs), "count"),
        ("streaming.batch.exec_cpu_s", med(b => ledger(s"batch:$b").cpuNs / 1e9), "s"),
        ("streaming.batch.history_rows_read", med(b => ledger(s"batch:$b").recordsRead.toDouble), "rows"),
        ("streaming.batch.shuffle_write_mb", med(b => ledger(s"batch:$b").shuffleWrite / 1e6), "MB"),
        ("streaming.batch.files_written", filesWritten, "count"),
        ("streaming.batch.wall_s", median(batches.map(_._2 / 1e3)), "s"),
        ("streaming.batch.add_batch_ms", median(batches.map(_._3.toDouble)), "ms"),
        ("streaming.batch.trigger_overhead_ms", median(batches.map(b => (b._2 - b._3).toDouble)), "ms"),
        ("streaming.update_clusters.wall_s", updS, "s"),
        ("streaming.compact.wall_s", compactS, "s"),
        ("streaming.tables.files", files(new java.io.File(work)).toDouble, "count"))
      Bench.rmrf(new java.io.File(work))
      out
    }
  }

  object Bench {
    final case class PassResult(wallS: Double, cpuS: Double) {
      override def toString = f"wall=$wallS%.3f s cpu=$cpuS%.2f s"
    }

    /** Used heap after a full GC, the least of three rounds: Spark's
      * ContextCleaner frees shuffle and broadcast state only after a GC
      * has cleared the weak references to it, so one GC can leave garbage
      * that the next would drop.
      */
    def retainedHeapMb(): Double =
      (1 to 3).map { _ =>
        System.gc()
        Thread.sleep(200)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
      }.min

    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
      f.delete()
    }
  }
}
