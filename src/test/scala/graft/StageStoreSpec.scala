package graft

import graft.core.MinHashConfig
import graft.plans.{CheckpointedPipeline, StageStore}
import graft.sources.CorpusGen
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

/** The stage commit protocol: one write per stage, lineage from the written
  * files' parquet footers, and nothing per commit that generated code could
  * see (a per-call literal compiles a new class on every commit).
  */
class StageStoreSpec extends SparkSpec {

  private val cfg = MinHashConfig(shingleSize = 3, signatureSize = 64, nBandRows = 4, seed = 13, threshold = 0.5)

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  test("footer lineage: per-stage _metrics rows sum to the stage table's count") {
    val work = tmp("graft_lineage")
    val docs = CorpusGen.withDocIds(CorpusGen.sourceFiles(spark, 300)).cache()
    val p = new CheckpointedPipeline(spark, cfg, work,
      verifyExactJaccard = true, emitDedupCorpus = true)
    val (clusters, log) = p.run(docs)
    assert(log.computed.toSeq ==
      Seq("signatures", "candidates", "pairs", "jaccard", "clusters", "dedup_corpus"))
    // the known-schema read-back is the schema parquet would infer
    assert(clusters.schema == spark.read.parquet(s"$work/clusters").schema)

    import org.apache.spark.sql.types._
    val m = p.metrics
    assert(m.schema.fields.map(f => f.name -> f.dataType).toSeq == Seq(
      "stage" -> StringType, "partition_id" -> IntegerType, "rows" -> LongType,
      "input_fingerprint" -> StringType, "config" -> StringType, "ts_ns" -> LongType))
    log.computed.foreach { stage =>
      val rows = m.filter(col("stage") === stage)
        .select("partition_id", "rows").collect().map(r => r.getInt(0) -> r.getLong(1))
      val table = spark.read.parquet(s"$work/$stage")
      assert(rows.map(_._2).sum == table.count(), stage)
      // one row per writer partition, keyed as the part file names are
      val fileParts = new java.io.File(s"$work/$stage").list()
        .collect { case n if n.startsWith("part-") => n.split("-")(1).toInt }.toSet
      assert(rows.map(_._1).toSet == fileParts, stage)
      assert(rows.map(_._1).distinct.length == rows.length, stage)
    }
    docs.unpersist()
  }

  test("an empty stage still commits one lineage row with rows = 0") {
    import spark.implicits._
    val store = new StageStore(spark, tmp("graft_empty_stage"))
    val log = new CheckpointedPipeline.StageLog
    // four partitions, all empty
    val filtered = store.stage("filtered", "fp", "c", log) {
      spark.range(0, 100, 1, 4).toDF("id").filter(col("id") < 0)
    }
    // no partitions at all (empty local relation)
    val local = store.stage("local", "fp", "c", log) {
      Seq.empty[(Long, String)].toDF("id", "text")
    }
    assert(log.computed.toSeq == Seq("filtered", "local"))
    assert(filtered.count() == 0L && local.count() == 0L)
    assert(local.columns.toSeq == Seq("id", "text"))
    Seq("filtered", "local").foreach { stage =>
      val rows = store.metrics.filter(col("stage") === stage)
        .select("partition_id", "rows").collect().map(r => r.getInt(0) -> r.getLong(1))
      assert(rows.toSeq == Seq(0 -> 0L), stage)
    }
  }

  test("a repeated identical run compiles no generated code and leaves no cached frame") {
    val docs = CorpusGen.withDocIds(CorpusGen.sourceFiles(spark, 300)).cache()
    docs.count()
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    def run(): Unit = {
      val (_, log) = new CheckpointedPipeline(spark, cfg, tmp("graft_codegen"),
        verifyExactJaccard = true).run(docs)
      assert(log.computed.toSeq == Seq("signatures", "candidates", "pairs", "jaccard", "clusters"))
    }
    run()
    val compiledBefore = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    // the verification stage's shingle sets are released once it commits
    // (a leaked copy would also change the next run's plans: its jaccard
    // join would scan the cached sets and compile new code)
    assert(spark.sparkContext.getPersistentRDDs.size == cachedBefore,
      spark.sparkContext.getPersistentRDDs.values.map(_.name).mkString(", "))
    // fresh work dir, same input: every plan the second run executes is one
    // the first run already compiled
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiledBefore == 0L)
    docs.unpersist()
  }
}
