package graft.plans

import graft.core.MinHashConfig
import graft.operators.{ConnectedComponents, MinHashPipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Resumable staged execution of the dedup pipeline with per-partition
  * lineage + row-count metrics — the north-star's checkpoint contract.
  *
  * The stage-table mechanics (committed tables + `_graft_tag` identity +
  * `_metrics` lineage, the "Iceberg emulation" of SURVEY.md §1.4) live in
  * [[StageStore]], shared with the resumable cleaning recipe; this class
  * contributes the reference pipeline's stage graph and the per-stage
  * config tags.
  */
class CheckpointedPipeline(
    spark: SparkSession,
    cfg: MinHashConfig,
    workDir: String,
    starCapBucketSize: Option[Int] = None,
    verifyExactJaccard: Boolean = false,
    contentFingerprint: Boolean = false,
    emitDedupCorpus: Boolean = false,
    candidatePartitions: Option[Int] = None
) {
  import CheckpointedPipeline._

  private val store = new StageStore(spark, workDir)

  /** See [[StageStore.fingerprint]] — metadata-level by default, content
    * hash when `contentFingerprint` is set or the input is not file-backed.
    */
  def fingerprint(docs: DataFrame): String =
    StageStore.fingerprint(spark, docs, forceContent = contentFingerprint)

  /** Per-stage config tag: a stage is only invalidated by the parameters it
    * actually depends on (a threshold-only change must not recompute
    * signatures/candidates).
    */
  private def configTag(stage: String): String = {
    val sig = s"sh=${cfg.shingleSize};sig=${cfg.signatureSize};r=${cfg.nBandRows};seed=${cfg.seed}"
    stage match {
      case "signatures" => sig
      case "candidates" => s"$sig;cap=${starCapBucketSize.getOrElse(-1)}"
      case _            => s"$sig;cap=${starCapBucketSize.getOrElse(-1)};thr=${cfg.threshold}"
    }
  }

  private def stage(name: String, fp: String, executed: StageLog)(compute: => DataFrame): DataFrame =
    store.stage(name, fp, configTag(name), executed)(compute)

  /** Full staged run. Returns the clusters table and the stage log
    * (which stages were computed vs resumed).
    */
  def run(docs: DataFrame): (DataFrame, StageLog) = {
    val log = new StageLog
    val fp = fingerprint(docs)
    val sigs = stage("signatures", fp, log) {
      MinHashPipeline.signatures(docs, cfg).toDF()
    }
    val cands = stage("candidates", fp, log) {
      MinHashPipeline.candidates(sigs, starCapBucketSize,
        candidatePartitions = candidatePartitions)
    }
    val pairs = stage("pairs", fp, log) {
      MinHashPipeline.pairs(cands, sigs, cfg)
    }
    // optional north-star verification stage: exact Jaccard over distinct
    // shingle-hash sets for every candidate pair (the reference's dead-code
    // array_similarity semantics, O15b)
    if (verifyExactJaccard) {
      var sets: Option[DataFrame] = None
      stage("jaccard", fp, log) {
        sets = Some(MinHashPipeline.shingleSets(docs, cfg))
        MinHashPipeline.exactJaccardPairs(cands, sets.get)
      }
      // the committed table is read back from parquet: the cached shingle
      // sets have no consumer left
      sets.foreach(_.unpersist())
    }
    val clusters = stage("clusters", fp, log) {
      // graphs up to the driver edge limit solve on the driver and write no
      // iteration tables; above it the loop keeps durable per-iteration
      // labels under the work dir, so on a real cluster a lost executor
      // re-reads parquet instead of killing the stage (the `_`-prefixed
      // scratch dir is invisible to parquet readers)
      ConnectedComponents.cluster(pairs, docs.select(col("doc_id")),
        reliableCheckpointDir = Some(s"$workDir/_cc_scratch"))
    }
    // the clusters stage table is the durable copy — drop the per-iteration
    // scratch once the stage is committed (it would otherwise accumulate
    // stale label tables across reruns with different inputs)
    store.deleteScratch("_cc_scratch")
    // optional end-product stage: the deduplicated corpus itself (one
    // representative document per cluster)
    if (emitDedupCorpus) {
      stage("dedup_corpus", fp, log) {
        graft.operators.Dedup.keepRepresentatives(docs, clusters)
      }
    }
    (clusters, log)
  }

  def metrics: DataFrame = store.metrics
}

object CheckpointedPipeline {
  final class StageLog {
    val computed = scala.collection.mutable.ArrayBuffer[String]()
    val skipped = scala.collection.mutable.ArrayBuffer[String]()
    override def toString =
      s"computed=${computed.mkString("[", ",", "]")} resumed=${skipped.mkString("[", ",", "]")}"
  }
}
