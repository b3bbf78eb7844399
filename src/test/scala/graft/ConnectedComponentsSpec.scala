package graft

import graft.operators.ConnectedComponents
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("50-node path graph converges fast (pointer jumping, O(log D) rounds)") {
    // a pure chain is the worst case for one-hop min propagation (needs D
    // rounds); pointer jumping must crush it within a small budget
    val edges = (0L until 49L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val docs = (0L until 50L).toDF("doc_id")
    val out = ConnectedComponents.cluster(edges, docs, maxIter = 12)
    val labels = out.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 50)
    assert(labels.forall(_._2 == 0L), labels.filter(_._2 != 0L).take(5).mkString(","))
  }

  test("two components + singletons get distinct min labels") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc1", "doc2")
    val docs = (0L until 13L).toDF("doc_id")
    val out = ConnectedComponents.cluster(edges, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out(1L) == 1L && out(2L) == 1L && out(3L) == 1L)
    assert(out(10L) == 10L && out(11L) == 10L)
    assert(out(0L) == 0L && out(5L) == 5L && out(12L) == 12L)
  }

  test("keepRepresentatives: one doc per cluster survives, dups dropped") {
    val docs = Seq((0L, "a"), (1L, "a"), (2L, "a"), (5L, "b"), (6L, "b"), (9L, "c"))
      .toDF("doc_id", "content")
    // clusters: {0,1,2} -> 0, {5,6} -> 5, {9} singleton
    val clusters = Seq((0L, 0L), (1L, 0L), (2L, 0L), (5L, 5L), (6L, 5L), (9L, 9L))
      .toDF("doc_id", "cluster_id")
    val kept = graft.operators.Dedup.keepRepresentatives(docs, clusters)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 5L, 9L), kept.toString)
  }

  test("non-convergence throws instead of returning silently-wrong labels") {
    val edges = (0L until 30L).map(i => (i, i + 1)).toDF("doc1", "doc2")
    val docs = (0L until 31L).toDF("doc_id")
    intercept[IllegalStateException] {
      // driverEdgeLimit = 0: the loop path is what can fail to converge
      ConnectedComponents.cluster(edges, docs, maxIter = 1, driverEdgeLimit = 0L)
    }
  }

  test("driver union-find fast path equals the distributed loop") {
    // round-8: <= driverEdgeLimit edges are solved by a bounded driver
    // union-find; the labels must be identical to the loop's fixpoint on
    // chains, cliques, merged components and singletons
    val rng = new scala.util.Random(77)
    val edges = ((0L until 25L).map(i => (i, i + 1)) ++          // chain
      (0 until 40).map(_ => (100L + rng.nextInt(12), 100L + rng.nextInt(12))) ++ // dense blob
      Seq((200L, 300L), (300L, 250L), (250L, 201L))              // merge via hops
    ).filter(e => e._1 != e._2).map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .toDF("doc1", "doc2")
    val docs = ((0L to 30L) ++ (95L to 130L) ++ (200L to 310L)).toDF("doc_id")
    val fast = ConnectedComponents.cluster(edges, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val loop = ConnectedComponents.cluster(edges, docs, driverEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == loop)
  }

  test("reliable checkpoint mode survives and matches localCheckpoint mode") {
    val dir = java.nio.file.Files.createTempDirectory("cc_ckpt").toString
    val edges = (0L until 20L).map(i => (i * 3, i * 3 + 3)).toDF("doc1", "doc2")
    val docs = (0L to 60L).toDF("doc_id")
    // driverEdgeLimit = 0: the per-iteration parquet tables belong to the
    // loop; a graph this small would otherwise take the driver fast path
    val a = ConnectedComponents.cluster(edges, docs, driverEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = ConnectedComponents.cluster(edges, docs,
        reliableCheckpointDir = Some(dir), driverEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b)
    // every iteration is parquet-backed AND superseded tables are cleaned:
    // exactly one labels table (the final iteration) remains
    val written = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("cc_labels_iter_"))
    assert(written.length == 1, written.mkString(","))
  }

  test("reliableCheckpointDir does not force the loop: a small graph takes the fast path") {
    val dir = java.nio.file.Files.createTempDirectory("cc_fast").toString
    val edges = ((0L until 20L).map(i => (i * 3, i * 3 + 3)) ++
      Seq((100L, 101L), (101L, 102L), (90L, 102L))).toDF("doc1", "doc2")
    val docs = (0L to 110L).toDF("doc_id")
    val fast = ConnectedComponents.cluster(edges, docs, reliableCheckpointDir = Some(dir))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val loop = ConnectedComponents.cluster(edges, docs, driverEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == loop)
    // the fast path writes no iteration tables
    val written = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.startsWith("cc_labels_iter_"))
    assert(written.isEmpty, written.mkString(","))
  }

  test("CheckpointedPipeline clusters stage equals the loop over its own pairs stage; rerun resumes") {
    val cfg = graft.core.MinHashConfig(shingleSize = 3, signatureSize = 64, nBandRows = 4,
      seed = 13, threshold = 0.5)
    val work = java.nio.file.Files.createTempDirectory("cc_pipeline").toString
    val docs = graft.sources.CorpusGen.withDocIds(
      graft.sources.CorpusGen.sourceFiles(spark, 300)).cache()
    val stages = Seq("signatures", "candidates", "pairs", "clusters")
    val (c1, log1) = new graft.plans.CheckpointedPipeline(spark, cfg, work).run(docs)
    assert(log1.computed.toSeq == stages, log1.toString)
    val clusters = c1.select("doc_id", "cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pairs = spark.read.parquet(s"$work/pairs")
    assert(pairs.count() > 0L, "corpus must yield dup pairs for the comparison to mean anything")
    val loop = ConnectedComponents.cluster(pairs, docs.select("doc_id"), driverEdgeLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(clusters == loop)
    assert(!new java.io.File(s"$work/_cc_scratch").exists())

    // a second run resumes every stage, under byte-identical tags
    def tags: Seq[String] = stages.map(st => new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(work, st, "_graft_tag")), "UTF-8"))
    val tags1 = tags
    val (c2, log2) = new graft.plans.CheckpointedPipeline(spark, cfg, work).run(docs)
    assert(log2.computed.isEmpty && log2.skipped.toSeq == stages, log2.toString)
    assert(tags == tags1)
    assert(c2.select("doc_id", "cluster_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == clusters)
    docs.unpersist()
  }
}
