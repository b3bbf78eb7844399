package graft

import graft.operators.CleanPipeline

/** Cache lifetime of the cleaning recipe: each entry point leaves exactly
  * the handles its scaladoc documents, also when a stage fails. Checked on
  * `getPersistentRDDs` before and after, with no clearCache() in between.
  */
class RecipeCacheSpec extends SparkSpec {

  private def cachedIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def names(ids: Set[Int]): String =
    ids.toSeq.sorted.map { id =>
      s"$id: ${spark.sparkContext.getPersistentRDDs(id).toString.linesIterator.next()}"
    }.mkString(", ")

  private def tmp(prefix: String) = java.nio.file.Files.createTempDirectory(prefix).toString

  test("nearDupInputs: unpersisting its result leaves nothing cached") {
    val rows = CleanFixture.rows(spark)
    val before = cachedIds
    val surv = CleanPipeline.nearDupInputs(rows,
      CleanFixture.cfg.copy(gopher = Some(CleanFixture.passThroughGopher)))
    assert(surv.count() == 10L)
    surv.unpersist()
    val leaked = cachedIds -- before
    assert(leaked.isEmpty, names(leaked))
  }

  test("run: a decontamination stage that fails loudly leaves nothing cached") {
    import spark.implicits._
    val rows = CleanFixture.rows(spark)
    val gramless = Seq((999L, "x y")).toDF("doc_id", "text")
    val before = cachedIds
    intercept[IllegalArgumentException] {
      CleanPipeline.run(rows, CleanFixture.cfg, benchmark = Some(gramless))
    }
    val leaked = cachedIds -- before
    assert(leaked.isEmpty, names(leaked))
  }

  test("run leaves one caller-owned handle, runCheckpointed none, with every stage on") {
    val rows = CleanFixture.rows(spark)
    val cfg = CleanFixture.cfg.copy(gopher = Some(CleanFixture.passThroughGopher),
      exactSpanTokens = Some(4), keepBestByQuality = true)
    val emb = Some(CleanFixture.embeddings(spark))
    val bench = Some(CleanFixture.benchmark(spark))

    val before = cachedIds
    val (out, counts) = CleanPipeline.run(rows, cfg, embeddings = emb, benchmark = bench)
    val held = cachedIds -- before
    assert(held.size == 1, names(held))
    assert(out.count() == counts.output)
    out.unpersist()
    assert((cachedIds -- before).isEmpty, names(cachedIds -- before))

    val (ck, ckCounts, _) = CleanPipeline.runCheckpointed(spark, rows, tmp("graft_recipe_cache"),
      cfg, embeddings = emb, benchmark = bench)
    assert(ckCounts == counts && ck.count() == counts.output)
    assert((cachedIds -- before).isEmpty, names(cachedIds -- before))
  }
}
