package graft

import graft.core.MinHashConfig
import graft.operators.CleanPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The 12-doc cleaning-recipe fixture of the OperatorsSpec and ResumeSpec
  * recipe cases: a boilerplate header on docs 0-7, disjoint per-doc vocab,
  * one exact dup (8 of 0), one quality reject (9), one near-dup (10 of 1)
  * and one PII carrier (11).
  */
object CleanFixture {
  private val header = "REPEATED BOILERPLATE NAVIGATION HEADER LINE"
  private val words = Seq("alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
    "hotel", "india", "juliet", "kilo", "lima", "mike", "november", "oscar", "papa")

  def body(i: Int): String =
    (0 until 15).map(k => words((i * 7 + k * 3) % 16) + i).mkString(" ")

  def rows(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val nearDupOf1 = body(1).split(" ").dropRight(1).mkString(" ") + " zulu1"
    ((0 until 8).map(i => (i.toLong, s"$header\n${body(i)}")) ++ Seq(
      (8L, body(0)), (9L, "tiny doc"), (10L, nearDupOf1),
      (11L, body(11) + " contact a@b.io now")
    )).toDF("doc_id", "text")
  }

  val cfg: CleanPipeline.Config = CleanPipeline.Config(
    maxLineDocFreq = 3L, minTokens = 5L,
    minhash = MinHashConfig(3, 64, 4, 13, 0.5),
    tokensPerShard = 100L)

  /** Gopher gates that keep every doc: only the stage tags move. */
  val passThroughGopher: CleanPipeline.GopherGates = CleanPipeline.GopherGates(
    maxDupLineFrac = 1.0, maxDupLineCharFrac = 1.0,
    maxTopNgramCharFrac = Seq(9, 9, 9), maxDupNgramCharFrac = Seq(9, 9, 9, 9, 9, 9),
    maxSymbolWordRatio = 9, maxBulletLineFrac = 1.0,
    maxEllipsisLineFrac = 1.0, minAlphaWordFrac = 0.0)

  /** A benchmark doc equal to body(2): decontamination drops doc 2. */
  def benchmark(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq((500L, body(2))).toDF("doc_id", "text")
  }

  /** Identical embeddings for every doc: the semantic arm merges them all. */
  def embeddings(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0L until 12L).map(i => (i, Array.fill(8)(1.0f))).toDF("doc_id", "embedding")
  }
}
