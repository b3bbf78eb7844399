package graft.operators

import graft.core.BucketPairs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pairs of docs that share a group: the one pair generator behind LSH
  * candidates ([[MinHashPipeline.candidates]]), Hamming blocks
  * ([[Dedup.hammingPairs64]]) and substring windows
  * ([[Dedup.substringDupPairs]]).
  *
  * A group of B identical keys (a boilerplate band bucket, a class of
  * identical fingerprints, a hot window) owns B(B-1)/2 pairs; a plain
  * self-join would emit them all from one task. This is the heavy-hitter
  * split of "CPU and GPU Hash Joins on Skewed Data" (ICDE 2024, PAPERS.md):
  *   - `starCap = Some(cap)`: one exchange on the keys, then the sorted
  *     emitter yields the clique of groups of at most `cap` members and the
  *     hub-star (min doc, member) of larger ones: linear output,
  *     connected components preserved.
  *   - `starCap = None`, the exact clique: one repartition on the keys
  *     feeds the rows and an aggregate of group sizes, joined back (column
  *     pruning gives the aggregate its own keys-only exchange, so the keyed
  *     rows are shuffled twice). Groups of at most `saltChunkSize`
  *     stream their clique from the sorted emitter. A larger group splits
  *     into s = ceil(B / saltChunkSize) hash-salted chunks, and every member
  *     is replicated to its s chunk-PAIR groups (ci, cj), which emit across
  *     many tasks with at most two chunks of ids buffered per task. That
  *     exchange carries only oversized-group rows; it is empty on healthy
  *     corpora.
  *
  * Every pair is emitted exactly once per shared group, as (doc1 < doc2);
  * nothing is deduplicated across groups, so a caller counting shared
  * groups per pair may count the output rows.
  */
object GroupPairs {

  /** @param keyed (key1: int, key2: int, doc: long) in that column order,
    *   under the caller's own column names
    * @param partitions width of the group-key exchanges; None inherits
    *   spark.sql.shuffle.partitions
    */
  def apply(keyed: DataFrame, starCap: Option[Int], saltChunkSize: Int,
            partitions: Option[Int] = None): DataFrame = {
    require(saltChunkSize >= 1, "saltChunkSize must be positive")
    val spark = keyed.sparkSession
    import spark.implicits._
    val Array(k1, k2, doc) = keyed.columns
    def byKeys(df: DataFrame, keys: String*): DataFrame = partitions match {
      case Some(n) => df.repartition(n, keys.map(col): _*)
      case None    => df.repartition(keys.map(col): _*)
    }
    def sortedEmit(df: DataFrame, cap: Int): DataFrame =
      df.sortWithinPartitions(k1, k2, doc).as[(Int, Int, Long)]
        .mapPartitions(rows => BucketPairs.emit(rows, cap)).toDF("doc1", "doc2")
    starCap match {
      case Some(cap) => sortedEmit(byKeys(keyed, k1, k2), cap)
      case None =>
        val parted = byKeys(keyed, k1, k2)
        val sized = parted.join(parted.groupBy(k1, k2).agg(count(lit(1)).as("bn")), Seq(k1, k2))
        val small = sortedEmit(sized.filter(col("bn") <= saltChunkSize).select(k1, k2, doc),
          Int.MaxValue)
        val salted = sized.filter(col("bn") > saltChunkSize)
          .withColumn("s", ceil(col("bn").cast("double") / saltChunkSize).cast("int"))
          .withColumn("chunk", pmod(xxhash64(col(doc)), col("s")).cast("int"))
          .select(k1, k2, doc, "s", "chunk")
          .as[(Int, Int, Long, Int, Int)]
          .flatMap { case (a, b, d, s, chunk) =>
            // replicate to every chunk-pair group containing this chunk
            (0 until s).iterator.map(o => (a, b, math.min(chunk, o), math.max(chunk, o), d, chunk))
          }
          .toDF(k1, k2, "ci", "cj", doc, "chunk")
        val big = byKeys(salted, k1, k2, "ci", "cj")
          .sortWithinPartitions(k1, k2, "ci", "cj", doc)
          .as[(Int, Int, Int, Int, Long, Int)]
          .mapPartitions(rows => BucketPairs.emitChunkPairs(rows))
          .toDF("doc1", "doc2")
        small.union(big)
    }
  }
}
