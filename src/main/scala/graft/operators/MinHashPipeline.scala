package graft.operators

import graft.core.{MinHashConfig, SignatureKernel}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Row of the `signatures` checkpoint table. */
final case class DocSignature(doc_id: Long, signature: Array[Int], bands: Array[Int])

/** The Spark-native near-duplicate pipeline. Same dataflow semantics as the
  * reference's `mh_main` (/root/reference/src/MPI/minhash.c:10-105), but the
  * physical plan is Spark's, not MPI's:
  *
  *   - the reference's replicate-everything allgather
  *     (/root/reference/src/MPI/minhash.c:221-273) is deleted: the LSH band
  *     becomes a bucket-join key, so the shuffle moves only bucket members
  *   - the O(n²) all-pairs scan (/root/reference/src/MPI/minhash.c:275-305)
  *     is replaced by a bucket equi-join that enumerates exactly the pairs
  *     the reference's band gate (is_candidate_pair,
  *     /root/reference/src/MPI/utils.c:89-96) would pass — same candidate
  *     relation, emitted once with doc1 < doc2 (SURVEY.md Q5/Q13)
  *
  * Scale notes (the 100 TB story):
  *   - signatures: one narrow mapPartitions pass, no shuffle; the kernel is
  *     fused (tokenize→shingle→minhash→band fold) with preallocated arrays
  *   - candidates: one shuffle on (band_idx, band_hash). Skewed buckets
  *     (boilerplate/license clones, the Q3 all-MAX bucket) are inherent to
  *     the *semantics* (a bucket of B mutual dups has B(B-1)/2 pairs).
  *     AQE skew-join splitting handles the join-side skew; for production
  *     runs `starCapBucketSize` caps the quadratic *output* by emitting a
  *     star (hub = min doc_id) instead of the full clique for oversized
  *     buckets — connected components (and hence clusters/recall) are
  *     preserved, pair listing is linear in bucket size. Parity mode
  *     (None) emits the full clique to byte-match the reference.
  *   - pairs: two shuffle joins of candidates against the (narrow)
  *     signatures table; similarity via the custom codegen'd ArrayAgreeI
  *     expression — no UDF, no interpreted lambda, stays inside
  *     WholeStageCodegen.
  */
object MinHashPipeline {

  /** Stage A (narrow): content -> (signature, bands). One pass per doc.
    * Input must have columns (doc_id: long, content: string).
    */
  def signatures(docs: DataFrame, cfg: MinHashConfig): Dataset[DocSignature] = {
    val spark = docs.sparkSession
    import spark.implicits._
    Spread(docs.select(col("doc_id").cast("long"), col("content").cast("string")))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, content) =>
          val (sig, bands) = SignatureKernel.compute(if (content == null) "" else content, cfg)
          DocSignature(id, sig, bands)
        }
      }
  }

  /** LSH bucket rows: (doc_id, band_idx, band_hash). posexplode keeps the
    * band position, because the reference's candidate gate compares bands
    * POSITIONALLY (same band index on both sides, SURVEY.md Q5).
    */
  def bandBuckets(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(col("bands")).as(Seq("band_idx", "band_hash")))

  /** Stage B: candidate pairs from LSH buckets: the band rows
    * (band_idx, band_hash, doc_id) through [[GroupPairs]], then `distinct`
    * for the reference's ∃-band semantics (a pair colliding in several
    * bands is emitted once, SURVEY.md Q5). One exchange on the bucket key
    * plus the distinct's in star mode; parity mode adds the size
    * aggregate's exchange and the salted chunk-pair exchange, which is
    * empty unless a bucket exceeds `saltChunkSize`.
    *
    * @param starCapBucketSize buckets larger than this emit hub-star pairs
    *   (min_doc, member) instead of the full clique — cluster-preserving
    *   skew armor (output linear, not quadratic, in bucket size). None =
    *   exact reference parity (full clique, quadratic in the bucket).
    * @param candidatePartitions per-STAGE width of the bucket-key shuffles
    *   (the pipeline's big exchange). Inherits spark.sql.shuffle.partitions
    *   when None — right for a single-job session, wrong at 100 TB where
    *   the exploded-bands stage wants many times the width of the final
    *   aggregations; this overrides just these exchanges, leaving the
    *   session conf to the other stages. (The distinct's exchange stays
    *   conf-sized; AQE coalesces it by output volume.)
    */
  def candidates(sigs: DataFrame, starCapBucketSize: Option[Int] = None,
                 saltChunkSize: Int = 2048,
                 candidatePartitions: Option[Int] = None): DataFrame = {
    val buckets = bandBuckets(sigs)
      .select(col("band_idx").cast("int"), col("band_hash").cast("int"),
        col("doc_id").cast("long"))
    GroupPairs(buckets, starCapBucketSize, saltChunkSize, candidatePartitions).distinct()
  }

  /** Stage C: similarity estimate + threshold. Joins candidates back to the
    * signatures table twice (shuffle hash joins on doc id; the signatures
    * side is the narrow table). Similarity = fraction of equal signature
    * positions (reference signature_similarity,
    * /root/reference/src/MPI/utils.c:79-87), threshold is `>=` (Q6).
    * The agreement count is the custom codegen'd [[graft.functions.ArrayAgreeI]]
    * — Spark's aggregate/zip_with higher-order lambdas would evaluate
    * INTERPRETED per element in this per-candidate-pair hot path
    * (CLAUDE.md sharp edge); the custom expression emits a primitive loop
    * inside WholeStageCodegen with identical arithmetic.
    */
  def pairs(cands: DataFrame, sigs: DataFrame, cfg: MinHashConfig): DataFrame = {
    val s1 = sigs.select(col("doc_id").as("doc1"), col("signature").as("sig1"))
    val s2 = sigs.select(col("doc_id").as("doc2"), col("signature").as("sig2"))
    cands
      .join(s1, "doc1")
      .join(s2, "doc2")
      .withColumn(
        "similarity",
        graft.functions.VectorExprs.agreeI(col("sig1"), col("sig2"))
          .cast("double") / size(col("sig1"))
      )
      .filter(col("similarity") >= cfg.threshold)
      .select(col("doc1"), col("doc2"), col("similarity"))
  }

  /** Optional verification stage (north-star): exact Jaccard over distinct
    * shingle-hash sets — the semantics of the reference's dead-code
    * array_similarity (/root/reference/src/MPI/utils.c:65-77, O15b), but on
    * deduplicated sets (Q12) with a sorted-merge intersection. The shingle
    * sets stay cached after the returned frame is consumed; a caller that
    * must release them passes its own [[shingleSets]] to the overload.
    */
  def exactJaccardPairs(cands: DataFrame, docs: DataFrame, cfg: MinHashConfig): DataFrame =
    exactJaccardPairs(cands, shingleSets(docs, cfg))

  /** The persisted (doc_id, shingle_set) frame [[exactJaccardPairs]] joins
    * on; unpersisting it once the pairs are materialized is the caller's.
    */
  def shingleSets(docs: DataFrame, cfg: MinHashConfig): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // persisted: consumed by BOTH join sides — an un-persisted self-join
    // subtree recomputes the shingle-hash kernel per side (CLAUDE.md)
    Spread(docs.select(col("doc_id").cast("long"), col("content").cast("string")))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, c) => (id, SignatureKernel.shingleHashSet(if (c == null) "" else c, cfg)) }
      }
      .toDF("doc_id", "shingle_set")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** [[exactJaccardPairs]] over shingle sets from [[shingleSets]]. */
  def exactJaccardPairs(cands: DataFrame, sets: DataFrame): DataFrame = {
    val spark = sets.sparkSession
    import spark.implicits._
    val l = sets.select(col("doc_id").as("doc1"), col("shingle_set").as("set1"))
    val r = sets.select(col("doc_id").as("doc2"), col("shingle_set").as("set2"))
    // typed map (not a UDF): the sorted-merge intersection is a tight
    // primitive loop over two int arrays
    cands
      .join(l, "doc1")
      .join(r, "doc2")
      .select(col("doc1").cast("long"), col("doc2").cast("long"), col("set1"), col("set2"))
      .as[(Long, Long, Array[Int], Array[Int])]
      .mapPartitions(_.map { case (d1, d2, s1, s2) =>
        (d1, d2, SignatureKernel.exactJaccard(s1, s2))
      })
      .toDF("doc1", "doc2", "jaccard")
  }

  /** Full reference-equivalent run: docs(doc_id, content) -> sorted pairs
    * (doc1, doc2, similarity). Caches the signatures Dataset because it is
    * consumed twice (bucket join + similarity join). Cache lifetime is the
    * CALLER's: the returned frame is lazy, so run() cannot unpersist
    * without recomputing — Verify clears the cache between queries,
    * Bench/Main manage their own persistence explicitly.
    */
  def run(docs: DataFrame, cfg: MinHashConfig, starCapBucketSize: Option[Int] = None): DataFrame =
    runUnsorted(docs, cfg, starCapBucketSize).orderBy("doc1", "doc2")

  /** [[run]] without the trailing reference-CSV sort — for consumers whose
    * next operator discards row order (ConnectedComponents, dedup-survivor
    * joins). The orderBy is not merely a sort: its range partitioner runs a
    * SAMPLING pass that executes the whole pair subtree a second time
    * (round 8, plan ledger of q_minhash_clusters) — callers that feed a
    * clustering/join stage must never pay it. Same cache-lifetime contract
    * as [[run]].
    */
  def runUnsorted(docs: DataFrame, cfg: MinHashConfig,
                  starCapBucketSize: Option[Int] = None): DataFrame = {
    // NOT pre-partitioned on doc_id (unlike the gram/window kernels in
    // Dedup): signature rows carry the full signature arrays, so one extra
    // repartition of that payload costs more than the two join-side
    // shuffles it would save — measured 2.0 s vs 1.7 s on q_minhash_pairs
    val sigs = signatures(docs, cfg).toDF().cache()
    pairs(candidates(sigs, starCapBucketSize), sigs, cfg)
  }

  /** Distributed sink in the reference's CSV shape (O16): header
    * doc1,doc2,similarity; rows %d,%d,%.4f with HALF_EVEN rounding
    * (FIXTURES.md §5); sorted doc1,doc2. coalesce(1) mirrors the
    * reference's merge-to-one-file contract — pass singleFile = false for
    * a sharded write when the pair set is huge.
    */
  def writeReferenceCsv(pairsDF: DataFrame, path: String, cfg: MinHashConfig,
                        singleFile: Boolean = true): Unit = {
    val spark = pairsDF.sparkSession
    import spark.implicits._
    val formatted = pairsDF
      .select(col("doc1").cast("long"), col("doc2").cast("long"),
        col("similarity").cast("double"))
      .as[(Long, Long, Double)]
      .map { case (d1, d2, s) =>
        (d1 + cfg.docOffset, d2 + cfg.docOffset,
          BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_EVEN).toString)
      }
      .toDF("doc1", "doc2", "similarity")
      .orderBy("doc1", "doc2")
    (if (singleFile) formatted.coalesce(1) else formatted)
      .write.mode("overwrite").option("header", "true").csv(path)
  }

  /** Reference CSV formatting for golden comparison: ids with doc_offset,
    * similarity rounded half-even to 4 decimals (FIXTURES.md §5).
    */
  def goldenLines(pairsDF: DataFrame, cfg: MinHashConfig): Seq[String] = {
    pairsDF
      .orderBy("doc1", "doc2")
      .collect()
      .map { row =>
        val d1 = row.getLong(0) + cfg.docOffset
        val d2 = row.getLong(1) + cfg.docOffset
        val sim = BigDecimal(row.getDouble(2))
          .setScale(4, BigDecimal.RoundingMode.HALF_EVEN)
        s"$d1,$d2,${sim.toString()}"
      }
      .toSeq
  }
}
