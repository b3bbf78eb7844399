package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>): brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH-bucketed variant as the scale path.
  *
  * All dot products run through the codegen'd [[graft.functions.DotProductD]]
  * expression (sequential IEEE fold — bit-identical to an ordered-fold
  * oracle such as DuckDB's list_dot_product). The LSH sketch is a typed
  * mapPartitions kernel; hyperplanes are derived from the seed inside each
  * task, never plan literals.
  *
  * CACHE LIFETIME CONTRACT: lshTopK/embeddingNearDupPairs persist the
  * sketch (it feeds the candidate join sides AND the vector join-backs);
  * the CALLER releases it — unpersist after the terminal action or
  * spark.catalog.clearCache() between queries (see Dedup's contract note).
  */
object Similarity {

  // Codegen'd custom expression — Spark's higher-order aggregate/zip_with
  // lambdas evaluate interpreted (no doGenCode), ~50x slower per pair when
  // reranking millions of ANN candidates. Bit-identical results (same
  // ordered IEEE fold).
  private def dot(a: Column, b: Column): Column = graft.functions.VectorExprs.dotD(a, b)

  private def norm(a: Column): Column = sqrt(dot(a, a))

  // native array cast, NOT transform(c, _.cast("double")): higher-order
  // transform evaluates its lambda interpreted per element; Cast over
  // ArrayType is codegen'd and bit-identical (float→double widening)
  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Deterministic pseudo-random hyperplane matrix (nTables*bandBits × dim),
    * regenerated identically inside every task — NEVER a plan literal (a
    * 96×64 literal matrix is ~6k Catalyst nodes; every optimizer/AQE pass
    * re-walks it, measured minutes of driver CPU on a 500-row input).
    */
  private def planes(dim: Int, nPlanes: Int, seed: Long): Array[Array[Double]] =
    Array.tabulate(nPlanes) { i =>
      val rng = new java.util.Random(seed * 1000003L + i)
      Array.fill(dim)(rng.nextGaussian())
    }

  /** Per-vector bucket ids: bucket t folds the signs of hyperplanes
    * [t*bandBits, (t+1)*bandBits) into a bandBits-bit integer. Pure JVM
    * kernel, called from a typed map.
    */
  private[operators] def bucketsOf(vec: Array[Double], pl: Array[Array[Double]],
                                   nTables: Int, bandBits: Int): Array[Long] = {
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var acc = 0L
      var b = 0
      while (b < bandBits) {
        val p = pl(t * bandBits + b)
        var d = 0.0
        var i = 0
        while (i < vec.length) { d += vec(i) * p(i); i += 1 }
        acc = acc * 2 + (if (d >= 0) 1L else 0L)
        b += 1
      }
      out(t) = acc
      t += 1
    }
    out
  }

  /** Query-directed multiprobe buckets (Lv et al., "Multi-Probe LSH",
    * VLDB'07): per table, the base bucket PLUS the `nProbes` buckets
    * obtained by flipping the sign bits with the smallest |dot| margin —
    * the hyperplanes the vector sits closest to, i.e. the flips most likely
    * to recover a near neighbor hashed to the other side. nProbes=bandBits
    * degenerates to blind Hamming-distance-1 probing (all flips); smaller
    * nProbes cuts candidate volume ~(1+nProbes)/(1+bandBits) at nearly the
    * blind recall, because far-margin flips almost never rescue anything.
    *
    * Layout: flattened nTables × (1+nProbes), table-major, base first.
    */
  private[operators] def probesOf(vec: Array[Double], pl: Array[Array[Double]],
                                  nTables: Int, bandBits: Int, nProbes: Int): Array[Long] = {
    val perTable = 1 + nProbes
    val out = new Array[Long](nTables * perTable)
    val margins = new Array[Double](bandBits)
    val order = new Array[Int](bandBits)
    var t = 0
    while (t < nTables) {
      var acc = 0L
      var b = 0
      while (b < bandBits) {
        val p = pl(t * bandBits + b)
        var d = 0.0
        var i = 0
        while (i < vec.length) { d += vec(i) * p(i); i += 1 }
        acc = acc * 2 + (if (d >= 0) 1L else 0L)
        margins(b) = math.abs(d)
        order(b) = b
        b += 1
      }
      // selection sort of the nProbes smallest margins (bandBits <= ~16,
      // nProbes small — cheaper than boxing through sortBy)
      var s = 0
      while (s < nProbes && s < bandBits) {
        var m = s
        var j = s + 1
        while (j < bandBits) { if (margins(order(j)) < margins(order(m))) m = j; j += 1 }
        val tmp = order(s); order(s) = order(m); order(m) = tmp
        s += 1
      }
      out(t * perTable) = acc
      var k = 0
      while (k < nProbes) {
        // bit b of the fold sits at position bandBits-1-b (MSB-first fold)
        out(t * perTable + 1 + k) =
          if (k < bandBits) acc ^ (1L << (bandBits - 1 - order(k))) else acc
        k += 1
      }
      t += 1
    }
    out
  }

  /** Exact brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (excluding itself). Baseline and rerank primitive.
    *
    * Scale shape: the query batch is broadcast (small by definition); the
    * corpus side streams through a broadcast nested-loop scan — no shuffle
    * of the corpus; top-k via the map-side-combining [[TopKAgg]] (same
    * cosine-desc, nbr_id-asc tie-break the r4 Window formulation had —
    * swapped in r6 so ALL THREE ANN variants share the one top-k path and
    * PlanSpec's no-Window assertion covers them uniformly; the Window's
    * all-rows sort per query partition was the last ANN sort at scale).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).cast("long").as("nbr_id"), asDouble(col(vecCol)).as("nbr_vec"))
    val q = queries.select(col(idCol).cast("long").as("query_id"), asDouble(col(vecCol)).as("q_vec"))
    val scored = c
      .join(broadcast(q), col("query_id") =!= col("nbr_id"))
      .withColumn(
        "cosine",
        dot(col("q_vec"), col("nbr_vec")) / (norm(col("q_vec")) * norm(col("nbr_vec")))
      )
    topKPerQuery(scored, k)
  }

  /** PERSISTED (vid, vec, buckets) sketch table: the kernel output feeds the
    * two candidate-join sides AND the vector join-backs — un-persisted, the
    * hyperplane kernel would re-run once per consumer (CLAUDE.md sharp
    * edge). The sketch runs as a narrow typed map (hyperplanes rebuilt per
    * task from the seed — cheaper than broadcasting for these sizes).
    */
  private def sketchRows(corpus: DataFrame, dim: Int, nTables: Int, bandBits: Int,
                         seed: Long, idCol: String, vecCol: String,
                         nProbes: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    Spread(corpus.select(col(idCol).cast("long").as("vid"), asDouble(col(vecCol)).as("vec")))
      .as[(Long, Array[Double])]
      .mapPartitions { it =>
        val pl = planes(dim, nTables * bandBits, seed)
        val perTable = 1 + nProbes
        it.map { case (vid, vec) =>
          // norm hoisted to the sketch: the rerank divides by it once per
          // CANDIDATE row — recomputing dot(v,v) there would triple the
          // rerank flops (same IEEE result either way: one deterministic
          // dot per vector, multiplied per row)
          var nrm = 0.0
          var i = 0
          while (i < vec.length) { nrm += vec(i) * vec(i); i += 1 }
          if (nProbes > 0) {
            // base buckets are the probes' table-major base entries — one
            // kernel pass computes both (bucketsOf would redo every dot)
            val probes = probesOf(vec, pl, nTables, bandBits, nProbes)
            val buckets = Array.tabulate(nTables)(t => probes(t * perTable))
            (vid, vec, math.sqrt(nrm), buckets, probes)
          } else
            (vid, vec, math.sqrt(nrm), bucketsOf(vec, pl, nTables, bandBits),
              Array.empty[Long])
        }
      }
      .toDF("vid", "vec", "vnorm", "buckets", "probes")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Bounded top-k typed aggregator over scored (query_id, nbr_id, cosine)
    * rows: keeps the k best (cosine desc, nbr_id asc — the same
    * deterministic tie-break as the window variant) per query with
    * MAP-SIDE PARTIAL AGGREGATION. Replaces row_number().over(Window) for
    * the ANN rerank: a window shuffles and SORTS every scored candidate row
    * (O(candidates log candidates) per query partition); this shuffles at
    * most k rows per query per map partition and never global-sorts —
    * the shape that survives 10^9 vectors × thousands of candidates each.
    */
  private final class TopKAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Long, Double), Seq[(Long, Double)], Seq[(Long, Double)]] {
    // TOTAL order via Double.compare (NaN sorts largest, matching the
    // replaced Window's cosine-desc semantics — a zero-norm vector's NaN
    // cosine ranks first deterministically instead of floating on
    // arrival/merge order, which `>` would allow since NaN compares false
    // both ways), ties by nbr_id asc.
    private def better(a: (Long, Double), b: (Long, Double)): Boolean = {
      val c = java.lang.Double.compare(a._2, b._2)
      c > 0 || (c == 0 && a._1 < b._1)
    }
    // DEDUP-AWARE: a candidate (query, nbr) reached through several LSH
    // tables/probes arrives several times with an IDENTICAL cosine (the
    // score is a pure function of the pair), so skipping an nbr already in
    // the <=k buffer is exact — which lets lshTopK drop the whole
    // candidate-distinct shuffle and dedup inside the partial agg instead
    private def insert(buf: Seq[(Long, Double)], e: (Long, Double)): Seq[(Long, Double)] = {
      if (buf.length >= k && better(buf.last, e)) buf
      else if (buf.exists(_._1 == e._1)) buf
      else {
        val (pre, post) = buf.span(better(_, e))
        (pre ++ (e +: post)).take(k)
      }
    }
    def zero: Seq[(Long, Double)] = Seq.empty
    def reduce(buf: Seq[(Long, Double)], row: (Long, Long, Double)): Seq[(Long, Double)] =
      // + 0.0 canonicalizes IEEE negative zero: Double.compare(-0.0, 0.0)
      // is -1 but Spark's sort keys treat them as equal — without this a
      // last-slot tie between a +0.0 and a -0.0 cosine would resolve
      // differently here than in the window/brute-force formulations
      insert(buf, (row._2, row._3 + 0.0))
    def merge(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Seq[(Long, Double)] =
      b.foldLeft(a)(insert)
    def finish(buf: Seq[(Long, Double)]): Seq[(Long, Double)] = buf
    def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Long, Double)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Per-query top-k of scored candidates via [[TopKAgg]] (partial-agg
    * shape), emitting the same (query_id, rank, nbr_id, cosine) rows and
    * ordering contract as the window formulation it replaces. Wrapped with
    * functions.udaf rather than Dataset.groupByKey: the untyped groupBy
    * avoids the AppendColumns + object-deserialization pass over every
    * scored row that the typed KeyValueGroupedDataset route inserts.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val agg = udaf(new TopKAgg(k),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(Long, Long, Double)]())
    scored
      .groupBy("query_id")
      .agg(agg(col("query_id"), col("nbr_id"), col("cosine")).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "e")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("e._1").as("nbr_id"), col("e._2").as("cosine"))
  }

  /** ids-only (vid, table_idx, bucket) LSH bucket rows off the sketch. */
  private def bucketIds(sketch: DataFrame): DataFrame =
    sketch.select(col("vid"), posexplode(col("buckets")).as(Seq("table_idx", "bucket")))

  /** Multiprobe PROBE-side rows off the kernel-computed directed probes
    * (see [[probesOf]]): one row per (table, probe bucket); the table index
    * is recovered from the table-major layout.
    */
  private def probeIds(sketch: DataFrame, nProbes: Int): DataFrame = {
    val perTable = 1 + nProbes
    sketch
      .select(col("vid"), posexplode(col("probes")).as(Seq("pos", "bucket")))
      .select(col("vid"),
        floor(col("pos") / lit(perTable)).cast("int").as("table_idx"),
        col("bucket"))
  }

  /** Candidate-id frame off a sketch: probe side × bucket side equi-join on
    * (table_idx, bucket), ids only. `lt` selects the symmetric pair form
    * (vid < vid, near-dup) vs the directed form (vid ≠ vid, top-k). Shared
    * by lshTopK / embeddingNearDupPairs AND the committed candidate queries
    * (q_ann_lsh_cands / q_embed_cands) so the DuckDB replay oracle verifies
    * EXACTLY the candidate relation the rerank consumed. NOT distinct —
    * top-k dedups inside TopKAgg; callers needing the set add .distinct().
    */
  private def candIdsOf(sketch: DataFrame, useProbes: Boolean, nProbes: Int,
                        lt: Boolean, nameA: String, nameB: String,
                        probeSketch: Option[DataFrame] = None): DataFrame = {
    // probeSketch (serving regime): the probe side comes from a QUERY
    // batch's sketch while the bucket side stays the corpus index —
    // same planes (seeded), so a query that also lives in the corpus
    // probes identically to its self-ANN run
    val probeSrc = probeSketch.getOrElse(sketch)
    val a = (if (useProbes) probeIds(probeSrc, nProbes) else bucketIds(probeSrc)).alias("a")
    val b = bucketIds(sketch).alias("b")
    a.join(
        b,
        col("a.table_idx") === col("b.table_idx") &&
          col("a.bucket") === col("b.bucket") &&
          (if (lt) col("a.vid") < col("b.vid") else col("a.vid") =!= col("b.vid"))
      )
      .select(col("a.vid").as(nameA), col("b.vid").as(nameB))
  }

  /** The hyperplane sketch as a committable frame (vid, vnorm, buckets,
    * probes) — the ANN analog of q_minhash_signatures' committed signature
    * arrays: vnorm is DuckDB-recomputable from the embeddings table (same
    * ordered IEEE fold as list_dot_product), buckets/probes are
    * gaussian-bound echoes whose TEETH come from the downstream
    * candidate-replay oracles. Deterministic in (seed, dim, nTables,
    * bandBits, nProbes), partition-invariant.
    */
  def lshSketchFrame(corpus: DataFrame, dim: Int, nTables: Int = 24, bandBits: Int = 8,
                     seed: Long = 42L, multiProbe: Boolean = true, nProbes: Int = 4,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probeFan = if (multiProbe && nProbes > 0) nProbes else 0
    sketchRows(corpus, dim, nTables, bandBits, seed, idCol, vecCol, probeFan)
      .select("vid", "vnorm", "buckets", "probes")
  }

  /** The DISTINCT directed candidate set lshTopK reranks, ids only —
    * committable so the rerank tail is DuckDB-replayable (q_ann_lsh's
    * oracle recomputes cosine top-k over exactly these pairs).
    */
  def lshCandidateIds(corpus: DataFrame, dim: Int, nTables: Int = 24, bandBits: Int = 8,
                      seed: Long = 42L, multiProbe: Boolean = true, nProbes: Int = 4,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val useProbes = multiProbe && nProbes > 0
    val probeFan = if (useProbes) nProbes else 0
    val sketch = sketchRows(corpus, dim, nTables, bandBits, seed, idCol, vecCol, probeFan)
    candIdsOf(sketch, useProbes, nProbes, lt = false, "query_id", "nbr_id").distinct()
  }

  /** The DISTINCT symmetric (doc1 < doc2) candidate set
    * embeddingNearDupPairs thresholds — same commit-for-replay purpose.
    */
  def embedNearDupCandidateIds(corpus: DataFrame, dim: Int, nTables: Int = 12,
                               bandBits: Int = 8, seed: Long = 42L,
                               multiProbe: Boolean = true, nProbes: Int = 8,
                               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val useProbes = multiProbe && nProbes > 0
    val probeFan = if (useProbes) nProbes else 0
    val sketch = sketchRows(corpus, dim, nTables, bandBits, seed, idCol, vecCol, probeFan)
    candIdsOf(sketch, useProbes, nProbes, lt = true, "doc1", "doc2").distinct()
  }

  /** LSH-bucketed ANN: candidates = vectors sharing at least one of
    * `nTables` hyperplane-sketch buckets (bandBits bits each), then exact
    * cosine rerank and per-query top-k. Recall tunes with nTables/bandBits;
    * the shuffle is an equi-join on (table_idx, bucket) — never a cross
    * join, so it survives a 10^9-vector corpus.
    *
    * Defaults tuned by sweep (`graft.tools.Probe recall`, sf0.001/sf0.1
    * recall@5 vs brute force): DIRECTED multiprobe (24, 8, T=4
    * lowest-margin flips) = 0.860/0.900 recall — above both the r2 blind
    * default (16,8,T=8): 0.847/0.893 and the probe-free (24,5): 0.867/0.904
    * — at the LOWEST candidate volume of the three (nTables × (1+nProbes) ×
    * n / 2^bandBits = 0.47n per vector vs 0.56n / 0.75n). See [[probesOf]]
    * and BENCHMARKS.md. At larger corpus scale raise bandBits and nTables
    * together.
    */
  def lshTopK(corpus: DataFrame, k: Int, dim: Int, nTables: Int = 24, bandBits: Int = 8,
              seed: Long = 42L, multiProbe: Boolean = true, nProbes: Int = 4,
              queries: Option[DataFrame] = None,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // SERVING-REGIME PRECONDITION (applies to lshTopK/ivfTopK/pqTopK alike):
    // a `queries` batch SHARES the corpus id space — same id must mean same
    // vector. The query_id =!= nbr_id self-exclusion otherwise silently
    // drops the unrelated corpus vector that happens to carry a query's id.
    // multiProbe with nProbes=0 degrades to plain bucket probing (NOT an
    // empty probe list, which would posexplode to zero probe rows and
    // silently return no neighbors at all)
    val useProbes = multiProbe && nProbes > 0
    val probeFan = if (useProbes) nProbes else 0
    val sketch = sketchRows(corpus, dim, nTables, bandBits, seed, idCol, vecCol, probeFan)
    // serving regime (as ivfTopK/pqTopK): the query batch sketches with
    // the SAME seeded planes, so a served query probes identically to
    // its self-ANN run; the corpus index is untouched by the batch
    val qsketch = queries.map(q =>
      sketchRows(q, dim, nTables, bandBits, seed, idCol, vecCol, probeFan))
    topKOverSketch(sketch, k, useProbes, nProbes, qsketch)
  }

  /** The query half of LSH top-k over an ALREADY-BUILT sketch frame
    * (vid, vec, vnorm, buckets, probes) — either the freshly persisted
    * kernel output ([[lshTopK]]) or a committed index table read back from
    * parquet ([[lshIndexedTopK]]); identical plan and results either way.
    */
  private def topKOverSketch(sketch: DataFrame, k: Int,
                             useProbes: Boolean, nProbes: Int,
                             querySketch: Option[DataFrame] = None): DataFrame = {
    // candidate pairs carry IDS ONLY through the bucket join —
    // shuffling the vector payloads through dropDuplicates costs ~1000x the
    // bytes (measured 108 s -> ~2 s on 2k vectors / 1M candidate rows).
    // Vectors join back once per side afterwards, off the sketch.
    // NO distinct: a pair hit through several tables/probes flows
    // through the (broadcast) vector join-backs more than once, and the
    // dedup-aware TopKAgg drops the duplicates inside the map-side partial
    // aggregation — measured cheaper than a dedicated distinct shuffle of
    // the full candidate volume. (At corpus sizes where the vector
    // join-back itself must shuffle, re-introduce an ids-only distinct
    // first — the trade flips when candidate payload bytes dominate.)
    val candIds = candIdsOf(sketch, useProbes, nProbes, lt = false, "query_id", "nbr_id",
      probeSketch = querySketch)
    val vecs = sketch.select(col("vid"), col("vec"), col("vnorm"))
    val qvecs = querySketch.map(_.select(col("vid"), col("vec"), col("vnorm")))
      .getOrElse(vecs)
    val scored = candIds
      .join(qvecs.select(col("vid").as("query_id"), col("vec").as("q_vec"),
        col("vnorm").as("q_norm")), "query_id")
      .join(vecs.select(col("vid").as("nbr_id"), col("vec").as("nbr_vec"),
        col("vnorm").as("nbr_norm")), "nbr_id")
      .withColumn(
        "cosine",
        dot(col("q_vec"), col("nbr_vec")) / (col("q_norm") * col("nbr_norm"))
      )
    topKPerQuery(scored, k)
  }

  /** PERSISTENT LSH index (build-once / query-many — r6 verdict #7): the
    * sketch kernel's output is committed as a StageStore stage table under
    * `workDir` (tag = corpus fingerprint + the full sketch config, exactly
    * the CleanPipeline protocol), and every later call with the same
    * corpus + config RESUMES the committed table instead of re-running the
    * kernel — at 100 TB the index builds once, and each query batch costs
    * only the candidate join + rerank over the parquet-backed index.
    * Returns (top-k frame, stage log): `log.skipped` containing
    * "lsh_sketch" is the reuse proof (and `store._metrics` records no new
    * kernel lineage row on a resumed run). Results are bit-identical to
    * [[lshTopK]] — vec/vnorm/buckets/probes all round-trip parquet
    * exactly, and the query half is the shared [[topKOverSketch]].
    */
  def lshIndexedTopK(corpus: DataFrame, k: Int, dim: Int, workDir: String,
                     nTables: Int = 24, bandBits: Int = 8, seed: Long = 42L,
                     multiProbe: Boolean = true, nProbes: Int = 4,
                     idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, graft.plans.CheckpointedPipeline.StageLog) = {
    val spark = corpus.sparkSession
    val store = new graft.plans.StageStore(spark, workDir)
    val log = new graft.plans.CheckpointedPipeline.StageLog
    val useProbes = multiProbe && nProbes > 0
    val probeFan = if (useProbes) nProbes else 0
    val fp = graft.plans.StageStore.fingerprint(spark,
      corpus.select(col(idCol), col(vecCol)))
    val config = s"lsh;dim=$dim;t=$nTables;b=$bandBits;seed=$seed;p=$probeFan"
    // sketchRows persists its output for the multi-consumer FRESH-build
    // case; here the committed parquet replaces the cache, so release it
    // right after the stage write (a resumed run never builds it at all)
    var built: Option[DataFrame] = None
    val sketch = store.stage("lsh_sketch", fp, config, log) {
      val s = sketchRows(corpus, dim, nTables, bandBits, seed, idCol, vecCol, probeFan)
      built = Some(s)
      s
    }
    built.foreach { s => s.unpersist(); () }
    (topKOverSketch(sketch, k, useProbes, nProbes), log)
  }

  /** PERSISTENT IVF index: two StageStore tables — `ivf_centroids`
    * (centroid_id, centroid; tag excludes nProbe so a probe-width change
    * never re-runs Lloyd) and `ivf_cells` (vid, vec, probes; probes[0] is
    * the list assignment). A resumed run reads both tables and skips the
    * sample collect + Lloyd refinement entirely; a stale cells table
    * recomputes from the COMMITTED centroids (bounded nCentroids-row
    * collect), not from a fresh Lloyd. Results match [[ivfTopK]]: same
    * nearestCentroidsOf ranking, same cosine rerank, same tie-breaks.
    */
  def ivfIndexedTopK(corpus: DataFrame, k: Int, workDir: String,
                     nCentroids: Int = 16, nProbe: Int = 4, lloydIters: Int = 2,
                     idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, graft.plans.CheckpointedPipeline.StageLog) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val store = new graft.plans.StageStore(spark, workDir)
    val log = new graft.plans.CheckpointedPipeline.StageLog
    val fp = graft.plans.StageStore.fingerprint(spark,
      corpus.select(col(idCol), col(vecCol)))
    val centroidCfg = s"ivf;c=$nCentroids;lloyd=$lloydIters"
    val centroidsDf = store.stage("ivf_centroids", fp, centroidCfg, log) {
      ivfCentroidsFrame(corpus, nCentroids, lloydIters, idCol, vecCol)
    }
    val cellsDf = store.stage("ivf_cells", fp, centroidCfg + s";probe=$nProbe", log) {
      // centroids from the COMMITTED table (never a second Lloyd):
      // bounded collect, nCentroids rows by design
      val cs: Array[Array[Double]] = centroidsDf.orderBy("centroid_id")
        .select("centroid").as[Array[Double]].collect()
      Spread(corpus.select(col(idCol).cast("long").as("vid"),
          asDouble(col(vecCol)).as("vec")))
        .as[(Long, Array[Double])]
        .mapPartitions(_.map { case (vid, v) =>
          (vid, v, nearestCentroidsOf(v, cs, nProbe))
        })
        .toDF("vid", "vec", "probes")
    }
    val assigned = cellsDf.select(col("vid").as("nbr_id"), col("vec").as("nbr_vec"),
      element_at(col("probes"), 1).as("centroid_id"))
    val probes = cellsDf.select(col("vid").as("query_id"), col("vec").as("q_vec"),
      explode(col("probes")).as("centroid_id"))
    val scored = probes
      .join(assigned, "centroid_id")
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn(
        "cosine",
        dot(col("q_vec"), col("nbr_vec")) / (norm(col("q_vec")) * norm(col("nbr_vec")))
      )
    (topKPerQuery(scored, k), log)
  }

  /** PERSISTENT PQ/IVFADC index: FOUR StageStore tables — the
    * `ivf_centroids` / `ivf_cells` pair with tags IDENTICAL to
    * [[ivfIndexedTopK]]'s (the two index families SHARE the committed
    * coarse quantizer in one workDir: a PQ build over an existing IVF
    * index computes only the PQ stages), plus `pq_books`
    * (sub_idx, code_id, codeword; tag = corpus fingerprint + PQ config)
    * and `pq_codes` (vid, centroid_id, codes — the codes stage encodes
    * from the COMMITTED books against the COMMITTED cells' vectors, never
    * a second training or corpus scan). A resumed run skips sample
    * collect, Lloyd, book training and encoding entirely; results match
    * [[pqTopK]] bit-exactly (same kernels over the same committed
    * doubles).
    */
  def pqIndexedTopK(corpus: DataFrame, k: Int, workDir: String,
                    m: Int = 8, ksub: Int = 16, shortlist: Int = 128,
                    nCentroids: Int = 16, nProbe: Int = 12, lloydIters: Int = 2,
                    idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, graft.plans.CheckpointedPipeline.StageLog) = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val store = new graft.plans.StageStore(spark, workDir)
    val log = new graft.plans.CheckpointedPipeline.StageLog
    val fp = graft.plans.StageStore.fingerprint(spark,
      corpus.select(col(idCol), col(vecCol)))
    val centroidCfg = s"ivf;c=$nCentroids;lloyd=$lloydIters"
    val centroidsDf = store.stage("ivf_centroids", fp, centroidCfg, log) {
      ivfCentroidsFrame(corpus, nCentroids, lloydIters, idCol, vecCol)
    }
    val cellsDf = store.stage("ivf_cells", fp, centroidCfg + s";probe=$nProbe", log) {
      val cs: Array[Array[Double]] = centroidsDf.orderBy("centroid_id")
        .select("centroid").as[Array[Double]].collect()
      Spread(corpus.select(col(idCol).cast("long").as("vid"),
          asDouble(col(vecCol)).as("vec")))
        .as[(Long, Array[Double])]
        .mapPartitions(_.map { case (vid, v) =>
          (vid, v, nearestCentroidsOf(v, cs, nProbe))
        })
        .toDF("vid", "vec", "probes")
    }
    val bookCfg = s"pq;m=$m;k=$ksub;lloyd=$lloydIters;c=$nCentroids"
    val booksDf = store.stage("pq_books", fp, bookCfg, log) {
      pqBooksFrame(corpus, m, ksub, lloydIters, nCentroids, idCol, vecCol)
    }
    // bounded collect: m × ksub rows by design
    def collectBooks(): Array[Array[Array[Double]]] = {
      val rows = booksDf.select(col("sub_idx"), col("code_id"), col("codeword"))
        .as[(Int, Int, Array[Double])].collect()
      val byKey = rows.map { case (s, c, cw) => ((s, c), cw) }.toMap
      Array.tabulate(m, ksub)((s, c) => byKey((s, c)))
    }
    // tag excludes nProbe: codes depend only on (vec, books) and the
    // assignment probes[1] (identical for any nProbe >= 1) — a probe-width
    // change re-derives the cells but never re-encodes
    // collected ONCE and shared by the encoder closure and the ADC
    // broadcast (ADVICE r7: a fresh build used to collect + re-assemble the
    // books table twice); lazy so a resumed run (pq_codes stage skipped)
    // still collects only when the broadcast needs it
    lazy val books = collectBooks()
    val codesDf = store.stage("pq_codes", fp, bookCfg, log) {
      val bks = books
      cellsDf.select(col("vid"), element_at(col("probes"), 1).as("centroid_id"),
          col("vec"))
        .as[(Long, Int, Array[Double])]
        .mapPartitions(_.map { case (vid, c, v) => (vid, c, pqEncode(v, bks)) })
        .toDF("vid", "centroid_id", "codes")
    }
    val booksBc = spark.sparkContext.broadcast(books)
    val probes = cellsDf.select(col("vid").as("query_id"), col("vec").as("q_vec"),
      explode(col("probes")).as("centroid_id"))
    val nbr = codesDf.select(col("vid").as("nbr_id"), col("centroid_id"), col("codes"))
    val adcScored = probes.join(nbr, "centroid_id")
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("q_vec"), col("nbr_id"), col("codes"))
      .as[(Long, Array[Double], Long, Array[Int])]
      .mapPartitions { it =>
        val bks = booksBc.value
        it.map { case (q, qv, n, cs) => (q, n, adcScore(qv, cs, bks)) }
      }
      .toDF("query_id", "nbr_id", "cosine")
    val short = topKPerQuery(adcScored, shortlist)
      .select(col("query_id"), col("nbr_id"))
    val qv = cellsDf.select(col("vid").as("query_id"), col("vec").as("q_vec"))
    val nv = cellsDf.select(col("vid").as("nbr_id"), col("vec").as("nbr_vec"))
    val exact = short.join(qv, "query_id").join(nv, "nbr_id")
      .withColumn("cosine",
        dot(col("q_vec"), col("nbr_vec")) / (norm(col("q_vec")) * norm(col("nbr_vec"))))
      .select(col("query_id"), col("nbr_id"), col("cosine"))
    (topKPerQuery(exact, k), log)
  }

  /** IVF (inverted-file) ANN: a coarse quantizer of `nCentroids`
    * deterministic centroids (unit-normalized sample of the corpus, chosen
    * by hash order so the "index build" is one tiny collect, then refined
    * by `lloydIters` k-means passes); every vector is assigned to its
    * nearest centroid list; a query probes its `nProbe` nearest centroids
    * and reranks exactly within those lists.
    *
    * Scale shape: centroids are a driver-side array baked into the task
    * closures (they are small BY DESIGN — sqrt(n)-ish); the only shuffle is
    * the equi-join on centroid_id. The Lloyd passes run DRIVER-SIDE over a
    * deterministic hash-ordered sample (one bounded collect, max(2048,
    * 64·nCentroids) vectors): a distributed floating-point partial-sum
    * pass would make the refined centroids — and therefore which k rows
    * each query emits — depend on partition layout and core count,
    * breaking the engine's partition-count-invariance (O18) contract.
    * Sample-seeded refinement is the standard index-build trade (cf.
    * k-means|| initialization); refinement matters: hash-sampled seeds
    * give badly unbalanced lists (measured recall@5 0.73 at nProbe 8/16);
    * Lloyd-balanced lists measure 0.886 at nProbe 10 (`Probe recall`,
    * BENCHMARKS.md). Complements the hyperplane-LSH variant: IVF adapts to
    * the data distribution (clustered embeddings), LSH is
    * distribution-free.
    */
  /** Cache contract: the internal typed base frame stays persisted (it
    * feeds both the assignment and the probe side below) — the CALLER
    * releases it (clearCache between Verify queries; long-lived sessions
    * should prefer the committable frames + their own lifecycle).
    *
    * `queries = None` (default) is the self-ANN regime: every corpus
    * vector queries the index (the committed q_ann_ivf shape).
    * `queries = Some(df)` is the SERVING regime: only the given
    * (idCol, vecCol) batch probes the index — the index side (sample,
    * Lloyd, assignment) is built from the CORPUS alone, so a query
    * batch never changes the index, and a query whose id also lives in
    * the corpus gets exactly its self-ANN rows (same probes, same
    * exclusion, same tie-breaks).
    */
  def ivfTopK(corpus: DataFrame, k: Int, nCentroids: Int = 16, nProbe: Int = 4,
              lloydIters: Int = 2, queries: Option[DataFrame] = None,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (base, centroids) = ivfIndex(corpus, nCentroids, lloydIters, idCol, vecCol)
    val qbase = queries.map(q => vecBase(q, idCol, vecCol)).getOrElse(base)

    val assigned = base
      .mapPartitions(_.map { case (vid, v) => (vid, v, nearestCentroidsOf(v, centroids, 1)(0)) })
      .toDF("nbr_id", "nbr_vec", "centroid_id")
    val probes = qbase
      .mapPartitions(_.flatMap { case (vid, v) =>
        nearestCentroidsOf(v, centroids, nProbe).iterator.map(c => (vid, v, c))
      })
      .toDF("query_id", "q_vec", "centroid_id")
    val scored = probes
      .join(assigned, "centroid_id")
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn(
        "cosine",
        dot(col("q_vec"), col("nbr_vec")) / (norm(col("q_vec")) * norm(col("nbr_vec")))
      )
    // Rerank through TopKAgg (map-side partial top-k), not a Window: IVF at
    // production scale probes nProbe lists × corpus fraction — the same
    // candidate-volume regime where lshTopK replaced row_number().over(...)
    // because the window shuffles AND SORTS every scored row per query
    // partition. Identical output contract (cosine desc, nbr_id asc
    // tie-break); the agg's dedup guard is a no-op here since each nbr
    // lives in exactly one centroid list.
    topKPerQuery(scored, k)
  }

  /** Per-vector probe ranking against a centroid array: centroid indices by
    * (cosine desc, index asc). Static so ivfTopK and the committable
    * cells/centroids frames share one ranking definition — and so the
    * DuckDB replay oracle (rank centroids by dot/|v| with row_number) is
    * verifying THE function the query used. Zero-norm vectors score 0.0
    * against every centroid (tie-broken by index).
    */
  private[operators] def nearestCentroidsOf(v: Array[Double],
                                            centroids: Array[Array[Double]],
                                            m: Int): Array[Int] = {
    val nv = math.sqrt(v.map(x => x * x).sum)
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      var d = 0.0
      var j = 0
      while (j < v.length) { d += v(j) * c(j); j += 1 }
      (if (nv == 0) 0.0 else d / nv, i)
    }
    scored.sortBy { case (s, i) => (-s, i) }.take(m).map(_._2)
  }

  /** Typed, Spread, PERSISTED (vid, vec) base frame — the shared input of
    * the IVF and PQ index builders. Caller owns the persist (consumed by
    * the index-build sample collect plus the assignment/probe/encode/
    * rerank passes — un-persisted, the scan+cast would re-run per
    * consumer).
    */
  private def vecBase(corpus: DataFrame, idCol: String, vecCol: String):
      org.apache.spark.sql.Dataset[(Long, Array[Double])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    Spread(
      corpus.select(col(idCol).cast("long").as("vid"), asDouble(col(vecCol)).as("vec")))
      .as[(Long, Array[Double])]
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Deterministic index-build sample: smallest ids by (id-hash, id) —
    * the TOTAL order (hash ties broken by vid) fixes both membership and
    * iteration order, so the FP summations in the trainers are
    * bit-reproducible across partition layouts and core counts. One
    * bounded collect, shared by the IVF centroid and PQ codebook trainers
    * (pqTopK trains both from ONE collect).
    */
  private def deterministicSample(base: org.apache.spark.sql.Dataset[(Long, Array[Double])],
                                  sampleSize: Int): Array[Array[Double]] = {
    val spark = base.sparkSession
    import spark.implicits._
    val sample: Array[Array[Double]] = base
      .map { case (vid, v) =>
        (graft.core.Murmur2.hashString(vid.toString, 7) & 0xffffffffL, vid, v)
      }
      .toDF("h", "vid", "v").orderBy("h", "vid").limit(sampleSize)
      .select("v").as[Array[Double]].collect()
    require(sample.nonEmpty, "ann index build: empty corpus")
    sample
  }

  private def unitVec(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0) v else v.map(_ / n)
  }

  /** Driver-side spherical-Lloyd centroid refinement over the
    * deterministic sample (see [[ivfTopK]]'s scale notes for why
    * refinement is driver-side): assign to the max-dot centroid
    * (centroids are unit vectors, so argmax dot == argmax cosine),
    * new centroid = normalized mean; empty lists keep their seed. The
    * first nCentroids sample vectors double as the seeds.
    */
  private def trainCentroids(sample: Array[Array[Double]], nCentroids: Int,
                             lloydIters: Int): Array[Array[Double]] = {
    val seeds = sample.take(nCentroids).map(unitVec)
    def refine(cs: Array[Array[Double]]): Array[Array[Double]] = {
      val dim = cs(0).length
      val sums = Array.fill(cs.length)(new Array[Double](dim))
      val counts = new Array[Long](cs.length)
      sample.foreach { v =>
        var best = 0; var bestS = Double.NegativeInfinity
        var c = 0
        while (c < cs.length) {
          var d = 0.0; var i = 0
          while (i < v.length) { d += v(i) * cs(c)(i); i += 1 }
          if (d > bestS) { bestS = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      Array.tabulate(cs.length) { c =>
        if (counts(c) == 0) cs(c) else unitVec(sums(c).map(_ / counts(c)))
      }
    }
    (0 until math.max(0, lloydIters)).foldLeft(seeds)((cs, _) => refine(cs))
  }

  /** Shared IVF index build: the persisted typed base frame plus the
    * deterministic driver-side centroids (hash-ordered sample collect +
    * `lloydIters` spherical-Lloyd passes). Caller owns the base persist.
    */
  private def ivfIndex(corpus: DataFrame, nCentroids: Int, lloydIters: Int,
                       idCol: String, vecCol: String):
      (org.apache.spark.sql.Dataset[(Long, Array[Double])], Array[Array[Double]]) = {
    val base = vecBase(corpus, idCol, vecCol)
    val sample = deterministicSample(base, math.max(2048, 64 * nCentroids))
    (base, trainCentroids(sample, nCentroids, lloydIters))
  }

  /** The refined IVF centroids as a committable frame (centroid_id,
    * centroid) — lloyd-bound (driver-side FP refinement is not
    * SQL-replayable), committed so q_ann_ivf_cells' probe-ranking oracle
    * has the centroid VALUES to rank against; the echo itself is
    * rows-only, exactly like the murmur-bound signature column.
    */
  def ivfCentroidsFrame(corpus: DataFrame, nCentroids: Int = 16, lloydIters: Int = 2,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (base, centroids) = ivfIndex(corpus, nCentroids, lloydIters, idCol, vecCol)
    base.unpersist()
    centroids.zipWithIndex.map { case (c, i) => (i, c) }.toSeq
      .toDF("centroid_id", "centroid")
  }

  /** Per-vector probe ranking as a committable frame (vid, probes):
    * probes = the vector's nProbe nearest centroid ids, best first;
    * probes[0] doubles as the vector's LIST ASSIGNMENT (nearest centroid),
    * so this one table determines the entire IVF candidate relation —
    * q_ann_ivf's oracle re-derives candidates (probe × assignment join) and
    * the cosine rerank from it, and this frame's own oracle re-ranks the
    * committed centroids against the embeddings table in DuckDB.
    */
  def ivfCellsFrame(corpus: DataFrame, nCentroids: Int = 16, nProbe: Int = 4,
                    lloydIters: Int = 2,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val (base, centroids) = ivfIndex(corpus, nCentroids, lloydIters, idCol, vecCol)
    // the index-build sample collect (base's only multi-consumer use) has
    // already run inside ivfIndex; the single downstream pass below can
    // recompute the scan+cast, so release the cache NOW instead of leaking
    // it until a session-wide clearCache (ADVICE r6) — ivfCentroidsFrame
    // does the same
    base.unpersist()
    base
      .mapPartitions(_.map { case (vid, v) =>
        (vid, nearestCentroidsOf(v, centroids, nProbe))
      })
      .toDF("vid", "probes")
  }

  // ------------- Product quantization (ADC over IVF candidates) -------------

  /** PQ codebooks: `m` subspaces × `ksub` codewords each, trained
    * driver-side on the deterministic index sample (Lloyd per subspace
    * over unit-normalized vectors — ADC approximates the COSINE the exact
    * rerank uses only when codes quantize unit vectors). Training, like
    * the IVF centroid refinement, is Lloyd-bound: the codeword VALUES are
    * pinned by the digest/shape oracle (q_ann_pq_books) while everything
    * DOWNSTREAM of the books — encoding, ADC, rerank — is replayed
    * value-exactly in DuckDB from the committed artifacts.
    */
  private[operators] def trainBooks(sample: Array[Array[Double]], m: Int,
                                    ksub: Int, lloydIters: Int): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "pq: empty sample")
    val dim = sample(0).length
    require(m > 0 && dim % m == 0, s"pq: dim $dim not divisible by m $m")
    val dsub = dim / m
    val su = sample.map(unitVec)
    Array.tabulate(m) { s =>
      val subs = su.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      // seeds cycle through the sample's subvectors; empty cells keep
      // their seed, exactly the centroid trainer's rule
      val seeds = Array.tabulate(ksub)(c => subs(c % subs.length).clone())
      def refine(books: Array[Array[Double]]): Array[Array[Double]] = {
        val sums = Array.fill(ksub)(new Array[Double](dsub))
        val counts = new Array[Long](ksub)
        subs.foreach { x =>
          var best = 0; var bestD = Double.PositiveInfinity
          var c = 0
          while (c < ksub) {
            var d = 0.0; var j = 0
            while (j < dsub) { val t = x(j) - books(c)(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var j = 0
          while (j < dsub) { sums(best)(j) += x(j); j += 1 }
          counts(best) += 1
        }
        Array.tabulate(ksub) { c =>
          if (counts(c) == 0) books(c) else sums(c).map(_ / counts(c))
        }
      }
      (0 until math.max(0, lloydIters)).foldLeft(seeds)((bs, _) => refine(bs))
    }
  }

  /** PQ encoding of one vector: per subspace, the codeword minimizing the
    * squared L2 distance to the UNIT-normalized subvector, ranked by the
    * monotone-equivalent score `-2·dot(raw_slice, cw)/|v| + dot(cw, cw)`
    * computed EXACTLY as the DuckDB replay does (dot first, ONE division,
    * left-to-right) so FP ranking ties agree across engines; ties -> min
    * code id (strict `<` here, `ORDER BY score, code_id` there).
    * Zero-norm vectors encode as code 0 in every subspace (explicit rule
    * on both sides).
    */
  private[operators] def pqEncode(v: Array[Double],
                                  books: Array[Array[Array[Double]]]): Array[Int] = {
    val m = books.length
    val dsub = books(0)(0).length
    var n2 = 0.0
    var i = 0
    while (i < v.length) { n2 += v(i) * v(i); i += 1 }
    val nx = math.sqrt(n2)
    if (nx == 0) return new Array[Int](m)
    Array.tabulate(m) { s =>
      val off = s * dsub
      var best = 0
      var bestScore = Double.PositiveInfinity
      var c = 0
      while (c < books(s).length) {
        val cw = books(s)(c)
        var d = 0.0; var cc = 0.0; var j = 0
        while (j < dsub) { d += v(off + j) * cw(j); cc += cw(j) * cw(j); j += 1 }
        val score = -2.0 * d / nx + cc
        if (score < bestScore) { bestScore = score; best = c }
        c += 1
      }
      best
    }
  }

  /** Asymmetric-distance (ADC) score of a candidate: sum over subspaces of
    * `dot(query_raw_slice, codeword[code_s]) / |q|` — term-for-term, in
    * subspace order, left-to-right, exactly as the DuckDB replay's chained
    * addition — approximating cosine(q, x) for unit-quantized x. Zero-norm
    * queries score 0 against everything.
    */
  private[operators] def adcScore(q: Array[Double], codes: Array[Int],
                                  books: Array[Array[Array[Double]]]): Double = {
    var n2 = 0.0
    var i = 0
    while (i < q.length) { n2 += q(i) * q(i); i += 1 }
    val nq = math.sqrt(n2)
    if (nq == 0) return 0.0
    val m = books.length
    val dsub = books(0)(0).length
    var acc = 0.0
    var s = 0
    while (s < m) {
      val cw = books(s)(codes(s))
      var d = 0.0; var j = 0
      while (j < dsub) { d += q(s * dsub + j) * cw(j); j += 1 }
      acc += d / nq
      s += 1
    }
    acc
  }

  /** The trained PQ codebooks as a committable frame (sub_idx, code_id,
    * codeword). `nCentroids` parameterizes only the deterministic sample
    * size (max(2048, 64·nCentroids)) so the frame trains on EXACTLY the
    * sample [[pqTopK]] uses alongside its IVF centroids.
    */
  def pqBooksFrame(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
                   lloydIters: Int = 2, nCentroids: Int = 16,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = vecBase(corpus, idCol, vecCol)
    val sample = deterministicSample(base, math.max(2048, 64 * nCentroids))
    // the sample collect was base's only use here — release, don't leak
    base.unpersist()
    val books = trainBooks(sample, m, ksub, lloydIters)
    books.zipWithIndex.toSeq.flatMap { case (bk, s) =>
      bk.zipWithIndex.map { case (cw, c) => (s, c, cw) }
    }.toDF("sub_idx", "code_id", "codeword")
  }

  /** Per-vector PQ codes as a committable frame (vid, codes): m small ints
    * per vector — the compressed stand-in that rides the candidate join in
    * [[pqTopK]]. The q_ann_pq_codes oracle replays the encoding argmin
    * from the committed books against the embeddings table.
    */
  def pqCodesFrame(corpus: DataFrame, m: Int = 8, ksub: Int = 16,
                   lloydIters: Int = 2, nCentroids: Int = 16,
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = vecBase(corpus, idCol, vecCol)
    val sample = deterministicSample(base, math.max(2048, 64 * nCentroids))
    val books = trainBooks(sample, m, ksub, lloydIters)
    // the downstream encode is a single pass — release the cache now
    // (the centroids/cells frames do the same; ADVICE r6)
    base.unpersist()
    base.mapPartitions(_.map { case (vid, v) => (vid, pqEncode(v, books)) })
      .toDF("vid", "codes")
  }

  /** IVFADC top-k: IVF candidate generation (query probes × list
    * assignment — ivfTopK's exact relation) + PQ asymmetric-distance
    * shortlist + exact-cosine rerank of the shortlist.
    *
    * The 100 TB story — MEASURED, and the measurement overturned the
    * naive byte claim (`Probe pq-bytes`, BENCHMARKS.md round-7): on Spark,
    * [[ivfTopK]]'s FUSED shape (exact cosine + top-k agg consumed
    * pipelined inside the candidate-join stage — the scored rows never
    * cross the wire) shuffles FEWER bytes than PQ in BOTH regimes
    * (50k×64, warm shared cache: self-ANN 106 vs 994 MiB; 1k-query
    * serving 5.1 vs 81 MiB — AQE broadcasts the tiny query side, so
    * fused-IVF exchanges almost nothing). PQ's deferred exactness is
    * what costs: the ADC shortlist selection must move
    * candidate-volume (query, nbr, adc) rows/buffers across one
    * exchange (a top-128 partial agg prunes nothing when a partition
    * holds < 128 of a query's candidates), and the exact rerank then
    * joins vectors back per shortlist pair. What PQ genuinely buys is
    * RESIDENCY, not shuffle bytes: the scanned index is m (8) ints per
    * vector instead of dim (64) doubles — 16× less RAM/scan bandwidth —
    * so its regime is memory-bound corpora where the vector table
    * cannot stay resident (10^9+ vectors/executor-fleet) and
    * recomputing spilled vectors dominates; `queries = Some(batch)`
    * serves that regime without self-joining the corpus. Both rerank
    * stages are TopKAgg (map-side partial top-k, never a Window).
    * Output contract: (query_id, rank, nbr_id, cosine) where cosine is
    * the EXACT cosine — rows directly comparable to ivfTopK/lshTopK.
    * Cache contract: the typed base persists here, caller releases
    * (clearCache), exactly like ivfTopK.
    */
  def pqTopK(corpus: DataFrame, k: Int, m: Int = 8, ksub: Int = 16,
             shortlist: Int = 128, nCentroids: Int = 16, nProbe: Int = 12,
             lloydIters: Int = 2, queries: Option[DataFrame] = None,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val base = vecBase(corpus, idCol, vecCol)
    // the index side (sample, Lloyd, books, codes, assignment) is built
    // from the CORPUS alone; `queries` swaps only the probe/rerank query
    // side — the serving regime (see the regime note above): a query
    // whose id also lives in the corpus gets exactly its self-ANN rows
    val qbase = queries.map(q => vecBase(q, idCol, vecCol)).getOrElse(base)
    val sample = deterministicSample(base, math.max(2048, 64 * nCentroids))
    val centroids = trainCentroids(sample, nCentroids, lloydIters)
    val books = trainBooks(sample, m, ksub, lloydIters)
    val booksBc = spark.sparkContext.broadcast(books)
    // neighbor side: id + list assignment + codes in ONE narrow pass —
    // the full vector never enters the candidate exchange
    val nbr = base
      .mapPartitions { it =>
        val bks = booksBc.value
        it.map { case (vid, v) =>
          (vid, nearestCentroidsOf(v, centroids, 1)(0), pqEncode(v, bks))
        }
      }
      .toDF("nbr_id", "centroid_id", "codes")
    val probes = qbase
      .mapPartitions(_.flatMap { case (vid, v) =>
        nearestCentroidsOf(v, centroids, nProbe).iterator.map(c => (vid, v, c))
      })
      .toDF("query_id", "q_vec", "centroid_id")
    val adcScored = probes.join(nbr, "centroid_id")
      .filter(col("query_id") =!= col("nbr_id"))
      .select(col("query_id"), col("q_vec"), col("nbr_id"), col("codes"))
      .as[(Long, Array[Double], Long, Array[Int])]
      .mapPartitions { it =>
        val bks = booksBc.value
        it.map { case (q, qv, n, cs) => (q, n, adcScore(qv, cs, bks)) }
      }
      // the TopKAgg contract column is named cosine; here it carries the
      // ADC approximation (shortlist stage only — never output)
      .toDF("query_id", "nbr_id", "cosine")
    val short = topKPerQuery(adcScored, shortlist)
      .select(col("query_id"), col("nbr_id"))
    val qv = qbase.toDF("query_id", "q_vec")
    val nv = base.toDF("nbr_id", "nbr_vec")
    val exact = short.join(qv, "query_id").join(nv, "nbr_id")
      .withColumn("cosine",
        dot(col("q_vec"), col("nbr_vec")) / (norm(col("q_vec")) * norm(col("nbr_vec"))))
      .select(col("query_id"), col("nbr_id"), col("cosine"))
    topKPerQuery(exact, k)
  }

  /** Driver-side exact cosine-threshold pairs over a small collected vector
    * set — the oracle for recall tests and probes (`Probe recall`,
    * OperatorsSpec). O(n²); zero-norm vectors never match.
    */
  def exactCosinePairsLocal(vecs: Array[(Long, Array[Double])],
                            minCosine: Double): Set[(Long, Long)] = {
    val out = scala.collection.mutable.Set[(Long, Long)]()
    val sorted = vecs.sortBy(_._1)
    for (i <- sorted.indices; j <- (i + 1) until sorted.length) {
      val (ia, va) = sorted(i); val (ib, vb) = sorted(j)
      var d = 0.0; var na = 0.0; var nb = 0.0; var k = 0
      while (k < va.length) { d += va(k) * vb(k); na += va(k) * va(k); nb += vb(k) * vb(k); k += 1 }
      if (na > 0 && nb > 0 && d / (math.sqrt(na) * math.sqrt(nb)) >= minCosine)
        out += ((ia, ib))
    }
    out.toSet
  }

  /** Embedding-cosine near-duplicate pairs: all (i < j) pairs with cosine >=
    * minCosine, found through the LSH candidate join (not a cross join).
    * Cache lifetime of the internal sketch is CALLER-owned (clearCache);
    * use [[embeddingNearDupPairsWithHandle]] to get a releasable handle.
    */
  def embeddingNearDupPairs(corpus: DataFrame, minCosine: Double, dim: Int,
                            nTables: Int = 12, bandBits: Int = 8, seed: Long = 42L,
                            multiProbe: Boolean = true, nProbes: Int = 8,
                            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    embeddingNearDupPairsWithHandle(corpus, minCosine, dim, nTables, bandBits,
      seed, multiProbe, nProbes, idCol, vecCol)._1

  /** [[embeddingNearDupPairs]] plus the persisted sketch frame as a
    * releasable handle — long-lived sessions unpersist it once the pairs
    * are consumed, without nuking unrelated caches via clearCache.
    */
  def embeddingNearDupPairsWithHandle(corpus: DataFrame, minCosine: Double, dim: Int,
                            nTables: Int = 12, bandBits: Int = 8, seed: Long = 42L,
                            multiProbe: Boolean = true, nProbes: Int = 8,
                            idCol: String = "vec_id", vecCol: String = "embedding"): (DataFrame, DataFrame) = {
    // same degradation rule as lshTopK: nProbes=0 means plain buckets,
    // never an empty probe side
    val useProbes = multiProbe && nProbes > 0
    val probeFan = if (useProbes) nProbes else 0
    val sketch = sketchRows(corpus, dim, nTables, bandBits, seed, idCol, vecCol, probeFan)
    // multiprobe matters MORE here than for top-k: near-dup thresholds like
    // cosine 0.4 are far pairs (per-hyperplane agreement ~0.63), where exact
    // bucket collision is rare (p^bits) — measured recall 0.20 without
    // multiprobe vs 0.94 with, at identical table count (`Probe recall`).
    // Default nProbes = bandBits (all flips = blind Hamming-1 probing):
    // far pairs don't concentrate their disagreements in the low-margin
    // bits the way near neighbors do, so the full fan earns its cost here.
    val candIds = candIdsOf(sketch, useProbes, nProbes, lt = true, "doc1", "doc2")
      .distinct()
    val vecs = sketch.select(col("vid"), col("vec"), col("vnorm"))
    val pairs = candIds
      .join(vecs.select(col("vid").as("doc1"), col("vec").as("v1"),
        col("vnorm").as("n1")), "doc1")
      .join(vecs.select(col("vid").as("doc2"), col("vec").as("v2"),
        col("vnorm").as("n2")), "doc2")
      .withColumn("cosine", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cosine") >= minCosine)
      .select("doc1", "doc2", "cosine")
    (pairs, sketch)
  }
}
