package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected-components clustering over the dup-pair graph by iterative
  * min-label propagation via DataFrame self-joins (the north-star's required
  * clustering stage; the reference stops at pairs, so clusters are our
  * extension — oracle = union-find over the reference's pair CSV,
  * FIXTURES.md §4.4).
  *
  * Algorithm: every node starts labeled with its own id; each round a node
  * takes (1) the min of its label and its neighbors' labels, then (2) a
  * POINTER JUMP — the label of its new label (labels are always node ids,
  * so they can be chased). The jump contracts label chains exponentially:
  * a path graph of diameter D converges in O(log D) rounds instead of O(D),
  * so star-cap chain components at scale can't blow the iteration budget.
  * LSH dup-graphs are unions of near-cliques and still converge in 2-4
  * rounds. Labels only decrease and stay inside the component, so the
  * fixpoint is the component-min label.
  *
  * Path choice: a graph of at most `driverEdgeLimit` edges is solved by a
  * bounded driver-side union-find (no iteration, no iteration tables);
  * only a larger graph, or `driverEdgeLimit = 0`, runs the loop below.
  *
  * Durability of the loop: each iteration materializes to truncate lineage
  * (plan growth is the classic failure of iterative DataFrame jobs). By
  * default that is localCheckpoint — executor-local blocks, lost on
  * executor death. `reliableCheckpointDir` says where the loop's
  * per-iteration label tables live instead: EVERY iteration's labels are
  * then a parquet table (written + read back), so any lost partition
  * recomputes from files rather than from dead executors' blocks — a lost
  * executor costs a re-read, not the job. The previous iteration's table
  * is deleted once the next one is committed, so the scratch dir holds at
  * most two label tables (SURVEY.md §4 physical-execution checklist). It
  * does not choose the path: the driver fast path writes no iteration
  * tables, its labels come from driver memory (a lost executor recomputes
  * them from the driver), and resumable callers commit the result as a
  * stage table anyway.
  *
  * Non-convergence is an ERROR: silently returning non-minimal labels is
  * the "recall dies silently" failure mode — we throw instead.
  */
object ConnectedComponents {

  /** @param pairs   (doc1, doc2) undirected dup edges
    * @param allDocs (doc_id) every document (singletons keep their own id)
    * @param maxIter max propagation rounds; with pointer jumping this
    *                bounds reachable diameter at ~2^maxIter — hitting it
    *                means something is wrong, so we THROW rather than
    *                return non-minimal labels
    * @param reliableCheckpointDir where the LOOP keeps its per-iteration
    *                labels: a parquet table under this scratch dir per
    *                iteration (survives executor loss, unlike
    *                localCheckpoint); at most two tables exist at a time.
    *                Unused on the driver fast path, which writes none
    * @param driverEdgeLimit edge count at or below which the components are
    *                solved by a BOUNDED driver-side union-find instead of
    *                the iterative join loop: the pair count is already in
    *                hand from forcing the cache, and union-find needs no
    *                Spark stage per round where the loop pays ~25
    *                near-empty scheduling stages (measured 5.2 s at the
    *                200k-file bench leg, almost all stage overhead).
    *                Driver cost at the 1M default (measured on 1M-edge
    *                chain and random graphs over 1M nodes, 2 GB heap,
    *                2 local cores): a peak of ~340 MB of live heap above the
    *                baseline — the collected `Row`s, the boxed union-find
    *                maps and the label rows — and 3-5 s of wall; the
    *                returned frame keeps the ~100 MB of label rows alive
    *                while it is referenced. The label semantics are
    *                identical (component-min labels are unique); the
    *                distributed loop remains the >limit path at cluster
    *                scale and is spec-pinned equal. Only 0 forces the loop
    *                for every graph; `reliableCheckpointDir` does not.
    * @return (doc_id, cluster_id) where cluster_id = min doc_id in component
    */
  def cluster(pairs: DataFrame, allDocs: DataFrame, maxIter: Int = 20,
              reliableCheckpointDir: Option[String] = None,
              driverEdgeLimit: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    // Persist the PROJECTED pair table, not the 2x-union edge view: a
    // union's two branches are separate subtrees, so persisting only the
    // union would still compute the (expensive) upstream pair pipeline
    // once per branch while building the cache — measured as 2x the
    // candidates+similarity cost in the clusters query. The union over the
    // cached projection is a cheap per-iteration map.
    val p0 = pairs
      .select(col("doc1").cast("long").as("src"), col("doc2").cast("long").as("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // everything after the persist runs under the try: the count() below
    // executes the full upstream pair pipeline, and a failure there must
    // still unpersist p0 (a long-lived session retrying cluster() would
    // otherwise pin one orphaned pair cache per failed attempt)
    val priorShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    var edgesByDstHandle: Option[DataFrame] = None
    try {
    val edges = p0.union(p0.select(col("dst").as("src"), col("src").as("dst")))

    // Iterate only over nodes that actually appear in an edge; the (vastly
    // larger) singleton population bypasses the loop entirely and is
    // appended at the end with cluster_id = doc_id. On a dedup graph where
    // dups are a few % of the corpus this shrinks every per-iteration join
    // by 10-100x.
    val nodes = edges.select(col("src").as("doc_id")).distinct()

    // Per-stage shuffle width (SURVEY §4): the iteration joins run over the
    // non-singleton label table, typically a few % of the corpus — at the
    // session's shuffle width a tiny dup graph pays dozens of near-empty
    // 32-task stages per run (measured ~2x the whole query's wall). Size
    // the LOOP's exchanges to the edge count (~100k rows/partition), never
    // above the session conf; restored in the finally. The count() also
    // forces the p0 cache before the loop re-reads it every iteration.
    val nEdges = p0.count()

    if (nEdges <= driverEdgeLimit) {
      // Small-graph fast path: solve on the driver. The collect is bounded
      // by driverEdgeLimit (scaladoc above); min-label resolution via
      // union-find is exact and deterministic, so the output is identical
      // to the loop's fixpoint.
      val edgeArr = p0.select(col("src"), col("dst"))
        .collect()
      require(edgeArr.length <= driverEdgeLimit,
        s"driver union-find collected ${edgeArr.length} edges, above " +
          s"driverEdgeLimit = $driverEdgeLimit (the pair table changed " +
          "between count and collect)")
      val parent = new java.util.HashMap[Long, Long](edgeArr.length * 2)
      def find(x0: Long): Long = {
        var x = x0
        var px = parent.getOrDefault(x, x)
        while (px != x) { // path halving
          val gp = parent.getOrDefault(px, px)
          parent.put(x, gp)
          x = gp
          px = parent.getOrDefault(x, x)
        }
        x
      }
      edgeArr.foreach { r =>
        val a = find(r.getLong(0)); val b = find(r.getLong(1))
        if (a != b) { if (a < b) parent.put(b, a) else parent.put(a, b) }
      }
      // component min per root, then one labels row per distinct node
      val minOfRoot = new java.util.HashMap[Long, Long]()
      val nodeSet = new java.util.HashSet[Long]()
      edgeArr.foreach { r =>
        var i = 0
        while (i < 2) {
          val v = r.getLong(i)
          if (nodeSet.add(v)) {
            val rt = find(v)
            val cur = minOfRoot.getOrDefault(rt, Long.MaxValue)
            if (v < cur) minOfRoot.put(rt, v)
          }
          i += 1
        }
      }
      val rows = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row](nodeSet.size)
      nodeSet.forEach { v => rows += org.apache.spark.sql.Row(v, minOfRoot.get(find(v))); () }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("cluster_id", org.apache.spark.sql.types.LongType, nullable = false)))
      val nParts = math.max(1, math.min(spark.sparkContext.defaultParallelism, rows.size / 100000 + 1))
      val labels = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toSeq, nParts), schema)
      val singletons = allDocs
        .select(col("doc_id").cast("long"))
        .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
        .withColumn("cluster_id", col("doc_id"))
      return labels.union(singletons)
    }

    val loopWidth = math.max(1L,
      math.min(priorShuffle.toLong, nEdges * 2 / 100000L + 1L))
    spark.conf.set("spark.sql.shuffle.partitions", loopWidth.toString)

    // The per-iteration join is keyed on edges(dst): persist the edge table
    // PRE-PARTITIONED on that key once (at the loop width, which the conf
    // now carries), so every iteration after the first reads the cached
    // shuffle layout instead of re-exchanging the full edge table
    // (InMemoryRelation preserves its child's outputPartitioning).
    // Unpersisted in the finally alongside p0.
    val edgesByDst = edges.repartition(col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    edgesByDstHandle = Some(edgesByDst)

    def materialize(df: DataFrame, iter: Int): DataFrame =
      reliableCheckpointDir match {
        case Some(dir) =>
          val path = s"$dir/cc_labels_iter_$iter"
          df.write.mode("overwrite").parquet(path)
          val back = spark.read.parquet(path)
          if (iter > 0) { // previous table no longer referenced; bound the dir
            val prev = new org.apache.hadoop.fs.Path(s"$dir/cc_labels_iter_${iter - 1}")
            val fs = prev.getFileSystem(spark.sparkContext.hadoopConfiguration)
            fs.delete(prev, true)
            ()
          }
          back
        case None => df.localCheckpoint()
      }

    var labels = materialize(
      nodes.select(col("doc_id").cast("long")).withColumn("cluster_id", col("doc_id")),
      0)

    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // min(own, neighbors) in ONE join + ONE aggregate (round 8; the r7
      // shape joined neighborMin back to labels in a second join): the
      // neighbor labels UNION the node's own label (tagged so the
      // aggregate can recover old_label for the change test) collapse in a
      // single groupBy — two exchanges fewer per round at cluster scale,
      // two near-empty stages fewer per round at bench scale. Semantics
      // identical: cand_label = least(own, min over neighbors).
      val cand = edgesByDst
        .join(labels, edgesByDst("dst") === labels("doc_id"))
        .select(col("src"), col("cluster_id"), lit(false).as("self"))
        .union(labels.select(col("doc_id").as("src"), col("cluster_id"),
          lit(true).as("self")))
        .groupBy(col("src"))
        .agg(min(col("cluster_id")).as("cand_label"),
          min(when(col("self"), col("cluster_id"))).as("old_label"))

      // pointer jump: labels are node ids, so chase one level — the label
      // of my label. Contracts chains exponentially (O(log diameter)).
      val parents = labels
        .select(col("doc_id").as("p_id"), col("cluster_id").as("p_label"))
      val next = cand
        .join(parents, cand("cand_label") === parents("p_id"), "left")
        .select(
          col("src").as("doc_id"),
          least(col("cand_label"), coalesce(col("p_label"), col("cand_label")))
            .as("cluster_id"),
          (least(col("cand_label"), coalesce(col("p_label"), col("cand_label")))
            < col("old_label")).as("changed")
        )

      iter += 1
      val mat = materialize(next, iter)
      converged = mat.filter(col("changed")).limit(1).isEmpty
      labels = mat.select("doc_id", "cluster_id")
    }
    if (!converged) {
      throw new IllegalStateException(
        s"ConnectedComponents did not converge within $maxIter iterations — " +
          "returning non-minimal cluster labels would silently merge/split " +
          "clusters; raise maxIter (pointer jumping makes each round cheap)")
    }
    // singletons: every doc not in any pair is its own cluster. Anti-join
    // against the MATERIALIZED labels (same doc_id set as `nodes`), not the
    // edge-derived `nodes` view — after p0 unpersists in the finally, the
    // nodes subtree would re-run the whole upstream pair pipeline at the
    // caller's first action.
    val singletons = allDocs
      .select(col("doc_id").cast("long"))
      .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
      .withColumn("cluster_id", col("doc_id"))
    labels.union(singletons)
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", priorShuffle)
      p0.unpersist()
      edgesByDstHandle.foreach(_.unpersist())
      ()
    }
  }
}
