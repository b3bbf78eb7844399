package graft.streaming

import graft.core.MinHashConfig
import graft.operators.MinHashPipeline
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming ingest + incremental near-dup detection.
  *
  * The batch pipeline answers "find all dup pairs in a corpus"; a training
  * -data lakehouse also needs the incremental question: as new files land,
  * which of them duplicate something already ingested? This runs as a
  * Structured Streaming job:
  *
  *   readStream(parquet dir of (doc_id, content))
  *     -> foreachBatch:
  *          1. fused signature kernel over the micro-batch (narrow) — each
  *             doc is signed exactly once, ever
  *          2. LSH bucket join of the batch's bands against the accumulated
  *             APPEND-ONLY BANDS TABLE -> new cross-history dup pairs
  *          3. intra-batch pairs via the normal bucket pipeline
  *          4. append batch signatures + exploded bands + pairs, each under
  *             a batchId-keyed partition directory
  *
  * Scale shape (the fixes for the O(history)-per-batch trap):
  *   - bands are computed ONCE per doc and persisted exploded
  *     (doc_id, band_idx, band_hash, bh_prefix), a FEW range-sorted files
  *     per batch (not one dir per prefix — 64 dirs/batch was a measured
  *     small-file explosion, 2x per-batch growth over 11 batches); history
  *     is never re-kerneled from signatures
  *   - the history bands scan is pruned by the batch's prefix set via
  *     parquet ROW-GROUP skipping: the files are sorted by bh_prefix and
  *     the isin filter pushes to min/max stats (processBatch raises
  *     spark.sql.parquet.pushdown.inFilterThreshold to the prefix domain —
  *     the default of 10 would demote a >10-value In to a useless 0..63
  *     range). The skip bites on COMPACTED history (large multi-row-group
  *     sorted files) and on trickle batches; a batch whose prefixes cover
  *     the domain still pays one narrow columnar scan of history, the
  *     honest floor without an external index
  *   - [[compact]] periodically merges the per-batch band, signature AND
  *     pair files into one sorted generation per table (standard lakehouse
  *     compaction), keeping every table's file count O(1) instead of
  *     O(batches)
  *   - the signatures table is read only for the similarity join-back of
  *     candidate ids, and that read is PRUNED the same way: signature files
  *     are range-sorted by did_prefix (doc_id mod [[NumDocPrefixes]]), the
  *     candidates' prefix set pushes down as an isin (row-group skip), and
  *     an exact broadcast semi-join on the candidate doc ids cuts the rest
  *     before the similarity shuffle — per-batch signature-join cost is
  *     O(candidates), not O(history)
  *
  * Delivery semantics: the stream checkpoint makes source offsets
  * exactly-once, but foreachBatch itself is AT-LEAST-ONCE — a crash between
  * sink writes replays the batch. Every write here is therefore IDEMPOTENT
  * per batchId (mode=overwrite into a `batch_id=<id>` directory): a replay
  * overwrites the same partition instead of appending duplicates, and the
  * history reads exclude the in-flight batch_id so a partially-written
  * batch never joins against itself.
  */
object StreamingDedup {

  val inputSchema: StructType = new StructType()
    .add("doc_id", "long")
    .add("content", "string")

  /** Domain size of the bh_prefix SORT/PRUNE column on the bands table
    * (a data column, not a partition dir — see the class doc). Small
    * enough that one batch's prefix set is a tiny isin list; large enough
    * that row-group/file stats can skip most of a sorted history table
    * when a batch touches few prefixes.
    */
  val NumBandPrefixes = 64

  /** Domain size of the did_prefix (doc_id mod) SORT/PRUNE column on the
    * SIGNATURES table — same trick as bh_prefix on bands: each batch's
    * signature files are range-sorted by did_prefix, so the per-batch
    * history-signature read can row-group-skip everything outside the
    * candidate doc ids' prefix set (a bounded <=64-value isin).
    */
  val NumDocPrefixes = 64

  private val InFilterThresholdKey = "spark.sql.parquet.pushdown.inFilterThreshold"

  /** Ceiling on candidate doc ids for the history-prune BROADCAST semi-join
    * hint. Candidates are usually batch-bounded, but they are really
    * batch×history band collisions — one boilerplate band hash shared with
    * millions of history docs makes the id set O(history), and an
    * unconditional broadcast of that would OOM the driver. Above the gate
    * the semi-join degrades to a plain shuffle (the prefix pushdown still
    * prunes the scan).
    */
  val MaxBroadcastCandIds = 5000000L

  /** Default intra-batch LSH bucket star cap (skew guard): a boilerplate
    * band hash inside one micro-batch caps its pair listing at a hub star
    * instead of a full clique — clusters/recall unchanged (the star spans
    * the same component). Threaded through [[start]]/[[processBatch]] so a
    * caller needing exact-clique batch parity can pass None.
    */
  val DefaultStreamStarCap = 1024

  /** Maintenance fence (see [[compact]]): compact holds this lock for its
    * whole run; processBatch fails fast while it exists instead of hitting
    * FileNotFoundException when the merged source dirs vanish mid-scan.
    */
  private def compactLockPath(workDir: String) =
    new org.apache.hadoop.fs.Path(s"$workDir/bands/_compact_lock")

  /** Ingest fence: processBatch holds this for its whole run; compact fails
    * fast while it exists instead of deleting dirs under an in-flight scan.
    */
  private def ingestLockPath(workDir: String) =
    new org.apache.hadoop.fs.Path(s"$workDir/bands/_ingest_lock")

  /** Monotonic manifest of the highest batch id folded into a consolidated
    * generation (see the class doc's replay-interaction contract).
    */
  private def maxFoldedPath(workDir: String) =
    new org.apache.hadoop.fs.Path(s"$workDir/bands/_max_folded_batch")

  /** Shared tiny-state-file readers/writers (manifest, clusters watermark,
    * fold intent) — one implementation for all three.
    *
    * Writes are ATOMIC (tmp + rename-with-overwrite): for the fold-intent
    * journal this is not hardening but the feature itself — a truncating
    * in-place overwrite could lose journal entries if the RECOVERY compact
    * crashed mid-write, re-creating exactly the stranding the journal
    * exists to prevent. Local filesystem: NIO ATOMIC_MOVE (POSIX rename).
    * HDFS-like: FileContext.rename(OVERWRITE), atomic on the NameNode.
    */
  private def readStateFile(fs: org.apache.hadoop.fs.FileSystem,
                            p: org.apache.hadoop.fs.Path): Option[String] =
    try {
      if (!fs.exists(p)) return None // fast path: no exception per call
      val in = fs.open(p)
      try Some(new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim)
      finally in.close()
    } catch { case _: Exception => None } // corrupt => caller's safe default

  private def writeStateFile(fs: org.apache.hadoop.fs.FileSystem,
                             p: org.apache.hadoop.fs.Path, content: String): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    if ("file" == fs.getUri.getScheme)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp.toUri.getPath),
        java.nio.file.Paths.get(p.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    else {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, fs.getConf)
      fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
    ()
  }

  private def readMaxFolded(fs: org.apache.hadoop.fs.FileSystem,
                            workDir: String): Long =
    readStateFile(fs, maxFoldedPath(workDir))
      .flatMap(_.toLongOption).getOrElse(Long.MinValue) // absent/corrupt => no skip (safe)

  /** Fold-intent journal: the set of batch ids a compact run is folding,
    * written BEFORE the first table fold and removed after the manifest.
    * A compact crash BETWEEN per-table folds otherwise strands a batch
    * forever: with (say) its bands dir already folded away, the
    * all-three-tables completeness rule can never re-admit it, so its
    * surviving pairs/signatures dirs would be un-foldable and invisible to
    * the complete-only cluster reads. Ids in a leftover intent were
    * verified sink-complete when it was written — the next compact re-adds
    * them to the foldable set (folding whatever dirs remain; re-folds
    * converge via the per-table dropDuplicates) and cluster maintenance
    * treats them as complete.
    */
  private def foldIntentPath(workDir: String) =
    new org.apache.hadoop.fs.Path(s"$workDir/bands/_fold_intent")

  private def readFoldIntent(fs: org.apache.hadoop.fs.FileSystem,
                             workDir: String): Set[Long] =
    readStateFile(fs, foldIntentPath(workDir))
      .map(_.split(",").toSeq.flatMap(_.trim.toLongOption).toSet)
      .getOrElse(Set.empty)

  /** Minimum age of a same-identity leftover lock before a replay may take
    * it over. The lease distinguishes "crashed run's corpse" from "live but
    * stalled holder" (zombie driver, long GC pause): a genuinely live
    * processBatch touches nothing for this long only in pathological
    * stalls, and racing one would corrupt the batch dirs — so younger
    * same-identity locks still fail fast.
    */
  val LockTakeoverLeaseMs: Long = 10L * 60L * 1000L

  /** Take `lock` atomically (create-if-absent) or throw naming the holder.
    * A crash leaves the lock behind BY DESIGN — fail-fast beats silently
    * racing a maybe-still-running job; the error says how to clear it.
    *
    * `takeoverSameIdent`: when the existing lock's recorded holder is THIS
    * EXACT unit of work (same batchId) AND the lock is older than
    * [[LockTakeoverLeaseMs]], take it over — a crashed processBatch is
    * replayed by the stream with the identical identity, and blocking that
    * replay would wedge the restarted stream forever on its own corpse.
    * The lease guards the zombie case (a stalled-but-live holder with the
    * same identity, e.g. a declared-dead driver whose JVM still runs);
    * within the lease the replay fails fast and retries later. compact
    * does NOT take over (two compacts are indistinguishable from
    * crashed-vs-live and share one identity).
    */
  /** Exclusive create-if-absent. On the local filesystem this goes through
    * NIO CREATE_NEW (O_CREAT|O_EXCL — truly atomic); Hadoop's
    * RawLocalFileSystem.create(overwrite=false) is an exists()-then-create
    * pair, i.e. NOT a CAS. On HDFS-like filesystems create(overwrite=false)
    * is atomic on the NameNode and is used directly.
    */
  private def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
                              path: org.apache.hadoop.fs.Path, content: String): Boolean =
    if ("file" == fs.getUri.getScheme) {
      // ONLY already-exists means "lock held" — environmental failures
      // (missing parent dir, permissions) must surface as what they are,
      // not masquerade as a phantom concurrent holder
      try {
        java.nio.file.Files.write(
          java.nio.file.Paths.get(path.toUri.getPath),
          content.getBytes("UTF-8"),
          java.nio.file.StandardOpenOption.CREATE_NEW,
          java.nio.file.StandardOpenOption.WRITE)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else
      try { val o = fs.create(path, false); o.write(content.getBytes("UTF-8")); o.close(); true }
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.nio.file.FileAlreadyExistsException        => false
      }

  /** Bounded-litter cleanup: a claimant that crashed between deleting the
    * corpse lock and re-creating it orphans its claim file (that mtime
    * generation never recurs, so the in-line heal path can't reach it).
    * Swept by the next successful acquirer; fresh claims (live peers
    * mid-takeover) are left alone.
    */
  private def sweepStaleClaims(fs: org.apache.hadoop.fs.FileSystem,
                               lock: org.apache.hadoop.fs.Path): Unit =
    try {
      val glob = new org.apache.hadoop.fs.Path(lock.getParent, s".${lock.getName}.claim.*")
      Option(fs.globStatus(glob)).foreach(_.foreach { st =>
        if (System.currentTimeMillis() - st.getModificationTime > LockTakeoverLeaseMs) {
          fs.delete(st.getPath, false); ()
        }
      })
    } catch { case _: java.io.IOException => () }

  private def acquire(fs: org.apache.hadoop.fs.FileSystem,
                      lock: org.apache.hadoop.fs.Path, what: String,
                      takeoverSameIdent: Boolean = false): Unit = {
    def create(): Boolean = createExclusive(fs, lock, what)
    def readHolder(): String =
      try {
        val in = fs.open(lock)
        val b = new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
        in.close(); b
      } catch { case _: java.io.IOException => "<unreadable>" }
    if (create()) { sweepStaleClaims(fs, lock); return }
    val holder = readHolder()
    // ONE stat: this mtime identifies the corpse GENERATION and validates
    // the lease. Re-stat'ing later would race a peer's completed takeover
    // (its FRESH lock's mtime would be mistaken for a claimable corpse).
    val corpseMtime =
      try fs.getFileStatus(lock).getModificationTime
      catch { case _: java.io.IOException => -1L }
    if (corpseMtime < 0)
      // the holder released between our create() and the stat — a
      // transient race, NOT a held lock: say so (the next attempt will
      // acquire cleanly)
      throw new IllegalStateException(
        s"$what: lock $lock was released by '$holder' mid-acquire — " +
          "transient race, the next attempt will acquire it")
    val ageMs = System.currentTimeMillis() - corpseMtime
    if (takeoverSameIdent && holder == what && ageMs > LockTakeoverLeaseMs) {
      // CLAIM-FILE CAS: takeover of one corpse GENERATION (identified by
      // the lease-validated mtime above) is serialized through an exclusive
      // claim file named for that generation. createExclusive has exactly
      // one winner per name, so only ONE process may replace generation M's
      // lock — and a FRESH lock (mtime != M) can never be deleted by a
      // racer, because the delete below is mtime-guarded while holding the
      // claim. (A bare delete+create takeover is racy: a second replayer's
      // delete can remove the first replayer's fresh lock, after which both
      // create() and both proceed.)
      val claim = new org.apache.hadoop.fs.Path(
        lock.getParent, s".${lock.getName}.claim.$corpseMtime")
      if (createExclusive(fs, claim, what)) {
        try {
          val stillCorpse =
            try fs.getFileStatus(lock).getModificationTime == corpseMtime
            catch { case _: java.io.IOException => false }
          if (stillCorpse) {
            fs.delete(lock, false)
            if (create()) { sweepStaleClaims(fs, lock); return }
          }
        } finally fs.delete(claim, false)
      } else {
        // a peer holds the claim for this generation — unless the claim is
        // itself a crashed claimant's corpse (older than the lease): heal
        // it so the NEXT attempt can retry, but still fail fast now.
        val claimAge =
          try System.currentTimeMillis() - fs.getFileStatus(claim).getModificationTime
          catch { case _: java.io.IOException => 0L }
        if (claimAge > LockTakeoverLeaseMs) fs.delete(claim, false)
      }
      // the claim raced a peer — report the CURRENT holder, not the corpse
      throw new IllegalStateException(
        s"$what: lock $lock takeover raced a concurrent acquirer " +
          s"(now held by '${readHolder()}')")
    }
    throw new IllegalStateException(
      s"$what: lock $lock is held by '$holder' (age ${ageMs / 1000}s — concurrent " +
        "maintenance/ingest, or a crashed run left it behind; same-identity locks " +
        s"self-heal after ${LockTakeoverLeaseMs / 1000}s, or verify no job is " +
        "running and delete the lock file)")
  }

  /** One micro-batch of incremental dedup — public so tests can drive
    * replays directly. Idempotent in `batchId`.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, batchId: Long,
                   workDir: String, cfg: MinHashConfig,
                   starCapBucketSize: Option[Int] = Some(DefaultStreamStarCap)): Unit = {
    val sigPath = s"$workDir/signatures"
    val bandsPath = s"$workDir/bands"
    val pairsPath = s"$workDir/pairs"

    val fsw = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(workDir), spark.sparkContext.hadoopConfiguration)
    // fence ordering: ACQUIRE OWN LOCK FIRST, then check the peer's — the
    // check-then-acquire order would be a TOCTOU window where both sides
    // pass their check and then both proceed. With acquire-first, at least
    // one side observes the other's lock and backs off (possibly both —
    // fail-fast, never both-proceed). A replay of a crashed batch takes
    // over its own leftover lock (same identity) instead of wedging.
    fsw.mkdirs(new org.apache.hadoop.fs.Path(bandsPath))
    acquire(fsw, ingestLockPath(workDir), s"processBatch($batchId)",
      takeoverSameIdent = true)
    if (fsw.exists(compactLockPath(workDir))) {
      fsw.delete(ingestLockPath(workDir), false)
      throw new IllegalStateException(
        s"processBatch($batchId): compaction in progress (${compactLockPath(workDir)})")
    }
    // Replay of a FOLDED batch: its sink-complete output already lives in a
    // consolidated generation (compact folds only _SUCCESS-complete batches)
    // — re-writing would duplicate every row. True no-op, idempotency holds.
    // BUT a batchId <= manifest is a replay ONLY when the stream checkpoint
    // that assigned it is still alive: a reset/deleted checkpoint reusing
    // this workDir restarts ids at 0 carrying NEW docs, and silently
    // skipping those would lose recall (the cardinal failure). VERIFY the
    // no-op claim: every doc id in the batch must already be consolidated.
    // One anti-join per vetoed replay — rare (post-crash restarts only).
    if (batchId <= readMaxFolded(fsw, workDir)) {
      try {
        val missing = batch.select(col("doc_id")).distinct()
          .join(spark.read.parquet(sigPath).select("doc_id"), Seq("doc_id"), "left_anti")
          .limit(1).count()
        if (missing > 0)
          throw new IllegalStateException(
            s"processBatch($batchId): batch id is <= the compaction manifest's max " +
              s"folded batch, but the batch contains doc_ids absent from the " +
              s"consolidated signatures — this is NOT a replay of the folded batch. " +
              s"A fresh/reset stream checkpoint is reusing this workDir with " +
              s"restarted batch ids; workDir and its _stream_checkpoint must live " +
              s"and die together. Use a fresh workDir (or restore the checkpoint).")
        // CONTENT probe: doc_id containment alone cannot see a reset
        // checkpoint reusing this workDir over a NEW corpus that happens to
        // re-assign previously-seen doc_ids (both id sequences restart at
        // 0) — silently skipping such a "replay" would never sign the new
        // content, losing recall without the loud failure this veto exists
        // to give. Recompute a small deterministic sample's signatures
        // driver-side and require them byte-equal to the stored rows before
        // declaring the replay a no-op. Two bounded collects (<= 4 docs),
        // replay-only path.
        val probe = batch
          .select(col("doc_id").cast("long"), col("content").cast("string"))
          .orderBy("doc_id").limit(4).collect()
          .map(r => r.getLong(0) ->
            graft.core.SignatureKernel.compute(
              Option(r.getString(1)).getOrElse(""), cfg)._1)
        if (probe.nonEmpty) {
          val ids = probe.map(_._1)
          // ALL stored rows per id, not .toMap's arbitrary survivor: the
          // documented transient post-crash duplicate signature rows are
          // content-identical, but keeping "whichever file order yields
          // last" would make the veto nondeterministic if a duplicate ever
          // weren't — accept when ANY stored copy matches.
          val stored = spark.read.parquet(sigPath)
            .filter(col("doc_id").isin(ids: _*))
            .select(col("doc_id"), col("signature"))
            .collect()
            .groupBy(_.getLong(0))
            .map { case (id, rows) => id -> rows.map(_.getSeq[Int](1).toArray) }
          probe.foreach { case (id, want) =>
            val ok = stored.get(id).exists(_.exists(_.sameElements(want)))
            if (!ok)
              throw new IllegalStateException(
                s"processBatch($batchId): batch id is <= the compaction manifest's " +
                  s"max folded batch and doc_id $id exists in the consolidated " +
                  s"signatures, but its CONTENT signature differs — a reset stream " +
                  s"checkpoint is reusing this workDir with re-assigned doc_ids " +
                  s"over different content. Use a fresh workDir (or restore the " +
                  s"checkpoint).")
          }
        }
      } finally fsw.delete(ingestLockPath(workDir), false)
      System.err.println(
        s"[graft] processBatch($batchId): already folded into a consolidated " +
          "generation by compact; replay is a no-op (containment + content-probe " +
          "verified)")
      return
    }
    // scoped conf override: the history reads below want a >NumBandPrefixes
    // In-filter pushdown threshold; restore the caller's value on exit (the
    // restore must happen AFTER the sink writes — pushdown is resolved at
    // execution time, not DataFrame construction)
    val priorInFilter = spark.conf.getOption(InFilterThresholdKey)
    try {

    // Replay hygiene FIRST: a crash mid-write can leave a truncated part
    // file under this batch's own dirs; reading the bands/signature tables
    // with that corpse present can fail schema inference before any
    // batch_id filter prunes it. Idempotent overwrite starts from a clean
    // slate for this batchId.
    Seq(bandsPath, sigPath, pairsPath).foreach { root =>
      fsw.delete(new org.apache.hadoop.fs.Path(s"$root/batch_id=$batchId"), true)
    }

    val sigs = MinHashPipeline.signatures(batch, cfg).toDF().cache()
    // cross-history candidate pairs are persisted because they feed BOTH the
    // history-signature prune (prefix collect + semi-join) and the pairs
    // join — un-persisted, the history-bands scan would re-run per consumer
    var candsHandle: Option[DataFrame] = None
    try {
      val batchBands = MinHashPipeline.bandBuckets(sigs)
        .withColumn("bh_prefix", pmod(col("band_hash"), lit(NumBandPrefixes)))
        .cache()
      try {
        // intra-batch pairs (full pipeline on the micro-batch)
        val intraPairs = MinHashPipeline.pairs(
          MinHashPipeline.candidates(sigs, starCapBucketSize = starCapBucketSize), sigs, cfg)

        // cross-history pairs: prune the bands table to the batch's prefix
        // partitions, equi-join against the broadcast batch bands
        val haveHistory =
          fsw.globStatus(new org.apache.hadoop.fs.Path(s"$bandsPath/batch_id=*")) match {
            case null => false
            case st   => st.exists(s => s.getPath.getName != s"batch_id=$batchId")
          }
        val crossPairs =
          if (haveHistory) {
            val prefixes = batchBands.select("bh_prefix").distinct()
              .collect().map(_.getInt(0)).toSeq // <= NumBandPrefixes values
            // default inFilterThreshold (10) would demote this In to a
            // min/max range over scattered prefixes — i.e. no skipping
            spark.conf.set(InFilterThresholdKey, NumBandPrefixes.toString)
            val hBands = spark.read.parquet(bandsPath)
              .filter(col("batch_id") =!= batchId) // replay safety
              .filter(col("bh_prefix").isin(prefixes: _*)) // partition pruning
            val cands = hBands.alias("h")
              .join(broadcast(batchBands.alias("b")),
                col("h.band_idx") === col("b.band_idx") &&
                  col("h.band_hash") === col("b.band_hash") &&
                  col("h.doc_id") =!= col("b.doc_id"))
              .select(
                least(col("h.doc_id"), col("b.doc_id")).as("doc1"),
                greatest(col("h.doc_id"), col("b.doc_id")).as("doc2"))
              .distinct()
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            candsHandle = Some(cands)
            val candIds = cands.select(col("doc1").as("doc_id"))
              .union(cands.select(col("doc2").as("doc_id"))).distinct()
            // bounded collect (<= NumDocPrefixes ints): which signature
            // row-group prefix ranges can hold a candidate doc at all
            val docPrefixes = candIds
              .select(pmod(col("doc_id"), lit(NumDocPrefixes.toLong)).cast("int").as("p"))
              .distinct().collect().map(_.getInt(0)).toSeq
            if (docPrefixes.isEmpty) emptyPairs(spark)
            else {
              // bound on distinct candidate ids (2 per pair); cands is
              // persisted, so the count reads the cache it forced anyway
              val hintBroadcast = cands.count() * 2 <= MaxBroadcastCandIds
              val histSigs = prunedHistorySignatures(
                spark, sigPath, batchId, candIds, docPrefixes, hintBroadcast)
              MinHashPipeline.pairs(cands, histSigs.union(sigs), cfg)
            }
          } else emptyPairs(spark)

        // idempotent per-batch sinks: replays overwrite, never duplicate.
        // Bands: a few files RANGE-SORTED by bh_prefix, so the next batch's
        // isin prune skips row groups — NOT partitionBy(bh_prefix), which
        // writes 64 dirs per batch and drowns in file listings.
        intraPairs.union(crossPairs).distinct()
          .write.mode(SaveMode.Overwrite).parquet(s"$pairsPath/batch_id=$batchId")
        batchBands.select("doc_id", "band_idx", "band_hash", "bh_prefix")
          .repartitionByRange(4, col("bh_prefix"))
          .sortWithinPartitions("bh_prefix")
          .write.mode(SaveMode.Overwrite).parquet(s"$bandsPath/batch_id=$batchId")
        // signatures: same sort/prune treatment keyed by doc_id prefix, so
        // future batches' candidate join-backs skip non-candidate row groups
        sigs.withColumn("did_prefix",
            pmod(col("doc_id"), lit(NumDocPrefixes.toLong)).cast("int"))
          .repartitionByRange(4, col("did_prefix"))
          .sortWithinPartitions("did_prefix")
          .write.mode(SaveMode.Overwrite).parquet(s"$sigPath/batch_id=$batchId")
      } finally batchBands.unpersist()
    } finally {
      candsHandle.foreach(_.unpersist())
      sigs.unpersist()
    }

    } finally {
      priorInFilter match {
        case Some(v) => spark.conf.set(InFilterThresholdKey, v)
        case None    => spark.conf.unset(InFilterThresholdKey)
      }
      fsw.delete(ingestLockPath(workDir), false)
    }
  }

  /** The pruned history-signature read — the similarity join-back reads
    * ONLY candidate signatures: prefix isin -> parquet row-group skip on the
    * did_prefix-sorted files, then an exact semi-join (broadcast: candIds is
    * batch-bounded) cuts the remainder before the pairs shuffle. Without
    * this the join scanned + shuffled O(history) signature rows per batch.
    *
    * Package-private so StreamingDedupSpec drives the EXACT
    * production expression to assert scanned rows << history rows. Callers
    * must hold the raised inFilterThreshold conf (processBatch does) or the
    * >10-value isin is demoted to a useless min/max range at pushdown.
    */
  private[graft] def prunedHistorySignatures(spark: SparkSession, sigPath: String,
      excludeBatchId: Long, candIds: DataFrame, docPrefixes: Seq[Int],
      hintBroadcast: Boolean = true): DataFrame = {
    val hist = spark.read.parquet(sigPath)
      .filter(col("batch_id") =!= excludeBatchId)
    // MIGRATION: signature batches written before the did_prefix column
    // existed must not be silently dropped (that kills cross-history recall
    // — the cardinal failure). Depending on which file Spark samples for
    // the schema, the column is either absent entirely (skip the prefix
    // prune — the exact semi-join below still filters) or null on
    // pre-upgrade rows (the isNull arm keeps them; post-upgrade files have
    // null_count=0 so the pushed IsNull prunes away and the In still
    // row-group-skips them).
    val pruned =
      if (hist.columns.contains("did_prefix"))
        hist.filter(col("did_prefix").isNull || col("did_prefix").isin(docPrefixes: _*))
      else hist
    pruned
      .join(if (hintBroadcast) broadcast(candIds) else candIds, Seq("doc_id"), "left_semi")
      .select("doc_id", "signature", "bands")
  }

  private def emptyPairs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Double)].toDF("doc1", "doc2", "similarity")
  }

  /** Lakehouse-style compaction of ALL THREE tables (bands, signatures,
    * pairs): merge every per-batch directory (and any previous consolidated
    * generation) into ONE sorted table under a fresh negative
    * `batch_id=-(g+1)` generation, then drop the merged source dirs. Keeps
    * each table's file count O(1) instead of O(batches); post-compaction
    * files are large enough to hold many row groups, which is where the
    * bh_prefix / did_prefix row-group skipping actually bites — a
    * trickle-batch history (tiny one-row-group files) defeats stats-based
    * skipping precisely because every file must still be listed and
    * footer-read.
    *
    * Per-table sort/dedup keys:
    *   - bands:      dedup (doc_id, band_idx), range-sorted by bh_prefix
    *   - signatures: dedup doc_id (a doc is signed once, ever), range-sorted
    *                 by did_prefix, which is RECOMPUTED from doc_id here —
    *                 this also heals pre-upgrade rows whose did_prefix was
    *                 null (the migration arm in prunedHistorySignatures)
    *   - pairs:      dedup (doc1, doc2) (similarity is a deterministic
    *                 function of the pair), sorted by (doc1, doc2)
    *
    * Replay interaction (per-batchId idempotency is PRESERVED across
    * compaction, not merely eventually-consistent):
    *   - compact folds ONLY sink-complete batches — a batch id whose dir
    *     carries _SUCCESS in ALL THREE tables. An incomplete batch (a
    *     processBatch crash mid-write) keeps its dirs untouched, so its
    *     replay overwrites them exactly as before.
    *   - the max folded batch id is recorded in a `_max_folded_batch`
    *     manifest (monotonic, written after all three tables fold). A
    *     replay of a batch <= that id is a NO-OP in processBatch: folding
    *     required sink-completeness, so everything the replay would write
    *     is already durably consolidated — re-writing it would duplicate
    *     rows until the next compact.
    *   - an unreadable/missing manifest degrades to the pre-manifest
    *     behavior (replay re-writes; duplicates converge at the next
    *     compact's dropDuplicates) — the safe direction.
    *
    * MUST run while the stream is quiesced (between start()/termination,
    * as tests and `Probe stream` do, or with the query stopped): an in-flight
    * processBatch that already listed the source dirs would hit
    * FileNotFoundException when they are deleted under it. That rule is
    * ENFORCED, not conventional: compact takes `_compact_lock` for its whole
    * run and fails fast if `_ingest_lock` is present; processBatch does the
    * mirror check, so a concurrent caller gets an immediate
    * IllegalStateException instead of a mid-scan FileNotFoundException.
    *
    * Crash-safe protocol — the consolidated data is ALWAYS visible before
    * any source dir is touched:
    *   1. write to an underscore staging dir (invisible to parquet reads)
    *   2. atomic rename staging -> batch_id=-(g+1) (target never existed;
    *      rename failure aborts with sources untouched)
    *   3. only then delete the merged source dirs
    * A crash between 2 and 3 leaves duplicate rows (old + new generation):
    * benign — candidate pairs are distinct()'d and the next compact's
    * dropDuplicates converges the table.
    */
  def compact(spark: SparkSession, workDir: String): Unit = {
    val bandsPath = s"$workDir/bands"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(workDir), spark.sparkContext.hadoopConfiguration)
    // concurrency fence (see class doc): never delete dirs under a running
    // processBatch, and never let one start while we hold the table.
    // Acquire-own-first, then check the peer (mirror of processBatch).
    fs.mkdirs(new org.apache.hadoop.fs.Path(bandsPath))
    acquire(fs, compactLockPath(workDir), "compact")
    try {
      if (fs.exists(ingestLockPath(workDir)))
        throw new IllegalStateException(
          s"compact: ingest in progress (${ingestLockPath(workDir)})")
      // Fold only SINK-COMPLETE batches: a batch id with _SUCCESS in ALL
      // THREE tables. An incomplete batch (processBatch crash mid-write)
      // keeps its dirs so the stream's replay can overwrite them — folding
      // a partial batch would freeze the partial rows into the consolidated
      // generation and the manifest would then veto the repairing replay.
      // When a CLUSTERS table exists, additionally fold only batches the
      // cluster maintenance has INCORPORATED: folding a newer batch would
      // erase its batch_id identity, making updateClusters unable to find
      // its pairs — run updateClusters/clusterSnapshot on the compact
      // cadence to keep the foldable window moving.
      val allComplete = sinkCompleteIds(fs, workDir)
      val haveClusters = fs.exists(new org.apache.hadoop.fs.Path(s"$workDir/clusters/_SUCCESS"))
      val incorporated = readIncorporated(fs, workDir) // hoisted: one read, not one per id
      if (haveClusters && incorporated == Long.MinValue)
        // a clusters table with no (or unreadable) watermark — e.g. written
        // by a pre-watermark snapshot — would gate EVERY fold forever and
        // silently regrow the O(batches) file count; say so instead
        System.err.println(
          s"[graft] compact: clusters table exists but $workDir/clusters/_incorporated " +
            "is missing/unreadable — no NEW batches will fold this run (leftover " +
            "fold-intent ids, if any, are still re-admitted and folded); run " +
            "updateClusters/clusterSnapshot to (re)write the watermark")
      val gated =
        if (haveClusters) allComplete.filter(_ <= incorporated) else allComplete
      // A VALID but STALE watermark is the same silent-regrowth failure the
      // missing-watermark warning above exists for (user compacts but never
      // re-runs cluster maintenance): every newer sink-complete batch is
      // excluded from folding with no signal. Count and say so.
      if (haveClusters && incorporated != Long.MinValue && gated.size < allComplete.size)
        System.err.println(
          s"[graft] compact: ${allComplete.size - gated.size} sink-complete " +
            s"batch(es) not folded — newer than the clusters watermark " +
            s"($incorporated); run updateClusters/clusterSnapshot to advance it")
      // leftover fold intent (a previous compact crashed between per-table
      // folds): those ids were sink-complete then; re-admit them so their
      // surviving dirs fold instead of stranding (see [[foldIntentPath]])
      val complete = gated ++ readFoldIntent(fs, workDir)
      if (complete.nonEmpty)
        writeStateFile(fs, foldIntentPath(workDir),
          complete.toSeq.sorted.mkString(","))
      compactTable(spark, fs, bandsPath, complete) { df =>
        df.select("doc_id", "band_idx", "band_hash", "bh_prefix")
          .dropDuplicates("doc_id", "band_idx") // converges reruns after partial deletes
          .repartitionByRange(col("bh_prefix"))
          .sortWithinPartitions("bh_prefix")
      }
      compactTable(spark, fs, s"$workDir/signatures", complete) { df =>
        // did_prefix is DERIVED from doc_id — recompute instead of trusting
        // the stored column (heals null pre-upgrade rows; see class doc)
        df.select("doc_id", "signature", "bands")
          .dropDuplicates("doc_id")
          .withColumn("did_prefix",
            pmod(col("doc_id"), lit(NumDocPrefixes.toLong)).cast("int"))
          .repartitionByRange(col("did_prefix"))
          .sortWithinPartitions("did_prefix")
      }
      compactTable(spark, fs, s"$workDir/pairs", complete) { df =>
        df.select("doc1", "doc2", "similarity")
          .dropDuplicates("doc1", "doc2")
          .repartitionByRange(col("doc1"), col("doc2"))
          .sortWithinPartitions("doc1", "doc2")
      }
      // Manifest LAST, after every table folded (a throw above leaves the
      // manifest unchanged and all un-folded dirs intact). Monotonic; a
      // sink-complete batch is durable whether or not its fold was skipped
      // by the <=1-dir guard, so recording max(complete) is always safe.
      if (complete.nonEmpty) {
        val newMax = math.max(readMaxFolded(fs, workDir), complete.max)
        writeStateFile(fs, maxFoldedPath(workDir), newMax.toString)
      }
      // all tables folded + manifest durable: the intent journal has served
      fs.delete(foldIntentPath(workDir), false)
    } finally fs.delete(compactLockPath(workDir), false)
  }

  /** One table's merge under the crash-safe staging protocol (steps 1-3 of
    * the [[compact]] doc). Folds previous consolidated generations (negative
    * ids) plus the batches in `foldIds`; other dirs (incomplete batches) are
    * read around and left untouched. `shape` sorts/dedups the union; the
    * result lands under a fresh negative batch_id dir via atomic rename
    * BEFORE any source dir is deleted.
    */
  private def compactTable(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                           tablePath: String, foldIds: Set[Long])
                          (shape: DataFrame => DataFrame): Unit = {
    val dirs = Option(fs.globStatus(new org.apache.hadoop.fs.Path(s"$tablePath/batch_id=*")))
      .map(_.toSeq).getOrElse(Seq.empty)
    val folded = dirs.filter { d =>
      val gen = d.getPath.getName.stripPrefix("batch_id=").toLong
      gen < 0L || foldIds.contains(gen)
    }
    if (folded.size <= 1) return // nothing to merge
    val gens = dirs.map(_.getPath.getName.stripPrefix("batch_id=").toLong)
    val nextGen = math.min(-1L, gens.min - 1L)
    // staging write materializes the merged table; no source dir is touched
    // until the atomic rename has succeeded. The folded dirs are read
    // EXPLICITLY (not the table root) so un-folded batch dirs stay out.
    val staging = s"$tablePath/_compact_staging"
    fs.delete(new org.apache.hadoop.fs.Path(staging), true) // stale crash leftovers
    shape(spark.read.parquet(folded.map(_.getPath.toString): _*))
      .write.mode(SaveMode.Overwrite).parquet(staging)
    val target = new org.apache.hadoop.fs.Path(s"$tablePath/batch_id=$nextGen")
    require(fs.rename(new org.apache.hadoop.fs.Path(staging), target),
      s"compact: rename $staging -> $target failed; source dirs left untouched")
    folded.foreach(d => fs.delete(d.getPath, true))
    ()
  }

  /** On-demand CLUSTER snapshot over the accumulated streaming tables —
    * the consumer view "current duplicate-cluster assignments of every
    * ingested doc", computed with the same pointer-jumping
    * [[ConnectedComponents]] the batch pipeline uses (identical label
    * semantics: cluster_id = component-min doc id) over the durable pairs
    * table and the signatures doc set.
    *
    * Scale shape: O(all pairs) per call by design — this is a MAINTENANCE
    * materialization like [[compact]] (run it on the same cadence), not a
    * per-batch incremental update; CC itself is the O(log D)-round batch
    * operator that already carries the 10^9-edge story. Runs under the
    * compact lock (exclusive vs ingest AND other maintenance), so it reads
    * a consistent table set. The snapshot lands at `workDir/clusters` via
    * the staging->rename protocol; a crash leaves the previous snapshot's
    * dir absent only if it crashed between delete and rename — re-running
    * heals (the snapshot is derived state, never the source of truth).
    *
    * Returns the snapshot DataFrame (doc_id, cluster_id) read back from
    * the committed table.
    */
  def clusterSnapshot(spark: SparkSession, workDir: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(workDir), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$workDir/bands"))
    acquire(fs, compactLockPath(workDir), "clusterSnapshot")
    try {
      if (fs.exists(ingestLockPath(workDir)))
        throw new IllegalStateException(
          s"clusterSnapshot: ingest in progress (${ingestLockPath(workDir)})")
      // read consolidated generations + SINK-COMPLETE batches only: an
      // incomplete trailing batch (mid-crash) may hold truncated files and
      // will be (re)incorporated after its replay completes it. Fold-intent
      // ids are complete by construction (their missing dirs are already in
      // the generations; readableGenPaths keeps only existing ones).
      val complete = sinkCompleteIds(fs, workDir) ++ readFoldIntent(fs, workDir)
      val pairPaths = readableGenPaths(fs, s"$workDir/pairs", complete)
      val sigPaths = readableGenPaths(fs, s"$workDir/signatures", complete)
      val pairs =
        if (pairPaths.isEmpty) emptyPairs(spark).select("doc1", "doc2")
        else spark.read.parquet(pairPaths: _*).select("doc1", "doc2")
      // dropDuplicates: post-compaction-replay convergence can leave
      // transient duplicate signature rows (class doc) — labels need the set
      val docs =
        if (sigPaths.isEmpty) emptyPairs(spark).select(col("doc1").as("doc_id"))
        else spark.read.parquet(sigPaths: _*).select("doc_id").dropDuplicates("doc_id")
      val clusters = graft.operators.ConnectedComponents.cluster(pairs, docs)
      writeClustersStaged(fs, workDir, clusters)
      // a full rebuild supersedes any crashed incremental apply
      fs.delete(applyMarkerPath(workDir), false)
      // meta LAST (see [[clustersMetaPath]]): everything read above —
      // complete positives and previously-folded batches — is incorporated
      val watermark = (complete + readMaxFolded(fs, workDir)).max
      if (watermark > Long.MinValue) writeIncorporated(fs, workDir, watermark)
    } finally fs.delete(compactLockPath(workDir), false)
    readClusters(spark, workDir)
  }

  /** Domain of the `cp` PARTITION column on the clusters table: a label row
    * lives in dir `cp = pmod(cluster_id, NumClusterPrefixes)`. CLUSTER-id
    * prefix, not doc-id prefix, on purpose: the rows an incremental update
    * changes are the docs of MERGED components, which share few cluster ids
    * but have uniformly-spread doc ids — doc-prefix partitioning would make
    * even one 64-doc merge touch every dir, while cluster-prefix bounds the
    * rewritten dirs by the number of merged components. Small enough that
    * each dir holds large multi-row-group files (tiny-dir listing overhead
    * is the trap — see the compaction class doc).
    */
  val NumClusterPrefixes = 16

  private def clusterPrefix(c: org.apache.spark.sql.Column) =
    pmod(c, lit(NumClusterPrefixes.toLong)).cast("int")

  /** Raw labels read — drops the cp partition column so callers (and the
    * pre-partitioned-layout migration path) always see (doc_id, cluster_id).
    * An EMPTY table (a dynamic-partition write of zero labels emits only
    * _SUCCESS, no data files — unreadable by schema inference) comes back
    * as an empty typed frame instead of an AnalysisException.
    */
  private def rawClusters(spark: SparkSession, clustersPath: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(clustersPath), spark.sparkContext.hadoopConfiguration)
    // LOUD for a missing table dir: either a fold's delete->rename swap is
    // mid-flight (retry) or the caller's workDir is wrong — silently
    // returning zero labels would mask both as "no duplicates"
    if (!fs.exists(new org.apache.hadoop.fs.Path(clustersPath)))
      throw new IllegalStateException(
        s"clusters table not found at $clustersPath — a maintenance swap may be " +
          "mid-rename (retry), or the workDir is wrong")
    // emptiness = no DATA FILES (flat or cp-partitioned): a zero-label
    // dynamic write emits only _SUCCESS, and an appendLabels crash between
    // mkdirs and the first file move can leave a file-less cp= dir — both
    // are legitimately empty tables, not readable parquet
    val hasData =
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(s"$clustersPath/*.parquet")))
        .exists(_.nonEmpty) ||
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(s"$clustersPath/cp=*/*.parquet")))
          .exists(_.nonEmpty)
    if (!hasData) {
      import spark.implicits._
      Seq.empty[(Long, Long)].toDF("doc_id", "cluster_id")
    } else spark.read.parquet(clustersPath).select("doc_id", "cluster_id")
  }

  /** The committed cluster labels. If a crashed [[updateClusters]] apply
    * left the table mid-remap (marker present), transient states are
    * resolved per doc by MIN label — exact, because a remap's new root is
    * its merged component's minimum (CC roots are minima), so
    * min(old_root, new_root) == new_root always.
    *
    * Completeness under the marker needs one more source (ADVICE r5): a
    * crash between a removal-phase dir DELETE and its stage rename leaves
    * that dir's keep-rows ONLY in the removal stage — min-resolving the
    * table alone would silently drop those docs until the next heal. A
    * COMPLETE stage (root _SUCCESS — the same gate [[healPendingApply]]
    * salvages by) is therefore unioned into the resolve: stage rows are the
    * post-removal content of their dirs, so for every crash state
    * raw ∪ stage covers every doc and min() picks its final label (dual
    * rows carry old-vs-new roots; new roots are minima). A stage without
    * _SUCCESS never swapped anything — the table alone is complete.
    */
  def readClusters(spark: SparkSession, workDir: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(workDir), spark.sparkContext.hadoopConfiguration)
    val raw = rawClusters(spark, s"$workDir/clusters")
    if (fs.exists(applyMarkerPath(workDir))) {
      val stage = removalStagePath(workDir)
      val withStage =
        if (fs.exists(new org.apache.hadoop.fs.Path(s"$stage/_SUCCESS")))
          raw.union(rawClusters(spark, stage.toString))
        else raw
      withStage.groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
    } else raw
  }

  /** Whole-table staged replace in the cp-partitioned layout, preserving
    * the `_incorporated` watermark across the dir swap (it lives INSIDE the
    * table dir; the delete below would otherwise drop it).
    */
  private def writeClustersStaged(fs: org.apache.hadoop.fs.FileSystem,
                                  workDir: String, labels: DataFrame): Unit = {
    val target = new org.apache.hadoop.fs.Path(s"$workDir/clusters")
    val staging = new org.apache.hadoop.fs.Path(s"$workDir/_clusters_staging")
    fs.delete(staging, true)
    // range-repartition on (cp, doc_id) before the dynamic-partition write:
    // without it every task writes into every cp dir (tasks x 16 tiny
    // files); with it each shuffle partition covers a contiguous (cp, doc)
    // range, so the file count stays ~shuffle-width regardless of cp fanout
    labels.select(col("doc_id"), col("cluster_id"),
        clusterPrefix(col("cluster_id")).as("cp"))
      .repartitionByRange(col("cp"), col("doc_id"))
      .write.mode(SaveMode.Overwrite).partitionBy("cp").parquet(staging.toString)
    val wm = readIncorporated(fs, workDir)
    fs.delete(target, true)
    require(fs.rename(staging, target),
      s"writeClustersStaged: rename $staging -> $target failed")
    if (wm != Long.MinValue) writeIncorporated(fs, workDir, wm)
  }

  /** FLOOR on the label-file count before [[updateClusters]] folds the
    * clusters table into one fresh generation. Append-only ticks add ~1
    * file per touched cp dir per tick and nothing else ever consolidates
    * labels (compact() folds only the three ingest tables) — unbounded, a
    * long trickle stream would recreate the tiny-file pathology the ingest
    * compaction exists to prevent. The EFFECTIVE ceiling is
    * max(this, 4 x session shuffle width): the fold's own staged write
    * lands at ~shuffle-width files, so a fixed ceiling below what a fold
    * can achieve would re-trigger a full table rewrite on EVERY tick on a
    * wide session — the opposite of the amortized-O(1) intent.
    */
  val MaxClusterLabelFiles = 256

  private[graft] def maybeCompactClusterFiles(
      spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      workDir: String, ceiling: Int = -1): Unit = {
    val clustersPath = s"$workDir/clusters"
    val width =
      try spark.conf.get("spark.sql.shuffle.partitions").toInt catch { case _: Exception => 200 }
    val effCeiling =
      if (ceiling >= 0) ceiling else math.max(MaxClusterLabelFiles, 4 * width)
    val dirs = Option(fs.globStatus(new org.apache.hadoop.fs.Path(s"$clustersPath/cp=*")))
      .map(_.toSeq).getOrElse(Seq.empty)
    val nFiles = dirs.map(d =>
      fs.listStatus(d.getPath).count(_.getPath.getName.endsWith(".parquet"))).sum
    if (nFiles <= effCeiling) return
    System.err.println(
      s"[graft] updateClusters: folding $nFiles label files into one generation")
    writeClustersStaged(fs, workDir, rawClusters(spark, clustersPath))
    spark.catalog.refreshByPath(clustersPath)
  }

  /** Marker for an in-flight (or crashed) incremental remap apply. While it
    * exists, the table may hold transient dual/partial rows; [[readClusters]]
    * resolves them by min and [[healPendingApply]] converges the files.
    * Lives inside the clusters dir (underscore => invisible to reads).
    */
  private def applyMarkerPath(workDir: String) =
    new org.apache.hadoop.fs.Path(s"$workDir/clusters/_apply_in_progress")

  private def removalStagePath(workDir: String) =
    new org.apache.hadoop.fs.Path(s"$workDir/_labels_removal_stage")

  private def appendStagePath(workDir: String) =
    new org.apache.hadoop.fs.Path(s"$workDir/_labels_append_stage")

  /** Append label rows into their cp dirs WITHOUT touching existing files:
    * stage a partitioned write, then move the part files in. Crash-safe
    * with no journal of its own: callers advance the watermark only after
    * the move, and recomputation anti-joins against the (partially
    * appended) labels, so a replay adds exactly the missing rows.
    */
  private def appendLabels(fs: org.apache.hadoop.fs.FileSystem,
                           workDir: String, rows: DataFrame): Unit = {
    val stage = appendStagePath(workDir)
    fs.delete(stage, true)
    // repartition by cp: ONE file per destination dir per tick, not
    // tasks x 16 — the trickle path appends every maintenance tick, so
    // per-tick file creation must be O(touched dirs)
    rows.select(col("doc_id"), col("cluster_id"),
        clusterPrefix(col("cluster_id")).as("cp"))
      .repartition(col("cp"))
      .write.mode(SaveMode.Overwrite).partitionBy("cp").parquet(stage.toString)
    val table = new org.apache.hadoop.fs.Path(s"$workDir/clusters")
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(s"$stage/cp=*")))
      .map(_.toSeq).getOrElse(Seq.empty)
      .foreach { d =>
        val dest = new org.apache.hadoop.fs.Path(table, d.getPath.getName)
        fs.mkdirs(dest)
        fs.listStatus(d.getPath).foreach { f =>
          val n = f.getPath.getName
          // part-file names carry a per-job UUID — no collision with the
          // dest dir's existing files
          if (!n.startsWith("_") && !n.startsWith("."))
            require(fs.rename(f.getPath, new org.apache.hadoop.fs.Path(dest, n)),
              s"appendLabels: move ${f.getPath} -> $dest failed")
        }
      }
    fs.delete(stage, true)
  }

  /** Converge a crashed incremental apply (marker present) before touching
    * the table again. Two steps, both idempotent:
    *
    *   1. salvage a COMPLETE removal stage (root _SUCCESS): a crash between
    *      per-dir swaps can leave a dir's only copy of its keep-rows in the
    *      stage — finish those swaps (the stage copy, built after the
    *      append phase, is authoritative for its dir either way). A stage
    *      without _SUCCESS never swapped anything and is discarded.
    *   2. full min-resolve rewrite: per doc the MIN label wins (exact — new
    *      roots are component minima, see [[readClusters]]), restoring the
    *      one-row-per-doc + layout invariants in one staged pass.
    *
    * The watermark is NOT advanced here: the interrupted tick's batches
    * re-incorporate on the caller's recompute, which is correct from any
    * min-resolved intermediate state — every merge-causing pair is still
    * unfolded (compact gates folding on the watermark), and incremental CC
    * is correct from any valid coarser partition of the final components.
    * Rare path (post-crash only); the full pass is the price of the heal,
    * not of the steady state.
    */
  private def healPendingApply(spark: SparkSession,
                               fs: org.apache.hadoop.fs.FileSystem,
                               workDir: String): Unit = {
    val marker = applyMarkerPath(workDir)
    if (!fs.exists(marker)) return
    System.err.println(
      s"[graft] updateClusters: healing a crashed remap apply in $workDir/clusters")
    val clustersPath = s"$workDir/clusters"
    val stage = removalStagePath(workDir)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$stage/_SUCCESS"))) {
      Option(fs.globStatus(new org.apache.hadoop.fs.Path(s"$stage/cp=*")))
        .map(_.toSeq).getOrElse(Seq.empty)
        .foreach { d =>
          val dst = new org.apache.hadoop.fs.Path(s"$clustersPath/${d.getPath.getName}")
          fs.delete(dst, true)
          require(fs.rename(d.getPath, dst),
            s"healPendingApply: rename ${d.getPath} -> $dst failed")
        }
    }
    fs.delete(stage, true)
    fs.delete(appendStagePath(workDir), true)
    val resolved = rawClusters(spark, clustersPath)
      .groupBy("doc_id").agg(min("cluster_id").as("cluster_id"))
    writeClustersStaged(fs, workDir, resolved)
    fs.delete(marker, false)
  }

  /** One-time upgrade of a pre-partitioned-layout (flat-file) clusters
    * table into the cp-partitioned layout. No-op once cp dirs exist.
    */
  private def migrateLayoutIfFlat(spark: SparkSession,
                                  fs: org.apache.hadoop.fs.FileSystem,
                                  workDir: String): Unit = {
    val clustersPath = s"$workDir/clusters"
    val hasDirs = Option(
      fs.globStatus(new org.apache.hadoop.fs.Path(s"$clustersPath/cp=*")))
      .exists(_.nonEmpty)
    val hasFlatFiles = Option(
      fs.globStatus(new org.apache.hadoop.fs.Path(s"$clustersPath/part-*")))
      .exists(_.nonEmpty)
    if (hasDirs || !hasFlatFiles) return
    System.err.println(
      s"[graft] updateClusters: migrating $clustersPath to the cp-partitioned layout")
    writeClustersStaged(fs, workDir, rawClusters(spark, clustersPath))
  }

  /** High-water mark of pairs batch ids already incorporated into the
    * clusters table (underscore file inside the clusters dir — invisible
    * to parquet reads). Written LAST by [[clusterSnapshot]]/
    * [[updateClusters]]: a crash after the table rename but before the
    * meta write makes the next update re-incorporate already-merged
    * batches, which is a no-op by construction (their contracted edges
    * collapse to self-loops and their docs are already labeled).
    */
  private def clustersMetaPath(workDir: String) =
    new org.apache.hadoop.fs.Path(s"$workDir/clusters/_incorporated")

  private def readIncorporated(fs: org.apache.hadoop.fs.FileSystem,
                               workDir: String): Long =
    readStateFile(fs, clustersMetaPath(workDir))
      .flatMap(_.toLongOption).getOrElse(Long.MinValue)

  private def writeIncorporated(fs: org.apache.hadoop.fs.FileSystem,
                                workDir: String, v: Long): Unit =
    writeStateFile(fs, clustersMetaPath(workDir), v.toString)

  /** Positive batch ids present under a table. */
  private def positiveBatchIds(fs: org.apache.hadoop.fs.FileSystem,
                               tablePath: String): Seq[Long] =
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(s"$tablePath/batch_id=*")))
      .map(_.toSeq).getOrElse(Seq.empty)
      .map(_.getPath.getName.stripPrefix("batch_id=").toLong)
      .filter(_ >= 0L)

  /** SINK-COMPLETE batch ids: _SUCCESS present in ALL THREE tables. The
    * shared eligibility rule for folding ([[compact]]) and cluster
    * incorporation ([[clusterSnapshot]]/[[updateClusters]]) — an
    * incomplete (mid-crash) trailing batch is skipped by both and picked
    * up after its replay completes it.
    */
  private def sinkCompleteIds(fs: org.apache.hadoop.fs.FileSystem,
                              workDir: String): Set[Long] =
    Seq(s"$workDir/bands", s"$workDir/signatures", s"$workDir/pairs")
      .map { t =>
        positiveBatchIds(fs, t).filter(id =>
          fs.exists(new org.apache.hadoop.fs.Path(s"$t/batch_id=$id/_SUCCESS"))).toSet
      }
      .reduce(_ intersect _)

  /** Generation dirs to read for a table: consolidated (negative) plus the
    * given positive ids — never a possibly-truncated incomplete dir.
    */
  private def readableGenPaths(fs: org.apache.hadoop.fs.FileSystem,
                               tablePath: String, positives: Set[Long]): Seq[String] =
    Option(fs.globStatus(new org.apache.hadoop.fs.Path(s"$tablePath/batch_id=*")))
      .map(_.toSeq).getOrElse(Seq.empty)
      .filter { d =>
        val gen = d.getPath.getName.stripPrefix("batch_id=").toLong
        gen < 0L || positives.contains(gen)
      }
      .map(_.getPath.toString)

  /** INCREMENTAL cluster maintenance — the bounded-work alternative to
    * re-running [[clusterSnapshot]]'s full CC over all pairs:
    *
    *   1. read only the pairs batch dirs NEWER than the incorporated
    *      high-water mark (compact never folds those — see [[compact]])
    *   2. contract each new pair through the existing labels: an already-
    *      labeled endpoint is replaced by its component ROOT (the root IS
    *      the component min, so minima are preserved under contraction)
    *   3. run the pointer-jumping CC on the contracted graph — O(new
    *      pairs) nodes/edges, NOT O(all pairs)
    *   4. remap old roots that merged (tiny broadcast join against the
    *      labels table) and append labels for the new batches' docs
    *
    * Per-update cost: O(new pairs) CC + a labels WRITE bounded by the
    * changed rows, not the table:
    *
    *   - no merges (the common trickle tick): remap is empty — the table
    *     is untouched and only the new docs' labels are APPENDED
    *     ([[appendLabels]]): O(new docs) bytes written.
    *   - merges: labels are cp-partitioned by CLUSTER-id prefix
    *     ([[NumClusterPrefixes]]), so the changed rows (docs of merged
    *     components) concentrate in the dirs of the merged OLD roots.
    *     Apply = marker, then APPEND the remapped rows + new labels into
    *     their new clusters' dirs, then per-dir staged REPLACE of only the
    *     affected old-root dirs: bytes written = O(affected dirs), not
    *     O(table). A crash mid-apply leaves transient dual rows that
    *     resolve exactly by min label ([[readClusters]]) and are converged
    *     by [[healPendingApply]] on the next tick.
    *
    * At 10^9 docs the full-rewrite alternative is a ~16 GB table pass +
    * write per tick — this bounds it to the merged components' dirs. The
    * labels READ side (contraction joins + the new-doc anti-join) still
    * scans the table; that is a columnar read, not a rewrite.
    *
    * First call (no clusters table) delegates to [[clusterSnapshot]].
    * Idempotent: re-incorporating an already-merged batch produces only
    * self-loop contracted edges and already-present labels. Runs under
    * the maintenance fence. Returns the refreshed labels table.
    */
  def updateClusters(spark: SparkSession, workDir: String): DataFrame = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(workDir), spark.sparkContext.hadoopConfiguration)
    val clustersPath = s"$workDir/clusters"
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$clustersPath/_SUCCESS")))
      return clusterSnapshot(spark, workDir)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$workDir/bands"))
    acquire(fs, compactLockPath(workDir), "updateClusters")
    try {
      if (fs.exists(ingestLockPath(workDir)))
        throw new IllegalStateException(
          s"updateClusters: ingest in progress (${ingestLockPath(workDir)})")
      healPendingApply(spark, fs, workDir)
      migrateLayoutIfFlat(spark, fs, workDir)
      val incorporated = readIncorporated(fs, workDir)
      // only SINK-COMPLETE new batches (same eligibility as compact): the
      // complete-in-all-tables rule guarantees both the pairs AND the
      // signatures dirs below exist for every id in the set. (Fold-intent
      // ids cannot appear here: with a clusters table present, compact
      // folds only ids <= the watermark.)
      val newIds = sinkCompleteIds(fs, workDir).filter(_ > incorporated).toSeq.sorted
      if (newIds.isEmpty) return rawClusters(spark, clustersPath)
      val labels = rawClusters(spark, clustersPath)
      // read the dirs DIRECTLY — sinkCompleteIds just verified _SUCCESS in
      // each, under the maintenance lock. A dir vanishing here is external
      // interference and must fail LOUDLY: silently skipping it while
      // still advancing the watermark below would exclude its pairs from
      // clustering forever (compact would fold the batch away).
      val newPairs = spark.read.parquet(
          newIds.map(id => s"$workDir/pairs/batch_id=$id"): _*)
        .select(col("doc1"), col("doc2"))
      // 2: contract through existing labels (missing => the doc is its own
      // root). Two hash joins against the labels table.
      val l1 = labels.select(col("doc_id").as("doc1"), col("cluster_id").as("c1"))
      val l2 = labels.select(col("doc_id").as("doc2"), col("cluster_id").as("c2"))
      // persisted: the contracted table feeds CC, its node derivation, and
      // (transitively) both the remap and new-label branches — un-persisted
      // the newPairs+labels joins would re-run per consumer (CLAUDE.md
      // self-join sharp edge)
      val contracted = newPairs
        .join(l1, Seq("doc1"), "left").join(l2, Seq("doc2"), "left")
        .select(coalesce(col("c1"), col("doc1")).as("doc1"),
          coalesce(col("c2"), col("doc2")).as("doc2"))
        .filter(col("doc1") =!= col("doc2"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var remapHandle: Option[DataFrame] = None
      try {
      // 3: CC on the contracted graph — nodes are old roots + new docs;
      // an old root is its component's min, so the contracted component
      // min IS the true merged-component min
      val nodes = contracted.select(col("doc1").as("doc_id"))
        .union(contracted.select(col("doc2").as("doc_id"))).distinct()
      val merged = graft.operators.ConnectedComponents.cluster(contracted, nodes)
      // 4a: remap of old roots that changed — usually bounded by the
      // contracted graph's node count, but adversarially O(merged old
      // components) (one boilerplate doc pairing with millions of
      // singleton-cluster history docs), so the broadcast hint is
      // SIZE-GATED exactly like processBatch's candidate semi-join —
      // above the gate AQE plans a plain shuffle join
      val remap = merged
        .join(labels.select(col("cluster_id").as("doc_id")).distinct(), Seq("doc_id"), "left_semi")
        .filter(col("doc_id") =!= col("cluster_id"))
        .select(col("doc_id").as("old_root"), col("cluster_id").as("new_root"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      remapHandle = Some(remap)
      val remapCount = remap.count()
      val remapSide =
        if (remapCount <= MaxBroadcastCandIds) broadcast(remap) else remap
      // 4b: labels for the new batches' docs (signature dirs carry exactly
      // the docs signed in those batches): component root if the doc hit
      // the contracted graph, else itself (singleton) — minus docs already
      // labeled (idempotent re-incorporation)
      val newDocs = spark.read.parquet(
          newIds.map(id => s"$workDir/signatures/batch_id=$id"): _*)
        .select("doc_id").dropDuplicates("doc_id")
        .join(labels.select("doc_id"), Seq("doc_id"), "left_anti")
      val newLabels = newDocs.alias("d")
        .join(merged.alias("m"), col("d.doc_id") === col("m.doc_id"), "left")
        .select(col("d.doc_id").as("doc_id"),
          coalesce(col("m.cluster_id"), col("d.doc_id")).as("cluster_id"))
      if (remapCount == 0L) {
        // APPEND-ONLY tick (nothing merged — the common trickle case): the
        // table is untouched; only the new docs' labels are appended.
        // O(new docs) bytes written, never a table rewrite.
        appendLabels(fs, workDir, newLabels)
      } else {
        // affected dirs = cluster prefixes of the merged OLD roots —
        // bounded collect (<= NumClusterPrefixes ints)
        val affected = remap
          .select(clusterPrefix(col("old_root")).as("cp")).distinct()
          .collect().map(_.getInt(0)).sorted
        // marker FIRST: every state below is convergent — transient dual
        // rows resolve by min label (readClusters) and healPendingApply
        // re-converges the files after a crash
        writeStateFile(fs, applyMarkerPath(workDir), affected.mkString(","))
        val affectedPaths = affected.map(k => s"$clustersPath/cp=$k")
          .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
        // phase 1 — APPEND: rows leaving the affected dirs (cluster_id
        // remapped to the merged root) land in their new cluster's dir,
        // together with the new batches' labels. Appends run BEFORE any
        // removal so no row is ever without a durable copy.
        val moved =
          if (affectedPaths.isEmpty) newLabels.limit(0)
          else spark.read.parquet(affectedPaths: _*)
            .join(remapSide, col("cluster_id") === col("old_root"))
            .select(col("doc_id"), col("new_root").as("cluster_id"))
        appendLabels(fs, workDir, moved.union(newLabels))
        // the phase-2 re-read below must see the files just moved in —
        // drop any cached listing for the table path
        spark.catalog.refreshByPath(clustersPath)
        // phase 2 — REMOVE: staged rewrite of ONLY the affected dirs
        // without the moved rows (keep-rows stay in their dir: their
        // cluster ids are unchanged, so their prefix is unchanged), then
        // per-dir swap. The stage root's _SUCCESS is durable before any
        // source dir is touched — healPendingApply's salvage relies on it.
        val stage = removalStagePath(workDir)
        fs.delete(stage, true)
        if (affectedPaths.nonEmpty) {
          val keep = spark.read.parquet(affectedPaths: _*)
            .join(remapSide, col("cluster_id") === col("old_root"), "left_anti")
          keep.select(col("doc_id"), col("cluster_id"),
              clusterPrefix(col("cluster_id")).as("cp"))
            .repartition(col("cp")) // one file per rewritten dir
            .write.mode(SaveMode.Overwrite).partitionBy("cp").parquet(stage.toString)
          affected.foreach { k =>
            val src = new org.apache.hadoop.fs.Path(s"$stage/cp=$k")
            val dst = new org.apache.hadoop.fs.Path(s"$clustersPath/cp=$k")
            fs.delete(dst, true)
            // a missing stage subdir = every row of the dir moved out; the
            // delete IS the replace
            if (fs.exists(src))
              require(fs.rename(src, dst),
                s"updateClusters: rename $src -> $dst failed")
          }
        }
        fs.delete(stage, true)
        fs.delete(applyMarkerPath(workDir), false)
        spark.catalog.refreshByPath(clustersPath)
      }
      writeIncorporated(fs, workDir, newIds.max)
      // label-file hygiene (still under the maintenance lock): fold the
      // table once the accumulated append files cross the ceiling
      maybeCompactClusterFiles(spark, fs, workDir)
      ()
      } finally {
        remapHandle.foreach(_.unpersist())
        contracted.unpersist()
      }
    } finally fs.delete(compactLockPath(workDir), false)
    readClusters(spark, workDir)
  }

  /** Start the streaming dedup job. Tables live under `workDir`:
    * signatures/, bands/, pairs/ — all append-only via batchId-keyed
    * partition dirs. Returns the query; callers drive it with
    * processAllAvailable() (tests) or awaitTermination.
    */
  /** Ceiling on CONSECUTIVE self-maintenance failures before the stream is
    * killed instead of deferring again. One failure is deferrable (lock
    * contention with an external maintenance run, transient IO) and must
    * not take the ingest down; a PERSISTENT failure — a ConnectedComponents
    * non-convergence throw out of updateClusters, a wedged lock — would
    * otherwise leave cluster labels stale and gate compaction forever
    * (watermark never advances, file counts regrow O(batches)) while the
    * stream reports healthy. Three strikes, then the correctness-first
    * invariant wins: throw.
    */
  val MaxConsecutiveMaintenanceFailures = 3

  /** @param maintainEvery when set, the stream is SELF-MAINTAINING: after
    *   every N-th committed batch the foreachBatch callback (batches are
    *   sequential, so this point is quiesced by construction — both locks
    *   are free) runs [[updateClusters]] (incremental labels, which also
    *   advances the fold watermark) followed by [[compact]]. A maintenance
    *   failure is logged and deferred to the next cadence point — but only
    *   [[MaxConsecutiveMaintenanceFailures]] times in a row: a persistent
    *   failure rethrows and kills the stream (see the constant's doc).
    * @param starCapBucketSize intra-batch LSH bucket star cap, threaded to
    *   [[processBatch]] — None = exact full-clique parity mode.
    */
  /** Seed a streaming workDir from a completed BATCH dedup run, so a
    * finished corpus-wide batch job (e.g. a 100 TB CheckpointedPipeline
    * run) can continue INCREMENTALLY instead of re-signing its whole
    * history through the stream: subsequent [[processBatch]] calls dedup
    * new docs against the seeded signatures/bands exactly as they would
    * against stream-ingested history.
    *
    * The batch tables are written as ONE consolidated generation
    * (`batch_id=-1` in all three tables — the layout [[compact]] itself
    * produces), with the per-table sort/prune columns recomputed here
    * (bh_prefix on bands, did_prefix on signatures) so the history-scan
    * row-group skipping works from the first streamed batch:
    *   - bands are DERIVED from the signatures' band arrays (the caller
    *     supplies only signatures + pairs)
    *   - the `_max_folded_batch` manifest is NOT written: stream batch ids
    *     start at 0 and a seeded manifest would veto them as replays
    *   - the clusters table is NOT seeded: the first
    *     [[updateClusters]]/[[clusterSnapshot]] tick does a full build over
    *     generations + complete batches, which includes the seeded pairs —
    *     exactly the first-tick path of a from-scratch stream
    *
    * Refuses to touch a LIVE streaming workDir (existing checkpoint,
    * positive batch dirs, or clusters table); over a previous crashed or
    * re-run bootstrap (only `batch_id=-1` generation dirs) it is
    * idempotent — the Overwrite re-writes the generation.
    *
    * @param signatures (doc_id, signature, bands) — the batch pipeline's
    *                   signatures table (MinHashPipeline.signatures /
    *                   CheckpointedPipeline's signatures stage)
    * @param pairs      (doc1, doc2, similarity) — the batch run's accepted
    *                   dup pairs at the SAME config the stream will use
    *                   (a config drift would make seeded and streamed
    *                   similarities incomparable)
    */
  def bootstrap(spark: SparkSession, workDir: String,
                signatures: DataFrame, pairs: DataFrame): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(workDir), spark.sparkContext.hadoopConfiguration)
    Seq("doc_id", "signature", "bands").foreach(c => require(
      signatures.columns.contains(c), s"bootstrap: signatures lacks column $c"))
    Seq("doc1", "doc2", "similarity").foreach(c => require(
      pairs.columns.contains(c), s"bootstrap: pairs lacks column $c"))
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$workDir/_stream_checkpoint")))
      throw new IllegalStateException(
        s"bootstrap: $workDir already carries a stream checkpoint — seeding " +
          "under a live stream would fork its history; use a fresh workDir")
    Seq("bands", "signatures", "pairs").foreach { t =>
      val pos = positiveBatchIds(fs, s"$workDir/$t")
      if (pos.nonEmpty)
        throw new IllegalStateException(
          s"bootstrap: $workDir/$t already holds streamed batches " +
            s"(${pos.sorted.mkString(",")}) — bootstrap seeds only fresh workDirs")
    }
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$workDir/clusters")))
      throw new IllegalStateException(
        s"bootstrap: $workDir/clusters exists — a labels table from another " +
          "run would carry a watermark inconsistent with the seeded generation")
    val sigs = signatures.select(
      col("doc_id").cast("long"), col("signature"), col("bands"))
    // identical shapes to compact()'s generation writes: sorted + pruned
    // history from the very first streamed batch
    sigs
      .dropDuplicates("doc_id")
      .withColumn("did_prefix",
        pmod(col("doc_id"), lit(NumDocPrefixes.toLong)).cast("int"))
      .repartitionByRange(col("did_prefix"))
      .sortWithinPartitions("did_prefix")
      .write.mode(SaveMode.Overwrite).parquet(s"$workDir/signatures/batch_id=-1")
    MinHashPipeline.bandBuckets(sigs)
      .withColumn("bh_prefix", pmod(col("band_hash"), lit(NumBandPrefixes)))
      .select("doc_id", "band_idx", "band_hash", "bh_prefix")
      .dropDuplicates("doc_id", "band_idx")
      .repartitionByRange(col("bh_prefix"))
      .sortWithinPartitions("bh_prefix")
      .write.mode(SaveMode.Overwrite).parquet(s"$workDir/bands/batch_id=-1")
    pairs.select(col("doc1").cast("long"), col("doc2").cast("long"),
        col("similarity").cast("double"))
      .dropDuplicates("doc1", "doc2")
      .repartitionByRange(col("doc1"), col("doc2"))
      .sortWithinPartitions("doc1", "doc2")
      .write.mode(SaveMode.Overwrite).parquet(s"$workDir/pairs/batch_id=-1")
  }

  def start(spark: SparkSession, inputDir: String, workDir: String,
            cfg: MinHashConfig,
            maintainEvery: Option[Int] = None,
            starCapBucketSize: Option[Int] = Some(DefaultStreamStarCap)): StreamingQuery = {
    maintainEvery.foreach(n => require(n > 0, s"maintainEvery must be positive: $n"))
    val stream = spark.readStream
      .schema(inputSchema)
      .option("maxFilesPerTrigger", "16")
      .parquet(inputDir)

    val consecutiveFailures = new java.util.concurrent.atomic.AtomicInteger(0)
    stream.writeStream
      .option("checkpointLocation", s"$workDir/_stream_checkpoint")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, batch, batchId, workDir, cfg, starCapBucketSize)
        maintainEvery.foreach { n =>
          if ((batchId + 1) % n == 0)
            try {
              updateClusters(spark, workDir)
              compact(spark, workDir)
              consecutiveFailures.set(0)
            } catch {
              case e: Exception =>
                val strikes = consecutiveFailures.incrementAndGet()
                if (strikes >= MaxConsecutiveMaintenanceFailures)
                  throw new IllegalStateException(
                    s"maintenance failed $strikes consecutive times — not " +
                      "deferrable (stale labels would gate compaction forever); " +
                      s"last failure after batch $batchId", e)
                System.err.println(
                  s"[graft] maintenance after batch $batchId failed " +
                    s"($strikes/$MaxConsecutiveMaintenanceFailures consecutive; " +
                    s"will retry at the next cadence point): $e")
            }
        }
      }
      .start()
  }
}
