package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reusable stage-table protocol behind every resumable pipeline in the
  * engine (the reference dedup pipeline via [[CheckpointedPipeline]], the
  * composed cleaning recipe via `CleanPipeline.runCheckpointed`).
  *
  * "Iceberg emulation" (SURVEY.md §1.4 — no Iceberg runtime in
  * /opt/spark/jars): each stage is a Parquet table under
  * `workDir/<stage>/`, committed atomically by Spark's _SUCCESS marker,
  * tagged by a `_graft_tag` file holding the full identity of its contents
  * (input fingerprint + the config parameters the stage depends on). On a
  * rerun, a stage whose table is committed AND whose tag matches the
  * current run is read back instead of recomputed — the job resumes
  * mid-pipeline after failure. The `_metrics` table accumulates
  * (stage, partition_id, rows, input_fingerprint, config, ts_ns) lineage
  * rows appended per completed stage. Those rows come from the parquet
  * footers of the files the stage's write committed and are appended by
  * the driver, so a commit is one write job and starts no job over the
  * stage table. `partition_id` is the partition of the writer task that wrote
  * the file (rows that older versions appended to an existing work dir
  * carry the split of a read-back scan instead).
  *
  * Tag-vs-history rationale (inherited from CheckpointedPipeline): the tag
  * identifies the CURRENT contents of a stage table. Checking the _metrics
  * history instead would be wrong — a stage overwritten under config B
  * still has config-A rows in the history, and a resume under config A
  * must NOT reuse the config-B table.
  */
class StageStore(spark: SparkSession, workDir: String) {
  import CheckpointedPipeline.StageLog
  import StageStore.{LineageRow, MetricsSchema}

  private val fs = org.apache.hadoop.fs.FileSystem.get(
    new java.net.URI(workDir), spark.sparkContext.hadoopConfiguration)

  def stagePath(stage: String): String = s"$workDir/$stage"
  private def metricsPath = s"$workDir/_metrics"

  private def committed(stage: String): Boolean =
    fs.exists(new org.apache.hadoop.fs.Path(s"${stagePath(stage)}/_SUCCESS"))

  private def tagPath(stage: String) =
    new org.apache.hadoop.fs.Path(s"${stagePath(stage)}/_graft_tag")

  private def writeTag(stage: String, tag: String): Unit = {
    val out = fs.create(tagPath(stage), true)
    out.write(tag.getBytes("UTF-8"))
    out.close()
  }

  private def tagMatches(stage: String, tag: String): Boolean = {
    if (!fs.exists(tagPath(stage))) return false
    val in = fs.open(tagPath(stage))
    val content = new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
    in.close()
    content == tag
  }

  /** Append one lineage row per writer partition of the committed stage
    * table. Counts come from the part files' parquet footers, read on the
    * driver: one open plus a footer read per file (~0.3 ms on a local disk,
    * measured over 64 files; one or two small ranged reads on an object
    * store), and the file count of a stage table is the task count of its
    * write. No Spark job runs over the table. A task writes one file unless
    * `maxRecordsPerFile` splits it, so counts are summed per partition; an
    * empty stage still has the one file Spark writes to carry its schema
    * and gets a `rows = 0` row.
    */
  private def appendMetrics(stage: String, fp: String, config: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    // options from the session's conf: without them each open builds a
    // default Hadoop Configuration, ~11 ms per file against ~0.3 ms
    val options = HadoopReadOptions.builder(conf).build()
    val PartFile = """part-(\d+)-.*""".r
    val rowsByPartition = fs.listStatus(new Path(stagePath(stage))).toSeq
      .flatMap { st =>
        st.getPath.getName match {
          case PartFile(pid) =>
            val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf), options)
            try Some(pid.toInt -> reader.getRecordCount) finally reader.close()
          case _ => None
        }
      }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val ts = System.nanoTime()
    appendLineage(rowsByPartition.toSeq.sortBy(_._1).map { case (pid, n) =>
      LineageRow(stage, pid, n, fp, config, ts)
    })
  }

  /** Append rows to `_metrics` as one parquet file written by the driver.
    * A local frame's `write` would be a Spark job with its commit protocol
    * (~120 ms per append measured warm on 4 cores, against ~10 ms here).
    * The file is written under a `_`-prefixed name that readers skip and
    * renamed into place, so a reader sees all of its rows or none. Per-call
    * values such as `ts_ns` never enter a Spark plan, where a long literal
    * would be inlined into generated code and compile a new class per call.
    */
  private def appendLineage(rows: Seq[LineageRow]): Unit = {
    val id = java.util.UUID.randomUUID()
    val tmp = new Path(s"$metricsPath/_tmp-$id.parquet")
    val factory = new SimpleGroupFactory(MetricsSchema)
    val writer = ExampleParquetWriter.builder(tmp)
      .withConf(spark.sparkContext.hadoopConfiguration).withType(MetricsSchema).build()
    try rows.foreach { r =>
      writer.write(factory.newGroup()
        .append("stage", r.stage).append("partition_id", r.partitionId).append("rows", r.rows)
        .append("input_fingerprint", r.fp).append("config", r.config).append("ts_ns", r.tsNs))
    } finally writer.close()
    val dst = new Path(s"$metricsPath/part-$id.parquet")
    if (!fs.rename(tmp, dst)) throw new java.io.IOException(s"could not commit $tmp as $dst")
  }

  /** Run (or resume) one stage. `fp` and `config` together form the tag
    * (written as `"$fp|$config"`, the historical on-disk format): if the
    * stage table is committed with a matching tag, read it back; otherwise
    * evaluate `compute`, write the table, record lineage metrics, and tag
    * it. Tag is written LAST — a crash in between leaves no tag, so the
    * stage recomputes (safe).
    */
  def stage(name: String, fp: String, config: String, executed: StageLog)
           (compute: => DataFrame): DataFrame = {
    val tag = s"$fp|$config"
    if (committed(name) && tagMatches(name, tag)) {
      executed.skipped += name
      spark.read.parquet(stagePath(name))
    } else {
      val df = compute
      df.write.mode(SaveMode.Overwrite).parquet(stagePath(name))
      // the known schema: no schema-inference job over the new files
      val written = spark.read.schema(df.schema).parquet(stagePath(name))
      // lineage first, tag last: a tag implies table + metrics both durable
      appendMetrics(name, fp, config)
      writeTag(name, tag)
      executed.computed += name
      written
    }
  }

  def metrics: DataFrame = spark.read.parquet(metricsPath)

  /** A scalar input-row count cached in the `_metrics` lineage, keyed by
    * the input fingerprint (stage = `name`, partition_id = -1). The input
    * frame is the one frame with no committed stage table behind it — on a
    * fully-resumed run, re-counting it would re-execute the whole input
    * subtree (a synth-corpus or projection pass) just for a metadata
    * number. Compute once per fingerprint, read back ever after. The count
    * is a function of the input identity alone, so the lookup ignores
    * `config` (recorded for lineage only).
    */
  def cachedInputCount(name: String, fp: String, config: String)
                      (compute: => Long): Long = {
    val existing =
      try spark.read.parquet(metricsPath)
        .filter(col("stage") === name && col("input_fingerprint") === fp)
        .orderBy(col("ts_ns").desc)
        .select("rows").head(1).headOption.map(_.getLong(0))
      catch { case _: org.apache.spark.sql.AnalysisException => None } // no metrics yet
    existing.getOrElse {
      val n = compute
      appendLineage(Seq(LineageRow(name, -1, n, fp, config, System.nanoTime())))
      n
    }
  }

  /** Drop a scratch directory under the workDir (per-iteration label tables
    * etc. whose durable copy lives in a committed stage).
    */
  def deleteScratch(name: String): Unit = {
    fs.delete(new org.apache.hadoop.fs.Path(s"$workDir/$name"), true)
    ()
  }
}

object StageStore {

  private final case class LineageRow(stage: String, partitionId: Int, rows: Long,
                                      fp: String, config: String, tsNs: Long)

  /** The `_metrics` columns; Spark reads them as (string, int, long, string,
    * string, long), the types of the rows older versions wrote. */
  private val MetricsSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required binary stage (STRING);
      |  required int32 partition_id;
      |  required int64 rows;
      |  required binary input_fingerprint (STRING);
      |  required binary config (STRING);
      |  required int64 ts_ns;
      |}""".stripMargin)

  /** Input fingerprint for resume (shared by every resumable pipeline).
    * Two levels:
    *
    *   - METADATA (default, file-backed inputs): crc over the sorted
    *     (path, length, mtime) of the input files — the Iceberg
    *     snapshot-id analog — PLUS a crc of the canonicalized analyzed
    *     plan (two reads of the SAME files projecting different source
    *     columns are different inputs; file stats alone cannot see that).
    *     Driver-side file stats only; at 100 TB this costs a directory
    *     listing, NOT a full data pass per run.
    *   - CONTENT (`forceContent = true`, and the automatic fallback for
    *     non-file inputs like the synthetic corpus): row count + sum of a
    *     32-bit hash over the ENTIRE row serialized as JSON (field names
    *     included). Order-insensitive, one full pass. Hashing only a
    *     content column here would be the same bug the plan-crc exists
    *     for on the metadata path: a rerun with re-assigned ids (e.g. a
    *     different --offset) or a changed projection would present
    *     identical texts and silently resume stage tables keyed by the
    *     OLD ids — fatal when downstream stages (splits, shards) are pure
    *     functions of the id.
    */
  def fingerprint(spark: SparkSession, docs: DataFrame,
                  forceContent: Boolean = false): String = {
    val files = docs.inputFiles
    if (files.nonEmpty && !forceContent) {
      // crc of the canonicalized plan STRING (exprIds normalized): stable
      // across JVM restarts, unlike object hashCodes of relation nodes
      val planCrc = new java.util.zip.CRC32
      planCrc.update(docs.queryExecution.analyzed.canonicalized.toString.getBytes("UTF-8"))
      val planHash = planCrc.getValue
      // file stats via one listStatus per parent DIRECTORY (batched RPCs),
      // not one getFileStatus per file — 10^6 input files must cost
      // thousands of listing calls, not millions of point lookups
      val conf = spark.sparkContext.hadoopConfiguration
      val crc = new java.util.zip.CRC32
      val parents = files.map(f => new org.apache.hadoop.fs.Path(f).getParent).distinct
      val statByPath: Map[String, (Long, Long)] = parents.iterator.flatMap { parent =>
        parent.getFileSystem(conf).listStatus(parent).iterator
          .map(st => st.getPath.toUri.getPath ->
            ((st.getLen, st.getModificationTime)))
      }.toMap
      files.sorted.foreach { f =>
        val key = new org.apache.hadoop.fs.Path(f).toUri.getPath
        val (len, mtime) = statByPath.getOrElse(key, (-1L, -1L))
        crc.update(s"$f:$len:$mtime;".getBytes("UTF-8"))
      }
      s"files=${files.length};plan=$planHash;meta=${crc.getValue}"
    } else {
      val row = docs
        .agg(count(lit(1)).as("n"),
          sum(crc32(to_json(struct(docs.columns.map(col): _*)))).as("h"))
        .head()
      s"n=${row.getLong(0)};h=${row.get(1)}"
    }
  }
}
