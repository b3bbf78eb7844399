package graft

import graft.obs.Ledger
import org.apache.spark.sql.SparkSession

/** The shared session recipe, the stage ledger and the probe main's
  * argument contract.
  */
class ObsSpec extends SparkSpec {

  private val scenarioNames = Seq("queries", "kernel-threads", "stream", "recall", "bloom",
    "pq-bytes", "mm-hash", "clean-stages")

  test("Probe without a known scenario throws, listing them, before any session starts") {
    val before = SparkSession.getDefaultSession
    Seq(Array.empty[String], Array("no-such-scenario")).foreach { args =>
      val e = intercept[IllegalArgumentException](graft.tools.Probe.main(args))
      scenarioNames.foreach(n => assert(e.getMessage.contains(n), s"$n missing from: ${e.getMessage}"))
    }
    assert(SparkSession.getDefaultSession == before)
  }

  test("cores: SPARK_GRAFT_CPUS wins, else the available processors") {
    assert(Sessions.cores(Map("SPARK_GRAFT_CPUS" -> "3")) == 3)
    assert(Sessions.cores(Map("SPARK_GRAFT_CPUS" -> " 7 ", "OTHER" -> "1")) == 7)
    assert(Sessions.cores(Map.empty) == Runtime.getRuntime.availableProcessors)
    Seq("0", "-2", "four", "").foreach { v =>
      intercept[IllegalArgumentException](Sessions.cores(Map("SPARK_GRAFT_CPUS" -> v)))
    }
  }

  test("after drain(), per-group jobs and stages equal the status tracker's") {
    val sc = spark.sparkContext
    val ledger = Ledger.attach(sc)
    try {
      // back to back, no wait between them: one two-stage shuffle job, then
      // two one-stage jobs
      ledger.scope("obs:shuffle") {
        sc.parallelize(1 to 2000, 4).map(i => (i % 13, i)).reduceByKey(_ + _).count()
      }
      ledger.scope("obs:narrow") {
        sc.parallelize(1 to 100, 3).count()
        sc.parallelize(1 to 100, 2).map(_ * 2).count()
      }
      ledger.drain()
      val st = sc.statusTracker
      Seq("obs:shuffle" -> (1, 2), "obs:narrow" -> (2, 2)).foreach { case (g, (nJobs, nStages)) =>
        val jobs = st.getJobIdsForGroup(g).toSeq
        val stages = jobs.flatMap(j => st.getJobInfo(j).toSeq.flatMap(_.stageIds().toSeq)).distinct
        assert((jobs.length, stages.length) == (nJobs, nStages), g)
        assert((ledger(g).jobs, ledger(g).stages) == (jobs.length, stages.length), g)
      }
      val shuffled = ledger("obs:shuffle")
      assert(shuffled.shuffleWrite > 0 && shuffled.shuffleRead > 0 && shuffled.cpuNs > 0)
      assert(ledger("obs:narrow").shuffleWrite == 0L)
      assert(ledger("obs:never-run") == Ledger.Totals())
    } finally ledger.detach()
  }

  test("attaching, reading and draining a ledger starts no Spark job") {
    val sc = spark.sparkContext
    val counter = Ledger.attach(sc)
    try {
      counter.drain()
      val jobsBefore = counter("other").jobs
      val ledger = Ledger.attach(sc, stageLines = true)
      val plan = spark.range(1000).groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k"))
        .count()
      assert(plan.schema.fieldNames.toSeq == Seq("k", "count")) // plan only
      assert(ledger("other") == Ledger.Totals())
      ledger.drain()
      ledger.detach()
      counter.drain()
      assert(counter("other").jobs == jobsBefore)
    } finally counter.detach()
  }
}
