package graft.obs

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.GraftBridge
import scala.collection.mutable

/** Spark's stage figures summed per scope. A job's scope is its
  * micro-batch (`batch:<id>`) when the streaming engine ran it, else its
  * job group, else "other". A stage counts once it completes; stages a job
  * skips (shuffle output already computed) are not counted.
  *
  * Listener events arrive asynchronously: call `drain()` after a scope's
  * jobs return and before reading it. Reading starts no Spark job.
  */
final class Ledger private (sc: SparkContext, stageLines: Boolean) extends SparkListener {
  import Ledger.Totals

  private val totals = mutable.HashMap[String, Totals]()
  private val stageScope = mutable.HashMap[Int, String]()

  def apply(scope: String): Totals = synchronized(totals.getOrElse(scope, Totals()))

  /** Blocks until every listener event posted so far has been delivered. */
  def drain(): Unit = GraftBridge.drainListenerBus(sc)

  /** Runs `f` with its jobs in the job group `name`. */
  def scope[A](name: String)(f: => A): A = {
    sc.setJobGroup(name, name, interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  def detach(): Unit = sc.removeSparkListener(this)

  private def add(scope: String, t: Totals): Unit = totals(scope) = this(scope) + t

  override def onJobStart(ev: SparkListenerJobStart): Unit = synchronized {
    val p = Option(ev.properties)
    val name = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map("batch:" + _)
      .orElse(p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))))
      .getOrElse("other")
    add(name, Totals(jobs = 1))
    ev.stageIds.foreach(stageScope(_) = name)
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = {
    val si = ev.stageInfo
    val m = si.taskMetrics
    if (m != null) synchronized {
      stageScope.get(si.stageId).foreach(add(_, Totals(
        stages = 1,
        cpuNs = m.executorCpuTime,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled)))
    }
    if (stageLines) {
      val sec = (for (end <- si.completionTime; start <- si.submissionTime)
        yield (end - start) / 1000.0).getOrElse(0.0)
      val (in, out) = if (m == null) (0L, 0L)
        else (m.inputMetrics.recordsRead, m.shuffleWriteMetrics.recordsWritten)
      System.err.println(
        f"[graft] stage ${si.stageId}%3d done: tasks=${si.numTasks}%4d " +
          f"in=$in%9d recs shuffleOut=$out%9d recs " +
          f"$sec%6.1fs  ${si.name.takeWhile(_ != '\n').take(80)}")
    }
  }
}

object Ledger {
  final case class Totals(jobs: Int = 0, stages: Int = 0, cpuNs: Long = 0L,
                          shuffleWrite: Long = 0L, shuffleRead: Long = 0L,
                          spill: Long = 0L) {
    def +(o: Totals): Totals = Totals(jobs + o.jobs, stages + o.stages,
      cpuNs + o.cpuNs, shuffleWrite + o.shuffleWrite, shuffleRead + o.shuffleRead,
      spill + o.spill)

    override def toString: String = {
      def mib(b: Long) = f"${b / 1048576.0}%.1f"
      f"jobs=$jobs stages=$stages cpu=${cpuNs / 1e9}%.2fs " +
        s"shuffle_w=${mib(shuffleWrite)}MiB shuffle_r=${mib(shuffleRead)}MiB spill=${mib(spill)}MiB"
    }
  }

  /** A ledger listening on `sc`; `stageLines` also prints one line per
    * completed stage to stderr.
    */
  def attach(sc: SparkContext, stageLines: Boolean = false): Ledger = {
    val l = new Ledger(sc, stageLines)
    sc.addSparkListener(l)
    l
  }
}
