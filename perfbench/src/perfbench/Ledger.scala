package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark's task and stage figures, summed per scope. A job's scope is its
  * micro-batch (`batch:<id>`) when the streaming engine ran it, else its
  * job group, which the benchmark sets around each call into a layer.
  */
final class Ledger extends SparkListener {
  final class Scope {
    var jobs = 0
    var stages = 0
    var cpuNs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var bytesWritten = 0L
    var recordsRead = 0L
    val taskMs = mutable.ArrayBuffer[Long]()
    /** Slowest task over the median task: 1 means even tasks. */
    def skew: Double =
      if (taskMs.isEmpty) 1.0
      else { val s = taskMs.sorted; s.last.toDouble / math.max(1L, s(s.length / 2)) }
  }

  private val scopes = mutable.HashMap[String, Scope]()
  private val stageScope = mutable.HashMap[Int, String]()

  def apply(name: String): Scope = synchronized(scopes.getOrElseUpdate(name, new Scope))

  override def onJobStart(ev: SparkListenerJobStart): Unit = synchronized {
    val p = Option(ev.properties)
    val name = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map("batch:" + _)
      .orElse(p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))))
      .getOrElse("other")
    scopes.getOrElseUpdate(name, new Scope).jobs += 1
    ev.stageIds.foreach(stageScope(_) = name)
  }

  override def onStageCompleted(ev: SparkListenerStageCompleted): Unit = synchronized {
    stageScope.get(ev.stageInfo.stageId).foreach(apply(_).stages += 1)
  }

  override def onTaskEnd(ev: SparkListenerTaskEnd): Unit = synchronized {
    val m = ev.taskMetrics
    if (m != null) stageScope.get(ev.stageId).map(apply).foreach { s =>
      s.cpuNs += m.executorCpuTime
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.bytesWritten += m.outputMetrics.bytesWritten
      s.recordsRead += m.inputMetrics.recordsRead
      s.taskMs += ev.taskInfo.duration
    }
  }
}
