package graft

import org.apache.spark.sql.SparkSession

/** The one place a `SparkSession` is built. Every main (and the shared
  * test session) gets the same recipe: one shuffle partition per core,
  * 8 MB task pages, AQE on, no UI, UTC.
  */
object Sessions {

  /** Cores for a local session: `SPARK_GRAFT_CPUS` when set, else the
    * cores this JVM may use.
    */
  def cores(env: Map[String, String] = sys.env): Int =
    env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors) { v =>
      val n = v.trim.toIntOption.getOrElse(0)
      require(n >= 1, s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
      n
    }

  /** `local[cores]` with `cores` shuffle partitions. */
  def local(appName: String, cores: Int = Sessions.cores(),
            logLevel: String = "WARN"): SparkSession =
    start(appName, s"local[$cores]", cores, logLevel)

  def start(appName: String, master: String, shufflePartitions: Int,
            logLevel: String): SparkSession = {
    val s = SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      // 64 MB default task pages are humongous allocations for G1 at these
      // heap sizes -> allocation-stall storms in hash aggs/joins (measured
      // 10-20x slowdowns); 8 MB pages fix it (see BENCHMARKS.md)
      .config("spark.buffer.pageSize", "8m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }
}
