package graft.tools

import graft.core.{MinHashConfig, SignatureKernel}

/** Pure-JVM CPU scaling probe (no Spark): runs the signature kernel over a
  * fixed synthetic workload with 1, cpus/2 and cpus threads, where cpus is
  * `SPARK_GRAFT_CPUS`, else the available cores; prints docs/sec per leg.
  */
object CpuProbe {
  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(100000)
    val cfg = MinHashConfig(3, 128, 4, 13, 0.8)
    val docs = (0 until 2000).map { i =>
      graft.sources.CorpusGen.fileAt(i.toLong, 42L, 2000).content
    }.toArray
    // JIT warmup
    (0 until 4000).foreach(i => SignatureKernel.compute(docs(i % docs.length), cfg))
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    for (threads <- Seq(1, cpus / 2, cpus).filter(_ >= 1).distinct) {
      val t0 = System.nanoTime()
      val per = nDocs / threads
      val ts = (0 until threads).map { t =>
        new Thread(() => {
          var i = 0
          while (i < per) { SignatureKernel.compute(docs((t * per + i) % docs.length), cfg); i += 1 }
        })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[cpu] threads=$threads%2d  ${nDocs / sec}%10.0f docs/sec  (${sec}%5.2f s)")
    }
  }
}
