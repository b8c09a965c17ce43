package graft

import graft.gen.InputTable
import graft.pipeline.ExtractPipeline

/** Single scaling measurement in a FRESH JVM (spawned by [[Bench]]):
  * repeated same-JVM sessions accumulate JIT/GC/broadcast state that
  * swings wall times ±5× — one process per data point is the only stable
  * local[] methodology. Prints `SECONDS=<wall>` on stdout. */
object BenchWorker {
  def main(args: Array[String]): Unit = {
    val threads = args(0).toInt
    val inputPath = args(1)
    val spark = ExtractPipeline.newSession(s"local[$threads]", threads * 2)
    spark.sparkContext.setLogLevel("ERROR")
    // Warm until steady state, then measure. C2 compilation of the kernel
    // competes with worker threads for cores, so high thread counts take
    // SEVERAL full passes to converge (measured at 32 threads:
    // 88s → 55s → 31s → 4.8s, while per-core steady-state throughput is
    // the same at 8 and 32 threads). Steady state is the honest number:
    // cluster executors are long-lived JVMs, hot long before a 100 TB job
    // is 1% done.
    def pass(): Double = {
      System.gc() // isolate passes: otherwise old-gen pressure from pass k
      Thread.sleep(500) //  inflates pass k+1 by up to 2.5×
      val t0 = System.nanoTime()
      // noop sink: materializes EVERY output column. (A count() would let
      // Catalyst prune the md/cells assembly projections out of the
      // relational plan — benchmarking less than the real job.)
      ExtractPipeline.run(spark.read.parquet(inputPath))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // min of 5 passes: robust to both slow JIT convergence and the
    // sandbox's intermittent multi-second stalls (observed 5× outlier
    // passes with no in-JVM cause)
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_PASSES", "3").toInt
    val times = (1 to nPasses).map(_ => pass())
    println(f"SECONDS=${times.min}%.3f")
    println(s"PASSES=$nPasses RAW=${times.map(t => f"$t%.2f").mkString(",")}")
    spark.stop()
  }
}
