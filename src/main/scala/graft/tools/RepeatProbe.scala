package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Dev-only (r18): repeat one registry row K times in a bench-identical
  * session and print per-run wall + summed task time. The machine's
  * ambient band swings single shots ±25–40 %, so per-change iteration
  * needs warm min-of-K on an unchanged protocol — absolute numbers are
  * NOT bench numbers (bench rows are cold), but before/after deltas on
  * this tool are comparable.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> SPARK_GRAFT_CPUS=32 \
  *   runMain graft.tools.RepeatProbe <row> [reps]
  */
object RepeatProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: RepeatProbe <row> [reps]")
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Harness.session(sfDir, cpus)
    val taskNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        taskNanos.addAndGet(s.stageInfo.taskMetrics.executorRunTime * 1000000L)
    })
    val fn = graft.SparkEntry.queries(name)
    var best = Double.MaxValue
    var bestTask = Double.MaxValue
    (1 to reps).foreach { i =>
      taskNanos.set(0L)
      val (n, wall, task) = graft.Harness.runScoped(spark) {
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200)
        (n, wall, taskNanos.get() / 1e9)
      }
      println(f"REPEAT $name run$i wall=$wall%7.3f task=$task%7.3f rows=$n")
      if (wall < best) best = wall
      if (task < bestTask) bestTask = task
    }
    println(f"REPEAT $name MIN wall=$best%7.3f task=$bestTask%7.3f")
    spark.stop()
  }
}
