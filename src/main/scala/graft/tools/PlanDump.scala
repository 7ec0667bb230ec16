package graft.tools

/** Dev-only (r17 optimization round): dump `.explain("formatted")` for a
  * list of registry rows (or bench headline shapes) into
  * `plans/<tag>/<query>_<suffix>.txt` — the before/after plan evidence
  * the optimization round commits next to its measurements. Uses the
  * bench session ([[graft.Harness.session]]) so the dumped plans are the
  * shapes the bench actually runs.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <query> [query...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query> [query...]")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Harness.session(sfDir, cpus)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val w = new java.io.PrintWriter(s"$outDir/${name}_$suffix.txt", "UTF-8")
      try w.println(txt) finally w.close()
      println(s"dumped $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
