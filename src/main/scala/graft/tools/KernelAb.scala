package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Dev-only (r18): per-kernel A/B of the text expressions' byte fast
  * paths against their String-based fallbacks (the pre-r18
  * implementations, kept verbatim as `slowEval`). Times driver-side
  * single-thread throughput over the REAL sf corpus — no Spark jobs, no
  * ambient scheduling noise, so the numbers attribute the kernel itself.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.KernelAb
  */
object KernelAb {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Harness.session(sfDir, cpus = 2)
    val norms = graft.Tables.documents(spark, sfDir)
      .select(graft.functions.TextOps.normalize(col("text")).as("n"))
      .collect().map(r => UTF8String.fromString(r.getString(0)))
    println(s"${norms.length} docs")

    def time(label: String, reps: Int)(f: => Long): Unit = {
      f // warmup
      f
      val t0 = System.nanoTime()
      var sink = 0L
      var i = 0
      while (i < reps) { sink ^= f; i += 1 }
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"$label%-28s $sec%8.3f s  ($reps reps, sink=$sink)")
    }

    import org.apache.spark.sql.catalyst.util.ArrayData
    val ws = graft.functions.WordShingles(null, null)
    val cn = graft.functions.CharNgrams(null, null)
    val reps = 20
    time("word_shingles k=5 fast", reps) {
      var acc = 0L
      norms.foreach(u => acc += ws.nullSafeEval(u, 5).asInstanceOf[ArrayData].numElements())
      acc
    }
    time("word_shingles k=5 slow", reps) {
      var acc = 0L
      norms.foreach(u => acc += ws.slowEval(u, 5).asInstanceOf[ArrayData].numElements())
      acc
    }
    time("char_ngrams n=3 fast", reps) {
      var acc = 0L
      norms.foreach(u => acc += cn.nullSafeEval(u, 3).asInstanceOf[ArrayData].numElements())
      acc
    }
    time("char_ngrams n=3 slow", reps) {
      var acc = 0L
      norms.foreach(u => acc += cn.slowEval(u, 3).asInstanceOf[ArrayData].numElements())
      acc
    }
    // equivalence sweep over the full corpus on BOTH kernels (belt and
    // braces on top of NativeExprSpec's pinned adversarial set)
    var bad = 0
    norms.foreach { u =>
      val a = ws.nullSafeEval(u, 5).asInstanceOf[ArrayData].toObjectArray(
        org.apache.spark.sql.types.StringType).toSeq
      val b = ws.slowEval(u, 5).asInstanceOf[ArrayData].toObjectArray(
        org.apache.spark.sql.types.StringType).toSeq
      if (a != b) bad += 1
      val c = cn.nullSafeEval(u, 3).asInstanceOf[ArrayData].toObjectArray(
        org.apache.spark.sql.types.StringType).toSeq
      val d = cn.slowEval(u, 3).asInstanceOf[ArrayData].toObjectArray(
        org.apache.spark.sql.types.StringType).toSeq
      if (c != d) bad += 1
    }
    println(s"equivalence sweep: $bad mismatches")
    spark.stop()
  }
}
