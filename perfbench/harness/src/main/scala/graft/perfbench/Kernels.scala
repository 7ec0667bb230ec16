package graft.perfbench

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** Single-threaded throughput of graft's native kernels over the run's
  * corpus, evaluated driver-side as tools/KernelAb does: no Spark job, so
  * the number is the kernel's own. Median of three timed windows. */
object Kernels {
  private val WindowNs = 200000000L
  // results feed a sink so the JIT cannot drop the kernel calls
  @volatile private var sink = 0L

  private def rowsPerS(rows: Int)(f: => Unit): Double = {
    f; f // warm-up
    val rates = (0 until 3).map { _ =>
      var reps = 0
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < WindowNs) { f; reps += 1 }
      rows.toDouble * reps / ((System.nanoTime() - t0) / 1e9)
    }.sorted
    rates(1)
  }

  def run(s: SparkSession, dir: String): ListMap[String, Double] = {
    val norms = graft.Tables.documents(s, dir)
      .select(TextOps.normalize(col("text"))).collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val vecs = graft.Tables.embeddings(s, dir)
      .select(col("embedding").cast("array<double>")).collect()
      .map(r => new GenericArrayData(r.getSeq[Double](0).toArray): ArrayData)
    val ws = WordShingles(null, null)
    val cn = CharNgrams(null, null)
    val wb = WordBigrams(null)
    val mh = MinHashSignature(null, null)
    val cos = CosineSimilarity(null, null)
    val jac = ArrayJaccard(null, null)
    val shingles = norms.map(u => ws.nullSafeEval(u, 5).asInstanceOf[ArrayData])
    val n = norms.length
    def size(a: Any): Unit = sink += a.asInstanceOf[ArrayData].numElements()
    def num(d: Any): Unit = sink += java.lang.Double.doubleToRawLongBits(d.asInstanceOf[Double])
    ListMap(
      "functions.word_shingles.rows_per_s" -> rowsPerS(n)(norms.foreach(u => size(ws.nullSafeEval(u, 5)))),
      "functions.char_ngrams.rows_per_s" -> rowsPerS(n)(norms.foreach(u => size(cn.nullSafeEval(u, 3)))),
      "functions.word_bigrams.rows_per_s" -> rowsPerS(n)(norms.foreach(u => size(wb.nullSafeEval(u)))),
      "functions.minhash_sig.rows_per_s" -> rowsPerS(n)(shingles.foreach(a => size(mh.nullSafeEval(a, 64)))),
      "functions.cosine_fast.rows_per_s" -> rowsPerS(vecs.length)(
        vecs.indices.foreach(i => num(cos.nullSafeEval(vecs(i), vecs((i + 1) % vecs.length))))),
      "functions.jaccard_sim.rows_per_s" -> rowsPerS(n)(
        shingles.indices.foreach(i => num(jac.nullSafeEval(shingles(i), shingles((i + 1) % n))))))
  }
}
