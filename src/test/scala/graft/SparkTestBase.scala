package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (spark_guide.md: one session per
  * suite via lazy val; sharing across suites in the forked test JVM keeps
  * `sbt test` fast). It is the engine session of [[Harness]]: local[4],
  * with no single input to size to, so at the 4-partition floor. */
trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = Harness.builder(inputBytes = 0L, cpus = 4).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
