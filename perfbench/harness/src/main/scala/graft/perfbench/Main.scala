package graft.perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Benchmark harness main: one workload in this JVM, closed loop, one
  * client.
  *
  *   --workload <headline|headline_x10|ingest> --data <dir> --run <dir>
  *   --seed <n> --seconds <s> --trace <0|1> --out <file> [--deltas <dir>]
  *
  * Sets up once, in this cold JVM (a session plus every layout and index
  * build the workload needs, into an empty artifact root under `--run`),
  * warms up, then runs passes over the workload's operations for
  * `--seconds` (and at least the workload's `minPasses`). With
  * `--trace 1` the passes run in blocks of [[Workload.traceBlock]] that
  * alternate untraced and traced operations (see [[Workload.tracedPass]]);
  * a [[Tracer]] is registered around each traced operation only, which
  * yields the per-operation layer metrics and the tracing overhead. Raw
  * timings, check material and counters go to `--out` as JSON; the runner
  * turns them into metrics. */
object Main {

  final case class Opts(workload: String, data: String, run: String, seed: Long,
      seconds: Double, trace: Boolean, out: String, deltas: String)

  /** One timed operation. `wallS` covers build + action. */
  final case class Op(id: Int, pass: Int, phase: String, name: String,
      buildS: Double, wallS: Double, rows: Long, err: Option[String],
      layers: ListMap[String, Double])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m("run"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("out"), m.getOrElse("deltas", ""))
  }

  /** The session configuration of graft.Bench's main, with every
    * location (layouts, warehouse, scratch) moved under the run dir. */
  def session(o: Opts, layoutRoot: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val dataBytes = Option(new File(o.data).listFiles()).map(_.map(_.length).sum).getOrElse(0L)
    val parts = math.max(4, math.min(cpus, (dataBytes / (32L << 20)).toInt))
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.autoBroadcastJoinThreshold", (16 * 1024 * 1024).toString)
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.graft.layout.root", layoutRoot)
      .config("spark.sql.warehouse.dir", s"${o.run}/warehouse")
      .config("spark.local.dir", s"${o.run}/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def error(t: Throwable): String =
    (t.getClass.getSimpleName + ": " + String.valueOf(t.getMessage)).take(300)

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length

  def deleteDir(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteDir))
    f.delete()
  }

  private val t0Main = System.nanoTime()
  private def phase(msg: String): Unit = println(f"[perfbench ${secs(t0Main)}%7.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val w: Workload = o.workload match {
      case "headline" | "headline_x10" => new Headline(o)
      case "ingest" => new Ingest(o)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // --- setup, once, in this cold JVM: new session, empty artifact root ---
    val root = new File(s"${o.run}/artifacts")
    root.mkdirs()
    val cg0 = Counters.codegen()
    val t0 = System.nanoTime()
    val spark = session(o, root.getAbsolutePath)
    val sessionS = secs(t0)
    val builds = w.setup(spark)
    val setup = ListMap("total_s" -> secs(t0), "session_s" -> sessionS,
      "builds" -> ListMap(builds: _*),
      "bytes" -> ListMap(w.artifacts(spark).map { case (n, f) => n -> dirBytes(f) }: _*),
      "codegen_compiles" -> (Counters.codegen()._1 - cg0._1))

    phase("setup done")
    // --- warm-up, then the measured passes ---
    val ops = ArrayBuffer.empty[Op]
    var nextId = 0
    val tracer = if (o.trace) Some(new Tracer) else None
    val windows = ArrayBuffer.empty[(Op, Tracer.OpWindow)]

    // phase "traced": the tracer is registered for this operation only.
    // In a traced run every operation, traced or not, runs in its own job
    // group and is followed by a drain of the listener bus, outside the
    // timing, so the two sides of trace.overhead_ratio differ only in the
    // tracer
    def runOp(pass: Int, phase: String, name: String)(body: Timer => Long): Op = {
      val id = nextId; nextId += 1
      val traced = phase == "traced"
      if (traced) tracer.get.install(spark)
      if (o.trace) spark.sparkContext.setJobGroup(s"op-$id", name, interruptOnCancel = false)
      val cg0 = if (traced) Counters.codegen() else (0L, 0.0)
      val gc0 = if (traced) Counters.gcMs() else 0L
      val startMs = System.currentTimeMillis().toDouble
      val timer = new Timer
      val t0 = System.nanoTime()
      val (rows, err) =
        try (body(timer), None)
        catch { case t: Throwable => (-1L, Some(error(t))) }
      val wallS = secs(t0)
      val op = Op(id, pass, phase, name, timer.buildS, wallS, rows, err, ListMap.empty)
      val cg1 = if (traced) Counters.codegen() else (0L, 0.0)
      val gc1 = if (traced) Counters.gcMs() else 0L
      if (o.trace) {
        spark.sparkContext.clearJobGroup()
        org.apache.spark.perfbench.BusDrain(spark.sparkContext)
      }
      if (traced) {
        tracer.get.uninstall(spark)
        windows += op -> Tracer.OpWindow(id, name, startMs, timer.buildS * 1000,
          startMs + wallS * 1000, cg1._1 - cg0._1, cg1._2 - cg0._2, gc1 - gc0)
      }
      ops += op
      op
    }

    w.warmup(spark, runOp)
    phase("warm-up done")
    val block = if (o.trace) w.traceBlock else 1
    var pass = 0
    val tMeasure = System.nanoTime()
    while ((secs(tMeasure) < o.seconds || pass < w.minPasses) &&
        (pass until pass + block).forall(w.hasNext)) {
      for (_ <- 0 until block) {
        if (o.trace) w.tracedPass(spark, pass, runOp) else w.pass(spark, pass, "measure", runOp)
        pass += 1
      }
    }

    phase("measured passes done")
    val checks = w.check(spark)
    phase("check outputs written")
    val kernels = if (o.trace) Kernels.run(spark, o.data) else ListMap.empty[String, Double]

    val traceSpans = ArrayBuffer.empty[Any]
    val opLayers = windows.map { case (op, win) =>
      val (m, spans) = tracer.get.layers(win)
      traceSpans ++= spans
      op.id -> m
    }.toMap
    val finalOps = ops.map(op => opLayers.get(op.id).map(m => op.copy(layers = m)).getOrElse(op))

    val result = ListMap[String, Any](
      "workload" -> o.workload,
      "setup" -> setup,
      "ops" -> finalOps.map(op => ListMap[String, Any](
        "id" -> op.id, "pass" -> op.pass, "phase" -> op.phase, "name" -> op.name,
        "build_s" -> op.buildS, "wall_s" -> op.wallS, "rows" -> op.rows, "err" -> op.err,
        "layers" -> op.layers)),
      "checks" -> checks,
      "layout_detail" -> w.detail(spark),
      "artifact_bytes" -> dirBytes(root),
      "rss_hwm_mb" -> Counters.rssHwmMb(),
      "heap_committed_mb" -> Counters.heapCommittedMb(),
      "heap_peak_mb" -> Counters.heapPeakMb(),
      "kernels" -> kernels)
    val out = new java.io.PrintWriter(o.out, "UTF-8")
    try out.println(Json(result)) finally out.close()
    if (o.trace) {
      val tw = new java.io.PrintWriter(o.out.stripSuffix(".json") + ".spans.json", "UTF-8")
      try tw.println(Json(traceSpans)) finally tw.close()
    }
    spark.stop()
    phase("stopped")
  }
}

/** Splits an operation's time into DataFrame construction and action. */
final class Timer {
  var buildS = 0.0
  def build[A](f: => A): A = {
    val t0 = System.nanoTime()
    try f finally buildS += Main.secs(t0)
  }
}

/** A benchmark workload: what setup builds, what one pass runs, and the
  * material the runner checks the outputs with. */
trait Workload {
  type RunOp = (Int, String, String) => (Timer => Long) => Main.Op

  /** Builds every artifact the workload needs; (artifact, seconds). */
  def setup(s: SparkSession): Seq[(String, Double)]
  /** Artifact name → directory, for per-artifact bytes. */
  def artifacts(s: SparkSession): Seq[(String, File)]
  /** Warm-up before measuring; its operations are reported as phase
    * `warmup`, outside every measured metric. */
  def warmup(s: SparkSession, op: RunOp): Unit
  def hasNext(pass: Int): Boolean = true
  /** Passes a run measures even when `--seconds` is up sooner. */
  def minPasses: Int = 1
  def pass(s: SparkSession, pass: Int, phase: String, op: RunOp): Unit
  /** Passes per block of a traced run; a run measures whole blocks. */
  def traceBlock: Int = 4
  /** One pass of a traced run: its operations run with phase `traced` or
    * `untraced`, so that `trace.overhead_ratio` compares the same
    * operations run both ways, with drift over the run (warming caches,
    * host load) falling equally on both sides. */
  def tracedPass(s: SparkSession, pass: Int, op: RunOp): Unit
  def check(s: SparkSession): Any
  def detail(s: SparkSession): Any = ListMap.empty[String, Any]
}
