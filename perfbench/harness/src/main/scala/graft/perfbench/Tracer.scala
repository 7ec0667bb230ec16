package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation layer metrics from public Spark hooks, for traced runs.
  *
  * Each operation runs in its own job group (`op-<id>`); a SparkListener
  * attributes jobs, stages and task metrics to it through the group, and a
  * QueryExecutionListener attributes the Catalyst phase times
  * (QueryPlanningTracker) of every query execution whose phases start
  * inside the operation's wall-clock window. Everything is kept in memory
  * and turned into spans (name, start, end, parent; the spans of one
  * operation share its id) when the run ends. The harness installs the
  * tracer around traced operations only, so untraced operations and
  * untraced runs carry no listener. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[Phase]()
  // per-op task sums: tasks, run ms, cpu ms, input, shuffle read, shuffle
  // write and spilled bytes
  private val taskSums = new ConcurrentHashMap[Int, Array[Long]]()

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.drop(3).toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.put(e.jobId, JobRec(opOf(e.properties), e.time, e.time, e.stageIds))
    e.stageIds.foreach(id => stages.putIfAbsent(id, StageRec(e.jobId, 0L, 0L)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    Option(stages.get(i.stageId)).foreach { r =>
      r.start = i.submissionTime.getOrElse(0L)
      r.end = i.completionTime.getOrElse(0L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val op = Option(stages.get(e.stageId)).flatMap(s => Option(jobs.get(s.job))).map(_.op)
      .getOrElse(-1)
    val a = taskSums.computeIfAbsent(op, _ => new Array[Long](7))
    a.synchronized {
      a(0) += 1
      a(1) += m.executorRunTime
      a(2) += m.executorCpuTime / 1000000L
      a(3) += m.inputMetrics.bytesRead
      a(4) += m.shuffleReadMetrics.totalBytesRead
      a(5) += m.shuffleWriteMetrics.bytesWritten
      a(6) += m.diskBytesSpilled
    }
  }

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, p) =>
      phases.add(Phase(name, p.startTimeMs, p.endTimeMs))
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Layer metrics of one operation plus its spans. Call after the bus
    * has drained. */
  def layers(op: Tracer.OpWindow): (ListMap[String, Double], Seq[ListMap[String, Any]]) = {
    val opJobs = jobs.asScala.toSeq.filter(_._2.op == op.id).sortBy(_._1)
    val jobSpans = opJobs.map { case (id, j) => (id, j.start.toDouble, j.end.toDouble) }
    val jobMs = unionMs(jobSpans.map(j => (j._2, j._3)))
    val opStages = opJobs.flatMap { case (id, j) =>
      j.stages.flatMap(s => Option(stages.get(s)).filter(_.end > 0).map(s -> _)) }
    val t = Option(taskSums.get(op.id)).getOrElse(new Array[Long](7))
    // a phase belongs to the op whose window holds its start
    val opPhases = phases.asScala.toSeq
      .filter(p => p.start >= op.startMs - 1 && p.start <= op.endMs + 1)
    def phaseMs(n: String) = opPhases.filter(_.name == n).map(p => (p.end - p.start).toDouble).sum
    val wall = op.endMs - op.startMs
    val m = ListMap[String, Double](
      "operators.build_ms" -> op.buildMs,
      "plans.analysis_ms" -> phaseMs("analysis"),
      "plans.optimization_ms" -> phaseMs("optimization"),
      "plans.planning_ms" -> phaseMs("planning"),
      "plans.codegen_compiles" -> op.codegenCompiles.toDouble,
      "plans.codegen_ms" -> op.codegenMs,
      "exec.jobs" -> opJobs.size.toDouble,
      "exec.stages" -> opStages.size.toDouble,
      "exec.tasks" -> t(0).toDouble,
      "exec.job_ms" -> jobMs,
      "exec.driver_ms" -> math.max(0.0, wall - jobMs),
      "exec.task_ms" -> t(1).toDouble,
      "exec.task_cpu_ms" -> t(2).toDouble,
      "exec.gc_ms" -> op.gcMs.toDouble,
      "exec.input_bytes" -> t(3).toDouble,
      "exec.shuffle_read_bytes" -> t(4).toDouble,
      "exec.shuffle_write_bytes" -> t(5).toDouble,
      "exec.spill_bytes" -> t(6).toDouble)

    def span(name: String, start: Double, end: Double, parent: String) =
      ListMap[String, Any]("op" -> op.id, "name" -> name, "start_ms" -> start,
        "end_ms" -> end, "parent" -> parent)
    val root = span(op.name, op.startMs, op.endMs, null)
    val build = span("build", op.startMs, op.startMs + op.buildMs, op.name)
    val action = span("action", op.startMs + op.buildMs, op.endMs, op.name)
    val phaseSpans = opPhases.map { p =>
      span("plan." + p.name, p.start, p.end, if (p.start < op.startMs + op.buildMs) "build" else "action")
    }
    val jobSpanRecs = jobSpans.map { case (id, s, e) => span(s"job-$id", s, e, "action") }
    val stageSpanRecs = opStages.map { case (sid, s) =>
      span(s"stage-$sid", s.start.toDouble, s.end.toDouble, s"job-${s.job}") }
    (m, withSelf(Seq(root, build, action) ++ phaseSpans ++ jobSpanRecs ++ stageSpanRecs))
  }

  /** Self time of each span: its length minus the union of its children. */
  private def withSelf(spans: Seq[ListMap[String, Any]]): Seq[ListMap[String, Any]] = {
    def len(s: ListMap[String, Any]) =
      s("end_ms").asInstanceOf[Double] - s("start_ms").asInstanceOf[Double]
    val byParent = spans.groupBy(s => Option(s("parent")).map(_.toString).getOrElse(""))
    spans.map { s =>
      val kids = byParent.getOrElse(s("name").toString, Nil)
        .map(k => (k("start_ms").asInstanceOf[Double], k("end_ms").asInstanceOf[Double]))
      s + ("self_ms" -> math.max(0.0, len(s) - unionMs(kids)))
    }
  }

  private def unionMs(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) total += curE - curS
    total
  }
}

object Tracer {
  private final case class JobRec(op: Int, start: Long, var end: Long, stages: Seq[Int])
  private final case class StageRec(job: Int, var start: Long, var end: Long)
  private final case class Phase(name: String, start: Long, end: Long)

  /** One operation as the harness saw it: wall window (epoch ms), the end
    * of its build part, and the driver-side counters it read around the
    * operation (codegen, GC). */
  final case class OpWindow(id: Int, name: String, startMs: Double, buildMs: Double,
      endMs: Double, codegenCompiles: Long, codegenMs: Double, gcMs: Long)
}

/** Driver-side counters read around each traced operation. */
object Counters {
  import org.apache.spark.metrics.source.CodegenMetrics
  import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

  /** (compiles, compile ms) so far in this JVM. */
  def codegen(): (Long, Double) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime / 1e6)

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Peak heap use over the JVM's life, MB (sum of the heap pools' peaks). */
  def heapPeakMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** The heap the JVM has committed, MB. */
  def heapCommittedMb(): Double =
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0

  /** The process's peak resident set (VmHWM), MB. */
  def rssHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}
