package graft.perfbench

import java.io.File

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Bench, SparkEntry, Tables}
import graft.layouts.{Bucketed, MinHashIndex}
import graft.operators.Joins

object Shapes {
  type Shape = (SparkSession, String) => DataFrame

  /** graft.Bench keeps the asof twin private; it is called as it is. */
  private lazy val asofMethod = {
    val m = Bench.getClass.getDeclaredMethod("asofLikeMerge", classOf[SparkSession], classOf[String])
    m.setAccessible(true)
    m
  }
  val asofLikeMerge: Shape = (s, d) => asofMethod.invoke(Bench, s, d).asInstanceOf[DataFrame]

  private lazy val knn = SparkEntry.queries("llm_cosine_topk")

  /** The 12 BASELINE.md headline shapes, named as in graft.Bench. */
  val headline: Seq[(String, Shape)] = Seq(
    "q1_pricing_summary" -> Bench.q1 _,
    "q3_join3_topk" -> Bench.q3 _,
    "q5_join5" -> Bench.q5 _,
    "window_rank" -> Bench.windowRank _,
    "grouping_sets" -> Bench.groupingSets _,
    "pivot_transpose" -> Bench.pivotTranspose _,
    "sessionize" -> Bench.sessionize _,
    "tumbling_window" -> Bench.tumbling _,
    "text_tokens" -> Bench.textTokens _,
    "dedup_exact" -> Bench.dedupExact _,
    "asof_like_merge" -> asofLikeMerge,
    "knn_cosine" -> ((s: SparkSession, d: String) => knn(s, d)))

  def timed(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    Main.secs(t0)
  }

  /** Order-independent digest of a result, for comparison with the same
    * digest of the oracle's rows: the row count, then per column its kind
    * and a double sum — numbers as they are, strings by length, times in
    * epoch seconds. A struct column (Spark's `window`) stands for its
    * first field. */
  def digest(df: DataFrame): ListMap[String, Any] = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = f.dataType match {
        case st: StructType => col(f.name).getField(st.fields.head.name)
        case _ => col(f.name)
      }
      val dt = f.dataType match {
        case st: StructType => st.fields.head.dataType
        case other => other
      }
      dt match {
        case _: NumericType => "n" -> c.cast("double")
        case StringType => "s" -> length(c).cast("double")
        case TimestampType | TimestampNTZType | DateType =>
          "t" -> unix_seconds(c.cast("timestamp")).cast("double")
        case other => throw new IllegalArgumentException(s"no digest for $other")
      }
    }
    val r = df.agg(count(lit(1)), cols.map { case (_, c) => sum(c) }: _*).head()
    ListMap("rows" -> r.getLong(0), "kinds" -> cols.map(_._1),
      "sums" -> cols.indices.map(i => if (r.isNullAt(i + 1)) 0.0 else r.getDouble(i + 1)))
  }

  /** Directory of a registered layout family (its warehouse database). */
  def familyDir(s: SparkSession, qname: String): File = {
    val id = s.sessionState.sqlParser.parseTableIdentifier(qname)
    new File(s.sessionState.catalog.getTableMetadata(id).location).getParentFile
  }
}

/** `headline` and `headline_x10`: the 12 shapes, warm, in a seeded order
  * per pass, over the resident layouts graft.Bench prebuilds. */
final class Headline(o: Main.Opts) extends Workload {
  import Shapes._
  private val dir = o.data
  private var families = Seq.empty[(String, String)]

  def setup(s: SparkSession): Seq[(String, Double)] = {
    var facts, dims, events = ""
    val t = Seq(
      "bucketed_facts" -> timed { facts = Joins.bucketedFacts(s, dir).head },
      "bucketed_dims" -> timed { dims = Joins.bucketedDims(s, dir).head },
      "bucketed_events" -> timed { events = Joins.bucketedEvents(s, dir) })
    families = Seq("bucketed_facts" -> facts, "bucketed_dims" -> dims, "bucketed_events" -> events)
    t
  }

  def artifacts(s: SparkSession): Seq[(String, File)] =
    families.map { case (n, q) => n -> familyDir(s, q) }

  private val digests = ArrayBuffer.empty[(String, Any)]

  /** The warm-up computes each shape's digest for the runner's check
    * against the DuckDB oracle, then runs one pass as the measured ones
    * do. */
  def warmup(s: SparkSession, op: RunOp): Unit = {
    headline.foreach { case (name, shape) =>
      var d: Any = null
      val r = op(-1, "warmup", name) { t =>
        d = digest(t.build(shape(s, dir)))
        -1L
      }
      digests += name -> r.err.map(e => ListMap("err" -> e)).getOrElse(d)
    }
    pass(s, -2, "warmup", op)
  }

  // three passes, so the pass median can drop one disturbed pass
  override def minPasses: Int = 3

  def pass(s: SparkSession, pass: Int, phase: String, op: RunOp): Unit =
    shapes(s, pass, pass, phase, op)

  // passes alternate untraced and traced in the order U T T U of each
  // block; the order moves a pass's time by up to ~10 %, so each order runs
  // once each way (passes 0 and 1 share an order, as do 2 and 3)
  override def tracedPass(s: SparkSession, pass: Int, op: RunOp): Unit =
    shapes(s, pass, pass / 2, if (pass % 4 == 1 || pass % 4 == 2) "traced" else "untraced", op)

  private def shapes(s: SparkSession, pass: Int, order: Int, phase: String, op: RunOp): Unit =
    new scala.util.Random(o.seed * 1000003L + order).shuffle(headline).foreach {
      case (name, shape) => op(pass, phase, name) { t => t.build(shape(s, dir)).count() }
    }

  def check(s: SparkSession): Any = ListMap(digests.toSeq: _*)
}

/** `ingest`: seeded delta batches appended to the resident layouts, with
  * the layout-reading queries between appends and compaction once files
  * per bucket reach [[Ingest.CompactAt]]. */
final class Ingest(o: Main.Opts) extends Workload {
  import Shapes._
  import Ingest._
  private val dir = o.data
  private var facts = Seq.empty[String]
  private var dims = Seq.empty[String]
  private var index = ("", "")
  private val keptTexts = ArrayBuffer.empty[String]
  private val batches = ArrayBuffer.empty[ListMap[String, Any]]
  private var maxFiles = 1
  private val probeStats = ArrayBuffer.empty[(Int, Int)]

  private def corpus(s: SparkSession) =
    Tables.documents(s, dir).select(col("doc_id").as("id"), col("text"))

  private var baseTexts = Seq.empty[String]

  def setup(s: SparkSession): Seq[(String, Double)] = Seq(
    "bucketed_facts" -> timed { facts = Joins.bucketedFacts(s, dir) },
    "bucketed_dims" -> timed { dims = Joins.bucketedDims(s, dir) },
    "minhash_index" -> timed {
      index = MinHashIndex.ensure(s, dir, corpus(s), "perfbench", Shingle, Hashes, Bands, Rows,
        srcTables = Seq("documents"))
    })

  def artifacts(s: SparkSession): Seq[(String, File)] = Seq(
    "bucketed_facts" -> familyDir(s, facts.head),
    "bucketed_dims" -> familyDir(s, dims.head),
    "minhash_index" -> familyDir(s, index._1))

  // a write workload: its first batch is measured like the rest
  def warmup(s: SparkSession, op: RunOp): Unit = ()

  override def hasNext(pass: Int): Boolean = new File(s"${o.deltas}/delta_$pass").isDirectory

  def pass(s: SparkSession, pass: Int, phase: String, op: RunOp): Unit = {
    val batch = write(s, pass, phase, op)
    batches += batch + ("reads" -> Seq(read(s, pass, phase, op)))
    compact(s, pass, phase, op)
  }

  // the writes cannot run twice on one state, so a traced pass traces them
  // and runs the reads both ways on the batch's state, in the order U T T U
  // so that drift falls equally on both sides; the first two reads after a
  // write run colder than the rest, so two warm-up reads (outside every
  // metric, still checked) go before them
  override def traceBlock: Int = 1

  override def tracedPass(s: SparkSession, pass: Int, op: RunOp): Unit = {
    val batch = write(s, pass, "traced", op)
    val reads = Seq("warmup", "warmup", "untraced", "traced", "traced", "untraced")
    batches += batch + ("reads" -> reads.map(read(s, pass, _, op)))
    compact(s, pass, "traced", op)
  }

  private def write(s: SparkSession, pass: Int, phase: String, op: RunOp): ListMap[String, Any] = {
    val d = s"${o.deltas}/delta_$pass"
    val tag = s"batch-$pass"
    val (bandsT, repsT) = index

    val append = op(pass, phase, "append") { t =>
      val dOrders = t.build(s.read.parquet(s"$d/orders.parquet"))
      val enriched = dOrders.select("o_orderkey", "o_custkey", "o_orderdate")
        .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey", "c_mktsegment"),
          col("o_custkey") === col("c_custkey"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "c_nationkey", "c_mktsegment")
      val ran = Bucketed.appendOnce(s, tag, Seq(facts(0) -> dOrders,
        facts(1) -> s.read.parquet(s"$d/lineitem.parquet"), dims(2) -> enriched))
      if (ran) 1L else 0L
    }

    val docs = s.read.parquet(s"$d/docs.parquet")
    var prep: Option[graft.examples.IncrementalPrep.Outputs] = None
    val incprep = op(pass, phase, "incprep") { _ =>
      val out = graft.examples.IncrementalPrep.run(s, bandsT, repsT, docs,
        append = true, batchTag = Some(tag))
      prep = Some(out)
      val k = out.kept.select(col("text")).collect()
      keptTexts ++= k.map(_.getString(0))
      k.length.toLong
    }
    // every batch row is either kept or dropped by exactly one stage
    val partitionOk = prep.exists { out =>
      val keptIds = out.kept.select("id").collect().map(_.getLong(0))
      val droppedIds = out.dropped.select("id").collect().map(_.getLong(0))
      val all = docs.select("id").collect().map(_.getLong(0))
      (keptIds ++ droppedIds).sorted.sameElements(all.sorted)
    }
    ListMap("pass" -> pass, "delta" -> d, "append_op" -> append.id,
      "applied" -> (append.rows == 1L), "incprep_op" -> incprep.id, "partition_ok" -> partitionOk)
  }

  /** The layout-reading queries; their check material, by operation id. */
  private def read(s: SparkSession, pass: Int, phase: String, op: RunOp): ListMap[String, Any] = {
    val (bandsT, repsT) = index
    // the small outputs are collected inside the timed operation and
    // checked afterwards
    var q5 = Seq.empty[Seq[Any]]
    val q5Op = op(pass, phase, "q5_join5") { t =>
      q5 = t.build(Bench.q5(s, dir)).collect().map(r => Seq(r.getString(0), r.getDouble(1))).toSeq
      q5.size.toLong
    }

    val asofOp = op(pass, phase, "asof_like_merge") { t => t.build(asofLikeMerge(s, dir)).count() }
    val asof = digest(asofLikeMerge(s, dir))

    // probe with exact copies of indexed texts: base documents and docs
    // kept by earlier batches; each must come back at jaccard 1
    if (baseTexts.isEmpty) baseTexts = corpus(s).select("text").collect().map(_.getString(0)).toSeq
    val rnd = new scala.util.Random(o.seed * 7919L + pass)
    val copies = (rnd.shuffle(baseTexts).take(ProbeCopies) ++
        rnd.shuffle(keptTexts.toSeq).take(ProbeCopies))
      .zipWithIndex.map { case (text, i) => (ProbeIdOff + pass * 1000L + i, text) }
    var found = Set.empty[Long]
    val probeOp = op(pass, phase, "neardup_probe") { t =>
      val batch = t.build(s.createDataFrame(copies).toDF("id", "text"))
      val (ver, _) = MinHashIndex.probe(s, bandsT, repsT, batch, Shingle, Hashes, Bands, Rows,
        Threshold)
      val rows = ver.select("brep", "jaccard").collect()
      found = rows.filter(_.getDouble(1) >= 0.999).map(_.getLong(0)).toSet
      rows.length.toLong
    }
    MinHashIndex.lastProbeStats.foreach { case (b, r) =>
      probeStats += ((b.selectedFiles + r.selectedFiles, b.totalFiles + r.totalFiles))
    }
    val expected = copies.groupBy(_._2.trim.toLowerCase.replaceAll("\\s+", " "))
      .values.map(_.map(_._1).min).toSet
    ListMap("q5_op" -> q5Op.id, "q5" -> q5, "asof_op" -> asofOp.id, "asof" -> asof,
      "probe_op" -> probeOp.id, "probe_expected" -> expected.size,
      "probe_missing" -> (expected -- found).size)
  }

  private def compact(s: SparkSession, pass: Int, phase: String, op: RunOp): Unit = {
    val (bandsT, repsT) = index
    val family = Seq(facts(0), facts(1), dims(2))
    val files = Bucketed.maxFilesPerBucket(s, family ++ Seq(bandsT, repsT))
    maxFiles = math.max(maxFiles, files)
    if (files >= CompactAt) op(pass, phase, "compact") { _ =>
      Bucketed.compactIfFragmented(s, family, CompactAt)
      MinHashIndex.compactIfFragmented(s, bandsT, repsT, CompactAt)
      1L
    }
  }

  def check(s: SparkSession): Any = ListMap("batches" -> batches)

  override def detail(s: SparkSession): Any = ListMap(
    "max_files_per_bucket" -> maxFiles,
    "prune_files" -> probeStats.map(_._1).sum,
    "prune_total" -> probeStats.map(_._2).sum)
}

object Ingest {
  val Shingle = 5
  val Hashes = 64
  val Bands = 16
  val Rows = 4
  val Threshold = 0.5
  val CompactAt = 2
  val ProbeCopies = 20
  val ProbeIdOff = 900000000L
}
