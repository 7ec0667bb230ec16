package graft.layouts

import graft.etl.{AnnPreflight, Ivf, Pq}
import graft.etl.StageCheckpoint.StageCheckpointOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted IVF+PQ index — the complete resident format of a 100 TB
  * vector table (Jégou et al. 2011 §V composed with [[IvfIndex]]'s
  * partition layout): rows are (vec_id, codes, recon_norm2, members)
  * PARTITIONED BY cent_id, so a probe query's `cent_id IN (...)` prunes
  * to the probed directories before a file is opened, and inside a cell
  * the scan reads m-byte-scale codes instead of d floats. The quantizer
  * models (IVF centroids + PQ codebooks) persist as parquet sidecars —
  * a query loads a few KB of model, prunes, and does m lookups per row.
  *
  * TWO data tiers, both cell-partitioned (r15 verdict item 1): the HOT
  * tier is the codes table (resident bytes: m codes/vec); the COLD tier
  * is the raw float vectors, persisted cent_id-partitioned alongside, so
  * the exact RE-RANK stage point-fetches shortlist floats from the
  * PROBED cells only — the same pruning the ADC stage gets — instead of
  * an id-predicate scan over the whole raw corpus. CROSSOVER.md round 15
  * measured the difference at the 1 M × 768-dim design point: re-rank
  * 1.0 s/query from the single-file corpus vs ~0.1 s from partitioned
  * floats, at unchanged recall 1.000.
  *
  * A BUILD-TIME GRADEDNESS MANIFEST (r15 verdict item 3): ensure() runs
  * [[AnnPreflight.recallFloor]] with the index's own trained models over
  * the corpus it is about to encode, and persists the verdict summary
  * (graded/degenerate/insufficient cell counts, min margin∕noise ratio)
  * as a one-row parquet sidecar. The engine KNOWS the corpus shape that
  * silently destroys PQ recall (r14 CROSSOVER: ADC recall 0.02–0.08 on
  * flat-noise data at any m) — the manifest surfaces that verdict in the
  * index lifecycle itself, where a serving deployment reads it, instead
  * of only in a registry row a user must separately run. Read it with
  * [[serve]] on [[Artifacts.manifest]]: `degenerate_cells > 0` means ADC
  * shortlists over those cells order noise — budget a wide shortlist +
  * exact re-rank (the measured r13 sizing), or fix the embeddings.
  *
  * Dedup-first like [[IvfIndex]]: the index stores identity-group
  * representatives with their member lists; top-k over reps covers the
  * true top-k (the vecGroups proof in LlmOps).
  *
  * Build caching follows the hardened ZOrder convention: MD5 cache tag
  * and ALL artifacts' _SUCCESS markers gate the rebuild (a crash between
  * writes can never serve a half-built index — a cached pre-r16 layout
  * lacks the floats/manifest markers and rebuilds whole). */
object PqIndex {

  /** The index's five persisted artifacts: `codes` (hot tier — m-byte
    * codes + members, partitioned by cent_id), `cents`/`books` (KB-scale
    * model sidecars), `floats` (cold tier — raw vectors, partitioned by
    * cent_id for pruned re-rank fetches), `manifest` (one-row build-time
    * gradedness verdict). */
  final case class Artifacts(codes: String, cents: String, books: String,
      floats: String, manifest: String) {
    def all: Seq[String] = Seq(codes, cents, books, floats, manifest)
  }

  private val manifestSchema = StructType(Seq(
    StructField("sample_cells", IntegerType, nullable = false),
    StructField("graded_cells", LongType, nullable = false),
    StructField("degenerate_cells", LongType, nullable = false),
    StructField("insufficient_cells", LongType, nullable = false),
    StructField("min_ratio", DoubleType, nullable = true),
    StructField("m", IntegerType, nullable = false),
    StructField("kpq", IntegerType, nullable = false),
    StructField("nlist", IntegerType, nullable = false),
    StructField("dims", IntegerType, nullable = false)))

  /** All five artifact paths for `corpus` (vec_id, v) under cache key
    * `tag`. Builds on first call, else serves the cached layout. */
  def ensure(s: SparkSession, tag: String, corpus: => DataFrame, dims: Int,
      k: Int = 16, iters: Int = 2, m: Int = 8, kpq: Int = 16, pqIters: Int = 4,
      ivfSampleCap: Int = Int.MaxValue, pqSampleCap: Int = Int.MaxValue)
      : Artifacts = {
    // caps join the cache key only when set, so default callers keep
    // their r14 layout ids (no rebuild churn)
    val capTag =
      (if (ivfSampleCap != Int.MaxValue) s"_ic$ivfSampleCap" else "") +
        (if (pqSampleCap != Int.MaxValue) s"_pc$pqSampleCap" else "")
    val id = LayoutUtil.cacheId(s"${tag}_${dims}_${k}_${iters}_${m}_${kpq}_$pqIters$capTag")
    val root = LayoutUtil.artifactRoot(s)
    val a = Artifacts(
      codes = s"$root/graft_pq_idx_$id",
      cents = s"$root/graft_pq_cents_$id",
      books = s"$root/graft_pq_books_$id",
      floats = s"$root/graft_pq_floats_$id",
      manifest = s"$root/graft_pq_manifest_$id")
    val complete = a.all.forall(p => LayoutFs.existsAt(s"$p/_SUCCESS"))
    if (!complete) {
      a.all.foreach(LayoutFs.deleteDirAt)
      // the group artifact materializes once: encode's argmin projection
      // must not fuse into the aggregate's output method (the Janino
      // 64 KB fusion note on llm_embed_pq)
      val grouped = LayoutUtil.repsWithMembers(corpus).stageCheckpoint()
      try {
        val reps = grouped.select(col("vec_id"), col("v"))
        val cents = Ivf.train(reps, k, iters, ivfSampleCap)
        val books = Pq.train(reps, dims, m, kpq, pqIters, pqSampleCap)
        val assigned = Ivf.assign(reps, cents)
        Pq.encodeWithStats(assigned, dims, books)
          .join(grouped.select(col("vec_id"), col("members")), "vec_id")
          .select(col("vec_id"), col("cent_id"), col("codes"),
            col("recon_norm2"), col("members"))
          .repartition(k, col("cent_id"))
          .write.partitionBy("cent_id").mode("overwrite").parquet(a.codes)
        // COLD-TIER float sidecar: the reps' raw vectors under the SAME
        // cent_id partitioning, so the re-rank's shortlist fetch prunes
        // to the probed cells (the IvfIndex thesis applied to the float
        // payload; assignment recomputes map-side off the checkpointed
        // group artifact — deterministic, so both tiers agree cell-wise)
        assigned
          .repartition(k, col("cent_id"))
          .write.partitionBy("cent_id").mode("overwrite").parquet(a.floats)
        cents.write.mode("overwrite").parquet(a.cents)
        val session = s
        import session.implicits._
        books.zipWithIndex.flatMap { case (book, j) =>
          book.map { case (cid, cv) => (j, cid, cv) }
        }.toDF("sub", "cid", "cv").write.mode("overwrite").parquet(a.books)
        // GRADEDNESS MANIFEST: the preflight with this build's own
        // models, summarized to one row (K-bounded — recallFloor returns
        // K local rows and releases its own sample-bounded persist)
        val centsSeq = cents.collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
        val verdicts = AnnPreflight
          .recallFloor(reps, books, centsSeq, dims).collect()
        val ratios = verdicts.collect {
          case r if !r.isNullAt(7) => r.getDouble(7)
        }
        val row = Row(
          verdicts.length,
          verdicts.count(_.getString(8) == "graded").toLong,
          verdicts.count(_.getString(8) == "degenerate").toLong,
          verdicts.count(_.getString(8) == "insufficient_members").toLong,
          if (ratios.isEmpty) null else Double.box(ratios.min),
          m, kpq, k, dims)
        import scala.jdk.CollectionConverters._
        s.createDataFrame(Seq(row).asJava, manifestSchema)
          .coalesce(1).write.mode("overwrite").parquet(a.manifest)
        // release the checkpoint blocks now that every artifact is on disk
        // (the Ivf.train persist lifecycle — without this, callers outside
        // the bench leak the blocks for the rest of the session)
      } finally grouped.unpersist(blocking = false)
      // a rebuild at an existing path (crashed half-build) must not be
      // served from a pre-rebuild cached listing
      a.all.foreach(LayoutUtil.evictServed)
    }
    a
  }

  /** Any artifact's relation with its file listing CACHED for the
    * session — the [[IvfIndex.serve]] twin for the PQ layout; same
    * contract (immutable ensure() outputs; pruning evaluates per query
    * against the cached listing; evictServed for in-place mutation).
    * Works on every [[Artifacts]] member: codes for the ADC stage,
    * floats for the pruned re-rank fetch, manifest for the build-time
    * gradedness verdict. */
  def serve(s: SparkSession, path: String): DataFrame =
    LayoutUtil.servedRelation(s, path)

  /** STREAMING index maintenance — the [[IvfIndex.appendStream]] parity
    * for the PQ layout: assign + encode are both map-side literal
    * expressions (centroids and codebooks are frozen model params), so
    * they apply to a streaming DataFrame unchanged, and every micro-batch
    * lands its CODES (never float vectors) inside the cent_id= partition
    * directories. The growing index stays probe-prunable and
    * ADC-servable with zero reshuffling of the stream; model retraining
    * is a batch concern (rebuild via [[ensure]] with a new tag and swap
    * paths), and batch-file compaction is [[IvfIndex.compact]] applied to
    * this root. vecs must have (vec_id, v); written rows are
    * (vec_id, codes, recon_norm2) partitioned by cent_id.
    *
    * KEEP STREAMED AND BATCH-BUILT INDEXES IN SEPARATE ROOTS (the
    * IvfIndex.appendStream contract): [[ensure]]'s rows additionally
    * carry the identity-group `members` column, so mixing the two
    * schemas in one root leaves the resolved schema dependent on which
    * footer the reader samples. Collapsing streamed raw vectors into
    * representative rows is the batch compaction's job. */
  def appendStream(vecs: DataFrame, cents: DataFrame, books: Seq[Pq.Codebook],
      dims: Int, codesPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    Pq.encodeWithStats(Ivf.assign(vecs, cents), dims, books)
      .select(col("vec_id"), col("cent_id"), col("codes"), col("recon_norm2"))
      .writeStream.format("parquet")
      .option("path", codesPath)
      .option("checkpointLocation", checkpoint)
      .partitionBy("cent_id")
      .outputMode("append")
      .start()

  /** Codebooks back from the sidecar, in [[Pq.train]]'s shape (listing
    * served through the session cache — per-query model loads pay the
    * KB-scale collect, not a re-list). */
  def loadBooks(s: SparkSession, booksPath: String): Seq[Pq.Codebook] =
    serve(s, booksPath)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Double](2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (_, rows) => rows.map(r => (r._2, r._3)).sortBy(_._1).toSeq }
}
