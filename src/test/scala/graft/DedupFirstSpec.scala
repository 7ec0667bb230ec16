package graft

import java.nio.file.Files

import graft.functions.{TextOps, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}
import org.scalatest.funsuite.AnyFunSuite

/** The dedup-first rewrites (group to identity-group representatives, run
  * the expensive pass over distinct items, weight corpus statistics by
  * group size, fan results back out) must be EXACT — equal to the
  * straightforward formulation on any input. The driver gate only checks
  * near-distinct sf0.01 data, where the rep path degenerates to singleton
  * groups; this spec builds a duplicate-heavy fixture (3 exact replicas
  * with offset ids — the crossover corpus shape, tools/make_sf1.py) and
  * asserts each rewritten registry query row-for-row against the
  * pre-rewrite formulation it replaced. */
class DedupFirstSpec extends AnyFunSuite with SparkTestBase {

  private val keyOff = 1000000000L
  private val repl = 3

  /** sf0.001 replicated `repl`× with offset ids, as parquet in a temp dir. */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft_dupfix").toFile
    d.deleteOnExit()
    val src = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, src)
    (0 until repl).map(i => docs.withColumn("doc_id", col("doc_id") + lit(i * keyOff)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    val embs = Tables.embeddings(spark, src)
    (0 until repl).map(i => embs.withColumn("vec_id", col("vec_id") + lit(i * keyOff)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d.getAbsolutePath
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  private def assertSame(name: String, reference: DataFrame): Unit = {
    val got = rows(SparkEntry.queries(name)(spark, dir))
    val want = rows(reference)
    assert(got.size == want.size, s"$name: ${got.size} rows vs reference ${want.size}")
    got.zip(want).zipWithIndex.foreach { case ((g, w), i) =>
      assert(g == w, s"$name row $i: $g != $w")
    }
  }

  private def docVec(d: String): DataFrame =
    Tables.embeddings(spark, d)
      .select(col("vec_id"), VectorOps.toDouble(col("embedding")).as("v"))

  private def cosR(a: String, b: String) = round(expr(s"cosine_fast($a, $b)"), 6)

  test("llm_dedup_exact == per-hash window formulation on a replica corpus") {
    val w = Window.partitionBy(col("text_hash")).orderBy(col("doc_id").asc)
    assertSame("llm_dedup_exact",
      Tables.documents(spark, dir)
        .withColumn("text_hash", sha2(TextOps.normalize(col("text")), 256))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("doc_id", "text_hash")
        .orderBy(col("doc_id").asc_nulls_first))
  }

  test("llm_tfidf == per-doc explode formulation on a replica corpus") {
    val terms = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(TextOps.normalize(col("text")), " ")).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc_nulls_last, col("term").asc_nulls_first)
    assertSame("llm_tfidf",
      tf.join(df, "term").crossJoin(broadcast(n))
        .withColumn("score",
          round(col("tf").cast(DoubleType) *
            log((col("n_docs").cast(DoubleType) + 1.0) / (col("df").cast(DoubleType) + 1.0)), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("doc_id", "rn", "term", "score")
        .orderBy(col("doc_id").asc_nulls_first, col("rn").asc_nulls_first))
  }

  test("llm_text_stats == per-doc explode formulation on a replica corpus") {
    graft.functions.GraftFunctions.register(spark)
    val termCounts = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(TextOps.normalize(col("text")), " ")).as("term"))
      .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("n"))
    val wTop = Window.partitionBy(col("lang"))
      .orderBy(col("n").desc_nulls_last, col("term").asc_nulls_first)
    val top = termCounts
      .withColumn("rn", row_number().over(wTop))
      .filter(col("rn") <= 3)
      .groupBy(col("lang"))
      .agg(array_join(transform(array_sort(collect_list(struct(col("rn"), col("term")))),
        x => x.getField("term")), ",").as("top_terms"))
    val tokTotals = termCounts.groupBy(col("lang")).agg(sum(col("n")).as("total_tokens"))
    val stats = Tables.documents(spark, dir).groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .join(tokTotals, "lang")
      .withColumn("avg_tokens",
        col("total_tokens").cast(DoubleType) / col("n_docs").cast(DoubleType))
    assertSame("llm_text_stats",
      stats.join(top, "lang")
        .select("lang", "n_docs", "total_tokens", "total_chars", "avg_tokens", "top_terms")
        .orderBy(col("lang").asc_nulls_first))
  }

  test("llm_lang_id == per-doc trigram formulation on a replica corpus") {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables.documents(spark, dir)
      .withColumn("norm", TextOps.normalize(col("text")))
      .withColumn("tris", TextOps.charTrigrams("norm"))
    val wProf = Window.partitionBy(col("lang"))
      .orderBy(col("n").desc_nulls_last, col("tri").asc_nulls_first)
    val profiles = docs.select(col("lang"), explode(col("tris")).as("tri"))
      .groupBy("lang", "tri").agg(count(lit(1)).as("n"))
      .withColumn("rn", row_number().over(wProf))
      .filter(col("rn") <= 50)
      .groupBy(col("lang").as("cand_lang"))
      .agg(collect_set(col("tri")).as("profile"))
    val profTris = profiles.select(col("cand_lang"), explode(col("profile")).as("tri"))
    val wBest = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc_nulls_last, col("cand_lang").asc_nulls_first)
    assertSame("llm_lang_id",
      docs.select(col("doc_id"), col("lang"), explode(col("tris")).as("tri"))
        .join(broadcast(profTris), "tri")
        .groupBy(col("doc_id"), col("lang"), col("cand_lang"))
        .agg(count(lit(1)).cast(IntegerType).as("score"))
        .withColumn("rn", row_number().over(wBest))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("lang"), col("cand_lang").as("pred_lang"), col("score"))
        .orderBy(col("doc_id").asc_nulls_first))
  }

  test("llm_knn_join == full-corpus scan formulation on a replica corpus") {
    graft.functions.GraftFunctions.register(spark)
    val q = docVec(dir).filter(col("vec_id") < 20)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc_nulls_last, col("vec_id").asc_nulls_first)
    assertSame("llm_knn_join",
      docVec(dir)
        .crossJoin(broadcast(q))
        .select(col("q_id"), col("vec_id"), cosR("v", "qv").as("cos_sim"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5)
        .select("q_id", "rn", "vec_id", "cos_sim")
        .orderBy(col("q_id").asc_nulls_first, col("rn").asc_nulls_first))
  }

  /** The base vectors plus 4 perturbed mutants of each of `queries` —
    * the planted corpus the IVF/PQ rows index. */
  private def planted(base: DataFrame, queries: DataFrame): DataFrame =
    base.unionByName(Seq("0.005", "0.010", "0.015", "0.020").zipWithIndex.map {
      case (off, i) =>
        queries.select((col("vec_id") + lit((i + 1) * 1000000L)).as("vec_id"),
          transform(col("v"), x => x * lit(0.9) + lit(off.toDouble)).as("v"))
    }.reduce(_ unionByName _))

  // the inline and the persisted IVF index must both serve the exact answer
  Seq("llm_knn_join_ivf", "llm_knn_join_ivf_persisted").foreach { row =>
    test(s"$row == exact brute force over the planted corpus (replicas)") {
      graft.functions.GraftFunctions.register(spark)
      val base = docVec(dir)
      val qIds = base.filter(col("vec_id") % 100 === 0)
      val q = qIds.select(col("vec_id").as("q_id"), col("v").as("qv"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_sim").desc_nulls_last, col("vec_id").asc_nulls_first)
      assertSame(row,
        planted(base, qIds).crossJoin(broadcast(q))
          .select(col("q_id"), col("vec_id"), cosR("v", "qv").as("cos_sim"))
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select("q_id", "rn", "vec_id", "cos_sim")
          .orderBy(col("q_id").asc_nulls_first, col("rn").asc_nulls_first))
    }
  }

  test("persisted IVF and IVF-PQ single-query rows == exact top-5 over the planted corpus (replicas)") {
    graft.functions.GraftFunctions.register(spark)
    val base = docVec(dir)
    val vec0 = base.filter(col("vec_id") === 0)
    val exact = planted(base, vec0)
      .crossJoin(broadcast(vec0.select(col("v").as("qv"))))
      .select(col("vec_id"), cosR("v", "qv").as("cos_sim"))
      .orderBy(col("cos_sim").desc_nulls_last, col("vec_id").asc_nulls_first)
      .limit(5)
    // vec 0's identity group {0, off, 2·off} leads the answer: a row that
    // returned reps without expanding them would return the mutants instead
    assert(rows(exact).take(repl).map(_.head) == (0 until repl).map(_ * keyOff))
    Seq("llm_ann_ivf_persisted", "llm_ann_ivfpq_persisted").foreach(assertSame(_, exact))
  }

  test("llm_chunk_dedup == straightforward per-doc formulation on a replica corpus") {
    // JVM reference: chunk EVERY doc (no rep grouping), global
    // first-occurrence by (doc_id, chunk_idx), per-doc dup counts — the
    // formulation the dedup-first rewrite must reproduce exactly. The
    // fixture's replicas make identity groups real (doc 0+k·off repeats
    // doc 0's text, with planted flags varying across replicas since
    // off % 3 != 0).
    def cdcChunks(norm: String): Seq[String] = {
      val words = norm.split(" ").toIndexedSeq
      val starts = 0 +: (1 until words.size).filter(i => words(i).startsWith("s"))
      starts.zipWithIndex.map { case (st, j) =>
        val end = if (j + 1 < starts.size) starts(j + 1) else words.size
        words.slice(st, end).mkString(" ")
      }
    }
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), lower(trim(regexp_replace(col("text"), "\\s+", " "))).as("t"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val boiler = docs.find(_._1 == 0L).get._2.split(" ").take(25).mkString(" ")
    val all = docs.flatMap { case (id, t) =>
      val planted = if (id % 3 == 0) s"$t $boiler" else t
      cdcChunks(planted).zipWithIndex.map { case (c, i) => (id, i, c) }
    }
    val firstOf = all.groupBy(_._3).map { case (c, rs) => c -> rs.map(r => (r._1, r._2)).min }
    val expected = all.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, rs) =>
      val nDup = rs.count(r => firstOf(r._3) != ((r._1, r._2)))
      Seq[Any](id, rs.size.toLong, nDup.toLong,
        math.round(nDup.toDouble / rs.size * 10000) / 10000.0)
    }
    val got = rows(SparkEntry.queries("llm_chunk_dedup")(spark, dir))
    assert(got.size == expected.size)
    got.zip(expected).foreach { case (g, w) => assert(g == w, s"$g != $w") }
    // the replicas must actually exercise the fan-out: full-dup docs exist
    assert(expected.count(r => r(1) == r(2)) > 100, "no fully-duplicate docs in fixture?")
  }

  test("llm_bpe_tokenize: replica corpus trains the same tokenizer; stats fan out exactly") {
    // Uniform replication multiplies every word count by `repl`, which
    // changes neither the per-round argmax nor its tie-break — the
    // learned tokenizer is identical, so every replica doc must report
    // exactly its base doc's counts, and the base must match the
    // unreplicated run (BpeSpec separately proves that run against a
    // full JVM reference).
    val base = SparkEntry.queries("llm_bpe_tokenize")(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val got = SparkEntry.queries("llm_bpe_tokenize")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got.size == base.size * repl)
    got.foreach { case (id, stats) =>
      assert(stats == base(id % keyOff), s"doc $id diverges from base ${id % keyOff}")
    }
  }

  test("llm_jaccard_pairs == all-pairs-in-block formulation on a replica corpus") {
    graft.functions.GraftFunctions.register(spark)
    val sh = graft.etl.TextDedup.cappedBlocks(
        Tables.documents(spark, dir).filter(col("lang") === "en"),
        blockCol = "source", orderCol = "doc_id", cap = 1000)
      .withColumn("norm", TextOps.normalize(col("text")))
      .withColumn("sh", expr("word_shingles(norm, 3)"))
      .select("doc_id", "source", "sh")
    val a = sh.as("a")
    val b = sh.as("b")
    assertSame("llm_jaccard_pairs",
      a.join(b, col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          expr("jaccard_sim(a.sh, b.sh)").as("jaccard"))
        .orderBy(col("jaccard").desc_nulls_last,
          col("doc_a").asc_nulls_first, col("doc_b").asc_nulls_first)
        .limit(50))
  }
}
