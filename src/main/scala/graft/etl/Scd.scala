package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** SCD Type-2 dimension maintenance (SURVEY §2 op 58) as a reusable
  * operator: the join formulation of `MERGE INTO` built from public Spark
  * primitives.
  *
  * Contract: `master` has columns (bk, attrs…, valid_from, valid_to,
  * is_current) with at most one current row per business key (plus any
  * number of closed history rows); `delta` has (bk, attrs…). Output: the
  * new master — changed keys closed at `effectiveDate` + re-versioned, new
  * keys inserted, everything else (including ALL history rows) untouched.
  *
  * Correctness note: the change/close/new-version logic runs against the
  * CURRENT slice only. Joining the full master would make every closed
  * history row of a changed key satisfy the "changed" predicate too — each
  * would be re-closed (valid_to overwritten to effectiveDate) and emit a
  * duplicate current row, corrupting the dimension on the second load of a
  * repeated-load workflow. History is carried through verbatim instead.
  *
  * 100 TB note: one shuffle join on the business key, and only the current
  * slice (≈ distinct keys, not full history) participates in it; keep the
  * master bucketed/partitioned by bk so repeated loads co-locate. The
  * history pass-through is scan + union — no shuffle.
  */
object Scd {

  def scd2Load(master: DataFrame, delta: DataFrame, attrs: Seq[String],
      effectiveDate: String): DataFrame = {
    val effD = lit(effectiveDate).cast(DateType)
    val history = master.filter(col("is_current") === 0)
    val m = master.filter(col("is_current") === 1).as("m")
    val d = delta.as("d")
    val j = m.join(d, col("m.bk") === col("d.bk"), "full")
    val attrChanged: Column = attrs
      .map(a => !(col(s"m.$a") <=> col(s"d.$a")))
      .reduce(_ || _)
    // ONE pass over ONE join (r18): the previous form unioned four
    // filtered branches of `j`, and Catalyst plans a union of subtree
    // copies as four separate joins — the full-outer join (and the delta
    // derivation under it) executed 4×, and the analysis tree carried
    // 4 copies (OPTIMIZATION_r18 §6: 2.1 s summed task / 0.6 s driver for
    // a 0.3 s job). Each join row instead routes through one
    // case-driven explode emitting its 1–2 output rows: unchanged keys
    // and master-only keys pass the current row through, changed keys
    // emit close + re-version, delta-only keys emit the insert. Same
    // rows, same schema — the output is a row SET (callers order it).
    def outRow(bk: Column, av: Seq[Column], from: Column, to: Column,
        cur: Column): Column =
      struct((bk.as("bk") +: av.zip(attrs).map { case (c, a) => c.as(a) }) :+
        from.as("valid_from") :+ to.as("valid_to") :+ cur.as("is_current"): _*)
    def mAttrs = attrs.map(a => col(s"m.$a"))
    def dAttrs = attrs.map(a => col(s"d.$a"))
    val nullD = lit(null).cast(DateType)
    val currentRow = outRow(col("m.bk"), mAttrs, col("m.valid_from"),
      col("m.valid_to"), col("m.is_current"))
    val freshRow = outRow(col("d.bk"), dAttrs, effD, nullD, lit(1))
    val routed = j.select(explode(
      when(col("m.bk").isNull, array(freshRow)) // delta-only: insert
        .when(col("d.bk").isNotNull && attrChanged, // changed: close + re-version
          array(outRow(col("m.bk"), mAttrs, col("m.valid_from"), effD, lit(0)),
            freshRow))
        .otherwise(array(currentRow))).as("r")) // unchanged / master-only
      .select(col("r.bk") +: attrs.map(a => col(s"r.$a")) :+ col("r.valid_from")
        :+ col("r.valid_to") :+ col("r.is_current"): _*)
    history.select(col("bk") +: attrs.map(col) :+ col("valid_from")
        :+ col("valid_to") :+ col("is_current"): _*)
      .unionByName(routed)
  }
}
