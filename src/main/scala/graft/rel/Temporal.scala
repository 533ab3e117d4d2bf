package graft.rel

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks natively: as-of join and banded
  * range (interval) self-join. Both are written for the 100-TB shape —
  * neither ever materializes the O(|L|·|R|) theta-join a naive
  * formulation (and Spark's own BroadcastNestedLoopJoin fallback for
  * non-equi conditions) would produce.
  */
object Temporal {

  /** As-of join: for each left row, the single right row in the same key
    * group with the greatest `ts` &lt;= left `ts` (inclusive), ties on
    * right `ts` broken toward the greatest `tiebreak`. Unmatched left
    * rows survive with null match columns (left-outer semantics).
    *
    * Implementation is the union + ordered-window formulation, not a
    * join: right rows (side 0) and left rows (side 1) are unioned,
    * sorted per key by (ts, side, tiebreak), and each left row reads
    * `last(right-payload, ignoreNulls)` over the running frame. One
    * shuffle on the key, one sort, O(|L|+|R|) rows end to end — the
    * shape a sort-merge as-of would have on a 1000-executor cluster,
    * with no pair blowup for hot keys. The right payload travels as ONE
    * struct so all matched columns come from the same right row even
    * when individual payload fields are null.
    *
    * @param keys      equality keys present on both sides
    * @param ts        ordering column (same name both sides; any
    *                  orderable type)
    * @param tiebreak  right-side column breaking right-`ts` ties
    *                  (greatest wins)
    * @param payload   right-side columns to carry onto matches,
    *                  emitted as `m_&lt;name&gt;`
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
               ts: String, tiebreak: String, payload: Seq[String]): DataFrame = {
    val r = right.select(
      keys.map(col) ++ Seq(
        col(ts).as("__ts"), lit(0).as("__side"), col(tiebreak).as("__tb"),
        struct(payload.map(col): _*).as("__m")): _*)
    val lExtra = left.columns.toSeq.filterNot(c => keys.contains(c) || c == ts)
    val l = left.select(
      keys.map(col) ++ Seq(col(ts).as("__ts"), lit(1).as("__side")) ++
        lExtra.map(col): _*)
    val u = r.unionByName(l, allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts").asc, col("__side").asc, col("__tb").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__match", last(col("__m"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .select(
        keys.map(col) ++ Seq(col("__ts").as(ts)) ++ lExtra.map(col) ++
          payload.map(p => col(s"__match.$p").as(s"m_$p")): _*)
  }

  /** Interval-OVERLAP self-join: all pairs of rows sharing `keys` whose
    * [start, end] intervals intersect (inclusive ends), each pair
    * emitted exactly once with its overlap length. The interval
    * generalization of [[bandJoin]] (whose rows are points): overlap
    * iff a.s ≤ b.e AND b.s ≤ a.e.
    *
    * Shape: each interval explodes onto the `cellUs`-wide time cells it
    * covers, candidates equi-join on (keys, cell), and the exact
    * overlap predicate verifies — never the quadratic-per-key nested
    * loop a raw theta-join plans. A pair overlapping across several
    * shared cells is NOT deduplicated with a `distinct`: the pair is
    * counted only in the cell containing the overlap START
    * (`greatest(a.s, b.s) DIV cellUs` — a cell both sides provably
    * cover), so each pair survives exactly once and the dedup shuffle
    * disappears. Shuffle volume is O(Σ interval-length / cellUs);
    * choose cellUs near the median interval length (cells-per-interval
    * small) — hot cells are equi-join skew, AQE-splittable. */
  def intervalJoin(iv: DataFrame, keys: Seq[String], idCol: String,
                   sCol: String, eCol: String, cellUs: Long): DataFrame = {
    val exploded = iv
      .select(keys.map(col) ++ Seq(col(idCol), col(sCol), col(eCol)): _*)
      .withColumn("__cell", explode(sequence(
        expr(s"$sCol DIV ${cellUs}L"), expr(s"$eCol DIV ${cellUs}L"))))
    val cond = (keys.map(k => col(s"a.$k") === col(s"b.$k")) :+
      (col("a.__cell") === col("b.__cell"))).reduce(_ && _)
    exploded.as("a").join(exploded.as("b"), cond)
      .where(col(s"a.$idCol") < col(s"b.$idCol") &&
        col(s"a.$sCol") <= col(s"b.$eCol") &&
        col(s"b.$sCol") <= col(s"a.$eCol") &&
        col("a.__cell") === expr(s"greatest(a.$sCol, b.$sCol) DIV ${cellUs}L"))
      .select(keys.map(k => col(s"a.$k").as(k)) ++ Seq(
        col(s"a.$idCol").as(s"a_$idCol"), col(s"b.$idCol").as(s"b_$idCol"),
        (least(col(s"a.$eCol"), col(s"b.$eCol"))
          - greatest(col(s"a.$sCol"), col(s"b.$sCol"))).as("overlap_us")): _*)
  }

  /** Banded range self-join: all row pairs sharing `key` whose `tsUs`
    * values differ by at most `widthUs`, each pair emitted exactly once
    * in (ts, id) order. Output columns: the key, `a_`/`b_` id columns,
    * and the gap.
    *
    * A naive `a.ts BETWEEN b.ts - w AND b.ts + w` theta-join has no
    * equi-key, so Spark plans a nested-loop join — quadratic per key.
    * This buckets time into `widthUs`-wide cells and equi-joins on
    * (key, cell): a qualifying pair (gap in [0, w]) spans at most one
    * cell boundary, so probing cell and cell+1 from the earlier row
    * finds every pair exactly once (the probed cells are distinct, and
    * the later row lives in exactly one of them). Shuffle volume is
    * 2·|rows|, candidates are cell-local, and hot cells are plain
    * equi-join skew — AQE-splittable, never quadratic in the key's
    * row count. */
  def bandJoin(df: DataFrame, key: String, tsUs: String, idCol: String,
               widthUs: Long): DataFrame = {
    val cell = (c: String) => expr(s"$c DIV ${widthUs}L")
    val base = df.select(col(key), col(tsUs), col(idCol))
    val probe = base
      .withColumn("__cell", explode(array(cell(tsUs), cell(tsUs) + 1)))
    val build = base.withColumn("__cell", cell(tsUs))
    probe.as("a").join(build.as("b"),
        col(s"a.$key") === col(s"b.$key") &&
          col("a.__cell") === col("b.__cell"))
      .where(
        (col(s"b.$tsUs") - col(s"a.$tsUs")).between(0L, widthUs) &&
          (col(s"a.$tsUs") < col(s"b.$tsUs") ||
            (col(s"a.$tsUs") === col(s"b.$tsUs") &&
              col(s"a.$idCol") < col(s"b.$idCol"))))
      .select(col(s"a.$key").as(key),
        col(s"a.$idCol").as(s"a_$idCol"), col(s"b.$idCol").as(s"b_$idCol"),
        (col(s"b.$tsUs") - col(s"a.$tsUs")).as("gap_us"))
  }
}
