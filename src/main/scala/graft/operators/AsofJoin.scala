package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed AS-OF join: for each left row, attach the payload of the
  * latest right row with the same key and `rightTime <= leftTime`.
  *
  * Spark has no ASOF JOIN operator (DuckDB/kdb/QuestDB do). The naive
  * encoding — theta-join on `key = key AND r.t <= l.t` + keep rank 1 —
  * is O(|L|·|R|) per key and explodes on hot keys. The scale shape is
  * UNION + SORT: tag both sides, union them, and run ONE window pass
  * per key ordered by (time, side) carrying the last non-null right
  * payload forward. Cost: one shuffle on the key + a per-partition
  * sort — O(n log n) total regardless of how many right rows precede
  * each left row. Right rows sort BEFORE left rows at equal times, so
  * the join is inclusive (`<=`).
  *
  * The right side must be unique per (key, time) — pre-aggregate it
  * (e.g. `groupBy(key, time).agg(max(...))`) or the "latest" row at a
  * tied time is undefined in any engine.
  */
object AsofJoin {

  /** @param left       probe rows (kept in full)
    * @param right      reference rows, unique per (key, time)
    * @param keyCol     equi-key present on both sides
    * @param timeCol    ordering column present on both sides (numeric
    *                   or timestamp; compared with `<=`)
    * @param payloadCols right-side columns to carry to matching left
    *                   rows (NULL when no right row precedes)
    */
  def asof(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      timeCol: String,
      payloadCols: Seq[String]): DataFrame =
    unionFill(left, right, keyCol, timeCol, payloadCols, forward = false)

  /** Forward (look-ahead) as-of: attach the payload of the EARLIEST
    * right row with `rightTime >= leftTime` — same union-sort shape,
    * mirrored window frame. Ties match (inclusive `>=`). */
  def asofForward(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      timeCol: String,
      payloadCols: Seq[String]): DataFrame =
    unionFill(left, right, keyCol, timeCol, payloadCols, forward = true)

  /** NEAREST as-of: attach the payload of the right row minimizing
    * |rightTime − leftTime| in either direction; equal distances
    * resolve to the EARLIER (backward) row. `timeCol` must be numeric
    * (e.g. epoch micros) — the pick compares subtractions.
    *
    * Same union-sort scale shape as [[asof]]: ONE shuffle on the key,
    * then the backward and forward fills are two growing frames over
    * the same partitioning. Only the exchange is shared: the forward
    * fill orders in reverse (t DESC, _side DESC), so each of the two
    * Window nodes pays its own per-partition sort — the price of two
    * O(n) frames instead of one O(partition²) following frame. The
    * pick is stateless column arithmetic. A same-time right row is
    * captured by the backward fill at distance 0, which wins every
    * comparison, so the forward frame's strict exclusion of same-time
    * rights never shows.
    *
    * The matched right time lands in `nearest_<timeCol>`; payload
    * columns keep their names (NULL when the key has no right rows).
    */
  def asofNearest(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      timeCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    require(!payloadCols.exists(leftCols.contains),
      s"payload columns ${payloadCols.filter(leftCols.contains).mkString(",")} " +
        "collide with left-side columns — rename them first")
    val taggedLeft = payloadCols
      .foldLeft(left)((df, c) => df.withColumn(c, lit(null)))
      .withColumn("_side", lit(1))
      .select((leftCols ++ payloadCols :+ "_side").map(col): _*)
    val taggedRight = leftCols
      .filterNot(c => c == keyCol || c == timeCol || payloadCols.contains(c))
      .foldLeft(right)((df, c) => df.withColumn(c, lit(null)))
      .withColumn("_side", lit(0))
      .select((leftCols ++ payloadCols :+ "_side").map(col): _*)
    val wb = Window.partitionBy(col(keyCol))
      .orderBy(col(timeCol), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Round 15: the forward fill runs as a REVERSED-order growing frame
    // (the q_events_interpolate rewrite): Spark evaluates a
    // [currentRow, unboundedFollowing) frame by re-aggregating the
    // whole tail per row — O(partition²) — while the growing frame is
    // the O(n) incremental form. EXACT, no tie-break needed: the
    // atomic struct is NULL on every left row, so only right rows can
    // be picked, and rights are unique per (key, time) by this
    // operator's contract — reversing (t ASC, _side ASC) to
    // (t DESC, _side DESC) permutes only tied LEFT rows, which all
    // read the same fill. At equal t the right row (_side 0) sorts
    // AFTER the left row in the reversed order, reproducing the old
    // following-frame's strict exclusion of same-time rights (which
    // the backward fill captures at distance 0 anyway).
    val wf = Window.partitionBy(col(keyCol))
      .orderBy(col(timeCol).desc, col("_side").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one atomic struct per right row (see unionFill's rationale), with
    // the right time under _rt for the distance compare
    val atomic = when(col("_side") === 0,
      struct((col(timeCol).as("_rt") +: payloadCols.map(col)): _*))
    val pb = last(atomic, ignoreNulls = true).over(wb)
    val pf = last(atomic, ignoreNulls = true).over(wf)
    val chosen = when(pb.isNull, pf).when(pf.isNull, pb)
      .otherwise(when(
        col(timeCol) - pb("_rt") <= pf("_rt") - col(timeCol), pb)
        .otherwise(pf))
    val withPick = taggedLeft.unionByName(taggedRight)
      .withColumn("_payload", chosen)
      .where(col("_side") === 1)
    payloadCols.foldLeft(
      withPick.withColumn(s"nearest_$timeCol", col("_payload")("_rt"))) {
      (df, c) => df.withColumn(c, col("_payload")(c))
    }.drop("_side", "_payload")
  }

  private def unionFill(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      timeCol: String,
      payloadCols: Seq[String],
      forward: Boolean): DataFrame = {
    val leftCols = left.columns.toSeq
    require(!payloadCols.exists(leftCols.contains),
      s"payload columns ${payloadCols.filter(leftCols.contains).mkString(",")} " +
        "collide with left-side columns — rename them (or use asofPrefixed)")
    // one unified schema: left columns + payload columns + side tag.
    // The tag breaks time ties so the right row at an equal time is
    // INSIDE the left row's frame: right-before-left for backward
    // (<=), left-before-right for forward (>=).
    val (leftTag, rightTag) = if (forward) (0, 1) else (1, 0)
    val taggedLeft = payloadCols
      .foldLeft(left)((df, c) => df.withColumn(c, lit(null)))
      .withColumn("_side", lit(leftTag))
      .select((leftCols ++ payloadCols :+ "_side").map(col): _*)
    val taggedRight = leftCols
      .filterNot(c => c == keyCol || c == timeCol || payloadCols.contains(c))
      .foldLeft(right)((df, c) => df.withColumn(c, lit(null)))
      .withColumn("_side", lit(rightTag))
      .select((leftCols ++ payloadCols :+ "_side").map(col): _*)

    // Round 15: BOTH directions run as growing [unboundedPreceding,
    // currentRow] frames — the O(n)-incremental form — with the
    // forward fill ordered in REVERSE (t DESC, _side DESC). Spark
    // evaluates a [currentRow, unboundedFollowing) frame by
    // re-aggregating the whole tail per row (O(partition²)); the
    // reversal is exact with no tie-break key because the filled
    // struct is NULL on every left row (tied left rows all read the
    // same value) and right rows are unique per (key, time) by this
    // operator's contract. At equal t the reversed (_side DESC) order
    // keeps the right row INSIDE the left row's frame exactly when the
    // old tag order did: forward's rightTag=1 sorts before leftTag=0
    // in DESC, preserving the inclusive `>=`.
    val w =
      if (forward)
        Window.partitionBy(col(keyCol))
          .orderBy(col(timeCol).desc, col("_side").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      else
        Window.partitionBy(col(keyCol))
          .orderBy(col(timeCol), col("_side"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def fill(c: Column): Column = last(c, ignoreNulls = true).over(w)
    // Fill ONE struct of all payload columns, not each column
    // independently: a per-column ignoreNulls fill would source a
    // NULL payload field from a DIFFERENT right row than its
    // siblings. The struct is non-null on every right row (even when
    // all its fields are null), so the matched row's NULLs survive —
    // and one window expression replaces |payload| of them.
    val atomic = when(col("_side") === lit(rightTag),
      struct(payloadCols.map(col): _*))
    val filled = taggedLeft.unionByName(taggedRight)
      .withColumn("_payload", fill(atomic))
    payloadCols.foldLeft(filled) {
      (df, c) => df.withColumn(c, col("_payload")(c))
    }.where(col("_side") === leftTag).drop("_side", "_payload")
  }

  /** Column-renaming convenience: as-of join where the right payload
    * lands under `asof_<name>` and the matched right time under
    * `asof_<timeCol>`. */
  def asofPrefixed(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      timeCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val r = payloadCols.foldLeft(
      right.withColumn(s"asof_$timeCol", col(timeCol))) {
      (df, c) => df.withColumnRenamed(c, s"asof_$c")
    }
    asof(left, r, keyCol, timeCol,
      payloadCols.map(c => s"asof_$c") :+ s"asof_$timeCol")
  }

  /** Forward twin of [[asofPrefixed]]. */
  def asofPrefixedForward(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      timeCol: String,
      payloadCols: Seq[String]): DataFrame = {
    val r = payloadCols.foldLeft(
      right.withColumn(s"asof_$timeCol", col(timeCol))) {
      (df, c) => df.withColumnRenamed(c, s"asof_$c")
    }
    asofForward(left, r, keyCol, timeCol,
      payloadCols.map(c => s"asof_$c") :+ s"asof_$timeCol")
  }
}
