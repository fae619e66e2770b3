package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Join operators Spark lacks natively, built for the 100 TB shape.
 *
 * The reference engine's workload is relational-over-cubes, but a
 * large-scale pipeline constantly needs two non-equi joins: the as-of
 * join (latest state at event time) and the interval/range join. The
 * naive formulations — `a JOIN b ON a.k = b.k AND a.t >= b.t` with an
 * argmax, or an inequality-only theta join — degrade to per-key
 * cartesian products (Spark plans them as BroadcastNestedLoopJoin or
 * an exploded SortMergeJoin). Both operators here are ONE equi-shuffle
 * each, so they scale linearly with input instead of quadratically
 * with key group size.
 */
object Joins {

  /**
   * As-of join: for every left row, attach the payload of the right
   * row with the greatest `rightTime` <= `leftTime` (backward,
   * inclusive; `strict=true` uses < instead) within the same key group.
   *
   * Implementation: tag the two sides, UNION them into one relation,
   * and run a single `last(payload, ignoreNulls)` window pass ordered
   * by (time, side). Each left row then carries the most recent
   * preceding right payload. This is one shuffle on the key — no range
   * explosion, no per-key argmax subquery — the standard
   * linear-scan formulation of as-of used by time-series engines.
   *
   * Left rows with no preceding right row are dropped (inner as-of).
   * Ties between right rows at the same instant resolve to the
   * largest payload tuple, deterministically.
   *
   * SKEW NOTE: the window partitions by key, so ONE pathologically
   * hot key serializes into one task — the same failure mode
   * Skew.scala documents for joins/aggs. This form has no hot-key
   * escape; it stays as the parity oracle for [[asofNative]].
   *
   * @param payload right-side columns to carry (must not collide with
   *                left column names; `rightTime` is exposed as
   *                `matched_<rightTime>`)
   */
  def asof(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, payload: Seq[String],
      strict: Boolean = false, leftOuter: Boolean = false): DataFrame = {
    val leftCols = left.columns.toSeq
    val matchedTime = s"matched_$rightTime"
    // side ordering at equal times decides inclusivity: right-first
    // (0) lets an equal-time right row match (>=); left-first is <
    val (rightSide, leftSide) = if (strict) (1, 0) else (0, 1)
    val r = right.select(
      (keys.map(col) :+ col(rightTime).as("__t") :+
        lit(rightSide).as("__side") :+
        col(rightTime).as(matchedTime)) ++
        payload.map(col) ++
        leftCols.filterNot(keys.contains).map(c =>
          lit(null).cast(left.schema(c).dataType).as(c)): _*)
    val l = left.select(
      (keys.map(col) :+ col(leftTime).as("__t") :+
        lit(leftSide).as("__side") :+
        lit(null).cast(right.schema(rightTime).dataType).as(matchedTime)) ++
        payload.map(c =>
          lit(null).cast(right.schema(c).dataType).as(c)) ++
        leftCols.filterNot(keys.contains).map(col): _*)
    // deterministic tie-break among equal-time right rows: the payload
    // tuple itself (only compares rows that are already time-equal)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((col("__t") +: col("__side") +:
        (matchedTime +: payload).map(col)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val u = r.unionByName(l)
    // the fill carries the matched right row as ONE struct, not
    // per-column last(ignoreNulls) fills: per-column filling would
    // pair matched_time from the latest right row with a payload
    // value resurrected from an OLDER row whenever the latest row's
    // payload is null — a (time, payload) tuple that never existed
    val m = when(col("__side") === lit(rightSide),
      struct((matchedTime +: payload).map(col): _*))
    val filled = u.withColumn("__m",
      last(m, ignoreNulls = true).over(w))
    // leftOuter keeps unmatched left rows (null matched time and
    // payload) — the enrichment shape where "no reference row yet"
    // is data, not a reason to drop the fact
    val kept =
      if (leftOuter) filled.filter(col("__side") === leftSide)
      else filled.filter(col("__side") === leftSide &&
        col("__m").isNotNull)
    kept.select((keys ++ leftCols.filterNot(keys.contains)).map(col) ++
      (matchedTime +: payload).map(p => col(s"__m.$p").as(p)): _*)
  }

  /**
   * [[asof]] on the NATIVE physical operator
   * ([[graft.plans.AsofJoinExec]]): same inner backward-as-of result
   * shape and tie-break, planned as a custom Catalyst node instead of
   * the union+window trick. Each side shuffles its own (unwidened)
   * rows clustered by key, the per-partition pass is a two-iterator
   * merge with O(1) state, and EnsureRequirements elides the exchange
   * entirely when a side is already bucketed by the key — the
   * repeated "events vs reference-table history" join at 100 TB.
   * Parity with [[asof]] is spec-tested (JoinsSpec).
   */
  def asofNative(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTime: String, rightTime: String, payload: Seq[String],
      strict: Boolean = false): DataFrame = {
    val spark = left.sparkSession
    graft.GraftExtensions.install(spark)
    val leftCols = left.columns.toSeq
    val matchedTime = s"matched_$rightTime"
    // non-orderable payloads (maps) would silently fall out of the
    // operator's tie-break ordering, making equal-instant winners
    // nondeterministic — reject loudly instead
    payload.foreach { p =>
      require(org.apache.spark.sql.catalyst.expressions.RowOrdering
        .isOrderable(right.schema(p).dataType),
        s"asofNative payload '$p' has non-orderable type " +
          s"${right.schema(p).dataType}; equal-instant ties would be " +
          "nondeterministic")
    }
    // project the right side to unique names: (keys, time, payload) —
    // this order IS the operator's equal-instant tie-break (its
    // required right ordering appends the remaining columns), so the
    // winner is the largest payload tuple, exactly like asof()
    val r = right.select(
      keys.map(c => col(c).as(s"__rk_$c")) ++
        (col(rightTime).as("__rt") +: payload.map(col)): _*)
    val lp = left.queryExecution.analyzed
    val rp = r.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
        n: String) = p.output.find(_.name == n).getOrElse(
      throw new IllegalArgumentException(s"no column $n"))
    val node = graft.plans.AsofJoin(lp, rp,
      keys.map(attr(lp, _)), keys.map(k => attr(rp, s"__rk_$k")),
      attr(lp, leftTime), attr(rp, "__rt"), strict)
    org.apache.spark.sql.graft.Bridge.ofRows(spark, node)
      .withColumnRenamed("__rt", matchedTime)
      .select((keys ++ leftCols.filterNot(keys.contains) ++
        (matchedTime +: payload)).map(col): _*)
  }

  /**
   * Range (interval) join: match each fact row to every interval
   * containing its value (`lo <= v < hi`).
   *
   * Implementation: quantize both sides to fixed-width bins — facts
   * get ONE bin each, intervals explode to the bins they overlap —
   * then equi-join on the bin and re-check the exact bounds. A fact
   * meets an interval in at most one bin (the fact's own), so no
   * dedup pass is needed. Shuffle volume is |facts| + |intervals| x
   * (interval_len / binWidth): pick binWidth near the typical
   * interval length and the join is linear, where the theta-join
   * Spark would otherwise plan is |facts| x |intervals|.
   */
  def rangeJoinBinned(facts: DataFrame, valueCol: String,
      intervals: DataFrame, loCol: String, hiCol: String,
      binWidth: Double): DataFrame = {
    val f = facts.withColumn("__bin",
      floor(col(valueCol) / binWidth).cast("long"))
    val iv = intervals.withColumn("__bin",
      explode(sequence(floor(col(loCol) / binWidth).cast("long"),
        floor(col(hiCol) / binWidth).cast("long"))))
    f.join(iv, Seq("__bin"))
      .filter(col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
      .drop("__bin")
  }
}
