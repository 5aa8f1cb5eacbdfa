package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed ordered-scan primitives.
  *
  * The textbook `SUM(...) OVER (ORDER BY ...)` is a SINGLE-PARTITION
  * sort in Spark — the one window shape that cannot scale. This
  * primitive computes the same inclusive running total with range
  * partitioning: per-partition subtotals (one row per partition) get
  * an exclusive prefix over a ≤ numParts-row frame, broadcast back as
  * offsets, and every real sort stays partition-local. Exact for any
  * exactly-summable type (integers, longs, decimals); used by the
  * Pareto/ABC classification and the token-budget corpus cut.
  */
object Dist {

  /** Adds `out` = inclusive running total of `value` under the TOTAL
    * order `orderCols` (the caller must make it strict — include a
    * unique tiebreaker). Null values are skipped, as by `sum`: `out`
    * is null only while no non-null value precedes or is the row.
    * With `withTotal`, also attaches the grand total as column
    * `<out>_total` (computed from the per-partition subtotals — no
    * extra pass over the data). The ranged frame is
    * locally checkpointed: subtotals, offsets, and the final window
    * all read the pinned frame instead of re-running upstream.
    */
  def prefixSum(df: DataFrame, orderCols: Seq[Column], value: String,
      out: String, numParts: Int = 32,
      withTotal: Boolean = false): DataFrame = {
    val (base, ptots) = rangedRunningSum(df, Nil, orderCols,
      col(value), out, numParts, "Dist.prefixSum")
    if (!withTotal) base
    else base.crossJoin(broadcast(
      ptots.agg(sum(col("__ptot")).as(s"${out}_total"))))
  }

  /** Grouped distributed prefix-rank: `out` = `row_number()` within
    * `group` under the TOTAL order `orderCols` (the caller must make
    * it strict — include a unique tiebreaker), WITHOUT ever sorting a
    * whole group in one task. `row_number().over(Window.partitionBy
    * (group))` puts each group's entire frame through a single-task
    * sort — fine for high-cardinality keys, a scale-killer when the
    * group is a handful of corpus-sized sources (the round-20 verdict
    * flag on interleaveSchedule). Under a strict total order the rank
    * is the running count of rows, so this is [[prefixSum]]'s
    * machinery over the value 1 with the group key: range-partition on
    * (group, orderCols) so each group spans contiguous partitions,
    * count rows per (group, partition), broadcast each partition's
    * per-group predecessor total back as an offset, and count locally
    * inside each (partition, group) slice. The offsets frame is
    * ≤ #groups × numParts rows — broadcast-safe by construction.
    */
  def groupedRank(df: DataFrame, group: String, orderCols: Seq[Column],
      out: String, numParts: Int = 32,
      withGroupTotal: Boolean = false): DataFrame = {
    val (base, ptots) = rangedRunningSum(df, Seq(group), orderCols,
      lit(1L), out, numParts, "Dist.groupedRank")
    // `<out>_n` = the group's row count, from the SAME subtotal frame
    // (no extra pass over the data) — the ntile / percent_rank closed
    // forms need (rank, group total) together, and computing the
    // total separately would re-run the whole upstream chain
    if (!withGroupTotal) base
    else base.join(broadcast(ptots.groupBy(col(group))
      .agg(sum(col("__ptot")).as(s"${out}_n"))), Seq(group))
  }

  /** The range-partitioned running sum behind [[prefixSum]] and
    * [[groupedRank]]: `out` = inclusive running sum of `value` within
    * each `keys` group under `orderCols`. Range-partitions on
    * (keys, orderCols) and pins the result, sums `value` per
    * (keys, partition), turns those subtotals into per-partition
    * offsets with a predecessor-sum self-join over the tiny subtotal
    * frame (numParts² predicate evals per group, all broadcast — a
    * `Window.orderBy` there would execute as an unpartitioned
    * WindowExec), and adds each offset to a partition-local running
    * window. Returns the frame and the (keys, `__pid`, `__ptot`)
    * subtotals.
    */
  private def rangedRunningSum(df: DataFrame, keys: Seq[String],
      orderCols: Seq[Column], value: Column, out: String, numParts: Int,
      site: String): (DataFrame, DataFrame) = {
    val ranged = Pin.point(df
      .repartitionByRange(numParts, (keys.map(col) ++ orderCols): _*)
      .withColumn("__pid", spark_partition_id()), site)
    val part = keys.map(col) :+ col("__pid")
    val ptots = ranged.groupBy(part: _*).agg(sum(value).as("__ptot"))
    val zero = lit(0).cast(ptots.schema("__ptot").dataType)
    val offsets = ptots
      .join(broadcast(ptots.select(keys.map(k => col(k).as(s"__q$k")) ++
        Seq(col("__pid").as("__qid"), col("__ptot").as("__qtot")): _*)),
        (keys.map(k => col(k) === col(s"__q$k")) :+
          (col("__qid") < col("__pid"))).reduce(_ && _),
        "left")
      .groupBy(part: _*)
      .agg(sum(col("__qtot")).as("__offset"))
    val local = Window.partitionBy(part: _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // either part is null when it has seen no non-null value; the
    // total is null only when both are
    val base = ranged
      .join(broadcast(offsets), keys :+ "__pid")
      .withColumn("__local", sum(value).over(local))
      .withColumn(out,
        when(col("__offset").isNull && col("__local").isNull, null)
          .otherwise(coalesce(col("__offset"), zero) +
            coalesce(col("__local"), zero)))
      .drop("__pid", "__offset", "__local")
    (base, ptots)
  }

  /** Broadcast 1-row aggregate cross: attaches `aggs(of)` to every
    * row of `onto`. The bounded substitute for `agg OVER ()` — which
    * Spark executes as an unpartitioned WindowExec (the optimizer
    * folds even `partitionBy(lit(1))` out of the spec) at ANY frame
    * size. When `of` is a subtree of `onto`, pin the shared frame
    * first (or use [[selfScalarCross]]) so the cross stays
    * single-scan.
    */
  def scalarCross(onto: DataFrame, of: DataFrame,
      aggs: Column*): DataFrame =
    onto.crossJoin(broadcast(of.agg(aggs.head, aggs.tail: _*)))

  /** Self scalar cross: attaches aggregate(s) of a frame to each of
    * its OWN rows. Pins `df` with `localCheckpoint` so the row scan
    * and the 1-row aggregate both read the pinned blocks — one
    * upstream execution, where a bare self-cross would re-run the
    * whole upstream subtree twice (the regression mode this helper
    * exists to prevent: five round-16 hand-rolled copies each had to
    * remember the checkpoint independently). Used by the PSI total,
    * host-share denominator, and ECE cross among others.
    */
  def selfScalarCross(df: DataFrame, aggs: Column*): DataFrame = {
    val pinned = Pin.point(df, "Dist.selfScalarCross")
    pinned.crossJoin(broadcast(pinned.agg(aggs.head, aggs.tail: _*)))
  }

  /** Predecessor-count rank join over a broadcastable top frame:
    * `rank` = 1 + #rows of `frame` sorting strictly before the row
    * under (cnt DESC, key ASC), attached to each row of `rows` by ONE
    * broadcast self-join + aggregate (≤ |rows|·|frame| predicate
    * evals, all broadcast-local) — the bounded substitute for a
    * global `row_number()` window, which executes as a single-task
    * sort of the whole frame. Exact whenever `frame` is a PREFIX of
    * the global order containing every predecessor of every row in
    * `rows` (e.g. both equal to a top-k cut). Left join so the rank-1
    * row (no predecessor) survives; `count(col)` skips its nulls.
    * With `cum`, also emits the inclusive running sum of `cnt` under
    * the same order (prefix sums inside a prefix frame are exact).
    * The INVERTED variant — few probe rows ranked against a LARGE
    * streamed frame (broadcast the probes, flip the predicate, count
    * successors-of-probe) — is shape-specific and stays at its call
    * site (TextAnalysis.rankedVocabCut's single-char floor).
    */
  def topFrameRank(rows: DataFrame, frame: DataFrame, key: String,
      cnt: String, cum: Option[String] = None): DataFrame = {
    val joined = rows.join(
      broadcast(frame.select(col(key).as("__qk"), col(cnt).as("__qc"))),
      col(cnt) < col("__qc") ||
        (col(cnt) === col("__qc") && col(key) > col("__qk")),
      "left")
    val grouped = joined.groupBy(col(key), col(cnt))
    cum match {
      case None =>
        grouped.agg((count(col("__qk")) + lit(1L)).as("rank"))
      case Some(c) =>
        grouped.agg((count(col("__qk")) + lit(1L)).as("rank"),
          (coalesce(sum(col("__qc")), lit(0L)) + col(cnt)).as(c))
    }
  }
}
