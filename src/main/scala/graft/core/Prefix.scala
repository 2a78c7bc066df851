package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's one exact running-sum primitive: mid-ranks (spearman, AUC),
  * packing offsets, shuffle ranks, token budgets and MDL cut ranks are all
  * "Σ weight over the rows strictly before this one" in some total order.
  *
  * A plain `sum over (partition by keys order by ...)` serializes each key's
  * whole row set through ONE task — a hot key (or `keys = Nil`) becomes a
  * single-core sort at any scale. Here the order is range-bucketed by a
  * caller-supplied MONOTONE bucket key and the sum runs in two phases
  * (Disco's two-phase windowed aggregate):
  *
  *  1. per-(keys, bucket) totals, cumulated into bucket BASES by a window
  *     over the totals table (≤ `maxBuckets` rows per key, regardless of
  *     data size) — in-plan, no driver collect, no extra job;
  *  2. the bases join back and add to a within-(keys, bucket) window sum,
  *     so the row-level windows run in parallel across buckets.
  *
  * Exact long arithmetic: the result equals the single-window running sum
  * bit for bit, for any bucket key that is monotone in `order` within each
  * key. Null weights count as 0. Never caches — callers that reference the
  * input twice own its cache.
  */
object Prefix {

  /** `df` (its `keys` columns first) plus `out`: Σ `weight` over all rows
    * strictly before each row within `keys`, in (`bucket`, `order`) order.
    * Aborts — inside the plan, so no bucket table ever reaches the driver —
    * on a null bucket key, or when one key occupies more than `maxBuckets`
    * buckets (sparse ordering keys would otherwise grow the bases window
    * toward one row per input row). `keys` must be non-null. */
  def exclusiveSum(
      df: DataFrame,
      keys: Seq[String],
      bucket: Column,
      order: Seq[Column],
      weight: Column,
      out: String,
      maxBuckets: Int
  ): DataFrame = {
    require(maxBuckets >= 1, "maxBuckets must be >= 1")
    // the null check rides on every row's bucket key, not on the bases: the
    // planner infers isnotnull(bucket) on both sides of the equi-join and
    // would drop a null bucket's rows before any bases expression saw them
    val withB = df.withColumn("__px_b",
      coalesce(bucket, raise_error(lit("the ordering key column contains nulls"))))
    val parts = (keys :+ "__px_b").map(col)
    // GLOBAL-WINDOW-OK: for keys = Nil this window runs over the bucket
    // totals alone — at most maxBuckets rows, or the abort below fires
    val wb = Window.partitionBy(keys.map(col): _*).orderBy("__px_b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = withB.groupBy(parts: _*).agg(sum(weight).as("__px_t"))
      .select(parts :+
        when(count(lit(1)).over(wb) >= maxBuckets, raise_error(lit(
          s"over $maxBuckets occupied buckets would be cumulated on the driver — " +
            "the ordering keys look sparse; densify them first (e.g. Sampling.shuffleRank) " +
            "or raise the bucket size")))
          .otherwise(coalesce(sum("__px_t").over(wb), lit(0L)))
          .as("__px_base"): _*)
    val wv = Window.partitionBy(parts: _*).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    withB
      .join(bases, keys :+ "__px_b")
      .withColumn(out, col("__px_base") + coalesce(sum(weight).over(wv), lit(0L)))
      .drop("__px_b", "__px_base")
  }
}
