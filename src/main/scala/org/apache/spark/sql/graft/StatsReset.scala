package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSession}

/** Minimal internal-API shim (the one place the engine reaches past the
  * public surface, package-nested the way Spark extension libraries do).
  *
  * Why it exists: `Dataset.localCheckpoint` carries the origin plan's
  * SizeInBytesOnly statistics into the resulting `LogicalRDD`
  * (`originStats`). In an iterative algorithm whose superstep is a tree of
  * self-joins, size estimates MULTIPLY per join, so the carried BigInt
  * compounds geometrically across checkpoints — measured digit counts of
  * the sizeInBytes estimate on the SCC inner loop: 119 → 2,083 → 35,471 →
  * 603,070 → 10,252,259 per batch, at which point the driver spends its
  * time in BigInteger Toom-Cook multiplication inside
  * SizeInBytesOnlyStatsPlanVisitor rather than running jobs.
  *
  * `freshStats` re-wraps the Dataset's execution RDD as a brand-new
  * DataFrame with no carried statistics (stats fall back to
  * `spark.sql.defaultSizeInBytes`). Zero-copy: the physical RDD is reused
  * as-is; only plan-level metadata is dropped. Join strategies that relied
  * on the dropped stats must be requested with explicit hints
  * (broadcast / shuffle_hash), which the iterative algorithms here do
  * anyway.
  */
object StatsReset {
  def freshStats(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[ClassicDataset[_]]
    val spark = ds.sparkSession.asInstanceOf[ClassicSession]
    spark.internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema)
  }

  /** Eager localCheckpoint with statistics truncated — the safe carrier
    * for iteration state in self-join supersteps.
    */
  def checkpointNoStats(df: DataFrame): DataFrame =
    freshStats(df.localCheckpoint())

  /** [[checkpointNoStats]] that also returns the aggregate metrics over the
    * checkpointed rows, computed by the same job that materializes them —
    * the convergence probe of an iterative algorithm costs no action of
    * its own. The observation sits directly under the eager checkpoint,
    * so its aggregate sees exactly the rows the returned frame holds; the
    * returned frame carries no observation (later actions on it do not
    * re-fire it). The row is read from the checkpoint's own query
    * execution once the job has returned, not from a listener event that
    * the caller would have to wait for. Aggregates over no rows follow
    * SQL: count is 0, sum is null.
    */
  def checkpointObserved(df: DataFrame, metric: Column, more: Column*)
      : (DataFrame, Row) = {
    val observed = df.observe(ProbeName, metric, more: _*)
    val cp = freshStats(observed.localCheckpoint())
    (cp, observed.asInstanceOf[ClassicDataset[_]].queryExecution
      .observedMetrics(ProbeName))
  }

  private val ProbeName = "graft_probe"
}
