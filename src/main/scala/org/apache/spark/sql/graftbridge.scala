package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Bridge into Spark's `private[sql]` Column <-> Expression converters, needed
 * to expose custom Catalyst expressions (e.g. [[graft.functions.DotProduct]])
 * as user-facing `Column`s. Lives in the `org.apache.spark.sql` package solely
 * for access; contains no logic.
 */
object graftbridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The session's broadcast-join size threshold (bytes; <=0 = disabled). */
  def autoBroadcastThreshold(s: SparkSession): Long =
    s.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold

  /** Catalyst's optimizer-time size estimate for a frame — available without
    * running a job (statistics propagation over the optimized logical plan). */
  def planSizeBytes(df: DataFrame): BigInt = planSize(df)._1

  /** [[planSizeBytes]] and whether it is a measured size: the plan reads
    * only filled caches and local rows, through projections, filters and
    * repartitions. `fresh` optimizes the plan anew: statistics are memoized
    * per optimized plan, so a frame sized before its cache was filled
    * reports the size of its blocks only through a new one. */
  def planSize(df: DataFrame, fresh: Boolean = false): (BigInt, Boolean) = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, Project, Repartition}
    val d = df.asInstanceOf[classic.Dataset[_]]
    val plan = if (fresh) d.sparkSession.sessionState.executePlan(d.logicalPlan).optimizedPlan
      else d.queryExecution.optimizedPlan
    val measured = !plan.exists {
      case r: execution.columnar.InMemoryRelation => !r.cacheBuilder.isCachedColumnBuffersLoaded
      case _: LocalRelation | _: Project | _: Filter | _: Repartition => false
      case _ => true
    }
    (plan.stats.sizeInBytes, measured)
  }

  /** Rendered physical plan (test/diagnostic hook). */
  def executedPlanString(df: DataFrame): String =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.executedPlan.toString

  /** `explain("formatted")` as a string (plan-audit artifact capture). */
  def formattedPlan(df: DataFrame): String =
    df.asInstanceOf[classic.Dataset[_]].queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

  /** The materialized RDD behind a `localCheckpoint`ed frame (a
    * `LogicalRDD` leaf), for deterministic block release — None for any
    * other plan shape. */
  def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }

  /** The session's Hadoop configuration in executor-shippable form
    * (`SerializableConfiguration` is `private[spark]` — this bridge is the
    * public-API-shaped accessor). Executor-side FileSystem work (e.g. the
    * WARC fixture writer) must carry the SESSION conf, not a default
    * `new Configuration()`: object-store credentials, fs implementations,
    * and defaultFS all live there on a real cluster. */
  def serializableHadoopConf(s: SparkSession)
      : org.apache.spark.util.SerializableConfiguration =
    new org.apache.spark.util.SerializableConfiguration(
      s.sparkContext.hadoopConfiguration)

  /** Drain the SparkListener event bus (profiling hygiene: stage/job
    * events post asynchronously, so a profiler reading its queue right
    * after an action can miss late completions or inherit stragglers from
    * the previous run — advisor r15). Test/diagnostic hook. */
  def flushListenerBus(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()

  /** Count that FORCES full materialization of the frame's output rows.
    * `df.count()` rewrites the logical plan to a bare aggregate first:
    * column pruning drops every output column, and a cardinality-preserving
    * left join against a distinct keep-set — the ending shape of several
    * operators — is then eliminated outright, so the "benchmark" times a
    * no-op (measured: the decontamination gram pipeline vanished from its
    * own bench number). Counting `queryExecution.toRdd` executes the
    * ORIGINAL physical plan — every output column computed, nothing
    * collected to the driver. */
  def forceCount(df: DataFrame): Long =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.toRdd.count()
}
