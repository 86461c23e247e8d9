package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/**
 * Minimal bridge to the package-private Column <-> Expression converters,
 * so the library can define native Catalyst expressions without forking
 * Spark. Standard pattern for Spark extension libraries (cf. the public
 * DatasetFactory/SqlStrategy bridges in open-source Spark add-ons).
 */
object GraftSqlBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Clone a session for per-query conf scoping: isolated SQLConf, shared
   *  SparkContext/cache. Uses Spark's own `cloneSession()` (the mechanism
   *  behind per-query isolation inside the engine), which also carries the
   *  caller's runtime conf sets, temp views, and runtime-registered
   *  functions — a hand-rolled newSession+conf copy would lose the latter
   *  two. `overrides` are applied on the clone afterwards.
   *
   *  Clones are CACHED per (parent, override-set): every cloneSession()
   *  hooks a fresh execution-listener manager onto the shared context's
   *  listener bus, so clone-per-call accumulates live listeners for the
   *  context's lifetime (a 140-query bench pays 100+ of them). Caching
   *  means the clone snapshots the parent's conf / temp views / function
   *  registrations at FIRST use of an override set — parent state
   *  registered later (e.g. a v2 catalog conf) is invisible to the cached
   *  clone, so pass such state as part of `overrides`: it then lands both
   *  in the cache key and on the clone. Callers must not mutate a cached
   *  clone's conf beyond per-run temp views. */
  private val cloneCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, List[(String, String)]), SparkSession]()

  def clonedSession(spark: SparkSession, overrides: (String, String)*): SparkSession =
    cloneCache.computeIfAbsent((spark, overrides.toList), { key =>
      val scoped = key._1.asInstanceOf[classic.SparkSession].cloneSession()
      key._2.foreach { case (k, v) => scoped.conf.set(k, v) }
      scoped
    })

  /** Rebind an ANALYZED logical plan to another session of the same
   *  SparkContext — the session-isolation primitive behind per-query conf
   *  scoping (run a plan on a cloned session with its own SQLConf instead
   *  of mutating the shared session's conf). Pass an analyzed plan: temp
   *  view references are already resolved, so the target session needs
   *  none of the source session's catalog. */
  def onSession(spark: SparkSession, df: DataFrame): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)

  /** `df`'s rows as the collect decodes them (`UnsafeRow`s, so each
   *  knows its size in bytes), not converted to `Row`s. One collect
   *  action, tracked as one SQL execution, as `Dataset.collect` is. */
  def collectInternal(df: DataFrame): Array[InternalRow] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("collect"))(qe.executedPlan.executeCollect())
  }

  /** `rows` as a driver-local frame: a `LocalRelation` with `schema`'s
   *  columns. */
  def localRelation(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes (-1
   *  when broadcasting is off). */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf.autoBroadcastJoinThreshold

  /** Register a temp SQL function backed by a raw Expression builder. */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
