package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 split Column off from Catalyst
  * (sql-api vs classic); the converters live in the sql-private
  * ExpressionUtils, so extension libraries shipping native expressions
  * (graft.functions.DotProduct) expose them via a package-nested object —
  * the standard pattern for Catalyst-extending libraries.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a builder as a session-scoped SQL function on an EXISTING
    * session (the conf-based `spark.sql.extensions` route only applies at
    * session build; this is the runtime equivalent for sessions the library
    * didn't create).
    */
  def registerTempFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "scala_udf")

  /** True when the session's CacheManager holds NO entries — the
    * resource-lifetime contract RankingLifecycleSpec pins: library
    * operators must not leave session-long cache registrations behind
    * (persist() entries live until session end; localCheckpoint blocks
    * are ContextCleaner-scoped instead). SharedState is sql-private,
    * hence the bridge.
    */
  def noCachedPlans(spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Drop every CacheManager entry (correctness-neutral: uncached plans
    * recompute). Lets a lifecycle spec establish a clean baseline in a
    * shared test session where earlier suites' query CONSTRUCTION
    * legitimately registered caches.
    */
  def clearCaches(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.clearCache()

  /** A DataFrame over a plan that is ALREADY resolved, without running the
    * analyzer on it again: the plan is marked analyzed, and the analyzer
    * returns a marked plan as is. The caller guarantees the plan is what
    * the analyzer would return — built from analyzed parts by rewrites
    * that keep it resolved (graft.streaming.Fanout binds each micro-batch
    * into an analyzed template this way). `Dataset.ofRows` is sql-private.
    */
  def ofAnalyzed(spark: SparkSession, plan: LogicalPlan): DataFrame = {
    plan.setAnalyzed()
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
  }

  /** Register `observation` for the CollectMetrics node named like it under
    * `dataframeId`: the session completes it when an action over a plan
    * holding that node succeeds. What `Dataset.observe(observation, ...)`
    * does, for a node already in a plan (the ObservationManager is
    * sql-private).
    */
  def registerObservation(spark: SparkSession, observation: Observation,
      dataframeId: Long): Unit =
    spark.asInstanceOf[classic.SparkSession].observationManager
      .register(observation, dataframeId)
}
