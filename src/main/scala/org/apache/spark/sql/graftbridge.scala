package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's package-private Column<->Expression converters so
  * graft can register custom Catalyst expressions as Columns (the
  * supported spark-internal path, classic.ExpressionUtils, is
  * private[sql] in Spark 4).
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager Column -> Catalyst Expression conversion (the plain
    * `expression` wraps lazily in a ColumnNodeExpression, which neither
    * pattern-matches concrete expression types nor serializes). */
  def resolvedExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  def logicalPlan(df: DataFrame): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Idempotently add a planner strategy to the session. */
  def addStrategy(spark: SparkSession,
                  strategy: execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraStrategies.contains(strategy))
      exp.extraStrategies = exp.extraStrategies :+ strategy
  }

  /** Idempotently add an extra optimizer rule to the session. */
  def addOptimization(spark: SparkSession,
                      rule: catalyst.rules.Rule[catalyst.plans.logical.LogicalPlan]): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    if (!exp.extraOptimizations.contains(rule))
      exp.extraOptimizations = exp.extraOptimizations :+ rule
  }

  /** Frees the blocks behind a `localCheckpoint`ed frame now, instead of
    * when the ContextCleaner collects it. Goes through the context, not
    * `RDD.unpersist`, which logs a WARN per call that the truncated
    * lineage cannot be recomputed: the caller drops every plan reading
    * the frame. A frame that is no checkpoint is left alone. */
  def releaseCheckpoint(df: DataFrame): Unit = logicalPlan(df) match {
    case r: execution.LogicalRDD => r.rdd.sparkContext.unpersistRDD(r.rdd.id, blocking = false)
    case _ =>
  }

  /** A copy of the calling thread's Spark local properties: job group,
    * job description, SQL execution ids. */
  def localProperties(spark: SparkSession): java.util.Properties =
    org.apache.spark.util.Utils.cloneProperties(spark.sparkContext.getLocalProperties)

  /** Runs `f` on the calling thread with `props` (from [[localProperties]]
    * on another thread) as its local properties and `spark` as its
    * active session, then restores both. Work handed from a streaming
    * micro-batch to another thread keeps the query's job group this way,
    * so stopping the query cancels that work's jobs too. */
  def withThreadContext[T](spark: SparkSession, props: java.util.Properties)(f: => T): T = {
    val sc = spark.sparkContext
    val oldProps = sc.getLocalProperties
    val oldSession = SparkSession.getActiveSession
    sc.setLocalProperties(org.apache.spark.util.Utils.cloneProperties(props))
    SparkSession.setActiveSession(spark)
    try f
    finally {
      sc.setLocalProperties(oldProps)
      oldSession.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }

  /** True when the session's CacheManager pins no cached plans — the spec
    * hook for operators contracted to release their internal caches
    * before returning (localCheckpoint blocks are NOT CacheManager
    * entries and don't count; the ContextCleaner frees those). */
  def noCachedPlans(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty
}
