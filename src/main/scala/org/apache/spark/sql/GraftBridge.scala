package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Package-private bridge: lets the graft library wrap its native Catalyst
  * expressions as `Column`s (the `ExpressionUtils.column` helper is
  * `private[sql]` in Spark 4). Standard pattern for Spark extension
  * libraries that ship custom expressions. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Drain the async listener bus — `SparkContext.listenerBus` is
    * `private[spark]`. [[graft.tools.ScaleBench]] scopes task-metric
    * accumulation per query; without a drain, straggler `onTaskEnd` events
    * from query N would be billed to query N+1. */
  def flushListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The executor-visible Hadoop configuration (`SparkHadoopUtil.get.conf`
    * is `private[spark]`): built from the propagated `SparkConf`, so the
    * `spark.hadoop.*` credentials/endpoints a cluster deployment carries
    * reach code running INSIDE tasks, where `SparkSession.getActiveSession`
    * is `None`. Used by [[graft.sources.KinesisAnchorStore]], whose
    * snapshot reads/writes run in per-partition backends on executors. */
  def executorHadoopConf(): org.apache.hadoop.conf.Configuration =
    org.apache.spark.deploy.SparkHadoopUtil.get.conf

  /** Count of UNPARTITIONED window operators anywhere in `df`'s plan —
    * including inside cached InMemoryRelations (whose physical plans a
    * logical collect cannot see; the `freeing` persist-and-return pattern
    * would otherwise hide every window it executed) and under AQE shells.
    * An unpartitioned WindowExec moves its whole input to ONE task, so the
    * registry plan audit (`RegistryPlanSpec`) pins the exact set of
    * queries allowed to plan one. */
  def globalWindowCount(df: Dataset[_]): Int = {
    import org.apache.spark.sql.catalyst.plans.logical
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
    import org.apache.spark.sql.execution.window.WindowExec

    def fromPhysical(p: SparkPlan): Int = {
      val self = p match {
        case w: WindowExec if w.partitionSpec.isEmpty => 1
        case _ => 0
      }
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
        case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
        case other => other.children
      }
      self + kids.map(fromPhysical).sum
    }
    def fromLogical(p: logical.LogicalPlan): Int =
      p.collectWithSubqueries {
        case w: logical.Window if w.partitionSpec.isEmpty => 1
        case r: InMemoryRelation => fromPhysical(r.cachedPlan)
      }.sum
    fromLogical(df.queryExecution.optimizedPlan)
  }

  /** True if `df`'s plan is already served from the session cache — used to
    * decide whether a helper owns its persist/unpersist bracket or is
    * borrowing a session-shared cached index it must not evict. */
  def isCached(df: Dataset[_]): Boolean =
    df.sparkSession.asInstanceOf[classic.SparkSession]
      .sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[classic.Dataset[_]]).isDefined
}
