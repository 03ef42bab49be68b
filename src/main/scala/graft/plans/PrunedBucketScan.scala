package graft.plans

import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{EnsureRequirements, ShuffleExchangeLike}

/** Query-stage preparation rule: a bucketed scan that reads a selective
  * bucket set (`optionalBucketSet` narrower than the table) becomes a
  * flat scan. A flat scan still skips the files of pruned buckets, but it
  * schedules one task per selected file split instead of one task per
  * bucket — a one-term read of a 32-bucket index is 1 task, not 32, and a
  * hot term's bucket splits by `maxPartitionBytes` instead of landing in
  * one task.
  *
  * Spark's own `DisableUnnecessaryBucketedScan` already does this when no
  * operator above the scan cares about its partitioning — phrase, AND-NOT
  * and BM25 read one scan under a doc_id exchange. It gives up when a
  * broadcast join sits between the scan and an aggregate: the two slices
  * of a proximity query. This rule covers that shape and keeps every
  * plan that uses the layout: it applies only when
  * re-running `EnsureRequirements` over the rewritten plan adds no
  * shuffle (the co-located join, term-keyed aggregates and index
  * compaction keep their bucketed scans). The plan it returns is that
  * re-run's output, so a sort the bucket layout used to provide is
  * planned explicitly.
  */
object PrunedBucketScan extends Rule[SparkPlan] {
  private def selective(s: FileSourceScanExec): Boolean =
    s.bucketedScan && s.optionalBucketSet.exists(b =>
      s.relation.bucketSpec.exists(b.cardinality() < _.numBuckets))

  private def shuffles(p: SparkPlan): Int = p.collect { case e: ShuffleExchangeLike => e }.size

  def apply(plan: SparkPlan): SparkPlan =
    if (!plan.exists { case s: FileSourceScanExec => selective(s); case _ => false }) plan
    else {
      val flat = EnsureRequirements(optimizeOutRepartition = false).apply(plan.transformUp {
        case s: FileSourceScanExec if selective(s) =>
          val f = s.copy(disableBucketedScan = true)
          s.logicalLink.foreach(f.setLogicalLink)
          f
      })
      if (shuffles(flat) > shuffles(plan)) plan else flat
    }
}
