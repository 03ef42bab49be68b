package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{EmptyRelationExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, LogicalQueryStage, QueryStageExec}
import org.apache.spark.sql.execution.datasources.{BucketingUtils, FilePartition}
import org.scalatest.Assertions._

/** AQE-aware physical-plan probe shared by the plan-pinning specs
  * (LayoutSpec, SimilaritySpec, and the bucket-pruning pins of PlanSpec,
  * SinksSpec, StreamingSpec and EndToEndSpec): AQE wraps executed
  * subtrees in `QueryStageExec` LEAVES, so a plain `collect` over the
  * executed plan never reaches the file scans inside them.
  */
object PlanScans {
  def fileScans(p: SparkPlan): Seq[FileSourceScanExec] =
    nodes(p) { case s: FileSourceScanExec => s }

  /** AQE-aware generic collector: like `p.collect(pf)` but descends into
    * adaptive plans, query-stage leaves and the stages behind an empty
    * relation AQE substituted for a subtree that ran. Unlike string
    * matching on `p.toString`, this sees only LIVE operators — an
    * `InMemoryRelation`'s rendered build plan (already paid at cache
    * time) is not in the tree.
    */
  def nodes[T](p: SparkPlan)(pf: PartialFunction[SparkPlan, T]): Seq[T] = p.collect {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)(pf)
    case q: QueryStageExec => nodes(q.plan)(pf)
    case EmptyRelationExec(l) => l.collect { case s: LogicalQueryStage => nodes(s.physicalPlan)(pf) }.flatten
    case n if pf.isDefinedAt(n) => Seq(pf(n))
  }.flatten

  /** What one bucket-pruned scan reads: its selected bucket ids, the
    * bucket id of every file in its read partitions, and the table's file
    * count.
    */
  final case class BucketRead(scan: FileSourceScanExec, selected: Set[Int],
                              partitions: Int, fileBuckets: Seq[Int], filesTotal: Int)

  def bucketReads(p: SparkPlan): Seq[BucketRead] =
    fileScans(p).filter(s => s.relation.bucketSpec.isDefined && s.optionalBucketSet.isDefined)
      .map { s =>
        val parts = s.inputRDD.partitions
        val files = parts.toSeq.flatMap { case fp: FilePartition => fp.files.toSeq }
          .map(f => f.toPath.getName)
        BucketRead(s, s.optionalBucketSet.get.iterator.toSet, parts.length,
          files.map(n => BucketingUtils.getBucketId(n).getOrElse(
            fail(s"file $n carries no bucket id"))),
          s.relation.location.inputFiles.length)
      }

  /** The bucket-pruning pin, checked on the files read rather than the
    * printed plan: `df` runs, and its executed plan holds exactly `scans`
    * bucket-pruned scans, each selecting `selected` buckets (a count it
    * accepts), reading only files of those buckets, and fewer files than
    * its table holds.
    */
  def assertBucketPruned(df: DataFrame, selected: Int => Boolean,
                         scans: Int = 1): Seq[BucketRead] = {
    df.collect()
    val exec = df.queryExecution.executedPlan
    val reads = bucketReads(exec)
    assert(reads.size === scans, s"expected $scans bucket-pruned scans:\n$exec")
    reads.foreach { r =>
      assert(selected(r.selected.size), s"selected buckets ${r.selected}:\n$exec")
      assert(r.fileBuckets.forall(r.selected), s"read files of buckets ${r.fileBuckets.distinct} " +
        s"outside the selected ${r.selected}:\n$exec")
      assert(r.fileBuckets.size < r.filesTotal,
        s"read ${r.fileBuckets.size} of ${r.filesTotal} files:\n$exec")
    }
    reads
  }
}
