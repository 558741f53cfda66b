package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Generate, LogicalPlan, Project, Repartition, Sort, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.internal.SQLConf

/** Runs a grouped aggregate, a partitioned window (a rank filter's
  * `WindowGroupLimit` included) or a global sort over a small input as
  * one task: the rule puts a `Repartition(1, shuffle = false)` under the
  * lowest such node whose input is small. A single partition satisfies
  * every distribution, so `EnsureRequirements` adds no exchange and a
  * global sort starts no range-sampling job.
  *
  * The coalesce pulls the whole subtree below it into that one task,
  * scan included, where AQE would keep the map side parallel and merge
  * only the partitions after the shuffle. So "small" bounds the work
  * below, not only the rows arriving: the relations the subtree reads
  * (its leaves, summed) and the planner's size of the input must both be
  * at or below `spark.sql.adaptive.coalescePartitions.minPartitionSize`,
  * the floor under which AQE would merge that shuffle's output into one
  * partition anyway. A file set that small is read by one scan task per
  * file, as before (a split is at least `spark.sql.files.openCostInBytes`,
  * 4 MB, long).
  *
  * The rule leaves a node alone when:
  *  - AQE or its partition coalescing is off;
  *  - the plan is streaming, whose state partitioning is fixed;
  *  - the node is a global aggregate or an unpartitioned window: AQE
  *    already runs those on one reducer, so the coalesce would only make
  *    the map side serial;
  *  - its input has a `Generate` (an explode) below it: Spark estimates
  *    a generator's output as one row per input row, so the postings of
  *    a sub-megabyte corpus would pass as small while being many times
  *    its size;
  *  - another such node reads the same input: with an exchange above
  *    each, `ReuseExchange` reads it once, and two coalesces would read
  *    it twice (the cardinality guards of `graft.agg.Eval`). */
object SmallInputCoalesce extends Rule[LogicalPlan] {
  /** Adds this rule to `spark`'s optimizer (public
    * `experimental.extraOptimizations`) unless it is already there. */
  def setup(spark: SparkSession): Unit = synchronized {
    val ex = spark.experimental
    if (!ex.extraOptimizations.contains(this))
      ex.extraOptimizations = ex.extraOptimizations :+ this
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.adaptiveExecutionEnabled || !conf.coalesceShufflePartitionsEnabled ||
        plan.isStreaming) return plan
    val floor = conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    // the sizes first: most inputs fail them, and they read cached
    // statistics, where the `Generate` walk visits the whole input and
    // `shared` canonicalizes every distributing node's input
    def small(in: LogicalPlan): Boolean =
      in.stats.sizeInBytes <= floor &&
        in.collectLeaves().map(_.stats.sizeInBytes).sum <= floor &&
        !in.exists(_.isInstanceOf[Generate])
    lazy val shared = plan.collect { case p if distributes(p) => p.children.head.canonicalized }
      .groupBy(identity).collect { case (in, n) if n.size > 1 => in }.toSet
    // bottom-up: once the lowest node reads one partition, every node
    // above it sees that partition through `onePartition`
    plan.transformUp {
      case p if distributes(p) =>
        val in = p.children.head
        if (onePartition(in) || !small(in) || shared(in.canonicalized)) p
        else p.withNewChildren(Seq(Repartition(1, shuffle = false, in)))
    }
  }

  /** Whether `p` needs its input clustered over more than one partition:
    * a grouped aggregate, a partitioned window or rank filter, a global
    * sort. */
  private def distributes(p: LogicalPlan): Boolean = p match {
    case a: Aggregate => a.groupingExpressions.nonEmpty
    case w: Window => w.partitionSpec.nonEmpty
    case g: WindowGroupLimit => g.partitionSpec.nonEmpty
    case s: Sort => s.global
    case _ => false
  }

  /** Whether `p` already yields one partition: a one-partition
    * `Repartition`, or an operator that keeps its input's partitioning
    * over one. */
  private def onePartition(p: LogicalPlan): Boolean = p match {
    case Repartition(1, _, _) => true
    case _: Project | _: Filter | _: Aggregate | _: Window |
        _: WindowGroupLimit | _: Sort => onePartition(p.children.head)
    case _ => false
  }
}
