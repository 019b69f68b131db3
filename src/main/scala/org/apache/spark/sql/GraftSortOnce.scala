package org.apache.spark.sql

import org.apache.spark.{Partition, SparkEnv, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.physical.{OrderedDistribution, Partitioning}
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.storage.{RDDBlockId, StorageLevel}
import org.apache.spark.util.CompletionIterator

/** Plans a global sort so that its input is computed once.
  *
  * Spark plans `orderBy` as a range exchange whose `RangePartitioner` first
  * runs a sampling job over the whole sort input, after which the map stage
  * computes that input a second time. This strategy puts an [[EvalOnceExec]]
  * under the sort; `EnsureRequirements` still inserts the same range exchange
  * above it, so plan shape, partition counts and AQE coalescing are as
  * before. Installed by `graft.ext.GraftExtensions`.
  */
object EvalOnceStrategy extends SparkStrategy {
  override def apply(plan: logical.LogicalPlan): Seq[SparkPlan] = plan match {
    case logical.Sort(order, true, child, _) =>
      SortExec(order, global = true, EvalOnceExec(order, planLater(child))) :: Nil
    case _ => Nil
  }
}

/** Passes its child through, except when a range exchange above it will
  * sample: then the sampling job's read of each partition is kept in the
  * local block store and the map stage reads it from there. */
case class EvalOnceExec(order: Seq[SortOrder], child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    val input = child.execute()
    // the same test EnsureRequirements and RangePartitioner apply: no
    // exchange, or a one-partition one, means no sampling job
    if (conf.numShufflePartitions <= 1 ||
        child.outputPartitioning.satisfies(OrderedDistribution(order))) input
    else {
      val once = new EvalOnceRDD(input)
      // backstop for a query that ends between the two reads (cancelled,
      // failed): its stored blocks go when the RDD is garbage-collected
      sparkContext.cleaner.foreach(_.registerRDDForCleanup(once))
      once
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): EvalOnceExec =
    copy(child = newChild)
}

/** The first job this RDD ships to (the range sampling job) computes each
  * partition and keeps its rows in the local block store; later jobs (the
  * map stage) serve the stored block and drop it once read. A missing block
  * (task retry, eviction, the re-sample of an imbalanced partition) is
  * recomputed from the parent, so results never depend on the store. */
private final class EvalOnceRDD(prev: RDD[InternalRow]) extends RDD[InternalRow](prev) {
  // Scheduler side: how many stages this RDD has been shipped to. The
  // copy each stage deserializes carries whether it was the first.
  @transient private var shipments = 0
  private var firstShipment = true

  private def writeObject(out: java.io.ObjectOutputStream): Unit = synchronized {
    // a stage's task binary is serialized on the scheduler's event loop; the
    // closure cleaner's serializability check (on the job's own thread)
    // serializes this RDD too, but ships nothing
    if (Thread.currentThread.getName == "dag-scheduler-event-loop") {
      firstShipment = shipments == 0
      shipments += 1
    }
    out.defaultWriteObject()
  }

  override protected def getPartitions: Array[Partition] = firstParent[InternalRow].partitions

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
    val bm = SparkEnv.get.blockManager
    val block = RDDBlockId(id, split.index)
    def recompute = firstParent[InternalRow].iterator(split, context)
    def stored = bm.getLocalValues(block).map(_.data.asInstanceOf[Iterator[InternalRow]])
    if (firstShipment) {
      val rows = recompute.map(_.copy())
      val kept = bm.putIterator(block, rows, StorageLevel.MEMORY_AND_DISK, tellMaster = false)
      (if (kept) stored else None).getOrElse(recompute)
    } else stored match {
      // the inner iterator releases its read lock when exhausted, before
      // this completion runs, so the removal does not wait on it
      case Some(rows) => CompletionIterator[InternalRow, Iterator[InternalRow]](
        rows, bm.removeBlock(block, tellMaster = false))
      case None => recompute
    }
  }
}
