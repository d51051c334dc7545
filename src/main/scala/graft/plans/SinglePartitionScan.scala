package graft.plans

import scala.reflect.ClassTag

import graft.sources.pinot.{PinotAggScan, PinotScan}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceV2ScanRelation, DataSourceV2Strategy}

/** Plans a Pinot batch scan that has exactly ONE input partition (a
  * table within the planner's one-task row floor, see
  * [[PinotScan.fitsOneTask]]) under a [[SinglePartitionScanExec]], so
  * the scan reports `SinglePartition` and `EnsureRequirements` adds no
  * exchange above it: a filtered global aggregate or a grouped top-N
  * over a small table runs as one stage of one task. Spark's own
  * `BatchScanExec` reports `UnknownPartitioning` for any partition
  * count, because runtime filtering may change the count after
  * planning; the wrapper pins it to one.
  *
  * Delegates to Spark's `DataSourceV2Strategy` and only wraps its
  * result, the scan with the Project/Filter Spark puts on it: Spark's
  * `RemoveRedundantProjects` keeps the Project that converts a row-based
  * scan's rows to `UnsafeRow` only while it sits directly on the scan.
  * Key-grouped (storage-partitioned join) scans, multi-partition
  * scans and streaming reads (`StreamingDataSourceV2ScanRelation`, never
  * matched here) keep Spark's plan.
  */
case class SinglePartitionScanStrategy(session: SparkSession) extends SparkStrategy {

  private lazy val v2 = new DataSourceV2Strategy(
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession])

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalOperation(_, _, r: DataSourceV2ScanRelation) if (r.scan match {
          case _: PinotScan | _: PinotAggScan => true
          case _ => false
        }) =>
      v2(plan).map { p =>
        val single = p.collectFirst { case b: BatchScanExec => b }.exists(b =>
          b.keyGroupedPartitioning.isEmpty && b.inputPartitions.length == 1)
        if (single) SinglePartitionScanExec(p) else p
      }
    case _ => Nil
  }
}

/** A scan that yields exactly one RDD partition. When runtime filtering
  * drops the only split the child yields none, and this node yields one
  * empty partition instead, so a global aggregate above it still
  * returns its row.
  *
  * Row-based on purpose: Spark's columnar `UnionExec` concatenates its
  * children's partitions while reporting their common `SinglePartition`,
  * so a columnar single-partition child would let a union of two such
  * scans skip the exchange its aggregate needs. Spark inserts the
  * `ColumnarToRowExec` below this node, and the node passes generated
  * code through (like Spark's `DebugExec`), so the scan stays fused with
  * the operators above it.
  */
case class SinglePartitionScanExec(child: SparkPlan) extends UnaryExecNode
    with CodegenSupport {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = SinglePartition
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = single(child.execute())

  private def single[T: ClassTag](rdd: RDD[T]): RDD[T] =
    rdd.getNumPartitions match {
      case 1 => rdd
      case 0 => sparkContext.parallelize(Seq.empty[T], 1)
      case _ => rdd.coalesce(1)
    }

  override def supportCodegen: Boolean = child match {
    case c: CodegenSupport => c.supportCodegen
    case _ => false
  }

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    child.asInstanceOf[CodegenSupport].inputRDDs().map(single(_))

  override protected def doProduce(ctx: CodegenContext): String =
    child.asInstanceOf[CodegenSupport].produce(ctx, this)

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode],
      row: ExprCode): String = consume(ctx, input)

  override protected def withNewChildInternal(newChild: SparkPlan)
      : SinglePartitionScanExec = copy(child = newChild)
}
