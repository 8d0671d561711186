package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{AgnosticEncoder, ExpressionEncoder}
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import graft.model.{Frame, FrameDetections}
import graft.operators.{Detect, Detector}

/** SURVEY.md §4 custom piece 1, the full Catalyst treatment: the
  * detect operator as a first-class plan node — logical node →
  * planner strategy → physical exec — registered through
  * SparkSessionExtensions (GraftExtensions). This is the one
  * implementation behind `Detect.detect`: the operator (and its batch
  * size) is visible in explain output, participates in plan
  * traversals, and could later carry its own requiredChildDistribution
  * for placement control.
  */
case class DetectNode(
    child: LogicalPlan,
    detectorFactory: () => Detector,
    batchSize: Int,
    // constructor field (not a derived val): attribute ids must stay
    // STABLE across analyzer/optimizer copies, or downstream column
    // references un-resolve
    output: Seq[Attribute] =
      DataTypeUtils.toAttributes(Encoders.product[FrameDetections].schema))
    extends UnaryNode {
  // refused here, not inside every task's Iterator.grouped
  require(batchSize > 0, s"batchSize must be positive, got $batchSize")
  // this node PRODUCES its output (inference results), it does not
  // forward child attributes — without this the analyzer reports
  // them as missing from the child
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)
  // the detector consumes EVERY child column through an opaque
  // closure; without declaring that, ColumnPruning would narrow the
  // child to zero columns and the Frame deserializer could no longer
  // bind
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet
  override protected def withNewChildInternal(newChild: LogicalPlan): DetectNode =
    copy(child = newChild)
}

object DetectStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case d: DetectNode =>
      DetectExec(planLater(d.child), d.detectorFactory, d.batchSize, d.output) :: Nil
    case _ => Nil
  }
}

case class DetectExec(
    child: SparkPlan,
    detectorFactory: () => Detector,
    batchSize: Int,
    output: Seq[Attribute]) extends UnaryExecNode {

  override def simpleString(maxFields: Int): String =
    s"DetectExec(batchSize=$batchSize)"

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(output)

  override protected def doExecute(): RDD[InternalRow] = {
    val inEnc = ExpressionEncoder(
      Encoders.product[Frame].asInstanceOf[AgnosticEncoder[Frame]])
      .resolveAndBind(child.output)
    val outEnc = ExpressionEncoder(
      Encoders.product[FrameDetections].asInstanceOf[AgnosticEncoder[FrameDetections]])
    val factory = detectorFactory
    val bs = batchSize
    child.execute().mapPartitions { it =>
      val deser = inEnc.createDeserializer()
      val ser = outEnc.createSerializer()
      val detector = factory() // once per partition ≈ per-process init
      // deserialize BEFORE buffering: the parent's InternalRows are
      // reused mutable buffers, Frame objects are fresh
      it.map(deser(_)).grouped(bs).flatMap { frames =>
        Detect.detectAligned(detector, frames).lazyZip(frames).map { (dets, f) =>
          ser(FrameDetections(f.video_id, f.frame_id, f.height, f.width, dets))
            .copy() // serializer reuses its row buffer
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): DetectExec =
    copy(child = newChild)
}
