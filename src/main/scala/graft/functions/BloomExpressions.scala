package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graftexpr
import org.apache.spark.sql.types.{BooleanType, DataType}
import org.apache.spark.util.sketch.BloomFilter

/** Codegen'd membership probe against a driver-built
  * [[org.apache.spark.util.sketch.BloomFilter]] over long hashes.
  * Spark exposes no public might_contain Column function, and a Scala
  * udf breaks whole-stage codegen for the probing projection — this
  * expression keeps the BloomDedupGate scan fused: the sketch rides as
  * a codegen reference object (serialized once per plan, shared by all
  * tasks on an executor) and the probe compiles to a single virtual
  * call inside the generated consume path.
  */
case class BloomMightContain(child: Expression, bf: BloomFilter)
    extends UnaryKernel {
  override def prettyName: String = "bloom_might_contain"
  override protected def accepts = StaticKernel.Hashes
  override def dataType: DataType = BooleanType
  override protected def forwarder =
    "org.apache.spark.util.sketch.BloomFilter.mightContainLong"
  override protected def planArgs = Seq("bloomFilter" -> bf)
  override protected def withNewChildInternal(
      newChild: Expression): BloomMightContain = copy(child = newChild)
}

/** Column-API surface for the Bloom probe. */
object bloom {
  def mightContain(h: Column, bf: BloomFilter): Column =
    graftexpr.column(BloomMightContain(graftexpr.expression(h), bf))
}
