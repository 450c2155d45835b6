package graft.functions

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, ExpressionColumn, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{LeafExpression, Nondeterministic}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Parameter `index` of a prepared query: a literal whose value is not
  * in the plan. The values of a run travel as the job-local property
  * [[ParamSlot.Key]] of the submitting thread, so one planned RDD
  * answers every binding of its shape, and two threads running it at
  * once each read their own values. The slot reads its value once per
  * partition (`initialize`); off a task (an optimizer rule evaluating
  * a filter over a local relation on the driver) it reads the calling
  * thread's property. The generated code holds the slot as a
  * reference, never its value, so it is the same for every binding.
  */
final case class ParamSlot(index: Int, dataType: DataType)
    extends LeafExpression with Nondeterministic with CodegenFallback {

  @transient private var value: Any = _

  override def nullable: Boolean = false
  override def prettyName: String = "param"
  override def toString: String = s"param$index"

  override protected def initializeInternal(partitionIndex: Int): Unit = {
    val tc = TaskContext.get()
    val encoded =
      if (tc != null) tc.getLocalProperty(ParamSlot.Key)
      else SparkSession.active.sparkContext.getLocalProperty(ParamSlot.Key)
    if (encoded == null)
      throw new IllegalStateException(s"parameter $index read outside a bound run")
    val s = ParamSlot.decode(encoded, index)
    value = dataType match {
      case StringType  => UTF8String.fromString(s)
      case LongType    => s.toLong
      case DoubleType  => s.toDouble
      case BooleanType => s.toBoolean
      case other       => throw new IllegalStateException(s"unsupported parameter type $other")
    }
  }

  override protected def evalInternal(input: InternalRow): Any = value
}

object ParamSlot {

  /** The local property that carries a run's parameter values. */
  val Key = "graft.params"

  /** A slot for literal `v` (String, Long, Double or Boolean) at `index`. */
  def column(index: Int, v: Any): Column = ExpressionColumn(ParamSlot(index, v match {
    case _: String  => StringType
    case _: Long    => LongType
    case _: Double  => DoubleType
    case _: Boolean => BooleanType
    case other      => throw new IllegalArgumentException(s"unsupported parameter: $other")
  }))

  /** `values` as one property string: each value's text after its length. */
  def encode(values: Seq[Any]): String =
    values.map { v => val s = v.toString; s"${s.length}:$s" }.mkString

  private def decode(encoded: String, index: Int): String = {
    // (start, end) of the value whose length starts at `pos`
    def value(pos: Int): (Int, Int) = {
      val colon = encoded.indexOf(':', pos)
      (colon + 1, colon + 1 + encoded.substring(pos, colon).toInt)
    }
    val (start, end) = (0 until index).foldLeft(value(0))((v, _) => value(v._2))
    encoded.substring(start, end)
  }
}
