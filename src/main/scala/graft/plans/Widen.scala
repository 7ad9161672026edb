package graft.plans

import org.apache.spark.SparkException
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.Shims
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Spread a float-array column over one top-level FloatType column per
  * element: output = `meta` (passed through unchanged) ++ `bytes`, where
  * `bytes(i)` holds `features[i]`. Every array must hold exactly
  * `bytes.length` elements; a null array yields null in every `bytes`
  * column, as does a null element in its own column.
  *
  * A native node rather than a `select` of `getItem(i)`s: a projection
  * over more than `spark.sql.codegen.maxFields` columns falls out of
  * whole-stage codegen, and then every task generates and compiles its own
  * `UnsafeProjection` for all the expressions. See [[WidenExec]].
  */
final case class Widen(
    meta: Seq[Attribute],
    features: Attribute,
    bytes: Seq[Attribute],
    child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] = meta ++ bytes
  override def producedAttributes: AttributeSet = AttributeSet(bytes)
  override protected def withNewChildInternal(newChild: LogicalPlan): Widen =
    copy(child = newChild)
}

object Widen {

  /** `df` widened: every column but `features` passes through in order,
    * then one nullable float column per name in `names`, so every
    * `features` array must hold `names.size` elements. Registers
    * [[WidenStrategy]] on the frame's session. */
  def of(df: DataFrame, features: String, names: Seq[String]): DataFrame = {
    val plan = df.queryExecution.analyzed
    val (feat, meta) = plan.output.partition(a => SQLConf.get.resolver(a.name, features))
    require(feat.map(_.dataType) match { case Seq(ArrayType(FloatType, _)) => true; case _ => false },
      s"expected one array<float> column named $features in ${plan.schema.simpleString}")
    meta.foreach(a => WidenExec.copier(a.dataType)) // unsupported types fail here, not in a task
    val bytes = names.map(n => AttributeReference(n, FloatType)())
    WidenStrategy.register(df.sparkSession)
    Shims.ofRows(df.sparkSession, Widen(meta, feat.head, bytes, plan))
  }
}

/** Fills one reused `UnsafeRowWriter` per partition: the pass-through
  * fields are copied by type, then one loop copies the floats. No code is
  * generated, so a task pays nothing per column before its first row. */
final case class WidenExec(
    meta: Seq[Attribute],
    features: Attribute,
    bytes: Seq[Attribute],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = meta ++ bytes
  override def producedAttributes: AttributeSet = AttributeSet(bytes)

  override protected def doExecute(): RDD[InternalRow] = {
    val in = child.output
    val metaOrd = meta.map(a => in.indexWhere(_.exprId == a.exprId)).toArray
    val copiers = meta.map(a => WidenExec.copier(a.dataType)).toArray
    val featOrd = in.indexWhere(_.exprId == features.exprId)
    val nullElems = features.dataType.asInstanceOf[ArrayType].containsNull
    val nMeta = meta.size
    val width = bytes.size
    child.execute().mapPartitions { rows =>
      val w = new UnsafeRowWriter(nMeta + width)
      rows.map { row =>
        w.reset()
        w.zeroOutNullBytes()
        var m = 0
        while (m < nMeta) {
          if (row.isNullAt(metaOrd(m))) w.setNullAt(m) else copiers(m)(row, metaOrd(m), w, m)
          m += 1
        }
        if (row.isNullAt(featOrd)) {
          var i = 0
          while (i < width) { w.setNullAt(nMeta + i); i += 1 }
        } else {
          val arr = row.getArray(featOrd)
          if (arr.numElements != width)
            throw new SparkException(
              s"Widen: ${features.name} holds ${arr.numElements} elements, expected $width")
          var i = 0
          while (i < width) {
            if (nullElems && arr.isNullAt(i)) w.setNullAt(nMeta + i)
            else w.write(nMeta + i, arr.getFloat(i))
            i += 1
          }
        }
        w.getRow
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): WidenExec =
    copy(child = newChild)
}

object WidenExec {
  type Copier = (InternalRow, Int, UnsafeRowWriter, Int) => Unit

  /** Copies one non-null field of a pass-through type: the types of the
    * sink's metadata columns. */
  def copier(t: DataType): Copier = t match {
    case LongType => (r, i, w, o) => w.write(o, r.getLong(i))
    case DoubleType => (r, i, w, o) => w.write(o, r.getDouble(i))
    case _: StringType => (r, i, w, o) => w.write(o, r.getUTF8String(i))
    case other =>
      throw new IllegalArgumentException(s"Widen cannot pass through ${other.catalogString} columns")
  }
}

/** Plans [[Widen]] as [[WidenExec]]. */
object WidenStrategy extends SparkStrategy {

  /** Idempotent: adds the strategy to the session once. */
  def register(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraStrategies
    if (!cur.exists(_ eq WidenStrategy))
      spark.experimental.extraStrategies = cur :+ WidenStrategy
  }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case w: Widen => WidenExec(w.meta, w.features, w.bytes, planLater(w.child)) :: Nil
    case _ => Nil
  }
}
