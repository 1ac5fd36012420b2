package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

/** The cells of a `terms` aggregation as ONE aggregate: the count of each
  * distinct non-null value of a key column (each non-null element of an
  * array column). Being an aggregate with no grouping, it can sit in an
  * `Observation` beside other metrics: every task keeps a partial value→count
  * map and the driver merges them, as the reference's root merges the
  * intermediate aggregation results of its leaves (root.rs:652-669).
  *
  * The map holds at most `limit` distinct keys. One key more sets a sticky
  * `overflow` flag and drops the map, so a high-cardinality column costs
  * bounded memory per task and on the driver; the caller then counts that
  * column another way.
  *
  * Output: `struct<overflow: boolean, cells: array<struct<key, count: bigint>>>`,
  * the key typed by the column's own (element) type, the cells sorted by key
  * in Spark's ascending order for that type, so a caller can order by key
  * without comparing values itself. Modelled on Spark's `Mode` aggregate,
  * which keeps the same value→count buffer. */
case class TermCells(child: Expression, limit: Int,
                     mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[TermCells.Buffer] with UnaryLike[Expression] {

  private def keyType: DataType = TermCells.keyType(child.dataType)

  override def nullable: Boolean = false

  override def dataType: DataType = StructType(Seq(
    StructField("overflow", BooleanType, nullable = false),
    StructField("cells", ArrayType(StructType(Seq(
      StructField("key", keyType, nullable = false),
      StructField("count", LongType, nullable = false))), containsNull = false),
      nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    if (TermCells.supports(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"term_cells cannot count ${child.dataType.simpleString} values")

  override def prettyName: String = "term_cells"

  override def createAggregationBuffer(): TermCells.Buffer = new TermCells.Buffer

  /** Adds `n` to `key`'s count; a key past `limit` overflows the buffer. */
  private def add(b: TermCells.Buffer, key: Any, n: Long): Unit =
    if (!b.overflow) {
      val k = TermCells.normalized(key)
      val c = b.counts.get(k)
      if (c != null) c(0) += n
      else if (b.counts.size < limit) b.counts.put(InternalRow.copyValue(k), Array(n))
      else { b.overflow = true; b.counts.clear() }
    }

  override def update(b: TermCells.Buffer, input: InternalRow): TermCells.Buffer = {
    child.eval(input) match {
      case null =>
      case arr: ArrayData =>
        val et = keyType
        var i = 0
        while (i < arr.numElements()) {
          if (!arr.isNullAt(i)) add(b, arr.get(i, et), 1L)
          i += 1
        }
      case v => add(b, v, 1L)
    }
    b
  }

  override def merge(b: TermCells.Buffer, other: TermCells.Buffer): TermCells.Buffer = {
    if (other.overflow) { b.overflow = true; b.counts.clear() }
    else other.counts.forEach((k, c) => add(b, k, c(0)))
    b
  }

  override def eval(b: TermCells.Buffer): Any = {
    val keys = b.counts.keySet.toArray.sorted(TypeUtils.getInterpretedOrdering(keyType))
    InternalRow(b.overflow,
      new GenericArrayData(keys.map[Any](k => InternalRow(k, b.counts.get(k)(0)))))
  }

  @transient private lazy val projection = UnsafeProjection.create(Array[DataType](keyType, LongType))

  /** The flag, then each (key, count) pair as a length-prefixed UnsafeRow,
    * then -1. */
  override def serialize(b: TermCells.Buffer): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    out.writeBoolean(b.overflow)
    b.counts.forEach { (k, c) =>
      val row = projection(InternalRow(k, c(0)))
      out.writeInt(row.getSizeInBytes)
      out.write(row.getBytes)
    }
    out.writeInt(-1)
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): TermCells.Buffer = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val b = new TermCells.Buffer
    b.overflow = in.readBoolean()
    var size = in.readInt()
    while (size >= 0) {
      val rowBytes = new Array[Byte](size)
      in.readFully(rowBytes)
      val row = new UnsafeRow(2)
      row.pointTo(rowBytes, size)
      // the key may point into rowBytes, which no other key shares
      b.counts.put(row.get(0, keyType), Array(row.getLong(1)))
      size = in.readInt()
    }
    b
  }

  override def withNewMutableAggBufferOffset(n: Int): TermCells = copy(mutableAggBufferOffset = n)
  override def withNewInputAggBufferOffset(n: Int): TermCells = copy(inputAggBufferOffset = n)
  override protected def withNewChildInternal(c: Expression): TermCells = copy(child = c)
}

object TermCells {

  /** A partial value→count map; `overflow` once more than `limit` keys came. */
  final class Buffer {
    val counts = new java.util.HashMap[Any, Array[Long]]()
    var overflow = false
  }

  /** Whether a column of type `dt` can be counted: atomic keys whose values
    * are equal exactly when their bytes are (strings of the default
    * collation; no decimals or nested values), or an array of them. */
  def supports(dt: DataType): Boolean = keyType(dt) match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         DateType | TimestampType | TimestampNTZType => true
    case s: StringType => s == StringType
    case _ => false
  }

  /** The type of the keys counted over a column of type `dt`. */
  def keyType(dt: DataType): DataType = dt match {
    case ArrayType(et, _) => et
    case t                => t
  }

  /** A grouping key's floating-point normalization: -0.0 counts as 0.0 and
    * every NaN as one NaN, as Spark's `groupBy` counts them. */
  private def normalized(v: Any): Any = v match {
    case d: java.lang.Double =>
      if (d.isNaN) java.lang.Double.NaN else if (d.doubleValue == 0.0) 0.0d else d
    case f: java.lang.Float =>
      if (f.isNaN) java.lang.Float.NaN else if (f.floatValue == 0.0f) 0.0f else f
    case other => other
  }

  /** `term_cells(c)` as an aggregate Column holding at most `limit` keys. */
  def of(c: Column, limit: Int): Column =
    ColumnBridge.column(TermCells(ColumnBridge.expression(c), limit).toAggregateExpression())
}
