package graft.sql

import graft.core.{CardinalitySketch, WyHash}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnVector
import org.apache.spark.unsafe.types.UTF8String

/** Hashing of Spark internal values into the reference's 64-bit item-hash
  * space (reference: items are hashed with `BuildHasherDefault<WyHash>` at
  * src/estimator.rs:46-49). Canonical byte feeds per type: integral types as
  * their 8 little-endian bytes (bit-exact with the reference's u64/usize
  * hashing — golden-verified), strings as UTF-8 bytes, binary as raw bytes.
  */
private[graft] object SketchHashing {
  /** Returns a hasher for the internal representation of `dt`, or null if the
    * type is unsupported (checked at analysis time).
    */
  def hasherFor(dt: DataType): Any => Long = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      v => WyHash.hashLong(v.asInstanceOf[Long])
    case IntegerType | DateType =>
      v => WyHash.hashLong(v.asInstanceOf[Int].toLong)
    case ShortType => v => WyHash.hashLong(v.asInstanceOf[Short].toLong)
    case ByteType => v => WyHash.hashLong(v.asInstanceOf[Byte].toLong)
    case BooleanType => v => WyHash.hashLong(if (v.asInstanceOf[Boolean]) 1L else 0L)
    case FloatType =>
      v => WyHash.hashLong(java.lang.Float.floatToIntBits(v.asInstanceOf[Float]).toLong)
    case DoubleType =>
      v => WyHash.hashLong(java.lang.Double.doubleToLongBits(v.asInstanceOf[Double]))
    case StringType =>
      v => UnsafeWyHash.hashUTF8(v.asInstanceOf[UTF8String])
    case BinaryType =>
      v => {
        val b = v.asInstanceOf[Array[Byte]]
        WyHash.hash(b, 0, b.length, 0L)
      }
    case _: DecimalType =>
      v => {
        val b = v.toString.getBytes("UTF-8")
        WyHash.hash(b, 0, b.length, 0L)
      }
    case st: StructType =>
      // multi-column distinct: combine per-field hashes order-sensitively
      // (mum chain), null fields fold in a fixed tag — supports
      // ce_approx_distinct(struct(a, b, ...)) as the COUNT(DISTINCT a, b)
      // analog
      val fieldHashers = st.fields.map(f => hasherFor(f.dataType))
      val getters = st.fields.zipWithIndex.map { case (f, i) =>
        val dt = f.dataType
        (row: org.apache.spark.sql.catalyst.InternalRow) =>
          if (row.isNullAt(i)) null else row.get(i, dt)
      }
      if (fieldHashers.contains(null)) null
      else
        v => {
          val row = v.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
          var h = WyHash.P2
          var i = 0
          while (i < fieldHashers.length) {
            val fv = getters(i)(row)
            val fh = if (fv == null) 0x9e3779b97f4a7c15L else fieldHashers(i)(fv)
            h = WyHash.mum(h ^ fh, WyHash.P1)
            i += 1
          }
          h
        }
    case _ => null
  }

  def supported(dt: DataType): Boolean = hasherFor(dt) != null

  /** Hash of the non-null value at `rowId` of a column vector. A class
    * rather than a Function2, whose object argument would box the row id and
    * the hash on every call.
    */
  abstract class VectorHasher extends Serializable {
    def apply(v: ColumnVector, rowId: Int): Long
  }

  /** Reads a value of type `dt` straight from a column vector and hashes it
    * exactly as `hasherFor(dt)` hashes the same value, or null for every
    * other type, which goes through `hasherFor`. Each entry repeats its
    * `hasherFor` encoding, so only the types SketchAggregationSpec checks
    * byte for byte against Spark's plan have one.
    */
  def vectorHasherFor(dt: DataType): VectorHasher = dt match {
    case LongType => (v, i) => WyHash.hashLong(v.getLong(i))
    case IntegerType | DateType => (v, i) => WyHash.hashLong(v.getInt(i).toLong)
    case StringType => (v, i) => UnsafeWyHash.hashUTF8(v.getUTF8String(i))
    case BinaryType =>
      (v, i) => {
        val b = v.getBinary(i)
        WyHash.hash(b, 0, b.length, 0L)
      }
    case _ => null
  }
}

/** Distinct-count sketch aggregate — the Spark expression of the reference's
  * whole `CardinalityEstimator` lifecycle (src/estimator.rs:46-94):
  * `createAggregationBuffer` = new() ; per-row `update` = insert() inside the
  * partial aggregate on each executor ; `merge` = merge() at the
  * shuffle-reduce boundary ; `eval` = estimate() (emitEstimate) or the
  * serialized sketch bytes for storage / re-aggregation.
  *
  * Catalyst plans this as partial -> shuffle -> final phases. In a session
  * with [[SketchAggregation]] installed (every `graft.functions` builder,
  * `registerAll` and `GraftExtensions` install it) the partial phase is a
  * [[SketchPartialAggregateExec]] that hashes column values straight into
  * per-group sketches; otherwise, and for the final phase, it is an
  * ObjectHashAggregateExec calling `update` / `merge` below. The buffer
  * crosses the wire via the versioned sketch format (serialize/deserialize
  * below), sitting exactly where the reference's serde feature was designed
  * to sit (src/serde.rs:29-80).
  */
case class CardinalitySketchAgg(
    child: Expression,
    p: Int = 12,
    w: Int = 6,
    emitEstimate: Boolean = true,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CardinalitySketch] with UnaryLike[Expression] {

  @transient private[sql] lazy val hasher: Any => Long = SketchHashing.hasherFor(child.dataType)

  override def checkInputDataTypes(): TypeCheckResult = {
    if (p < CardinalitySketch.MinP || p > CardinalitySketch.MaxP) {
      TypeCheckResult.TypeCheckFailure(s"precision must be in [4..18], got $p")
    } else if (w < CardinalitySketch.MinW || w > CardinalitySketch.MaxW) {
      TypeCheckResult.TypeCheckFailure(s"register width must be in [4..6], got $w")
    } else if (!SketchHashing.supported(child.dataType)) {
      TypeCheckResult.TypeCheckFailure(
        s"ce_sketch does not support input type ${child.dataType.catalogString}")
    } else TypeCheckResult.TypeCheckSuccess
  }

  override def createAggregationBuffer(): CardinalitySketch = new CardinalitySketch(p, w)

  override def update(buffer: CardinalitySketch, input: InternalRow): CardinalitySketch = {
    val v = child.eval(input)
    if (v != null) buffer.insertHash(hasher(v))
    buffer
  }

  override def merge(buffer: CardinalitySketch, other: CardinalitySketch): CardinalitySketch = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: CardinalitySketch): Any =
    if (emitEstimate) buffer.estimate else buffer.serialize()

  override def serialize(buffer: CardinalitySketch): Array[Byte] = buffer.serialize()

  override def deserialize(bytes: Array[Byte]): CardinalitySketch =
    CardinalitySketch.deserialize(bytes)

  override def dataType: DataType = if (emitEstimate) LongType else BinaryType
  override def nullable: Boolean = false

  override def withNewMutableAggBufferOffset(newOffset: Int): CardinalitySketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CardinalitySketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CardinalitySketchAgg =
    copy(child = newChild)

  override def prettyName: String = if (emitEstimate) "ce_approx_distinct" else "ce_sketch"
}

/** Mutable holder so the union aggregate can adopt (p, w) from the first
  * sketch it sees instead of demanding parameters up front.
  */
private[graft] final class UnionBuffer(var sk: CardinalitySketch) {
  /** Adopts the first sketch, merges every later one into it. */
  def add(other: CardinalitySketch): Unit =
    if (sk == null) sk = other else if (other != null) sk.merge(other)

  def sizeInBytes: Int = if (sk == null) 0 else sk.sizeInBytes
}

/** Second-level aggregate over a column of serialized sketches: re-aggregates
  * stored/partial sketches by sketch union — the reference's merge()
  * (src/estimator.rs:59-94) lifted to a Spark aggregate. Enables two-phase
  * salted aggregation and sketch-cube materialization: store ce_sketch at fine
  * grain, roll up with ce_merge at any coarser grain.
  */
case class CardinalityUnionAgg(
    child: Expression,
    emitEstimate: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[UnionBuffer] with UnaryLike[Expression] {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ce_merge expects a binary sketch column, got ${other.catalogString}")
  }

  override def createAggregationBuffer(): UnionBuffer = new UnionBuffer(null)

  override def update(buffer: UnionBuffer, input: InternalRow): UnionBuffer = {
    val v = child.eval(input)
    if (v != null) buffer.add(CardinalitySketch.deserialize(v.asInstanceOf[Array[Byte]]))
    buffer
  }

  override def merge(buffer: UnionBuffer, other: UnionBuffer): UnionBuffer = {
    buffer.add(other.sk)
    buffer
  }

  override def eval(buffer: UnionBuffer): Any =
    if (emitEstimate) { if (buffer.sk == null) 0L else buffer.sk.estimate }
    else { if (buffer.sk == null) null else buffer.sk.serialize() }

  override def serialize(buffer: UnionBuffer): Array[Byte] =
    if (buffer.sk == null) Array.emptyByteArray else buffer.sk.serialize()

  override def deserialize(bytes: Array[Byte]): UnionBuffer =
    if (bytes.isEmpty) new UnionBuffer(null)
    else new UnionBuffer(CardinalitySketch.deserialize(bytes))

  override def dataType: DataType = if (emitEstimate) LongType else BinaryType
  override def nullable: Boolean = !emitEstimate

  override def withNewMutableAggBufferOffset(newOffset: Int): CardinalityUnionAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CardinalityUnionAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CardinalityUnionAgg =
    copy(child = newChild)

  override def prettyName: String = if (emitEstimate) "ce_merge_estimate" else "ce_merge"
}
