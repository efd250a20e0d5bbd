package graft.sql

import java.util.concurrent.TimeUnit.NANOSECONDS

import graft.core.CardinalitySketch

import org.apache.spark.TaskContext
import org.apache.spark.memory.{MemoryConsumer, MemoryMode, TaskMemoryManager}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{ColumnarToRowExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, WritableColumnVector}
import org.apache.spark.sql.graftshim.TaskMemory
import org.apache.spark.sql.types.{BinaryType, DataType}
import org.apache.spark.sql.vectorized.ColumnarBatch

/** Partial phase of an aggregate made only of [[CardinalitySketchAgg]] and
  * [[CardinalityUnionAgg]] functions (planned by [[SketchAggregation]]). Its
  * output is that of the ObjectHashAggregateExec it replaces: the grouping
  * key followed by each function's serialized buffer, one row per group.
  *
  * When its child is Spark's ColumnarToRowExec it reads the column batches
  * under it instead of rows: each row's group comes from the key values
  * (with a per-batch dictionary-id -> group cache for a dictionary-encoded
  * single key, and one lookup per batch for a constant key), and each value
  * is hashed from its column vector straight into the group's sketch.
  * Any other child is read row by row.
  *
  * Buffers are charged to the task's memory manager while groups are built.
  * When it refuses more, the operator emits every group it holds and starts
  * over; the final aggregate merges the repeated keys, so estimates do not
  * change. The charge is returned before the first row of each emit, so the
  * consumer of those rows (a shuffle writer's sorter) can take the memory.
  */
case class SketchPartialAggregateExec(
    groupingExpressions: Seq[NamedExpression],
    aggregateExpressions: Seq[AggregateExpression],
    aggregateAttributes: Seq[Attribute],
    resultExpressions: Seq[NamedExpression],
    child: SparkPlan)
  extends BaseAggregateExec {

  override def requiredChildDistributionExpressions: Option[Seq[Expression]] = None
  override def isStreaming: Boolean = false
  override def numShufflePartitions: Option[Int] = None
  override def initialInputBufferOffset: Int = 0

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "aggTime" -> SQLMetrics.createTimingMetric(sparkContext, "time in aggregation build"),
    "numInputBatches" -> SQLMetrics.createMetric(sparkContext, "number of input batches"),
    "numInputRows" -> SQLMetrics.createMetric(sparkContext, "number of input rows"),
    "numEarlyEmits" -> SQLMetrics.createMetric(sparkContext, "number of early emits"),
    "peakMemory" -> SQLMetrics.createSizeMetric(sparkContext, "peak accounted memory"))

  /** The columnar plan under Spark's row transition, when that is the child. */
  private def columnarSource: Option[SparkPlan] = child match {
    case c: ColumnarToRowExec => Some(c.child)
    case WholeStageCodegenExec(c: ColumnarToRowExec) => Some(c.child)
    case _ => None
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val keys = groupingExpressions.map(e => BindReferences.bindReference[Expression](e, child.output))
    val functions = aggregateExpressions.map(_.aggregateFunction)
    val inputs = functions.map(f => BindReferences.bindReference(f.children.head, child.output))
    val m = metrics
    val limit = SketchPartialAggregateExec.budgetForTest
    val aggregator = () => new SketchPartialAggregator(keys, functions, inputs, m, limit)
    columnarSource match {
      case Some(source) =>
        source.executeColumnar().mapPartitions(batches => aggregator().batches(batches))
      case None =>
        child.execute().mapPartitions(rows => aggregator().rows(rows))
    }
  }

  private def describe(maxFields: Int): String = {
    val keyString = truncatedString(groupingExpressions, "[", ", ", "]", maxFields)
    val functionString = truncatedString(aggregateExpressions, "[", ", ", "]", maxFields)
    val outputString = truncatedString(output, "[", ", ", "]", maxFields)
    s"$nodeName(keys=$keyString, functions=$functionString, output=$outputString)"
  }

  override def simpleString(maxFields: Int): String = describe(maxFields)
  override def verboseString(maxFields: Int): String = describe(maxFields)

  override protected def withNewChildInternal(newChild: SparkPlan): SketchPartialAggregateExec =
    copy(child = newChild)
}

object SketchPartialAggregateExec {
  /** Test seam: when set, a task's accounted bytes may not exceed this many,
    * so the early-emit path runs without a memory-starved executor.
    */
  @volatile private[sql] var budgetForTest: Option[Long] = None
}

/** One function's buffers, indexed by group id. `update*` return the growth
  * in accounted bytes.
  */
private abstract class SketchColumn(input: Expression) {
  /** Batch column the input reads, or -1 when it is not a plain column. */
  protected val ordinal: Int = input match {
    case b: BoundReference => b.ordinal
    case _ => -1
  }
  def addGroup(g: Int): Long
  def updateRow(g: Int, row: InternalRow): Long
  def updateBatch(batch: ColumnarBatch, groups: Array[Int], n: Int): Long
  def bytes(g: Int): Array[Byte]
  def clear(): Unit
}

private final class DistinctColumn(agg: CardinalitySketchAgg, input: Expression)
  extends SketchColumn(input) {
  private var sketches = new Array[CardinalitySketch](64)
  private val hasher = agg.hasher
  private val vectorHasher =
    if (ordinal >= 0) SketchHashing.vectorHasherFor(input.dataType) else null

  def addGroup(g: Int): Long = {
    if (g == sketches.length) sketches = java.util.Arrays.copyOf(sketches, g * 2)
    val sk = agg.createAggregationBuffer()
    sketches(g) = sk
    sk.sizeInBytes
  }

  def updateRow(g: Int, row: InternalRow): Long = {
    val v = input.eval(row)
    if (v == null) 0L
    else {
      val sk = sketches(g)
      val before = sk.sizeInBytes
      sk.insertHash(hasher(v))
      sk.sizeInBytes - before
    }
  }

  def updateBatch(batch: ColumnarBatch, groups: Array[Int], n: Int): Long = {
    var grown = 0L
    var i = 0
    if (vectorHasher != null) {
      val vec = batch.column(ordinal)
      val h = vectorHasher
      while (i < n) {
        if (!vec.isNullAt(i)) {
          val sk = sketches(groups(i))
          val before = sk.sizeInBytes
          sk.insertHash(h(vec, i))
          grown += sk.sizeInBytes - before
        }
        i += 1
      }
    } else {
      while (i < n) {
        grown += updateRow(groups(i), batch.getRow(i))
        i += 1
      }
    }
    grown
  }

  def bytes(g: Int): Array[Byte] = agg.serialize(sketches(g))

  def clear(): Unit = java.util.Arrays.fill(sketches.asInstanceOf[Array[AnyRef]], null)
}

private final class UnionColumn(agg: CardinalityUnionAgg, input: Expression)
  extends SketchColumn(input) {
  private var buffers = new Array[UnionBuffer](64)

  def addGroup(g: Int): Long = {
    if (g == buffers.length) buffers = java.util.Arrays.copyOf(buffers, g * 2)
    buffers(g) = agg.createAggregationBuffer()
    0L
  }

  private def add(g: Int, bytes: Array[Byte]): Long = {
    val b = buffers(g)
    val before = b.sizeInBytes
    b.add(CardinalitySketch.deserialize(bytes))
    b.sizeInBytes - before
  }

  def updateRow(g: Int, row: InternalRow): Long = {
    val v = input.eval(row)
    if (v == null) 0L else add(g, v.asInstanceOf[Array[Byte]])
  }

  def updateBatch(batch: ColumnarBatch, groups: Array[Int], n: Int): Long = {
    var grown = 0L
    var i = 0
    if (ordinal >= 0) {
      val vec = batch.column(ordinal)
      while (i < n) {
        if (!vec.isNullAt(i)) grown += add(groups(i), vec.getBinary(i))
        i += 1
      }
    } else {
      while (i < n) {
        grown += updateRow(groups(i), batch.getRow(i))
        i += 1
      }
    }
    grown
  }

  def bytes(g: Int): Array[Byte] = agg.serialize(buffers(g))

  def clear(): Unit = java.util.Arrays.fill(buffers.asInstanceOf[Array[AnyRef]], null)
}

/** Charges accounted bytes to the task's memory manager. It cannot spill on
  * request; the aggregator emits its groups when a charge is refused, and
  * releases the whole grant before emitting.
  */
private final class SketchMemory(tmm: TaskMemoryManager, limit: Option[Long])
  extends MemoryConsumer(tmm, MemoryMode.ON_HEAP) {
  private val Chunk = 1L << 20

  override def spill(size: Long, trigger: MemoryConsumer): Long = 0L

  /** Grows the grant to cover `accounted` bytes; false when refused. */
  def cover(accounted: Long): Boolean =
    accounted <= used || (limit match {
      case Some(max) => accounted <= max
      case None =>
        val want = math.max(accounted - used, Chunk)
        acquireMemory(want) >= want || used >= accounted
    })

  def releaseAll(): Unit = if (used > 0) freeMemory(used)
}

/** The per-task state of [[SketchPartialAggregateExec]]: a group table, one
  * [[SketchColumn]] per function, and the output iterator.
  */
private final class SketchPartialAggregator(
    keys: Seq[Expression],
    functions: Seq[AggregateFunction],
    inputs: Seq[Expression],
    metrics: Map[String, SQLMetric],
    limit: Option[Long]) {

  /** Map-entry and key-row overhead charged per group on top of its bytes. */
  private val GroupOverhead = 64L

  private val columns: Array[SketchColumn] = functions.zip(inputs).map {
    case (f: CardinalitySketchAgg, in) => new DistinctColumn(f, in)
    case (f: CardinalityUnionAgg, in) => new UnionColumn(f, in)
    case (f, _) => throw new IllegalStateException(s"not a sketch function: $f")
  }.toArray

  private val keyProjection = UnsafeProjection.create(keys)
  private val groupIds = new java.util.HashMap[UnsafeRow, Integer]()
  private var groupKeys = new Array[UnsafeRow](64)
  private var numGroups = 0

  private val ctx = TaskContext.get()
  private val memory = new SketchMemory(TaskMemory.manager(ctx), limit)
  ctx.addTaskCompletionListener[Unit](_ => memory.releaseAll())
  private var accounted = 0L
  private var peak = 0L

  private var inputRows = 0L
  private var inputBatches = 0L
  private var outputRows = 0L
  private var earlyEmits = 0L
  private var buildNanos = 0L

  private def newGroup(key: UnsafeRow): Int = {
    val g = numGroups
    if (g == groupKeys.length) groupKeys = java.util.Arrays.copyOf(groupKeys, g * 2)
    groupKeys(g) = key
    groupIds.put(key, g)
    numGroups += 1
    var bytes = key.getSizeInBytes + GroupOverhead
    var j = 0
    while (j < columns.length) { bytes += columns(j).addGroup(g); j += 1 }
    accounted += bytes
    g
  }

  private def groupOf(row: InternalRow): Int = {
    val key = keyProjection(row)
    val g = groupIds.get(key)
    if (g != null) g.intValue else newGroup(key.copy())
  }

  // -- columnar input ------------------------------------------------------

  private var groupsOfRows = new Array[Int](0)
  private val singleKey: Int = keys match {
    case Seq(b: BoundReference) => b.ordinal
    case _ => -1
  }
  // group of each dictionary id seen in the current batch
  private var dictGroups = new Array[Int](0)
  private var dictEpochs = new Array[Int](0)
  private var epoch = 0

  private def groupsOfBatch(batch: ColumnarBatch, n: Int): Unit = {
    if (groupsOfRows.length < n) groupsOfRows = new Array[Int](n)
    val out = groupsOfRows
    if (keys.isEmpty) {
      val g = if (numGroups == 0) groupOf(batch.getRow(0)) else 0
      java.util.Arrays.fill(out, 0, n, g)
    } else if (singleKey >= 0) batch.column(singleKey) match {
      case _: ConstantColumnVector =>
        java.util.Arrays.fill(out, 0, n, groupOf(batch.getRow(0)))
      case v: WritableColumnVector if v.hasDictionary => dictionaryGroups(batch, v, n)
      case _ => rowGroups(batch, n)
    } else rowGroups(batch, n)
  }

  private def rowGroups(batch: ColumnarBatch, n: Int): Unit = {
    var i = 0
    while (i < n) { groupsOfRows(i) = groupOf(batch.getRow(i)); i += 1 }
  }

  private def dictionaryGroups(batch: ColumnarBatch, v: WritableColumnVector, n: Int): Unit = {
    val ids = v.getDictionaryIds
    epoch += 1
    var nullGroup = -1
    var i = 0
    while (i < n) {
      groupsOfRows(i) =
        if (v.isNullAt(i)) {
          if (nullGroup < 0) nullGroup = groupOf(batch.getRow(i))
          nullGroup
        } else {
          val id = ids.getInt(i)
          if (id >= dictEpochs.length) {
            val size = math.max(id + 1, dictEpochs.length * 2)
            dictEpochs = java.util.Arrays.copyOf(dictEpochs, size)
            dictGroups = java.util.Arrays.copyOf(dictGroups, size)
          }
          if (dictEpochs(id) != epoch) {
            dictGroups(id) = groupOf(batch.getRow(i))
            dictEpochs(id) = epoch
          }
          dictGroups(id)
        }
      i += 1
    }
  }

  private def consumeBatch(batch: ColumnarBatch): Unit = {
    val n = batch.numRows
    inputBatches += 1
    inputRows += n
    if (n > 0) {
      groupsOfBatch(batch, n)
      var j = 0
      while (j < columns.length) {
        accounted += columns(j).updateBatch(batch, groupsOfRows, n)
        j += 1
      }
    }
  }

  private def consumeRow(row: InternalRow): Unit = {
    inputRows += 1
    val g = if (keys.isEmpty && numGroups > 0) 0 else groupOf(row)
    var j = 0
    while (j < columns.length) { accounted += columns(j).updateRow(g, row); j += 1 }
  }

  // -- output ----------------------------------------------------------------

  private val outputProjection = UnsafeProjection.create(
    (keys.map(_.dataType) ++ columns.map(_ => BinaryType)).toArray[DataType])
  private val buffersRow = new GenericInternalRow(columns.length)
  private val joined = new JoinedRow()

  private def outputRow(g: Int): InternalRow = {
    var j = 0
    while (j < columns.length) { buffersRow.update(j, columns(j).bytes(g)); j += 1 }
    outputRows += 1
    outputProjection(joined(groupKeys(g), buffersRow))
  }

  private def reset(): Unit = {
    java.util.Arrays.fill(groupKeys.asInstanceOf[Array[AnyRef]], 0, numGroups, null)
    groupIds.clear()
    numGroups = 0
    columns.foreach(_.clear())
    accounted = 0L
  }

  private def finish(): Unit = {
    metrics("numOutputRows") += outputRows
    metrics("aggTime") += NANOSECONDS.toMillis(buildNanos)
    metrics("numInputBatches") += inputBatches
    metrics("numInputRows") += inputRows
    metrics("numEarlyEmits") += earlyEmits
    metrics("peakMemory") += peak
  }

  /** Output iterator over an input whose `step` consumes one unit (a batch
    * or a row) and returns false once the input is exhausted.
    */
  private def output(step: () => Boolean): Iterator[InternalRow] = new Iterator[InternalRow] {
    private var emitted = 0
    private var exhausted = false
    private var finished = false

    /** Consumes input until it ends or memory is refused. */
    private def fill(): Unit = {
      val t0 = System.nanoTime()
      var refused = false
      while (!refused && step()) {
        if (accounted > peak) peak = accounted
        refused = !memory.cover(accounted)
      }
      if (refused) earlyEmits += 1 else exhausted = true
      // emitting only reads and drops the buffers; hand the grant back first
      memory.releaseAll()
      // a global aggregate emits one row per task even for empty input
      if (exhausted && keys.isEmpty && numGroups == 0 && outputRows == 0) {
        groupOf(InternalRow.empty)
      }
      buildNanos += System.nanoTime() - t0
    }

    override def hasNext: Boolean = {
      while (emitted >= numGroups && !finished) {
        if (numGroups > 0) { reset(); emitted = 0 }
        if (exhausted) { finished = true; finish() } else fill()
      }
      emitted < numGroups
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val row = outputRow(emitted)
      emitted += 1
      row
    }
  }

  def batches(input: Iterator[ColumnarBatch]): Iterator[InternalRow] =
    output(() => input.hasNext && { consumeBatch(input.next()); true })

  def rows(input: Iterator[InternalRow]): Iterator[InternalRow] =
    output(() => input.hasNext && { consumeRow(input.next()); true })
}
