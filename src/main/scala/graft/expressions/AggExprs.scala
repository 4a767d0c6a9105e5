package graft.expressions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Add, AttributeReference, CreateNamedStruct, Expression, Greatest, If, IsNull, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{DeclarativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native `(count, max)` aggregate — the reference's per-logdate accumulator
  * (`TimestampCount`: event count + latest timestamp, merged pairwise across
  * writers, `/root/reference/src/main/scala/org/apache/flume/sink/hive/batch/util/TimedUtils.scala:40-56`)
  * as a single Catalyst [[DeclarativeAggregate]].
  *
  * Why declarative instead of a Scala `Aggregator`/UDAF: the buffer is two
  * expressions (`cnt`, `mx`), so update and merge stay inside whole-stage
  * codegen with map-side partial aggregation for free — the two-phase
  * partial/final plan IS the reference's merge protocol, chosen by the
  * engine instead of hand-rolled `ConcurrentHashMap` merging. One fused
  * buffer also beats declaring `count(x) + max(x)` separately when the
  * caller needs the pair consumed as one value (the reference's JSON
  * encoding of the pair, `TimedUtils.scala:51-53`).
  *
  * Null semantics match SQL aggregates: null inputs are skipped by both
  * legs (`count(x)`-not-`count(*)`, max ignores nulls; empty group →
  * `(0, null)`).
  */
case class CountMax(child: Expression)
    extends DeclarativeAggregate with UnaryLike[Expression] {

  override def prettyName: String = "graft_count_max"

  override def nullable: Boolean = false

  override def dataType: DataType = StructType(Seq(
    StructField("cnt", LongType, nullable = false),
    StructField("max_ts", child.dataType)))

  override def checkInputDataTypes(): TypeCheckResult =
    TypeUtils.checkForOrderingExpr(child.dataType, prettyName)

  private lazy val cnt =
    AttributeReference("cnt", LongType, nullable = false)()
  private lazy val mx =
    AttributeReference("mx", child.dataType)()

  override lazy val aggBufferAttributes: Seq[AttributeReference] = Seq(cnt, mx)

  override lazy val initialValues: Seq[Expression] = Seq(
    Literal(0L), Literal.create(null, child.dataType))

  override lazy val updateExpressions: Seq[Expression] = Seq(
    If(IsNull(child), cnt, Add(cnt, Literal(1L))),
    Greatest(Seq(mx, child)))

  override lazy val mergeExpressions: Seq[Expression] = Seq(
    Add(cnt.left, cnt.right),
    Greatest(Seq(mx.left, mx.right)))

  override lazy val evaluateExpression: Expression =
    CreateNamedStruct(Seq(Literal("cnt"), cnt, Literal("max_ts"), mx))

  override protected def withNewChildInternal(newChild: Expression): CountMax =
    copy(child = newChild)
}

/** Keyed `(count, max)`: [[CountMax]] per key, one pass, one aggregate
  * state — the reference's per-logdate `TimestampCount` map, folded while
  * the batch is written (`util/TimedUtils.scala:40-56`,
  * `counter/TimedSinkCounter.scala`). Output is
  * `map<key, struct<cnt, max>>`, the same numbers as
  * `groupBy(key).agg(count(lit(1)), max(value))`, but as ONE value, so it
  * can ride a file write as an `observe` metric instead of costing a
  * second pass over the data.
  *
  * Why a [[TypedImperativeAggregate]] and not a [[DeclarativeAggregate]]:
  * the key set is data, so the buffer is a hash map, which a fixed list of
  * buffer expressions cannot hold. The map stays a JVM object between rows
  * and crosses the wire through [[serialize]]/[[deserialize]] only, never
  * through per-row encoders (a Scala `Aggregator` via `udaf` pays those on
  * every update).
  *
  * Null semantics: a row with a null key is skipped; a null value counts
  * toward `cnt` but not `max`, and a key with no non-null value has a null
  * `max`. Empty input gives an empty map.
  */
case class KeyedCountMax(key: Expression, value: Expression,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[mutable.HashMap[UTF8String, KeyedCountMax.Cell]]
    with BinaryLike[Expression] {
  import KeyedCountMax.Cell

  override def prettyName: String = "graft_keyed_count_max"

  override def left: Expression = key
  override def right: Expression = value

  override def checkInputDataTypes(): TypeCheckResult =
    if (key.dataType == StringType && value.dataType == LongType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (string, bigint), got (${key.dataType.simpleString}, " +
        s"${value.dataType.simpleString})")

  override def nullable: Boolean = false

  override def dataType: DataType = KeyedCountMax.dataType

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Cell] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[UTF8String, Cell],
                      input: InternalRow): mutable.HashMap[UTF8String, Cell] = {
    val k = key.eval(input).asInstanceOf[UTF8String]
    if (k != null) {
      val c = buf.get(k) match {
        case Some(c) => c
        // the input row's string may point into a reused buffer: copy on insert
        case None => val c = new Cell; buf.update(k.clone(), c); c
      }
      c.cnt += 1
      val v = value.eval(input)
      if (v != null) c.offer(v.asInstanceOf[Long])
    }
    buf
  }

  override def merge(buf: mutable.HashMap[UTF8String, Cell],
                     other: mutable.HashMap[UTF8String, Cell]): mutable.HashMap[UTF8String, Cell] = {
    other.foreach { case (k, o) =>
      val c = buf.getOrElseUpdate(k, new Cell)
      c.cnt += o.cnt
      if (o.hasMax) c.offer(o.max)
    }
    buf
  }

  override def eval(buf: mutable.HashMap[UTF8String, Cell]): Any = {
    val keys = buf.keys.toArray.sorted
    new ArrayBasedMapData(new GenericArrayData(keys.asInstanceOf[Array[Any]]),
      new GenericArrayData(keys.map { k =>
        val c = buf(k)
        InternalRow(c.cnt, if (c.hasMax) c.max else null)
      }.asInstanceOf[Array[Any]]))
  }

  override def serialize(buf: mutable.HashMap[UTF8String, Cell]): Array[Byte] = {
    val bytes = new ByteArrayOutputStream
    val out = new DataOutputStream(bytes)
    out.writeInt(buf.size)
    buf.foreach { case (k, c) =>
      val kb = k.getBytes
      out.writeInt(kb.length); out.write(kb)
      out.writeLong(c.cnt); out.writeBoolean(c.hasMax); out.writeLong(c.max)
    }
    out.flush()
    bytes.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[UTF8String, Cell] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new mutable.HashMap[UTF8String, Cell](n, mutable.HashMap.defaultLoadFactor)
    for (_ <- 0 until n) {
      val kb = new Array[Byte](in.readInt()); in.readFully(kb)
      val c = new Cell
      c.cnt = in.readLong(); c.hasMax = in.readBoolean(); c.max = in.readLong()
      buf.put(UTF8String.fromBytes(kb), c)
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KeyedCountMax =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): KeyedCountMax =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): KeyedCountMax =
    copy(key = newLeft, value = newRight)
}

object KeyedCountMax {
  val dataType: MapType = MapType(StringType, StructType(Seq(
    StructField("cnt", LongType, nullable = false),
    StructField("max", LongType))), valueContainsNull = false)

  /** One key's running `(count, max)`. */
  final class Cell {
    var cnt = 0L
    var max = 0L
    var hasMax = false
    def offer(v: Long): Unit =
      if (!hasMax || v > max) { max = v; hasMax = true }
  }
}
