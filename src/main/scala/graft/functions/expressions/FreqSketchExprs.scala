package graft.functions.expressions

import org.apache.datasketches.common.ArrayOfStringsSerDe
import org.apache.datasketches.frequencies.{ErrorType, ItemsSketch}
import org.apache.datasketches.memory.Memory

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Frequent-items (heavy-hitters) sketch aggregates — the
  * Misra-Gries/Space-Saving family via the DataSketches
  * `frequencies.ItemsSketch`, surfaced as native Catalyst
  * `TypedImperativeAggregate`s (the same plan shape Spark gives its
  * own `hll_sketch_agg`: ObjectHashAggregate with map-side partial
  * merge, so the shuffle carries one ≤`maxMapSize`-entry sketch per
  * group per partition instead of the full key-frequency table).
  *
  * Guarantees (from the sketch, not luck): every true count is
  * inside the reported [lower, upper] bound, and with
  * `ErrorType.NO_FALSE_NEGATIVES` every item whose true count
  * exceeds the sketch's maximum error is reported. Below ~0.75 ·
  * maxMapSize distinct items no purge ever happens, the maximum
  * error is 0 and every estimate is EXACT — the regime the oracle
  * gate key runs in (spec pins both regimes).
  */
private[graft] object FreqSketchSerde {
  // ArrayOfStringsSerDe is stateless; one instance per JVM is fine
  val serde = new ArrayOfStringsSerDe()
  def toBytes(s: ItemsSketch[String]): Array[Byte] = s.toByteArray(serde)
  def fromBytes(bytes: Array[Byte]): ItemsSketch[String] =
    ItemsSketch.getInstance(Memory.wrap(bytes), serde)
}

/** Aggregate raw string items into one serialized frequency sketch
  * per group. `maxMapSize` (power of two) bounds the sketch's memory
  * and sets its error envelope — it is a BUILD-TIME constant of the
  * stored form, like the exact index's bloom geometry.
  */
case class FreqSketchAgg(child: Expression, maxMapSize: Int,
                         mutableAggBufferOffset: Int = 0,
                         inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ItemsSketch[String]] with UnaryLike[Expression] {

  // analysis-time rejection of non-string items — without it the
  // UTF8String cast in update fails deep inside the aggregate with a
  // ClassCastException (the theta aggregate's dataType dispatch is the
  // house pattern; frequency items are strings by design)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case dt => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"freq_sketch_agg requires a string item column, got $dt")
    }

  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)

  override def update(buffer: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) buffer.update(v.asInstanceOf[UTF8String].toString)
    buffer
  }

  override def merge(buffer: ItemsSketch[String],
                     other: ItemsSketch[String]): ItemsSketch[String] = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: ItemsSketch[String]): Any =
    FreqSketchSerde.toBytes(buffer)

  override def serialize(buffer: ItemsSketch[String]): Array[Byte] =
    FreqSketchSerde.toBytes(buffer)

  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    FreqSketchSerde.fromBytes(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "freq_sketch_agg"
  override def withNewMutableAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FreqSketchAgg =
    copy(child = newChild)
}

/** Union serialized frequency sketches (the stored-lifecycle merge:
  * rollups and appends read sketch rows, never raw items). Merging
  * sums the operands' error envelopes, exactly as the theory says —
  * the bounds reported downstream stay valid.
  */
case class FreqSketchMergeAgg(child: Expression, maxMapSize: Int,
                              mutableAggBufferOffset: Int = 0,
                              inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ItemsSketch[String]] with UnaryLike[Expression] {

  override def createAggregationBuffer(): ItemsSketch[String] =
    new ItemsSketch[String](maxMapSize)

  override def update(buffer: ItemsSketch[String], input: InternalRow): ItemsSketch[String] = {
    val v = child.eval(input)
    if (v != null) buffer.merge(FreqSketchSerde.fromBytes(v.asInstanceOf[Array[Byte]]))
    buffer
  }

  override def merge(buffer: ItemsSketch[String],
                     other: ItemsSketch[String]): ItemsSketch[String] = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: ItemsSketch[String]): Any =
    FreqSketchSerde.toBytes(buffer)

  override def serialize(buffer: ItemsSketch[String]): Array[Byte] =
    FreqSketchSerde.toBytes(buffer)

  override def deserialize(bytes: Array[Byte]): ItemsSketch[String] =
    FreqSketchSerde.fromBytes(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "freq_sketch_merge_agg"
  override def withNewMutableAggBufferOffset(newOffset: Int): FreqSketchMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqSketchMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): FreqSketchMergeAgg =
    copy(child = newChild)
}

/** Extract the top-k frequent items from a serialized sketch as
  * array<struct<item, estimate, lower, upper>>, ordered (estimate
  * desc, item asc in UTF-8 byte order — the cross-engine total order
  * every oracle key uses). `k <= 0` returns every reported item.
  * NO_FALSE_NEGATIVES: anything whose true count exceeds the
  * sketch's max error is present. CodegenFallback — one eval per
  * GROUP row, never on the raw-item path.
  */
case class FreqSketchTopK(child: Expression, k: Int)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("estimate", LongType, nullable = false),
    StructField("lower", LongType, nullable = false),
    StructField("upper", LongType, nullable = false))), containsNull = false)

  override protected def nullSafeEval(input: Any): Any = {
    val sketch = FreqSketchSerde.fromBytes(input.asInstanceOf[Array[Byte]])
    val rows = sketch.getFrequentItems(ErrorType.NO_FALSE_NEGATIVES)
    val ordered = rows.sortWith { (a, b) =>
      if (a.getEstimate != b.getEstimate) a.getEstimate > b.getEstimate
      else UTF8String.fromString(a.getItem).binaryCompare(UTF8String.fromString(b.getItem)) < 0
    }
    val top = if (k > 0) ordered.take(k) else ordered
    new GenericArrayData(top.map(r => new GenericInternalRow(Array[Any](
      UTF8String.fromString(r.getItem), r.getEstimate, r.getLowerBound, r.getUpperBound)))
      .asInstanceOf[Array[Any]])
  }

  override def prettyName: String = "freq_sketch_topk"
  override protected def withNewChildInternal(newChild: Expression): FreqSketchTopK =
    copy(child = newChild)
}
