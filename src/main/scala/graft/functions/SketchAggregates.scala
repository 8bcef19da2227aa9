package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types._
import graft.sketch._

/** Sketch aggregates as Catalyst `TypedImperativeAggregate`s — the mutable
  * sketch object is the aggregation buffer (held as an object in hash
  * aggregation, serialized only across shuffle / into stored state), exactly
  * Spark's partial→merge→final lifecycle. This mirrors the reference
  * engine's worker-transition / combiner-combine / overlay-finalize split
  * (/root/reference/src/planner.c:60-193) with Spark doing the process
  * choreography for free.
  *
  * The `*Agg` variants evaluate to the serialized sketch state (BinaryType)
  * — the storable, re-mergeable matrel column. Finalizing variants
  * (hll_count_distinct) evaluate to the user-facing value. The scalar
  * finalizers live in SketchScalars.
  */
object SketchAgg {
  /** Numeric coercion for sketch inputs (SQL literals may arrive as Decimal). */
  def toDouble(v: Any): Double = v match {
    case d: Double => d
    case f: Float => f.toDouble
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case s: Short => s.toDouble
    case b: Byte => b.toDouble
    case d: org.apache.spark.sql.types.Decimal => d.toDouble
    case other => other.toString.toDouble
  }
}

abstract class SketchAgg[S <: AnyRef] extends TypedImperativeAggregate[S] with UnaryLike[Expression] {
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType

  protected def addValue(buffer: S, value: Any): Unit

  final override def update(buffer: S, input: InternalRow): S = {
    val v = child.eval(input)
    if (v != null) addValue(buffer, v)
    buffer
  }
}

/** hll_agg(x[, p]) → mergeable HLL state (reference hllfuncs.c:179-423). */
case class HllAgg(
    child: Expression,
    p: Int = HyperLogLog.DefaultP,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchAgg[HyperLogLog] {
  override def prettyName: String = "hll_agg"
  override def createAggregationBuffer(): HyperLogLog = HyperLogLog.empty(p)
  override protected def addValue(b: HyperLogLog, v: Any): Unit = b.add(v)
  override def merge(b: HyperLogLog, o: HyperLogLog): HyperLogLog = b.merge(o)
  override def eval(b: HyperLogLog): Any = b.serialize()
  override def serialize(b: HyperLogLog): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): HyperLogLog = HyperLogLog.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): HllAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllAgg = copy(child = c)
}

/** hll_count_distinct(x) → bigint, the streaming replacement for
  * count(DISTINCT x) (reference hllfuncs.c:424-520).
  */
case class HllCountDistinct(
    child: Expression,
    p: Int = HyperLogLog.DefaultP,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchAgg[HyperLogLog] {
  override def prettyName: String = "hll_count_distinct"
  override def dataType: DataType = LongType
  override def createAggregationBuffer(): HyperLogLog = HyperLogLog.empty(p)
  override protected def addValue(b: HyperLogLog, v: Any): Unit = b.add(v)
  override def merge(b: HyperLogLog, o: HyperLogLog): HyperLogLog = b.merge(o)
  override def eval(b: HyperLogLog): Any = b.cardinality
  override def serialize(b: HyperLogLog): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): HyperLogLog = HyperLogLog.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): HllCountDistinct = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllCountDistinct = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllCountDistinct = copy(child = c)
}

/** bloom_agg(x[, p, n]) → Bloom filter state (reference bloomfuncs.c:110-462). */
case class BloomAgg(
    child: Expression,
    fpr: Double = BloomFilter.DefaultP,
    expectedN: Int = BloomFilter.DefaultN,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchAgg[BloomFilter] {
  override def prettyName: String = "bloom_agg"
  override def createAggregationBuffer(): BloomFilter = BloomFilter.empty(fpr, expectedN)
  override protected def addValue(b: BloomFilter, v: Any): Unit = b.add(v)
  override def merge(b: BloomFilter, o: BloomFilter): BloomFilter = b.union(o)
  override def eval(b: BloomFilter): Any = b.serialize()
  override def serialize(b: BloomFilter): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): BloomFilter = BloomFilter.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): BloomAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BloomAgg = copy(child = c)
}

/** freq_agg(x[, eps, confidence]) → Count-Min Sketch state
  * (reference freqfuncs.c:104-417).
  */
case class FreqAgg(
    child: Expression,
    eps: Double = CountMinSketch.DefaultEps,
    confidence: Double = CountMinSketch.DefaultConfidence,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchAgg[CountMinSketch] {
  override def prettyName: String = "freq_agg"
  override def createAggregationBuffer(): CountMinSketch = CountMinSketch.empty(eps, confidence)
  override protected def addValue(b: CountMinSketch, v: Any): Unit = b.add(v)
  override def merge(b: CountMinSketch, o: CountMinSketch): CountMinSketch = b.merge(o)
  override def eval(b: CountMinSketch): Any = b.serialize()
  override def serialize(b: CountMinSketch): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): CountMinSketch = CountMinSketch.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): FreqAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): FreqAgg = copy(child = c)
}

/** dist_agg(x[, compression]) → t-digest state (reference distfuncs.c:105-405). */
case class DistAgg(
    child: Expression,
    compression: Double = TDigest.DefaultCompression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchAgg[TDigest] {
  override def prettyName: String = "dist_agg"
  override def createAggregationBuffer(): TDigest = TDigest.empty(compression)
  override protected def addValue(b: TDigest, v: Any): Unit = b.add(SketchAgg.toDouble(v))
  override def merge(b: TDigest, o: TDigest): TDigest = b.merge(o)
  override def eval(b: TDigest): Any = b.serialize()
  override def serialize(b: TDigest): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): TDigest = TDigest.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): DistAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DistAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): DistAgg = copy(child = c)
}

/** topk_agg(x, k) → Filtered-Space-Saving state (reference topkfuncs.c:57-681).
  * Input is cast to string (the state stores canonical bytes; extractors
  * return string values).
  */
case class TopKAgg(
    child: Expression,
    k: Int = SpaceSaving.DefaultK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchAgg[SpaceSaving] {
  override def prettyName: String = "topk_agg"
  override def createAggregationBuffer(): SpaceSaving = SpaceSaving.empty(k)
  override protected def addValue(b: SpaceSaving, v: Any): Unit = b.add(v.toString)
  override def merge(b: SpaceSaving, o: SpaceSaving): SpaceSaving = b.merge(o)
  override def eval(b: SpaceSaving): Any = b.serialize()
  override def serialize(b: SpaceSaving): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): SpaceSaving = SpaceSaving.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): TopKAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): TopKAgg = copy(child = c)
}

/** topk_agg(x, k, w) — weighted Filtered-Space-Saving variant (reference
  * sql:1815-1903 weighted overloads): each row contributes `w` instead of 1.
  */
case class TopKWeightedAgg(
    children: Seq[Expression],
    k: Int = SpaceSaving.DefaultK,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[SpaceSaving] {
  require(children.length == 2, "topk_agg(value, k, weight)")
  override def prettyName: String = "topk_agg"
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def createAggregationBuffer(): SpaceSaving = SpaceSaving.empty(k)
  override def update(b: SpaceSaving, input: InternalRow): SpaceSaving = {
    val v = children(0).eval(input)
    val w = children(1).eval(input)
    if (v != null && w != null) b.add(v.toString, w.toString.toDouble.toLong)
    b
  }
  override def merge(b: SpaceSaving, o: SpaceSaving): SpaceSaving = b.merge(o)
  override def eval(b: SpaceSaving): Any = b.serialize()
  override def serialize(b: SpaceSaving): Array[Byte] = b.serialize()
  override def deserialize(bytes: Array[Byte]): SpaceSaving = SpaceSaving.deserialize(bytes)
  override def withNewMutableAggBufferOffset(o: Int): TopKWeightedAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKWeightedAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TopKWeightedAgg =
    copy(children = c)
}

/** Buffer for state-merging aggregates: distinguishes "no input yet" from an
  * accumulated sketch so the identity element never needs materializing and
  * non-default sketch parameters are adopted from the first input state.
  */
final class MergeBuf[S <: AnyRef](var state: Option[S]) extends Serializable

/** Base for the `*_union_agg` / `*_merge_agg` / combine() family: input is a
  * serialized sketch state column; the aggregate merges states (reference
  * analyzer.c:4229-4615 `RewriteCombineAggs` + pipelinedb--1.0.0.sql:110-141).
  */
abstract class SketchMergeAgg[S <: AnyRef]
    extends TypedImperativeAggregate[MergeBuf[S]] with UnaryLike[Expression] {
  override def nullable: Boolean = true
  override def dataType: DataType = BinaryType

  protected def decode(bytes: Array[Byte]): S
  protected def combine(a: S, b: S): S
  protected def encode(s: S): Array[Byte]

  override def createAggregationBuffer(): MergeBuf[S] = new MergeBuf[S](None)

  private def absorb(buf: MergeBuf[S], s: S): Unit =
    buf.state = buf.state.map(combine(_, s)).orElse(Some(s))

  final override def update(buf: MergeBuf[S], input: InternalRow): MergeBuf[S] = {
    val v = child.eval(input)
    if (v != null) absorb(buf, decode(v.asInstanceOf[Array[Byte]]))
    buf
  }
  final override def merge(buf: MergeBuf[S], o: MergeBuf[S]): MergeBuf[S] = {
    o.state.foreach(absorb(buf, _))
    buf
  }
  override def eval(buf: MergeBuf[S]): Any = buf.state.map(encode).orNull
  final override def serialize(buf: MergeBuf[S]): Array[Byte] =
    buf.state.map(encode).getOrElse(Array.emptyByteArray)
  final override def deserialize(bytes: Array[Byte]): MergeBuf[S] =
    if (bytes.isEmpty) new MergeBuf[S](None) else new MergeBuf[S](Some(decode(bytes)))
}

/** hll_union_agg(hll_state) → merged HLL state. The PipelineDB name
  * replaces Spark's built-in `hll_union_agg` on a graft session, so a
  * DataSketches binary from Spark's `hll_sketch_agg` fails with a message
  * that names the conflict instead of merging as garbage. */
case class HllUnionAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchMergeAgg[HyperLogLog] {
  override def prettyName: String = "hll_union_agg"
  override protected def decode(b: Array[Byte]): HyperLogLog =
    try HyperLogLog.deserialize(b)
    catch {
      case e: IllegalArgumentException => throw new IllegalArgumentException(
        "hll_union_agg: input is not a graft hll_agg state. On a graft " +
          "session hll_union_agg is graft's PipelineDB aggregate, which " +
          "replaces Spark's built-in hll_union_agg, so it cannot merge " +
          "Spark hll_sketch_agg (DataSketches) sketches; build the states " +
          "with graft's hll_agg, or merge DataSketches sketches with " +
          "Spark's hll_union_agg on a session without graft's functions", e)
    }
  override protected def combine(a: HyperLogLog, b: HyperLogLog): HyperLogLog = a.merge(b)
  override protected def encode(s: HyperLogLog): Array[Byte] = s.serialize()
  override def withNewMutableAggBufferOffset(o: Int): HllUnionAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): HllUnionAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): HllUnionAgg = copy(child = c)
}

/** bloom_union_agg(bloom_state) → union of stored Bloom states. */
case class BloomUnionAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchMergeAgg[BloomFilter] {
  override def prettyName: String = "bloom_union_agg"
  override protected def decode(b: Array[Byte]): BloomFilter = BloomFilter.deserialize(b)
  override protected def combine(a: BloomFilter, b: BloomFilter): BloomFilter = a.union(b)
  override protected def encode(s: BloomFilter): Array[Byte] = s.serialize()
  override def withNewMutableAggBufferOffset(o: Int): BloomUnionAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomUnionAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BloomUnionAgg = copy(child = c)
}

/** bloom_intersection_agg(bloom_state) → intersection of stored Bloom states. */
case class BloomIntersectionAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchMergeAgg[BloomFilter] {
  override def prettyName: String = "bloom_intersection_agg"
  override protected def decode(b: Array[Byte]): BloomFilter = BloomFilter.deserialize(b)
  override protected def combine(a: BloomFilter, b: BloomFilter): BloomFilter = a.intersection(b)
  override protected def encode(s: BloomFilter): Array[Byte] = s.serialize()
  override def withNewMutableAggBufferOffset(o: Int): BloomIntersectionAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BloomIntersectionAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): BloomIntersectionAgg = copy(child = c)
}

/** freq_merge_agg(cms_state) → merged CMS state. */
case class FreqMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchMergeAgg[CountMinSketch] {
  override def prettyName: String = "freq_merge_agg"
  override protected def decode(b: Array[Byte]): CountMinSketch = CountMinSketch.deserialize(b)
  override protected def combine(a: CountMinSketch, b: CountMinSketch): CountMinSketch = a.merge(b)
  override protected def encode(s: CountMinSketch): Array[Byte] = s.serialize()
  override def withNewMutableAggBufferOffset(o: Int): FreqMergeAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): FreqMergeAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): FreqMergeAgg = copy(child = c)
}

/** dist_merge_agg(tdigest_state) → merged t-digest state. */
case class DistMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchMergeAgg[TDigest] {
  override def prettyName: String = "dist_merge_agg"
  override protected def decode(b: Array[Byte]): TDigest = TDigest.deserialize(b)
  override protected def combine(a: TDigest, b: TDigest): TDigest = a.merge(b)
  override protected def encode(s: TDigest): Array[Byte] = s.serialize()
  override def withNewMutableAggBufferOffset(o: Int): DistMergeAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): DistMergeAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): DistMergeAgg = copy(child = c)
}

/** topk_merge_agg(topk_state) → merged Space-Saving state. */
case class TopKMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchMergeAgg[SpaceSaving] {
  override def prettyName: String = "topk_merge_agg"
  override protected def decode(b: Array[Byte]): SpaceSaving = SpaceSaving.deserialize(b)
  override protected def combine(a: SpaceSaving, b: SpaceSaving): SpaceSaving = a.merge(b)
  override protected def encode(s: SpaceSaving): Array[Byte] = s.serialize()
  override def withNewMutableAggBufferOffset(o: Int): TopKMergeAgg = copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): TopKMergeAgg = copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(c: Expression): TopKMergeAgg = copy(child = c)
}
