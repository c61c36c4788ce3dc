package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Mergeable RANK/QUANTILE sketch — the compactor stack of KLL (Karnin,
  * Lang, Liberty, FOCS 2016) with the derandomized alternating
  * compaction offset and without the bottom sampler: level l holds
  * items of weight 2^l with capacity k·(2/3)^(H−1−l) (floor 8); an
  * over-full level sorts and promotes every second item. Without the
  * sampler the space is O(k·log(n/k)) and the rank-error bound is the
  * Manku-Rajagopalan-Lindsay compactor analysis, ε = O(log²(n/k)/k) —
  * with k = 16384 that is < 10⁻⁴ relative rank error out to petabyte
  * row counts, and the whole summary still ships as one aggregation
  * buffer per (task, group) exactly like [[KMinValues]]/[[SpaceSaving]]
  * (the exchange carries O(tasks·groups·k·log) instead of every row —
  * the reason a rank sketch exists at 100 TB).
  *
  * EXACT-UNDER-FILL contract (the KMV discipline): until a group has
  * seen more than its level-0 capacity (k items), no compaction has
  * happened, and [[eval]]'s summary is the complete sorted multiset —
  * rank selection over it is EXACT, so oracle-scale fixtures
  * hash-match an exact-SQL twin bit for bit. Past fill the summary is
  * an ε-approximation whose exact content depends on arrival order
  * (any mergeable sketch's property); the correctness gate never runs
  * there, the spec pins the error bound instead.
  *
  * Returns `struct(n: bigint, items: array<struct<v: bigint,
  * w: bigint>>)` — true count plus the weight-annotated summary SORTED
  * by v; quantile extraction is [[KllQuantileAt]] (stateless, so the
  * whole shape runs unchanged as a Complete-mode streaming aggregate).
  */
case class KllSketch(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[KllSketch.Buf]
    with ImplicitCastInputTypes
    with UnaryLike[Expression] {

  require(k >= 16, s"KLL needs k >= 16, got $k")

  override def inputTypes: Seq[DataType] = Seq(LongType)

  override def dataType: DataType = KllSketch.outType
  override def nullable: Boolean = false

  override def createAggregationBuffer(): KllSketch.Buf = new KllSketch.Buf()

  override def update(buf: KllSketch.Buf, input: InternalRow): KllSketch.Buf = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long], k)
    buf
  }

  override def merge(buf: KllSketch.Buf, other: KllSketch.Buf): KllSketch.Buf = {
    buf.mergeIn(other, k)
    buf
  }

  override def eval(buf: KllSketch.Buf): Any = {
    val (vs, ws) = buf.sortedSummary()
    val items = new Array[Any](vs.length)
    var i = 0
    while (i < vs.length) {
      items(i) = new GenericInternalRow(Array[Any](vs(i), ws(i)))
      i += 1
    }
    new GenericInternalRow(Array[Any](buf.n, new GenericArrayData(items)))
  }

  override def serialize(buf: KllSketch.Buf): Array[Byte] = buf.toBytes
  override def deserialize(storage: Array[Byte]): KllSketch.Buf =
    KllSketch.Buf.fromBytes(storage)

  override def withNewMutableAggBufferOffset(newOffset: Int): KllSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KllSketch =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KllSketch =
    copy(child = newChild)
}

object KllSketch {

  private[functions] val outType: DataType = StructType(Seq(
    StructField("n", LongType, nullable = false),
    StructField("items", ArrayType(StructType(Seq(
      StructField("v", LongType, nullable = false),
      StructField("w", LongType, nullable = false))), containsNull = false),
      nullable = false)))

  /** Compactor stack. Level l = a growable long array of weight-2^l
    * items; `compactions` drives the deterministic alternating keep
    * offset (the derandomization in the KLL paper §4).
    */
  final class Buf {
    var n: Long = 0L
    var compactions: Long = 0L
    var levels: scala.collection.mutable.ArrayBuffer[scala.collection.mutable.ArrayBuffer[Long]] =
      scala.collection.mutable.ArrayBuffer(scala.collection.mutable.ArrayBuffer.empty[Long])

    // per-level capacities, rebuilt only when the level count changes
    // (math.pow per row would otherwise dominate the update path)
    @transient private var caps: Array[Int] = null
    @transient private var capsK: Int = -1

    private def cap(l: Int, k: Int): Int = {
      if (caps == null || caps.length != levels.length || capsK != k) {
        val h = levels.length
        caps = Array.tabulate(h)(i =>
          math.max(8, math.ceil(k * math.pow(2.0 / 3.0, (h - 1 - i).toDouble)).toInt))
        capsK = k
      }
      caps(l)
    }

    def add(v: Long, k: Int): Unit = {
      levels(0) += v
      n += 1L
      if (levels(0).length >= cap(0, k)) compress(k)
    }

    def mergeIn(other: Buf, k: Int): Unit = {
      n += other.n
      compactions += other.compactions
      while (levels.length < other.levels.length)
        levels += scala.collection.mutable.ArrayBuffer.empty[Long]
      var l = 0
      while (l < other.levels.length) {
        levels(l) ++= other.levels(l)
        l += 1
      }
      compress(k)
    }

    private def compress(k: Int): Unit = {
      var again = true
      while (again) {
        again = false
        var l = 0
        while (l < levels.length) {
          if (levels(l).length >= cap(l, k) && levels(l).length >= 2) {
            val sorted = levels(l).sorted
            if (l + 1 == levels.length)
              levels += scala.collection.mutable.ArrayBuffer.empty[Long]
            // canonical KLL compacts PAIRS: an odd level sets one item
            // aside at level l (the sorted head — deterministic), so
            // total summary weight stays exactly n. The earlier
            // clear-the-whole-level form discarded the unpaired item,
            // drifting the mass ±2^l per odd compaction and inflating
            // post-fill rank error past the bound SketchSpec pins.
            val keepOne = (sorted.length & 1) == 1
            val off = (compactions & 1L).toInt
            var i = (if (keepOne) 1 else 0) + off
            while (i < sorted.length) { levels(l + 1) += sorted(i); i += 2 }
            levels(l).clear()
            if (keepOne) levels(l) += sorted(0)
            compactions += 1L
            again = true
          }
          l += 1
        }
      }
    }

    /** (values, weights) of the whole summary, sorted by value. */
    def sortedSummary(): (Array[Long], Array[Long]) = {
      var total = 0
      levels.foreach(total += _.length)
      val vs = new Array[Long](total)
      val ws = new Array[Long](total)
      var idx = 0
      var l = 0
      while (l < levels.length) {
        val w = 1L << l
        val lv = levels(l)
        var i = 0
        while (i < lv.length) { vs(idx) = lv(i); ws(idx) = w; idx += 1; i += 1 }
        l += 1
      }
      // single final sort by value, weights riding along
      val order = vs.zipWithIndex.sortBy(_._1)
      (order.map(_._1), order.map(p => ws(p._2)))
    }

    def toBytes: Array[Byte] = {
      val bytes = new ByteArrayOutputStream()
      val out = new DataOutputStream(bytes)
      out.writeLong(n)
      out.writeLong(compactions)
      out.writeInt(levels.length)
      levels.foreach { lv =>
        out.writeInt(lv.length)
        lv.foreach(out.writeLong)
      }
      out.flush()
      bytes.toByteArray
    }
  }

  object Buf {
    def fromBytes(storage: Array[Byte]): Buf = {
      val in = new DataInputStream(new ByteArrayInputStream(storage))
      val b = new Buf()
      b.n = in.readLong()
      b.compactions = in.readLong()
      val h = in.readInt()
      b.levels.clear()
      var l = 0
      while (l < h) {
        val sz = in.readInt()
        val lv = new scala.collection.mutable.ArrayBuffer[Long](sz)
        var i = 0
        while (i < sz) { lv += in.readLong(); i += 1 }
        b.levels += lv
        l += 1
      }
      b
    }
  }

  /** Column API: `struct(n, items)` KLL summary of a bigint column. */
  def kll_sketch(value: Column, k: Int): Column =
    GraftBridge.column(
      KllSketch(GraftBridge.expression(value), k).toAggregateExpression())
}

/** Rank selection over a [[KllSketch]] summary: the value whose
  * cumulative weight range contains rank ⌈pct·n/100⌉ — exactly the
  * `cum >= r AND cum − w < r` pick of the histogram-quantile oracles,
  * as one stateless walk over the sorted items (streaming-safe: no
  * post-aggregation window). Empty summaries return null.
  */
case class KllQuantileAt(child: Expression, pct: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  require(pct >= 0 && pct <= 100, s"pct must be in [0,100], got $pct")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == KllSketch.outType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"KllQuantileAt needs a KllSketch summary struct, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any = {
    val row = input.asInstanceOf[InternalRow]
    val n = row.getLong(0)
    val items = row.getArray(1)
    val m = items.numElements()
    if (m == 0) null
    else {
      val r = (n * pct + 99L) / 100L
      var cum = 0L
      var i = 0
      var out = 0L
      var found = false
      while (i < m && !found) {
        val it = items.getStruct(i, 2)
        cum += it.getLong(1)
        if (cum >= r) { out = it.getLong(0); found = true }
        i += 1
      }
      // rank past the total weight (possible only post-fill, where the
      // alternating compaction may drop net weight): the max item
      if (!found) items.getStruct(m - 1, 2).getLong(0) else out
    }
  }

  override protected def withNewChildInternal(newChild: Expression): KllQuantileAt =
    copy(child = newChild)
}

object KllQuantileAt {
  /** Column API: value at rank ⌈pct·n/100⌉ of a KLL summary. */
  def kll_quantile_at(sketch: Column, pct: Int): Column =
    GraftBridge.column(KllQuantileAt(GraftBridge.expression(sketch), pct))
}
