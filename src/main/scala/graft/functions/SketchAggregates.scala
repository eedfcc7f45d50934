package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.{ImperativeAggregate, TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/* Custom sketch/rank aggregates (SURVEY.md §4.2 must-build #2 and #3).
 *
 * Both are `TypedImperativeAggregate`s: the buffer is a plain JVM object
 * held across all rows of a group (serialized only at shuffle edges), and
 * both have associative-commutative `merge` — so Catalyst runs them as
 * partial (map-side) + final aggregation, the property that makes them
 * 100TB-safe: each map task ships at most k rows / one bitmap per group,
 * never the raw rows.
 */

/** Bounded collect_list: keeps at most cap+1 values per group and
  * evaluates to NULL once the cap is exceeded — the skew-safe inverted-
  * index primitive. A plain `collect_list` on a posting list explodes on
  * hot keys (a stop-word gram over 100TB collects millions of ids); this
  * buffer never holds more than cap+1 entries per group no matter how
  * skewed the key, and the NULL marks "too common, not a blocking key".
  *
  * Element order is partition-dependent, so only set-semantics consumers
  * (pair generation + dedup) should read the result; groups at or under
  * the cap always contain exactly their full value set.
  */
case class CappedList(
    child: Expression,
    cap: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArrayBuffer[Long]] {

  require(cap > 0, "capped_list: cap must be positive")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (child.dataType != LongType)
      TypeCheckFailure(s"capped_list: value must be BIGINT, got ${child.dataType.sql}")
    else TypeCheckSuccess
  }

  override def createAggregationBuffer(): ArrayBuffer[Long] = ArrayBuffer.empty

  override def update(buf: ArrayBuffer[Long], input: InternalRow): ArrayBuffer[Long] = {
    val v = child.eval(input)
    if (v != null && buf.length <= cap) buf += v.asInstanceOf[Long]
    buf
  }

  override def merge(a: ArrayBuffer[Long], b: ArrayBuffer[Long]): ArrayBuffer[Long] = {
    val room = cap + 1 - a.length
    if (room > 0) a ++= b.take(room)
    a
  }

  override def eval(buf: ArrayBuffer[Long]): Any =
    if (buf.length > cap) null
    else new GenericArrayData(buf.toArray)

  override def serialize(buf: ArrayBuffer[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.length * 8)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = ArrayBuffer.empty[Long]
    while (bb.remaining() >= 8) buf += bb.getLong()
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** Single-pass grouped top-k by (cnt DESC, key ASC) — the scale-path
  * replacement for `row_number().over(Window.partitionBy(...))` ranking
  * (reference semantics: TopNHotItems, HotItems.scala:111-155, and
  * TopNHotUrls, NetworkFlow.scala:85-117).
  *
  * A WindowExec rank must co-locate AND sort every candidate row of a
  * partition; this aggregate keeps a bounded k-buffer per group on the map
  * side, so the exchange carries ≤ k entries per (group, mapper) no matter
  * how many distinct keys exist. Output: array<struct<key,cnt,rn>> with
  * rn 1..k (ties broken by key ascending — deterministic, §2.5 note).
  *
  * Key types: LONG, INT, or STRING (what the reference ranks: item ids /
  * urls). cnt must be LONG.
  */
case class GroupedTopK(
    k: Int,
    cnt: Expression,
    key: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[ArrayBuffer[(Long, Any)]] {

  require(k > 0, "topk_agg: k must be positive")

  override def children: Seq[Expression] = Seq(cnt, key)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (cnt.dataType != LongType)
      TypeCheckFailure(s"topk_agg: cnt must be BIGINT, got ${cnt.dataType.sql}")
    else if (!Seq[DataType](LongType, IntegerType, StringType).contains(key.dataType))
      TypeCheckFailure(
        s"topk_agg: key must be BIGINT, INT or STRING, got ${key.dataType.sql}")
    else TypeCheckSuccess
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("key", key.dataType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("rn", LongType, nullable = false))))

  // (cnt desc, key asc): a "beats" b when cnt bigger, or equal cnt and
  // smaller key. Long/Integer/UTF8String are all Comparable.
  private def beats(a: (Long, Any), b: (Long, Any)): Boolean =
    a._1 > b._1 || (a._1 == b._1 &&
      a._2.asInstanceOf[Comparable[Any]].compareTo(b._2) < 0)

  /** Keep at most 2k entries; compact to the strongest k on overflow —
    * amortized O(1) per row, no heap churn for the common k≤10.
    */
  private def trim(buf: ArrayBuffer[(Long, Any)]): ArrayBuffer[(Long, Any)] =
    if (buf.length <= 2 * k) buf
    else {
      val top = buf.sortWith(beats).take(k)
      buf.clear()
      buf ++= top
    }

  override def createAggregationBuffer(): ArrayBuffer[(Long, Any)] =
    ArrayBuffer.empty

  override def update(
      buf: ArrayBuffer[(Long, Any)], input: InternalRow): ArrayBuffer[(Long, Any)] = {
    val c = cnt.eval(input)
    val kv = key.eval(input)
    if (c == null || kv == null) buf
    else {
      // A UTF8String from eval() aliases the input row's reused buffer —
      // it must be copied before outliving this update() call.
      val safeKey = kv match {
        case s: UTF8String => s.clone()
        case x             => x
      }
      trim(buf += ((c.asInstanceOf[Long], safeKey)))
    }
  }

  override def merge(
      a: ArrayBuffer[(Long, Any)], b: ArrayBuffer[(Long, Any)]): ArrayBuffer[(Long, Any)] =
    trim(a ++= b)

  override def eval(buf: ArrayBuffer[(Long, Any)]): Any = {
    val top = buf.sortWith(beats).take(k)
    new GenericArrayData(top.zipWithIndex.map { case ((c, kv), i) =>
      InternalRow(kv, c, (i + 1).toLong)
    }.toArray[Any])
  }

  override def serialize(buf: ArrayBuffer[(Long, Any)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { case (c, kv) =>
      out.writeLong(c)
      key.dataType match {
        case LongType    => out.writeLong(kv.asInstanceOf[Long])
        case IntegerType => out.writeInt(kv.asInstanceOf[Int])
        case StringType =>
          val bytes = kv.asInstanceOf[UTF8String].getBytes
          out.writeInt(bytes.length)
          out.write(bytes)
        case other =>
          throw new UnsupportedOperationException(
            s"topk_agg: unsupported key type $other")
      }
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): ArrayBuffer[(Long, Any)] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = ArrayBuffer.empty[(Long, Any)]
    var i = 0
    while (i < n) {
      val c = in.readLong()
      val kv: Any = key.dataType match {
        case LongType    => in.readLong()
        case IntegerType => in.readInt()
        case StringType =>
          val len = in.readInt()
          val b = new Array[Byte](len)
          in.readFully(b)
          UTF8String.fromBytes(b)
        case other =>
          throw new UnsupportedOperationException(
            s"topk_agg: unsupported key type $other")
      }
      buf += ((c, kv))
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(cnt = newChildren(0), key = newChildren(1))
}

/** Bounded-memory distinct count over a Bloom bitmap — the mergeable,
  * state-store-native successor of the reference's Redis-backed Bloom UV
  * counter (UvWithBloom.scala:62-103: 2^29-bit bitmap, getbit/setbit +
  * running count).
  *
  * The reference counts "insertions that flipped a bit", which is
  * sequential-only; to stay associative (partial agg / any merge order)
  * this variant ORs bitmaps and estimates cardinality from final bit
  * occupancy: n̂ = -(m/h)·ln(1 - X/m) for X of m bits set with h hash
  * functions — the standard Bloom occupancy inversion. Memory is a fixed
  * numBits/8 bytes per group regardless of stream size.
  *
  * Value types: LONG, INT, or STRING.
  */
case class BloomDistinct(
    child: Expression,
    numBits: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  require(numBits >= 64 && (numBits & (numBits - 1)) == 0,
    "bloom_distinct: numBits must be a power of two >= 64")

  private val NumHashes = 4

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (!Seq[DataType](LongType, IntegerType, StringType).contains(child.dataType))
      TypeCheckFailure(
        s"bloom_distinct: value must be BIGINT, INT or STRING, got ${child.dataType.sql}")
    else TypeCheckSuccess
  }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](numBits / 64)

  private def hash(v: Any, seed: Int): Int = v match {
    case l: java.lang.Long    => Murmur3_x86_32.hashLong(l, seed)
    case i: java.lang.Integer => Murmur3_x86_32.hashInt(i, seed)
    case s: UTF8String =>
      Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
    case other =>
      throw new UnsupportedOperationException(
        s"bloom_distinct: unsupported value type ${other.getClass}")
  }

  override def update(bits: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      var i = 0
      while (i < NumHashes) {
        val idx = (hash(v, i) & 0x7fffffff) % numBits
        bits(idx >> 6) |= 1L << (idx & 63)
        i += 1
      }
    }
    bits
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) |= b(i); i += 1 }
    a
  }

  override def eval(bits: Array[Long]): Any = {
    var set = 0L
    var i = 0
    while (i < bits.length) { set += java.lang.Long.bitCount(bits(i)); i += 1 }
    if (set == numBits) Long.MaxValue // saturated — undersized bitmap
    else math.round(-(numBits.toDouble / NumHashes) *
      math.log1p(-set.toDouble / numBits))
  }

  override def serialize(bits: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(bits.length * 8)
    bb.asLongBuffer().put(bits)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bits = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(bits)
    bits
  }

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** Misra–Gries heavy hitters: the bounded-memory frequent-items summary
  * (the sketch complement of `topk_agg`, which needs pre-aggregated
  * counts — this one eats RAW rows). Keeps at most `capacity` counters
  * per group; any key whose true frequency exceeds the summary's `delta`
  * is guaranteed present, and every estimate is an UNDER-count by at
  * most `delta`.
  *
  * `merge` is the mergeable-summaries form (Agarwal et al., PODS'12):
  * add counters, then if over capacity subtract the (capacity+1)-th
  * largest count from all and drop the non-positives, folding the
  * subtraction into `delta`. The invariant maintained through any
  * update/merge tree is
  *
  *   sum(est) + delta * (capacity + 1) <= N    (N = rows aggregated)
  *
  * hence delta <= N/(capacity+1) no matter how rows are partitioned —
  * the q56 in-band oracle asserts exactly the theorem set (under-count,
  * delta-bounded error, recall above delta, delta bound), so the check
  * can never flake on partitioning. Memory is O(capacity) per group;
  * partials ship <= capacity counters per (group, mapper) — the
  * 100TB-safe way to find hot keys without a per-key shuffle.
  *
  * Output: struct(delta BIGINT, items ARRAY<STRUCT<key BIGINT,
  * est BIGINT>>), items sorted (est DESC, key ASC). Key must be BIGINT.
  */
/** Shared Misra–Gries buffer algebra for [[HeavyHitters]] (raw rows in)
  * and [[HeavyHittersMerge]] (persisted summaries in): same buffer
  * layout, same merge, same over-capacity trim, same output shape — so
  * a FOLDED state (persisted summary ⊕ delta partials) obeys exactly
  * the invariants q56's theorem oracle checks: the MG merge guarantees
  * hold for ANY update/merge tree (Agarwal et al., PODS'12), and a
  * maintenance fold is just one more node in that tree.
  */
private[graft] trait MgAggregate
    extends TypedImperativeAggregate[scala.collection.mutable.LongMap[Long]] {

  def capacity: Int
  def fnName: String

  override def nullable: Boolean = false

  override def dataType: DataType = StructType(Seq(
    StructField("delta", LongType, nullable = false),
    StructField("items", ArrayType(StructType(Seq(
      StructField("key", LongType, nullable = false),
      StructField("est", LongType, nullable = false))), containsNull = false),
      nullable = false)))

  // The map doubles as the delta carrier under the reserved key
  // Long.MinValue (never a data key: hash60/ids are non-negative;
  // guarded in update()).
  protected final val DeltaKey = Long.MinValue

  override def createAggregationBuffer(): scala.collection.mutable.LongMap[Long] = {
    val m = scala.collection.mutable.LongMap.empty[Long]
    m(DeltaKey) = 0L
    m
  }

  /** If over capacity, subtract the (capacity+1)-th largest count from
    * everything and drop the non-positives: at least capacity+1
    * counters shrink by m, delta grows by m, so
    * sum(est) + delta*(capacity+1) never increases.
    */
  protected final def trim(
      a: scala.collection.mutable.LongMap[Long]): Unit = {
    if (a.size - 1 > capacity) {
      val counts = ArrayBuffer.empty[Long]
      a.foreachEntry { (k, c) => if (k != DeltaKey) counts += c }
      val sorted = counts.sortInPlace()(Ordering.Long.reverse)
      val m = sorted(capacity)
      val dead = ArrayBuffer.empty[Long]
      a.foreachEntry { (k, c) =>
        if (k != DeltaKey) { if (c <= m) dead += k else a(k) = c - m }
      }
      dead.foreach(a.remove)
      a(DeltaKey) = a(DeltaKey) + m
    }
  }

  override def merge(
      a: scala.collection.mutable.LongMap[Long],
      b: scala.collection.mutable.LongMap[Long]): scala.collection.mutable.LongMap[Long] = {
    b.foreachEntry { (k, c) =>
      if (k != DeltaKey) a(k) = a.getOrElse(k, 0L) + c
    }
    a(DeltaKey) = a(DeltaKey) + b(DeltaKey)
    trim(a)
    a
  }

  override def eval(buf: scala.collection.mutable.LongMap[Long]): Any = {
    val items = ArrayBuffer.empty[(Long, Long)]
    buf.foreachEntry { (k, c) => if (k != DeltaKey) items += ((k, c)) }
    val sorted = items.sortBy { case (k, c) => (-c, k) }
    InternalRow(buf(DeltaKey), new GenericArrayData(
      sorted.map { case (k, c) => InternalRow(k, c) }.toArray[Any]))
  }

  override def serialize(buf: scala.collection.mutable.LongMap[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(buf.size * 16)
    buf.foreachEntry { (k, c) => bb.putLong(k); bb.putLong(c) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): scala.collection.mutable.LongMap[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val m = scala.collection.mutable.LongMap.empty[Long]
    while (bb.remaining() >= 16) m(bb.getLong()) = bb.getLong()
    if (!m.contains(DeltaKey)) m(DeltaKey) = 0L
    m
  }
}

case class HeavyHitters(
    capacity: Int,
    key: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends MgAggregate {

  require(capacity > 0, "heavy_hitters: capacity must be positive")

  override def fnName: String = "heavy_hitters"
  override def children: Seq[Expression] = Seq(key)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (key.dataType != LongType)
      TypeCheckFailure(s"heavy_hitters: key must be BIGINT, got ${key.dataType.sql}")
    else TypeCheckSuccess
  }

  override def update(
      buf: scala.collection.mutable.LongMap[Long],
      input: InternalRow): scala.collection.mutable.LongMap[Long] = {
    val v = key.eval(input)
    if (v == null) return buf
    val k = v.asInstanceOf[Long]
    require(k != DeltaKey, "heavy_hitters: key value Long.MinValue is reserved")
    val cur = buf.getOrElse(k, 0L) // counters are >= 1, so 0 = absent
    if (cur > 0L) { buf(k) = cur + 1L; return buf }
    if (buf.size - 1 < capacity) { buf(k) = 1L; return buf }
    // full and new key: classic MG — decrement every counter (and the
    // arriving key's implicit 1), dropping zeros; delta absorbs the
    // subtraction. O(capacity) per eviction, bounded by construction.
    val dead = ArrayBuffer.empty[Long]
    buf.foreachEntry { (kk, c) =>
      if (kk != DeltaKey) { if (c == 1L) dead += kk else buf(kk) = c - 1L }
    }
    dead.foreach(buf.remove)
    buf(DeltaKey) = buf(DeltaKey) + 1L
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(key = newChildren(0))
}

/** `heavy_hitters_merge(capacity, delta, items)` — fold PERSISTED
  * Misra–Gries summaries (the struct [[HeavyHitters]] outputs, stored
  * one row per key) back into one summary: absorb each input row's
  * counters and delta into the buffer, then apply the standard
  * over-capacity trim. Because the buffer, merge, and trim are the
  * SAME algebra as `heavy_hitters` (shared [[MgAggregate]]), a folded
  * state satisfies the identical theorem set — under-count ≤ delta,
  * recall above delta, delta*(capacity+1) ≤ N — with N now the total
  * rows behind state ⊕ delta. This is the maintenance half of the MG
  * story: persist the |keys|-row summary frame, fold each ingest
  * batch's partials in at O(|keys| × capacity), never rescan the
  * corpus. Null-struct rows are ignored (a key absent from one side).
  */
case class HeavyHittersMerge(
    capacity: Int,
    delta: Expression,
    items: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends MgAggregate {

  require(capacity > 0, "heavy_hitters_merge: capacity must be positive")

  override def fnName: String = "heavy_hitters_merge"
  override def children: Seq[Expression] = Seq(delta, items)

  private val itemsType = ArrayType(StructType(Seq(
    StructField("key", LongType), StructField("est", LongType))))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (delta.dataType != LongType)
      TypeCheckFailure(
        s"heavy_hitters_merge: delta must be BIGINT, got ${delta.dataType.sql}")
    else if (!DataType.equalsStructurally(items.dataType, itemsType,
        ignoreNullability = true))
      TypeCheckFailure("heavy_hitters_merge: items must be " +
        s"ARRAY<STRUCT<key BIGINT, est BIGINT>>, got ${items.dataType.sql}")
    else TypeCheckSuccess
  }

  override def update(
      buf: scala.collection.mutable.LongMap[Long],
      input: InternalRow): scala.collection.mutable.LongMap[Long] = {
    val d = delta.eval(input)
    val arr = items.eval(input)
    if (d == null || arr == null) return buf
    buf(DeltaKey) = buf(DeltaKey) + d.asInstanceOf[Long]
    val a = arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    var i = 0
    while (i < a.numElements()) {
      val row = a.getStruct(i, 2)
      val k = row.getLong(0)
      require(k != DeltaKey,
        "heavy_hitters_merge: key value Long.MinValue is reserved")
      buf(k) = buf.getOrElse(k, 0L) + row.getLong(1)
      i += 1
    }
    trim(buf)
    buf
  }

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(delta = newChildren(0), items = newChildren(1))
}

/** Mutable buffer for [[LatestBy]]: `ord == null` means "no rows seen". */
private[graft] final class LatestBuf(var ord: Any, var value: Any)

/** `latest_by(payload, ord)` — keep the payload of the greatest `ord`
  * seen (null `ord` rows are ignored; callers include a unique
  * tiebreaker in `ord` for determinism, the latestState contract).
  *
  * Exists because the built-in declarative `max_by` puts a struct in
  * its aggregation buffer, which is not hash-bufferable — Catalyst
  * plans the WHOLE aggregation as SortAggregate, i.e. every map task
  * sorts its full slice of the change log by key before collapsing.
  * A TypedImperativeAggregate is ObjectHashAggregate-eligible: hash
  * partial aggregation, one (ord, payload) pair per group per task,
  * no sort anywhere. Same answer, no per-task sort at 100 TB.
  *
  * Supported `ord` types: BIGINT/INT/DOUBLE/STRING/TIMESTAMP/DATE or a
  * STRUCT of them (lexicographic). Payload: anything UnsafeProjection
  * can encode (atomic or struct).
  */
case class LatestBy(
    payload: Expression,
    ord: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[LatestBuf] {

  override def children: Seq[Expression] = Seq(payload, ord)
  override def nullable: Boolean = true
  override def dataType: DataType = payload.dataType

  private def orderable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | StringType |
        TimestampType | DateType => true
    case st: StructType => st.fields.forall(f => orderable(f.dataType))
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    if (!orderable(ord.dataType))
      TypeCheckFailure(
        s"latest_by: ord must be an atomic orderable or a struct of them, got ${ord.dataType.sql}")
    else TypeCheckSuccess
  }

  // lexicographic interpreted compare — runs once per row on values
  // already extracted from the input row (nulls inside struct ords sort
  // first, matching Spark's NULLS FIRST default)
  private def cmp(dt: DataType, a: Any, b: Any): Int = dt match {
    case _ if a == null && b == null => 0
    case _ if a == null => -1
    case _ if b == null => 1
    case st: StructType =>
      val ra = a.asInstanceOf[InternalRow]
      val rb = b.asInstanceOf[InternalRow]
      var i = 0
      while (i < st.length) {
        val f = st(i).dataType
        val c = cmp(f,
          if (ra.isNullAt(i)) null else ra.get(i, f),
          if (rb.isNullAt(i)) null else rb.get(i, f))
        if (c != 0) return c
        i += 1
      }
      0
    case LongType | TimestampType =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case IntegerType | DateType =>
      java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case DoubleType =>
      java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case StringType =>
      a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case other =>
      throw new UnsupportedOperationException(s"latest_by: ord type $other")
  }

  // eval() results may alias the operator's reused row buffer — copy
  // anything with backing storage before it outlives this call
  private def own(v: Any): Any = v match {
    case r: InternalRow => r.copy()
    case a: ArrayData   => a.copy()
    case m: org.apache.spark.sql.catalyst.util.MapData => m.copy()
    case s: UTF8String  => s.clone()
    case x              => x
  }

  override def createAggregationBuffer(): LatestBuf = new LatestBuf(null, null)

  override def update(buf: LatestBuf, input: InternalRow): LatestBuf = {
    val o = ord.eval(input)
    if (o != null && (buf.ord == null || cmp(ord.dataType, o, buf.ord) > 0)) {
      buf.ord = own(o)
      buf.value = own(payload.eval(input))
    }
    buf
  }

  override def merge(a: LatestBuf, b: LatestBuf): LatestBuf = {
    if (b.ord != null && (a.ord == null || cmp(ord.dataType, b.ord, a.ord) > 0)) {
      a.ord = b.ord
      a.value = b.value
    }
    a
  }

  override def eval(buf: LatestBuf): Any = buf.value

  @transient private lazy val ser =
    org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(
      Array(payload.dataType, ord.dataType))

  override def serialize(buf: LatestBuf): Array[Byte] =
    if (buf.ord == null) Array.emptyByteArray
    else ser(InternalRow(buf.value, buf.ord)).getBytes

  override def deserialize(bytes: Array[Byte]): LatestBuf =
    if (bytes.isEmpty) new LatestBuf(null, null)
    else {
      val row = new org.apache.spark.sql.catalyst.expressions.UnsafeRow(2)
      row.pointTo(bytes, bytes.length)
      new LatestBuf(
        own(if (row.isNullAt(1)) null else row.get(1, ord.dataType)),
        own(if (row.isNullAt(0)) null else row.get(0, payload.dataType)))
    }

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(payload = newChildren(0), ord = newChildren(1))
}

/** Shared Count-Min kernel: hashing + point estimate, one definition
  * for the aggregate, the probe expression, and the law tests.
  */
private[graft] object CmsUtil {
  def hash(v: Any, seed: Int): Int = v match {
    case l: java.lang.Long    => Murmur3_x86_32.hashLong(l, seed)
    case i: java.lang.Integer => Murmur3_x86_32.hashInt(i, seed)
    case s: UTF8String =>
      Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
    case other =>
      throw new UnsupportedOperationException(
        s"cms: unsupported key type ${other.getClass}")
  }

  def bucket(v: Any, row: Int, width: Int): Int = {
    val h = hash(v, row) % width
    if (h < 0) h + width else h
  }

  /** Point estimate = min over depth rows of the key's counter. The
    * grid length must match (width, depth) — a mismatched probe would
    * either crash or, worse, silently read wrong offsets and break the
    * one-sided est >= true guarantee.
    */
  def estimate(counters: ArrayData, key: Any, width: Int, depth: Int): Long = {
    require(counters.numElements() == width * depth,
      s"cms_est: sketch has ${counters.numElements()} counters, " +
        s"expected width*depth = ${width * depth} — probe params must " +
        "match the cms_sketch that built it")
    var est = Long.MaxValue
    var i = 0
    while (i < depth) {
      val c = counters.getLong(i * width + bucket(key, i, width))
      if (c < est) est = c
      i += 1
    }
    est
  }
}

/** `cms_sketch(width, depth, key)` — mergeable Count-Min frequency
  * sketch: a depth×width counter grid; every row increments one counter
  * per grid row. Fixed width·depth·8 bytes per group regardless of
  * stream size; merge is element-wise addition (associative and
  * commutative, so Catalyst partial aggregation and any AQE merge order
  * give the identical grid — deterministic, no randomness anywhere).
  * Point lookups via [[CmsEstimate]]: est ≥ true count always
  * (one-sided error), est ≤ true + collision mass w.h.p.
  *
  * Completes the bounded-memory sketch family next to Bloom (set
  * membership / distinct), HLL++ (distinct), Misra-Gries (heavy
  * hitters) and t-digest (quantiles): CMS answers per-key frequency.
  */
case class CmsSketch(
    width: Int,
    depth: Int,
    key: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(key)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    // bounds checked here (not a constructor require) so bad SQL
    // arguments surface as a positioned AnalysisException like every
    // other argument error in this file
    if (width < 16 || depth < 1 || depth > 16)
      TypeCheckFailure(
        s"cms_sketch: need width >= 16 and 1 <= depth <= 16, got ($width, $depth)")
    // Long arithmetic: a huge literal width (e.g. 2^28 × depth 16)
    // would overflow Int in width*depth and surface as a
    // NegativeArraySizeException at EXECUTION; and even non-overflowing
    // grids are per-GROUP state — bound them here so bad sizes fail as
    // positioned analysis errors. 2^22 counters = 32 MB/group, already
    // far beyond any useful CMS (ε = e/width needs width ~ 1e5 for
    // 0.003% error).
    else if (width.toLong * depth > (1L << 22))
      TypeCheckFailure(
        s"cms_sketch: width*depth = ${width.toLong * depth} counters " +
          s"exceeds the 2^22 per-group state cap (${8L << 22} bytes) — " +
          "shrink width or depth")
    else if (!Seq[DataType](LongType, IntegerType, StringType).contains(key.dataType))
      TypeCheckFailure(
        s"cms_sketch: key must be BIGINT, INT or STRING, got ${key.dataType.sql}")
    else TypeCheckSuccess
  }

  override def createAggregationBuffer(): Array[Long] =
    new Array[Long](width * depth)

  override def update(grid: Array[Long], input: InternalRow): Array[Long] = {
    val v = key.eval(input)
    if (v != null) {
      var i = 0
      while (i < depth) {
        grid(i * width + CmsUtil.bucket(v, i, width)) += 1L
        i += 1
      }
    }
    grid
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def eval(grid: Array[Long]): Any =
    new GenericArrayData(grid.map(x => x: Any))

  override def serialize(grid: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(grid.length * 8)
    grid.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val grid = new Array[Long](width * depth)
    var i = 0
    while (i < grid.length) { grid(i) = bb.getLong(); i += 1 }
    grid
  }

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(key = newChildren(0))
}

/** `cms_est(sketch, key, width, depth)` — Count-Min point estimate over
  * a [[CmsSketch]] grid (min over the key's depth counters), as a
  * codegen'd static call.
  *
  * KEY-TYPE CONTRACT: the probe key's type must match the type the
  * sketch was BUILT on — an INT-keyed sketch probed with a BIGINT key
  * (or vice versa) hashes through a different Murmur3 kernel
  * (hashInt vs hashLong) and silently breaks the one-sided
  * est >= true guarantee. The grid itself is a bare ARRAY<BIGINT>, so
  * this cannot be validated at analysis time (only width*depth is,
  * via [[CmsUtil.estimate]]'s length check) — cast the probe key to
  * the build key's type explicitly when they differ.
  */
case class CmsEstimate(
    sketch: Expression,
    key: Expression,
    width: Int,
    depth: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def left: Expression = sketch
  override def right: Expression = key
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    sketch.dataType match {
      case ArrayType(LongType, _) =>
        if (Seq[DataType](LongType, IntegerType, StringType).contains(key.dataType))
          TypeCheckSuccess
        else TypeCheckFailure(
          s"cms_est: key must be BIGINT, INT or STRING, got ${key.dataType.sql} " +
            "(and must match the type cms_sketch was built on — INT and " +
            "BIGINT hash differently)")
      case other =>
        TypeCheckFailure(s"cms_est: sketch must be ARRAY<BIGINT>, got ${other.sql}")
    }
  }

  override def nullSafeEval(s: Any, k: Any): Any =
    CmsUtil.estimate(s.asInstanceOf[ArrayData], k, width, depth)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode): org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, (s, k) =>
      s"graft.functions.CmsUtil.estimate($s, $k, $width, $depth)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(sketch = newLeft, key = newRight)
}
