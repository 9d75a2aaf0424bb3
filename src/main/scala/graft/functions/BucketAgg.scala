package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField,
  StructType}
import org.apache.spark.sql.SparkSessionExtensions

/** Bounded LSH band-bucket collector:
  * `graft_bucket(id, mh, cap) -> struct(bucket_n bigint,
  * members array<struct(doc_id bigint, mh array<bigint>)>)` — the
  * bucket's exact member count plus its `cap` smallest member ids
  * (ascending, each with its minhash signature).
  *
  * Why an aggregate and not [explode → occupancy groupBy → join-back →
  * band self-join] (the r17 cappedBands shape): that chain pays an
  * occupancy exchange, a join-back of every exploded row, and TWO more
  * exchanges for the pair self-join — four shuffle boundaries (= four
  * AQE stage-materialization jobs at gate SF) to produce in-bucket
  * pairs whose bucket is CAPPED anyway. This aggregate folds count and
  * membership into ONE map-side-combinable pass: a viral band key
  * (template spam — the exact skew the r17 window→groupBy move
  * defended against) partial-aggregates into a ≤cap-member buffer on
  * every map task, so at most cap+ε members per bucket per task ever
  * cross the wire, strictly fewer bytes than the join-back shape moved.
  * Buckets over the cap keep the exact count (the cap filter reads
  * `bucket_n`) while their member storage stays bounded; pair
  * generation is then two codegen explodes over the sorted member
  * array, no join.
  *
  * Memory honesty (the ADVICE r16 ObjectHashAggregate lesson): buffers
  * GROW on demand (4 → 2× → cap), so the common 1-2 member bucket costs
  * ~two slots, and the sort-based fallback threshold is deliberately
  * NOT raised for this aggregate — past 128 in-memory buckets per
  * partition it degrades to sort-based aggregation over the band keys,
  * which is exactly the sort the replaced sort-merge join-back paid;
  * the hash path is a pure win below it and the fallback is never
  * worse.
  *
  * Determinism: member ids are unique within a bucket (exact-dup
  * representatives), insertion keeps the buffer ascending by id, and
  * merge replays one buffer into the other — any partial-aggregation
  * grouping yields the same members (spec-pinned vs the join-back
  * reference). Null-id rows are skipped (the SQL aggregate
  * convention); a null-mh row counts into `bucket_n` but is not a
  * member, so the count stays an exact occupancy either way. `cap` must be a
  * foldable positive literal: a per-row cap would make partial buffers
  * unmergeable. */
case class BucketAgg(
    idExpr: Expression, mhExpr: Option[Expression], capExpr: Expression,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[BucketAgg.Buf] {

  private lazy val cap: Int = capExpr.eval(null).asInstanceOf[Number].intValue()

  override def checkInputDataTypes(): TypeCheckResult =
    if (idExpr.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName id must be BIGINT, got ${idExpr.dataType.sql}")
    else if (mhExpr.exists(e => !e.dataType.isInstanceOf[ArrayType] ||
      e.dataType.asInstanceOf[ArrayType].elementType != LongType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName mh must be ARRAY<BIGINT>, got ${mhExpr.get.dataType.sql}")
    else if (!capExpr.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName cap must be a literal (per-row cap would make " +
          "partial buffers unmergeable)")
    else if (capExpr.eval(null) == null ||
      capExpr.eval(null).asInstanceOf[Number].longValue() < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName cap must be >= 1")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType =
    if (mhExpr.isDefined) BucketAgg.resultType else BucketAgg.resultTypeIdOnly
  override def nullable: Boolean = false
  override def children: Seq[Expression] =
    Seq(idExpr) ++ mhExpr ++ Seq(capExpr)
  override def prettyName: String = BucketAgg.functionName

  override def createAggregationBuffer(): BucketAgg.Buf = new BucketAgg.Buf(cap)

  override def update(b: BucketAgg.Buf, input: InternalRow): BucketAgg.Buf = {
    val id = idExpr.eval(input)
    mhExpr match {
      case Some(me) =>
        val mh = me.eval(input)
        if (id != null) {
          // a null-mh row still occupies the bucket: count it, so
          // bucket_n stays exact, but it has no signature to pair on
          if (mh == null) b.total += 1
          // copy out of the (reused) input row before buffering
          else b.offer(id.asInstanceOf[Long],
            mh.asInstanceOf[ArrayData].toLongArray())
        }
      case None =>
        if (id != null) b.offer(id.asInstanceOf[Long], null)
    }
    b
  }

  override def merge(b: BucketAgg.Buf, o: BucketAgg.Buf): BucketAgg.Buf = {
    b.total += o.total
    var i = 0
    while (i < o.n) { b.insert(o.ids(i), o.mhs(i)); i += 1 }
    b
  }

  override def eval(b: BucketAgg.Buf): Any = {
    val members =
      if (mhExpr.isDefined) {
        val out = new Array[Any](b.n)
        var i = 0
        while (i < b.n) {
          out(i) = new GenericInternalRow(
            Array[Any](b.ids(i), new GenericArrayData(b.mhs(i))))
          i += 1
        }
        new GenericArrayData(out)
      } else
        new GenericArrayData(java.util.Arrays.copyOf(b.ids, b.n))
    new GenericInternalRow(Array[Any](b.total, members))
  }

  override def serialize(b: BucketAgg.Buf): Array[Byte] = {
    val withMh = mhExpr.isDefined
    var bytes = 8 + 4
    var i = 0
    while (i < b.n) {
      bytes += 8 + (if (withMh) 4 + b.mhs(i).length * 8 else 0); i += 1
    }
    val bb = java.nio.ByteBuffer.allocate(bytes)
    bb.putLong(b.total)
    bb.putInt(b.n)
    i = 0
    while (i < b.n) {
      bb.putLong(b.ids(i))
      if (withMh) {
        bb.putInt(b.mhs(i).length)
        var j = 0
        while (j < b.mhs(i).length) { bb.putLong(b.mhs(i)(j)); j += 1 }
      }
      i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): BucketAgg.Buf = {
    val withMh = mhExpr.isDefined
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val b = new BucketAgg.Buf(cap)
    val total = bb.getLong
    val n = bb.getInt
    var i = 0
    // serialized entries are already ordered; insert replays them
    while (i < n) {
      val id = bb.getLong
      val mh =
        if (withMh) {
          val len = bb.getInt
          val a = new Array[Long](len)
          var j = 0
          while (j < len) { a(j) = bb.getLong; j += 1 }
          a
        } else null
      b.insert(id, mh)
      i += 1
    }
    b.total = total
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): BucketAgg =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): BucketAgg =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BucketAgg =
    if (newChildren.length == 3)
      copy(idExpr = newChildren(0), mhExpr = Some(newChildren(1)),
        capExpr = newChildren(2))
    else copy(idExpr = newChildren(0), mhExpr = None,
      capExpr = newChildren(1))
}

object BucketAgg {

  val memberType: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("mh", ArrayType(LongType, containsNull = false),
      nullable = false)))

  val resultType: StructType = StructType(Seq(
    StructField("bucket_n", LongType, nullable = false),
    StructField("members", ArrayType(memberType, containsNull = false),
      nullable = false)))

  /** The 2-arg `graft_bucket(id, cap)` form: members are bare ids
    * (ascending) — the d52 rare-fp blocking grain, where no signature
    * rides the pair. */
  val resultTypeIdOnly: StructType = StructType(Seq(
    StructField("bucket_n", LongType, nullable = false),
    StructField("members", ArrayType(LongType, containsNull = false),
      nullable = false)))

  /** Exact count + the cap smallest member ids ascending. Storage grows
    * 4 → 2× → cap so singleton buckets (the overwhelming majority) stay
    * tiny; insertion shifts from the tail (O(stored) with stored ≤ cap). */
  final class Buf(val cap: Int) {
    var total: Long = 0L
    var n: Int = 0
    var ids: Array[Long] = new Array[Long](math.min(cap, 4))
    var mhs: Array[Array[Long]] = new Array[Array[Long]](math.min(cap, 4))

    def offer(id: Long, mh: Array[Long]): Unit = { total += 1; insert(id, mh) }

    /** Membership insert WITHOUT the count bump — merge() adds partial
      * counts wholesale and replays stored members through this. */
    def insert(id: Long, mh: Array[Long]): Unit = {
      if (n == cap && id >= ids(n - 1)) return
      if (n == ids.length && n < cap) {
        val grown = math.min(cap, math.max(4, ids.length * 2))
        ids = java.util.Arrays.copyOf(ids, grown)
        mhs = java.util.Arrays.copyOf(mhs, grown)
      }
      var i = math.min(n, cap - 1)
      while (i > 0 && id < ids(i - 1)) {
        if (i < cap) { ids(i) = ids(i - 1); mhs(i) = mhs(i - 1) }
        i -= 1
      }
      ids(i) = id
      mhs(i) = mh
      if (n < cap) n += 1
    }
  }

  val functionName = "graft_bucket"

  /** SparkSessionExtensions hook: `builder.withExtensions(BucketAgg.register)`. */
  def register(ext: SparkSessionExtensions): Unit =
    ext.injectFunction((
      FunctionIdentifier(functionName),
      new ExpressionInfo(classOf[BucketAgg].getName, functionName),
      (children: Seq[Expression]) => children.length match {
        case 3 => BucketAgg(children(0), Some(children(1)), children(2))
        case 2 => BucketAgg(children(0), None, children(1))
        case n => throw new IllegalArgumentException(
          s"$functionName expects (id, mh, cap) or (id, cap), got $n args")
      }))
}
