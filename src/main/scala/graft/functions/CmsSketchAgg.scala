package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `cms_agg(key_string, d, w)` — a native mergeable count-min sketch
  * (Cormode & Muthukrishnan 2005): `d` hash rows of `w` counters; every
  * input row increments one counter per hash row; a key's frequency
  * estimate is the MIN over its `d` counters, which can only OVERCOUNT
  * (collisions add, never subtract) — the one-sided error law the q347
  * entry pins against exact GROUP BY counts.
  *
  * The bucket function is PORTABLE, so a SQL engine can rebuild the exact
  * same sketch and the estimates are cross-engine deterministic: row `r`
  * of key `s` uses hex digits `[1 + 6r, 6]` of `md5(s)` as an integer,
  * mod `w` (one md5 per input row serves all `d` rows; `d <= 5` so the 32
  * hex digits suffice). In SQL that is
  * `conv(substr(md5(s), 1 + 6*r, 6), 16, 10) % w` (Spark) /
  * `('0x' || substr(md5(s), 1 + 6*r, 6))::BIGINT % w` (DuckDB).
  *
  * Scale shape, same argument as [[KmvSketchAgg]]: as a
  * [[TypedImperativeAggregate]] it runs as a partial-aggregating
  * ObjectHashAggregate, so each input partition reduces map-side to a
  * FIXED d*w-long buffer and the shuffle carries `partitions * d * w`
  * longs instead of the key set — heavy-hitter estimation over 100 TB of
  * events moves kilobytes per partition. Merge is elementwise addition
  * (associative, commutative), so shard/batch/stream orders all yield the
  * identical sketch.
  *
  * Returns the sketch as a row-major `array<bigint>` of length `d*w`;
  * estimate extraction is `element_at(sk, r*w + bucket_r(key) + 1)`.
  */
case class CmsSketchAgg(
    child: Expression,
    d: Int,
    w: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]]
    with UnaryLike[Expression] {

  require(d > 0 && d <= 5, s"cms_agg: d must be in [1,5] (6 hex digits per row from one md5), got $d")
  require(w > 0 && w <= (1 << 20), s"cms_agg: w must be in [1,2^20], got $w")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string key, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cms_agg"

  override def createAggregationBuffer(): Array[Long] = new Array[Long](d * w)

  @transient private lazy val md5 = java.security.MessageDigest.getInstance("MD5")
  private val hexDigits = "0123456789abcdef".toCharArray

  /** Buckets of `key`: integer value of md5 hex digits [1+6r, 6], mod w —
    * exactly the SQL formulation above, so cross-engine identical. */
  private def buckets(key: UTF8String): Array[Int] = {
    md5.reset()
    val digest = md5.digest(key.getBytes)
    val hex = new Array[Char](32)
    var i = 0
    while (i < 16) {
      hex(2 * i) = hexDigits((digest(i) >> 4) & 0xf)
      hex(2 * i + 1) = hexDigits(digest(i) & 0xf)
      i += 1
    }
    val out = new Array[Int](d)
    var r = 0
    while (r < d) {
      var v = 0L
      var j = 6 * r
      val end = j + 6
      while (j < end) {
        val c = hex(j)
        v = v * 16 + (if (c <= '9') c - '0' else c - 'a' + 10)
        j += 1
      }
      out(r) = (v % w).toInt
      r += 1
    }
    out
  }

  override def update(buffer: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val bks = buckets(v.asInstanceOf[UTF8String])
      var r = 0
      while (r < d) { buffer(r * w + bks(r)) += 1L; r += 1 }
    }
    buffer
  }

  override def merge(buffer: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buffer.length) { buffer(i) += other(i); i += 1 }
    buffer
  }

  override def eval(buffer: Array[Long]): Any =
    new GenericArrayData(buffer.map(x => x: Any))

  override def serialize(buffer: Array[Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(4 + 8 * buffer.length)
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.length)
    var i = 0
    while (i < buffer.length) { out.writeLong(buffer(i)); i += 1 }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new Array[Long](n)
    var i = 0
    while (i < n) { buf(i) = in.readLong(); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CmsSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CmsSketchAgg =
    copy(child = newChild)
}

object CmsSketchAgg {

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[CmsSketchAgg].getCanonicalName, "cms_agg")

  val builder: Seq[Expression] => Expression = (children: Seq[Expression]) => {
    require(children.length == 3, "usage: cms_agg(key_string, d, w)")
    def intLit(e: Expression, what: String): Int = e match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"cms_agg: $what must be an integer literal, got $other")
    }
    CmsSketchAgg(children.head, intLit(children(1), "d"), intLit(children(2), "w"))
  }
}
