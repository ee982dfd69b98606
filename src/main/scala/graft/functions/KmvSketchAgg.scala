package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `kmv_agg(hash_string, k)` — a native mergeable KMV (k-minimum-values,
  * "bottom-k") distinct sketch: keeps the k smallest DISTINCT values of a
  * string column in BINARY UTF-8 order (callers feed an md5/xxhash hex so
  * binary order == hash order) and returns them as a sorted
  * `array<string>`.
  *
  * Ordering and storage stay in [[UTF8String]] end to end (ADVICE r7): its
  * compareTo is an unsigned byte compare, identical to Spark's and DuckDB's
  * binary string collation — a Java String UTF-16 compare would silently
  * mis-order supplementary-plane characters if a caller fed raw text
  * instead of hex. Serialization is length-prefixed raw bytes, so values
  * of any size survive the shuffle (writeUTF would throw past 64 KB).
  *
  * This is the aggregate-function form of the q318 windowed bottom-k: as a
  * [[TypedImperativeAggregate]] it runs as a partial-aggregating
  * ObjectHashAggregate, so each input partition reduces to AT MOST k values
  * map-side and the shuffle carries `partitions x k` rows instead of the
  * full distinct value set — the communication shape that makes bottom-k
  * sketches viable at 100 TB (a per-corpus window formulation must first
  * shuffle every distinct value to its corpus partition). The buffer is a
  * bounded TreeSet: update is O(log k) with early reject of values above
  * the current k-th minimum; merge is a set-union re-truncated to k (the
  * KMV merge law, associative and commutative, so batch/shard/stream
  * orders all yield the same sketch).
  *
  * Duplicate inputs collapse (TreeSet) — correct for a DISTINCT sketch,
  * and it means callers can feed raw (non-distinct) rows and skip the
  * pre-aggregation entirely.
  */
case class KmvSketchAgg(
    child: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[java.util.TreeSet[UTF8String]]
    with UnaryLike[Expression] {

  require(k > 0, s"kmv_agg: k must be positive, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument (a hash hex), got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "kmv_agg"

  override def createAggregationBuffer(): java.util.TreeSet[UTF8String] =
    new java.util.TreeSet[UTF8String]()

  override def update(
      buffer: java.util.TreeSet[UTF8String],
      input: InternalRow): java.util.TreeSet[UTF8String] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String]
      // clone before storing: the evaluated UTF8String may point into a
      // reused row buffer that the next input row overwrites
      if (buffer.size < k) buffer.add(s.clone())
      else if (s.compareTo(buffer.last()) < 0) { // strict: equal-to-last is a duplicate or no-op
        if (buffer.add(s.clone())) buffer.pollLast()
      }
    }
    buffer
  }

  override def merge(
      buffer: java.util.TreeSet[UTF8String],
      other: java.util.TreeSet[UTF8String]): java.util.TreeSet[UTF8String] = {
    buffer.addAll(other)
    while (buffer.size > k) buffer.pollLast()
    buffer
  }

  override def eval(buffer: java.util.TreeSet[UTF8String]): Any = {
    val out = new Array[Any](buffer.size)
    val it = buffer.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buffer: java.util.TreeSet[UTF8String]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buffer.size)
    val it = buffer.iterator()
    while (it.hasNext) {
      val bytes = it.next().getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[UTF8String] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val set = new java.util.TreeSet[UTF8String]()
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val b = new Array[Byte](len)
      in.readFully(b)
      set.add(UTF8String.fromBytes(b))
      i += 1
    }
    set
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvSketchAgg =
    copy(child = newChild)
}

object KmvSketchAgg {

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[KmvSketchAgg].getCanonicalName, "kmv_agg")

  val builder: Seq[Expression] => Expression = (children: Seq[Expression]) => {
    require(children.length == 2, "usage: kmv_agg(hash_string, k)")
    val k = children(1) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"kmv_agg: k must be an integer literal, got $other")
    }
    KmvSketchAgg(children.head, k)
  }
}
