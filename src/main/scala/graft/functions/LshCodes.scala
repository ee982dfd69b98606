package graft.functions

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Native codegen'd multi-table sign-LSH bucket codes:
  * `lsh_codes(emb, seed, tables, bits, dim)` → `array<int>` of `tables`
  * codes, bit `b` of table `t` set iff `emb · plane[t*bits+b] > 0`.
  *
  * The hyperplanes are deterministic Gaussians from `seed` — the SAME
  * sequence as the HOF formulation this replaces
  * (`Random(seed)` then `tables*bits*dim` `nextGaussian()` draws in order),
  * so bucket assignments are bit-identical to the previous
  * `aggregate(zip_with(...))` projection. What changes is the plan: the HOF
  * form inlines every plane as an array literal (8×8 and 16×6 table
  * constructions put 4–6k double literals into the plan, each plane a
  * separate zip_with+aggregate with per-row array allocation); this
  * expression is one fused loop over a plane matrix referenced from the
  * generated code — smaller plans, faster compile, no per-row garbage. The
  * ANN/near-dup bucketing hot path at 100 TB (SURVEY §2.E).
  *
  * Null ELEMENT / length-mismatch semantics mirror the HOF form: every bit
  * is 0 (an all-zero code array). A null top-level array instead yields NULL
  * (standard unary null propagation) — deliberately stricter than the HOF
  * form, which coerced null arrays to code 0 in every table: under the
  * posexplode bucketing a null embedding now emits NO (table, code) rows at
  * all, rather than piling every null into bucket 0 of every table (a skew
  * hazard at scale).
  */
case class LshCodes(child: Expression, seed: Int, tables: Int, bits: Int, dim: Int)
    extends UnaryExpression {

  require(tables > 0 && bits > 0 && bits <= 31 && dim > 0,
    s"invalid LSH shape: tables=$tables bits=$bits dim=$dim")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an array<float> argument, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "lsh_codes"

  @transient private lazy val planes: Array[Double] = LshCodes.planes(seed, tables, bits, dim)

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    new GenericArrayData(LshCodes.codes(x, planes, tables, bits, dim))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val planesRef = ctx.addReferenceObj("lshPlanes", planes, "double[]")
      s"""
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData(
         |  graft.functions.LshCodes.codes($x, $planesRef, $tables, $bits, $dim));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshCodes {

  private val cache = TrieMap.empty[(Int, Int, Int, Int), Array[Double]]

  /** Deterministic plane matrix, flat [plane][dim] row-major. The draw order
    * (plane 0 dims 0..dim-1, then plane 1, ...) matches
    * `Seq.fill(tables*bits)(Array.fill(dim)(rnd.nextGaussian()))`. */
  def planes(seed: Int, tables: Int, bits: Int, dim: Int): Array[Double] =
    cache.getOrElseUpdate((seed, tables, bits, dim), {
      val rnd = new scala.util.Random(seed)
      Array.fill(tables * bits * dim)(rnd.nextGaussian())
    })

  /** Shared by eval and generated code: one fused pass over the plane
    * matrix. Null elements / length mismatch → all-zero codes (the HOF
    * null-poisoning semantics); a null top-level array never reaches here
    * (nullSafeEval/nullSafeCodeGen return NULL first). */
  def codes(x: ArrayData, planes: Array[Double], tables: Int, bits: Int, dim: Int): Array[Int] = {
    val out = new Array[Int](tables)
    if (x.numElements() != dim) return out
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (x.isNullAt(i)) return out
      v(i) = x.getFloat(i).toDouble
      i += 1
    }
    var p = 0
    var t = 0
    while (t < tables) {
      var code = 0
      var b = 0
      while (b < bits) {
        var dot = 0.0
        val off = p * dim
        var j = 0
        while (j < dim) { dot += v(j) * planes(off + j); j += 1 }
        if (dot > 0) code |= 1 << b
        p += 1
        b += 1
      }
      out(t) = code
      t += 1
    }
    out
  }

  val info: ExpressionInfo = new ExpressionInfo(
    classOf[LshCodes].getCanonicalName, "lsh_codes")

  val builder: Seq[Expression] => Expression = (children: Seq[Expression]) => {
    def intArg(e: Expression, name: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"lsh_codes: $name must be an integer literal, got $other")
    }
    require(children.length == 5,
      "usage: lsh_codes(emb, seed, tables, bits, dim)")
    LshCodes(children.head, intArg(children(1), "seed"),
      intArg(children(2), "tables"), intArg(children(3), "bits"),
      intArg(children(4), "dim"))
  }
}
