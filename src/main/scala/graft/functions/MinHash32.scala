package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash signature: for each seed s in 0..k-1 the minimum of
  * `md5(s || ":" || shingle)` over the shingle array, as lowercase hex
  * (lexicographic min over hex == numeric min over the 128-bit hash).
  *
  * Exactly the semantics of
  * [[TextFunctions.minhashSignature]] / the DuckDB oracle — but one
  * MessageDigest call per (seed, shingle) on raw bytes instead of k
  * passes of Catalyst `transform`+`array_min` re-evaluating string
  * concat + hex encoding per element (measured 20×+ faster at bench).
  */
case class MinHash32(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = true)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"minhash32 requires array<string>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    MinHash32.evalArray(input.asInstanceOf[ArrayData], k)

  /** Real codegen: static call keeps the enclosing whole-stage span. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHash32.evalArray($c, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHash32 =
    copy(child = newChild)

  override def prettyName: String = "minhash32"
}

object MinHash32 {

  private val hexChars = "0123456789abcdef".toCharArray

  private def toHex(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  private val prefixCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]()

  private def prefixesFor(k: Int): Array[Array[Byte]] =
    prefixCache.computeIfAbsent(k,
      kk => (0 until kk).map(s => (s.toString + ":").getBytes(StandardCharsets.UTF_8)).toArray)

  /** Shared interpreted/codegen kernel. */
  def evalArray(arr: ArrayData, k: Int): GenericArrayData = {
    val n = arr.numElements()
    val mins = new Array[String](k)
    val md = MessageDigest.getInstance("MD5")
    val seedPrefixes = prefixesFor(k)
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val sh = arr.getUTF8String(i).getBytes
        var s = 0
        while (s < k) {
          md.reset()
          md.update(seedPrefixes(s))
          md.update(sh)
          val hex = toHex(md.digest())
          if (mins(s) == null || hex.compareTo(mins(s)) < 0) mins(s) = hex
          s += 1
        }
      }
      i += 1
    }
    // a seed with no shingles stays NULL — matching the columnar twin
    // (array_min over an empty/all-null array) exactly
    new GenericArrayData(mins.map(m =>
      if (m == null) null else UTF8String.fromString(m)))
  }

  /** `minhash32(arr, k)` expression builder for
    * [[graft.GraftExtensions]], which checks the arity.
    */
  private[graft] def fromExprs(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): MinHash32 = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // any FOLDABLE integral expression works (lit(8), lit(8L),
    // CAST(8 AS BIGINT), 4+4); evaluating a foldable needs no input
    // row. Non-foldable k is rejected with a clear error instead of an
    // undefined eval-against-no-row.
    val kExpr = exprs(1)
    val integral = kExpr.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _                                             => false
    }
    val k =
      if (kExpr.foldable && integral)
        kExpr.eval() match {
          case n: Number => n.intValue()
          case other =>
            throw new IllegalArgumentException(
              s"minhash32(arr, k): k must be a non-null integral literal, got $other")
        }
      else
        throw new IllegalArgumentException(
          s"minhash32(arr, k): k must be a foldable integral expression, got $kExpr")
    // positivity checked at ANALYSIS time like the other guards — a
    // negative k would otherwise surface as a runtime
    // NegativeArraySizeException inside evalArray, and k = 0 would
    // silently return empty signatures
    require(k > 0, s"minhash32(arr, k): k must be positive, got $k")
    MinHash32(exprs.head, k)
  }

  /** Column wrapper (the session needs [[graft.GraftExtensions]]). */
  def minhash32(shingles: Column, k: Int): Column =
    call_function("minhash32", shingles, org.apache.spark.sql.functions.lit(k))
}
