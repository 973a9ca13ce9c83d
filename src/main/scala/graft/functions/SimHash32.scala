package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{bit_count, call_function}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native Catalyst expression computing a 32-bit SimHash of a token
  * array — the hot-path twin of [[TextFunctions.simhash32Col]] (same
  * md5-derived bit semantics, asserted equal in SimHashSpec).
  *
  * A custom `Expression` rather than a Scala UDF so it (a) avoids the
  * UDF serialization wall, (b) sits directly on Catalyst's internal
  * `ArrayData`/`UTF8String` without row conversion, and (c) hashes each
  * token once instead of the 32 aggregate passes the pure-Column
  * formula needs. Codegen emits a static kernel call, so enclosing
  * operators stay in one whole-stage span (SURVEY.md §4 "Codegen").
  */
case class SimHash32(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash32 requires array<string>, got $other")
  }

  override protected def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SimHash32.evalArray(input.asInstanceOf[ArrayData]))

  /** Real codegen (not CodegenFallback): emits a static call so the
    * surrounding operators stay inside one whole-stage-codegen span —
    * no per-row boxing or virtual eval dispatch; the md5 work itself
    * is the same either way.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SimHash32.evalArray($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash32 =
    copy(child = newChild)

  override def prettyName: String = "simhash32"
}

object SimHash32 {

  /** Shared interpreted/codegen kernel. */
  def evalArray(arr: ArrayData): Long = {
    val n = arr.numElements()
    val sums = new Array[Int](32)
    val md = MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val tok = arr.getUTF8String(i)
        md.reset()
        val digest = md.digest(tok.toString.getBytes(StandardCharsets.UTF_8))
        // first 4 digest bytes == first 8 hex chars, big-endian
        val h: Long =
          ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
            ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
        var j = 0
        while (j < 32) {
          if (((h >> (31 - j)) & 1L) == 1L) sums(j) += 1 else sums(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 32) {
      if (sums(j) > 0) out |= 1L << (31 - j)
      j += 1
    }
    out
  }

  /** Column wrapper (the session needs [[graft.GraftExtensions]]). */
  def simhash32(tokens: Column): Column = call_function("simhash32", tokens)

  /** Hamming distance between two simhash longs as a Column. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))
}
