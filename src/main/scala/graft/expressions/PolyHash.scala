package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the polynomial rolling hash
  * h = fold((acc, cp) => (acc·31 + cp) mod 1e9+7) over code points —
  * the fingerprint primitive behind exact dedup, MinHash and SimHash
  * (document fingerprinting per SURVEY.md; dedup semantics from
  * `LTA/lta-retrieve.py:466-468`).
  *
  * This is the hot inner loop of the 100 TB dedup path: the Column-
  * algebra form (split → transform → aggregate) allocates a per-row
  * array of single-char strings; this expression walks the string once
  * with zero allocation and participates in whole-stage codegen via
  * `doGenCode`. Values are identical to the algebraic form (and the
  * DuckDB oracle fragment) for any ASCII input, and well-defined
  * (code-point order) beyond it.
  */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"poly_hash needs a string input, got ${child.dataType.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    PolyHash.hash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.PolyHash.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)

  override def prettyName: String = "poly_hash"
}

/** Second, independent polynomial hash (mult 37, mod 998244353 < 2³⁰) —
  * paired with [[PolyHash]] to build the 60-bit token fingerprints the
  * wide-SimHash dedup path needs: `h60 = poly_hash · 2³⁰ + poly_hash2`
  * gives 60 independent-ish bits with every operation exact in 64-bit
  * integer arithmetic on any engine (no wraparound, no floats). */
case class PolyHash2(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes():
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"poly_hash2 needs a string input, got ${child.dataType.catalogString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    PolyHash.hash2(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.PolyHash.hash2($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHash2 =
    copy(child = newChild)

  override def prettyName: String = "poly_hash2"
}

object PolyHash {
  final val Mod = 1000000007L
  final val Mod2 = 998244353L

  /** Zero-allocation code-point walk; called from generated code. */
  def hash(s: UTF8String): Long = polyWalk(s, 31L, Mod)

  /** Independent second hash; called from generated code. */
  def hash2(s: UTF8String): Long = polyWalk(s, 37L, Mod2)

  private def polyWalk(s: UTF8String, mult: Long, mod: Long): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * mult + cp) % mod
      i += Character.charCount(cp)
    }
    acc
  }
}
