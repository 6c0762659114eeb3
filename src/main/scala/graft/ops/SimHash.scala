package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** 64-bit SimHash of a token array.
  *
  * Per token: a stable FNV-1a 64-bit hash; each of the 64 bits votes
  * ±1; the sign of each vote column forms the output bit. Documents
  * with mostly-shared tokens end up within a few bits of Hamming
  * distance, so near-dup candidates = equal values on any 16-bit band
  * (see [[Dedup.simhashCandidates]]). Implemented as a custom Catalyst
  * expression (one imperative loop per row) rather than 64 separate
  * fold expressions — O(tokens) work, codegen via a static call.
  */
object SimHash {

  /** Stable FNV-1a 64-bit — independent of JVM/String.hashCode. */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  def ofTokens(tokens: Iterator[String]): Long = {
    val votes = new Array[Int](64)
    while (tokens.hasNext) {
      val h = fnv1a64(tokens.next())
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Codegen entry point: called from generated Java on ArrayData. */
  def ofArray(arr: ArrayData): Long = {
    val n = arr.numElements()
    val it = (0 until n).iterator
      .filterNot(arr.isNullAt)
      .map(i => arr.getUTF8String(i).toString)
    ofTokens(it)
  }

  def simhash64(c: Column): Column =
    graft.engine.Columns.ofExpr(SimHashExpr(graft.engine.Columns.exprOf(c)))
}

/** array<string> → long SimHash (see [[SimHash]]). */
case class SimHashExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(input: Any): Any =
    SimHash.ofArray(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.ops.SimHash.ofArray($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHashExpr =
    copy(child = newChild)
}
