package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: pack an array of 64-bit token hashes
  * into a 64-bit SimHash signature.
  *
  * Semantics (identical to the former HOF formulation): for each bit
  * position b, every hash votes +1 if its bit b is set, else −1; the
  * signature bit is 1 iff the vote sum is positive. Bit b=0's vote
  * lands in the most-significant output bit (matching the original
  * `aggregate(bits, 0L, shiftleft(acc,1)|x)` fold order).
  *
  * The interpreted nested-HOF version cost ~64 lambda evaluations per
  * token per document; this runs the 64×n vote loop in tight (codegen)
  * Java — SimHash becomes scan-bound, which is what a 100 TB dedup
  * sweep needs.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"input must be array<bigint>, got $other")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val hs = input.asInstanceOf[ArrayData]
    val n = hs.numElements()
    var sig = 0L
    var b = 0
    while (b < 64) {
      var s = 0
      var i = 0
      while (i < n) {
        s += (if (((hs.getLong(i) >>> b) & 1L) == 1L) 1 else -1)
        i += 1
      }
      sig = (sig << 1) | (if (s > 0) 1L else 0L)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val n = ctx.freshName("n")
      val b = ctx.freshName("b")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val sig = ctx.freshName("sig")
      s"""
         |int $n = $hs.numElements();
         |long $sig = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  int $s = 0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += ((($hs.getLong($i) >>> $b) & 1L) == 1L) ? 1 : -1;
         |  }
         |  $sig = ($sig << 1) | (($s > 0) ? 1L : 0L);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  val name = "graft_simhash64"
}
