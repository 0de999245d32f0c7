package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native Catalyst expression: 16 MinHash signature values from an
  * array of per-shingle 64-bit hashes.
  *
  * The j-th hash family is a splitmix64-style finalizer over
  * (h XOR seed_j) — one multiply-xorshift chain per (shingle, family),
  * all in a tight (codegen) loop. The previous formulation re-hashed
  * `concat(j, '#', shingle)` per family through interpreted HOF lambdas
  * (16 string builds + xxhash64 calls per shingle per doc — 6 s at
  * sf0.1, measured); this is O(16·n) integer ops fused into the scan
  * stage. Family quality is equivalent (splitmix64 is a full-avalanche
  * finalizer), so LSH banding behaves the same statistically.
  */
case class MinHash16(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
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
    val sig = Array.fill(16)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < 16) {
        var z = h ^ (-7046029254386353131L * (j + 1)) // golden-gamma seeds
        z = (z ^ (z >>> 30)) * -4658895280553007687L
        z = (z ^ (z >>> 27)) * -7723592293110705685L
        z = z ^ (z >>> 31)
        if (z < sig(j)) sig(j) = z
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, hs => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val z = ctx.freshName("z")
      val sig = ctx.freshName("sig")
      s"""
         |int $n = $hs.numElements();
         |long[] $sig = new long[16];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |for (int $i = 0; $i < $n; $i++) {
         |  long $h = $hs.getLong($i);
         |  for (int $j = 0; $j < 16; $j++) {
         |    long $z = $h ^ (-7046029254386353131L * ($j + 1));
         |    $z = ($z ^ ($z >>> 30)) * -4658895280553007687L;
         |    $z = ($z ^ ($z >>> 27)) * -7723592293110705685L;
         |    $z = $z ^ ($z >>> 31);
         |    if ($z < $sig[$j]) $sig[$j] = $z;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): MinHash16 =
    copy(child = newChild)
}

object MinHash16 {
  val name = "graft_minhash16"
}
