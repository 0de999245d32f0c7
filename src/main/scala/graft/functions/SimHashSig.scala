package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass kernel: text → 64-bit SimHash signature computed from a
  * CROSS-ENGINE-REPRODUCIBLE per-token hash, so the near-dup pairs it
  * feeds can be graded against a DuckDB oracle (unlike xxhash64/FNV
  * finalizers, every step below is plain non-negative integer
  * arithmetic a SQL engine can replay exactly).
  *
  * Definition (mirrored verbatim by the `dedup_simhash` oracle SQL):
  *  1. tokens = split on every single space (empty tokens kept — the
  *     same list `string_split(text, ' ')` yields); de-dup by token
  *     STRING (= DuckDB `list_distinct`);
  *  2. tid = fold over code points: `(acc*31 + cp) mod 1e9+7` — all
  *     intermediates < 2^35, no overflow in either engine;
  *  3. two 32-bit avalanche hashes h1 = mix32(tid), h2 = mix32(tid +
  *     1e9+7), where mix32 is the classic xorshift-multiply
  *     (`x ^= x>>16; x *= 0x45d9f3b` twice, final `x ^= x>>16`), kept
  *     below 2^59 so BIGINT SQL arithmetic never overflows;
  *  4. 64 vote channels: channel b<32 reads bit b of h1, channel b≥32
  *     reads bit b−32 of h2; each distinct token votes ±1;
  *  5. signature bit b = 1 iff the channel-b vote sum is strictly
  *     positive. Packing order is engine-local (hamming = popcount of
  *     XOR only needs both engines to agree on the channel SET).
  */
object SimHashSigKernel {
  private final val P = 1000000007L
  private final val M32 = 0xffffffffL

  private def mix32(x0: Long): Long = {
    var x = x0 & M32
    x ^= (x >>> 16); x = (x * 0x45d9f3bL) & M32
    x ^= (x >>> 16); x = (x * 0x45d9f3bL) & M32
    x ^= (x >>> 16)
    x
  }

  def compute(s: UTF8String): Long = {
    // token de-dup must be by STRING (DuckDB list_distinct semantics),
    // so split on the string form; the corpus is ASCII but codePointAt
    // keeps the tid fold correct for any BMP+ text
    val text = s.toString
    val seen = new java.util.HashSet[String]()
    val votes = new Array[Int](64)
    var start = 0
    var i = 0
    val n = text.length
    while (i <= n) {
      if (i == n || text.charAt(i) == ' ') {
        val tok = text.substring(start, i)
        if (seen.add(tok)) {
          var tid = 0L
          var j = 0
          while (j < tok.length) {
            val cp = tok.codePointAt(j)
            tid = (tid * 31L + cp) % P
            j += Character.charCount(cp)
          }
          val h1 = mix32(tid)
          val h2 = mix32(tid + P)
          var b = 0
          while (b < 32) {
            votes(b) += (if (((h1 >>> b) & 1L) == 1L) 1 else -1)
            votes(b + 32) += (if (((h2 >>> b) & 1L) == 1L) 1 else -1)
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** Native expression wrapper over [[SimHashSigKernel]] — one JVM call
  * per row from generated code, the same static-forwarder shape as
  * [[ShingleHash3]].
  */
case class SimHashSig(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"input must be string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    SimHashSigKernel.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.SimHashSigKernel.compute($t);")

  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

object SimHashSig {
  val name = "graft_simhash_sig"
}
