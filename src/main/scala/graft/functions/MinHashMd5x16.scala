package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The 16 md5-salted 3-token-shingle minhashes of a document in ONE
  * pass over its raw text.
  *
  * Bit-identical to dedup_bbit_minhash's exploded formulation — per
  * salt i in 0..15, over the distinct 3-token shingles sg of
  * `split(lower(text), ' ')`:
  *
  * {{{
  *   min( CAST(conv(substring(md5(concat('bb', i, ':', sg)), 1, 12),
  *        16, 10) AS BIGINT) )
  * }}}
  *
  * by four exact identities:
  *
  *  1. `split(lower(text), ' ')` splits on every single space
  *     (keeping empty tokens, including trailing ones — Spark passes
  *     limit -1), so the separators between consecutive tokens are
  *     exactly one space each, and the 3-token shingle
  *     `concat_ws(' ', tᵢ, tᵢ₊₁, tᵢ₊₂)` is PRECISELY the byte span of
  *     the lowered text from the start of tᵢ to the end of tᵢ₊₂ — no
  *     string needs to be built, the kernel hashes the span in place.
  *  2. `min` is idempotent, so the `array_distinct` in the exploded
  *     formulation cannot change any per-salt minimum — duplicate
  *     shingles may be re-hashed freely.
  *  3. The salt `"bb" + i + ":"` is pure ASCII; md5 runs over exactly
  *     the UTF-8 bytes Spark's concat+md5 would hash.
  *  4. `conv(first-12-hex, 16, 10)` is the digest's first 6 bytes read
  *     big-endian — an unsigned 48-bit value, sign-safe in a long.
  *
  * Lowercasing uses the same `UTF8String.toLowerCase` Spark's `lower`
  * evaluates, and a space byte (0x20) never occurs inside a multi-byte
  * UTF-8 sequence, so the byte-level token scan equals the code-point
  * split.
  *
  * Why it is faster (guide §1.2 step 2): the exploded form paid, per
  * (shingle × 16 salts), a generated row, a string concat, a fresh
  * MessageDigest (Spark's md5 constructs one per call), a 32-char hex
  * encode, a 12-char hex re-parse and a hash-aggregate probe, then a
  * SECOND exchange to assemble the 16 per-salt mins — and building the
  * shingle strings at all rode an interpreted transform+array_distinct
  * HOF. Here one digest instance serves the whole document over
  * in-place byte spans; the 16-long signature leaves the row directly.
  *
  * Returns NULL when the document has fewer than 3 tokens — exactly
  * the docs the exploded formulation dropped (`CASE WHEN size(a) >= 3
  * ... ELSE array()` + explode).
  */
object MinHashMd5x16Kernel {
  private val K = 16
  // "bb0:".."bb15:" — ASCII, identical bytes to concat('bb', i, ':')
  private val salts: Array[Array[Byte]] =
    (0 until K).map(i => s"bb$i:".getBytes("UTF-8")).toArray

  def compute(text: UTF8String): GenericArrayData = {
    val lowered = text.toLowerCase
    val bytes = lowered.getBytes
    val n = bytes.length
    // token start offsets: 0 and every position after a space byte
    var nTok = 1
    var b = 0
    while (b < n) { if (bytes(b) == ' ') nTok += 1; b += 1 }
    if (nTok < 3) return null
    val starts = new Array[Int](nTok + 1)
    starts(0) = 0
    var t = 1
    b = 0
    while (b < n) {
      if (bytes(b) == ' ') { starts(t) = b + 1; t += 1 }
      b += 1
    }
    starts(nTok) = n + 1 // sentinel: end of token k is starts(k+1) - 1
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = Array.fill(K)(Long.MaxValue)
    var w = 0
    while (w + 2 < nTok) {
      val from = starts(w)
      val len = starts(w + 3) - 1 - from // span tᵂ..tᵂ⁺² incl. spaces
      var i = 0
      while (i < K) {
        md.reset()
        md.update(salts(i))
        md.update(bytes, from, len)
        val d = md.digest()
        val h = ((d(0) & 0xffL) << 40) | ((d(1) & 0xffL) << 32) |
          ((d(2) & 0xffL) << 24) | ((d(3) & 0xffL) << 16) |
          ((d(4) & 0xffL) << 8) | (d(5) & 0xffL)
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      w += 1
    }
    new GenericArrayData(mins)
  }
}

/** Native Catalyst expression: `graft_bbit_minhash16(text)` →
  * array<bigint> of the 16 salted 3-token-shingle minhashes (see
  * [[MinHashMd5x16Kernel]]); NULL when the text has fewer than 3
  * tokens. (Distinct from `graft_minhash16`, the 16-permutation
  * integer minhash over pre-hashed shingles.)
  */
case class MinHashMd5x16(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"argument must be string, got $other")
    }

  override protected def nullSafeEval(text: Any): Any =
    MinHashMd5x16Kernel.compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"""${ev.value} = graft.functions.MinHashMd5x16Kernel.compute($t);
         |${ev.isNull} = (${ev.value} == null);""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): MinHashMd5x16 =
    copy(child = newChild)
}

object MinHashMd5x16 {
  val name = "graft_bbit_minhash16"
}
