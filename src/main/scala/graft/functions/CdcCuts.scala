package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Content-defined-chunking gate positions in ONE pass per document.
  *
  * For documents of 8 or more code points, bit-identical to the
  * exploded formulation it replaces (dedup_cdc_chunking's hot job):
  *
  * {{{
  *   explode(sequence(8L, len)) AS p
  *   WHERE CAST(conv(substring(md5(substring(text, p-7, 8)), 1, 4), 16, 10)
  *         AS BIGINT) % 64 = 0
  *   ... groupBy(doc_id).agg(sort_array(collect_list(p)))
  * }}}
  *
  * because: windows are 8 CODE POINTS sliced on precomputed per-code-
  * point byte offsets (SQL substring counts code points in both
  * engines); md5 runs over exactly the window's UTF-8 bytes (what
  * Spark's `md5(string)` hashes); and `conv(first-4-hex, 16, 10) % 64`
  * is the low 6 bits of the digest's SECOND byte, so the gate is
  * `(digest[1] & 0x3f) == 0` with no hex round-trip. Positions come out
  * ascending by construction — `sort_array(collect_list(p))` is
  * replayed exactly — and a document with no gate hits yields an EMPTY
  * array, which also retires the left-join + coalesce the grouped
  * formulation needed for those docs.
  *
  * Shorter documents deliberately differ: there Spark's bare
  * `sequence(8L, len)` counts DOWN (step -1) and could emit gate
  * positions, while the kernel returns an empty array — what the
  * DuckDB oracle's `generate_series(8, len)` (empty for len < 8)
  * yields.
  *
  * Why it is faster (guide §1.2 step 2, per-task work): the exploded
  * form pays, PER CHARACTER of the corpus, a generated row, a
  * `MessageDigest.getInstance` (Spark's md5 constructs one per call), a
  * 32-char hex string, a hex-substring parse, and a hash-aggregate
  * probe into a (doc_id)-keyed map — ~5× the cost of the md5 itself —
  * plus a collect_list exchange of every cut. Here one digest instance
  * is reused across the whole document inside a tight byte loop and
  * only the O(cuts) array leaves the row.
  *
  * Scale note: per-row state is O(chars of one document) (the offsets
  * array) — same order as the row's own text bytes, no cross-row state;
  * the expression rides the scan inside whole-stage codegen.
  */
object CdcCutsKernel {
  private val WIN = 8
  private val MOD_MASK = 0x3f // % 64 on the conv'd first 4 hex digits

  def compute(s: UTF8String): GenericArrayData = {
    val bytes = s.getBytes
    // per-code-point byte offsets (SQL substring counts code points)
    val nBytes = bytes.length
    var nChars = 0
    var b = 0
    while (b < nBytes) {
      b += UTF8String.numBytesForFirstByte(bytes(b))
      nChars += 1
    }
    if (nChars < WIN) return new GenericArrayData(Array.emptyLongArray)
    val offs = new Array[Int](nChars + 1)
    var c = 0
    b = 0
    while (b < nBytes) {
      offs(c) = b
      b += UTF8String.numBytesForFirstByte(bytes(b))
      c += 1
    }
    offs(nChars) = nBytes
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new scala.collection.mutable.ArrayBuffer[Long](16)
    var p = WIN // 1-based end position of the window
    while (p <= nChars) {
      md.reset()
      md.update(bytes, offs(p - WIN), offs(p) - offs(p - WIN))
      if ((md.digest()(1) & MOD_MASK) == 0) out += p.toLong
      p += 1
    }
    new GenericArrayData(out.toArray)
  }
}

/** Native Catalyst expression: `graft_cdc_cuts(text)` → ascending
  * array<bigint> of the CDC gate positions (see [[CdcCutsKernel]]).
  */
case class CdcCuts(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"argument must be string, got $other")
    }

  override protected def nullSafeEval(text: Any): Any =
    CdcCutsKernel.compute(text.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.CdcCutsKernel.compute($t);")

  override protected def withNewChildInternal(newChild: Expression): CdcCuts =
    copy(child = newChild)
}

object CdcCuts {
  val name = "graft_cdc_cuts"
}
