package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass kernel: text → distinct 64-bit hashes of its 3-token
  * shingles. Kept as a standalone object so generated Java can call the
  * static forwarder directly (`ShingleHashKernel.compute(...)`) — one
  * JVM call per row, no per-element expression dispatch.
  *
  * Semantics mirror the previous HOF formulation
  * (`transform(sequence(..), i -> concat_ws(' ', slice(split(text,' '), i, 3)))`
  * + xxhash64 + array_distinct): tokens split on every single space,
  * one shingle per 3-token window (documents with <3 tokens produce one
  * shingle over all their tokens), distinct by hash value. Hash
  * identity differs (FNV-1a per token + splitmix-style mix per window
  * instead of xxhash64 over rebuilt strings) — irrelevant to MinHash/
  * Jaccard, which only need a stable, well-avalanched set identity.
  */
object ShingleHashKernel {
  def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    // per-token FNV-1a 64 hashes, split on ' ' (0x20)
    var tokens = new Array[Long](16)
    var nTok = 0
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        if (nTok == tokens.length) tokens = java.util.Arrays.copyOf(tokens, nTok * 2)
        tokens(nTok) = h
        nTok += 1
        h = 0xcbf29ce484222325L
      } else {
        h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L
      }
      i += 1
    }
    val nSh = math.max(nTok - 2, 1)
    val out = new Array[Long](nSh)
    var k = 0
    while (k < nSh) {
      var z = 0x9e3779b97f4a7c15L
      var j = k
      val end = math.min(k + 3, nTok)
      while (j < end) {
        z = (z ^ tokens(j)) * 0xff51afd7ed558ccdL
        z ^= (z >>> 33)
        j += 1
      }
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^= (z >>> 31)
      out(k) = z
      k += 1
    }
    // distinct via sort+dedupe — every consumer (MinHash min-loop,
    // set intersect/union) is order-insensitive
    java.util.Arrays.sort(out)
    var w = 0
    var r = 0
    while (r < out.length) {
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(if (w == out.length) out else java.util.Arrays.copyOf(out, w))
  }
}

/** Single-pass kernel: text → distinct 64-bit FNV-1a hashes of its
  * space-separated tokens (no shingling). The SimHash vote loop only
  * needs a stable well-mixed hash per distinct token — computing it
  * here replaces an interpreted array_distinct(split)+transform chain
  * with one codegen'd call.
  */
object TokenHashKernel {
  def compute(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    var out = new Array[Long](16)
    var n = 0
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i <= bytes.length) {
      if (i == bytes.length || bytes(i) == ' ') {
        if (n == out.length) out = java.util.Arrays.copyOf(out, n * 2)
        // finalize with a splitmix-style avalanche: FNV-1a alone is
        // weak in the high bits, and SimHash votes on all 64
        var z = h
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^= (z >>> 31)
        out(n) = z
        n += 1
        h = 0xcbf29ce484222325L
      } else {
        h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L
      }
      i += 1
    }
    java.util.Arrays.sort(out, 0, n)
    var w = 0
    var r = 0
    while (r < n) {
      if (w == 0 || out(r) != out(w - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }
}

/** Native Catalyst expression: distinct 64-bit token hashes of a text
  * column (see [[TokenHashKernel]]).
  */
case class TokenHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"input must be string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    TokenHashKernel.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.TokenHashKernel.compute($t);")

  override protected def withNewChildInternal(newChild: Expression): TokenHash64 =
    copy(child = newChild)
}

object TokenHash64 {
  val name = "graft_tokenhash64"
}

/** Native Catalyst expression: distinct 3-token shingle hashes of a
  * text column, in one codegen'd pass over the UTF-8 bytes.
  *
  * Replaces the interpreted HOF chain that dominated dedup_minhash_near
  * (split → sequence → transform(concat_ws(slice)) → xxhash64 →
  * array_distinct: five interpreted array passes plus per-shingle
  * string rebuilding — ~15 s for 500 docs at sf0.1, measured). This is
  * O(bytes + shingles) integer work fused into the scan stage; at
  * 100 TB the shingling cost is what the whole MinHash pipeline scales
  * with, so it must live in codegen.
  */
case class ShingleHash3(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"input must be string, got $other")
    }

  override protected def nullSafeEval(input: Any): Any =
    ShingleHashKernel.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = graft.functions.ShingleHashKernel.compute($t);")

  override protected def withNewChildInternal(newChild: Expression): ShingleHash3 =
    copy(child = newChild)
}

object ShingleHash3 {
  val name = "graft_shingle3"
}
