package graft

import org.apache.spark.sql.functions._

/** BoundedDim contract (r11 ADVICE): the guarded cap must pass a
  * within-bound frame through IDENTICALLY (no truncation, no row
  * reorder surprises) and FAIL LOUDLY — not silently truncate — the
  * day the underlying dimension outgrows its declared bound.
  */
class BoundedDimSpec extends SparkSpec {

  test("within the bound: identical row set, limit shape preserved") {
    val df = spark.range(25).toDF("k").withColumn("v", col("k") * 2)
    val out = graft.functions.BoundedDim.capped(df, 64, "test frame")
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      (0L until 25L).map(k => (k, k * 2)).toSeq)
    // NOTE on plan shape: on this toy source Catalyst's EliminateLimits
    // removes the limit (range(25).maxRows <= 64 is statically known);
    // on the real dimension frames (aggregates, unknown maxRows) the
    // limit survives and keeps the broadcast side scalar for the BNLJ
    // gate rule — machine-checked for all four call sites by
    // QueriesSmokeSpec's fleet sweep.
  }

  test("over the bound: execution fails with the declared cap message") {
    val df = spark.range(100).toDF("k")
    val ex = intercept[Exception] {
      graft.functions.BoundedDim.capped(df, 64, "exceeded frame").collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("exceeded its declared cap of 64")),
      s"expected the cap message, got: ${messages(ex).mkString(" | ")}")
  }

  test("guard fires even though the limit stops pulling at the bound") {
    // every emitted row carries the FULL partition count, so the
    // assertion sees 100 > 64 on the very first row — the downstream
    // limit cannot skip it by early-stopping
    val df = spark.range(100).toDF("k")
    val ex = intercept[Exception] {
      graft.functions.BoundedDim.capped(df, 64, "early-stop frame").limit(1).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("exceeded its declared cap of 64")))
  }
}
