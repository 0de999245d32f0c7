package graft

import org.apache.spark.sql.functions._

/** CdcCuts contract: `graft_cdc_cuts(text)` must emit EXACTLY the cut
  * positions of the exploded md5-gate formulation it replaced in
  * dedup_cdc_chunking —
  * `p in 8..len where conv(substr(md5(substr(text, p-7, 8)), 1, 4),
  * 16, 10) % 64 = 0`, ascending — including multi-byte code points
  * (SQL substring counts code points, not bytes) and the no-hit case.
  * Documents shorter than the 8-code-point window yield an EMPTY
  * array, as the oracle's `generate_series(8, len)` does; there the
  * kernel deliberately departs from the bare `sequence(8L, len)`,
  * which counts down.
  */
class CdcCutsSpec extends SparkSpec {

  test("bit-identical to the exploded md5-gate formulation") {
    GraftExtensions.register(spark)
    // deterministic texts spanning: ASCII, repeated content (many
    // gate hits), 2-byte and 3-byte code points around window edges,
    // and exactly-8-char (shorter documents: the next test)
    val texts = Seq(
      "abcdefgh", // exactly one window
      (0 until 600).map(i => ('a' + i % 26).toChar).mkString,
      ("the quick brown fox jumps over the lazy dog " * 30).trim,
      "héllo wörld ünïcode çhars " * 25,
      "日本語のテキストです。" * 20,
      "mixed ascii と 日本語 and ümlauts " * 18)
    val df = spark.createDataFrame(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text")
      .withColumn("len", length(col("text")).cast("long"))
    val expected = df
      .select(col("doc_id"), col("text"), col("len"),
        explode(expr("sequence(8L, len)")).as("p"))
      .filter(expr(
        "CAST(conv(substring(md5(substring(text, CAST(p - 7 AS INT), 8)), 1, 4), 16, 10) AS BIGINT) % 64 = 0"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("p"))).as("cuts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = df
      .select(col("doc_id"), expr("graft_cdc_cuts(text)").as("cuts"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.indices.foreach { i =>
      val want = expected.getOrElse(i.toLong, Seq.empty[Long])
      assert(got(i.toLong) == want,
        s"doc $i: got ${got(i.toLong)}, want $want")
    }
    // sanity: the fixture family must actually exercise hits
    assert(expected.values.map(_.size).sum > 10, "gate never fired — weak fixture")
  }

  test("documents shorter than the window yield no cuts, as the oracle's generate_series") {
    GraftExtensions.register(spark)
    // every length below the window, ASCII and multi-byte: 7 code
    // points of "日本語" are 21 bytes, more than a window's 8 — the
    // window counts code points
    val texts = Seq("", "a", "a" * 7, "日本語のテキス", "héllo w")
    val df = spark.createDataFrame(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text")
    df.select(col("doc_id"), length(col("text")).as("len"), expr("graft_cdc_cuts(text)"))
      .collect().foreach { r =>
        assert(r.getInt(1) < 8)
        assert(r.getSeq[Long](2).isEmpty, s"doc ${r.getLong(0)} (${r.getInt(1)} code points): " +
          s"got cuts ${r.getSeq[Long](2)}")
      }
  }
}
