package graft

import org.apache.spark.sql.functions._

/** MinHashMd5x16 contract: `graft_bbit_minhash16(text)` must emit EXACTLY
  * the 16-element signature of the exploded md5 formulation it
  * replaced in dedup_bbit_minhash — per salt i,
  * `min(conv(substr(md5('bb' || i || ':' || sg), 1, 12), 16, 10))`
  * over the distinct 3-token shingles of `split(lower(text), ' ')` —
  * including multi-byte code points, repeated shingles (idempotent
  * min), empty tokens from doubled/leading/trailing spaces (split
  * keeps them), uppercase input, and the <3-token NULL case.
  */
class MinHashMd5x16Spec extends SparkSpec {

  test("bit-identical to the exploded md5 minhash formulation") {
    GraftExtensions.register(spark)
    val texts = Seq(
      "one two", // <3 tokens: dropped / NULL
      "a b c",
      "the quick brown fox jumps over the lazy dog",
      "dup dup dup dup dup dup", // repeated shingles
      "Mixed CASE Tokens With ÜMLAUTS and ÇEDILLAS here",
      "日本語 の テキスト です よ ね",
      "double  space   runs keep empty tokens intact",
      " leading and trailing spaces ",
      ("w" + ("x y z " * 40)).trim)
    val df = spark.createDataFrame(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("doc_id", "text")
    val sh = df
      .select(col("doc_id"), split(lower(col("text")), " ").as("a"))
      .select(col("doc_id"), explode(expr(
        """CASE WHEN size(a) >= 3 THEN
          |  array_distinct(transform(sequence(1, size(a) - 2),
          |    i -> concat_ws(' ', element_at(a, i), element_at(a, i + 1), element_at(a, i + 2))))
          |ELSE array() END""".stripMargin)).as("sg"))
    val expected = sh
      .select(col("doc_id"), explode(expr("sequence(0, 15)")).as("i"), col("sg"))
      .groupBy("doc_id", "i")
      .agg(min(expr(
        "CAST(conv(substring(md5(concat('bb', CAST(i AS STRING), ':', sg)), 1, 12), 16, 10) AS BIGINT)"))
        .as("h"))
      .groupBy("doc_id")
      .agg(expr("transform(array_sort(collect_list(struct(i, h))), x -> x.h)").as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val got = df
      .select(col("doc_id"), expr("graft_bbit_minhash16(text)").as("sig"))
      .collect().map(r => r.getLong(0) -> Option(r.getSeq[Long](1))).toMap
    texts.indices.foreach { i =>
      (expected.get(i.toLong), got(i.toLong)) match {
        case (None, None) => // both drop the <3-token doc
        case (Some(w), Some(g)) => assert(g == w, s"doc $i: got $g, want $w")
        case other => fail(s"doc $i: presence mismatch $other")
      }
    }
    assert(expected.size == texts.size - 1, "exactly one doc must drop")
  }
}
