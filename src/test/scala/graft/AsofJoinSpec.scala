package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.plans.AsofJoin

/** Edge-case semantics of the custom ASOF join operator: exact-time
  * matches, right-time ties, unmatched left keys, empty sides, and
  * null keys — on tiny hand-built frames where the expected output is
  * enumerable by hand.
  */
class AsofJoinSpec extends SparkSpec {

  import spark.implicits._

  private def run(l: Seq[(Long, Long, String)], r: Seq[(Long, Long, Long)]) = {
    GraftExtensions.register(spark)
    val lf = l.toDF("lk", "lt", "tag")
    val rf = r.toDF("rk", "rt", "rv")
    AsofJoin.df(lf, rf, lf("lk"), rf("rk"), lf("lt"), rf("rt"), rf("rv"))
      .select("lk", "lt", "tag", "rt", "rv")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getString(2),
        if (x.isNullAt(3)) -1L else x.getLong(3),
        if (x.isNullAt(4)) -1L else x.getLong(4))).toSet
  }

  test("picks the latest right row at-or-before each left time, per key") {
    val got = run(
      l = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 15L, "c")),
      r = Seq((1L, 5L, 100L), (1L, 10L, 101L), (1L, 18L, 102L), (2L, 99L, 200L)))
    assert(got == Set(
      (1L, 10L, "a", 10L, 101L), // exact-time match counts (<=)
      (1L, 20L, "b", 18L, 102L),
      (2L, 15L, "c", -1L, -1L))) // right row is in the future → no match
  }

  test("right-time ties break toward the greatest tie-break value") {
    val got = run(
      l = Seq((7L, 50L, "x")),
      r = Seq((7L, 40L, 1L), (7L, 40L, 9L), (7L, 40L, 3L)))
    assert(got == Set((7L, 50L, "x", 40L, 9L)))
  }

  test("unmatched keys and an empty right side emit nulls") {
    assert(run(Seq((5L, 1L, "n")), Seq((6L, 1L, 1L))) == Set((5L, 1L, "n", -1L, -1L)))
    assert(run(Seq((5L, 1L, "n")), Seq.empty) == Set((5L, 1L, "n", -1L, -1L)))
  }

  test("every left row survives (left-outer) and earlier matches persist") {
    // second left row at t=30 reuses the t=12 match (no later right row)
    val got = run(
      l = Seq((3L, 15L, "p"), (3L, 30L, "q")),
      r = Seq((3L, 12L, 77L)))
    assert(got == Set((3L, 15L, "p", 12L, 77L), (3L, 30L, "q", 12L, 77L)))
  }

  test("string keys: stored match key survives the sort iterator's buffer reuse") {
    // Regression for the matchKey aliasing fix: a non-primitive key
    // eval'd straight off the right iterator can reference the sorter's
    // reused backing buffer; the stored key must come from the COPIED
    // match row. Many interleaved string keys per partition make the
    // stale-key comparison at the key boundary do real work: with an
    // aliased key, the "same key?" check against the next key's left
    // rows would compare mutated bytes and leak a previous key's match.
    GraftExtensions.register(spark)
    val n = 2000
    val l = (0 until n).map(i => (f"key_${i % 97}%04d", (i / 97).toLong * 10 + 5, i.toLong))
    val r = (0 until n).map(i => (f"key_${i % 97}%04d", (i / 97).toLong * 10, i.toLong))
    val lf = l.toDF("lk", "lt", "lid").repartition(3)
    val rf = r.toDF("rk", "rt", "rid").repartition(3)
    val got = AsofJoin.df(lf, rf, lf("lk"), rf("rk"), lf("lt"), rf("rt"), rf("rid"))
      .select("lk", "lt", "rt", "rid").collect()
    assert(got.length == n)
    got.foreach { row =>
      // the match must be the same key's right row at exactly lt - 5
      assert(!row.isNullAt(2), s"unmatched: $row")
      assert(row.getLong(2) == row.getLong(1) - 5, s"wrong time: $row")
      val expectedRid = r.indexOf((row.getString(0), row.getLong(2),
        row.getLong(3))).toLong
      assert(row.getLong(3) >= 0 && r(row.getLong(3).toInt) ==
        (row.getString(0), row.getLong(2), row.getLong(3)), s"cross-key leak: $row")
      assert(expectedRid == row.getLong(3))
    }
  }
}
