package graft

import org.apache.spark.sql.functions._

/** graft_qsqdist (codegen exact integer squared distance): parity with
  * the interpreted HOF chain it replaces, null semantics, and the
  * ragged-length fold contract.
  */
class QuantSqDistSpec extends SparkSpec {

  private def withFn[T](body: => T): T = {
    GraftExtensions.register(spark)
    body
  }

  test("matches aggregate(zip_with(...)) bit-for-bit on deterministic arrays") {
    withFn {
      import spark.implicits._
      val df = (0 until 200).map { i =>
        val x = Array.tabulate(64)(j => ((i * 131 + j * 17) % 2000003).toLong - 1000000L)
        val y = Array.tabulate(64)(j => ((i * 257 + j * 31) % 2000003).toLong - 1000000L)
        (x, y)
      }.toDF("x", "y")
      val got = df.selectExpr(
        "graft_qsqdist(x, y) AS fast",
        """aggregate(zip_with(x, y, (a, b) -> (a - b) * (a - b)),
          |  0L, (acc, z) -> acc + z) AS slow""".stripMargin).collect()
      got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    }
  }

  test("null input propagates null; empty arrays give 0") {
    withFn {
      val r = spark.sql(
        """SELECT graft_qsqdist(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS a,
          |  graft_qsqdist(array(1L), CAST(NULL AS ARRAY<BIGINT>)) AS b,
          |  graft_qsqdist(CAST(array() AS ARRAY<BIGINT>), CAST(array() AS ARRAY<BIGINT>)) AS c""".stripMargin).collect().head
      assert(r.isNullAt(0) && r.isNullAt(1) && r.getLong(2) == 0L)
    }
  }

  test("ragged lengths fold over the common prefix (min length)") {
    withFn {
      val r = spark.sql(
        "SELECT graft_qsqdist(array(3L, 5L, 100L), array(1L, 2L)) AS d").collect().head
      assert(r.getLong(0) == 4L + 9L)
    }
  }

  test("interpreted eval path (no codegen) agrees with the SQL path") {
    withFn {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.types.{ArrayType, LongType}
      val x = Literal.create(Seq(10L, -7L, 3L), ArrayType(LongType))
      val y = Literal.create(Seq(4L, 5L, 3L), ArrayType(LongType))
      val e = graft.functions.QuantSqDist(x, y)
      assert(e.eval(null) == (36L + 144L + 0L))
      val viaSql = spark.sql(
        "SELECT graft_qsqdist(array(10L, -7L, 3L), array(4L, 5L, 3L))").collect().head.getLong(0)
      assert(viaSql == 180L)
    }
  }
}
