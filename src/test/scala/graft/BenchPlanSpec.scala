package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's run plan: every registry key must be timed exactly
  * once, the declared stage-consumer keys must exist — a renamed query
  * would otherwise silently detach from its staging and re-mine the
  * corpus inside its timed region — and the short summary line must
  * fit the 2000-char log tail it is parsed from.
  */
class BenchPlanSpec extends AnyFunSuite {

  test("planned units cover the registry exactly once") {
    val planned = Bench.fullRunOrder
    assert(planned.size == planned.distinct.size,
      "a query is planned twice")
    assert(planned.toSet == SparkEntry.queries.keySet,
      s"plan/registry mismatch: ${(planned.toSet.union(SparkEntry.queries.keySet) --
        planned.toSet.intersect(SparkEntry.queries.keySet)).take(5).mkString(", ")}")
  }

  test("declared stage-consumer keys exist in the registry") {
    val registry = SparkEntry.queries.keySet
    Bench.stageDefs.foreach { case (stage, consumers, _) =>
      val missing = consumers -- registry
      assert(missing.isEmpty,
        s"stage $stage declares unknown consumers: ${missing.mkString(", ")}")
    }
  }

  test("flagship and spotlight summary names exist in the registry") {
    val names = Bench.flagships ++ Bench.spotlight
    val missing = names.filterNot(SparkEntry.queries.contains)
    assert(missing.isEmpty, s"summary names missing from the registry: ${missing.mkString(", ")}")
  }

  /** The summary line `Bench.main` prints, for `times` and `errors`. */
  private def summaryLine(times: Map[String, Double], errors: Seq[String]): (Seq[String], String) = {
    def line(queries: String) = Bench.summaryLine(99999.999, 999.999, 99, times.size,
      errors, queries, "/data/testdata/sf0.1", "bench_out.json")
    val sample = Bench.summarySample(times, line("{}").length)
    (sample, line(Bench.sampleJson(times, sample)))
  }

  test("short-summary sample fits the driver's 2000-char capture window") {
    // full-registry-sized times map with worst-case 4-digit seconds
    val times = SparkEntry.queries.keySet.map(_ -> 9999.999).toMap
    val (sample, line) = summaryLine(times, Nil)
    // flagships lead (stable contract rows), no duplicates, all measured
    assert(sample.take(6) == Seq("agg_hash_groupby", "join_inner_hash",
      "win_rank", "dedup_exact", "sim_topk_cosine", "text_bm25_rank"))
    assert(sample.distinct.size == sample.size)
    assert(sample.forall(times.contains))
    // the assembled summary line (sample + the fixed fields) must stay
    // inside the driver's 2000-char log-tail window
    assert(line.length <= 2000, s"summary line ${line.length} chars > 2000")
    // and it must carry far more than the 6 flagships (r14 verdict #2)
    assert(sample.size >= 30, s"only ${sample.size} rows in the sample")
  }

  test("short-summary line stays inside its budget with errors and 5-digit times") {
    // times of 10000 s and more take one char more than the 4-digit case
    val times = SparkEntry.queries.keySet.map(_ -> 12345.678).toMap
    val errors = SparkEntry.queries.keySet.toSeq.sorted.take(12)
    val (clean, cleanLine) = summaryLine(times, Nil)
    val (sample, line) = summaryLine(times, errors)
    assert(cleanLine.length <= Bench.summaryLineBudget,
      s"error-free line ${cleanLine.length} chars > ${Bench.summaryLineBudget}")
    assert(line.length <= Bench.summaryLineBudget,
      s"line with ${errors.size} errors ${line.length} chars > ${Bench.summaryLineBudget}")
    assert(errors.forall(e => line.contains("\"" + e + "\"")), "errors array truncated")
    // the errors' room comes out of the sample, flagships first
    assert(sample.size < clean.size)
    assert(sample.take(6) == clean.take(6))
  }
}
