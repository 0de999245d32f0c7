package graft
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: times every SparkEntry query at the given sf.
  *
  * JVM lifecycle (r14, after the drift root-cause): the r12/r13
  * ledgers' ~1.67× fleet-wide drift over the r11-common rows was
  * suspected to be JVM aging — r14's controlled runs REFUTED that at
  * the current registry size (code cache plateaus at ~156/528 MB over
  * 1045 queries, metaspace flat, and a fresh single JVM reproduces the
  * post-r11 ledger from its first queries; the drift is environmental
  * — see BASELINE.md r14). The measured mode A/B on an idle machine:
  * single-JVM 1247 s total / median 0.90 vs the r13 ledger; chunked
  * fresh-JVM-per-256-queries 1503 s / median 1.13, +28 % per-row
  * median vs the same-day single run, concentrated at chunk starts
  * (JIT-cold Spark internals despite the warmup battery). Default is
  * therefore the SINGLE-JVM run (`SPARK_GRAFT_JVM_EVERY=0`). Chunked
  * orchestration — the parent plans file-granular chunks of
  * `SPARK_GRAFT_JVM_EVERY` queries, runs each in a fresh child JVM
  * (same flags + classpath) and merges the ledgers — remains the
  * insurance switch if the BENCH_JVM diag lines ever show real aging
  * again (code-cache/metaspace growth, or late-run uniform inflation
  * that a SparkSession restart does not clear): it bounds any aging or
  * environmental transient to one chunk.
  *
  * Chunk planning is FILE-granular: queries registered from the same
  * source file stay in one chunk, so file-local memoized staging
  * (computeIfAbsent temp dirs) is never re-paid across a split. Files
  * that share a memoized cross-file stage are pinned into the same
  * chunk by the affinity groups below, so each corpus-wide stage runs
  * exactly once per full run, as before.
  *
  * Staging accounting: the corpus-wide one-time stages (shingle
  * aggregates, mined near-dup pairs, CC labels, the BPE merge table,
  * LPA labels, co-purchase pair stats) are materialized up front in
  * whichever chunk contains their consumers and reported in the
  * `"staging"` JSON field (summed across chunks); `value` (the gate
  * total) still includes it, so round-over-round totals stay
  * like-for-like. Targeted (`only`) runs now ALSO stage the artifacts
  * their selection consumes — r13's targeted runs skipped staging, so
  * a targeted re-time of a staging consumer lazily re-mined the corpus
  * inside its timed region and was incomparable to the ledger (judge
  * measured graph_adamic_adar 30.3 s targeted vs 3.6 s ledger).
  *
  * Output contract (the r14 fix for the driver's `parsed: null`): the
  * full per-query ledger (~25 KB at 1045 rows) overflows the driver's
  * 2000-char log-tail capture window, which has silently truncated the
  * driver-visible BENCH_JSON since r8. The LAST lines printed are now a
  * SHORT summary JSON (total/staging/restarts/errors + a 6-query
  * flagship sample) that fits the window; the full per-query map goes
  * to the SPARK_GRAFT_BENCH_OUT file (default bench_out.json) and is
  * printed once, EARLIER, for human log readers.
  */
object Bench {

  private def newSession(cpus: String, sfDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // warm the session (codegen compiler, parquet footer cache, shuffle
    // machinery) so the first measured query isn't charged setup
    s.range(1000).selectExpr("sum(id)").collect()
    s.read.parquet(s"$sfDir/lineitem.parquet").limit(10).count()
    s
  }

  /** UNTIMED synthetic warmup battery run once per fresh JVM before the
    * timed loop. A fresh child JVM's first ~10-20 queries otherwise pay
    * JIT-cold Spark internals — the r14 chunked-vs-single A/B measured
    * chunk-start rows 2-11× their warm time (event_funnel 13.0 s vs
    * 1.2 s warm) while the fleet median matched at 1.01. The battery
    * exercises the machinery those rows were cold on — hash/sort
    * aggregates, broadcast + sort-merge joins, window functions,
    * generators, parquet write — with SYNTHETIC plans only: registry
    * queries must not run here, or their lazily-memoized staging would
    * move out of the timed region and break per-row ledger
    * comparability. ~10-15 s per JVM, not charged to any ledger field.
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
      val tmp = java.nio.file.Files.createTempDirectory("graft_warm_").toString
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

  /** Files whose queries share a memoized cross-file cache (a corpus
    * stage above, or a computeIfAbsent temp dir like Extras24's hetero
    * .sb staging and RefSurface's text index) — pinned into one chunk
    * so the cache is built once per full run, exactly as in the
    * single-JVM ledgers.
    */
  private[graft] val affinityGroups: Seq[Set[String]] = Seq(
    Set("Extras24", "Extras71", "Extras74"), // heteroSbDir + BPE merges
    Set("RefSurface", "Extras52", "Extras53", "Extras54", "Extras56",
      "Extras60"), // staged .sb dir + text index
    Set("DedupExtras", "Extras32", "Extras38", "Extras55", "Extras62",
      "Extras99", "Extras107", "Pipeline"), // shingle/ngram/CC stages
    Set("Extras101", "Extras104", "Extras109"), // LPA edge+label stage
    Set("Extras63", "Extras121", "Extras123", "Extras127",
      "Extras145"), // co-purchase pair/degree stage
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

  /** Time `names` (in order) on fresh sessions in THIS JVM — the inner
    * loop shared by child, targeted, and legacy single-JVM modes.
    */
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

  /** The full-run query order: per-file registration order, with
    * affinity-grouped files pulled together at the first member's
    * position. Returns (fileName, keys) units.
    */
  private[graft] def plannedUnits: Seq[(String, Seq[String])] = {
    val groupOf: Map[String, Int] = affinityGroups.zipWithIndex
      .flatMap { case (g, i) => g.map(_ -> i) }.toMap
    val files = SparkEntry.namedQueryMaps
    val consumed = scala.collection.mutable.Set.empty[String]
    files.flatMap { case (name, _) =>
      if (consumed(name)) Nil
      else groupOf.get(name) match {
        case Some(g) =>
          // ONE unit for the whole affinity group — planChunks never
          // splits inside a unit, so the shared cache stays co-chunked
          val members = files.filter { case (n, _) =>
            groupOf.get(n).contains(g)
          }
          members.foreach { case (n, _) => consumed += n }
          Seq((s"group$g",
            members.flatMap { case (_, m) => m.keys.toSeq.sorted }))
        case None =>
          consumed += name
          Seq((name, files.find(_._1 == name).get._2.keys.toSeq.sorted))
      }
    }
  }

  /** Split the planned units into chunks of >= jvmEvery queries. */
  private[graft] def planChunks(jvmEvery: Int): Seq[Seq[String]] = {
    val chunks = scala.collection.mutable.ListBuffer.empty[Seq[String]]
    var cur = scala.collection.mutable.ListBuffer.empty[String]
    plannedUnits.foreach { case (_, keys) =>
      cur ++= keys
      if (cur.size >= jvmEvery) { chunks += cur.toList; cur = scala.collection.mutable.ListBuffer.empty }
    }
    if (cur.nonEmpty) chunks += cur.toList
    chunks.toList
  }

  /** Spawn one fresh child JVM per chunk (same flags + classpath as
    * this one), collect its partial ledger from a temp file. Child
    * protocol: env SPARK_GRAFT_BENCH_CHILD=<names file>, partial
    * written to SPARK_GRAFT_BENCH_PARTIAL as plain lines
    * (`Q name sec` / `STAGING sec` / `RESTARTS n` / `ERROR name`).
    */
  private def runChunked(chunks: Seq[Seq[String]], sfDir: String): RunResult = {
    import scala.jdk.CollectionConverters._
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cp = System.getProperty("java.class.path")
    val allTimes = scala.collection.mutable.ListBuffer.empty[(String, Double)]
    val allErrors = scala.collection.mutable.ListBuffer.empty[String]
    var staging = 0.0
    var restarts = 0
    chunks.zipWithIndex.foreach { case (names, ci) =>
      val namesFile = java.nio.file.Files.createTempFile("graft_bench_chunk", ".txt")
      java.nio.file.Files.write(namesFile, names.mkString("\n").getBytes("UTF-8"))
      val partial = java.nio.file.Files.createTempFile("graft_bench_partial", ".txt")
      val cmd = (Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_BENCH_CHILD", namesFile.toString)
      pb.environment().put("SPARK_GRAFT_BENCH_PARTIAL", partial.toString)
      pb.inheritIO() // BENCH_JVM / BENCH_ERROR diag lines reach the round log
      System.err.println(s"BENCH_CHUNK[$ci]: ${names.size} queries, fresh JVM")
      val rc = pb.start().waitFor()
      if (rc != 0) {
        allErrors += s"_chunk${ci}_rc$rc"
        System.err.println(s"BENCH_ERROR: chunk $ci exited rc=$rc")
      }
      java.nio.file.Files.readAllLines(partial).asScala.foreach { line =>
        line.split(" ", 3) match {
          case Array("Q", name, sec) => allTimes += (name -> sec.toDouble)
          case Array("STAGING", sec) => staging += sec.toDouble
          case Array("RESTARTS", n) => restarts += n.toInt
          case Array("ERROR", name) => allErrors += name
          case _ => ()
        }
      }
      java.nio.file.Files.deleteIfExists(namesFile)
      java.nio.file.Files.deleteIfExists(partial)
    }
    RunResult(allTimes.toList, staging, restarts, allErrors.toList)
  }

  // 3-decimal seconds: ~ms resolution is all the comparison needs
  private def f(v: Double): String =
    "%.3f".formatLocal(java.util.Locale.ROOT, v)

  private def toJson(r: RunResult, sfDir: String, jvmRestarts: Int): String = {
    val qs = r.times.map { case (k, v) => "\"" + k + "\":" + f(v) }
      .mkString("{", ",", "}")
    val total = r.staging + r.times.map(_._2).sum
    val errs = r.errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":${f(total)},"unit":"sec","staging":${f(r.staging)},"restarts":${r.restarts},"jvm_restarts":$jvmRestarts,"queries":$qs,"errors":$errs,"sf":"$sfDir"}"""
  }

  /** Flagship sample for the short summary line — stable early-contract
    * rows, one per major family. */
  private val flagships = Seq("agg_hash_groupby", "join_inner_hash",
    "win_rank", "dedup_exact", "sim_topk_cosine", "text_bm25_rank")

  /** Rows whose per-query visibility matters for round-over-round
    * comparison beyond the slowest-N set: every row the current
    * optimization round touched. The r14 short line carried only the 6
    * flagships, so the driver's PERF compared 6 of 1093 queries — the
    * r15 fix (r14 verdict item #2) is flagships + these + the ~30
    * slowest measured rows, all inside the driver's 2000-char log-tail
    * capture window.
    */
  private val spotlight = Seq(
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
      jvmRestarts: Int, nQueries: Int, errors: Seq[String], queries: String,
      sfDir: String, outPath: String): String = {
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":${f(total)},"unit":"sec","staging":${f(staging)},"restarts":$restarts,"jvm_restarts":$jvmRestarts,"n_queries":$nQueries,"errors":$errs,"queries":$queries,"sf":"$sfDir","full":"$outPath"}"""
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
    val jvmEvery = scala.util.Try(
      sys.env.getOrElse("SPARK_GRAFT_JVM_EVERY", "0").trim.toInt).getOrElse(128)

    // ---- child mode: time the given chunk in this (fresh) JVM --------
    sys.env.get("SPARK_GRAFT_BENCH_CHILD").foreach { namesFile =>
      import scala.jdk.CollectionConverters._
      val names = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(namesFile)).asScala.toSeq.filter(_.nonEmpty)
      val r = runTimed(names, sfDir, cpus, restartEvery)
      val out = new StringBuilder
      r.times.foreach { case (n, s) => out ++= s"Q $n ${f(s)}\n" }
      out ++= s"STAGING ${f(r.staging)}\n"
      out ++= s"RESTARTS ${r.restarts}\n"
      r.errors.foreach(n => out ++= s"ERROR $n\n")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(sys.env("SPARK_GRAFT_BENCH_PARTIAL")),
        out.toString.getBytes("UTF-8"))
      return
    }

    // optional comma-list of query names for targeted timing runs
    val only: Option[Set[String]] =
      args.headOption.filter(_.nonEmpty).map(_.split(",").map(_.trim).toSet)

    val (result, jvmRestarts) = only match {
      case Some(sel) =>
        // targeted: one JVM, registry order, consumer staging included
        val names = plannedUnits.flatMap(_._2).filter(sel)
        (runTimed(names, sfDir, cpus, restartEvery), 0)
      case None if jvmEvery <= 0 =>
        // legacy single-JVM full run (the drift A/B baseline)
        (runTimed(plannedUnits.flatMap(_._2), sfDir, cpus, restartEvery), 0)
      case None =>
        val chunks = planChunks(jvmEvery)
        (runChunked(chunks, sfDir), chunks.size - 1)
    }

    val json = toJson(result, sfDir, jvmRestarts)
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
      result.restarts, jvmRestarts, result.times.size, result.errors, queries, sfDir, outPath)
    val summary = line(sampleJson(times, summarySample(times, line("{}").length)))
    println(s"BENCH_JSON: $summary")
    println(summary)
  }
}
