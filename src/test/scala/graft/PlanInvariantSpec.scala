package graft

import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, DateDiff, DayOfMonth, DayOfWeek, DayOfYear, ExprId, Expression, Hour, Literal, Minute, Month, MonthsBetween, Pmod, Quarter, Remainder, Second, SparkPartitionID, Substring, TruncDate, TruncTimestamp, WeekDay, WeekOfYear, Year}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, First, Last, Max, Min}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.execution.{BaseSubqueryExec, CollectLimitExec, GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec}

/** The fleet-wide plan-invariant gate (r8 verdict task #1): the rules
  * that `QueriesSmokeSpec`, the one sweep of the whole registry, applies
  * to every registered query's PHYSICAL plan. They look for
  * the three patterns that sink a 100 TB run —
  *
  *  1. `CartesianProductExec` — a true cartesian product. Never
  *     allowed; the audited crossJoins in this repo are all broadcasts
  *     and plan as BroadcastNestedLoopJoin instead.
  *  2. `BroadcastNestedLoopJoinExec` — allowed when the BROADCAST side
  *     is provably bounded by its own subtree: an aggregate with empty
  *     grouping (exactly 1 row — the `crossJoin(broadcast(totals))`
  *     idiom used by the stat/agg batteries) or an explicit limit.
  *     Otherwise only the whitelist below, each entry carrying the
  *     bound that keeps the broadcast side driver-trivial (≤64-row
  *     centroid/dictionary frames selected by key predicates the plan
  *     can't prove). Anything else is an accidental corpus-scale
  *     nested loop.
  *  3. `WindowExec` / `WindowGroupLimitExec` with an EMPTY partition
  *     spec whose input subtree contains NO limit and NO aggregation
  *     with a PROVABLY BOUNDED key domain — i.e. a single-task global
  *     window over a frame that grows with the corpus. Until r11 ANY
  *     aggregate below legalized the window, which let an O(n)-key
  *     single-task window through (`stat_median_ci_exact`'s binomial
  *     cum over groupBy(j), j = 0..|orders| — the r11 verdict finding).
  *     Now the aggregate's grouping keys must be corpus-INDEPENDENT by
  *     construction: calendar expressions (a 100× corpus over the same
  *     date span adds rows, not days), spark_partition_id (GlobalRank's
  *     ≤N_partitions frames), fixed-enum data-model columns from the
  *     declared dictionary below (the catalog metadata a real
  *     deployment would carry), and arbitrary deterministic functions
  *     of those (bounded inputs ⇒ bounded output). Everything else —
  *     value ranks, per-entity keys, histogram counts — must either be
  *     rewritten onto GlobalRank or carry a cited whitelist entry.
  *
  * This converts the 173 benign-but-hand-audited `WindowExec: No
  * Partition Defined` warnings from "audited in rounds 3–8" into a
  * regression gate: the 508th row cannot silently introduce a global
  * sort-the-corpus window or an n² join. This suite pins the hardened
  * window rule as a unit contract.
  */
class PlanInvariantSpec extends SparkSpec {
  import PlanInvariantSpec.{aliasMap, allNodes, hasBoundingNodeBelow}

  /** The r11 verdict's gate gap, pinned as a unit contract: the old
    * "any aggregate below" rule legalized `stat_median_ci_exact`'s
    * binomial cum — a global window over a groupBy whose key count is
    * O(corpus). The hardened rule must FLAG that shape and still
    * ACCEPT the audited bounded shapes (modular buckets, clamps,
    * literal grids).
    */
  test("hardened global-window rule: flags O(n)-key frames, accepts provably bounded ones") {
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window.orderBy("k")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    def windowPasses(df: org.apache.spark.sql.DataFrame): Boolean = {
      val nodes = allNodes(df.queryExecution.executedPlan)
      val aliases = aliasMap(nodes)
      val wins = nodes.collect { case we: WindowExec if we.partitionSpec.isEmpty => we }
      assert(wins.nonEmpty, "test shape must plan an empty-partition WindowExec")
      wins.forall(we => hasBoundingNodeBelow(we.child, aliases))
    }
    val base = spark.range(1000).toDF("id")
    // pre-fix stat_median_ci_exact shape: corpus-scale grouping key
    val bad = base.groupBy(col("id").as("k")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(w))
    assert(!windowPasses(bad), "O(n)-key aggregate frame must be flagged")
    // 24-bucket modular histogram (the hour-bin analogue)
    val modular = base.groupBy(pmod(col("id"), lit(24L)).as("k")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(w))
    assert(windowPasses(modular), "bounded modular buckets must stay legal")
    // provable clamp (the text_vocab_growth_curve decile shape)
    val clamped = base.groupBy(least(greatest(col("id") - 500, lit(0L)), lit(9L)).as("k"))
      .agg(count(lit(1)).as("c")).withColumn("cum", sum(col("c")).over(w))
    assert(windowPasses(clamped), "literal clamp must stay legal")
    // literal-grid explode (the box-cox / bootstrap-replicate shape)
    val grid = base.select(col("id"), explode(expr("sequence(0L, 31L)")).as("b"))
      .groupBy(col("b").as("k")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(w))
    assert(windowPasses(grid), "literal-sequence explode must stay legal")
    // corpus explode must NOT be legalized by the generator mapping
    val corpusGrid = base.select(explode(expr("sequence(0L, id)")).as("k"))
      .groupBy("k").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(w))
    assert(!windowPasses(corpusGrid), "corpus-derived explode must be flagged")
  }
}

object PlanInvariantSpec {

  def hasBoundingNodeBelow(p: SparkPlan, aliases: Map[ExprId, Expression]): Boolean =
    p.exists {
      case a: BaseAggregateExec =>
        a.groupingExpressions.isEmpty ||
          a.groupingExpressions.forall(g =>
            isBoundedDomain(resolveAliases(g, aliases)))
      case _: GlobalLimitExec | _: LocalLimitExec => true
      case _: CollectLimitExec | _: TakeOrderedAndProjectExec => true
      case _ => false
    }

  /** exprId -> defining expression, collected from every Project,
    * aggregate result list, and window expression list in the plan —
    * lets the bounded-domain check see through `hour(ts) AS h`-style
    * aliasing between the grouping and the source expression.
    */
  def aliasMap(nodes: Seq[SparkPlan]): Map[ExprId, Expression] =
    nodes.flatMap {
      case p: org.apache.spark.sql.execution.ProjectExec =>
        p.projectList.collect { case a: Alias => a.exprId -> a.child }
      case a: BaseAggregateExec =>
        a.resultExpressions.collect { case al: Alias => al.exprId -> al.child } ++
          // result attributes of the aggregate functions themselves, so
          // `min(date_trunc(...))` resolves to Min(TruncTimestamp(...))
          // instead of dead-ending at an opaque attribute
          a.aggregateExpressions.map(ae => ae.resultAttribute.exprId -> (ae: Expression))
      case w: WindowExec =>
        w.windowExpression.collect { case al: Alias => al.exprId -> al.child }
      case g: org.apache.spark.sql.execution.GenerateExec =>
        // map explode/sequence outputs to the generator itself, so
        // exploding a literal grid (array(-1.0, ..., 1.0), sequence(0,
        // 31)) proves bounded through the closure rule, while exploding
        // corpus data stays unproven
        g.generatorOutput.map(a => a.exprId -> (g.generator: Expression))
      case _ => Seq.empty[(ExprId, Expression)]
    }.toMap

  /** Every physical node in the plan, descending through AQE wrappers
    * and planned subquery expressions (both of which plain
    * TreeNode.collect skips).
    */
  def allNodes(root: SparkPlan): Seq[SparkPlan] = {
    val direct = root.collect { case p => p }
    direct ++ direct.flatMap { node =>
      val aqe = node match {
        case a: AdaptiveSparkPlanExec => allNodes(a.inputPlan)
        case _ => Seq.empty
      }
      val subq = node.expressions.flatMap(_.collect {
        case pe: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] =>
          pe.plan match {
            case sp: BaseSubqueryExec => allNodes(sp.child)
            case sp: SparkPlan => allNodes(sp)
            case _ => Seq.empty // unplanned logical subquery: nothing physical to check yet
          }
      }).flatten
      aqe ++ subq
    }
  }

  /** The child of an empty-partition `WindowExec` or
    * `WindowGroupLimitExec`: a single-task window over that child. */
  object GlobalWindow {
    def unapply(p: SparkPlan): Option[SparkPlan] = p match {
      case w: WindowExec if w.partitionSpec.isEmpty => Some(w.child)
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => Some(w.child)
      case _ => None
    }
  }

  /** Data-model columns whose value domain is a FIXED enum/dictionary,
    * independent of corpus size — the catalog metadata a production
    * deployment declares on its dimensions. Grouping on one of these
    * (or any deterministic function of them) yields a frame that does
    * NOT grow at 100×. Bounds are the testdata generator's (TPC-H
    * spec domains for the TPC-H-ish tables; the documents/events
    * generators' enums).
    */
  val boundedDomainColumns: Map[String, String] = Map(
    "l_returnflag" -> "3-value flag {A,N,R}",
    "l_linestatus" -> "2-value flag {O,F}",
    "l_shipmode" -> "7 ship modes",
    "l_shipinstruct" -> "4 instructions",
    "l_quantity" -> "integer 1..50 (TPC-H spec 4.2.3)",
    "l_discount" -> "11 cent values 0.00..0.10",
    "l_tax" -> "9 cent values 0.00..0.08",
    "l_linenumber" -> "integer 1..7",
    "o_orderstatus" -> "3-value flag {F,O,P}",
    "o_orderpriority" -> "5 priorities",
    "o_shippriority" -> "single value 0",
    "p_brand" -> "25 brands (Brand#11..#55)",
    "p_size" -> "integer 1..50",
    "p_container" -> "40 containers",
    "p_mfgr" -> "5 manufacturers",
    "c_mktsegment" -> "5 segments",
    "c_nationkey" -> "25 nations",
    "s_nationkey" -> "25 nations",
    "n_nationkey" -> "25 nations",
    "n_regionkey" -> "5 regions",
    "r_regionkey" -> "5 regions",
    "n_name" -> "25 nations",
    "r_name" -> "5 regions",
    "event_type" -> "events generator enum (view/click/cart/purchase)",
    "lang" -> "documents generator language enum",
    "source" -> "documents generator source enum",
    "n_chars" -> "document length in chars, generator-capped (44..~600; 523 distinct at sf0.1, saturating)",
    // date-valued columns stored as TIMESTAMP_NTZ in the testdata
    // parquet (day-granular by the data model): domain = the fixed
    // ~2400-day TPC-H date span, corpus-independent
    "o_orderdate" -> "day-granular date column, fixed ~2400-day span",
    "l_shipdate" -> "day-granular date column, fixed span",
    "l_commitdate" -> "day-granular date column, fixed span",
    "l_receiptdate" -> "day-granular date column, fixed span",
    // engine-internal reserved names: produced ONLY by GlobalRank as
    // spark_partition_id() (GlobalRank.scala:119,147) — the defining
    // projection is invisible downstream because the ranged frame is
    // localCheckpoint-pinned (the plan is severed at the checkpoint),
    // so the bounded proof is carried by the reserved name instead.
    // Domain ≤ the repartitionByRange partition count.
    "_gsum_pid" -> "spark_partition_id() <= N_partitions (GlobalRank prefix-sum pass)",
    "_gmulti_pid" -> "spark_partition_id() <= N_partitions (GlobalRank combined rank+prefix pass)",
    "_grank_pid" -> "spark_partition_id() <= N_partitions (GlobalRank rank pass)",
    "_gmax_pid" -> "spark_partition_id() <= N_partitions (GlobalRank prefix-max pass)")

  /** Substitute attribute references by their defining expressions
    * (project/aggregate/window aliases), fixpoint-bounded.
    */
  def resolveAliases(e: Expression, m: Map[ExprId, Expression], depth: Int = 0): Expression =
    if (depth > 30 || m.isEmpty) e
    else e.transformUp {
      case ar: AttributeReference if m.contains(ar.exprId) =>
        resolveAliases(m(ar.exprId), m, depth + 1)
    }

  private val integralTypes: Set[org.apache.spark.sql.types.DataType] = Set(
    org.apache.spark.sql.types.ByteType, org.apache.spark.sql.types.ShortType,
    org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.LongType)

  /** Conservative static proof that an expression's VALUE DOMAIN is
    * corpus-independent: true only when every path to a leaf ends in a
    * literal, a calendar expression (fixed date span ⇒ fixed key
    * count at any corpus size), spark_partition_id (≤ #partitions), a
    * declared fixed-enum column, or a short hex-bucket substring — and
    * every combining node is a deterministic function (bounded inputs
    * ⇒ bounded output; min/max/first/last of a bounded input stay
    * bounded, sum/count do not). Anything unproven returns false and
    * must be whitelisted with a citation or rewritten onto GlobalRank.
    */
  def isBoundedDomain(e: Expression): Boolean = e match {
    case _: Literal => true
    case _: SparkPartitionID => true
    case a: AttributeReference if boundedDomainColumns.contains(a.name) => true
    case a: AttributeReference =>
      a.dataType == org.apache.spark.sql.types.BooleanType ||
        a.dataType == org.apache.spark.sql.types.DateType
    case _: Hour | _: Minute | _: Second | _: DayOfWeek | _: WeekDay |
        _: DayOfMonth | _: DayOfYear | _: Month | _: Quarter |
        _: WeekOfYear | _: Year => true
    case _: TruncDate | _: TruncTimestamp => true // calendar-truncated, any unit
    case _: DateDiff | _: MonthsBetween => true // span of the fixed date range
    case Pmod(_, _: Literal, _) => true
    case Remainder(_, _: Literal, _) => true
    // integral clamp: least(greatest(x, lo), hi) / greatest(least(x,
    // hi), lo) pins the result into a finite literal interval
    case l: org.apache.spark.sql.catalyst.expressions.Least
        if integralTypes.contains(l.dataType) &&
          l.children.exists(_.isInstanceOf[Literal]) &&
          l.children.exists {
            case g: org.apache.spark.sql.catalyst.expressions.Greatest =>
              g.children.exists(_.isInstanceOf[Literal])
            case _ => false
          } => true
    case g: org.apache.spark.sql.catalyst.expressions.Greatest
        if integralTypes.contains(g.dataType) &&
          g.children.exists(_.isInstanceOf[Literal]) &&
          g.children.exists {
            case l: org.apache.spark.sql.catalyst.expressions.Least =>
              l.children.exists(_.isInstanceOf[Literal])
            case _ => false
          } => true
    // ≤2-char substring: ≤65536 distinct values over any charset (the
    // md5-hex bucket idiom conv(substring(md5(x),1,2),16,10))
    case Substring(_, _: Literal, Literal(len: Int, _)) if len <= 2 => true
    case ae: AggregateExpression => ae.aggregateFunction match {
      case f @ (_: Min | _: Max | _: First | _: Last) => f.children.forall(isBoundedDomain)
      case _ => false // sum/count/avg domains grow with the corpus
    }
    // some expressions (e.g. unevaluable placeholders inside planned
    // subqueries) THROW on .dataType — treat those as unbounded rather
    // than crashing the sweep (conservative: never legalizes a window)
    case e if scala.util.Try(e.dataType).toOption
      .contains(org.apache.spark.sql.types.DateType) => true
    // any boolean-valued expression: domain {true, false, null}
    case e if scala.util.Try(e.dataType).toOption
      .contains(org.apache.spark.sql.types.BooleanType) => true
    case e if e.children.nonEmpty => e.children.forall(isBoundedDomain)
    case _ => false
  }
  // filled from the audited findings of the first gate run (r9); every
  // entry cites the bound that makes the pattern safe at any corpus
  // scale. The scalar-broadcast rule auto-clears the other ~42 rows
  // (crossJoin of a 1-row empty-grouping aggregate).
  val bnljWhitelist: Map[String, String] = Map(
    "dedup_embed_cosine" -> "broadcast side = <=64-row centroid dictionary (vec_id < 64, DedupExtras.scala)",
    "embed_kmeans_fixed" -> "broadcast side = KmK=8-row centroid-array table (vec_id < 8, Extras36.kmeansFit r15 qsqdist rewrite)",
    "embed_cluster_purity" -> "broadcast side = KmK=8-row centroid-array table (vec_id < 8, Extras36.kmeansFit r15 qsqdist rewrite)",
    "embed_pq_quantize" -> "broadcast side = 16-row PQ codebook (vec_id < 16, Extras27.scala:158)",
    "join_cross_product" -> "the graded cross-join row itself: 5x25 static dim x dim grid (Extras29.scala:20)",
    "join_range_theta" -> "B10 theta join: 4-row inline band table broadcast (Relational.scala:368)",
    "sim_index_probe" -> "broadcast side = <=NCells centroid dictionary (vec_id < NCells, Extras24.scala:48,99)",
    "sim_knn_join" -> "broadcast probe set is a declared corpus fraction (eval row; BASELINE sf1 exponent +0.81, linear by design)",
    "sim_topk_cosine" -> "broadcast side = 10 probe vectors (vec_id < 10, LlmOps.scala)",
    "sim_topk_ivf" -> "broadcast side = 16-row coarse quantizer (vec_id < 16, DedupExtras.scala)",
    "dedup_band_width_sweep" -> "both sides = the FIXED 500-doc probe sample (doc_id < 500, Extras118.scala) - O(1) in the corpus",
    "dedup_simhash_hamming_profile" -> "both sides = the FIXED 500-doc probe sample (doc_id < 500, Extras117.scala) - O(1) in the corpus",
    "embed_cosine_histogram" -> "both sides = the FIXED 500-vector probe sample (vec_id < 500, Extras123.scala) - O(1) in the corpus",
    "embed_triplet_mining" -> "broadcast side = 100 anchor vectors (vec_id < 100, Extras124.scala)",
    "embed_knn_graph_degree" -> "both sides = the FIXED 500-vector probe sample (vec_id < 500, Extras126.scala) - O(1) in the corpus",
    "embed_energy_distance" -> "both sides = the FIXED 500-vector probe sample (vec_id < 500, Extras133.scala) - O(1) in the corpus",
    "multimodal_ahash_near_dup" -> "both sides = the FIXED 500-doc probe sample (doc_id < 500, Extras139.scala) - O(1) in the corpus",
    "sim_topk_margin" -> "broadcast side = 10 probe vectors (vec_id < 10, Extras118.scala)",
    "sort_cluster_minmax" -> "per-parquet-file min/max frame, rows = file count of the layout exhibit (Extras33.scala:70)",
    "stat_qq_deciles" -> "1x1 join of the two per-half decile-array rows (2-group agg then half filter, Extras76.scala:99-101)",
    "stat_welch_ttest" -> "1x1 join of the en/de per-lang moment rows (lang-grouped agg then filter, Extras55.scala:85-89)",
    "stat_cohens_d" -> "1x1 join of the click/purchase moment rows (type-grouped agg then filter, Extras126.scala)",
    "stat_tost_equivalence" -> "1x1 join of the en/de per-lang moment rows (lang-grouped agg then filter, Extras144.scala)",
    "embed_intrinsic_dim" -> "both sides = the FIXED 500-vector probe sample (vec_id < 500, Extras147.scala) - O(1) in the corpus",
    "stat_tukey_hsd_matrix" -> "5x5 self-join of the 5-row priority-group aggregate (grp < grp pairs, Extras155.scala) - O(1) in the corpus",
    "embed_hopkins_statistic" -> "broadcast side = the 64-row per-dim [min,max] box frame crossed with the 50 fixed probes (Extras154.scala) - O(1) in the corpus",
    "embed_lof_probes" -> "both sides = the FIXED 500-vector probe sample (vec_id < 500, Extras170.scala) - O(1) in the corpus (r11 HOF-distance rewrite)",
    "stat_dunn_posthoc" -> "5x5 self-join of the 5-row priority-group rank aggregate (g < g2 pairs, Extras208.scala) - O(1) in the corpus (same shape as stat_tukey_hsd_matrix)",
    "stat_games_howell" -> "5x5 self-join of the 5-row priority-group Welch-moment aggregate (grp < grp2 pairs, Extras224.scala) - O(1) in the corpus (same shape as stat_tukey_hsd_matrix)",
    "stat_dunnett_control" -> "4x1 join of the treatment rows with the filtered 1-row urgent-control moment row (priority-grouped agg then filter, Extras223.scala) - same shape as stat_welch_ttest",
    "time_matrix_profile" -> "self-join of the <=(months-5)-row subsequence frame of the calendar-bounded monthly aggregate (<=79x79 at ANY sf, Extras226.scala) - O(1) in the corpus",
    "stat_cohen_h" -> "1x1 join of the discounted/undiscounted proportion rows (2-group agg then filter, Extras227.scala) - same shape as stat_welch_ttest",
    "stat_iv_wald" -> "1x1 join of the urgent/other instrument-arm rows (2-group agg then filter, Extras232.scala) - same shape as stat_welch_ttest",
    "stat_e_value" -> "1x1 join of the discounted/full-price 2x2 rows (2-group agg then filter, Extras233.scala) - same shape as stat_welch_ttest",
    "analytics_event_study" -> "broadcast side = the filtered k=-1 baseline row of the <=13-row relative-month agg (months_between bounded, Extras233.scala)",
    "embed_residual_quantize" -> "broadcast sides = 16-row coarse codebook (vec_id < 16) and 17-row residual codebook (16 <= vec_id < 32 plus the zero codeword), Extras210.scala",
    "stat_lad_regression" -> "both sides = the calendar-bounded 80-row month frame (candidate-pair enumeration <=C(80,2) x 80, Extras237.scala) - O(1) in the corpus",
    "stat_mantel_test" -> "both sides = the FIXED 60-vector probe sample (vec_id < 60, Extras239.scala) - O(1) in the corpus",
    "stat_nemenyi_test" -> "month x priority grid (calendar-bounded 80 x 5) and the 5x5 treatment-pair self-join of a 5-row rank aggregate (Extras236.scala) - O(1) in the corpus",
    "time_acf_bartlett" -> "lag-band self-join (ta - tb BETWEEN 1 AND 12) of the calendar-bounded 80-row centered month frame (Extras242.scala) - O(1) in the corpus",
    "embed_mmd_rbf" -> "broadcast side = the FIXED <=400-probe panel per cohort (vec_id < 400, Extras250.scala) - O(1) in the corpus",
    "stat_quantile_regression" -> "both sides = the calendar-bounded 80-row month frame (candidate-pair enumeration <=C(80,2) x 80, Extras252.scala) - same shape as stat_lad_regression",
    "stat_marascuilo" -> "5x5 self-join of the 5-row priority-proportion aggregate (grp < grp2 pairs, Extras253.scala) - same shape as stat_tukey_hsd_matrix",
    "stat_pesaran_cd" -> "broadcast side = the 25-row nation dictionary crossed with the calendar-bounded month frame (Extras253.scala) - O(1) in the corpus",
  )

  // r12 hardening residue: rows whose window frame is bounded by
  // CONSTRUCTION but not statically provable from the plan — each
  // entry cites the bound. Everything else that failed the hardened
  // rule was REWRITTEN (GlobalRank two-pass prefix sum/max/rank,
  // top-k pre-prune, provable clamp) rather than listed.
  val globalWindowWhitelist: Map[String, String] = Map(
    "embed_spectral_decay" -> "frame = per-dim variances from posexplode(embedding): 64 rows (embedding dim is schema metadata, Extras182.scala:29)",
    "graph_degree_gini" -> "frame = degree histogram of the synthetic 3-arc graph: degree <= ~6 by construction (each node emits exactly 3 arcs, Extras196.scala:278-283)",
    "win_volume_profile" -> "frame = $100 price buckets of the FIXED TPC-H extendedprice domain (~1050 buckets at any sf, Extras170.scala:168-171)",
    "stat_ridit_analysis" ->"frame = the r14-pinned 5x5 (mktsegment, priority-digit) cell counts rolled up to the 5-row priority margin (both domains TPC-H enums, Extras240.scala) - the pin severs the substring(o_orderpriority) proof")
}
