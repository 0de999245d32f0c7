package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, BinaryExpression, EqualTo, Expression, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.LeftSemi
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, JoinHint, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Inverted-index text search — the 100 TB path for the reference's A3
  * free-text operator (SURVEY §2-A A3, §4 "natural extension point").
  *
  * Pieces:
  *  1. [[GraftTextSearch]] — a native predicate expression with plain
  *     substring semantics (`lower(text) contains lower(term)`). Works
  *     standalone everywhere; the rewrite is purely an optimization.
  *  2. [[TextIndex.build]] — the (token, id) inverted index as a
  *     Parquet table (at scale: bucketed by token).
  *  3. [[TextIndexSearchRule]] — a `Rule[LogicalPlan]` that rewrites
  *     `Filter(graft_text_search(text, 'term'), corpus)` into LeftSemi
  *     joins against the index, so the text column itself is never
  *     scanned for the filter.
  *
  * Semantics preservation: the corpus tokenizer splits on ' ', so any
  * occurrence of a search term aligns its own spaces with the text's
  * token delimiters. Hence each space-separated PART of the term is a
  * substring of a single token of a matching document:
  *  - space-free term → `text contains term` ⇔ `some token contains
  *    term`; the semi-join is exact and the predicate is dropped;
  *  - multi-token phrase → every part token-contained is NECESSARY but
  *    not sufficient (it ignores adjacency); the rule intersects the
  *    per-part id sets via chained semi-joins and keeps the original
  *    predicate as an exact contains-verify over the candidates only.
  *    At 100 TB this turns a full text scan into |candidate| substring
  *    checks behind index lookups.
  *
  * Scoping: the rewrite fires only for the column the index was built
  * over (`textColConf`) — `graft_text_search(lang, 'en')` or a
  * same-named id column on another table stays a scan predicate.
  */
object TextIndex {

  val pathConf = "spark.graft.textIndex.path"
  val idColConf = "spark.graft.textIndex.idCol"
  val textColConf = "spark.graft.textIndex.textCol"

  /** Lowercase via UTF8String — the same mapping `lower()`, eval and
    * codegen use — never default-locale `String.toLowerCase` (which
    * e.g. under tr_TR maps 'I' to dotless ı and would desynchronize
    * the rewritten plan from the standalone predicate).
    */
  def lowerUtf8(s: String): String =
    UTF8String.fromString(s).toLowerCase.toString

  /** Build the inverted index: one (token, id) row per distinct token
    * per document. At 100 TB: `.bucketBy(N, "token")` into a table so
    * the semi-join is co-located; plain Parquet suffices here and
    * token-predicate pushdown still prunes row groups.
    */
  def build(docs: DataFrame, idCol: String, textCol: String, path: String): Unit =
    docs.select(col(idCol), explode(array_distinct(split(lower(col(textCol)), " ")))
        .as("token"))
      .write.mode("overwrite").parquet(path)

  /** Enable the rewrite on a session: registers the expression, points
    * the rule at an index (recording WHICH column it indexes), and
    * (idempotently) installs the rule via the public experimental-
    * optimizations hook. A library deployment would do the same through
    * `SparkSessionExtensions.injectFunction` / `injectOptimizerRule`.
    */
  def enable(spark: SparkSession, indexPath: String, idCol: String,
      textCol: String = "text"): Unit = {
    registerFunction(spark)
    spark.conf.set(pathConf, indexPath)
    spark.conf.set(idColConf, idCol)
    spark.conf.set(textColConf, textCol)
    val existing = spark.experimental.extraOptimizations
    if (!existing.exists(_.isInstanceOf[TextIndexSearchRule]))
      spark.experimental.extraOptimizations = existing :+ TextIndexSearchRule(spark)
  }

  val name = "graft_text_search"
  val prefixName = "graft_token_prefix"
  /** Delegate to [[graft.GraftExtensions.register]], which installs
    * both text functions with the rest of the kernel table. */
  def registerFunction(spark: SparkSession): Unit = graft.GraftExtensions.register(spark)
}

/** Case-insensitive substring predicate (see [[TextIndex]]). */
case class GraftTextSearch(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"arguments must be strings, got (${left.dataType}, ${right.dataType})")

  override protected def nullSafeEval(text: Any, term: Any): Any =
    text.asInstanceOf[UTF8String].toLowerCase
      .contains(term.asInstanceOf[UTF8String].toLowerCase)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $a.toLowerCase().contains($b.toLowerCase());")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftTextSearch =
    copy(left = newLeft, right = newRight)
}

/** Term-level PREFIX wildcard predicate — the reference DSL's
  * `field:abc*` (A5) with Lucene's semantics: wildcards match TERMS,
  * so a document matches when SOME space-token of `lower(text)` starts
  * with the (space-free, lowercase) prefix. Standalone it is a
  * row-local token walk; under [[TextIndexSearchRule]] it compiles to
  * a token-RANGE semi-join on the inverted index
  * (`token ∈ [prefix, prefix⁺)`) and the text column is never scanned.
  */
case class GraftTokenPrefix(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"arguments must be strings, got (${left.dataType}, ${right.dataType})")

  // a space-free prefix can never straddle a token boundary, so
  // startsWith at each token start IS token-level prefix match
  override protected def nullSafeEval(text: Any, prefix: Any): Any = {
    val t = text.asInstanceOf[UTF8String].toLowerCase.toString
    val p = prefix.asInstanceOf[UTF8String].toLowerCase.toString
    var i = 0
    var found = false
    while (!found && i <= t.length) {
      if (t.startsWith(p, i)) found = true
      else {
        val j = t.indexOf(' ', i)
        i = if (j < 0) t.length + 1 else j + 1
      }
    }
    found
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val t = ctx.freshName("t")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      s"""
         |String $t = $a.toLowerCase().toString();
         |String $p = $b.toLowerCase().toString();
         |int $i = 0;
         |while (!${ev.value} && $i <= $t.length()) {
         |  if ($t.startsWith($p, $i)) { ${ev.value} = true; }
         |  else {
         |    int $j = $t.indexOf(' ', $i);
         |    $i = ($j < 0) ? $t.length() + 1 : $j + 1;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): GraftTokenPrefix =
    copy(left = newLeft, right = newRight)
}

/** Rewrite `graft_text_search(textCol, 'term')` conjuncts into
  * LeftSemi joins against the inverted index. Fires only when the
  * session confs point at an index, the searched attribute IS the
  * indexed column, and the filter child exposes the id column. Phrases
  * keep an exact residual verify (see semantics note on [[TextIndex]]).
  */
case class TextIndexSearchRule(spark: SparkSession)
    extends Rule[LogicalPlan] with PredicateHelper {

  /** Marks Filters this rule already produced, so the fixed-point
    * optimizer batch doesn't re-expand a phrase's residual predicate
    * into ever more semi-joins on the next iteration.
    */
  private val rewrittenTag = TreeNodeTag[Boolean]("graft.textIndex.rewritten")

  private def indexPlanFor(term: String): Option[(LogicalPlan, Attribute)] = {
    val path = spark.conf.getOption(TextIndex.pathConf).getOrElse(return None)
    val idCol = spark.conf.get(TextIndex.idColConf, "doc_id")
    val df = spark.read.parquet(path)
      .filter(col("token").contains(TextIndex.lowerUtf8(term)))
      .select(col(idCol))
    val plan = df.queryExecution.analyzed
    Some((plan, plan.output.head))
  }

  /** Index id-set for a token PREFIX: a token RANGE [p, p⁺) — p⁺ is p
    * with its last char incremented, so binary string ordering makes
    * the interval exactly the p-prefixed tokens — which parquet prunes
    * by row-group min/max, plus the pushable StartsWith itself
    * (belt-and-braces; also covers the p⁺ overflow edge). Exact: the
    * index rows ARE the doc's distinct tokens, so "some token starts
    * with p" ⇔ "doc_id in this id-set" and no residual verify is
    * needed.
    */
  private def prefixIndexPlanFor(prefix: String): Option[(LogicalPlan, Attribute)] = {
    val path = spark.conf.getOption(TextIndex.pathConf).getOrElse(return None)
    val idCol = spark.conf.get(TextIndex.idColConf, "doc_id")
    // UTF8String lowercasing, NOT String.toLowerCase: the latter is
    // default-locale-sensitive (tr_TR dotless-i) while eval/codegen and
    // the index build all lower via UTF8String — mixing them could make
    // the rewritten plan return different rows than the predicate
    val p = TextIndex.lowerUtf8(prefix)
    val ranged =
      if (p.last < Char.MaxValue) {
        val upper = p.init + (p.last + 1).toChar
        col("token") >= p && col("token") < upper && col("token").startsWith(p)
      } else col("token").startsWith(p)
    val df = spark.read.parquet(path).filter(ranged).select(col(idCol))
    val plan = df.queryExecution.analyzed
    Some((plan, plan.output.head))
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (spark.conf.getOption(TextIndex.pathConf).isEmpty) return plan
    val idCol = spark.conf.get(TextIndex.idColConf, "doc_id")
    val textCol = spark.conf.get(TextIndex.textColConf, "text")
    // graft conjuncts already handled (this pass's residual phrase
    // verifies, plus any from previously tagged Filters): a Filter
    // containing one must stay opted-out of future passes, wherever
    // predicate pushdown moves it. Tracked at CONJUNCT granularity
    // because the re-optimization below splits and relocates filter
    // conditions.
    val optedOut = scala.collection.mutable.ArrayBuffer.empty[Expression]
    def graftConjuncts(cond: Expression): Seq[Expression] =
      splitConjunctivePredicates(cond).filter {
        case GraftTextSearch(a: Attribute, _) => a.name == textCol
        case GraftTokenPrefix(a: Attribute, _) => a.name == textCol
        case _ => false
      }
    plan.foreach {
      case f: Filter if f.getTagValue(rewrittenTag).isDefined =>
        optedOut ++= graftConjuncts(f.condition)
      case _ => ()
    }
    val rewritten = plan.transform {
      case f @ Filter(cond, child)
          if f.getTagValue(rewrittenTag).isEmpty &&
             child.output.exists(_.name == idCol) =>
        val childId = child.output.find(_.name == idCol).get
        val conjuncts = splitConjunctivePredicates(cond)
        val (rewritable, rest) = conjuncts.partition {
          case GraftTextSearch(a: Attribute, Literal(t, StringType))
            if t != null && t.toString.trim.nonEmpty && a.name == textCol => true
          case GraftTokenPrefix(a: Attribute, Literal(t, StringType))
            if t != null && t.toString.trim.nonEmpty && !t.toString.contains(' ') &&
               a.name == textCol => true
          case _ => false
        }
        if (rewritable.isEmpty) f
        else {
          var newChild: LogicalPlan = child
          val residual = scala.collection.mutable.ArrayBuffer.empty[Expression]
          rewritable.foreach {
            case g @ GraftTextSearch(_, Literal(term, _)) =>
              val parts = TextIndex.lowerUtf8(term.toString).split(' ').filter(_.nonEmpty)
              var joined = false
              parts.foreach { p =>
                indexPlanFor(p) match {
                  case Some((idx, idxId)) =>
                    newChild = Join(newChild, idx, LeftSemi,
                      Some(EqualTo(childId, idxId)), JoinHint.NONE)
                    joined = true
                  case None => ()
                }
              }
              // single space-free token: token-contains ⇔ text-contains,
              // predicate dropped. Phrase: candidates only — verify.
              if (!joined || parts.length > 1) residual += g
            case g @ GraftTokenPrefix(_, Literal(p, _)) =>
              prefixIndexPlanFor(p.toString) match {
                case Some((idx, idxId)) =>
                  // token-range id-set is EXACT for a prefix (see
                  // prefixIndexPlanFor) — predicate dropped
                  newChild = Join(newChild, idx, LeftSemi,
                    Some(EqualTo(childId, idxId)), JoinHint.NONE)
                case None => residual += g
              }
            case g => residual += g
          }
          optedOut ++= residual.flatMap(graftConjuncts)
          val out = (rest ++ residual).reduceOption(And)
            .map(Filter(_, newChild)).getOrElse(newChild)
          out.setTagValue(rewrittenTag, true)
          out
        }
    }
    // This rule runs AFTER the main optimizer's pushdown and pruning
    // batches, so the rewrite's restructuring needs BOTH re-run: the
    // `rest` conjuncts now sit ABOVE the new semi-join (re-push them so
    // e.g. an n_chars range still reaches the parquet scan), and a
    // predicate we dropped leaves its column (e.g. `text`) in the
    // scan's read schema unless pruning runs again. Re-optimization
    // REBUILDS nodes and drops TreeNodeTags, which would un-tag a
    // phrase's residual Filter and make the next fixed-point iteration
    // rewrite it AGAIN (observed: doubled semi-joins, 0.7 s → 17 s at
    // sf0.1) — so any Filter that still carries one of the graft
    // conjuncts this rule already handled is re-tagged, wherever
    // pushdown moved it. Only those: blanket-tagging every Filter would
    // permanently opt out predicates that a LATER extraOptimizations
    // rule might yet make rewritable.
    if (rewritten.fastEquals(plan)) plan
    else {
      import org.apache.spark.sql.catalyst.optimizer.{ColumnPruning, PushDownPredicates}
      val improved = ColumnPruning(PushDownPredicates(rewritten))
      improved.foreach {
        case f: Filter if splitConjunctivePredicates(f.condition)
              .exists(c => optedOut.exists(_.semanticEquals(c))) =>
          f.setTagValue(rewrittenTag, true)
        case _ => ()
      }
      improved
    }
  }
}
