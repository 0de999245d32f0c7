package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{CdcCuts, FloatVecDot, MinHash16, MinHashMd5x16, QuantSqDist, ShingleHash3,
  SimHash64, SimHashSig, TokenHash64, ZOrder2}
import graft.plans.{AsofJoinStrategy, GraftTextSearch, GraftTokenPrefix, TextIndex}

/** Library entry point for Spark's extension mechanism: registers every
  * graft native expression at session build time, so a user enables the
  * whole engine on a session builder with
  * {{{
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  * and then uses any `graft_*` function of [[GraftExtensions.functions]]
  * from SQL or `expr(...)` directly. The text-index rewrite rule still
  * activates per session via [[TextIndex.enable]] (it needs the index
  * path conf). Sessions built without extensions get the same table
  * through [[GraftExtensions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // whole-operator tier: the native ASOF join's planner strategy
    ext.injectPlannerStrategy(_ => AsofJoinStrategy)
  }
}

object GraftExtensions {
  private def fn(name: String, clazz: Class[_], builder: FunctionBuilder) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), builder)

  /** The kernel table: one entry per named `graft_*` function. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn(FloatVecDot.name, classOf[FloatVecDot], cs => FloatVecDot(cs(0), cs(1))),
    fn(QuantSqDist.name, classOf[QuantSqDist], cs => QuantSqDist(cs(0), cs(1))),
    fn(SimHash64.name, classOf[SimHash64], cs => SimHash64(cs.head)),
    fn(MinHash16.name, classOf[MinHash16], cs => MinHash16(cs.head)),
    fn(MinHashMd5x16.name, classOf[MinHashMd5x16], cs => MinHashMd5x16(cs.head)),
    fn(ShingleHash3.name, classOf[ShingleHash3], cs => ShingleHash3(cs.head)),
    fn(TokenHash64.name, classOf[TokenHash64], cs => TokenHash64(cs.head)),
    fn(SimHashSig.name, classOf[SimHashSig], cs => SimHashSig(cs.head)),
    fn(CdcCuts.name, classOf[CdcCuts], cs => CdcCuts(cs.head)),
    fn(ZOrder2.name, classOf[ZOrder2], cs => ZOrder2(cs(0), cs(1))),
    fn(TextIndex.name, classOf[GraftTextSearch], cs => GraftTextSearch(cs(0), cs(1))),
    fn(TextIndex.prefixName, classOf[GraftTokenPrefix], cs => GraftTokenPrefix(cs(0), cs(1))))

  // weak keys: a JVM that churns sessions never keeps a stopped one alive
  private val registered = new java.util.WeakHashMap[SparkSession, java.lang.Boolean]()

  /** Installs [[functions]] and the ASOF join strategy into a session
    * built without the extension, once per session.
    */
  def register(s: SparkSession): Unit = registered.synchronized {
    if (!registered.containsKey(s)) {
      functions.foreach { case (id, info, builder) =>
        s.sessionState.functionRegistry.registerFunction(id, info, builder)
      }
      s.experimental.extraStrategies = s.experimental.extraStrategies :+ AsofJoinStrategy
      registered.put(s, true)
    }
  }
}
