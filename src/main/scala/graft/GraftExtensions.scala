package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.expressions.{CharBigrams, CodepointSplit, DotProduct, JaroWinkler, TopKDoubles}

/** SparkSessionExtensions entry point: injects the engine's custom
  * expressions at session build, so a user can enable everything with
  *
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)         // or
  *     .config("spark.sql.extensions", "graft.GraftExtensions")
  *
  * Driver-owned sessions (Verify/Bench) don't pass extensions, so
  * `Tables.prepareSession`, which every key reaches through the table
  * loader, registers the same functions (plus `graft_cms_estimate`) once
  * per session — the runtime-registry route. Both paths resolve the
  * same `graft_dot`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_bigrams"),
      new ExpressionInfo(classOf[CharBigrams].getName, "graft_bigrams"),
      (children: Seq[Expression]) => CharBigrams(children(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_codepoints"),
      new ExpressionInfo(classOf[CodepointSplit].getName, "graft_codepoints"),
      (children: Seq[Expression]) => CodepointSplit(children(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "graft_jaro_winkler"),
      (children: Seq[Expression]) => JaroWinkler(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKDoubles].getName, "graft_topk"),
      (children: Seq[Expression]) => TopKDoubles(children(0),
        children(1).eval().asInstanceOf[Number].intValue)))
    ext.injectPlannerStrategy(_ => graft.plans.TopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.ArraySimplification)
  }
}
