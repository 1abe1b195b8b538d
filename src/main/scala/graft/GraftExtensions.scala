package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._
import graft.plans.DedupWindowToAggregate

/** Build-time session extension wiring — the idiomatic deployment of
  * this library's Catalyst components:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * Injects every native expression under its SQL name
  * ([[graft.functions.GraftFunctions.natives]]: cosine_milli,
  * minhash_sig, min_by_obj, bloom_agg, ...) and the
  * DedupWindowToAggregate optimizer rule into each new session. Only
  * `spark.sql` text needs the names: DataFrame code builds the same
  * expressions through the GraftFunctions Column builders, which
  * resolve in any session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.natives.foreach { case (name, cls, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
    ext.injectOptimizerRule(_ => DedupWindowToAggregate)
    // whole-operator plans: BroadcastAsOfJoin -> BroadcastAsOfJoinExec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
  }
}
