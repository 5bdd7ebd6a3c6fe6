package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions hook: registers graft's native functions
  * (the [[graft.functions.Native]] catalog), plan rules and admin parser
  * permanently in a session built with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` — the
  * idiomatic deployment for a cluster. A session built without it gets
  * the same functions and rules from [[graft.plans.install]]; graft's
  * operators need neither, since they build their Columns from the
  * expression tree (`Native.call`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // graft's session plan rules — hidden time partitioning (day
    // predicates derived from event-time predicates) and sampling-free
    // small global sorts; graft.plans.install is the per-session form
    ext.injectOptimizerRule(_ => graft.plans.EventTimeDayPruning)
    ext.injectPlannerStrategy(_ => graft.plans.SmallSortPlanning)
    // tenant/user/role/grant DCL through plain spark.sql(...) — the
    // statements Spark has no grammar for; Spark-owned DDL (CREATE
    // DATABASE/TABLE, SHOW DATABASES, ...) falls through untouched
    ext.injectParser((_, parser) => new graft.admin.GraftAdminParser(parser))
    // graft's native functions, one entry per catalog name
    functions.Native.catalog.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), new ExpressionInfo("graft", name), builder))
    }
  }
}
