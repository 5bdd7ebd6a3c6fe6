package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The reference's session-info functions
  * (query_server/query/src/extension/expr/session_function/ —
  * current_user/current_tenant/current_database/current_role, each a
  * zero-arg UDF returning a constant captured from the session
  * context; expectations pinned in
  * query_server/sqllogicaltests/cases/function/session.slt: defaults
  * root / cnosdb / public / NULL, values following the session's
  * tenant/role after an admin reassigns them).
  *
  * Spark-first mapping: `current_user()` and `current_database()`
  * already exist as Spark built-ins (the catalog IS the database
  * concept here, and Spark's own session user is the user concept), so
  * graft does not shadow them. The two concepts Spark lacks — the
  * multi-tenant TENANT and the session ROLE — resolve from
  * session-local SQL confs (`spark.graft.tenant`, `spark.graft.role`)
  * at ANALYSIS time, so `SET spark.graft.tenant = t1` switches the
  * value for subsequent queries exactly as the reference's
  * `--#TENANT=t1` directive does, with the reference's defaults when
  * unset (tenant `cnosdb`, role NULL). The builder runs per query
  * resolution and emits a foldable literal — downstream the value
  * participates in constant folding like any literal.
  */
object SessionFunctions {
  val TenantKey = "spark.graft.tenant"
  val RoleKey = "spark.graft.role"

  private def confLiteral(key: String, default: String): Expression =
    Option(SQLConf.get.getConfString(key, default)) match {
      case Some(v) => Literal(UTF8String.fromString(v), StringType)
      case None    => Literal(null, StringType)
    }

  private def zeroArg(name: String, build: () => Expression)
                     (args: Seq[Expression]): Expression = {
    require(args.isEmpty, s"$name takes no arguments, got ${args.size}")
    build()
  }

  def currentTenant(args: Seq[Expression]): Expression =
    zeroArg("current_tenant", () => confLiteral(TenantKey, "cnosdb"))(args)

  def currentRole(args: Seq[Expression]): Expression =
    zeroArg("current_role", () => confLiteral(RoleKey, null))(args)
}
