package graft.admin

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Per-connection context: which tenant/user/database statements run
  * as — the reference's `--#TENANT= / --#USER_NAME= / --#DATABASE=`
  * session switches in the sqllogic harness.
  */
final class AdminSession(
    var tenant: String = MetaCatalog.SystemTenant,
    var user: String = MetaCatalog.RootUser,
    var database: String = "public")

/** The mutating admin DDL/DCL surface of the reference, executed
  * against a [[MetaCatalog]]: tenants, users, roles, grants,
  * databases (TTL/SHARD/VNODE_DURATION/REPLICA/PRECISION), TSKV
  * tables, deferred DROP ... AFTER / RECOVER, sys tables
  * (information_schema.* / cluster_schema.*), @@variables, and the
  * access-control checks that gate each of them.
  *
  * Architecture note (100 TB posture): every statement here touches
  * METADATA only — a driver-side catalog measured in KB. The two
  * places admin semantics meet data are delegated to the distributed
  * machinery: INSERT/SELECT go through ordinary Spark parquet
  * scans/writes under `dataRoot`, and database-TTL enforcement maps
  * to [[graft.operators.Dml.expireDays]]'s O(expired-days) directory
  * lifecycle on the day lake. The reference draws the same line
  * between its raft meta service and tskv data nodes.
  *
  * Statement grammar and error wording mirror
  * query_server/sqllogicaltests/cases/{dcl,ddl,sys_table,variable}/.
  */
final class AdminEngine(
    spark0: SparkSession,
    val catalog: MetaCatalog,
    dataRoot: String,
    nowNs: () => Long) {

  // held WEAKLY so a cache keyed by the session (AdminDcl's
  // WeakHashMap) can actually collect the pair once the session is
  // unreachable — a strong field here would pin the weak key forever
  private val sparkRef = new java.lang.ref.WeakReference(spark0)
  private def spark: SparkSession = {
    val s = sparkRef.get()
    require(s != null, "the AdminEngine's SparkSession has been collected")
    s
  }

  val session = new AdminSession()

  /** In-flight statement registry backing information_schema.queries
    * (the reference's query tracker: a running SELECT sees itself in
    * the listing — sys_table/information_schema/queries.slt). Keyed
    * by a monotonically assigned id; entries live for the duration of
    * execute().
    */
  private val running = scala.collection.mutable.LinkedHashMap.empty[Long, (String, String, String, String)]
  private var nextQueryId = 0L

  /** Wire listener whose counters back usage_schema.http_* — attach
    * the serving [[graft.sources.WireHttp]] so its per-route metrics
    * surface as sys tables. */
  @volatile var wire: graft.sources.WireHttp = _
  def attachWire(w: graft.sources.WireHttp): Unit = wire = w

  import MetaCatalog._

  // ------------------------------------------------------------------
  // privilege model
  // ------------------------------------------------------------------

  private def isAdmin(user: String): Boolean =
    catalog.users.get(user).exists(_.admin)

  /** The session user's role inside a tenant, resolved through custom
    * roles to the system role it inherits. None = not a member. */
  private def roleOf(tenant: TenantDef, user: String): Option[(String, String)] =
    tenant.members.get(user).map { r =>
      if (SystemRoles.contains(r)) (r, r)
      else (r, tenant.roles.get(r).map(_.inherit).getOrElse("member"))
    }

  private def requireMember(tenantName: String): TenantDef = {
    val t = catalog.tenant(tenantName)
    if (!isAdmin(session.user) && roleOf(t, session.user).isEmpty)
      AdminError.auth(s"The member ${session.user} of tenant $tenantName not found")
    t
  }

  /** CREATE/DROP ROLE, GRANT/REVOKE, tenant membership changes need
    * the maintainer capability (owner-inherit role or admin). */
  private def requireMaintainer(tenantName: String): TenantDef = {
    val t = catalog.tenant(tenantName)
    val ok = isAdmin(session.user) || roleOf(t, session.user).exists(_._2 == "owner")
    if (!ok) AdminError.privilege(s"maintainer for all roles of tenant $tenantName")
    t
  }

  private def requireWriteAllDbs(tenantName: String): TenantDef = {
    val t = catalog.tenant(tenantName)
    val ok = isAdmin(session.user) || roleOf(t, session.user).exists(_._2 == "owner")
    if (!ok) AdminError.privilege(s"Write on all databases of tenant $tenantName")
    t
  }

  private def grantLevelAllows(granted: String, needed: String): Boolean =
    (granted, needed) match {
      case ("All", _)           => true
      case ("Write", _)         => true // Write ⊇ Read in the reference's enum ordering
      case ("Read", "Read")     => true
      case _                    => false
    }

  private def canOnDb(tenantName: String, db: String, needed: String): Boolean = {
    if (isAdmin(session.user)) true
    else {
      val t = catalog.tenant(tenantName)
      roleOf(t, session.user) match {
        case Some((_, "owner"))  => true
        case Some((roleName, _)) =>
          t.grants.exists(g => g.database == db && g.role == roleName &&
            grantLevelAllows(g.level, needed))
        case None => false
      }
    }
  }

  private def requireOnDb(tenantName: String, db: String, needed: String): Unit =
    if (!canOnDb(tenantName, db, needed))
      AdminError.privilege(s"$needed on database $db of tenant $tenantName")

  /** Databases the session user may Read in a tenant; privilege error
    * if the user is a member with zero readable databases
    * (dcl_role.slt: `show databases` under a grant-less member). */
  private def readableDbs(tenantName: String): Vector[String] = {
    val t = requireMember(tenantName)
    val visible = t.databases.collect { case (n, d) if !d.hidden => n }.toVector.sorted
    if (isAdmin(session.user) || roleOf(t, session.user).exists(_._2 == "owner")) visible
    else {
      val readable = visible.filter(db => canOnDb(tenantName, db, "Read"))
      if (readable.isEmpty)
        AdminError.privilege(s"Read on all databases of tenant $tenantName")
      readable
    }
  }

  // ------------------------------------------------------------------
  // execute
  // ------------------------------------------------------------------

  /** Execute one statement; Some(df) for statements that return rows.
    * Synchronized on the engine: the session context, statement
    * registry, and catalog are shared mutable state, and the spark.sql
    * front / HTTP route may be driven from multiple threads. */
  def execute(sql: String): Option[DataFrame] = synchronized {
    val stripped = sql.trim.stripSuffix(";").trim
    // the sqllogic harness's session switches
    val sw = "(?i)^--#\\s*(TENANT|USER_NAME|DATABASE)\\s*=\\s*(\\S+)$".r
    stripped match {
      case sw(k, v) =>
        k.toUpperCase match {
          case "TENANT"    => session.tenant = v
          case "USER_NAME" => session.user = v
          case "DATABASE"  => session.database = v
        }
        return None
      case _ =>
    }
    val p = new AdminParser(stripped)
    val qid = { nextQueryId += 1; nextQueryId }
    running(qid) = ("batch", sql.trim, session.user, session.database)
    try {
      val res = p.peekUpper match {
        case "CREATE"   => p.next(); create(p); None
        case "ALTER"    => p.next(); alter(p); None
        case "DROP"     => p.next(); drop(p); None
        case "RECOVER"  => p.next(); recover(p); None
        case "GRANT"    => p.next(); grantStmt(p); None
        case "REVOKE"   => p.next(); revokeStmt(p); None
        case "DESCRIBE" => p.next(); Some(describe(p))
        case "SHOW"     => p.next(); Some(show(p))
        case "INSERT"   => p.next(); Some(insert(p, stripped))
        case "SELECT"   => Some(select(stripped))
        case "COPY"     => p.next(); Some(copyInto(p, stripped, explainOnly = false))
        case "EXPLAIN"  => p.next(); Some(explain(p, stripped))
        case "DELETE"   => p.next(); deleteStmt(p); None
        case "UPDATE"   => p.next(); Some(updateStmt(p))
        case "COMPACT"  => p.next(); compactStmt(p); None
        case other      => AdminError.parser(s"Expected statement, found: $other")
      }
      // trailing tokens after a fully parsed statement are an error,
      // not silently dropped configuration (SELECT consumes nothing
      // from the cursor — it goes through Catalyst whole)
      if (p.peekUpperOpt.isDefined && !stripped.toUpperCase.startsWith("SELECT"))
        AdminError.parser(s"Expected end of statement, found: ${p.peekUpper}")
      res
    } finally running.remove(qid)
  }

  // ---- CREATE --------------------------------------------------------

  private def create(p: AdminParser): Unit = p.nextUpper match {
    case "TENANT" =>
      if (!isAdmin(session.user))
        AdminError.privilege("admin to create tenants")
      val ine = p.tryIfNotExists()
      val name = p.name()
      val opts = if (p.tryKw("WITH")) p.optionAssignments() else Map.empty[String, String]
      catalog.createTenant(name, ine, opts)
    case "USER" =>
      if (!isAdmin(session.user)) AdminError.privilege("admin to create users")
      val ine = p.tryIfNotExists()
      val name = p.name()
      val opts = if (p.tryKw("WITH")) p.optionAssignments() else Map.empty[String, String]
      catalog.createUser(name, ine, opts)
    case "ROLE" =>
      val ine = p.tryIfNotExists()
      val name = p.name()
      p.expectKw("INHERIT")
      val base = p.name()
      requireMaintainer(session.tenant)
      catalog.createRole(session.tenant, name, base, ine)
    case "DATABASE" =>
      val ine = p.tryIfNotExists()
      val name = p.name()
      requireWriteAllDbs(session.tenant)
      var d = DatabaseDef(name)
      if (p.tryKw("WITH")) {
        var advancing = true
        while (advancing) p.peekUpperOpt match {
          case Some("TTL")            => p.next(); d = d.copy(ttlNs = Some(parseDuration(p.stringLit())))
          case Some("SHARD")          => p.next(); d = d.copy(shard = p.intLit())
          case Some("VNODE_DURATION") => p.next(); d = d.copy(vnodeDurationNs = parseDuration(p.stringLit()))
          case Some("REPLICA")        => p.next(); d = d.copy(replica = p.intLit())
          case Some("PRECISION")      => p.next(); d = d.copy(precision = p.stringLit().toUpperCase)
          case _                      => advancing = false
        }
      }
      if (!Set("NS", "US", "MS").contains(d.precision))
        AdminError.parser(s"invalid precision: '${d.precision}'")
      // validate BEFORE the catalog mutation: a trailing typo'd option
      // ("SHRD 5") must reject the statement, not create a half-
      // configured database
      p.peekUpperOpt.foreach(t => AdminError.parser(s"Expected end of statement, found: $t"))
      catalog.createDatabase(session.tenant, name, ine, d)
    case "STREAM" =>
      p.expectKw("TABLE")
      createStreamTable(p)
    case "TABLE" =>
      val ine = p.tryIfNotExists()
      val (db, name) = p.qualifiedName(session.database)
      requireOnDb(session.tenant, db, "Write")
      catalog.database(session.tenant, db) // Meta: Database not found before parse of cols
      p.expectSym("(")
      var tags = Vector.empty[String]
      var fields = Vector.empty[(String, String, String)] // name, type, codec
      var more = true
      while (more) {
        if (p.peekUpper == "TAGS") {
          p.next(); p.expectSym("(")
          tags = tags ++ p.nameList()
          p.expectSym(")")
        } else {
          val cn = p.name()
          val dt = p.dataType()
          val codec = if (p.tryKw("CODEC")) { p.expectSym("("); val c = p.name().toUpperCase; p.expectSym(")"); c }
                      else "DEFAULT"
          fields = fields :+ ((cn, dt, codec))
        }
        more = p.trySym(",")
      }
      p.expectSym(")")
      // ordinals: TIME 0, tags 1..T, fields T+1.. (columns.slt)
      val cols = Vector(ColumnDef("time", "TIME", "TIMESTAMP(NANOSECOND)", "DEFAULT", 0)) ++
        tags.zipWithIndex.map { case (t, i) => ColumnDef(t, "TAG", "STRING", "DEFAULT", i + 1) } ++
        fields.zipWithIndex.map { case ((n, dt, c), i) => ColumnDef(n, "FIELD", dt, c, tags.size + 1 + i) }
      val dup = cols.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
      if (dup.nonEmpty) AdminError.semantic(s"Column already exists: ${dup.head}")
      catalog.createTable(session.tenant, db, TableDef(name, cols), ine)
    case other => AdminError.parser(s"Expected object type after CREATE, found: $other")
  }

  /** CREATE STREAM TABLE name (col TYPE, ..) WITH (db=, table=,
    * event_time_column=) engine = tskv — grammar, validation order and
    * error wording from the reference's stream sqllogic suite
    * (syntax.slt, stream_table_create.slt, ddl/create_stream_table.slt).
    */
  private def createStreamTable(p: AdminParser): Unit = {
    val ine = p.tryIfNotExists()
    val (db, name) = p.qualifiedName(session.database)
    requireOnDb(session.tenant, db, "Write")
    p.expectSym("(")
    var cols = Vector.empty[StreamColDef]
    var more = true
    while (more) {
      val cn = p.name(); val dt = p.dataType()
      cols = cols :+ StreamColDef(cn, dt)
      more = p.trySym(",")
    }
    p.expectSym(")")
    // 1. duplicate column names (fires before source resolution —
    //    stream_table_create.slt's dup case names columns the source
    //    lacks and still gets the same-name error)
    cols.groupBy(_.name.toLowerCase).collectFirst { case (n, g) if g.size > 1 => n }
      .foreach(n => AdminError.semantic(s"Field or Tag have the same name $n"))
    p.expectKw("WITH"); p.expectSym("(")
    val opts = p.optionAssignments()
    p.expectSym(")")
    p.expectKw("ENGINE"); p.expectSym("=")
    val engine = p.name()
    val lname = name.toLowerCase
    // 2. required options, in the reference's order
    val srcDb = opts.getOrElse("db",
      AdminError.semantic(s"Missing option [db] of table $lname"))
    val srcTable = opts.getOrElse("table",
      AdminError.semantic(s"Missing option [table] of table $lname"))
    val etc = opts.getOrElse("event_time_column",
      AdminError.semantic(s"Missing option [event_time_column] of table $lname"))
    // 3. engine
    if (!engine.equalsIgnoreCase("tskv"))
      AdminError.semantic(s"Unsupported stream type: $engine")
    // 4. the source table must exist and every declared column (and the
    //    event-time column) must be one of its fields
    val srcT = catalog.table(session.tenant, srcDb, srcTable)
    val valid = "time" +: srcT.columns.filter(_.colType != "TIME").sortBy(_.ordinal).map(_.name)
    def requireField(cn: String): Unit =
      if (!valid.contains(cn)) AdminError.schema(
        s"""Unable to get field named "$cn". Valid fields: [${valid.map(v => "\"" + v + "\"").mkString(", ")}]""")
    cols.foreach(c => requireField(c.name))
    requireField(etc)
    // 5. the event-time column must be the source's timestamp (`time`
    //    is the only timestamp column a tskv table has)
    if (etc != "time") AdminError.semantic(
      s"Invalid option [event_time_column] of table $lname: The data type of column '$etc' is not timestamp")
    catalog.createStreamTable(session.tenant, db,
      StreamTableDef(name, cols, srcDb, srcTable, etc), ine)
  }

  // ---- ALTER ---------------------------------------------------------

  private def alter(p: AdminParser): Unit = p.nextUpper match {
    case "TENANT" =>
      val name = p.name()
      p.nextUpper match {
        case "SET" =>
          requireMaintainer(name)
          val (k, v) = p.optionAssignment()
          catalog.alterTenantSet(name, k, v)
        case "UNSET" =>
          requireMaintainer(name)
          catalog.alterTenantUnset(name, p.name().toLowerCase)
        case "ADD" =>
          p.expectKw("USER"); val u = p.name(); p.expectKw("AS"); val r = p.name()
          requireMaintainer(name)
          catalog.addMember(name, u, r)
        case "REMOVE" =>
          p.expectKw("USER"); val u = p.name()
          requireMaintainer(name)
          catalog.removeMember(name, u)
        case other => AdminError.parser(s"Expected SET/UNSET/ADD/REMOVE, found: $other")
      }
    case "USER" =>
      val name = p.name()
      p.expectKw("SET")
      val (k, v) = p.optionAssignment()
      // only an admin may alter OTHER users; a user may alter itself
      // (password/comment) but never its own admin bit — otherwise any
      // authenticated session could reset root's password through the
      // HTTP route and escalate to cluster admin
      if (!isAdmin(session.user) && session.user != name)
        AdminError.privilege(s"admin to alter user $name")
      if (k == "granted_admin" && !isAdmin(session.user))
        AdminError.privilege("admin to grant admin")
      catalog.alterUserSet(name, k, v)
    case "DATABASE" =>
      val name = p.name()
      p.expectKw("SET")
      requireOnDb(session.tenant, name, "Write")
      catalog.database(session.tenant, name) // existence first (alter_database.slt)
      p.nextUpper match {
        case "TTL"            => val v = p.stringLit(); catalog.alterDatabase(session.tenant, name, _.copy(ttlNs = Some(parseDuration(v))))
        case "SHARD"          => val v = p.intLit(); catalog.alterDatabase(session.tenant, name, _.copy(shard = v))
        case "VNODE_DURATION" => val v = p.stringLit(); catalog.alterDatabase(session.tenant, name, _.copy(vnodeDurationNs = parseDuration(v)))
        case "REPLICA"        => val v = p.intLit(); catalog.alterDatabase(session.tenant, name, _.copy(replica = v))
        case "PRECISION"      => AdminError.semantic("precision is immutable after CREATE DATABASE")
        case other            => AdminError.parser(s"Unknown database option: $other")
      }
      // exactly ONE option per ALTER (alter_database.slt: "Expected end
      // of statement, found: SHARD")
      p.peekUpperOpt.foreach(t => AdminError.parser(s"Expected end of statement, found: $t"))
    case "TABLE" =>
      val (db, name) = p.qualifiedName(session.database)
      requireOnDb(session.tenant, db, "Write")
      // stream tables reject ALTER with the reference's wording
      // (stream/unsupport_op.slt)
      if (catalog.database(session.tenant, db).streamTables.contains(name))
        AdminError.notImplemented("only tskv table support alter")
      p.nextUpper match {
        case "ADD" =>
          p.nextUpper match {
            case "FIELD" =>
              val cn = p.name(); val dt = p.dataType()
              val codec = if (p.tryKw("CODEC")) { p.expectSym("("); val c = p.name().toUpperCase; p.expectSym(")"); c } else "DEFAULT"
              catalog.alterTable(session.tenant, db, name, t => {
                if (t.columns.exists(_.name == cn)) AdminError.semantic(s"Column already exists: $cn")
                // fresh physical id: re-adding a dropped name must read
                // as nulls, never resurrect the dropped column's data
                t.copy(columns = t.columns :+ ColumnDef(cn, "FIELD", dt, codec,
                    t.columns.map(_.ordinal).max + 1, storedId = s"__c${t.nextColId}_$cn"),
                  nextColId = t.nextColId + 1)
              })
            case "TAG" =>
              val cn = p.name()
              catalog.alterTable(session.tenant, db, name, t => {
                if (t.columns.exists(_.name == cn)) AdminError.semantic(s"Column already exists: $cn")
                val tagOrd = t.tags.map(_.ordinal).maxOption.getOrElse(0) + 1
                val shifted = t.columns.map(c => if (c.colType == "FIELD") c.copy(ordinal = c.ordinal + 1) else c)
                t.copy(columns = shifted :+ ColumnDef(cn, "TAG", "STRING", "DEFAULT",
                    tagOrd, storedId = s"__c${t.nextColId}_$cn"),
                  nextColId = t.nextColId + 1)
              })
            case other => AdminError.parser(s"Expected FIELD or TAG, found: $other")
          }
        case "DROP" =>
          val cn = p.name()
          catalog.alterTable(session.tenant, db, name, t => {
            val c = t.columns.find(_.name == cn).getOrElse(AdminError.meta(s"Column not found: \"$cn\""))
            if (c.colType == "TIME") AdminError.semantic("the time column cannot be dropped")
            t.copy(columns = t.columns.filterNot(_.name == cn))
          })
        case "RENAME" =>
          p.expectKw("COLUMN"); val from = p.name(); p.expectKw("TO"); val to = p.name()
          catalog.alterTable(session.tenant, db, name, t => {
            if (!t.columns.exists(_.name == from)) AdminError.meta(s"Column not found: \"$from\"")
            if (t.columns.exists(_.name == to)) AdminError.semantic(s"Column already exists: $to")
            // metadata-only rename: the physical storage key stays what
            // it was (pin it explicitly — empty storedId means "= name",
            // which would otherwise follow the rename)
            t.copy(columns = t.columns.map(c =>
              if (c.name == from) c.copy(name = to, storedId = c.physical) else c))
          })
        case "ALTER" =>
          val cn = p.name(); p.expectKw("SET"); p.expectKw("CODEC")
          p.expectSym("("); val c = p.name().toUpperCase; p.expectSym(")")
          catalog.alterTable(session.tenant, db, name, t => {
            if (!t.columns.exists(_.name == cn)) AdminError.meta(s"Column not found: \"$cn\"")
            t.copy(columns = t.columns.map(col => if (col.name == cn) col.copy(codec = c) else col))
          })
        case other => AdminError.parser(s"Expected ADD/DROP/RENAME/ALTER, found: $other")
      }
    case other => AdminError.parser(s"Expected object type after ALTER, found: $other")
  }

  // ---- DROP / RECOVER ------------------------------------------------

  private def drop(p: AdminParser): Unit = p.nextUpper match {
    case "TENANT" =>
      if (!isAdmin(session.user)) AdminError.privilege("admin to drop tenants")
      val ife = p.tryIfExists()
      val name = p.name()
      val after = if (p.tryKw("AFTER")) Some(parseDuration(p.stringLit())) else None
      catalog.dropTenant(name, ife, after, nowNs())
    case "USER" =>
      if (!isAdmin(session.user)) AdminError.privilege("admin to drop users")
      val ife = p.tryIfExists()
      catalog.dropUser(p.name(), ife)
    case "ROLE" =>
      val ife = p.tryIfExists()
      val name = p.name()
      requireMaintainer(session.tenant)
      catalog.dropRole(session.tenant, name, ife)
    case "DATABASE" =>
      val ife = p.tryIfExists()
      val name = p.name()
      requireWriteAllDbs(session.tenant)
      val after = if (p.tryKw("AFTER")) Some(parseDuration(p.stringLit())) else None
      catalog.dropDatabase(session.tenant, name, ife, after, nowNs())
    case "TABLE" =>
      val ife = p.tryIfExists()
      val (db, name) = p.qualifiedName(session.database)
      requireOnDb(session.tenant, db, "Write")
      catalog.dropTable(session.tenant, db, name, ife)
    case other => AdminError.parser(s"Expected object type after DROP, found: $other")
  }

  private def recover(p: AdminParser): Unit = p.nextUpper match {
    case "TENANT"   => catalog.recoverTenant(p.name())
    case "DATABASE" => catalog.recoverDatabase(session.tenant, p.name())
    case other      => AdminError.parser(s"Expected TENANT or DATABASE, found: $other")
  }

  // ---- GRANT / REVOKE ------------------------------------------------

  private def privLevel(s: String): String = s.toUpperCase match {
    case "READ" => "Read"
    case "WRITE" => "Write"
    case "ALL" => "All"
    case other => AdminError.parser(s"Expected READ/WRITE/ALL, found: $other")
  }

  private def grantStmt(p: AdminParser): Unit = {
    val level = privLevel(p.next())
    p.expectKw("ON"); p.expectKw("DATABASE")
    val db = p.name()
    p.expectKw("TO"); p.tryKw("ROLE")
    val role = p.name()
    requireMaintainer(session.tenant)
    catalog.grant(session.tenant, db, role, level)
  }

  private def revokeStmt(p: AdminParser): Unit = {
    val level = privLevel(p.next())
    p.expectKw("ON"); p.expectKw("DATABASE")
    val db = p.name()
    p.expectKw("FROM"); p.tryKw("ROLE")
    val role = p.name()
    requireMaintainer(session.tenant)
    catalog.revoke(session.tenant, db, role, level)
  }

  // ---- DESCRIBE / SHOW -----------------------------------------------

  private def describe(p: AdminParser): DataFrame = p.nextUpper match {
    case "DATABASE" =>
      val name = p.name()
      requireOnDb(session.tenant, name, "Read")
      val d = catalog.database(session.tenant, name)
      mkDf(Seq("ttl", "shard", "vnode_duration", "replica", "precision",
        "max_memcache_size", "memcache_partitions", "wal_max_file_size",
        "wal_sync", "strict_write", "max_cache_readers"),
        Seq(Row(d.ttlNs.map(formatDuration).getOrElse("INF"), d.shard.toLong,
          formatDuration(d.vnodeDurationNs), d.replica.toLong, d.precision,
          "128 MiB", 16L, "128 MiB", false, false, 32L)),
        Seq(StringType, LongType, StringType, LongType, StringType,
          StringType, LongType, StringType, BooleanType, BooleanType, LongType))
    case "TABLE" =>
      val (db, name) = p.qualifiedName(session.database)
      requireOnDb(session.tenant, db, "Read")
      val t = catalog.table(session.tenant, db, name)
      mkDf(Seq("column_name", "data_type", "column_type", "compression_codec"),
        t.columns.sortBy(_.name).map(c => Row(c.name, c.dataType, c.colType, c.codec)),
        Seq(StringType, StringType, StringType, StringType))
    case other => AdminError.parser(s"Expected DATABASE or TABLE, found: $other")
  }

  private def show(p: AdminParser): DataFrame = p.nextUpper match {
    case "DATABASES" =>
      mkDf(Seq("database_name"), readableDbs(session.tenant).map(Row(_)), Seq(StringType))
    case "TABLES" =>
      requireOnDb(session.tenant, session.database, "Read")
      val d = catalog.database(session.tenant, session.database)
      mkDf(Seq("table_name"), d.tables.keys.toVector.sorted.map(Row(_)), Seq(StringType))
    case "TENANTS" =>
      val names =
        if (isAdmin(session.user)) catalog.tenants.values.filterNot(_.hidden).map(_.name).toVector.sorted
        else Vector(requireMember(session.tenant).name)
      mkDf(Seq("tenant_name"), names.map(Row(_)), Seq(StringType))
    case "QUERIES" =>
      requireMember(session.tenant)
      sysTable("information_schema", "queries")
    case "SERIES" => showSeries(p)
    case "TAG"    => p.expectKw("VALUES"); showTagValues(p)
    case other => AdminError.parser(s"Expected DATABASES/TABLES/TENANTS/QUERIES, found: $other")
  }

  // ---- SHOW SERIES / SHOW TAG VALUES (dql/show_series.slt,
  // dql/show_tag_values.slt) ------------------------------------------

  /** Reconstruct a WHERE clause (up to ORDER/eof) as Spark SQL text. */
  private def parseWhere(p: AdminParser): Option[String] =
    if (!p.tryKw("WHERE")) None
    else {
      val sb = new StringBuilder
      while (!p.done && !p.peekUpperOpt.contains("ORDER"))
        sb.append(p.nextRendered()).append(' ')
      Some(sb.toString.trim)
    }

  /** ORDER BY over the statement's fixed output schema; any other
    * column is the reference's schema error. */
  private def parseOrderByDirs(p: AdminParser, valid: Set[String],
                               validDesc: String): Vector[(String, Boolean)] =
    if (!p.tryKw("ORDER")) Vector.empty
    else {
      p.expectKw("BY")
      val b = Vector.newBuilder[(String, Boolean)]
      var more = true
      while (more) {
        val c = p.name().toLowerCase
        if (!valid.contains(c))
          AdminError.schema(s"No field named $c. Valid fields are $validDesc.")
        val asc = if (p.tryKw("ASC")) true else !p.tryKw("DESC")
        b += ((c, asc))
        more = p.trySym(",")
      }
      b.result()
    }

  /** The WHERE clause may reference tags and time only — a FIELD is
    * the reference's semantic error (wording says SHOW SERIES for both
    * statements — the reference shares the code path). */
  private def requireTagTimeOnly(cond: Option[String], t: TableDef): Unit =
    cond.foreach { c =>
      val e = spark.sessionState.sqlParser.parseExpression(c)
      val names = e.collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
      }
      val fields = t.fields.map(_.name.toLowerCase).toSet
      names.find(n => fields.contains(n.toLowerCase)).foreach(f =>
        AdminError.semantic(s"SHOW SERIES does not support where clause contains field $f"))
    }

  private def orderedBy(df: DataFrame, order: Vector[(String, Boolean)],
                        default: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (order.isEmpty) df.orderBy(default.map(col): _*)
    else df.orderBy(order.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }: _*)
  }

  /** SHOW SERIES [ON db] FROM tbl [WHERE ..] [ORDER BY key] — one
    * `key` column "tbl,tagA=vA,tagB=vB" listing each DISTINCT tag
    * combination present; null tags are omitted from the key, empty
    * strings kept (`t0=`). The scan is a distinct over the tag columns
    * only — column pruning reaches the parquet scan, so at 100 TB this
    * reads the tag dictionary pages, not the fields.
    */
  private def showSeries(p: AdminParser): DataFrame = {
    import org.apache.spark.sql.functions._
    val db = if (p.tryKw("ON")) p.name() else session.database
    if (!p.tryKw("FROM"))
      AdminError.parser(s"Expected FROM, found: ${p.peekUpperOpt.getOrElse(";")}")
    val tbl = p.name()
    val cond = parseWhere(p)
    val order = parseOrderByDirs(p, Set("key"), "key")
    // parse errors (e.g. a qualified `db.tbl` after FROM) fire before
    // any catalog resolution — dql/show_series.slt pins the wording
    p.peekUpperOpt.foreach(t => AdminError.parser(s"Expected end of statement, found: $t"))
    requireOnDb(session.tenant, db, "Read")
    val t = catalog.table(session.tenant, db, tbl)
    requireTagTimeOnly(cond, t)
    val df0 = readTableOrEmpty(db, tbl)
    val filtered = cond.map(c => df0.where(expr(c))).getOrElse(df0)
    val tags = t.tags.sortBy(_.ordinal)
    val keyCol =
      if (tags.isEmpty) lit(tbl)
      else concat((lit(tbl) +: tags.map(tg =>
        when(col(tg.name).isNull, lit(""))
          .otherwise(concat(lit(s",${tg.name}="), col(tg.name))))): _*)
    orderedBy(filtered.select(keyCol.as("key")).distinct(), order, Seq("key"))
  }

  /** SHOW TAG VALUES [ON db] FROM tbl WITH KEY =|!=|IN|NOT IN (..)
    * [WHERE ..] [ORDER BY key,value] — distinct (tag name, value)
    * pairs with non-null values. WITH is mandatory. */
  private def showTagValues(p: AdminParser): DataFrame = {
    import org.apache.spark.sql.functions._
    val db = if (p.tryKw("ON")) p.name() else session.database
    if (!p.tryKw("FROM"))
      AdminError.parser(s"Expected FROM, found: ${p.peekUpperOpt.getOrElse(";")}")
    val tbl = p.name()
    if (!p.tryKw("WITH"))
      AdminError.parser(s"Expected WITH, found: ${p.peekUpperOpt.getOrElse(";")}")
    p.expectKw("KEY")
    requireOnDb(session.tenant, db, "Read")
    val t = catalog.table(session.tenant, db, tbl)
    val allTags = t.tags.sortBy(_.ordinal).map(_.name)
    val selected: Vector[String] = p.peekUpperOpt match {
      case Some("=")  => p.next(); val k = p.name(); allTags.filter(_ == k)
      case Some("!=") => p.next(); val k = p.name(); allTags.filterNot(_ == k)
      case Some("IN") =>
        p.next(); p.expectSym("("); val ks = p.nameList(); p.expectSym(")")
        allTags.filter(ks.contains)
      case Some("NOT") =>
        p.next(); p.expectKw("IN"); p.expectSym("("); val ks = p.nameList(); p.expectSym(")")
        allTags.filterNot(ks.contains)
      case other => AdminError.parser(s"Expected =, !=, IN or NOT IN, found: ${other.getOrElse(";")}")
    }
    val cond = parseWhere(p)
    val order = parseOrderByDirs(p, Set("key", "value"), "key, value")
    requireTagTimeOnly(cond, t)
    if (selected.isEmpty)
      return orderedBy(mkDf(Seq("key", "value"), Nil, Seq(StringType, StringType)),
        order, Seq("key", "value"))
    val df0 = readTableOrEmpty(db, tbl)
    val filtered = cond.map(c => df0.where(expr(c))).getOrElse(df0)
    // one pass: stack the selected tag columns into (key, value) rows
    val stacked = filtered.selectExpr(
      s"stack(${selected.size}, ${selected.map(tg => s"'$tg', `$tg`").mkString(", ")}) as (key, value)")
      .where(col("value").isNotNull)
      .distinct()
    orderedBy(stacked, order, Seq("key", "value"))
  }

  /** readTable when storage exists; the table's empty typed frame
    * otherwise (a created-but-never-written table has no series). */
  private def readTableOrEmpty(db: String, name: String): DataFrame = {
    // storageExists heals an interrupted rewrite swap first — a table
    // stranded mid-swap must read as its content, not as empty
    if (storageExists(db, name)) readTable(db, name)
    else {
      val t = catalog.table(session.tenant, db, name)
      val schema = StructType(t.columns.sortBy(_.ordinal).map { c =>
        if (c.colType == "TIME") StructField("time", TimestampType)
        else StructField(c.name, if (c.colType == "TAG") StringType else sparkType(c.dataType))
      })
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    }
  }

  // ---- INSERT / SELECT (data path — real Spark storage) --------------

  private def tablePath(db: String, table: String): String =
    s"$dataRoot/${session.tenant}/$db/$table"

  private def sparkType(dt: String): DataType = dt match {
    case "BIGINT" | "BIGINT UNSIGNED" => LongType
    case "DOUBLE"                     => DoubleType
    case "BOOLEAN"                    => BooleanType
    case _                            => StringType
  }

  /** Multiplier from the db's declared TIME precision to stored ns. */
  private def precisionToNs(p: String): Long = p match {
    case "NS" => 1L; case "US" => 1000L; case "MS" => 1000000L
  }

  /** A string TIME literal ('1999-12-31 00:00:00.005' or with 'T') as
    * UTC epoch nanoseconds. */
  private def tsLiteralNs(l: String): Long = {
    val ldt = java.time.LocalDateTime.parse(l.trim.replace(' ', 'T'),
      java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
    val inst = ldt.toInstant(java.time.ZoneOffset.UTC)
    Math.addExact(Math.multiplyExact(inst.getEpochSecond, 1000000000L), inst.getNano.toLong)
  }

  private def insert(p: AdminParser, raw: String): DataFrame = {
    // the reference accepts INSERT with or without INTO (dml/setup.slt
    // writes `INSERT dml_tbl(..)`), and `INSERT INTO TABLE x`
    // (usage_schema_privilege.slt)
    p.tryKw("INTO")
    p.tryKw("TABLE")
    val (db, name) = p.qualifiedName(session.database)
    requireOnDb(session.tenant, db, "Write")
    val d = catalog.database(session.tenant, db)
    val t = catalog.table(session.tenant, db, name)
    val colNames: Vector[String] =
      if (p.trySym("(")) { val l = p.nameList(); p.expectSym(")"); l }
      else Vector.empty
    if (p.peekUpperOpt.contains("SELECT")) {
      // INSERT .. SELECT: the select text goes to Catalyst whole — find
      // its raw start (first SELECT keyword; nothing before it in this
      // statement shape can contain one unquoted)
      p.consumeRest()
      val selIdx = "(?i)\\bSELECT\\b".r.findFirstMatchIn(raw)
        .getOrElse(AdminError.parser("Expected SELECT")).start
      return insertSelect(db, t, colNames, raw.substring(selIdx))
    }
    if (colNames.isEmpty)
      AdminError.parser(s"Expected '(', found: ${p.peekUpperOpt.getOrElse("<eof>")}")
    p.expectKw("VALUES")
    val byName = t.columns.map(c => c.name.toLowerCase -> c).toMap
    val defs = colNames.map { cn =>
      byName.getOrElse(cn.toLowerCase, AdminError.meta(s"Column not found: \"$cn\""))
    }
    val mark = p.mark()
    val rows = Vector.newBuilder[Row]
    try {
    var more = true
    while (more) {
      p.expectSym("(")
      val lits = p.literalList()
      p.expectSym(")")
      if (lits.size != defs.size)
        AdminError.semantic(s"INSERT column/value arity mismatch: ${defs.size} vs ${lits.size}")
      val vals = defs.zip(lits).map { case (c, l) =>
        // coercion failures are statement errors in the reference's
        // taxonomy, not raw NumberFormatExceptions surfacing as 500s
        def bad(): Nothing =
          AdminError.semantic(s"invalid literal '$l' for ${c.colType} column ${c.name} (${c.dataType})")
        try c.colType match {
          // a numeric TIME literal scales by the db precision
          // (db_precision.slt); a string literal is an absolute
          // timestamp (dml/setup.slt: '1999-12-31 00:00:00.005')
          case "TIME"  =>
            try l.toLong * precisionToNs(d.precision)
            catch { case _: NumberFormatException => tsLiteralNs(l) }
          case "TAG"   => l
          case "FIELD" => c.dataType match {
            case "DOUBLE" => l.toDouble
            case "BIGINT" | "BIGINT UNSIGNED" => l.toLong
            // the coercions DataFusion's bool cast accepts
            // (data_type/type_conversion/boolean.slt: 1/0, 'T'/'F',
            // 'yes'/'no' all land as booleans)
            case "BOOLEAN" => l.trim.toLowerCase match {
              case "t" | "true" | "y" | "yes" | "on" | "1"  => true
              case "f" | "false" | "n" | "no" | "off" | "0" => false
              case _ => bad()
            }
            case _ => l
          }
        } catch {
          case _: IllegalArgumentException => bad()
          case _: java.time.format.DateTimeParseException => bad()
        }
      }
      rows += Row(vals: _*)
      more = p.trySym(",")
    }
    } catch {
      // a non-literal token inside a tuple means the tuple holds
      // EXPRESSIONS (http_stream_select.slt INSERTs `CAST(..)||..
      // NOT IN (..)`; the sqlancer suite leans on casts) — re-parse
      // the whole VALUES clause through Catalyst instead. Semantic
      // errors (arity, invalid literals) stay statement errors.
      case e: AdminError if e.kind == "sql parser error" =>
        p.reset(mark)
        p.consumeRest()
        return insertValuesExprs(db, d, name, defs, raw)
    }
    val schema = StructType(defs.map { c =>
      if (c.colType == "TIME") StructField("time_ns", LongType)
      // storage is keyed by the PHYSICAL id, so a later RENAME is
      // metadata-only (readTable aliases physical → current name)
      else StructField(c.physical, if (c.colType == "TAG") StringType else sparkType(c.dataType))
    })
    val data = rows.result()
    val df = spark.createDataFrame(spark.sparkContext.parallelize(data.toSeq, 1), schema)
    appendWrite(df, tablePath(db, name))
    mkDf(Seq("rows"), Seq(Row(data.size.toLong)), Seq(LongType))
  }

  /** INSERT ... VALUES whose tuples hold EXPRESSIONS, not just
    * literals: the whole VALUES clause is evaluated by Catalyst as a
    * VALUES relation, then projected onto the storage schema with
    * STRICT casts — a value a cast nulls out (where the source was
    * non-null) is the same invalid-literal statement error the
    * literal path raises, because Spark's non-ansi cast would
    * otherwise silently null what the reference rejects. Numeric TIME
    * values scale by the db precision exactly like literals;
    * string/timestamp TIME values are absolute. */
  private def insertValuesExprs(db: String, d: DatabaseDef, name: String,
                                defs: Vector[ColumnDef], raw: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val m = "(?i)\\bVALUES\\b".r.findFirstMatchIn(raw)
      .getOrElse(AdminError.parser("Expected VALUES"))
    val df = spark.sql(s"SELECT * FROM VALUES ${raw.substring(m.end)}")
    if (df.columns.length != defs.size)
      AdminError.semantic(
        s"INSERT column/value arity mismatch: ${defs.size} vs ${df.columns.length}")
    def storageType(c: ColumnDef): DataType =
      if (c.colType == "TAG") StringType else sparkType(c.dataType)
    val numericTime = Set[DataType](ByteType, ShortType, IntegerType, LongType,
      FloatType, DoubleType)
    def numericTimeSrc(s: String): Boolean = {
      val dt = df.schema(s).dataType
      numericTime.contains(dt) || dt.isInstanceOf[DecimalType]
    }
    // strict coercion, ansi-mode-agnostic: try_cast probes null out
    // exactly the values a projection cast would either throw on
    // (ansi) or silently null (lax) — both wrong shapes for the
    // reference's statement-error contract
    val checks = defs.zip(df.columns).flatMap { case (c, s) =>
      val probe = c.colType match {
        case "TAG" => None
        case "TIME" if numericTimeSrc(s) => None
        case "TIME" => Some(expr(s"try_cast(`$s` AS TIMESTAMP)"))
        case _ => Some(expr(s"try_cast(`$s` AS ${storageType(c).sql})"))
      }
      probe.map(pr => (c,
        sum(when(col(s"`$s`").isNotNull && pr.isNull, 1L).otherwise(0L)).as(s)))
    }
    if (checks.nonEmpty) {
      val bad = df.agg(checks.head._2, checks.tail.map(_._2): _*).head() // bounded: one row
      checks.indices.find(i => !bad.isNullAt(i) && bad.getLong(i) > 0).foreach { i =>
        AdminError.semantic(
          s"invalid value for ${checks(i)._1.dataType} column ${checks(i)._1.name}")
      }
    }
    val cols = defs.zip(df.columns).map { case (c, s) =>
      val src = col(s"`$s`")
      c.colType match {
        case "TIME" =>
          if (numericTimeSrc(s))
            (src.cast(LongType) * lit(precisionToNs(d.precision))).as("time_ns")
          else (unix_micros(expr(s"try_cast(`$s` AS TIMESTAMP)")) * 1000L).as("time_ns")
        case "TAG" => src.cast(StringType).as(c.physical)
        case _     => expr(s"try_cast(`$s` AS ${storageType(c).sql})").as(c.physical)
      }
    }
    val out = df.select(cols: _*)
    val n = appendWriteCounted(out, tablePath(db, name))
    mkDf(Seq("rows"), Seq(Row(n)), Seq(LongType))
  }

  /** Append a storage-projected frame to a table path, stamped with
    * the write sequence merge-on-read orders duplicate keys by:
    * `__seq_stmt` (one catalog-durable tick per write statement /
    * micro-batch) and `__seq_row` (ascending within each partition of
    * the write, so a single ordered input's later lines beat earlier
    * ones — repeat_write.slt's within-batch rule). */
  private def appendWrite(projected: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions._
    val stmt = catalog.nextWriteSeq()
    projected
      .withColumn(AdminEngine.SeqStmtCol, lit(stmt))
      .withColumn(AdminEngine.SeqRowCol, monotonically_increasing_id())
      .write.mode("append").parquet(path)
  }

  /** [[appendWrite]] that also returns the written row count, measured
    * DURING the write with an `observe` metric instead of a separate
    * `count()` action — the reference answers "rows written" on every
    * write statement, and the prior count-then-write shape scanned the
    * source twice (a full extra csv/parquet parse for COPY INTO; guide
    * §1.2 "don't compute things twice"). One action, one pass. */
  private def appendWriteCounted(projected: DataFrame, path: String): Long = {
    import org.apache.spark.sql.functions._
    val stmt = catalog.nextWriteSeq()
    val obs = new org.apache.spark.sql.Observation()
    projected
      .observe(obs, count(lit(1)).as("n"))
      .withColumn(AdminEngine.SeqStmtCol, lit(stmt))
      .withColumn(AdminEngine.SeqRowCol, monotonically_increasing_id())
      .write.mode("append").parquet(path)
    obs.get("n").asInstanceOf[Long]
  }

  // ---- COPY INTO (dml/copy_into/*.slt) --------------------------------

  /** The parsed option tails of COPY INTO. Names, defaults and error
    * wording mirror the reference's builders
    * (query_server/spi/src/query/logical_planner.rs:684-823): type
    * defaults to csv, delimiter ',', with_header true,
    * auto_infer_schema false; unknown keys are "Unsupported option
    * [x]"; delimiter/with_header are CSV-only. */
  private case class CopySpec(fileType: String, delimiter: String,
                              withHeader: Boolean, autoInfer: Boolean)

  private def parseCopyTail(p: AdminParser): CopySpec = {
    var fopts = Map.empty[String, String]
    var copts = Map.empty[String, String]
    while (p.peekUpperOpt.exists(u => u == "FILE_FORMAT" || u == "COPY_OPTIONS")) {
      val clause = p.nextUpper()
      p.expectSym("=")
      p.expectSym("(")
      val m = if (p.peekUpperOpt.contains(")")) Map.empty[String, String]
              else p.optionAssignments()
      p.expectSym(")")
      if (clause == "FILE_FORMAT") fopts = m else copts = m
    }
    def boolOpt(k: String, v: String): Boolean =
      if (v.equalsIgnoreCase("true")) true
      else if (v.equalsIgnoreCase("false")) false
      else AdminError.parser(s"Expected boolean value for option [$k], found: $v")
    val fileType = fopts.getOrElse("type", "csv").toLowerCase
    if (!Set("csv", "json", "parquet").contains(fileType))
      AdminError.semantic(s"Unsupported file format [$fileType]")
    fopts.keys.find(k =>
      !Set("type", "delimiter", "with_header", "file_compression_type").contains(k))
      .foreach(k => AdminError.semantic(s"Unsupported option [$k]"))
    if (fileType != "csv" && (fopts.contains("delimiter") || fopts.contains("with_header")))
      AdminError.semantic("delimiter and with_header fields are specific to CSV")
    copts.keys.find(_ != "auto_infer_schema")
      .foreach(k => AdminError.semantic(s"Unsupported option [$k]"))
    CopySpec(
      fileType,
      fopts.getOrElse("delimiter", ","),
      fopts.get("with_header").forall(boolOpt("with_header", _)),
      copts.get("auto_infer_schema").exists(boolOpt("auto_infer_schema", _)))
  }

  /** The parenthesized subquery text of `COPY INTO '<loc>' FROM (..)`:
    * tokens carry no source offsets, so the text Catalyst gets is cut
    * from `raw` — scan quote-aware from the first '(' after the
    * location literal to its balanced close. */
  private def subqueryText(raw: String, path: String): String = {
    val anchor = raw.indexOf(path)
    val start = raw.indexOf('(', if (anchor < 0) 0 else anchor + path.length)
    if (start < 0) AdminError.parser("Expected subquery in COPY INTO")
    var i = start + 1; var depth = 1; var quote: Char = 0
    while (i < raw.length && depth > 0) {
      val c = raw.charAt(i)
      if (quote != 0) { if (c == quote) quote = 0 }
      else c match {
        case '\'' | '"' => quote = c
        case '('        => depth += 1
        case ')'        => depth -= 1
        case _          =>
      }
      i += 1
    }
    if (depth > 0) AdminError.parser("Unterminated subquery in COPY INTO")
    raw.substring(start + 1, i - 1).trim
  }

  /** COPY INTO, both directions (reference parser.rs:1695-1830,
    * planner.rs:2340-2520; dml/copy_into/{copy_into_table,
    * copy_into_location__UNIX,copy_into_wide_table}.slt).
    *
    * Import — `COPY INTO tbl[(cols)] FROM '<path>' file_format=(...)
    * [copy_options=(auto_infer_schema=..)]`: the file is decoded with
    * the TARGET's schema (csv positionally over the listed columns — a
    * value that won't parse as the declared type is the reference's
    * csv parser error; json/parquet by column name), then projected
    * through the same storage cast as INSERT (physical column ids,
    * TIME → ns) and appended to the table's parquet path as one
    * distributed write. With auto_infer_schema=true the source's OWN
    * inferred schema must match the target's — the reference's "Insert
    * columns and Source columns not match" (json loses types, so it
    * fails; parquet carries metadata, so it passes —
    * copy_into_table.slt:128-151).
    *
    * Export — `COPY INTO '<location>' FROM tbl|(subquery)
    * file_format=(...)`: the frame goes through the Catalyst
    * passthrough and is APPENDED at the location (exporting twice
    * doubles the external table — copy_into_location__UNIX.slt:47-60).
    *
    * Both return the copied row count as `rows` (the slt `query I`
    * shape). Scale posture: row data never touches the driver — both
    * directions are ordinary distributed scans/writes; the returned
    * count is the one extra job, same trade as insertSelect. */
  private def copyInto(p: AdminParser, raw: String, explainOnly: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    p.expectKw("INTO")
    val isLocation = p.peekOpt match {
      case Some(AdminParser.Quoted(_, '\'')) => true
      case _                                 => false
    }
    if (isLocation) {
      // ---- export: COPY INTO '<location>' FROM ... ----
      val path = p.stringLit()
      p.expectKw("FROM")
      val src: DataFrame =
        if (p.trySym("(")) {
          val sub = subqueryText(raw, path)
          var depth = 1 // skip the subquery's tokens on the cursor
          while (depth > 0) p.peekOpt match {
            case Some(AdminParser.Sym("(")) => p.next(); depth += 1
            case Some(AdminParser.Sym(")")) => p.next(); depth -= 1
            case Some(_)                    => p.next()
            case None => AdminError.parser("Unterminated subquery in COPY INTO")
          }
          select(sub)
        } else {
          val (db, name) = p.qualifiedName(session.database)
          requireOnDb(session.tenant, db, "Read")
          catalog.table(session.tenant, db, name) // must exist
          readTableOrEmpty(db, name)
        }
      val spec = parseCopyTail(p)
      if (explainOnly) return planFrame(src)
      // row count measured during the export write (observe metric) —
      // the count-then-write shape scanned the source table twice
      val obs = new org.apache.spark.sql.Observation()
      val observed = src.observe(obs,
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("n"))
      val w = observed.write.mode("append")
      spec.fileType match {
        case "csv" =>
          w.option("header", spec.withHeader)
            .option("delimiter", spec.delimiter)
            // µs-full ISO instants so a csv round-trip preserves TIME
            .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
            .csv(path)
        case "json"    => w.json(path)
        case "parquet" => w.parquet(path)
      }
      mkDf(Seq("rows"), Seq(Row(obs.get("n").asInstanceOf[Long])), Seq(LongType))
    } else {
      // ---- import: COPY INTO tbl[(cols)] FROM '<path>' ----
      val (db, name) = p.qualifiedName(session.database)
      requireOnDb(session.tenant, db, "Write")
      val t = catalog.table(session.tenant, db, name)
      val colNames: Vector[String] =
        if (p.trySym("(")) { val l = p.nameList(); p.expectSym(")"); l }
        else Vector.empty
      p.expectKw("FROM")
      val path = p.stringLit()
      val spec = parseCopyTail(p)
      val targets: Vector[ColumnDef] =
        if (colNames.isEmpty) t.columns.sortBy(_.ordinal)
        else {
          val byName = t.columns.map(c => c.name.toLowerCase -> c).toMap
          colNames.map(cn => byName.getOrElse(cn.toLowerCase,
            AdminError.meta(s"Column not found: \"$cn\"")))
        }
      def logicalType(c: ColumnDef): DataType = c.colType match {
        case "TIME" => TimestampType
        case "TAG"  => StringType
        case _      => sparkType(c.dataType)
      }
      val src: DataFrame = spec.fileType match {
        case "csv" =>
          val schema = StructType(targets.map(c => StructField(c.name, logicalType(c))))
          spark.read
            .option("header", spec.withHeader)
            .option("delimiter", spec.delimiter)
            .option("mode", "FAILFAST")
            .schema(schema).csv(path)
        case _ =>
          val r = if (spec.fileType == "json") spark.read.json(path)
                  else spark.read.parquet(path)
          val byLower = r.columns.map(c => c.toLowerCase -> c).toMap
          def sourceCol(c: ColumnDef): String =
            byLower.getOrElse(c.name.toLowerCase,
              AdminError.semantic("Insert columns and Source columns not match"))
          if (spec.autoInfer) {
            if (r.columns.length != targets.size)
              AdminError.semantic("Insert columns and Source columns not match")
            targets.foreach { c =>
              if (r.schema(sourceCol(c)).dataType != logicalType(c))
                AdminError.semantic("Insert columns and Source columns not match")
            }
          }
          r.select(targets.map(c => col(s"`${sourceCol(c)}`")): _*)
      }
      val projected = projectForStorage(targets, src)
      if (explainOnly) return planFrame(projected)
      // ONE pass: the row count is an observe metric on the write
      // itself (the count-then-write shape parsed the source file
      // twice); FAILFAST csv errors fire during this same action and
      // surface as the reference's csv parse error
      val n = try {
        appendWriteCounted(projected, tablePath(db, name))
      } catch {
        case e: AdminError => throw e
        case e: Throwable if spec.fileType == "csv" =>
          var root: Throwable = e
          while (root.getCause != null && (root.getCause ne root)) root = root.getCause
          AdminError.semantic(s"Error while parsing value for COPY INTO $name: " +
            Option(root.getMessage).getOrElse("malformed record").linesIterator.next())
      }
      mkDf(Seq("rows"), Seq(Row(n)), Seq(LongType))
    }
  }

  // ---- DELETE / UPDATE / COMPACT (dml/delete.slt, dml/update_field
  // .slt, dml/update_tag.slt, dql/file_query.slt) -----------------------

  /** The merged raw frame with the table's LOGICAL names aliased in
    * beside the physical columns, so statement text (WHERE clauses,
    * SET expressions) resolves on current column names while time_ns
    * and the physical ids ride along for storage rewrites. */
  private def logicalOverRaw(db: String, t: TableDef): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = readTableRaw(db, t.name)
    var out = raw.withColumn("time",
      timestamp_micros(expr("time_ns div 1000")))
    t.columns.filter(_.colType != "TIME").sortBy(_.ordinal).foreach { c =>
      val src = if (raw.columns.contains(c.physical)) col(c.physical)
                else lit(null).cast(if (c.colType == "TAG") StringType else sparkType(c.dataType))
      out = out.withColumn(c.name, src)
    }
    out
  }

  /** time_ns + physical storage columns projected from a
    * logical-over-raw frame, with optional per-column replacements
    * (UPDATE assignments). */
  private def storageColsFromLogical(t: TableDef,
      replace: Map[String, org.apache.spark.sql.Column] = Map.empty): Seq[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.col
    col("time_ns") +: t.columns.filter(_.colType != "TIME").sortBy(_.ordinal).map { c =>
      val base = replace.getOrElse(c.name.toLowerCase, col(s"`${c.name}`"))
      base.cast(if (c.colType == "TAG") StringType else sparkType(c.dataType)).as(c.physical)
    }
  }

  /** Replace a table's storage with `projectedRaw` (time_ns +
    * physical columns): write aside, then swap. The aside write is an
    * action, so every read of the old directory completes before it is
    * touched; the delete→rename window is the documented single-writer
    * caveat the catalog save shares. The frame is already MERGED, so
    * collapsing write history to one fresh epoch preserves every read
    * (file_query.slt's stability-across-compaction contract). */
  private def rewriteStorage(db: String, t: TableDef, projectedRaw: DataFrame): Unit = {
    val path = new org.apache.hadoop.fs.Path(tablePath(db, t.name))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = new org.apache.hadoop.fs.Path(path.toString + ".rewrite")
    fs.delete(aside, true)
    appendWrite(projectedRaw, aside.toString)
    fs.delete(path, true)
    require(fs.rename(aside, path), s"rewrite swap failed: $aside -> $path")
  }

  /** Heal a [[rewriteStorage]] swap a prior process died inside (the
    * same discipline as Dml.healInterruptedSwaps): table dir gone +
    * aside present → the delete committed, roll the rename FORWARD;
    * both present → the swap never started destroying the old dir, so
    * the failed statement's aside is stale — drop it. */
  private def healInterruptedRewrite(db: String, name: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(tablePath(db, name))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = new org.apache.hadoop.fs.Path(path.toString + ".rewrite")
    if (fs.exists(aside)) {
      if (!fs.exists(path))
        require(fs.rename(aside, path), s"rewrite heal failed: $aside -> $path")
      else fs.delete(aside, true)
    }
  }

  private def storageExists(db: String, name: String): Boolean = {
    healInterruptedRewrite(db, name)
    val path = new org.apache.hadoop.fs.Path(tablePath(db, name))
    path.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(path)
  }

  /** Column names a rendered condition references. */
  private def condColumns(c: String): Seq[String] =
    spark.sessionState.sqlParser.parseExpression(c).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
    }

  /** DELETE FROM t [WHERE cond] — the WHERE may reference tags and
    * time only (delete.slt:75 pins the field-filter reject). A lake
    * has no in-place delete: the kept complement is rewritten
    * (aside + swap), the same shape as the reference's tombstone +
    * compaction collapsed into one step. Rows where the condition is
    * NULL are NOT matched, so they survive. */
  private def deleteStmt(p: AdminParser): Unit = {
    import org.apache.spark.sql.functions._
    p.expectKw("FROM")
    val (db, name) = p.qualifiedName(session.database)
    requireOnDb(session.tenant, db, "Write")
    val t = catalog.table(session.tenant, db, name)
    val cond = parseWhere(p)
    cond.foreach { c =>
      val fields = t.fields.map(_.name.toLowerCase).toSet
      condColumns(c).find(n => fields.contains(n.toLowerCase)).foreach(f =>
        AdminError.notImplemented(
          s"Filtering on the field column on the tskv table in delete statement: $f"))
    }
    if (!storageExists(db, name)) return // nothing written yet
    val lg = logicalOverRaw(db, t)
    // integer time literals are ns epochs; time_ns is in scope here,
    // so the comparison is EXACT (no µs grain)
    val kept = cond.map(rewriteIntTimeLiteralsNsExact) match {
      case Some(c) => lg.filter(coalesce(!expr(c), lit(true)))
      case None    => lg.limit(0) // DELETE FROM t: drop everything
    }
    rewriteStorage(db, t, kept.select(storageColsFromLogical(t): _*))
  }

  /** UPDATE t SET a = expr [, ...] [WHERE cond]. The reference splits
    * by the assigned columns' kind (transform_update.rs):
    *  - all FIELDs: the matched rows are re-INSERTed with the
    *    assignments applied — merge-on-read resolves each field to the
    *    new write, and SET f = NULL "is equivalent to no modification"
    *    (update_field.slt) for free, because a null field write never
    *    wins the per-field merge;
    *  - all TAGs: tags are the series KEY, so this is a physical
    *    rewrite (the reference's UpdateTagPlanNode rewrites series the
    *    same way); the WHERE may reference tags only, and a tag may
    *    not be set to NULL;
    *  - TIME: not implemented; mixed kinds: the reference's error.
    * Returns the matched row count. */
  private def updateStmt(p: AdminParser): DataFrame = {
    import org.apache.spark.sql.functions._
    val (db, name) = p.qualifiedName(session.database)
    requireOnDb(session.tenant, db, "Write")
    val t = catalog.table(session.tenant, db, name)
    p.expectKw("SET")
    val assigns = Vector.newBuilder[(String, String)]
    var more = true
    while (more) {
      val cn = p.name(); p.expectSym("=")
      assigns += ((cn, renderAssignExpr(p)))
      more = p.trySym(",")
    }
    val cond = parseWhere(p)
    val byName = t.columns.map(c => c.name.toLowerCase -> c).toMap
    val defs = assigns.result().map { case (cn, ex) =>
      (byName.getOrElse(cn.toLowerCase, AdminError.meta(s"Column not found: \"$cn\"")), ex)
    }
    val kinds = defs.map(_._1.colType).toSet
    if (kinds == Set("TIME")) AdminError.notImplemented("update_time")
    if (kinds.size > 1) AdminError.semantic(
      "Update the time/tag/field columns at the same statement is not supported")
    val isTag = kinds == Set("TAG")
    if (isTag) {
      cond.foreach { c =>
        val tags = t.tags.map(_.name.toLowerCase).toSet
        condColumns(c).find(n => !tags.contains(n.toLowerCase)).foreach(cn =>
          AdminError.semantic(
            s"Where clause cannot contain field/time column, but found: $cn"))
      }
      // setting SOME tags to null is allowed (the tag leaves the
      // series key — update_tag.slt:34 reads the row back with a NULL
      // t0); setting ALL assigned tags to null is the slt's error row
      if (defs.forall(_._2.trim.equalsIgnoreCase("NULL")))
        AdminError.semantic("tag values cannot all be null")
      // a TAG assignment's value may not reference table columns —
      // the reference evaluates tag assignments without the row in
      // scope (update_tag.slt:86 `set t0 = t0 || 'xxx'` is "No field
      // named t0."); FIELD assignments keep full row scope
      defs.foreach { case (_, ex) =>
        condColumns(ex).headOption.foreach(n =>
          AdminError.schema(s"No field named $n."))
      }
    }
    if (!storageExists(db, name))
      return mkDf(Seq("rows"), Seq(Row(0L)), Seq(LongType))
    val lg = logicalOverRaw(db, t)
    val condCol = cond.map(c => coalesce(expr(rewriteIntTimeLiteralsNsExact(c)), lit(false)))
      .getOrElse(lit(true))
    val n = lg.filter(condCol).count()
    if (n > 0) {
      if (isTag) {
        // conditional in-place tag replacement over the WHOLE table
        val replace = defs.map { case (c, ex) =>
          c.name.toLowerCase ->
            when(condCol, expr(ex).cast(StringType)).otherwise(col(s"`${c.name}`"))
        }.toMap
        rewriteStorage(db, t, lg.select(storageColsFromLogical(t, replace): _*))
      } else {
        // field update = upsert append of the matched rows
        val replace = defs.map { case (c, ex) => c.name.toLowerCase -> expr(ex) }.toMap
        appendWrite(lg.filter(condCol).select(storageColsFromLogical(t, replace): _*),
          tablePath(db, name))
      }
    }
    mkDf(Seq("rows"), Seq(Row(n)), Seq(LongType))
  }

  /** One SET assignment's expression text: rendered tokens up to a
    * top-level ',' or WHERE. */
  private def renderAssignExpr(p: AdminParser): String = {
    val sb = new StringBuilder
    var depth = 0
    var done = false
    while (!done) p.peekOpt match {
      case None => done = true
      case Some(AdminParser.Sym("(")) => depth += 1; sb.append(p.nextRendered()).append(' ')
      case Some(AdminParser.Sym(")")) => depth -= 1; sb.append(p.nextRendered()).append(' ')
      case Some(AdminParser.Sym(",")) if depth == 0 => done = true
      case Some(AdminParser.Word(w)) if depth == 0 && w.equalsIgnoreCase("WHERE") => done = true
      case Some(_) => sb.append(p.nextRendered()).append(' ')
    }
    val s = sb.toString.trim
    if (s.isEmpty) AdminError.parser("Expected expression after '='")
    s
  }

  /** COMPACT DATABASE db (dql/file_query.slt runs it around every LWW
    * read): every table's storage is re-leveled to its merged rows —
    * semantically invisible (merge-on-read already resolved
    * duplicates) and physically smaller, sized at ~128 MB per output
    * file like the lake compaction in [[graft.operators.Dml]]. */
  private def compactStmt(p: AdminParser): Unit = {
    if (!p.tryKw("DATABASE"))
      AdminError.parser(s"Expected DATABASE, found: ${p.peekUpperOpt.getOrElse("<eof>")}")
    val db = p.name()
    requireOnDb(session.tenant, db, "Write")
    val d = catalog.database(session.tenant, db)
    d.tables.keys.toSeq.sorted.foreach { tn =>
      if (storageExists(db, tn)) {
        val t = catalog.table(session.tenant, db, tn)
        val path = new org.apache.hadoop.fs.Path(tablePath(db, tn))
        val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val bytes = fs.getContentSummary(path).getLength
        val parts = math.max(1L, bytes / (128L << 20) + 1L).toInt
        val lg = logicalOverRaw(db, t)
        rewriteStorage(db, t, lg.select(storageColsFromLogical(t): _*).coalesce(parts))
      }
    }
  }

  // ---- EXPLAIN (dml/explain/*.slt) ------------------------------------

  /** EXPLAIN SELECT / EXPLAIN COPY INTO: the reference answers with a
    * two-row (plan_type, plan) frame — logical_plan + physical_plan
    * (explain_select.slt, explain_copy_into.slt); a SELECT over a
    * stream table prints the streaming logical plan only
    * (explain_stream_query.slt — there is no physical plan until the
    * stream starts). Here the rows carry Catalyst's optimized logical
    * plan and the Spark physical plan; nothing is executed. */
  private def explain(p: AdminParser, raw: String): DataFrame = {
    val inner = raw.replaceFirst("(?i)^\\s*explain\\s+", "")
    p.peekUpper match {
      case "SELECT" =>
        p.consumeRest()
        planFrame(select(inner, allowStream = true))
      case "COPY" =>
        p.next()
        copyInto(p, inner, explainOnly = true)
      case other =>
        AdminError.notImplemented(
          s"EXPLAIN is supported for SELECT and COPY INTO, found: $other")
    }
  }

  /** Render a frame's plans as the reference's EXPLAIN output shape.
    * A streaming frame reports its ANALYZED plan (the optimizer chain
    * asserts batch-ness; the watermark node is what the reference
    * prints anyway) and no physical row — physical planning only
    * exists once the stream starts. */
  private def planFrame(df: DataFrame): DataFrame = {
    val rows =
      if (df.isStreaming)
        Seq(Row("logical_plan", df.queryExecution.analyzed.treeString.trim))
      else
        Seq(Row("logical_plan", df.queryExecution.optimizedPlan.treeString.trim),
            Row("physical_plan", df.queryExecution.executedPlan.treeString.trim))
    mkDf(Seq("plan_type", "plan"), rows, Seq(StringType, StringType))
  }

  // ---- INSERT .. SELECT, batch and streaming -------------------------

  /** Stream jobs started by INSERT-from-stream-table statements, kept
    * so callers can drain (`awaitStreams`) or stop them — the
    * reference's continuous stream jobs behind `insert into sink
    * select .. from stream_table`. */
  private[graft] val streamJobs =
    scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQuery]

  /** Block until every stream job has consumed all currently-available
    * source files (the sqllogic harness's `sleep 7s` equivalent, made
    * deterministic). */
  def awaitStreams(): Unit = streamJobs.foreach(_.processAllAvailable())

  def stopStreams(): Unit = { streamJobs.foreach(_.stop()); streamJobs.clear() }

  /** Micro-batches that delivered rows across all stream jobs — the
    * lanes' proof that a stream REALLY ran multi-batch. */
  def streamBatchesDelivered: Int =
    streamJobs.map(_.recentProgress.count(_.numInputRows > 0)).sum

  /** The reference's `time_window(col, interval '..')` spelled as
    * Spark's `window(col, '..')`; `alias.start/.end` on the window
    * struct then works unchanged. */
  private def rewriteTimeWindow(q: String): String =
    "(?i)\\btime_window\\s*\\(\\s*([A-Za-z_][\\w.]*)\\s*,\\s*interval\\s*'([^']+)'\\s*\\)".r
      .replaceAllIn(q, m => s"window(${m.group(1)}, '${m.group(2)}')")

  /** Map a SELECT's output positionally onto a tskv table's columns
    * for storage: TIME → ns epoch under `time_ns`, tags/fields cast to
    * their storage type under their PHYSICAL ids. */
  private def projectForStorage(targets: Vector[ColumnDef], out: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    if (out.columns.length != targets.size)
      AdminError.semantic(
        s"INSERT column/value arity mismatch: ${targets.size} vs ${out.columns.length}")
    val cols = targets.zipWithIndex.map { case (c, i) =>
      val in = col(s"`${out.columns(i)}`")
      c.colType match {
        case "TIME"  => (unix_micros(in.cast(TimestampType)) * 1000L).as("time_ns")
        case "TAG"   => in.cast(StringType).as(c.physical)
        case _       => in.cast(sparkType(c.dataType)).as(c.physical)
      }
    }
    out.select(cols: _*)
  }

  /** A stream table as a streaming DataFrame: readStream over the
    * source tskv table's parquet path (each INSERT lands one file →
    * one micro-batch at maxFilesPerTrigger=1), projected
    * to the declared columns, watermarked on the event-time column
    * with the reference's 0ms delay (the explain in stream/basic.slt:
    * "Watermark: event_time=time, delay=0ms"). */
  private def streamSource(st: StreamTableDef): DataFrame = {
    import org.apache.spark.sql.functions._
    val srcT = catalog.table(session.tenant, st.db, st.table)
    val phys = StructType(
      StructField("time_ns", LongType) +:
      srcT.columns.filter(_.colType != "TIME").sortBy(_.ordinal)
        .map(c => StructField(c.physical,
          if (c.colType == "TAG") StringType else sparkType(c.dataType))))
    val raw = spark.readStream.schema(phys)
      .option("maxFilesPerTrigger", "1")
      .parquet(tablePath(st.db, st.table))
    val byName = srcT.columns.map(c => c.name -> c).toMap
    val cols = st.columns.map { sc =>
      if (sc.name.equalsIgnoreCase("time"))
        timestamp_micros(expr("time_ns div 1000")).as("time")
      else col(byName(sc.name).physical).as(sc.name)
    }
    raw.select(cols: _*).withWatermark(st.eventTimeColumn, "0 milliseconds")
  }

  /** The reference's streaming-query restrictions
    * (stream/unsupport_op.slt): reject plans Spark could sometimes run
    * but the reference's engine defines as unsupported, with its
    * wording. */
  private def checkStreamingPlan(df: DataFrame): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def bad(what: String): Nothing =
      AdminError.planning(s"Unsupported operation in streaming query: $what")
    val plan = df.queryExecution.analyzed
    if (plan.collect { case a: Aggregate => a }.size > 1) bad("multiple aggregate")
    plan.foreach {
      case j: Join =>
        if (j.condition.isEmpty || j.joinType == org.apache.spark.sql.catalyst.plans.Cross)
          bad("cross join")
        else bad("join")
      case _: GlobalLimit => bad("limit")
      case _: Sort        => bad("sort")
      case _              => ()
    }
  }

  /** INSERT INTO sink [(cols)] SELECT ... — batch append when every
    * source is a tskv table; a CONTINUOUS stream job when the SELECT
    * reads a stream table (the reference's stream-job creation). The
    * job is Structured Streaming end to end: file-stream source →
    * watermarked aggregate → foreachBatch append into the sink table's
    * parquet storage; micro-batch work is all on executors. */
  private def insertSelect(db: String, sinkT: TableDef, colNames: Vector[String],
                           selectSql: String): DataFrame = {
    val targets: Vector[ColumnDef] =
      if (colNames.isEmpty) sinkT.columns.sortBy(_.ordinal)
      else {
        val byName = sinkT.columns.map(c => c.name.toLowerCase -> c).toMap
        colNames.map(cn => byName.getOrElse(cn.toLowerCase,
          AdminError.meta(s"Column not found: \"$cn\"")))
      }
    val d = catalog.database(session.tenant, session.database)
    val streamRefs = d.streamTables.values.filter(st =>
      ("(?i)\\b" + java.util.regex.Pattern.quote(st.name) + "\\b").r
        .findFirstIn(selectSql).isDefined).toVector
    val sinkPath = tablePath(db, sinkT.name)
    if (streamRefs.isEmpty) {
      val out = select(rewriteTimeWindow(selectSql))
      val projected = projectForStorage(targets, out)
      // one pass: the inserted row count the reference answers is an
      // observe metric on the write action itself
      val n = appendWriteCounted(projected, sinkPath)
      mkDf(Seq("rows"), Seq(Row(n)), Seq(LongType))
    } else {
      val st = streamRefs.head
      val registered = scala.collection.mutable.ArrayBuffer.empty[String]
      def registerView(df: DataFrame, name: String): Unit = {
        try df.createTempView(name)
        catch { case _: org.apache.spark.sql.AnalysisException =>
          AdminError.semantic(
            s"temporary view '$name' already exists in this SparkSession") }
        registered += name
      }
      val job = try {
        registerView(streamSource(st), st.name)
        // batch tables referenced alongside the stream (joins etc.)
        // must RESOLVE so the unsupported-op check can name the real
        // problem ("join"), not an unresolved-table analysis error
        registerDbTableViews(selectSql, registerView)
        val q = spark.sql(rewriteTimeWindow(selectSql))
        checkStreamingPlan(q)
        val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_job").toString
        // Size the stream's shuffle/state partition count to MICRO-BATCH
        // volume, not the session's batch width (guide §2.2): a trigger
        // carries one landed file's worth of rows, and every state
        // partition costs a store open/commit plus a sink file PER
        // BATCH whatever it holds. The conf read at query start pins
        // the stateful operators' partitioning for the checkpoint's
        // lifetime: the width is DERIVED from the bytes one trigger
        // carries (source-table bytes ÷ part files, one file per
        // trigger) through Sizing's 8 MB/partition rule.
        // Caveat (ADVICE r14): it is derived ONCE here from the
        // source's CURRENT bytes and pinned for the checkpoint's
        // lifetime — a job created against an empty/young table keeps
        // the floor width even if the table grows; recreate the job
        // after bulk growth.
        val src = tablePath(st.db, st.table)
        val streamParts = graft.Sizing.streamReplayParts(src,
          graft.Sizing.parquetFileCount(src))
        // started the way a replay starts: scoped confs (an unset conf
        // stays unset), shared compiled code, one stage per micro-batch
        // at width 1
        graft.queries.StreamQueries.streamScope(spark, streamParts, q) {
          _.foreachBatch((batch: DataFrame, _: Long) =>
              appendWrite(projectForStorage(targets, batch), sinkPath))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .start()
        }
      } finally registered.foreach(v => spark.catalog.dropTempView(v))
      streamJobs += job
      mkDf(Seq("job"), Seq(Row(job.id.toString)), Seq(StringType))
    }
  }

  // ---- schemaless line-protocol write --------------------------------

  /** The reference's PRIMARY ingest path, schema-first ("schemaless")
    * write: line-protocol rows CREATE the target tskv table implicitly
    * and ADD columns on first sight, typed by the LP value
    * ([[AdminEngine.lpType]]); a value whose type disagrees with the
    * declared column is the reference's field-type conflict error.
    * Two passes, both distributed: (1) a schema-sized distinct over
    * (measurement, column, kind, type) drives the driver-side catalog
    * mutations; (2) per measurement, one narrow typed projection
    * appends parquet under the PHYSICAL column ids — same storage
    * contract as INSERT, so RENAME/DROP/re-ADD semantics hold for
    * wire-written columns too. Returns (measurement, rows) counts.
    */
  def writeLines(db: String,
                 lines: org.apache.spark.sql.Dataset[String]): DataFrame = synchronized {
    requireOnDb(session.tenant, db, "Write")
    import org.apache.spark.sql.functions._
    val parsed = graft.sources.LineProtocol.parse(lines)
    val sp = lines.sparkSession
    import sp.implicits._
    // PASS 1 — observed schema (bounded collect: one row per distinct
    // (measurement, column, type), i.e. schema-sized, never data-sized)
    val observed = parsed
      .select(col("measurement"), col("tags"), col("fields"))
      .as[(String, Map[String, String], Map[String, String])]
      .flatMap { case (m, tags, fields) => AdminEngine.lpObserved(m, tags, fields) }
      .distinct().collect().toSeq
    val byMeasurement = observed.groupBy(_._1).toSeq.sortBy(_._1)
    byMeasurement.foreach { case (m, cols) =>
      catalog.validateName(m)
      val tagsSeen = cols.filter(_._3 == "TAG").map(_._2).distinct.sorted
      val fieldsSeen = cols.filter(_._3 == "FIELD").map(c => (c._2, c._4)).distinct
      fieldsSeen.groupBy(_._1).find(_._2.size > 1).foreach { case (f, ts) =>
        AdminError.semantic(
          s"field type conflict: $f arrives as ${ts.map(_._2).mkString(" and ")} in measurement $m")
      }
      val d = catalog.database(session.tenant, db)
      d.tables.get(m) match {
        case None =>
          val tcols = Vector(ColumnDef("time", "TIME", "TIMESTAMP(NANOSECOND)", "DEFAULT", 0)) ++
            tagsSeen.zipWithIndex.map { case (tn, i) =>
              ColumnDef(tn, "TAG", "STRING", "DEFAULT", i + 1) } ++
            fieldsSeen.sortBy(_._1).zipWithIndex.map { case ((fn, ft), i) =>
              ColumnDef(fn, "FIELD", ft, "DEFAULT", tagsSeen.size + 1 + i) }
          catalog.createTable(session.tenant, db, TableDef(m, tcols), ifNotExists = false)
        case Some(t0) =>
          // extend in place; a known FIELD must keep its declared type
          fieldsSeen.foreach { case (fn, ft) =>
            t0.columns.find(_.name == fn).foreach { c =>
              if (c.colType == "TAG")
                AdminError.semantic(s"column $fn of measurement $m is a TAG, written as a field")
              if (c.colType == "FIELD" && c.dataType != ft)
                AdminError.semantic(
                  s"field type conflict: $fn is ${c.dataType}, written as $ft in measurement $m")
            }
          }
          tagsSeen.filterNot(tn => t0.columns.exists(_.name == tn)).foreach { tn =>
            catalog.alterTable(session.tenant, db, m, t => {
              val tagOrd = t.tags.map(_.ordinal).maxOption.getOrElse(0) + 1
              val shifted = t.columns.map(c =>
                if (c.colType == "FIELD") c.copy(ordinal = c.ordinal + 1) else c)
              t.copy(columns = shifted :+ ColumnDef(tn, "TAG", "STRING", "DEFAULT",
                  tagOrd, storedId = s"__c${t.nextColId}_$tn"),
                nextColId = t.nextColId + 1)
            })
          }
          fieldsSeen.filterNot(fc => t0.columns.exists(_.name == fc._1))
            .sortBy(_._1).foreach { case (fn, ft) =>
              catalog.alterTable(session.tenant, db, m, t => {
                t.copy(columns = t.columns :+ ColumnDef(fn, "FIELD", ft, "DEFAULT",
                    t.columns.map(_.ordinal).max + 1, storedId = s"__c${t.nextColId}_$fn"),
                  nextColId = t.nextColId + 1)
              })
            }
      }
    }
    // PASS 2 — distributed typed append per measurement
    val serverNowNs = nowNs()
    val counts = byMeasurement.map { case (m, _) =>
      val t = catalog.table(session.tenant, db, m)
      val sub = parsed.filter(col("measurement") === m)
      def typed(raw: org.apache.spark.sql.Column, dt: String): org.apache.spark.sql.Column =
        dt match {
          case "BIGINT" => regexp_replace(raw, "i$", "").cast(LongType)
          case "BIGINT UNSIGNED" => regexp_replace(raw, "u$", "").cast(LongType)
          case "BOOLEAN" => lower(substring(raw, 1, 1)) === "t"
          case "STRING" =>
            // quoted LP strings: strip the quotes, unescape \"
            regexp_replace(
              regexp_replace(regexp_replace(raw, "^\"", ""), "\"$", ""),
              "\\\\\"", "\"")
          case _ => raw.cast(DoubleType)
        }
      val proj =
        when(col("ts") >= 0L, col("ts")).otherwise(lit(serverNowNs)).as("time_ns") +:
        t.columns.filter(_.colType != "TIME").sortBy(_.ordinal).map { c =>
          if (c.colType == "TAG") element_at(col("tags"), c.name).as(c.physical)
          else typed(element_at(col("fields"), c.name), c.dataType).as(c.physical)
        }
      val frame = sub.select(proj: _*)
      // rows written measured during the write (observe metric) — the
      // reference answers rows written; no second pass over the slice
      (m, appendWriteCounted(frame, tablePath(db, m)))
    }
    mkDf(Seq("measurement", "rows"),
      counts.map { case (m, n) => Row(m, n) }, Seq(StringType, LongType))
  }

  /** Read a TSKV table's stored rows as a DataFrame with a `time`
    * timestamp column (µs-truncated view of the stored ns). Columns
    * resolve by PHYSICAL id and surface under their CURRENT catalog
    * names — a renamed column keeps its data, a dropped+re-added name
    * reads as nulls (fresh id), exactly the reference's column-id
    * semantics. Catalog columns absent from storage (never inserted)
    * surface as typed nulls so the schema is total. */
  def readTable(db: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val t = catalog.table(session.tenant, db, name)
    val raw = readTableRaw(db, name)
    val ordered = Seq(col("time")) ++
      t.columns.filter(_.colType != "TIME").sortBy(_.ordinal).map { c =>
        if (raw.columns.contains(c.physical)) col(c.physical).as(c.name)
        else lit(null).cast(if (c.colType == "TAG") StringType else sparkType(c.dataType)).as(c.name)
      }
    raw.withColumn("time", timestamp_micros(expr("time_ns div 1000")))
      .select(ordered: _*)
  }

  /** The merged PHYSICAL frame of a tskv table: one row per
    * (tags, time) key, each field independently resolved to its LAST
    * NON-NULL write — tskv's upsert semantics (dql/file_query.slt:
    * re-INSERTing a key reads the new fields; sqlancer/repeat_write
    * .slt: partial writes merge field-by-field; copy_into_table.slt:
    * re-importing the same file leaves the count unchanged). Write
    * order is the (__seq_stmt, __seq_row) stamp [[appendWrite]] puts
    * on every append; rows written before the stamp existed sort
    * first (-1). Keyed on RAW time_ns so ns precision survives the
    * merge. One partial-aggregable hash aggregate — the same merge
    * tskv pays in its LSM read path, and the shape of ts_upsert_lww.
    */
  private def readTableRaw(db: String, name: String): DataFrame = {
    import org.apache.spark.sql.functions._
    requireOnDb(session.tenant, db, "Read")
    healInterruptedRewrite(db, name)
    val t = catalog.table(session.tenant, db, name)
    // EXPLICIT catalog-derived schema instead of mergeSchema: the
    // catalog already knows every live physical column and its storage
    // type (appendWrite casts to exactly these), so handing the reader
    // the schema skips the distributed footer-union job mergeSchema
    // spawns on EVERY table read (guide §6 — at sf0.1 this was one
    // extra Spark job per statement in the DML lanes). Files written
    // before an ADD COLUMN simply read the newer columns as null —
    // the same semantics the footer union produced; dropped columns'
    // stale physical ids are invisible either way (the aggregate below
    // only touches catalog columns).
    val physSchema = StructType(
      StructField("time_ns", LongType) +:
        (t.columns.filter(_.colType != "TIME").sortBy(_.ordinal).map(c =>
          StructField(c.physical,
            if (c.colType == "TAG") StringType else sparkType(c.dataType))) ++
          Seq(StructField(AdminEngine.SeqStmtCol, LongType),
            StructField(AdminEngine.SeqRowCol, LongType))))
    val raw = spark.read.schema(physSchema).parquet(tablePath(db, name))
    val ord = struct(
      coalesce(col(AdminEngine.SeqStmtCol), lit(-1L)),
      coalesce(col(AdminEngine.SeqRowCol), lit(-1L)))
    val tagPhys = t.tags.sortBy(_.ordinal).map(_.physical).filter(raw.columns.contains)
    val keys = col("time_ns") +: tagPhys.map(col)
    val fieldPhys = t.fields.sortBy(_.ordinal).map(_.physical).filter(raw.columns.contains)
    val aggs = fieldPhys.map(f =>
      max_by(col(f), when(col(f).isNotNull, ord)).as(f)) :+
      max(ord).as(AdminEngine.SeqOrdCol)
    raw.groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** SELECT passthrough: resolves table names in the session tenant's
    * current database (tenant isolation: a table of tenant A is
    * unresolvable from tenant B — user_access.slt), registers sys
    * views, rewrites `information_schema.x`/`cluster_schema.x` and
    * @@variables, then delegates to spark.sql — the full Catalyst
    * surface applies.
    */
  /** Integer literals compared against `time` are NANOSECOND epochs in
    * the reference (type_conversion/timestamp.slt: `where time =
    * 12345678865` plans TimestampNanosecond) — rewrite them to the
    * engine's µs timestamp grain. Sub-µs exactness is only expressible
    * where time_ns itself is in scope (the DML paths use it raw). */
  private def rewriteIntTimeLiterals(q: String): String =
    "(?i)\\btime\\s*(=|!=|<>|<=|>=|<|>)\\s*(\\d+)\\b".r.replaceAllIn(q,
      m => s"time ${m.group(1)} timestamp_micros(${m.group(2)} div 1000)")

  /** The exact (ns) form for frames that carry raw time_ns. */
  private def rewriteIntTimeLiteralsNsExact(c: String): String =
    "(?i)\\btime\\s*(=|!=|<>|<=|>=|<|>)\\s*(\\d+)\\b".r.replaceAllIn(c,
      m => s"time_ns ${m.group(1)} ${m.group(2)}L")

  private def select(sql: String, allowStream: Boolean = false): DataFrame = {
    requireMember(session.tenant)
    var q = rewriteIntTimeLiterals(sql)
    // @@variables (variable/system.slt)
    val varPat = "@@([A-Za-z_]*)".r
    q = varPat.replaceAllIn(q, m => m.group(1).toLowerCase match {
      case "cluster_name"    => "'graft'"
      case "server_version"  => "'4.1.2-graft'"
      case "deployment_mode" => "'singleton'"
      case "node_id"         => "'1'"
      case other             => AdminError.parser(s"variable [\"@@$other\"] has no type information")
    })
    // bare table refs in OTHER tenants must not resolve: qualified refs
    // like tenant.db.table are rejected BEFORE any view registration
    if ("(?i)\\bfrom\\s+[A-Za-z_][\\w]*\\.[A-Za-z_][\\w]*\\.[A-Za-z_]".r.findFirstIn(q).isDefined)
      AdminError.meta("cross-tenant qualified table references are not supported")
    val sysPat = "(?i)\\b(information_schema|cluster_schema|usage_schema)\\s*\\.\\s*([A-Za-z_]+)".r
    val sysRefs = sysPat.findAllMatchIn(q)
      .map(m => (m.group(1).toLowerCase, m.group(2).toLowerCase)).toSet
    q = sysPat.replaceAllIn(q, m => s"${m.group(1).toLowerCase}_${m.group(2).toLowerCase}")
    // EVERY view registered below — sys views included — is dropped in
    // the finally, whatever throws in between: a leaked view in the
    // shared SparkSession would either hand tenant A's rows to tenant B
    // (data views) or bypass visibleTenants scoping on a later
    // underscore-form reference (sys views). Analysis in spark.sql is
    // eager, so the returned frame stays valid after the drop.
    val registered = scala.collection.mutable.ArrayBuffer.empty[String]
    // createTempView (NOT createOrReplace): if the shared session
    // already holds a user temp view under this name, replacing it and
    // dropping it in the finally would permanently destroy state
    // outside the admin surface — fail loudly instead
    def registerView(df: DataFrame, name: String): Unit = {
      try df.createTempView(name)
      catch { case _: org.apache.spark.sql.AnalysisException =>
        AdminError.semantic(
          s"temporary view '$name' already exists in this SparkSession; " +
          "drop it before running admin SQL that references that name") }
      registered += name
    }
    try {
      sysRefs.foreach { case (schema, tbl) =>
        registerView(sysTable(schema, tbl), s"${schema}_$tbl")
      }
      // register the current database's tables (only those referenced);
      // the Read gate applies whether or not the table has data yet
      val t = catalog.tenant(session.tenant)
      // a stream table outside INSERT..SELECT is the reference's
      // not-implemented error (stream/unsupport_op.slt) — except under
      // EXPLAIN, which the reference answers with the stream's logical
      // plan (dml/explain/explain_stream_query.slt: "explain select *
      // from TskvTable" prints Watermark + StreamScan); there the
      // stream table resolves to its readStream frame, never started
      t.databases.get(session.database).foreach { d =>
        d.streamTables.values.filter(st =>
          ("(?i)\\b" + java.util.regex.Pattern.quote(st.name) + "\\b").r.findFirstIn(q).isDefined)
          .foreach { st =>
            if (allowStream) registerView(streamSource(st), st.name)
            else AdminError.notImplemented(
              "Stream table can only be used as source table in insert select statements.")
          }
      }
      registerDbTableViews(q, registerView)
      spark.sql(q)
    } finally registered.foreach(v => spark.catalog.dropTempView(v))
  }

  /** Register every tskv table of the session database that `q`
    * references (Read-gated, typed-empty when never written) through
    * the caller's collision-proof registrar. */
  private def registerDbTableViews(q: String,
                                   registerView: (DataFrame, String) => Unit): Unit =
    catalog.tenant(session.tenant).databases.get(session.database).foreach { d =>
      d.tables.keys.foreach { tn =>
        val referenced = ("(?i)\\b" + java.util.regex.Pattern.quote(tn) + "\\b").r
          .findFirstIn(q).isDefined
        if (referenced) {
          requireOnDb(session.tenant, session.database, "Read")
          registerView(readTableOrEmpty(session.database, tn), tn)
        }
      }
    }

  // ------------------------------------------------------------------
  // sys tables
  // ------------------------------------------------------------------

  /** Tenants visible to the session: admins see the cluster, others
    * their own tenant (sys_table/cluster_schema/tenants.slt's
    * visibility flip under a non-admin user). */
  private def visibleTenants: Vector[TenantDef] =
    if (isAdmin(session.user)) catalog.tenants.values.toVector.filterNot(_.hidden)
    else catalog.tenants.get(session.tenant).filterNot(_.hidden)
      .filter(t => roleOf(t, session.user).isDefined).toVector

  private def jsonStr(s: Option[String]): String =
    s.map(v => "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\"").getOrElse("null")

  /** drop_after renders as the reference's serde'd CnosDuration —
    * `{"duration":{"secs":..,"nanos":..},"is_inf":false}` — so the
    * slt's LIKE '%after":{"duration%' probe matches
    * (ddl/alter_drop_after.slt; common/utils/src/duration.rs). */
  private def durationJson(s: Option[String]): String = s match {
    case None => "null"
    case Some(v) =>
      val ns = MetaCatalog.parseDuration(v)
      s"""{"duration":{"secs":${ns / 1000000000L},"nanos":${ns % 1000000000L}},"is_inf":false}"""
  }

  def sysTable(schema: String, name: String): DataFrame = (schema, name) match {
    case ("cluster_schema", "tenants") =>
      val rows = visibleTenants.map { t =>
        val opts = s"""{"comment":${jsonStr(t.comment)},"limiter_config":null,""" +
          s""""drop_after":${durationJson(t.dropAfter)},"tenant_is_hidden":${t.hidden}}"""
        Row(t.name, opts)
      }
      mkDf(Seq("tenant_name", "tenant_options"), rows, Seq(StringType, StringType))
    case ("cluster_schema", "users") =>
      val us = if (isAdmin(session.user)) catalog.users.values.toVector
               else catalog.users.get(session.user).toVector
      val rows = us.map { u =>
        val parts = Vector(Some("\"hash_password\":\"*****\"")).flatten ++
          (if (u.mustChangePassword) Vector(s""""must_change_password":true""") else Vector.empty) ++
          u.comment.map(c => s""""comment":${jsonStr(Some(c))}""").toVector
        Row(u.name, u.admin, "{" + parts.mkString(",") + "}")
      }
      mkDf(Seq("user_name", "is_admin", "user_options"), rows,
        Seq(StringType, BooleanType, StringType))
    case ("information_schema", "databases") =>
      val rows = for {
        t <- visibleTenants
        (dn, d) <- t.databases.toVector.sortBy(_._1) if !d.hidden
      } yield Row(t.name, dn, d.ttlNs.map(formatDuration).getOrElse("INF"), d.shard.toLong,
        formatDuration(d.vnodeDurationNs), d.replica.toLong, d.precision,
        "128 MiB", 16L, "128 MiB", false, false, 32L)
      mkDf(Seq("tenant_name", "database_name", "ttl", "shard", "vnode_duration",
        "replica", "precision", "max_memcache_size", "memcache_partitions",
        "wal_max_file_size", "wal_sync", "strict_write", "max_cache_readers"),
        rows, Seq(StringType, StringType, StringType, LongType, StringType, LongType,
          StringType, StringType, LongType, StringType, BooleanType, BooleanType, LongType))
    case ("information_schema", "tables") =>
      val rows = for {
        t <- visibleTenants
        (dn, d) <- t.databases.toVector.sortBy(_._1) if !d.hidden
        tn <- d.tables.keys.toVector.sorted
      } yield Row(t.name, dn, tn, "TABLE", "TSKV", "TODO")
      mkDf(Seq("tenant_name", "database_name", "table_name", "table_type",
        "table_engine", "table_options"), rows,
        Seq(StringType, StringType, StringType, StringType, StringType, StringType))
    case ("information_schema", "columns") =>
      // tags + fields only; TIME omitted (columns.slt)
      val rows = for {
        t <- visibleTenants
        (dn, d) <- t.databases.toVector.sortBy(_._1) if !d.hidden
        (tn, tbl) <- d.tables.toVector.sortBy(_._1)
        c <- tbl.columns.sortBy(_.ordinal) if c.colType != "TIME"
      } yield Row(t.name, dn, tn, c.name, c.colType, c.ordinal.toLong, "NULL", true,
        c.dataType, c.codec)
      mkDf(Seq("tenant_name", "database_name", "table_name", "column_name",
        "column_type", "ordinal_position", "column_default", "is_nullable",
        "data_type", "compression_codec"), rows,
        Seq(StringType, StringType, StringType, StringType, StringType, LongType,
          StringType, BooleanType, StringType, StringType))
    case ("information_schema", "database_privileges") =>
      val t = catalog.tenant(session.tenant)
      val rows = t.grants.sortBy(g => (g.database, g.role))
        .map(g => Row(t.name, g.database, g.level, g.role))
      mkDf(Seq("tenant_name", "database_name", "privilege_type", "role_name"),
        rows, Seq(StringType, StringType, StringType, StringType))
    case ("information_schema", "members") =>
      val t = catalog.tenant(session.tenant)
      val rows = t.members.toVector.sortBy(_._1).map { case (u, r) => Row(u, r) }
      mkDf(Seq("user_name", "role_name"), rows, Seq(StringType, StringType))
    case ("information_schema", "roles") =>
      val t = catalog.tenant(session.tenant)
      val canSee = isAdmin(session.user) || roleOf(t, session.user).exists(_._2 == "owner")
      val rows =
        if (!canSee) Vector.empty // member sees none (dcl_role.slt)
        else Vector(Row("member", "system", "NULL"), Row("owner", "system", "NULL")) ++
          t.roles.values.toVector.sortBy(_.name).map(r => Row(r.name, "custom", r.inherit))
      mkDf(Seq("role_name", "role_type", "inherit_role"), rows,
        Seq(StringType, StringType, StringType))
    case ("information_schema", "enabled_roles") =>
      val t = catalog.tenant(session.tenant)
      val rows = roleOf(t, session.user).toVector.map { case (r, _) => Row(r) }
      mkDf(Seq("role_name"), rows, Seq(StringType))
    case ("information_schema", "queries") =>
      val rows = running.toVector.map { case (id, (qt, text, user, db)) =>
        Row(id.toString, qt, text, user, session.tenant, db, "RUNNING")
      }
      mkDf(AdminEngine.QueriesColumns, rows,
        Seq(StringType, StringType, StringType, StringType, StringType,
          StringType, StringType))
    case ("information_schema", "resource_status") =>
      val rows = catalog.resources.values.toVector.sortBy(_.name)
        .map(r => Row(r.name, r.action, r.tryCount.toString, r.status))
      mkDf(Seq("name", "action", "try_count", "status"), rows,
        Seq(StringType, StringType, StringType, StringType))
    // usage_schema http metrics — real counters from the attached wire
    // listener (usage_schema/http_metrics.slt tags rows (api, host);
    // host here is the loopback listener address). Cluster-global
    // traffic volumes: admin-only, like the reference's usage_schema
    // privilege gate (usage_schema_privilege.slt)
    case ("usage_schema", _)
        if !isAdmin(session.user) =>
      AdminError.privilege(s"Read on usage_schema of tenant ${session.tenant}")
    case ("usage_schema", "http_data_in") =>
      val rows = Option(wire).toVector.flatMap(w =>
        w.metrics.dataInRows.map { case (api, tn, u, v) => Row(api, w.base, tn, u, v) })
      mkDf(Seq("api", "host", "tenant", "user", "value"), rows,
        Seq(StringType, StringType, StringType, StringType, LongType))
    case ("usage_schema", "http_writes") =>
      val rows = Option(wire).toVector.flatMap(w =>
        w.metrics.writeRows.map { case (api, tn, u, v) => Row(api, w.base, tn, u, v) })
      mkDf(Seq("api", "host", "tenant", "user", "value"), rows,
        Seq(StringType, StringType, StringType, StringType, LongType))
    case ("usage_schema", "http_queries") =>
      val rows = Option(wire).toVector.map(w =>
        Row("/api/v1/sql", w.base, w.metrics.queries.get))
      mkDf(Seq("api", "host", "value"), rows, Seq(StringType, StringType, LongType))
    case ("usage_schema", "http_data_out") =>
      val rows = Option(wire).toVector.map(w =>
        Row("/api/v1/sql", w.base, w.metrics.dataOut.get))
      mkDf(Seq("api", "host", "value"), rows, Seq(StringType, StringType, LongType))
    case _ => AdminError.meta(s"Table not found: \"$schema.$name\"")
  }

  // ------------------------------------------------------------------
  // HTTP entry point (the reference's /api/v1/sql route)
  // ------------------------------------------------------------------

  /** Basic-auth check: the user must exist and the password must match
    * its stored SHA-256 (users created without a password accept an
    * empty one — the reference's fresh-install root). */
  def authenticate(user: String, password: String): Boolean =
    catalog.users.get(user).exists { u =>
      u.passwordHash match {
        case Some(h) => MetaCatalog.sha256Hex(password) == h
        case None    => password.isEmpty
      }
    }

  /** One authenticated HTTP statement: basic-auth credentials +
    * tenant/db request params select the session, the statement runs
    * through [[execute]], and row-returning statements come back as
    * CSV (header + RFC-4180-quoted rows). Status mapping mirrors the
    * reference's http_service error replies: 401 bad credentials, 403
    * insufficient privileges / not a member, 404 missing objects, 422
    * everything else the planner rejects.
    */
  /** Authenticate + authorize one wire WRITE (the reference's
    * construct_write_context_and_check_privilege behind every write
    * route — http_service.rs:484 et al): credentials must verify and
    * the user needs Write on (tenant, db). Status mapping matches
    * execHttp's. Wire this as [[graft.sources.WireHttp.start]]'s
    * `writeAuth` so rejected POSTs never reach the spool. */
  def authWrite(user: String, password: String, tenant: String,
                db: String): Either[(Int, String), Unit] = synchronized {
    if (!authenticate(user, password))
      return Left(401 -> s"Auth error: invalid credentials for user $user")
    val saved = (session.user, session.tenant, session.database)
    session.user = user; session.tenant = tenant; session.database = db
    // existence first (404 for an unknown tenant/db, as the sql route
    // answers), then the Write privilege (403)
    try { catalog.database(tenant, db); requireOnDb(tenant, db, "Write"); Right(()) }
    catch {
      case ae: AdminError =>
        val code = ae.kind match {
          case "Auth error"              => 401
          case "Insufficient privileges" => 403
          case "Meta"                    => 404
          case _                         => 422
        }
        Left(code -> s"${ae.kind}: ${ae.message}")
    } finally {
      session.user = saved._1; session.tenant = saved._2; session.database = saved._3
    }
  }

  def execHttp(user: String, password: String, tenant: String, db: String,
               sql: String): Either[(Int, String), String] = synchronized {
    if (!authenticate(user, password))
      return Left(401 -> s"Auth error: invalid credentials for user $user")
    val saved = (session.user, session.tenant, session.database)
    session.user = user; session.tenant = tenant; session.database = db
    try {
      execute(sql) match {
        case None => Right("")
        case Some(df) =>
          def csv(v: Any): String = {
            val s = if (v == null) "" else v.toString
            if (s.exists(c => c == ',' || c == '"' || c == '\n'))
              "\"" + s.replace("\"", "\"\"") + "\"" else s
          }
          val header = df.columns.mkString(",")
          val body = df.collect().iterator // HTTP result set: bounded by the query's own LIMIT, as in the reference
            .map(_.toSeq.map(csv).mkString(",")).mkString("\n")
          Right(if (body.isEmpty) header else header + "\n" + body)
      }
    } catch {
      case ae: AdminError =>
        val code = ae.kind match {
          case "Auth error"               => 401
          case "Insufficient privileges"  => 403
          case "Meta"                     => 404
          case _                          => 422
        }
        Left(code -> s"${ae.kind}: ${ae.message}")
      case e: Exception =>
        Left(422 -> ("Build logical plan: " + Option(e.getMessage).getOrElse(e.getClass.getName)))
    } finally {
      session.user = saved._1; session.tenant = saved._2; session.database = saved._3
    }
  }

  // ------------------------------------------------------------------
  // database TTL → lake lifecycle
  // ------------------------------------------------------------------

  /** Enforce a database's TTL against a day-partitioned lake root:
    * cutoff = now − ttl, expiry via the O(expired-days) Hadoop-FS
    * directory lifecycle. The admin surface supplies the POLICY
    * (catalog TTL); [[graft.operators.Dml.expireDays]] supplies the
    * 100 TB MECHANISM. No-op for TTL-less databases. A caller that
    * knows the layout's file schema passes it as `fileSchema`, so the
    * boundary day is read without a schema-inference job.
    */
  def enforceTtl(db: String, lakeRoot: String, asOfNs: Long,
                 fileSchema: Option[StructType] = None): Option[graft.operators.Dml.ExpireStats] = {
    requireOnDb(session.tenant, db, "Write")
    val d = catalog.database(session.tenant, db)
    d.ttlNs.map(ttl => graft.operators.Dml.expireDays(spark, lakeRoot, asOfNs - ttl, fileSchema))
  }

  // ------------------------------------------------------------------

  private def mkDf(names: Seq[String], rows: Seq[Row], types: Seq[DataType]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val schema = StructType(names.zip(types).map { case (n, t) => StructField(n, t) })
    spark.createDataFrame(rows.toList.asJava, schema)
  }
}

object AdminEngine {
  /** Physical stamp columns every storage append carries; merge-on-
    * read ([[AdminEngine.readTable]]) orders duplicate (tags, time)
    * keys by them — the engine's stand-in for tskv's per-point WAL
    * sequence. */
  val SeqStmtCol = "__seq_stmt"
  val SeqRowCol = "__seq_row"
  val SeqOrdCol = "__seq_ord"

  /** information_schema.queries / SHOW QUERIES column list — shared
    * with the spark.sql front's fixed output schema so the two cannot
    * drift. */
  val QueriesColumns: Seq[String] =
    Seq("query_id", "query_type", "query_text", "user_name", "tenant_name",
      "database_name", "state")

  /** A line-protocol field value's DECLARED tskv type — the reference's
    * value dispatch (common/protocol_parser/src/line_protocol/
    * parser.rs:328): `Ni` BIGINT, `Nu` BIGINT UNSIGNED, bare numeric
    * DOUBLE, quoted STRING, t/f BOOLEAN. Static (companion) so the
    * schema-observation closure serializes without the engine. */
  def lpType(raw: String): String = {
    val r = raw.trim
    if (r.isEmpty) "STRING"
    else r.charAt(0) match {
      case 't' | 'T' | 'f' | 'F' => "BOOLEAN"
      case '"'                   => "STRING"
      case c if c == '+' || c == '-' || c.isDigit =>
        if (r.endsWith("i")) "BIGINT"
        else if (r.endsWith("u")) "BIGINT UNSIGNED"
        else "DOUBLE"
      case _ => "STRING"
    }
  }

  /** One parsed line's schema facts: (measurement, column, TAG|FIELD,
    * declared type). Static for executor-side use. */
  def lpObserved(m: String, tags: Map[String, String],
                 fields: Map[String, String]): Iterator[(String, String, String, String)] =
    tags.keysIterator.map(k => (m, k, "TAG", "STRING")) ++
      fields.iterator.map { case (k, v) => (m, k, "FIELD", lpType(v)) }
}

/** Hand-rolled tokenizer/cursor for the admin statement grammar.
  * Tokens: bare identifiers/keywords (case preserved; matched
  * case-insensitively), single- or double-quoted names/strings,
  * integer literals, and single-char symbols. Statement keywords are
  * case-insensitive throughout, mirroring the reference's parser
  * (`CREATE DATABASE x WITH TTl '10d' SHARD 5 VNOdE_DURATiON '3d'` is
  * valid — ddl/alter_database.slt).
  */
final class AdminParser(sql: String) {
  import AdminParser._

  private val toks: Vector[Tok] = tokenize(sql)
  private var pos = 0

  def done: Boolean = pos >= toks.size
  def peekOpt: Option[Tok] = if (done) None else Some(toks(pos))
  def peekUpperOpt: Option[String] = peekOpt.collect {
    case Word(w) => w.toUpperCase
    case Sym(s)  => s
  }
  def peekUpper: String =
    peekUpperOpt.getOrElse(AdminError.parser("Unexpected end of statement"))

  def next(): String = {
    val t = peekOpt.getOrElse(AdminError.parser("Unexpected end of statement"))
    pos += 1
    t match { case Word(w) => w; case Quoted(s, _) => s; case Sym(s) => s; case Num(n) => n }
  }

  /** Consume one token rendered back as Spark-SQL-parseable text —
    * string literals re-quoted, double-quoted identifiers as
    * backticks. Used to reconstruct WHERE clauses for Catalyst. */
  def nextRendered(): String = {
    val t = peekOpt.getOrElse(AdminError.parser("Unexpected end of statement"))
    pos += 1
    t match {
      case Word(w)          => w
      case Num(n)           => n
      case Sym(s)           => s
      case Quoted(s, '\'')  => "'" + s.replace("'", "''") + "'"
      case Quoted(s, _)     => "`" + s.replace("`", "``") + "`"
    }
  }

  /** True when the statement has no more tokens. */
  def consumeRest(): Unit = pos = toks.size

  /** Cursor save/restore, for speculative parses that fall back to a
    * whole-clause Catalyst evaluation (INSERT ... VALUES with
    * expressions). */
  def mark(): Int = pos
  def reset(m: Int): Unit = pos = m
  def nextUpper(): String = next().toUpperCase

  def tryKw(kw: String): Boolean = peekOpt match {
    case Some(Word(w)) if w.equalsIgnoreCase(kw) => pos += 1; true
    case _ => false
  }
  def expectKw(kw: String): Unit =
    if (!tryKw(kw)) AdminError.parser(s"Expected $kw, found: ${peekUpperOpt.getOrElse("<eof>")}")
  def trySym(s: String): Boolean = peekOpt match {
    case Some(Sym(x)) if x == s => pos += 1; true
    case _ => false
  }
  def expectSym(s: String): Unit =
    if (!trySym(s)) AdminError.parser(s"Expected '$s', found: ${peekUpperOpt.getOrElse("<eof>")}")

  def tryIfNotExists(): Boolean =
    if (tryKw("IF")) { expectKw("NOT"); expectKw("EXISTS"); true } else false
  def tryIfExists(): Boolean =
    if (tryKw("IF")) { expectKw("EXISTS"); true } else false

  /** An object name: bare identifier or quoted ('d  d', "dd c"). */
  def name(): String = peekOpt match {
    case Some(Word(w))      => pos += 1; w
    case Some(Quoted(s, _)) => pos += 1; s
    case Some(Num(n))       => pos += 1; n
    case other => AdminError.parser(s"Expected name, found: ${other.fold("<eof>")(_.toString)}")
  }

  def stringLit(): String = peekOpt match {
    case Some(Quoted(s, _)) => pos += 1; s
    case other => AdminError.parser(s"Expected string literal, found: ${other.fold("<eof>")(_.toString)}")
  }

  def intLit(): Int = peekOpt match {
    case Some(Num(n)) =>
      pos += 1
      try n.toInt
      catch { case _: NumberFormatException =>
        AdminError.parser(s"Expected integer, found: $n") }
    case other => AdminError.parser(s"Expected integer, found: ${other.fold("<eof>")(_.toString)}")
  }

  /** `db.table` or bare `table` resolved against the session db. */
  def qualifiedName(defaultDb: String): (String, String) = {
    val first = name()
    if (trySym(".")) (first, name()) else (defaultDb, first)
  }

  def nameList(): Vector[String] = {
    val b = Vector.newBuilder[String]
    b += name()
    while (trySym(",")) b += name()
    b.result()
  }

  /** Literal values inside an INSERT tuple, as raw strings. */
  def literalList(): Vector[String] = {
    val b = Vector.newBuilder[String]
    def one(): String = peekOpt match {
      case Some(Num(n))       => pos += 1; n
      case Some(Quoted(s, _)) => pos += 1; s
      case Some(Word(w)) if w.equalsIgnoreCase("true") || w.equalsIgnoreCase("false") => pos += 1; w
      case Some(Sym("-"))     => pos += 1; "-" + one()
      case other => AdminError.parser(s"Expected literal, found: ${other.fold("<eof>")(_.toString)}")
    }
    b += one()
    while (trySym(",")) b += one()
    b.result()
  }

  /** `opt = value` where value is quoted, numeric, or a bare word. */
  def optionAssignment(): (String, String) = {
    val k = name().toLowerCase
    expectSym("=")
    val v = peekOpt match {
      case Some(Quoted(s, _)) => pos += 1; s
      case Some(Num(n))       => pos += 1; n
      case Some(Word(w))      => pos += 1; w
      case other => AdminError.parser(s"Expected option value, found: ${other.fold("<eof>")(_.toString)}")
    }
    (k, v)
  }

  def optionAssignments(): Map[String, String] = {
    val b = Map.newBuilder[String, String]
    b += optionAssignment()
    while (trySym(",")) b += optionAssignment()
    b.result()
  }

  /** Data type for a field column: BIGINT [UNSIGNED] | STRING |
    * BOOLEAN | DOUBLE | TIMESTAMP. */
  def dataType(): String = {
    val base = nextUpper()
    base match {
      case "BIGINT" => if (tryKw("UNSIGNED")) "BIGINT UNSIGNED" else "BIGINT"
      case "STRING" | "BOOLEAN" | "DOUBLE" | "TIMESTAMP" => base
      case other => AdminError.parser(s"Unknown data type: $other")
    }
  }
}

object AdminParser {
  sealed trait Tok
  final case class Word(s: String) extends Tok
  final case class Quoted(s: String, quote: Char) extends Tok
  final case class Num(s: String) extends Tok
  final case class Sym(s: String) extends Tok

  def tokenize(sql: String): Vector[Tok] = {
    val out = Vector.newBuilder[Tok]
    var i = 0
    val n = sql.length
    while (i < n) {
      val c = sql.charAt(i)
      if (c.isWhitespace) i += 1
      else if (c == '\'' || c == '"') {
        val sb = new StringBuilder
        var j = i + 1
        var closed = false
        while (j < n && !closed) {
          val d = sql.charAt(j)
          if (d == c) {
            if (j + 1 < n && sql.charAt(j + 1) == c) { sb.append(c); j += 2 } // '' escape
            else { closed = true; j += 1 }
          } else { sb.append(d); j += 1 }
        }
        if (!closed) AdminError.parser(s"Unterminated quoted name/string starting at offset $i")
        out += Quoted(sb.toString, c)
        i = j
      } else if (c.isDigit) {
        var j = i
        while (j < n && (sql.charAt(j).isDigit || sql.charAt(j) == '.')) j += 1
        // "1.5" stays one numeric token; "db.tbl" is handled as words
        out += Num(sql.substring(i, j))
        i = j
      } else if (c.isLetter || c == '_') {
        var j = i
        while (j < n && (sql.charAt(j).isLetterOrDigit || sql.charAt(j) == '_')) j += 1
        out += Word(sql.substring(i, j))
        i = j
      } else {
        // two-char operators stay ONE token so expression
        // reconstruction (WHERE clauses, SET values) round-trips `!=`,
        // `<=`, `>=`, `<>`, `||` instead of emitting "! =" / "| |"
        // Spark can't parse
        if (i + 1 < n && (("!<>".indexOf(c) >= 0 &&
            (sql.charAt(i + 1) == '=' || (c == '<' && sql.charAt(i + 1) == '>'))) ||
            (c == '|' && sql.charAt(i + 1) == '|'))) {
          out += Sym(sql.substring(i, i + 2))
          i += 2
        } else {
          out += Sym(c.toString)
          i += 1
        }
      }
    }
    out.result()
  }
}
