package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.admin._

/** The mutating admin DDL/DCL surface, mirrored statement-for-
  * statement from the reference's sqllogic cases (dcl/dcl_tenant,
  * dcl/dcl_role, dcl/user_access, ddl/create_database,
  * ddl/alter_database, ddl/describe_table, ddl/drop_and_recover_*,
  * sys_table/..., variable/system).
  */
class AdminSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshEngine(nowNs: Long = 1700000000000000000L): AdminEngine = {
    val root = java.nio.file.Files.createTempDirectory("graft_admin_spec").toString
    new AdminEngine(spark, new MetaCatalog, root, () => nowNs)
  }

  private def err(e: AdminEngine, sql: String): AdminError =
    intercept[AdminError](e.execute(sql))

  private def rows(e: AdminEngine, sql: String): Seq[Seq[Any]] =
    e.execute(sql).get.collect().toSeq.map(_.toSeq)

  // ---- tenants (dcl_tenant.slt) -------------------------------------

  test("tenant lifecycle: create with drop_after, set/unset, unknown option, drop+recover") {
    val e = freshEngine()
    e.execute("CREATE TENANT t1 WITH drop_after='1h'")
    e.execute("ALTER TENANT t1 SET comment='asd'")
    e.execute("ALTER TENANT t1 UNSET drop_after")
    e.execute("ALTER TENANT t1 UNSET comment")
    val bad = err(e, "ALTER TENANT t1 SET tenant_is_hidden=true")
    assert(bad.kind == "sql parser error" &&
      bad.message == "Unknown tenant option: tenant_is_hidden")
    e.execute("DROP TENANT t1")
    assert(err(e, "DROP TENANT t1").message.contains("Tenant not found"))

    e.execute("CREATE TENANT t2 WITH drop_after='1d'")
    // the set option renders as the reference's serde'd CnosDuration
    // (ddl/alter_drop_after.slt probes LIKE '%after":{"duration%')
    assert(rows(e, "select tenant_name from cluster_schema.tenants" +
      " where tenant_options like '%after\":{\"duration%' and tenant_name = 't2'") ==
      Seq(Seq("t2")))
    e.execute("ALTER TENANT t2 SET drop_after='1h'")
    assert(rows(e, "select tenant_options from cluster_schema.tenants where tenant_name = 't2'")
      .head.head.toString.contains("\"drop_after\":{\"duration\":{\"secs\":3600,\"nanos\":0},\"is_inf\":false}"))
    e.execute("DROP TENANT t2 AFTER '1h'")
    // hidden while scheduled — not visible, creatable name? reference
    // recovers it:
    e.execute("RECOVER TENANT t2")
    e.execute("ALTER TENANT t2 UNSET drop_after")
    e.execute("DROP TENANT t2")
    // quoted names survive the round trip
    e.execute("DROP TENANT if exists 'd  d'")
    e.execute("CREATE TENANT 'd  d'")
    e.execute("DROP TENANT 'd  d'")
  }

  test("deferred tenant drop executes after the deadline") {
    var now = 1700000000000000000L
    val root = java.nio.file.Files.createTempDirectory("graft_admin_spec").toString
    val e = new AdminEngine(spark, new MetaCatalog, root, () => now)
    e.execute("CREATE TENANT t9")
    e.execute("DROP TENANT t9 AFTER '1h'")
    assert(rows(e, "select name, action, status from information_schema.resource_status") ==
      Seq(Seq("t9", "DropTenant", "Schedule")))
    now += 3600L * 1000000000L + 1
    e.catalog.runDueResources(now)
    assert(rows(e, "select status from information_schema.resource_status") ==
      Seq(Seq("Successed")))
    assert(err(e, "ALTER TENANT t9 SET comment='x'").message.contains("Tenant not found"))
  }

  // ---- roles + privileges (dcl_role.slt) ----------------------------

  test("roles: inherit validation, maintainer gate, drop cascade") {
    val e = freshEngine()
    e.execute("CREATE ROLE r1 INHERIT owner")
    e.execute("CREATE ROLE r2 INHERIT member")
    val bad = err(e, "CREATE ROLE r3 INHERIT r1")
    assert(bad.kind == "Semantic error" && bad.message == "Expected [owner,member], found r1")

    e.execute("CREATE USER u1"); e.execute("ALTER TENANT cnosdb ADD USER u1 as owner")
    e.execute("CREATE USER u2"); e.execute("ALTER TENANT cnosdb ADD USER u2 as member")
    e.execute("CREATE USER u3"); e.execute("ALTER TENANT cnosdb ADD USER u3 as r1")
    e.execute("CREATE USER u4"); e.execute("ALTER TENANT cnosdb ADD USER u4 as r2")

    // owner-role user can create roles; member-role user cannot
    e.execute("--#USER_NAME = u1")
    e.execute("CREATE ROLE r_o INHERIT owner")
    e.execute("--#USER_NAME = u2")
    val p = err(e, "CREATE ROLE r_m INHERIT member")
    assert(p.kind == "Insufficient privileges" &&
      p.message == "expected [maintainer for all roles of tenant cnosdb]")

    // custom role inheriting owner can create databases; member-inherit cannot
    e.execute("--#USER_NAME = u3")
    e.execute("create database db1")
    e.execute("--#USER_NAME = u4")
    val w = err(e, "create database db2")
    assert(w.message == "expected [Write on all databases of tenant cnosdb]")

    // a granted member-inherit role can read exactly its databases
    e.execute("--#USER_NAME = root")
    e.execute("grant read on database db1 to r2")
    e.execute("--#USER_NAME = u4")
    assert(rows(e, "SHOW DATABASES") == Seq(Seq("db1")))

    // dropping the role revokes everything it carried
    e.execute("--#USER_NAME = root")
    e.execute("drop role r2")
    e.execute("--#USER_NAME = u4")
    val r = err(e, "SHOW DATABASES")
    assert(r.kind == "Auth error" || r.kind == "Insufficient privileges")
  }

  test("grant/revoke: sys table rows, revoke of absent privilege errors") {
    val e = freshEngine()
    e.execute("CREATE ROLE r5 INHERIT member")
    e.execute("CREATE ROLE r6 INHERIT member")
    e.execute("create database db1")
    e.execute("grant read on database db1 to r5")
    e.execute("GRANT WRITE ON DATABASE db1 TO ROLE r6")
    assert(rows(e,
      "select * from information_schema.DATABASE_PRIVILEGES order by role_name") ==
      Seq(Seq("cnosdb", "db1", "Read", "r5"), Seq("cnosdb", "db1", "Write", "r6")))
    val bad = err(e, "revoke read on database db1 from r6")
    assert(bad.kind == "Meta" &&
      bad.message == "cannot revoke the privilege Read on database db1 of role")
    e.execute("revoke read on database db1 from r5")
    assert(rows(e, "select role_name from information_schema.DATABASE_PRIVILEGES") ==
      Seq(Seq("r6")))
    // roles listing: system rows + customs with inherit
    assert(rows(e, "select * from information_schema.ROLES order by role_name") ==
      Seq(Seq("member", "system", "NULL"), Seq("owner", "system", "NULL"),
        Seq("r5", "custom", "member"), Seq("r6", "custom", "member")))
  }

  // ---- users + access (user_access.slt, cluster_schema/users.slt) ---

  test("user access: root protected, tenant isolation, membership auth") {
    val e = freshEngine()
    val root = err(e, "DROP USER root")
    assert(root.message == "User 'root' is prohibited from being dropped")

    e.execute("CREATE TENANT tenant_a")
    e.execute("CREATE USER user_a")
    e.execute("ALTER TENANT tenant_a ADD USER user_a AS owner")
    e.execute("CREATE TENANT tenant_b")
    e.execute("CREATE USER user_b")
    e.execute("ALTER TENANT tenant_b ADD USER user_b AS owner")
    e.execute("CREATE USER user_c")

    e.execute("--#TENANT=tenant_a"); e.execute("--#USER_NAME=user_a")
    e.execute("CREATE DATABASE db_a")
    e.execute("--#DATABASE=db_a")
    e.execute("CREATE TABLE air_a (visibility DOUBLE,temperature DOUBLE,pressure DOUBLE,TAGS(station))")
    e.execute("INSERT INTO air_a (TIME, station, visibility, temperature, pressure) VALUES(1666165200290401000, 'XiaoMaiDao', 56, 69, 77)")
    assert(rows(e, "SELECT station, visibility, temperature, pressure FROM air_a") ==
      Seq(Seq("XiaoMaiDao", 56.0, 69.0, 77.0)))

    // tenant_b cannot see tenant_a's table
    e.execute("--#TENANT=tenant_b"); e.execute("--#USER_NAME=user_b")
    e.execute("CREATE DATABASE db_b"); e.execute("--#DATABASE=db_b")
    intercept[Exception](rows(e, "SELECT * FROM air_a"))

    // non-member auth error
    e.execute("--#USER_NAME=user_c")
    val auth = err(e, "SELECT 1 FROM air_b")
    assert(auth.kind == "Auth error" &&
      auth.message == "The member user_c of tenant tenant_b not found")

    // missing role on membership / grant (role_a lives in NO tenant here)
    e.execute("--#USER_NAME=root"); e.execute("--#TENANT=tenant_a")
    assert(err(e, "ALTER TENANT tenant_a ADD USER user_c AS role_a").message ==
      "The role role_a not found")
    assert(err(e, "GRANT READ ON DATABASE db_a TO ROLE role_a").message ==
      "The role role_a not found")
    // table DDL against a db of another tenant fails on not-found
    assert(err(e, "CREATE TABLE db_b.t1(id BIGINT)").message contains "Database not found")
  }

  test("cluster_schema.users/tenants render the reference's option JSON") {
    val e = freshEngine()
    e.execute("CREATE USER test_us_u1 WITH comment='test comment'")
    e.execute("CREATE USER test_us_u2")
    assert(rows(e,
      "select * from cluster_schema.users where user_name in ('root','test_us_u1','test_us_u2') order by user_name") ==
      Seq(
        Seq("root", true, """{"hash_password":"*****","must_change_password":true,"comment":"system admin"}"""),
        Seq("test_us_u1", false, """{"hash_password":"*****","comment":"test comment"}"""),
        Seq("test_us_u2", false, """{"hash_password":"*****"}""")))

    e.execute("create tenant test_ts_tenant1 with comment='this is test_ts_tenant1'")
    assert(rows(e,
      "select * from cluster_schema.tenants where tenant_name = 'test_ts_tenant1'") ==
      Seq(Seq("test_ts_tenant1",
        """{"comment":"this is test_ts_tenant1","limiter_config":null,"drop_after":null,"tenant_is_hidden":false}""")))
    e.execute("ALTER TENANT test_ts_tenant1 unSET COMMENT")
    assert(rows(e,
      "select tenant_options from cluster_schema.tenants where tenant_name = 'test_ts_tenant1'") ==
      Seq(Seq("""{"comment":null,"limiter_config":null,"drop_after":null,"tenant_is_hidden":false}""")))

    // non-admin sees only itself / its tenant
    e.execute("ALTER TENANT test_ts_tenant1 ADD USER test_us_u1 as member")
    e.execute("--#TENANT=test_ts_tenant1"); e.execute("--#USER_NAME=test_us_u1")
    assert(rows(e, "select user_name from cluster_schema.users") == Seq(Seq("test_us_u1")))
    assert(rows(e, "select tenant_name from cluster_schema.tenants") ==
      Seq(Seq("test_ts_tenant1")))
  }

  // ---- databases (create/alter/describe/drop+recover) ----------------

  test("database options: case-insensitive WITH clause, DESCRIBE shape, single-option ALTER") {
    val e = freshEngine()
    e.execute("CREATE DATABASE alter_database WITH TTl '10d' SHARD 5 VNOdE_DURATiON '3d' REPLICA 1 pRECISIOn 'us'")
    assert(rows(e, "DESCRIBE DATABASE alter_database") ==
      Seq(Seq("10days", 5L, "3days", 1L, "US", "128 MiB", 16L, "128 MiB", false, false, 32L)))
    val multi = err(e, "ALTER DATABASE alter_database Set TTL '30d' SHARD 6")
    assert(multi.message == "Expected end of statement, found: SHARD")
    e.execute("ALTER DATABASE alter_database Set TTL '30d'")
    e.execute("ALTER DATABASE alter_database Set SHARD 6")
    e.execute("ALTER DATABASE alter_database Set VNODE_DURATION '100d'")
    assert(rows(e, "DESCRIBE DATABASE alter_database") ==
      Seq(Seq("30days", 6L, "100days", 1L, "US", "128 MiB", 16L, "128 MiB", false, false, 32L)))
    assert(err(e, "ALTER DATABASE no_such Set TTL '30d'").message ==
      """Database not found: "no_such"""")
    // defaults row (information_schema/databases.slt)
    e.execute("create database test_dbs_db1")
    assert(rows(e,
      "select * from information_schema.databases where database_name='test_dbs_db1'") ==
      Seq(Seq("cnosdb", "test_dbs_db1", "INF", 1L, "1year", 1L, "NS",
        "128 MiB", 16L, "128 MiB", false, false, 32L)))
  }

  test("database names: validation, reserved schemas, quoted names") {
    val e = freshEngine()
    assert(err(e, "create database \"db/1\"").message ==
      "not supported keyword contains '/': db/1")
    assert(err(e, "create database ''").message ==
      "Name cannot be empty or contain only spaces")
    assert(err(e, "create database ' '").message ==
      "Name cannot be empty or contain only spaces")
    for (r <- Seq("public", "cluster_schema", "information_schema", "usage_schema")) {
      assert(err(e, s"create database $r").kind == "Semantic error")
      assert(err(e, s"drop database $r").kind == "Semantic error")
    }
    e.execute("create database 'dd c'")
    e.execute("drop database 'dd c'")
    e.execute("create database 'dd c'")
    e.execute("drop database \"dd c\"")
  }

  test("drop database AFTER schedules, hides, recovers; due drop executes (drop_and_recover_database.slt)") {
    var now = 1700000000000000000L
    val root = java.nio.file.Files.createTempDirectory("graft_admin_spec").toString
    val e = new AdminEngine(spark, new MetaCatalog, root, () => now)
    e.execute("create database db_delay")
    assert(rows(e, "select database_name from information_schema.databases where database_name='db_delay'") ==
      Seq(Seq("db_delay")))
    e.execute("drop database db_delay after '3m'")
    assert(rows(e, "select name,action,try_count,status from information_schema.resource_status where name='cnosdb-db_delay'") ==
      Seq(Seq("cnosdb-db_delay", "DropDatabase", "0", "Schedule")))
    assert(rows(e, "select database_name from information_schema.databases where database_name='db_delay'").isEmpty)
    e.execute("recover database db_delay")
    assert(rows(e, "select status from information_schema.resource_status where name='cnosdb-db_delay'") ==
      Seq(Seq("Cancel")))
    assert(rows(e, "select database_name from information_schema.databases where database_name='db_delay'") ==
      Seq(Seq("db_delay")))
    e.execute("drop database db_delay after '3m'")
    now += 181L * 1000000000L
    e.catalog.runDueResources(now)
    assert(rows(e, "select database_name from information_schema.databases where database_name='db_delay'").isEmpty)
    assert(rows(e, "select status from information_schema.resource_status where name='cnosdb-db_delay'") ==
      Seq(Seq("Successed")))
  }

  // ---- tables (create/describe/alter; information_schema.columns) ---

  test("table DDL: codecs, ordinals, describe, alter add/drop/rename/codec") {
    val e = freshEngine()
    e.execute("create database public2"); e.execute("--#DATABASE=public2")
    e.execute("""CREATE TABLE test0(
      column1 BIGINT CODEC(DELTA),
      column2 STRING CODEC(GZIP),
      column3 BIGINT UNSIGNED CODEC(NULL),
      column4 BOOLEAN,
      column5 DOUBLE CODEC(GORILLA),
      TAGS(column6, column7))""")
    assert(rows(e, "DESCRIBE TABLE test0") == Seq(
      Seq("column1", "BIGINT", "FIELD", "DELTA"),
      Seq("column2", "STRING", "FIELD", "GZIP"),
      Seq("column3", "BIGINT UNSIGNED", "FIELD", "NULL"),
      Seq("column4", "BOOLEAN", "FIELD", "DEFAULT"),
      Seq("column5", "DOUBLE", "FIELD", "GORILLA"),
      Seq("column6", "STRING", "TAG", "DEFAULT"),
      Seq("column7", "STRING", "TAG", "DEFAULT"),
      Seq("time", "TIMESTAMP(NANOSECOND)", "TIME", "DEFAULT")))
    // columns.slt: tags ordinal 1..2, fields 3..7, TIME omitted
    assert(rows(e,
      "select column_name, column_type, ordinal_position, compression_codec from information_schema.columns order by ordinal_position") ==
      Seq(Seq("column6", "TAG", 1L, "DEFAULT"), Seq("column7", "TAG", 2L, "DEFAULT"),
        Seq("column1", "FIELD", 3L, "DELTA"), Seq("column2", "FIELD", 4L, "GZIP"),
        Seq("column3", "FIELD", 5L, "NULL"), Seq("column4", "FIELD", 6L, "DEFAULT"),
        Seq("column5", "FIELD", 7L, "GORILLA")))
    assert(rows(e, "select * from information_schema.tables") ==
      Seq(Seq("cnosdb", "public2", "test0", "TABLE", "TSKV", "TODO")))

    e.execute("ALTER TABLE test0 ADD FIELD f0 DOUBLE CODEC(GORILLA)")
    e.execute("ALTER TABLE test0 ADD TAG t0")
    assert(err(e, "ALTER TABLE test0 ADD FIELD column1 BIGINT").kind == "Semantic error")
    e.execute("ALTER TABLE test0 ALTER column5 SET CODEC(QUANTILE)")
    e.execute("ALTER TABLE test0 RENAME COLUMN column2 TO renamed2")
    e.execute("ALTER TABLE test0 DROP column4")
    val after = rows(e, "select column_name, column_type from information_schema.columns order by ordinal_position")
    assert(after == Seq(
      Seq("column6", "TAG"), Seq("column7", "TAG"), Seq("t0", "TAG"),
      Seq("column1", "FIELD"), Seq("renamed2", "FIELD"), Seq("column3", "FIELD"),
      Seq("column5", "FIELD"), Seq("f0", "FIELD")))
    assert(err(e, "ALTER TABLE test0 DROP time").message == "the time column cannot be dropped")
  }

  // ---- precision + data path ----------------------------------------

  test("INSERT under db precision 'us' scales TIME to stored ns") {
    val e = freshEngine()
    e.execute("create database p_us WITH PRECISION 'us'")
    e.execute("--#DATABASE=p_us")
    e.execute("CREATE TABLE m(v DOUBLE, TAGS(host))")
    e.execute("INSERT INTO m (TIME, host, v) VALUES (1666165200290401, 'h1', 1.5)")
    // 1666165200290401 µs == 2022-10-19T07:40:00.290401Z
    assert(rows(e, "SELECT cast(time as string) as t, host, v FROM m") ==
      Seq(Seq("2022-10-19 07:40:00.290401", "h1", 1.5)))
  }

  // ---- @@variables (variable/system.slt) ----------------------------

  test("@@variables resolve; unknown variables error") {
    val e = freshEngine()
    assert(rows(e, "select count(@@cluster_name) as c") == Seq(Seq(1L)))
    assert(rows(e, "select count(@@server_version) as c") == Seq(Seq(1L)))
    assert(rows(e, "select count(@@deployment_mode) as c") == Seq(Seq(1L)))
    assert(rows(e, "select count(@@node_id) as c") == Seq(Seq(1L)))
    assert(err(e, "select @@server_versi").message ==
      "variable [\"@@server_versi\"] has no type information")
    assert(err(e, "select @@").message == "variable [\"@@\"] has no type information")
  }

  test("information_schema.queries: a running SELECT sees itself (queries.slt)") {
    val e = freshEngine()
    val sql = "select query_type, query_text, database_name from information_schema.queries where query_text like '%information_schema.queries%';"
    assert(rows(e, sql) == Seq(Seq("batch", sql, "public")))
    // the registry drains after each statement: a later listing holds
    // ONLY itself, not the finished first select
    assert(rows(e, "select count(*) as n from information_schema.queries") ==
      Seq(Seq(1L)))
    // SHOW QUERIES surfaces the same registry
    val sq = rows(e, "SHOW QUERIES")
    assert(sq.size == 1 && sq.head(1) == "batch" && sq.head(2) == "SHOW QUERIES")
  }

  test("column-id storage semantics: rename keeps data, drop+re-add reads nulls") {
    val e = freshEngine()
    e.execute("create database cid"); e.execute("--#DATABASE=cid")
    e.execute("CREATE TABLE m(v DOUBLE, TAGS(host))")
    e.execute("INSERT INTO m (TIME, host, v) VALUES (1000000000, 'h1', 2.5)")
    // metadata-only rename: existing rows surface under the NEW name
    e.execute("ALTER TABLE m RENAME COLUMN v TO val")
    assert(rows(e, "SELECT host, val FROM m") == Seq(Seq("h1", 2.5)))
    // appends after the rename land in the SAME physical column
    e.execute("INSERT INTO m (TIME, host, val) VALUES (2000000000, 'h2', 3.5)")
    assert(rows(e, "SELECT host, val FROM m ORDER BY host") ==
      Seq(Seq("h1", 2.5), Seq("h2", 3.5)))
    // a column ADDED later reads null for pre-existing rows...
    e.execute("ALTER TABLE m ADD FIELD extra DOUBLE")
    assert(rows(e, "SELECT count(extra) AS n FROM m") == Seq(Seq(0L)))
    // ...and dropping + re-adding a NAME must NOT resurrect old data
    e.execute("ALTER TABLE m DROP val")
    e.execute("ALTER TABLE m ADD FIELD val DOUBLE")
    assert(rows(e, "SELECT count(val) AS n FROM m") == Seq(Seq(0L)))
  }

  // ---- review-hardening regressions ----------------------------------

  test("a non-admin cannot alter another user (root password escalation blocked)") {
    val e = freshEngine()
    e.execute("CREATE USER lone")
    e.execute("ALTER TENANT cnosdb ADD USER lone AS member")
    e.execute("--#USER_NAME=lone")
    val esc = err(e, "ALTER USER root SET password='pwned'")
    assert(esc.kind == "Insufficient privileges")
    // self-service stays allowed, but never the admin bit
    e.execute("ALTER USER lone SET password='mine'")
    assert(err(e, "ALTER USER lone SET granted_admin=true").kind == "Insufficient privileges")
    // root's empty password still authenticates: nothing was overwritten
    assert(e.authenticate("root", "") && e.authenticate("lone", "mine"))
  }

  test("a failing SELECT leaves no temp views behind (tenant isolation survives errors)") {
    val e = freshEngine()
    e.execute("CREATE TENANT iso_a"); e.execute("CREATE USER iso_u")
    e.execute("ALTER TENANT iso_a ADD USER iso_u AS owner")
    e.execute("--#TENANT=iso_a"); e.execute("--#USER_NAME=iso_u")
    e.execute("CREATE DATABASE iso_db"); e.execute("--#DATABASE=iso_db")
    e.execute("CREATE TABLE secret(v DOUBLE, TAGS(k))")
    e.execute("INSERT INTO secret (TIME, k, v) VALUES (1, 'a', 9.0)")
    // cross-tenant qualified ref now rejected BEFORE registration; and
    // a query erroring mid-analysis must still clean up
    intercept[Exception](e.execute("SELECT * FROM secret, t.x.y"))
    intercept[Exception](e.execute("SELECT secret.v + no_such_col FROM secret"))
    assert(spark.catalog.tableExists("secret") == false,
      "temp view leaked after failed SELECT")
    // sys views do not linger either (underscore-form bypass)
    e.execute("--#TENANT=cnosdb"); e.execute("--#USER_NAME=root")
    e.execute("select * from information_schema.databases")
    assert(!spark.catalog.tableExists("information_schema_databases"),
      "sys view leaked after SELECT")
  }

  test("hidden drop-scheduled names stay reserved; dashed names route deferred drops correctly") {
    var now = 1700000000000000000L
    val root = java.nio.file.Files.createTempDirectory("graft_admin_spec").toString
    val e = new AdminEngine(spark, new MetaCatalog, root, () => now)
    // re-creating over a pending deferred drop must fail, not arm a
    // time bomb against the new object
    e.execute("CREATE TENANT tz")
    e.execute("DROP TENANT tz AFTER '1h'")
    assert(err(e, "CREATE TENANT tz").message.contains("already exists"))
    e.execute("RECOVER TENANT tz")
    // tenant with '-' in the name: the deferred DATABASE drop still
    // lands on the right object
    e.execute("CREATE TENANT 'my-tenant'")
    e.execute("--#TENANT=my-tenant")
    e.execute("CREATE DATABASE d1")
    e.execute("CREATE ROLE rr INHERIT member")
    e.execute("GRANT WRITE ON DATABASE d1 TO rr")
    e.execute("DROP DATABASE d1 AFTER '3m'")
    now += 181L * 1000000000L
    e.catalog.runDueResources(now)
    assert(rows(e, "select database_name from information_schema.databases where database_name='d1'").isEmpty)
    // grants died with the database (no silent re-attach on re-create)
    e.execute("CREATE DATABASE d1")
    assert(rows(e, "select * from information_schema.database_privileges").isEmpty)
  }

  test("parser strictness: trailing tokens and bad literals are statement errors") {
    val e = freshEngine()
    val typo = err(e, "CREATE DATABASE typo_db WITH TTL '1d' SHRD 5")
    assert(typo.kind == "sql parser error" &&
      typo.message == "Expected end of statement, found: SHRD")
    // the statement was REJECTED whole: no half-configured database
    assert(rows(e, "select database_name from information_schema.databases where database_name='typo_db'").isEmpty)
    assert(err(e, "SHOW DATABASES junk").kind == "sql parser error")
    e.execute("CREATE DATABASE pl"); e.execute("--#DATABASE=pl")
    e.execute("CREATE TABLE m(v DOUBLE, TAGS(h))")
    // a STRING time literal is a valid absolute timestamp
    // (dml/setup.slt writes '1999-12-31 00:00:00.005'); a non-parsing
    // one is the statement error
    e.execute("INSERT INTO m (TIME, h, v) VALUES ('2022-10-19T07:40:00', 'x', 1.0)")
    assert(rows(e, "SELECT cast(time AS string) AS t, v FROM m") ==
      Seq(Seq("2022-10-19 07:40:00", 1.0)))
    val lit = err(e, "INSERT INTO m (TIME, h, v) VALUES ('not-a-time', 'x', 1.0)")
    assert(lit.kind == "Semantic error" && lit.message.contains("invalid literal"))
    // boolean coercion zoo (data_type/type_conversion/boolean.slt)
    e.execute("CREATE TABLE bools(v1 BOOLEAN)")
    e.execute("INSERT INTO bools(TIME, v1) VALUES (1,1),(2,0),(3,'T'),(4,'F'),(5,'yes'),(6,'no')")
    assert(rows(e, "SELECT v1 FROM bools ORDER BY time") ==
      Seq(Seq(true), Seq(false), Seq(true), Seq(false), Seq(true), Seq(false)))
    assert(err(e, "INSERT INTO bools(TIME, v1) VALUES (7,'maybe')").message
      .contains("invalid literal"))
    assert(err(e, "CREATE DATABASE f WITH SHARD 99999999999999999999").kind == "sql parser error")
  }

  // ---- persistence ---------------------------------------------------

  test("catalog JSON round-trips through the Hadoop FS (file: URI)") {
    val e = freshEngine()
    e.execute("CREATE TENANT tp WITH comment='persist'")
    e.execute("CREATE USER up WITH comment='u'")
    e.execute("ALTER TENANT tp ADD USER up AS owner")
    e.execute("--#TENANT=tp"); e.execute("--#USER_NAME=up")
    e.execute("CREATE DATABASE dbp WITH TTL '7d' SHARD 3")
    e.execute("CREATE ROLE rp INHERIT member")
    e.execute("GRANT READ ON DATABASE dbp TO rp")
    e.execute("CREATE TABLE dbp.tp1(v DOUBLE CODEC(GORILLA), TAGS(tag1))")
    val before = rows(e, "select * from information_schema.databases") ++
      rows(e, "select * from information_schema.columns") ++
      rows(e, "select * from information_schema.database_privileges")

    val path = java.nio.file.Files.createTempDirectory("graft_admin_meta").toString + "/meta.json"
    e.catalog.save(spark, s"file:$path")

    val root2 = java.nio.file.Files.createTempDirectory("graft_admin_spec").toString
    val e2 = new AdminEngine(spark, new MetaCatalog, root2, () => 0L)
    e2.catalog.load(spark, s"file:$path")
    e2.session.tenant = "tp"; e2.session.user = "up"
    val after = rows(e2, "select * from information_schema.databases") ++
      rows(e2, "select * from information_schema.columns") ++
      rows(e2, "select * from information_schema.database_privileges")
    assert(after == before)
  }

  test("/api/v1/sql over real sockets: auth, tenancy params, CSV results, status mapping") {
    import graft.sources.WireHttp
    val e = freshEngine()
    val spool = java.nio.file.Files.createTempDirectory("graft_admin_http").toString
    val srv = WireHttp.start(spool, sqlExec = e.execHttp)
    try {
      def sql(stmt: String, user: String = "root", pass: String = "",
              tenant: String = "cnosdb", db: String = "public"): (Int, String) = {
        val (code, body) = WireHttp.post(s"${srv.base}/api/v1/sql?tenant=$tenant&db=$db",
          stmt.getBytes("UTF-8"), contentType = "text/plain", basicAuth = (user, pass))
        (code, new String(body, "UTF-8"))
      }
      // DDL over the wire as root (no password on a fresh install)
      assert(sql("CREATE DATABASE wdb WITH TTL '7d'")._1 == 200)
      assert(sql("CREATE USER wu WITH password='s3cret'")._1 == 200)
      assert(sql("ALTER TENANT cnosdb ADD USER wu AS owner")._1 == 200)
      assert(sql("CREATE TABLE wdb.m(v DOUBLE, TAGS(host))")._1 == 200)
      assert(sql("INSERT INTO m (TIME, host, v) VALUES (1000000000, 'h1', 2.5), (2000000000, 'h2', 3.5)",
        db = "wdb")._1 == 200)
      // SELECT as the password'd user — CSV with header
      val (qc, qb) = sql("SELECT host, v FROM m ORDER BY host", user = "wu",
        pass = "s3cret", db = "wdb")
      assert(qc == 200 && qb == "host,v\nh1,2.5\nh2,3.5")
      // status mapping: bad password 401; unknown user 401; non-member
      // 403/401 auth; missing object 404; parse garbage 422
      assert(sql("SELECT 1", user = "wu", pass = "wrong")._1 == 401)
      assert(sql("SELECT 1", user = "ghost")._1 == 401)
      assert(sql("CREATE USER lone")._2.isEmpty && {
        val (c, b) = sql("SELECT host FROM m", user = "lone", db = "wdb")
        c == 401 && b.contains("The member lone of tenant cnosdb not found")
      })
      assert(sql("DESCRIBE DATABASE nope")._1 == 404)
      assert(sql("FROBNICATE x")._1 == 422)
      // CSV quoting: values with commas/quotes round-trip
      assert(sql("INSERT INTO m (TIME, host, v) VALUES (3000000000, 'a,\"b', 1.0)", db = "wdb")._1 == 200)
      val (_, q2) = sql("SELECT host FROM m WHERE v = 1.0", db = "wdb")
      assert(q2 == "host\n\"a,\"\"b\"")
      // usage_schema http metrics from the REAL wire counters: writes
      // spooled earlier in WireHttpSpec-free isolation — here, exercise
      // one write route, then read the counters through sys tables
      e.attachWire(srv)
      val (wc, _) = WireHttp.post(s"${srv.base}/api/v1/write", "m,v=1 f=1 1".getBytes("UTF-8"))
      assert(wc == 204)
      val min = rows(e, "select api, value from usage_schema.http_writes where api = '/api/v1/write'")
      assert(min == Seq(Seq("/api/v1/write", 1L)))
      val di = rows(e, "select value from usage_schema.http_data_in where api = '/api/v1/write'")
      assert(di == Seq(Seq(11L))) // the 11-byte LP body
      val hq = rows(e, "select value from usage_schema.http_queries").head.head.asInstanceOf[Long]
      assert(hq >= 3L) // the successful /api/v1/sql SELECTs above
      assert(rows(e, "select value from usage_schema.http_data_out").head.head.asInstanceOf[Long] > 0L)
      // cluster-global traffic volumes are admin-only (the reference's
      // usage_schema privilege gate)
      e.session.user = "wu"
      val deny = intercept[AdminError](rows(e, "select * from usage_schema.http_queries"))
      assert(deny.kind == "Insufficient privileges")
      e.session.user = "root"
    } finally srv.stop()
  }

  // ---- TTL policy → lake mechanism ----------------------------------

  test("enforceTtl drives Dml.expireDays from the catalog's database TTL") {
    import org.apache.spark.sql.functions._
    val e = freshEngine()
    val lake = java.nio.file.Files.createTempDirectory("graft_admin_ttl").toString
    // five day directories of the primary floor-day shape
    val days = (0 until 5).map(d => java.time.LocalDate.of(2024, 3, 10).plusDays(d))
    days.foreach { day =>
      val ns = day.toEpochDay * Tables.NsPerDay
      spark.range(10).select(
        (lit(ns) + col("id") * 1000000000L).as("ts"), col("id").cast("double").as("value"))
        .coalesce(1).write.parquet(s"$lake/day=$day")
    }
    e.execute("CREATE DATABASE evts WITH TTL '2d'")
    // as-of = start of the LAST day → cutoff = last-day-start − 2d,
    // exactly a day boundary: two whole days drop, no boundary rewrite
    val asOf = days.last.toEpochDay * Tables.NsPerDay
    val stats = e.enforceTtl("evts", lake, asOf).get
    assert(stats.droppedDays == 2 && !stats.boundaryRewritten, stats.toString)
    val left = new java.io.File(lake).listFiles().filter(_.getName.startsWith("day=")).map(_.getName).sorted
    assert(left.toSeq == days.drop(2).map(d => s"day=$d"))
    // TTL-less database: enforcement is a no-op
    e.execute("CREATE DATABASE nottl")
    assert(e.enforceTtl("nottl", lake, asOf).isEmpty)
  }

  test("enforceTtl with the layout's file schema rewrites the boundary day without an inference job") {
    import org.apache.spark.sql.functions._
    val days = (0 until 3).map(d => java.time.LocalDate.of(2024, 3, 10).plusDays(d))
    def lake(): String = {
      val root = java.nio.file.Files.createTempDirectory("graft_admin_ttl_schema").toString
      days.foreach { day =>
        spark.range(24).select(
          (lit(day.toEpochDay * Tables.NsPerDay) + col("id") * 3600L * 1000000000L).as("ts"),
          col("id").cast("double").as("value"))
          .coalesce(1).write.parquet(s"$root/day=$day")
      }
      root
    }
    val e = freshEngine()
    e.execute("CREATE DATABASE evts WITH TTL '2d'")
    // cutoff = noon of the middle day: one day drops, the middle one is rewritten
    val asOf = days(1).toEpochDay * Tables.NsPerDay + Tables.NsPerDay / 2 + 2L * Tables.NsPerDay
    val (inferLake, knownLake) = (lake(), lake())
    val schema = spark.read.parquet(s"$knownLake/day=${days.head}").schema
    val (inferred, inferJobs) = org.apache.spark.graftspec.Bus.countingJobs(spark.sparkContext)(
      e.enforceTtl("evts", inferLake, asOf).get)
    val (known, knownJobs) = org.apache.spark.graftspec.Bus.countingJobs(spark.sparkContext)(
      e.enforceTtl("evts", knownLake, asOf, fileSchema = Some(schema)).get)
    assert(inferred == known && known.droppedDays == 1 && known.boundaryRewritten &&
      known.boundaryRowsKept == 12L, known.toString)
    assert(knownJobs == inferJobs - 1, s"the schema-inference job only: $inferJobs -> $knownJobs")
    def day1(root: String) = spark.read.parquet(s"$root/day=${days(1)}").orderBy("ts").collect().toSeq
    assert(day1(knownLake) == day1(inferLake))
  }

  // ---- persistence vs the deferred-drop queue ------------------------

  test("restore re-derives composite resource keys: RECOVER sticks after a save/load round-trip") {
    var now = 1700000000000000000L
    val root = java.nio.file.Files.createTempDirectory("graft_admin_spec").toString
    val e = new AdminEngine(spark, new MetaCatalog, root, () => now)
    e.execute("CREATE DATABASE rdb")
    e.execute("DROP DATABASE rdb AFTER '1h'")
    e.execute("CREATE TENANT rt")
    e.execute("DROP TENANT rt AFTER '1h'")
    val path = java.nio.file.Files.createTempDirectory("graft_admin_meta").toString + "/meta.json"
    e.catalog.save(spark, s"file:$path")

    // fresh engine hydrated from disk — the armed drops came back under
    // their composite keys, so RECOVER can find and Cancel them
    val e2 = new AdminEngine(spark, new MetaCatalog, root, () => now)
    e2.catalog.load(spark, s"file:$path")
    e2.execute("RECOVER DATABASE rdb")
    e2.execute("RECOVER TENANT rt")
    now += 3601L * 1000000000L
    e2.catalog.runDueResources(now)
    // neither recovered object was dropped by the (cancelled) deadline
    assert(rows(e2, "select database_name from information_schema.databases where database_name='rdb'").nonEmpty)
    e2.execute("ALTER TENANT rt SET comment='alive'") // throws if rt was dropped
    assert(rows(e2, "select status from information_schema.resource_status").forall(_ == Seq("Cancel")))
  }

  test("table names are path-validated like tenants/databases") {
    val e = freshEngine()
    e.execute("CREATE DATABASE tnv"); e.execute("--#DATABASE=tnv")
    val slash = err(e, "CREATE TABLE 'tb/1'(v DOUBLE, TAGS(h))")
    assert(slash.kind == "sql parser error" && slash.message.contains("/"))
    val dots = err(e, "CREATE TABLE '..'(v DOUBLE, TAGS(h))")
    assert(dots.kind == "sql parser error")
    assert(rows(e, "select table_name from information_schema.tables where database_name='tnv'").isEmpty)
  }

  // ---- stream tables (stream/{syntax,unsupport_op,basic}.slt,
  // ddl/create_stream_table.slt) ---------------------------------------

  private def streamFixture(): AdminEngine = {
    val e = freshEngine()
    e.execute("CREATE DATABASE sdb"); e.execute("--#DATABASE=sdb")
    e.execute("CREATE TABLE readings_kv(latitude DOUBLE, elevation DOUBLE, TAGS(name, driver))")
    e
  }

  test("CREATE STREAM TABLE: the reference's validation order and error wording") {
    val e = streamFixture()
    def cst(body: String): AdminError = err(e,
      s"CREATE STREAM TABLE TskvTable $body engine = tskv")
    // duplicate column names fire before source-field resolution
    val dup = err(e, "CREATE STREAM TABLE TskvTable (time TIMESTAMP, time TIMESTAMP, name STRING)" +
      " WITH (db='sdb', table='readings_kv', event_time_column='time') engine = tskv")
    assert(dup.message == "Field or Tag have the same name time")
    // missing options, each named
    assert(cst("(time TIMESTAMP, name STRING) WITH (table='readings_kv', event_time_column='time')")
      .message == "Missing option [db] of table tskvtable")
    assert(cst("(time TIMESTAMP, name STRING) WITH (db='sdb', event_time_column='time')")
      .message == "Missing option [table] of table tskvtable")
    assert(cst("(time TIMESTAMP, name STRING) WITH (db='sdb', table='readings_kv')")
      .message == "Missing option [event_time_column] of table tskvtable")
    // unknown engine
    val eng = err(e, "CREATE STREAM TABLE TskvTable (time TIMESTAMP, name STRING)" +
      " WITH (db='sdb', table='readings_kv', event_time_column='time') engine = xxx")
    assert(eng.message == "Unsupported stream type: xxx")
    // a declared column missing from the source table: schema error
    // listing the source's full field set in ordinal order
    val fld = cst("(time_x TIMESTAMP, name STRING) WITH (db='sdb', table='readings_kv', event_time_column='time')")
    assert(fld.kind == "Schema error" && fld.message ==
      """Unable to get field named "time_x". Valid fields: ["time", "name", "driver", "latitude", "elevation"]""")
    // event_time_column exists but is not the timestamp
    val ett = cst("(time TIMESTAMP, latitude DOUBLE) WITH (db='sdb', table='readings_kv', event_time_column='latitude')")
    assert(ett.message ==
      "Invalid option [event_time_column] of table tskvtable: The data type of column 'latitude' is not timestamp")
    // and the happy path registers; DROP TABLE addresses it
    e.execute("CREATE STREAM TABLE TskvTable (time TIMESTAMP, name STRING, elevation DOUBLE)" +
      " WITH (db='sdb', table='readings_kv', event_time_column='time') engine = tskv")
    assert(err(e, "CREATE STREAM TABLE TskvTable (time TIMESTAMP)" +
      " WITH (db='sdb', table='readings_kv', event_time_column='time') engine = tskv")
      .message.contains("already exists"))
    e.execute("DROP TABLE TskvTable")
    e.execute("DROP TABLE IF EXISTS TskvTable")
  }

  test("stream tables reject the reference's unsupported operations with its wording") {
    val e = streamFixture()
    e.execute("INSERT INTO readings_kv (TIME, name, elevation) VALUES (1000000000, 'n1', 1.5)")
    e.execute("CREATE STREAM TABLE tstream (time TIMESTAMP, name STRING, elevation DOUBLE)" +
      " WITH (db='sdb', table='readings_kv', event_time_column='time') engine = tskv")
    e.execute("CREATE TABLE agg_sink(elevation DOUBLE, TAGS(name))")
    def ins(sel: String): AdminError = err(e, s"INSERT INTO agg_sink $sel")
    assert(ins("SELECT time, name, min(elevation) FROM (SELECT time, name, elevation FROM tstream" +
      " GROUP BY time, name, elevation) GROUP BY time, name")
      .message == "Unsupported operation in streaming query: multiple aggregate")
    assert(ins("SELECT l.time, l.name, l.elevation FROM tstream AS l JOIN readings_kv ON l.time = readings_kv.time")
      .message == "Unsupported operation in streaming query: join")
    assert(ins("SELECT l.time, l.name, l.elevation FROM tstream AS l CROSS JOIN readings_kv")
      .message == "Unsupported operation in streaming query: cross join")
    assert(ins("SELECT time, name, elevation FROM tstream LIMIT 1")
      .message == "Unsupported operation in streaming query: limit")
    assert(ins("SELECT time, name, elevation FROM tstream ORDER BY time, name")
      .message == "Unsupported operation in streaming query: sort")
    // stream tables are insert-select sources ONLY
    assert(err(e, "SELECT * FROM tstream").message ==
      "Stream table can only be used as source table in insert select statements.")
    // and reject ALTER
    assert(err(e, "ALTER TABLE tstream ADD TAG ta").message == "only tskv table support alter")
  }

  test("a stream job drives micro-batches from INSERTs through a watermarked window into the sink") {
    val e = streamFixture()
    // one INSERT = one parquet file = one micro-batch; Spark append
    // mode emits a window once the watermark (max event time of PRIOR
    // batches, delay 0) passes its end
    def at(hhmm: String): Long = // 2022-01-01 UTC, ns epoch
      java.time.Instant.parse(s"2022-01-01T$hhmm:00Z").getEpochSecond * 1000000000L
    e.execute(s"INSERT INTO readings_kv (TIME, name, elevation) VALUES (${at("04:01")}, 'test', 1)")
    e.execute("CREATE TABLE win_sink(elevation DOUBLE, TAGS(name))")
    e.execute("CREATE STREAM TABLE evstream (time TIMESTAMP, name STRING, elevation DOUBLE)" +
      " WITH (db='sdb', table='readings_kv', event_time_column='time') engine = tskv")
    e.execute("INSERT INTO win_sink SELECT time.start, name, elevation FROM (" +
      "SELECT time_window(time, interval '5 minute') AS time, name, max(elevation) AS elevation" +
      " FROM evstream GROUP BY name, time_window(time, interval '5 minute'))")
    try {
      Seq("04:06" -> 2, "04:11" -> 4, "04:16" -> 8).foreach { case (t, v) =>
        e.execute(s"INSERT INTO readings_kv (TIME, name, elevation) VALUES (${at(t)}, 'test', $v)")
        e.awaitStreams()
      }
      // processAllAvailable runs a final flush batch, so the watermark
      // lands on the 04:16 max: windows through [04:10,04:15) are
      // closed and emitted; [04:15,04:20) pends for later data
      assert(rows(e, "SELECT cast(time AS string) AS w, name, elevation FROM win_sink ORDER BY time") ==
        Seq(Seq("2022-01-01 04:00:00", "test", 1.0), Seq("2022-01-01 04:05:00", "test", 2.0),
          Seq("2022-01-01 04:10:00", "test", 4.0)))
    } finally e.stopStreams()
  }

  test("starting a stream job leaves an unset shuffle width unset and leaks no stream conf") {
    import graft.queries.StreamQueries
    val e = streamFixture()
    e.execute("INSERT INTO readings_kv (TIME, name, elevation) VALUES (1640995200000000000, 'n', 1)")
    e.execute("CREATE TABLE leak_sink(elevation DOUBLE, TAGS(name))")
    e.execute("CREATE STREAM TABLE leakstream (time TIMESTAMP, name STRING, elevation DOUBLE)" +
      " WITH (db='sdb', table='readings_kv', event_time_column='time') engine = tskv")
    val keys = Seq("spark.sql.shuffle.partitions", StreamQueries.CheckpointManagerConf,
      StreamQueries.ArtifactIsolationConf)
    def explicit() = { val all = spark.conf.getAll; keys.map(all.get) }
    val prior = spark.conf.getAll
    try {
      spark.conf.unset("spark.sql.shuffle.partitions")
      val before = explicit()
      assert(before.forall(_.isEmpty), before)
      e.execute("INSERT INTO leak_sink SELECT time, name, elevation FROM leakstream")
      assert(explicit() == before)
      e.awaitStreams()
      assert(e.streamBatchesDelivered == 1)
      assert(rows(e, "SELECT name, elevation FROM leak_sink") == Seq(Seq("n", 1.0)))
    } finally {
      e.stopStreams()
      keys.foreach(k => prior.get(k) match {
        case Some(v) => spark.conf.set(k, v)
        case None => spark.conf.unset(k)
      })
    }
  }

  // ---- SHOW SERIES / SHOW TAG VALUES (dql/show_series.slt,
  // dql/show_tag_values.slt) -------------------------------------------

  private def seriesFixture(): AdminEngine = {
    val e = freshEngine()
    e.execute("CREATE DATABASE show_series"); e.execute("--#DATABASE=show_series")
    e.execute("CREATE TABLE test(f0 BIGINT, f1 STRING, TAGS(t0, t1, t2))")
    Seq(
      "INSERT INTO test(TIME, t0, t1, t2, f0, f1) VALUES (0, 'a', 'b', 'c', 1, '2')",
      "INSERT INTO test(TIME, t0, f0) VALUES (1, 'a', 1)",
      "INSERT INTO test(TIME, t1, f1) VALUES (2, 'b', '2')",
      "INSERT INTO test(TIME, t2, f0) VALUES (3, 'c', 1)",
      "INSERT INTO test(TIME, t0, t1, f0) VALUES (4, 'a', 'b', 1)",
      "INSERT INTO test(TIME, t1, t2, f0) VALUES (5, 'b', 'c', 1)",
      "INSERT INTO test(TIME, t0, f0) VALUES (6, '', 1)"
    ).foreach(e.execute)
    e
  }

  test("SHOW SERIES: key synthesis, ON db, WHERE on tags/time, ORDER BY key, error surface") {
    val e = seriesFixture()
    val all = Seq("test,t0=", "test,t0=a", "test,t0=a,t1=b", "test,t0=a,t1=b,t2=c",
      "test,t1=b", "test,t1=b,t2=c", "test,t2=c")
    assert(rows(e, "SHOW SERIES FROM test").map(_.head) == all)
    assert(rows(e, "SHOW SERIES ON show_series FROM test").map(_.head) == all)
    assert(rows(e, "SHOW SERIES FROM test ORDER BY key DESC").map(_.head) == all.reverse)
    assert(rows(e, "SHOW SERIES FROM test WHERE time < now() ORDER BY key").map(_.head) == all)
    assert(rows(e, "SHOW SERIES FROM test WHERE t0 != '' ORDER BY key").map(_.head) ==
      Seq("test,t0=a", "test,t0=a,t1=b", "test,t0=a,t1=b,t2=c"))
    assert(rows(e, "SHOW SERIES FROM test WHERE t0 IS NOT NULL ORDER BY key").map(_.head) ==
      Seq("test,t0=", "test,t0=a", "test,t0=a,t1=b", "test,t0=a,t1=b,t2=c"))
    assert(rows(e, "SHOW SERIES FROM test WHERE t1 = 'b' ORDER BY key").map(_.head) ==
      Seq("test,t0=a,t1=b", "test,t0=a,t1=b,t2=c", "test,t1=b", "test,t1=b,t2=c"))
    // error surface, reference wording
    assert(err(e, "SHOW SERIES").message == "Expected FROM, found: ;")
    assert(err(e, "SHOW SERIES ON public FROM show_series.test").message ==
      "Expected end of statement, found: .")
    assert(err(e, "SHOW SERIES FROM test ORDER BY f0").message ==
      "No field named f0. Valid fields are key.")
    assert(err(e, "SHOW SERIES FROM test ORDER BY time").message ==
      "No field named time. Valid fields are key.")
    val fw = err(e, "SHOW SERIES FROM test WHERE f1 IS NOT NULL ORDER BY key")
    assert(fw.kind == "Semantic error" &&
      fw.message == "SHOW SERIES does not support where clause contains field f1")
  }

  test("SHOW TAG VALUES: WITH KEY selectors, ordering, error surface") {
    val e = seriesFixture()
    def q(stmt: String): Seq[Seq[Any]] = rows(e, stmt)
    assert(q("SHOW TAG VALUES FROM test WITH KEY IN (t0, t1, t2) ORDER BY key, value") ==
      Seq(Seq("t0", ""), Seq("t0", "a"), Seq("t1", "b"), Seq("t2", "c")))
    assert(q("SHOW TAG VALUES ON show_series FROM test WITH KEY IN (t0, t1, t2) ORDER BY key, value") ==
      Seq(Seq("t0", ""), Seq("t0", "a"), Seq("t1", "b"), Seq("t2", "c")))
    assert(q("SHOW TAG VALUES FROM test WITH KEY IN (t0, t1, t2) ORDER BY key ASC, value DESC") ==
      Seq(Seq("t0", "a"), Seq("t0", ""), Seq("t1", "b"), Seq("t2", "c")))
    assert(q("SHOW TAG VALUES FROM test WITH KEY = \"t0\" ORDER BY key, value") ==
      Seq(Seq("t0", ""), Seq("t0", "a")))
    assert(q("SHOW TAG VALUES FROM test WITH KEY IN (t0, t1, t2) ORDER BY key DESC, value ASC") ==
      Seq(Seq("t2", "c"), Seq("t1", "b"), Seq("t0", ""), Seq("t0", "a")))
    assert(q("SHOW TAG VALUES FROM test WITH KEY != \"t0\" ORDER BY key, value") ==
      Seq(Seq("t1", "b"), Seq("t2", "c")))
    assert(q("SHOW TAG VALUES FROM test WITH KEY NOT IN (t0, t1, t2) ORDER BY key, value").isEmpty)
    assert(q("SHOW TAG VALUES FROM test WITH KEY NOT IN (t0) ORDER BY key, value") ==
      Seq(Seq("t1", "b"), Seq("t2", "c")))
    assert(q("SHOW TAG VALUES FROM test WITH KEY IN (t0, t1, t2) WHERE t0 != '' ORDER BY key, value") ==
      Seq(Seq("t0", "a"), Seq("t1", "b"), Seq("t2", "c")))
    assert(q("SHOW TAG VALUES FROM test WITH KEY IN (t0, t1, t2) WHERE time < now() ORDER BY key, value") ==
      Seq(Seq("t0", ""), Seq("t0", "a"), Seq("t1", "b"), Seq("t2", "c")))
    // error surface
    assert(err(e, "SHOW TAG VALUES").message == "Expected FROM, found: ;")
    assert(err(e, "SHOW TAG VALUES FROM test").message == "Expected WITH, found: ;")
    assert(err(e, "SHOW TAG VALUES ON public FROM show_series.test").message ==
      "Expected WITH, found: .")
    assert(err(e, "SHOW TAG VALUES FROM test WITH KEY IN (t0) ORDER BY f0").message ==
      "No field named f0. Valid fields are key, value.")
    assert(err(e, "SHOW TAG VALUES FROM test WITH KEY IN (t0) ORDER BY time").message ==
      "No field named time. Valid fields are key, value.")
    assert(err(e, "SHOW TAG VALUES FROM test WITH KEY IN (t0) WHERE f1 IS NOT NULL").message ==
      "SHOW SERIES does not support where clause contains field f1")
  }

  test("select never clobbers a pre-existing session temp view") {
    val e = freshEngine()
    e.execute("CREATE DATABASE cv"); e.execute("--#DATABASE=cv")
    e.execute("CREATE TABLE mcv(v DOUBLE, TAGS(h))")
    spark.range(3).createOrReplaceTempView("mcv")
    spark.range(5).createOrReplaceTempView("information_schema_tables")
    try {
      assert(err(e, "SELECT v FROM mcv").message.contains("already exists"))
      assert(err(e, "SELECT * FROM information_schema.tables").message.contains("already exists"))
      // the user's views survived untouched
      assert(spark.table("mcv").count() == 3)
      assert(spark.table("information_schema_tables").count() == 5)
    } finally {
      spark.catalog.dropTempView("mcv")
      spark.catalog.dropTempView("information_schema_tables")
    }
  }

  test("schemaless LP write: tables and columns appear implicitly, typed by the value") {
    import spark.implicits._
    val e = freshEngine()
    e.execute("CREATE DATABASE lp"); e.execute("--#DATABASE=lp")
    val out = e.writeLines("lp", Seq(
      "test,t0=a,t1=b f0=1i,f1=\"x\\\"y\" 1000000000",
      "test,t0=a f0=2i 2000000000",
      "test,t2=c f2=true,f3=1.5 3000000000",
      "other v=3.0 5000000000").toDS())
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("other", 1L), ("test", 3L)))
    // implicit DDL: table + typed columns as the LP values declare them
    assert(rows(e, "select column_name, data_type, column_type from information_schema.columns" +
      " where table_name = 'test' order by column_name") ==
      Seq(Seq("f0", "BIGINT", "FIELD"), Seq("f1", "STRING", "FIELD"),
        Seq("f2", "BOOLEAN", "FIELD"), Seq("f3", "DOUBLE", "FIELD"),
        Seq("t0", "STRING", "TAG"), Seq("t1", "STRING", "TAG"), Seq("t2", "STRING", "TAG")))
    // data lands typed; absent tags/fields are null; \" unescaped
    assert(rows(e, "SELECT t0, t1, t2, f0, f1, f2, f3 FROM test ORDER BY time") ==
      Seq(Seq("a", "b", null, 1L, "x\"y", null, null),
        Seq("a", null, null, 2L, null, null, null),
        Seq(null, null, "c", null, null, true, 1.5)))
    // the implicit table serves SHOW SERIES like any other
    assert(rows(e, "SHOW SERIES FROM test ORDER BY key").map(_.head) ==
      Seq("test,t0=a", "test,t0=a,t1=b", "test,t2=c"))
    // a later write EXTENDS the schema (new tag + field, fresh ids)
    e.writeLines("lp", Seq("test,t9=z f9=7i 9").toDS())
    assert(rows(e, "SELECT t9, f9 FROM test WHERE t9 IS NOT NULL") == Seq(Seq("z", 7L)))
    // type conflicts are statement errors, batch-internal or vs catalog
    assert(intercept[AdminError](e.writeLines("lp", Seq("test f0=1.5 10").toDS()))
      .message.contains("field type conflict"))
    assert(intercept[AdminError](e.writeLines("lp",
      Seq("m2 g=1i 0", "m2 g=2.5 1").toDS())).message.contains("field type conflict"))
    // writing a TAG name as a field is rejected
    assert(intercept[AdminError](e.writeLines("lp", Seq("test t0=5i 11").toDS()))
      .message.contains("is a TAG"))
  }

  test("deferred-drop lifecycle end-to-end over /api/v1/sql with a mocked clock") {
    // drop_and_recover_tenant.slt driven through the HTTP surface:
    // schedule → hidden → RECOVER races the deadline (Cancel wins) →
    // bare DROP uses the tenant's drop_after option as the default
    // delay → the due tick executes → terminal status "Successed"
    // (reference spelling)
    import graft.sources.WireHttp
    var now = 1700000000000000000L
    val root = java.nio.file.Files.createTempDirectory("graft_admin_spec").toString
    val e = new AdminEngine(spark, new MetaCatalog, root, () => now)
    val spool = java.nio.file.Files.createTempDirectory("graft_admin_wire").toString
    val srv = WireHttp.start(spool, sqlExec = e.execHttp)
    try {
      def sql(stmt: String, tenant: String = "cnosdb"): (Int, String) = {
        val (c, b) = WireHttp.post(s"${srv.base}/api/v1/sql?tenant=$tenant&db=public",
          stmt.getBytes("UTF-8"), contentType = "text/plain", basicAuth = ("root", ""))
        (c, new String(b, "UTF-8"))
      }
      val status =
        "select name,action,try_count,status from information_schema.resource_status" +
          " where name = 'tenant_delay'"
      assert(sql("CREATE TENANT tenant_delay WITH drop_after='7d'")._1 == 200)
      assert(sql("DROP TENANT tenant_delay AFTER '3m'")._1 == 200)
      assert(sql(status) ==
        (200, "name,action,try_count,status\ntenant_delay,DropTenant,0,Schedule"))
      // hidden while scheduled: statements AS the tenant answer 404
      assert(sql("SHOW DATABASES", tenant = "tenant_delay")._1 == 404)
      // RECOVER races the deadline and wins
      now += 2L * 60 * 1000000000L
      assert(sql("RECOVER TENANT tenant_delay")._1 == 200)
      now += 2L * 60 * 1000000000L // past the original 3m deadline
      e.catalog.runDueResources(now)
      assert(sql(status) ==
        (200, "name,action,try_count,status\ntenant_delay,DropTenant,0,Cancel"))
      assert(sql("SHOW DATABASES", tenant = "tenant_delay")._1 == 200)
      // bare DROP TENANT: the drop_after OPTION is the default delay
      assert(sql("DROP TENANT tenant_delay")._1 == 200)
      assert(sql(status) ==
        (200, "name,action,try_count,status\ntenant_delay,DropTenant,0,Schedule"))
      now += 6L * 86400L * 1000000000L
      e.catalog.runDueResources(now) // 6d < 7d: not due yet
      assert(sql(status)._2.endsWith("Schedule"))
      now += 2L * 86400L * 1000000000L
      e.catalog.runDueResources(now) // 8d: due
      assert(sql(status) ==
        (200, "name,action,try_count,status\ntenant_delay,DropTenant,1,Successed"))
      assert(sql("SHOW DATABASES", tenant = "tenant_delay")._1 == 404)
    } finally srv.stop()
  }

  // ---- COPY INTO (dml/copy_into/*.slt) --------------------------------

  test("copy into: export/import round trip, append semantics, column list, parse error") {
    val e = freshEngine()
    e.execute("CREATE DATABASE copydb")
    e.execute("--#DATABASE=copydb")
    e.execute("CREATE TABLE inner_csv(bigint_c BIGINT, string_c STRING," +
      " boolean_c BOOLEAN, double_c DOUBLE, TAGS(tag1, tag2))")
    // the slt's fixture row (copy_into_table.slt:36) + one comma edge
    e.execute("INSERT INTO inner_csv(TIME, tag1, tag2, bigint_c, string_c, boolean_c, double_c)" +
      " VALUES (1671701216000000000, 'tt1', 'tt2', -512512, 'hello word', true, 1.11)," +
      " (1671701217000000000, 'ta', 'tb', 7, 'x,y', false, 2.5)")
    val out = java.nio.file.Files.createTempDirectory("graft_copy_out").toString
    assert(rows(e, s"COPY INTO 'file://$out/' FROM inner_csv file_format = (type = 'csv')") ==
      Seq(Seq(2L)))
    // export AGAIN: append — the location doubles
    // (copy_into_location__UNIX.slt:47-60)
    rows(e, s"COPY INTO 'file://$out/' FROM inner_csv file_format = (type = 'csv')")
    assert(spark.read.option("header", true).csv(s"file://$out").count() == 4)

    // import back positionally (default column order = time, tags,
    // fields by ordinal — the reference's arrow schema order)
    e.execute("CREATE TABLE inner_csv2(bigint_c BIGINT, string_c STRING," +
      " boolean_c BOOLEAN, double_c DOUBLE, TAGS(tag1, tag2))")
    assert(rows(e, s"COPY INTO inner_csv2 FROM 'file://$out/' file_format = (type = 'csv')") ==
      Seq(Seq(4L)))
    assert(rows(e, "SELECT cast(time as string), tag1, tag2, bigint_c, string_c," +
      " boolean_c, double_c FROM inner_csv2 WHERE tag1='tt1' ORDER BY time LIMIT 1") ==
      Seq(Seq("2022-12-22 09:26:56", "tt1", "tt2", -512512L, "hello word", true, 1.11)))

    // explicit column list remaps csv positions (copy_into_table.slt:58)
    e.execute("CREATE TABLE remap(string_c STRING, bigint_c BIGINT," +
      " boolean_c BOOLEAN, double_c DOUBLE, TAGS(tag1, tag2))")
    assert(rows(e, s"COPY INTO remap(time, tag1, tag2, bigint_c, string_c, boolean_c, double_c)" +
      s" FROM 'file://$out/' file_format = (type = 'csv')") == Seq(Seq(4L)))
    assert(rows(e, "SELECT string_c, bigint_c FROM remap WHERE tag1='ta' LIMIT 1") ==
      Seq(Seq("x,y", 7L)))

    // positional type mismatch is the reference's csv parse error
    // (copy_into_table.slt:66 — "Error while parsing value")
    val bad = err(e, s"COPY INTO inner_csv2(time, bigint_c, string_c, boolean_c, double_c," +
      s" tag1, tag2) FROM 'file://$out/' file_format = (type = 'csv')")
    assert(bad.kind == "Semantic error" && bad.message.contains("Error while parsing value"))
  }

  test("copy into: json/parquet by name, auto_infer_schema, option errors, subquery export") {
    val e = freshEngine()
    e.execute("CREATE DATABASE copydb2")
    e.execute("--#DATABASE=copydb2")
    e.execute("CREATE TABLE m(v DOUBLE, ok BOOLEAN, TAGS(t1))")
    e.execute("INSERT INTO m(TIME, t1, v, ok) VALUES (1000000000, 'a', 1.5, true)," +
      " (2000000000, 'b', 2.5, false)")
    val jout = java.nio.file.Files.createTempDirectory("graft_copy_json").toString
    val pout = java.nio.file.Files.createTempDirectory("graft_copy_parq").toString
    rows(e, s"COPY INTO 'file://$jout/' FROM m file_format = (type = 'json')")
    rows(e, s"COPY INTO 'file://$pout/' FROM m file_format = (type = 'parquet')")

    e.execute("CREATE TABLE m2(v DOUBLE, ok BOOLEAN, TAGS(t1))")
    // json by name: time arrives as an ISO string, storage cast handles it
    assert(rows(e, s"COPY INTO m2 FROM 'file://$jout/' file_format = (type = 'json')") ==
      Seq(Seq(2L)))
    assert(rows(e, "SELECT unix_micros(time), t1, v, ok FROM m2 ORDER BY time") ==
      Seq(Seq(1000000L, "a", 1.5, true), Seq(2000000L, "b", 2.5, false)))
    // auto_infer_schema: json loses the time type → the reference's
    // mismatch error; parquet carries metadata → passes
    // (copy_into_table.slt:128-151)
    assert(err(e, s"COPY INTO m2 FROM 'file://$jout/' file_format = (type = 'json')" +
      " copy_options = (auto_infer_schema = true)").message ==
      "Insert columns and Source columns not match")
    assert(rows(e, s"COPY INTO m2 FROM 'file://$pout/' file_format = (type = 'parquet')" +
      " copy_options = (auto_infer_schema = true)") == Seq(Seq(2L)))

    // option validation wording (spi logical_planner.rs:764-823)
    assert(err(e, s"COPY INTO m2 FROM 'file://$pout/' file_format =" +
      " (type = 'parquet', delimiter = ';')").message ==
      "delimiter and with_header fields are specific to CSV")
    assert(err(e, s"COPY INTO m2 FROM 'file://$pout/' file_format = (type = 'parquet')" +
      " copy_options = (bogus = true)").message == "Unsupported option [bogus]")
    assert(err(e, s"COPY INTO m2 FROM 'file://$pout/' file_format = (type = 'xlsx')").message ==
      "Unsupported file format [xlsx]")

    // subquery export (copy_into_location__UNIX.slt:41): the frame goes
    // through the Catalyst passthrough; only the projected columns land
    val sq = java.nio.file.Files.createTempDirectory("graft_copy_sq").toString
    assert(rows(e, s"COPY INTO 'file://$sq/' FROM (SELECT time, t1 FROM m)" +
      " file_format = (type = 'parquet')") == Seq(Seq(2L)))
    assert(spark.read.parquet(s"file://$sq").columns.toSeq == Seq("time", "t1"))
  }

  // ---- upsert merge + DELETE/UPDATE/COMPACT (dml/*.slt) ---------------

  test("tskv upsert: re-INSERT at a key merges per field, last non-null write wins") {
    val e = freshEngine()
    e.execute("CREATE DATABASE updb")
    e.execute("--#DATABASE=updb")
    e.execute("CREATE TABLE m(f0 BIGINT, f1 BIGINT, TAGS(t0))")
    // file_query.slt: INSERT 1,1 then 2,2 at one key reads back 2,2
    e.execute("INSERT INTO m(TIME, t0, f0, f1) VALUES (1, 'a', 1, 1)")
    e.execute("INSERT INTO m(TIME, t0, f0, f1) VALUES (1, 'a', 2, 2)")
    assert(rows(e, "SELECT f0, f1 FROM m") == Seq(Seq(2L, 2L)))
    // repeat_write.slt: a partial write merges field-by-field
    e.execute("INSERT INTO m(TIME, t0, f1) VALUES (1, 'a', 9)")
    assert(rows(e, "SELECT f0, f1 FROM m") == Seq(Seq(2L, 9L)))
    // a different tag value is a different series — no merge
    e.execute("INSERT INTO m(TIME, t0, f0, f1) VALUES (1, 'b', 7, 7)")
    assert(rows(e, "SELECT count(*) AS n FROM m") == Seq(Seq(2L)))
    // compaction collapses history without changing any read
    e.execute("COMPACT DATABASE updb")
    assert(rows(e, "SELECT f0, f1 FROM m WHERE t0 = 'a'") == Seq(Seq(2L, 9L)))
    // tagless table: the merge key is time alone — the exact
    // ddl/delete_table_with_precision.slt flow (upsert then delete)
    e.execute("CREATE TABLE t1(v BIGINT)")
    e.execute("INSERT INTO t1(TIME, v) VALUES ('2022-11-19 05:42:00', 13)," +
      " ('2022-10-19 05:42:00', 19)")
    e.execute("INSERT INTO t1(TIME, v) VALUES ('2022-10-19 05:42:00', 21)")
    e.execute("DELETE FROM t1 WHERE time = '2022-11-19 05:42:00'")
    assert(rows(e, "SELECT cast(time AS string) AS t, v FROM t1") ==
      Seq(Seq("2022-10-19 05:42:00", 21L)))
  }

  test("delete: complement rewrite; field filters are the reference's reject") {
    val e = freshEngine()
    e.execute("CREATE DATABASE deldb")
    e.execute("--#DATABASE=deldb")
    e.execute("CREATE TABLE m(f0 BIGINT, TAGS(t0))")
    e.execute("INSERT INTO m(TIME, t0, f0) VALUES" +
      " (1000000,'a',1), (2000000,'a',2), (3000000,'b',3)")
    e.execute("DELETE FROM m WHERE t0 = 'a' AND time = '1970-01-01T00:00:00.001'")
    assert(rows(e, "SELECT count(*) AS n FROM m") == Seq(Seq(2L)))
    val bad = err(e, "DELETE FROM m WHERE f0 = 2")
    assert(bad.message.contains("Filtering on the field column on the tskv table in delete statement"))
    e.execute("DELETE FROM m WHERE t0 = 'b'")
    assert(rows(e, "SELECT count(*) AS n FROM m") == Seq(Seq(1L)))
    e.execute("DELETE FROM m") // no WHERE: drop everything
    assert(rows(e, "SELECT count(*) AS n FROM m") == Seq(Seq(0L)))
    // integer time literals are NANOSECOND epochs
    // (type_conversion/timestamp.slt plans TimestampNanosecond)
    e.execute("INSERT INTO m(TIME, t0, f0) VALUES (5000000,'c',5), (6000000,'c',6)")
    assert(rows(e, "SELECT count(*) AS n FROM m WHERE time > 5000000") == Seq(Seq(1L)))
    e.execute("DELETE FROM m WHERE time = 5000000")
    assert(rows(e, "SELECT f0 FROM m") == Seq(Seq(6L)))
  }

  test("update: kind split errors (time / mixed / tag where / all-null tags)") {
    val e = freshEngine()
    e.execute("CREATE DATABASE upddb")
    e.execute("--#DATABASE=upddb")
    e.execute("CREATE TABLE m(f0 BIGINT, TAGS(t0, t1))")
    e.execute("INSERT INTO m(TIME, t0, t1, f0) VALUES (1,'a','x',1)")
    assert(err(e, "UPDATE m SET time = 2 WHERE t0 = 'a'").message.contains("update_time"))
    assert(err(e, "UPDATE m SET t0 = 'b', f0 = 2 WHERE t0 = 'a'").message ==
      "Update the time/tag/field columns at the same statement is not supported")
    assert(err(e, "UPDATE m SET t0 = 'b' WHERE f0 = 1").message ==
      "Where clause cannot contain field/time column, but found: f0")
    assert(err(e, "UPDATE m SET t0 = null, t1 = null WHERE t0 = 'a'").message ==
      "tag values cannot all be null")
    // a tag assignment may not reference table columns
    // (update_tag.slt:86 — the reference evaluates tag assignments
    // without the row in scope)
    assert(err(e, "UPDATE m SET t0 = t0 || 'xxx' WHERE t0 = 'a'").message ==
      "No field named t0.")
    // a SINGLE null tag assignment is allowed — the tag leaves the key
    // (update_tag.slt:34)
    val n = rows(e, "UPDATE m SET t0 = null, t1 = 'y' WHERE t0 = 'a'")
    assert(n == Seq(Seq(1L)))
    assert(rows(e, "SELECT coalesce(t0,'NULL') AS t0, t1, f0 FROM m") ==
      Seq(Seq("NULL", "y", 1L)))
  }

  test("an interrupted DML rewrite swap heals on the next read") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_admin_heal").toString
    val e = new AdminEngine(spark, new MetaCatalog, root, () => 1700000000000000000L)
    e.execute("CREATE DATABASE hd")
    e.execute("--#DATABASE=hd")
    e.execute("CREATE TABLE m(f0 BIGINT, TAGS(t0))")
    e.execute("INSERT INTO m(TIME, t0, f0) VALUES (1,'a',1)")
    // simulate the crash window between the swap's delete and rename:
    // content stranded in the aside dir, table dir gone
    val table = Paths.get(root, "cnosdb", "hd", "m")
    Files.move(table, Paths.get(root, "cnosdb", "hd", "m.rewrite"))
    assert(rows(e, "SELECT count(*) AS n FROM m") == Seq(Seq(1L)))
    // the other crash window: aside written, old dir never deleted —
    // the statement FAILED, so the old content wins and the aside drops
    Files.createDirectories(Paths.get(root, "cnosdb", "hd", "m.rewrite"))
    assert(rows(e, "SELECT count(*) AS n FROM m") == Seq(Seq(1L)))
    assert(!Files.exists(Paths.get(root, "cnosdb", "hd", "m.rewrite")))
  }

  test("insert values with expressions evaluates through Catalyst (http_stream_select.slt)") {
    val e = freshEngine()
    e.execute("CREATE DATABASE exprdb")
    e.execute("--#DATABASE=exprdb")
    e.execute("CREATE TABLE m0(f0 BOOLEAN, f1 DOUBLE, TAGS(t0))")
    // the slt's tuples: a `CAST || CAST NOT IN (..)` boolean expression
    // and a literal NULL tag — both beyond the literal fast-path
    e.execute("INSERT m0(TIME, f0, f1) VALUES" +
      "(366012624080382889, FALSE, 0.6326195071473769)," +
      "(5635692422062413216, (((CAST(0.7382978061623816 AS STRING))||(CAST(FALSE AS STRING))))" +
      " NOT IN ('9sPzqeoM', 'k*G'), 0.5469987105166848)," +
      "(7533102572643168002, TRUE, 0.9622249970170084)")
    e.execute("INSERT m0(TIME, f1, t0) VALUES(1041670293467254361, 0.507623643211476, '916053861')," +
      " (3174128646074400477, 0.47166914414715877, NULL)")
    assert(rows(e, "SELECT coalesce(cast(f0 AS string),'NULL') AS f0," +
      " coalesce(t0,'NULL') AS t0, f1 FROM m0 ORDER BY time") == Seq(
      Seq("false", "NULL", 0.6326195071473769),
      Seq("NULL", "916053861", 0.507623643211476),
      Seq("NULL", "NULL", 0.47166914414715877),
      Seq("true", "NULL", 0.5469987105166848),
      Seq("true", "NULL", 0.9622249970170084)))
    // strict coercion: what Spark's lax cast would silently null is
    // the reference's statement error
    val bad = err(e, "INSERT m0(TIME, f1) VALUES (1, 'abc' || 'x')")
    assert(bad.kind == "Semantic error" && bad.message.contains("invalid value for DOUBLE column f1"))
  }

  // ---- EXPLAIN (dml/explain/*.slt) ------------------------------------

  test("explain: select and copy into print (plan_type, plan); stream select is logical-only") {
    val e = freshEngine()
    e.execute("CREATE DATABASE exdb")
    e.execute("--#DATABASE=exdb")
    e.execute("CREATE TABLE test0(column1 BIGINT, TAGS(column6))")
    val ex = rows(e, "EXPLAIN SELECT * FROM (VALUES (9, 'nine'), (2, 'two')) AS t(num, letter)" +
      " ORDER BY num DESC LIMIT 2")
    assert(ex.map(_.head) == Seq("logical_plan", "physical_plan"))
    assert(ex.head(1).toString.contains("Sort") && ex(1)(1).toString.nonEmpty)

    // EXPLAIN COPY INTO plans without executing (explain_copy_into.slt)
    val out = java.nio.file.Files.createTempDirectory("graft_explain_out").toString
    val exc = rows(e, s"EXPLAIN COPY INTO 'file://$out/'" +
      " FROM (SELECT 1 AS col1, 'xx' AS col2) file_format = (type = 'parquet')")
    assert(exc.map(_.head) == Seq("logical_plan", "physical_plan"))
    assert(new java.io.File(out).list().isEmpty, "EXPLAIN must not execute the copy")

    // a stream table EXPLAINs to its streaming logical plan — watermark
    // visible, no physical row (explain_stream_query.slt:73-80); the
    // same select WITHOUT explain stays the unsupported-op error
    e.execute("INSERT INTO test0(TIME, column6, column1) VALUES (1, 'a', 2)")
    e.execute("CREATE STREAM TABLE TskvTable (time TIMESTAMP, column1 BIGINT, column6 STRING)" +
      " WITH (db = 'exdb', table = 'test0', event_time_column = 'time') engine = tskv")
    val exs = rows(e, "EXPLAIN SELECT * FROM TskvTable")
    assert(exs.map(_.head) == Seq("logical_plan"))
    assert(exs.head(1).toString.contains("EventTimeWatermark"))
    assert(err(e, "SELECT * FROM TskvTable").message.startsWith("Stream table can only"))
  }
}
