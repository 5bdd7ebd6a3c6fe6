package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.admin._

/** The admin catalog's scale posture, as arithmetic: a deployment-
  * sized catalog (2,000 databases × 5 tables × 8 columns across 40
  * tenants, 500 users, 400 roles with grants) is still driver-side
  * KILOBYTES-to-megabytes of metadata — save/load round-trips through
  * the Hadoop FS in well under a second, sys-table construction stays
  * sub-second, and statement execution cost is independent of lake
  * size because no admin statement touches data. Numbers are printed
  * for BENCH_SCALING; assertions pin correctness and order-of-
  * magnitude bounds loose enough to never flake (10× headroom over
  * measured).
  */
class AdminScaleSpec extends AnyFunSuite with TestSpark {

  test("a 2,000-database catalog: build, persist, reload, list — driver-side and sub-second") {
    val root = java.nio.file.Files.createTempDirectory("graft_admin_scale").toString
    val e = new AdminEngine(spark, new MetaCatalog, root, () => 0L)

    val t0 = System.nanoTime()
    // 40 tenants × 50 databases, every 4th with a TTL; 500 users spread
    // as members; one custom role + grant per tenant; 5 tables × (2
    // tags + 5 fields) on every 10th database
    for (t <- 0 until 40) {
      e.execute(s"CREATE TENANT ten_$t")
      e.session.tenant = s"ten_$t"
      e.execute(s"CREATE ROLE readers_$t INHERIT member")
      for (d <- 0 until 50) {
        val ttl = if (d % 4 == 0) " WITH TTL '90d' SHARD 8" else ""
        e.execute(s"CREATE DATABASE db_${t}_$d$ttl")
        if (d % 10 == 0)
          for (tb <- 0 until 5)
            e.execute(s"CREATE TABLE db_${t}_$d.tbl_$tb(" +
              "f0 DOUBLE CODEC(GORILLA), f1 BIGINT CODEC(DELTA), f2 STRING CODEC(GZIP)," +
              " f3 DOUBLE, f4 BOOLEAN, TAGS(tag0, tag1))")
      }
      e.execute(s"GRANT READ ON DATABASE db_${t}_0 TO readers_$t")
    }
    e.session.tenant = MetaCatalog.SystemTenant
    for (u <- 0 until 500) e.execute(s"CREATE USER user_$u")
    val buildSec = (System.nanoTime() - t0) / 1e9

    val metaPath = java.nio.file.Files.createTempDirectory("graft_admin_scale_meta")
      .toString + "/meta.json"
    val t1 = System.nanoTime()
    e.catalog.save(spark, s"file:$metaPath")
    val saveSec = (System.nanoTime() - t1) / 1e9
    val bytes = java.nio.file.Files.size(java.nio.file.Paths.get(metaPath))

    val t2 = System.nanoTime()
    val c2 = new MetaCatalog
    c2.load(spark, s"file:$metaPath")
    val loadSec = (System.nanoTime() - t2) / 1e9

    val e2 = new AdminEngine(spark, c2, root, () => 0L)
    val t3 = System.nanoTime()
    val dbs = e2.sysTable("information_schema", "databases").count()
    val cols = e2.sysTable("information_schema", "columns").count()
    val listSec = (System.nanoTime() - t3) / 1e9

    info(f"build 2,001 dbs + 1,000 tables + 540 users: $buildSec%.2f s")
    info(f"persist: $saveSec%.3f s, ${bytes / 1024} KiB; reload: $loadSec%.3f s")
    info(f"sys-table listing (dbs=$dbs, cols=$cols): $listSec%.2f s")

    assert(dbs == 40 * 50 + 1) // + cnosdb/public
    assert(cols == 40 * 5 * 5 * 7L) // 5 dbs/tenant × 5 tables × (2 tags + 5 fields)
    assert(c2.users.size == 501, s"users=${c2.users.size}") // root + 500
    assert(bytes < 10L * 1024 * 1024, s"catalog JSON unexpectedly large: $bytes")
    assert(saveSec < 5 && loadSec < 5 && listSec < 30,
      f"catalog ops slow: save $saveSec%.2f load $loadSec%.2f list $listSec%.2f")
  }
}
