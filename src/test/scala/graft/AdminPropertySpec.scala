package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.admin._

/** Property fuzz for the admin statement grammar and the duration
  * arithmetic — universal claims a handful of slt-mirroring fixtures
  * cannot cover: any legal object name must round-trip CREATE → sys
  * table → DROP through the tokenizer's quoting rules, and
  * parse/format must be mutually inverse on every exact-unit duration.
  */
class AdminPropertySpec extends AnyFunSuite with TestSpark {

  private def check(name: String, prop: Prop, n: Int = 200): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(n), prop)
    assert(res.passed, s"$name: ${res.status}")
  }

  // names the reference accepts: any printable run that is not empty/
  // only-spaces and has no '/'; quotes are legal INSIDE quoted names
  // (tokenizer escapes ' by doubling)
  private val nameGen: Gen[String] = {
    val ch = Gen.frequency(
      8 -> Gen.alphaNumChar,
      2 -> Gen.oneOf(' ', '-', '_', '.', ',', '=', '\'', '"', '#', '@'),
      1 -> Gen.oneOf('ü', '食', 'λ'))
    Gen.choose(1, 24).flatMap(n => Gen.stringOfN(n, ch))
      // mirror validateName exactly: "." / ".." are rejected as path
      // traversal since names become lake directories
      .suchThat(s => s.trim.nonEmpty && !s.contains("/") && s != "." && s != "..")
  }

  test("any legal name round-trips CREATE TENANT 'n' → cluster_schema.tenants → DROP") {
    val root = java.nio.file.Files.createTempDirectory("graft_admin_prop").toString
    val e = new AdminEngine(spark, new MetaCatalog, root, () => 0L)
    check("name round-trip", Prop.forAll(nameGen) { n =>
      val quoted = "'" + n.replace("'", "''") + "'"
      e.execute(s"DROP TENANT IF EXISTS $quoted")
      e.execute(s"CREATE TENANT $quoted")
      val seen = e.catalog.tenants.contains(n)
      e.execute(s"DROP TENANT $quoted")
      val gone = !e.catalog.tenants.contains(n)
      seen && gone
    })
  }

  test("duration parse∘format is identity on exact-unit spans; format∘parse normalizes") {
    import MetaCatalog.{parseDuration, formatDuration}
    val unitNs = Gen.oneOf(
      1000000L,                  // ms
      1000000000L,               // s
      60L * 1000000000L,         // m
      3600L * 1000000000L,       // h
      MetaCatalog.NsPerDay,      // d
      MetaCatalog.NsPerYear)     // y
    // cap k so k·u cannot overflow Long (100000 years would)
    val spanGen = for {
      u <- unitNs
      k <- Gen.choose(1L, math.min(100000L, Long.MaxValue / u / 2))
    } yield k * u
    check("parse(format(ns)) == ns", Prop.forAll(spanGen) { ns =>
      parseDuration(formatDuration(ns)) == ns
    })
    // the reference's literal spellings normalize to the display form
    // and back without changing the value
    val litGen = for {
      u <- Gen.oneOf("ms" -> 1000000L, "s" -> 1000000000L, "m" -> 60000000000L,
        "h" -> 3600000000000L, "d" -> MetaCatalog.NsPerDay, "y" -> MetaCatalog.NsPerYear)
      k <- Gen.choose(1L, math.min(100000L, Long.MaxValue / u._2 / 2))
    } yield s"$k${u._1}"
    check("parse(normalize(lit)) == parse(lit)", Prop.forAll(litGen) { lit =>
      parseDuration(MetaCatalog.normalizeDuration(lit)) == parseDuration(lit)
    })
    // and the overflow guard itself: rejected, not wrapped negative
    intercept[AdminError](parseDuration("100000y"))
  }
}
