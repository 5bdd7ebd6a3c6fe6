package graft
import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = Session.envLake
    // the shuffle width tracks the lake's bytes (SURVEY §5 spill-aware
    // rule); at the driver's sf0.1 the 17 MB lake floors it to cpus
    val cpus = Session.cpus
    val spark = Session.local(sfDir, cpus)
    // ERROR, not WARN: WARNs land on stderr DURING the run; if the
    // harness merges streams they could interleave after the final
    // stdout JSON line. Nothing bench-relevant logs below ERROR.
    spark.sparkContext.setLogLevel("ERROR")
    // Full materialization without a collect: the noop sink executes the
    // whole plan (count() would let the optimizer prune projected
    // columns and under-measure map-only queries).
    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => return -1.0 }
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up: JVM/JIT + codegen + parquet footer caches, not timed
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    // prime the native text kernels (MD5 + loop JIT) so the first
    // kernel-backed query isn't charged JVM warm-up it didn't cause
    try {
      import spark.implicits._
      (1 to 5000).map(i => s"warm up the native text kernels pass $i").toDF("text")
        .selectExpr("minhash_sig(text, 8) AS a", "char_ngram_set(text, 4) AS b",
          "simhash60(text) AS c", "word_shingle_set(text) AS d")
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // prime DECIMAL(38,0) arithmetic + min(decimal) hash-agg codegen —
    // ts_dedup's packed-integer lane JITs these kernels separately from
    // the long/double paths (13.6 s cold vs 0.87 s warm in r3 was this)
    try {
      spark.range(20000)
        .selectExpr("CAST(id AS DECIMAL(38,0)) * 10000000 + id AS p", "id % 7 AS g")
        .groupBy("g").agg(org.apache.spark.sql.functions.min("p").as("m"))
        .selectExpr("g", "CAST(m % 10000000 AS LONG) AS id")
        .write.format("noop").mode("overwrite").save()
    } catch { case _: Throwable => () }
    // Calibration sentinel: a fixed deterministic CPU+shuffle probe
    // (5e8-row modulo + hash aggregate) timed before, midway, and after
    // the suite. BENCH_r04's numbers were provably box-noise (an
    // empty-table aggregate at 16.7 s) with nothing in the artifact to
    // say so — the probe makes the measurement self-evidencing: if the
    // three probe times disagree by ≥ 1.5×, the box was contended
    // during the run and the artifact flags ITSELF as noisy. The
    // median probe time is also emitted as `calib_unit` so per-query
    // numbers can be read in probe-relative units across rounds/boxes.
    def calibProbe(): Double = {
      val t0 = System.nanoTime()
      spark.range(500000000L).selectExpr("id % 1024 AS k")
        .groupBy("k").count()
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    calibProbe() // untimed: JIT-prime the probe's own codegen
    // Memory-bandwidth sentinel (r13 #6): the steal counter has a blind
    // spot — r13 documented kernel-lane flip-flops (doc_rep_stats
    // 5.0 ↔ 0.19 s across adjacent runs, zero code change, zero steal)
    // consistent with a co-tenant saturating the memory controller:
    // preempted-vCPU time shows as steal, but cycles stalled on DRAM
    // land on the running thread's clock like real work. This probe
    // measures achieved bandwidth directly: 4 threads each streaming a
    // 32 MB long array (far past LLC, so DRAM-bound) 4 times; aggregate
    // GB/s at the same three suite points as the calib probe. A ≥1.5×
    // disagreement marks the attempt noisy exactly like a calib spread.
    @volatile var bwBlackhole = 0L
    val bwArrays = Array.fill(4)(Array.tabulate(4 << 20)(_.toLong))
    def bwProbe(): Double = {
      val t0 = System.nanoTime()
      val threads = bwArrays.map { a =>
        val t = new Thread(() => {
          var s = 0L; var pass = 0
          while (pass < 4) {
            var i = 0
            while (i < a.length) { s += a(i); i += 1 }
            pass += 1
          }
          bwBlackhole += s
        })
        t.start(); t
      }
      threads.foreach(_.join())
      val bytes = 4L * (4L << 20) * 8L * 4L
      bytes / 1e9 / ((System.nanoTime() - t0) / 1e9)
    }
    bwProbe() // untimed JIT prime
    // Hypervisor steal sampler: /proc/stat's aggregate cpu line, field 8
    // (jiffies, USER_HZ=100). On a virtualized build box the r4/r5 bench
    // blowups (warm run2 7-20× slower than run1, a 9 s calibration
    // probe between two 1 s ones) came with RUNNABLE threads accruing
    // thread-CPU at ~95% of wall — in a KVM guest preempted-vCPU time
    // still lands on the running thread's clock, so in-guest profiling
    // can NOT distinguish steal from real work. Only this counter can:
    // emitting the per-window steal delta beside the calib probes turns
    // "this window looks slow" into "the host stole N cpu-seconds
    // during it". Non-Linux / unreadable → -1 (deltas suppressed).
    def stealJiffies(): Long =
      try {
        val l = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0).trim.split("\\s+")
        if (l.length > 8) l(8).toLong else -1L
      } catch { case _: Throwable => -1L }
    // 4-decimal seconds keeps the one-line JSON short enough to survive the
    // driver's fixed-size stdout tail capture (r1's full-precision line was
    // truncated at the front → "parsed": null).
    def fmt(v: Double): String = BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toString
    // Optional comma-separated name filter for targeted re-measures
    // (e.g. the BENCH_SCALING lanes); the driver never sets it, so the
    // full suite remains the default.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSet)
    val qseq = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val (firstHalf, secondHalf) = qseq.splitAt(qseq.length / 2)

    final case class Attempt(results: Seq[(String, (Double, Double))],
                             calibs: Seq[Double], steals: Seq[Double],
                             bws: Seq[Double], bwSpread: Double,
                             noisy: Boolean, spread: Double, unit: Double) {
      // A query whose either run threw (the -1.0 sentinel) is EXCLUDED
      // from the totals and listed by name: r6's artifact summed the
      // sentinels of 63 crashed lanes into a "47.6 s" headline that read
      // like a 2.4× speedup. A suite with any error is not a measurement
      // — `invalid` says so in the artifact itself.
      def errNames: Seq[String] =
        results.collect { case (n, (r1, r2)) if r1 < 0 || r2 < 0 => n }
      def invalid: Boolean = errNames.nonEmpty
      private def ok = results.filter { case (_, (r1, r2)) => r1 >= 0 && r2 >= 0 }
      def total: Double = ok.map(_._2._1).sum
      def total2: Double = ok.map(_._2._2).sum
      def errJson: String =
        "\"errors\":" + errNames.length +
          ",\"error_queries\":[" + errNames.map("\"" + _ + "\"").mkString(",") + "]" +
          ",\"invalid\":" + invalid
      // the compact self-description every attempt (kept or discarded)
      // contributes to the artifact
      def summaryJson: String =
        "{\"value\":" + fmt(total) + ",\"total_run2\":" + fmt(total2) +
          ",\"calib\":[" + calibs.map(fmt).mkString(",") + "]" +
          ",\"calib_spread\":" + fmt(spread) + ",\"calib_unit\":" + fmt(unit) +
          ",\"steal_sec\":[" + steals.map(fmt).mkString(",") + "]" +
          ",\"bw_gbps\":[" + bws.map(fmt).mkString(",") + "]" +
          ",\"bw_spread\":" + fmt(bwSpread) +
          ",\"noisy\":" + noisy + "," + errJson + "}"
    }

    // run1 = arrival order (includes residual per-query JIT), run2 =
    // immediate warm re-run: the artifact separates JIT from plan cost
    // so round-over-round comparisons aren't dominated by cold-start
    // ordering noise. Four steal readings bracket the three probe
    // windows (A+half1 | B+half2 | C), so every probe's interval has a
    // matching steal delta — contention hitting only the final probe
    // now shows up as steal evidence instead of an unexplained spread.
    // Per-LANE steal bracketing (r12): the window-level 10% rule has a
    // dilution blind spot — r12's first certified-"quiet" attempt
    // carried 1105 cpu-s of hypervisor steal in a long first window
    // (under the 10%-of-window threshold) while a concentrated burst
    // inflated one stream lane 15×. Sampling /proc/stat around EACH
    // timed run makes contamination attributable per lane: a lane is
    // steal-poisoned when the host took more than 25% of the cpu-time
    // the lane's wall could have used (absolute floor 2 cpu-s so stray
    // jiffies can't flag sub-second lanes), and ANY poisoned lane marks
    // the attempt noisy → the retry loop re-runs it.
    def oncePlusSteal(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): (Double, Double) = {
      val s0 = stealJiffies()
      val sec = once(fn)
      val s1 = stealJiffies()
      (sec, if (s0 < 0 || s1 < 0) 0.0 else (s1 - s0) / 100.0)
    }
    def poisoned(sec: Double, stealSec: Double): Boolean =
      sec >= 0 && stealSec > math.max(2.0, 0.25 * sec * cpus)

    def runSuite(): Attempt = {
      val stealA = stealJiffies()
      val wall0 = System.nanoTime()
      val calibA = calibProbe()
      val bwA = bwProbe()
      val res1 = firstHalf.map { case (name, fn) =>
        name -> (oncePlusSteal(fn), oncePlusSteal(fn)) }
      val stealB = stealJiffies()
      val wall1 = System.nanoTime()
      val calibB = calibProbe()
      val bwB = bwProbe()
      val res2 = secondHalf.map { case (name, fn) =>
        name -> (oncePlusSteal(fn), oncePlusSteal(fn)) }
      val stealC = stealJiffies()
      val wall2 = System.nanoTime()
      val calibC = calibProbe()
      val bwC = bwProbe()
      val stealD = stealJiffies()
      val wall3 = System.nanoTime()
      val calibs = Seq(calibA, calibB, calibC)
      val spread = calibs.max / calibs.min
      val unit = calibs.sorted.apply(1)
      val bws = Seq(bwA, bwB, bwC)
      val bwSpread = bws.max / math.max(1e-9, bws.min)
      // steal per window in cpu-seconds (USER_HZ=100); -1 when
      // unavailable. A window is steal-noisy when the host took more
      // than 10% of the cpu-time the bench's own executor pool could
      // have used in it; a LANE is steal-noisy per `poisoned` above.
      val reads = Seq(stealA, stealB, stealC, stealD)
      val steals =
        if (reads.exists(_ < 0)) Seq(-1.0, -1.0, -1.0)
        else reads.zip(reads.tail).map { case (a, b) => (b - a) / 100.0 }
      val walls = Seq((wall1 - wall0) / 1e9, (wall2 - wall1) / 1e9, (wall3 - wall2) / 1e9)
      val stealNoisy = steals.zip(walls).exists {
        case (s, w) => s > 0.10 * w * cpus
      }
      val all = res1 ++ res2
      val laneNoisy = all.exists { case (_, ((r1, s1), (r2, s2))) =>
        poisoned(r1, s1) || poisoned(r2, s2)
      }
      Attempt(all.map { case (n, ((r1, _), (r2, _))) => n -> (r1, r2) },
        calibs, steals, bws, bwSpread,
        spread >= 1.5 || bwSpread >= 1.5 || stealNoisy || laneNoisy, spread, unit)
    }

    // Self-certifying measurement: re-run the whole suite until the
    // sentinel reads quiet, up to SPARK_GRAFT_BENCH_ATTEMPTS (default
    // 3) tries — the committed artifact is either a certified-quiet run
    // or carries the full list of noisy attempts proving the box never
    // went quiet (r4 was silently garbage, r5 admittedly noisy while a
    // quiet window existed the same hour; the retry closes that class).
    // Discarded attempts are recorded in `attempts` (oldest first, the
    // kept run's summary last) so no measurement is thrown away
    // invisibly.
    val maxAttempts = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_ATTEMPTS", "3").toInt)
    var kept = runSuite()
    val attempts = scala.collection.mutable.ArrayBuffer(kept.summaryJson)
    while (kept.noisy && attempts.length < maxAttempts) {
      kept = runSuite()
      attempts += kept.summaryJson
    }
    val qs = kept.results.map { case (k, (r1, r2)) =>
      s"\"" + k + "\":{\"run1\":" + fmt(r1) + ",\"run2\":" + fmt(r2) +
        ",\"rel2\":" + fmt(r2 / kept.unit) + "}"
    }.mkString("{", ",", "}")
    val calibJson = "\"calib\":[" + kept.calibs.map(fmt).mkString(",") + "]," +
      "\"calib_spread\":" + fmt(kept.spread) + ",\"calib_unit\":" + fmt(kept.unit) +
      ",\"steal_sec\":[" + kept.steals.map(fmt).mkString(",") + "]" +
      ",\"bw_gbps\":[" + kept.bws.map(fmt).mkString(",") + "]" +
      ",\"bw_spread\":" + fmt(kept.bwSpread) +
      ",\"noisy\":" + (kept.noisy || kept.invalid) + "," + kept.errJson +
      ",\"attempts\":[" + attempts.mkString(",") + "]"
    val sfName = sfDir.split('/').lastOption.getOrElse(sfDir)
    // Per-lane regression gate against the previous round's committed
    // snapshot (tools/bench_diff.py is the offline form; this inlines
    // the same rule so the DRIVER artifact itself carries the list):
    // compare rel2 (warm seconds / probe unit — box-speed-normalized),
    // flag >= 1.5x with a 0.1-probe-unit floor so sub-noise lanes can't
    // trip it. Same-sf baselines only; missing baseline => empty list.
    // The list is normally empty/tiny, so it fits the stdout line's
    // fixed-size tail-capture budget (the full queries map does not).
    val regressions: Seq[String] = {
      val basePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE", "BENCH_SELF_r14.json")
      try {
        val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(basePath))
        val baseSf = "\"sf\":\"([^\"]+)\"".r.findFirstMatchIn(txt).map(_.group(1))
        if (!baseSf.contains(sfName)) Seq.empty
        else {
          val entry = ("\"([A-Za-z0-9_]+)\":\\{\"run1\":[-0-9.]+,\"run2\":[-0-9.]+," +
            "\"rel2\":([-0-9.]+)\\}").r
          val baseRel = entry.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
          // Median-normalize: the probe tracks CPU speed but not the
          // scheduling/JIT fixed costs small lanes are made of, so a
          // box-state change shifts the WHOLE rel2 distribution (r8
          // measured a suite-wide median drift of 1.12×). A regression
          // is a lane moving 1.5× beyond that shared drift, not 1.5×
          // in raw units.
          val ratios = kept.results.flatMap { case (name, (r1, r2)) =>
            baseRel.get(name).collect {
              case o if r1 >= 0 && r2 >= 0 && o >= 0.1 => (name, o, r2 / kept.unit)
            }
          }
          val sortedR = ratios.map { case (_, o, n) => n / o }.sorted
          val med = if (sortedR.isEmpty) 1.0 else sortedR(sortedR.length / 2)
          ratios.collect {
            case (name, o, n) if n / o >= 1.5 * med =>
              s"""{"q":"$name","old_rel2":${fmt(o)},"new_rel2":${fmt(n)},""" +
                s""""x_vs_median":${fmt(n / o / med)}}"""
          }
        }
      } catch { case _: Throwable => Seq.empty }
    }
    val regJson = "\"regressions\":[" + regressions.mkString(",") + "]"
    val fullLine = s"""{"metric":"total","value":${fmt(kept.total)},"unit":"sec","total_run2":${fmt(kept.total2)},$calibJson,$regJson,"queries":$qs,"sf":"$sfName"}"""
    // The full per-query map goes to the file and, on its own line, to
    // stdout just before a short totals line, which stays LAST so it
    // survives any fixed-size tail capture (r1/r2 both had "parsed": null
    // because the 100-query map pushed the line start outside the
    // captured tail window).
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH_RESULT.json"), fullLine + "\n")
    spark.stop()
    // build.sbt routes forked stdout straight through (StdoutOutput) and
    // suppresses sbt's [success] epilogue, so this is the LITERAL last
    // stdout line — r1-r3 all parsed null because sbt decorated/followed
    // the line.
    println(qs)
    println(s"""{"metric":"total","value":${fmt(kept.total)},"unit":"sec","total_run2":${fmt(kept.total2)},$calibJson,$regJson,"sf":"$sfName"}""")
  }
}
