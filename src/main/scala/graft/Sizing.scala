package graft

/** Input-volume-derived shuffle-partition sizing (SURVEY §5
  * spill-aware rule, the `Dml.compact` input-bytes discipline applied
  * to shuffle width).
  *
  * The r8 sf100 scaling runs diagnosed their first superlinear readings
  * as a HARNESS sizing error: 600 M derived edge rows pushed through
  * shuffle=8 is 75 M rows per external-sort partition — spill-bound on
  * any box, while a real cluster at that volume runs thousands of
  * shuffle partitions. An env-var width override was a knob a user had
  * to know about; this derives the answer from the lake itself, so sfN
  * runs are un-spilled with no override, and [[Session]] sets it for
  * every main and spec.
  *
  * Rule: one shuffle partition per `bytesPerPartition` of on-disk
  * parquet (default 8 MB), floored at `cores` and capped at 2048. The
  * 8 MB budget is deliberately ~16× tighter than the 128 MB/file
  * compaction target because shuffled data is routinely much wider
  * than its parquet source: within-block pair lists, exploded shingle/
  * edge rows, and decompressed+decoded columns all multiply volume
  * 10–30× between the scan and the widest exchange. 8 MB of source per
  * partition keeps even a 30×-derived exchange near the 128–256 MB
  * per-partition sweet spot. The floor keeps every core busy at tiny
  * sf (the driver's sf0.1 lake is 17 MB → partitions = cores, so
  * driver-round comparability is untouched); the cap bounds task-
  * scheduling overhead on a single box.
  *
  * Cap = 8192 as of r10: the r9 cap (2048) silently re-introduced the
  * very defect this object exists to prevent — at the 22 GB sf100
  * relational lake the derived width is 2816, the cap clamped it to
  * 2048, and q21 (the suite's biggest fact-fact shuffle) measured
  * 247 s warm capped vs 222 s at the derived 2816 and 216 s at 4096
  * (10–13 % — external-sort spill, not dispatch, is the binding cost
  * at this scale). 8192 × 8 MB ≈ 64 GB of source before the cap binds
  * again, beyond any single-box lake here; a real cluster sizes this
  * from executor count anyway.
  */
object Sizing {
  def parquetBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length()
      else 0L
    walk(new java.io.File(dir))
  }

  def parquetFileCount(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1
      else 0
    walk(new java.io.File(dir))
  }

  def shufflePartitions(sfDir: String, cores: Int,
                        bytesPerPartition: Long = 8L << 20,
                        cap: Int = 8192): Int = {
    val derived = math.ceil(parquetBytes(sfDir).toDouble / bytesPerPartition).toInt
    math.min(cap, math.max(cores, derived))
  }

  /** Bucket count for a tag-bucketed (CLUSTERED BY) table — a capacity
    * knob derived from the data like [[shufflePartitions]], not a
    * constant: one bucket file per ~`targetFileBytes` of the table's
    * per-partition bytes (for a day-partitioned table, bytes/day; for
    * an unpartitioned one, the whole lake), rounded UP to a power of
    * two so a future 2× rescale splits buckets evenly. Floor 4 keeps
    * tiny-sf layouts identical to the driver rounds (a 17 MB lake
    * derives the floor); the cap bounds small-file count at any scale
    * — at 100 TB over 3,650 days (~27 GB/day) this derives 256 buckets
    * ≈ 107 MB bucket files, the compaction target. The count is
    * stamped into the staged layout (`_graft_buckets`) so the DDL that
    * registers the table can never disagree with the files on disk.
    */
  def bucketCount(bytesPerPartition: Double,
                  targetFileBytes: Long = 128L << 20,
                  floor: Int = 4, cap: Int = 4096): Int = {
    val raw = math.max(1, math.ceil(bytesPerPartition / targetFileBytes).toInt)
    val p2 = Integer.highestOneBit(raw) * (if (Integer.bitCount(raw) == 1) 1 else 2)
    math.min(cap, math.max(floor, p2))
  }

  /** State/shuffle width for ONE stream-replay micro-batch — the
    * [[shufflePartitions]] 8 MB/partition rule applied to the bytes a
    * single trigger carries (lake bytes ÷ staged files), because a
    * stateful micro-batch pays a state-store open/commit plus one sink
    * file per partition per TRIGGER: r14 measured the K=4 sf0.1 replay
    * (≈4 MB/trigger) at 5.3 s with 8 partitions vs 3.2 s with the
    * derived 1 — the fixed per-partition costs dwarfed the rows. Floor
    * 1 (a micro-batch is per-definition small; no core-count floor —
    * that would re-introduce the constant this replaces), cap shared
    * with the batch rule. At sf10 the events stage (~170 MB) derives 6
    * — BENCH_SCALING's measured derivation — and on a real cluster
    * maxOffsetsPerTrigger fixes bytes/trigger, so the width tracks
    * ration size, not corpus size. r15 (ADVICE r14): this lake-dir
    * form is now only the FALLBACK for lanes that never stage a dir
    * (kafka reads the broker log); staged lanes derive from their own
    * staged bytes in StreamQueries.stageDir, since a lane stages one —
    * often projected — table, not the whole lake.
    */
  def streamReplayParts(lakeDir: String, stageFiles: Int,
                        bytesPerPartition: Long = 8L << 20,
                        cap: Int = 8192): Int = {
    val perTrigger = parquetBytes(lakeDir).toDouble / math.max(1, stageFiles)
    math.min(cap, math.max(1, math.ceil(perTrigger / bytesPerPartition).toInt))
  }

  // NOTE (r11, negative result worth keeping): scaling
  // spark.sql.files.maxPartitionBytes DOWN for the small day-partitioned
  // lake (so the ~30 × 80 KB day files' opens parallelize instead of
  // bin-packing into one scan task) was measured SLOWER at sf0.1 —
  // ts_funnel 1.53 → 2.09 s, ts_asof_join 0.81 → 1.18 s warm — the
  // extra task dispatch costs more than the serialized opens save. The
  // day-layout read tax at tiny sf (~0.05–0.35 s per events lane vs the
  // flat file, A/B in BENCH_SCALING r11) is accepted and documented
  // instead; at warehouse scale a day is GBs and the 128 MB default is
  // already right.
}
