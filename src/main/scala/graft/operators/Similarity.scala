package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Similarity search over embedding columns (SURVEY.md §2.4).
  *
  * Brute-force top-k is the broadcast(query-set) × scan baseline — no
  * shuffle on the corpus side, so at 100 TB it is one pass; the LSH
  * variant buckets vectors by seeded random-hyperplane signs so
  * candidate generation is a bucket-equijoin instead of a cross join.
  *
  * Both paths precompute per-vector norms BEFORE any join: the pair
  * loop then costs one dot product instead of three (self-norms were
  * otherwise recomputed for every pair — 3× the flops at 100 TB).
  */
object Similarity {

  /** Σ xᵢyᵢ — native Catalyst expression (VecDot, whole-stage codegen). */
  def dot(x: Column, y: Column): Column = Native.call("vec_dot", x, y)

  /** √(v·v) — precompute once per vector, never per pair. */
  def norm(v: Column): Column = sqrt(dot(v, v))

  /** Cosine similarity of two array<float/double> columns. */
  def cosine(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    dot(ad, bd) / (norm(ad) * norm(bd))
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (excluding itself). Queries are broadcast; the
    * corpus side is a single narrow scan + per-query top-k.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int): DataFrame = {
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec"))))
    val c = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("c_vec"))
      .withColumn("c_norm", norm(col("c_vec")))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), (floor(col("cos") * 1e4) / 1e4).as("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** Deterministic seeded hyperplane component for (plane, dim):
    * md5-derived uniform in [-1, 1). Reproducible across runs/engines —
    * an ANN index rebuilt on other hardware buckets identically.
    */
  private[graft] def planeComponent(plane: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"${plane}_$d".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16).toDouble / 4294967296.0 * 2 - 1
  }

  /** Random-hyperplane LSH bucket ids — `numTables` independent hash
    * tables of `numPlanes` sign bits each (standard multi-table LSH:
    * each table trades precision for recall; the union of table
    * candidates recovers neighbors a single table splits away).
    *
    * The plane matrix is tiny (tables × planes × dims doubles) and
    * deterministic, so it is materialized driver-side as literal
    * arrays: bucketing is then a pure mapper — one codegen'd
    * projection, no explode, no shuffle. That is the 100 TB shape: a
    * signature pass over the corpus stays embarrassingly parallel.
    *
    * Output: (id, table, bucket).
    */
  def lshBucket(df: DataFrame, idCol: String, vecCol: String,
                numPlanes: Int, dims: Int, numTables: Int = 1): DataFrame = {
    require(dims > 0, s"lshBucket needs a positive dimensionality, got $dims")
    val vec = col(vecCol).cast("array<double>")
    val tables = (0 until numTables).map { t =>
      val bucket = (0 until numPlanes).map { p =>
        val plane = t * numPlanes + p
        // ONE Literal node per plane (typedLit of the whole array), not
        // dims CreateArray children: the analyzer/optimizer walks every
        // expression node once per run, and the per-element form charged
        // numPlanes x dims nodes of plan time to each run (r15: the emb
        // lanes' wall was ~2x their Spark-job time, all plan-side).
        val comps = typedLit((0 until dims).map(d => planeComponent(plane, d)))
        when(dot(vec, comps) > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("table"), bucket.as("bucket"))
    }
    df.select(col(idCol), explode(array(tables: _*)).as("tb"))
      .select(col(idCol), col("tb.table").as("table"), col("tb.bucket").as("bucket"))
  }

  /** LSH-bucketed ANN: candidates share any table's bucket with the
    * query, ranked by exact cosine over the candidate union. The query
    * set's buckets+vectors are broadcast, so candidate generation is a
    * map-side join against the corpus bucket pass; only the (small)
    * candidate set is shuffled for dedup and scoring.
    */
  def lshAnn(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             numPlanes: Int, dims: Int, k: Int, numTables: Int = 4): DataFrame = {
    val cBuckets = lshBucket(corpus, idCol, vecCol, numPlanes, dims, numTables)
    val qBuckets = broadcast(
      lshBucket(queries, idCol, vecCol, numPlanes, dims, numTables)
        .select(col(idCol).as("query_id"), col("table"), col("bucket")))
    val qVecs = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec"))))
    val cVecs = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("c_vec"))
      .withColumn("c_norm", norm(col("c_vec")))
    val cands = cBuckets
      .join(qBuckets, Seq("table", "bucket"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"))
      .distinct() // a pair can collide in several tables
      .join(qVecs, Seq("query_id"))
      .join(cVecs, Seq("neighbor_id"))
      .withColumn("cos", dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), (floor(col("cos") * 1e4) / 1e4).as("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** Sign-bit binary quantization: bit i of the BIGINT signature is set
    * iff v[i] > 0. The 32×-compression step binary-embedding stores use
    * (64 float dims → one 8-byte word): a pure codegen'd projection, no
    * shuffle — the 100 TB signature pass is embarrassingly parallel,
    * and downstream distance is XOR+popcount on one machine word.
    *
    * Native `bin_sig` kernel: one primitive pass, no array cast (a
    * composed 64-term `when` chain measured 13 µs/PAIR at sf10 —
    * Catalyst collapses the projection above the broadcast join and
    * re-evaluates it per (query, row) pair, the PqEncodeCodes lesson
    * again).
    */
  def binarySig(vec: Column, dims: Int): Column = {
    require(dims > 0 && dims <= 64, s"binarySig packs into one 64-bit word, got dims=$dims")
    // Slice to `dims` BEFORE the kernel so a vector longer than `dims`
    // (even past 64 dims) packs its prefix instead of throwing.
    Native.call("bin_sig", slice(vec, 1, dims))
  }

  /** Hamming-distance ANN over sign-bit signatures: for each query, the
    * k corpus vectors with the fewest differing sign bits (ties to the
    * smaller id — the ranking is exact integers end to end, so it
    * hash-checks with no cosine-ulp caveat). Corpus-side work is one
    * signature mapper + a broadcast-query XOR/popcount scan; only the
    * per-query top-k rows survive the rank window. This is the
    * cheapest-per-candidate filter of the ANN family (one word per
    * vector, one popcount per pair) — the shape billion-scale binary
    * indexes (e.g. faiss IndexBinaryFlat) run before an exact rerank.
    */
  def hammingAnn(corpus: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, dims: Int, k: Int): DataFrame = {
    // raw float column: bin_sig reads it directly, no array<double> cast
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), binarySig(col(vecCol), dims).as("q_sig")))
    val c = corpus
      .select(col(idCol).as("neighbor_id"), binarySig(col(vecCol), dims).as("sig"))
    val scored = c.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("hamming", bit_count(col("q_sig").bitwiseXOR(col("sig"))).cast("long"))
    val w = Window.partitionBy("query_id").orderBy(col("hamming"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("hamming"),
        col("rank").cast("long").as("rank"))
  }

  private[graft] final case class MmrRow(query_id: Long, kind: Int,
                                         x: Long, y: Long, v: Long)
  private[graft] final case class MmrPick(query_id: Long, rank: Long,
                                          vec_id: Long, mmr_q: Long)

  /** Maximal Marginal Relevance diversity selection (Carbonell &
    * Goldstein, SIGIR'98) — the diverse-subset sampler retrieval and
    * training-data curation share: per query, greedily pick k items
    * maximizing λ·rel(d) − (1−λ)·max sim(d, already-picked), so the
    * result covers the neighborhood instead of returning k near-copies.
    *
    * Engine-stable by construction: relevance and pairwise similarity
    * are 1e-4-floor-quantized cosines (the knnGraph discipline), the
    * MMR score is the exact integer `lam10·rel_q − (10−lam10)·maxSim_q`
    * with ties to the smaller id, so the greedy sequence is
    * deterministic and a DuckDB recursive CTE replays it pick by pick.
    *
    * Shape at 100 TB: the candidate POOL bounds everything — per query
    * a top-`poolSize` relevance scan (broadcast queries, corpus stays
    * mapper-only), then poolSize² pair scores per query, then the
    * inherently sequential greedy runs per-query in ONE flatMapGroups
    * over bounded integer rows (the Repair/Holt whole-series
    * precedent) — the corpus is never touched again and no step is
    * quadratic in anything but the constant pool.
    */
  def mmrSelect(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, poolSize: Int, k: Int,
                lam10: Int = 7): DataFrame = {
    require(lam10 >= 0 && lam10 <= 10, s"lam10 is tenths in [0,10], got $lam10")
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("q_vec"))
      .withColumn("q_norm", norm(col("q_vec"))))
    val c = corpus
      .select(col(idCol).as("cand_id"), col(vecCol).cast("array<double>").as("c_vec"))
      .withColumn("c_norm", norm(col("c_vec")))
    val scored = c.crossJoin(q)
      .filter(col("cand_id") =!= col("query_id"))
      .withColumn("rel_q",
        floor(dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")) * 1e4)
          .cast("long"))
    val w = Window.partitionBy("query_id").orderBy(col("rel_q").desc, col("cand_id"))
    val pool = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= poolSize)
      .select("query_id", "cand_id", "rel_q", "c_vec", "c_norm")
    val pa = pool.select(col("query_id"), col("cand_id").as("a"),
      col("c_vec").as("va"), col("c_norm").as("na"))
    val pb = pool.select(col("query_id"), col("cand_id").as("b"),
      col("c_vec").as("vb"), col("c_norm").as("nb"))
    val pairs = pa.join(pb, Seq("query_id"))
      .filter(col("a") =!= col("b"))
      .withColumn("sim_q",
        floor(dot(col("va"), col("vb")) / (col("na") * col("nb")) * 1e4).cast("long"))
      .select("query_id", "a", "b", "sim_q")
    val rows = pool.select(col("query_id"), lit(0).as("kind"),
        col("cand_id").as("x"), lit(0L).as("y"), col("rel_q").as("v"))
      .unionByName(pairs.select(col("query_id"), lit(1).as("kind"),
        col("a").as("x"), col("b").as("y"), col("sim_q").as("v")))
      .as[MmrRow]
    rows.groupByKey(_.query_id).flatMapGroups { (qid, it) =>
      val all = it.toArray
      val rel = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      all.filter(_.kind == 0).sortBy(_.x).foreach(r => rel(r.x) = r.v)
      val sim = all.filter(_.kind == 1).map(r => (r.x, r.y) -> r.v).toMap
      val chosen = scala.collection.mutable.ArrayBuffer.empty[Long]
      val out = scala.collection.mutable.ArrayBuffer.empty[MmrPick]
      while (chosen.size < k && chosen.size < rel.size) {
        var bestId = -1L
        var bestScore = Long.MinValue
        rel.foreach { case (id, r) =>
          if (!chosen.contains(id)) {
            val maxSim = if (chosen.isEmpty) 0L
              else chosen.map(s => sim.getOrElse((id, s), 0L)).max
            val score = lam10 * r - (10 - lam10) * maxSim
            if (score > bestScore || (score == bestScore && id < bestId)) {
              bestId = id; bestScore = score
            }
          }
        }
        chosen += bestId
        out += MmrPick(qid, chosen.size.toLong, bestId, bestScore)
      }
      out
    }.toDF()
  }

  /** Plain-Scala Lloyd's k-means over a BOUNDED driver-side sample —
    * the IVF coarse quantizer. Deterministic: init picks evenly spaced
    * sample points (sample is id-ordered), fixed iteration count, no
    * RNG. The sample is capped (default 512 vectors), so this is a
    * constant-size driver computation like the LSH plane literals, not
    * a collect() of the corpus.
    */
  def kmeansCentroids(samples: Array[Array[Double]], k: Int,
                      iters: Int): Array[Array[Double]] = {
    require(samples.nonEmpty, "kmeans needs a non-empty sample")
    val dims = samples.head.length
    val kEff = math.min(k, samples.length)
    val stride = samples.length / kEff
    var cents = Array.tabulate(kEff)(i => samples(i * stride).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(cents.length, dims)(0.0)
      val counts = Array.fill(cents.length)(0)
      samples.foreach { s =>
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          var d = 0.0
          var j = 0
          while (j < dims) { val t = s(j) - cents(c)(j); d += t * t; j += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dims) { sums(best)(j) += s(j); j += 1 }
      }
      cents = Array.tabulate(cents.length)(c =>
        if (counts(c) > 0) sums(c).map(_ / counts(c)) else cents(c))
    }
    cents
  }

  /** Nearest-centroid id for a vector, as one codegen'd expression:
    * argmin over k centroids of −2·v·cᵢ + |cᵢ|² (|v|² is constant under
    * argmin). `least` over (dist, idx) structs compares
    * lexicographically, so ties break to the lower index
    * deterministically. Centroids are literals — the whole assignment
    * is a mapper, no shuffle, no UDF.
    */
  def nearestCentroid(vec: Column, centroids: Array[Array[Double]]): Column =
    // least() needs >= 2 args — a single cell is always cell 0
    if (centroids.length == 1) lit(0)
    else least(centroids.zipWithIndex.map { case (c, i) =>
      val cLit = typedLit(c.toSeq) // one Literal node, not dims children
      struct((dot(vec, cLit) * -2.0 + lit(c.map(x => x * x).sum)).as("d"),
        lit(i).as("i"))
    }: _*).getField("i")

  /** Bounded vector sample for quantizer training, stratified by
    * partition: every split contributes its first ceil(n/partitions)
    * vectors (`mapPartitions` + `take`), so on a lake laid out by
    * cluster/label the sample spans the whole layout — a bare
    * `limit(n)` CollectLimit is satisfied by the FIRST partitions and
    * trains the quantizer on one region of the distribution (r2's
    * residual bias). Still ONE job (no CollectLimit retry escalation:
    * the cap is applied driver-side with `take`), each task reads only
    * the head of its split, so IO stays ~n rows + one row-group per
    * file regardless of corpus size. Deterministic on a static lake
    * (file order and in-file row order are stable).
    */
  def sampleVectors(corpus: DataFrame, vecCol: String, n: Int): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vecs = corpus.select(col(vecCol).cast("array<double>").as("v")).as[Seq[Double]]
    val parts = math.max(1, vecs.rdd.getNumPartitions)
    // at most n partitions contribute (stride-selected by partition id
    // inside the task, so deselected splits never pull their iterator —
    // no row IO) and each contributes a small oversampled head: driver
    // memory stays O(n) however many splits the lake has, and the 4×
    // oversample absorbs sparse/uneven partitions without a second job.
    // Returns up to n; a heavily-filtered corpus may yield fewer — for
    // exact-n needs use TimeSeries.sampleReservoir (full pass).
    val selParts = math.min(parts, n)
    val stride = parts / selParts
    val perPart = math.min(n, math.ceil(4.0 * n / selParts).toInt)
    val collected = vecs.mapPartitions { it =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      if (pid % stride == 0) it.take(perPart).map(v => (pid, v)) else Iterator.empty
    }.collect()
    // round-robin across partitions so the cap keeps the sample SPREAD —
    // a plain take(n) over the oversampled heads would refill from the
    // first partitions, which is the bias this function exists to avoid
    val byPart = collected.groupBy(_._1).toSeq.sortBy(_._1).map(_._2.map(_._2))
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var round = 0
    while (out.length < n && byPart.exists(_.length > round)) {
      byPart.foreach { p => if (round < p.length && out.length < n) out += p(round).toArray }
      round += 1
    }
    out.toArray
  }

  /** Explicit, cacheable IVF quantizer construction — ONE bounded Spark
    * job, run once and reusable across ivfAnn calls (the 100 TB shape:
    * train the coarse quantizer offline, pass centroids in).
    */
  def buildIvfQuantizer(corpus: DataFrame, vecCol: String, numCentroids: Int,
                        sampleSize: Int = 512, iters: Int = 8): Array[Array[Double]] =
    kmeansCentroids(sampleVectors(corpus, vecCol, sampleSize), numCentroids, iters)

  /** IVF ANN: k-means cells replace LSH buckets. Corpus vectors are
    * assigned to their nearest centroid (one mapper pass); each query
    * probes its `nprobe` nearest cells; candidates are the cell-equijoin
    * of the two, ranked by exact cosine. Versus LSH: cells adapt to the
    * data distribution, so recall per candidate examined is higher on
    * clustered embeddings. At 100 TB the corpus side stays one scan +
    * one shuffle keyed on (small-cardinality) cell id; queries and
    * centroids are broadcast.
    *
    * Centroids come in as literals (from [[buildIvfQuantizer]] or an
    * offline training job) — plan construction launches NO Spark jobs.
    */
  def ivfAnn(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
             k: Int, centroids: Array[Array[Double]], nprobe: Int = 4): DataFrame = {
    require(centroids.nonEmpty, "ivfAnn needs at least one centroid")
    val cents = centroids

    val cCells = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("c_vec"))
      .withColumn("c_norm", norm(col("c_vec")))
      .withColumn("cell", nearestCentroid(col("c_vec"), cents))

    // query → nprobe nearest cells: centroid count is tiny, so explode
    // + per-query rank happens on |queries| × k rows, all broadcast.
    val centDists = cents.zipWithIndex.map { case (c, i) =>
      val cLit = typedLit(c.toSeq) // one Literal node, not dims children
      struct((dot(col("q_vec"), cLit) * -2.0 + lit(c.map(x => x * x).sum)).as("d"),
        lit(i).as("cell"))
    }
    val qProbes = broadcast {
      val exploded = queries
        .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("q_vec"))
        .withColumn("q_norm", norm(col("q_vec")))
        .select(col("query_id"), col("q_vec"), col("q_norm"),
          explode(array(centDists: _*)).as("cd"))
      val w = Window.partitionBy("query_id").orderBy(col("cd.d"), col("cd.cell"))
      exploded.withColumn("pr", row_number().over(w))
        .filter(col("pr") <= nprobe)
        .select(col("query_id"), col("q_vec"), col("q_norm"), col("cd.cell").as("cell"))
    }

    val scored = cCells.join(qProbes, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), (floor(col("cos") * 1e4) / 1e4).as("cos"),
        col("rank").cast("long").as("rank"))
  }

  // ------------------------------------------------------------------
  // Integer-exact IVF: quantizer training that any engine reproduces
  // bit-for-bit, so the WHOLE ANN path is hash-level oracle-checkable
  // (the float-kmeans path above stays as the library's general API).
  // ------------------------------------------------------------------

  /** Shared quantization grid for the exact IVF path: component →
    * floor(x·1e6) as an integer-valued double. Every arithmetic result
    * downstream (squared distances ≤ dims·(2e6)² ≈ 2.6e14, sums over a
    * bounded sample) stays below 2⁵³, so double arithmetic IS exact
    * integer arithmetic and Spark/DuckDB cannot disagree by a ulp.
    */
  private[graft] def quantGrid(vec: Column): Column =
    transform(vec.cast("array<double>"), x => floor(x * lit(1e6)).cast("double"))

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  /** Deterministic, engine-reproducible IVF quantizer: Lloyd's k-means
    * over vectors quantized to the 1e-6 integer grid, trained on the
    * md5-prefix sample `md5(id)[0, prefixLen) < hexBound` (a pure
    * mapper filter — no sort, no TakeOrdered; at 100 TB you lengthen
    * the prefix so the sampled fraction keeps the collect bounded).
    * Init = the k sample vectors with the smallest md5(id); each Lloyd
    * round assigns by exact integer squared distance (ties → lower
    * cell) and re-centers with floor(sum/count). Every step is plain
    * SQL over the same parquet, so a DuckDB oracle recomputes the SAME
    * centroids and the driver can hash-check the full ANN output —
    * unlike the float quantizer above, whose training is a declared
    * Spark-side step.
    */
  /** hexBound targeting ~targetSample rows of an n-row corpus, so the
    * training collect stays bounded at ANY scale without hand-tuning:
    * an 8-hex-digit md5-prefix bound b = floor(target·2³²/n) samples
    * n·b/2³² ≈ target rows (uniform md5), clamped to [1, 2³²); n ≤
    * target degenerates to "g" (> every hex char ⇒ the full corpus).
    * The rule is one count + double floor, so a SQL oracle recomputes
    * the IDENTICAL bound from its own count(*) — both operands exact in
    * double (target·2³² ≤ 2⁴⁴). Granularity 1/2³² keeps the expected
    * sample within 2× of target up to ~10¹³ rows; beyond that the
    * maxSample fail-fast in [[exactIvfCentroids]] still guards.
    */
  def ivfHexBound(n: Long, targetSample: Long = 4096): String = {
    require(n > 0, "ivfHexBound: empty corpus")
    val b = math.floor(targetSample.toDouble * 4294967296.0 / n.toDouble).toLong
    if (b >= 4294967296L) "g" else f"${math.max(1L, b)}%08x"
  }

  def exactIvfCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                        k: Int, iters: Int = 3,
                        hexBound: String = "8",
                        maxSample: Int = 8192): Array[Array[Long]] = {
    // The md5-prefix sample scales with the corpus (hexBound="8" is
    // ~50%), so the collect is bounded by a fail-fast cap: limit reads
    // at most maxSample+1 rows, and exceeding the cap THROWS rather
    // than silently truncating (a truncated sample would train
    // different centroids than the SQL oracle's full-sample retrain).
    // At 100 TB, lengthen the hexBound prefix to shrink the fraction.
    val rows = corpus
      .filter(substring(md5(col(idCol).cast("string")), 1, hexBound.length) < hexBound)
      .select(col(idCol).cast("string").as("sid"), quantGrid(col(vecCol)).as("vq"))
      .limit(maxSample + 1)
      .collect()
    require(rows.nonEmpty, "exactIvfCentroids: md5-prefix sample is empty — widen hexBound")
    require(rows.length <= maxSample,
      s"exactIvfCentroids: the md5-prefix sample exceeds maxSample=$maxSample rows — " +
        "lengthen the hexBound prefix (each extra hex char divides the sampled " +
        "fraction by 16) or raise the cap deliberately")
    val samples = rows.map { r =>
      (md5Hex(r.getString(0)), r.getSeq[Double](1).map(_.toLong).toArray)
    }.sortBy(_._1).map(_._2)
    // Exactness precondition: every distance term downstream must stay
    // an exact integer in a double. With |component| ≤ maxAbsQ, d =
    // Σ(s−c)² ≤ dims·(2·maxAbsQ)²; require dims·maxAbsQ² ≤ 2⁵⁰ so the
    // driver's Long sums and the engines' double dot products can never
    // overflow/round (the same bound ivfAnnExact re-checks per row).
    val maxAbsQ = math.max(1L, samples.iterator.flatMap(_.iterator).map(math.abs).max)
    require(samples.head.length.toDouble * maxAbsQ.toDouble * maxAbsQ.toDouble <= ExactSdBound,
      s"exactIvfCentroids: sampled components reach |q|=$maxAbsQ after the 1e6 grid — " +
        "dims·maxAbsQ² exceeds the 2^50 exact-integer budget; normalize or rescale the " +
        "vectors (the bit-exact guarantee would silently break otherwise)")
    lloydExact(samples, k, iters)
  }

  /** The deterministic Lloyd loop shared by [[exactIvfCentroids]] and
    * [[pqTrainExact]]: init = first k of the md5-ordered sample, assign
    * by exact integer squared distance (ties → lower cell), re-center
    * floor(sum/count) — the relational program the SQL oracles replay.
    */
  private def lloydExact(samples: Array[Array[Long]], k: Int,
                         iters: Int): Array[Array[Long]] = {
    val dims = samples.head.length
    val kEff = math.min(k, samples.length)
    var cents = samples.take(kEff).map(_.clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(kEff, dims)(0L)
      val counts = Array.fill(kEff)(0L)
      samples.foreach { s =>
        var best = 0; var bd = Long.MaxValue; var c = 0
        while (c < kEff) {
          var d = 0L; var j = 0
          while (j < dims) { val t = s(j) - cents(c)(j); d += t * t; j += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        counts(best) += 1
        var j = 0
        while (j < dims) { sums(best)(j) += s(j); j += 1 }
      }
      // floor(sum/count) via double division, textually mirroring the
      // SQL oracle's CAST(floor(sv / n) AS BIGINT); sums are ≤ |samples|
      // ·1e6 so the division operands are exactly representable and the
      // floor can never straddle an integer boundary across engines.
      cents = Array.tabulate(kEff)(c =>
        if (counts(c) > 0) sums(c).map(s => math.floor(s.toDouble / counts(c)).toLong)
        else cents(c))
    }
    cents
  }

  /** Exact integer squared distance from a quantized vector column to a
    * quantized centroid literal: |vq|² − 2·vq·cq + |cq|², each term an
    * exact integer in double form (vec_dot keeps it codegen'd).
    */
  private def intDist(selfDot: Column, vq: Column, cq: Array[Long]): Column = {
    val cLit = typedLit(cq.toSeq.map(_.toDouble)) // one Literal node
    (selfDot - dot(vq, cLit) * 2.0 + lit(cq.map(x => x.toDouble * x).sum)).cast("long")
  }

  /** 2⁵⁰ — per-term budget for the exact-integer IVF path. With |vq|² and
    * |cq|² both ≤ 2⁵⁰, Cauchy-Schwarz bounds |vq·cq| ≤ 2⁵⁰ too, so the
    * assembled distance stays ≤ 2⁵² < 2⁵³ and double arithmetic is exact.
    */
  private[graft] val ExactSdBound: Double = 1125899906842624.0

  /** |vq|² with the exactness budget fused in: a row whose quantized
    * self-dot exceeds 2⁵⁰ would silently void the bit-exact guarantee,
    * so it raises instead (the sample-side require in
    * [[exactIvfCentroids]] catches the distribution; this catches the
    * outlier row the sample missed). One comparison per row on an
    * already-computed value — stays in codegen.
    */
  private def guardedSelfDot(vq: Column): Column = {
    val sd = dot(vq, vq)
    when(sd <= lit(ExactSdBound), sd).otherwise(expr(
      "CAST(raise_error('ivfAnnExact: a vector''s quantized |v|² exceeds the 2^50 " +
        "exact-integer budget — rescale/normalize the embedding column') AS DOUBLE)"))
  }

  /** IVF ANN over the integer-exact quantizer: identical plan shape to
    * [[ivfAnn]] (centroid literals → assignment is a mapper, queries +
    * probes broadcast, candidates cell-equijoin, exact cosine rank) but
    * cell assignment uses the exact integer metric, so with centroids
    * from [[exactIvfCentroids]] the whole output is engine-reproducible.
    * Plan construction launches no Spark jobs.
    */
  def ivfAnnExact(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                  k: Int, centroids: Array[Array[Long]], nprobe: Int = 3): DataFrame = {
    require(centroids.nonEmpty, "ivfAnnExact needs at least one centroid")
    centroids.zipWithIndex.foreach { case (cq, i) =>
      require(cq.map(x => x.toDouble * x).sum <= ExactSdBound,
        s"ivfAnnExact: centroid $i has |cq|² past the 2^50 exact-integer budget")
    }
    def cellOf(vq: Column, selfDot: Column): Column =
      // least() needs >= 2 args — one centroid means every row is cell 0
      if (centroids.length == 1) lit(0L)
      else least(centroids.zipWithIndex.map { case (cq, i) =>
        struct(intDist(selfDot, vq, cq).as("d"), lit(i.toLong).as("i"))
      }: _*).getField("i")

    val cCells = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("c_vec"))
      .withColumn("c_norm", norm(col("c_vec")))
      .withColumn("vq", quantGrid(col("c_vec")))
      .withColumn("sd", guardedSelfDot(col("vq")))
      .withColumn("cell", cellOf(col("vq"), col("sd")))
      .drop("vq", "sd")

    val centDists = centroids.zipWithIndex.map { case (cq, i) =>
      struct(intDist(col("sd"), col("vq"), cq).as("d"), lit(i.toLong).as("cell"))
    }
    val qProbes = broadcast {
      val exploded = queries
        .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("q_vec"))
        .withColumn("q_norm", norm(col("q_vec")))
        .withColumn("vq", quantGrid(col("q_vec")))
        .withColumn("sd", guardedSelfDot(col("vq")))
        .select(col("query_id"), col("q_vec"), col("q_norm"),
          explode(array(centDists: _*)).as("cd"))
      val w = Window.partitionBy("query_id").orderBy(col("cd.d"), col("cd.cell"))
      exploded.withColumn("pr", row_number().over(w))
        .filter(col("pr") <= nprobe)
        .select(col("query_id"), col("q_vec"), col("q_norm"), col("cd.cell").as("cell"))
    }

    val scored = cCells.join(qProbes, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm")))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), (floor(col("cos") * 1e4) / 1e4).as("cos"),
        col("rank").cast("long").as("rank"))
  }

  /** Exact-integer nearest-centroid assignment against centroid
    * literals — the same mapper [[ivfAnnExact]] uses for its corpus
    * side, exposed for cluster-scoped operators ([[semanticDedup]]).
    * Returns (idCol, v: array<double>, cell). Centroid literals mean
    * ZERO Spark jobs at plan time and no shuffle: assignment is pure
    * per-row arithmetic in codegen.
    */
  def assignExactCells(corpus: DataFrame, idCol: String, vecCol: String,
                       centroids: Array[Array[Long]]): DataFrame = {
    require(centroids.nonEmpty, "assignExactCells needs at least one centroid")
    centroids.zipWithIndex.foreach { case (cq, i) =>
      require(cq.map(x => x.toDouble * x).sum <= ExactSdBound,
        s"assignExactCells: centroid $i has |cq|² past the 2^50 exact-integer budget")
    }
    val base = corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("vq", quantGrid(col("v")))
      .withColumn("sd", guardedSelfDot(col("vq")))
    if (centroids.length <= 16) {
      // literal path: one codegen'd projection, zero extra plan nodes
      def cellOf(vq: Column, selfDot: Column): Column =
        if (centroids.length == 1) lit(0L)
        else least(centroids.zipWithIndex.map { case (cq, i) =>
          struct(intDist(selfDot, vq, cq).as("d"), lit(i.toLong).as("i"))
        }: _*).getField("i")
      base.withColumn("cell", cellOf(col("vq"), col("sd"))).drop("vq", "sd")
    } else if (centroids.length <= 64) {
      // Mid k: a least() over k struct literals (k·dims constants in
      // ONE expression) blows past the JIT/codegen method budget and
      // falls back to interpreted evaluation — measured 31×/decade at
      // k=80. The r7 answer (broadcast centroid TABLE + min(struct)
      // argmin) kept exactness but materialized n·k joined rows each
      // carrying two dims-wide arrays — 116 s for n=200k, k=667 at
      // sf10, all row traffic. The kernel argmin (`nearest_cell`, the
      // PqEncodeCodes pattern: centroid table as a codegen reference
      // object) computes the identical exact-integer (d, cell)
      // tie-broken assignment as a pure projection — no join, no
      // aggregate, no shuffle, ~2 s for the same input.
      val dims = centroids.head.length
      require(centroids.forall(_.length == dims),
        "assignExactCells: ragged centroid table")
      val spec = lit(s"${centroids.length};$dims;" +
        centroids.flatten.mkString(","))
      base.withColumn("cell", Native.call("nearest_cell", col("v"), spec))
        .drop("vq", "sd")
    } else {
      // Large k (the cell-count rules k ∝ n make flat assignment n·k —
      // QUADRATIC in corpus size; the sf100 decade measured
      // emb_knn_graph/emb_semantic_dedup at 13-14×/decade flat): the
      // SAME exact argmin, accelerated by triangle-inequality group
      // pruning (`nearest_cell_pruned`) — anchors = the first
      // kc = ⌈√k⌉ trained centroids, per-group max radii precomputed,
      // whole groups skipped when √d(v,anchor) − √maxRad already
      // exceeds the best-so-far. BIT-IDENTICAL cells to the flat rule
      // at any k (a pruning schedule, not an approximation — a naive
      // two-level assignment measured 3× the within-cell pairwise
      // work at sf10 because coarse boundaries skewed cell sizes),
      // with per-row work ≈ kc + near-group members on clustered
      // data. The explicitly-approximate coarse assignment remains
      // available as [[assignCellsCoarse]].
      val (spec, _) = coarseSpec(centroids)
      base.withColumn("cell", Native.call("nearest_cell_pruned", col("v"), spec))
        .select(col(idCol), col("v"), col("cell"))
    }
  }

  /** The shared anchor/group tables for the large-k kernels: anchors =
    * first kc = ⌈√k⌉ centroids, every centroid grouped under its
    * exact-argmin anchor (ties → lower anchor), members sorted by
    * global cell id within a group. Returns (spec-with-maxRadSq, spec-
    * without) — the pruned (exact) kernel consumes the first, the
    * coarse (approximate) kernel the second.
    */
  private[graft] def coarseSpec(centroids: Array[Array[Long]]): (Column, Column) = {
    val dims = centroids.head.length
    require(centroids.forall(_.length == dims),
      "assignExactCells: ragged centroid table")
    val k = centroids.length
    val kc = math.ceil(math.sqrt(k.toDouble)).toInt
    def d2(a: Array[Long], b: Array[Long]): Long = {
      var d = 0L; var y = 0
      while (y < dims) { val t = a(y) - b(y); d += t * t; y += 1 }
      d
    }
    // coarse(c) = exact argmin over anchors 0..kc-1, ties → lower anchor
    def argminAnchor(v: Array[Long]): Int = {
      var best = 0; var bd = Long.MaxValue; var j = 0
      while (j < kc) {
        val d = d2(v, centroids(j))
        if (d < bd) { bd = d; best = j }
        j += 1
      }
      best
    }
    val groups = Array.fill(kc)(scala.collection.mutable.ArrayBuffer.empty[Int])
    centroids.zipWithIndex.foreach { case (cq, c) => groups(argminAnchor(cq)) += c }
    val offsets = groups.scanLeft(0)(_ + _.length)
    val cellsSorted = groups.flatMap(_.sorted) // lower-cell tie-break within a group
    val maxRadSq = groups.zipWithIndex.map { case (g, j) =>
      if (g.isEmpty) 0L else g.map(c => d2(centroids(j), centroids(c))).max
    }
    val common = s"$kc;$dims;" +
      centroids.take(kc).flatten.mkString(",") + ";" +
      offsets.mkString(",") + ";" +
      cellsSorted.mkString(",") + ";" +
      cellsSorted.flatMap(centroids(_)).mkString(",")
    (lit(common + ";" + maxRadSq.mkString(",")), lit(common))
  }

  /** Explicitly APPROXIMATE two-level assignment — the coarse-quantizer
    * shape billion-scale IVF indexes use when even pruned-exact
    * assignment is too slow: a vector resolves its nearest anchor,
    * then the nearest member centroid of that one group (n·(kc + k/kc)
    * work, deterministic, ties → lower index; divergence from the
    * exact argmin only at coarse-cell boundaries). SQL-replayable —
    * pinned end-to-end by the `emb_knn_graph_coarse` oracle lane. Use
    * [[assignExactCells]] unless the assignment pass itself dominates.
    */
  def assignCellsCoarse(corpus: DataFrame, idCol: String, vecCol: String,
                        centroids: Array[Array[Long]]): DataFrame = {
    val (_, spec) = coarseSpec(centroids)
    corpus.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("cell", Native.call("nearest_cell_2l", col("v"), spec))
      .select(col(idCol), col("v"), col("cell"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication scoped by embedding cluster — assign every vector to
    * its nearest centroid, find within-cluster pairs with cosine ≥
    * `threshold`, and keep one representative per duplicate group (the
    * smallest id, deterministic across engines). Output is one row per
    * corpus vector: (idCol, cell, kept) — `kept=false` marks the rows a
    * training pipeline drops.
    *
    * 100 TB shape: assignment is a literal-centroid mapper (no
    * shuffle); the pairwise stage is [[cosineDedupPairs]] keyed on the
    * cell, so the quadratic work is bounded per cell and the
    * `maxCellSize` guard fails fast when a cell outgrows the budget.
    * `prefilter = true` swaps in [[cosineDedupPairsPrefiltered]]
    * (bit-identical by its recall-completeness argument) — r9 measured
    * it SLOWER at every reachable scale (sf0.1 0.80 vs 1.03 s, sf10
    * 11.8 vs 17.1 s, sf100 141.8 vs 298.5 s warm full-lane): at 64
    * dims the int8 prune costs a 64-element loop just like the double
    * confirm it tries to save, per-cell join buffers (≤ 2500 rows)
    * stay cache-resident so there is no bandwidth to win back, and on
    * the replicated bench lake 73 % of sf100 candidate pairs are TRUE
    * pairs — a prefilter cannot prune what the output keeps. The r8
    * "1.66×/decade pair-stage bandwidth drift" this was meant to fix
    * turned out to be harness shuffle sizing + replication-inflated
    * pair density: with input-derived shuffle partitions the PLAIN
    * kernel's full-lane decade ratio is 12.0× (sf10→sf100), matching
    * the knn graph's 11.4× linear shape. Kept opt-in for the regime it
    * was designed for — very high dims / sub-percent confirm density /
    * out-of-cache cells — with equivalence spec-pinned.
    * THE SCALE KNOB IS k (the centroid count): SemDeDup at corpus scale
    * trains k ∝ n/targetCellSize centroids so cells stay ~constant —
    * grow k with the corpus, never the cell budget. The keep rule is
    * one distinct + one left anti-style join on the pair list (orders
    * smaller than the corpus), mirroring the MinHashLSH keep-set.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[Array[Long]], threshold: Double,
                    maxCellSize: Int = 50000,
                    prefilter: Boolean = false): DataFrame = {
    val cells = assignExactCells(corpus, idCol, vecCol, centroids)
    val pairs =
      if (prefilter && threshold > 0.0)
        cosineDedupPairsPrefiltered(cells, idCol, "v", "cell", threshold, maxCellSize)
      else cosineDedupPairs(cells, idCol, "v", "cell", threshold, maxCellSize)
    val drops = pairs.select(col("id_b").as(idCol)).distinct()
      .withColumn("__dup", lit(true))
    cells.join(drops, Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        (!coalesce(col("__dup"), lit(false))).as("kept"))
  }

  /** IVFADC (Jégou et al. TPAMI'11 §IV — the composed system): coarse
    * IVF cells bound WHICH rows are scored (nprobe cells per query),
    * PQ ADC bounds HOW each row is scored (m code lookups, no vector
    * math), and the exact quantized-L2 rerank of the ADC top-`rerank`
    * restores recall. This is the standard billion-scale ANN serving
    * shape: at 100 TB the scan reads m small ints per row for
    * ~nprobe/k of the corpus, and both quantizers trained once offline
    * ship as literals. (Codebooks here are global, not per-cell
    * residual — the simplification keeps every distance on the shared
    * exact-integer grid, so ranking hash-checks end to end.)
    *
    * All distances — cell selection, ADC, rerank — are exact integers:
    * the whole lane is engine-stable with no cosine-ulp caveat.
    */
  def ivfadcAnn(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
                centroids: Array[Array[Long]], codebooks: Array[Array[Array[Long]]],
                topk: Int, nprobe: Int = 3, rerank: Int = 100): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    // corpus side: one scan → cell (literal-mapper) + stored PQ codes
    val cells = assignExactCells(corpus, idCol, vecCol, centroids)
    val encCell = pqEncode(cells, idCol, "v", codebooks).drop("recon_err")
      .join(cells.select(col(idCol), col("cell")), Seq(idCol))
      .withColumnRenamed(idCol, "neighbor_id")
    // query side: nprobe nearest cells + per-subspace ADC distance
    // tables, all broadcast
    var q = queries.select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("__v"))
      .withColumn("__vq", quantGrid(col("__v")))
      .withColumn("__sd", guardedSelfDot(col("__vq")))
    (0 until m).foreach { j =>
      q = q.withColumn(s"__vq$j", quantGrid(slice(col("__v"), j * sub + 1, sub)))
        .withColumn(s"__sd$j", guardedSelfDot(col(s"__vq$j")))
        .withColumn(s"__dt$j", array(codebooks(j).map(cq =>
          intDist(col(s"__sd$j"), col(s"__vq$j"), cq)): _*))
    }
    val centDists = centroids.zipWithIndex.map { case (cq, i) =>
      struct(intDist(col("__sd"), col("__vq"), cq).as("d"), lit(i.toLong).as("cell"))
    }
    val probes = broadcast {
      val exploded = q.select(col("query_id") +:
        (0 until m).map(j => col(s"__dt$j")) :+
        explode(array(centDists: _*)).as("cd"): _*)
      val w = Window.partitionBy("query_id").orderBy(col("cd.d"), col("cd.cell"))
      exploded.withColumn("pr", row_number().over(w))
        .filter(col("pr") <= nprobe)
        .select(col("query_id") +: col("cd").getField("cell").as("cell") +:
          (0 until m).map(j => col(s"__dt$j")): _*)
    }
    val scored = encCell.join(probes, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adist", (0 until m).map(j =>
        element_at(col(s"__dt$j"), (col(s"code_$j") + 1).cast("int"))).reduce(_ + _))
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    val cand = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= rerank).select("query_id", "neighbor_id")
    val cVec = corpus.select(col(idCol).as("neighbor_id"),
        quantGrid(col(vecCol).cast("array<double>")).as("__cvq"))
      .withColumn("__csd", guardedSelfDot(col("__cvq")))
    val qVec = queries.select(col(idCol).as("query_id"),
        quantGrid(col(vecCol).cast("array<double>")).as("__qvq"))
      .withColumn("__qsd", guardedSelfDot(col("__qvq")))
    val exact = cVec.join(broadcast(cand), Seq("neighbor_id"))
      .join(broadcast(qVec), Seq("query_id"))
      .withColumn("adist",
        (col("__csd") - dot(col("__cvq"), col("__qvq")) * 2.0 + col("__qsd")).cast("long"))
    val w2 = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    exact.withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= topk)
      .select(col("query_id"), col("neighbor_id"), col("adist"),
        col("rank").cast("long").as("rank"))
  }

  /** Cell-scoped k-NN GRAPH construction — the corpus-wide neighbor
    * lists that graph-based dedup/clustering and diversity sampling
    * consume (every vector is a query, unlike the query-set ANN lanes).
    * Each vector's candidates are its own quantizer cell (nprobe=1):
    * within-cell pairs are scored once (the [[cosineDedupPairs]]
    * kernel, threshold −1 keeps all), symmetrized, and ranked per
    * source by (1e-4-quantized cosine DESC, neighbor id) — the
    * quantized rank keeps the ordering off raw float ulps.
    *
    * 100 TB shape: pairwise work is quadratic per cell, NEVER corpus-
    * wide — the scale knob is the centroid count (k ∝ n/targetCellSize,
    * the SemDeDup rule), which keeps per-cell work constant as the
    * corpus grows; the rank window partitions on the source vector, so
    * its sort is cell-bounded. maxCellSize fails fast on a runaway
    * cell. Singleton-cell vectors legitimately have no edges.
    */
  def knnGraph(corpus: DataFrame, idCol: String, vecCol: String,
               centroids: Array[Array[Long]], k: Int,
               maxCellSize: Int = 50000,
               coarseAssign: Boolean = false): DataFrame = {
    val cells =
      if (coarseAssign) assignCellsCoarse(corpus, idCol, vecCol, centroids)
      else assignExactCells(corpus, idCol, vecCol, centroids)
    val pairs = cosineDedupPairs(cells, idCol, "v", "cell", -1.0, maxCellSize)
    // symmetrize with ONE explode, not a self-union: Spark clones a
    // re-referenced subplan per reference (SURVEY §5 r9 rule), and the
    // union form ran the whole quadratic cell self-join twice
    val edges = pairs.select(explode(array(
        struct(col("id_a").as("s"), col("id_b").as("n"), col("cos").as("cos")),
        struct(col("id_b").as("s"), col("id_a").as("n"), col("cos").as("cos")))).as("__e"))
      .select(col("__e.s").as(idCol), col("__e.n").as("neighbor_id"),
        col("__e.cos").as("cos"))
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("cos").desc, col("neighbor_id"))
    edges.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank").cast("long").as("rank"),
        col("neighbor_id"), col("cos"))
  }

  /** Cluster-composition statistics against K reference vectors (the
    * first `numClusters` corpus ids — deterministic, so the whole
    * operator is oracle-checkable end-to-end, unlike the k-means
    * quantizer whose training is a declared Spark-side step): each
    * vector is assigned to its max-cosine reference (tie → smaller
    * cluster id) and each cluster reports membership count, mean and
    * min assigned cosine. Cosines are floor-quantized to a 1e-4 grid
    * BEFORE aggregation, so the sums are exact integers and the result
    * is engine-stable regardless of aggregation order.
    *
    * 100 TB shape: references are a broadcast cross join (a mapper —
    * K rows against the scan), the argmax is ONE partial-aggregable
    * max(struct) aggregate keyed on vec id, and the per-cluster rollup
    * aggregates K rows' worth of groups. No window sort anywhere.
    */
  def clusterStats(corpus: DataFrame, idCol: String, vecCol: String,
                   numClusters: Int = 8): DataFrame = {
    val cents = corpus.filter(col(idCol) < numClusters)
      .select(col(idCol).cast("long").as("cid"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("c_norm", norm(col("cv")))
    val v = corpus.select(col(idCol).as("vid"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("v_norm", norm(col("v")))
    val scored = v.crossJoin(broadcast(cents))
      .withColumn("qcos",
        floor(dot(col("v"), col("cv")) / (col("v_norm") * col("c_norm")) * 1e4)
          .cast("long"))
    val assigned = scored.groupBy("vid")
      .agg(max(struct(col("qcos").as("q"), (lit(0L) - col("cid")).as("negc"))).as("m"))
      .select(col("vid"), (lit(0L) - col("m.negc")).as("cid"), col("m.q").as("qcos"))
    assigned.groupBy("cid")
      .agg(count(lit(1)).as("n_members"),
        (floor(sum(col("qcos")).cast("double") / count(lit(1)) / 10000.0 * 1000000.0)
          / 1000000.0).as("mean_cos"),
        min(col("qcos")).as("min_cos_q"))
  }

  /** Symmetric int8 quantization of an embedding column — the storage
    * compression step before ANN at 100 TB (4× smaller than float32,
    * 8× than float64 scoring vectors). Per vector: scale = 127/max|x|,
    * q_i = floor(x_i·scale + 0.5) (round-half-up spelled as floor so
    * every engine agrees on boundary values); an all-zero vector
    * quantizes to zeros with a NULL-→0 scale guard. A pure mapper: one
    * corpus pass, no shuffle, stays in whole-stage codegen.
    * Reconstruction-error columns quantize the per-element error to
    * integer nano-units BEFORE aggregating, so the sums compared across
    * engines are exact integers, not order-sensitive float folds.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val withScale = df.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
      .withColumn("scale", when(col("mx") > 0, lit(127.0) / col("mx")))
    val errInt = (x: Column) => when(col("scale").isNull, lit(0L))
      .otherwise(floor(abs(x - floor(x * col("scale") + lit(0.5)) / col("scale")) * 1e9)
        .cast("long"))
    withScale.select(col(idCol),
      transform(col("v"), x => when(col("scale").isNull, lit(0))
        .otherwise(floor(x * col("scale") + lit(0.5)).cast("int"))).as("qvec"),
      (floor(coalesce(col("scale"), lit(0.0)) * 1e6) / 1e6).as("scale_q"),
      aggregate(transform(col("v"), errInt), lit(0L), (a, x) => a + x).as("sum_abs_err_1e9"),
      array_max(transform(col("v"), errInt)).as("max_abs_err_1e9"))
  }

  /** Near-duplicate vector pairs within a blocking key (e.g. label).
    * Pairwise work is QUADRATIC in block size — that is the operator's
    * semantics, and it is fine while blocks stay bounded, but a block
    * that grows with the corpus (one dominant label at 100 TB) turns
    * the join into n²/2 dot products. `maxBlockSize` fails fast past
    * the cap (the gapfill/lshCandidates guard pattern, fused into the
    * pair filter so pruning can't drop it): sub-block the offender
    * (e.g. by LSH bucket within the label) or raise the cap. The
    * per-block count is one tiny broadcast aggregate, paid once
    * before the quadratic stage it protects.
    */
  def cosineDedupPairs(df: DataFrame, idCol: String, vecCol: String,
                       blockCol: String, threshold: Double,
                       maxBlockSize: Int = 50000): DataFrame = {
    val base = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", norm(col("v")))
    val counts = base.groupBy("blk").agg(count(lit(1)).as("__bn"))
    val a = base.join(broadcast(counts), Seq("blk"))
      .select(col("blk"), col("id").as("id_a"), col("v").as("v_a"),
        col("nrm").as("n_a"), col("__bn"))
    val b = base.select(col("blk"), col("id").as("id_b"), col("v").as("v_b"),
      col("nrm").as("n_b"))
    // the guard is a boolean conjunct (not arithmetic on the id — that
    // would numerically coerce string/UUID ids and silently NULL the
    // comparison), so any id type that supports < keeps working
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b") && when(col("__bn") <= maxBlockSize, lit(true))
        .otherwise(expr(
          "CAST(raise_error(concat('cosineDedupPairs: block ', CAST(blk AS STRING), " +
            "' holds ', CAST(__bn AS STRING), " +
            s"' vectors (> maxBlockSize=$maxBlockSize); pairwise work is quadratic in " +
            "the block — sub-block it or raise the cap')) AS BOOLEAN)")))
      .withColumn("cos", dot(col("v_a"), col("v_b")) / (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select(col("blk"), col("id_a"), col("id_b"), (floor(col("cos") * 1e4) / 1e4).as("cos"))
  }

  /** [[cosineDedupPairs]] with a PROVABLY recall-complete int8
    * prefilter — identical output by construction. Each pair is scored
    * first with an exact integer dot over int8 quantized copies
    * (`vec_dot_i8`, 64 B a side) and pruned on a rigorous cosine UPPER
    * bound; the full-precision cosine is evaluated only for bound
    * survivors. NOT the default pair kernel: r9 measured it slower
    * than the plain kernel at every reachable scale (see
    * [[semanticDedup]] for the numbers and the diagnosis) — it is the
    * documented opt-in for very high dims / sub-percent confirm
    * density / cells too large for cache, and the bit-identity claim
    * is what the `emb_cosine_dedup` driver lane hash-checks end to
    * end.
    *
    * Recall-completeness argument (why the same oracle stays green
    * with NO tolerance): quantize qᵢ = rint(vᵢ/c) with c = max|vᵢ|/127,
    * so |vᵢ − c·qᵢ| ≤ c·(½ + ε_fp) and ‖v − c·q‖₂ ≤ c√d·(½ + ε_fp).
    * Writing ã = c_a·q_a, b̃ = c_b·q_b:
    *   |a·b − ã·b̃| ≤ ‖a−ã‖·‖b̃‖ + ‖a‖·‖b−b̃‖
    *               ≤ h_a·(‖b‖ + h_b) + ‖a‖·h_b     with h = c√d/2
    * so cos(a,b) ≤ (c_a·c_b·(q_a·q_b) + err)/(‖a‖‖b‖) = ub. A pair
    * with cos ≥ t has ub ≥ t and always reaches the confirm stage; the
    * confirm computes the IDENTICAL `dot/(n_a·n_b)` expression on the
    * identical doubles as the plain path, so survivors are
    * bit-identical (floor-1e4 grid included). The ½ is padded to
    * 0.5000001 and err by 1e-9 to dominate the ~1e-14 fp noise of
    * evaluating the bound itself in doubles. Zero vectors (c = 0) give
    * NaN bounds and NaN cosines — dropped by both paths alike.
    *
    * The confirm is FUSED into the same self-join, not a join-back on
    * the survivor pair list: the cell self-join already co-locates both
    * vectors of every candidate pair, so re-fetching them through two
    * id-keyed shuffles pays survivor-count × vector-bytes of exchange
    * for data the join had in hand (a first cut measured 80 s vs the
    * plain kernel's 8.9 s at sf10, where the replicated lake confirms
    * 16 M pairs — the join-back shuffles dwarfed the prefilter's
    * savings). Fused, the pair row carries the SOURCE-typed vector
    * (float embeddings stay 4-byte floats; the array<double> cast with
    * its 2× footprint happens inside the confirm expression, exact for
    * float sources and identity for double) next to the int8 columns,
    * and the `when`-guarded confirm touches it for bound survivors
    * only. Per sub-threshold pair the join loop reads two 64-byte int8
    * arrays and does one integer dot — at the lane's t = 0.35 on the
    * test embeddings that is ~99.7 % of pairs (natural corpora higher
    * still); the per-cell right-side buffer (~400 B/row vs the plain
    * kernel's ~1 KB) stays cache-resident at the 2500-row cell target.
    * Requires threshold > 0: a keep-everything threshold (knnGraph's
    * −1) can't prune, so this degenerates to pure overhead — the plain
    * kernel stays the right tool there.
    */
  def cosineDedupPairsPrefiltered(df: DataFrame, idCol: String, vecCol: String,
                                  blockCol: String, threshold: Double,
                                  maxBlockSize: Int = 50000): DataFrame = {
    require(threshold > 0.0,
      s"cosineDedupPairsPrefiltered needs threshold > 0 to prune (got $threshold); " +
        "use cosineDedupPairs for keep-all thresholds")
    val base = df.select(col(blockCol).as("blk"), col(idCol).as("id"),
        col(vecCol).as("vraw"))
      .withColumn("v", col("vraw").cast("array<double>"))
      .withColumn("nrm", norm(col("v")))
      .withColumn("mx", array_max(transform(col("v"), x => abs(x))))
      .withColumn("c", when(col("mx") > 0, col("mx") / lit(127.0)).otherwise(lit(0.0)))
    val lean = base.select(col("blk"), col("id"), col("vraw"),
      when(col("c") > 0,
        transform(col("v"), x => rint(x / col("c")).cast("tinyint")))
        .otherwise(transform(col("v"), _ => lit(0).cast("tinyint"))).as("q"),
      col("c"), col("nrm"),
      // h = c·√d·(½ + fp-pad): one half-step of quantization error in L2
      (col("c") * sqrt(size(col("v")).cast("double")) * lit(0.5000001)).as("h"))
    val counts = lean.groupBy("blk").agg(count(lit(1)).as("__bn"))
    val a = lean.join(broadcast(counts), Seq("blk"))
      .select(col("blk"), col("id").as("id_a"), col("vraw").as("v_a"), col("q").as("q_a"),
        col("c").as("c_a"), col("nrm").as("n_a"), col("h").as("h_a"), col("__bn"))
    val b = lean.select(col("blk"), col("id").as("id_b"), col("vraw").as("v_b"),
      col("q").as("q_b"), col("c").as("c_b"), col("nrm").as("n_b"), col("h").as("h_b"))
    a.join(b, Seq("blk"))
      .filter(col("id_a") < col("id_b") && when(col("__bn") <= maxBlockSize, lit(true))
        .otherwise(expr(
          "CAST(raise_error(concat('cosineDedupPairsPrefiltered: block ', " +
            "CAST(blk AS STRING), ' holds ', CAST(__bn AS STRING), " +
            s"' vectors (> maxBlockSize=$maxBlockSize); pairwise work is quadratic in " +
            "the block — sub-block it or raise the cap')) AS BOOLEAN)")))
      .withColumn("__ub",
        (col("c_a") * col("c_b") * dotI8(col("q_a"), col("q_b")).cast("double")
          + col("h_a") * (col("n_b") + col("h_b")) + col("n_a") * col("h_b")
          + lit(1e-9))
          / (col("n_a") * col("n_b")))
      .filter(col("__ub") >= threshold)
      // exact confirm on bound survivors only, same expression tree as
      // the plain path (cast-to-double inside) ⇒ bit-identical cosines
      .withColumn("cos",
        dot(col("v_a").cast("array<double>"), col("v_b").cast("array<double>"))
          / (col("n_a") * col("n_b")))
      .filter(col("cos") >= threshold)
      .select(col("blk"), col("id_a"), col("id_b"), (floor(col("cos") * 1e4) / 1e4).as("cos"))
  }

  /** Σ qaᵢ·qbᵢ over int8 arrays — native exact-integer kernel (VecDotI8). */
  private[graft] def dotI8(x: Column, y: Column): Column = Native.call("vec_dot_i8", x, y)

  /** Product-quantization codebooks (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): the vector
    * space split into `m` contiguous subspaces, each trained with the
    * SAME engine-reproducible integer-grid Lloyd trainer as
    * [[exactIvfCentroids]] on the sliced vectors — so a SQL oracle can
    * retrain every codebook bit-for-bit. Returns m codebooks of k
    * quantized (dims/m)-component centroids. Training is ONE bounded
    * scan: the full-vector md5-prefix sample collects once and the m
    * subspace samples are driver-side slices (the 1e-6 floor grid
    * commutes with slicing, so this is bit-identical to per-subspace
    * sampling — and the SQL oracle's per-subspace replay). At 100 TB
    * this runs once offline and the codebooks ship as literals.
    */
  def pqTrainExact(corpus: DataFrame, idCol: String, vecCol: String,
                   m: Int, k: Int, dims: Int, iters: Int = 2,
                   hexBound: String = "8",
                   maxSample: Int = 8192): Array[Array[Array[Long]]] = {
    require(m >= 1 && dims % m == 0, s"pqTrainExact: dims=$dims not divisible by m=$m")
    val sub = dims / m
    val rows = corpus
      .filter(substring(md5(col(idCol).cast("string")), 1, hexBound.length) < hexBound)
      .select(col(idCol).cast("string").as("sid"), quantGrid(col(vecCol)).as("vq"))
      .limit(maxSample + 1)
      .collect()
    require(rows.nonEmpty, "pqTrainExact: md5-prefix sample is empty — widen hexBound")
    require(rows.length <= maxSample,
      s"pqTrainExact: the md5-prefix sample exceeds maxSample=$maxSample rows — " +
        "lengthen the hexBound prefix or raise the cap deliberately")
    val samples = rows.map { r =>
      (md5Hex(r.getString(0)), r.getSeq[Double](1).map(_.toLong).toArray)
    }.sortBy(_._1).map(_._2)
    require(samples.head.length == dims,
      s"pqTrainExact: vectors have ${samples.head.length} dims, expected $dims")
    val maxAbsQ = math.max(1L, samples.iterator.flatMap(_.iterator).map(math.abs).max)
    require(dims.toDouble * maxAbsQ.toDouble * maxAbsQ.toDouble <= ExactSdBound,
      s"pqTrainExact: sampled components reach |q|=$maxAbsQ after the 1e6 grid — " +
        "dims·maxAbsQ² exceeds the 2^50 exact-integer budget; normalize or rescale")
    Array.tabulate(m)(j =>
      lloydExact(samples.map(_.slice(j * sub, (j + 1) * sub)), k, iters))
  }

  /** PQ encoding: per subspace, the exact-integer argmin code against
    * the codebooks — a pure mapper via the native `pq_encode` kernel
    * (ONE tight loop per row; the composed least(struct) expression
    * tree it replaces cost ~200 µs/row — VectorExpressions scaladoc).
    * `recon_err` is the summed subspace quantization distances — the
    * loss metric stored alongside the codes. Output: (idCol,
    * code_0..code_{m-1}, recon_err), all exact integers. The m codes
    * replace the full vector downstream: 64 floats → 8 bytes is the PQ
    * storage win.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Long]]]): DataFrame = {
    require(codebooks.nonEmpty && codebooks.forall(_.nonEmpty), "pqEncode: empty codebook")
    val m = codebooks.length
    val k = codebooks.head.length
    val sub = codebooks.head.head.length
    codebooks.foreach { book =>
      require(book.length == k, "pqEncode: ragged codebook (unequal k across subspaces)")
      book.zipWithIndex.foreach { case (cq, i) =>
        require(cq.length == sub, s"pqEncode: ragged codebook at centroid $i")
        require(cq.map(x => x.toDouble * x).sum <= ExactSdBound,
          s"pqEncode: centroid $i has |cq|² past the 2^50 exact-integer budget")
      }
    }
    val spec = lit(s"$m;$k;$sub;" + codebooks.flatten.flatten.mkString(","))
    corpus
      .select(col(idCol),
        Native.call("pq_encode", col(vecCol).cast("array<double>"), spec).as("__pq"))
      .select(
        col(idCol) +:
          ((0 until m).map(j => element_at(col("__pq"), j + 1).as(s"code_$j")) :+
            (0 until m).map(j => element_at(col("__pq"), m + j + 1)).reduce(_ + _)
              .as("recon_err")): _*)
  }

  /** PQ asymmetric-distance (ADC) top-k ANN: each query precomputes a
    * per-subspace distance TABLE (k exact-integer entries against the
    * codebook literals) and broadcasts it; every corpus row's
    * approximate distance is then m array lookups + adds over its
    * STORED CODES — no vector arithmetic touches the corpus at query
    * time, which is the PQ compute/storage win at 100 TB (the scan
    * reads m small ints per row, not dims floats). Every distance is an
    * exact integer, so the (adist, neighbor_id) ranking is engine-stable
    * and the whole lane hash-checks — no cosine-ulp caveat.
    *
    * `rerank` > topk enables the standard IVFADC refinement: the ADC
    * pass keeps its top-`rerank` candidates per query, then ONE
    * id-keyed join back to the vector table rescores just those
    * |Q|·rerank rows by exact quantized L2 (coarse codebooks tie many
    * rows at the same code distance; without refinement the id
    * tie-break decides and recall collapses). The rerank join is
    * broadcast-candidate sized — the corpus-wide work is still the
    * code-only ADC scan.
    */
  def pqAnn(corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
            codebooks: Array[Array[Array[Long]]], topk: Int,
            rerank: Int = 0): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val enc = pqEncode(corpus, idCol, vecCol, codebooks)
      .withColumnRenamed(idCol, "neighbor_id").drop("recon_err")
    var q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("__v"))
    (0 until m).foreach { j =>
      q = q.withColumn(s"__vq$j", quantGrid(slice(col("__v"), j * sub + 1, sub)))
        .withColumn(s"__sd$j", guardedSelfDot(col(s"__vq$j")))
        .withColumn(s"__dt$j", array(codebooks(j).map(cq =>
          intDist(col(s"__sd$j"), col(s"__vq$j"), cq)): _*))
    }
    val qTab = broadcast(q.select(col("query_id") +:
      (0 until m).map(j => col(s"__dt$j")): _*))
    val scored = enc.join(qTab, col("neighbor_id") =!= col("query_id"))
      .withColumn("adist", (0 until m).map(j =>
        element_at(col(s"__dt$j"), (col(s"code_$j") + 1).cast("int"))).reduce(_ + _))
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    val adc = scored.withColumn("rank", row_number().over(w))
    if (rerank <= topk) {
      adc.filter(col("rank") <= topk)
        .select(col("query_id"), col("neighbor_id"), col("adist"),
          col("rank").cast("long").as("rank"))
    } else {
      val cand = adc.filter(col("rank") <= rerank).select("query_id", "neighbor_id")
      val cVec = corpus.select(col(idCol).as("neighbor_id"),
          quantGrid(col(vecCol).cast("array<double>")).as("__cvq"))
        .withColumn("__csd", guardedSelfDot(col("__cvq")))
      val qVec = queries.select(col(idCol).as("query_id"),
          quantGrid(col(vecCol).cast("array<double>")).as("__qvq"))
        .withColumn("__qsd", guardedSelfDot(col("__qvq")))
      val exact = cVec.join(broadcast(cand), Seq("neighbor_id"))
        .join(broadcast(qVec), Seq("query_id"))
        .withColumn("adist",
          (col("__csd") - dot(col("__cvq"), col("__qvq")) * 2.0 + col("__qsd")).cast("long"))
      val w2 = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
      exact.withColumn("rank", row_number().over(w2))
        .filter(col("rank") <= topk)
        .select(col("query_id"), col("neighbor_id"), col("adist"),
          col("rank").cast("long").as("rank"))
    }
  }
}
