package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Multimodal, Sampling, Similarity, TextAnalysis}

class PipelineSpec extends AnyFunSuite with TestSpark {

  private val sf = "/root/testdata/sf0.001"

  test("lshAnn finds a usable fraction of true neighbors (recall probe)") {
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
    val truth = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshAnn(emb, queries, "vec_id", "embedding",
        numPlanes = 4, dims = 64, k = 10, numTables = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & approx).size.toDouble / truth.size
    info(s"LSH recall@10 over ${truth.size} truth pairs: $recall")
    assert(recall > 0.1, s"multi-table LSH should recover a usable fraction, got $recall")
    assert(approx.nonEmpty)
  }

  test("ivfAnn beats LSH-grade recall on clustered embeddings") {
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
    val truth = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.buildIvfQuantizer(emb, "embedding", numCentroids = 8)
    val approx = Similarity.ivfAnn(emb, queries, "vec_id", "embedding", 10,
      cents, nprobe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & approx).size.toDouble / truth.size
    info(s"IVF recall@10 over ${truth.size} truth pairs: $recall")
    assert(recall > 0.3, s"IVF nprobe=3/8 should recover a solid fraction, got $recall")
  }

  test("sampleVectors stratifies across partitions (clustered-layout de-bias)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 4 range partitions sorted by a cluster key; each vector's first
    // component is its cluster id. A head-only limit(n) sample would be
    // satisfied by the first partition(s) — one region only; the
    // stratified sample must cover every partition.
    val df = (0 until 400).map(i => (i / 100, Seq((i / 100).toDouble, i.toDouble)))
      .toDF("cluster", "v")
      .repartitionByRange(4, col("cluster"))
      .sortWithinPartitions("cluster")
    val sample = Similarity.sampleVectors(df, "v", 8)
    assert(sample.length == 8)
    val clustersSeen = sample.map(_.head).toSet
    assert(clustersSeen.size == 4,
      s"stratified sample must span all 4 clusters, saw only $clustersSeen")
  }

  test("ivf quantizer trained on a label-clustered, partition-sorted layout keeps recall") {
    import org.apache.spark.sql.functions._
    val raw = Tables(spark, sf, "embeddings")
    // adversarial lake layout: ranged + sorted by label, so the first
    // partition holds only a few labels — exactly the layout where a
    // head-only sample trains a one-region quantizer
    val emb = raw.repartitionByRange(4, col("label")).sortWithinPartitions("label")
    val queries = raw.filter(col("vec_id") < 10)
    val truth = Similarity.cosineTopK(raw, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.buildIvfQuantizer(emb, "embedding", numCentroids = 8,
      sampleSize = 128)
    val approx = Similarity.ivfAnn(raw, queries, "vec_id", "embedding", 10,
      cents, nprobe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & approx).size.toDouble / truth.size
    info(s"IVF recall@10 with clustered-layout 128-vector sample: $recall")
    assert(recall > 0.3, s"clustered-layout quantizer sample tanked recall: $recall")
  }

  test("ivfAnn plan construction launches no Spark jobs (centroids are literals)") {
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10)
    val cents = Similarity.buildIvfQuantizer(emb, "embedding", numCentroids = 8)
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    val plan = Similarity.ivfAnn(emb, queries, "vec_id", "embedding", 10, cents)
    val mid = tracker.getJobIdsForGroup(null).length
    assert(mid == before, "building the ivfAnn plan must not run any job")
    assert(plan.columns.contains("cos"))
  }

  test("lshBucket plan construction launches no Spark jobs (dims is a parameter)") {
    val emb = Tables(spark, sf, "embeddings")
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    val plan = Similarity.lshBucket(emb, "vec_id", "embedding", 6, dims = 64, numTables = 2)
    val mid = tracker.getJobIdsForGroup(null).length
    assert(mid == before, "building the lshBucket plan must not run any job")
    assert(plan.columns.toSeq == Seq("vec_id", "table", "bucket"))
  }

  test("vec_dot and HOF fallback agree on length mismatch (both NULL)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((Array(1.0, 2.0, 3.0), Array(1.0, 2.0))).toDF("a", "b")
    graft.plans.install(spark)
    val native = df.select(call_function("vec_dot", col("a"), col("b"))).head.isNullAt(0)
    val hof = df.select(aggregate(zip_with(col("a"), col("b"), (p, q) => p * q),
      lit(0.0), (acc, v) => acc + v)).head.isNullAt(0)
    assert(native && hof, "mismatched lengths must yield NULL on both dot() paths")
    val eq = Seq((Array(1.0, 2.0), Array(3.0, 4.0))).toDF("a", "b")
      .select(call_function("vec_dot", col("a"), col("b"))).head.getDouble(0)
    assert(eq == 11.0)
  }

  test("kmeansCentroids is deterministic and respects k") {
    val sample = Array.tabulate(100)(i => Array(i.toDouble, (i % 7).toDouble))
    val c1 = Similarity.kmeansCentroids(sample, 4, 5)
    val c2 = Similarity.kmeansCentroids(sample, 4, 5)
    assert(c1.length == 4)
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) })
  }

  test("lshBucket is deterministic and partitions the corpus") {
    val emb = Tables(spark, sf, "embeddings")
    val b1 = Similarity.lshBucket(emb, "vec_id", "embedding", 6, dims = 64, numTables = 2)
    val b2 = Similarity.lshBucket(emb, "vec_id", "embedding", 6, dims = 64, numTables = 2)
    assert(b1.count() == emb.count() * 2)
    assert(b1.exceptAll(b2).isEmpty)
  }

  test("cosineDedupPairs fails fast on an oversized block (quadratic guard)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val vecs = (1 to 200).map(i => (1L, i.toLong, Seq(i.toDouble, 1.0)))
      .toDF("label", "vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.cosineDedupPairs(vecs, "vec_id", "embedding", "label", 0.0,
        maxBlockSize = 100).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(m => m.contains("cosineDedupPairs") && m.contains("200")),
      s"wanted the block guard message, got: ${msgs(ex).take(3).mkString(" | ")}")
    // within the cap the full pair set comes back
    assert(Similarity.cosineDedupPairs(vecs, "vec_id", "embedding", "label", -1.0,
      maxBlockSize = 200).count() == 200L * 199 / 2)
  }

  test("cosineDedupPairsPrefiltered is bit-identical to the plain kernel (recall-complete bound)") {
    val emb = Tables(spark, sf, "embeddings")
    // two thresholds: the lane's 0.35, and 0.05 (looser → far more
    // near-bound pairs stressing the err margin)
    for (t <- Seq(0.35, 0.05)) {
      val plain = Similarity.cosineDedupPairs(emb, "vec_id", "embedding", "label", t)
      val pre = Similarity.cosineDedupPairsPrefiltered(emb, "vec_id", "embedding", "label", t)
      assert(pre.exceptAll(plain).isEmpty && plain.exceptAll(pre).isEmpty,
        s"prefiltered pair set must be bit-identical at threshold $t")
      assert(plain.count() > 0, "equivalence test needs a non-empty pair set")
    }
  }

  test("prefiltered bound survives the sign-noise adversary that breaks hamming prefilters") {
    import spark.implicits._
    // Two vectors identical in the 4 heavy dims, tiny OPPOSITE-sign
    // noise in the 60 light dims: cosine ≈ 1 but 60/64 sign bits
    // differ — a sign-bit (bin_sig) prefilter at any useful hamming
    // bound drops this true pair; the int8 cosine bound must keep it.
    val heavy = Seq(1.0, -1.0, 1.0, -1.0)
    val a = heavy ++ (0 until 60).map(i => if (i % 2 == 0) 1e-4 else -1e-4)
    val b = heavy ++ (0 until 60).map(i => if (i % 2 == 0) -1e-4 else 1e-4)
    val df = Seq((0L, 1L, a), (0L, 2L, b)).toDF("label", "vec_id", "embedding")
    val rows = Similarity.cosineDedupPairsPrefiltered(df, "vec_id", "embedding",
      "label", 0.9).collect()
    assert(rows.length == 1 && rows.head.getDouble(3) > 0.99,
      s"near-identical pair with adversarial sign noise must survive, got ${rows.toSeq}")
  }

  test("vec_dot_i8 kernel: exact integer dot, length mismatch is NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.plans.install(spark)
    val df = Seq((Seq(127, -128, 3), Seq(127, 127, -2)),
        (Seq(1, 2, 3), Seq(1, 2))) // mismatch
      .toDF("a", "b")
      .select(call_function("vec_dot_i8",
        col("a").cast("array<tinyint>"), col("b").cast("array<tinyint>")).as("d"))
      .collect()
    assert(df(0).getLong(0) == 127L * 127 - 128L * 127 - 6L)
    assert(df(1).isNullAt(0), "length mismatch must be NULL (VecDot contract)")
  }

  test("cosineDedupPairsPrefiltered keeps the quadratic block guard") {
    import spark.implicits._
    val vecs = (1 to 200).map(i => (1L, i.toLong, Seq(i.toDouble, 1.0)))
      .toDF("label", "vec_id", "embedding")
    val ex = intercept[Exception] {
      Similarity.cosineDedupPairsPrefiltered(vecs, "vec_id", "embedding", "label", 0.5,
        maxBlockSize = 100).count()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(m => m.contains("cosineDedupPairsPrefiltered") && m.contains("200")),
      s"wanted the block guard message, got: ${msgs(ex).take(3).mkString(" | ")}")
    // keep-all thresholds are the plain kernel's job
    intercept[IllegalArgumentException] {
      Similarity.cosineDedupPairsPrefiltered(vecs, "vec_id", "embedding", "label", -1.0)
    }
  }

  test("semanticDedup through the prefiltered pair stage matches the plain composition") {
    import org.apache.spark.sql.functions._
    val emb = Tables(spark, sf, "embeddings")
    val n = emb.count()
    val k = math.max(8, math.ceil(n / 2500.0).toInt)
    val cents = Similarity.exactIvfCentroids(emb, "vec_id", "embedding",
      k = k, iters = 2, hexBound = Similarity.ivfHexBound(n))
    val got = Similarity.semanticDedup(emb, "vec_id", "embedding", cents, 0.35,
      prefilter = true)
    // reference: the default composition over the plain pair kernel
    val cells = Similarity.assignExactCells(emb, "vec_id", "embedding", cents)
    val pairs = Similarity.cosineDedupPairs(cells, "vec_id", "v", "cell", 0.35)
    val drops = pairs.select(col("id_b").as("vec_id")).distinct()
      .withColumn("__dup", lit(true))
    val want = cells.join(drops, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        (!coalesce(col("__dup"), lit(false))).as("kept"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    assert(got.filter(!col("kept")).count() > 0, "test needs at least one dropped dup")
  }

  test("cosineDedupPairs supports non-numeric ids (guard must not coerce the comparison)") {
    import spark.implicits._
    val vecs = Seq(("blk", "a", Seq(1.0, 0.0)), ("blk", "b", Seq(1.0, 0.0)),
      ("blk", "c", Seq(0.0, 1.0))).toDF("label", "vec_id", "embedding")
    val pairs = Similarity.cosineDedupPairs(vecs, "vec_id", "embedding", "label", 0.9)
      .collect()
    assert(pairs.length == 1 && pairs.head.getString(1) == "a" && pairs.head.getString(2) == "b")
  }

  test("decodeWav reports a truncated data chunk instead of a buffer underflow") {
    val good = Multimodal.encodeWav(8000, Array[Short](1, 2, 3, 4))
    val truncated = good.dropRight(4) // declared len now exceeds the payload
    val ex = intercept[IllegalArgumentException] { Multimodal.decodeWav(1L, truncated) }
    assert(ex.getMessage.contains("truncated WAV"))
  }

  test("exact mass-duplication collapses instead of hitting the bucket guard") {
    import spark.implicits._
    // 1000 identical docs: r2 fell into one LSH bucket and needed the
    // fail-fast guard; the rep-space collapse now runs the minhash
    // pipeline on ONE representative and reconstructs the full
    // within-class pair list (output-proportional, no bucket blowup).
    val dupes = (1 to 1000)
      .map(i => (i.toLong, "the same exact document text repeated verbatim for everyone"))
      .toDF("doc_id", "text")
    val n = graft.operators.Dedup.minHashNearDups(dupes, "doc_id", "text").count()
    assert(n == 1000L * 999 / 2, "all within-class pairs at jaccard 1")
  }

  test("lshCandidates guard still fires on > cap NEAR-identical distinct texts") {
    import spark.implicits._
    // Distinct texts (collapse keeps them all) engineered to share
    // minhash band buckets: 20 shared words + one unique tail word, so
    // most docs' band hashes equal the base doc's. The rep-space bucket
    // then exceeds the cap and the fused raise_error must fire.
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val near = (1 to 1500).map(i => (i.toLong, s"$base tail$i")).toDF("doc_id", "text")
    val ex = intercept[Exception] {
      graft.operators.Dedup.minHashNearDups(near, "doc_id", "text").count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("maxBucketSize")),
      s"expected the lshCandidates guard, got: ${messages(ex).mkString(" | ")}")
  }

  test("minHashNearDups with a raised cap still degrades linearly-ish on dup classes") {
    import spark.implicits._
    // 50 copies of one doc + 50 distinct docs: within the raised cap the
    // operator must return the full 50*49/2 dup-class pairs at jaccard 1.
    val docs = ((1 to 50).map(i => (i.toLong, "alpha beta gamma delta epsilon zeta eta theta")) ++
      (51 to 100).map(i => (i.toLong, s"unique document number $i with words w${i}a w${i}b w${i}c")))
      .toDF("doc_id", "text")
    val pairs = graft.operators.Dedup
      .minHashNearDups(docs, "doc_id", "text", threshold = 0.99, maxBucketSize = 100)
    assert(pairs.count() == 50L * 49 / 2)
  }

  test("native minhash_sig matches the row-per-seed aggregation formulation") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf, "documents").limit(100)
    val native = graft.operators.Dedup.minhashSignature(docs, "doc_id", "text", 8)
    // the relational formulation: raw shingle stream, one min-agg per
    // seed over the digest rotated left by 4·seed hex chars
    val mins = (0 until 8).map(s =>
      min(concat(substring(md5(col("sh")), 4 * s + 1, 32),
        substring(md5(col("sh")), 1, 4 * s))).as(s"mh$s"))
    val relational = graft.operators.Dedup.shingleRowsRaw(docs, "doc_id", "text")
      .groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    assert(native.count() == relational.count())
    assert(native.exceptAll(relational).isEmpty,
      "kernel signature must be byte-identical to the aggregation formulation")
  }

  test("native simhash60 matches the relational 60-vote formulation") {
    val docs = Tables(spark, sf, "documents").limit(100)
    val native = graft.operators.Dedup.simhash(docs, "doc_id", "text")
    val relational = graft.operators.Dedup.simhashRelational(docs, "doc_id", "text")
    assert(native.count() == 100)
    assert(native.exceptAll(relational).isEmpty,
      "kernel simhash must be identical to the vote-column formulation")
  }

  test("native word_shingle_set matches the explode-distinct formulation") {
    import org.apache.spark.sql.functions._
    graft.functions.TextExpressions.register(spark)
    val docs = Tables(spark, sf, "documents").limit(100)
    val native = docs.select(col("doc_id"),
        explode(call_function("word_shingle_set", col("text"))).as("sh"))
    val relational = graft.operators.Dedup.shingleRows(docs, "doc_id", "text")
    assert(native.exceptAll(relational).isEmpty && relational.exceptAll(native).isEmpty,
      "kernel shingle set must equal the exploded distinct shingle rows")
  }

  test("text-stat kernels match their regex formulations exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.TextExpressions.register(spark)
    val tricky = Seq(
      "The_the the5 the-the THE it", // boundary traps: _ and digits join \w runs
      "a a a  AND and_of of",
      "punct!@# 12ab3 4_5 é ü",
      "tabs\tand\nnewlines the end.",
      "的了是在我有 mixed 的 text the",
      "", " ", "____", "99 bottles of x"
    ).toDF("text")
    val corpus = Tables(spark, sf, "documents").select("text").unionByName(tricky)
    val checked = corpus.select(
      (call_function("word_set_count", col("text"), lit("the,and,of,to,a,in,is,it")) ===
        regexp_count(lower(col("text")), lit("\\b(the|and|of|to|a|in|is|it)\\b"))).as("w_ok"),
      (call_function("char_set_count", col("text"), lit("的了是在我有")) ===
        regexp_count(lower(col("text")), lit("(的|了|是|在|我|有)"))).as("c_ok"),
      (call_function("non_alnum_space_count", col("text")) ===
        regexp_count(lower(col("text")), lit("[^a-z0-9 ]"))).as("p_ok"),
      (call_function("bpe_token_count", col("text")) ===
        regexp_count(lower(col("text")), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))).as("b_ok"))
      .collect()
    assert(checked.nonEmpty)
    Seq("w_ok", "c_ok", "p_ok", "b_ok").foreach { c =>
      assert(checked.forall(_.getAs[Boolean](c)), s"kernel/regex mismatch in $c")
    }
  }

  test("native char_ngram_set + array_overlap_count match the HOF formulation") {
    import org.apache.spark.sql.functions._
    graft.functions.TextExpressions.register(spark)
    val docs = Tables(spark, sf, "documents").limit(100)
    val native = docs.select(col("doc_id"),
      call_function("char_ngram_set", col("text"), lit(4)).as("g"))
    val hof = docs.select(col("doc_id"),
      graft.operators.Dedup.charNgrams(col("text"), 4).as("g"))
    val joined = native.withColumnRenamed("g", "gn")
      .join(hof.withColumnRenamed("g", "gh"), "doc_id")
      .select(col("doc_id"),
        (size(col("gn")) === size(col("gh")) &&
          size(array_except(col("gn"), col("gh"))) === 0).as("same_set"),
        call_function("array_overlap_count", col("gn"), col("gh")).as("ovl"),
        size(col("gn")).as("szn"))
      .collect()
    assert(joined.length == 100)
    assert(joined.forall(_.getAs[Boolean]("same_set")), "gram sets must be equal")
    assert(joined.forall(r => r.getAs[Int]("ovl") == r.getAs[Int]("szn")),
      "overlap of identical sets must be the full size")
  }

  test("multimodal binary round-trips width/height through the stub decoder") {
    val bytes = Multimodal.encodeFake(320, 200, "payload".getBytes("UTF-8"))
    assert(Multimodal.decodeMetaStub(bytes) == ((320, 200)))
    val docs = Multimodal.withFakeBinary(Tables(spark, sf, "documents"), "doc_id", "text")
    val meta = Multimodal.extractMeta(docs, "doc_id").collect()
    assert(meta.forall(m => m.width == (m.doc_id % 640 + 1) && m.height == (m.doc_id % 480 + 1)))
  }

  test("BMP codec round-trips geometry and pixel statistics through real bytes") {
    val bytes = Multimodal.encodeBmp(5, 3, y => 10 * y) // rows 0,10,20
    // real header: magic + 54-byte offset + 24bpp, rows padded to 4 bytes
    assert(bytes(0) == 'B' && bytes(1) == 'M')
    assert(bytes.length == 54 + ((3 * 5 + 3) / 4 * 4) * 3)
    val m = Multimodal.decodeBmp(7L, bytes)
    assert(m.width == 5 && m.height == 3 && m.n_bytes == bytes.length)
    assert(math.abs(m.mean_px - 10.0) < 1e-12) // mean of 0,10,20
    // a width that forces nonzero padding must not pollute the mean
    val padded = Multimodal.decodeBmp(1L, Multimodal.encodeBmp(3, 2, _ => 100))
    assert(math.abs(padded.mean_px - 100.0) < 1e-12)
  }

  test("aHashBmp packs exact-integer brightness bits from real BMP bytes") {
    // 8x8 with pixel value x: mean = 3.5·64/64 → px·64 > sum ⇔ x ≥ 4
    val img = Multimodal.encodeBmpXY(8, 8, (x, _) => x * 10)
    val h = Multimodal.aHashBmp(img)
    val expected = (0 until 64).foldLeft(0L) { (acc, j) =>
      if ((j % 8) * 10 * 64L > 8L * (0 until 8).map(_ * 10).sum) acc | (1L << j) else acc
    }
    assert(h == expected)
    // bit 63 (pixel (7,7)) sets the sign bit without corruption
    val bright = Multimodal.encodeBmpXY(8, 8, (x, y) => if (x == 7 && y == 7) 255 else 0)
    assert(Multimodal.aHashBmp(bright) == Long.MinValue)
    // non-8x8 input fails loudly
    intercept[IllegalArgumentException] {
      Multimodal.aHashBmp(Multimodal.encodeBmpXY(4, 8, (_, _) => 0))
    }
  }

  test("mm_image_phash_pairs: class-rep pairs, blocked ≡ exhaustive") {
    val out = graft.queries.PipelineQueries.queries("mm_image_phash_pairs")(spark, sf)
      .collect()
    assert(out.nonEmpty)
    // every pair honest: 1 <= hamming <= 3 (distinct classes), ids ordered
    assert(out.forall(r => r.getLong(2) >= 1 && r.getLong(2) <= 3 &&
      r.getLong(0) < r.getLong(1)))
    // blocked path ≡ exhaustive O(n²) truth at d <= 3 over the class
    // representatives (pigeonhole exactness)
    val imgs = Multimodal.withBmpVariantBinary(
      Tables(spark, sf, "documents").select("doc_id"), "doc_id")
    val hashes = Multimodal.aHash8Batch(
      Multimodal.resizeBmpBatch(imgs, "doc_id", 8, 8), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val reps = hashes.groupBy(_._2).map { case (h, ms) => (ms.map(_._1).min, h) }.toSeq
    val exhaustive = (for {
      (ia, ha) <- reps; (ib, hb) <- reps if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d >= 1 && d <= 3
    } yield (ia, ib, d.toLong)).toSet
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet == exhaustive)
    // single-pixel variants whose perturbed pixel IS sampled land in a
    // near (not exact) class of their base — some same-k rep pair exists
    assert(out.exists(r => r.getLong(0) % 50 == r.getLong(1) % 50))
  }

  test("mm_image_dedup_keep: one keeper per phash component, member-level truth") {
    val kept = graft.queries.PipelineQueries.queries("mm_image_dedup_keep")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    // member-level ground truth: union-find over ALL doc pairs at d<=3
    // (exact-hash classes are distance-0 cliques, so the rep-collapsed
    // plan must land on exactly the same component minima)
    val imgs = Multimodal.withBmpVariantBinary(
      Tables(spark, sf, "documents").select("doc_id"), "doc_id")
    val hashes = Multimodal.aHash8Batch(
      Multimodal.resizeBmpBatch(imgs, "doc_id", 8, 8), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    var paired = Set.empty[Long]
    for { (ia, ha) <- hashes; (ib, hb) <- hashes if ia < ib
          if java.lang.Long.bitCount(ha ^ hb) <= 3 } {
      paired += ia; paired += ib
      val (ra, rb) = (find(ia), find(ib))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val all = hashes.map(_._1).toSet
    val expectedKept = all.filter(d => !paired.contains(d) || find(d) == d)
    assert(kept == expectedKept)
    assert(kept.nonEmpty && kept.size < all.size) // the dedup actually fires
  }

  test("WAV codec round-trips format and amplitude through real RIFF bytes") {
    val samples = Array[Short](100, -200, 300, -400)
    val bytes = Multimodal.encodeWav(16000, samples)
    assert(new String(bytes.slice(0, 4)) == "RIFF" && new String(bytes.slice(8, 12)) == "WAVE")
    val m = Multimodal.decodeWav(3L, bytes)
    assert(m.sample_rate == 16000 && m.channels == 1 && m.bits == 16)
    assert(m.n_samples == 4)
    assert(math.abs(m.mean_abs - 250.0) < 1e-12)
  }

  test("decodeWav survives an odd-length LIST chunk (RIFF word alignment)") {
    import java.nio.{ByteBuffer, ByteOrder}
    // hand-build RIFF: [LIST len=3 + pad][fmt][data] — without the pad
    // byte the chunk walk desynchronizes and misses fmt/data entirely
    val samples = Array[Short](500, -500)
    val canonical = Multimodal.encodeWav(12000, samples)
    val body = canonical.drop(12) // fmt + data chunks
    val listLen = 3
    val b = ByteBuffer.allocate(12 + 8 + listLen + 1 + body.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes).putInt(4 + 8 + listLen + 1 + body.length).put("WAVE".getBytes)
    b.put("LIST".getBytes).putInt(listLen).put(Array[Byte](1, 2, 3)).put(0.toByte)
    b.put(body)
    val m = Multimodal.decodeWav(9L, b.array())
    assert(m.sample_rate == 12000 && m.n_samples == 2 && m.mean_abs == 500.0)
  }

  test("decodeBmp handles top-down (negative height) BMPs") {
    import java.nio.{ByteBuffer, ByteOrder}
    val up = Multimodal.encodeBmp(4, 3, y => 20 * y)
    val down = up.clone()
    // flip the height field (offset 22) to -3: same pixels, top-down order
    ByteBuffer.wrap(down).order(ByteOrder.LITTLE_ENDIAN).putInt(22, -3)
    val m = Multimodal.decodeBmp(1L, down)
    assert(m.height == 3 && m.width == 4)
    assert(math.abs(m.mean_px - Multimodal.decodeBmp(1L, up).mean_px) < 1e-12)
  }

  test("extractWavMeta decodes distributed real WAVs matching the generator") {
    val docs = Tables(spark, sf, "documents").select("doc_id").limit(50)
    val metas = Multimodal.extractWavMeta(
      Multimodal.withWavBinary(docs, "doc_id"), "doc_id").collect()
    assert(metas.length == 50)
    metas.foreach { m =>
      assert(m.sample_rate == 8000 + (m.doc_id % 8) * 1000)
      assert(m.channels == 1 && m.bits == 16)
      val n = (m.doc_id % 50 + 1).toInt
      assert(m.n_samples == n)
      val expMean = (0 until n).map(i =>
        math.abs((m.doc_id * 31 + i * 7) % 2001 - 1000).toDouble).sum / n
      assert(math.abs(m.mean_abs - expMean) < 1e-12, s"doc ${m.doc_id} mean_abs mismatch")
    }
  }

  test("extractBmpMeta decodes distributed real BMPs matching the generator") {
    val docs = Tables(spark, sf, "documents").select("doc_id").limit(50)
    val metas = Multimodal.extractBmpMeta(
      Multimodal.withBmpBinary(docs, "doc_id"), "doc_id").collect()
    assert(metas.length == 50)
    metas.foreach { m =>
      assert(m.width == (m.doc_id % 64 + 1).toInt)
      assert(m.height == (m.doc_id % 48 + 1).toInt)
      val expMean = (0 until m.height).map(y => ((m.doc_id + y) % 256).toDouble).sum / m.height
      assert(math.abs(m.mean_px - expMean) < 1e-9, s"doc ${m.doc_id} mean mismatch")
    }
  }

  test("resizeBmp samples real pixels and respects top-down row order") {
    // 4×2, logical top row = 7, bottom row = 200
    val src = Multimodal.encodeBmp(4, 2, y => if (y == 0) 7 else 200)
    val down = Multimodal.resizeBmp(src, 2, 1) // keeps the TOP source row
    val m = Multimodal.decodeBmp(0L, down)
    assert(m.width == 2 && m.height == 1 && m.mean_px == 7.0)
    val up = Multimodal.decodeBmp(0L, Multimodal.resizeBmp(src, 4, 4))
    assert(up.height == 4 && up.mean_px == (7.0 + 7.0 + 200.0 + 200.0) / 4)
    // top-down variant (negative height): logical rows flip, so the
    // same resize must now keep 200 — proof the row order is honored
    val td = src.clone()
    val bb = java.nio.ByteBuffer.wrap(td).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(22, -2)
    val mTd = Multimodal.decodeBmp(0L, Multimodal.resizeBmp(td, 2, 1))
    assert(mTd.mean_px == 200.0, "top-down input: logical top is storage row 0")
    // distributed lane: geometry comes back resized, bytes re-decode
    val docs = Tables(spark, sf, "documents").select("doc_id").limit(10)
    val rs = Multimodal.extractBmpMeta(
      Multimodal.resizeBmpBatch(
        Multimodal.withBmpBinary(docs, "doc_id"), "doc_id", 8, 8), "doc_id").collect()
    assert(rs.length == 10 && rs.forall(r => r.width == 8 && r.height == 8))
  }

  test("decodeWavFeatures: peak, zero crossings, RMS from real PCM bytes") {
    val alt = Multimodal.encodeWav(8000, Array[Short](100, -100, 100, -100))
    val f = Multimodal.decodeWavFeatures(1L, alt)
    assert(f.n_samples == 4 && f.peak_abs == 100 && f.zero_crossings == 3)
    assert(f.rms == 100.0)
    val silence = Multimodal.decodeWavFeatures(2L, Multimodal.encodeWav(8000, Array[Short](0, 0)))
    assert(silence.peak_abs == 0 && silence.zero_crossings == 0 && silence.rms == 0.0)
  }

  test("frameSample yields one sampled byte per stride") {
    val docs = Multimodal.withFakeBinary(Tables(spark, sf, "documents"), "doc_id", "text")
    val sampled = Multimodal.frameSample(docs, "doc_id", 16)
    assert(sampled.count() > 0)
    assert(sampled.columns.toSeq == Seq("doc_id", "frame_idx", "frame_byte"))
  }

  test("flagContaminated flags copies of benchmark docs, passes clean ones") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf, "documents")
    val bench = docs.filter(col("doc_id") < 20)
    // corpus: exact copies of benchmark docs (+1000) — must flag — and
    // vocabulary-disjoint synthetic docs — must pass (the shared
    // synthetic vocabulary makes real "fresh" docs collide on 3-grams,
    // which is correct flag behavior but not a clean-negative fixture)
    import spark.implicits._
    val cleanDocs = (2000L until 2010L)
      .map(id => (id, s"zzq$id aaq$id bbq$id ccq$id ddq$id"))
      .toDF("doc_id", "text")
    val corpus = bench.select((col("doc_id") + 1000).as("doc_id"), col("text"))
      .unionByName(cleanDocs)
    val out = graft.operators.TextAnalysis
      .flagContaminated(corpus, "doc_id", "text", bench)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    (1000L until 1020L).foreach(id =>
      assert(out(id), s"copy $id of a benchmark doc must flag contaminated"))
    (2000L until 2010L).foreach(id =>
      assert(!out(id), s"vocabulary-disjoint doc $id must pass clean"))
  }

  test("dupGroups resolves components: chain, triangle, isolated pair") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("id_a", "id_b")
    val got = graft.operators.Dedup.dupGroups(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("dupGroups fails fast when the diameter exceeds maxIters") {
    import spark.implicits._
    val longChain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val ex = intercept[IllegalStateException] {
      graft.operators.Dedup.dupGroups(longChain, "id_a", "id_b", maxIters = 2).count()
    }
    assert(ex.getMessage.contains("dupGroups"))
    // enough rounds resolves the same chain to one group
    val ok = graft.operators.Dedup.dupGroups(longChain, "id_a", "id_b")
      .select("group_id").distinct().count()
    assert(ok == 1)
  }

  test("dupGroups returns an empty frame on an empty pair list (no NPE)") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val got = graft.operators.Dedup.dupGroups(empty, "id_a", "id_b")
    assert(got.columns.toSeq == Seq("doc_id", "group_id"))
    assert(got.count() == 0)
    assert(graft.operators.Dedup.dupGroupsStar(empty, "id_a", "id_b").count() == 0)
  }

  test("dupGroupsStar matches min-label groups on mixed fixtures") {
    import spark.implicits._
    // chain + triangle + pair + a self-pair singleton + unordered dup edges
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (12L, 10L), (20L, 21L), (30L, 30L)).toDF("id_a", "id_b")
    val naive = graft.operators.Dedup.dupGroups(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = graft.operators.Dedup.dupGroupsStar(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == naive)
    assert(star(4L) == 1L && star(12L) == 10L && star(30L) == 30L)
  }

  test("dupGroupsStar converges in O(log n) rounds on a 1000-edge path graph") {
    import spark.implicits._
    // diameter 1000: min-label propagation would need ~1000 rounds (its
    // maxIters=20 fail-fast fires); the star contraction halves chain
    // distances per round
    val path = (1L to 1000L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      graft.operators.Dedup.dupGroups(path, "id_a", "id_b").count()
    }
    val (labels, rounds) =
      graft.operators.Dedup.dupGroupsStarWithRounds(path, "id_a", "id_b")
    assert(rounds <= 12, s"expected O(log n) convergence, took $rounds rounds")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 1001 && got.forall(_._2 == 1L))
  }

  test("ivfHexBound scales the md5 sample bound with the corpus count") {
    // n <= target: full corpus ('g' beats every hex char)
    assert(Similarity.ivfHexBound(2000) == "g")
    assert(Similarity.ivfHexBound(4096) == "g")
    // n = 20k: b = floor(4096*2^32/20000); expected sample ~= 4096
    val b20k = java.lang.Long.parseLong(Similarity.ivfHexBound(20000), 16)
    assert(math.abs(20000.0 * b20k / 4294967296.0 - 4096.0) < 2.0)
    // huge corpora clamp to the minimum non-empty bound
    assert(Similarity.ivfHexBound(Long.MaxValue / 2) == "00000001")
    // the bound string compares lexicographically == numerically (zero-padded)
    assert(Similarity.ivfHexBound(20000000) < Similarity.ivfHexBound(20000))
  }

  test("stratifiedSample is exact-n per stratum and deterministic") {
    import spark.implicits._
    val df = (1 to 300).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "grp")
    val s1 = Sampling.stratifiedSample(df, "id", "grp", 25)
    assert(s1.groupBy("grp").count().collect().forall(_.getLong(1) == 25))
    val s2 = Sampling.stratifiedSample(df, "id", "grp", 25)
    assert(s1.exceptAll(s2).isEmpty, "same input must select the same rows")
  }

  test("trainTestSplit is stable under corpus growth and near the target fraction") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val small = (1L to 1000L).toDF("id")
    val big = (1L to 2000L).toDF("id")
    val sSmall = Sampling.trainTestSplit(small, "id", 0.25)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val sBig = Sampling.trainTestSplit(big, "id", 0.25)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // adding docs never moves an existing doc across the split
    assert(sSmall.forall { case (id, sp) => sBig(id) == sp })
    val testFrac = sBig.values.count(_ == "test").toDouble / sBig.size
    assert(math.abs(testFrac - 0.25) < 0.05, s"test fraction drifted: $testFrac")
  }

  test("piiRedact counts and redacts emails, IPs, and phone numbers") {
    import spark.implicits._
    val df = Seq((1L, "mail a@b.co and c.d@e.org, ip 10.1.2.3, call 555-1234 or 555-0000"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.piiRedact(df, "doc_id", "text").head()
    assert(r.getAs[Int]("n_emails") == 2)
    assert(r.getAs[Int]("n_ips") == 1)
    assert(r.getAs[Int]("n_phones") == 2)
    val red = r.getAs[String]("redacted")
    assert(red == "mail <EMAIL> and <EMAIL>, ip <IP>, call <PHONE> or <PHONE>")
  }

  test("ws_normalize kernel matches the regex formulation; fingerprint is stable") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.TextExpressions.register(spark)
    val tricky = Seq("a  b\t\tc\nd", " lead", "trail ", "\t\n\f\r", "", "one",
      "x\r\ny  \t z").toDF("text")
    val corpus = Tables(spark, sf, "documents").select("text").unionByName(tricky)
    val checked = corpus.select(
      (call_function("ws_normalize", col("text")) ===
        regexp_replace(col("text"), "\\s+", " ")).as("ok")).collect()
    assert(checked.nonEmpty && checked.forall(_.getAs[Boolean]("ok")))
    // fingerprint built on the kernel equals the regex-built fingerprint
    val fp = corpus.select(
      (TextAnalysis.fingerprint(col("text")) ===
        substring(md5(regexp_replace(lower(col("text")), "\\s+", " ")), 1, 16)).as("ok"))
      .collect()
    assert(fp.forall(_.getAs[Boolean]("ok")))
  }

  test("rep_stats kernel matches the explode-groupBy formulation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    graft.functions.TextExpressions.register(spark)
    val tricky = Seq((9001L, "a b a b a"), (9002L, "x"), (9003L, ""),
      (9004L, "x y"), (9005L, "w w w w")).toDF("doc_id", "text")
    val corpus = Tables(spark, sf, "documents").select("doc_id", "text")
      .unionByName(tricky)
    val native = TextAnalysis.repetitionStats(corpus, "doc_id", "text")
    val exploded = corpus.withColumn("t", split(col("text"), " "))
      .filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(transform(sequence(lit(0), size(col("t")) - 2),
        i => concat_ws(" ", element_at(col("t"), i + 1), element_at(col("t"), i + 2))))
        .as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(sum("cnt").as("e_total"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("e_dup"),
        max("cnt").as("e_top"))
    val joined = native.join(exploded, Seq("doc_id"), "left").collect()
    assert(joined.length > 500)
    joined.foreach { r =>
      val total = r.getAs[Long]("total_bigrams")
      if (r.isNullAt(r.fieldIndex("e_total"))) // < 2 tokens → no bigrams
        assert(total == 0 && r.getAs[Long]("top_count") == 0)
      else {
        assert(total == r.getAs[Long]("e_total"), s"total mismatch for $r")
        assert(r.getAs[Long]("dup_occurrences") == r.getAs[Long]("e_dup"))
        assert(r.getAs[Long]("top_count") == r.getAs[Long]("e_top"))
      }
    }
    // hand-pinned: "a b a b a" → {a b: 2, b a: 2} → total 4, dup 4, top 2
    val h = native.filter(col("doc_id") === 9001L).head()
    assert(h.getAs[Long]("total_bigrams") == 4 && h.getAs[Long]("dup_occurrences") == 4
      && h.getAs[Long]("top_count") == 2)
    // "w w w w" → {w w: 3} → all occurrences duplicated, top_frac 1.0
    val w4 = native.filter(col("doc_id") === 9005L).head()
    assert(w4.getAs[Double]("dup_frac") == 1.0 && w4.getAs[Double]("top_frac") == 1.0)
  }

  test("quantizeInt8 bounds values to ±127 and error to half a step") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, Seq(0.5f, -1.0f, 0.25f)), (2L, Seq(0.0f, 0.0f, 0.0f)),
      (3L, Seq(3.0f))).toDF("vec_id", "embedding")
      .unionByName(Tables(spark, sf, "embeddings").select("vec_id", "embedding"))
    val out = Similarity.quantizeInt8(df, "vec_id", "embedding").collect()
    out.foreach { r =>
      val q = r.getAs[scala.collection.Seq[Int]]("qvec")
      assert(q.forall(x => x >= -127 && x <= 127), s"q out of int8 range: $r")
      val scaleQ = r.getAs[Double]("scale_q")
      if (scaleQ > 0) {
        // max reconstruction error ≤ half a quantization step (+1 nano-unit slack)
        val maxErr = r.getAs[Long]("max_abs_err_1e9")
        assert(maxErr <= (0.5 / scaleQ * 1e9).toLong + 2, s"error above half-step: $r")
      } else // zero vector → zero qvec, zero error
        assert(q.forall(_ == 0) && r.getAs[Long]("sum_abs_err_1e9") == 0)
    }
    val v1 = out.find(_.getLong(0) == 1L).get
    assert(v1.getAs[scala.collection.Seq[Int]]("qvec") == Seq(64, -127, 32))
  }

  test("domainMixture weights normalize and sqrt-temperature flattens") {
    val mix = Sampling.domainMixture(
      Tables(spark, sf, "documents"), "text", "source", "lang").collect()
    assert(mix.length > 1)
    val wp = mix.map(_.getAs[Double]("w_prop"))
    val ws = mix.map(_.getAs[Double]("w_sqrt"))
    // floor-quantized weights sum to 1 − at most n quantization ulps
    assert(math.abs(wp.sum - 1.0) < mix.length * 1e-6 + 1e-9)
    assert(math.abs(ws.sum - 1.0) < mix.length * 1e-6 + 1e-9)
    // sqrt temperature compresses the spread: max/min ratio must shrink
    val ratio = (xs: Array[Double]) => xs.max / xs.min
    assert(ratio(ws) < ratio(wp) + 1e-9,
      s"sqrt weights should flatten the mixture: ${ratio(ws)} vs ${ratio(wp)}")
  }

  test("chunkBoilerplate scores shared chunks and NULLs sub-chunk docs") {
    import spark.implicits._
    val shared = (1 to 8).map(i => s"w$i").mkString(" ") // one exact 8-word chunk
    val docs = Seq(
      (1L, shared + " unique tail one two three four five six"), // 2 chunks, 1 shared
      (2L, shared),                                              // 1 chunk, shared
      (3L, "totally different words " + (1 to 13).map(i => s"x$i").mkString(" ")), // 2 chunks, unique
      (4L, "short doc")                                          // < 8 words → no chunks
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkBoilerplate(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getAs[Long]("n_chunks")).toSeq == Seq(2L, 1L, 2L, 0L))
    assert(out.map(_.getAs[Long]("bp_chunks")).toSeq == Seq(1L, 1L, 0L, 0L))
    assert(out(1).getAs[Double]("bp_ratio") == 1.0)
    assert(out(0).getAs[Double]("bp_ratio") == 0.5)
    assert(out(3).isNullAt(out(3).fieldIndex("bp_ratio")), "no chunks → NULL ratio")
  }

  test("tokenRarity: hapaxes, min frequency, and mean corpus frequency") {
    import spark.implicits._
    val docs = Seq((1L, "a a b"), (2L, "a rare")).toDF("doc_id", "text")
    // corpus freqs: a=3, b=1, rare=1
    val out = TextAnalysis.tokenRarity(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_tokens") == 3 && out(1).getAs[Long]("n_tokens") == 2)
    assert(out(0).getAs[Double]("mean_freq") == math.floor((3 + 3 + 1) / 3.0 * 1e6) / 1e6)
    assert(out(0).getAs[Long]("min_freq") == 1 && out(0).getAs[Long]("hapax_tokens") == 1)
    assert(out(1).getAs[Double]("mean_freq") == 2.0) // (3 + 1) / 2
    assert(out(1).getAs[Long]("hapax_tokens") == 1)
  }

  test("corpusStats counts exact duplicates per group") {
    import spark.implicits._
    val docs = Seq(
      (1L, "same text", "en", "s0", 9L), (2L, "same text", "en", "s0", 9L),
      (3L, "other text", "en", "s0", 10L), (4L, "solo", "de", "s1", 4L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
    val out = TextAnalysis.corpusStats(docs, "text", Seq("lang", "source"), "n_chars")
      .orderBy("lang", "source").collect()
    val en = out.find(_.getString(0) == "en").get
    assert(en.getAs[Long]("n_docs") == 3 && en.getAs[Long]("distinct_texts") == 2)
    assert(en.getAs[Long]("total_chars") == 28 && en.getAs[Long]("total_tokens") == 6)
    assert(en.getAs[Double]("dup_ratio") == math.floor(1.0 / 3 * 1e6) / 1e6)
    assert(out.find(_.getString(0) == "de").get.getAs[Double]("dup_ratio") == 0.0)
  }

  test("dedupedCorpus keeps exactly one min-id row per distinct text") {
    import spark.implicits._
    val docs = Seq((5L, "dup"), (2L, "dup"), (9L, "dup"), (7L, "uniq"))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup.dedupedCorpus(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(2L, 7L), "min id per text survives")
    assert(out.map(_.getString(1)).toSeq == Seq("dup", "uniq"))
  }

  test("nearDedupKeep keeps one canonical doc per near-dup clique") {
    import spark.implicits._
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (10L, base), (20L, base), (30L, base + " tail"), // near-dup clique
      (40L, (100 to 119).map(i => s"other$i").mkString(" ")) // unrelated
    ).toDF("doc_id", "text")
    val kept = graft.operators.Dedup.nearDedupKeep(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(10L), "smallest id of the clique survives")
    assert(!kept.contains(20L), "exact copy with larger id is dropped")
    assert(kept.contains(40L), "unrelated doc survives")
  }

  test("simhashNearDups equals brute-force Hamming pairs (pigeonhole completeness)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c, conv, call_function}
    val docs = Tables(spark, sf, "documents").select("doc_id", "text").limit(120)
    // brute force over the actual 60-bit signatures
    graft.functions.TextExpressions.register(spark)
    val sigs = docs.select(c("doc_id"),
        conv(call_function("simhash60", c("text")), 16, 10).cast("long").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, sa) <- sigs; (b, sb) <- sigs
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    val fast = graft.operators.Dedup.simhashNearDups(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == brute, s"pigeonhole must be exact within radius 3: " +
      s"missing ${brute -- fast}, extra ${fast -- brute}")
  }

  test("nearDedupKeep rep-space fast path equals the raw keep rule") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c}
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base), (2L, base), (7L, base),          // exact class, min 1
      (3L, base + " tail"),                        // near-dup of the class
      (4L, "hi there"), (5L, "hi there"),          // sub-shingle exact copies:
                                                   //   NO signature → both kept
      (6L, (50 to 69).map(i => s"z$i").mkString(" ")) // unrelated
    ).toDF("doc_id", "text")
    // raw rule, spelled naively: drop every id_b of the full-corpus pairs
    val rawPairs = graft.operators.Dedup.minHashNearDups(docs, "doc_id", "text")
    val naive = docs.join(rawPairs.select(c("id_b").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fast = graft.operators.Dedup.nearDedupKeep(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(fast == naive, s"fast $fast vs naive $naive")
    assert(fast == Set(1L, 4L, 5L, 6L))
  }

  test("nearDedupKeep collapseExact=false equals the default on distinct texts") {
    import spark.implicits._
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    // all texts DISTINCT (the fast path's contract): a near-dup pair,
    // a sub-shingle short text, and an unrelated doc
    val docs = Seq(
      (1L, base), (3L, base + " tail"),
      (4L, "hi there"),
      (6L, (50 to 69).map(i => s"z$i").mkString(" "))
    ).toDF("doc_id", "text")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val viaCollapse = ids(graft.operators.Dedup.nearDedupKeep(docs, "doc_id", "text"))
    val direct = ids(graft.operators.Dedup.nearDedupKeep(docs, "doc_id", "text",
      collapseExact = false))
    assert(direct == viaCollapse, s"direct $direct vs collapse $viaCollapse")
    assert(direct == Set(1L, 4L, 6L))
    // identical output COLUMNS too (the helper column must not leak)
    assert(graft.operators.Dedup.nearDedupKeep(docs, "doc_id", "text",
      collapseExact = false).columns.toSeq == Seq("doc_id", "text"))
  }

  test("dupGroupsOf rep-space fast path equals raw connected components") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col => c}
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val other = (40 to 59).map(i => s"y$i").mkString(" ")
    val docs = Seq(
      (1L, base), (4L, base), (9L, base),       // exact class → one group
      (2L, base + " tail"),                     // near-dup bridging into it
      (3L, other), (8L, other + " x"),          // second component (singletons)
      (5L, "tiny doc"), (6L, "tiny doc"),       // sub-shingle copies: excluded
      (7L, (80 to 99).map(i => s"q$i").mkString(" ")) // isolated: excluded
    ).toDF("doc_id", "text")
    val naive = graft.operators.Dedup.dupGroups(
        graft.operators.Dedup.minHashNearDups(docs, "doc_id", "text"), "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = graft.operators.Dedup.dupGroupsOf(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fast == naive, s"fast $fast vs naive $naive")
    assert(fast((1L, 1L)) && fast((4L, 1L)) && fast((9L, 1L)) && fast((2L, 1L)))
    assert(fast((3L, 3L)) && fast((8L, 3L)))
    assert(!fast.exists(p => Set(5L, 6L, 7L)(p._1)))
  }

  test("clusterStats assigns every vector and breaks ties to the smaller cid") {
    import spark.implicits._
    val docs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)), // the 2 references
      (5L, Array(0.9f, 0.1f)), (6L, Array(0.1f, 0.9f)),
      (7L, Array(1.0f, 1.0f)) // equidistant → cid 0
    ).toDF("vec_id", "embedding")
    val out = Similarity.clusterStats(docs, "vec_id", "embedding", numClusters = 2)
      .orderBy("cid").collect()
    assert(out.map(_.getAs[Long]("n_members")).sum == 5, "every vector assigned")
    assert(out(0).getAs[Long]("cid") == 0 && out(0).getAs[Long]("n_members") == 3,
      "tie goes to the smaller cluster id")
    assert(out(1).getAs[Long]("n_members") == 2)
  }

  test("bigramLmScore: deterministic transitions score 1, rare ones lower") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),   // every 'a b'/'b a' transition is corpus-typical
      (2L, "a b c d"),       // 'b c', 'c d' are hapax transitions
      (3L, "x")              // no bigrams → NULL score
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramLmScore(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val s1 = out(0).getAs[Double]("mean_cond_prob")
    val s2 = out(1).getAs[Double]("mean_cond_prob")
    assert(s1 > s2, s"repetitive doc must outscore the novel one: $s1 vs $s2")
    assert(out(2).getAs[Long]("n_bigrams") == 0 &&
      out(2).isNullAt(out(2).fieldIndex("mean_cond_prob")))
    // exact: c(a b)=4 c(b a)=2 c(b c)=1 c(c d)=1; prefixes a·=4 b·=3 c·=1
    // doc1 = floor((3·1e6 + 2·floor(2/3·1e6)) / 5)/1e6; doc2 = floor((1e6+333333+1e6)/3)/1e6
    assert(s1 == 0.866666, s"doc1 exact score, got $s1")
    assert(s2 == 0.777777, s"doc2 exact score, got $s2")
  }

  test("topTerms ranks by tf desc then df asc then token") {
    import spark.implicits._
    val docs = Seq((1L, "a a b c"), (2L, "b b c")).toDF("doc_id", "text")
    val out = TextAnalysis.topTerms(docs, "doc_id", "text", 3)
      .filter(org.apache.spark.sql.functions.col("doc_id") === 1L)
      .orderBy("rank").collect()
    assert(out.map(_.getAs[String]("tok")).toSeq == Seq("a", "b", "c"),
      "tf breaks first, then the df/token tie-break")
    assert(out.map(_.getAs[Long]("tf")).toSeq == Seq(2L, 1L, 1L))
    assert(out.head.getAs[Long]("df") == 1)
  }

  test("winnow fingerprint is shift-tolerant") {
    val a = TextAnalysis.winnow("the quick brown fox jumps over the lazy dog")
    val b = TextAnalysis.winnow("PREFIX the quick brown fox jumps over the lazy dog")
    val overlap = (a.toSet & b.toSet).size.toDouble / a.size
    assert(overlap > 0.5, s"winnow overlap after shift should be high, got $overlap")
  }

  test("exactIvfCentroids equals a purely relational recompute (the oracle's program)") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val emb = Tables(spark, sf, "embeddings")
    val (k, iters) = (8, 2)
    val driver = Similarity.exactIvfCentroids(emb, "vec_id", "embedding", k, iters, "8")
    val driver2 = Similarity.exactIvfCentroids(emb, "vec_id", "embedding", k, iters, "8")
    assert(driver.zip(driver2).forall { case (a, b) => a.sameElements(b) },
      "quantizer training must be deterministic")
    // the same program, expressed relationally like the DuckDB oracle:
    // md5-prefix sample → md5-ordered init → per-round argmin assignment
    // (exact integer distances) → floor(sum/count) recentering
    val q = emb.select(col("vec_id"),
        expr("transform(CAST(embedding AS ARRAY<DOUBLE>), x -> CAST(floor(x * 1e6) AS DOUBLE))")
          .as("vq"))
      .withColumn("mh", md5(col("vec_id").cast("string")))
    val samp = q.filter(substring(col("mh"), 1, 1) < "8").select("mh", "vq")
    var cents = samp
      .withColumn("cell", (row_number().over(Window.orderBy("mh")) - 1).cast("long"))
      .filter(col("cell") < k).select(col("cell"), col("vq").as("cq"))
    for (_ <- 1 to iters) {
      val assigned = samp.crossJoin(cents)
        .withColumn("d", expr(
          "CAST(aggregate(zip_with(vq, cq, (x, y) -> (x - y) * (x - y)), " +
            "CAST(0.0 AS DOUBLE), (a, v) -> a + v) AS BIGINT)"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("mh").orderBy(col("d"), col("cell"))))
        .filter(col("rn") === 1)
      val re = assigned.select(col("cell"), posexplode(col("vq")).as(Seq("j", "x")))
        .groupBy("cell", "j").agg(floor(sum("x") / count(lit(1))).as("cj"))
        .groupBy("cell")
        .agg(transform(array_sort(collect_list(struct(col("j"), col("cj")))),
          s => s.getField("cj")).as("ncq"))
      cents = cents.join(re, Seq("cell"), "left")
        .select(col("cell"), coalesce(col("ncq"), col("cq")).as("cq"))
    }
    val relational = cents.orderBy("cell").collect()
      .map(r => r.getSeq[Double](1).map(_.toLong).toArray)
    assert(relational.length == driver.length)
    assert(driver.zip(relational).forall { case (a, b) => a.sameElements(b) },
      "driver-side Lloyd training must equal the relational/SQL retrain bit-for-bit")
  }

  test("ivfAnnExact: zero plan-time jobs, deterministic output, recall floor") {
    import org.apache.spark.sql.functions._
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val cents = Similarity.exactIvfCentroids(emb, "vec_id", "embedding", 8, 2, "8")
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    val plan = Similarity.ivfAnnExact(emb, queries, "vec_id", "embedding", 10, cents,
      nprobe = 3)
    assert(tracker.getJobIdsForGroup(null).length == before,
      "building the ivfAnnExact plan must not run any job")
    val got = plan.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val again = Similarity.ivfAnnExact(emb, queries, "vec_id", "embedding", 10, cents,
        nprobe = 3).select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == again, "ivfAnnExact must be run-to-run deterministic")
    val truth = Similarity.cosineTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & got).size.toDouble / truth.size
    info(s"exact-IVF recall@10 over ${truth.size} truth pairs: $recall")
    assert(recall > 0.3, s"exact-IVF nprobe=3/8 should keep IVF-grade recall, got $recall")
  }

  test("ivfAnnExact and ivfAnn work with a single centroid (least() needs two args)") {
    import org.apache.spark.sql.functions._
    val emb = Tables(spark, sf, "embeddings").limit(30)
    val queries = emb.filter(col("vec_id") < 2)
    val one = Similarity.ivfAnnExact(emb, queries, "vec_id", "embedding", 5,
      Array(Array.fill(64)(0L)), nprobe = 1)
    assert(one.count() > 0, "single-cell exact IVF must degrade to brute force, not throw")
    val oneF = Similarity.ivfAnn(emb, queries, "vec_id", "embedding", 5,
      Array(Array.fill(64)(0.0)), nprobe = 1)
    assert(oneF.count() > 0, "single-cell float IVF must work too")
  }

  test("exactIvfCentroids fails fast past the sample cap and the exactness budget") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val emb = Tables(spark, sf, "embeddings")
    val capped = intercept[IllegalArgumentException] {
      Similarity.exactIvfCentroids(emb, "vec_id", "embedding", 4, 1, "8", maxSample = 10)
    }
    assert(capped.getMessage.contains("maxSample"),
      s"wanted the sample-cap guard, got: ${capped.getMessage}")
    // components ~1e9 quantize to ~1e15; dims·maxQ² blows the 2^50 budget
    val huge = (1L to 20L).map(i => (i, Seq(1e9, i.toDouble))).toDF("vec_id", "embedding")
    val over = intercept[IllegalArgumentException] {
      Similarity.exactIvfCentroids(huge, "vec_id", "embedding", 2, 1, hexBound = "g")
    }
    assert(over.getMessage.contains("exact-integer budget"),
      s"wanted the magnitude guard, got: ${over.getMessage}")
    // the per-row runtime guard catches an outlier the sample missed
    val ex = intercept[Exception] {
      Similarity.ivfAnnExact(huge, huge.filter(col("vec_id") < 2), "vec_id", "embedding",
        3, Array(Array(0L, 0L), Array(1L, 1L)), nprobe = 1).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("exact-integer budget")),
      s"wanted the fused row guard, got: ${messages(ex).take(3).mkString(" | ")}")
  }

  test("minHashNearDups edges: threshold > 1 emits nothing; 3-token dup class pairs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "a b c"), // exactly-3-token dup class
      (4L, "x y"), (5L, "x y"),                    // sub-shingle: never pairs
      (6L, "p q r s t u v w")                      // singleton
    ).toDF("doc_id", "text")
    val pairs = graft.operators.Dedup.minHashNearDups(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs == Set((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0)),
      s"the 3-token class pairs at jaccard 1 and nothing else, got $pairs")
    val none = graft.operators.Dedup
      .minHashNearDups(docs, "doc_id", "text", threshold = 1.5).count()
    assert(none == 0, "an unsatisfiable threshold (> 1) must emit no within-class pairs")
  }

  test("dupGroups with reliable checkpointing matches the localCheckpoint path") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    def groups() = graft.operators.Dedup.dupGroups(pairs, "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val local = groups()
    assert(local == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L)),
      s"chain 1-2-3 collapses to 1, pair 10-11 to 10; got $local")
    // the deployment's checkpoint directory turns every Materialize
    // boundary into a reliable checkpoint; the spec puts the prior one back
    val sc = spark.sparkContext
    val prior = sc.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    try {
      val reliable = org.apache.spark.graftspec.Checkpoints.withDir(sc, dir.toString)(groups())
      assert(reliable == local, "reliable checkpoint() must produce identical components")
      assert(sc.getCheckpointDir == prior)
      assert(java.nio.file.Files.walk(dir).anyMatch(java.nio.file.Files.isRegularFile(_)),
        "the rounds were checkpointed under the directory")
    } finally Lake.deleteRecursively(dir)
  }

  test("lineDedup keeps first corpus occurrence, drops within-doc repeats, reassembles in order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha\nbeta\nalpha"),   // within-doc repeat of alpha
      (2L, "beta\ngamma"),          // beta already claimed by doc 1
      (3L, "alpha\nbeta")           // fully claimed -> empty survivor
    ).toDF("doc_id", "text")
    val out = TextAnalysis.lineDedup(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 2L, "alpha\nbeta"),
      (2L, 2L, 1L, "gamma"),
      (3L, 2L, 0L, "")), s"got ${out.toSeq}")
  }

  test("y4m frame sampling decodes real luma planes and seeks skipped frames") {
    val bytes = Multimodal.encodeY4m(4, 3, 5, (f, y) => 10 * f + y)
    val frames = Multimodal.decodeY4mFrames(7L, bytes, every = 2)
    assert(frames.map(_.frame_idx) == Seq(0, 2, 4))
    assert(frames.forall(m => m.n_frames == 5 && m.width == 4 && m.height == 3))
    // frame f rows are 10f, 10f+1, 10f+2 → plane mean 10f + 1
    assert(frames.map(_.mean_y) == Seq(1.0, 21.0, 41.0))
    // unsupported colorspace and truncated payloads fail loudly
    intercept[IllegalArgumentException] {
      Multimodal.decodeY4mFrames(1L, "YUV4MPEG2 W4 H3 C420\n".getBytes("US-ASCII"), 1)
    }
    intercept[IllegalArgumentException] {
      Multimodal.decodeY4mFrames(1L, bytes.dropRight(1), 1)
    }
  }

  test("substringDedup removes covered spans, keeps novel flanks and short docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"),     // claimant for every shared window
      (2L, "a b c d e f g h i j"),     // exact dup -> fully covered
      (3L, "x a b c d e f g h z"),     // dup window at p=1 -> keeps "x z"
      (4L, "p q r")                    // < k tokens -> untouched
    ).toDF("doc_id", "text")
    val out = TextAnalysis.substringDedup(docs, "doc_id", "text", k = 8)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 10L, 10L, "a b c d e f g h i j"),
      (2L, 10L, 0L, ""),
      (3L, 10L, 2L, "x z"),
      (4L, 3L, 3L, "p q r")), s"got ${out.toSeq}")
  }

  test("substringDedup plan shape: one claimant pass, partition-local sort, no cartesian") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val plan = TextAnalysis.substringDedup(docs, "doc_id", "text", 8)
      .queryExecution.executedPlan.toString
    // r14: the claimant moved from groupBy + join-back (which executed
    // the window-hash mapper — one md5 per token position, the
    // operator's dominant CPU — twice and exchanged its rows twice) to
    // a min window over the hash partitioning: the narrow (id, pos,
    // hash) rows are computed once and exchanged once; the per-hash
    // sort is partition-local, never corpus-global.
    assert(plan.contains("Window"), "claimant should be a hash-partitioned window min")
    assert(!plan.contains("], true, 0"), "a global sort crept into the claimant pass")
    assert(!plan.contains("Cartesian"), "cartesian product crept in")
  }

  test("packSequences bins docs by starting token offset per shard") {
    import spark.implicits._
    // one shard (ids all ≡ 1 mod 16); token counts 3,4,5 with seqLen 6:
    // starts at 0,3,7 -> seq_ids 0,0,1
    val docs = Seq(
      (1L, "a b c"), (17L, "d e f g"), (33L, "h i j k l")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.packSequences(docs, "doc_id", "text", seqLen = 6, shards = 16)
      .orderBy("shard", "seq_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(
      (1L, 0L, 2L, 7L, 1L, 17L),
      (1L, 1L, 1L, 5L, 33L, 33L)), s"got ${out.toSeq}")
  }

  test("shingleContainment is asymmetric under tail extension, NULL on empty sets") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"), (101L, "a b c d e x y z"), // extension: 3 vs 6 shingles
      (2L, "p q"), (102L, "p q")                    // < 3 words: empty sets
    ).toDF("doc_id", "text")
    val out = graft.operators.Dedup.shingleContainment(docs, "doc_id", "text", 100L)
      .orderBy("doc_a").collect()
    assert(out.length == 2)
    assert(out(0).getLong(0) == 1L && out(0).getDouble(2) == 1.0
      && out(0).getDouble(3) == 0.5, s"got ${out.toSeq}")
    assert(out(1).isNullAt(2) && out(1).isNullAt(3))
  }

  test("knnGraph builds cell-bounded neighbor lists with rank order") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9999f, 1.0e-4f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(1.0e-4f, 0.9999f)), (5L, Array(0.3f, 0.95f))
    ).toDF("vec_id", "embedding")
    val cents = Array(Array(1000000L, 0L), Array(0L, 1000000L))
    val out = Similarity.knnGraph(df, "vec_id", "embedding", cents, 2)
      .orderBy("vec_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // cell {1,2} yields one edge each; cell {3,4,5} two each → 8 rows
    assert(out.length == 8, s"got ${out.toSeq}")
    assert(out.filter(_._1 == 1L).map(_._3).toSeq == Seq(2L))
    assert(out.filter(_._1 == 2L).map(_._3).toSeq == Seq(1L))
    // 5 = (0.3, 0.95) is closer to 4 ≈ (0, 1) than… both 3 and 4 are ~(0,1):
    // ranks must be 1,2 and neighbors drawn from the same cell only
    val n5 = out.filter(_._1 == 5L)
    assert(n5.map(_._2).toSeq == Seq(1L, 2L) && n5.map(_._3).toSet == Set(3L, 4L))
  }

  test("packOffsets places each doc at its in-sequence start boundary") {
    import spark.implicits._
    // one shard; token counts 3,4,5 with seqLen 6: starts 0,3,7 →
    // (seq 0, off 0), (seq 0, off 3), (seq 1, off 1)
    val docs = Seq(
      (1L, "a b c"), (17L, "d e f g"), (33L, "h i j k l")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.packOffsets(docs, "doc_id", "text", seqLen = 6, shards = 16)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 1L, 0L), (0L, 17L, 3L), (1L, 33L, 1L)),
      s"got ${out.toSeq}")
  }

  test("semanticDedup keeps one representative per within-cluster dup group") {
    import spark.implicits._
    // two obvious clusters on the axes; b≈a and d≈c are semantic dups,
    // e sits between (cos ≈ 0.707 to both) and must survive
    val df = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9999f, 1.0e-4f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(1.0e-4f, 0.9999f)),
      (5L, Array(0.7f, 0.7f))
    ).toDF("vec_id", "embedding")
    val cents = Array(Array(1000000L, 0L), Array(0L, 1000000L))
    val out = Similarity.semanticDedup(df, "vec_id", "embedding", cents, 0.99)
      .orderBy("vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq(
      (1L, 0L, true), (2L, 0L, false),
      (3L, 1L, true), (4L, 1L, false),
      (5L, 0L, true)), s"got ${out.toSeq}")
  }

  test("semanticDedup plan construction launches no Spark jobs (centroids are literals)") {
    val emb = Tables(spark, sf, "embeddings")
    val cents = Similarity.exactIvfCentroids(emb, "vec_id", "embedding", 8, 2, "8")
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    val plan = Similarity.semanticDedup(emb, "vec_id", "embedding", cents, 0.35)
    assert(tracker.getJobIdsForGroup(null).length == before,
      "building the semanticDedup plan must not run any job")
    assert(plan.columns.toSeq == Seq("vec_id", "cell", "kept"))
  }

  test("semanticDedup plans no cartesian product (cell equijoin only)") {
    val emb = Tables(spark, sf, "embeddings")
    val cents = Similarity.exactIvfCentroids(emb, "vec_id", "embedding", 8, 2, "8")
    val plan = Similarity.semanticDedup(emb, "vec_id", "embedding", cents, 0.35)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      "within-cell pairing must stay a cell equijoin")
  }

  test("assignExactCells nearest_cell kernel path (k>16) matches a driver-side argmin") {
    val emb = Tables(spark, sf, "embeddings")
    val cents = Similarity.exactIvfCentroids(emb, "vec_id", "embedding",
      k = 20, iters = 2, hexBound = "g")
    assert(cents.length == 20)
    val got = Similarity.assignExactCells(emb, "vec_id", "embedding", cents)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // independent reference: plain-Scala exact-integer argmin over the
    // same 1e-6 quantization grid, same (distance, cell) tie-break
    val want = emb.select("vec_id", "embedding").collect().map { r =>
      val id = r.getLong(0)
      val vq = r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1e6).toLong).toArray
      val cell = cents.zipWithIndex.map { case (cq, i) =>
        var d = 0L; var j = 0
        while (j < vq.length) { val t = vq(j) - cq(j); d += t * t; j += 1 }
        (d, i.toLong)
      }.min._2
      id -> cell
    }.toMap
    assert(got == want, "join-path cell assignment diverged from the reference argmin")
  }

  test("large-k assignment: pruned path is EXACTLY flat argmin; coarse path matches two-level reference") {
    import spark.implicits._
    // 100 deterministic centroids + 300 vectors on the 1e-6 grid;
    // values small enough to stay inside the 2^50 budget
    val dims = 8
    def cvec(seed: Int): Array[Long] =
      Array.tabulate(dims)(d => (((seed * 31 + d * 17) % 19) - 9).toLong * 100000L)
    val cents = Array.tabulate(100)(cvec)
    val vecs = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(dims)(d => ((((i * 7 + d * 13) % 23) - 11) * 0.1)))
    }
    val df = vecs.toDF("vec_id", "embedding")
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

    // (a) k>64 assignExactCells = the plain flat argmin, bit-for-bit —
    // triangle-inequality pruning is a schedule, not an approximation
    val gotExact = graft.operators.Similarity
      .assignExactCells(df, "vec_id", "embedding", cents)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val flat = vecs.map { case (id, v) =>
      val vq = v.map(x => math.floor(x * 1e6).toLong)
      id -> cents.indices.map(c => (d2(vq, cents(c)), c.toLong)).min._2
    }.toMap
    assert(gotExact == flat, "pruned assignment diverged from the flat argmin")

    // (b) assignCellsCoarse = the documented two-level rule: anchors =
    // first kc=ceil(sqrt(k)) centroids, coarse by (d, anchor) argmin,
    // final by (d, GLOBAL cell) argmin within the chosen group
    val gotCoarse = graft.operators.Similarity
      .assignCellsCoarse(df, "vec_id", "embedding", cents)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val kc = math.ceil(math.sqrt(100.0)).toInt
    val coarseOf = cents.map(c => (0 until kc).map(j => (d2(c, cents(j)), j)).min._2)
    val want = vecs.map { case (id, v) =>
      val vq = v.map(x => math.floor(x * 1e6).toLong)
      val grp = (0 until kc).map(j => (d2(vq, cents(j)), j)).min._2
      val cell = cents.indices.filter(coarseOf(_) == grp)
        .map(c => (d2(vq, cents(c)), c.toLong)).min._2
      id -> cell
    }.toMap
    assert(gotCoarse == want, "two-level cell assignment diverged from the reference")
  }

  test("saltedStats ≡ direct groupBy at any bucket count") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = (1 to 500).map(i => (i.toLong, s"k${i % 3}", i * 0.37))
      .toDF("rid", "key", "value")
    def direct = df.withColumn("__c", round(col("value") * 100).cast("long"))
      .groupBy("key")
      .agg(count(lit(1)).as("n"), (sum("__c") / 100.0).as("sum_value"),
        (min("__c") / 100.0).as("min_value"), (max("__c") / 100.0).as("max_value"))
      .withColumn("avg_value", floor(col("sum_value") / col("n") * 1000000.0) / 1000000.0)
      .orderBy("key").collect().map(_.toSeq).toSeq
    for (b <- Seq(1, 7, 64)) {
      val salted = graft.operators.Skew
        .saltedStats(df, Seq("key"), Seq("rid"), "value", buckets = b)
        .orderBy("key").collect().map(_.toSeq).toSeq
      assert(salted == direct, s"buckets=$b diverged")
    }
  }

  test("Misra-Gries: exact at k >= domain; classic guarantees in the lossy regime") {
    import graft.functions.HeavyHitters._
    // lossy: k=2 over a fixed stream — 9 a, 5 b, 3 c interleaved
    val stream = Seq.fill(3)(Seq("a", "a", "a", "b", "c", "b", "a" * 1)).flatten
      .map(_.toString)
    val n = stream.length
    val k = 2
    val summary = stream.foldLeft(Map.empty[String, Long])((m, v) => add(k, m, v))
    assert(summary.size <= k)
    val trueCounts = stream.groupBy(identity).map { case (v, xs) => v -> xs.length.toLong }
    // every survivor's estimate within n/(k+1) of truth (undercount only)
    summary.foreach { case (v, c) =>
      assert(c <= trueCounts(v) && trueCounts(v) - c <= n / (k + 1),
        s"$v: est $c vs true ${trueCounts(v)}")
    }
    // any value with frequency > n/(k+1) must survive ('a' = 12 of 21)
    assert(summary.contains("a"))
    // merge compression: two size-2 summaries with disjoint keys at k=2
    // subtract the 3rd-largest and keep at most k survivors
    val merged = mergeSummaries(2, Map("a" -> 10L, "b" -> 4L), Map("c" -> 6L, "d" -> 1L))
    assert(merged == Map("a" -> 6L, "c" -> 2L))
    // exact regime: k >= domain — foldLeft in any split + merge == truth
    val (s1, s2) = stream.splitAt(7)
    val exact = mergeSummaries(16,
      s1.foldLeft(Map.empty[String, Long])((m, v) => add(16, m, v)),
      s2.foldLeft(Map.empty[String, Long])((m, v) => add(16, m, v)))
    assert(exact == trueCounts)
  }

  test("tokenBudgetMix: per-language budgets respected, hash-prefix property, sqrt flattening") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf, "documents")
    graft.functions.TextExpressions.register(spark)
    val tok = docs.select(col("doc_id"), col("lang"),
      call_function("bpe_token_count", col("text")).cast("long").as("n_tok"))
    val sel = Sampling.tokenBudgetMix(tok, "doc_id", "lang", "n_tok", budget = 5000L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(sel.nonEmpty)
    // per-language: cum_tokens is the running sum in md5-hash order and
    // never exceeds the total selected mass (prefix property)
    sel.groupBy(_._2).foreach { case (_, rows) =>
      val byCum = rows.sortBy(_._4)
      assert(byCum.map(_._3).sum == byCum.last._4, "cum must be the running sum")
      def hk(id: Long) = "0" + org.apache.commons.codec.digest.DigestUtils
        .md5Hex(id.toString).take(8)
      val hashOrdered = rows.sortBy(r => (hk(r._1), r._1)).map(_._1).toSeq
      assert(byCum.map(_._1).toSeq == hashOrdered, "selection must be a hash-order prefix")
    }
    // sqrt temperature: a small language's selected-token share must
    // exceed its raw corpus share (flattening), the big one's shrink
    val mass = tok.groupBy("lang").agg(sum("n_tok").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val selMass = sel.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val big = mass.maxBy(_._2)._1
    val small = mass.minBy(_._2)._1
    val rawShare = (l: String) => mass(l).toDouble / mass.values.sum
    val selShare = (l: String) => selMass.getOrElse(l, 0L).toDouble / selMass.values.sum
    assert(selShare(small) > rawShare(small) * 1.05,
      s"small lang share must flatten upward: ${selShare(small)} vs ${rawShare(small)}")
    assert(selShare(big) < rawShare(big),
      s"big lang share must flatten downward: ${selShare(big)} vs ${rawShare(big)}")
  }

  test("tokenBudgetMix: shard-count invariance (distributed prefix == single window) and zero-mass language") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf, "documents")
    graft.functions.TextExpressions.register(spark)
    val tok = docs.select(col("doc_id"), col("lang"),
      call_function("bpe_token_count", col("text")).cast("long").as("n_tok"))
    // the shard count is a pure parallelism knob: a shard is a
    // contiguous range of the order key, so per-shard cumsum + the
    // broadcast shard offsets reconstruct the global prefix EXACTLY
    // for every width — shards = 1 is literally the single-window
    // spelling the DuckDB oracle replays
    def run(shards: Int) =
      Sampling.tokenBudgetMix(tok, "doc_id", "lang", "n_tok", budget = 5000L,
          shards = shards)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .sortBy(_._1).toSeq
    val single = run(1)
    assert(single.nonEmpty)
    assert(run(16) == single, "16-shard result must equal the single-window result")
    assert(run(256) == single, "256-shard result must equal the single-window result")
    assert(run(1000) == single, "non-power-of-two shard width must also be exact")
    // a language whose total token mass is zero must select nothing —
    // not ride 0/0 = NaN into an ANSI cast error (ADVICE r9)
    val withEmpty = tok.unionByName(
      spark.range(5).select((col("id") + 900000).as("doc_id"),
        lit("zz_empty").as("lang"), lit(0L).as("n_tok")))
    val sel = Sampling.tokenBudgetMix(withEmpty, "doc_id", "lang", "n_tok",
        budget = 5000L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(!sel.exists(_._2 == "zz_empty"), "zero-mass language must select nothing")
    assert(sel.map(r => (r._1, r._2)).sorted.toSeq == single.map(r => (r._1, r._2)).sorted,
      "adding a zero-mass language must not move any other language's selection")
    // all-zero frame: every language empty — budgets guard (sum of
    // sqrt-masses = 0) must also stay NaN-free
    val allZero = spark.range(10).select(col("id").as("doc_id"),
      (col("id") % 2).cast("string").as("lang"), lit(0L).as("n_tok"))
    assert(Sampling.tokenBudgetMix(allZero, "doc_id", "lang", "n_tok",
      budget = 100L).count() == 0L)
  }

  test("tokenBudgetMix rangeShard: kept keys populate ~every shard at a 10% keep rate") {
    import org.apache.spark.sql.functions._
    // the operator's exact key function (md5 32-bit prefix) and the
    // exact shard expression, at a keep rate where the r10 2³²-scaled
    // form populated only ~keep-rate·shards ≈ 26 of 256 (VERDICT r10 #7)
    val thr = (0.1 * 4294967296.0).toLong
    val keys = spark.range(20000)
      .select(conv(concat(lit("0"),
        substring(md5(col("id").cast("string")), 1, 8)), 16, 10)
        .cast("long").as("__v"))
      .filter(col("__v") < thr)
      .withColumn("__t", lit(thr))
      .withColumn("__shard", Sampling.rangeShard("__v", "__t", 256))
    val kept = keys.count()
    assert(kept > 1500 && kept < 2500, s"keep rate drifted: $kept of 20000")
    val byShard = keys.groupBy("__shard").count().collect()
    assert(byShard.length >= 250,
      s"only ${byShard.length} of 256 shards populated — occupancy regressed " +
        "to the keep-rate-scaled form")
    val counts = byShard.map(_.getLong(1))
    assert(counts.max <= 10 * math.max(1, counts.min),
      s"shard skew: min=${counts.min} max=${counts.max}")
  }

  test("misra-gries: empty final sketch still yields well-defined lossy-lane rows") {
    // MG can END EMPTY on legitimate input: k=3, stream a,b,c,d — the
    // 4th arrival decrements every counter to zero. The lossy driver
    // lane must derive n / survivor counts from the exact side so this
    // produces (n, booleans) rows, not NULLs (ADVICE r9 medium).
    import graft.functions.HeavyHitters.{add, mergeSummaries}
    val endsEmpty = Seq("a", "b", "c", "d")
      .foldLeft(Map.empty[String, Long])((m, v) => add(3, m, v))
    assert(endsEmpty.isEmpty, s"fixture must end empty, got $endsEmpty")
    // and a merge that ties the (k+1)-th largest count with the max
    // drops every key
    val merged = mergeSummaries(1, Map("a" -> 2L), Map("b" -> 2L))
    assert(merged.isEmpty, s"tied merge must end empty, got $merged")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // drive the same stream through the lane's exact aggregation shape:
    // one cohort, sketch side empty after the left join
    val mg = udaf(new graft.functions.HeavyHitters.MisraGriesAgg(3))
    val ev = Seq("a", "b", "c", "d").toDF("event_type")
      .withColumn("cohort", lit(0L)).coalesce(1)
    val flat = ev.groupBy("cohort").agg(mg(col("event_type")).as("hh"))
      .select(col("cohort"), explode(col("hh")).as(Seq("event_type", "est")))
    val exact = ev.groupBy("cohort", "event_type").agg(count(lit(1)).as("c"))
    val row = exact.join(flat, Seq("cohort", "event_type"), "left")
      .groupBy("cohort")
      .agg(sum(col("c")).as("n"), count(col("est")).as("ns"),
        expr("bool_and(est IS NULL OR est <= c)").as("under_ok"),
        max(col("c") - coalesce(col("est"), lit(0L))).as("md"))
      .head
    assert(row.getLong(1) == 4L && row.getLong(2) == 0L, "n=4, zero survivors")
    assert(row.getBoolean(3), "under_ok must be TRUE, not NULL")
    assert(row.getLong(4) <= 4L / 4, "every deficit within n/(k+1)=1")
  }

  test("dctHashBmp: exact luma doubling is hash-invariant (the contrast-robustness claim)") {
    // doubling every pixel EXACTLY doubles every DCT coefficient and
    // the median with it, so every sign-vs-median bit is unchanged —
    // the linear-map invariance aHash does not have in general
    def img(scale: Int) = Multimodal.encodeBmpXY(32, 32,
      (x, y) => ((x * 31 + y * 17 + (x * y) % 41) % 120 + 3) * scale)
    val h1 = Multimodal.dctHashBmp(img(1))
    val h2 = Multimodal.dctHashBmp(img(2))
    assert(h1 == h2, f"doubled-luma hash must be identical: $h1%x vs $h2%x")
    // and a genuinely different image must not collide
    val other = Multimodal.encodeBmpXY(32, 32, (x, y) => if ((x / 8 + y / 8) % 2 == 0) 220 else 35)
    assert(java.lang.Long.bitCount(h1 ^ Multimodal.dctHashBmp(other)) > 10)
  }

  test("DCT-hash fixture equivalence classes: variants cluster, classes separate") {
    val docs = Tables(spark, sf, "documents").select("doc_id")
    val imgs = Multimodal.withBmpContrastBinary(docs, "doc_id")
    val hashes = Multimodal.dctHash32Batch(
        Multimodal.resizeBmpBatch(imgs, "doc_id", 32, 32), "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val variantD = hashes.keys.filter(_ >= 50).map(id =>
      java.lang.Long.bitCount(hashes(id) ^ hashes(id % 50)))
    assert(variantD.nonEmpty && variantD.max <= 8,
      s"contrast-scaled one-block variants must stay near base, max=${variantD.max}")
    val nBases = math.min(50, hashes.size)
    val bases = (0L until nBases.toLong).flatMap(hashes.get)
    val cross = for (i <- bases.indices; j <- i + 1 until bases.length)
      yield java.lang.Long.bitCount(bases(i) ^ bases(j))
    assert(cross.min >= 10,
      s"distinct block-pattern classes must separate, min=${cross.min}")
  }

  test("lossy Misra-Gries lane: guarantees hold through real shuffles; heavy value survives skew") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the driver lane on real data: all guarantee booleans must be true
    val rows = graft.queries.CoreSql.qHeavyHittersLossy(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      (3 to 6).foreach(i => assert(r.getBoolean(i),
        s"guarantee column $i false for cohort ${r.get(0)}: $r"))
    }
    // non-vacuous heavy-survivor check: a 60%-frequency value across a
    // 16-way repartition (16 partial sketches merged in driver-undefined
    // order) must survive k=2 eviction — frequency > n/(k+1) guarantees it
    val skew = ((1 to 600).map(_ => "hot") ++ (1 to 200).map(i => s"w$i") ++
      (1 to 200).map(i => "x" + (i % 7))).toDF("v").repartition(16)
    val mg = udaf(new graft.functions.HeavyHitters.MisraGriesAgg(2))
    val sk = skew.agg(mg(col("v")).as("hh")).selectExpr("explode(hh)").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sk.contains("hot"), s"heavy value evicted: $sk")
    assert(sk("hot") <= 600 && 600L - sk("hot") <= 1000 / 3, s"bound violated: $sk")
    assert(sk.size <= 2)
  }

  test("flagContaminatedBloom ≡ flagContaminated (bloom prefilter never changes the answer)") {
    import spark.implicits._
    val bench = Seq((1L, "alpha beta gamma delta"), (2L, "one two three four five"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon"), // contains benchmark shingle
      (11L, "totally unrelated text with many words here"),
      (12L, "three four five and more"),       // contains benchmark shingle
      (13L, "short"),                          // sub-shingle
      (14L, "one two four five six"))          // no 3-shingle overlap
      .toDF("doc_id", "text")
    val a = graft.operators.TextAnalysis
      .flagContaminated(corpus, "doc_id", "text", bench)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    val b = graft.operators.TextAnalysis
      .flagContaminatedBloom(corpus, "doc_id", "text", bench)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getBoolean(1))).toSeq
    assert(a == b, s"bloom path diverged: $a vs $b")
    assert(a == Seq((10L, true), (11L, false), (12L, true), (13L, false), (14L, false)))
  }

  test("chunkManifest: exact chunk-count formula, boundaries, overlap hashes") {
    import spark.implicits._
    def words(n: Int): String = (1 to n).map(i => s"w$i").mkString(" ")
    // n=64 → 1 chunk; n=65 → 2; n=112 (=64+48) → 2; n=113 → 3; n=1 → 1
    val df = Seq((64L, words(64)), (65L, words(65)), (112L, words(112)),
      (113L, words(113)), (1L, words(1))).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.chunkManifest(df, "doc_id", "text")
      .collect().groupBy(_.getLong(0))
    assert(out(64L).length == 1 && out(65L).length == 2 &&
      out(112L).length == 2 && out(113L).length == 3 && out(1L).length == 1)
    // chunk 1 of n=65 starts at word 49 and carries the 17 remaining words
    val c65 = out(65L).sortBy(_.getAs[Long]("chunk_id")).last
    assert(c65.getAs[Long]("start_word") == 49L && c65.getAs[Long]("n_tokens") == 17L)
    // identical text → identical chunk hashes at every ordinal
    val twin = Seq((1L, words(113)), (2L, words(113))).toDF("doc_id", "text")
    val h = graft.operators.TextAnalysis.chunkManifest(twin, "doc_id", "text")
      .collect().groupBy(_.getLong(0))
      .map { case (k, v) => k -> v.sortBy(_.getAs[Long]("chunk_id"))
        .map(_.getAs[String]("chunk_hash")).toSeq }
    assert(h(1L) == h(2L) && h(1L).distinct.length == 3)
  }

  test("semanticDedup emits exactly one row per corpus vector") {
    val emb = Tables(spark, sf, "embeddings")
    val cents = Similarity.exactIvfCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 2, hexBound = Similarity.ivfHexBound(emb.count()))
    val out = Similarity.semanticDedup(emb, "vec_id", "embedding", cents, 0.35)
    assert(out.count() == emb.count())
    assert(out.select("vec_id").distinct().count() == emb.count())
  }

  test("packSequences manifest is invariant to input partitioning and order") {
    // the determinism claim the scaladoc makes: for a FIXED shards, the
    // shard key and in-shard order are data-derived, so how the input
    // arrives (partition count, row order) cannot move a manifest row
    import org.apache.spark.sql.functions.{col, desc}
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    val base = TextAnalysis.packSequences(docs, "doc_id", "text", seqLen = 512, shards = 16)
    val shuffled = TextAnalysis.packSequences(
      docs.repartition(7, col("text")).sortWithinPartitions(desc("doc_id")),
      "doc_id", "text", seqLen = 512, shards = 16)
    assert(base.exceptAll(shuffled).isEmpty && shuffled.exceptAll(base).isEmpty,
      "packSequences output moved under a different input partitioning")
  }

  test("pqEncode codes match a driver-side argmin over the same codebooks") {
    import org.apache.spark.sql.functions.col
    val emb = Tables(spark, sf, "embeddings")
    val books = Similarity.pqTrainExact(emb, "vec_id", "embedding",
      m = 8, k = 16, dims = 64, iters = 2, hexBound = Similarity.ivfHexBound(emb.count()))
    val got = Similarity.pqEncode(emb, "vec_id", "embedding", books)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (0 until 8).map(j => r.getAs[Long](s"code_$j"))).toMap
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    vecs.foreach { case (id, v) =>
      val want = (0 until 8).map { j =>
        val vq = v.slice(j * 8, (j + 1) * 8).map(x => math.floor(x * 1e6).toLong).toArray
        books(j).zipWithIndex.map { case (cq, i) =>
          (vq.zip(cq).map { case (a, b) => val t = a - b; t * t }.sum, i.toLong)
        }.min._2
      }
      assert(got(id) == want, s"pq code mismatch for vec $id")
    }
  }

  test("pqAnn recall vs exact quantized-L2 top-k (ADC is lossy but usable)") {
    import org.apache.spark.sql.functions.col
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val books = Similarity.pqTrainExact(emb, "vec_id", "embedding",
      m = 8, k = 16, dims = 64, iters = 2, hexBound = Similarity.ivfHexBound(emb.count()))
    val approx = Similarity.pqAnn(emb, queries, "vec_id", "embedding", books,
        topk = 10, rerank = 100)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact L2 truth on the same integer grid, driver-side (corpus is tiny at sf0.001)
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).map(x => math.floor(x * 1e6).toLong).toArray).toMap
    val truth = (0L until 10L).flatMap { qid =>
      val qv = vecs(qid)
      vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (v.zip(qv).map { case (a, b) => val t = a - b; t * t }.sum, id) }
        .sortBy(identity).take(10).map(p => (qid, p._2))
    }.toSet
    val recall = (truth & approx).size.toDouble / truth.size
    info(s"PQ ADC recall@10: $recall")
    assert(recall > 0.5, s"PQ ADC + rerank should recover most L2 neighbors, got $recall")
  }

  test("ivfadcAnn recall vs exact quantized-L2 (probing + ADC compose losses)") {
    import org.apache.spark.sql.functions.col
    val emb = Tables(spark, sf, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val hex = Similarity.ivfHexBound(emb.count())
    val cents = Similarity.exactIvfCentroids(emb, "vec_id", "embedding",
      k = 8, iters = 2, hexBound = hex)
    val books = Similarity.pqTrainExact(emb, "vec_id", "embedding",
      m = 8, k = 16, dims = 64, iters = 2, hexBound = hex)
    val approx = Similarity.ivfadcAnn(emb, queries, "vec_id", "embedding",
        cents, books, topk = 10, nprobe = 3, rerank = 100)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).map(x => math.floor(x * 1e6).toLong).toArray).toMap
    val truth = (0L until 10L).flatMap { qid =>
      val qv = vecs(qid)
      vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (v.zip(qv).map { case (a, b) => val t = a - b; t * t }.sum, id) }
        .sortBy(identity).take(10).map(p => (qid, p._2))
    }.toSet
    val recall = (truth & approx).size.toDouble / truth.size
    info(s"IVFADC recall@10: $recall")
    assert(recall > 0.4, s"IVFADC should recover a usable fraction, got $recall")
  }

  test("pqAnn plan construction launches no Spark jobs (codebooks are literals)") {
    import org.apache.spark.sql.functions.col
    val emb = Tables(spark, sf, "embeddings")
    val books = Similarity.pqTrainExact(emb, "vec_id", "embedding",
      m = 8, k = 16, dims = 64, iters = 2, hexBound = "g")
    val tracker = spark.sparkContext.statusTracker
    val before = tracker.getJobIdsForGroup(null).length
    val plan = Similarity.pqAnn(emb, emb.filter(col("vec_id") < 10),
      "vec_id", "embedding", books, topk = 10)
    val mid = tracker.getJobIdsForGroup(null).length
    assert(mid == before, "building the pqAnn plan must not run any job")
    assert(plan.columns.contains("adist"))
  }

  test("incrementalNearDupFlags: exact copy flags with jaccard 1, novel doc does not") {
    import spark.implicits._
    val existing = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"), // exact copy of 1
      (11L, "completely different words about nothing shared here at all"))
      .toDF("doc_id", "text")
    val out = operators.Dedup.incrementalNearDupFlags(existing, incoming, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Boolean]("is_dup"), Option(r.getAs[java.lang.Long]("match_id")))).toMap
    assert(out(10L) == (true, Some(1L)))
    assert(out(11L) == (false, None))
  }

  test("dsirWeights: docs sharing target vocabulary score higher") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma alpha beta"),
      (2L, "zulu yankee xray whiskey victor")).toDF("doc_id", "text")
    val target = Seq((9L, "alpha beta alpha beta gamma gamma")).toDF("doc_id", "text")
    val out = TextAnalysis.dsirWeights(corpus, "doc_id", "text", target)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("dsir_score")).toMap
    assert(out(1L) > out(2L),
      s"target-vocab doc must outscore disjoint-vocab doc, got $out")
  }

  test("gopherFilter: each rule fails on its designed fixture and keep ANDs them") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val good = ("the quick brown fox and the lazy dog of it jumps over " * 3).trim
    val docs = Seq(
      1L -> good,                                  // all rules pass
      2L -> "one two three",                       // word count
      3L -> ("a " * 40).trim,                      // mean word len < 3
      4L -> (good + " " + ("#### " * 20).trim),    // symbol ratio
      5L -> (good + "\nline one...\nline two..."), // ellipsis lines > 30%
      6L -> (good + "\n- b1\n- b2\n- b3\n- b4"),   // bullet lines > 50%
      7L -> (("42 " * 40).trim + " the the"),      // alpha words < 80%
      8L -> ("quick brown fox jumps over lazy dog " * 4).trim // no stopwords
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherFilter(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    assert(!out(2L).getAs[Boolean]("r_word_count") && !out(2L).getAs[Boolean]("keep"))
    assert(!out(3L).getAs[Boolean]("r_mean_word_len"))
    assert(!out(4L).getAs[Boolean]("r_symbol"))
    assert(!out(5L).getAs[Boolean]("r_ellipsis"))
    assert(!out(6L).getAs[Boolean]("r_bullet"))
    assert(!out(7L).getAs[Boolean]("r_alpha"))
    assert(!out(8L).getAs[Boolean]("r_stopword"))
  }

  test("winnow_set kernel matches the plain-Scala winnowing reference on ASCII text") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{call_function, col}
    graft.functions.TextExpressions.register(spark)
    val texts = Seq("the quick brown fox jumps over the lazy dog",
      "short", "exactly8", "abcdefghi",
      ("lorem ipsum dolor sit amet " * 10).trim)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val got = df.select(col("id"), call_function("winnow_set", col("text")).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val want = TextAnalysis.winnow(t).distinct.sorted
      assert(got(i.toLong) == want, s"winnow_set mismatch on '$t'")
    }
  }

  test("bpeLearn: hand-computed merges incl. the run case and frequency weighting") {
    import spark.implicits._
    // vocab: aaab ×2, ab ×1
    val docs = Seq((1L, "aaab aaab"), (2L, "ab")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeLearn(docs, "text", 3)
      .orderBy("round").collect()
      .map(r => (r.getAs[String]("pair"), r.getAs[Long]("cnt"),
        r.getAs[Long]("vocab_tokens_after")))
    // r1: 'a a' ×4 (run a,a,a merges greedily left-to-right → aa,a);
    // r2: 'a b' ×3; r3: 'aa ab' ×2 → vocab fully merged
    assert(out(0) == (("a a", 4L, 8L)), s"r1 ${out(0)}")
    assert(out(1) == (("a b", 3L, 5L)), s"r2 ${out(1)}")
    assert(out(2) == (("aa ab", 2L, 3L)), s"r3 ${out(2)}")
    // a further round has no pairs left → loud failure, not a silent row
    val ex = intercept[Exception] {
      TextAnalysis.bpeLearn(docs, "text", 4).collect()
    }
    assert(ex.getMessage.contains("vocabulary exhausted"))
  }

  test("bpeLearn leaves no persisted RDD behind, also when a round fails") {
    import spark.implicits._
    val docs = Seq((1L, "aaab aaab"), (2L, "ab")).toDF("doc_id", "text")
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    TextAnalysis.bpeLearn(docs, "text", 3).collect()
    intercept[Exception](TextAnalysis.bpeLearn(docs, "text", 4))
    assert((persisted -- before).isEmpty, s"left persisted: ${persisted -- before}")
  }

  test("bpe_seg_count kernel ≡ the composed transform/replace chain") {
    import spark.implicits._
    // doc 4 pins the run>=5 self-pair + cascading-merge case: "bbbbb"
    // under double-pass replace of 'b b' is [bb,b,bb] (NOT greedy's
    // [bb,bb,b]), and the later 'b bb' merge then collapses it to
    // [bb,bbb] — a plain greedy kernel diverges here (3 vs 2 tokens).
    val docs = Seq((1L, "aaab ab aa a"), (2L, "xyz"), (3L, "queue bb bbb bbbb"),
        (4L, "bbbbb bbbbbbb bbbbbb"))
      .toDF("doc_id", "text")
    val merges = Seq("a a", "a b", "aa ab", "b b", "b bb")
    val k = TextAnalysis.bpeApply(docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val c = TextAnalysis.bpeApplyComposed(docs, "doc_id", "text", merges)
      .orderBy("doc_id").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(k == c, s"kernel $k vs composed $c")
    // real corpus sample too
    val real = Tables(spark, sf, "documents").limit(50)
    val rk = TextAnalysis.bpeApply(real, "doc_id", "text", merges)
      .orderBy("doc_id").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val rc = TextAnalysis.bpeApplyComposed(real, "doc_id", "text", merges)
      .orderBy("doc_id").collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(rk == rc)
  }

  test("bpeApply: segmentation counts follow the merge list order") {
    import spark.implicits._
    val docs = Seq((1L, "aaab ab"), (2L, "xyz")).toDF("doc_id", "text")
    // merges learned on the bpeLearn fixture: 'a a' → 'a b' → 'aa ab'
    val out = TextAnalysis.bpeApply(docs, "doc_id", "text",
        Seq("a a", "a b", "aa ab"))
      .orderBy("doc_id").collect()
    // aaab → aa,a,b → aa,ab → aaab (1 token); ab → ab (1 token)
    assert(out(0).getAs[Long]("n_tokens_bpe") == 2 && out(0).getAs[Long]("n_words") == 2)
    // xyz: no merges apply → 3 char tokens
    assert(out(1).getAs[Long]("n_tokens_bpe") == 3 && out(1).getAs[Long]("n_words") == 1)
  }

  test("mmrSelect: diversity penalty breaks up a near-duplicate cluster") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def vec(a: Double, b: Double): Array[Double] =
      Array(a, b) ++ Array.fill(62)(0.0)
    // query at (1,0); cluster A = two near-copies close to the query;
    // B = slightly less relevant but orthogonal-ish direction
    val rows = Seq(
      (0L, vec(1.0, 0.0)),       // query
      (1L, vec(1.0, 0.05)),      // A1 (most relevant)
      (2L, vec(1.0, 0.06)),      // A2 (near-copy of A1)
      (3L, vec(0.7, 0.7))).toDF("vec_id", "embedding") // B
    val picks = Similarity.mmrSelect(rows, rows.filter(col("vec_id") === 0),
        "vec_id", "embedding", poolSize = 3, k = 2, lam10 = 3)
      .orderBy("rank").collect().map(_.getAs[Long]("vec_id")).toSeq
    // rank 1 = A1 by relevance; at λ=0.3 the sim(A2,A1)≈0.9999 penalty
    // must skip the near-copy A2 and take B — pure top-k returns (1, 2)
    assert(picks == Seq(1L, 3L), s"got $picks")
    // with diversity off (λ=1.0) the near-copy wins again
    val rel = Similarity.mmrSelect(rows, rows.filter(col("vec_id") === 0),
        "vec_id", "embedding", poolSize = 3, k = 2, lam10 = 10)
      .orderBy("rank").collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(rel == Seq(1L, 2L), s"got $rel")
  }

  test("ngramNovelty: copies score 0, originals full, tail-extensions only the new grams") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),          // 3 distinct 3-grams, all novel
      (2L, "alpha beta gamma delta epsilon"),          // exact copy → 0 novel
      (3L, "alpha beta gamma delta epsilon zeta eta"), // extension → 2 new grams of 5
      (4L, "one two")).toDF("doc_id", "text")          // too short → 0 grams, NULL score
    val out = TextAnalysis.ngramNovelty(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Long]("n_grams") == 3 && out(0).getAs[Long]("n_novel") == 3)
    assert(out(0).getAs[Long]("novelty_q") == 1000000L)
    assert(out(1).getAs[Long]("n_novel") == 0 && out(1).getAs[Long]("novelty_q") == 0L)
    assert(out(2).getAs[Long]("n_grams") == 5 && out(2).getAs[Long]("n_novel") == 2)
    assert(out(3).getAs[Long]("n_grams") == 0 && out(3).isNullAt(out(3).fieldIndex("novelty_q")))
  }

  test("c4Filter: per-rule fixtures (line punct/length, sentence count, lorem, brace)") {
    import spark.implicits._
    val docs = Seq(
      // 3 good sentences on 2 kept lines + one dropped (no punct) + one dropped (short)
      (1L, "A first good sentence right here. And then a second one follows.\n" +
        "this line has no terminal punctuation\nTiny.\n" +
        "Finally a third full sentence arrives here!"),
      (2L, "Only two sentences live here today. The second one is this.\n"),
      (3L, "Three fine sentences fill this page. Here is the second sentence. " +
        "And here is the third. lorem IPSUM hides within."),
      (4L, "Three fine sentences fill this page. Here is the second sentence. " +
        "And a code brace { lurks } here.")).toDF("doc_id", "text")
    val out = TextAnalysis.c4Filter(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    val d1 = out(0)
    assert(d1.getAs[Long]("n_lines") == 4 && d1.getAs[Long]("n_kept") == 2)
    assert(d1.getAs[Long]("n_sentences") == 3 && d1.getAs[Boolean]("keep"))
    assert(d1.getAs[String]("cleaned") ==
      "A first good sentence right here. And then a second one follows.\n" +
        "Finally a third full sentence arrives here!")
    assert(!out(1).getAs[Boolean]("keep")) // < 3 sentences
    val d3 = out(2)
    assert(d3.getAs[Boolean]("has_lorem") && !d3.getAs[Boolean]("keep"))
    val d4 = out(3)
    assert(d4.getAs[Boolean]("has_brace") && !d4.getAs[Boolean]("keep"))
  }

  test("hammingAnn: sign-bit distances on a fixture incl. the top (63rd) bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def v(signs: Int*): Array[Double] = {
      val base = Array.fill(64)(-1.0)
      signs.foreach(i => base(i) = 1.0)
      base
    }
    // 0: bits {0,1}; 1: bits {0}; 2: bits {0,1,63}; 3: bits {}
    val df = Seq((0L, v(0, 1)), (1L, v(0)), (2L, v(0, 1, 63)), (3L, v()))
      .toDF("vec_id", "embedding")
    val out = Similarity.hammingAnn(df, df.filter(col("vec_id") === 0), "vec_id",
        "embedding", dims = 64, k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("hamming")))
    // d(0,1)=1, d(0,2)=1 (bit 63 only), d(0,3)=2; tie (1 vs 2) → smaller id
    assert(out.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 2L)))

    // binarySig honors dims on the NATIVE path too: packing only the
    // first 32 bits makes vec 2's bit 63 invisible, so its distance to
    // query 0 drops to 0 and it outranks vec 1 on the id tie-break.
    val out32 = Similarity.hammingAnn(df, df.filter(col("vec_id") === 0), "vec_id",
        "embedding", dims = 32, k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("hamming")))
    assert(out32.toSeq == Seq((2L, 0L), (1L, 1L), (3L, 2L)))
  }

  test("ewma: exact renormalized weights at the series head") {
    import spark.implicits._
    val df = Seq(("a", 1L, 1.0), ("a", 2L, 2.0), ("a", 3L, 3.0))
      .toDF("series", "t", "value")
    val out = graft.functions.TimeSeries.ewma(df, Seq("series"), Seq("t"), "value")
      .orderBy("t").select("ewma").collect().map(_.getDouble(0))
    // cents: 100,200,300; weights 64,48,36,27 renormalized over lags present
    assert(out(0) == 1.0)
    assert(out(1) == math.floor((64.0 * 200 + 48 * 100) / 112.0 / 100.0 * 1e6) / 1e6)
    assert(out(2) == math.floor((64.0 * 300 + 48 * 200 + 36 * 100) / 148.0 / 100.0 * 1e6) / 1e6)
  }

  test("temperatureSample: sqrt allocation, clamp-at-1 keeps small strata whole") {
    import spark.implicits._
    // "web": 400 docs, "rare": 50 docs; budget 250 → sqrt weights give
    // rare a rate > 1 (clamped: ALL 50 kept — among 50 random md5
    // prefixes some start ≥ 'a', so this also pins the zero-padded hex
    // comparison that a naive 8-vs-9-char compare would break) while
    // web downsamples to ≈ 46% of its docs.
    val docs = ((1000 until 1400).map(i => (i.toLong, "web")) ++
      (1 to 50).map(i => (i.toLong, "rare"))).toDF("doc_id", "source")
    val kept = Sampling.temperatureSample(docs, "doc_id", "source", 250L)
      .select("doc_id", "source").collect()
    val byStr = kept.groupBy(_.getString(1)).map { case (k, v) => k -> v.length }
    assert(byStr("rare") == 50) // rate clamps at 1: nothing dropped
    assert(byStr("web") > 0 && byStr("web") < 400) // genuinely downsampled
    // deterministic: a second run selects the identical set
    val again = Sampling.temperatureSample(docs, "doc_id", "source", 250L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == kept.map(_.getLong(0)).toSet)
    // the selection matches the spec'd threshold arithmetic exactly
    val sW = math.floor(math.sqrt(400.0) * 1e6).toLong
    val sR = math.floor(math.sqrt(50.0) * 1e6).toLong
    val w = (sW + sR).toDouble
    val thrWeb = math.floor(250.0 * sW / (w * 400.0) * 4294967296.0).toLong
    val md = java.security.MessageDigest.getInstance("MD5")
    val expectWeb = (1000 until 1400).filter { i =>
      val hex = md.digest(i.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      ("0" + hex) < f"$thrWeb%09x"
    }.map(_.toLong).toSet
    assert(kept.filter(_.getString(1) == "web").map(_.getLong(0)).toSet == expectWeb)
  }

  test("doc_e2e_pipeline: every stage only removes docs, and the gates really fire") {
    import org.apache.spark.sql.functions._
    val dir = sf
    val out = graft.queries.PipelineQueries.queries("doc_e2e_pipeline")(spark, dir)
      .collect()
    assert(out.nonEmpty)
    val sampleIds = out.map(_.getLong(0)).toSet
    // rebuild the chain's intermediate counts with the public operators
    val docs = Tables(spark, dir, "documents")
    val raw = docs.select("doc_id", "text")
      .union(docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text")))
      .union(docs.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + 2000000).as("doc_id"),
          concat(col("text"), lit(" extra trailing words appended")).as("text")))
    val nRaw = raw.count()
    val quality = raw.filter(size(split(col("text"), " ")) >= 30)
    val nQuality = quality.count()
    assert(nQuality < nRaw) // the length gate fires on this corpus
    // decontamination drops the benchmark docs themselves at minimum
    graft.functions.TextExpressions.register(spark)
    val bench = docs.filter(col("doc_id") < 50)
    val bsh = broadcast(bench.select(
      explode(call_function("word_shingle_set", col("text"))).as("sh")).distinct())
    val clean = quality.join(
      quality.select(col("doc_id"),
          call_function("word_shingle_set", col("text")).as("__shs"))
        .select(col("doc_id"), size(col("__shs")).as("nsh"),
          explode(col("__shs")).as("sh"))
        .join(bsh, Seq("sh"), "left_semi")
        .groupBy("doc_id", "nsh").agg(count(lit(1)).as("hit"))
        .filter(col("hit") * 2 >= col("nsh"))
        .select("doc_id"),
      Seq("doc_id"), "left_anti")
    val nClean = clean.count()
    assert(nClean < nQuality)
    val near = graft.operators.Dedup.nearDedupKeep(
      graft.operators.Dedup.dedupedCorpus(clean, "doc_id", "text"), "doc_id", "text")
    val survivorIds = near.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivorIds.size.toLong < nClean) // dedup stages fire (injected dups)
    // the sample is a strict, non-empty subset of the survivors
    assert(sampleIds.subsetOf(survivorIds) && sampleIds.size < survivorIds.size)
    // no benchmark doc (nor any injected copy of one) survives into the
    // training sample — copies map back via doc_id % 1000000
    assert(sampleIds.forall(_ % 1000000 >= 50))
  }

  test("doc_ccnet_bucket: score-ordered buckets, each ~1/3 of token mass") {
    val out = graft.queries.PipelineQueries.queries("doc_ccnet_bucket")(spark, sf)
      .collect()
    val docs = Tables(spark, sf, "documents").count()
    assert(out.length == docs) // every doc bucketed exactly once
    val byBucket = out.groupBy(_.getString(3))
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    // monotone: every head score >= every middle score >= every tail score
    def scores(b: String) = byBucket(b).map(_.getLong(1))
    assert(scores("head").min >= scores("middle").max)
    assert(scores("middle").min >= scores("tail").max)
    // token-mass thirds by group-start rule: a bucket may overshoot by at
    // most one score-group, so its START must lie inside its third
    val tot = out.map(_.getLong(2)).sum
    val headMass = byBucket("head").map(_.getLong(2)).sum
    val midMass = byBucket("middle").map(_.getLong(2)).sum
    assert(headMass * 3 >= tot) // head reaches its third (boundary group included)
    assert((headMass + midMass) * 3 >= tot * 2)
    // and each of head/middle started strictly inside its own third:
    // the mass BEFORE head is 0 < tot/3; before tail is >= 2/3 by rule
    val tailMass = byBucket("tail").map(_.getLong(2)).sum
    assert((tot - tailMass) * 3 >= tot * 2 || tailMass * 3 <= tot)
    // docs with < 2 words land in tail with sentinel score -1
    out.filter(_.getLong(1) == -1L).foreach(r => assert(r.getString(3) == "tail"))
  }
}
