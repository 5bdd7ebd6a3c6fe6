package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize
import graft.functions.Native

/** Deduplication operators for LLM training-data pipelines (SURVEY.md
  * §2.4): exact (hash), MinHash+LSH banding, SimHash, char-n-gram
  * Jaccard.
  *
  * All hashing is md5-based so results are deterministic across engines
  * and runs — at 100 TB a re-run must bucket identically. Every stage is
  * relational (explode → partial agg), so dedup scales as: mapper-only
  * signature computation, one shuffle per agg on (doc, seed/band) keys,
  * and an LSH candidate join whose size is bands × bucket-collisions,
  * never n².
  */
object Dedup {

  /** Exact duplicate groups by content hash. */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep_id"), max(col(idCol)).as("dup_id"))
      .filter(col("n") > 1)

  /** Word 3-gram shingles, distinct per doc, from a pre-split token
    * array (codegen CSE keeps the split single-evaluation). Values match
    * the DuckDB oracles' 1-based construction of the same strings.
    */
  def shingles(textCol: Column): Column = shinglesOf(split(textCol, " "))

  private def shinglesOf(toks: Column): Column =
    array_distinct(when(size(toks) >= 3,
      transform(sequence(lit(0), size(toks) - 3),
        j => concat_ws(" ", element_at(toks, j + 1), element_at(toks, j + 2),
          element_at(toks, j + 3))))
      .otherwise(array().cast("array<string>")))

  /** (id, shingle) DISTINCT rows, built without lambda-based HOFs: the
    * token array is exploded by position and each shingle assembled with
    * codegen'd element_at/concat_ws, then deduped by a hash aggregate.
    * Same strings as `shingles`, but the whole pass stays inside
    * whole-stage codegen (interpreted transform dominates otherwise).
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    shingleRowsRaw(df, idCol, textCol).distinct()

  /** Same rows WITHOUT the distinct — one fewer shuffle for consumers
    * whose aggregate is duplicate-insensitive (min/max).
    */
  def shingleRowsRaw(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), split(col(textCol), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col(idCol), col("toks"),
        explode(sequence(lit(0), size(col("toks")) - 3)).as("j"))
      .select(col(idCol), concat_ws(" ", element_at(col("toks"), col("j") + 1),
        element_at(col("toks"), col("j") + 2), element_at(col("toks"), col("j") + 3)).as("sh"))

  /** doc → one wide row of `numHashes` minhashes (mh0..mhN), via the
    * native `minhash_sig` kernel (TextExpressions.scala): the whole
    * signature is computed inside one codegen'd projection — a pure
    * MAPPER, no shingle explode and NO shuffle at all (r1 aggregated
    * the raw shingle stream, which was already one exchange of a wide
    * row per doc; this removes even that). Values are byte-identical
    * to the row-per-seed formulation the oracle SQL uses.
    */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       numHashes: Int): DataFrame = {
    // Pre-filter on the kernel's EXACT null condition (< 3 space-split
    // tokens → no shingles) instead of filtering the kernel output for
    // null: Catalyst pushes an output-null filter below the projection
    // by substituting the expression, so every row paid the full
    // MD5-per-shingle kernel TWICE — once in the pushed Filter, once in
    // the Project (the guide §4.4 duplicate-evaluation shape, JVM
    // edition; visible as `Filter isnotnull(minhash_sig(text))` in the
    // r14 plan files). The token-count predicate costs one split.
    df.filter(col(textCol).isNotNull &&
        size(split(col(textCol), " ", -1)) >= 3)
      .select(col(idCol),
        Native.call("minhash_sig", col(textCol), lit(numHashes)).as("__sig"))
      .select(col(idCol) +:
        (0 until numHashes).map(i => element_at(col("__sig"), i + 1).as(s"mh$i")): _*)
  }

  /** LSH band hashes from the wide signature: hash each band's
    * (seed-ordered) minhashes — a pure mapper, no second aggregation.
    */
  def lshBandHashes(sig: DataFrame, idCol: String, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|", (0 until rows).map(i => col(s"mh${b * rows + i}")): _*))
          .as("band_hash"))
    }
    sig.select(col(idCol), explode(array(bandCols: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
  }

  /** Candidate pairs: ids sharing any LSH band bucket. One aggregation
    * on (band, band_hash) collects each bucket's id list and expands
    * in-bucket pairs — work stays proportional to real collisions, and
    * unlike a self-join the signature subtree is scanned ONCE (the
    * self-join's two branches each recomputed the full signature pass).
    * The pair-expansion lambda runs interpreted, but only over the
    * colliding buckets, whose size LSH keeps small by construction.
    *
    * `maxBucketSize` is the adversarial-input guard (same pattern as
    * gapfill / rangeJoinBinned): a mass-duplicated corpus — exactly
    * what dedup pipelines meet — collapses the dup class into ONE
    * bucket, whose all-pairs expansion is O(n²) rows inside a single
    * task. Past the cap the query fails fast naming the bucket size
    * and pointing at `exactDupGroups` as the pre-pass that removes
    * exact copies (after which surviving buckets are genuinely-near
    * neighbors and small). The guard is fused into the expansion's
    * slice bound so column pruning can never drop it.
    */
  def lshCandidates(bandHashes: DataFrame, idCol: String,
                    maxBucketSize: Int = 1000): DataFrame =
    bandHashes.groupBy("band", "band_hash")
      .agg(sort_array(collect_set(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(expr(
        "flatten(transform(ids, (x, i) -> " +
          s"transform(slice(ids, i + 2, CASE WHEN size(ids) > $maxBucketSize THEN " +
          "CAST(raise_error(concat('lshCandidates: an LSH bucket holds ', " +
          "CAST(size(ids) AS STRING), " +
          s"' ids (> maxBucketSize=$maxBucketSize); the corpus is mass-duplicated — " +
          "run exactDupGroups as a pre-pass or raise the cap')) AS INT) " +
          "ELSE size(ids) END), y -> struct(x AS id_a, y AS id_b))))"))
        .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
      .distinct()

  /** MinHash-LSH near-dup pairs with true-Jaccard confirmation on the
    * candidates only.
    *
    * 100 TB shape: the signature is a mapper (minhash_sig kernel), the
    * candidate set is a (band, band_hash) agg bounded by real
    * collisions (and by `maxBucketSize`), and the confirm stage
    * broadcasts ONLY the small id-pair list — never rows carrying
    * shingle arrays — into each corpus-side semi-join, so the corpus
    * scans stay mapper-only. The two array-carrying sides then meet in
    * a pair-keyed equijoin over |candidates| rows only (r2 broadcast
    * the A-side WITH its full shingle set per pair, which a dup-heavy
    * corpus could push past the broadcast cap / driver memory).
    */
  def minHashNearDups(df: DataFrame, idCol: String, textCol: String,
                      numHashes: Int = 8, bands: Int = 2,
                      threshold: Double = 0.5,
                      maxBucketSize: Int = 1000): DataFrame = {
    // Exact-collapse first (same argument as [[nearDedupKeep]]): the
    // minhash/LSH/confirm pipeline runs once per DISTINCT text, and the
    // raw pair list is reconstructed exactly as
    //   expand(rep pairs) ∪ within-class pairs:
    // a raw pair (X, Y) across classes is confirmed iff its reps are
    // (identical texts → identical signatures → identical buckets and
    // jaccard), and a within-class pair is always a jaccard-1 confirmed
    // candidate — iff the text has ≥ 3 tokens (else no signature, no
    // pair), mirrored in the `__sig3` flag. The expansions are
    // output-proportional; the md5/signature work drops by the corpus
    // dup factor (the dominant term on real web corpora).
    val withH = df.withColumn("__h", md5(col(textCol)))
    // materialized: the hash→rep manifest and member map feed four
    // downstream branches each, the rep rows the signature and shingle
    // passes
    val repTbl = withH.select(col("__h"), col(idCol))
      .groupBy("__h").agg(min(col(idCol)).as("__rep"))
      .transform(Materialize)
    val members = withH.select(col("__h"), col(idCol)).join(repTbl, "__h")
      .transform(Materialize)
    val repRows = withH.join(repTbl, "__h")
      .filter(col(idCol) === col("__rep"))
      .select(col(idCol), col(textCol))
      .transform(Materialize)
    val repPairs = minHashNearDupsRaw(repRows, idCol, textCol, numHashes,
      bands, threshold, maxBucketSize)
    val m = members.select(col("__rep"), col(idCol).as("__mid"))
    val cross = repPairs
      .join(m.withColumnRenamed("__mid", "__xa"), col("__rep") === col("id_a"))
      .drop("__rep")
      .join(m.withColumnRenamed("__mid", "__xb"), col("__rep") === col("id_b"))
      .select(least(col("__xa"), col("__xb")).as("id_a"),
        greatest(col("__xa"), col("__xb")).as("id_b"), col("jaccard"))
    val within = members
      .join(withH.select(col("__h"),
        (size(split(col(textCol), " ")) >= 3).as("__sig3")).distinct(), "__h")
      .filter(col("__sig3") && lit(1.0) >= threshold)
      .select(col("__h"), col(idCol).as("__wa"))
    val withinPairs = within.join(
        within.select(col("__h"), col("__wa").as("__wb")), "__h")
      .filter(col("__wa") < col("__wb"))
      .select(col("__wa").as("id_a"), col("__wb").as("id_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(withinPairs)
  }

  /** INCREMENTAL near-dedup — the production ingest shape: flag each
    * INCOMING doc whose LSH band bucket collides with an
    * EXISTING-corpus doc and whose confirmed shingle jaccard clears
    * `threshold`. At 100 TB the existing side's (band, band_hash)
    * index and shingle sets are the precomputed artifact (built once
    * per corpus snapshot, reused across every incoming batch); the
    * incoming batch — orders smaller than the corpus — maps to
    * signatures, equijoins the bucket index, and confirms against ONLY
    * the collided existing docs (candidate pairs broadcast into the
    * two id-keyed set lookups, so neither corpus rescans). Returns one
    * row per incoming doc: (idCol, is_dup, match_id, jaccard) with the
    * best match = highest raw jaccard, ties to the lowest existing id;
    * rounding happens after selection so the tie-break is exact.
    * Incoming docs with no 3-token shingle (no signature) flag false —
    * same contract as [[minHashNearDups]]'s `__sig3` rule.
    */
  def incrementalNearDupFlags(existing: DataFrame, incoming: DataFrame,
                              idCol: String, textCol: String,
                              numHashes: Int = 8, bands: Int = 2,
                              threshold: Double = 0.5): DataFrame = {
    val bhE = lshBandHashes(minhashSignature(existing, idCol, textCol, numHashes),
      idCol, numHashes, bands).withColumnRenamed(idCol, "__eid")
    val bhI = lshBandHashes(minhashSignature(incoming, idCol, textCol, numHashes),
      idCol, numHashes, bands).withColumnRenamed(idCol, "__iid")
    val cand = bhI.join(bhE, Seq("band", "band_hash"))
      .select(col("__iid"), col("__eid")).distinct()
    val shE = existing.select(col(idCol).as("__eid"),
      Native.call("word_shingle_set", col(textCol)).as("__she"))
    val shI = incoming.select(col(idCol).as("__iid"),
      Native.call("word_shingle_set", col(textCol)).as("__shi"))
    val conf = shI.join(broadcast(cand), Seq("__iid"))
      .join(shE.join(broadcast(cand.select("__eid").distinct()), Seq("__eid")), Seq("__eid"))
      .withColumn("__inter",
        Native.call("array_overlap_count", col("__shi"), col("__she")))
      .withColumn("__j",
        col("__inter") / (size(col("__shi")) + size(col("__she")) - col("__inter")))
      .filter(col("__j") >= threshold)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__iid").orderBy(col("__j").desc, col("__eid"))
    val best = conf.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("__iid"), col("__eid").as("match_id"),
        round(col("__j"), 6).as("jaccard"))
    incoming.select(col(idCol))
      .join(best, col(idCol) === col("__iid"), "left")
      .select(col(idCol), col("match_id").isNotNull.as("is_dup"),
        col("match_id"), col("jaccard"))
  }

  /** The direct (no exact-collapse) pipeline — runs once per input row;
    * [[minHashNearDups]] wraps it in representative space.
    */
  private def minHashNearDupsRaw(df: DataFrame, idCol: String, textCol: String,
                                 numHashes: Int, bands: Int,
                                 threshold: Double,
                                 maxBucketSize: Int): DataFrame = {
    val sig = minhashSignature(df, idCol, textCol, numHashes)
    val cands =
      lshCandidates(lshBandHashes(sig, idCol, numHashes, bands), idCol, maxBucketSize)
    // corpus ⋉ broadcast(id pairs), shingle kernel ABOVE the join: the
    // r14 plan files showed the `word_shingle_set` projection sitting
    // below the broadcast join (Catalyst never lifts a Project above a
    // join), so the kernel ran over EVERY corpus row on BOTH sides —
    // 2·|corpus| evaluations to confirm |candidates| pairs. Projecting
    // after the join evaluates it per CANDIDATE row only (a doc in k
    // pairs pays k times, still ≤ 2·|pairs| total — candidates are
    // bucket-bounded and orders smaller than the corpus at scale).
    // Project to (id, text) BEFORE the join (ADVICE r14): a caller
    // frame carrying its own id_a/id_b column would make col("id_a")
    // ambiguous post-join, and df's other columns would otherwise flow
    // through the probe side of both joins.
    val slim = df.select(col(idCol), col(textCol))
    val withA = slim.join(broadcast(cands), col(idCol) === col("id_a"))
      .select(col("id_a"), col("id_b"),
        Native.call("word_shingle_set", col(textCol)).as("__sh_a"))
    val withB = slim.join(broadcast(cands), col(idCol) === col("id_b"))
      .select(col("id_a").as("__ja"), col("id_b").as("__jb"),
        Native.call("word_shingle_set", col(textCol)).as("__sh_b"))
    val pairs = withA.join(withB,
        col("id_a") === col("__ja") && col("id_b") === col("__jb"))
      .withColumn("__inter",
        Native.call("array_overlap_count", col("__sh_a"), col("__sh_b")))
      .withColumn("jaccard",
        col("__inter") / (size(col("__sh_a")) + size(col("__sh_b")) - col("__inter")))
    pairs
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Duplicate-GROUP resolution: connected components over a near-dup
    * pair list, so every doc in a dup cluster maps to one canonical
    * (minimum) id — what a real dedup pipeline keeps. Iterative
    * min-label propagation: each round joins the current labels across
    * the edge list and keeps the per-vertex minimum; rounds needed =
    * component diameter (dup clusters are near-cliques from LSH, so
    * 2-3 in practice). Each round is one broadcast-or-shuffle equijoin
    * + one aggregate over the PAIR list (orders smaller than the
    * corpus), and the driver-side loop runs a bounded count() per
    * round for convergence — the same bounded-iteration shape as the
    * k-means quantizer. Fails rather than loops forever: `maxIters`.
    *
    * Output: (doc_id, group_id) for every doc that appears in a pair.
    */
  def dupGroups(pairs: DataFrame, aCol: String, bCol: String,
                maxIters: Int = 20): DataFrame = {
    // Each round references the previous labels TWICE, so without a
    // materialization point the logical plan doubles per round and the
    // driver OOMs serializing it by ~10 rounds. The round's single
    // aggregate action below materializes it, so each round runs ONE
    // driver action (r3 ran an eager checkpoint + a convergence count()
    // join — two blocking actions).
    // one-explode symmetrization: the self-union form cloned the pair
    // subplan (often a full MinHash pipeline) twice (SURVEY §5 r9 rule)
    val edges = pairs.select(explode(array(
        struct(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst")),
        struct(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))).as("__e"))
      .select(col("__e.src").as("src"), col("__e.dst").as("dst"))
      .distinct()
      .cache()
    // label(v) starts at min(v, min neighbor); propagation is MONOTONE
    // (labels only ever decrease: new lbl = min over self ∪ neighbors),
    // so the per-round Σlbl aggregate — computed in the SAME action that
    // materializes the round — is a complete convergence test: the sum
    // is strictly smaller unless every label is unchanged. DECIMAL(38)
    // keeps the sum exact at any vertex count.
    // sum() over an empty frame is null — coalesce so a legitimately
    // empty pair list (zero near-dups) converges to an empty result
    // instead of NPE-ing in compareTo.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("lbl").cast("decimal(38,0)")).as("s"))
        .head.getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO)
    var labels = Materialize(
      edges.groupBy("src").agg(least(min(col("dst")), col("src")).as("lbl"))
        .select(col("src").as("v"), col("lbl")))
    var prevSum = labelSum(labels)
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      // propagate: candidate label for dst is its neighbor's label
      val prop = Materialize(
        edges.join(labels, edges("src") === labels("v"))
          .select(col("dst").as("v"), col("lbl"))
          .unionByName(labels)
          .groupBy("v").agg(min("lbl").as("lbl")))
      val curSum = labelSum(prop)
      labels = prop
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
      it += 1
    }
    edges.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"dupGroups: no convergence after $maxIters rounds — component diameter " +
          "exceeds the cap; raise maxIters (a partially-propagated result would be wrong)")
    labels.select(col("v").as("doc_id"), col("lbl").as("group_id"))
  }

  /** O(log n)-round connected components — the two-phase large-star /
    * small-star algorithm (Kiveris, Lattanzi, Mirrokni, Rastogi,
    * Vassilvitskii, "Connected Components in MapReduce and Beyond",
    * SOCC 2014; public). Min-label propagation ([[dupGroups]]) needs
    * O(component diameter) rounds, which is fine for LSH dup clusters
    * (near-cliques, diameter 2-3) but fails on the long boilerplate
    * chains real web corpora produce; the star operations halve chain
    * distances per round, so a 10k-link path converges in ~log₂
    * rounds where the naive path hits its iteration cap.
    *
    * Per round: large-star (symmetrize, group by node, connect every
    * LARGER neighbor to the neighborhood min) then small-star (on the
    * now big→small directed edges, re-point every smaller neighbor and
    * the node itself at the min) — two shuffles on the PAIR list, one
    * convergence action (count + exact decimal endpoint sums, with a
    * definitive exceptAll equality check run only when those agree, so
    * a coincidental stats collision can never declare false
    * convergence). At the fixed point the edges are exactly the star
    * forest (doc → component min).
    *
    * Same output contract as [[dupGroups]]: (doc_id, group_id) for
    * every doc that appears in a pair, group_id = component minimum.
    */
  def dupGroupsStar(pairs: DataFrame, aCol: String, bCol: String,
                    maxIters: Int = 30): DataFrame =
    dupGroupsStarWithRounds(pairs, aCol, bCol, maxIters)._1

  private[graft] def dupGroupsStarWithRounds(
      pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 30): (DataFrame, Int) = {
    // ONE materialization of the (often expensive — e.g. a full MinHash
    // confirm pipeline) pair subplan: allVerts previously re-executed
    // `pairs` from scratch for the final join ([[dupGroups]] caches its
    // edge list; the star backend must too — measured at sf0.1 the
    // whole LSH+confirm ran twice per lane without this).
    val canon = Materialize(pairs.select(
      col(aCol).cast("long").as("pa"), col(bCol).cast("long").as("pb")))
    val allVerts = canon.select(explode(array(col("pa"), col("pb"))).as("vid"))
      .distinct()
    // canonical big→small directed edges; self-pairs drop here and are
    // restored as singleton groups by the final left join
    var edges = Materialize(canon.select(
        greatest(col("pa"), col("pb")).as("u"),
        least(col("pa"), col("pb")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // every neighbor v > u re-points at m = min(Γ(u) ∪ {u}); v > u ≥ m
      // keeps the output canonical and self-loop-free
      sym.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy("u").agg(min("v").as("m"))
      // ONE explode, not a self-union of the join: Catalyst clones a
      // re-referenced subplan per reference (SURVEY §5 r9 rule), so the
      // union form ran the e⋈mins join twice every round. Branch
      // equivalences: (v,m) was filtered on v ≠ m ⇔ post-explode u ≠ v;
      // (u,m) never trips that filter because edges are big→small
      // (u > v ≥ m, so u ≠ m always).
      e.join(mins, "u")
        .select(explode(array(
          struct(col("v").as("u"), col("m").as("v")),
          struct(col("u"), col("m").as("v")))).as("__e"))
        .select(col("__e.u").as("u"), col("__e.v").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // (count, Σu, Σv) as exact DECIMAL(38) — computed in the same action
    // that materializes the round
    def stats(e: DataFrame): (Long, java.math.BigDecimal, java.math.BigDecimal) = {
      val r = e.agg(count(lit(1)), sum(col("u").cast("decimal(38,0)")),
        sum(col("v").cast("decimal(38,0)"))).head
      (r.getLong(0), r.getDecimal(1), r.getDecimal(2))
    }

    var it = 0
    var converged = edges.isEmpty
    var prev = if (converged) null else stats(edges)
    while (!converged && it < maxIters) {
      val next = Materialize(smallStar(largeStar(edges)))
      val cur = stats(next)
      // stats equality is necessary for a fixed point; the exceptAll
      // run (sets, post-distinct) makes it sufficient
      if (cur == prev) converged = next.exceptAll(edges).isEmpty
      edges = next
      prev = cur
      it += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"dupGroupsStar: no convergence after $maxIters rounds (expected O(log n)) — " +
          "raise maxIters (a partially-contracted result would be wrong)")
    val labels = allVerts.join(edges, allVerts("vid") === edges("u"), "left")
      .select(col("vid").as("doc_id"), coalesce(col("v"), col("vid")).as("group_id"))
    (labels, it)
  }

  /** Near-dedup keep-set materialization — the standard MinHashLSH keep
    * rule: a doc is dropped iff it has a confirmed near-duplicate with
    * a smaller id (pairs are emitted with id_a < id_b, so the drop set
    * is exactly `distinct id_b`). On near-clique dup classes this keeps
    * one canonical doc per class without the iterative
    * connected-components pass — the deterministic, SQL-expressible
    * rule production dedup pipelines actually apply.
    *
    * 100 TB shape — exact-collapse FIRST: real web corpora are mostly
    * exact copies, and pairwise near-dup work is quadratic in the
    * dup-class size, so the minhash pipeline here runs in
    * REPRESENTATIVE space (one min-id doc per distinct text). This is
    * provably the same keep set as running the rule on the raw corpus:
    * (a) a non-representative copy always has its own class min as a
    * smaller confirmed jaccard-1 neighbor — provided the text has ≥ 3
    * tokens, i.e. actually produces a signature; sub-shingle texts
    * never pair under the raw rule, so their copies are all kept here
    * too; (b) a representative X has a smaller raw-corpus near-dup W
    * iff it has a smaller near-dup REPRESENTATIVE (W's class min m ≤ W
    * < X shares W's text exactly, so jaccard(X,m)=jaccard(X,W)).
    * Measured: 10× rows as 10× exact copies runs ~linear instead of
    * the raw rule's ~quadratic blowup (33 s → 3.6 s warm at bench sf1).
    */
  def nearDedupKeep(df: DataFrame, idCol: String, textCol: String,
                    numHashes: Int = 8, bands: Int = 2,
                    threshold: Double = 0.5,
                    maxBucketSize: Int = 1000,
                    collapseExact: Boolean = true): DataFrame = {
    // `collapseExact = false` is the caller-guaranteed-distinct-texts
    // fast path (e.g. input already exact-deduped): with every text
    // unique, each doc is its own representative, so the collapse
    // manifest maps id → id and the rep filter keeps every row — the
    // md5 aggregate, both collapse joins and their materializations are
    // provably identity work (PipelineSpec pins the equivalence). The
    // raw rule then runs directly on `df`.
    if (!collapseExact) {
      val pairs = minHashNearDupsRaw(df, idCol, textCol, numHashes, bands,
        threshold, maxBucketSize)
      val dropReps = pairs.select(col("id_b").as("__drop")).distinct()
      return df
        .join(dropReps, col(idCol) === col("__drop"), "left")
        .filter(col("__drop").isNull)
        .drop("__drop")
    }
    val withH = df.withColumn("__h", md5(col(textCol)))
    // materialized: the hash→rep manifest and the rep corpus are each
    // referenced by several downstream branches (signature pass,
    // shingle pass, keep filter)
    val repTbl = withH.select(col("__h"), col(idCol))
      .groupBy("__h").agg(min(col(idCol)).as("__rep"))
      .transform(Materialize)
    val labeled = withH.join(repTbl, "__h")
    val reps = labeled.filter(col(idCol) === col("__rep")).drop("__h", "__rep")
      .transform(Materialize)
    val pairs = minHashNearDupsRaw(reps, idCol, textCol, numHashes, bands,
      threshold, maxBucketSize)
    val dropReps = pairs.select(col("id_b").as("__drop")).distinct()
    labeled
      // non-representative copies of a signature-bearing (≥ 3 token)
      // text are dropped by their own class min under the raw rule
      .filter(col(idCol) === col("__rep") ||
        size(split(col(textCol), " ")) < 3)
      // LEFT OUTER + null filter instead of LeftAnti: Catalyst pushes
      // anti joins through the corpus Union (and below inner joins),
      // cloning the whole signature+LSH+confirm subplan per union
      // branch — 3× the plan on the dup-injected corpora. dropReps is
      // distinct, so outer-join-then-isNull is row-for-row the anti
      // join, but stays as ONE subplan above the Union.
      .join(dropReps, col(idCol) === col("__drop"), "left")
      .filter(col("__drop").isNull)
      .drop("__h", "__rep", "__drop")
  }

  /** Exact-dedup materialization: the kept corpus — one canonical row
    * (minimum id) per distinct text, i.e. what actually ships to
    * training after exact dedup. ONE content-hash exchange: the per-hash
    * minimum id is a window aggregate computed in the same shuffle the
    * keep filter consumes (guide §2.4 — operations keyed the same way
    * share one exchange; the r14 doc_substring_dedup claimant respell).
    * The r14 form (groupBy(md5) + join-back) paid the md5 mapper and an
    * exchange TWICE — once per subplan reference, since Catalyst shares
    * no common subtrees — and at 100 TB the join-back shuffled the full
    * corpus rows anyway once the keep table outgrew broadcast. Here the
    * corpus is scanned once, full rows cross the wire once, keyed on
    * the 16-byte hash, never the text.
    */
  def dedupedCorpus(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))
    df.withColumn("__h", md5(col(textCol)))
      .withColumn("__keep", min(col(idCol)).over(w))
      .filter(col(idCol) === col("__keep"))
      .drop("__h", "__keep")
  }

  /** End-to-end duplicate-group resolution from a raw corpus, with the
    * same exact-collapse speedup as [[nearDedupKeep]]: minhash + LSH +
    * connected components all run in REPRESENTATIVE space (one min-id
    * doc per distinct text), then class members are mapped back onto
    * their representative's component. Provably the raw-rule result:
    * raw edges map onto rep edges with the same connectivity (exact
    * copies share text, so a raw pair (X,Y) confirms (rep X, rep Y)
    * too, and copies collapse into their rep's node), component minima
    * are class minima (the rep IS its class min), and membership in
    * the output — "appears in some confirmed pair" — is: multi-copy
    * signature-bearing classes contribute every member (exact twins
    * always pair), singleton classes contribute their rep iff it pairs
    * in rep space, sub-shingle (< 3 token) texts never pair at all.
    * Work on a mass-duplicated corpus drops from quadratic in the
    * dup-class size to linear: bench sf1 (10 exact copies per doc)
    * 17.9 s → 7.6 s warm, and the gap widens with the dup rate; the
    * cost is ~2 s extra fixed latency at sf0.1 from the collapse joins
    * — the right trade for a lake-scale corpus.
    */
  def dupGroupsOf(df: DataFrame, idCol: String, textCol: String,
                  numHashes: Int = 8, bands: Int = 2, threshold: Double = 0.5,
                  maxBucketSize: Int = 1000, maxIters: Int = 20,
                  useStar: Boolean = false): DataFrame = {
    val withH = df.withColumn("__h", md5(col(textCol)))
    // materialized: every branch below — the minhash signature pass,
    // the shingle-set pass, the rep-state join, the member mapping —
    // reads the content-hash keep table and the exact-deduped rep
    // corpus, the manifests a production dedup pipeline persists
    val repTbl = withH.select(col("__h"), col(idCol))
      .groupBy("__h").agg(min(col(idCol)).as("__rep"),
        count(lit(1)).as("__nclass"))
      .transform(Materialize)
    val reps = withH.join(repTbl, "__h")
      .filter(col(idCol) === col("__rep"))
      .withColumn("__sig", size(split(col(textCol), " ")) >= 3)
      .select(col(idCol), col(textCol), col("__nclass"), col("__sig"))
      .transform(Materialize)
    val repPairs = minHashNearDupsRaw(
      reps.select(col(idCol), col(textCol)), idCol, textCol,
      numHashes, bands, threshold, maxBucketSize)
    // CC backend is selectable: min-label (O(diameter) rounds — right
    // for LSH near-cliques) or large-star/small-star (O(log n) — right
    // for chain-shaped boilerplate components). Identical (doc_id,
    // group_id = component min) contract, so callers and oracles are
    // backend-agnostic.
    val repGroups = (if (useStar) dupGroupsStar(repPairs, "id_a", "id_b", maxIters)
                     else dupGroups(repPairs, "id_a", "id_b", maxIters))
      .select(col("doc_id").as("__rep2"), col("group_id"))
    val repState = reps.select(col(idCol).as("__rep2"), col("__nclass"), col("__sig"))
      .join(repGroups, Seq("__rep2"), "left")
      .withColumn("__paired", col("group_id").isNotNull)
      .withColumn("__g", coalesce(col("group_id"), col("__rep2")))
    withH.select(col(idCol), col("__h"))
      .join(repTbl.select(col("__h"), col("__rep")), "__h")
      .join(repState, col("__rep") === col("__rep2"))
      .filter(col("__paired") || (col("__nclass") >= 2 && col("__sig")))
      .select(col(idCol).cast("long").as("doc_id"), col("__g").as("group_id"))
  }

  /** Char n-gram distinct set. */
  def charNgrams(textCol: Column, n: Int): Column = {
    val t = textCol.toString
    array_distinct(expr(
      s"CASE WHEN length($t) >= $n THEN " +
        s"transform(sequence(1, length($t) - ${n - 1}), i -> substring($t, i, $n)) " +
        s"ELSE cast(array() AS ARRAY<STRING>) END"))
  }

  /** Jaccard over char n-grams between paired rows (id, id+1), via the
    * native per-doc kernels (TextExpressions.scala): `char_ngram_set`
    * builds each doc's distinct gram set in one in-memory pass and
    * `array_overlap_count` intersects two sets with a hash probe, so
    * the plan is scan → mapper → one equijoin on the pair key. r1
    * exploded every char position into (pair, gram) rows and paid two
    * hash-aggregate exchanges over them (~2 rows per character); this
    * shuffles one array row per doc instead — at 100 TB the exchange
    * shrinks from ~8× corpus bytes to ~4× while the gram work moves
    * into the scan projection.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val g = df.select(col(idCol).as("id"),
      Native.call("char_ngram_set", col(textCol), lit(n)).as("g"))
    val a = g.select(col("id").as("doc_a"), col("g").as("ga"))
    val b = g.select((col("id") - 1).as("doc_a"), col("g").as("gb"))
    // Contract: a pair where BOTH docs are shorter than n chars (two
    // empty gram sets) is emitted with jaccard NULL — stated explicitly
    // rather than leaning on non-ANSI 0/0 division, so the result is
    // the same under spark.sql.ansi.enabled=true.
    val denom = size(col("ga")) + size(col("gb")) - col("inter")
    a.join(b, Seq("doc_a"))
      .withColumn("inter", Native.call("array_overlap_count", col("ga"), col("gb")))
      .select(col("doc_a"), (col("doc_a") + 1).as("doc_b"),
        when(denom === 0, lit(null).cast("double"))
          .otherwise(round(col("inter") / denom, 6))
          .as("jaccard"))
  }

  /** Edit-distance confirmation per candidate pair — the
    * character-level near-dup measure (catches single-char edits that
    * word-shingle Jaccard treats as whole-shingle changes). Levenshtein
    * is the standard Wagner–Fischer DP in BOTH engines, so the distance
    * is an exact integer and the lane hash-checks. Pairing is the
    * (id, id+offset) demo convention; at scale the pair list comes from
    * LSH/simhash candidates — the DP is O(|a|·|b|) per pair, which is
    * exactly why it runs as the CONFIRM stage on a bounded candidate
    * list, never corpus-wide.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        offset: Long): DataFrame = {
    val a = df.select(col(idCol).as("doc_a"), col(textCol).as("ta"))
    val b = df.select((col(idCol) - offset).as("doc_a"), col(textCol).as("tb"))
    a.join(b, Seq("doc_a"))
      .select(col("doc_a"), (col("doc_a") + offset).as("doc_b"),
        length(col("ta")).cast("long").as("len_a"),
        length(col("tb")).cast("long").as("len_b"),
        levenshtein(col("ta"), col("tb")).cast("long").as("edit_dist"))
  }

  /** Broder CONTAINMENT per doc pair — the asymmetric near-dup measure
    * (|A∩B|/|A| vs |A∩B|/|B|) that separates "B extends A" from "A and
    * B overlap": a tail-extended copy contains its original at ~1.0
    * while the reverse containment shrinks with the added text, a
    * distinction symmetric Jaccard cannot make. Pairs are (id, id +
    * `offset`) — the [[ngramJaccardPairs]] demo-pairing convention;
    * candidate generation at scale rides the same LSH buckets as the
    * minhash pipeline. Empty shingle sets (docs under 3 words) yield
    * NULL, stated explicitly for ANSI mode.
    *
    * 100 TB shape: the native `word_shingle_set` kernel is a pure
    * mapper (no shingle explode reaches the shuffle); one pair
    * equijoin; codegen'd `array_overlap_count` confirm.
    */
  def shingleContainment(df: DataFrame, idCol: String, textCol: String,
                         offset: Long): DataFrame = {
    val g = df.select(col(idCol).as("__id"),
      Native.call("word_shingle_set", col(textCol)).as("__sh"))
    val a = g.select(col("__id").as("doc_a"), col("__sh").as("sa"))
    val b = g.select((col("__id") - offset).as("doc_a"), col("__sh").as("sb"))
    a.join(b, Seq("doc_a"))
      .withColumn("inter", Native.call("array_overlap_count", col("sa"), col("sb")))
      .select(col("doc_a"), (col("doc_a") + offset).as("doc_b"),
        when(size(col("sa")) === 0, lit(null).cast("double"))
          .otherwise(round(col("inter") / size(col("sa")), 6)).as("containment_a"),
        when(size(col("sb")) === 0, lit(null).cast("double"))
          .otherwise(round(col("inter") / size(col("sb")), 6)).as("containment_b"))
  }

  /** 60-bit SimHash as a 15-hex-char string, via the native `simhash60`
    * kernel: one codegen'd projection per doc — a pure mapper, no token
    * explode, no shuffle (r1's 60-vote-column aggregation exchanged one
    * wide row per doc per partition; this exchanges nothing). Values
    * are identical to the relational formulation below, which pins the
    * DuckDB oracle and the equivalence spec.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol),
      Native.call("simhash60", col(textCol)).as("simhash"))
  }

  /** SimHash near-dup pairs by Hamming distance — the Google-style
    * complement to MinHash (Manku et al., WWW'07): docs whose 60-bit
    * SimHashes differ in ≤ `maxHamming` bits. Candidate generation is
    * the PIGEONHOLE block index: split 60 bits into `maxHamming + 1`
    * blocks (here 4 × 15 bits for the default 3) — any pair within the
    * Hamming radius must agree exactly on ≥ 1 block, so candidates are
    * a (block index, block value) equi-bucket join, never an all-pairs
    * scan. Confirmation is xor + popcount on the signatures carried
    * through the bucket aggregate — no rejoin to the corpus at all.
    *
    * 100 TB shape: signature+blocks are a pure mapper over the scan;
    * ONE aggregation on (block, value) bounded by real collisions with
    * the same fused `raise_error` bucket guard as [[lshCandidates]]
    * (a mass-duplicated corpus collapses into one bucket → run
    * [[exactDupGroups]] first); the pair distinct is over candidates
    * only.
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3,
                      maxBucketSize: Int = 1000): DataFrame = {
    // pre-filter on the only null source (null text): an output-null
    // filter is pushed below the projection by substitution and would
    // evaluate the simhash kernel twice per row (the minhashSignature
    // lesson); simhash60 never returns null for non-null input
    val sigs = df.filter(col(textCol).isNotNull)
      .select(col(idCol),
        conv(Native.call("simhash60", col(textCol)), 16, 10).cast("long").as("__sig"))
    sigHammingPairs(sigs, idCol, "__sig", 60, maxHamming, maxBucketSize)
  }

  /** Generic Manku pigeonhole Hamming-pair join over ANY long-typed
    * signature column (text SimHash, image average-hash, sign-bit
    * embedding signatures …): split `bits` bits into `maxHamming + 1`
    * blocks — any pair within the radius agrees exactly on ≥ 1 block —
    * bucket on (block index, block value), confirm with xor + popcount
    * on the signatures carried through the bucket aggregate. Same
    * 100 TB shape and fail-fast bucket guard as [[simhashNearDups]]
    * (which now delegates here).
    */
  def sigHammingPairs(sigs: DataFrame, idCol: String, sigCol: String,
                      bits: Int, maxHamming: Int,
                      maxBucketSize: Int = 1000): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 14, "maxHamming out of range")
    require(bits > 0 && bits <= 64, "signature width out of range")
    val nBlocks = maxHamming + 1
    val base = bits / nBlocks
    val rem = bits % nBlocks // first `rem` blocks get one extra bit
    val blockCols = (0 until nBlocks).map { b =>
      val width = base + (if (b < rem) 1 else 0)
      val offset = (0 until b).map(i => base + (if (i < rem) 1 else 0)).sum
      struct(lit(b).as("blk"),
        shiftright(col(sigCol), offset).bitwiseAND(lit((1L << width) - 1)).as("bv"))
    }
    val buckets = sigs
      .select(col(idCol), col(sigCol), explode(array(blockCols: _*)).as("bb"))
      .groupBy(col("bb.blk").as("blk"), col("bb.bv").as("bv"))
      .agg(sort_array(collect_set(struct(col(idCol).as("id"), col(sigCol).as("sig"))))
        .as("ms"))
      .filter(size(col("ms")) > 1)
    val pairs = buckets.select(explode(expr(
        "flatten(transform(ms, (x, i) -> " +
          s"transform(slice(ms, i + 2, CASE WHEN size(ms) > $maxBucketSize THEN " +
          "CAST(raise_error(concat('sigHammingPairs: a block bucket holds ', " +
          "CAST(size(ms) AS STRING), " +
          s"' ids (> maxBucketSize=$maxBucketSize); the corpus is mass-duplicated — " +
          "run exactDupGroups as a pre-pass or raise the cap')) AS INT) " +
          "ELSE size(ms) END), y -> struct(x.id AS id_a, y.id AS id_b, " +
          "x.sig AS sig_a, y.sig AS sig_b))))")).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        bit_count(col("p.sig_a").bitwiseXOR(col("p.sig_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
    pairs
  }

  /** The SQL-expressible 60-bit SimHash formulation (tokens → md5 hex
    * digits → per-bit votes → majority bits → hex digits) — retained to
    * pin the kernel's values in DedupSpec-style equivalence tests.
    */
  def simhashRelational(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(split(col(textCol), " ")).as("tok"))
      .withColumn("h", md5(col("tok")))
    val voteCols = for (p <- 1 to 15; k <- 0 until 4) yield
      when((shiftright(expr(s"instr('0123456789abcdef', substring(h, $p, 1)) - 1"), k) % 2)
        === 1, 1).otherwise(-1).as(s"v_${p}_$k")
    val summed = toks.select((col(idCol) +: voteCols): _*)
      .groupBy(col(idCol))
      .agg(sum(s"v_1_0").as("s_1_0"),
        (for (p <- 1 to 15; k <- 0 until 4; if !(p == 1 && k == 0)) yield
          sum(s"v_${p}_$k").as(s"s_${p}_$k")): _*)
    summed.select(col(idCol),
      concat((1 to 15).map { p =>
        val dig = (0 until 4).map(k =>
          when(col(s"s_${p}_$k") > 0, lit(1 << k)).otherwise(lit(0))).reduce(_ + _)
        substr(lit("0123456789abcdef"), dig + 1, lit(1))
      }: _*).as("simhash"))
  }
}
