package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Materialize, Tables}
import graft.functions.Native
import graft.operators.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}

/** LLM training-data pipeline queries over documents/embeddings
  * (SURVEY.md §2.4). The synthetic corpus has no natural duplicates, so
  * dedup queries append deterministic exact + near copies on BOTH sides
  * (Spark and oracle SQL) before deduplicating.
  */
object PipelineQueries {

  /** documents + exact copies (id%10==0, +1e6) + near copies
    * (id%17==0, +2e6, 4 words appended).
    */
  private def corpus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables(s, dir, "documents").select("doc_id", "text")
    d.unionByName(d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000))
      .unionByName(d.filter(col("doc_id") % 17 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000)
        .withColumn("text", concat(col("text"), lit(" extra trailing words appended"))))
  }

  // 8-word pseudo-line chunker shared by the doc_line_dedup entry and its
  // oracle: replace every 8th space with a newline (group 1 = the 8 words,
  // so word text is preserved and lines carry no trailing space).
  private val ChunkLineRe = "((\\S+ ){7}\\S+) "
  private val ChunkLineRepl = "\\1"

  /** v0 = the frequency-weighted spaced vocabulary both BPE oracles
    * start from (doc_bpe_learn / doc_bpe_apply).
    */
  private val BpeV0 =
    """v0 AS MATERIALIZED (
      |  SELECT ' ' || trim(regexp_replace(w, '(.)', '\1 ', 'g')) || ' ' AS s, cnt
      |  FROM (
      |    SELECT w, CAST(count(*) AS BIGINT) AS cnt
      |    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |    WHERE length(w) > 0 GROUP BY w))""".stripMargin

  /** One BPE learning round as CTEs: pair counts over vocab state
    * v(k−1) → tie-broken top pick t(k) → double-pass merge into v(k)
    * (the canonical-greedy trick, see TextAnalysis.bpeLearn).
    */
  private def bpeRoundSql(k: Int): String = {
    val prev = s"v${k - 1}"
    s"""p$k AS (SELECT t[j] || ' ' || t[j+1] AS pair, cnt
       |  FROM (SELECT string_split(trim(s), ' ') AS t, cnt FROM $prev),
       |    LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS j) u),
       |a$k AS MATERIALIZED (
       |  SELECT pair, CAST(sum(cnt) AS BIGINT) AS n FROM p$k GROUP BY pair),
       |t$k AS MATERIALIZED (SELECT pair, n FROM a$k ORDER BY n DESC, pair LIMIT 1),
       |v$k AS MATERIALIZED (SELECT
       |  replace(replace(s, ' ' || (SELECT pair FROM t$k) || ' ',
       |      ' ' || replace((SELECT pair FROM t$k), ' ', '') || ' '),
       |    ' ' || (SELECT pair FROM t$k) || ' ',
       |    ' ' || replace((SELECT pair FROM t$k), ' ', '') || ' ') AS s, cnt
       |  FROM $prev)""".stripMargin
  }

  private val CORPUS =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL SELECT doc_id + 2000000, text || ' extra trailing words appended'
      |    FROM documents WHERE doc_id % 17 = 0)""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "doc_exact_dedup" -> ((s, dir) =>
      Dedup.exactDupGroups(corpus(s, dir), "doc_id", "text")
        .orderBy("h")),

    "doc_minhash_pairs" -> ((s, dir) =>
      Dedup.minHashNearDups(corpus(s, dir), "doc_id", "text")
        .orderBy("id_a", "id_b")),

    "doc_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables(s, dir, "documents"), "doc_id", "text", 4)
        .orderBy("doc_a")),

    // SimHash Hamming near-dup pairs (pigeonhole 4×15-bit block index,
    // xor+popcount confirm) over the dup-injected corpus.
    "doc_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashNearDups(corpus(s, dir), "doc_id", "text")
        .orderBy("id_a", "id_b")),

    // Edit-distance confirm over (original, tail-extended copy) pairs:
    // the appended tail costs exactly its length in edits.
    "doc_edit_distance" -> ((s, dir) =>
      Dedup.editDistancePairs(corpus(s, dir), "doc_id", "text", 2000000L)
        .orderBy("doc_a")),

    // Broder containment over (original, tail-extended copy) pairs from
    // the dup-injected corpus: containment_a ≈ 1 (the copy contains the
    // original), containment_b < 1 — the asymmetry Jaccard can't see.
    "doc_containment" -> ((s, dir) =>
      Dedup.shingleContainment(corpus(s, dir), "doc_id", "text", 2000000L)
        .orderBy("doc_a")),

    "doc_simhash" -> ((s, dir) =>
      Dedup.simhash(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "doc_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(Tables(s, dir, "documents"), "text")
        .select(col("doc_id"), col("lang"), col("predicted_lang"),
          col("s_en"), col("s_de"), col("s_es"), col("s_fr"), col("s_zh"))
        .orderBy("doc_id")),

    "doc_quality_score" -> ((s, dir) =>
      TextAnalysis.qualityScore(Tables(s, dir, "documents"), "text")
        .select(col("doc_id"), col("n_chars"), col("n_tokens"),
          round(col("mean_token_len"), 6).as("mean_token_len"),
          round(col("punct_ratio"), 6).as("punct_ratio"),
          round(col("stopword_ratio"), 6).as("stopword_ratio"),
          col("quality_score"))
        .orderBy("doc_id")),

    "doc_token_count" -> ((s, dir) =>
      TextAnalysis.tokenCounts(Tables(s, dir, "documents"), "text")
        .select("doc_id", "n_ws_tokens", "n_bpe_tokens")
        .orderBy("doc_id")),

    // Token-budgeted multilingual mixture (r9): the 20k-token global
    // budget split across languages by sqrt-temperature token mass,
    // each language filled by the md5-ordered greedy prefix — with the
    // bounded-sort two-stage rule (hash-threshold pre-selection, exact
    // cumsum on candidates only) as the operator's semantics. Oracle
    // replays masses, shares, thresholds, and the window prefix.
    "doc_token_budget_mix" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val withTok = docs.select(col("doc_id"), col("lang"),
        Native.call("bpe_token_count", col("text")).cast("long").as("n_tok"))
      Sampling.tokenBudgetMix(withTok, "doc_id", "lang", "n_tok", budget = 20000L)
        .orderBy("doc_id")
    }),

    // Tokenizer fertility per language: subword tokens per word and
    // bytes per token — the tokenizer-efficiency rollup multilingual
    // token-budgeted mixes are weighted by.
    "doc_tokenizer_fertility" -> ((s, dir) =>
      TextAnalysis.tokenizerFertility(Tables(s, dir, "documents"), "text",
        Seq("lang")).orderBy("lang")),

    // Incremental near-dedup: flag an INCOMING batch against the
    // EXISTING corpus index — exact copies (+5e6), near copies with an
    // appended tail (+6e6), and 60-char truncations (+7e6, mostly
    // below threshold) keyed on doc_id, mirrored in the oracle.
    "doc_incremental_dedup" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select("doc_id", "text")
      val incoming = docs.filter(col("doc_id") % 3 === 0)
          .withColumn("doc_id", col("doc_id") + 5000000)
        .unionByName(docs.filter(col("doc_id") % 5 === 0)
          .withColumn("doc_id", col("doc_id") + 6000000)
          .withColumn("text", concat(col("text"), lit(" fresh appended tail words"))))
        .unionByName(docs.filter(col("doc_id") % 7 === 0)
          .withColumn("doc_id", col("doc_id") + 7000000)
          .withColumn("text", substring(col("text"), 1, 60)))
      Dedup.incrementalNearDupFlags(docs, incoming, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // DSIR importance weights (Xie et al. 2023): target = docs with
    // doc_id < 50 (the decontaminate convention), raw = full corpus;
    // add-one-smoothed integer bucket ratios, per-doc summed.
    "doc_dsir_weight" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      TextAnalysis.dsirWeights(docs, "doc_id", "text", docs.filter(col("doc_id") < 50))
        .orderBy("doc_id")
    }),

    // MOSS winnowing fingerprints (Schleimer et al. SIGMOD'03): the
    // per-doc selected-hash set, summarized as (count, md5 digest of
    // the sorted list) so the whole selection hash-checks against a SQL
    // replay of the identical Karp-Rabin polynomial + window-min rule.
    "doc_winnow" -> ((s, dir) =>
      TextAnalysis.winnowFingerprints(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // MOSS winnow PAIR overlap (Schleimer et al. SIGMOD'03 §4 — what
    // the fingerprints are FOR: scoring document pairs): shared
    // fingerprints + containment fraction over the derived
    // (original, copy) and (original, extension) pairs. Sets come from
    // the same winnow_set kernel; overlap is one array_intersect per
    // bounded pair — the corpus is scanned once for fingerprints, only
    // (id, fp-set) rows join.
    "doc_winnow_pairs" -> ((s, dir) => {
      val c = corpus(s, dir)
        .withColumn("fp", Native.call("winnow_set", col("text")))
      val a = c.select(col("doc_id").as("doc_a"), col("fp").as("fpa"))
      val b = c.select(col("doc_id").as("doc_b"), col("fp").as("fpb"))
      val p1 = a.join(b.withColumn("doc_a", col("doc_b") - 1000000L), Seq("doc_a"))
      val p2 = a.join(b.withColumn("doc_a", col("doc_b") - 2000000L), Seq("doc_a"))
      p1.unionByName(p2)
        .withColumn("n_a", size(col("fpa")).cast("long"))
        .withColumn("n_b", size(col("fpb")).cast("long"))
        .withColumn("common", size(array_intersect(col("fpa"), col("fpb"))).cast("long"))
        .withColumn("cont_a", expr("common * 1000000 div n_a"))
        .select("doc_a", "doc_b", "n_a", "n_b", "common", "cont_a")
        .orderBy("doc_a", "doc_b")
    }),

    // Gopher-class rule filter (Rae et al. 2021): the corpus is
    // decorated deterministically on BOTH sides (bullet lines /
    // ellipsis tails / '#' runs / truncation, keyed on doc_id) so every
    // rule fires non-vacuously; all ratio tests are exact integer
    // cross-multiplications, so the booleans cannot drift.
    "doc_gopher_filter" -> ((s, dir) => {
      val dec = Tables(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 19 === 0, substring(col("text"), 1, 40))
          .otherwise(concat(col("text"),
            when(col("doc_id") % 7 === 0,
              lit("\n- bullet one\n- bullet two\n- bullet three")).otherwise(lit("")),
            when(col("doc_id") % 11 === 0, lit(" tail one... line...")).otherwise(lit("")),
            when(col("doc_id") % 13 === 0, lit(" ##### ## ###")).otherwise(lit("")))))
      TextAnalysis.gopherFilter(dec, "doc_id", "text").orderBy("doc_id")
    }),

    // BPE merge learning (Sennrich et al. ACL'16): 4 greedy merges over
    // the frequency-weighted vocabulary; the oracle replays every
    // round's pair count, tie-broken top pick and double-pass merge.
    "doc_bpe_learn" -> ((s, dir) =>
      TextAnalysis.bpeLearn(Tables(s, dir, "documents"), "text", 4)
        .orderBy("round")),

    // BPE APPLY: the serving path — learn the 4 merges, then segment
    // the whole corpus as a pure mapper (merge table as literals).
    "doc_bpe_apply" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val merges = TextAnalysis.bpeLearn(docs, "text", 4).orderBy("round")
        .collect().map(_.getAs[String]("pair")).toSeq
      TextAnalysis.bpeApply(docs, "doc_id", "text", merges).orderBy("doc_id")
    }),

    // N-gram novelty over the dup-injected corpus: exact copies score
    // 0, originals keep their grams, tail-extended copies score only
    // the appended grams — the intended gradient.
    "doc_ngram_novelty" -> ((s, dir) =>
      TextAnalysis.ngramNovelty(corpus(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // C4-style page cleaning (Raffel et al. 2020 §2.2): the corpus is
    // decorated deterministically on BOTH sides (terminal-punct
    // sentences appended, no-punct / short / lorem-ipsum / curly-brace
    // lines keyed on doc_id) so every line and page rule fires; the
    // CLEANED TEXT itself is compared, not just the booleans.
    "doc_c4_filter" -> ((s, dir) => {
      val dec = Tables(s, dir, "documents").withColumn("text",
        when(col("doc_id") % 17 === 0,
          lit("only one good sentence stands here today."))
          .otherwise(concat(
            col("text"),
            lit(". This line has a second sentence with enough words." +
              " And here follows a third sentence too."),
            when(col("doc_id") % 5 === 0,
              lit("\nno terminal punctuation in this line")).otherwise(lit("")),
            when(col("doc_id") % 7 === 0, lit("\nTiny line.")).otherwise(lit("")),
            when(col("doc_id") % 11 === 0,
              lit("\nlorem ipsum dolor sit amet consectetur.")).otherwise(lit("")),
            when(col("doc_id") % 13 === 0,
              lit("\ncode block { x equals one }")).otherwise(lit("")))))
      TextAnalysis.c4Filter(dec, "doc_id", "text").orderBy("doc_id")
    }),

    // Decontamination: benchmark = documents with doc_id < 50; corpus =
    // the dup-injected corpus, whose exact (+1e6) and near (+2e6)
    // copies of benchmark docs must flag true.
    "doc_decontaminate" -> ((s, dir) => {
      val bench = Tables(s, dir, "documents").filter(col("doc_id") < 50)
      TextAnalysis.flagContaminated(corpus(s, dir), "doc_id", "text", bench)
        .orderBy("doc_id")
    }),

    // Decontamination through the bloom-prefilter scale path: one
    // broadcast BloomFilter probed per doc over the shingle ARRAY (no
    // corpus-wide explode), exact shingle semi-join confirm only for
    // bloom hits — bit-identical output to doc_decontaminate (no false
    // negatives + exact confirm), so the oracle is the same SQL.
    "doc_decontaminate_bloom" -> ((s, dir) => {
      val bench = Tables(s, dir, "documents").filter(col("doc_id") < 50)
      TextAnalysis.flagContaminatedBloom(corpus(s, dir), "doc_id", "text", bench)
        .orderBy("doc_id")
    }),

    // RAG chunk manifest: 64-word windows at stride 48 (16-word
    // overlap) — the chunk inventory retrieval pipelines materialize
    // before embedding; exact integer chunk-count formula + md5 chunk
    // hashes keep it engine-stable. Pure mapper + posexplode.
    "doc_chunk_manifest" -> ((s, dir) =>
      TextAnalysis.chunkManifest(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id", "chunk_id")),

    // Dup-GROUP resolution: near-dup pairs → connected components →
    // canonical min id per cluster (what a dedup pipeline actually
    // keeps). Oracle recomputes the closure with a recursive CTE over
    // the same pair list.
    "doc_dup_groups" -> ((s, dir) =>
      Dedup.dupGroupsOf(corpus(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // Same pipeline through the O(log n) large-star/small-star CC
    // backend (Kiveris et al. SOCC'14) — the group contract (component
    // min per doc) is backend-independent, so the oracle is identical
    // to doc_dup_groups'. Keeps BOTH CC paths oracle-honest: min-label
    // is the LSH near-clique default, star the chain-shaped-component
    // scale path.
    "doc_dup_groups_star" -> ((s, dir) =>
      Dedup.dupGroupsOf(corpus(s, dir), "doc_id", "text", useStar = true)
        .orderBy("doc_id")),

    // Exact n-per-stratum deterministic sample (hash order within each
    // stratum) — reproducible dataset construction across engines/runs.
    "doc_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(Tables(s, dir, "documents"), "doc_id", "lang", 20)
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // Temperature-weighted mixture sampling MATERIALIZED (the step
    // after doc_domain_mix's weight table): per-source sqrt-temperature
    // allocation of a 200-doc budget, docs kept by a deterministic
    // md5-vs-threshold test in zero-padded hex STRING space so the
    // oracle replays the selection with no hex-to-int conversion.
    // Small sources keep everything (rate clamps at 1); large ones
    // downsample to their allocation. No corpus shuffle: tiny
    // per-source aggregate + broadcast join + scan filter.
    "doc_temperature_sample" -> ((s, dir) =>
      Sampling.temperatureSample(Tables(s, dir, "documents"), "doc_id", "source", 200L)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // Deterministic train/test split by hashed id: a pure mapper whose
    // assignment never moves as the corpus grows.
    "doc_train_test_split" -> ((s, dir) =>
      Sampling.trainTestSplit(Tables(s, dir, "documents"), "doc_id", 0.25)
        .select("doc_id", "split")
        .orderBy("doc_id")),

    // PII scrub: the synthetic corpus has no real PII, so deterministic
    // email/IP/phone strings are appended from doc_id on BOTH sides;
    // counts + the fully redacted text are hash-compared.
    "doc_pii_redact" -> ((s, dir) => {
      val withPii = Tables(s, dir, "documents")
        .withColumn("text", concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com at 10.0."),
          pmod(col("doc_id"), lit(256)), lit("."), pmod(col("doc_id"), lit(100)),
          lit(" or 555-"), lit(1000) + pmod(col("doc_id"), lit(9000))))
      TextAnalysis.piiRedact(withPii, "doc_id", "text")
        // regexp_count is INT; the oracle's len(regexp_extract_all) is
        // BIGINT — cast per the repo's type-exactness convention
        .select(col("doc_id"), col("n_emails").cast("long").as("n_emails"),
          col("n_ips").cast("long").as("n_ips"),
          col("n_phones").cast("long").as("n_phones"), col("redacted"))
        .orderBy("doc_id")
    }),

    // Gopher-class repetition signals: duplicate-bigram fraction + top-
    // bigram share per doc, from the single-pass rep_stats kernel (pure
    // mapper). The oracle recomputes the counts by exploding bigrams.
    "doc_rep_stats" -> ((s, dir) =>
      TextAnalysis.repetitionStats(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Chunk-level boilerplate over the dup-injected corpus: fraction of
    // each doc's 8-word chunks that appear in >= 2 distinct docs.
    "doc_chunk_boilerplate" -> ((s, dir) =>
      TextAnalysis.chunkBoilerplate(corpus(s, dir), "doc_id", "text")
        .orderBy("doc_id")),

    // CCNet-style line-level dedup over the dup-injected corpus. The
    // synthetic corpus has no newlines, so the entry first chunks each
    // doc into 8-word pseudo-lines (replacing every 8th space with \n —
    // the same rewrite the oracle applies); on real data the operator
    // consumes actual lines. Exact-dup docs lose every line; near-dup
    // docs keep only their divergent tail.
    "doc_line_dedup" -> ((s, dir) => {
      val ch = corpus(s, dir).withColumn("text",
        regexp_replace(col("text"), "((?:\\S+ ){7}\\S+) ", "$1\n"))
      TextAnalysis.lineDedup(ch, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Exact-substring span dedup (Lee et al. 2022 ExactSubstr) over the
    // dup-injected corpus: duplicated 8-token spans keep only their
    // first corpus occurrence; exact-dup docs collapse to empty, the
    // appended-tail dups keep only their novel tails.
    "doc_substring_dedup" -> ((s, dir) =>
      TextAnalysis.substringDedup(corpus(s, dir), "doc_id", "text", 8)
        .orderBy("doc_id")),

    // Concat-and-chunk sequence packing: the training-prep manifest
    // (one row per fixed-length training sequence with its doc span),
    // docs accounted to the sequence where they start.
    "doc_pack_sequences" -> ((s, dir) =>
      TextAnalysis.packSequences(Tables(s, dir, "documents"), "doc_id",
        "text", 512, 16)
        .orderBy("shard", "seq_id")),

    // Packing OFFSETS manifest: where each doc starts inside its
    // sequence (the loss-mask boundaries), same shard-bounded cumsum as
    // doc_pack_sequences so the two manifests stay consistent.
    "doc_pack_offsets" -> ((s, dir) =>
      TextAnalysis.packOffsets(Tables(s, dir, "documents"), "doc_id",
        "text", 512, 16)
        .orderBy("shard", "seq_id", "doc_id")),

    // Bigram-LM fluency score (the perplexity-filter stand-in): mean
    // corpus conditional probability of each doc's transitions, on an
    // exact pre-quantized grid.
    "doc_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramLmScore(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // CCNet head/middle/tail perplexity bucketing: bigram-LM score →
    // token-mass thirds, thresholds from the tiny distinct-score table
    // (no corpus sort), broadcast back. Wenzek et al. 2020 §4.3.
    "doc_ccnet_bucket" -> ((s, dir) =>
      TextAnalysis.ccnetBucket(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Per-doc top-3 distinctive terms: the TF-IDF ranking surface with
    // an integer-exact (tf DESC, df ASC, tok) ordering.
    "doc_top_terms" -> ((s, dir) =>
      TextAnalysis.topTerms(Tables(s, dir, "documents"), "doc_id", "text", 3)
        .orderBy("doc_id", "rank")),

    // Integer-exact unigram rarity signal (the hash-stable stand-in for
    // unigram log-prob quality scoring).
    "doc_token_rarity" -> ((s, dir) =>
      TextAnalysis.tokenRarity(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Corpus composition dashboard per (lang, source) incl. exact-dup
    // ratio — run over the dup-injected corpus joined back to metadata
    // so dup_ratio is nonzero.
    "doc_corpus_stats" -> ((s, dir) => {
      val meta = Tables(s, dir, "documents").select(col("doc_id").as("base_id"),
        col("lang"), col("source"), col("n_chars"))
      val c = corpus(s, dir).withColumn("base_id", col("doc_id") % 1000000)
        .join(meta, "base_id")
      TextAnalysis.corpusStats(c, "text", Seq("lang", "source"), "n_chars")
        .orderBy("lang", "source")
    }),

    // Exact-dedup keep-set materialization over the dup-injected corpus:
    // the canonical (min-id) row per distinct text.
    "doc_dedup_corpus" -> ((s, dir) =>
      Dedup.dedupedCorpus(corpus(s, dir), "doc_id", "text")
        .select("doc_id").orderBy("doc_id")),

    // NEAR-dedup keep-set: drop every doc with a confirmed smaller-id
    // near-duplicate (the MinHashLSH keep rule, end-to-end).
    "doc_near_dedup_corpus" -> ((s, dir) =>
      Dedup.nearDedupKeep(corpus(s, dir), "doc_id", "text")
        .select("doc_id").orderBy("doc_id")),

    // END-TO-END PIPELINE FLAGSHIP: the full training-set construction
    // chain as ONE composed plan — quality gate (Gopher-style minimum
    // length) → benchmark decontamination → exact dedup keep-one →
    // MinHash/LSH near-dedup keep → temperature-weighted mixture
    // sample — i.e. every stage a user of the individual lanes would
    // chain, chained. Stage ORDER is the 100 TB design: the pure-mapper
    // gates run first so the shuffling stages (exact: 1 content-hash
    // shuffle; LSH: banded buckets) see only survivors, and the tiny
    // (doc_id, source) survivor manifest is locally checkpointed
    // before the sampling-rates pass — the same stage boundary a
    // production pipeline would checkpoint — so the LSH subplan is
    // never re-executed for the per-stratum counts. The decontamination
    // anti-join references the quality frame twice (flag subquery +
    // main side); that duplicates only a scan + mapper filter, never
    // the heavy stages. Contamination here is a FRACTION rule — a doc
    // drops when >= half its distinct 3-gram shingles appear in the
    // benchmark set (exact-integer hit*2 >= nsh) — the production
    // convention (single-shingle overlap would nuke any corpus that
    // shares stock phrases with the benchmark; measured: it leaves 2
    // docs of ~460 on this corpus, vs 402 under the fraction rule with
    // every benchmark copy still dropped).
    "doc_e2e_pipeline" -> ((s, dir) => {
      val raw = corpus(s, dir)
      val bench = Tables(s, dir, "documents").filter(col("doc_id") < 50)
      val quality = raw.filter(size(split(col("text"), " ")) >= 30)
      val bsh = broadcast(bench.select(
        explode(Native.call("word_shingle_set", col("text"))).as("sh")).distinct())
      val contaminated = quality
        .select(col("doc_id"),
          Native.call("word_shingle_set", col("text")).as("__shs"))
        .select(col("doc_id"), size(col("__shs")).as("nsh"),
          explode(col("__shs")).as("sh"))
        .join(bsh, Seq("sh"), "left_semi")
        .groupBy("doc_id", "nsh").agg(count(lit(1)).as("hit"))
        .filter(col("hit") * 2 >= col("nsh"))
        .select("doc_id")
      val clean = quality.join(contaminated, Seq("doc_id"), "left_anti")
      // exact-dedup manifest, materialized ONCE: the near-dup stage
      // references it four times (signature pass, both confirm sides,
      // keep filter), and without the boundary each reference
      // re-executed the whole corpus→quality→decontaminate→exact chain
      // (r15 measured 37 Spark jobs / 4.9 s warm for this lane).
      // Texts are unique after the exact collapse, so the near stage
      // skips its own (now identity) exact-collapse wrapper.
      val exact = Dedup.dedupedCorpus(clean, "doc_id", "text")
        .transform(Materialize)
      val near = Dedup.nearDedupKeep(exact, "doc_id", "text",
        collapseExact = false)
      val meta = Tables(s, dir, "documents")
        .select(col("doc_id").as("base_id"), col("source"))
      // materialized: the sampler's per-source rate aggregate and its
      // keep join both read the survivors
      val survivors = near.withColumn("base_id", col("doc_id") % 1000000)
        .join(meta, "base_id")
        .select("doc_id", "source")
        .transform(Materialize)
      Sampling.temperatureSample(survivors, "doc_id", "source", 150L)
        .select("doc_id", "source")
        .orderBy("doc_id")
    }),

    // DEDUP QUALITY REPORT (the eval every dedup deployment runs before
    // trusting a keep-set): near-dup drops scored against the exact-dup
    // ground truth the injected corpus provides — TP (exact dups
    // caught), FN (exact dups missed), extra (near-only drops, i.e. the
    // +2e6 tail-extended copies only MinHash can see). All six integer
    // counts fold into ONE aggregate over a flag-tagged frame so the
    // MinHash/LSH drop-set subplan appears exactly once (the r7 shape —
    // six cross-joined scalar aggregates — re-evaluated it per branch).
    "doc_dedup_eval" -> ((s, dir) => {
      val c = corpus(s, dir)
      // LEFT OUTER against the keep-set, not LeftAnti for the drop-set:
      // Catalyst pushes semi/anti joins through the corpus Union, which
      // would clone the whole MinHash subplan into each of the three
      // union branches (measured 3× the plan, 17.6 s vs ~4 s at sf0.1).
      // Outer joins stay above the Union, so the pipeline runs ONCE and
      // "near-dropped" is simply "absent from the keep-set".
      val kept = Dedup.nearDedupKeep(c, "doc_id", "text")
        .select(col("doc_id"), lit(1L).as("kept"))
      // md5 shuffle key, not the full text — the dedupedCorpus
      // discipline; per-hash min as a window aggregate in the ONE
      // exchange the drop filter consumes (the groupBy + join-back form
      // executed the corpus-union + md5 subplan twice, once per
      // reference)
      val wh = org.apache.spark.sql.expressions.Window.partitionBy("__h")
      val exactDrop = c.select(md5(col("text")).as("__h"), col("doc_id"))
        .withColumn("canon", min("doc_id").over(wh))
        .filter(col("doc_id") > col("canon")).select("doc_id")
        .withColumn("exact", lit(1L))
      c.select("doc_id")
        .join(exactDrop, Seq("doc_id"), "left")
        .join(kept, Seq("doc_id"), "left")
        .agg(
          count(lit(1)).cast("long").as("n_docs"),
          coalesce(sum("exact"), lit(0L)).as("exact_drops"),
          coalesce(sum(when(col("kept").isNull, 1L).otherwise(0L)),
            lit(0L)).as("near_drops"),
          coalesce(sum(when(col("exact") === 1L && col("kept").isNull, 1L)
            .otherwise(0L)), lit(0L)).as("tp"),
          coalesce(sum(when(col("exact") === 1L && col("kept").isNotNull, 1L)
            .otherwise(0L)), lit(0L)).as("fn"),
          coalesce(sum(when(col("exact").isNull && col("kept").isNull, 1L)
            .otherwise(0L)), lit(0L)).as("extra"))
    }),

    // Cluster composition against the first-8-ids reference vectors:
    // max-cosine assignment, per-cluster count / mean / min cosine on
    // a pre-quantized grid (exact integer aggregation).
    "emb_cluster_stats" -> ((s, dir) =>
      Similarity.clusterStats(Tables(s, dir, "embeddings"), "vec_id", "embedding", 8)
        .orderBy("cid")),

    // Document-length histogram per language: 12 equi-width buckets over
    // each language's [min, max] char length (reuses the TS histogram
    // operator — corpus length-distribution dashboards are the same
    // shape).
    "doc_length_histogram" -> ((s, dir) =>
      graft.functions.TimeSeries.histogramOf(
          Tables(s, dir, "documents").withColumn("len", col("n_chars").cast("double")),
          Seq("lang"), "len", 12)
        .orderBy("lang", "bin")),

    // Domain-mixture table: per (source, lang) doc/token counts and the
    // two standard sampling weights (token-proportional and sqrt-
    // temperature) for training-set construction.
    "doc_domain_mix" -> ((s, dir) =>
      Sampling.domainMixture(Tables(s, dir, "documents"), "text", "source", "lang")
        .orderBy("source", "lang")),

    // Corpus-wide heavy hitters: top-50 word bigrams by total
    // occurrences (two-level partial agg; only (bigram, count) partials
    // shuffle, then a tiny global top-k).
    "doc_top_ngrams" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(split(col("text"), " ").as("t"))
        .filter(size(col("t")) >= 2)
      docs.select(explode(transform(sequence(lit(0), size(col("t")) - 2),
          i => concat_ws(" ", element_at(col("t"), i + 1), element_at(col("t"), i + 2))))
          .as("bg"))
        .groupBy("bg").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bg"))
        .limit(50)
    }),

    // int8 embedding quantization: qvec + scale + exact-integer
    // reconstruction-error metrics (the ANN storage-compression step).
    // qvec is serialized to a CSV string for the compare — the driver's
    // pandas row-sort cannot hash an array-typed column (r3's only
    // harness-broken entry); the values compared are unchanged.
    "emb_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables(s, dir, "embeddings"), "vec_id", "embedding")
        .withColumn("qvec",
          concat_ws(",", transform(col("qvec"), x => x.cast("string"))))
        .orderBy("vec_id")),

    "doc_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprintOf(Tables(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "emb_cosine_topk" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .orderBy("query_id", "rank")
    }),

    // int8-bound-prefiltered pair kernel (r9): prunes on a provably
    // recall-complete cosine upper bound, confirms survivors at full
    // precision — the SAME exact oracle staying green is the lane's
    // point: it hash-checks the bit-identity claim end to end. (The
    // kernel is opt-in elsewhere — measured slower than plain at every
    // scale on this data; see Similarity.semanticDedup's scaladoc.)
    "emb_cosine_dedup" -> ((s, dir) =>
      Similarity.cosineDedupPairsPrefiltered(Tables(s, dir, "embeddings"),
        "vec_id", "embedding", "label", 0.35)
        .orderBy("blk", "id_a", "id_b")),

    "emb_lsh_ann" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.lshAnn(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        numPlanes = 4, dims = 64, k = 10, numTables = 6)
        .orderBy("query_id", "rank")
    }),

    "emb_ivf_ann" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      // Integer-grid quantizer (exactIvfCentroids): training is a pure
      // relational program over the same parquet, so the DuckDB oracle
      // retrains the SAME centroids and the whole ANN lane hash-checks
      // (the float kmeans path stays the general library API). The
      // md5-sample bound is DERIVED from a cheap corpus count
      // (parquet-metadata count + ivfHexBound), so the entry survives
      // any sf without tripping the maxSample fail-fast; the oracle SQL
      // recomputes the identical bound from its own count(*). Two
      // bounded driver actions (count + capped sample collect);
      // ivfAnnExact launches no jobs at plan time (pinned in
      // PipelineSpec).
      val cents = Similarity.exactIvfCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 2, hexBound = Similarity.ivfHexBound(emb.count()))
      Similarity.ivfAnnExact(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        10, cents, nprobe = 3)
        .orderBy("query_id", "rank")
    }),

    // SemDeDup (Abbas et al. 2023): cluster-scoped semantic dedup over
    // the SAME exact integer-grid quantizer as emb_ivf_ann — the oracle
    // retrains identical centroids in SQL, replays the cell assignment,
    // and applies the same within-cell cosine keep rule, so the whole
    // corpus-pruning decision (vec_id, cell, kept) hash-checks.
    "emb_semantic_dedup" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val n = emb.count()
      // k grows with the corpus (target ~2500 vectors/cell) so the
      // quadratic within-cell stage stays decade-bounded; the oracle's
      // kv CTE derives the identical k from its own count(*)
      val k = math.max(8, math.ceil(n / 2500.0).toInt)
      val cents = Similarity.exactIvfCentroids(emb, "vec_id", "embedding",
        k = k, iters = 2, hexBound = Similarity.ivfHexBound(n))
      Similarity.semanticDedup(emb, "vec_id", "embedding", cents, 0.35)
        .orderBy("vec_id")
    }),

    // IVFADC composed ANN (Jégou §IV): coarse cells bound WHICH rows
    // are scored, PQ codes bound HOW, exact rerank restores recall —
    // every distance an exact integer, so cells, codes AND the final
    // ranking all hash-check against the retrained-in-SQL oracle.
    "emb_ivfadc_ann" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val hex = Similarity.ivfHexBound(emb.count())
      val cents = Similarity.exactIvfCentroids(emb, "vec_id", "embedding",
        k = 8, iters = 2, hexBound = hex)
      val books = Similarity.pqTrainExact(emb, "vec_id", "embedding",
        m = 8, k = 16, dims = 64, iters = 2, hexBound = hex)
      Similarity.ivfadcAnn(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        cents, books, topk = 10, nprobe = 3, rerank = 100)
        .orderBy("query_id", "rank")
    }),

    // Cell-scoped k-NN graph over the whole corpus (every vector a
    // query): same exact integer-grid quantizer, cells sized ~300 via
    // corpus-derived k so per-cell quadratic work stays constant; the
    // oracle retrains the centroids and replays pairing + quantized
    // ranking.
    "emb_knn_graph" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val n = emb.count()
      val k = math.max(8, math.ceil(n / 300.0).toInt)
      val cents = Similarity.exactIvfCentroids(emb, "vec_id", "embedding",
        k = k, iters = 2, hexBound = Similarity.ivfHexBound(n))
      Similarity.knnGraph(emb, "vec_id", "embedding", cents, 5)
        .orderBy("vec_id", "rank")
    }),

    // Cell-scoped k-NN graph through the TWO-LEVEL (coarse-quantizer)
    // assignment: cell target 6 forces k = ceil(n/6) > 64 at every
    // driver sf, so the √k-anchor path — the billion-scale IVF shape
    // that keeps assignment at n·2√k instead of the flat rule's
    // quadratic n·k (k ∝ n) — is oracle-checked end-to-end, not just
    // spec-pinned.
    "emb_knn_graph_coarse" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val n = emb.count()
      val k = math.max(8, math.ceil(n / 6.0).toInt)
      val cents = Similarity.exactIvfCentroids(emb, "vec_id", "embedding",
        k = k, iters = 2, hexBound = Similarity.ivfHexBound(n))
      Similarity.knnGraph(emb, "vec_id", "embedding", cents, 5,
        coarseAssign = true)
        .orderBy("vec_id", "rank")
    }),

    // Product quantization (Jégou et al. TPAMI'11): m=4 subspace
    // codebooks from the SAME exact integer-grid Lloyd trainer as
    // emb_ivf_ann — the oracle retrains all four codebooks in SQL and
    // replays the per-subspace argmin encode, so codes AND the summed
    // reconstruction error hash-check end to end.
    "emb_pq_quantize" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val books = Similarity.pqTrainExact(emb, "vec_id", "embedding",
        m = 8, k = 16, dims = 64, iters = 2, hexBound = Similarity.ivfHexBound(emb.count()))
      Similarity.pqEncode(emb, "vec_id", "embedding", books).orderBy("vec_id")
    }),

    // PQ asymmetric-distance top-k ANN with exact rerank of the ADC
    // top-100 (the IVFADC refinement step): corpus-wide work is the
    // code-lookup scan; only |Q|·100 candidate rows see vectors again.
    // All integers — the ranking itself hash-checks (no cosine-ulp risk).
    "emb_pq_ann" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val books = Similarity.pqTrainExact(emb, "vec_id", "embedding",
        m = 8, k = 16, dims = 64, iters = 2, hexBound = Similarity.ivfHexBound(emb.count()))
      Similarity.pqAnn(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        books, topk = 10, rerank = 100).orderBy("query_id", "rank")
    }),

    // MMR diversity selection (Carbonell & Goldstein SIGIR'98): greedy
    // diverse top-8 from a 20-candidate pool per query. Scores are
    // exact integers over 1e-4-quantized cosines, so the sequential
    // greedy replays pick-by-pick in the oracle's recursive CTE.
    "emb_mmr_diverse" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.mmrSelect(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        poolSize = 20, k = 8, lam10 = 7)
        .orderBy("query_id", "rank")
    }),

    // Sign-bit binary quantization + Hamming ANN (the faiss
    // IndexBinaryFlat shape): 64 float dims pack into ONE BIGINT via a
    // pure mapper; distance is XOR+popcount, ranking (hamming, id) is
    // exact integers end to end so the whole lane hash-checks.
    "emb_hamming_ann" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.hammingAnn(emb, emb.filter(col("vec_id") < 20), "vec_id", "embedding",
        dims = 64, k = 10)
        .orderBy("query_id", "rank")
    }),

    // ANN RECALL REPORT (the index-evaluation surface every ANN
    // deployment needs): per query |hamming-top10 ∩ exact-cosine-top10|
    // — both rankings are engine-exact (integer hamming, the cosine
    // ranking emb_cosine_topk already hash-checks), so the recall
    // counts themselves hash-check; no tolerance boolean needed.
    "emb_ann_recall" -> ((s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      val truth = Similarity.cosineTopK(emb, q, "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id")
      val ham = Similarity.hammingAnn(emb, q, "vec_id", "embedding", dims = 64, k = 10)
        .select("query_id", "neighbor_id")
      truth.join(ham, Seq("query_id", "neighbor_id"))
        .groupBy("query_id").agg(count(lit(1)).as("n_common"))
        .join(q.select(col("vec_id").as("query_id")), Seq("query_id"), "right")
        .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
        .withColumn("recall_pct", (col("n_common") * 10).cast("long"))
        .orderBy("query_id")
    }),

    // REAL image decode: construct genuine 24-bit BMPs from doc_id,
    // decode headers + average the actual pixel bytes; the oracle
    // recomputes geometry, byte size (incl. 4-byte row padding) and the
    // pixel mean from the same generating formula.
    "mm_bmp_decode" -> ((s, dir) => {
      val withBmp = Multimodal.withBmpBinary(
        Tables(s, dir, "documents").select("doc_id"), "doc_id")
      Multimodal.extractBmpMeta(withBmp, "doc_id").toDF()
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_bytes"),
          round(col("mean_px"), 6).as("mean_px"))
        .orderBy("doc_id")
    }),

    // REAL image resize: nearest-neighbor over actual BMP pixel bytes
    // (decode → sample → re-encode → re-decode); the oracle recomputes
    // the resized mean from the generating formula and the row-sampling
    // rule sy = floor(y·h/8).
    "mm_bmp_resize" -> ((s, dir) => {
      val withBmp = Multimodal.withBmpBinary(
        Tables(s, dir, "documents").select("doc_id"), "doc_id")
      Multimodal.extractBmpMeta(
          Multimodal.resizeBmpBatch(withBmp, "doc_id", 8, 8), "doc_id").toDF()
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_bytes"),
          round(col("mean_px"), 6).as("mean_px"))
        .orderBy("doc_id")
    }),

    // IMAGE perceptual-hash near-dup — the LAION-style image dedup
    // chain end-to-end on real bytes: a BMP corpus with controlled
    // single-pixel variants (k = id%50 content groups) → real decode +
    // nearest-neighbor 8×8 downsample → average-hash (exact-integer
    // px·64 > Σpx bits, one BIGINT per image leaves the scan) →
    // EXACT-CLASS COLLAPSE (one representative per distinct hash — the
    // dedupedCorpus discipline applied to signature space; a crawl
    // corpus is mass-duplicated, and without the collapse the
    // pigeonhole buckets grow with corpus size: measured 1963-doc
    // buckets at sf0.1 vs 290 distinct hashes) → Manku pigeonhole
    // Hamming 1..3 pairs between class representatives (4 × 16-bit
    // blocks; never all-pairs). Member expansion is one equijoin on
    // ahash when needed; the keep-set lane makes that decision. The
    // oracle replays generator + sampling rule + hash packing in SQL
    // and confirms with a full O(n²) scan over classes — exhaustive
    // truth vs the blocked path, which pigeonhole makes exact at d ≤ 3.
    "mm_image_phash_pairs" -> ((s, dir) => {
      val imgs = Multimodal.withBmpVariantBinary(
        Tables(s, dir, "documents").select("doc_id"), "doc_id")
      val hashes = Multimodal.aHash8Batch(
        Multimodal.resizeBmpBatch(imgs, "doc_id", 8, 8), "doc_id")
      val reps = hashes.groupBy("ahash").agg(min("doc_id").as("doc_id"))
      Dedup.sigHammingPairs(reps, "doc_id", "ahash", 64, 3)
        .orderBy("id_a", "id_b")
    }),

    // DCT perceptual hash (pHash — the LAION-class standard next to
    // aHash): 32×32 luma → integer DCT-II with a LITERAL quantized
    // basis (the same table spliced into the SQL oracle, so both
    // engines do identical exact-integer arithmetic) → 8×8 low band →
    // bit per AC coefficient vs their lower-median. Fixture: 50
    // md5-block-pattern classes; variants are contrast-scaled with one
    // block grayed — measured variant-base hamming ≤ 8 vs cross-class
    // ≥ 18, so d = 6 cleanly separates and the Manku pigeonhole
    // (7 blocks) is exact. Same rep-collapse + bucket machinery as the
    // aHash lane; oracle replays generator, resize, DCT, median, hash
    // packing, and confirms with the exhaustive O(n²) scan.
    "mm_image_phash_dct" -> ((s, dir) => {
      val imgs = Multimodal.withBmpContrastBinary(
        Tables(s, dir, "documents").select("doc_id"), "doc_id")
      val hashes = Multimodal.dctHash32Batch(
        Multimodal.resizeBmpBatch(imgs, "doc_id", 32, 32), "doc_id")
      val reps = hashes.groupBy("phash").agg(min("doc_id").as("doc_id"))
      Dedup.sigHammingPairs(reps, "doc_id", "phash", 64, 6)
        .orderBy("id_a", "id_b")
    }),

    // Image dedup KEEP-SET — the pairs lane carried to its decision:
    // class-representative phash pairs → connected components over the
    // pair list (the generic min-label dupGroups; pairs ≪ corpus) →
    // keep the component-min representative plus every unpaired
    // representative; exact-hash class members (non-min) drop
    // implicitly. Output-identical to running CC over member-level
    // pairs (classes are distance-0 cliques, so components and their
    // minima coincide), but the buckets see only distinct hashes —
    // the mass-duplication-proof shape.
    "mm_image_dedup_keep" -> ((s, dir) => {
      val imgs = Multimodal.withBmpVariantBinary(
        Tables(s, dir, "documents").select("doc_id"), "doc_id")
      val hashes = Multimodal.aHash8Batch(
        Multimodal.resizeBmpBatch(imgs, "doc_id", 8, 8), "doc_id")
      // materialized (ahash, keep-id) manifest: both the Hamming pair
      // pass and the final keep filter reference reps, each of which
      // would otherwise re-run the BMP synth + decode + resize + hash
      val reps = hashes.groupBy("ahash").agg(min("doc_id").as("doc_id"))
        .transform(Materialize)
      val pairs = Dedup.sigHammingPairs(reps, "doc_id", "ahash", 64, 3)
      val groups = Dedup.dupGroups(pairs, "id_a", "id_b")
      reps.select("doc_id").join(groups, Seq("doc_id"), "left")
        .filter(col("group_id").isNull || col("doc_id") === col("group_id"))
        .select("doc_id").orderBy("doc_id")
    }),

    // REAL audio decode: construct genuine PCM16 RIFF/WAV bytes from
    // doc_id, walk the chunk structure, and average |sample| over the
    // actual PCM payload; the oracle recomputes rate/count/mean-abs
    // from the same generating formula. mean_abs is an exact integer
    // sum divided by the same n on both sides — no rounding needed.
    "mm_wav_decode" -> ((s, dir) => {
      val withWav = Multimodal.withWavBinary(
        Tables(s, dir, "documents").select("doc_id"), "doc_id")
      Multimodal.extractWavMeta(withWav, "doc_id").toDF()
        .select(col("doc_id"), col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"), col("bits").cast("long").as("bits"),
          col("n_samples"), col("mean_abs"))
        .orderBy("doc_id")
    }),

    // REAL audio feature extraction over the PCM payload: peak, sign
    // changes, RMS (sqrt of exact Σs²/n, floor-quantized); the oracle
    // regenerates the samples from the formula.
    "mm_wav_features" -> ((s, dir) => {
      val withWav = Multimodal.withWavBinary(
        Tables(s, dir, "documents").select("doc_id"), "doc_id")
      Multimodal.extractWavFeatures(withWav, "doc_id").toDF()
        .orderBy("doc_id")
    }),

    // REAL video frame-sampling: construct genuine YUV4MPEG2 streams
    // from doc_id, walk the FRAME markers, and average the luma plane
    // of every 2nd frame (skipped frames are seeked, not read); the
    // oracle recomputes geometry, frame count and sampled-frame means
    // from the same generating formula.
    "mm_video_frames" -> ((s, dir) => {
      val withVid = Multimodal.withY4mBinary(
        Tables(s, dir, "documents").select("doc_id"), "doc_id")
      Multimodal.extractY4mFrames(withVid, "doc_id", every = 2).toDF()
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_frames"),
          round(col("mean_y"), 6).as("mean_y"))
        .orderBy("doc_id", "frame_idx")
    }),

    // REAL audio resample: decode actual PCM bytes, decimate ×2,
    // re-encode at half rate, re-decode — the oracle recomputes rate,
    // count and mean |amplitude| from the generating formula over the
    // strided index set.
    "mm_wav_resample" -> ((s, dir) => {
      val withWav = Multimodal.withWavBinary(
        Tables(s, dir, "documents").select("doc_id"), "doc_id")
      Multimodal.extractWavMeta(
          Multimodal.resampleWavBatch(withWav, "doc_id", 2), "doc_id").toDF()
        .select(col("doc_id"), col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"), col("bits").cast("long").as("bits"),
          col("n_samples"), col("mean_abs"))
        .orderBy("doc_id")
    }),

    "mm_binary_meta" -> ((s, dir) => {
      val docs = Multimodal.withFakeBinary(Tables(s, dir, "documents"), "doc_id", "text")
      Multimodal.extractMeta(docs, "doc_id").toDF()
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_bytes"))
        .orderBy("doc_id")
    })
  )

  /** Full SQL oracle for the LSH ANN: the hyperplane matrix is
    * deterministic (md5-derived), so its literal components are embedded
    * in the SQL and DuckDB recomputes bucketing, candidate generation,
    * and cosine ranking end-to-end — the rows-only check becomes a
    * hash-level one. Mirrors lshAnn(numPlanes=4, dims=64, k=10,
    * numTables=6) over queries vec_id < 20.
    */
  private def lshOracle: String = {
    val (numPlanes, numTables, dims, k) = (4, 6, 64, 10)
    def bucketExpr(t: Int): String = (0 until numPlanes).map { p =>
      val plane = t * numPlanes + p
      val comps = (0 until dims).map(d => Similarity.planeComponent(plane, d))
        .mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(embedding::DOUBLE[], $comps) > 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString(" + ")
    val cbBranches = (0 until numTables).map(t =>
      s"SELECT vec_id, $t AS tbl, ${bucketExpr(t)} AS bucket FROM embeddings")
      .mkString("\nUNION ALL ")
    s"""WITH cb AS (
       |$cbBranches),
       |qb AS (SELECT * FROM cb WHERE vec_id < 20),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM qb q JOIN cb c ON q.tbl = c.tbl AND q.bucket = c.bucket
       |  WHERE c.vec_id <> q.vec_id),
       |scored AS (
       |  SELECT cand.query_id, cand.neighbor_id,
       |    list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos
       |  FROM cand
       |  JOIN embeddings q ON q.vec_id = cand.query_id
       |  JOIN embeddings c ON c.vec_id = cand.neighbor_id)
       |SELECT query_id, neighbor_id, floor(cos * 1e4) / 1e4 AS cos, rank FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |WHERE rank <= $k ORDER BY query_id, rank""".stripMargin
  }

  /** Full SQL oracle for the exact-IVF ANN: the quantizer TRAINING is
    * re-run inside the SQL — md5-prefix sample (bound recomputed from
    * count(*) by the same ivfHexBound rule the Spark entry uses),
    * md5-ordered init, two unrolled Lloyd rounds on the 1e-6 integer
    * grid with floor(sum/count) recentering — so DuckDB retrains the
    * exact centroids `exactIvfCentroids` computes driver-side, then
    * replays cell assignment, probe selection and cosine ranking. Every
    * distance up to and including cell/probe selection is an exact
    * integer (components floor-quantized, terms ≤ 2⁵²), so the engines
    * cannot diverge there; the FINAL ranking, like emb_lsh_ann's,
    * orders by the raw double cosine and therefore relies on both
    * engines evaluating dot/norm/sqrt in the same IEEE order — the
    * 1e-4 floor grid plus the integer neighbor-id tiebreak makes a
    * ulp-flip unlikely but not impossible (same accepted risk as the
    * emb_lsh_ann oracle). Mirrors exactIvfCentroids(k=8, iters=2,
    * hexBound=ivfHexBound(n)) + ivfAnnExact(k=10, nprobe=3) over
    * queries vec_id < 20.
    */
  private def intDistSql(vq: String, cq: String): String =
    s"CAST(list_dot_product($vq, $vq) - 2 * list_dot_product($vq, $cq)" +
      s" + list_dot_product($cq, $cq) AS BIGINT)"

  /** The exact-centroid training + corpus cell-assignment CTE chain
    * (ends in `cc(neighbor_id, c_vec, cell)`), shared by the IVF ANN
    * oracle and the SemDeDup oracle — both mirror
    * exactIvfCentroids(k, iters, hexBound=ivfHexBound(n)) +
    * assignExactCells on the Spark side.
    */
  /** `AS MATERIALIZED` throughout (r13): DuckDB INLINES a plain CTE at
    * every reference — `q` (5 refs) and `cc`/`cc2` (2 refs each) were
    * re-planned per reference, compounding into a plan that ate >120 GB
    * at sf10 where the same stages, materialized, run in ~60 s with
    * hundreds of MB (BENCH_SCALING r13 bisect). `includeCc=false` lets
    * the coarse-assignment lane omit the flat n×k `cc` entirely (its
    * 8×10⁸-row product at sf10 must not even exist as dead SQL once
    * CTEs are materialized — a materialized CTE is evaluated whether
    * referenced or not).
    */
  private def ivfCellCtes(kSql: String, iters: Int, extraCtes: String = "",
                          includeCc: Boolean = true): String = {
    def d(vq: String, cq: String): String = intDistSql(vq, cq)
    def lloyd(i: Int, prev: String): String =
      s"""a$i AS MATERIALIZED (
         |  SELECT s.mh, s.vq, w.cell FROM (
         |    SELECT mh, (min({'d': dd, 'cell': cell})).cell AS cell FROM (
         |      SELECT s.mh, c.cell, ${d("s.vq", "c.cq")} AS dd
         |      FROM samp s CROSS JOIN $prev c) GROUP BY mh) w
         |  JOIN samp s ON s.mh = w.mh),
         |r$i AS MATERIALIZED (
         |  SELECT cell, j, floor(sum(vq[j]) / count(*)) AS cj
         |  FROM a$i, LATERAL (SELECT unnest(generate_series(1, len(vq))) AS j) u
         |  GROUP BY cell, j),
         |c$i AS MATERIALIZED (
         |  SELECT p.cell, coalesce(n.cq, p.cq) AS cq
         |  FROM $prev p LEFT JOIN
         |    (SELECT cell, list(cj ORDER BY j) AS cq FROM r$i GROUP BY cell) n
         |    ON n.cell = p.cell)""".stripMargin
    val rounds = (1 to iters).map(i => lloyd(i, if (i == 1) "init" else s"c${i - 1}"))
      .mkString(",\n")
    val ccCte = if (!includeCc) "" else s""",
       |cc AS MATERIALIZED (
       |  SELECT q.vec_id AS neighbor_id, q.v AS c_vec, w.cell FROM (
       |    SELECT vec_id, (min({'d': dd, 'cell': cell})).cell AS cell FROM (
       |      SELECT e.vec_id, c.cell, ${d("e.vq", "c.cq")} AS dd
       |      FROM q e CROSS JOIN c$iters c) GROUP BY vec_id) w
       |  JOIN q ON q.vec_id = w.vec_id)""".stripMargin
    s"""q AS MATERIALIZED (
       |  SELECT vec_id, embedding::DOUBLE[] AS v,
       |    list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS vq
       |  FROM embeddings),
       |bnd AS (
       |  SELECT CASE WHEN floor(4096.0 * 4294967296.0 / count(*)) >= 4294967296.0
       |    THEN 'g'
       |    ELSE printf('%08x', GREATEST(1, CAST(floor(4096.0 * 4294967296.0
       |      / count(*)) AS BIGINT))) END AS hb
       |  FROM q),
       |${extraCtes}samp AS MATERIALIZED (
       |  SELECT md5(CAST(vec_id AS VARCHAR)) AS mh, vq
       |  FROM q, bnd WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, len(bnd.hb))
       |    < bnd.hb),
       |init AS MATERIALIZED (
       |  SELECT cell, vq AS cq FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY mh) - 1 AS BIGINT) AS cell, vq
       |    FROM samp) WHERE cell < $kSql),
       |$rounds$ccCte""".stripMargin
  }

  /** Exact shingle-overlap decontamination, shared by the plain and
    * bloom-prefiltered lanes (the prefilter never changes the answer —
    * blooms have no false negatives and every hit is re-confirmed).
    */
  private def decontaminateOracle: String =
    s"""WITH $CORPUS,
       |bsh AS (
       |  SELECT DISTINCT t[j] || ' ' || t[j+1] || ' ' || t[j+2] AS sh
       |  FROM (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id < 50),
       |    LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS j) u),
       |csh AS (
       |  SELECT DISTINCT doc_id, t[j] || ' ' || t[j+1] || ' ' || t[j+2] AS sh
       |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
       |    LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS j) u),
       |bad AS (SELECT DISTINCT c.doc_id FROM csh c JOIN bsh b ON c.sh = b.sh)
       |SELECT corpus.doc_id AS doc_id, bad.doc_id IS NOT NULL AS contaminated
       |FROM corpus LEFT JOIN bad ON corpus.doc_id = bad.doc_id
       |ORDER BY doc_id""".stripMargin

  /** Two-level cell assignment as CTEs (replaces `cc` for the k > 64
    * path): anchors = first kc = ⌈√|centroids|⌉ trained centroids,
    * each centroid grouped under its (d, anchor)-argmin anchor, each
    * vector resolved anchor-first then (d, GLOBAL cell)-argmin within
    * the group — mirrors Similarity.assignExactCellsCoarse /
    * VectorKernels.nearestCell2l term for term (kc derives from the
    * TRAINED table's count, exactly centroids.length on the Spark
    * side).
    */
  private def coarseCcCtes(cK: String): String = {
    def d(a: String, b: String): String = intDistSql(a, b)
    // Every argmin is the payload-free streaming form — (id, key, d)
    // scalars into min(STRUCT), vectors joined back by id afterwards —
    // including cgrp, whose r12 spelling ran a row_number window over
    // the k×kc centroid-anchor product WITH both list payloads (the
    // exact argmin-over-join spill pattern that killed the sf1 oracle
    // before r12 and this one at sf10 — VERDICT r12 #3): at sf10 that
    // sort held ~2.4e7 rows × ~1 KB of lists. vg is likewise slimmed to
    // (vec_id, grp); the ~n·√k assignment rows now carry only scalars
    // into their GROUP BYs.
    s"""kcv AS (SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS kc FROM $cK),
       |anch AS MATERIALIZED (
       |  SELECT cell AS aj, cq AS acq FROM $cK, kcv WHERE cell < kcv.kc),
       |cgrp AS MATERIALIZED (
       |  SELECT c.cell, c.cq, w.grp FROM (
       |    SELECT cell, (min({'d': dd, 'aj': aj})).aj AS grp FROM (
       |      SELECT c.cell, a.aj, ${d("c.cq", "a.acq")} AS dd
       |      FROM $cK c CROSS JOIN anch a) GROUP BY cell) w
       |  JOIN $cK c ON c.cell = w.cell),
       |vg AS MATERIALIZED (
       |  SELECT vec_id, (min({'d': dd, 'aj': aj})).aj AS grp FROM (
       |    SELECT e.vec_id, a.aj, ${d("e.vq", "a.acq")} AS dd
       |    FROM q e CROSS JOIN anch a) GROUP BY vec_id),
       |cc2 AS MATERIALIZED (
       |  SELECT q2.vec_id AS neighbor_id, q2.v AS c_vec, w.cell FROM (
       |    SELECT vec_id, (min({'d': dd, 'cell': cell})).cell AS cell FROM (
       |      SELECT e.vec_id, g.cell, ${d("e.vq", "g.cq")} AS dd
       |      FROM (SELECT q.vec_id, q.vq, vg.grp
       |            FROM q JOIN vg ON vg.vec_id = q.vec_id) e
       |      JOIN cgrp g ON g.grp = e.grp) GROUP BY vec_id) w
       |  JOIN q q2 ON q2.vec_id = w.vec_id)""".stripMargin
  }

  /** k-NN graph oracle through the TWO-LEVEL assignment (cell target 6
    * forces k = ⌈n/6⌉ > 64 at every driver sf, so this lane pins the
    * coarse path end-to-end against DuckDB — the flat-path lanes
    * (`emb_knn_graph`, `emb_semantic_dedup`) never leave k ≤ 16 at
    * driver scales).
    */
  private def knnGraphCoarseOracle: String =
    s"""WITH ${ivfCellCtes("(SELECT kk FROM kv)", 2,
         "kv AS (\n  SELECT GREATEST(8, CAST(ceil(count(*) / 6.0) AS BIGINT)) AS kk\n  FROM q),\n",
         includeCc = false)},
       |${coarseCcCtes("c2")},
       |e AS (
       |  SELECT a.neighbor_id AS vec_id, b.neighbor_id AS nbr,
       |    floor(list_cosine_similarity(a.c_vec, b.c_vec) * 1e4) / 1e4 AS cos
       |  FROM cc2 a JOIN cc2 b ON b.cell = a.cell AND b.neighbor_id <> a.neighbor_id)
       |SELECT vec_id, rank, nbr AS neighbor_id, cos FROM (
       |  SELECT vec_id, nbr, cos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rank
       |  FROM e)
       |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin

  private def ivfOracle: String = {
    val (iters, nprobe, topk) = (2, 3, 10)
    def d(vq: String, cq: String): String = intDistSql(vq, cq)
    s"""WITH ${ivfCellCtes("8", iters)},
       |qp AS (
       |  SELECT query_id, q_vec, cell FROM (
       |    SELECT e.vec_id AS query_id, e.v AS q_vec, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d("e.vq", "c.cq")}, c.cell) AS rn
       |    FROM q e CROSS JOIN c$iters c WHERE e.vec_id < 20)
       |  WHERE rn <= $nprobe),
       |scored AS (
       |  SELECT p.query_id, cc.neighbor_id,
       |    list_cosine_similarity(p.q_vec, cc.c_vec) AS cos
       |  FROM qp p JOIN cc ON cc.cell = p.cell AND cc.neighbor_id <> p.query_id)
       |SELECT query_id, neighbor_id, floor(cos * 1e4) / 1e4 AS cos, rank FROM (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)
       |      AS rank
       |  FROM scored)
       |WHERE rank <= $topk ORDER BY query_id, rank""".stripMargin
  }

  /** SemDeDup oracle: shared centroid CTEs + the within-cell cosine
    * keep rule. The kept flag compares the raw double cosine at the
    * threshold, same accepted ulp risk as the emb_cosine_dedup oracle.
    * k is CORPUS-DERIVED (max(8, ceil(n/2500)) — the kv CTE) exactly as
    * the Spark entry derives it, so cells stay ~2500 vectors at any sf
    * and the quadratic within-cell stage never outgrows a decade.
    */
  private def semDedupOracle: String =
    s"""WITH ${ivfCellCtes("(SELECT kk FROM kv)", 2,
         "kv AS (\n  SELECT GREATEST(8, CAST(ceil(count(*) / 2500.0) AS BIGINT)) AS kk\n  FROM q),\n")},
       |pr AS (
       |  SELECT DISTINCT b.neighbor_id AS id_b
       |  FROM cc a JOIN cc b ON a.cell = b.cell AND a.neighbor_id < b.neighbor_id
       |  WHERE list_cosine_similarity(a.c_vec, b.c_vec) >= 0.35)
       |SELECT cc.neighbor_id AS vec_id, cc.cell, (pr.id_b IS NULL) AS kept
       |FROM cc LEFT JOIN pr ON pr.id_b = cc.neighbor_id
       |ORDER BY vec_id""".stripMargin

  /** k-NN graph oracle: shared centroid training + cell assignment,
    * then within-cell pairing and (quantized cosine DESC, neighbor)
    * ranking — k derived from count(*) by the same n/300 rule as the
    * Spark entry. Ranking on the 1e-4-floored cosine mirrors the Spark
    * side exactly (same accepted grid-boundary ulp risk as the other
    * emb_* oracles).
    */
  private def knnGraphOracle: String =
    s"""WITH ${ivfCellCtes("(SELECT kk FROM kv)", 2,
         "kv AS (\n  SELECT GREATEST(8, CAST(ceil(count(*) / 300.0) AS BIGINT)) AS kk\n  FROM q),\n")},
       |e AS (
       |  SELECT a.neighbor_id AS vec_id, b.neighbor_id AS nbr,
       |    floor(list_cosine_similarity(a.c_vec, b.c_vec) * 1e4) / 1e4 AS cos
       |  FROM cc a JOIN cc b ON b.cell = a.cell AND b.neighbor_id <> a.neighbor_id)
       |SELECT vec_id, rank, nbr AS neighbor_id, cos FROM (
       |  SELECT vec_id, nbr, cos,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr) AS rank
       |  FROM e)
       |WHERE rank <= 5 ORDER BY vec_id, rank""".stripMargin

  /** One PQ subspace's full relational program: slice+quantize →
    * md5-prefix sample → md5-ordered init → `iters` unrolled Lloyd
    * rounds → per-vector argmin encode (`asg$j(vec_id, code, d)`).
    * Mirrors pqTrainExact/pqEncode for subspace j over columns
    * [a..b] (1-based inclusive — DuckDB list slice = Spark `slice`).
    */
  private def pqSubCtes(j: Int, a: Int, b: Int, k: Int, iters: Int): String = {
    def d(vq: String, cq: String): String = intDistSql(vq, cq)
    def lloyd(i: Int, prev: String): String =
      s"""a${j}_$i AS MATERIALIZED (
         |  SELECT mh, vq, cell FROM (
         |    SELECT s.mh, s.vq, c.cell,
         |      row_number() OVER (PARTITION BY s.mh
         |        ORDER BY ${d("s.vq", "c.cq")}, c.cell) AS rn
         |    FROM samp$j s CROSS JOIN $prev c)
         |  WHERE rn = 1),
         |r${j}_$i AS MATERIALIZED (
         |  SELECT cell, jj, floor(sum(vq[jj]) / count(*)) AS cj
         |  FROM a${j}_$i, LATERAL (SELECT unnest(generate_series(1, len(vq))) AS jj) u
         |  GROUP BY cell, jj),
         |c${j}_$i AS MATERIALIZED (
         |  SELECT p.cell, coalesce(n.cq, p.cq) AS cq
         |  FROM $prev p LEFT JOIN
         |    (SELECT cell, list(cj ORDER BY jj) AS cq FROM r${j}_$i GROUP BY cell) n
         |    ON n.cell = p.cell)""".stripMargin
    val rounds = (1 to iters).map(i => lloyd(i, if (i == 1) s"init$j" else s"c${j}_${i - 1}"))
      .mkString(",\n")
    s"""qs$j AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform((embedding::DOUBLE[])[$a:$b], x -> floor(x * 1000000.0)) AS vq
       |  FROM embeddings),
       |samp$j AS MATERIALIZED (
       |  SELECT md5(CAST(vec_id AS VARCHAR)) AS mh, vq
       |  FROM qs$j, bnd WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, len(bnd.hb))
       |    < bnd.hb),
       |init$j AS MATERIALIZED (
       |  SELECT cell, vq AS cq FROM (
       |    SELECT CAST(row_number() OVER (ORDER BY mh) - 1 AS BIGINT) AS cell, vq
       |    FROM samp$j) WHERE cell < $k),
       |$rounds,
       |asg$j AS MATERIALIZED (
       |  SELECT vec_id, code, d FROM (
       |    SELECT e.vec_id, c.cell AS code, ${d("e.vq", "c.cq")} AS d,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d("e.vq", "c.cq")}, c.cell) AS rn
       |    FROM qs$j e CROSS JOIN c${j}_$iters c)
       |  WHERE rn = 1)""".stripMargin
  }

  /** The shipped PQ config: m=8 subspaces × k=16 codes over 64 dims,
    * ADC top-100 rerank. Chosen on the clustered synthetic corpus
    * (recall@10 0.76 vs 0.28 at m=4/k=8/rerank=50 — tight clusters tie
    * coarse codes, so finer codebooks + refinement carry the recall).
    */
  private val PqM = 8
  private val PqK = 16
  private val PqIters = 2
  private val PqRerank = 100

  /** Shared PQ preamble: sample bound + the m subspace programs + the
    * joined per-vector code row.
    */
  private def pqCtes(m: Int, k: Int, iters: Int, includeBnd: Boolean = true): String = {
    val sub = 64 / m
    val subs = (0 until m).map(j => pqSubCtes(j, j * sub + 1, (j + 1) * sub, k, iters))
      .mkString(",\n")
    val codeCols = (0 until m).map(j => s"a$j.code AS code_$j").mkString(", ")
    val reconSum = (0 until m).map(j => s"a$j.d").mkString(" + ")
    val joins = "asg0 a0" + (1 until m).map(j => s" JOIN asg$j a$j USING (vec_id)").mkString
    // `bnd` is byte-identical to ivfCellCtes' bnd (same count, same
    // rule); the composed IVFADC oracle includes it only once
    val bnd = if (includeBnd)
      s"""bnd AS MATERIALIZED (
         |  SELECT CASE WHEN floor(4096.0 * 4294967296.0 / count(*)) >= 4294967296.0
         |    THEN 'g'
         |    ELSE printf('%08x', GREATEST(1, CAST(floor(4096.0 * 4294967296.0
         |      / count(*)) AS BIGINT))) END AS hb
         |  FROM embeddings),
         |""".stripMargin
    else ""
    s"""$bnd$subs,
       |codes AS MATERIALIZED (
       |  SELECT a0.vec_id, $codeCols,
       |    $reconSum AS recon_err
       |  FROM $joins)""".stripMargin
  }

  private def pqQuantizeOracle: String = {
    val codeCols = (0 until PqM).map(j => s"code_$j").mkString(", ")
    s"""WITH ${pqCtes(PqM, PqK, PqIters)}
       |SELECT vec_id, $codeCols, recon_err
       |FROM codes ORDER BY vec_id""".stripMargin
  }

  private def pqAnnOracle: String = {
    def d(vq: String, cq: String): String = intDistSql(vq, cq)
    val dts = (0 until PqM).map(j =>
      s"""dt$j AS MATERIALIZED (
         |  SELECT q.vec_id AS query_id, c.cell AS code, ${d("q.vq", "c.cq")} AS d
         |  FROM qs$j q CROSS JOIN c${j}_$PqIters c WHERE q.vec_id < 20)""".stripMargin)
      .mkString(",\n")
    val adistSum = (0 until PqM).map(j => s"d$j.d").mkString(" + ")
    val dtJoins = "JOIN dt0 d0 ON d0.code = c.code_0" +
      (1 until PqM).map(j =>
        s"\n  JOIN dt$j d$j ON d$j.query_id = d0.query_id AND d$j.code = c.code_$j").mkString
    s"""WITH ${pqCtes(PqM, PqK, PqIters)},
       |$dts,
       |scored AS MATERIALIZED (
       |  SELECT d0.query_id, c.vec_id AS neighbor_id,
       |    $adistSum AS adist
       |  FROM codes c
       |  $dtJoins
       |  WHERE c.vec_id <> d0.query_id),
       |cand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS arank
       |    FROM scored)
       |  WHERE arank <= $PqRerank),
       |qf AS MATERIALIZED (
       |  SELECT vec_id, list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS vq
       |  FROM embeddings),
       |ex AS (
       |  SELECT c.query_id, c.neighbor_id, ${d("cv.vq", "qv.vq")} AS adist
       |  FROM cand c
       |  JOIN qf cv ON cv.vec_id = c.neighbor_id
       |  JOIN qf qv ON qv.vec_id = c.query_id)
       |SELECT query_id, neighbor_id, adist, rank FROM (
       |  SELECT query_id, neighbor_id, adist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
       |  FROM ex)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  /** IVFADC composed oracle: coarse training + cell assignment
    * (ivfCellCtes, which also supplies `bnd`) + PQ codebook training /
    * encode (pqCtes without its duplicate `bnd`) + query probes + ADC
    * within probed cells + exact rerank. Every distance exact-integer.
    */
  private def ivfadcOracle: String = {
    val (iters, nprobe, topk) = (2, 3, 10)
    def d(vq: String, cq: String): String = intDistSql(vq, cq)
    val dts = (0 until PqM).map(j =>
      s"""dt$j AS MATERIALIZED (
         |  SELECT q.vec_id AS query_id, c.cell AS code, ${d("q.vq", "c.cq")} AS d
         |  FROM qs$j q CROSS JOIN c${j}_$PqIters c WHERE q.vec_id < 20)""".stripMargin)
      .mkString(",\n")
    val adistSum = (0 until PqM).map(j => s"d$j.d").mkString(" + ")
    val dtJoins = "JOIN dt0 d0 ON d0.query_id = p.query_id AND d0.code = c.code_0" +
      (1 until PqM).map(j =>
        s"\n  JOIN dt$j d$j ON d$j.query_id = p.query_id AND d$j.code = c.code_$j").mkString
    s"""WITH ${ivfCellCtes("8", iters)},
       |${pqCtes(PqM, PqK, PqIters, includeBnd = false)},
       |$dts,
       |qp AS MATERIALIZED (
       |  SELECT query_id, cell FROM (
       |    SELECT e.vec_id AS query_id, c.cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${d("e.vq", "c.cq")}, c.cell) AS rn
       |    FROM q e CROSS JOIN c$iters c WHERE e.vec_id < 20)
       |  WHERE rn <= $nprobe),
       |scored AS MATERIALIZED (
       |  SELECT p.query_id, c.vec_id AS neighbor_id, $adistSum AS adist
       |  FROM qp p
       |  JOIN cc ON cc.cell = p.cell
       |  JOIN codes c ON c.vec_id = cc.neighbor_id
       |  $dtJoins
       |  WHERE c.vec_id <> p.query_id),
       |cand AS MATERIALIZED (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adist, neighbor_id) AS arank
       |    FROM scored)
       |  WHERE arank <= $PqRerank),
       |qf AS MATERIALIZED (
       |  SELECT vec_id, vq FROM q),
       |ex AS (
       |  SELECT c.query_id, c.neighbor_id, ${d("cv.vq", "qv.vq")} AS adist
       |  FROM cand c
       |  JOIN qf cv ON cv.vec_id = c.neighbor_id
       |  JOIN qf qv ON qv.vec_id = c.query_id)
       |SELECT query_id, neighbor_id, adist, rank FROM (
       |  SELECT query_id, neighbor_id, adist,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id)
       |      AS rank
       |  FROM ex)
       |WHERE rank <= $topk ORDER BY query_id, rank""".stripMargin
  }

  /** One side's minhash chain (tokens → shingles → rotated-digest
    * signatures → band hashes → shingle-set sizes), CTE names suffixed
    * `p` — the two-corpus generalization of MINHASH_CTES for the
    * incremental-dedup oracle.
    */
  private def minhashChain(src: String, p: String): String =
    s"""toks$p AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
       |sh$p AS (
       |  SELECT DISTINCT doc_id,
       |    t[j] || ' ' || t[j+1] || ' ' || t[j+2] AS sh
       |  FROM toks$p, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS j) u),
       |sig$p AS (
       |  SELECT doc_id, seed,
       |    min(substr(md5(sh), seed * 4 + 1) || substr(md5(sh), 1, seed * 4)) AS mh
       |  FROM sh$p, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed) v
       |  GROUP BY doc_id, seed),
       |bh$p AS (
       |  SELECT doc_id, seed // 4 AS band,
       |    md5(string_agg(mh, '|' ORDER BY seed)) AS band_hash
       |  FROM sig$p GROUP BY doc_id, seed // 4),
       |sz$p AS (SELECT doc_id, count(*) AS sz FROM sh$p GROUP BY doc_id)""".stripMargin

  private def incrementalDedupOracle: String =
    s"""WITH inc AS (
       |  SELECT doc_id + 5000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
       |  UNION ALL SELECT doc_id + 6000000, text || ' fresh appended tail words'
       |    FROM documents WHERE doc_id % 5 = 0
       |  UNION ALL SELECT doc_id + 7000000, substr(text, 1, 60)
       |    FROM documents WHERE doc_id % 7 = 0),
       |${minhashChain("documents", "E")},
       |${minhashChain("inc", "I")},
       |cand AS (
       |  SELECT DISTINCT i.doc_id AS iid, e.doc_id AS eid
       |  FROM bhI i JOIN bhE e ON i.band = e.band AND i.band_hash = e.band_hash),
       |intr AS (
       |  SELECT c.iid, c.eid, count(*) AS inter
       |  FROM cand c
       |  JOIN shI si ON si.doc_id = c.iid
       |  JOIN shE se ON se.doc_id = c.eid AND si.sh = se.sh
       |  GROUP BY c.iid, c.eid),
       |conf AS (
       |  SELECT i.iid, i.eid, inter / (zi.sz + ze.sz - inter) AS j
       |  FROM intr i JOIN szI zi ON zi.doc_id = i.iid
       |    JOIN szE ze ON ze.doc_id = i.eid
       |  WHERE inter / (zi.sz + ze.sz - inter) >= 0.5),
       |best AS (
       |  SELECT iid, eid, j,
       |    row_number() OVER (PARTITION BY iid ORDER BY j DESC, eid) AS rn
       |  FROM conf)
       |SELECT inc.doc_id, (b.iid IS NOT NULL) AS is_dup, b.eid AS match_id,
       |  round(b.j, 6) AS jaccard
       |FROM inc LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.iid = inc.doc_id
       |ORDER BY inc.doc_id""".stripMargin

  /** The minhash pipeline as a reusable CTE chain ending in `pairs`
    * (thresholded near-dup pairs with jaccard) — shared by the pair
    * oracle and the recursive-CTE dup-groups oracle.
    */
  private val MINHASH_CTES =
    s"""$CORPUS,
       |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |    t[j] || ' ' || t[j+1] || ' ' || t[j+2] AS sh
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS j) u),
       |sig AS (
       |  SELECT doc_id, seed,
       |    min(substr(md5(sh), seed * 4 + 1) || substr(md5(sh), 1, seed * 4)) AS mh
       |  FROM sh, LATERAL (SELECT unnest(generate_series(0, 7)) AS seed) v
       |  GROUP BY doc_id, seed),
       |bh AS (
       |  SELECT doc_id, seed // 4 AS band,
       |    md5(string_agg(mh, '|' ORDER BY seed)) AS band_hash
       |  FROM sig GROUP BY doc_id, seed // 4),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bh a JOIN bh b ON a.band = b.band AND a.band_hash = b.band_hash
       |  WHERE a.doc_id < b.doc_id),
       |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS inter
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.id_a
       |  JOIN sh sb ON sb.doc_id = c.id_b AND sa.sh = sb.sh
       |  GROUP BY c.id_a, c.id_b),
       |pairs AS (
       |  SELECT i.id_a, i.id_b,
       |    round(inter / (za.sz + zb.sz - inter), 6) AS jaccard
       |  FROM inter i JOIN sz za ON za.doc_id = i.id_a JOIN sz zb ON zb.doc_id = i.id_b
       |  WHERE inter / (za.sz + zb.sz - inter) >= 0.5)""".stripMargin

  /** Shared image average-hash oracle prelude: replays the BMP variant
    * generator (content key k = id%50, geometry 16+k%17 × 16+k%13,
    * single-pixel perturbation for id ≥ 50), the 8×8 nearest-neighbor
    * sampling rule sy=⌊y·h/8⌋/sx=⌊x·w/8⌋, and the exact-integer aHash
    * bit packing (bit 63 as the signed minimum) — ending in
    * `hb(doc_id, ahash)`.
    */
  private val IMG_AHASH_CTES: String =
    """g AS (
      |  SELECT doc_id, doc_id % 50 AS k,
      |    16 + (doc_id % 50) % 17 AS w, 16 + (doc_id % 50) % 13 AS h
      |  FROM documents),
      |px AS (
      |  SELECT g.doc_id, u.j, g.k, g.w, g.h,
      |    ((u.j // 8) * g.h) // 8 AS sy, ((u.j % 8) * g.w) // 8 AS sx
      |  FROM g, LATERAL (SELECT unnest(generate_series(0, 63)) AS j) u),
      |v AS (
      |  SELECT doc_id, j,
      |    CASE WHEN doc_id >= 50 AND sy = doc_id % h AND sx = (doc_id * 3) % w
      |      THEN (k * 7 + sy * 5 + sx * 3 + 128) % 256
      |      ELSE (k * 7 + sy * 5 + sx * 3) % 256 END AS v
      |  FROM px),
      |s AS (SELECT doc_id, sum(v) AS sv FROM v GROUP BY doc_id),
      |hb AS (
      |  SELECT v.doc_id, CAST(sum(
      |    CASE WHEN v.v * 64 > s.sv THEN
      |      CASE WHEN v.j = 63 THEN CAST(-9223372036854775807 - 1 AS BIGINT)
      |           ELSE CAST(1 AS BIGINT) << v.j END
      |    ELSE 0 END) AS BIGINT) AS ahash
      |  FROM v JOIN s USING (doc_id) GROUP BY 1)""".stripMargin

  /** The quantized DCT-II basis spliced as SQL literals — SAME source
    * as the engine kernel (Multimodal.DctTable), so the two engines
    * cannot disagree on a basis value.
    */
  private val DCT_TABLE_VALUES: String =
    graft.operators.Multimodal.DctTable.zipWithIndex.flatMap { case (row, u) =>
      row.zipWithIndex.map { case (c, x) => s"($u,$x,$c)" }
    }.mkString(",")

  /** DCT perceptual-hash oracle prelude: replays the block-pattern
    * contrast fixture (md5-bit 8×8 blocks in normalized coordinates,
    * variant = one block grayed + 3/4 contrast scale), the 32×32
    * nearest-neighbor resample, the two-stage exact-integer DCT
    * (M = T·P, D = M·Tᵀ — HUGEINT sums cast back to BIGINT), the
    * 63-AC lower-median threshold, and the bit packing (bit 63 as the
    * signed minimum) — ending in `hp(doc_id, phash)`.
    */
  private val IMG_DCT_CTES: String =
    s"""dctt AS (SELECT * FROM (VALUES $DCT_TABLE_VALUES) AS t(u, x, c)),
      |g2 AS (
      |  SELECT doc_id, doc_id % 50 AS k,
      |    16 + (doc_id % 50) % 17 AS w, 16 + (doc_id % 50) % 13 AS h
      |  FROM documents),
      |px2 AS (
      |  SELECT g2.doc_id, u.j, g2.k,
      |    (((u.j // 32) * g2.h) // 32 * 8 // g2.h) * 8
      |      + ((u.j % 32) * g2.w) // 32 * 8 // g2.w AS b
      |  FROM g2, LATERAL (SELECT unnest(generate_series(0, 1023)) AS j) u),
      |pv2 AS (
      |  SELECT doc_id, j,
      |    CASE WHEN doc_id >= 50 THEN
      |      (CASE WHEN b = doc_id % 64 THEN 128
      |            WHEN (strpos('0123456789abcdef',
      |              substr(md5(k || '-' || b), 1, 1)) - 1) % 2 = 1 THEN 220
      |            ELSE 35 END) * 3 // 4
      |    ELSE
      |      CASE WHEN (strpos('0123456789abcdef',
      |        substr(md5(k || '-' || b), 1, 1)) - 1) % 2 = 1 THEN 220
      |      ELSE 35 END
      |    END AS v
      |  FROM px2),
      |mm AS (
      |  SELECT p.doc_id, t.u, (p.j % 32) AS x,
      |    CAST(sum(t.c * p.v) AS BIGINT) AS mv
      |  FROM pv2 p JOIN dctt t ON t.x = (p.j // 32)
      |  GROUP BY 1, 2, 3),
      |dd AS (
      |  SELECT m.doc_id, m.u, t.u AS v2, CAST(sum(t.c * m.mv) AS BIGINT) AS dc
      |  FROM mm m JOIN dctt t ON t.x = m.x
      |  GROUP BY 1, 2, 3),
      |acs AS (SELECT doc_id, u * 8 + v2 AS j, dc FROM dd
      |        WHERE NOT (u = 0 AND v2 = 0)),
      |medd AS (SELECT doc_id, dc AS med FROM (
      |    SELECT doc_id, dc,
      |      row_number() OVER (PARTITION BY doc_id ORDER BY dc) AS rn
      |    FROM acs) WHERE rn = 32),
      |hp AS (
      |  SELECT acs.doc_id, CAST(sum(
      |    CASE WHEN acs.dc > medd.med THEN
      |      CASE WHEN acs.j = 63 THEN CAST(-9223372036854775807 - 1 AS BIGINT)
      |           ELSE CAST(1 AS BIGINT) << acs.j END
      |    ELSE 0 END) AS BIGINT) AS phash
      |  FROM acs JOIN medd USING (doc_id) GROUP BY 1)""".stripMargin

  /** Transitive-closure group oracle, shared verbatim by the min-label
    * and large-star/small-star entries — the backend choice must be
    * unobservable in the (doc_id, group_id = component min) contract.
    */
  private val dupGroupsOracle =
    s"""WITH RECURSIVE $MINHASH_CTES,
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT src AS v, src AS r FROM edges
       |  UNION
       |  SELECT e.src AS v, reach.r FROM reach JOIN edges e ON e.dst = reach.v)
       |SELECT v AS doc_id, min(r) AS group_id FROM reach
       |GROUP BY v ORDER BY doc_id""".stripMargin

  /** End-to-end pipeline oracle: the dup-injected corpus renamed `raw`,
    * the quality/decontaminate/exact-dedup stages chained as CTEs, and
    * the result REDEFINED as `corpus` so the shared MinHash CTE block
    * applies to the chain output unchanged (string-spliced via
    * replace, so the two stay in lockstep); the temperature-sample
    * CTEs replay doc_temperature_sample's threshold arithmetic over
    * the survivors with budget 150.
    */
  private val e2eOracle: String = {
    val prefix =
      """raw AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id + 2000000, text || ' extra trailing words appended'
        |    FROM documents WHERE doc_id % 17 = 0),
        |quality AS (SELECT doc_id, text FROM raw
        |  WHERE len(string_split(text, ' ')) >= 30),
        |e2e_bsh AS (
        |  SELECT DISTINCT t[j] || ' ' || t[j+1] || ' ' || t[j+2] AS sh
        |  FROM (SELECT string_split(text, ' ') AS t FROM documents WHERE doc_id < 50),
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS j) u),
        |e2e_qsh AS (
        |  SELECT DISTINCT doc_id, t[j] || ' ' || t[j+1] || ' ' || t[j+2] AS sh
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM quality),
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS j) u),
        |e2e_hit AS (SELECT q.doc_id, count(*) AS hit
        |  FROM e2e_qsh q JOIN e2e_bsh b ON q.sh = b.sh GROUP BY 1),
        |e2e_nsh AS (SELECT doc_id, count(*) AS nsh FROM e2e_qsh GROUP BY 1),
        |e2e_bad AS (SELECT h.doc_id FROM e2e_hit h
        |  JOIN e2e_nsh n USING (doc_id) WHERE h.hit * 2 >= n.nsh),
        |clean AS (SELECT doc_id, text FROM quality
        |  WHERE doc_id NOT IN (SELECT doc_id FROM e2e_bad)),
        |exact AS (
        |  SELECT c.doc_id, c.text FROM clean c
        |  JOIN (SELECT md5(text) AS h, min(doc_id) AS keep
        |        FROM clean GROUP BY 1) k
        |    ON md5(c.text) = k.h AND c.doc_id = k.keep),
        |corpus AS (SELECT doc_id, text FROM exact)""".stripMargin
    s"WITH ${MINHASH_CTES.replace(CORPUS, prefix)}," +
      """
        |near AS (SELECT c.doc_id FROM corpus c
        |  WHERE c.doc_id NOT IN (SELECT id_b FROM pairs)),
        |surv AS (
        |  SELECT n.doc_id, d.source FROM near n
        |  JOIN documents d ON d.doc_id = n.doc_id % 1000000),
        |sg AS (SELECT source, count(*) AS n_d FROM surv GROUP BY source),
        |sq AS (SELECT source, n_d,
        |  CAST(floor(sqrt(CAST(n_d AS DOUBLE)) * 1000000.0) AS BIGINT) AS s_d FROM sg),
        |st AS (SELECT source,
        |  printf('%09x', LEAST(CAST(floor(
        |    150.0 * CAST(s_d AS DOUBLE)
        |    / (CAST(sum(s_d) OVER () AS DOUBLE) * CAST(n_d AS DOUBLE))
        |    * 4294967296.0) AS BIGINT), 4294967296)) AS thr
        |  FROM sq)
        |SELECT s.doc_id, s.source FROM surv s JOIN st USING (source)
        |WHERE '0' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8) < st.thr
        |ORDER BY s.doc_id""".stripMargin
  }

  def oracleSql: Map[String, String] = Map(
    "doc_e2e_pipeline" -> e2eOracle,
    "emb_lsh_ann" -> lshOracle,
    "emb_ivf_ann" -> ivfOracle,
    "emb_semantic_dedup" -> semDedupOracle,
    "emb_knn_graph" -> knnGraphOracle,
    "emb_knn_graph_coarse" -> knnGraphCoarseOracle,
    "emb_ivfadc_ann" -> ivfadcOracle,
    "emb_pq_quantize" -> pqQuantizeOracle,
    "doc_incremental_dedup" -> incrementalDedupOracle,
    "emb_pq_ann" -> pqAnnOracle,
    "doc_exact_dedup" ->
      s"""WITH $CORPUS
         |SELECT md5(text) AS h, count(*) AS n,
         |  min(doc_id) AS keep_id, max(doc_id) AS dup_id
         |FROM corpus GROUP BY md5(text) HAVING count(*) > 1
         |ORDER BY h""".stripMargin,
    "doc_minhash_pairs" ->
      s"""WITH $MINHASH_CTES
         |SELECT id_a, id_b, jaccard FROM pairs
         |ORDER BY id_a, id_b""".stripMargin,
    "doc_dup_groups" -> dupGroupsOracle,
    // identical oracle by design: the CC backend must not be observable
    "doc_dup_groups_star" -> dupGroupsOracle,
    "doc_stratified_sample" ->
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang, row_number() OVER (
        |    PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 20 ORDER BY doc_id""".stripMargin,
    "doc_temperature_sample" ->
      """WITH g AS (SELECT source, count(*) AS n_d FROM documents GROUP BY source),
        |q AS (SELECT source, n_d,
        |  CAST(floor(sqrt(CAST(n_d AS DOUBLE)) * 1000000.0) AS BIGINT) AS s_d FROM g),
        |t AS (SELECT source,
        |  printf('%09x', LEAST(CAST(floor(
        |    200.0 * CAST(s_d AS DOUBLE)
        |    / (CAST(sum(s_d) OVER () AS DOUBLE) * CAST(n_d AS DOUBLE))
        |    * 4294967296.0) AS BIGINT), 4294967296)) AS thr
        |  FROM q)
        |SELECT d.doc_id, d.source FROM documents d JOIN t USING (source)
        |WHERE '0' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < t.thr
        |ORDER BY d.doc_id""".stripMargin,
    "doc_train_test_split" ->
      """SELECT doc_id,
        |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'
        |    THEN 'test' ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_ngram_jaccard" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(generate_series(1, greatest(length(text) - 3, 0)),
        |      i -> substr(text, i, 4))) AS g
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(len(list_intersect(a.g, b.g))
        |    / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))), 6) AS jaccard
        |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1
        |ORDER BY doc_a""".stripMargin,
    "doc_edit_distance" ->
      s"""WITH $CORPUS
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(length(a.text) AS BIGINT) AS len_a,
        |  CAST(length(b.text) AS BIGINT) AS len_b,
        |  CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
        |FROM corpus a JOIN corpus b ON b.doc_id = a.doc_id + 2000000
        |ORDER BY doc_a""".stripMargin,
    "doc_containment" ->
      s"""WITH $CORPUS,
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        |sh AS (
        |  SELECT DISTINCT doc_id, t[j] || ' ' || t[j+1] || ' ' || t[j+2] AS sh
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS j) u),
        |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
        |pairs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS sza, b.sz AS szb
        |  FROM sz a JOIN sz b ON b.doc_id = a.doc_id + 2000000),
        |i AS (
        |  SELECT a.doc_id AS doc_a, count(*) AS inter
        |  FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 2000000 AND b.sh = a.sh
        |  GROUP BY a.doc_id)
        |SELECT p.doc_a, p.doc_b,
        |  round(coalesce(i.inter, 0) / CAST(p.sza AS DOUBLE), 6) AS containment_a,
        |  round(coalesce(i.inter, 0) / CAST(p.szb AS DOUBLE), 6) AS containment_b
        |FROM pairs p LEFT JOIN i ON i.doc_a = p.doc_a
        |ORDER BY p.doc_a""".stripMargin,
    "doc_simhash_pairs" ->
      s"""WITH $CORPUS,
        |toks AS (
        |  SELECT doc_id, md5(tok) AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM corpus)),
        |votes AS (
        |  SELECT doc_id, p, k,
        |    sum(CASE WHEN (strpos('0123456789abcdef', substr(h, p, 1)) - 1) // (1 << k) % 2 = 1
        |      THEN 1 ELSE -1 END) AS v
        |  FROM toks,
        |    LATERAL (SELECT unnest(generate_series(1, 15)) AS p) u,
        |    LATERAL (SELECT unnest(generate_series(0, 3)) AS k) w
        |  GROUP BY doc_id, p, k),
        |digits AS (
        |  SELECT doc_id, p,
        |    sum(CASE WHEN v > 0 THEN 1 << k ELSE 0 END) AS dig_out
        |  FROM votes GROUP BY doc_id, p),
        |sigv AS (
        |  SELECT doc_id,
        |    CAST(sum(CAST(dig_out AS BIGINT) << (4 * (15 - p))) AS BIGINT) AS sig
        |  FROM digits GROUP BY doc_id),
        |blocks AS (
        |  SELECT doc_id, sig, u.blk, (sig >> (u.blk * 15)) & 32767 AS bv
        |  FROM sigv, LATERAL (SELECT unnest(generate_series(0, 3)) AS blk) u),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.sig AS sa, b.sig AS sb
        |  FROM blocks a JOIN blocks b
        |    ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    "doc_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, md5(tok) AS h
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
        |votes AS (
        |  SELECT doc_id, p, k,
        |    sum(CASE WHEN (strpos('0123456789abcdef', substr(h, p, 1)) - 1) // (1 << k) % 2 = 1
        |      THEN 1 ELSE -1 END) AS v
        |  FROM toks,
        |    LATERAL (SELECT unnest(generate_series(1, 15)) AS p) u,
        |    LATERAL (SELECT unnest(generate_series(0, 3)) AS k) w
        |  GROUP BY doc_id, p, k),
        |digits AS (
        |  SELECT doc_id, p,
        |    sum(CASE WHEN v > 0 THEN 1 << k ELSE 0 END) AS dig_out
        |  FROM votes GROUP BY doc_id, p)
        |SELECT doc_id,
        |  string_agg(substr('0123456789abcdef', cast(dig_out AS INT) + 1, 1), '' ORDER BY p)
        |    AS simhash
        |FROM digits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "doc_lang_id" ->
      """SELECT doc_id, lang,
        |  CASE
        |    WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) AND
        |      greatest(s_en, s_de, s_es, s_fr, s_zh) > 0 THEN 'en'
        |    WHEN s_de >= greatest(s_es, s_fr, s_zh) AND
        |      greatest(s_de, s_es, s_fr, s_zh) > 0 THEN 'de'
        |    WHEN s_es >= greatest(s_fr, s_zh) AND greatest(s_es, s_fr, s_zh) > 0 THEN 'es'
        |    WHEN s_fr >= s_zh AND greatest(s_fr, s_zh) > 0 THEN 'fr'
        |    WHEN s_zh > 0 THEN 'zh'
        |    ELSE 'und' END AS predicted_lang,
        |  s_en, s_de, s_es, s_fr, s_zh
        |FROM (
        |  SELECT doc_id, lang,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it)\b')) AS s_en,
        |    len(regexp_extract_all(lower(text), '\b(der|die|und|das|ein|ist|zu|den)\b')) AS s_de,
        |    len(regexp_extract_all(lower(text), '\b(el|la|de|que|y|los|es|en)\b')) AS s_es,
        |    len(regexp_extract_all(lower(text), '\b(le|la|les|des|et|un|une|est)\b')) AS s_fr,
        |    len(regexp_extract_all(lower(text), '(的|了|是|在|我|有)')) AS s_zh
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "doc_quality_score" ->
      """SELECT doc_id,
        |  length(text) AS n_chars,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  round(cast(length(replace(text, ' ', '')) AS DOUBLE)
        |    / len(string_split(text, ' ')), 6) AS mean_token_len,
        |  round(cast(len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS DOUBLE)
        |    / length(text), 6) AS punct_ratio,
        |  round(cast(len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it)\b'))
        |    AS DOUBLE) / len(string_split(text, ' ')), 6) AS stopword_ratio,
        |  floor((
        |    0.25 * least(cast(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0)
        |    + 0.25 * (1.0 - cast(len(regexp_extract_all(lower(text), '[^a-z0-9 ]')) AS DOUBLE)
        |        / length(text))
        |    + 0.25 * least(cast(len(regexp_extract_all(lower(text),
        |        '\b(the|and|of|to|a|in|is|it)\b')) AS DOUBLE)
        |        / len(string_split(text, ' ')) * 5.0, 1.0)
        |    + 0.25 * least(cast(length(replace(text, ' ', '')) AS DOUBLE)
        |        / len(string_split(text, ' ')) / 8.0, 1.0)) * 1000000.0)
        |    / 1000000.0 AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_token_count" ->
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_ws_tokens,
        |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "doc_token_budget_mix" ->
      """WITH tok AS (
        |  SELECT doc_id, lang,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_tokens,
        |    '0' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS hk
        |  FROM documents),
        |mass AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS tl
        |         FROM tok GROUP BY 1),
        |wgt AS (SELECT lang, tl,
        |    CAST(floor(sqrt(CAST(tl AS DOUBLE)) * 1000000.0) AS BIGINT) AS sl
        |  FROM mass),
        |bud AS (SELECT lang, tl,
        |    CASE WHEN (SELECT sum(sl) FROM wgt) > 0 THEN
        |      CAST(floor(20000.0 * CAST(sl AS DOUBLE)
        |        / CAST((SELECT sum(sl) FROM wgt) AS DOUBLE)) AS BIGINT)
        |    ELSE 0 END AS bl
        |  FROM wgt),
        |thr AS (SELECT lang, bl,
        |    CASE WHEN tl > 0 THEN
        |      printf('%09x', least(CAST(floor(CAST(bl AS DOUBLE) / CAST(tl AS DOUBLE)
        |        * 1.25 * 4294967296.0) AS BIGINT), 4294967296))
        |    ELSE '000000000' END AS t
        |  FROM bud),
        |sel AS (
        |  SELECT tok.doc_id, tok.lang, tok.n_tokens, thr.bl,
        |    sum(tok.n_tokens) OVER (PARTITION BY tok.lang
        |      ORDER BY tok.hk, tok.doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
        |  FROM tok JOIN thr USING (lang) WHERE tok.hk < thr.t)
        |SELECT doc_id, lang, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
        |FROM sel WHERE cum_tokens <= bl ORDER BY doc_id""".stripMargin,
    "doc_tokenizer_fertility" ->
      """WITH t AS (
        |  SELECT lang,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
        |    CAST(len(regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS s,
        |    CAST(strlen(text) AS BIGINT) AS b
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(w) AS BIGINT) AS total_words,
        |  CAST(sum(s) AS BIGINT) AS total_subword_tokens,
        |  CAST(sum(b) AS BIGINT) AS total_bytes,
        |  CASE WHEN sum(w) > 0 THEN
        |    floor(CAST(sum(s) AS DOUBLE) / sum(w) * 1000000.0) / 1000000.0
        |  END AS fertility,
        |  CASE WHEN sum(s) > 0 THEN
        |    floor(CAST(sum(b) AS DOUBLE) / sum(s) * 1000000.0) / 1000000.0
        |  END AS bytes_per_token
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "doc_dsir_weight" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1 AS b
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
        |tt AS (
        |  SELECT (strpos('0123456789abcdef', substr(md5(tok), 1, 1)) - 1) * 16
        |      + strpos('0123456789abcdef', substr(md5(tok), 2, 1)) - 1 AS b
        |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents
        |        WHERE doc_id < 50)),
        |r AS (SELECT b, count(*) AS r_b FROM toks GROUP BY b),
        |t AS (SELECT b, count(*) AS t_b FROM tt GROUP BY b),
        |w AS (
        |  SELECT r.b, (coalesce(t.t_b, 0) + 1) * 1000000 // (r.r_b + 1) AS w
        |  FROM r LEFT JOIN t ON t.b = r.b)
        |SELECT toks.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(sum(w.w) AS BIGINT) AS score,
        |  CAST(sum(w.w) AS BIGINT) // CAST(count(*) AS BIGINT) AS dsir_score
        |FROM toks JOIN w ON w.b = toks.b
        |GROUP BY toks.doc_id ORDER BY doc_id""".stripMargin,
    "doc_winnow_pairs" ->
      s"""WITH $CORPUS,
        |ch AS (
        |  SELECT doc_id, j,
        |    (  CAST(ord(substr(text, j,     1)) AS BIGINT) * 617266377
        |     + CAST(ord(substr(text, j + 1, 1)) AS BIGINT) * 913108910
        |     + CAST(ord(substr(text, j + 2, 1)) AS BIGINT) * 579489385
        |     + CAST(ord(substr(text, j + 3, 1)) AS BIGINT) * 294499921
        |     + CAST(ord(substr(text, j + 4, 1)) AS BIGINT) * 2248091
        |     + CAST(ord(substr(text, j + 5, 1)) AS BIGINT) * 17161
        |     + CAST(ord(substr(text, j + 6, 1)) AS BIGINT) * 131
        |     + CAST(ord(substr(text, j + 7, 1)) AS BIGINT)) % 1000000007 AS h
        |  FROM corpus,
        |    LATERAL (SELECT unnest(generate_series(1, length(text) - 7)) AS j) u),
        |wm AS (
        |  SELECT doc_id, j,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY j
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m,
        |    count(*) OVER (PARTITION BY doc_id) AS nh
        |  FROM ch),
        |sel AS (SELECT DISTINCT doc_id, m FROM wm WHERE j <= greatest(nh - 7, 1)),
        |fp AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n, list(m) AS ms
        |  FROM sel GROUP BY doc_id),
        |pr AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM corpus a JOIN corpus b ON b.doc_id = a.doc_id + 1000000
        |  UNION ALL
        |  SELECT a.doc_id, b.doc_id
        |  FROM corpus a JOIN corpus b ON b.doc_id = a.doc_id + 2000000)
        |SELECT p.doc_a, p.doc_b, fa.n AS n_a, fb.n AS n_b,
        |  CAST(len(list_intersect(fa.ms, fb.ms)) AS BIGINT) AS common,
        |  CAST(len(list_intersect(fa.ms, fb.ms)) * 1000000 // fa.n AS BIGINT)
        |    AS cont_a
        |FROM pr p
        |JOIN fp fa ON fa.doc_id = p.doc_a
        |JOIN fp fb ON fb.doc_id = p.doc_b
        |ORDER BY doc_a, doc_b""".stripMargin,
    "doc_winnow" ->
      """WITH ch AS (
        |  SELECT doc_id, j,
        |    (  CAST(ord(substr(text, j,     1)) AS BIGINT) * 617266377
        |     + CAST(ord(substr(text, j + 1, 1)) AS BIGINT) * 913108910
        |     + CAST(ord(substr(text, j + 2, 1)) AS BIGINT) * 579489385
        |     + CAST(ord(substr(text, j + 3, 1)) AS BIGINT) * 294499921
        |     + CAST(ord(substr(text, j + 4, 1)) AS BIGINT) * 2248091
        |     + CAST(ord(substr(text, j + 5, 1)) AS BIGINT) * 17161
        |     + CAST(ord(substr(text, j + 6, 1)) AS BIGINT) * 131
        |     + CAST(ord(substr(text, j + 7, 1)) AS BIGINT)) % 1000000007 AS h
        |  FROM documents,
        |    LATERAL (SELECT unnest(generate_series(1, length(text) - 7)) AS j) u),
        |wm AS (
        |  SELECT doc_id, j,
        |    min(h) OVER (PARTITION BY doc_id ORDER BY j
        |      ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS m,
        |    count(*) OVER (PARTITION BY doc_id) AS nh
        |  FROM ch),
        |sel AS (SELECT DISTINCT doc_id, m FROM wm WHERE j <= greatest(nh - 7, 1))
        |SELECT doc_id, count(*) AS n_fp,
        |  md5(array_to_string(list(m ORDER BY m), ',')) AS fp_digest
        |FROM sel GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "doc_bpe_learn" -> {
      def outRow(k: Int): String =
        s"""SELECT CAST($k AS BIGINT) AS round, (SELECT pair FROM t$k) AS pair,
           |  (SELECT n FROM t$k) AS cnt,
           |  (SELECT CAST(sum(len(string_split(trim(s), ' ')) * cnt) AS BIGINT)
           |   FROM v$k) AS vocab_tokens_after""".stripMargin
      s"""WITH $BpeV0,
         |${(1 to 4).map(bpeRoundSql).mkString(",\n")}
         |SELECT * FROM (
         |${(1 to 4).map(outRow).mkString("\nUNION ALL\n")}
         |) ORDER BY round""".stripMargin
    },
    "doc_bpe_apply" -> {
      // segment every word with the 4 learned merges in order (each a
      // double-pass replace, same canonical-greedy trick as learning)
      def app(inner: String, k: Int): String = {
        val pat = s"' ' || (SELECT pair FROM t$k) || ' '"
        val rep = s"' ' || replace((SELECT pair FROM t$k), ' ', '') || ' '"
        s"replace(replace($inner, $pat, $rep), $pat, $rep)"
      }
      val sExpr = (1 to 4).foldLeft(
        "' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' '")(app)
      s"""WITH $BpeV0,
         |${(1 to 4).map(bpeRoundSql).mkString(",\n")},
         |wds AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |seg AS (SELECT doc_id, $sExpr AS s FROM wds)
         |SELECT doc_id,
         |  CAST(sum(len(string_split(trim(s), ' '))) AS BIGINT) AS n_tokens_bpe,
         |  CAST(count(*) AS BIGINT) AS n_words
         |FROM seg GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },
    "doc_ngram_novelty" ->
      s"""WITH $CORPUS,
        |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        |shg AS (
        |  SELECT DISTINCT doc_id, t[j] || ' ' || t[j+1] || ' ' || t[j+2] AS sh
        |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 2)) AS j) u),
        |cl AS (SELECT sh, min(doc_id) AS claimant FROM shg GROUP BY sh),
        |sc AS (
        |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(sum(CASE WHEN c.claimant = s.doc_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_novel
        |  FROM shg s JOIN cl c ON s.sh = c.sh GROUP BY s.doc_id)
        |SELECT c.doc_id,
        |  coalesce(n_grams, 0) AS n_grams,
        |  coalesce(n_novel, 0) AS n_novel,
        |  CASE WHEN coalesce(n_grams, 0) > 0
        |    THEN CAST(n_novel * 1000000 // n_grams AS BIGINT) END AS novelty_q
        |FROM corpus c LEFT JOIN sc ON sc.doc_id = c.doc_id
        |ORDER BY c.doc_id""".stripMargin,
    "doc_c4_filter" ->
      """WITH dec AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 17 = 0
        |      THEN 'only one good sentence stands here today.'
        |    ELSE text
        |      || '. This line has a second sentence with enough words.'
        |      || ' And here follows a third sentence too.'
        |      || CASE WHEN doc_id % 5 = 0
        |           THEN chr(10) || 'no terminal punctuation in this line'
        |           ELSE '' END
        |      || CASE WHEN doc_id % 7 = 0
        |           THEN chr(10) || 'Tiny line.' ELSE '' END
        |      || CASE WHEN doc_id % 11 = 0
        |           THEN chr(10) || 'lorem ipsum dolor sit amet consectetur.'
        |           ELSE '' END
        |      || CASE WHEN doc_id % 13 = 0
        |           THEN chr(10) || 'code block { x equals one }' ELSE '' END
        |    END AS t
        |  FROM documents),
        |k AS (
        |  SELECT doc_id, t,
        |    CAST(len(string_split(t, chr(10))) AS BIGINT) AS n_lines,
        |    list_filter(string_split(t, chr(10)), l ->
        |      (ends_with(l, '.') OR ends_with(l, '!') OR ends_with(l, '?')
        |        OR ends_with(l, '"'))
        |      AND len(string_split(trim(l), ' ')) >= 5) AS kept
        |  FROM dec),
        |c AS (
        |  SELECT doc_id, t, n_lines,
        |    CAST(len(kept) AS BIGINT) AS n_kept,
        |    array_to_string(kept, chr(10)) AS cleaned
        |  FROM k)
        |SELECT doc_id, n_lines, n_kept, cleaned,
        |  CAST(length(cleaned) - length(translate(cleaned, '.!?', ''))
        |    AS BIGINT) AS n_sentences,
        |  contains(lower(t), 'lorem ipsum') AS has_lorem,
        |  contains(t, '{') AS has_brace,
        |  length(cleaned) - length(translate(cleaned, '.!?', '')) >= 3
        |    AND NOT contains(lower(t), 'lorem ipsum')
        |    AND NOT contains(t, '{') AS keep
        |FROM c ORDER BY doc_id""".stripMargin,
    "doc_gopher_filter" ->
      """WITH dec AS (
        |  SELECT doc_id, CASE WHEN doc_id % 19 = 0 THEN substr(text, 1, 40)
        |    ELSE text
        |      || CASE WHEN doc_id % 7 = 0 THEN chr(10) || '- bullet one' || chr(10)
        |           || '- bullet two' || chr(10) || '- bullet three' ELSE '' END
        |      || CASE WHEN doc_id % 11 = 0 THEN ' tail one... line...' ELSE '' END
        |      || CASE WHEN doc_id % 13 = 0 THEN ' ##### ## ###' ELSE '' END
        |    END AS text
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    len(string_split(text, ' ')) AS n_words,
        |    len(string_split(text, chr(10))) AS n_lines,
        |    length(replace(text, ' ', '')) AS n_chars_ns,
        |    length(text) - length(replace(text, '#', '')) AS n_hash,
        |    len(list_filter(string_split(text, chr(10)), l -> l LIKE '%...')) AS n_ellipsis,
        |    len(list_filter(string_split(text, chr(10)), l -> l LIKE '- %')) AS n_bullet,
        |    len(list_filter(string_split(text, ' '),
        |      w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
        |    len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|it)\b')) AS n_stop
        |  FROM dec)
        |SELECT *, (r_word_count AND r_mean_word_len AND r_symbol AND r_ellipsis
        |    AND r_bullet AND r_alpha AND r_stopword) AS keep
        |FROM (
        |  SELECT doc_id, n_words, n_lines, n_chars_ns, n_hash, n_ellipsis, n_bullet,
        |    n_alpha, n_stop,
        |    (n_words >= 25 AND n_words <= 100000) AS r_word_count,
        |    (n_chars_ns >= n_words * 3 AND n_chars_ns <= n_words * 10) AS r_mean_word_len,
        |    (n_hash * 10 <= n_words) AS r_symbol,
        |    (n_ellipsis * 10 <= n_lines * 3) AS r_ellipsis,
        |    (n_bullet * 10 <= n_lines * 5) AS r_bullet,
        |    (n_alpha * 5 >= n_words * 4) AS r_alpha,
        |    (n_stop >= 2) AS r_stopword
        |  FROM m)
        |ORDER BY doc_id""".stripMargin,
    "doc_decontaminate" -> decontaminateOracle,
    // bit-identical by design: bloom prefilter + exact confirm ≡ exact
    "doc_decontaminate_bloom" -> decontaminateOracle,
    "doc_chunk_manifest" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |m AS (SELECT doc_id, t, len(t) AS n,
        |        CASE WHEN len(t) <= 64 THEN 1
        |             ELSE 1 + (len(t) - 64 + 47) // 48 END AS k
        |      FROM d)
        |SELECT doc_id,
        |  CAST(i AS BIGINT) AS chunk_id,
        |  CAST(1 + i * 48 AS BIGINT) AS start_word,
        |  CAST(LEAST(64, n - (1 + i * 48) + 1) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(t[(1 + i * 48):(i * 48 + 64)], ' ')) AS chunk_hash
        |FROM m, LATERAL (SELECT unnest(generate_series(0, k - 1)) AS i) u
        |ORDER BY doc_id, chunk_id""".stripMargin,
    "doc_pii_redact" -> {
      import graft.operators.TextAnalysis.{EmailRe, Ipv4Re, PhoneRe}
      s"""WITH p AS (
         |  SELECT doc_id,
         |    text || ' contact user' || CAST(doc_id AS VARCHAR)
         |      || '@example.com at 10.0.' || CAST(doc_id % 256 AS VARCHAR)
         |      || '.' || CAST(doc_id % 100 AS VARCHAR)
         |      || ' or 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) AS text
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
         |  len(regexp_extract_all(text, '$Ipv4Re')) AS n_ips,
         |  len(regexp_extract_all(text, '$PhoneRe')) AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$EmailRe', '<EMAIL>', 'g'),
         |    '$Ipv4Re', '<IP>', 'g'),
         |    '$PhoneRe', '<PHONE>', 'g') AS redacted
         |FROM p ORDER BY doc_id""".stripMargin
    },
    "doc_chunk_boilerplate" ->
      s"""WITH $CORPUS,
        |c AS (
        |  SELECT doc_id, md5(array_to_string(t[(j*8+1):(j*8+8)], ' ')) AS ch
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
        |    LATERAL (SELECT unnest(generate_series(0, len(t) // 8 - 1)) AS j) u
        |  WHERE len(t) >= 8),
        |f AS (SELECT ch, count(DISTINCT doc_id) AS docs FROM c GROUP BY ch),
        |p AS (
        |  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
        |    CAST(sum(CASE WHEN f.docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS bp_chunks
        |  FROM c JOIN f USING (ch) GROUP BY c.doc_id)
        |SELECT d.doc_id, CAST(coalesce(p.n_chunks, 0) AS BIGINT) AS n_chunks,
        |  CAST(coalesce(p.bp_chunks, 0) AS BIGINT) AS bp_chunks,
        |  CASE WHEN p.n_chunks > 0 THEN
        |    floor(p.bp_chunks / p.n_chunks * 1000000.0) / 1000000.0 END AS bp_ratio
        |FROM corpus d LEFT JOIN p USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "doc_line_dedup" ->
      s"""WITH $CORPUS,
        |ch AS (
        |  SELECT doc_id,
        |    regexp_replace(text, '$ChunkLineRe', '$ChunkLineRepl' || chr(10), 'g') AS ct
        |  FROM corpus),
        |lines AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(string_split(ct, chr(10))))) - 1 AS ln,
        |    unnest(string_split(ct, chr(10))) AS line
        |  FROM ch),
        |first AS (
        |  SELECT line, doc_id AS fid, ln AS fln
        |  FROM (SELECT line, doc_id, ln,
        |          row_number() OVER (PARTITION BY line ORDER BY doc_id, ln) AS rn
        |        FROM lines) WHERE rn = 1),
        |kept AS (
        |  SELECT l.doc_id, count(*) AS kept_lines,
        |    string_agg(l.line, chr(10) ORDER BY l.ln) AS dedup_text
        |  FROM lines l JOIN first f ON f.line = l.line
        |    AND f.fid = l.doc_id AND f.fln = l.ln
        |  GROUP BY l.doc_id)
        |SELECT c.doc_id,
        |  CAST(len(string_split(ch.ct, chr(10))) AS BIGINT) AS n_lines,
        |  CAST(coalesce(k.kept_lines, 0) AS BIGINT) AS kept_lines,
        |  coalesce(k.dedup_text, '') AS dedup_text
        |FROM corpus c
        |JOIN ch ON ch.doc_id = c.doc_id
        |LEFT JOIN kept k ON k.doc_id = c.doc_id
        |ORDER BY c.doc_id""".stripMargin,
    "doc_substring_dedup" ->
      s"""WITH $CORPUS,
        |t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM corpus),
        |w AS (
        |  SELECT doc_id, u.p,
        |    md5(array_to_string(toks[u.p + 1 : u.p + 8], ' ')) AS h,
        |    doc_id * 10000000 + u.p AS packed
        |  FROM t, LATERAL (SELECT unnest(generate_series(0, len(toks) - 8)) AS p) u
        |  WHERE len(toks) >= 8),
        |f AS (SELECT h, min(packed) AS fmin FROM w GROUP BY h),
        |cov AS (
        |  SELECT DISTINCT w.doc_id, w.p + u.i AS q
        |  FROM w JOIN f USING (h),
        |    LATERAL (SELECT unnest(generate_series(0, 7)) AS i) u
        |  WHERE w.packed <> f.fmin),
        |tok AS (
        |  SELECT doc_id, u.q, toks[u.q + 1] AS tk
        |  FROM t, LATERAL (SELECT unnest(generate_series(0, len(toks) - 1)) AS q) u),
        |kept AS (
        |  SELECT tk.doc_id, count(*) AS kept_tokens,
        |    string_agg(tk.tk, ' ' ORDER BY tk.q) AS dedup_text
        |  FROM tok tk LEFT JOIN cov c ON c.doc_id = tk.doc_id AND c.q = tk.q
        |  WHERE c.doc_id IS NULL GROUP BY tk.doc_id)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
        |  coalesce(k.dedup_text, '') AS dedup_text
        |FROM t LEFT JOIN kept k ON k.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "doc_pack_offsets" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(doc_id % 16 AS BIGINT) AS shard
        |  FROM documents),
        |c AS (
        |  SELECT shard, doc_id, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT shard, CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id, doc_id,
        |  CAST(cum - n_tokens - ((cum - n_tokens) // 512) * 512 AS BIGINT)
        |    AS start_off,
        |  n_tokens
        |FROM c ORDER BY shard, seq_id, doc_id""".stripMargin,
    "doc_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    CAST(doc_id % 16 AS BIGINT) AS shard
        |  FROM documents),
        |c AS (
        |  SELECT shard, doc_id, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM d)
        |SELECT shard, CAST((cum - n_tokens) // 512 AS BIGINT) AS seq_id,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS seq_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY shard, (cum - n_tokens) // 512
        |ORDER BY shard, seq_id""".stripMargin,
    "doc_ccnet_bucket" ->
      """WITH t AS (
        |  SELECT doc_id, t[j] AS w1, t[j] || ' ' || t[j+1] AS bg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS j) u),
        |cb AS (SELECT bg, count(*) AS cbg FROM t GROUP BY bg),
        |cw AS (SELECT w1, count(*) AS cw FROM t GROUP BY w1),
        |sc AS (
        |  SELECT doc_id, CAST(floor(cbg / cw * 1000000.0) AS BIGINT) AS q
        |  FROM t JOIN cb USING (bg) JOIN cw USING (w1)),
        |p AS (
        |  SELECT doc_id,
        |    CAST(floor(CAST(sum(q) AS DOUBLE) / count(*)) AS BIGINT) AS lm_q
        |  FROM sc GROUP BY doc_id),
        |pd AS (
        |  SELECT d.doc_id, coalesce(p.lm_q, -1) AS lm_q,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents d LEFT JOIN p USING (doc_id)),
        |g AS (SELECT lm_q, sum(n_tok) AS g_tok FROM pd GROUP BY lm_q),
        |c AS (SELECT lm_q,
        |  coalesce(sum(g_tok) OVER (ORDER BY lm_q DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
        |  sum(g_tok) OVER () AS tot FROM g),
        |b AS (SELECT lm_q,
        |  CASE WHEN cum * 3 < tot THEN 'head'
        |       WHEN cum * 3 < tot * 2 THEN 'middle'
        |       ELSE 'tail' END AS bucket FROM c)
        |SELECT pd.doc_id, pd.lm_q, pd.n_tok, b.bucket
        |FROM pd JOIN b USING (lm_q)
        |ORDER BY pd.doc_id""".stripMargin,
    "doc_bigram_lm" ->
      """WITH t AS (
        |  SELECT doc_id, t[j] AS w1, t[j] || ' ' || t[j+1] AS bg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS j) u),
        |cb AS (SELECT bg, count(*) AS cbg FROM t GROUP BY bg),
        |cw AS (SELECT w1, count(*) AS cw FROM t GROUP BY w1),
        |sc AS (
        |  SELECT doc_id, CAST(floor(cbg / cw * 1000000.0) AS BIGINT) AS q
        |  FROM t JOIN cb USING (bg) JOIN cw USING (w1)),
        |p AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    floor(CAST(sum(q) AS DOUBLE) / count(*)) / 1000000.0 AS mean_cond_prob
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  p.mean_cond_prob
        |FROM documents d LEFT JOIN p USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin,
    "doc_top_terms" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
        |       FROM t GROUP BY doc_id, tok),
        |df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY tok),
        |r AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
        |    CAST(row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY tf.tf DESC, df.df ASC, tf.tok ASC) AS BIGINT) AS rank
        |  FROM tf JOIN df USING (tok))
        |SELECT doc_id, tok, tf, df, rank FROM r
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "doc_token_rarity" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |f AS (SELECT tok, count(*) AS fr FROM t GROUP BY tok)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        |  floor(CAST(sum(fr) AS DOUBLE) / count(*) * 1000000.0) / 1000000.0 AS mean_freq,
        |  CAST(min(fr) AS BIGINT) AS min_freq,
        |  CAST(sum(CASE WHEN fr = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_tokens
        |FROM t JOIN f USING (tok) GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,
    "doc_corpus_stats" ->
      s"""WITH $CORPUS,
        |j AS (
        |  SELECT d.lang, d.source, d.n_chars, c.text
        |  FROM (SELECT doc_id % 1000000 AS base_id, text FROM corpus) c
        |  JOIN documents d ON c.base_id = d.doc_id)
        |SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS distinct_texts,
        |  floor(CAST(count(*) - count(DISTINCT md5(text)) AS DOUBLE) / count(*)
        |    * 1000000.0) / 1000000.0 AS dup_ratio
        |FROM j GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,
    "doc_dedup_corpus" ->
      s"""WITH $CORPUS,
        |k AS (SELECT md5(text) AS h, min(doc_id) AS keep
        |      FROM corpus GROUP BY md5(text))
        |SELECT c.doc_id FROM corpus c
        |JOIN k ON md5(c.text) = k.h AND c.doc_id = k.keep
        |ORDER BY c.doc_id""".stripMargin,
    "doc_near_dedup_corpus" ->
      s"""WITH $MINHASH_CTES
        |SELECT c.doc_id FROM corpus c
        |WHERE c.doc_id NOT IN (SELECT id_b FROM pairs)
        |ORDER BY c.doc_id""".stripMargin,
    "doc_dedup_eval" ->
      s"""WITH $MINHASH_CTES,
        |near_drop AS (SELECT DISTINCT id_b AS doc_id FROM pairs),
        |exact_drop AS (
        |  SELECT c.doc_id FROM corpus c
        |  JOIN (SELECT text, min(doc_id) AS canon FROM corpus GROUP BY text) g
        |    ON g.text = c.text AND c.doc_id > g.canon)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM corpus) AS n_docs,
        |  (SELECT CAST(count(*) AS BIGINT) FROM exact_drop) AS exact_drops,
        |  (SELECT CAST(count(*) AS BIGINT) FROM near_drop) AS near_drops,
        |  (SELECT CAST(count(*) AS BIGINT) FROM exact_drop e
        |     JOIN near_drop n ON n.doc_id = e.doc_id) AS tp,
        |  (SELECT CAST(count(*) AS BIGINT) FROM exact_drop e
        |     WHERE e.doc_id NOT IN (SELECT doc_id FROM near_drop)) AS fn,
        |  (SELECT CAST(count(*) AS BIGINT) FROM near_drop n
        |     WHERE n.doc_id NOT IN (SELECT doc_id FROM exact_drop)) AS extra""".stripMargin,
    "emb_cluster_stats" ->
      """WITH c AS (
        |  SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
        |  FROM embeddings WHERE vec_id < 8),
        |v AS (SELECT vec_id AS vid, embedding::DOUBLE[] AS v FROM embeddings),
        |s AS (
        |  SELECT vid, cid,
        |    CAST(floor(list_cosine_similarity(v, cv) * 10000) AS BIGINT) AS qcos
        |  FROM v, c),
        |r AS (
        |  SELECT vid, cid, qcos,
        |    row_number() OVER (PARTITION BY vid ORDER BY qcos DESC, cid) AS rn
        |  FROM s)
        |SELECT cid, CAST(count(*) AS BIGINT) AS n_members,
        |  floor(CAST(sum(qcos) AS DOUBLE) / count(*) / 10000.0 * 1000000.0)
        |    / 1000000.0 AS mean_cos,
        |  CAST(min(qcos) AS BIGINT) AS min_cos_q
        |FROM r WHERE rn = 1 GROUP BY cid ORDER BY cid""".stripMargin,
    "doc_length_histogram" ->
      """WITH v AS (SELECT lang, n_chars::DOUBLE AS len FROM documents),
        |b AS (SELECT lang, min(len) AS lo, max(len) AS hi FROM v GROUP BY lang),
        |x AS (
        |  SELECT v.lang,
        |    CASE WHEN hi = lo THEN 0
        |      ELSE least(CAST(floor((len - lo) / (hi - lo) * 12) AS INT), 11) END AS bin
        |  FROM v JOIN b USING (lang)),
        |c AS (SELECT lang, bin, count(*) AS n FROM x GROUP BY lang, bin),
        |d AS (
        |  SELECT b.lang, u.bin, lo, hi
        |  FROM b, LATERAL (SELECT unnest(generate_series(0, 11)) AS bin) u)
        |SELECT d.lang, d.bin,
        |  floor((lo + (hi - lo) / 12 * d.bin) * 1000000.0) / 1000000.0 AS bin_lo,
        |  floor((lo + (hi - lo) / 12 * (d.bin + 1)) * 1000000.0) / 1000000.0 AS bin_hi,
        |  coalesce(c.n, 0) AS n
        |FROM d LEFT JOIN c ON d.lang = c.lang AND d.bin = c.bin
        |ORDER BY d.lang, d.bin""".stripMargin,
    "doc_rep_stats" ->
      """WITH b AS (
        |  SELECT doc_id, t[j] || ' ' || t[j+1] AS bg
        |  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS j) u),
        |c AS (SELECT doc_id, bg, count(*) AS cnt FROM b GROUP BY doc_id, bg),
        |g AS (
        |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS total_bigrams,
        |    CAST(sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS BIGINT) AS dup_occurrences,
        |    CAST(max(cnt) AS BIGINT) AS top_count
        |  FROM c GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(g.total_bigrams, 0) AS total_bigrams,
        |  coalesce(g.dup_occurrences, 0) AS dup_occurrences,
        |  coalesce(g.top_count, 0) AS top_count,
        |  CASE WHEN g.total_bigrams > 0
        |    THEN floor(g.dup_occurrences / g.total_bigrams * 1000000.0) / 1000000.0 END
        |    AS dup_frac,
        |  CASE WHEN g.total_bigrams > 0
        |    THEN floor(g.top_count / g.total_bigrams * 1000000.0) / 1000000.0 END
        |    AS top_frac
        |FROM documents d LEFT JOIN g ON d.doc_id = g.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "doc_domain_mix" ->
      """WITH g AS (
        |  SELECT source, lang, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
        |  FROM documents GROUP BY source, lang),
        |q AS (SELECT *,
        |  CAST(floor(sqrt(tokens::DOUBLE) * 1000000.0) AS BIGINT) AS sqrt_tok_q FROM g)
        |SELECT source, lang, n_docs, tokens,
        |  floor(tokens::DOUBLE / (SELECT sum(tokens) FROM q) * 1000000.0)
        |    / 1000000.0 AS w_prop,
        |  floor(sqrt_tok_q::DOUBLE / (SELECT sum(sqrt_tok_q) FROM q) * 1000000.0)
        |    / 1000000.0 AS w_sqrt
        |FROM q ORDER BY source, lang""".stripMargin,
    "doc_top_ngrams" ->
      """WITH b AS (
        |  SELECT t[j] || ' ' || t[j+1] AS bg
        |  FROM (SELECT string_split(text, ' ') AS t FROM documents),
        |    LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS j) u)
        |SELECT bg, count(*) AS n FROM b GROUP BY bg
        |ORDER BY n DESC, bg LIMIT 50""".stripMargin,
    "emb_quantize" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |m AS (SELECT vec_id, v,
        |  list_max(list_transform(v, x -> abs(x))) AS mx FROM v),
        |s AS (SELECT vec_id, v,
        |  CASE WHEN mx > 0 THEN 127.0 / mx END AS scale FROM m),
        |e AS (SELECT vec_id, v, scale,
        |  list_transform(v, x -> CASE WHEN scale IS NULL THEN CAST(0 AS BIGINT)
        |    ELSE CAST(floor(abs(x - floor(x * scale + 0.5) / scale)
        |      * 1000000000.0) AS BIGINT) END) AS errs
        |  FROM s)
        |SELECT vec_id,
        |  array_to_string(list_transform(v, x -> CASE WHEN scale IS NULL THEN 0
        |    ELSE CAST(floor(x * scale + 0.5) AS INT) END), ',') AS qvec,
        |  floor(coalesce(scale, 0) * 1000000.0) / 1000000.0 AS scale_q,
        |  CAST(list_sum(errs) AS BIGINT) AS sum_abs_err_1e9,
        |  CAST(list_max(errs) AS BIGINT) AS max_abs_err_1e9
        |FROM e ORDER BY vec_id""".stripMargin,
    "doc_fingerprint" ->
      """SELECT doc_id,
        |  substr(md5(regexp_replace(lower(text), '\s+', ' ', 'g')), 1, 16) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "emb_cosine_topk" ->
      """SELECT query_id, neighbor_id, floor(cos * 1e4) / 1e4 AS cos, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS cos,
        |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |      list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
        |      c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 5)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "emb_mmr_diverse" ->
      """WITH RECURSIVE cand0 AS MATERIALIZED (
        |  SELECT q.vec_id AS query_id, c.vec_id AS id,
        |    CAST(floor(list_cosine_similarity(q.embedding::DOUBLE[],
        |      c.embedding::DOUBLE[]) * 10000) AS BIGINT) AS rel_q
        |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 5),
        |cand AS MATERIALIZED (
        |  SELECT query_id, id, rel_q FROM (
        |    SELECT query_id, id, rel_q,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY rel_q DESC, id) AS rn
        |    FROM cand0)
        |  WHERE rn <= 20),
        |p AS MATERIALIZED (
        |  SELECT a.query_id, a.id AS pa, b.id AS pb,
        |    CAST(floor(list_cosine_similarity(ea.embedding::DOUBLE[],
        |      eb.embedding::DOUBLE[]) * 10000) AS BIGINT) AS sim_q
        |  FROM cand a
        |  JOIN cand b ON a.query_id = b.query_id AND a.id <> b.id
        |  JOIN embeddings ea ON ea.vec_id = a.id
        |  JOIN embeddings eb ON eb.vec_id = b.id),
        |sel AS (
        |  SELECT query_id, CAST(1 AS BIGINT) AS rank, id AS vec_id,
        |    [id] AS chosen, CAST(7 * rel_q AS BIGINT) AS mmr_q
        |  FROM (SELECT query_id, id, rel_q,
        |      row_number() OVER (PARTITION BY query_id
        |        ORDER BY rel_q DESC, id) AS rn
        |    FROM cand)
        |  WHERE rn = 1
        |  UNION ALL
        |  -- joins + nested aggregation only: correlated subqueries and
        |  -- LATERAL inside the recursion silently lose the s.chosen
        |  -- correlation in DuckDB 1.0, zeroing every diversity penalty;
        |  -- argmax is max over a (score, -id) struct (ties → lower id)
        |  SELECT t.query_id, t.rank + 1, -(t.m).nid,
        |    list_append(t.chosen, -(t.m).nid), (t.m).score
        |  FROM (
        |    SELECT g.query_id, g.rank, g.chosen,
        |      max(struct_pack(score := g.score, nid := -g.id)) AS m
        |    FROM (
        |      SELECT s.query_id, s.rank, s.chosen, c.id,
        |        CAST(7 * c.rel_q - 3 * coalesce(
        |          max(CASE WHEN list_contains(s.chosen, p.pb)
        |            THEN p.sim_q END), 0) AS BIGINT) AS score
        |      FROM sel s
        |      JOIN cand c ON c.query_id = s.query_id
        |        AND NOT list_contains(s.chosen, c.id)
        |      LEFT JOIN p ON p.query_id = c.query_id AND p.pa = c.id
        |      WHERE s.rank < 8
        |      GROUP BY s.query_id, s.rank, s.chosen, c.id, c.rel_q) g
        |    GROUP BY g.query_id, g.rank, g.chosen) t)
        |SELECT query_id, rank, vec_id, mmr_q FROM sel
        |ORDER BY query_id, rank""".stripMargin,
    "emb_ann_recall" ->
      """WITH sg AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN embedding[u.i + 1] > 0
        |      THEN CASE WHEN u.i = 63 THEN CAST(-9223372036854775807 AS HUGEINT) - 1
        |        ELSE CAST(CAST(1 AS BIGINT) << u.i AS HUGEINT) END
        |      ELSE CAST(0 AS HUGEINT) END)
        |      AS BIGINT) AS sig
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(0, 63)) AS i) u
        |  GROUP BY vec_id),
        |ham AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id
        |        ORDER BY bit_count(xor(q.sig, c.sig)), c.vec_id) AS rank
        |    FROM sg q JOIN sg c ON q.vec_id <> c.vec_id
        |    WHERE q.vec_id < 20)
        |  WHERE rank <= 10),
        |tru AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |        list_cosine_similarity(q.embedding::DOUBLE[],
        |          c.embedding::DOUBLE[]) DESC,
        |        c.vec_id) AS rank
        |    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        |    WHERE q.vec_id < 20)
        |  WHERE rank <= 10),
        |j AS (
        |  SELECT t.query_id, CAST(count(*) AS BIGINT) AS c
        |  FROM tru t JOIN ham h
        |    ON h.query_id = t.query_id AND h.neighbor_id = t.neighbor_id
        |  GROUP BY t.query_id)
        |SELECT q.vec_id AS query_id,
        |  coalesce(c, 0) AS n_common,
        |  coalesce(c, 0) * 10 AS recall_pct
        |FROM (SELECT vec_id FROM embeddings WHERE vec_id < 20) q
        |LEFT JOIN j ON j.query_id = q.vec_id
        |ORDER BY query_id""".stripMargin,
    "emb_hamming_ann" ->
      """WITH s AS (
        |  SELECT vec_id,
        |    CAST(sum(CASE WHEN embedding[u.i + 1] > 0
        |      THEN CASE WHEN u.i = 63 THEN CAST(-9223372036854775807 AS HUGEINT) - 1
        |        ELSE CAST(CAST(1 AS BIGINT) << u.i AS HUGEINT) END
        |      ELSE CAST(0 AS HUGEINT) END)
        |      AS BIGINT) AS sig
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(generate_series(0, 63)) AS i) u
        |  GROUP BY vec_id)
        |SELECT query_id, neighbor_id, hamming, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    CAST(bit_count(xor(q.sig, c.sig)) AS BIGINT) AS hamming,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY bit_count(xor(q.sig, c.sig)), c.vec_id) AS rank
        |  FROM s q JOIN s c ON q.vec_id <> c.vec_id
        |  WHERE q.vec_id < 20)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "emb_cosine_dedup" ->
      """SELECT a.label AS blk, a.vec_id AS id_a, b.vec_id AS id_b,
        |  floor(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) * 1e4) / 1e4 AS cos
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
        |ORDER BY blk, id_a, id_b""".stripMargin,
    "mm_bmp_decode" ->
      """SELECT d.doc_id,
        |  d.doc_id % 64 + 1 AS width,
        |  d.doc_id % 48 + 1 AS height,
        |  54 + ((3 * (d.doc_id % 64 + 1) + 3) // 4) * 4 * (d.doc_id % 48 + 1) AS n_bytes,
        |  round(avg((d.doc_id + u.y) % 256), 6) AS mean_px
        |FROM documents d,
        |  LATERAL (SELECT unnest(generate_series(0, d.doc_id % 48)) AS y) u
        |GROUP BY 1, 2, 3, 4 ORDER BY doc_id""".stripMargin,
    "mm_bmp_resize" ->
      """SELECT d.doc_id,
        |  CAST(8 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
        |  CAST(246 AS BIGINT) AS n_bytes,
        |  round(avg((d.doc_id + (u.y * (d.doc_id % 48 + 1)) // 8) % 256), 6) AS mean_px
        |FROM documents d,
        |  LATERAL (SELECT unnest(generate_series(0, 7)) AS y) u
        |GROUP BY 1, 2, 3, 4 ORDER BY doc_id""".stripMargin,
    "mm_image_phash_dct" ->
      s"""WITH $IMG_DCT_CTES,
        |cl AS (SELECT min(doc_id) AS doc_id, phash FROM hp GROUP BY phash)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |FROM cl a JOIN cl b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 6
        |ORDER BY id_a, id_b""".stripMargin,
    "mm_image_phash_pairs" ->
      s"""WITH $IMG_AHASH_CTES,
        |cl AS (SELECT min(doc_id) AS doc_id, ahash FROM hb GROUP BY ahash)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT) AS hamming
        |FROM cl a JOIN cl b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,
    // Class-collapsed confirm (r11, VERDICT r10 #3): exact-hash classes
    // are distance-0 cliques, so member-level CC and class-level CC
    // share components and component minima (the class rep IS the class
    // min), and every member of a size-≥2 class is member-paired — the
    // two spellings are output-identical on ANY lake. The collapsed
    // O(classes²) join is what survives a mass-duplicated corpus, where
    // the member-level O(n²) confirm ground for 110 min at sf1.
    "mm_image_dedup_keep" ->
      s"""WITH RECURSIVE $IMG_AHASH_CTES,
        |cl AS (SELECT min(doc_id) AS doc_id, ahash FROM hb GROUP BY ahash),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM cl a JOIN cl b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.ahash, b.ahash)) <= 3),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |reach AS (
        |  SELECT src AS v, src AS r FROM edges
        |  UNION
        |  SELECT e.src AS v, reach.r FROM reach JOIN edges e ON e.dst = reach.v),
        |grp AS (SELECT v AS doc_id, min(r) AS group_id FROM reach GROUP BY v)
        |SELECT c.doc_id FROM cl c LEFT JOIN grp USING (doc_id)
        |WHERE grp.group_id IS NULL OR c.doc_id = grp.group_id
        |ORDER BY doc_id""".stripMargin,
    "mm_wav_decode" ->
      """SELECT d.doc_id,
        |  8000 + (d.doc_id % 8) * 1000 AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits,
        |  d.doc_id % 50 + 1 AS n_samples,
        |  avg(abs((d.doc_id * 31 + u.i * 7) % 2001 - 1000)) AS mean_abs
        |FROM documents d,
        |  LATERAL (SELECT unnest(generate_series(0, d.doc_id % 50)) AS i) u
        |GROUP BY 1, 2, 3, 4, 5 ORDER BY doc_id""".stripMargin,
    "mm_wav_features" ->
      """WITH g AS (
        |  SELECT d.doc_id, u.i,
        |    (d.doc_id * 31 + u.i * 7) % 2001 - 1000 AS s,
        |    CASE WHEN u.i > 0
        |      THEN (d.doc_id * 31 + (u.i - 1) * 7) % 2001 - 1000 END AS sp
        |  FROM documents d,
        |    LATERAL (SELECT unnest(generate_series(0, d.doc_id % 50)) AS i) u)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        |  CAST(max(abs(s)) AS BIGINT) AS peak_abs,
        |  CAST(sum(CASE WHEN sp IS NOT NULL AND s * sp < 0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS zero_crossings,
        |  floor(sqrt(CAST(sum(s * s) AS DOUBLE) / count(*)) * 1000000.0)
        |    / 1000000.0 AS rms
        |FROM g GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "mm_wav_resample" ->
      """SELECT d.doc_id,
        |  CAST((8000 + (d.doc_id % 8) * 1000) // 2 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits,
        |  CAST(count(*) AS BIGINT) AS n_samples,
        |  avg(abs((d.doc_id * 31 + u.i * 7) % 2001 - 1000)) AS mean_abs
        |FROM documents d,
        |  LATERAL (SELECT unnest(generate_series(0, d.doc_id % 50, 2)) AS i) u
        |GROUP BY 1, 2, 3, 4 ORDER BY doc_id""".stripMargin,
    "mm_video_frames" ->
      """SELECT d.doc_id, f.f AS frame_idx,
        |  d.doc_id % 16 + 1 AS width,
        |  d.doc_id % 12 + 1 AS height,
        |  d.doc_id % 10 + 1 AS n_frames,
        |  round(avg((d.doc_id + 7 * f.f + u.y) % 256), 6) AS mean_y
        |FROM documents d,
        |  LATERAL (SELECT unnest(generate_series(0, d.doc_id % 10, 2)) AS f) f,
        |  LATERAL (SELECT unnest(generate_series(0, d.doc_id % 12)) AS y) u
        |GROUP BY 1, 2, 3, 4, 5 ORDER BY doc_id, frame_idx""".stripMargin,
    "mm_binary_meta" ->
      """SELECT doc_id,
        |  doc_id % 640 + 1 AS width,
        |  doc_id % 480 + 1 AS height,
        |  strlen(text) + 8 AS n_bytes
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
