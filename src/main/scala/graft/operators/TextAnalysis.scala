package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Native

/** Text analysis for training-data curation (SURVEY.md §2.4): language
  * ID, quality scoring, token counting, fingerprinting. Everything is
  * codegen'd column arithmetic/regex — these run in the 100 TB ingest
  * path, so no UDFs.
  */
object TextAnalysis {

  /** Stopword regexes per language (word-bounded, lowercase input) —
    * the SQL-expressible formulation that pins oracles and the kernel
    * equivalence specs.
    */
  val langPatterns: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|a|in|is|it)\\b",
    "de" -> "\\b(der|die|und|das|ein|ist|zu|den)\\b",
    "es" -> "\\b(el|la|de|que|y|los|es|en)\\b",
    "fr" -> "\\b(le|la|les|des|et|un|une|est)\\b",
    "zh" -> "(的|了|是|在|我|有)")

  /** Same word lists for the native `word_set_count`/`char_set_count`
    * kernels (TextExpressions): one scan instead of one regex engine
    * pass per language.
    */
  private val langWordSets: Seq[(String, Column => Column)] = Seq(
    "en" -> (t => Native.call("word_set_count", t, lit("the,and,of,to,a,in,is,it"))),
    "de" -> (t => Native.call("word_set_count", t, lit("der,die,und,das,ein,ist,zu,den"))),
    "es" -> (t => Native.call("word_set_count", t, lit("el,la,de,que,y,los,es,en"))),
    "fr" -> (t => Native.call("word_set_count", t, lit("le,la,les,des,et,un,une,est"))),
    "zh" -> (t => Native.call("char_set_count", t, lit("的了是在我有"))))

  /** n-gram/stopword heuristic language ID with a fixed priority order
    * for ties (en > de > es > fr > zh). Returns score columns + the
    * prediction. Scores come from the single-pass kernels; values are
    * identical to the regex formulation (equivalence-spec-pinned).
    */
  def langId(df: DataFrame, textCol: String): DataFrame = {
    val scored = langWordSets.foldLeft(df) { case (d, (lang, f)) =>
      d.withColumn(s"s_$lang", f(col(textCol)).cast("long"))
    }
    val best = langWordSets.map { case (l, _) => col(s"s_$l") }
      .reduce((a, b) => greatest(a, b))
    val pred = langWordSets.foldRight(lit("und"): Column) { case ((l, _), acc) =>
      when(col(s"s_$l") === best && best > 0, lit(l)).otherwise(acc)
    }
    scored.withColumn("predicted_lang", pred)
  }

  /** Heuristic quality score in [0,1]: token count, punctuation ratio,
    * stopword density, mean token length. Punct/stopword counts run in
    * the native kernels, not the regex engine.
    */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_chars", length(t).cast("long"))
      .withColumn("n_tokens", size(split(t, " ")).cast("long"))
      .withColumn("mean_token_len",
        length(regexp_replace(t, " ", "")).cast("double") / col("n_tokens"))
      .withColumn("punct_ratio",
        Native.call("non_alnum_space_count", t).cast("double") / col("n_chars"))
      .withColumn("stopword_ratio",
        Native.call("word_set_count", t, lit("the,and,of,to,a,in,is,it")).cast("double")
          / col("n_tokens"))
      // floor-quantized output: the score's inputs are deterministic
      // on any engine (exact-int divisions), but round() IMPLEMENTATIONS
      // disagree on boundary values (exact-decimal half-up vs float
      // multiply) — floor of bitwise-identical doubles cannot diverge
      .withColumn("quality_score",
        floor((lit(0.25) * least(col("n_tokens").cast("double") / 100.0, lit(1.0))
          + lit(0.25) * (lit(1.0) - col("punct_ratio"))
          + lit(0.25) * least(col("stopword_ratio") * 5.0, lit(1.0))
          + lit(0.25) * least(col("mean_token_len") / 8.0, lit(1.0))) * 1000000.0)
          / 1000000.0)
  }

  /** Whitespace + BPE-ish token counts (native kernel for the BPE-ish
    * class pattern).
    */
  def tokenCounts(df: DataFrame, textCol: String): DataFrame = {
    df.withColumn("n_ws_tokens", size(split(col(textCol), " ")).cast("long"))
      .withColumn("n_bpe_tokens",
        Native.call("bpe_token_count", col(textCol)).cast("long"))
  }

  /** Whitespace-normalized md5 content fingerprint (first 16 hex).
    * Normalization runs in the single-pass `ws_normalize` kernel (the
    * regex-engine formulation it replaces is pinned equivalent in
    * PipelineSpec and remains the DuckDB oracle's spelling).
    */
  def fingerprint(textCol: Column): Column =
    substring(md5(Native.call("ws_normalize", lower(textCol))), 1, 16)

  /** `idCol` with the [[fingerprint]] of `textCol`. */
  def fingerprintOf(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol), fingerprint(col(textCol)).as("fingerprint"))
  }

  /** Benchmark decontamination: flag corpus documents that share any
    * word-shingle with the benchmark set (the standard "n-gram overlap
    * with eval data" filter in training-data pipelines; production
    * pipelines use 8-13-gram shingles — this uses the library's 3-gram
    * `word_shingle_set` kernel, same shape).
    *
    * 100 TB shape: benchmark shingles are DISTINCT + broadcast (eval
    * sets are tiny next to the corpus), the corpus side is a mapper
    * explode into a broadcast semi-join — no corpus shuffle; only the
    * contaminated id list (bounded by real overlap) is exchanged for
    * the final flag join.
    */
  def flagContaminated(corpus: DataFrame, idCol: String, textCol: String,
                       benchmark: DataFrame): DataFrame = {
    val bShingles = broadcast(benchmark
      .select(explode(Native.call("word_shingle_set", col(textCol))).as("sh"))
      .distinct())
    val contaminated = corpus
      .select(col(idCol), explode(Native.call("word_shingle_set", col(textCol))).as("sh"))
      .join(bShingles, Seq("sh"), "left_semi")
      .select(idCol).distinct()
      .withColumn("__c", lit(true))
    corpus.join(contaminated, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__c"), lit(false)).as("contaminated"))
  }

  /** Bloom-prefiltered decontamination — the SAME exact output as
    * [[flagContaminated]] (bloom filters have no false negatives, and
    * every bloom hit is re-confirmed by the exact shingle semi-join),
    * with the corpus-side cost moved where it belongs at 100 TB:
    * [[flagContaminated]] explodes EVERY corpus doc's shingles through
    * the broadcast semi-join (~total-token rows through a join
    * operator), while here a per-doc bloom probe over the shingle
    * array (one broadcast BloomFilter, no explode) drops clean docs at
    * the scan, and only the contamination-rate-bounded candidate set
    * explodes for the exact confirm. The benchmark side pays two
    * bounded driver actions (distinct-shingle count + bloom build —
    * benchmark sets are tiny next to the corpus, the
    * exactIvfCentroids-sample precedent). The probe is a Scala UDF by
    * necessity (Spark exposes `DataFrameStatFunctions.bloomFilter` but
    * no public might_contain expression); it gates only the scan
    * filter, never the hot confirm path.
    */
  def flagContaminatedBloom(corpus: DataFrame, idCol: String, textCol: String,
                            benchmark: DataFrame, fpp: Double = 0.01): DataFrame = {
    val bsh = benchmark
      .select(explode(Native.call("word_shingle_set", col(textCol))).as("sh"))
      .distinct()
    val nShingles = math.max(1L, bsh.count())
    val bloom = bsh.stat.bloomFilter("sh", nShingles, fpp)
    val bloomB = corpus.sparkSession.sparkContext.broadcast(bloom)
    // asNondeterministic: the probe itself is pure, but a deterministic
    // filter on a derived column is pushed below the projection by
    // substitution, making the shingle KERNEL evaluate twice per corpus
    // row (once in the pushed filter, once in the projection the
    // explode below still needs) — the guide §4.4 duplicate-evaluation
    // fix, applied to the one Scala UDF in the repo
    val mightHit = udf((shs: Seq[String]) =>
      shs != null && shs.exists(bloomB.value.mightContainString))
      .asNondeterministic()
    val cand = corpus
      .select(col(idCol), Native.call("word_shingle_set", col(textCol)).as("__shs"))
      .filter(mightHit(col("__shs")))
    val contaminated = cand
      .select(col(idCol), explode(col("__shs")).as("sh"))
      .join(broadcast(bsh), Seq("sh"), "left_semi")
      .select(idCol).distinct()
      .withColumn("__c", lit(true))
    corpus.join(contaminated, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__c"), lit(false)).as("contaminated"))
  }

  /** RAG/serving chunk manifest: fixed word-window chunking with
    * overlap — every doc split into windows of `window` words at
    * `stride` (< window ⇒ overlap = window − stride), the chunk
    * inventory (id, ordinal, start, token count, content hash) every
    * retrieval pipeline materializes before embedding. Chunk count is
    * the exact integer formula 1 + ⌈(n−window)/stride⌉ for n > window
    * else 1, so both engines agree row-for-row; md5 of the chunk text
    * makes content drift hash-visible. PURE MAPPER + posexplode — at
    * 100 TB this is one pass over the scan, no shuffle, parallelism =
    * input splits.
    */
  def chunkManifest(df: DataFrame, idCol: String, textCol: String,
                    window: Int = 64, stride: Int = 48): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"chunkManifest: need 1 <= stride <= window, got window=$window stride=$stride")
    val words = split(col(textCol), " ")
    val n = size(words)
    // cast: integer '/' on int columns resolves to DOUBLE division in
    // Spark SQL; div-style chunk count must stay integral for sequence()
    val nChunks = when(n <= window, lit(1))
      .otherwise(lit(1) + ((n - window + (stride - 1)) / stride).cast("int"))
    df.select(col(idCol), words.as("__w"), n.as("__n"), nChunks.as("__k"))
      .select(col(idCol), col("__w"), col("__n"),
        posexplode(transform(sequence(lit(0), col("__k") - 1),
          i => lit(1) + i * stride)).as(Seq("chunk_id", "__start")))
      .select(col(idCol),
        col("chunk_id").cast("long").as("chunk_id"),
        col("__start").cast("long").as("start_word"),
        least(lit(window), col("__n") - col("__start") + 1).cast("long")
          .as("n_tokens"),
        md5(concat_ws(" ", slice(col("__w"), col("__start"), lit(window))))
          .as("chunk_hash"))
  }
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PhoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** PII scrub for a training corpus: count and redact emails, IPv4
    * addresses, and phone-shaped numbers. A pure mapper (codegen'd
    * regexp_replace/regexp_count chain — no UDF), so at 100 TB it is
    * one pass over the scan with no shuffle. Redaction order matters:
    * emails first (their domains would otherwise partially match the
    * looser patterns), then IPs, then phones.
    */
  def piiRedact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      regexp_count(col(textCol), lit(EmailRe)).as("n_emails"),
      regexp_count(col(textCol), lit(Ipv4Re)).as("n_ips"),
      regexp_count(col(textCol), lit(PhoneRe)).as("n_phones"),
      regexp_replace(
        regexp_replace(
          regexp_replace(col(textCol), EmailRe, "<EMAIL>"),
          Ipv4Re, "<IP>"),
        PhoneRe, "<PHONE>").as("redacted"))

  /** Gopher-class repetition signals per document: the fraction of
    * word-bigram occurrences that belong to duplicated bigrams and the
    * share of the single most frequent bigram — high values flag
    * boilerplate/spam/generated text in a training corpus. The counts
    * come from the single-pass `rep_stats` kernel, so at 100 TB this is
    * a pure mapper: no bigram explode, no shuffle. Fractions are
    * floor-quantized ratios of exact integers (engine-stable) and NULL
    * when the doc has no bigrams.
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol), Native.call("rep_stats", col(textCol)).as("st"))
      .select(col(idCol),
        col("st").getItem(0).as("total_bigrams"),
        col("st").getItem(1).as("dup_occurrences"),
        col("st").getItem(2).as("top_count"))
      .withColumn("dup_frac",
        when(col("total_bigrams") > 0,
          floor(col("dup_occurrences").cast("double") / col("total_bigrams") * 1000000.0)
            / 1000000.0))
      .withColumn("top_frac",
        when(col("total_bigrams") > 0,
          floor(col("top_count").cast("double") / col("total_bigrams") * 1000000.0)
            / 1000000.0))
  }

  /** Chunk-level boilerplate detection (the RefinedWeb/CCNet line-dedup
    * idea, over fixed-width word chunks since the corpus has no line
    * structure): split each doc into consecutive `chunkWords`-word
    * chunks, hash them, count DISTINCT docs per chunk corpus-wide, and
    * score each doc by the fraction of its chunks that appear in >=
    * `minDocs` docs. High ratio = the doc is mostly shared boilerplate.
    *
    * 100 TB shape: chunks are a mapper-side explode (~1/chunkWords rows
    * per word, each an md5 key), the corpus-wide frequency is ONE
    * partial-aggregable count-distinct-by-key aggregate, and the
    * score join is chunk-keyed — no self-join, no pair expansion, work
    * linear in corpus tokens. The doc left-join keeps sub-chunk docs
    * (NULL ratio) so the output is total.
    */
  def chunkBoilerplate(df: DataFrame, idCol: String, textCol: String,
                       chunkWords: Int = 8, minDocs: Int = 2): DataFrame = {
    val chunkRows = df
      .select(col(idCol), split(col(textCol), " ").as("__t"))
      .filter(size(col("__t")) >= chunkWords)
      .select(col(idCol),
        explode(sequence(lit(0),
          (size(col("__t")) / chunkWords).cast("int") - 1)).as("__j"),
        col("__t"))
      .select(col(idCol), md5(concat_ws(" ",
        slice(col("__t"), col("__j") * chunkWords + 1, lit(chunkWords)))).as("__ch"))
    val freq = chunkRows.select(col(idCol), col("__ch")).distinct()
      .groupBy("__ch").agg(count(lit(1)).as("__docs"))
    val perDoc = chunkRows.join(freq, "__ch")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("__docs") >= minDocs, 1L).otherwise(0L)).as("bp_chunks"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
        coalesce(col("bp_chunks"), lit(0L)).as("bp_chunks"),
        when(col("n_chunks") > 0,
          floor(col("bp_chunks").cast("double") / col("n_chunks") * 1000000.0)
            / 1000000.0).as("bp_ratio"))
  }

  /** Unigram corpus-frequency rarity signal per doc — the integer-exact
    * stand-in for a unigram log-prob quality model (sums of engine-
    * specific log() values cannot hash-match across engines; sums of
    * exact token counts can, and rank docs the same way): per doc the
    * token count, mean corpus frequency of its tokens (floor-quantized
    * ratio of exact integers), the rarest token's frequency, and how
    * many of its tokens are corpus hapaxes. Low mean frequency / low
    * min = rare vocabulary; high = stereotyped text.
    *
    * 100 TB shape: token explode (mapper) → ONE vocab-sized count
    * aggregate → token-keyed join back → per-doc aggregate. The vocab
    * table is Zipf-small relative to the corpus; Spark's AQE broadcasts
    * the frequency side when it fits.
    */
  def tokenRarity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(split(col(textCol), " ")).as("__tok"))
    val freq = toks.groupBy("__tok").agg(count(lit(1)).as("__f"))
    toks.join(freq, "__tok")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__f")).as("__sumf"),
        min(col("__f")).as("min_freq"),
        sum(when(col("__f") === 1, 1L).otherwise(0L)).as("hapax_tokens"))
      .select(col(idCol), col("n_tokens"),
        (floor(col("__sumf").cast("double") / col("n_tokens") * 1000000.0)
          / 1000000.0).as("mean_freq"),
        col("min_freq"), col("hapax_tokens"))
  }

  /** Bigram language-model fluency score per doc — the corpus-trained
    * stand-in for perplexity filtering, hash-stable across engines:
    * each bigram scores its conditional frequency c(w1 w2)/c(w1·)
    * floor-quantized to an integer 1e-6 grid BEFORE summation, so the
    * per-doc mean is a ratio of exact integers. High mean = the doc's
    * transitions are common corpus-wide (fluent/stereotyped); low =
    * rare transitions (novel or garbled). Shape: bigram explode →
    * bigram-count and prefix-count aggregates (vocab-bounded) → two
    * token-keyed joins back → per-doc aggregate; every stage partial-
    * aggregable, work linear in corpus tokens.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), split(col(textCol), " ").as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(col(idCol), explode(sequence(lit(0), size(col("__t")) - 2)).as("__j"),
        col("__t"))
      .select(col(idCol), element_at(col("__t"), col("__j") + 1).as("__w1"),
        concat_ws(" ", element_at(col("__t"), col("__j") + 1),
          element_at(col("__t"), col("__j") + 2)).as("__bg"))
    val bgCounts = toks.groupBy("__bg").agg(count(lit(1)).as("__cbg"))
    val prefCounts = toks.groupBy("__w1").agg(count(lit(1)).as("__cw"))
    val scored = toks.join(bgCounts, "__bg").join(prefCounts, "__w1")
      .withColumn("__q",
        floor(col("__cbg").cast("double") / col("__cw") * 1000000.0).cast("long"))
    val perDoc = scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("__q")).as("__sq"))
      .select(col(idCol), col("n_bigrams"),
        (floor(col("__sq").cast("double") / col("n_bigrams")) / 1000000.0)
          .as("mean_cond_prob"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("mean_cond_prob"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, the
    * head/middle/tail split CCNet applies after LM scoring): each doc
    * scored with the corpus bigram-LM fluency signal (the same
    * conditional-probability grid as [[bigramLmScore]], kept as an
    * exact integer), then the corpus is split into three buckets each
    * holding ~1/3 of total TOKEN mass, best-scored first. 100 TB
    * shape: NO corpus-wide sort — scores live on an integer grid, so
    * the bucket thresholds come from a token-mass running sum over the
    * TINY distinct-score table (≤ grid-size rows, aggregated
    * map-side), broadcast back onto the per-doc frame. The boundary
    * rule is by score-group START (a whole score-group lands in one
    * bucket), so equal-scored docs bucket identically and no
    * intra-score ordering exists to disagree on. Docs with < 2 words
    * (no bigram evidence) score −1 → tail. Reference anchor:
    * cnosdb has no corpus curation surface; this is pipeline-first
    * (SURVEY §2.4).
    */
  def ccnetBucket(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), split(col(textCol), " ").as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(col(idCol), explode(sequence(lit(0), size(col("__t")) - 2)).as("__j"),
        col("__t"))
      .select(col(idCol), element_at(col("__t"), col("__j") + 1).as("__w1"),
        concat_ws(" ", element_at(col("__t"), col("__j") + 1),
          element_at(col("__t"), col("__j") + 2)).as("__bg"))
    val bgCounts = toks.groupBy("__bg").agg(count(lit(1)).as("__cbg"))
    val prefCounts = toks.groupBy("__w1").agg(count(lit(1)).as("__cw"))
    val perDoc = toks.join(bgCounts, "__bg").join(prefCounts, "__w1")
      .withColumn("__q",
        floor(col("__cbg").cast("double") / col("__cw") * 1000000.0).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"), sum(col("__q")).as("__sq"))
      .select(col(idCol),
        floor(col("__sq").cast("double") / col("__n")).cast("long").as("lm_q"))
    val pd = df
      .select(col(idCol), size(split(col(textCol), " ")).cast("long").as("n_tok"))
      .join(perDoc, Seq(idCol), "left")
      .withColumn("lm_q", coalesce(col("lm_q"), lit(-1L)))
    val wCum = org.apache.spark.sql.expressions.Window
      .orderBy(col("lm_q").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val wTot = org.apache.spark.sql.expressions.Window
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val buckets = pd.groupBy("lm_q").agg(sum("n_tok").as("__g"))
      .withColumn("__cum", coalesce(sum("__g").over(wCum), lit(0L)))
      .withColumn("__tot", sum("__g").over(wTot))
      .select(col("lm_q"),
        when(col("__cum") * 3 < col("__tot"), "head")
          .when(col("__cum") * 3 < col("__tot") * 2, "middle")
          .otherwise("tail").as("bucket"))
    pd.join(broadcast(buckets), Seq("lm_q"))
      .select(col(idCol), col("lm_q"), col("n_tok"), col("bucket"))
  }

  /** Per-doc most-distinctive terms — the TF-IDF ranking surface with
    * an integer-exact ordering instead of engine-specific ln():
    * rank tokens by (term frequency DESC, document frequency ASC,
    * token ASC), which orders exactly like tf·idf for monotone idf and
    * hash-matches across engines. Shape: (doc, tok) tf aggregate →
    * tok-keyed df aggregate (vocab-sized) → join back → per-doc top-k
    * window over ~|vocab per doc| rows.
    */
  def topTerms(df: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    val toks = df.select(col(idCol),
      explode(split(col(textCol), " ")).as("tok"))
    val tf = toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
      .orderBy(col("tf").desc, col("df").asc, col("tok").asc)
    tf.join(dfreq, "tok")
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(idCol), col("tok"), col("tf"), col("df"),
        col("rank").cast("long").as("rank"))
  }

  /** Corpus composition rollup per (lang, source): docs, chars, tokens,
    * distinct texts (by content hash) and the exact-duplicate ratio —
    * the first dashboard any 100 TB curation run needs. ONE partial-
    * aggregable aggregate (count-distinct of md5 partials per group);
    * ratios are floor-quantized exact-integer divisions.
    */
  def corpusStats(df: DataFrame, textCol: String,
                  groupCols: Seq[String], charsCol: String): DataFrame = {
    val g = groupCols.map(col)
    df.groupBy(g: _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col(charsCol).cast("long")).as("total_chars"),
        sum(size(split(col(textCol), " ")).cast("long")).as("total_tokens"),
        countDistinct(md5(col(textCol))).as("distinct_texts"))
      .withColumn("dup_ratio",
        floor((col("n_docs") - col("distinct_texts")).cast("double")
          / col("n_docs") * 1000000.0) / 1000000.0)
  }

  /** Tokenizer fertility per group — the tokenizer-efficiency
    * dashboard multilingual corpus work starts from (fertility =
    * subword tokens per whitespace word; bytes per subword token):
    * languages where the tokenizer fragments badly get over-weighted
    * in token-budgeted mixes, and this is the rollup that shows it.
    * Subword counts come from the codegen'd `bpe_token_count` kernel
    * (letter-run / digit-run / symbol segmentation); ONE partial-
    * aggregable aggregate, ratios floor-quantized after exact integer
    * sums — no per-doc rows survive to the shuffle.
    */
  def tokenizerFertility(df: DataFrame, textCol: String,
                         groupCols: Seq[String]): DataFrame = {
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col(textCol), " ")).cast("long")).as("total_words"),
        sum(Native.call("bpe_token_count", col(textCol)).cast("long"))
          .as("total_subword_tokens"),
        sum(octet_length(col(textCol)).cast("long")).as("total_bytes"))
      .withColumn("fertility",
        when(col("total_words") > 0,
          floor(col("total_subword_tokens").cast("double")
            / col("total_words") * 1000000.0) / 1000000.0))
      .withColumn("bytes_per_token",
        when(col("total_subword_tokens") > 0,
          floor(col("total_bytes").cast("double")
            / col("total_subword_tokens") * 1000000.0) / 1000000.0))
  }

  /** CCNet-style line-level dedup (Wenzek et al. 2020): split every doc
    * on `delim`, keep each distinct line's FIRST corpus occurrence (the
    * lexicographic-min (doc, line_no) claimant — also dropping repeats
    * WITHIN a doc), and reassemble the surviving lines in original order.
    * Docs whose every line was claimed elsewhere survive with
    * kept_lines=0 and an empty text, so the output stays total.
    *
    * 100 TB shape: explode is a mapper; the claimant table is ONE
    * partial-aggregable min(struct) aggregate keyed on the line's md5
    * (so the wide line string never enters the shuffle twice); the
    * survivor check is an equi-join on that hash; reassembly is one
    * doc-keyed aggregate. No window over the corpus, no driver state;
    * both shuffles key on values (line hash, doc id) with cardinality
    * ≤ input rows.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                delim: String = "\n"): DataFrame = {
    val lines = df
      .select(col(idCol), posexplode(split(col(textCol), delim))
        .as(Seq("__ln", "__line")))
      .withColumn("__h", md5(col("__line")))
    // first-claimant via a hash-partitioned window min — one exchange
    // of the line rows instead of groupBy + join-back re-executing and
    // re-shuffling them (same rewrite as [[substringDedup]])
    val wh = org.apache.spark.sql.expressions.Window.partitionBy("__h")
    val kept = lines
      .withColumn("__f", min(struct(col(idCol), col("__ln"))).over(wh))
      .filter(col(idCol) === col("__f")(idCol) && col("__ln") === col("__f")("__ln"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("kept_lines"),
        concat_ws(delim, transform(
          array_sort(collect_list(struct(col("__ln"), col("__line")))),
          x => x("__line"))).as("dedup_text"))
    df.select(col(idCol),
        size(split(col(textCol), delim)).cast("long").as("n_lines"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("kept_lines"), lit(0L)).as("kept_lines"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  /** Exact-substring span dedup (Lee et al. 2022, arXiv:2107.06499 —
    * "Deduplicating Training Data Makes Language Models Better", the
    * ExactSubstr dedup): every k-token window whose text occurs
    * elsewhere in the corpus (or earlier in the same doc) keeps only
    * its FIRST occurrence — the minimum (doc, pos) claimant — and each
    * token covered by any later duplicate window is REMOVED; docs are
    * reassembled from the surviving tokens in order (so a duplicated
    * span ≥ k vanishes from every copy but the first, while novel
    * prefixes/suffixes around it survive). The paper builds a corpus
    * suffix array; the Spark-first equivalent is a k-window hash
    * claimant — identical removal decisions for duplicated spans ≥ k,
    * no giant sequential index.
    *
    * 100 TB shape: window hashing is a pure mapper (one md5 per token
    * position; only (id, pos, hash) reaches the shuffle, never window
    * text); the claimant table is ONE partial-aggregable min of the
    * packed (doc·1e7+pos) key grouped by hash; coverage expansion is
    * k-bounded per dup window; reassembly is one doc-keyed aggregate.
    * No corpus-wide window sort, no driver state.
    */
  def substringDedup(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 8): DataFrame = {
    val toks = df.select(col(idCol), split(col(textCol), " ").as("__toks"))
    val wins = toks.select(col(idCol), posexplode(expr(
        s"""CASE WHEN size(__toks) >= $k THEN
           |  transform(sequence(0, size(__toks) - $k),
           |    p -> md5(concat_ws(' ', slice(__toks, p + 1, $k))))
           |ELSE array() END""".stripMargin)).as(Seq("__p", "__h")))
      .withColumn("__packed", col(idCol) * lit(10000000L) + col("__p"))
    // claimant via a hash-partitioned window min instead of
    // groupBy + join-back: the join shape executed the window-hash
    // mapper (one md5 per token position — the lane's dominant CPU)
    // TWICE and exchanged its output twice; the window computes the
    // per-hash min in the same single exchange that the filter then
    // consumes (guide §2.4 "two operations keyed the same way can
    // share one exchange"). Same (doc, pos) claimant semantics.
    val wh = org.apache.spark.sql.expressions.Window.partitionBy("__h")
    val covered = wins
      .withColumn("__fmin", min(col("__packed")).over(wh))
      .filter(col("__packed") =!= col("__fmin"))
      .select(col(idCol), explode(expr(s"sequence(__p, __p + ${k - 1})")).as("__q"))
      .distinct()
    val kept = toks
      .select(col(idCol), posexplode(col("__toks")).as(Seq("__q", "__tok")))
      .join(covered, Seq(idCol, "__q"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("kept_tokens"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("__q"), col("__tok")))),
          x => x("__tok"))).as("dedup_text"))
    df.select(col(idCol), size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("dedup_text"), lit("")).as("dedup_text"))
  }

  /** Concat-and-chunk sequence packing — the training-prep step that
    * turns a curated corpus into fixed-length training sequences: docs
    * are concatenated in deterministic (shard, doc id) order and split
    * at `seqLen`-token boundaries; each doc is accounted to the
    * sequence where it STARTS. Returns one row per training sequence
    * with its doc span and token count (the packing manifest a loader
    * consumes).
    *
    * 100 TB shape: sharding bounds the only sequential dependency (the
    * running token sum) to corpus/`shards` docs; each shard's cumsum is
    * one sorted-window task after a single shuffle on the shard key, so
    * parallelism is `shards` — size it to the cluster, independent of
    * corpus size. Everything after the window is partial-aggregable.
    *
    * WARNING: `shards` CAPS the cumsum stage's parallelism — the default
    * 16 is a local[32] setting. On a fleet, grow it with the executor
    * count (e.g. 2-4× total cores); it changes the packing (shard is
    * part of the sequence key), so pin it per corpus snapshot. For a
    * FIXED `shards`, output is fully deterministic: the shard hash and
    * the in-shard `idCol` order are data-derived, so input partitioning
    * and arrival order cannot change a single manifest row (spec-pinned).
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
                    seqLen: Int = 512, shards: Int = 16): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col(idCol))
    df.select(col(idCol),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"),
        pmod(col(idCol), lit(shards)).cast("long").as("shard"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .withColumn("seq_id", floor((col("__cum") - col("n_tokens"))
        / lit(seqLen.toLong)))
      .groupBy(col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("seq_tokens"),
        min(col(idCol)).as("first_doc"),
        max(col(idCol)).as("last_doc"))
  }

  /** Per-doc packing OFFSETS — the companion manifest to
    * [[packSequences]]: where inside its sequence each doc STARTS (the
    * attention-reset / loss-mask boundaries a training loader consumes;
    * a doc crossing a seqLen boundary continues into the next sequence,
    * which is exactly what the offset + n_tokens pair lets the loader
    * reconstruct). Same shard-bounded cumsum as packSequences — one
    * window after one shuffle on the shard key — so the two manifests
    * are guaranteed consistent.
    */
  def packOffsets(df: DataFrame, idCol: String, textCol: String,
                  seqLen: Int = 512, shards: Int = 16): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col(idCol))
    df.select(col(idCol),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"),
        pmod(col(idCol), lit(shards)).cast("long").as("shard"))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .withColumn("seq_id", floor((col("__cum") - col("n_tokens"))
        / lit(seqLen.toLong)))
      .withColumn("start_off",
        col("__cum") - col("n_tokens") - col("seq_id") * lit(seqLen.toLong))
      .select(col("shard"), col("seq_id"), col(idCol), col("start_off"),
        col("n_tokens"))
  }

  /** Gopher-class document quality FILTER (Rae et al. 2021,
    * arXiv:2112.11446 Appendix A — the rule SET; bounds adapted to the
    * synthetic corpus so each rule is non-vacuous): per-doc boolean
    * rules over whitespace tokens and newline lines, every ratio
    * comparison cleared to an exact integer cross-multiplication so no
    * boolean can flip on a float boundary across engines. keep = AND of
    * all rules. Pure mapper — one corpus pass, stays in whole-stage
    * codegen; at 100 TB this is the ingest-path gate that runs before
    * any shuffle-bearing dedup.
    *
    * Rules (token = split on ' '; line = split on '\n'):
    *  - r_word_count:    minWords ≤ n_words ≤ maxWords
    *  - r_mean_word_len: 3 ≤ (non-space chars)/n_words ≤ 10
    *  - r_symbol:        '#' chars ≤ 10% of words
    *  - r_ellipsis:      lines ending "..." ≤ 30% of lines
    *  - r_bullet:        lines starting "- " ≤ 50% of lines
    *  - r_alpha:         words containing a letter ≥ 80% of words
    *  - r_stopword:      ≥ 2 occurrences from the en stopword list
    */
  def gopherFilter(df: DataFrame, idCol: String, textCol: String,
                   minWords: Int = 25, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val base = df.select(
      col(idCol),
      size(split(t, " ")).cast("long").as("n_words"),
      size(split(t, "\n")).cast("long").as("n_lines"),
      length(regexp_replace(t, " ", "")).cast("long").as("n_chars_ns"),
      (length(t) - length(regexp_replace(t, "#", ""))).cast("long").as("n_hash"),
      size(filter(split(t, "\n"), l => l.endsWith("..."))).cast("long").as("n_ellipsis"),
      size(filter(split(t, "\n"), l => l.startsWith("- "))).cast("long").as("n_bullet"),
      Native.call("alpha_word_count", t).as("n_alpha"),
      Native.call("word_set_count", t, lit("the,and,of,to,a,in,is,it"))
        .cast("long").as("n_stop"))
    val rules = base
      .withColumn("r_word_count",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_mean_word_len",
        col("n_chars_ns") >= col("n_words") * 3 && col("n_chars_ns") <= col("n_words") * 10)
      .withColumn("r_symbol", col("n_hash") * 10 <= col("n_words"))
      .withColumn("r_ellipsis", col("n_ellipsis") * 10 <= col("n_lines") * 3)
      .withColumn("r_bullet", col("n_bullet") * 10 <= col("n_lines") * 5)
      .withColumn("r_alpha", col("n_alpha") * 5 >= col("n_words") * 4)
      .withColumn("r_stopword", col("n_stop") >= 2)
    rules.withColumn("keep",
      col("r_word_count") && col("r_mean_word_len") && col("r_symbol") &&
        col("r_ellipsis") && col("r_bullet") && col("r_alpha") && col("r_stopword"))
  }

  /** BPE merge LEARNING (Sennrich et al. ACL'16 — the tokenizer-training
    * step an LLM data pipeline runs over its corpus): `rounds` byte-pair
    * merges learned greedily — each round counts adjacent token pairs
    * over the VOCABULARY (distinct words × frequency, the standard BPE
    * trick: corpus-size-independent after one distinct-word aggregate),
    * picks the most frequent pair (ties lexicographic), and applies the
    * merge left-to-right non-overlapping (space-sentinel `replace`,
    * identical semantics in Spark and DuckDB, so an oracle replays every
    * round bit-for-bit).
    *
    * Returns one row per round: (round, pair, cnt, vocab_tokens_after)
    * — the learned merge table plus the shrinking token count that
    * certifies each merge actually applied.
    *
    * Shape at 100 TB: the corpus is touched ONCE (word explode → count
    * agg); every learning round runs on the vocab (|V| rows), pair
    * counting is a bounded explode + partial agg, and the only driver
    * actions are `rounds` 1-row top-pair collects (the exactIvfCentroids
    * bounded-action precedent). Word-frequency weighting means the
    * result is exactly what full-corpus BPE would learn.
    */
  def bpeLearn(corpus: DataFrame, textCol: String, rounds: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val vocab = corpus
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("cnt"))
      // ' c h a r s ' with sentinel spaces so merges are token-boundary-safe
      .withColumn("s", concat(lit(" "),
        trim(regexp_replace(col("w"), "(.)", "$1 ")), lit(" ")))
      .select("s", "cnt")
      .cache()
    var cur = vocab
    // (round, pair, cnt) — the per-round token totals are attached below
    val picked = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long)]
    val totals = scala.collection.mutable.ArrayBuffer.empty[Long]
    // the cache serves this call's rounds only: left persisted, Spark's
    // CacheManager would hand it to every later plan over the same corpus
    // (the next lane, the next pass), which would skip the corpus
    // aggregate. Every use below is an eager action.
    try {
      (1 to rounds).foreach { r =>
        // round r's pair-count job doubles as round r-1's token count: an
        // observe metric on `cur` (which carries r-1 applied merges) sums
        // size·cnt in the SAME pass the pair aggregation consumes — one
        // job per round instead of the former pair-job + count-job two
        // (guide §1.2 one-pass discipline; the appendWriteCounted pattern)
        val obs = org.apache.spark.sql.Observation()
        val observed = cur.observe(obs,
          sum((size(split(trim(col("s")), " ")) * col("cnt")).cast("long")).as("total"))
        val toks = observed.withColumn("t", split(trim(col("s")), " "))
          .filter(size(col("t")) >= 2) // single-token words carry no pairs
        val top = toks
          .select(col("cnt"), explode(transform(sequence(lit(0), size(col("t")) - 2),
            i => concat_ws(" ", element_at(col("t"), i + 1), element_at(col("t"), i + 2))))
            .as("pair"))
          .groupBy("pair").agg(sum("cnt").as("n"))
          .orderBy(col("n").desc, col("pair")).limit(1)
          .collect()
        require(top.nonEmpty, s"bpeLearn: vocabulary exhausted at round $r")
        if (r > 1) totals += obs.get("total").asInstanceOf[Long]
        val (pair, n) = (top(0).getString(0), top(0).getLong(1))
        // two plain-replace passes = canonical greedy left-to-right BPE:
        // one pass misses an occurrence whose leading space was consumed
        // by the previous match, and such missed occurrences are never
        // adjacent (a taken match sits between them), so pass 2 gets them
        // all — identical non-overlapping semantics in DuckDB's replace()
        val search = lit(s" $pair ")
        val repl = lit(s" ${pair.replace(" ", "")} ")
        cur = cur.withColumn("s", replace(replace(col("s"), search, repl), search, repl))
        picked += ((r.toLong, pair, n))
      }
      // the LAST round's post-merge total has no following pair job to
      // ride — one dedicated count closes the ledger
      totals += cur
        .select(sum((size(split(trim(col("s")), " ")) * col("cnt")).cast("long")))
        .head.getLong(0)
    } finally vocab.unpersist()
    val merges = picked.zip(totals).map { case ((r, p, n), t) => (r, p, n, t) }
    merges.toSeq.toDF("round", "pair", "cnt", "vocab_tokens_after")
  }

  /** BPE segmentation APPLY — the tokenizer-serving path: every word
    * segmented by an ordered merge list (each merge the same double-pass
    * canonical-greedy replace as [[bpeLearn]]), returning per-doc BPE
    * token and word counts. PURE MAPPER: the merge table rides into the
    * plan as literals and all work is codegen'd higher-order
    * string/array functions — at 100 TB tokenization is the
    * embarrassingly parallel pass it should be, no shuffle, no state.
    */
  def bpeApply(corpus: DataFrame, idCol: String, textCol: String,
               merges: Seq[String]): DataFrame = {
    // native kernel: one pass per word, merge table parsed once — the
    // composed HOF chain ([[bpeApplyComposed]]) is interpreted and
    // measured 6× slower at sf10 (58.8 s vs the kernel)
    require(merges.forall(m => !m.contains(";")),
      s"bpeApply: merge tokens must not contain the ';' spec separator")
    val spec = lit(merges.mkString(";"))
    corpus.select(col(idCol),
      element_at(Native.call("bpe_seg_count", col(textCol), spec), 1)
        .as("n_tokens_bpe"),
      element_at(Native.call("bpe_seg_count", col(textCol), spec), 2)
        .as("n_words"))
  }

  /** The pure-functions formulation of [[bpeApply]] — the spec the
    * kernel must agree with (pinned by PipelineSpec).
    */
  private[graft] def bpeApplyComposed(corpus: DataFrame, idCol: String, textCol: String,
                                      merges: Seq[String]): DataFrame = {
    val words = split(col(textCol), " ")
    val seg = transform(words, w => {
      val spaced = concat(lit(" "), trim(regexp_replace(w, "(.)", "$1 ")), lit(" "))
      merges.foldLeft(spaced) { (acc, pair) =>
        val search = lit(s" $pair ")
        val repl = lit(s" ${pair.replace(" ", "")} ")
        replace(replace(acc, search, repl), search, repl)
      }
    })
    corpus.select(col(idCol),
      aggregate(seg, lit(0L),
        (acc, x) => acc + size(split(trim(x), " ")).cast("long")).as("n_tokens_bpe"),
      size(words).cast("long").as("n_words"))
  }

  /** N-gram NOVELTY quality signal: the fraction of a doc's distinct
    * word-3-grams whose first corpus occurrence (min doc_id claimant)
    * is this doc — exact copies score 0, fresh text scores near 1e6;
    * the "how much of this page is new to the corpus" curation signal
    * (the per-doc view of the same claimant idea CCNet line dedup and
    * ExactSubstr span dedup apply destructively). Shape at 100 TB:
    * shingling is the codegen'd `word_shingle_set` mapper, grams travel
    * as md5 (wide strings stay out of the claimant shuffle — the
    * line-dedup precedent), the claimant is ONE partial-aggregable min
    * per gram, and the score is a per-doc count agg — linear in tokens,
    * two gram-keyed exchanges, no corpus-wide window. Docs too short to
    * shingle keep n_grams = 0 with a NULL score (quantized ratio is
    * guarded, no divide-by-zero under ANSI).
    */
  def ngramNovelty(corpus: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sh = corpus
      .select(col(idCol),
        explode(Native.call("word_shingle_set", col(textCol))).as("sh"))
      // 8-byte shuffle key (narrower AND cheaper than md5's 32-hex);
      // a cross-gram collision (p ≈ pairs/2⁶⁴) would merge two
      // claimants — the same documented tradeoff as the stream lanes'
      // series keying
      .withColumn("h", xxhash64(col("sh")))
    val claim = sh.groupBy("h").agg(min(col(idCol)).as("claimant"))
    val scored = sh.join(claim, Seq("h"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("claimant") === col(idCol), 1L).otherwise(0L)).as("n_novel"))
    corpus.select(idCol).join(scored, Seq(idCol), "left")
      .withColumn("n_grams", coalesce(col("n_grams"), lit(0L)))
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty_q",
        when(col("n_grams") > 0, expr("n_novel * 1000000 div n_grams")))
  }

  /** C4-style page cleaning (Raffel et al. 2020, §2.2 "Colossal Clean
    * Crawled Corpus" heuristics) — the other canonical pre-training
    * corpus gate next to [[gopherFilter]]. Line level: keep only lines
    * that end in a terminal punctuation mark (. ! ? ") AND have ≥ 5
    * words; page level: drop pages whose CLEANED text has < 3
    * sentences, or whose raw text contains "lorem ipsum" or a curly
    * brace (code). Returns per doc the rule counters, the keep flag and
    * the cleaned text itself (kept lines rejoined), so an oracle checks
    * the actual output corpus, not just the booleans. Pure mapper —
    * line split/filter/rejoin are codegen'd higher-order functions, no
    * explode, nothing doc-shaped shuffles; like the Gopher gate this
    * runs before any shuffle-bearing dedup at 100 TB.
    */
  def c4Filter(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val keptLines = filter(split(t, "\n"), l =>
      (l.endsWith(".") || l.endsWith("!") || l.endsWith("?") || l.endsWith("\"")) &&
        size(split(trim(l), " ")) >= 5)
    df.select(
        col(idCol), t.as("__t"),
        size(split(t, "\n")).cast("long").as("n_lines"),
        keptLines.as("__kept"))
      .withColumn("n_kept", size(col("__kept")).cast("long"))
      .withColumn("cleaned", array_join(col("__kept"), "\n"))
      .withColumn("n_sentences",
        (length(col("cleaned"))
          - length(translate(col("cleaned"), ".!?", ""))).cast("long"))
      .withColumn("has_lorem", lower(col("__t")).contains("lorem ipsum"))
      .withColumn("has_brace", col("__t").contains("{"))
      .withColumn("keep",
        col("n_sentences") >= 3 && !col("has_lorem") && !col("has_brace"))
      .drop("__t", "__kept")
  }

  /** DSIR-style hashed importance weight (Xie et al. 2023,
    * arXiv:2302.03169 "Data Selection for Language Models via
    * Importance Resampling"): tokens hash into 256 md5 buckets; each
    * bucket's weight is the integer-quantized target/raw frequency
    * ratio floor(1e6·(t_b+1)/(r_b+1)) (add-one smoothed); a doc's score
    * sums its tokens' bucket weights and `dsir_score` is the per-token
    * floor average — ratio-of-counts importance sampling on a hashed
    * feature space, exact integers end to end. Shape at 100 TB: token
    * explode → two 256-row count aggregates → the 256-entry weight
    * table COLLECTS (bounded by construction) and ships back as a
    * literal into the `dsir_score` kernel, so the scoring pass is a
    * pure mapper — no doc-shaped rows ever shuffle (the r7 first cut
    * joined the exploded tokens against a broadcast weight table and
    * re-aggregated per doc: 7.0 s at sf1 vs 1.3 s for the kernel).
    */
  def dsirWeights(corpus: DataFrame, idCol: String, textCol: String,
                  target: DataFrame): DataFrame = {
    def bucket(tok: Column): Column =
      conv(substring(md5(tok), 1, 2), 16, 10).cast("long")
    val toks = corpus.select(explode(split(col(textCol), " ")).as("tok"))
      .withColumn("b", bucket(col("tok")))
    val tToks = target.select(explode(split(col(textCol), " ")).as("tok"))
      .withColumn("b", bucket(col("tok")))
    val rCnt = toks.groupBy("b").agg(count(lit(1)).as("r_b"))
    val tCnt = tToks.groupBy("b").agg(count(lit(1)).as("t_b"))
    val weights = new Array[Long](256) // buckets absent from the corpus keep weight 0
    rCnt.join(tCnt, Seq("b"), "left")
      .withColumn("w", expr("(coalesce(t_b, 0) + 1) * 1000000 div (r_b + 1)"))
      .select("b", "w").collect()
      .foreach(r => weights(r.getAs[Long]("b").toInt) = r.getAs[Long]("w"))
    val csv = lit(weights.mkString(","))
    corpus
      .withColumn("__s", Native.call("dsir_score", col(textCol), csv))
      .select(col(idCol),
        element_at(col("__s"), 1).as("n_tokens"),
        element_at(col("__s"), 2).as("score"))
      .withColumn("dsir_score", expr("score div n_tokens"))
  }

  /** Per-doc winnowing fingerprint summary (MOSS selection, Schleimer
    * et al. SIGMOD'03): distinct selected-hash count + an md5 digest of
    * the sorted fingerprint list, via the native `winnow_set` kernel
    * (one per-doc pass, k=w=8, Karp-Rabin mod 1e9+7). Hash-checkable —
    * a SQL oracle replays the same polynomial hashes and window-min
    * selection. Pure mapper: only (id, count, digest) leave the scan,
    * so nothing doc-length-dependent ever shuffles at 100 TB. Docs with
    * no char 8-gram are dropped (no fingerprint exists).
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol), Native.call("winnow_set", col(textCol)).as("fps"))
      .filter(size(col("fps")) > 0)
      .select(col(idCol), size(col("fps")).cast("long").as("n_fp"),
        md5(concat_ws(",", transform(col("fps"), v => v.cast("string")))).as("fp_digest"))
  }

  /** Karp-Rabin winnowing fingerprint over char k-grams (plain-Scala
    * reference form of the `winnow_set` kernel; UTF-16 positions — kept
    * for the shift-tolerance spec).
    */
  def winnow(text: String, k: Int = 8, window: Int = 8): Seq[Long] = {
    if (text.length < k) return Seq.empty
    // modulus/base sized so every intermediate product fits a Long
    val B = 131L
    val M = 1000000007L
    val hashes = new Array[Long](text.length - k + 1)
    var h = 0L
    var pow = 1L
    var i = 0
    while (i < k) { h = (h * B + text.charAt(i)) % M; if (i < k - 1) pow = (pow * B) % M; i += 1 }
    hashes(0) = h
    i = k
    while (i < text.length) {
      h = ((h - text.charAt(i - k) * pow % M + M * 2) % M * B + text.charAt(i)) % M
      hashes(i - k + 1) = h
      i += 1
    }
    hashes.sliding(window).map(_.min).toSeq.distinct
  }
}
