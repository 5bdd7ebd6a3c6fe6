package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, Not}
import org.apache.spark.sql.graftshim.ColumnBridge

/** graft's native function catalog — the one place each of its SQL
  * functions (cnosdb's extension UDFs as Catalyst expressions) is
  * defined, as a name and an arity-checked builder. Three uses:
  *
  *  - `GraftExtensions` injects every entry into a session built with
  *    `spark.sql.extensions` (the cluster deployment);
  *  - [[register]] adds them as temp functions to a session built
  *    without it — `graft.plans.install` runs it, so every lane entry
  *    resolves graft's functions in SQL text;
  *  - [[call]] builds a Column straight from the same builder through
  *    the graftshim bridge: no registry lookup, so an operator's Column
  *    does not depend on which session is active on the calling thread.
  */
object Native {
  type Builder = Seq[Expression] => Expression

  import Arity.{binary, unary}

  /** A builder that checks its own arguments. */
  private def asIs(b: Builder): String => Builder = _ => b

  /** name → builder, in registration order. */
  val catalog: Seq[(String, Builder)] = Seq[(String, String => Builder)](
    // session info (SessionFunctions): resolved from session confs at
    // analysis time; current_user/current_database are Spark built-ins
    "current_tenant" -> asIs(SessionFunctions.currentTenant),
    "current_role" -> asIs(SessionFunctions.currentRole),
    // vectors (VectorExpressions)
    "vec_dot" -> binary(VecDot),
    "vec_dot_i8" -> binary(VecDotI8),
    "pq_encode" -> binary(PqEncodeCodes),
    "bin_sig" -> unary(BinarySignature),
    "nearest_cell" -> binary(NearestCell),
    "nearest_cell_2l" -> binary(NearestCellCoarse),
    "nearest_cell_pruned" -> binary(NearestCellPruned),
    // text (TextExpressions)
    "char_ngram_set" -> binary(CharNgramSet),
    "array_overlap_count" -> binary(ArrayOverlapCount),
    "minhash_sig" -> binary(MinhashSig),
    "word_shingle_set" -> unary(WordShingleSet),
    "simhash60" -> unary(SimHash60),
    "word_set_count" -> binary(WordSetCount),
    "char_set_count" -> binary(CharSetCount),
    "non_alnum_space_count" -> unary(NonAlnumSpaceCount),
    "bpe_token_count" -> unary(BpeTokenCount),
    "rep_stats" -> unary(RepStats),
    "ws_normalize" -> unary(WsNormalize),
    "winnow_set" -> unary(WinnowSet),
    "dsir_score" -> binary(DsirScore),
    "alpha_word_count" -> unary(AlphaWordCount),
    "bpe_seg_count" -> binary(BpeSegCount),
    // scalars (ScalarExpressions)
    "num_gcd" -> binary(NumGcd),
    "num_lcm" -> binary(NumLcm),
    "zorder_key" -> binary(ZorderKey),
    // planar GIS (GisExpressions)
    "st_distance" -> binary(StDistance),
    "st_intersects" -> binary(StIntersects),
    "st_within" -> binary(StWithin),
    "st_equals" -> binary(StEquals),
    "st_area" -> unary(StArea),
    "st_asbinary" -> unary(StAsBinary),
    "st_geomfromwkb" -> unary(StGeomFromWkb),
    "st_geomfromwkt" -> unary(StGeomFromWkt),
    // derived predicates, same SQL surface as the reference gis/mod.rs:
    // contains = within flipped, disjoint = NOT intersects
    "st_contains" -> binary((a, b) => StWithin(b, a)),
    "st_disjoint" -> binary((a, b) => Not(StIntersects(a, b)))
  ).map { case (name, builder) => name -> builder(name) }

  private val builders: Map[String, Builder] = catalog.toMap

  /** `name(cols...)` as a Column built directly from the expression
    * tree; a wrong argument count throws WRONG_NUM_ARGS, as in SQL. The
    * session functions read their conf when the builder runs: here at
    * this call, in SQL text at analysis.
    */
  def call(name: String, cols: Column*): Column = {
    val builder = builders.getOrElse(name,
      throw new IllegalArgumentException(s"not a graft native function: $name"))
    ColumnBridge.column(builder(cols.map(ColumnBridge.expression)))
  }

  /** Registers the catalog in `spark`'s function registry. A name whose
    * entry already holds the catalog's builder (from `GraftExtensions`
    * or an earlier call) is skipped, so a repeat call changes and logs
    * nothing; any other entry of that name, a Spark built-in included,
    * is replaced.
    */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    catalog.foreach { case (name, builder) =>
      if (!reg.lookupFunctionBuilder(FunctionIdentifier(name)).contains(builder))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
