package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{AlphaWordCount, Arity, ArrayOverlapCount, BinarySignature, BpeSegCount, BpeTokenCount, CharNgramSet, CharSetCount, DsirScore, MinhashSig, NearestCell, NearestCellCoarse, NearestCellPruned, NonAlnumSpaceCount, NumGcd, NumLcm, PqEncodeCodes, RepStats, SimHash60, VecDot, VecDotI8, WinnowSet, WordSetCount, WordShingleSet, WsNormalize, ZorderKey}

/** SparkSessionExtensions hook: registers graft's native expressions
  * permanently in a session built with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` — the
  * idiomatic deployment for a cluster, where per-session temp-function
  * registration (VectorExpressions.register / ScalarExpressions
  * .register, used by the library's own query entry points) would have
  * to be repeated in every job.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // graft's session plan rules — hidden time partitioning (day
    // predicates derived from event-time predicates) and sampling-free
    // small global sorts; graft.plans.install is the per-session form
    ext.injectOptimizerRule(_ => graft.plans.EventTimeDayPruning)
    ext.injectPlannerStrategy(_ => graft.plans.SmallSortPlanning)
    // tenant/user/role/grant DCL through plain spark.sql(...) — the
    // statements Spark has no grammar for; Spark-owned DDL (CREATE
    // DATABASE/TABLE, SHOW DATABASES, ...) falls through untouched
    ext.injectParser((_, parser) => new graft.admin.GraftAdminParser(parser))
    def info(name: String) = new ExpressionInfo("graft", name)
    // session-info functions (reference session_function/): resolved
    // from session confs at analysis time; current_user/
    // current_database are Spark built-ins and are not shadowed
    ext.injectFunction((FunctionIdentifier("current_tenant"), info("current_tenant"),
      (args: Seq[Expression]) => graft.functions.SessionFunctions.currentTenant(args)))
    ext.injectFunction((FunctionIdentifier("current_role"), info("current_role"),
      (args: Seq[Expression]) => graft.functions.SessionFunctions.currentRole(args)))
    ext.injectFunction((FunctionIdentifier("vec_dot"), info("vec_dot"),
      Arity.binary("vec_dot")(VecDot)))
    ext.injectFunction((FunctionIdentifier("vec_dot_i8"), info("vec_dot_i8"),
      Arity.binary("vec_dot_i8")(VecDotI8)))
    ext.injectFunction((FunctionIdentifier("pq_encode"), info("pq_encode"),
      Arity.binary("pq_encode")(PqEncodeCodes)))
    ext.injectFunction((FunctionIdentifier("nearest_cell"), info("nearest_cell"),
      Arity.binary("nearest_cell")(NearestCell)))
    ext.injectFunction((FunctionIdentifier("nearest_cell_2l"), info("nearest_cell_2l"),
      Arity.binary("nearest_cell_2l")(NearestCellCoarse)))
    ext.injectFunction((FunctionIdentifier("nearest_cell_pruned"), info("nearest_cell_pruned"),
      Arity.binary("nearest_cell_pruned")(NearestCellPruned)))
    ext.injectFunction((FunctionIdentifier("rep_stats"), info("rep_stats"),
      Arity.unary("rep_stats")(RepStats)))
    ext.injectFunction((FunctionIdentifier("ws_normalize"), info("ws_normalize"),
      Arity.unary("ws_normalize")(WsNormalize)))
    ext.injectFunction((FunctionIdentifier("winnow_set"), info("winnow_set"),
      Arity.unary("winnow_set")(WinnowSet)))
    ext.injectFunction((FunctionIdentifier("dsir_score"), info("dsir_score"),
      Arity.binary("dsir_score")(DsirScore)))
    ext.injectFunction((FunctionIdentifier("alpha_word_count"), info("alpha_word_count"),
      Arity.unary("alpha_word_count")(AlphaWordCount)))
    ext.injectFunction((FunctionIdentifier("bin_sig"), info("bin_sig"),
      Arity.unary("bin_sig")(BinarySignature)))
    ext.injectFunction((FunctionIdentifier("bpe_seg_count"), info("bpe_seg_count"),
      Arity.binary("bpe_seg_count")(BpeSegCount)))
    ext.injectFunction((FunctionIdentifier("num_gcd"), info("num_gcd"),
      Arity.binary("num_gcd")(NumGcd)))
    ext.injectFunction((FunctionIdentifier("num_lcm"), info("num_lcm"),
      Arity.binary("num_lcm")(NumLcm)))
    ext.injectFunction((FunctionIdentifier("char_ngram_set"), info("char_ngram_set"),
      Arity.binary("char_ngram_set")(CharNgramSet)))
    ext.injectFunction((FunctionIdentifier("array_overlap_count"), info("array_overlap_count"),
      Arity.binary("array_overlap_count")(ArrayOverlapCount)))
    ext.injectFunction((FunctionIdentifier("minhash_sig"), info("minhash_sig"),
      Arity.binary("minhash_sig")(MinhashSig)))
    ext.injectFunction((FunctionIdentifier("word_shingle_set"), info("word_shingle_set"),
      Arity.unary("word_shingle_set")(WordShingleSet)))
    ext.injectFunction((FunctionIdentifier("simhash60"), info("simhash60"),
      Arity.unary("simhash60")(SimHash60)))
    ext.injectFunction((FunctionIdentifier("word_set_count"), info("word_set_count"),
      Arity.binary("word_set_count")(WordSetCount)))
    ext.injectFunction((FunctionIdentifier("char_set_count"), info("char_set_count"),
      Arity.binary("char_set_count")(CharSetCount)))
    ext.injectFunction((FunctionIdentifier("non_alnum_space_count"), info("non_alnum_space_count"),
      Arity.unary("non_alnum_space_count")(NonAlnumSpaceCount)))
    ext.injectFunction((FunctionIdentifier("bpe_token_count"), info("bpe_token_count"),
      Arity.unary("bpe_token_count")(BpeTokenCount)))
    ext.injectFunction((FunctionIdentifier("zorder_key"), info("zorder_key"),
      Arity.binary("zorder_key")(ZorderKey)))
    ext.injectFunction((FunctionIdentifier("st_distance"), info("st_distance"),
      Arity.binary("st_distance")(functions.StDistance)))
    ext.injectFunction((FunctionIdentifier("st_intersects"), info("st_intersects"),
      Arity.binary("st_intersects")(functions.StIntersects)))
    ext.injectFunction((FunctionIdentifier("st_within"), info("st_within"),
      Arity.binary("st_within")(functions.StWithin)))
    ext.injectFunction((FunctionIdentifier("st_equals"), info("st_equals"),
      Arity.binary("st_equals")(functions.StEquals)))
    ext.injectFunction((FunctionIdentifier("st_area"), info("st_area"),
      Arity.unary("st_area")(functions.StArea)))
    ext.injectFunction((FunctionIdentifier("st_asbinary"), info("st_asbinary"),
      Arity.unary("st_asbinary")(functions.StAsBinary)))
    ext.injectFunction((FunctionIdentifier("st_geomfromwkb"), info("st_geomfromwkb"),
      Arity.unary("st_geomfromwkb")(functions.StGeomFromWkb)))
    ext.injectFunction((FunctionIdentifier("st_geomfromwkt"), info("st_geomfromwkt"),
      Arity.unary("st_geomfromwkt")(functions.StGeomFromWkt)))
    // derived predicates, same SQL surface as the reference gis/mod.rs:
    // contains = within flipped, disjoint = NOT intersects
    ext.injectFunction((FunctionIdentifier("st_contains"), info("st_contains"),
      Arity.binary("st_contains")((a, b) => functions.StWithin(b, a))))
    ext.injectFunction((FunctionIdentifier("st_disjoint"), info("st_disjoint"),
      Arity.binary("st_disjoint")((a, b) =>
        org.apache.spark.sql.catalyst.expressions.Not(functions.StIntersects(a, b)))))
  }
}
