package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    graft.plans.install(spark)
    graft.queries.CoreSql.q01PricingSummary(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * installs graft's session plan rules ([[graft.plans.install]]) in the
    * session it is handed before it builds its frame, so every lane plans
    * the same way whichever main or harness built the session. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (graft.queries.CoreSql.queries ++ graft.queries.TpchQueries.queries ++
      graft.queries.EdgeSql.queries ++
      graft.queries.TimeSeriesQueries.queries ++
      graft.queries.QualityGisQueries.queries ++ graft.queries.PipelineQueries.queries ++
      graft.queries.IngestQueries.queries ++ graft.queries.StreamQueries.queries ++
      graft.queries.LakeContract.queries ++ graft.queries.AdminQueries.queries)
      .map { case (name, lane) =>
        name -> ((s: SparkSession, dir: String) => { graft.plans.install(s); lane(s, dir) })
      }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    graft.queries.CoreSql.oracleSql ++ graft.queries.TpchQueries.oracleSql ++
      graft.queries.EdgeSql.oracleSql ++
      graft.queries.TimeSeriesQueries.oracleSql ++
      graft.queries.QualityGisQueries.oracleSql ++ graft.queries.PipelineQueries.oracleSql ++
      graft.queries.IngestQueries.oracleSql ++ graft.queries.StreamQueries.oracleSql ++
      graft.queries.LakeContract.oracleSql ++ graft.queries.AdminQueries.oracleSql
}
