package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from the SURVEY.md §2 inventory;
  * [[oracleSql]] carries the DuckDB-equivalent SQL for the driver's t2
  * correctness compare (hash over column-name-sorted values).
  */
object SparkEntry {

  private[graft] val modules: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])] =
    Seq(
      (AggQueries.queries, AggQueries.oracles),
      (JoinQueries.queries, JoinQueries.oracles),
      (RelationalQueries.queries, RelationalQueries.oracles),
      (OverQueries.queries, OverQueries.oracles),
      (TimeWindowQueries.queries, TimeWindowQueries.oracles),
      (FunctionQueries.queries, FunctionQueries.oracles),
      (LateralQueries.queries, LateralQueries.oracles),
      (PipelineQueries.queries, PipelineQueries.oracles),
      (CepQueries.queries, CepQueries.oracles),
      (SqlQueries.queries, SqlQueries.oracles),
      (TpcdsQueries.queries, TpcdsQueries.oracles),
      (StreamQueries.queries, StreamQueries.oracles),
      (FuzzQueries.queries, FuzzQueries.oracles),
      (FuzzFamilies.queries, FuzzFamilies.oracles),
      (IntegrationQueries.queries, IntegrationQueries.oracles)
    )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    JoinQueries.queries("q_join_inner")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.map(_._1).reduce(_ ++ _)

  /** Bench-only entries (b_ prefix): timed by Bench, never dumped by
    * Verify — no oracle can exist for them (e.g. a different hash
    * family changes LSH candidate sets by design).
    */
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] =
    PipelineQueries.benchOnly ++ ScaleProbes.benchOnly ++
      StreamQueries.benchOnly

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every query key has one (RegistrySpec pins
    * it): Verify writes each key's parquet next to its oracle.
    */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)
}
