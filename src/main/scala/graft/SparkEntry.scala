package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Repartition, Sort, WithCTE}
import org.apache.spark.sql.graftbridge.Bridge

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from the SURVEY.md §2 inventory;
  * [[oracleSql]] carries the DuckDB-equivalent SQL for the driver's t2
  * correctness compare (hash over column-name-sorted values).
  *
  * Every result of [[queries]] and [[benchOnly]] is gathered into one
  * place by its consumer (a `collect()`, a `coalesce(1)` write, a
  * `count()`), so a final global `ORDER BY` is planned over one
  * partition, as Flink's batch planner plans it (a singleton
  * distribution unless range sort is switched on): [[sortOnce]] puts a
  * `coalesce(1)` under the root sort. Its output is one partition, which
  * already satisfies the sort's ordered distribution, so no range
  * exchange is planned and no sampling job runs the whole plan a second
  * time; the rows and their order are those of the range sort.
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
    sortedOnce(modules.iterator.map(_._1).reduce(_ ++ _))

  /** Bench-only entries (b_ prefix): timed by Bench, never dumped by
    * Verify — no oracle can exist for them (e.g. a different hash
    * family changes LSH candidate sets by design).
    */
  def benchOnly: Map[String, (SparkSession, String) => DataFrame] =
    sortedOnce(PipelineQueries.benchOnly ++ ScaleProbes.benchOnly ++
      StreamQueries.benchOnly)

  private def sortedOnce(fns: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, (SparkSession, String) => DataFrame] =
    fns.map { case (k, f) => k -> ((s: SparkSession, dir: String) => sortOnce(f(s, dir))) }

  /** `df` with its root global sort (seen through `Project`s and a
    * `WithCTE`) planned over one partition; every other plan — a sort
    * under a `LIMIT`, a streaming frame, no root sort — is `df` itself.
    */
  private[graft] def sortOnce(df: DataFrame): DataFrame = {
    def rewrite(p: LogicalPlan): Option[LogicalPlan] = p match {
      case s: Sort if s.global =>
        Some(s.copy(child = Repartition(1, shuffle = false, s.child)))
      case pr: Project => rewrite(pr.child).map(c => pr.copy(child = c))
      case w: WithCTE => rewrite(w.plan).map(c => w.copy(plan = c))
      case _ => None
    }
    if (df.isStreaming) df
    else rewrite(df.queryExecution.analyzed).fold(df)(Bridge.ofRows(df.sparkSession, _))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every query key has one (RegistrySpec pins
    * it): Verify writes each key's parquet next to its oracle.
    */
  def oracleSql: Map[String, String] =
    modules.iterator.map(_._2).reduce(_ ++ _)
}
