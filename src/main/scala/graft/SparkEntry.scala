package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the declared operator surface (SURVEY.md §2.11): each
  * entry is a deterministic query over the fixture tables at `dir`,
  * and (where ANSI-SQL-expressible) `oracleSql` carries its DuckDB
  * twin for the driver's hash-match correctness gate.
  */
object SparkEntry {

  /** The one SparkSession recipe of the repo's mains (Bench, QBench,
    * Verify, PlanDump, PhaseProbe, CdcBench, LakehouseCli):
    * `local[SPARK_GRAFT_CPUS]` (default `defaultCpus`; `SPARK_MASTER`
    * overrides the master, the CLI's cluster hook) with one shuffle
    * partition per core, UTC session time, AQE with runtime skew-join
    * splitting, AQE re-optimizing CACHED plans too (engine paths cache
    * reused frames — merge joins, upsert batches — and without it every
    * consumer of a cached frame scans the full pre-AQE shuffle
    * partitioning), no UI, WARN logging.
    */
  def session(appName: String, defaultCpus: Int = 32): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.queries("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++
      WindowScalarQueries.queries ++
      StreamEquivQueries.queries ++
      LlmTextQueries.queries ++
      LlmSimQueries.queries ++
      CdcOpQueries.queries ++
      CurationQueries.queries ++
      CorpusStatQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check.
    */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracle ++
      WindowScalarQueries.oracle ++
      StreamEquivQueries.oracle ++
      LlmTextQueries.oracle ++
      LlmSimQueries.oracle ++
      CdcOpQueries.oracle ++
      CurationQueries.oracle ++
      CorpusStatQueries.oracle
}
