package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The query catalog itself lives in [[graft.Queries]]. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the TPC-H-Q1-style pricing summary through the full pipeline
    * engine (FileReader actor -> SqlTransformer actor -> temp view).
    * Same session precondition as [[queries]]. */
  def entry(spark: SparkSession): DataFrame = {
    val spec = Queries.all.find(_.name == "q1_pricing_summary").get
    spec.run(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2.
    * The session must be built by [[Sessions.local]], or must set
    * `spark.sql.legacy.parquet.nanosAsLong=true`: the events and
    * streaming queries no longer set it per call, and a TIMESTAMP(NANOS)
    * events file fails to read without it ("Illegal Parquet type"). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Queries.all.map(s => s.name -> s.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Queries.all.flatMap(s => s.oracle.map(o => s.name -> o)).toMap
}
