package graft

import org.apache.spark.sql.SparkSession

/** The one definition of a graft local session: `Bench`, `Verify`, the
 *  test suites and the test-scope probes all build through [[local]], so
 *  the catalog runs under the same confs wherever it runs. `Launcher`
 *  builds its own session, because its master and confs come from
 *  spark-submit and the application config. Every sub-session the
 *  program makes comes from [[subSession]]. */
object Sessions {

  /** Spark's per-session artifact isolation. While it is on, each
   *  session, each `newSession()` and each streaming query's clone gets
   *  its own executor class loader, and the codegen cache, keyed by
   *  (class loader, source), compiles every generated class again for
   *  it. The program adds no per-session jars or classes, so it turns
   *  the isolation off. */
  val ArtifactIsolation = "spark.sql.artifact.isolation.enabled"

  /** Local cores of a catalog entrypoint (`SPARK_GRAFT_CPUS`, default 4).
   *  A string: it also names Bench's per-core-count history file. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** A `local[cores]` session with one shuffle partition per core.
   *  Defaults every caller relies on:
   *  - UTC session timezone: [[Queries.normalizeEventTs]] casts
   *    TIMESTAMP_NTZ event times value-preservingly only under UTC;
   *  - `nanosAsLong`: TIMESTAMP(NANOS) parquet reads as epoch-nanos
   *    longs, which `normalizeEventTs` truncates to micros;
   *  - the SQL warehouse and Derby's home (and its `derby.log`) under
   *    `target/`, not the working directory;
   *  - the UI off and WARN logging;
   *  - no per-session artifact isolation ([[ArtifactIsolation]]).
   *  `extra` confs are applied last, so they override a default. */
  def local(cores: String = cpus,
            extra: Seq[(String, String)] = Nil): SparkSession = {
    System.setProperty("derby.system.home", "target/derby")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target/derby"))
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.ui.enabled", "false")
      .config(ArtifactIsolation, "false")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** A sub-session of `root` for one pipeline job: its own temp views,
   *  SQLConf and function registry over the shared SparkContext and
   *  cache. It shares the executor class loader, so a class compiled for
   *  one job's plan is reused by every later job with the same plan,
   *  unless the application set [[ArtifactIsolation]] itself. Spark reads
   *  that conf the first time the session's artifacts are used, so it is
   *  set here, before the session runs anything. */
  def subSession(root: SparkSession): SparkSession = {
    val session = root.newSession()
    if (!root.sparkContext.getConf.contains(ArtifactIsolation))
      session.conf.set(ArtifactIsolation, "false")
    session
  }

  /** Drop every storage block the session holds (persist and
   *  localCheckpoint in the iterative and multi-consumer operators). Run
   *  between catalog queries: 250+ queries in one session otherwise
   *  accumulate blocks until eviction stalls land in a later query.
   *  `blocking` waits for the eviction to finish. */
  def dropStorage(spark: SparkSession, blocking: Boolean): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking))
}
