package graft

import graft.core.{Actor, JobContext, PipelineContext, PipelineRunner}
import graft.pipeline.{Action, Job, Pipeline, View}
import graft.source.FileReader
import graft.sql.SqlTransformer
import org.apache.spark.sql.{DataFrame, SparkSession}

class PipelineRunnerSpec extends SparkSpec {

  private def readerAction(view: String, table: String = "lineitem.parquet") =
    Action(s"read_$view",
      new FileReader().sourceFormat("parquet").fileUri(s"$sfDir/$table"),
      Some(View(view)))

  test("end-to-end: reader -> sql -> view") {
    val p = Pipeline("t", Seq(Job("j", Seq(
      readerAction("li"),
      Action("agg", new SqlTransformer().sqlString(
        "select l_returnflag, count(*) as c from li group by l_returnflag"),
        Some(View("out")))))), singleSparkSession = true)
    new PipelineRunner(PipelineContext(singleSparkSession = true)).run(p)(spark)
    spark.table("out").count() shouldBe 3
  }

  test("missing input view fails with a clear error") {
    val p = Pipeline("t", Seq(Job("j", Seq(
      Action("agg", new SqlTransformer().sqlString("select * from nope_v"),
        Some(View("out2")), inputViews = Seq("nope_v"))))), singleSparkSession = true)
    val e = intercept[IllegalStateException] {
      new PipelineRunner(PipelineContext(singleSparkSession = true)).run(p)(spark)
    }
    e.getMessage should include("nope_v")
  }

  test("validation-run limit truncates outputs") {
    val p = Pipeline("t", Seq(Job("j", Seq(
      readerAction("li_limit")))), singleSparkSession = true)
    new PipelineRunner(PipelineContext(singleSparkSession = true,
      validationRunLimit = Some(7))).run(p)(spark)
    spark.table("li_limit").count() shouldBe 7
  }

  test("pipeline-wide plan gate: settings.planAudit fails a cartesian action, allowRules passes it") {
    val cross = Pipeline("t", Seq(Job("j", Seq(
      readerAction("pa_li"),
      readerAction("pa_od", "orders.parquet"),
      Action("boom", new SqlTransformer().sqlString(
        "select * from pa_li cross join pa_od"),
        Some(View("pa_out")))))), singleSparkSession = true,
      planAudit = Some("error"))
    val e = intercept[IllegalStateException] {
      new PipelineRunner(PipelineContext(singleSparkSession = true)).run(cross)(spark)
    }
    e.getMessage should include("plan audit")
    e.getMessage should include("cartesian-join")
    // the failure is recorded in the runner metrics
    // (one row per attempted action; the failing one carries the status)

    // an explicitly-allowed rule (a labeled brute-force stage) passes
    val allowed = cross.copy(planAuditAllowRules = Set("cartesian-join"))
    new PipelineRunner(PipelineContext(singleSparkSession = true)).run(allowed)(spark)
    spark.table("pa_out").columns.length should be > 0
    // a clean pipeline under the strictest severity (warn) also passes:
    // plain filtered aggregate has only info findings
    val clean = Pipeline("t2", Seq(Job("j", Seq(
      readerAction("pa_li2"),
      Action("agg", new SqlTransformer().sqlString(
        "select l_returnflag, count(*) as c from pa_li2 group by l_returnflag"),
        Some(View("pa_out2")))))), singleSparkSession = true,
      planAudit = Some("warn"))
    new PipelineRunner(PipelineContext(singleSparkSession = true)).run(clean)(spark)
    spark.table("pa_out2").count() shouldBe 3
  }

  test("pipeline-wide plan gate: an error gate still fails a cartesian join, a warn gate unpushed filters") {
    // an error gate skips the physical pass (it reports info and warn
    // only); the logical pass still runs and still fails a cartesian join
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val cross = li.crossJoin(spark.read.parquet(s"$sfDir/orders.parquet"))
    graft.plans.PlanAudit.audit(cross, threshold = "error").map(_.rule) shouldBe Seq("cartesian-join")
    def gated(threshold: String) = Pipeline("t", Seq(Job("j", Seq(
      Action("scan", new graft.source.FileReader() {
          override def run(ctx: JobContext)(implicit s: SparkSession): Option[DataFrame] =
            Some(s.read.format(classOf[UnpushedFilterSource].getName).load())
        }, Some(View("pg_out")))))),
      singleSparkSession = true, planAudit = Some(threshold))
    // the scan's explain block reports a data filter it did not push: a
    // warn-level finding of the physical pass
    val e = intercept[IllegalStateException] {
      new PipelineRunner(PipelineContext(singleSparkSession = true)).run(gated("warn"))(spark)
    }
    e.getMessage should include("unpushed-filters")
    new PipelineRunner(PipelineContext(singleSparkSession = true)).run(gated("error"))(spark)
    spark.table("pg_out").columns shouldBe Array("id")
  }

  test("a pipeline's second identical run compiles no new class") {
    // each job runs in its own sub-session; they share the executor class
    // loader, so the codegen cache serves the second run's every class
    import org.apache.spark.metrics.source.CodegenMetrics
    def pipeline = Pipeline("twice", Seq(
      Job("agg", Seq(
        readerAction("tw_li"),
        Action("sum", new SqlTransformer().sqlString(
          "select l_returnflag, sum(l_quantity) as q from tw_li " +
            "where l_discount < 0.05 group by l_returnflag"),
          Some(View("tw_sum", global = true))))),
      Job("write", Seq(
        Action("write", new graft.sink.FileWriter().sinkFormat("parquet")
          .fileUri(tmpDir("twice")).sourceView("global_temp.tw_sum"), None)))))
    // the suite runs sequentially in its own forked JVM, so the JVM-wide
    // compile counter moves only for this test's work
    def compiles(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      new PipelineRunner(PipelineContext()).run(pipeline)(spark)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    compiles() should be > 0L
    compiles() shouldBe 0L
    spark.catalog.dropGlobalTempView("tw_sum")
  }

  test("an error validator reads its view once: the writer scans no input again") {
    // own input directories, so their scans are told apart from other
    // suites' work on the shared tables
    val in = tmpDir("vonce")
    spark.read.parquet(s"$sfDir/lineitem.parquet").write.parquet(s"$in/li")
    spark.read.parquet(s"$sfDir/part.parquet").write.parquet(s"$in/part")
    val out = tmpDir("vonce_out") + "/brands"
    val pipeline = Pipeline("vonce", Seq(Job("j", Seq(
      Action("read_li", new FileReader().sourceFormat("parquet").fileUri(s"$in/li"), Some(View("vo_li"))),
      Action("read_part", new FileReader().sourceFormat("parquet").fileUri(s"$in/part"), Some(View("vo_part"))),
      Action("revenue", new SqlTransformer().sqlString(
        "select p_brand, count(*) as n, sum(l_extendedprice) as rev " +
          "from vo_li join vo_part on l_partkey = p_partkey group by p_brand"),
        Some(View("vo_rev"))),
      Action("positive", new graft.validation.SqlDataValidator().sourceView("vo_rev")
        .whereValid("rev > 0"), Some(View("vo_ok"))),
      Action("write", new graft.sink.FileWriter().sinkFormat("parquet")
        .fileUri(out).sourceView("vo_ok"), None)))))
    // jobs, SQL executions and input scans of this test's tagged work
    val tag = "validated-pipeline-pin"
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    def scans(p: org.apache.spark.sql.execution.SparkPlanInfo): Int =
      (if (p.nodeName.startsWith("Scan parquet") &&
           p.metadata.get("Location").exists(_.contains("vonce"))) 1 else 0) +
        p.children.map(scans).sum
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.tags", "")
            .split(",").contains(tag))) counts.merge("jobs", 1, Integer.sum)
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
            if x.jobTags.contains(tag) =>
          counts.merge("sql", 1, Integer.sum)
          counts.merge("scans", scans(x.sparkPlanInfo), Integer.sum)
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.addJobTag(tag)
    try new PipelineRunner(PipelineContext()).run(pipeline)(spark)
    finally {
      spark.sparkContext.removeJobTag(tag)
      org.apache.spark.ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    def c(k: String): Int = counts.getOrDefault(k, 0)
    // each input directory is scanned once, by the validator's bounded
    // collect; the write reads the validated rows as a local frame.
    // Jobs: a schema inference per reader, the collect's stages, the
    // write. SQL executions: four view registrations, the collect, the
    // write.
    c("scans") shouldBe 2
    (c("jobs"), c("sql")) shouldBe ((7, 8))
    val written = spark.read.parquet(out)
    written.count() shouldBe spark.read.parquet(s"$in/part").select("p_brand").distinct().count()
    written.filter("rev <= 0").count() shouldBe 0
    // one partition in, one file out
    new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet")) shouldBe 1
  }

  test("an error validator fails before an overwrite writer touches its target") {
    import spark.implicits._
    val target = tmpDir("vkeep") + "/out"
    Seq(1L, 2L, 3L).toDF("v").write.parquet(target)
    val pipeline = Pipeline("vkeep", Seq(Job("j", Seq(
      readerAction("vk_region", "region.parquet"),
      Action("shift", new SqlTransformer().sqlString(
        "select cast(r_regionkey as bigint) - 1 as v from vk_region"), Some(View("vk_v"))),
      Action("check", new graft.validation.SqlDataValidator().sourceView("vk_v")
        .whereValid("v >= 0"), Some(View("vk_ok"))),
      Action("write", new graft.sink.FileWriter().sinkFormat("parquet")
        .fileUri(target).sourceView("vk_ok"), None)))))
    val e = intercept[IllegalStateException] {
      new PipelineRunner(PipelineContext()).run(pipeline)(spark)
    }
    e.getMessage should include("1 invalid row(s) in view 'vk_v'")
    spark.read.parquet(target).as[Long].collect().sorted shouldBe Array(1L, 2L, 3L)
  }

  test("global views cross job sub-sessions, local views do not") {
    val probe = new Actor {
      var sawGlobal = false
      var sawLocal = false
      override def run(ctx: JobContext)(implicit s: SparkSession): Option[DataFrame] = {
        sawGlobal = ctx.viewExists("gview")
        sawLocal = ctx.viewExists("lview")
        None
      }
    }
    val p = Pipeline("t", Seq(
      Job("j1", Seq(
        Action("g", new FileReader().sourceFormat("parquet").fileUri(s"$sfDir/nation.parquet"),
          Some(View("gview", global = true))),
        Action("l", new FileReader().sourceFormat("parquet").fileUri(s"$sfDir/region.parquet"),
          Some(View("lview"))))),
      Job("j2", Seq(Action("probe", probe, None)))))
    new PipelineRunner(PipelineContext()).run(p)(spark)
    probe.sawGlobal shouldBe true
    probe.sawLocal shouldBe false
    spark.catalog.dropGlobalTempView("gview")
  }

  test("auto-cache on second reference") {
    implicit val s = spark
    val ctx = new JobContext(PipelineContext())
    spark.read.parquet(s"$sfDir/region.parquet").createOrReplaceTempView("cache_v")
    // references are deduped per action scope: two references from ONE
    // action (declared input + plan parse) count once...
    ctx.beginAction()
    ctx.referenceView("cache_v")
    ctx.referenceView("cache_v")
    spark.table("cache_v").storageLevel.useMemory shouldBe false
    // ...a second ACTION's reference triggers the auto-persist
    ctx.beginAction()
    ctx.referenceView("cache_v")
    spark.table("cache_v").storageLevel.useMemory shouldBe true
    ctx.cleanup()
    spark.table("cache_v").storageLevel.useMemory shouldBe false
  }

  test("metrics collection records row counts and status") {
    val runner = new PipelineRunner(PipelineContext(singleSparkSession = true, metricsEnabled = true))
    val p = Pipeline("t", Seq(Job("j", Seq(readerAction("li_m")))), singleSparkSession = true)
    runner.run(p)(spark)
    val m = runner.metrics.find(_.action == "read_li_m").get
    m.rowCount shouldBe Some(6000L)
    m.status shouldBe "completed"
    m.schema should include("l_orderkey")
  }

  test("observe actor: metrics ride the sink's pass and land in the runner report") {
    val out = tmpDir("obs_out")
    val observe = new graft.utils.ObserveActor().sourceView("li_obs").named("quality")
      .metric("cnt", "count(1)")
      .metric("null_keys", "count_if(l_orderkey IS NULL)")
      .metric("max_qty", "max(cast(l_quantity AS DOUBLE))")
    val sink = new graft.sink.FileWriter().sinkFormat("parquet")
      .fileUri(s"$out/li").sourceView("li_observed")
    val runner = new PipelineRunner(PipelineContext(singleSparkSession = true))
    runner.run(Pipeline("obs", Seq(Job("j", Seq(
      readerAction("li_obs"),
      Action("observe_li", observe, Some(View("li_observed"))),
      Action("write_li", sink, None)))), singleSparkSession = true))(spark)
    // the sink's single pass computed the metrics — no extra scan ran
    val row = runner.metrics.find(_.action == "observe:quality").get
    row.status shouldBe "observed"
    row.schema should include("cnt=6000")
    row.schema should include("null_keys=0")
    spark.read.parquet(s"$out/li").count() shouldBe 6000L
  }

  test("observe actor rejects a metric-less init; duplicate names rejected per job") {
    intercept[IllegalArgumentException] {
      new graft.utils.ObserveActor().init(Map("view" -> "x"))(spark)
    }
    val ctx = new JobContext(PipelineContext())(spark)
    val o1 = org.apache.spark.sql.Observation("dup")
    ctx.registerObservation("dup", o1)
    intercept[IllegalArgumentException] {
      ctx.registerObservation("dup", org.apache.spark.sql.Observation("dup"))
    }
  }

  test("metrics JSON written per run when a metrics uri is configured") {
    val dir = tmpDir("metrics")
    val runner = new PipelineRunner(PipelineContext(singleSparkSession = true,
      metricsEnabled = true, metricsUri = Some(dir)))
    // an action name holding a tab, a quote and a backslash must still
    // give a parseable file that round-trips the name
    val oddName = "odd\t\"name\\x"
    runner.run(Pipeline("mtest", Seq(Job("j", Seq(readerAction("li_mx"),
      Action(oddName, new SqlTransformer().sqlString("select 1 as one"),
        Some(View("mx_odd")))))),
      singleSparkSession = true))(spark)
    val files = new java.io.File(dir).listFiles()
    files.length shouldBe 1
    val json = new String(java.nio.file.Files.readAllBytes(files.head.toPath), "UTF-8")
    json should include("\"rowCount\": 6000")
    json should include("\"status\": \"completed\"")
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    tree.size shouldBe 2
    tree.get(1).get("action").asText shouldBe oddName
  }

  test("SQL actors self-report referenced views for auto-caching") {
    val probe = new Actor {
      var cachedDuringJob = false
      override def run(ctx: JobContext)(implicit s: SparkSession): Option[DataFrame] = {
        cachedDuringJob = s.table("li_sqlref").storageLevel.useDisk
        None
      }
    }
    val p = Pipeline("t", Seq(Job("j", Seq(
      readerAction("li_sqlref"),
      Action("a1", new SqlTransformer().sqlString(
        "select count(*) as c from li_sqlref"), Some(View("o1"))),
      Action("a2", new SqlTransformer().sqlString(
        "select l_returnflag from li_sqlref limit 5"), Some(View("o2"))),
      Action("probe", probe, None)))),
      singleSparkSession = true)
    new PipelineRunner(PipelineContext(singleSparkSession = true)).run(p)(spark)
    // second reference through SQL plan-parse triggered the auto-persist;
    // job cleanup unpersists afterwards
    probe.cachedDuringJob shouldBe true
    spark.table("li_sqlref").storageLevel.useDisk shouldBe false
  }

  test("debug staging dumps per-action csv") {
    val stage = tmpDir("stagedump")
    val p = Pipeline("t", Seq(Job("jst", Seq(readerAction("li_st")))), singleSparkSession = true)
    new PipelineRunner(PipelineContext(singleSparkSession = true,
      stagingUri = Some(stage))).run(p)(spark)
    val staged = spark.read.option("header", "true").csv(s"$stage/jst/read_li_st")
    staged.count() shouldBe 6000
  }

  test("job filter selects jobs") {
    val p = Pipeline("t", Seq(
      Job("a", Seq(readerAction("va"))),
      Job("b", Seq(readerAction("vb")))), singleSparkSession = true)
    new PipelineRunner(PipelineContext(singleSparkSession = true))
      .run(p, Some(Set("b")))(spark)
    spark.catalog.tableExists("vb") shouldBe true
    spark.catalog.tableExists("va") shouldBe false
  }
}

/** An empty DSv2 table whose scan describes itself the way a connector
 *  that could not push its filter does (an Iceberg-style explain block:
 *  data filters, no pushed filters). */
class UnpushedFilterSource extends org.apache.spark.sql.connector.catalog.TableProvider {
  import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
  import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
  import org.apache.spark.sql.types.{LongType, StructType}
  import org.apache.spark.sql.util.CaseInsensitiveStringMap

  private val tableSchema = new StructType().add("id", LongType)
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = tableSchema
  override def getTable(schema: StructType, partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
                        properties: java.util.Map[String, String]): Table =
    new Table with SupportsRead {
      override def name(): String = "unpushed"
      override def schema(): StructType = tableSchema
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.BATCH_READ)
      override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
        () => new Scan with Batch {
          override def readSchema(): StructType = tableSchema
          override def description(): String =
            "DataFilters: [(id#0L > 1)]\nPushedFilters: []"
          override def toBatch: Batch = this
          override def planInputPartitions(): Array[InputPartition] = Array.empty
          override def createReaderFactory(): PartitionReaderFactory =
            (_: InputPartition) => throw new UnsupportedOperationException("no partitions")
        }
    }
}
