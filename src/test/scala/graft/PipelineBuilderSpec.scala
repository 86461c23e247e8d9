package graft

import graft.core.{PipelineContext, PipelineRunner}
import graft.pipeline.PipelineBuilder

class PipelineBuilderSpec extends SparkSpec {

  test("yaml pipeline parses, resolves variables, and runs end-to-end") {
    implicit val s = spark
    val dir = tmpDir("pb")
    val yaml =
      s"""name: test-pipeline
         |variables:
         |  src_dir: "$sfDir"
         |  flag_col: l_returnflag
         |settings:
         |  singleSparkSession: "true"
         |jobs:
         |  - name: main
         |    actions:
         |      - name: load
         |        actor: file-reader
         |        properties:
         |          format: parquet
         |          fileUri: "$${src_dir}/lineitem.parquet"
         |        output-view:
         |          name: li_yaml
         |      - name: agg
         |        actor: sql
         |        properties:
         |          sqlString: "select $${flag_col}, count(*) as c from li_yaml group by $${flag_col}"
         |        output-view:
         |          name: out_yaml
         |""".stripMargin
    val f = writeFile(dir, "p.yaml", yaml)
    val pipeline = PipelineBuilder.fromFile(f)
    pipeline.name shouldBe "test-pipeline"
    pipeline.jobs.head.actions.length shouldBe 2
    pipeline.singleSparkSession shouldBe true
    new PipelineRunner(PipelineContext(singleSparkSession = true)).run(pipeline)(spark)
    spark.table("out_yaml").count() shouldBe 3
  }

  test("json pipeline with alias map and submit-var precedence") {
    implicit val s = spark
    val dir = tmpDir("pbj")
    val json =
      s"""{
         |  "name": "jp",
         |  "variables": {"n": "region"},
         |  "jobs": [{
         |    "name": "j",
         |    "actions": [{
         |      "name": "r",
         |      "actor": "graft.source.FileReader",
         |      "properties": {"format": "parquet", "fileUri": "$sfDir/$${n}.parquet"},
         |      "output-view": {"name": "r_json", "global": false}
         |    }]
         |  }]
         |}""".stripMargin
    val f = writeFile(dir, "p.json", json)
    // pipeline variable wins over submit var (precedence: pipeline > submit)
    val pipeline = PipelineBuilder.fromFile(f, submitVars = Map("n" -> "nation"))
    new PipelineRunner(PipelineContext(singleSparkSession = true))
      .run(pipeline.copy(singleSparkSession = true))(spark)
    spark.table("r_json").count() shouldBe 5 // region rows, not nation's 25
  }

  test("include: splices a job file") {
    implicit val s = spark
    val dir = tmpDir("pbi")
    writeFile(dir, "job1.yaml",
      s"""name: included
         |actions:
         |  - name: r
         |    actor: file-reader
         |    properties:
         |      format: parquet
         |      fileUri: "$sfDir/nation.parquet"
         |    output-view:
         |      name: inc_view
         |""".stripMargin)
    val f = writeFile(dir, "main.yaml",
      """name: with-include
        |jobs:
        |  - include: job1.yaml
        |""".stripMargin)
    val pipeline = PipelineBuilder.fromFile(f)
    pipeline.jobs.head.name shouldBe "included"
    new PipelineRunner(PipelineContext(singleSparkSession = true))
      .run(pipeline.copy(singleSparkSession = true))(spark)
    spark.table("inc_view").count() shouldBe 25
  }

  test("include: the job file's extension is matched case-insensitively") {
    implicit val s = spark
    val dir = tmpDir("pbi-case")
    writeFile(dir, "job1.YAML",
      """name: upper
        |actions:
        |  - name: r
        |    actor: sql
        |    properties: { sqlString: "select 1 as one" }
        |""".stripMargin)
    val f = writeFile(dir, "main.yaml",
      """name: with-upper-include
        |jobs:
        |  - include: job1.YAML
        |""".stripMargin)
    val job = PipelineBuilder.fromFile(f).jobs.head
    job.name shouldBe "upper"
    job.actions.map(_.name) shouldBe Seq("r")
  }

  test("include: a job file that is not yaml/yml/json fails with the format error") {
    implicit val s = spark
    val dir = tmpDir("pbi-txt")
    // valid JSON content: only the extension is wrong
    writeFile(dir, "job.txt",
      """{"name": "txt", "actions": [{"name": "r", "actor": "sql",
        |  "properties": {"sqlString": "select 1 as one"}}]}""".stripMargin)
    val f = writeFile(dir, "main.yaml",
      """name: with-txt-include
        |jobs:
        |  - include: job.txt
        |""".stripMargin)
    (the[IllegalArgumentException] thrownBy PipelineBuilder.fromFile(f))
      .getMessage should include("unsupported pipeline format: txt")
  }

  test("xml pipeline parses and runs end-to-end") {
    implicit val s = spark
    val dir = tmpDir("pbx")
    val xml =
      s"""<pipeline name="xp">
         |  <variables><variable name="t">nation</variable></variables>
         |  <settings singleSparkSession="true"/>
         |  <jobs>
         |    <job name="j">
         |      <action name="r" actor="file-reader">
         |        <properties>
         |          <format>parquet</format>
         |          <fileUri>$sfDir/$${t}.parquet</fileUri>
         |        </properties>
         |        <output-view name="xml_view" global="false"/>
         |      </action>
         |    </job>
         |  </jobs>
         |</pipeline>""".stripMargin
    val f = writeFile(dir, "p.xml", xml)
    val pipeline = PipelineBuilder.fromFile(f)
    pipeline.name shouldBe "xp"
    pipeline.singleSparkSession shouldBe true
    new PipelineRunner(PipelineContext(singleSparkSession = true)).run(pipeline)(spark)
    spark.table("xml_view").count() shouldBe 25
  }

  test("encrypted variables decrypt with the configured master key") {
    implicit val s = spark
    val secret = graft.common.SecurityChannel.encrypt("s3cr3t-password", "master-key-1")
    graft.common.SecurityChannel.isEncrypted(secret) shouldBe true
    val vars = graft.common.SecurityChannel.decryptVariables(
      Map("db_pass" -> secret, "plain" -> "x"),
      Map("security.master-key" -> "master-key-1"))
    vars("db_pass") shouldBe "s3cr3t-password"
    vars("plain") shouldBe "x"
    // wrong key fails authentication (GCM tag)
    an[Exception] should be thrownBy
      graft.common.SecurityChannel.decrypt(secret, "wrong-key")
  }

  test("launcher arg parsing") {
    val a = graft.Launcher.parseArgs(Array(
      "--pipeline-def", "/x/p.yaml#j1;j2", "--var", "a=1", "--vars", "b=2,c=3"))
    a.pipelineDef shouldBe "/x/p.yaml"
    a.jobs shouldBe Some(Set("j1", "j2"))
    a.vars shouldBe Map("a" -> "1", "b" -> "2", "c" -> "3")
  }

  test("launcher end-to-end: conf file + pipeline-def + job selector") {
    implicit val s = spark
    val dir = tmpDir("launch")
    writeFile(dir, "app.properties",
      s"""table_name=region
         |metrics.enabled=true
         |metrics.uri=$dir/metrics
         |""".stripMargin)
    writeFile(dir, "p.yaml",
      s"""name: launched
         |settings:
         |  singleSparkSession: "true"
         |jobs:
         |  - name: only
         |    actions:
         |      - name: read
         |        actor: file-reader
         |        properties:
         |          format: parquet
         |          fileUri: "$sfDir/$${table_name}.parquet"
         |        output-view:
         |          name: launcher_view
         |  - name: skipped
         |    actions:
         |      - name: read2
         |        actor: file-reader
         |        properties:
         |          format: parquet
         |          fileUri: "$sfDir/nation.parquet"
         |        output-view:
         |          name: launcher_skipped
         |""".stripMargin)
    val args = graft.Launcher.parseArgs(Array(
      "--pipeline-def", s"$dir/p.yaml#only", "--conf-file", s"$dir/app.properties"))
    val config = graft.Launcher.loadConfig(args.confFiles)
    graft.Launcher.run(args, config)
    spark.table("launcher_view").count() shouldBe 5
    spark.catalog.tableExists("launcher_skipped") shouldBe false
    new java.io.File(s"$dir/metrics").listFiles().length shouldBe 1
  }

  test("file reader fallback yields an empty typed frame on missing path") {
    implicit val s = spark
    val ctx = new graft.core.JobContext(graft.core.PipelineContext())
    val r = new graft.source.FileReader()
    r.init(Map("format" -> "parquet", "fileUri" -> "/nonexistent/nowhere.parquet",
      "ddlSchemaString" -> "id long, name string", "fallbackRead" -> "true"))
    val df = r.run(ctx).get
    df.count() shouldBe 0
    df.schema.fieldNames.toSeq shouldBe Seq("id", "name")
  }

  test("flatten turns nested property maps into dot keys") {
    PipelineBuilder.flatten("", Map("a" -> Map("b" -> 1, "c" -> "x"), "d" -> true)) shouldBe
      Map("a.b" -> "1", "a.c" -> "x", "d" -> "true")
  }

  test("variable chains resolve to a fixpoint (and cycles terminate)") {
    implicit val s = spark
    val yaml =
      """name: chain
        |variables:
        |  base: /data
        |  env: prod
        |  root: "${base}/${env}"
        |  full: "${root}/out"
        |  cycA: "${cycB}"
        |  cycB: "${cycA}"
        |jobs: []
        |""".stripMargin
    val p = PipelineBuilder.fromString(yaml, "yaml")
    p.variables("full") shouldBe "/data/prod/out"
    // the cycle doesn't hang; the unresolvable reference survives verbatim
    p.variables("cycA") should include("${cyc")
  }

  test("a variable referencing a sql(...) variable splices the evaluated value") {
    implicit val s = spark
    val yaml =
      """name: sqlvar
        |variables:
        |  answer: "sql(40 + 2)"
        |  msg: "value=${answer}"
        |jobs: []
        |""".stripMargin
    val p = PipelineBuilder.fromString(yaml, "yaml")
    p.variables("answer") shouldBe "42"
    p.variables("msg") shouldBe "value=42"
  }

  test("malformed pipeline shapes fail loudly, not silently") {
    implicit val s = spark
    // actions: a string where a list is required
    val badActions =
      """name: bad1
        |jobs:
        |  - name: j
        |    actions: oops
        |""".stripMargin
    (the[IllegalArgumentException] thrownBy
      PipelineBuilder.fromString(badActions, "yaml")).getMessage should include("must be a list")
    // a bare-string output-view binds as a local view instead of dropping
    val bareView =
      """name: ok1
        |jobs:
        |  - name: j
        |    actions:
        |      - actor: sql
        |        properties: { sqlString: "select 1 as one" }
        |        output-view: myview
        |""".stripMargin
    val p = PipelineBuilder.fromString(bareView, "yaml")
    p.jobs.head.actions.head.outputView.map(_.name) shouldBe Some("myview")
  }
}
