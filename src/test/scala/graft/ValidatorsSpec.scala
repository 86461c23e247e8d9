package graft

import graft.core.{JobContext, PipelineContext}
import graft.validation.{SchemaValidator, SqlDataValidator}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Repartition}

class ValidatorsSpec extends SparkSpec {

  /** The validator's output is its one-partition driver-local frame. */
  private def isLocal(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case Repartition(1, false, _: LocalRelation) => true
    case _ => false
  }

  /** Run `validWhere` over `view` in `error` mode (the failure message,
   *  if any) and in `staging` mode (the valid frame and the staged rows). */
  private def validate(view: String, validWhere: String): (Option[String], DataFrame, Seq[Row]) = {
    implicit val s = spark
    val ctx = new JobContext(PipelineContext())
    val message = scala.util.Try(new SqlDataValidator().sourceView(view).whereValid(validWhere)
      .run(ctx)).failed.toOption.map(_.getMessage)
    val stage = tmpDir("stage") + "/bad"
    val valid = new SqlDataValidator().sourceView(view).whereValid(validWhere)
      .onInvalid("staging").stageTo(stage, "parquet").run(ctx).get
    (message, valid, spark.read.parquet(stage).collect().toSeq)
  }

  test("schema match passes on equal schemas, name-order-insensitive by default") {
    implicit val s = spark
    import spark.implicits._
    val ctx = new JobContext(PipelineContext())
    Seq((1, "a")).toDF("id", "name").createOrReplaceTempView("sv1")
    new SchemaValidator().sourceView("sv1")
      .ddlSchemaString("name string, id int")
      .run(ctx).get.count() shouldBe 1
  }

  test("schema match strict is positional and fails on reorder") {
    implicit val s = spark
    import spark.implicits._
    val ctx = new JobContext(PipelineContext())
    Seq((1, "a")).toDF("id", "name").createOrReplaceTempView("sv2")
    an[IllegalStateException] should be thrownBy {
      new SchemaValidator().sourceView("sv2")
        .ddlSchemaString("name string, id int").withMatchMode("strict")
        .run(ctx)
    }
  }

  test("schema adapt projects and null-fills missing columns") {
    implicit val s = spark
    import spark.implicits._
    val ctx = new JobContext(PipelineContext())
    Seq((1, "a")).toDF("id", "name").createOrReplaceTempView("sv3")
    val out = new SchemaValidator().sourceView("sv3")
      .ddlSchemaString("id long, extra double").validationType("adapt")
      .run(ctx).get
    out.schema.map(f => (f.name, f.dataType.simpleString)) shouldBe
      Seq(("id", "bigint"), ("extra", "double"))
    out.collect().head.isNullAt(1) shouldBe true
  }

  test("data validator: error action throws when invalid rows exist") {
    implicit val s = spark
    import spark.implicits._
    val ctx = new JobContext(PipelineContext())
    Seq(1, 2, -3).toDF("v").createOrReplaceTempView("dv1")
    val e = intercept[IllegalStateException] {
      new SqlDataValidator().sourceView("dv1").whereValid("v > 0").run(ctx)
    }
    e.getMessage should include("1 invalid")
  }

  test("data validator: ignore action returns only valid rows") {
    implicit val s = spark
    import spark.implicits._
    val ctx = new JobContext(PipelineContext())
    Seq(1, 2, -3).toDF("v").createOrReplaceTempView("dv2")
    val out = new SqlDataValidator().sourceView("dv2")
      .whereInvalid("v < 0").onInvalid("ignore").run(ctx).get
    out.collect().map(_.getInt(0)).sorted.toSeq shouldBe Seq(1, 2)
  }

  test("data validator: staging action dumps invalid rows") {
    implicit val s = spark
    import spark.implicits._
    val ctx = new JobContext(PipelineContext())
    val stage = tmpDir("stage")
    Seq(1, -2, -3).toDF("v").createOrReplaceTempView("dv3")
    val out = new SqlDataValidator().sourceView("dv3")
      .whereValid("v > 0").onInvalid("staging").stageTo(s"$stage/bad", "parquet")
      .run(ctx).get
    out.count() shouldBe 1
    spark.read.parquet(s"$stage/bad").count() shouldBe 2
  }

  test("data validator: a NULL predicate counts as invalid on the local read") {
    import spark.implicits._
    Seq(Some(1), None, Some(-2)).toDF("v").createOrReplaceTempView("dv_null")
    val (message, valid, staged) = validate("dv_null", "v > 0")
    message.get should include("2 invalid row(s) in view 'dv_null'")
    isLocal(valid) shouldBe true
    valid.collect().map(_.getInt(0)).toSeq shouldBe Seq(1)
    staged.map(r => Option(r.get(0))).toSet shouldBe Set(None, Some(-2))
  }

  test("data validator: the local frame keeps every column's type, nullability and value") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("amt", DecimalType(20, 4)),
      StructField("ts", TimestampType),
      StructField("ntz", TimestampNTZType),
      StructField("tags", ArrayType(StringType)),
      StructField("blob", BinaryType),
      StructField("day", DateType)))
    val rows = Seq(
      Row(1, new java.math.BigDecimal("12345678901234.5000"),
        java.sql.Timestamp.valueOf("2024-02-29 23:59:59.123456"),
        java.time.LocalDateTime.parse("1999-12-31T00:00:00.000001"),
        Seq("a", null, ""), Array[Byte](0, -1, 7), java.sql.Date.valueOf("1970-01-01")),
      Row(2, null, null, null, null, null, null),
      Row(-3, new java.math.BigDecimal("0.0001"), null, null, Seq.empty[String],
        Array.empty[Byte], null))
    val src = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    src.createOrReplaceTempView("dv_types")
    val (_, valid, staged) = validate("dv_types", "id > 0")
    isLocal(valid) shouldBe true
    valid.schema shouldBe schema
    valid.collect().toSeq shouldBe src.filter("id > 0").collect().toSeq
    valid.collect().head.getDecimal(1).scale shouldBe 4
    staged shouldBe src.filter("id <= 0").collect().toSeq
  }

  test("data validator: a view over the row bound takes the lazy path, with the local path's results") {
    // ids 7, 1007, ..., 262007 fail `m <> 7`: 263 invalid rows in both views
    def run(n: Long) = {
      spark.range(n).selectExpr("id", "id % 1000 AS m").createOrReplaceTempView("dv_rows")
      validate("dv_rows", "m <> 7")
    }
    val bound = graft.utils.LocalFrames.MaxRows
    val (localMsg, localValid, localStaged) = run(bound)
    val (lazyMsg, lazyValid, lazyStaged) = run(bound + 1)
    isLocal(localValid) shouldBe true
    isLocal(lazyValid) shouldBe false
    lazyMsg shouldBe localMsg
    lazyMsg.get should include("263 invalid row(s) in view 'dv_rows'")
    lazyStaged.map(_.getLong(0)).sorted shouldBe localStaged.map(_.getLong(0)).sorted
    lazyStaged.map(_.getLong(0)).sorted shouldBe (7L until bound by 1000L)
    // the lazy view holds one more valid row: id = bound
    import spark.implicits._
    lazyValid.except(localValid).as[(Long, Long)].collect() shouldBe Array((bound, bound % 1000))
    localValid.count() shouldBe bound - 263
  }

  test("data validator: a view over the broadcast threshold's bytes takes the lazy path, with the local path's results") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    // 20 rows of ~130 bytes: within the row limit a 1000-byte threshold
    // allows at the schema's default row size, over it in bytes
    spark.range(20).selectExpr("id", "repeat('x', 100) AS s").createOrReplaceTempView("dv_bytes")
    val (localMsg, localValid, localStaged) = validate("dv_bytes", "id % 10 <> 3")
    isLocal(localValid) shouldBe true
    localMsg.get should include("2 invalid row(s) in view 'dv_bytes'")
    val old = spark.conf.getOption(key)
    try Seq("1000", "-1").foreach { threshold =>
      spark.conf.set(key, threshold)
      val (msg, valid, staged) = validate("dv_bytes", "id % 10 <> 3")
      isLocal(valid) shouldBe false
      msg shouldBe localMsg
      valid.collect().toSet shouldBe localValid.collect().toSet
      staged.toSet shouldBe localStaged.toSet
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
