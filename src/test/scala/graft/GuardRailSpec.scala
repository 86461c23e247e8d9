package graft

import graft.core.{JobContext, PipelineContext}
import org.apache.spark.sql.functions._

/** Negative paths: every guard in the actor catalog must fail fast with a
 *  diagnosable message, not produce silent wrong behavior downstream. */
class GuardRailSpec extends SparkSpec {

  private def ctx = new JobContext(PipelineContext())(spark)

  test("SqlReader rejects DML, SqlWriter rejects queries") {
    implicit val s = spark
    intercept[IllegalArgumentException] {
      new graft.sql.SqlReader().sqlString("INSERT INTO t VALUES (1)").run(ctx)
    }.getMessage should include("SELECT")
    intercept[IllegalArgumentException] {
      new graft.sql.SqlWriter().sqlString("SELECT 1").run(ctx)
    }.getMessage should include("DML")
  }

  test("FileReader rejects unknown formats and missing uri") {
    implicit val s = spark
    intercept[IllegalArgumentException] {
      new graft.source.FileReader().sourceFormat("xml")
    }.getMessage should include("unsupported")
    intercept[IllegalArgumentException] {
      new graft.source.FileReader().run(ctx)
    }.getMessage should include("fileUri")
  }

  test("JdbcWriter and SqlDataValidator validate their enums") {
    implicit val s = spark
    intercept[IllegalArgumentException] {
      new graft.sink.JdbcWriter().init(Map("view" -> "v", "mode" -> "truncate"))
    }.getMessage should include("bad mode")
    intercept[IllegalArgumentException] {
      new graft.validation.SqlDataValidator().init(
        Map("view" -> "v", "validWhere" -> "1=1", "action" -> "explode"))
    }.getMessage should include("bad action")
  }

  test("missing DECLARED input views fail the action with the view names") {
    implicit val s = spark
    // SQL actors resolve references dynamically (a missing view surfaces as
    // the analysis error); the runner's fail-fast check guards the
    // pipeline-DECLARED input-views list
    val p = graft.pipeline.Pipeline("neg", jobs = Seq(graft.pipeline.Job("j", Seq(
      graft.pipeline.Action("x",
        new graft.sql.SqlTransformer().sqlString("SELECT 1"),
        Some(graft.pipeline.View("out")), inputViews = Seq("no_such_view"))))))
    val e = intercept[IllegalStateException] {
      new graft.core.PipelineRunner(PipelineContext(singleSparkSession = true)).run(p)(spark)
    }
    e.getMessage should include("no_such_view")
  }

  test("Launcher rejects unknown arguments and requires the pipeline def") {
    intercept[IllegalArgumentException] {
      Launcher.parseArgs(Array("--wat", "x"))
    }.getMessage should include("unknown argument")
    intercept[IllegalArgumentException] {
      Launcher.parseArgs(Array("--var", "a=b"))
    }.getMessage should include("--pipeline-def")
  }

  test("operator parameter guards: asof tolerance, salted join arity") {
    implicit val s = spark
    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      graft.operators.AsofJoin.latestWithin(df, df, Seq("a"), "b", "b", 0L, Seq.empty)
    }
    intercept[IllegalArgumentException] {
      graft.utils.DataframeHelper.saltedJoin(df, df, Seq("a"), 1)
    }
    intercept[IllegalArgumentException] {
      graft.utils.DataframeHelper.saltedJoin(df, df, Seq("a"), 4, "full_outer")
    }
  }

  test("flat field spec errors carry the offending fragment") {
    intercept[IllegalArgumentException] {
      graft.source.FlatFields.parsePositional("user:1-9 string, broken")
    }.getMessage should include("broken")
    intercept[IllegalArgumentException] {
      graft.source.FlatFields.parseDelimited("a:x string")
    }.getMessage should include("a:x")
  }

  test("MemRowCatalog guards: partitioned create rejected, ALTER unsupported, double create") {
    spark.conf.set("spark.sql.catalog.memguard", classOf[graft.source.MemRowCatalog].getName)
    spark.sql("DROP TABLE IF EXISTS memguard.db.g1")
    intercept[IllegalArgumentException] {
      spark.sql("CREATE TABLE memguard.db.g1 (id BIGINT, d STRING) PARTITIONED BY (d)")
    }.getMessage should include("unpartitioned")
    spark.sql("CREATE TABLE memguard.db.g1 (id BIGINT)")
    intercept[Exception] {
      spark.sql("CREATE TABLE memguard.db.g1 (id BIGINT)")
    } // TableAlreadyExists surfaces through the analyzer
    intercept[UnsupportedOperationException] {
      spark.sql("ALTER TABLE memguard.db.g1 ADD COLUMN x BIGINT")
    }.getMessage should include("ALTER TABLE")
    spark.sql("DROP TABLE memguard.db.g1")
  }

  test("zorder_key guards: bits bounds and non-integer SQL inputs fail fast") {
    import graft.functions.ZOrderExpression
    intercept[IllegalArgumentException] {
      ZOrderExpression.zkey(col("a"), col("b"), 0)
    }.getMessage should include("bits")
    intercept[IllegalArgumentException] {
      ZOrderExpression.zkey(col("a"), col("b"), 33)
    }.getMessage should include("bits")
    // no implicit cast anywhere: a string child fails analysis on BOTH the
    // raw-expression and Column-API paths (an unconditional Cast to LONG
    // used to mask bad input as NULL keys under ANSI-off)
    import spark.implicits._
    import org.apache.spark.sql.GraftSqlBridge
    val df = Seq(("x", 1L, 1.5)).toDF("s", "b", "f")
    val raw = ZOrderExpression.ZOrderKey(
      Seq(GraftSqlBridge.expression($"s"), GraftSqlBridge.expression($"b")), 4)
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(GraftSqlBridge.column(raw)).collect()
    }.getMessage.toLowerCase should include("zorder_key expects")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(ZOrderExpression.zkey($"s", $"b", 4)).collect()
    }.getMessage.toLowerCase should include("zorder_key expects")
    // fractional input is also an analysis error, not a truncated key
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(ZOrderExpression.zkey($"f", $"b", 4)).collect()
    }.getMessage.toLowerCase should include("zorder_key expects")
    // integer (non-bigint) input widens natively
    df.select(ZOrderExpression.zkey(lit(3), lit(5), 4)).head.getLong(0) shouldBe 27L
  }

  test("ivfPqTopK rejects a dimension that does not divide into subspaces") {
    import spark.implicits._
    val emb = Seq((1L, Seq(1.0, 2.0, 3.0))).toDF("id", "v")
    intercept[IllegalArgumentException] {
      graft.ml.Similarity.ivfPqTopK(emb, emb, "id", "v", 1, dim = 3, subspaces = 2)
    }.getMessage should include("divisible")
  }

  test("avro decode guards: multi-branch union error carries its guidance") {
    // (the reflective spark-avro gate + fallback behavior is covered in
    // AvroDecoderSpec; this guards only the error message contract)
    val bad = """{"type":"record","name":"r","fields":[{"name":"u","type":["int","string"]}]}"""
    intercept[IllegalArgumentException] {
      graft.functions.AvroDecoder.sparkTypeFor(new org.apache.avro.Schema.Parser().parse(bad))
    }.getMessage should include("encode as a record")
  }

  test("every catalog query is classified in the scale gate (tools/scalecurve.py)") {
    // The 100 TB evidence rests on the full-catalog scaling probe, which
    // only measures queries in its LINEAR_SET/MODELED tables. A query
    // added without a classification silently escapes the gate until the
    // next manual cross-check — fail the SUITE instead, at add time.
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("tools/scalecurve.py")), "UTF-8")
    val listsRegion = src.substring(
      src.indexOf("LINEAR_SET"), src.indexOf("def build_sf1"))
    val classified = "\"([a-z0-9_]+)\"".r.findAllMatchIn(listsRegion)
      .map(_.group(1)).toSet
    val catalog = Queries.all.map(_.name).toSet
    withClue("add these to LINEAR_SET or MODELED in tools/scalecurve.py: ") {
      (catalog -- classified) shouldBe empty
    }
    // stale entries: only names that LOOK like catalog queries
    // (letter(s) + digit + underscore) — the lists also contain plain
    // python strings like table names
    withClue("classified but not in the catalog (stale entries): ") {
      (classified -- catalog).filter(_.matches("[a-z]+\\d+[a-z]?_.*")) shouldBe empty
    }
  }

  /** `file:line: text` for every non-comment line of a `.scala` file
   *  under `<srcRoot>/<dir>` (recursively) that `offends`; `offends`
   *  gets the file's path relative to that dir. Anchored on the sbt
   *  build root, walking up from the CWD, so a non-root working directory
   *  FAILS LOUDLY via the require below instead of silently scanning
   *  nothing. */
  private def sourceOffenders(srcRoot: String, dir: String)(
      offends: (String, String) => Boolean): Seq[String] = {
    val root = Iterator.iterate(
        java.nio.file.Paths.get("").toAbsolutePath)(_.getParent)
      .takeWhile(_ != null).take(6)
      .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
      .getOrElse(java.nio.file.Paths.get(""))
    val base = root.resolve(srcRoot).resolve(dir)
    require(java.nio.file.Files.isDirectory(base),
      s"source scan found no dir at $base — run tests from the repo " +
        "(or fix the anchor), don't let the guard scan nothing")
    val walk = java.nio.file.Files.walk(base)
    val files =
      try walk.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      finally walk.close()
    files.filter(_.toString.endsWith(".scala")).sortBy(_.toString).flatMap { p =>
      val name = base.relativize(p).toString
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        .linesIterator.zipWithIndex.collect {
          case (l, i) if !l.trim.startsWith("//") && !l.trim.startsWith("*") &&
            offends(name, l) => s"${root.relativize(p)}:${i + 1}: ${l.trim}"
        }.toSeq
    }
  }

  test("every ml-layer persist rides the CacheLease ownership contract") {
    // The r13 bench stalls traced to corpus-scale caches no caller could
    // free (the pass returns frames that DEPEND on them). CacheLease is
    // the fix — but only if every ml persist goes through it: a raw
    // .persist() added later silently re-opens the leak for the actor
    // surface and any leased library caller. Fail at add time instead.
    val offenders = sourceOffenders("src/main/scala", "graft/ml") { (file, l) =>
      file != "CacheLease.scala" &&
        l.contains(".persist(") && !l.contains("CacheLease.persist")
    }
    withClue("raw .persist() in graft.ml (route through CacheLease.persist " +
      "so the actor surface can free it at job teardown): ") {
      offenders shouldBe empty
    }
  }

  test("no JVM-global system-property read in the program sources") {
    // A -D property read deep in library code cannot be set per
    // pipeline, cannot differ between two sessions in one JVM and never
    // shows in the metrics record. Tuning decisions are constants or
    // per-session confs; deployment settings (paths, CPU count, keys)
    // come from sys.env, which stays allowed.
    val offenders = sourceOffenders("src/main/scala", "graft") { (_, l) =>
      l.contains("sys.props") || l.contains("System.getProperty")
    }
    withClue("JVM-global property reads under src/main/scala/graft: ") {
      offenders shouldBe empty
    }
  }

  test("every local session is built by graft.Sessions, with its defaults") {
    // Hand-copied session confs drift apart (core counts, an unpinned
    // timezone where normalizeEventTs needs UTC), so every local session
    // takes its defaults from one place. Launcher alone builds its own:
    // its master and confs come from spark-submit and the app config.
    val builderCall = "SparkSession" + ".builder"
    val offenders = Seq("src/main/scala", "src/test/scala").flatMap(srcRoot =>
      sourceOffenders(srcRoot, "") { (file, l) =>
        l.contains(builderCall) && !(srcRoot == "src/main/scala" &&
          Set("graft/Sessions.scala", "graft/Launcher.scala")(file))
      })
    withClue("sessions built by hand (use graft.Sessions.local): ") {
      offenders shouldBe empty
    }
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") shouldBe "true"
    spark.sparkContext.uiWebUrl shouldBe None
    spark.conf.get(Sessions.ArtifactIsolation) shouldBe "false"
    Sessions.subSession(spark).conf.get(Sessions.ArtifactIsolation) shouldBe "false"
    // Launcher builds its own session: the same default, unless the
    // application config sets the key
    Launcher.sparkConfs(Map("a" -> "b"))(Sessions.ArtifactIsolation) shouldBe "false"
    Launcher.sparkConfs(Map(Sessions.ArtifactIsolation -> "true"))(Sessions.ArtifactIsolation) shouldBe "true"
  }

  test("one driver-local row bound: graft.utils.LocalFrames.MaxRows") {
    // every frame read to the driver and every ingest-shaped broadcast
    // takes its default bound from one constant
    val literal = "1L << " + "18"
    val (helper, others) = sourceOffenders("src/main/scala", "")((_, l) => l.contains(literal))
      .partition(_.startsWith("src/main/scala/graft/utils/LocalFrames.scala:"))
    withClue("driver-local row bound written as a literal (use LocalFrames.MaxRows): ") {
      others shouldBe empty
    }
    helper should have size 1
  }

  test("every sub-session comes from graft.Sessions.subSession") {
    // a sub-session made elsewhere would get its own executor class loader
    // and recompile every generated class its plans use
    val call = "." + "newSession()"
    val (helper, others) = sourceOffenders("src/main/scala", "")((_, l) => l.contains(call))
      .partition(_.startsWith("src/main/scala/graft/Sessions.scala:"))
    withClue("raw sub-sessions (use graft.Sessions.subSession): ") {
      others shouldBe empty
    }
    helper should have size 1
  }

  test("every catalog query carries an oracle (no rows-only weak checks)") {
    // The driver records a weaker rows-only check for queries missing
    // from oracleSql — 152/152 strong checks is a property worth pinning,
    // not an accident of discipline.
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    withClue("queries without an oracle: ") { (q -- o) shouldBe empty }
    withClue("oracles without a query: ") { (o -- q) shouldBe empty }
    // and the flagship entry is a catalog member, not a divergent copy
    SparkEntry.queries.keySet should contain("q1_pricing_summary")
  }
}
