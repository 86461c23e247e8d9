package graft

import graft.core.{JobContext, PipelineContext}
import graft.streaming.{FileStreamReader, FileStreamWriter, FlatStreamReader}
import graft.transform.{ArbitraryStatefulProcessor, StreamStatefulTransformer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.GroupStateTimeout

class StreamingSpec extends SparkSpec {

  test("file stream read -> file stream write with AvailableNow drains input") {
    implicit val s = spark
    val in = tmpDir("sin")
    val out = tmpDir("sout")
    val ckpt = tmpDir("sckpt")
    writeFile(in, "a.csv", "1,alpha\n2,beta\n3,gamma")
    val ctx = new JobContext(PipelineContext())
    val df = new FileStreamReader()
      .sourceFormat("csv").ddlSchemaString("id int, name string").fileUri(in)
      .withTimestamp()
      .run(ctx).get
    df.isStreaming shouldBe true
    df.columns should contain("__timestamp")
    ctx.promoteView("stream_v", df, global = false)
    new FileStreamWriter()
      .sinkFormat("parquet").fileUri(out).sourceView("stream_v")
      .writeOption("checkpointLocation", ckpt)
      .withTrigger("once")
      .testWaitTimeMs(30000)
      .run(ctx)
    val result = spark.read.parquet(out)
    result.count() shouldBe 3
    result.columns should contain("__timestamp")
  }

  test("a second drain of an equal file-stream query compiles no new class") {
    // a streaming query runs on a clone of its session; the clone shares
    // the executor class loader, so the codegen cache serves the second drain
    implicit val s = spark
    import org.apache.spark.metrics.source.CodegenMetrics
    val in = tmpDir("drain2in")
    writeFile(in, "a.csv", "1,alpha\n2,beta\n3,gamma")
    def drain(): Long = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val ctx = new JobContext(PipelineContext())
      val df = new FileStreamReader()
        .sourceFormat("csv").ddlSchemaString("id int, name string").fileUri(in)
        .run(ctx).get
      ctx.promoteView("drain2_v",
        df.filter("id > 1").selectExpr("id * 2 AS id2", "upper(name) AS name"), global = false)
      val out = tmpDir("drain2out")
      new FileStreamWriter()
        .sinkFormat("parquet").fileUri(out).sourceView("drain2_v")
        .writeOption("checkpointLocation", tmpDir("drain2ckpt"))
        .withTrigger("once")
        .testWaitTimeMs(30000)
        .run(ctx)
      spark.read.parquet(out).count() shouldBe 2
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    }
    drain() should be > 0L
    drain() shouldBe 0L
  }

  test("stateful aggregation resumes from checkpoint across restarts") {
    // Two-phase drain over one checkpoint: phase 2 must see phase 1's agg
    // state (and skip its already-committed input) — if recovery dropped
    // state, key 'b' (absent from the second file) would vanish and 'a'
    // would count only the new rows. Memory sink recovery is supported in
    // complete mode.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val in = tmpDir("ckpt_in")
    val ckpt = tmpDir("ckpt_state")
    val schema = StructType(Seq(StructField("k", StringType), StructField("v", IntegerType)))
    def drain(qname: String): Seq[(String, Long, Long)] = {
      val agg = spark.readStream.schema(schema).csv(in)
        .groupBy(col("k")).agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      val sq = agg.writeStream.format("memory").queryName(qname)
        .outputMode("complete").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      sq.awaitTermination()
      val out = spark.table(qname).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      spark.catalog.dropTempView(qname)
      out
    }
    writeFile(in, "a.csv", "a,1\na,2\nb,3\n")
    drain("ckpt_phase1") shouldBe Seq(("a", 3L, 2L), ("b", 3L, 1L))
    writeFile(in, "b.csv", "a,10\nc,5\n")
    drain("ckpt_phase2") shouldBe Seq(("a", 13L, 3L), ("b", 3L, 1L), ("c", 5L, 1L))
  }

  test("watermark drops late data across micro-batches (update mode)") {
    // Three files forced into three batches (maxFilesPerTrigger=1,
    // mod-time order). Spark 3.4+ filters LATE EVENTS against the
    // PREVIOUS batch's watermark while EVICTING state with the current
    // one (SPARK-40925) — so a late row is only guaranteed dropped once
    // a full batch boundary has passed since the watermark overtook it:
    // batch 0 (max 11:50) sets the watermark to 11:40; batch 1 (12:30)
    // raises it to 12:20; batch 2's 10:30 straggler is then filtered by
    // the 11:40-or-later previous watermark and must never reach the
    // (evicted) 10:00 window, while the fresh 13:30 row aggregates
    // normally. This is the eviction contract that bounds state at scale.
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val in = tmpDir("late_in")
    val schema = StructType(Seq(StructField("k", StringType), StructField("ts", TimestampType)))
    val fa = writeFile(in, "a.csv",
      "a,2024-01-01 10:00:00\na,2024-01-01 10:20:00\na,2024-01-01 11:50:00\n")
    val fb = writeFile(in, "b.csv", "a,2024-01-01 12:30:00\n")
    val fc = writeFile(in, "c.csv",
      "a,2024-01-01 10:30:00\na,2024-01-01 13:30:00\n")
    Files.setLastModifiedTime(Paths.get(fa), FileTime.fromMillis(1000000L))
    Files.setLastModifiedTime(Paths.get(fb), FileTime.fromMillis(2000000L))
    Files.setLastModifiedTime(Paths.get(fc), FileTime.fromMillis(3000000L))
    val agg = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").csv(in)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("ws"), col("k"), col("n"))
    val qname = "late_drop_q"
    val sq = agg.writeStream.format("memory").queryName(qname)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    sq.awaitTermination()
    val rows = spark.table(qname).collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    spark.catalog.dropTempView(qname)
    def h(t: String) = java.time.Instant.parse(s"2024-01-01T$t:00:00Z").getEpochSecond
    // batch 0 emitted the 10:00 window with 2 rows; the straggler must
    // never bump it to 3 (its state was evicted and the row filtered)
    rows should contain((h("10"), 2L))
    rows.contains((h("10"), 3L)) shouldBe false
    // the fresh rows of batches 1 and 2 aggregated normally
    rows should contain((h("12"), 1L))
    rows should contain((h("13"), 1L))
  }

  test("update-mode top-k emits only changed groups per batch; final state equals batch result") {
    // Three files forced into three micro-batches. Update mode must emit
    // a group ONLY in the batches where its top-k state changed (the
    // q106 dashboard shape — complete mode re-emits every group every
    // batch), and the last emission per group must equal the one-shot
    // batch aggregate (the topk-pair merge is slicing-invisible).
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val in = tmpDir("topk_upd_in")
    val fa = writeFile(in, "a.csv", "a,1,10\na,2,20\nb,3,30\n")
    val fb = writeFile(in, "b.csv", "a,4,40\n")
    val fc = writeFile(in, "c.csv", "b,5,50\n")
    Files.setLastModifiedTime(Paths.get(fa), FileTime.fromMillis(1000000L))
    Files.setLastModifiedTime(Paths.get(fb), FileTime.fromMillis(2000000L))
    Files.setLastModifiedTime(Paths.get(fc), FileTime.fromMillis(3000000L))
    val schema = StructType(Seq(StructField("g", StringType),
      StructField("id", LongType), StructField("v", LongType)))
    val agg = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").csv(in)
      .groupBy(col("g"))
      .agg(graft.functions.SketchAggregates.topKPairs(col("v"), col("id"), 2).as("tk"),
        count(lit(1)).as("n"))
      .select(col("g"),
        expr("array_join(transform(tk, x -> concat(x.v, ':', x.id)), ',')").as("top"),
        col("n"))
    val qname = "topk_upd_q"
    val sq = agg.writeStream.format("memory").queryName(qname)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    sq.awaitTermination()
    val rows = spark.table(qname).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    spark.catalog.dropTempView(qname)
    // changed-groups-only: batch0 emits a+b, batch1 only a, batch2 only b
    // = 4 emissions total (complete mode would re-emit both groups each
    // batch = 6)
    rows should have size 4
    rows should contain(("a", "20:2,10:1", 2L)) // batch 0
    rows should contain(("b", "30:3", 1L))      // batch 0
    rows should contain(("a", "40:4,20:2", 3L)) // batch 1 (b absent)
    rows should contain(("b", "50:5,30:3", 2L)) // batch 2 (a absent)
    // final state per group (q106's max(struct(n, top)) recovery) equals
    // the one-shot batch aggregate over the same rows
    val finalState = rows.groupBy(_._1).map { case (g, rs) => g -> rs.maxBy(_._3) }
    finalState("a") shouldBe ("a", "40:4,20:2", 3L)
    finalState("b") shouldBe ("b", "50:5,30:3", 2L)
  }

  test("fixed-width stream reader applies positional fields and watermark") {
    implicit val s = spark
    val in = tmpDir("fsin")
    writeFile(in, "t.txt", "alice    12024-02-11T00:00:00\nbob      22024-02-11T00:05:00")
    val ctx = new JobContext(PipelineContext())
    val df = new FlatStreamReader()
      .fileUri(in)
      .positionalFields("user:1-9 string, event:10-1 long, ts_s:11-19 string")
      .withTimestamp()
      .watermark("__timestamp", "10 seconds")
      .run(ctx).get
    df.isStreaming shouldBe true
    df.columns.toSeq shouldBe Seq("user", "event", "ts_s", "__timestamp")
  }

  test("stateful transformer: mapGroupsWithState accumulates per key") {
    implicit val s = spark
    val in = tmpDir("stin")
    val out = tmpDir("stout")
    val ckpt = tmpDir("stckpt")
    writeFile(in, "e.csv", "a,1\nb,2\na,3\nb,4\na,5")
    val ctx = new JobContext(PipelineContext())
    val df = new FileStreamReader()
      .sourceFormat("csv").ddlSchemaString("k string, v int").fileUri(in)
      .run(ctx).get
    ctx.promoteView("st_in", df, global = false)

    val t = new StreamStatefulTransformer()
      .sourceView("st_in")
      .withProcessor(new SumProcessor)
    val summed = t.run(ctx).get
    ctx.promoteView("st_sum", summed, global = false)
    // update output mode needs a sink that accepts it: drain through the
    // generic foreachBatch writer (also exercises that actor)
    val w = new graft.streaming.ForeachBatchStreamWriter(
      (batch, _) => batch.write.mode("append").parquet(out))
      .sourceView("st_sum")
      .withCheckpoint(ckpt)
      .withOutputMode("update")
      .withTrigger("once")
      .testWaitTimeMs(30000)
    w.run(ctx)
    val result = spark.read.parquet(out).collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    result shouldBe Map("a" -> 9, "b" -> 6)
  }

  test("transformWithState sessionizer matches the flatMapGroupsWithState one") {
    implicit val s = spark
    val dir = sfDir
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    def sessions(processorCls: String): Set[(Long, Long, Long)] = {
      import org.apache.spark.sql.functions._
      Queries.normalizeEventTs(
          spark.readStream.schema(schema).option("pathGlobFilter", "events.parquet")
            .parquet(dir))
        .createOrReplaceTempView("tws_in")
      val ctx = new JobContext(PipelineContext())
      val actor = new StreamStatefulTransformer()
      actor.init(Map("view" -> "tws_in", "processor.type" -> processorCls,
        "processor.keyField" -> "user_id", "processor.tsField" -> "ts",
        "processor.gapSeconds" -> "1800"))
      val qn = s"tws_${processorCls.hashCode.abs}_${System.nanoTime}"
      val sq = actor.run(ctx).get.writeStream.format("memory").queryName(qn)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      sq.awaitTermination()
      spark.table(qn).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val fmgws = sessions("graft.streaming.SessionizeProcessor")
    val tws = sessions("graft.streaming.SessionizeTwsProcessor")
    tws shouldBe fmgws
    tws should not be empty
  }

  test("event-time timers close an idle session WITHOUT a subsequent event for its key") {
    implicit val s = spark
    import org.apache.spark.sql.functions._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import spark.implicits._
    // file 1: user 1 (two events, t0 and t0+60s) and user 2 (one event, t0)
    // file 2 (later batch): ONLY user 2, two hours later. The watermark
    // advance from file 2 must fire user 1's armed timer — their session
    // closes with no further user-1 event anywhere in the stream. User 2's
    // t0 session closes by the in-batch gap; user 2's t0+2h session stays
    // open (watermark never passes it) and must NOT be emitted.
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(offsetSec: Long) = new java.sql.Timestamp(t0.getTime + offsetSec * 1000)
    val dir = tmpDir("tws_timer")
    def writeOne(df: DataFrame, name: String, mtimeOffsetMs: Long): Unit = {
      val stage = tmpDir(s"stage_$name")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val target = Paths.get(dir, name)
      Files.copy(Paths.get(part), target, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(target,
        FileTime.fromMillis(System.currentTimeMillis() + mtimeOffsetMs))
    }
    writeOne(Seq((1L, ts(0)), (1L, ts(60)), (2L, ts(0))).toDF("user_id", "ts"),
      "f1.parquet", -60000L)
    writeOne(Seq((2L, ts(7200)), (2L, ts(7260))).toDF("user_id", "ts"),
      "f2.parquet", 0L)

    val schema = spark.read.parquet(s"$dir/f1.parquet").schema
    spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .withWatermark("ts", "10 seconds")
      .createOrReplaceTempView("tws_timer_in")
    val ctx = new JobContext(PipelineContext())
    val actor = new StreamStatefulTransformer()
    actor.init(Map("view" -> "tws_timer_in",
      "processor.type" -> "graft.streaming.SessionizeTwsProcessor",
      "processor.keyField" -> "user_id", "processor.tsField" -> "ts",
      "processor.gapSeconds" -> "1800", "processor.timers" -> "event"))
    val qn = s"tws_timer_${System.nanoTime}"
    val sq = actor.run(ctx).get.writeStream.format("memory").queryName(qn)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    sq.awaitTermination()
    val rows = spark.table(qn).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val t0Sec = t0.getTime / 1000
    // user 1: closed BY TIMER (no user-1 event after t0+60 exists)
    rows should contain((1L, t0Sec, 2L))
    // user 2's first session: closed by the 2h gap inside batch 2
    rows should contain((2L, t0Sec, 1L))
    // user 2's trailing session is not provably closed -> not emitted
    rows.map(_._2).contains(t0Sec + 7200) shouldBe false
    rows should have size 2
  }

  test("profile processor: 2-batch replay equals the single-batch profile (order-free state)") {
    implicit val s = spark
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import java.nio.file.attribute.FileTime
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(offsetSec: Long) = new java.sql.Timestamp(t0.getTime + offsetSec * 1000)
    // events deliberately OUT OF TIME ORDER across the two files: user 1's
    // earliest event arrives in batch 2, so a merge that trusted arrival
    // order would get first_types wrong
    val all = Seq(
      (1L, ts(100), 10L, "view"), (1L, ts(300), 11L, "click"), (2L, ts(50), 12L, "view"),
      (1L, ts(10), 13L, "buy"), (1L, ts(200), 14L, "view"), (2L, ts(40), 15L, "click"))
    def runProfiles(files: Seq[Seq[(Long, java.sql.Timestamp, Long, String)]]): Map[Long, (String, String, Long)] = {
      val dir = tmpDir(s"tws_prof_${files.size}_${System.nanoTime}")
      files.zipWithIndex.foreach { case (rows, i) =>
        val stage = tmpDir(s"stage_prof_$i${System.nanoTime}")
        rows.toDF("user_id", "ts", "event_id", "event_type")
          .coalesce(1).write.mode("overwrite").parquet(stage)
        val part = Files.list(Paths.get(stage)).toArray.map(_.toString)
          .filter(_.endsWith(".parquet")).head
        val target = Paths.get(dir, s"f$i.parquet")
        Files.copy(Paths.get(part), target, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(target,
          FileTime.fromMillis(System.currentTimeMillis() + i * 60000L))
      }
      val schema = spark.read.parquet(s"$dir/f0.parquet").schema
      spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
        .createOrReplaceTempView("tws_prof_in")
      val ctx = new JobContext(PipelineContext())
      val actor = new StreamStatefulTransformer()
      actor.init(Map("view" -> "tws_prof_in",
        "processor.type" -> "graft.streaming.UserProfileProcessor",
        "processor.keyField" -> "user_id", "processor.tsField" -> "ts",
        "processor.idField" -> "event_id", "processor.typeField" -> "event_type",
        "processor.k" -> "3"))
      val qn = s"tws_prof_${System.nanoTime}"
      val sq = actor.run(ctx).get.writeStream.format("memory").queryName(qn)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      sq.awaitTermination()
      // last emission per key = the one with the highest n_seen
      spark.table(qn).collect()
        .map(r => (r.getLong(0), (r.getString(1), r.getString(2), r.getLong(3))))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).maxBy(_._3) }
    }
    val sliced = runProfiles(Seq(all.take(3), all.drop(3)))
    val whole = runProfiles(Seq(all))
    sliced shouldBe whole
    // and the content is the time-ordered truth, not arrival order
    whole(1L) shouldBe (("buy,view,view", "buy:1,click:1,view:2", 4L))
    whole(2L) shouldBe (("click,view", "click:1,view:1", 2L))
  }

  test("Trigger.Continuous actually executes: rate source -> ForeachWriter, epochs commit") {
    // The one streaming mode the catalog plumbs but never ran: start a real
    // continuous-trigger query (epoch-based, no micro-batches) and observe
    // (a) rows flowing through the per-partition open/process/close
    // contract, (b) MULTIPLE distinct epochs — i.e. epoch markers are
    // propagating and committing, and (c) durable epoch commits in the
    // checkpoint, then a clean stop.
    implicit val s = spark
    import java.nio.file.{Files, Paths}
    ContinuousProbe.reset()
    val ckpt = tmpDir("cont_ckpt")
    val ctx = new JobContext(PipelineContext())
    val rate = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").option("numPartitions", "2").load()
    ctx.promoteView("cont_rate_v", rate, global = false)
    val before = spark.streams.active.map(_.id).toSet
    new graft.streaming.ForeachStreamWriter(new ContinuousCollector)
      .sourceView("cont_rate_v")
      .withTrigger("continuous", "500 milliseconds")
      .withCheckpoint(ckpt)
      .run(ctx)
    val q = spark.streams.active.find(a => !before.contains(a.id)).get
    try {
      val deadline = System.currentTimeMillis() + 60000
      while ((ContinuousProbe.rows.size() < 100 || ContinuousProbe.epochs.size < 3)
             && System.currentTimeMillis() < deadline) Thread.sleep(100)
    } finally q.stop()
    ContinuousProbe.rows.size() should be >= 100
    // >= 3 distinct epochIds seen by open(): the writer was re-opened per
    // epoch, not running one giant batch
    ContinuousProbe.epochs.size should be >= 3
    // epoch commit log is durable (close the directory stream — Files.list
    // leaks an fd otherwise)
    val listing = Files.list(Paths.get(s"$ckpt/commits"))
    val commits = try listing.count() finally listing.close()
    commits should be >= 1L
    q.isActive shouldBe false
    // rate-source values are non-negative increasing longs; spot-check range
    import scala.jdk.CollectionConverters._
    ContinuousProbe.rows.asScala.forall(_ >= 0L) shouldBe true
  }

  test("state data source: statestore rows equal the drain, state-metadata names the operator") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ckpt = tmpDir("ss_read_ckpt")
    val in = tmpDir("ss_read_in")
    Seq(("a", 1L), ("a", 2L), ("b", 5L)).toDF("k", "v")
      .write.mode("overwrite").parquet(in)
    val src = spark.readStream.schema("k STRING, v BIGINT").parquet(in)
    val q = src.groupBy($"k").agg(sum($"v").as("total"))
      .writeStream.format("noop").outputMode("update")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val state = spark.read.format("statestore").load(ckpt)
      .select($"key.k", $"value.sum".as("total"))
      .as[(String, Long)].collect().sorted.toSeq
    state shouldBe Seq(("a", 3L), ("b", 5L))
    // the metadata source describes the operator whose store we just read
    val meta = spark.read.format("state-metadata").load(ckpt)
      .select($"operatorId", $"operatorName", $"stateStoreName")
      .as[(Long, String, String)].collect().toSeq
    meta shouldBe Seq((0L, "stateStoreSave", "default"))
  }

  test("state data source reads BOTH sides of a stream-stream join's buffers") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ckpt = tmpDir("ssj_ckpt")
    val (inL, inR) = (tmpDir("ssj_l"), tmpDir("ssj_r"))
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.mode("overwrite").parquet(inL)
    Seq((1L, "x")).toDF("k", "w").write.mode("overwrite").parquet(inR)
    val l = spark.readStream.schema("k BIGINT, v STRING").parquet(inL)
    val r = spark.readStream.schema("k BIGINT, w STRING").parquet(inR)
    val q = l.join(r, Seq("k"))
      .writeStream.format("noop").option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // joinSide reconstructs the BUFFERED INPUT rows: both left rows are
    // retained (an inner join with no watermark keeps all state), the
    // right buffer holds its one row — exactly what an on-call needs to
    // see when join state balloons
    def side(s: String) = spark.read.format("statestore")
      .option("joinSide", s).load(ckpt)
    side("left").select($"value.k", $"value.v").as[(Long, String)]
      .collect().sorted.toSeq shouldBe Seq((1L, "a"), (2L, "b"))
    side("right").select($"value.k", $"value.w").as[(Long, String)]
      .collect().toSeq shouldBe Seq((1L, "x"))
  }

  test("state data source reads a transformWithState variable by name") {
    implicit val s = spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ckpt = tmpDir("tws_read_ckpt")
    val in = tmpDir("tws_read_in")
    // (user, ts, id, type): user 1 x3 events, user 2 x1
    Seq((1L, 10L, 100L, "view"), (1L, 20L, 101L, "click"),
        (1L, 30L, 102L, "view"), (2L, 40L, 103L, "buy"))
      .toDF("user_id", "tsu", "event_id", "event_type")
      .withColumn("ts", timestamp_micros(col("tsu") * 1000000L))
      .drop("tsu")
      .write.mode("overwrite").parquet(in)
    val s2 = org.apache.spark.sql.GraftSqlBridge.clonedSession(spark,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.shuffle.partitions" -> "2")
    val src = org.apache.spark.sql.GraftSqlBridge.onSession(s2,
      s2.readStream
        .schema("user_id BIGINT, event_id BIGINT, event_type STRING, ts TIMESTAMP")
        .parquet(in))
    val ctx = new JobContext(PipelineContext())(s2)
    src.createOrReplaceTempView("tws_read_in_v")
    val actor = new graft.transform.StreamStatefulTransformer()
    actor.init(Map("view" -> "tws_read_in_v",
      "processor.type" -> "graft.streaming.UserProfileProcessor",
      "processor.k" -> "2"))(s2)
    val q = actor.run(ctx)(s2).get
      .writeStream.format("noop").outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // per-variable reads: the 'seen' ValueState holds each user's event
    // count — the named-variable inspection path for arbitrary state
    val seen = spark.read.format("statestore")
      .option("stateVarName", "seen").load(ckpt)
      .select(col("key.value").cast("long"), col("value.value").cast("long"))
      .as[(Long, Long)].collect().sorted.toSeq
    seen shouldBe Seq((1L, 3L), (2L, 1L))
  }

  test("observe actor on a streaming view: metrics arrive in the query progress") {
    implicit val s = spark
    val in = tmpDir("obs_stream_in")
    spark.range(0, 100).selectExpr("id AS k", "id % 2 AS par")
      .write.mode("overwrite").parquet(in)
    val ctx = new JobContext(PipelineContext())
    spark.readStream.schema("k BIGINT, par BIGINT").parquet(in)
      .createOrReplaceTempView("obs_stream_v")
    val oa = new graft.utils.ObserveActor()
    oa.init(Map("view" -> "obs_stream_v", "name" -> "stream_probe",
      "metric.cnt" -> "count(1)", "metric.odd" -> "sum(par)"))
    val out = oa.run(ctx).get
    out.isStreaming shouldBe true
    // streaming branch: nothing registers on the context (an Observation
    // cannot attach to a stream) — metrics ride the progress events
    ctx.observedMetrics() shouldBe Map.empty
    val q = out.writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = q.recentProgress.flatMap(p =>
      Option(p.observedMetrics.get("stream_probe")))
    val total = rows.map(_.getAs[Long]("cnt")).sum
    val odd = rows.map(_.getAs[Long]("odd")).sum
    total shouldBe 100L
    odd shouldBe 50L
  }

  test("transformWithState TTL: TTL'd state expires across an idle gap, NONE state survives") {
    implicit val s = spark
    import spark.implicits._
    val in = tmpDir("ttl_in")
    val out = tmpDir("ttl_out")
    val ckpt = tmpDir("ttl_ckpt")
    // poll-then-stop through foreachBatch->parquet: a ProcessingTime-mode
    // transformWithState schedules micro-batches continuously to evaluate
    // wall-clock state, so an AvailableNow drain never self-terminates
    // and processAllAvailable never goes idle; and the memory sink cannot
    // RECOVER a checkpoint, which the second run must do. foreachBatch
    // supports recovery, and the parquet rows are the emissions.
    def drain(totalExpected: Long): Unit = {
      spark.readStream.schema("user_id BIGINT, event_id BIGINT").parquet(in)
        .createOrReplaceTempView("ttl_in_v")
      val actor = new StreamStatefulTransformer()
      actor.init(Map("view" -> "ttl_in_v",
        "processor.type" -> "graft.streaming.TtlSeenProcessor",
        "processor.ttlMs" -> "500"))
      val ctx = new JobContext(PipelineContext())
      val q = actor.run(ctx).get.writeStream
        .foreachBatch((batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out))
        .outputMode("append").option("checkpointLocation", ckpt)
        .start()
      // existence-gate the poll read: reading the dir before the first
      // batch lands throws UNABLE_TO_INFER_SCHEMA asynchronously through
      // ExecutionListenerBus — swallowed here but ERROR-spammed into the
      // log, burying real listener failures
      def rows(): Long = {
        val parts = Option(new java.io.File(out).listFiles).getOrElse(Array.empty)
        if (!parts.exists(_.getName.endsWith(".parquet"))) 0L
        else try spark.read.parquet(out).count() catch { case _: Throwable => 0L }
      }
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (rows() < totalExpected && System.nanoTime() < deadline)
        Thread.sleep(100)
      q.stop()
      q.awaitTermination()
    }
    Seq((1L, 100L), (2L, 200L)).toDF("user_id", "event_id")
      .write.mode("append").parquet(in)
    drain(totalExpected = 2)
    val first = spark.read.parquet(out).collect()
      .map(r => r.getLong(1) -> (r.getBoolean(2), r.getBoolean(3))).toMap
    first(100L) shouldBe ((false, false)) // first sighting: no prior state
    first(200L) shouldBe ((false, false))
    // idle gap 3x the TTL, then a SECOND run resumes the same checkpoint:
    // the 500 ms TTL'd state must have been expired by the store while
    // the TTLConfig.NONE twin — written in the same batch — survives
    Thread.sleep(1500)
    Seq((1L, 101L)).toDF("user_id", "event_id")
      .write.mode("append").parquet(in)
    drain(totalExpected = 3)
    val byEvent = spark.read.parquet(out).collect()
      .map(r => r.getLong(1) -> (r.getBoolean(2), r.getBoolean(3))).toMap
    byEvent(101L) shouldBe ((false, true))
  }

  test("event-time TTL: graded set is invariant to micro-batch slicing across an expire/reappear cycle") {
    // q107's final-expiry filter claims (Queries.scala, q107 comment) that
    // a mid-stream expire -> reappear -> re-expire cycle cannot change the
    // graded output: the intermediate expiry's last_seen can never equal
    // the key's final max ts. Drive the SAME events through (A) three
    // separately-drained micro-batches with checkpoint resume — forcing
    // the intermediate expiry to actually emit — and (B) one single-shot
    // drain, and pin that the graded sets match while A's raw emissions
    // contain the extra intermediate record.
    implicit val s = spark
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00") // session TZ = UTC
    def at(hours: Int) = new java.sql.Timestamp(t0.getTime + hours * 3600L * 1000)
    val batches = Seq(
      Seq((1L, at(0)), (2L, at(0))),   // arm timers at +6h
      Seq((2L, at(10))),               // wm -> +9h: user 1 expires MID-STREAM
      Seq((1L, at(10)), (3L, at(20)))  // user 1 REAPPEARS; wm -> +19h re-expires 1 and 2
    )
    def drain(in: String, out: String, ckpt: String): Unit = {
      spark.readStream.schema("user_id BIGINT, ts TIMESTAMP").parquet(in)
        .withWatermark("ts", "1 hour").createOrReplaceTempView("ettl_in_v")
      val actor = new StreamStatefulTransformer()
      actor.init(Map("view" -> "ettl_in_v",
        "processor.type" -> "graft.streaming.EventTtlProcessor",
        "processor.keyField" -> "user_id", "processor.tsField" -> "ts",
        "processor.ttlSeconds" -> "21600"))
      val q = actor.run(new JobContext(PipelineContext())).get.writeStream
        .foreachBatch((b: DataFrame, _: Long) => b.write.mode("append").parquet(out))
        .outputMode("append").option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def emissions(out: String): Seq[(Long, Long)] = {
      // existence-gated like the TTL test's poll read: a no-emission drain
      // leaves the dir parquet-less and the schema-inference failure would
      // ERROR-spam through ExecutionListenerBus despite the catch
      val parts = Option(new java.io.File(out).listFiles).getOrElse(Array.empty)
      if (!parts.exists(_.getName.endsWith(".parquet"))) Seq.empty
      else try spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      catch { case _: Throwable => Seq.empty }
    }
    // q107's grading step: max emitted last_seen per key, kept only when
    // it equals the key's overall max event time
    def graded(out: String, all: Seq[(Long, java.sql.Timestamp)]): Set[(Long, Long)] = {
      val finalSeen = all.groupBy(_._1).map { case (k, vs) =>
        k -> vs.map(_._2.getTime / 1000).max }
      emissions(out).groupBy(_._1).flatMap { case (k, es) =>
        val mx = es.map(_._2).max
        if (finalSeen(k) == mx) Some((k, mx)) else None
      }.toSet
    }
    val all = batches.flatten
    // (A) sliced: one drain per batch file, resuming the checkpoint
    val (inA, outA, ckptA) = (tmpDir("ettl_a_in"), tmpDir("ettl_a_out"), tmpDir("ettl_a_ck"))
    batches.foreach { b =>
      b.toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(inA)
      drain(inA, outA, ckptA)
    }
    // (B) single shot: all events visible to the first drain
    val (inB, outB, ckptB) = (tmpDir("ettl_b_in"), tmpDir("ettl_b_out"), tmpDir("ettl_b_ck"))
    all.toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(inB)
    drain(inB, outB, ckptB)
    // the mid-stream intermediate expiry REALLY emitted in A (last_seen=t0)
    emissions(outA) should contain((1L, t0.getTime / 1000))
    // ... and B never saw it
    emissions(outB) should not contain ((1L, t0.getTime / 1000))
    // the graded sets are identical: users 1 and 2 expired at +10h;
    // user 3 still live at the final watermark
    val expected = Set((1L, at(10).getTime / 1000), (2L, at(10).getTime / 1000))
    graded(outA, all) shouldBe expected
    graded(outB, all) shouldBe expected
    spark.catalog.dropTempView("ettl_in_v")
  }
}

/** Driver-side probe for the continuous-trigger test: executor threads (same
 *  JVM in local mode) record what the ForeachWriter saw. */
object ContinuousProbe {
  val rows = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  val epochs: java.util.Set[java.lang.Long] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.lang.Long]()
  def reset(): Unit = { rows.clear(); epochs.clear() }
}

/** Per-epoch open/process/close collector (continuous-capable sink). */
class ContinuousCollector extends org.apache.spark.sql.ForeachWriter[org.apache.spark.sql.Row] {
  override def open(partitionId: Long, epochId: Long): Boolean = {
    ContinuousProbe.epochs.add(epochId); true
  }
  override def process(row: org.apache.spark.sql.Row): Unit =
    ContinuousProbe.rows.add(row.getAs[Long]("value"))
  override def close(errorOrNull: Throwable): Unit = ()
}

/** groupByKey + mapGroupsWithState accumulator (the reference's canonical
 *  arbitrary-state pattern, UserStatefulProcessor.scala:36-41). */
class SumProcessor extends ArbitraryStatefulProcessor {
  def transformState(df: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    df.as[(String, Int)]
      .groupByKey(_._1)
      .mapGroupsWithState[Int, (String, Int)](GroupStateTimeout.NoTimeout()) {
        case (key, rows, state) =>
          val total = state.getOption.getOrElse(0) + rows.map(_._2).sum
          state.update(total)
          (key, total)
      }
      .toDF("k", "total")
  }
}
