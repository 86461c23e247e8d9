package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core.{PipelineContext, PipelineRunner}
import graft.pipeline.PipelineBuilder
import java.util.{ArrayList => JList, LinkedHashMap => JMap, Map => AnyJMap}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/**
 * JVM side of the pipeline benchmark.  Reads a plan written by
 * `perfbench/run.py`, drives the product only through its public entry
 * points (`PipelineBuilder.fromFile` then
 * `new PipelineRunner(PipelineContext()).run`, as `graft.Launcher` does)
 * and writes a record of what happened.  Metrics are derived from the
 * record by run.py.
 *
 *   java ... perfbench.Harness <plan.json> <record.json>
 *
 * Phases: session start and the warm-up rounds (the setup); untraced
 * timed rounds until the plan's `seconds` have passed and at least
 * `min_rounds` have run; with tracing, a fixed number of traced rounds
 * (listeners on) after them, so the traced work is the same for a seed
 * and its counts repeat.  Traced minus untraced round time is the
 * tracing overhead.
 */
object Harness {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val mainEpochMs = System.currentTimeMillis()
    val plan = mapper.readValue(new java.io.File(args(0)), classOf[AnyJMap[String, Object]])
    val record = new JMap[String, Object]()
    record.put("main_epoch_ms", Long.box(mainEpochMs))
    val trace = plan.get("trace").toString.toBoolean
    val cores = plan.get("cores").toString.toInt
    val root = plan.get("root").toString

    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.sql.streaming.streamingQueryListeners", classOf[ProgressListener].getName)
    if (trace)
      builder.config("spark.sql.queryExecutionListeners", classOf[QueryListener].getName)
    implicit val spark: SparkSession = builder.getOrCreate()
    graft.functions.UdfRegistry.registerSystemUdfs(spark)
    record.put("session_epoch_ms", Long.box(System.currentTimeMillis()))

    try {
      val roundSize = plan.get("round_size").toString.toInt
      def rounds(key: String) = plan.get(key).asInstanceOf[java.util.List[AnyJMap[String, Object]]]
        .asScala.toIndexedSeq.grouped(roundSize).toIndexedSeq
      val warmRounds = new JList[Object]()
      val w0 = System.currentTimeMillis()
      rounds("warm").zipWithIndex.foreach { case (r, i) => warmRounds.add(runRound(r, s"w$i", "warm")) }
      record.put("warm", phase(warmRounds, w0, System.currentTimeMillis()))
      val timed = rounds("timed")
      val timedRounds = new JList[Object]()
      val t0 = System.currentTimeMillis()
      val deadline = t0 + (plan.get("seconds").toString.toDouble * 1000).toLong
      val minRounds = plan.get("min_rounds").toString.toInt
      while (timedRounds.size < timed.size &&
             (timedRounds.size < minRounds || System.currentTimeMillis() < deadline))
        timedRounds.add(runRound(timed(timedRounds.size), s"r${timedRounds.size}", "timed"))
      val t1 = System.currentTimeMillis()
      record.put("timed", phase(timedRounds, t0, t1))
      if (trace) {
        val listener = new TaskListener
        spark.sparkContext.addSparkListener(listener)
        Trace.begin()
        val tracedRounds = new JList[Object]()
        val t2 = System.currentTimeMillis()
        rounds("traced").zipWithIndex.foreach { case (r, i) =>
          tracedRounds.add(runRound(r, s"t$i", "traced"))
        }
        val t3 = System.currentTimeMillis()
        org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
        Trace.end()
        spark.sparkContext.removeSparkListener(listener)
        record.put("traced", phase(tracedRounds, t2, t3))
        record.put("counters", Trace.snapshot(listener))
        record.put("spans", Trace.spanRecords())
      }
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      record.put("microbatches", ProgressListener.records())
    } finally {
      record.put("peak_rss_mb", Double.box(peakRssMb()))
      mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(args(1)), record)
      spark.stop()
    }
  }

  private def phase(rounds: JList[Object], t0: Long, t1: Long): JMap[String, Object] = {
    val m = new JMap[String, Object]()
    m.put("start_ms", Long.box(t0))
    m.put("end_ms", Long.box(t1))
    m.put("rounds", rounds)
    m
  }

  private def runRound(instances: Seq[AnyJMap[String, Object]], id: String, phaseName: String)
                      (implicit spark: SparkSession): JMap[String, Object] = {
    ProgressListener.phase = phaseName
    val t0 = System.currentTimeMillis()
    val out = new JList[Object]()
    instances.zipWithIndex.foreach { case (inst, i) => out.add(runInstance(inst, s"$id.$i")) }
    val t1 = System.currentTimeMillis()
    val m = new JMap[String, Object]()
    m.put("id", id)
    m.put("start_ms", Long.box(t0))
    m.put("end_ms", Long.box(t1))
    m.put("instances", out)
    m
  }

  /** One pipeline instance: build, run, then list what it wrote. */
  private def runInstance(inst: AnyJMap[String, Object], req: String)
                         (implicit spark: SparkSession): JMap[String, Object] = {
    val m = new JMap[String, Object]()
    m.put("req", req)
    m.put("yaml", inst.get("yaml"))
    m.put("template", inst.get("template"))
    val t0 = System.currentTimeMillis()
    var t1 = t0
    val actions = new JList[Object]()
    try {
      val pipeline = PipelineBuilder.fromFile(inst.get("yaml").toString)
      t1 = System.currentTimeMillis()
      val modules = pipeline.jobs.flatMap(j => j.actions.map(a =>
        (j.name, a.name) -> a.actor.getClass.getName)).toMap
      val runner = new PipelineRunner(PipelineContext())
      try runner.run(pipeline)
      finally runner.metrics.foreach { a =>
        val am = new JMap[String, Object]()
        am.put("job", a.job)
        am.put("action", a.action)
        am.put("actor", modules.getOrElse((a.job, a.action), ""))
        am.put("ms", Long.box(a.executeTimeMs))
        am.put("status", a.status)
        actions.add(am)
      }
      m.put("status", "ok")
    } catch {
      case e: Throwable =>
        m.put("status", "failed")
        m.put("error", String.valueOf(e).take(2000))
    }
    val t2 = System.currentTimeMillis()
    m.put("start_ms", Long.box(t0))
    m.put("built_ms", Long.box(t1))
    m.put("end_ms", Long.box(t2))
    m.put("actions", actions)
    val vars = inst.get("vars").asInstanceOf[AnyJMap[String, Object]]
    m.put("output", outputStats(java.nio.file.Paths.get(vars.get("out_dir").toString)))
    m
  }

  /** Data files and bytes a pipeline wrote (sink metadata, checkpoints
   *  and hidden files excluded). */
  private def outputStats(dir: java.nio.file.Path): JMap[String, Object] = {
    var files = 0L
    var bytes = 0L
    if (java.nio.file.Files.isDirectory(dir)) {
      val s = java.nio.file.Files.walk(dir)
      try s.iterator().asScala.foreach { p =>
        val rel = dir.relativize(p).toString
        val hidden = rel.split('/').exists(x => x.startsWith(".") || x.startsWith("_") || x == "checkpoint")
        if (!hidden && java.nio.file.Files.isRegularFile(p)) {
          files += 1
          bytes += java.nio.file.Files.size(p)
        }
      } finally s.close()
    }
    val m = new JMap[String, Object]()
    m.put("files", Long.box(files))
    m.put("bytes", Long.box(bytes))
    m
  }

  private def peakRssMb(): Double = {
    val status = scala.io.Source.fromFile("/proc/self/status")
    try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally status.close()
  }
}
