package graft.core

import graft.pipeline.{Action, Job, Pipeline}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/**
 * Pipeline execution engine: runs jobs sequentially, each action through its
 * Actor, publishing results as temp views.
 *
 * Reference: pipeline/PipelineRunner.scala:38-110. Semantics preserved:
 *  - one Spark sub-session per job unless singleSparkSession (:49) — local
 *    temp views do not leak across jobs, global_temp views do; the
 *    sub-sessions share one executor class loader ([[graft.Sessions.subSession]]);
 *  - global views optionally localized at job start (:56-58,113-116);
 *  - input views must exist before an action runs (:67,119-134);
 *  - input views are ref-counted; 2nd reference => auto-persist
 *    (:69-72 → JobContext.scala:74-85);
 *  - validation-run mode truncates every output via limit(n) (:78);
 *  - per-action metrics (row count / schema / estimated size / time) (:151-187);
 *  - debug staging dumps action outputs as csv (:215-240);
 *  - cache cleanup per job (:243-258).
 */
final class PipelineRunner(pipelineCtx: PipelineContext = PipelineContext()) {

  final case class ActionMetrics(
      job: String, action: String, rowCount: Option[Long], schema: String,
      estimatedSizeBytes: Option[BigInt], executeTimeMs: Long, status: String)

  private val _metrics = mutable.ArrayBuffer.empty[ActionMetrics]
  def metrics: Seq[ActionMetrics] = _metrics.toSeq

  def run(pipeline: Pipeline)(implicit rootSession: SparkSession): Unit =
    run(pipeline, jobFilter = None)

  /** Run, optionally restricted to the named jobs (reference `file#job1;job2`
   *  selector, PipelineRunner.scala:43). */
  def run(pipeline: Pipeline, jobFilter: Option[Set[String]])(implicit rootSession: SparkSession): Unit = {
    val ctxTemplate = pipelineCtx.copy(
      singleSparkSession = pipelineCtx.singleSparkSession || pipeline.singleSparkSession,
      globalViewAsLocal = pipelineCtx.globalViewAsLocal && pipeline.globalViewAsLocal,
      planAudit = pipelineCtx.planAudit.orElse(pipeline.planAudit),
      planAuditAllowRules = pipelineCtx.planAuditAllowRules ++ pipeline.planAuditAllowRules)

    val jobs = jobFilter match {
      case Some(names) => pipeline.jobs.filter(j => names.contains(j.name))
      case None => pipeline.jobs
    }
    // fresh metrics per run (a reused runner must not re-report the prior
    // run's actions), and the file is written even when a job throws —
    // the failure row recorded for the failing action is the one a metrics
    // consumer most needs
    _metrics.clear()
    try jobs.foreach { job =>
      implicit val session: SparkSession =
        if (ctxTemplate.singleSparkSession) rootSession else graft.Sessions.subSession(rootSession)
      // system + pipeline-declared UDFs registered per job sub-session
      // (reference: PipelineRunner.scala:54)
      graft.functions.UdfRegistry.registerSystemUdfs(session)
      pipeline.udfRegistrations.foreach(cls =>
        graft.functions.UdfRegistry.register(cls, "")(session))
      val ctx = new JobContext(ctxTemplate)(session)
      ctx.setVariables(pipeline.variables)
      localizeGlobalViews(ctx)(session)
      try runJob(job, ctx)(session)
      finally {
        harvestObservations(job.name, ctx)
        ctx.cleanup()
      }
    }
    finally writeMetrics(pipeline.name)
  }

  /** ObserveActor metrics → one `observe:<name>` row per observation whose
   *  plan actually executed this job. The harvest is BOUNDED-WAIT, not
   *  free: the 5 s budget is one shared deadline over all observations
   *  (see [[JobContext.observedMetrics]]), covering the listener-bus hop
   *  after executed actions; observations whose view never reached a sink
   *  report nothing and cannot stall teardown past the single budget.
   *  Values are rendered sorted by alias so the row is deterministic. */
  private def harvestObservations(jobName: String, ctx: JobContext): Unit =
    ctx.observedMetrics(awaitMs = 5000L).foreach { case (name, vals) =>
      if (vals.nonEmpty)
        _metrics += ActionMetrics(jobName, s"observe:$name", rowCount = None,
          schema = vals.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString(", "),
          estimatedSizeBytes = None, executeTimeMs = 0L, status = "observed")
    }

  /** One metrics JSON document per run when a metrics uri is configured
   *  (reference: PipelineRunner.scala:190-212). */
  private def writeMetrics(pipelineName: String): Unit =
    pipelineCtx.metricsUri.foreach { uri =>
      val dir = java.nio.file.Paths.get(uri)
      java.nio.file.Files.createDirectories(dir)
      // Jackson escapes every control char: a tab in a schema DDL or an
      // action name must not produce an unparseable metrics file
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def q(s: String) = mapper.writeValueAsString(s)
      val rows = _metrics.map { m =>
        s"""{"job": ${q(m.job)}, "action": ${q(m.action)}, "rowCount": ${m.rowCount.getOrElse(-1L)},
           | "schema": ${q(m.schema)}, "estimatedSizeBytes": ${m.estimatedSizeBytes.getOrElse(BigInt(-1))},
           | "executeTimeMs": ${m.executeTimeMs}, "status": ${q(m.status)}}""".stripMargin.replace("\n", "")
      }.mkString("[", ",", "]")
      val file = dir.resolve(s"metrics-$pipelineName-${System.currentTimeMillis()}.json")
      java.nio.file.Files.write(file, rows.getBytes("UTF-8"))
    }

  /** Re-publish each global_temp view under its bare name in this job's
   *  session (reference: PipelineRunner.scala:113-116). Views promoted to
   *  global *after* this point are only reachable via the global_temp
   *  prefix — intentional parity with the reference's timing. */
  private def localizeGlobalViews(ctx: JobContext)(implicit session: SparkSession): Unit =
    if (ctx.pipelineCtx.globalViewAsLocal) {
      val db = ctx.pipelineCtx.globalTempDatabase
      // listTables(global_temp) also returns session-local temp views —
      // keep only the ones actually namespaced in the global-temp database
      session.catalog.listTables(db).collect()
        .filter(t => Option(t.namespace).exists(_.sameElements(Array(db))))
        .foreach { t =>
          session.table(s"$db.${t.name}").createOrReplaceTempView(t.name)
        }
    }

  private def runJob(job: Job, ctx: JobContext)(implicit session: SparkSession): Unit =
    job.actions.foreach { action => runAction(job, action, ctx) }

  private def runAction(job: Job, action: Action, ctx: JobContext)(implicit session: SparkSession): Unit = {
    val t0 = System.currentTimeMillis()
    // 1. declared inputs must already exist (reference :119-134)
    val inputs = (action.inputViews ++ action.actor.inputViews).distinct
    val missing = inputs.filterNot(ctx.viewExists)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"job '${job.name}' action '${action.name}': missing input view(s): ${missing.mkString(", ")}")
    // 2. ref-count → auto-cache on 2nd reference (reference :69-72);
    //    beginAction scopes the dedup so a view both declared here and
    //    found by the actor's plan parse counts once
    ctx.beginAction()
    inputs.foreach(ctx.referenceView)
    // 3. late-bound SQL variables then execute
    action.actor.beforeRun(ctx)
    var status = "completed"
    val result: Option[DataFrame] =
      try action.actor.run(ctx)(session)
      catch { case e: Throwable => status = s"failed: ${e.getMessage}"; throw e }
      finally if (status != "completed") record(job, action, None, t0, status)
    // 3b. pipeline-wide plan gate: audit the action's OUTPUT plan before
    //     anything downstream executes it (pure inspection, no job). The
    //     per-action `plan-audit` actor covers targeted gates; this
    //     setting covers every action without writing one.
    for (threshold <- ctx.pipelineCtx.planAudit; df <- result) {
      val findings = graft.plans.PlanAudit.audit(df, threshold = threshold)
        .filterNot(f => ctx.pipelineCtx.planAuditAllowRules(f.rule))
      if (findings.nonEmpty) {
        record(job, action, None, t0, s"failed: plan audit ($threshold)")
        throw new IllegalStateException(
          s"job '${job.name}' action '${action.name}': plan audit found " +
            s"${findings.size} finding(s) at/above severity '$threshold':\n" +
            findings.map(f => s"  [${f.severity}] ${f.rule} @ ${f.node}: ${f.detail}")
              .mkString("\n"))
      }
    }
    // 4. validation-run truncation (reference :78)
    val limited = (result, ctx.pipelineCtx.validationRunLimit) match {
      case (Some(df), Some(n)) if !df.isStreaming => Some(df.limit(n))
      case _ => result
    }
    // 5. promote output + any extra views (reference :79,137-148)
    limited.foreach { df =>
      action.outputView.foreach(v => ctx.promoteView(v.name, df, v.global))
    }
    action.actor.extraViews.foreach { case (name, df, global) => ctx.promoteView(name, df, global) }
    // 6. metrics + staging — persist before count to avoid recompute
    //    (reference :162-164,219-224)
    limited match {
      case Some(df) if ctx.metricsRequired && !df.isStreaming =>
        val wasCached = df.storageLevel != StorageLevel.NONE
        if (!wasCached) df.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val rows = df.count()
          val size = scala.util.Try(BigInt(df.queryExecution.optimizedPlan.stats.sizeInBytes.toString)).toOption
          _metrics += ActionMetrics(job.name, action.name, Some(rows), df.schema.toDDL,
            size, System.currentTimeMillis() - t0, status)
          stage(job, action, df, ctx)
        } finally if (!wasCached) df.unpersist()
      case Some(df) if !df.isStreaming =>
        stage(job, action, df, ctx)
        record(job, action, Some(df), t0, status)
      case _ =>
        record(job, action, None, t0, status)
    }
  }

  private def record(job: Job, action: Action, df: Option[DataFrame], t0: Long, status: String): Unit =
    _metrics += ActionMetrics(job.name, action.name, None,
      df.map(_.schema.toDDL).getOrElse(""), None, System.currentTimeMillis() - t0, status)

  /** Debug staging: one csv dump per staged action (reference :215-240). */
  private def stage(job: Job, action: Action, df: DataFrame, ctx: JobContext): Unit =
    ctx.pipelineCtx.stagingUri.foreach { uri =>
      val wanted = ctx.pipelineCtx.stagingActions
      if (wanted.isEmpty || wanted.contains(action.name))
        df.write.mode("overwrite").option("header", "true")
          .csv(s"$uri/${job.name}/${action.name}")
    }
}
