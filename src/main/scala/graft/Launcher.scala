package graft

import graft.core.{PipelineContext, PipelineRunner}
import graft.functions.UdfRegistry
import graft.pipeline.PipelineBuilder
import org.apache.spark.sql.SparkSession

/**
 * spark-submit entry point:
 * {{{
 * spark-submit --class graft.Launcher app.jar \
 *   --pipeline-def /path/pipeline.yaml#job1;job2 \
 *   --var key=value --vars k1=v1,k2=v2 \
 *   --conf-file app.conf
 * }}}
 *
 * Reference: etl/Launcher.scala:36-98 + configuration/ArgumentParser.scala
 * :20-90 (the `file#job1;job2` selector, --var/--vars merging). Re-designed:
 * hand-rolled arg parsing (no scopt offline), java-properties app config
 * instead of Typesafe HOCON.
 */
object Launcher {

  final case class Args(pipelineDef: String, jobs: Option[Set[String]],
                        vars: Map[String, String], confFiles: Seq[String],
                        validationRun: Option[Int] = None,
                        stagingUri: Option[String] = None,
                        metricsUri: Option[String] = None)

  def parseArgs(argv: Array[String]): Args = {
    var pipelineDef = ""
    var vars = Map.empty[String, String]
    var confFiles = Seq.empty[String]
    var validationRun: Option[Int] = None
    var stagingUri: Option[String] = None
    var metricsUri: Option[String] = None
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--pipeline-def" => pipelineDef = argv(i + 1); i += 2
        case "--var" =>
          val Array(k, v) = argv(i + 1).split("=", 2); vars += (k -> v); i += 2
        case "--vars" =>
          argv(i + 1).split(",").foreach { kv =>
            val Array(k, v) = kv.split("=", 2); vars += (k -> v)
          }; i += 2
        case "--conf-file" | "--application-conf" =>
          confFiles ++= argv(i + 1).split(","); i += 2
        // operational overrides (reference: ArgumentParser.scala:20-63 —
        // staging + metrics overrides, validation-run truncation)
        case "--validation-run" => validationRun = Some(argv(i + 1).toInt); i += 2
        case "--staging-uri" => stagingUri = Some(argv(i + 1)); i += 2
        case "--metrics-uri" => metricsUri = Some(argv(i + 1)); i += 2
        case other => throw new IllegalArgumentException(s"unknown argument: $other")
      }
    }
    require(pipelineDef.nonEmpty, "--pipeline-def is required")
    val (file, jobs) = pipelineDef.split("#", 2) match {
      case Array(f, js) => (f, Some(js.split(";").toSet))
      case Array(f) => (f, None)
    }
    Args(file, jobs, vars, confFiles, validationRun, stagingUri, metricsUri)
  }

  /** Later conf files override earlier (reference withFallback chain,
   *  Launcher.scala:46-49). Java-properties format. */
  def loadConfig(files: Seq[String]): Map[String, String] =
    files.foldLeft(Map.empty[String, String]) { (acc, f) =>
      val p = new java.util.Properties()
      val in = new java.io.FileInputStream(f)
      try p.load(in) finally in.close()
      acc ++ p.stringPropertyNames().toArray(Array.empty[String]).map(k => k -> p.getProperty(k))
    }

  /** The application session's Spark confs: the config's `spark.*` keys
   *  (reference: Launcher.scala:65-87), over no per-session artifact
   *  isolation ([[Sessions.ArtifactIsolation]]) unless the config sets it. */
  def sparkConfs(config: Map[String, String]): Map[String, String] =
    Map(Sessions.ArtifactIsolation -> "false") ++ config.filter(_._1.startsWith("spark."))

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val config = loadConfig(args.confFiles)
    val builder = SparkSession.builder()
    sparkConfs(config).foreach { case (k, v) => builder.config(k, v) }
    implicit val spark: SparkSession = builder.getOrCreate()
    try run(args, config)
    finally spark.stop()
  }

  def run(args: Args, config: Map[String, String])(implicit spark: SparkSession): Unit = {
    UdfRegistry.registerSystemUdfs(spark)
    val pipeline = PipelineBuilder.fromFile(args.pipelineDef, args.vars, config)
    pipeline.udfRegistrations.foreach(cls => UdfRegistry.register(cls, "")(spark))
    val ctx = PipelineContext(
      metricsEnabled = config.get("metrics.enabled").exists(_.toBoolean)
        || args.metricsUri.isDefined,
      metricsUri = args.metricsUri.orElse(config.get("metrics.uri")),
      stagingUri = args.stagingUri.orElse(config.get("staging.uri")),
      validationRunLimit = args.validationRun
        .orElse(config.get("validationRun.limit").map(_.toInt)))
    new PipelineRunner(ctx).run(pipeline, args.jobs)
  }
}
