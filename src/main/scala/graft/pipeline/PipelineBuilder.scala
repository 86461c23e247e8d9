package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import graft.core.Actor
import graft.sql.SqlBase
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/**
 * YAML/JSON pipeline-definition parser -> [[Pipeline]] AST.
 *
 * Reference: pipeline/builder/JsonPipelineBuilder.scala (+Yaml/Xml variants
 * which normalize to the same Map tree, YamlPipelineBuilder.scala:48-55).
 * Preserved semantics:
 *  - actors instantiated eagerly by alias or fully-qualified class name
 *    (:265) and initialized with their properties;
 *  - `${var}` resolution in property values with precedence pipeline
 *    variables > submit-time variables > application config (README.md:105,
 *    common/VariableResolver.scala:41-51);
 *  - `include:` splicing for jobs and aliases (:202-203,350-366);
 *  - variables may hold SQL expressions, evaluated eagerly through a
 *    `SELECT expr` round-trip (common/VariableResolver.scala:22-36).
 *
 * Re-designed (not ported): Jackson tree + pattern matching instead of
 * annotation-driven reflection injection; explicit `Actor.init(Map)`.
 */
object PipelineBuilder {

  /** Built-in short aliases (extendable per pipeline via `aliases:`). */
  val defaultAliases: Map[String, String] = Map(
    "file-reader" -> "graft.source.FileReader",
    "file-stream-reader" -> "graft.streaming.FileStreamReader",
    "flat-reader" -> "graft.source.FlatFileReader",
    "flat-stream-reader" -> "graft.streaming.FlatStreamReader",
    "binary-reader" -> "graft.source.BinaryFileReader",
    "jdbc-reader" -> "graft.source.JdbcReader",
    "kafka-reader" -> "graft.source.KafkaReader",
    "kafka-stream-reader" -> "graft.source.KafkaStreamReader",
    "delta-reader" -> "graft.source.DeltaReader",
    "delta-stream-reader" -> "graft.source.DeltaStreamReader",
    "iceberg-reader" -> "graft.source.IcebergReader",
    "iceberg-stream-reader" -> "graft.source.IcebergStreamReader",
    "hbase-reader" -> "graft.source.HBaseReader",
    "mongo-reader" -> "graft.source.MongoReader",
    "redis-reader" -> "graft.source.RedisReader",
    "redis-stream-reader" -> "graft.source.RedisStreamReader",
    "flight-reader" -> "graft.source.FlightReader",
    "sql-reader" -> "graft.sql.SqlReader",
    "sql-table-reader" -> "graft.source.SqlTableReader",
    "sql" -> "graft.sql.SqlActor",
    "sql-transformer" -> "graft.sql.SqlTransformer",
    "stream-stateful-transformer" -> "graft.transform.StreamStatefulTransformer",
    "schema-validator" -> "graft.validation.SchemaValidator",
    "sql-data-validator" -> "graft.validation.SqlDataValidator",
    "spark-conf" -> "graft.utils.SparkConfActor",
    "variable-setter" -> "graft.utils.VariableSetter",
    "view-partitioner" -> "graft.utils.ViewPartitioner",
    "observe" -> "graft.utils.ObserveActor",
    "plan-audit" -> "graft.plans.PlanAuditActor",
    "file-writer" -> "graft.sink.FileWriter",
    "file-stream-writer" -> "graft.streaming.FileStreamWriter",
    "jdbc-writer" -> "graft.sink.JdbcWriter",
    "jdbc-stream-writer" -> "graft.sink.JdbcStreamWriter",
    "kafka-writer" -> "graft.sink.KafkaWriter",
    "kafka-stream-writer" -> "graft.sink.KafkaStreamWriter",
    "delta-writer" -> "graft.sink.DeltaWriter",
    "delta-stream-writer" -> "graft.sink.DeltaStreamWriter",
    "iceberg-writer" -> "graft.sink.IcebergWriter",
    "iceberg-stream-writer" -> "graft.sink.IcebergStreamWriter",
    "hbase-writer" -> "graft.source.HBaseWriter",
    "hbase-stream-writer" -> "graft.sink.HBaseStreamWriter",
    "mongo-stream-writer" -> "graft.sink.MongoStreamWriter",
    "redis-stream-writer" -> "graft.sink.RedisStreamWriter",
    "mongo-writer" -> "graft.sink.MongoWriter",
    "redis-writer" -> "graft.sink.RedisWriter",
    "flight-writer" -> "graft.sink.FlightWriter",
    "sql-writer" -> "graft.sql.SqlWriter",
    "sql-table-writer" -> "graft.sink.SqlTableWriter",
    // beyond-parity training-data operators
    "dedup" -> "graft.ml.DedupActor",
    "similarity-search" -> "graft.ml.SimilaritySearchActor",
    "text-analysis" -> "graft.ml.TextAnalysisActor",
    "multimodal-decode" -> "graft.ml.MultimodalDecodeActor",
    "image-dedup" -> "graft.ml.ImageDedupActor",
    "graph" -> "graft.ml.GraphActor",
    "curate" -> "graft.ml.CurationActor",
    "pii" -> "graft.ml.PiiActor")

  def fromFile(path: String, submitVars: Map[String, String] = Map.empty,
               appConfig: Map[String, String] = Map.empty)
              (implicit spark: SparkSession): Pipeline = {
    val text = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val ext = path.substring(path.lastIndexOf('.') + 1).toLowerCase
    fromString(text, ext, submitVars, appConfig, baseDir = java.nio.file.Paths.get(path).getParent)
  }

  def fromString(text: String, format: String,
                 submitVars: Map[String, String] = Map.empty,
                 appConfig: Map[String, String] = Map.empty,
                 baseDir: java.nio.file.Path = null)
                (implicit spark: SparkSession): Pipeline = {
    val root =
      if (format.equalsIgnoreCase("xml")) XmlPipelineSupport.parse(text)
      else readTree(text, format)
    build(root, submitVars, appConfig, Option(baseDir))
  }

  /** The one YAML/JSON reader, for pipeline files and `include:`d job
   *  files alike. `format` is a file extension, matched case-insensitively. */
  private def readTree(text: String, format: String): Map[String, Any] = {
    val mapper = format.toLowerCase match {
      case "yaml" | "yml" => new ObjectMapper(new YAMLFactory())
      case "json" => new ObjectMapper()
      case other => throw new IllegalArgumentException(s"unsupported pipeline format: $other")
    }
    toScala(mapper.readValue(text, classOf[java.util.Map[String, Object]]))
      .asInstanceOf[Map[String, Any]]
  }

  // Jackson Java tree -> Scala collections
  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] => m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toList
    case other => other
  }

  private def build(root: Map[String, Any], submitVars: Map[String, String],
                    appConfig: Map[String, String], baseDir: Option[java.nio.file.Path])
                   (implicit spark: SparkSession): Pipeline = {
    val name = root.getOrElse("name", "pipeline").toString

    // precedence: pipeline > submit-args > app config
    val pipelineVars = asMap(root.get("variables")).map { case (k, v) => k -> v.toString }
    val merged = graft.common.SecurityChannel.decryptVariables(
      appConfig ++ submitVars ++ pipelineVars, appConfig)
    // variables may reference each other (including chains a -> b -> c):
    // resolve to a fixpoint, then evaluate `sql(...)`-tagged values eagerly
    val resolvedVars = {
      def evalSql(r: String): String =
        if (r.startsWith("sql(") && r.endsWith(")"))
          spark.sql(s"SELECT ${r.substring(4, r.length - 1)}").first().get(0).toString
        else r
      var cur = merged
      var changed = true
      var rounds = 0
      while (changed && rounds < 12) { // bound guards reference cycles
        // evaluate fully-resolved sql(...) values FIRST, then splice: a
        // variable referencing one ("dt=${a}") must pick up the evaluated
        // result, not the literal sql(...) text
        val evaluated = cur.map { case (k, v) =>
          k -> (if (SqlBase.VarRe.findFirstIn(v).isEmpty) evalSql(v) else v)
        }
        val next = evaluated.map { case (k, v) => k -> SqlBase.resolveVariables(v, evaluated) }
        changed = next != cur
        cur = next
        rounds += 1
      }
      cur.map { case (k, v) => k -> evalSql(v) }
    }

    val aliases = defaultAliases ++
      asMap(root.get("aliases")).map { case (k, v) => k -> v.toString } ++
      asList(root.get("aliases")).collect {
        case m: Map[String @unchecked, Any @unchecked] => m("name").toString -> m("type").toString
      }

    val settings = asMap(root.get("settings")).map { case (k, v) => k -> v.toString }

    val jobs = asListStrict(root.get("jobs"), s"pipeline '$name': jobs").map {
      case m: Map[String @unchecked, Any @unchecked] =>
        m.get("include") match {
          case Some(inc) =>
            val p = baseDir.map(_.resolve(inc.toString)).getOrElse(java.nio.file.Paths.get(inc.toString))
            val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
            val ext = inc.toString.substring(inc.toString.lastIndexOf('.') + 1)
            buildJob(readTree(txt, ext), aliases, resolvedVars, baseDir)
          case None => buildJob(m, aliases, resolvedVars, baseDir)
        }
      case other => throw new IllegalArgumentException(
        s"pipeline '$name': each jobs entry must be a map, got: $other")
    }

    Pipeline(name, jobs,
      variables = resolvedVars,
      udfRegistrations = asList(root.get("udf-registration")).map(_.toString),
      singleSparkSession = settings.get("singleSparkSession").exists(_.toBoolean),
      globalViewAsLocal = settings.get("globalViewAsLocal").forall(_.toBoolean),
      planAudit = settings.get("planAudit").map { v =>
        require(Seq("error", "warn").contains(v),
          s"settings.planAudit must be error|warn, got '$v'")
        v
      },
      planAuditAllowRules = settings.get("planAuditAllowRules")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet).getOrElse(Set.empty))
  }

  private def buildJob(m: Map[String, Any], aliases: Map[String, String],
                       vars: Map[String, String], baseDir: Option[java.nio.file.Path])
                      (implicit spark: SparkSession): Job = {
    val actions = asListStrict(m.get("actions"),
        s"job '${m.getOrElse("name", "job")}': actions").map {
      case a: Map[String @unchecked, Any @unchecked] =>
        val actorName = a.getOrElse("actor",
          throw new IllegalArgumentException("action missing 'actor'")).toString
        val cls = aliases.getOrElse(actorName, actorName)
        val actor = Class.forName(cls).getDeclaredConstructor().newInstance().asInstanceOf[Actor]
        val props = flatten("", a.getOrElse("properties", Map.empty[String, Any]))
          .map { case (k, v) => k -> SqlBase.resolveVariables(v, vars) }
        // sqlFile convenience: load relative to the pipeline file
        val propsWithFiles = props.map {
          case (k, v) if k.endsWith("File") && baseDir.isDefined && !java.nio.file.Paths.get(v).isAbsolute =>
            k -> baseDir.get.resolve(v).toString
          case kv => kv
        }
        actor.init(propsWithFiles)
        val outputView = a.get("output-view").map {
          case ov: Map[String @unchecked, Any @unchecked] =>
            View(ov("name").toString, ov.get("global").exists(_.toString.toBoolean))
          // a plain-string output-view would otherwise be DROPPED silently
          // and downstream actions fail with a confusing missing-view error
          case s: String => View(s, global = false)
          case other => throw new IllegalArgumentException(
            s"action '${a.getOrElse("name", actorName)}': output-view must be a map " +
              s"with 'name' (or a bare view name), got: $other")
        }
        val inputs = asList(a.get("input-views")).map(_.toString)
        Action(a.getOrElse("name", actorName).toString, actor, outputView, inputs)
      case other => throw new IllegalArgumentException(
        s"job '${m.getOrElse("name", "job")}': each actions entry must be a map, got: $other")
    }
    Job(m.getOrElse("name", "job").toString, actions)
  }

  /** Flatten nested property maps to dot-notation keys. */
  def flatten(prefix: String, v: Any): Map[String, String] = v match {
    case m: Map[String @unchecked, Any @unchecked] =>
      m.flatMap { case (k, x) => flatten(if (prefix.isEmpty) k else s"$prefix.$k", x) }
    case l: List[_] => Map(prefix -> l.map(_.toString).mkString(","))
    case null => Map.empty
    case other => Map(prefix -> other.toString)
  }

  private def asMap(v: Option[Any]): Map[String, Any] = v match {
    case Some(m: Map[String @unchecked, Any @unchecked]) => m
    case _ => Map.empty
  }
  private def asList(v: Option[Any]): List[Any] = v match {
    case Some(l: List[_]) => l
    case _ => List.empty
  }
  /** Like [[asList]] but a present non-list value is an ERROR, not an empty
   *  result — a malformed `jobs:`/`actions:` section must fail loudly, not
   *  run zero actions "successfully". */
  private def asListStrict(v: Option[Any], what: String): List[Any] = v match {
    case None | Some(null) => List.empty
    case Some(l: List[_]) => l
    case Some(other) => throw new IllegalArgumentException(
      s"$what must be a list, got: ${other.getClass.getSimpleName}")
  }
}
