package graft.source

import graft.core.{Actor, JobContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, input_file_name, lit}
import org.apache.spark.sql.types.StructType

/**
 * Batch file reader for csv/json/parquet/avro/orc.
 *
 * Reference: source/FileReader.scala:73-86 + common/FileReadActor.scala.
 * Preserved: format whitelist (:50), multi-URI with configurable separator
 * (:24-25,78-81), fallback-to-empty-frame on read failure when a ddl schema
 * or fallback SQL is given (:92-102), optional per-file row-count metrics
 * via groupBy(input_file_name) (:109-119).
 *
 * Without a ddl schema, a read of plain files (no directory, no glob)
 * reuses the schema inferred by an earlier read of the same files (the
 * memo of the companion object).
 */
class FileReader extends Actor {
  protected var format: String = "parquet"
  protected var readOptions: Map[String, String] = Map.empty
  protected var ddlSchema: Option[StructType] = None
  protected var uris: Seq[String] = Seq.empty
  protected var multiUriSeparator: String = ","
  protected var fallbackRead: Boolean = false
  protected var perFileMetrics: Boolean = false

  private val allowedFormats = Set("csv", "json", "parquet", "avro", "orc", "text")

  override def init(properties: Map[String, String])(implicit spark: SparkSession): Unit = {
    properties.get("format").foreach(f => sourceFormat(f))
    readOptions ++= properties.collect { case (k, v) if k.startsWith("options.") => k.stripPrefix("options.") -> v }
    properties.get("ddlSchemaString").foreach(s => ddlSchema = Some(StructType.fromDDL(s)))
    properties.get("ddlSchemaFile").foreach { f =>
      ddlSchema = Some(StructType.fromDDL(
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")))
    }
    properties.get("multiUriSeparator").foreach(multiUriSeparator = _)
    properties.get("fileUri").foreach(u => uris = u.split(java.util.regex.Pattern.quote(multiUriSeparator)).toSeq)
    properties.get("fallbackRead").foreach(v => fallbackRead = v.toBoolean)
    properties.get("perFileMetrics").foreach(v => perFileMetrics = v.toBoolean)
  }

  // fluent API (reference: common/FileReadActor.scala:60-93)
  def sourceFormat(f: String): this.type = {
    require(allowedFormats.contains(f.toLowerCase), s"unsupported file format: $f")
    format = f.toLowerCase; this
  }
  def readOption(k: String, v: String): this.type = { readOptions += (k -> v); this }
  def readOptions(o: Map[String, String]): this.type = { readOptions ++= o; this }
  def ddlSchemaString(ddl: String): this.type = { ddlSchema = Some(StructType.fromDDL(ddl)); this }
  def fileUri(u: String*): this.type = { uris = u; this }

  override def run(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] = {
    require(uris.nonEmpty, "FileReader: fileUri is required")
    val reader0 = spark.read.format(format).options(readOptions)
    val memoKey = if (ddlSchema.isEmpty) FileReader.schemaKey(format, readOptions, uris) else None
    val reader = ddlSchema.orElse(memoKey.flatMap(FileReader.inferredSchema))
      .fold(reader0)(reader0.schema)
    val df =
      try {
        val loaded = reader.load(uris: _*)
        memoKey.foreach(FileReader.remember(_, loaded.schema))
        loaded
      } catch {
        case e: Throwable if fallbackRead && ddlSchema.isDefined =>
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ddlSchema.get)
        case e: Throwable => throw e
      }
    if (perFileMetrics) {
      val counts = df.groupBy(input_file_name().as("file")).agg(count(lit(1)).as("rows"))
      registerView("__file_metrics", counts)
    }
    Some(df)
  }
}

object FileReader {

  /** What an inferred schema depends on: the format, the read options,
   *  each file's (path, length, modification time) and the session's
   *  `spark.sql.*` confs. */
  private final case class SchemaKey(format: String, options: Seq[(String, String)],
                             files: Seq[(String, Long, Long)], sqlConfs: Seq[(String, String)])

  private val MaxSchemas = 256

  /** Bounded, least-recently-used, shared by every session of the JVM. */
  private val schemas = new java.util.LinkedHashMap[SchemaKey, StructType](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[SchemaKey, StructType]): Boolean =
      size > MaxSchemas
  }

  /** The memo key of a read, or None when a uri is not one existing
   *  plain file: a directory or a glob can gain files that no status
   *  read here would see. */
  private def schemaKey(format: String, options: Map[String, String], uris: Seq[String])(
      implicit spark: SparkSession): Option[SchemaKey] =
    if (uris.exists(_.exists("*?[]{}\\".contains(_)))) None
    else scala.util.Try {
      val hadoopConf = spark.sparkContext.hadoopConfiguration
      uris.map { u =>
        val path = new org.apache.hadoop.fs.Path(u)
        path.getFileSystem(hadoopConf).getFileStatus(path)
      }
    }.toOption.filter(_.forall(_.isFile)).map { statuses =>
      SchemaKey(format, options.toSeq.sorted,
        statuses.map(st => (st.getPath.toString, st.getLen, st.getModificationTime)),
        spark.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sorted)
    }

  private def inferredSchema(key: SchemaKey): Option[StructType] =
    schemas.synchronized(Option(schemas.get(key)))

  private def remember(key: SchemaKey, schema: StructType): Unit =
    schemas.synchronized(schemas.put(key, schema))
}

/** Load a catalog table + optional filter predicate
 *  (reference: source/SqlTableReader.scala:24-31). */
class SqlTableReader extends Actor {
  private var table: String = ""
  private var wherePredicate: Option[String] = None

  override def init(properties: Map[String, String])(implicit spark: SparkSession): Unit = {
    table = require_(properties, "table")
    wherePredicate = properties.get("where")
  }
  def tableName(t: String): this.type = { table = t; this }
  def where(p: String): this.type = { wherePredicate = Some(p); this }

  override def inputViews: Seq[String] = if (table.nonEmpty && !table.contains(".")) Seq(table) else Seq.empty

  override def run(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] = {
    val df = spark.table(table)
    Some(wherePredicate.fold(df)(df.filter))
  }
}
