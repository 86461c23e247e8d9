package graft.validation

import graft.core.{Actor, JobContext}
import graft.utils.LocalFrames
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeRow}
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.types.StructType

/**
 * Validate a view's schema against a DDL declaration.
 *
 * Reference: validation/SchemaValidator.scala:46-93. Preserved semantics:
 *  - type `match`: names+dataTypes must be equal; `strict` mode compares
 *    positionally, `default` compares name-sorted (:52-71);
 *  - type `adapt`: project to the target schema, filling missing columns
 *    with typed nulls (:73-87);
 *  - action `error` throws, `ignore` warns (:105-107).
 */
class SchemaValidator extends Actor {
  protected var view: String = ""
  protected var ddl: String = ""
  protected var mode: String = "match"    // match | adapt
  protected var matchMode: String = "default" // default | strict
  protected var action: String = "error"  // error | ignore

  override def init(properties: Map[String, String])(implicit spark: SparkSession): Unit = {
    view = require_(properties, "view")
    ddl = properties.get("ddlSchemaString").orElse(properties.get("ddlSchemaFile").map(f =>
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")))
      .getOrElse(throw new IllegalArgumentException("SchemaValidator: ddlSchemaString/ddlSchemaFile required"))
    properties.get("type").foreach { v =>
      require(Seq("match", "adapt").contains(v), s"bad type: $v"); mode = v
    }
    properties.get("mode").foreach { v =>
      require(Seq("default", "strict").contains(v), s"bad mode: $v"); matchMode = v
    }
    properties.get("action").foreach { v =>
      require(Seq("error", "ignore").contains(v), s"bad action: $v"); action = v
    }
  }

  def sourceView(v: String): this.type = { view = v; this }
  def ddlSchemaString(s: String): this.type = { ddl = s; this }
  def validationType(t: String): this.type = { mode = t; this }
  def withMatchMode(m: String): this.type = { matchMode = m; this }
  def onMismatch(a: String): this.type = { action = a; this }

  override def inputViews: Seq[String] = if (view.nonEmpty) Seq(view) else Seq.empty

  override def run(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] = {
    val df = ctx.getView(view)
    val target = StructType.fromDDL(ddl)
    mode match {
      case "match" =>
        val actual = df.schema
        val (a, t) =
          if (matchMode == "strict") (actual.fields.toSeq, target.fields.toSeq)
          else (actual.fields.sortBy(_.name).toSeq, target.fields.sortBy(_.name).toSeq)
        val ok = a.length == t.length && a.zip(t).forall { case (x, y) =>
          x.name == y.name && x.dataType == y.dataType
        }
        if (!ok) {
          val msg = s"schema mismatch for view '$view': actual=${actual.toDDL} expected=${target.toDDL}"
          if (action == "error") throw new IllegalStateException(msg)
          else org.apache.log4j.Logger.getLogger(getClass).warn(msg)
        }
        Some(df)
      case "adapt" =>
        // resolve names under the session's case sensitivity — a strict
        // contains() would null out a column differing only by case even
        // though col(name) resolves it fine
        val caseSensitive = spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
        def has(name: String): Boolean =
          if (caseSensitive) df.columns.contains(name)
          else df.columns.exists(_.equalsIgnoreCase(name))
        val cols = target.fields.map { f =>
          if (has(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }
        Some(df.select(cols.toSeq: _*))
    }
  }
}

/**
 * Split rows by a validity predicate; invalid rows can fail the run, be
 * staged to a uri, or be dropped. Returns the valid rows.
 *
 * Reference: validation/SqlDataValidator.scala:36-66 (filter + negation
 * :42-46, actions error/staging/ignore :47-58).
 *
 * `error` and `staging` read a batch view once: one bounded collect of
 * the view with its validity flag ([[graft.utils.LocalFrames.collect]]).
 * Within the bounds the invalid rows are counted (or staged) from the
 * rows read, and the valid rows go downstream as a one-partition local
 * frame, so the writer re-runs nothing upstream and writes one file per
 * output as the lazy path does for a small view. The bounds are
 * [[graft.utils.LocalFrames.MaxRows]] rows and the session's
 * `spark.sql.autoBroadcastJoinThreshold` bytes (the size it already holds
 * on the driver for a broadcast; -1 turns the local read off). Over
 * either bound the view takes the lazy path: the invalid side is counted
 * (or staged) by its own action and the downstream reads the view again.
 * `ignore` and streaming views always take the lazy path.
 */
class SqlDataValidator extends Actor {
  protected var view: String = ""
  protected var validWhere: Option[String] = None
  protected var invalidWhere: Option[String] = None
  protected var action: String = "error"  // error | staging | ignore
  protected var stagingUri: Option[String] = None
  protected var stagingFormat: String = "csv"

  override def init(properties: Map[String, String])(implicit spark: SparkSession): Unit = {
    view = require_(properties, "view")
    validWhere = properties.get("validWhere")
    invalidWhere = properties.get("invalidWhere")
    require(validWhere.isDefined || invalidWhere.isDefined,
      "SqlDataValidator: one of validWhere/invalidWhere required")
    properties.get("action").foreach { v =>
      require(Seq("error", "staging", "ignore").contains(v), s"bad action: $v"); action = v
    }
    stagingUri = properties.get("stagingUri")
    // action=staging with no uri would silently DISCARD the invalid rows
    // (neither staged nor reported) — a misconfiguration, not a choice
    require(action != "staging" || stagingUri.isDefined,
      "SqlDataValidator: action=staging requires stagingUri")
    properties.get("stagingFormat").foreach { f =>
      require(Seq("csv", "json", "parquet", "avro").contains(f), s"bad staging format: $f")
      stagingFormat = f
    }
  }

  def sourceView(v: String): this.type = { view = v; this }
  def whereValid(p: String): this.type = { validWhere = Some(p); this }
  def whereInvalid(p: String): this.type = { invalidWhere = Some(p); this }
  def onInvalid(a: String): this.type = { action = a; this }
  def stageTo(uri: String, format: String = "csv"): this.type = {
    stagingUri = Some(uri); stagingFormat = format; this
  }

  override def inputViews: Seq[String] = if (view.nonEmpty) Seq(view) else Seq.empty

  override def run(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] = {
    val df = ctx.getView(view)
    val validPred = validWhere.getOrElse(s"not (${invalidWhere.get})")
    // null-safe split: a row where the predicate evaluates to NULL (e.g.
    // `amount > 0` with NULL amount) counts as INVALID, not dropped —
    // coalesce(p, false) makes valid ∪ invalid = all rows.
    val isValid = s"coalesce(($validPred), false)"
    def onInvalid(invalid: => DataFrame, count: => Long): Unit = action match {
      case "error" =>
        val n = count
        if (n > 0) throw new IllegalStateException(
          s"SqlDataValidator: $n invalid row(s) in view '$view' (predicate: $validPred)")
      case "staging" =>
        val uri = stagingUri.getOrElse(throw new IllegalStateException(
          "SqlDataValidator: action=staging requires stagingUri"))
        invalid.write.mode("append").format(stagingFormat)
          .option("header", "true").save(uri)
      case "ignore" => ()
    }
    (if (action == "ignore" || df.isStreaming) None else readLocal(df, isValid)) match {
      case Some((valid, invalid)) =>
        def frame(rows: Seq[InternalRow]) = LocalFrames.frame(spark, df.schema, rows).coalesce(1)
        onInvalid(frame(invalid), invalid.size.toLong)
        Some(frame(valid))
      case None =>
        val invalid = df.filter(s"not $isValid")
        onInvalid(invalid, invalid.count())
        Some(df.filter(isValid))
    }
  }

  /** `df`'s (valid, invalid) rows from one bounded read of `df` with the
   *  flag `isValid` as a last column, or None when the view is over
   *  [[LocalFrames.MaxRows]] rows or the broadcast threshold's bytes. The
   *  collect's row limit keeps the read within the threshold at the
   *  schema's default row size, so a view with many columns stops at
   *  the limit, well below `spark.driver.maxResultSize`; the rows read
   *  are then checked by their actual size. */
  private def readLocal(df: DataFrame, isValid: String)(
      implicit spark: SparkSession): Option[(Seq[InternalRow], Seq[InternalRow])] = {
    val maxBytes = GraftSqlBridge.broadcastThreshold(spark)
    val flagged = df.select(col("*"), expr(isValid))
    val rowBytes = flagged.schema.defaultSize.toLong
    val flag = df.schema.length
    def size(r: InternalRow): Long = r match {
      case u: UnsafeRow => u.getSizeInBytes.toLong
      case _ => rowBytes
    }
    LocalFrames.collect(flagged, math.min(LocalFrames.MaxRows, maxBytes / rowBytes))
      .filter(_.iterator.map(size).sum <= maxBytes)
      .map { rows =>
        val types = df.schema.fields.map(_.dataType)
        def unflagged(r: InternalRow): InternalRow =
          new GenericInternalRow(Array.tabulate[Any](flag)(i => r.get(i, types(i))))
        val (valid, invalid) = rows.toSeq.partition(_.getBoolean(flag))
        (valid.map(unflagged), invalid.map(unflagged))
      }
  }
}
