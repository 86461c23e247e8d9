package graft.sql

import graft.core.{Actor, JobContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import scala.collection.mutable
import scala.util.matching.Regex

/**
 * SQL statement engine shared by SqlReader / SqlTransformer / SqlActor /
 * SqlWriter: the framework's `set` / `setrun` / `${var}` dialect on top of
 * `session.sql`.
 *
 * Reference: common/SqlActor.scala. Semantics preserved:
 *  - `--` and non-hint `slash-star` comments stripped, `slash-star-plus hint`
 *    preserved (:162-174);
 *  - statements split on `;`, executed in order, LAST statement's DataFrame
 *    is the output (:69-72);
 *  - `set k = v` is a LAZY textual macro: `${k}` in later statements is
 *    spliced verbatim — a value may even be `(select ...)` used as a
 *    relation (:132-154, docs/sql-actor.md);
 *  - `setrun k = (select ...)` evaluates EAGERLY to a scalar via
 *    `session.sql(q).first().get(0)` (:79-85);
 *  - `${var}` resolves from (1) sql-variables set by this or earlier actors
 *    in the job, then (2) pipeline variables — matching the reference's
 *    cross-actor session-conf store (common/Actor.scala:83-109) with a plain
 *    context map;
 *  - referenced views are discovered by parsing the plan and walking
 *    UnresolvedRelation nodes (:94-109) so the runner can ref-count/cache.
 */
object SqlBase {

  sealed trait Stmt { def text: String }
  final case class SetStatement(name: String, value: String, text: String) extends Stmt
  final case class SetRunStatement(name: String, value: String, text: String) extends Stmt
  final case class SqlStatement(text: String) extends Stmt

  private val SetRe: Regex = """(?is)^\s*set\s+([A-Za-z_][\w.]*)\s*=\s*(.+)$""".r
  private val SetRunRe: Regex = """(?is)^\s*setrun\s+([A-Za-z_][\w.]*)\s*=\s*(.+)$""".r
  /** A `${var}` reference. */
  private[graft] val VarRe: Regex = """\$\{([^}]+)\}""".r
  /** reference: common/SqlActor.scala:181-184 */
  private val QueryRe: Regex = """(?is)^\s*(select|with)\b.*""".r
  /** reference: common/SqlActor.scala:191-194 */
  private val DmlRe: Regex = """(?is)^\s*(insert|update|merge|delete|with)\b.*""".r

  def isQuery(sql: String): Boolean = QueryRe.matches(stripComments(sql).trim)
  def isDml(sql: String): Boolean = DmlRe.matches(stripComments(sql).trim)

  /** Strip `--` line comments and non-hint block comments; keep string
   *  literals and `slash-star-plus ... star-slash` optimizer hints intact
   *  (reference: common/SqlActor.scala:162-174). */
  def stripComments(sql: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = sql.length
    var inSingle = false
    var inDouble = false
    var inBacktick = false
    while (i < n) {
      val c = sql.charAt(i)
      // inside '/" literals a backslash escapes the next char (Spark's
      // default escapedStringLiterals=false): 'it\'s -- x' is ONE literal
      // and must not end the string or start a comment
      if (inSingle) {
        if (c == '\\' && i + 1 < n) { out += c; out += sql.charAt(i + 1); i += 2 }
        else { out += c; if (c == '\'') inSingle = false; i += 1 }
      }
      else if (inDouble) {
        if (c == '\\' && i + 1 < n) { out += c; out += sql.charAt(i + 1); i += 2 }
        else { out += c; if (c == '"') inDouble = false; i += 1 }
      }
      else if (inBacktick) { out += c; if (c == '`') inBacktick = false; i += 1 }
      else c match {
        case '\'' => inSingle = true; out += c; i += 1
        case '"' => inDouble = true; out += c; i += 1
        case '`' => inBacktick = true; out += c; i += 1
        case '-' if i + 1 < n && sql.charAt(i + 1) == '-' =>
          while (i < n && sql.charAt(i) != '\n') i += 1
        case '/' if i + 2 < n && sql.charAt(i + 1) == '*' && sql.charAt(i + 2) == '+' =>
          val end = sql.indexOf("*/", i)
          val stop = if (end < 0) n else end + 2
          out ++= sql.substring(i, stop); i = stop
        case '/' if i + 1 < n && sql.charAt(i + 1) == '*' =>
          val end = sql.indexOf("*/", i)
          i = if (end < 0) n else end + 2
          out += ' '
        case _ => out += c; i += 1
      }
    }
    out.toString
  }

  /** Split on `;` outside quotes/backticks (backslash-escaped quotes inside
   *  '/" literals do not terminate the literal). */
  def splitStatements(sql: String): Seq[String] = {
    val stmts = mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inSingle = false; var inDouble = false; var inBacktick = false
    var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if ((inSingle || inDouble) && c == '\\' && i + 1 < sql.length) {
        cur += c; cur += sql.charAt(i + 1); i += 2
      } else {
        if (c == '\'' && !inDouble && !inBacktick) inSingle = !inSingle
        else if (c == '"' && !inSingle && !inBacktick) inDouble = !inDouble
        else if (c == '`' && !inSingle && !inDouble) inBacktick = !inBacktick
        if (c == ';' && !inSingle && !inDouble && !inBacktick) { stmts += cur.toString; cur.clear() }
        else cur += c
        i += 1
      }
    }
    if (cur.toString.trim.nonEmpty) stmts += cur.toString
    stmts.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** True when a leading '(' closes at the string's LAST char — i.e. the
   *  outer parens are one wrapping pair, not two adjacent groups like
   *  `(select ...) + (select ...)`. Quote-aware. */
  private def outerParensMatch(s: String): Boolean = {
    var depth = 0
    var inSingle = false; var inDouble = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((inSingle || inDouble) && c == '\\' && i + 1 < s.length) i += 1
      else if (inSingle) { if (c == '\'') inSingle = false }
      else if (inDouble) { if (c == '"') inDouble = false }
      else c match {
        case '\'' => inSingle = true
        case '"' => inDouble = true
        case '(' => depth += 1
        case ')' =>
          depth -= 1
          if (depth == 0 && i < s.length - 1) return false
        case _ => ()
      }
      i += 1
    }
    depth == 0
  }

  def classify(stmt: String): Stmt = stmt match {
    case SetRunRe(name, value) => SetRunStatement(name, value.trim, stmt)
    case SetRe(name, value) => SetStatement(name, value.trim, stmt)
    case _ => SqlStatement(stmt)
  }

  /** Substitute `${var}` occurrences; unknown variables left untouched so a
   *  later binding pass can still resolve them. */
  def resolveVariables(text: String, vars: Map[String, String]): String =
    VarRe.replaceAllIn(text, m =>
      vars.get(m.group(1)) match {
        case Some(v) => Regex.quoteReplacement(v)
        case None => Regex.quoteReplacement(m.matched)
      })

  /** Execute a `;`-separated script; returns the last SqlStatement's frame.
   *  Variable declarations are published into ctx.sqlVariables so later
   *  actors in the same job see them. */
  def execute(script: String, ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] = {
    val statements = splitStatements(stripComments(script)).map(classify)
    var result: Option[DataFrame] = None
    statements.foreach { s =>
      def vars: Map[String, String] = ctx.variables ++ ctx.sqlVariables
      s match {
        case SetStatement(name, value, _) =>
          // lazy textual macro: store the (variable-resolved) text itself
          ctx.setSqlVariable(name, resolveVariables(value, vars))
        case SetRunStatement(name, value, _) =>
          // eager: if value is a (sub)query, evaluate to scalar now
          val resolved = resolveVariables(value, vars)
          val inner = resolved.trim
          val unparen =
            // strip only a genuinely WRAPPING pair — `(select a) + (select b)`
            // starts and ends with parens but they are two groups
            if (inner.startsWith("(") && inner.endsWith(")") && outerParensMatch(inner))
              inner.substring(1, inner.length - 1)
            else inner
          val v =
            if (isQuery(unparen)) {
              val row = spark.sql(unparen).first()
              if (row.isNullAt(0)) "null" else row.get(0).toString
            } else unparen // store unparen'd either way: `setrun x = (5)`
                           // splices `5`, consistent with the query branch
          ctx.setSqlVariable(name, v)
        case SqlStatement(text) =>
          val resolved = resolveVariables(text, vars)
          result = Some(spark.sql(resolved))
      }
    }
    result
  }

  /** View names referenced by a query — found by parsing the plan and
   *  walking UnresolvedRelation nodes (reference: SqlActor.scala:94-109).
   *  Used for ref-count-driven auto-caching. */
  def referencedViews(sql: String, vars: Map[String, String])(implicit spark: SparkSession): Seq[String] = {
    val cleaned = resolveVariables(stripComments(sql), vars)
    splitStatements(cleaned).map(classify).flatMap {
      case SqlStatement(text) =>
        scala.util.Try {
          val plan = spark.sessionState.sqlParser.parsePlan(text)
          // CTE definitions are not plain children — walk them explicitly,
          // and drop the CTE alias names themselves (not real views)
          val cteNames = plan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
              w.cteRelations.map(_._1)
          }.flatten.toSet
          val ctePlans = plan.collect {
            case w: org.apache.spark.sql.catalyst.plans.logical.UnresolvedWith =>
              w.cteRelations.map(_._2)
          }.flatten
          (plan +: ctePlans).flatMap(_.collectWithSubqueries {
            case r: UnresolvedRelation => r.multipartIdentifier.mkString(".")
          }).filterNot(cteNames.contains)
        }.getOrElse(Seq.empty)
      case _ => Seq.empty
    }.distinct
  }
}

/** Shared base for the four SQL-flavored actors. */
abstract class SqlActorBase extends Actor {
  protected var sqlScript: String = ""

  override def init(properties: Map[String, String])(implicit spark: SparkSession): Unit = {
    sqlScript = properties.get("sqlString")
      .orElse(properties.get("sqlFile").map(f =>
        new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")))
      .getOrElse(throw new IllegalArgumentException(
        s"${getClass.getSimpleName}: one of sqlString/sqlFile is required"))
  }

  def sqlString(sql: String): this.type = { sqlScript = sql; this }

  override def inputViews: Seq[String] = Seq.empty // resolved dynamically in beforeRun

  protected var _dynamicInputs: Seq[String] = Seq.empty

  override def beforeRun(ctx: JobContext)(implicit spark: SparkSession): Unit = {
    _dynamicInputs = SqlBase.referencedViews(sqlScript, ctx.variables ++ ctx.sqlVariables)
      .filter(ctx.viewExists)
    _dynamicInputs.foreach(ctx.referenceView)
  }

  override def run(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] =
    SqlBase.execute(sqlScript, ctx)
}

/** Executes one-or-more SQL statements; output = last statement's frame
 *  (reference: transform/SqlTransformer.scala:8). */
class SqlTransformer extends SqlActorBase
/** Alias of SqlTransformer (reference: common/SqlActor.scala). */
class SqlActor extends SqlActorBase

/** A "reader" that must be a SELECT/CTE query
 *  (reference: source/SqlReader.scala:14-21). */
class SqlReader extends SqlActorBase {
  override def run(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] = {
    // gate the RESOLVED text — a statement supplied via a runtime variable
    // ("${stmt}") classifies correctly only after substitution
    val resolved = SqlBase.resolveVariables(
      SqlBase.stripComments(sqlScript), ctx.variables ++ ctx.sqlVariables)
    require(SqlBase.splitStatements(resolved)
      .map(SqlBase.classify).collect { case SqlBase.SqlStatement(t) => t }
      .forall(SqlBase.isQuery), "SqlReader requires SELECT/CTE statements")
    super.run(ctx)
  }
}

/** A "writer" that must be DML (insert/update/merge/delete/with..insert)
 *  (reference: sink/SqlWriter.scala:14-21). */
class SqlWriter extends SqlActorBase {
  override def run(ctx: JobContext)(implicit spark: SparkSession): Option[DataFrame] = {
    val resolved = SqlBase.resolveVariables(
      SqlBase.stripComments(sqlScript), ctx.variables ++ ctx.sqlVariables)
    require(SqlBase.splitStatements(resolved)
      .map(SqlBase.classify).collect { case SqlBase.SqlStatement(t) => t }
      .forall(SqlBase.isDml), "SqlWriter requires DML statements")
    super.run(ctx)
    None // writers publish no view
  }
}
