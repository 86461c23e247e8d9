package graft.plans

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, GlobalLimit, Join, LocalLimit, LogicalPlan, Project, Sort, Window}
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * One audit finding over a query plan. `severity` is one of
 * `error` (will not survive a scale-up: unbounded all-pairs join,
 * whole-input single task), `warn` (scale smell worth a review:
 * bounded-cardinality window keys, filters that missed the scan), or
 * `info` (plan facts: shuffle count, scan width, reviewed-bounded
 * broadcast frames).
 */
case class PlanFinding(rule: String, severity: String, node: String, detail: String)

/**
 * Runtime plan audit — the 100 TB plan-shape review as a library.
 *
 * The repo's test suite guards every CATALOG query against the plan
 * shapes that die at scale (cartesian joins, partitionless windows,
 * windows partitioned only by bounded-cardinality keys, lost filter
 * pushdown). Users compose their OWN pipelines out of these actors,
 * and their plans get no such review — this object is the same audit
 * as a product feature: point it at any DataFrame (or view, via
 * [[PlanAuditActor]]) and get back typed findings, before the job
 * burns a cluster-day discovering them empirically.
 *
 * Detection is structural, not name-based, and uses Catalyst's own
 * cardinality bound ([[LogicalPlan.maxRows]]) to separate the fatal
 * shapes from the reviewed-bounded ones: a cross join against a
 * `limit(16)` centroid frame or a grand-total aggregate (maxRows 1)
 * is the broadcast-frame idiom this codebase uses deliberately — it
 * reports as `info`, while the same node shape with both sides
 * unbounded is an `error`. That mirrors exactly how the human review
 * in PlanSpec adjudicates the shapes, so the actor's `failOn: error`
 * default blocks what the review would block and passes what it
 * allowlists.
 *
 * No reference counterpart — the reference executes what it is given
 * (e.g. its SqlActor runs the statement verbatim,
 * src/main/scala/com/qwshen/etl/common/SqlActor.scala:110); plan
 * introspection before execution is a Spark-native capability.
 */
object PlanAudit {

  /** Keys whose domain is small and data-independent: a window
   * partitioned ONLY by these puts a constant fraction of the corpus
   * in one task. Extend per-deployment via the `lowCardKeys` param. */
  val DefaultLowCardKeys: Set[String] = Set(
    "source", "lang", "language", "split", "band", "bucket", "shard",
    "event_type", "label", "salt", "day", "hour", "year", "month")

  /** A side of a join / window input is "bounded" when Catalyst can
   * prove its row count <= this (limits, grand-total aggregates). */
  val DefaultBoundedRows: Long = 4096L

  private val severityRank = Map("info" -> 0, "warn" -> 1, "error" -> 2)

  def atLeast(severity: String, threshold: String): Boolean =
    severityRank.getOrElse(severity, 0) >= severityRank.getOrElse(threshold, 3)

  /** Audit a DataFrame's plan. Pure inspection — triggers no job.
   * Streaming frames are audited on the ANALYZED logical plan (their
   * optimized/physical plans only exist inside a started query; even
   * building them trips the batch-execution check), so the logical
   * rules fire and the physical scan facts are skipped.
   *
   * Only findings at or above `threshold` are returned, and a pass that
   * cannot reach it does not run: the physical pass reports `info` and
   * `warn` only, so an `error` threshold skips rendering the formatted
   * explain. */
  def audit(df: DataFrame,
            lowCardKeys: Set[String] = DefaultLowCardKeys,
            boundedRows: Long = DefaultBoundedRows,
            threshold: String = "info"): Seq[PlanFinding] = {
    val findings =
      if (df.isStreaming)
        logicalFindings(df.queryExecution.analyzed, lowCardKeys, boundedRows)
      else
        logicalFindings(df.queryExecution.optimizedPlan, lowCardKeys, boundedRows) ++
          (if (atLeast("warn", threshold))
             physicalFindings(df.queryExecution.explainString(ExplainMode.fromString("formatted")))
           else Nil)
    findings.filter(f => atLeast(f.severity, threshold))
  }

  private def bounded(p: LogicalPlan, boundedRows: Long): Boolean =
    p.maxRows.exists(_ <= boundedRows)

  private def hasEquiConjunct(cond: Expression, l: LogicalPlan, r: LogicalPlan): Boolean = {
    val leftIds = l.outputSet
    val rightIds = r.outputSet
    def splitsAcross(a: Expression, b: Expression): Boolean =
      (a.references.subsetOf(leftIds) && b.references.subsetOf(rightIds)) ||
        (a.references.subsetOf(rightIds) && b.references.subsetOf(leftIds))
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(a, b) => conjuncts(a) ++ conjuncts(b)
      case other => Seq(other)
    }
    conjuncts(cond).exists {
      case EqualTo(a, b) => splitsAcross(a, b)
      case EqualNullSafe(a, b) => splitsAcross(a, b)
      case _ => false
    }
  }

  private def logicalFindings(plan: LogicalPlan, lowCardKeys: Set[String],
                              boundedRows: Long): Seq[PlanFinding] = {
    val out = Seq.newBuilder[PlanFinding]

    plan.foreach {
      case j: Join =>
        val (l, r, joinType, cond) = (j.left, j.right, j.joinType, j.condition)
        val isCross = cond.isEmpty || joinType == Cross
        val nonEqui = cond.nonEmpty && !hasEquiConjunct(cond.get, l, r)
        val eitherBounded = bounded(l, boundedRows) || bounded(r, boundedRows)
        if (isCross && !eitherBounded)
          out += PlanFinding("cartesian-join", "error", j.nodeName,
            "cross join with BOTH sides unbounded: |L|x|R| pairs at scale. " +
              "Key the join, or bound one side (limit / grand-total aggregate) " +
              "so it becomes a broadcast constant frame.")
        else if (isCross)
          out += PlanFinding("bounded-cross-join", "info", j.nodeName,
            s"cross join against a side Catalyst bounds to <= $boundedRows rows " +
              "(broadcast constant-frame idiom) — reviewed-bounded, fine at scale.")
        else if (nonEqui && !eitherBounded && joinType != Inner)
          out += PlanFinding("non-equi-join", "error", j.nodeName,
            "non-inner join with no equality conjunct executes as a nested loop " +
              "over unbounded sides. Add an equi key (e.g. a bucketed time/range " +
              "prejoin) to make it a hash/sort-merge join.")
        else if (nonEqui && !eitherBounded)
          out += PlanFinding("non-equi-join", "warn", j.nodeName,
            "inner join with only range/inequality conjuncts: nested-loop " +
              "execution. Compose with an equi bucket key (as-of/range-join " +
              "pattern) to bound candidates.")
      case w: Window if taskOffsetsShape(w) =>
        out += PlanFinding("task-offsets-window", "info", w.nodeName,
          "window over a per-task (__pid_) aggregate: input is one row per " +
            "TASK, bounded by cluster size not data (the " +
            "perGroupSequence/perGroupRunningSum offsets-frame idiom).")
      case w: Window if w.partitionSpec.isEmpty =>
        if (bounded(w.child, boundedRows))
          out += PlanFinding("partitionless-window", "info", w.nodeName,
            s"window with no PARTITION BY over an input bounded to <= $boundedRows " +
              "rows — single small task, fine.")
        else
          out += PlanFinding("partitionless-window", "error", w.nodeName,
            "window with no PARTITION BY: the ENTIRE input flows through one " +
              "task. Use perGroupSequence/perGroupRunningSum (windowless forms) " +
              "or zipWithIndex.")
      case w: Window =>
        val refs = w.partitionSpec.flatMap(_.references.map(_.name.toLowerCase))
        // Catalog column stats (ANALYZE TABLE ... FOR COLUMNS) beat the
        // name heuristic when present — but the two directions need
        // different evidence. RAISING on the product of per-key distinct
        // counts is sound (the observed combination count never exceeds
        // the product, so product <= boundedRows proves the group count
        // bounded). SUPPRESSING on the product is NOT: for correlated
        // keys the independence product overestimates the true
        // combination count, so only a SINGLE key whose own
        // distinctCount exceeds boundedRows (a lower bound on the
        // combination count) may silence the name heuristic.
        val keyStats: Option[(BigInt, BigInt)] = scala.util.Try {
          val st = w.child.stats.attributeStats
          val counts = w.partitionSpec.flatMap(_.references)
            .map(a => st.find(_._1.exprId == a.exprId).flatMap(_._2.distinctCount))
          if (counts.nonEmpty && counts.forall(_.isDefined)) {
            val cs = counts.flatten.map(c => c.max(BigInt(1)))
            Some((cs.product, cs.max))
          } else None
        }.toOption.flatten
        if (!bounded(w.child, boundedRows)) keyStats match {
          case Some((product, _)) if product <= boundedRows =>
            out += PlanFinding("bounded-key-window", "warn", w.nodeName,
              s"window partition keys have <= $product distinct combination(s) by " +
                "catalog column stats: each key group is a constant fraction " +
                "of the data in ONE task. Add a high-cardinality key or use " +
                "the windowless per-group helpers.")
          case Some((_, maxSingle)) if maxSingle > BigInt(boundedRows) =>
            // one key alone proves high cardinality — name heuristic moot
          case _ =>
            if (refs.nonEmpty && refs.forall(lowCardKeys.map(_.toLowerCase)))
              out += PlanFinding("bounded-key-window", "warn", w.nodeName,
                s"window partitioned ONLY by bounded-cardinality keys " +
                  s"(${refs.distinct.mkString(", ")}): each key group is a constant " +
                  "fraction of the data in ONE task. Add a high-cardinality key or " +
                  "use the windowless per-group helpers.")
        }
      case s: Sort if s.global =>
        val underLimit = plan.exists {
          case gl: GlobalLimit =>
            (gl.child match { case ll: LocalLimit => ll.child; case c => c }) eq s
          case ll: LocalLimit => ll.child eq s
          case _ => false
        }
        if (!underLimit && !bounded(s.child, boundedRows))
          out += PlanFinding("global-sort", "warn", s.nodeName,
            "global ORDER BY not under a LIMIT: a full range-partitioned sort " +
              "of the input. Fine for final ordered output; for top-k use " +
              "limit (TakeOrderedAndProject), for layout use " +
              "repartitionByRange + sortWithinPartitions.")
      case _ =>
    }
    out.result()
  }

  /** The offsets-frame idiom of the windowless per-group helpers: a
   * window whose input aggregates by `__pid_` (one row per task). Its
   * cardinality is the CLUSTER size, not the data size — Catalyst's
   * maxRows cannot prove that, so it is recognized structurally: every
   * grouping key not already in the window's own partition spec must be
   * the task id. */
  @annotation.tailrec
  private def skipUnary(p: LogicalPlan): LogicalPlan = p match {
    case pr: Project => skipUnary(pr.child)
    case f: Filter => skipUnary(f.child)
    case other => other
  }

  private def taskOffsetsShape(w: Window): Boolean = skipUnary(w.child) match {
    case a: Aggregate =>
      val g = a.groupingExpressions.flatMap(_.references.map(_.name)).toSet
      val pspec = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
      g.contains("__pid_") && (g -- pspec - "__pid_").isEmpty
    case _ => false
  }

  /** Scan-level facts parsed from the formatted physical explain: filter
   * pushdown, scan width, shuffle count. String-level on purpose — it
   * sees exactly what `.explain("formatted")` shows a human reviewer,
   * AQE or not. */
  private[graft] def physicalFindings(formatted: String): Seq[PlanFinding] = {
    val out = Seq.newBuilder[PlanFinding]
    val shuffles = formatted.linesIterator.count(l =>
      l.matches("""^\(\d+\) Exchange.*"""))
    out += PlanFinding("shuffle-count", "info", "Exchange",
      s"$shuffles shuffle exchange node(s) in the physical plan")

    // per-scan detail blocks: "(N) Scan parquet ..." followed by its
    // Output/DataFilters/PushedFilters/ReadSchema attribute lines
    val lines = formatted.linesIterator.toVector
    var i = 0
    while (i < lines.length) {
      val l = lines(i)
      if (l.matches("""^\(\d+\) (Batch)?Scan .*""")) {
        val name = l.replaceAll("""^\(\d+\) """, "").trim
        val block = lines.drop(i + 1).takeWhile(x => x.nonEmpty && !x.matches("""^\(\d+\).*"""))
        def field(k: String) = block.find(_.trim.startsWith(k + ":")).map(_.split(":", 2)(1).trim)
        val pushed = field("PushedFilters")
        val dataF = field("DataFilters")
        if (pushed.contains("[]") && dataF.exists(d => d.nonEmpty && d != "[]"))
          out += PlanFinding("unpushed-filters", "warn", name,
            s"scan has data filters ${dataF.get} but PushedFilters is empty — " +
              "the format/expression blocks pushdown; every file is read in full " +
              "before filtering.")
        field("ReadSchema").foreach { rs =>
          val nCols = rs.count(_ == ':') // struct<a:int,b:string,...>
          out += PlanFinding("scan-width", "info", name, s"scan reads $nCols column(s)")
        }
      }
      i += 1
    }
    out.result()
  }

  /** Findings as a DataFrame, for sinking audit reports from a pipeline. */
  def toDf(findings: Seq[PlanFinding])(implicit spark: SparkSession): DataFrame = {
    val schema = StructType(Seq(
      StructField("rule", StringType, nullable = false),
      StructField("severity", StringType, nullable = false),
      StructField("node", StringType, nullable = false),
      StructField("detail", StringType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        findings.map(f => Row(f.rule, f.severity, f.node, f.detail)), 1),
      schema)
  }
}
