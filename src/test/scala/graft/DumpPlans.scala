package graft

/** Dump `.explain("formatted")` for every declared catalog query to a
 *  directory (default plans/r16), one `<name>_<suffix>.txt` per query —
 *  the optimization round's plan-evidence deliverable. Builds Bench's
 *  session ([[Sessions.local]]) so the captured plans are the benched
 *  plans (AQE initial plan; the bench's executed plan differs only by
 *  the AQE-final exchange coalescing). The committed `plans/r16` dumps
 *  were taken at 32 cores: a re-dump compared against them needs
 *  `SPARK_GRAFT_CPUS=32`, or every exchange's partition count differs.
 *
 *  Streaming gate queries execute their drain and return the drained
 *  memory-sink result, so their dump shows the post-drain batch plan;
 *  the streaming plan itself is only materialized inside the started
 *  query. They are annotated as such in the header.
 *
 *  Usage: sbt "Test/runMain graft.DumpPlans [sfDir] [outDir] [suffix] [only,csv]"
 */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.drop(1).headOption.getOrElse("plans/r16")
    val suffix = args.drop(2).headOption.getOrElse("before")
    val only = args.drop(3).headOption.map(_.split(",").map(_.trim).toSet)
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    try Queries.prepareFixtures(spark, sfDir) catch { case _: Throwable => () }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    selected.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        // streaming set derived from naming convention, not broad number
        // ranges (the old q7x..q11x regex wrongly annotated batch queries
        // whose plan carries a LocalTableScan, e.g. q98's observe result)
        val isStreaming = name.contains("stream") ||
          name.contains("_tws_") || name == "q107_event_ttl"
        val drained =
          if (plan.contains("LocalTableScan") && isStreaming)
            "NOTE: streaming gate — this is the post-drain batch plan of the memory-sink result.\n"
          else ""
        val header = s"== $name @ $sfDir ($suffix) ==\n$drained"
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
          (header + plan).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        // one summary line per query for the mechanical audit
        val nExch = "Exchange".r.findAllIn(plan).size
        val joins = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")
          .map(j => j -> s"$j".r.findAllIn(plan).size).filter(_._2 > 0)
          .map { case (j, c) => s"$j=$c" }.mkString(",")
        println(s"[plans] $name exchanges=$nExch joins=[$joins]")
      } catch { case e: Throwable =>
        println(s"[plans] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      Sessions.dropStorage(spark, blocking = false)
    }
    spark.stop()
  }
}
