package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew-handling comparison: plain sort-merge join vs AQE skew-split vs
  * manual salted join on a planted hot key.
  * sbt "Test/runMain graft.ProfileSkew [hotRows] [salt]"
  * Numbers feed the PLANS.md skew note. */
object ProfileSkew {
  def main(args: Array[String]): Unit = {
    val hotRows = args.headOption.map(_.toLong).getOrElse(4000000L)
    val salt = args.lift(1).map(_.toInt).getOrElse(16)
    val spark = Sessions.local(extra = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1"))

    // hot key 0 carries `hotRows`; 100 cold keys share the same amount
    def left(s: SparkSession): DataFrame = s.range(0, 2 * hotRows).selectExpr(
      s"CASE WHEN id < ${hotRows}L THEN 0 ELSE id % 100 END AS k",
      "md5(CAST(id AS STRING)) AS pad")
    def right(s: SparkSession): DataFrame =
      s.range(0, 100).selectExpr("id AS k", "md5(CAST(id AS STRING)) AS w")

    def time(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"$label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s  (rows=$n)")
    }

    import org.apache.spark.sql.GraftSqlBridge.clonedSession
    // warm the source generation path once
    left(spark).agg(count(lit(1))).collect()

    val off = clonedSession(spark, "spark.sql.adaptive.skewJoin.enabled" -> "false")
    time("plain SMJ (skewJoin off)") {
      left(off).join(right(off), "k")
        .agg(count(lit(1))).collect().head.getLong(0)
    }
    val on = clonedSession(spark,
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8MB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8MB")
    time("AQE skew-split") {
      left(on).join(right(on), "k")
        .agg(count(lit(1))).collect().head.getLong(0)
    }
    time(s"saltedJoin (salt=$salt)") {
      graft.utils.DataframeHelper.saltedJoin(left(spark), right(spark), Seq("k"), salt)
        .agg(count(lit(1))).collect().head.getLong(0)
    }
    spark.stop()
  }
}
