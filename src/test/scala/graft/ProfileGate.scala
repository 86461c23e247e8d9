package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-level timing of the q115/q116 streaming soft-dedup gate:
 *    A  artifact reads (resolution labels + index signatures)
 *    S  stream drain (foreachBatch ingest: sigs + 3 LSH legs + budget)
 *    U  updatedLabels (resolveUpdateFromEdges over accumulated edges)
 *    W  weights + count (softDedupWeights over the union ids)
 *  sbt "Test/runMain graft.ProfileGate [cap]" (cap 0 = q115, 4 = q116) */
object ProfileGate {
  def main(args: Array[String]): Unit = {
    val cap = args.headOption.map(_.toInt).getOrElse(0)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def onePass(dir: String, tag: String): Unit = {
      def t[A](name: String)(f: => A): A = {
        val t0 = System.nanoTime()
        val r = f
        println(f"[gate] $tag $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
        r
      }
      val (labels, idxSigs) = t("A_artifacts") {
        val l = Queries.resolvedLabels(spark, dir); l.count()
        val s = Queries.corpusSignatures(spark, dir); s.count()
        (l, s)
      }
      val schema = spark.read.parquet(s"$dir/documents.parquet").schema
      val b0 = spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .select(col("doc_id"), col("text")).filter(col("doc_id") % 10 === 0)
      val batch = b0.select((col("doc_id") + 600000L).as("doc_id"), col("text"))
        .unionAll(b0.select((col("doc_id") + 700000L).as("doc_id"),
          concat(col("text"), lit(" dup dup dup dup")).as("text")))
        .unionAll(b0.select((col("doc_id") + 800000L).as("doc_id"),
          reverse(col("text")).as("text")))
        .unionAll(b0.select((col("doc_id") + 900000L).as("doc_id"),
          concat(reverse(col("text")), lit(" qq zz qq zz")).as("text")))
      val gate = new graft.ml.SoftDedupGate(labels, idxSigs,
        maxCandidatesPerDoc = cap)
      val scoped = org.apache.spark.sql.GraftSqlBridge.clonedSession(spark,
        "spark.sql.shuffle.partitions" -> graft.ml.Dedup.SmallLoopShuffle)
      t("S_stream_drain") {
        val q = org.apache.spark.sql.GraftSqlBridge.onSession(scoped, batch).writeStream
          .foreachBatch { (b: DataFrame, _: Long) => gate.ingest(b, "text", "doc_id") }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      t("UW_weights") { // updatedLabels + softDedupWeights, the real epilogue
        val db = spark.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") % 10 === 0)
        val allBatch = db.select((col("doc_id") + 600000L).as("doc_id"))
          .unionAll(db.select((col("doc_id") + 700000L).as("doc_id")))
          .unionAll(db.select((col("doc_id") + 800000L).as("doc_id")))
          .unionAll(db.select((col("doc_id") + 900000L).as("doc_id")))
        gate.weights(allBatch, "doc_id").count()
      }
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    onePass("/root/testdata/sf0.001", "warm")
    for (i <- 1 to 2) onePass("/root/testdata/sf0.1", s"run$i")
    spark.stop()
  }
}
