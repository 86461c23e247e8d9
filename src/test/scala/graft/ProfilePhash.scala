package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
/** Scratch: phash blocking A/B at the scale-probe corpus — (bands, bandsPerKey)
 *  candidate volume + wall time. sbt "Test/runMain graft.ProfilePhash [dir]" */
object ProfilePhash {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/graft_scale/sf1")
    implicit val spark: SparkSession = Sessions.local()
    val docs = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
    val icorpus = docs
      .unionAll(docs.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
      .unionAll(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(lit("z"), expr("substring(text, 2)")).as("text")))
    val hashes = graft.ml.Multimodal.averageHash(
      graft.ml.Multimodal.textToGrayPng(icorpus, "doc_id", "text", 16, 16)).persist()
    println(s"[prof] corpus=${hashes.count()} images, dir=$dir")
    for ((b, t) <- Seq((4, 1), (8, 3))) {
      for (run <- 1 to 2) {
        val t0 = System.nanoTime()
        val n = graft.ml.Multimodal.phashNearDupPairs(hashes, b, 6, t).count()
        println(f"[prof] ($b,$t) run$run pairs=$n ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
