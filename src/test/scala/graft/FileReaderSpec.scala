package graft

import graft.core.{JobContext, PipelineContext}
import graft.source.FileReader
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StringType}

/** The inferred-schema memo of [[FileReader]]: a re-read of unchanged
 *  plain files infers nothing, and any change to what the schema depends
 *  on infers again. */
class FileReaderSpec extends SparkSpec {

  /** Jobs started while `f` runs (the suite runs sequentially). */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try { f; org.apache.spark.ListenerDrain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** Write `df` as the single parquet file `path`, replacing it. */
  private def writeParquet(df: DataFrame, path: String): Unit = {
    val dir = tmpDir("memo-write")
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val part = Files.list(Paths.get(dir)).filter(_.toString.endsWith(".parquet")).findFirst.get
    Files.move(part, Paths.get(path), StandardCopyOption.REPLACE_EXISTING)
  }

  /** A parquet file with an unannotated BINARY column and no Spark
   *  schema in its footer, as non-Spark writers leave it: the file
   *  `spark.sql.parquet.binaryAsString` applies to. */
  private def writeRawBinary(path: String): Unit = {
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; required binary b; }")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(path)).withType(schema).build()
    try writer.write(new org.apache.parquet.example.data.simple.SimpleGroupFactory(schema)
      .newGroup().append("id", 1L).append("b", org.apache.parquet.io.api.Binary.fromString("xy")))
    finally writer.close()
  }

  /** A parquet `file-reader` run in a new job sub-session. */
  private def read(uris: Seq[String], options: Map[String, String] = Map.empty,
                   confs: Map[String, String] = Map.empty): DataFrame = {
    implicit val session: SparkSession = Sessions.subSession(spark)
    confs.foreach { case (k, v) => session.conf.set(k, v) }
    new FileReader().sourceFormat("parquet").readOptions(options).fileUri(uris: _*)
      .run(new JobContext(PipelineContext())).get
  }

  test("an unchanged parquet file re-read from a new sub-session runs no job") {
    import spark.implicits._
    val file = s"${tmpDir("memo")}/a.parquet"
    writeParquet(Seq((1L, "x")).toDF("id", "name"), file)
    var first: DataFrame = null
    jobsDuring { first = read(Seq(file)) } should be > 0
    var again: DataFrame = null
    jobsDuring { again = read(Seq(file)) } shouldBe 0
    again.schema shouldBe first.schema
    again.collect().map(r => (r.getLong(0), r.getString(1))) shouldBe Array((1L, "x"))
  }

  test("a rewritten file, a changed read option or a changed conf infers again") {
    import spark.implicits._
    val dir = tmpDir("memo")
    val file = s"$dir/a.parquet"
    writeParquet(Seq((1L, "x")).toDF("id", "name"), file)
    read(Seq(file)).columns shouldBe Array("id", "name")
    writeParquet(Seq(("k", 2.0, 3L)).toDF("key", "value", "n"), file)
    read(Seq(file)).columns shouldBe Array("key", "value", "n")

    // mergeSchema unions the two files' columns; without it one file's
    // footer names them
    val other = s"$dir/b.parquet"
    writeParquet(Seq(("j", 0.5)).toDF("key", "score"), other)
    read(Seq(file, other)).columns.length should be < 4
    read(Seq(file, other), options = Map("mergeSchema" -> "true")).columns.toSet shouldBe
      Set("key", "value", "n", "score")

    val bytes = s"$dir/c.parquet"
    writeRawBinary(bytes)
    read(Seq(bytes)).schema("b").dataType shouldBe BinaryType
    read(Seq(bytes), confs = Map("spark.sql.parquet.binaryAsString" -> "true"))
      .schema("b").dataType shouldBe StringType
  }
}
