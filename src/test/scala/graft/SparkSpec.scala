package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers
import org.scalatest.BeforeAndAfterAll

/** Shared local-Spark test base (one session per suite). */
abstract class SparkSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def sfDir: String = "/root/testdata/sf0.001"

  /** Fresh temp dir per call. */
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  def writeFile(dir: String, name: String, content: String): String = {
    val p = java.nio.file.Paths.get(dir, name)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }
}

object SparkSpec {
  // four cores whatever SPARK_GRAFT_CPUS says: MlSpec pins job counts at
  // four shuffle partitions
  lazy val session: SparkSession = Sessions.local("4")
}
