package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (sessions are expensive). */
object TestSpark {
  lazy val spark: SparkSession = {
    // A throwaway warehouse, removed when the test JVM exits. The warehouse
    // dir is a static conf, so it goes in as a `spark.*` system property,
    // which the session's SparkConf reads at build.
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toFile
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(wh))
    sys.props("spark.sql.warehouse.dir") = wh.toString
    Session.local("graft-test") // SPARK_GRAFT_CPUS=4: build.sbt Test / envVars
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  def spark: SparkSession = TestSpark.spark
  def sfDir: String = TestSpark.sfDir
}
