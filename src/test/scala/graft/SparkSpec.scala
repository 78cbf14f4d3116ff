package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide SparkSession). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = HarnessSession.builder("4")
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      // FAIR so the per-query scheduler pools QueryFacade assigns are
      // live in tests — a long scan must not starve a concurrent small
      // query (FairSchedulerSpec)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
}
