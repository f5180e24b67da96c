package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The one test session. Every suite must come through here —
  * extensions only apply at session creation, so the first builder
  * wins and a plain builder would silently produce a session without
  * the engine's SQL functions. */
object TestSpark {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      // match the engine sessions (Engine/Bench/Verify): AQE may size
      // cached-plan output partitioning
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions) // engine SQL functions everywhere
      .getOrCreate()
    // INFO logging writes megabytes per run and buries real warnings
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Shared session base: one SparkSession per forked test JVM. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session

  def sf0001 = "/root/testdata/sf0.001"
}
