package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for every suite (Spark sessions are expensive;
  * suites only read). sf0.001 fixtures are the test corpus. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val sf = "/root/testdata/sf0.001"

  def q(name: String): DataFrame = {
    // ops persist() lazily and never see their final action, so repeated
    // q() calls would otherwise accumulate cached blocks across a suite
    // run — q() applies the runnable mains' between-key hygiene first
    Harness.release(spark)
    SparkEntry.queries(name)(spark, sf)
  }
}
