package graft

/** Dump `.explain("formatted")` for declared queries into a directory —
  * the optimization rounds' plan-evidence artifact (plans/r<k>/), so
  * plan-shape claims (join strategy, Exchange count, PushedFilters)
  * are reviewable without running Spark. Same session shape as Bench;
  * `SPARK_GRAFT_QUERIES` selects a subset, args = [outDir, tag].
  * NOTE: queries whose body runs actions (iterative loops, builds)
  * execute them here too — the dumped plan is the one the returned
  * DataFrame would execute under the bench's noop sink. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val outDir = args.headOption.getOrElse("plans/r20")
    val tag = if (args.length > 1) args(1) else "plan"
    val spark = Harness.session()
    new java.io.File(outDir).mkdirs()
    Harness.keys.foreach { k =>
      try {
        val txt = SparkEntry.queries(k)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        val w = new java.io.PrintWriter(s"$outDir/${k}_$tag.txt")
        try w.println(txt) finally w.close()
        println(s"[plandump] wrote $outDir/${k}_$tag.txt")
      } catch { case e: Throwable =>
        println(s"[plandump] $k failed: ${e.getMessage}")
      }
      finally Harness.release(spark)
    }
    spark.stop()
  }
}
