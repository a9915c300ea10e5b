package graft

/** Local smoke runner: prints the flagship `SparkEntry.entry` result
  * (driver gate: rows > 0 at sf0.001) and each query's row count at the
  * given sf dir. Usage: runMain graft.Smoke [sfDir] */
object Smoke {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Harness.session()
    val e = SparkEntry.entry(spark)
    e.show(10, truncate = false)
    println(s"ENTRY_ROWS=${e.count()}")
    Harness.keys.foreach { name =>
      val n = try SparkEntry.queries(name)(spark, sfDir).count().toString
      catch { case ex: Throwable => s"ERROR ${ex.getMessage.take(80)}" }
      finally Harness.release(spark)
      println(s"$name: $n")
    }
    spark.stop()
  }
}
