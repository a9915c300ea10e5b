package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `Main <workload> <inputDir> <workDir> <recordJson> <trace>`.
  * `run.py` generates the inputs, starts this JVM, and turns the record
  * it writes into metrics. Load comes from this JVM only: Spark
  * `local[N]` (N = the cores it may use) plus at most one generator
  * thread. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, in, work, out, trace) = args
    val rec = new Rec(trace == "1")
    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val spark = session(work)
    rec.value("session_s",
      (System.currentTimeMillis() - jvmStartMs) / 1000.0)
    val jobs = if (rec.traced) Some(JobStats.install(spark)) else None
    try workload match {
      case "batch_inventory" =>
        BatchInventory.run(spark, in, rec, jobs)
      case "rt_warehouse" => RtWarehouse.run(spark, in, work, rec)
      case "lake_rw" => LakeRw.run(spark, in, work, rec, jobs)
      case other => sys.error(s"unknown workload $other")
    } finally {
      rec.value("peak_rss_mb", peakRssMb())
      rec.write(out)
      spark.stop()
    }
  }

  private def session(work: String): SparkSession = {
    val n = sys.env.get("PERFBENCH_CORES").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this JVM (Linux `VmHWM`), in MB. */
  private def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) -1.0
    else scala.io.Source.fromFile(f).getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
  }

  /** Wall seconds of `f`. */
  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
