package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Job, task and byte counts attributed by job group. The harness sets
  * a job group around each call into a layer; threads the layer starts
  * inherit it (Spark's local properties are inheritable), so the
  * artifact phase's pool threads count toward the phase. Installed only
  * in traced runs. */
final class JobStats extends SparkListener {
  final class Counts {
    var jobs = 0L; var tasks = 0L; var shuffleBytes = 0L
    var bytesWritten = 0L
  }
  private val byGroup = mutable.HashMap[String, Counts]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val jobGroup = mutable.HashMap[Int, (String, Long)]()
  private val intervals =
    mutable.HashMap[String, mutable.ArrayBuffer[(Long, Long)]]()
  // listener event times are epoch ms; spans use System.nanoTime
  private val nsMinusMs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    byGroup.getOrElseUpdate(g, new Counts).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
    jobGroup(e.jobId) = (g, e.time * 1000000L + nsMinusMs)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, t0) =>
      intervals.getOrElseUpdate(g, mutable.ArrayBuffer()) +=
        ((t0, e.time * 1000000L + nsMinusMs))
    }
  }

  /** (start, end) in System.nanoTime of every finished job of group `g`. */
  def jobIntervals(g: String): Seq[(Long, Long)] = synchronized {
    intervals.get(g).map(_.toSeq).getOrElse(Nil)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = byGroup.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""),
      new Counts)
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.bytesWritten += m.outputMetrics.bytesWritten
    }
  }

  /** Counts of every group whose id starts with `prefix`, summed. */
  def sum(prefix: String): (Long, Long, Long, Long) = synchronized {
    byGroup.iterator.filter(_._1.startsWith(prefix)).map(_._2)
      .foldLeft((0L, 0L, 0L, 0L)) { case ((j, t, s, w), c) =>
        (j + c.jobs, t + c.tasks, s + c.shuffleBytes, w + c.bytesWritten)
      }
  }
}

object JobStats {
  def install(s: SparkSession): JobStats = {
    val l = new JobStats
    s.sparkContext.addSparkListener(l)
    l
  }

  /** Run `f` under job group `g` on this thread. */
  def group[T](s: SparkSession, g: String)(f: => T): T = {
    s.sparkContext.setJobGroup(g, g)
    try f finally s.sparkContext.clearJobGroup()
  }

  /** Wait until the listener bus has delivered every posted event, so
    * counts read afterwards are complete. */
  def drain(s: SparkSession): Unit = {
    val m = s.sparkContext.getClass.getMethod("listenerBus")
    val bus = m.invoke(s.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
  }
}
