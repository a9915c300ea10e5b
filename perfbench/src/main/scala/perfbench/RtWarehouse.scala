package perfbench

import graft.streaming.{Ev, Streams, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import scala.collection.mutable

/** `rt_warehouse`: an open-loop generator thread appends pre-generated
  * chunks of events on a fixed schedule; two queries read the same
  * traffic — DWD (`Warehouse.clean` → `Warehouse.dedupIngest` → a
  * latest-per-user upsert into a lake table through
  * `Streams.snapshotMergeBatch`) and ADS (`Warehouse.run`'s serving
  * table). Before the paced phase a fixed backlog is pushed at once. The
  * JVM records each chunk's due and send times and source offset, each
  * micro-batch's progress, and each sink commit; run.py joins them into
  * latencies. Output checks compare both tables with batch references
  * computed by the same `Warehouse` functions. */
object RtWarehouse {
  private val TopN = 3

  final class Progress(val query: String, val end: Option[Long],
      val watermarkMs: Option[Long], val endNs: Long)

  def run(s: SparkSession, in: String, work: String, rec: Rec): Unit = {
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    val conf = scala.io.Source.fromFile(s"$in/rt.conf").getLines()
      .map(_.split("=", 2)).map(a => a(0).trim -> a(1).trim).toMap
    val periodNs = conf("period_ms").toLong * 1000000L
    val all = s.read.parquet(s"$in/rt_events.parquet")
    val chunks: Map[Int, Seq[Ev]] = all.collect().toSeq.map { r =>
      val us = r.getAs[Long]("ts_us")
      (r.getAs[Int]("chunk"), Ev(r.getAs[Long]("event_id"),
        r.getAs[Long]("user_id"), new java.sql.Timestamp(us / 1000),
        us, r.getAs[String]("event_type"), r.getAs[Double]("value")))
    }.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    val paced = chunks.keys.filter(_ >= 0).toSeq.sorted
    val backlog = -1

    // progress of every micro-batch, from the listener bus
    val progress = mutable.ArrayBuffer[Progress]()
    val names = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, String]()
    val nsMinusMs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    s.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val q = Option(names.get(p.id)).getOrElse("?")
        def off(x: String) = Option(x).filter(_ != "null").map(_.trim.toLong)
        val src = p.sources.headOption
        val d = p.durationMs
        def dur(k: String): Double =
          Option(d.get(k)).map(_.doubleValue()).getOrElse(0.0)
        val endNs = java.time.Instant.parse(p.timestamp).toEpochMilli *
          1000000L + nsMinusMs + (dur("triggerExecution") * 1e6).toLong
        val wm = Option(p.eventTime.get("watermark"))
          .map(w => java.time.Instant.parse(w).toEpochMilli)
        val st = p.stateOperators
        progress.synchronized {
          progress += new Progress(q, src.flatMap(x => off(x.endOffset)),
            wm, endNs)
        }
        rec.row("stream_batches", Map("query" -> q, "batch_id" -> p.batchId,
          "start_offset" -> src.flatMap(x => off(x.startOffset)),
          "end_offset" -> src.flatMap(x => off(x.endOffset)),
          "watermark_ms" -> wm, "end_ns" -> endNs,
          "rows" -> p.numInputRows,
          "triggerExecution_ms" -> dur("triggerExecution"),
          "queryPlanning_ms" -> dur("queryPlanning"),
          "walCommit_ms" -> dur("walCommit"),
          "latestOffset_ms" -> dur("latestOffset"),
          "addBatch_ms" -> dur("addBatch"),
          "state_rows" -> st.map(_.numRowsTotal).sum,
          "state_mem_bytes" -> st.map(_.memoryUsedBytes).sum,
          "dropped_rows" -> st.map(_.numRowsDroppedByWatermark).sum))
        if (rec.traced) {
          val sid = rec.spanAt(s"stream.$q.batch", 0L,
            endNs - (dur("triggerExecution") * 1e6).toLong, endNs,
            Map("batch_id" -> p.batchId))
          Seq("latestOffset", "queryPlanning", "addBatch", "walCommit")
            .foreach(k => rec.spanAt(k, sid, endNs, endNs + (dur(k) * 1e6).toLong))
        }
      }
    })

    def start(tag: String): (MemoryStream[Ev], MemoryStream[Ev],
        StreamingQuery, StreamingQuery, String, String) = {
      val dir = s"$work/rt/$tag"
      val dwdIn = MemoryStream[Ev]
      val adsIn = MemoryStream[Ev]
      val root = s"$dir/dwd"
      val commits = tag == "run"  // only the timed pair is recorded
      val dwd = Warehouse.dedupIngest(Warehouse.clean(dwdIn.toDS().toDF()))
        .writeStream
        .option("checkpointLocation", s"$dir/ckpt_dwd")
        .foreachBatch { (b: DataFrame, id: Long) =>
          val t0 = System.nanoTime()
          val done = Streams.snapshotMergeBatch(root, "user_id", "dwd")(
            graft.ops.Scans.upsertMerge)(b, id)
          val t1 = System.nanoTime()
          if (commits) {
            rec.row("dwd_commits", Map("batch_id" -> id,
              "start_ns" -> t0, "end_ns" -> t1, "committed" -> done))
            rec.spanAt("stream.dwd.sink_commit", 0L, t0, t1,
              Map("batch_id" -> id))
          }
          ()
        }
        .start()
      names.put(dwd.id, if (commits) "dwd" else "setup")
      val ads = Warehouse.run(adsIn.toDS().toDF(), TopN, s"$dir/ads",
        s"$dir/ckpt_ads")
      names.put(ads.id, if (commits) "ads" else "setup")
      (dwdIn, adsIn, dwd, ads, root, s"$dir/ads")
    }

    // set-up: start both queries on fresh sources and sinks, several
    // times (the median counts), then push one warm-up chunk through the
    // pair that serves the timed part (counted once)
    var live: (MemoryStream[Ev], MemoryStream[Ev], StreamingQuery,
      StreamingQuery, String, String) = null
    val reps = (0 until 3).map { r => Main.timed {
      if (live != null) { live._3.stop(); live._4.stop() }
      live = start(if (r == 2) "run" else s"start$r")
    }._2 }
    val warm = chunks.keys.filter(_ < backlog).toSeq.sorted
    val (_, warmS) = Main.timed {
      warm.foreach { c => live._1.addData(chunks(c)); live._2.addData(chunks(c)) }
      live._3.processAllAvailable(); live._4.processAllAvailable()
    }
    rec.value("setup_work_s", Main.median(reps) + warmS)
    val (dwdIn, adsIn, dwd, ads, root, adsPath) = live

    def offsetOf(o: Any): Long = o.toString.trim.toLong
    def waitFor(what: String, limitS: Double)(cond: => Boolean): Unit = {
      val until = System.nanoTime() + (limitS * 1e9).toLong
      while (!cond) {
        Seq(dwd, ads).foreach(q => q.exception.foreach(e => throw e))
        if (System.nanoTime() > until) sys.error(s"timed out waiting for $what")
        Thread.sleep(5)
      }
    }
    def covered(q: String, off: Long): Option[Progress] =
      progress.synchronized {
        progress.find(p => p.query == q && p.end.exists(_ >= off))
      }

    // the drain phase: the whole backlog at once, on the idle queries
    val sent = mutable.ArrayBuffer[Map[String, Any]]()
    val pushNs = System.nanoTime()
    val ob = offsetOf(dwdIn.addData(chunks(backlog)))
    adsIn.addData(chunks(backlog))
    sent += Map("chunk" -> backlog, "due_ns" -> pushNs, "sent_ns" -> pushNs,
      "offset" -> ob, "events" -> chunks(backlog).size)
    waitFor("the backlog", 90) {
      covered("dwd", ob).isDefined && covered("ads", ob).isDefined
    }
    val drainEnd = math.max(covered("dwd", ob).get.endNs,
      covered("ads", ob).get.endNs)
    rec.value("bulk_s", (drainEnd - pushNs) / 1e9)
    rec.value("drain_events", chunks(backlog).size.toDouble)
    waitFor("idle queries", 60) {
      !dwd.status.isTriggerActive && !ads.status.isTriggerActive
    }

    // the paced phase: one generator thread, one chunk per period
    val gen = new Thread(() => {
      val t0 = System.nanoTime() + 200000000L
      paced.foreach { c =>
        val due = t0 + c * periodNs
        var now = System.nanoTime()
        while (now < due) {
          java.util.concurrent.locks.LockSupport.parkNanos(due - now)
          now = System.nanoTime()
        }
        val o = offsetOf(dwdIn.addData(chunks(c)))
        adsIn.addData(chunks(c))
        sent += Map("chunk" -> c, "due_ns" -> due, "sent_ns" -> now,
          "offset" -> o, "events" -> chunks(c).size)
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val lastPaced = sent.last("offset").asInstanceOf[Long]
    waitFor("the paced phase", 90) {
      covered("dwd", lastPaced).isDefined && covered("ads", lastPaced).isDefined
    }
    dwd.processAllAvailable(); ads.processAllAvailable()
    dwd.stop(); ads.stop()
    sent.foreach(rec.row("chunks", _))
    val finalWm = progress.synchronized {
      progress.filter(_.query == "ads").flatMap(_.watermarkMs).maxOption
    }.getOrElse(0L)
    rec.value("ads_final_watermark_ms", finalWm.toDouble)

    // output checks against batch references over the same events
    val events = (warm ++ (backlog +: paced)).flatMap(chunks)
      .distinctBy(_.event_id).toDS().toDF()
    val cols = Seq("user_id", "event_id", "ts_us", "event_type", "value")
    val dwdRef = graft.ops.Scans.upsertMerge(None, Warehouse.clean(events))
      .select(cols.map(col): _*)
    val dwdGot = graft.streaming.SnapshotTable.read(s, root).get
      .select(cols.map(col): _*)
    checkSame(rec, "stream.dwd_image_matches_batch_reference", dwdGot, dwdRef)
    val w = Window.partitionBy("w_start").orderBy(col("n").desc, col("event_type"))
    val adsCols = Seq("w_start", "event_type", "n", "revenue", "rk")
    val adsRef = Warehouse.hourlyActivity(Warehouse.clean(events))
      .withColumn("rk", row_number().over(w)).where(col("rk") <= TopN)
      .where(unix_micros(col("w_start")) + 3600L * 1000000L <= finalWm * 1000L)
      .select(adsCols.map(col): _*)
    val adsGot = s.read.parquet(adsPath).select(adsCols.map(col): _*)
    checkSame(rec, "stream.ads_table_matches_batch_reference", adsGot, adsRef)
  }

  /** Both sides are small (a row per user, a few rows per window), so
    * they are compared as multisets on the driver. */
  private def checkSame(rec: Rec, name: String, got: DataFrame,
      want: DataFrame): Unit = {
    def bag(df: DataFrame) = df.collect().toSeq.map(_.toSeq)
      .groupBy(identity).map { case (r, rs) => r -> rs.size }
    val (g, w) = (bag(got), bag(want))
    val extra = g.count { case (r, n) => w.getOrElse(r, 0) != n }
    val missing = w.count { case (r, _) => !g.contains(r) }
    rec.check(name, extra == 0 && missing == 0,
      s"$extra rows differ, $missing missing of ${w.values.sum}")
  }
}
