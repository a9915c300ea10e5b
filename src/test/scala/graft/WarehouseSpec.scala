package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Ev, Streams, Warehouse}

/** End-to-end layered pipeline: ODS→DWD→DWS→ADS over a MemoryStream,
  * compared against the same layers computed in batch. */
class WarehouseSpec extends AnyFunSuite {
  import TestSpark._

  /** Streams the corpus through the whole pipeline into a serving
    * table at `statePath` and checks it against the same layers
    * computed in batch. */
  private def adsMatchesBatch(statePath: String,
      checkpoint: String): Unit = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val events = Streams.typed(ops.Tables.events(spark, sf))
      .orderBy("event_id").collect().toSeq

    val input = MemoryStream[Ev]
    val query = Warehouse.run(input.toDS().toDF(), topN = 2,
      statePath, checkpoint)
    val chunks = events.grouped((events.size + 3) / 4).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      input.addData(c); query.processAllAvailable()
      if (i == 1) {
        // at-least-once redelivery: replay the whole chunk — the DWD
        // dedup guard (dropDuplicatesWithinWatermark on event_id +
        // late-drop behind the watermark) must keep the ADS output
        // identical to the batch reference that saw each event once
        input.addData(c); query.processAllAvailable()
      }
    }
    // flush sentinel: advances the watermark so every REAL window
    // finalizes; its own (far-future) window never emits in append mode
    val maxUs = events.map(_.ts_us).max
    val flushUs = maxUs + 30L * 24 * 3600 * 1000000
    input.addData(graft.streaming.Ev(-1L, -1L,
      new java.sql.Timestamp(flushUs / 1000), flushUs, "view", 0.0))
    query.processAllAvailable()
    query.stop()

    // batch reference: same layer functions on the bounded table
    val batchDws = Warehouse.hourlyActivity(
      Warehouse.clean(ops.Tables.events(spark, sf)))
    val w = Window.partitionBy("w_start").orderBy(col("n").desc,
      col("event_type"))
    val batchAds = batchDws.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 2)
      .select(col("w_start"), col("event_type"), col("n"), col("rk"))

    val streamedAds = spark.read.parquet(statePath)
      .select(col("w_start"), col("event_type"), col("n"), col("rk"))
    assert(streamedAds.count() === batchAds.count())
    assert(streamedAds.join(batchAds,
        Seq("w_start", "event_type", "n", "rk")).count() === batchAds.count())
  }

  test("streamed warehouse ADS equals the batch-computed top-N") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wh").toString
    adsMatchesBatch(s"$dir/ads", s"$dir/ckpt")
  }

  test("the ADS serving table keeps every batch's windows on a " +
      "non-default filesystem scheme") {
    // copyfs: is a local store under its own scheme — the serving
    // table must be probed, read and swapped through ITS filesystem,
    // not java.io.File or the default one
    spark.sparkContext.hadoopConfiguration
      .set("fs.copyfs.impl", classOf[CopyRenameFileSystem].getName)
    val dir = java.nio.file.Files.createTempDirectory("graft_wh_fs").toString
    adsMatchesBatch(s"copyfs:$dir/ads", s"$dir/ckpt")
  }

  test("upsert merge is idempotent under foreachBatch redelivery: " +
      "duplicate and stale batch replays are no-ops") {
    // The crash-replay contract: a foreachBatch sink restarted from a
    // checkpoint re-executes its last batch id against a state that may
    // already contain that batch's rows (at-least-once delivery). The
    // exactly-once story is the MERGE's, not the scheduler's: applying
    // the same batch twice — or any PAST batch again — must converge to
    // the image of applying each batch once.
    val ev = ops.Tables.t(spark, sf, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts"), col("value"))
    val batches = (0 until 3).map(i =>
      ev.where(pmod(col("event_id"), lit(3)) === i))
    def img(df: org.apache.spark.sql.DataFrame) =
      df.select(col("user_id"), col("event_id")).orderBy("user_id")
        .collect().map(_.toSeq).toSeq
    // once: b0, b1, b2
    val once = batches.foldLeft(
      Option.empty[org.apache.spark.sql.DataFrame])((s0, b) =>
      Some(ops.Scans.upsertMerge(s0, b))).get
    // crash-replay: b0, b1, b1 again (duplicate redelivery), b2, then
    // b0 again (stale batch arriving after later state)
    val replayed = Seq(batches(0), batches(1), batches(1), batches(2),
      batches(0)).foldLeft(
      Option.empty[org.apache.spark.sql.DataFrame])((s0, b) =>
      Some(ops.Scans.upsertMerge(s0, b))).get
    assert(img(once) === img(replayed))
    assert(once.count() ===
      ev.select(col("user_id")).distinct().count())

    // end-to-end through the ACID sink: commit b0+b1, then commit b1
    // AGAIN (the redelivered batch), then b2 — the final snapshot
    // equals the no-crash table image row for row.
    val root = java.nio.file.Files
      .createTempDirectory("graft_retry_idem").toString
    Seq(batches(0), batches(1), batches(1), batches(2)).foreach(b =>
      graft.streaming.SnapshotTable.commit(spark, root)(st =>
        ops.Scans.upsertMerge(st, b)))
    val table = graft.streaming.SnapshotTable.read(spark, root).get
    assert(img(table) === img(once))
  }
}
