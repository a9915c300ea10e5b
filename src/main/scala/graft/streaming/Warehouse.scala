package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The genre's layered real-time warehouse ("Flink实时数仓",
  * /root/reference/README.md:2) as ONE composed Structured Streaming
  * pipeline over this library's operators:
  *
  *   ODS  ingest (kafka/rate/memory source, typed events)
  *   DWD  clean: dirty records split out, exact per-key dedup
  *   DWS  watermarked hourly aggregates per event type
  *   ADS  per-window Top-N served as an upserted parquet table
  *
  * Each layer is a pure DataFrame→DataFrame function, so the same
  * pipeline body runs in batch (for the oracle) and streaming (for
  * production) — the incrementalization is Spark's job, not ours.
  */
object Warehouse {

  /** DWD: route out dirty rows (the side-output pattern) and keep the
    * cleaned main flow. */
  def clean(ods: DataFrame): DataFrame =
    ods.where(col("event_type") =!= "error" && col("value").isNotNull)

  /** DWD: exactly-once ingest guard — a replayed event_id (at-least-once
    * source redelivery) is dropped within the watermark horizon, and
    * rows already behind the watermark are dropped as late, so a replay
    * can never inflate downstream aggregates. State is reclaimed past
    * the horizon (the bounded-state trade every keyed-dedup deployment
    * makes). WarehouseSpec replays a full chunk mid-stream and asserts
    * the ADS output still equals the batch reference. */
  def dedupIngest(dwd: DataFrame, horizon: String = "10 minutes"): DataFrame =
    dwd.withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("event_id")

  /** DWS: hourly per-type activity (count + exact-decimal revenue).
    * The watermark-free body is separate because a chained stateful
    * pipeline (dedup → window agg) must define the watermark exactly
    * once, upstream — Spark rejects a redefinition between stateful
    * operators. */
  private[streaming] def hourlyAgg(dwd: DataFrame): DataFrame =
    dwd.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        graft.ops.Tables.dsum(col("value")).as("revenue"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("revenue"))

  def hourlyActivity(dwd: DataFrame): DataFrame =
    hourlyAgg(dwd.withWatermark("ts", "10 minutes"))

  /** ADS: rank within each finalized window and upsert the top-N image
    * into a serving parquet table (foreachBatch = the JDBC/HBase-sink
    * seam; windows re-rank as late windows finalize). */
  def serveTopN(dws: DataFrame, n: Int, statePath: String,
      checkpoint: String): StreamingQuery =
    dws.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val s = batch.sparkSession
          val incoming = batch.select("w_start", "event_type", "n", "revenue")
          // the serving table's own filesystem (a non-local or
          // non-default scheme must be probed, swapped and read there);
          // the previous image is read under the incoming rows' schema
          // (parquet reads by name, so `rk` is skipped and nothing is
          // inferred)
          val dst = new org.apache.hadoop.fs.Path(statePath)
          val fs = dst.getFileSystem(s.sparkContext.hadoopConfiguration)
          val merged =
            if (fs.exists(dst))
              s.read.schema(incoming.schema).parquet(statePath)
                .unionByName(incoming)
            else incoming
          val w = Window.partitionBy("w_start")
            .orderBy(col("n").desc, col("event_type"))
          val ranked = merged
            .groupBy("w_start", "event_type")
            .agg(max(col("n")).as("n"), max(col("revenue")).as("revenue"))
            .withColumn("rk", row_number().over(w))
            .where(col("rk") <= n)
          val tmp = statePath + ".next"
          ranked.write.mode("overwrite").parquet(tmp)
          fs.delete(dst, true)
          fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
        }
        ()
      }
      .start()

  /** Whole pipeline, source to serving table. */
  def run(ods: DataFrame, topN: Int, statePath: String,
      checkpoint: String): StreamingQuery =
    serveTopN(hourlyAgg(dedupIngest(clean(ods))), topN, statePath,
      checkpoint)
}
