package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-20 optimization regression net: the parallel materialization
  * phase (`Scans.tableArtifactBuild` — all content-keyed table/graph/
  * LLM artifact chains overlapped on a bounded pool) must leave every
  * reader key serving exactly what the old sequential in-key builds
  * served. The phase is pure wall-clock restructuring — same builders,
  * same roots — so the assertions here are the keys' own structural
  * booleans and row accounting, read AFTER a forced concurrent build.
  */
class ArtifactPhaseSpec extends AnyFunSuite {
  import TestSpark._

  test("parallel phase builds every chain; reader keys serve the " +
      "built tables with their structural claims intact") {
    // force real concurrency even on the 4-core test session — the
    // point is racing the 20+ chains against each other
    spark.conf.set("spark.graft.artifactBuildThreads", "6")
    try graft.ops.Scans.tableArtifactBuild(spark, sf,
      includeGraph = true, includeLlm = true, includeBucketed = true)
    finally spark.conf.unset("spark.graft.artifactBuildThreads")

    // structural-boolean keys: the flag TRUE proves the chain built
    // complete (maintenance ran, widen was metadata-only, clone
    // byte-copied, merge was MOR, restore was exact, stream fold
    // published); FALSE or an exception means the concurrent build
    // corrupted or half-published a root
    val flagged = Seq(
      "table_sql_maintenance" -> "maintained",
      "table_type_widening" -> "widened",
      "table_clone" -> "cloned",
      "table_merge_dv" -> "merge_on_read",
      "table_merge_pruned" -> "file_merge",
      "table_restore" -> "restored_exact",
      "table_schema_evolution" -> "rename_neutral",
      "table_stream_door" -> "streamed",
      "table_incremental_append" -> "incremental")
    flagged.foreach { case (key, flag) =>
      val rows = q(key).collect()
      assert(rows.nonEmpty, s"$key returned no rows")
      val i = rows.head.fieldIndex(flag)
      assert(rows.forall(r => r.getBoolean(i)), s"$key !$flag")
    }

    // row-serving keys over phase-built roots: nonzero output proves
    // the root is readable end-to-end after the concurrent build
    Seq("table_time_travel", "table_stats_pruning",
      "table_zorder_skipping", "table_bloom_skipping",
      "sink_snapshot_merge", "table_cdf_consume",
      "join_bucketed_colocated", "llm_dedup_clusters",
      "llm_dedup_embcos", "graph_pagerank").foreach { key =>
      assert(q(key).limit(5).collect().nonEmpty, s"$key empty")
    }

    // idempotence: a second phase invocation on published roots must
    // be a cheap no-op walk (content-keyed gates), not a rebuild —
    // generous bound; a rebuild of 20+ chains takes far longer
    val t0 = System.nanoTime()
    graft.ops.Scans.tableArtifactBuild(spark, sf,
      includeGraph = true, includeLlm = true, includeBucketed = true)
    val warm = (System.nanoTime() - t0) / 1e9
    assert(warm < 30.0, f"warm phase re-invocation took $warm%.1f s")
  }

  test("the table-phase subset rule covers every table_* key, " +
      "table_dsv2_read included, and no other family") {
    val reads = graft.ops.Scans.readsTableChain _
    assert(reads("table_dsv2_read"))
    assert(reads("sink_snapshot_merge"))
    graft.ops.Scans.queries.keys.filter(_.startsWith("table_"))
      .foreach(k => assert(reads(k), k))
    Seq("merge_upsert", "sink_parquet", "graph_pagerank",
      "llm_dedup_clusters").foreach(k => assert(!reads(k), k))
  }

  test("readers of one chain agree: restore head = time travel v2, " +
      "merge_pruned image = cdf v2, changelog fold = cdf v2 - v1") {
    graft.ops.Scans.tableArtifactBuild(spark, sf)
    val dec = "decimal(18,2)"
    def cents(x: Double) =
      BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    // (rows, exact DECIMAL sum of value) of a served image
    def board(key: String): (Long, BigDecimal) = {
      val r = q(key).agg(count(lit(1)), sum(col("value").cast(dec)))
        .first()
      (r.getLong(0), BigDecimal(r.getDecimal(1)).setScale(2))
    }
    // version -> (n_users, sum_value) of a per-version board key
    def versions(key: String): Map[Long, (Long, BigDecimal)] =
      q(key).collect().map(r => r.getAs[Long]("version") ->
        ((r.getAs[Long]("n_users"), cents(r.getAs[Double]("sum_value")))))
        .toMap
    // restore-then-read ≡ time travel to version 2
    assert(board("table_restore") === versions("table_time_travel")(2L))
    val cdf = versions("table_cdf_consume")
    val (n1, v1) = cdf(1L)
    val (n2, v2) = cdf(2L)
    assert(board("table_merge_pruned") === ((n2, v2)))
    // the changelog's signed fold is the v1 -> v2 board delta
    val ch = q("table_changelog")
    assert(ch.count() > 0, "table_changelog is empty")
    val post = col("_change_type").isin("insert", "update_postimage")
    val r = ch.agg(
      sum(when(col("_change_type") === "insert", 1L)
        .when(col("_change_type") === "delete", -1L).otherwise(0L)),
      sum(when(post, col("value").cast(dec))
        .otherwise(-col("value").cast(dec)))).first()
    assert((r.getLong(0), BigDecimal(r.getDecimal(1)).setScale(2)) ===
      ((n2 - n1, v2 - v1)))
  }
}
