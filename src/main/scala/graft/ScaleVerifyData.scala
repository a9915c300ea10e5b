package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Synthesizes a ≥10× ("sf1-shaped") verify corpus so the FULL oracle
  * suite can run at rehearsal scale (round-8 verdict item 5), not just
  * the dedup family: every fact table from the source sf dir is
  * replicated `mult`× with CONSISTENT key shifts (each replica's keys
  * offset by replica × (max-key+1), foreign keys shifted by the same
  * per-domain offset, so referential integrity holds exactly),
  * dimension tables (region/nation) are copied once — the TPC-H scaling
  * convention — and documents/embeddings come from ScaleRehearsal's
  * generator at the same multiple (fixture-rate near-dup structure at
  * stationary per-source density, the realistic growth shape).
  *
  * This is a data-generation TOOL, not an operator: the driver-side
  * collect of six per-table key maxima is deliberate and bounded (six
  * 1-row aggregates).
  *
  * Usage: runMain graft.ScaleVerifyData [srcDir dstDir mult]
  * (default: /root/testdata/sf0.1 /tmp/graft_sf1 10)
  */
object ScaleVerifyData {

  private def replicate(s: SparkSession, src: String, dst: String,
      table: String, mult: Int, shifts: Map[String, Long]): Unit = {
    val base = graft.ops.Tables.t(s, src, table)
    val out = base.crossJoin(
        s.range(mult).toDF("rep").hint("broadcast"))
      .select(base.schema.fields.map { f =>
        shifts.get(f.name)
          .map(off => (col(f.name) + col("rep") * off)
            .cast(f.dataType).as(f.name))
          .getOrElse(col(f.name))
      }.toSeq: _*)
    out.repartition(32).write.mode("overwrite")
      .parquet(s"$dst/$table.parquet")
  }

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = if (args.length > 1) args(1) else "/tmp/graft_sf1"
    val mult = if (args.length > 2) args(2).toInt else 10
    val spark = Harness.session()

    def keyDomain(table: String, key: String): Long =
      graft.ops.Tables.t(spark, src, table)
        .agg(max(col(key))).first().getLong(0) + 1L

    val ok = keyDomain("orders", "o_orderkey")
    val ck = keyDomain("customer", "c_custkey")
    val sk = keyDomain("supplier", "s_suppkey")
    val pk = keyDomain("part", "p_partkey")
    val ev = keyDomain("events", "event_id")
    val uid = keyDomain("events", "user_id")

    // dimensions: fixed across scale, like TPC-H nation/region
    for (t <- Seq("region", "nation"))
      graft.ops.Tables.t(spark, src, t).write.mode("overwrite")
        .parquet(s"$dst/$t.parquet")
    replicate(spark, src, dst, "customer", mult, Map("c_custkey" -> ck))
    replicate(spark, src, dst, "supplier", mult, Map("s_suppkey" -> sk))
    replicate(spark, src, dst, "part", mult, Map("p_partkey" -> pk))
    replicate(spark, src, dst, "orders", mult,
      Map("o_orderkey" -> ok, "o_custkey" -> ck))
    replicate(spark, src, dst, "lineitem", mult,
      Map("l_orderkey" -> ok, "l_partkey" -> pk, "l_suppkey" -> sk))
    replicate(spark, src, dst, "events", mult,
      Map("event_id" -> ev, "user_id" -> uid))
    // synthesize() skips when its _SUCCESS markers exist, so a re-run
    // into the same dst at a DIFFERENT mult would silently keep the old
    // documents/embeddings next to freshly-rewritten facts — record the
    // mult and force a regenerate when it changed
    val multMarker = new java.io.File(dst, "_GRAFT_MULT")
    val priorMult = if (multMarker.isFile)
      new String(java.nio.file.Files.readAllBytes(multMarker.toPath),
        "UTF-8").trim
    else ""
    if (priorMult != mult.toString) {
      for (t <- Seq("documents", "embeddings")) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(new java.io.File(dst, s"$t.parquet"))
      }
    }
    ScaleRehearsal.synthesize(spark, dst, mult)
    java.nio.file.Files.write(multMarker.toPath,
      mult.toString.getBytes("UTF-8"))
    println(s"SCALE_VERIFY_DATA_DONE dir=$dst mult=$mult")
    spark.stop()
  }
}
