package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits: the properties that matter at 100 TB must be
  * visible in the plan, not assumed — pushdown reaching the parquet
  * scan, broadcasts on dim joins, TakeOrderedAndProject for top-k,
  * partial aggregation, no accidental cartesian products. */
class PlanSpec extends AnyFunSuite {
  import TestSpark._

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("scan_projected: predicate pushdown + column pruning reach parquet") {
    val p = plan(q("scan_projected"))
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThanOrEqual(l_shipdate"), p)
    // pruned read schema: only the 4 referenced columns
    assert(p.contains("l_quantity") && !p.contains("l_returnflag"), p)
  }

  test("join_broadcast_dim plans broadcast hash joins for both dims") {
    val p = plan(q("join_broadcast_dim"))
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("sort_limit_topk plans TakeOrderedAndProject (no global sort)") {
    val p = plan(q("sort_limit_topk"))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("agg_group_multi plans map-side partial aggregation") {
    val p = plan(q("agg_group_multi"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("join_interval keeps the equi key: hash/SMJ join, not cartesian") {
    val p = plan(q("join_interval"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("join_interval_bucketed: equi join carries the time-bucket key") {
    val p = plan(q("join_interval_bucketed"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // the join's equi keys must include the bucket column b, not just
    // user — that's the whole point (bounds per-key fan-in by Δ-window
    // density, not per-user history). Formatted explain prints SMJ/SHJ
    // equi keys as "Left keys [...]" lists.
    val keyLines = p.linesIterator
      .filter(l => l.contains("keys") && l.contains("v_user")).toSeq
    assert(keyLines.nonEmpty && keyLines.forall(_.contains("b#")),
      p.take(3000))
  }

  test("join_interval_left_bucketed: outer join carries the bucket key " +
      "and the null-row window partitions on view_id") {
    val p = plan(q("join_interval_left_bucketed"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // like join_interval_bucketed, the equi keys must include the
    // Δ-bucket, not just the user — that is the skew fix
    val keyLines = p.linesIterator
      .filter(l => l.contains("keys") && l.contains("v_user")).toSeq
    assert(keyLines.nonEmpty && keyLines.forall(_.contains("b#")),
      p.take(3000))
    // the match-count window must partition on the unique view_id, and
    // nothing in the plan may run a single global partition
    val winLines = p.linesIterator
      .filter(l => l.contains("windowspecdefinition")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("view_id")),
      p.take(3000))
  }

  test("llm_similarity_knn broadcasts the query side") {
    val p = plan(q("llm_similarity_knn"))
    // non-equi (q_id != vec_id) join with a 5-row broadcast side: BNLJ
    // with broadcast build is the intended plan — corpus never shuffles.
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("llm_dedup_minhash candidates come from an equi join on band keys") {
    val p = plan(q("llm_dedup_minhash"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("exact/canonical dedup shuffles carry the md5 digest, not text") {
    // the dedup exchange must repartition on the 32-byte digest key —
    // shipping the normalized text itself through the shuffle is the
    // 100 TB anti-shape this formulation exists to avoid
    for (key <- Seq("llm_dedup_exact", "llm_dedup_canonical",
        "llm_dedup_weighted")) {
      val p = plan(q(key))
      // the digest must be computed BELOW the exchange (md5 appears in
      // the map-side projection/aggregate), and no exchange may
      // repartition on a text-typed column (Catalyst renames the md5
      // alias to _groupingexpression#N, so match by exclusion)
      assert(p.contains("md5("), s"$key:\n$p")
      val exch = p.linesIterator
        .filter(_.contains("hashpartitioning")).toSeq
      assert(exch.nonEmpty, s"$key:\n$p")
      assert(exch.forall(l => !l.contains("nt#") && !l.contains("ct#") &&
        !l.contains("text#")), s"$key:\n$p")
    }
  }

  test("no unpartitioned Window.orderBy anywhere in src/main") {
    // A Window.orderBy with no partitionBy funnels the whole input
    // through ONE task — the textbook scale-killer. Every window in the
    // engine must start from Window.partitionBy (a constant key is only
    // acceptable on a provably reduced table, e.g. per-chunk maxima).
    import scala.jdk.CollectionConverters._
    val offenders = java.nio.file.Files
      .walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(java.nio.file.Files.readAllBytes(p))
        .contains("Window.orderBy("))
      .map(_.toString).toList
    assert(offenders.isEmpty, s"unpartitioned windows in: $offenders")
  }

  test("ngram jaccard: inverted-index equi join, no cross join / BNLJ") {
    val p = plan(q("llm_dedup_ngram_jaccard"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // candidates meet on the shingle-hash equi key of the MATERIALIZED
    // inverted index (the explode+df-cap runs once at artifact-build
    // time — shingleIndexTable — so the query plan shows the index
    // parquet scan self-joined on h, never a block cross product)
    val keyLines = p.linesIterator
      .filter(l => l.contains("keys") && l.contains("h#")).toSeq
    assert(keyLines.nonEmpty, p.take(3000))
    // and the shingle index build itself is the exploded form
    val b = plan(graft.ops.LlmExtra.cappedShingleIndexOf(spark,
      graft.ops.Tables.t(spark, sf, "documents")))
    assert(b.contains("Generate") && b.contains("explode("), b.take(2000))
  }

  test("join_asof_dim is one window pass — no range self-join") {
    val p = plan(q("join_asof_dim"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin"), p.take(2000))
    assert(p.contains("RunningWindowFunction") || p.contains("Window"),
      p.take(2000))
  }

  test("bitmap UV aggregates partially (bitmaps merge map-side)") {
    val p = plan(q("agg_bitmap_uv"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("sink_partitioned read-back prunes to the filtered partition") {
    val p = plan(q("sink_partitioned"))
    assert(p.contains("PartitionFilters:") &&
      p.contains("event_type"), p.take(1200))
  }

  test("join_skew_salted joins on (user_id, salt) — no shuffle-key hotspot") {
    val p = plan(q("join_skew_salted"))
    assert(p.contains("salt"), p.take(800))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bucketed co-located join: SMJ with no hash-partition exchange") {
    val p = plan(q("join_bucketed_colocated"))
    // the merge hint pins SortMergeJoin; bucketed+sorted tables mean no
    // Exchange feeds it — the zero-shuffle co-location.
    assert(p.contains("SortMergeJoin"), p.take(2000))
    // Formatted explain prints nodes as "(n) Exchange" with the
    // hashpartitioning arguments on a separate detail line, so the old
    // `"Exchange hashpartitioning"` substring could NEVER match — it
    // passed even against the fallback plain-join plan (round-3
    // verdict). Count Exchange NODES instead: the co-located plan's
    // only exchange is the final single-partition sort for orderBy, so
    // any hashpartitioning exchange (the fallback's shuffle) must fail.
    val exchanges = "\\(\\d+\\) Exchange".r.findAllIn(p).size
    assert(exchanges <= 1, s"$exchanges Exchange nodes:\n${p.take(3000)}")
    assert(!p.contains("hashpartitioning"), p.take(3000))
    // and the table scans must actually be the bucketed tables
    assert(p.contains("graft_bkt_orders"), p.take(2000))
  }

  test("…and that assertion is falsifiable: the plain merge join shuffles") {
    // The same query shape over UNbucketed parquet must trip the
    // zero-shuffle assertions above — proving they discriminate between
    // the co-located plan and the fallback (the round-3 vacuous-test
    // failure mode: an assertion that passes against both proves
    // nothing).
    import graft.ops.Tables.t
    import org.apache.spark.sql.functions.col
    val p = plan(
      t(spark, sf, "orders").hint("merge")
        .join(t(spark, sf, "customer").hint("merge"),
          col("o_custkey") === col("c_custkey"))
        .select(col("o_orderkey"), col("c_custkey"), col("c_name"))
        .orderBy("o_orderkey"))
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size >= 2, p.take(3000))
    assert(p.contains("hashpartitioning"), p.take(3000))
  }

  test("llm_dedup_substring: partial-aggregated gram count + semi join, " +
      "run-merge is a doc-keyed window") {
    val p = plan(q("llm_dedup_substring"))
    // the hot-gram filter must be groupBy(g).count (partial agg — a
    // HashAggregate pair on g) feeding a LEFT SEMI equi-join; a window
    // over partitionBy(g) would materialize+sort each gram's full
    // partition in one task (a 10⁵× boilerplate line = 10⁵ rows through
    // one reducer, no map-side combine)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("LeftSemi"), p.take(3000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(3000))
    // the run-merge window keys on doc_id, never on the gram
    assert(p.contains("Window"), p.take(2000))
    assert(!p.toLowerCase.contains("partitionspec: [g#") &&
      !p.contains("windowspecdefinition(g#"), p.take(3000))
  }

  test("llm_dedup_substring_prune: span removal is one equi anti-join, " +
      "no cartesian") {
    val p = plan(q("llm_dedup_substring_prune"))
    // the range predicate rides as a residual on the doc_id equi key —
    // a cartesian/BNLJ here would mean the join lost its equi component
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("llm_dedup_clusters: edges + contraction rounds are equi joins only") {
    val p = plan(q("llm_dedup_clusters"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("graph_connected_components: contraction output aggregates on " +
      "the label key — equi joins only, no cartesian") {
    val p = plan(q("graph_connected_components"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("HashAggregate"), p.take(2000))
  }

  test("llm_dedup_paragraph: decision is a digest-keyed window, " +
      "reassembly joins on doc_id — never all-pairs") {
    val p = plan(q("llm_dedup_paragraph"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // the keeper decision partitions the window on the chunk digest
    // (md5 computed below the exchange), and the final doc-level
    // stitch is an equi join on doc_id
    assert(p.contains("md5(") && p.contains("Window"), p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("agg_mode: two-level partial aggregation, no Window, no join") {
    val p = plan(q("agg_mode"))
    // count level = HashAggregate pair; min_by level = SortAggregate
    // pair (struct buffers aren't hash-aggregable) — 4 aggregate nodes
    // means both levels combine map-side before their shuffle
    assert("HashAggregate|SortAggregate".r.findAllIn(p).size >= 4,
      p.take(2000))
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("llm_sample_split: map-side only — no exchange except output order") {
    val p = plan(q("llm_sample_split"))
    // one rangepartitioning exchange for the final orderBy; the split
    // itself must add no shuffle (pure projection over the scan)
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1, p.take(2000))
    assert(!p.contains("hashpartitioning"), p.take(2000))
  }

  test("ads_retention_daily: day-shifted self join is equi, not cartesian") {
    val p = plan(q("ads_retention_daily"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("agg_hist: partial aggregation on the compound bucket key") {
    val p = plan(q("agg_hist"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("Window") && !p.contains("Join"), p.take(2000))
  }

  test("fn_regex: map-side only — no exchange except output order") {
    val p = plan(q("fn_regex"))
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1, p.take(2000))
    assert(!p.contains("hashpartitioning"), p.take(2000))
  }

  test("ads_funnel_steps: user-level joins are equi; partial aggregation") {
    val p = plan(q("ads_funnel_steps"))
    // the only non-equi joins are the 1-row step-count combiners at the
    // very top; the per-user funnel joins must be broadcast/hash equi
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"),
      p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(2000))
  }

  test("win_sessionize: both windows share one user partitioning") {
    val p = plan(q("win_sessionize"))
    // lag window and running-sum window use the same (user_id) ordering,
    // so Catalyst plans ONE hash exchange + the final orderBy range
    // exchange — a second hashpartitioning would mean a wasted shuffle
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2, p.take(2500))
    assert("hashpartitioning".r.findAllIn(p).size <= 1, p.take(2500))
    // and no window runs unpartitioned: a global window funnels the
    // whole events table through one task (Exchange SinglePartition) —
    // the scale-killer this op is shaped to avoid
    assert(!p.contains("SinglePartition"), p.take(2500))
  }

  test("multimodal codecs: payloads never shuffle — the one allowed " +
      "hash exchange carries only the 8-byte id column") {
    // both real-codec paths (PNG, WAV) generate and decode payloads on
    // the executors; the round-21 id-only repartition BEFORE the codec
    // seam is allowed (it parallelizes the CPU-bound codec work at any
    // scale and ships nothing but doc_id — guide §2.5/§8), but the
    // exchange must sit BELOW the codec in the plan so no payload byte
    // ever crosses it, and no join may sneak in
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    for (key <- Seq("llm_multimodal_image", "llm_multimodal_audio")) {
      val df = q(key)
      val p = plan(df)
      assert(!p.contains("Join"), s"$key: ${p.take(2000)}")
      assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2,
        s"$key: ${p.take(2000)}")
      assert("hashpartitioning".r.findAllIn(p).size <= 1,
        s"$key: ${p.take(2000)}")
      // the hash exchange's output is exactly the bare id — the
      // payload (generated above it) cannot cross a shuffle. Checked on
      // the exchange node itself: a plan that shuffled full payload
      // rows partitioned by doc_id would still match the text above.
      val hashExchanges = new AdaptiveSparkPlanHelper {}.collect(
          df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec
            if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(hashExchanges.size == 1,
        s"$key: expected one hash exchange: ${p.take(2000)}")
      assert(hashExchanges.head.output.map(_.name) == Seq("doc_id"),
        s"$key: hash exchange carries ${hashExchanges.head.output}")
    }
  }

  test("win_share_of_total: one keyed shuffle, no self-join on the total") {
    val p = plan(q("win_share_of_total"))
    // the denominator is a partition-frame window over the SAME
    // (o_orderpriority) shuffle the rows already need — a groupBy-total
    // self-join (the naive shape) would add a second hashpartitioning
    // and a Join; a global window would add SinglePartition
    assert("hashpartitioning".r.findAllIn(p).size <= 1, p.take(2500))
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2, p.take(2500))
    assert(!p.contains("Join"), p.take(2500))
    assert(!p.contains("SinglePartition"), p.take(2500))
  }

  test("stream_dedup_keys: one keyed shuffle, no join") {
    val p = plan(q("stream_dedup_keys"))
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("fn_url: map-side only — no exchange except output order") {
    val p = plan(q("fn_url"))
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1, p.take(2000))
    assert(!p.contains("hashpartitioning"), p.take(2000))
  }

  test("fn_xml: map-side only — no exchange except output order") {
    val p = plan(q("fn_xml"))
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1, p.take(2000))
    assert(!p.contains("hashpartitioning"), p.take(2000))
  }

  test("source_jdbc_dim: predicate pushes into the database, read is " +
      "partitioned") {
    val p = plan(q("source_jdbc_dim"))
    assert(p.contains("JDBCRelation"), p.take(2000))
    // the filter must execute IN the database (PushedFilters on the
    // JDBC scan), and the fetch must be split across partitions
    assert(p.contains("numPartitions=4"), p.take(2000))
    assert("PushedFilters:.*N_REGIONKEY|PushedFilters:.*n_regionkey".r
      .findFirstIn(p).isDefined, p.take(2000))
  }

  test("agg_unpivot: a map-side Expand above the one aggregate shuffle") {
    val p = plan(q("agg_unpivot"))
    assert(p.contains("Expand"), p.take(2000))
    // exactly the wide-table agg exchange + the output sort — the
    // unpivot itself must add no shuffle
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 2, p.take(2000))
  }

  test("fn_try_arith: map-side only — no exchange except output order") {
    val p = plan(q("fn_try_arith"))
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1, p.take(2000))
    assert(!p.contains("hashpartitioning"), p.take(2000))
  }

  test("fn_collation: map-side filter + order, no keyed shuffle") {
    val p = plan(q("fn_collation"))
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1, p.take(2000))
    assert(!p.contains("hashpartitioning"), p.take(2000))
  }

  test("parameterized SQL pushes its bound filter to the scan; " +
      "scripted SQL returns an eagerly-executed LOCAL result") {
    // named params bind into a normal lazy plan — pushdown intact
    val p = plan(q("sql_named_params"))
    assert(p.contains("EqualTo(event_type,purchase)"), p.take(2000))
    // BEGIN…END scripts EXECUTE when sql() returns: the handed-back
    // frame is the materialized last statement (LocalTableScan), i.e.
    // driver-resident rows. That is the API's semantics, and the
    // scale rule it implies — a script's final SELECT must be a
    // board-sized aggregate, never a full-table scan — is documented
    // on the key; this assertion pins the behavior so an upgrade that
    // changes it gets noticed.
    val ps = plan(q("sql_script_vars"))
    assert(ps.contains("LocalTableScan"), ps.take(2000))
  }

  test("sql_pipe_board: pipe stages compile to the classic plan — " +
      "pushdown reaches the scan, aggregation is partial") {
    val p = plan(q("sql_pipe_board"))
    assert(p.contains("EqualTo(event_type,purchase)"), p.take(2000))
    assert(p.contains("partial_count"), p.take(2000))
  }

  test("join_lateral_topn decorrelates to a window rank — no " +
      "per-customer subquery re-execution") {
    val p = plan(q("join_lateral_topn"))
    // the LATERAL ( … ORDER BY … LIMIT 3 ) must compile to the same
    // scalable shape as the hand-written win_rank_topn: a window
    // rank over the orders side plus ONE equi join — never a nested
    // loop that re-runs the subquery per outer row
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("Window"), p.take(2000))
    assert(p.contains("row_number") || p.contains("rank"), p.take(2000))
  }

  test("agg_listagg: partial aggregation, one keyed shuffle") {
    val p = plan(q("agg_listagg"))
    // assert on the listagg partial SPECIFICALLY — a bare "partial"
    // fallback is satisfied by the companion count's partial_count and
    // could never fail even if listagg lost partial aggregation
    assert(p.contains("partial_listagg"), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("join_dpp_pruned: dynamicpruning subquery lands on the fact " +
      "scan and prunes partitions at runtime (falsifiability: DPP off " +
      "reads every partition)") {
    // the planning-time shape: the fact scan's PartitionFilters carry a
    // dynamicpruning expression fed by the broadcast dim
    val p = plan(q("join_dpp_pruned"))
    assert(p.contains("dynamicpruning"), p.take(3000))

    val (factDir, _) = graft.ops.Joins.dppTables(spark, sf)
    val total = new java.io.File(new java.net.URI(factDir)).listFiles()
      .count(_.getName.startsWith("day="))
    assert(total > 2, s"fixture produced only $total day partitions")

    // runtime proof via the scan's own driver metric ("number of
    // partitions read"), AQE off so the executed plan is directly
    // traversable
    def partitionsRead(dppOn: Boolean): Long = {
      val keys = Seq("spark.sql.adaptive.enabled",
        "spark.sql.optimizer.dynamicPartitionPruning.enabled")
      val saved = keys.map(k => k -> spark.conf.getOption(k))
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        spark.conf.set(
          "spark.sql.optimizer.dynamicPartitionPruning.enabled",
          dppOn.toString)
        val df = q("join_dpp_pruned")
        df.collect()
        val scans = df.queryExecution.executedPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
              if f.relation.location.rootPaths
                .exists(_.toString.contains("dppfact")) => f
        }
        assert(scans.nonEmpty, "no fact scan in executed plan")
        scans.head.metrics("numPartitions").value
      } finally saved.foreach { case (k, ov) =>
        ov.fold(spark.conf.unset(k))(v => spark.conf.set(k, v)) }
    }
    val off = partitionsRead(dppOn = false)
    val on = partitionsRead(dppOn = true)
    assert(off == total, s"DPP-off control read $off of $total partitions")
    assert(on < total, s"DPP on still read $on of $total — nothing pruned")
  }

  test("runtime bloom-filter join pruning: might_contain on the fact " +
      "key feeds the fact scan of a selective dim SMJ (falsifiability: " +
      "disabled leaves no runtime filter)") {
    import org.apache.spark.sql.functions.{col, count, lit}
    // the row-level companion to DPP for UNpartitioned join keys: the
    // filtered dim builds a bloom filter at runtime and the fact side
    // is pre-filtered before its shuffle. Thresholds: the application-
    // side scan must look big enough (100 TB facts always do; the
    // fixture needs the floor dropped) and broadcast must not
    // short-circuit the shuffle join under test.
    def planWith(enabled: Boolean): String = {
      val confs = Seq(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter." +
          "applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.enabled"
          -> enabled.toString)
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        val li = spark.read.parquet(s"$sf/lineitem.parquet")
        val pt = spark.read.parquet(s"$sf/part.parquet")
        plan(li.join(pt.where(col("p_size") === 1),
            col("l_partkey") === col("p_partkey"))
          .groupBy("p_size").agg(count(lit(1)).as("n")))
      } finally saved.foreach { case (k, ov) =>
        ov.fold(spark.conf.unset(k))(v => spark.conf.set(k, v)) }
    }
    val on = planWith(enabled = true)
    assert(on.contains("might_contain"), on.take(3000))
    assert(on.contains("bloom_filter_agg"), on.take(3000))
    // the runtime filter must test the FACT key, i.e. hash(l_partkey)
    assert("might_contain\\(.*xxhash64\\(l_partkey".r.findFirstIn(on)
      .isDefined || "xxhash64\\(l_partkey".r.findFirstIn(on).isDefined,
      on.take(3000))
    val off = planWith(enabled = false)
    assert(!off.contains("might_contain"), off.take(2000))
  }

  test("AQE skew-join splits the hot-key partition at runtime — the " +
      "100× answer the manual salt backstops") {
    // join_skew_salted is the MANUAL fallback; at production scale the
    // first answer is spark.sql.adaptive.skewJoin (round-12 verdict
    // item 4). Pin that it actually fires: on the SkewRehearsal bot-
    // user fixture, the plain fact ⋈ per-user-dim shuffle join's
    // executed plan must show the skew split (skew=true) when AQE
    // skew handling is forced with fixture-scaled thresholds — and
    // must NOT when skew handling is off (falsifiability control).
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_skewplan").toString
    SkewRehearsal.synthEvents(spark, dir, 100000L)
    // the dim is MATERIALIZED first (production reads it as a table):
    // OptimizeSkewedJoin only matches Sort(ShuffleQueryStage) directly
    // under the join on BOTH sides, so an inline aggregate between the
    // dim's sort and its shuffle silently defeats the rule — measured
    // in round 13, and itself a deployment lesson worth pinning here
    graft.ops.Tables.events(spark, dir).groupBy("user_id")
      .agg(count(lit(1)).as("user_events"))
      .write.mode("overwrite").parquet(s"$dir/user_dim.parquet")
    def run(skewOn: Boolean): String = {
      val s = spark.newSession()
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s.conf.set("spark.sql.shuffle.partitions", "32")
      s.conf.set("spark.sql.adaptive.enabled", "true")
      s.conf.set("spark.sql.adaptive.skewJoin.enabled", skewOn.toString)
      if (skewOn) {
        s.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        s.conf.set(
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        s.conf.set("spark.sql.adaptive.skewJoin." +
          "skewedPartitionThresholdInBytes", "32k")
        s.conf.set(
          "spark.sql.adaptive.advisoryPartitionSizeInBytes", "32k")
      }
      val fact = graft.ops.Tables.events(s, dir)
        .select(col("event_id"), col("user_id"))
      val dim = s.read.parquet(s"$dir/user_dim.parquet")
      val joined = fact.join(dim, Seq("user_id"))
      // execute through the dataset's OWN QueryExecution so the
      // adaptive plan finalizes on it (a write action would plan a
      // fresh command and leave this one unexecuted); toRdd.count
      // avoids materializing 200k Rows on the driver
      assert(joined.queryExecution.toRdd.count() === 200000)
      joined.queryExecution.executedPlan.toString
    }
    val withSkew = run(skewOn = true)
    assert(withSkew.contains("skew=true"), withSkew.take(3000))
    val without = run(skewOn = false)
    assert(!without.contains("skew=true"), without.take(3000))
  }

  test("constant-key windows consume reduced calendar-bounded inputs") {
    // The "no unpartitioned Window.orderBy" rule above admits
    // Window.partitionBy(lit(0)) only over PROVABLY REDUCED tables.
    // Prove it in plans, not comments (round-12 verdict item 6): in
    // each of the three constant-key-window queries, every path from
    // the Window node down to a leaf must pass through an Aggregate —
    // the raw fact table can never reach the single partition; what
    // does is a day/hour-grouped rollup whose cardinality is bounded
    // by calendar time, not data volume.
    import org.apache.spark.sql.catalyst.plans.logical.{
      Aggregate, LogicalPlan, Window => LWindow}
    def reduced(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      // a persisted intermediate (win_gapfill's hourly table) is a
      // leaf here; the reduction lives inside its cached physical plan
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        m.cachedPlan.toString.contains("HashAggregate")
      case l if l.children.isEmpty => false
      case o => o.children.forall(reduced)
    }
    Seq("ads_gmv_cumulative", "win_gapfill", "ads_anomaly_zscore")
      .foreach { name =>
        val plan = q(name).queryExecution.optimizedPlan
        val wins = plan.collect { case w: LWindow => w }
        assert(wins.nonEmpty, s"$name: expected a Window node")
        wins.foreach(w => assert(reduced(w.child),
          s"$name: a Window consumes an unreduced input:\n${w.child}"))
      }
    // falsifiable: the same predicate rejects a constant-key window
    // straight over the raw fact table
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val raw = graft.ops.Tables.events(spark, sf)
      .withColumn("r", sum(col("value")).over(
        Window.partitionBy(lit(0)).orderBy("event_id")))
    val badWins = raw.queryExecution.optimizedPlan
      .collect { case w: LWindow => w }
    assert(badWins.exists(w => !reduced(w.child)),
      "predicate failed to reject a window over the raw fact table")
  }

  test("fn_json_variant: map-side only — no exchange except output order") {
    val p = plan(q("fn_json_variant"))
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1, p.take(2000))
    assert(!p.contains("hashpartitioning"), p.take(2000))
    // one parse feeding all six extractions, not one parse per field
    assert("parse_json".r.findAllIn(p.toLowerCase).size <= 2, p.take(2000))
  }

  test("llm_dedup_prune: equi joins only, like the cluster table") {
    val p = plan(q("llm_dedup_prune"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("llm_ngram_counts: partial counts + TakeOrderedAndProject top-k") {
    val p = plan(q("llm_ngram_counts"))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("ads_wau_rolling: explode + broadcast equi semi join, no BNLJ") {
    val p = plan(q("ads_wau_rolling"))
    // each activity day explodes into its ≤7 windows map-side; the
    // observed-days filter must be an equi semi join on the broadcast
    // day list — a range-predicate nested loop would be |act|×|days|
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(p.contains("Generate"), p.take(2000))
  }

  test("agg_cube: one expand + partial aggregation, no join") {
    val p = plan(q("agg_cube"))
    assert(p.contains("Expand"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("llm_pii_scrub: map-side only — no exchange except output order") {
    val p = plan(q("llm_pii_scrub"))
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1, p.take(2000))
    assert(!p.contains("hashpartitioning"), p.take(2000))
  }

  test("llm_tfidf: equi joins only; corpus count broadcasts") {
    val p = plan(q("llm_tfidf"))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("Broadcast"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(2000))
  }

  test("llm_chunk_overlap: map-side explode, no shuffle except order") {
    val p = plan(q("llm_chunk_overlap"))
    assert(p.contains("Generate"), p.take(2000))
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1, p.take(2000))
    assert(!p.contains("hashpartitioning"), p.take(2000))
  }

  test("llm_pack_sequences: one keyed window shuffle, no join") {
    val p = plan(q("llm_pack_sequences"))
    assert(p.contains("Window"), p.take(2000))
    assert("hashpartitioning".r.findAllIn(p).size <= 1, p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
  }

  test("llm_decontaminate: benchmark shingle set broadcasts; no doc×doc " +
      "join anywhere") {
    val p = plan(q("llm_decontaminate"))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("llm_repetition_filter: map-side only — no exchange except " +
      "output order") {
    val p = plan(q("llm_repetition_filter"))
    assert("\\(\\d+\\) Exchange".r.findAllIn(p).size <= 1, p.take(2000))
    assert(!p.contains("hashpartitioning"), p.take(2000))
  }

  test("llm_domain_balance: per-source rates join back as a broadcast") {
    val p = plan(q("llm_domain_balance"))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
  }

  test("win_gapfill: the data-scale work is a partial hour-keyed agg; " +
      "the LOCF window sees only the spine") {
    val p = plan(q("win_gapfill"))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    // partial + final aggregation on the events scan
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
    // the spine explode feeds the join, not the base table
    assert(p.contains("Generate") && p.contains("explode("), p.take(2000))
  }

  test("ads_cohort_matrix: distinct + cohort-label joins are all equi") {
    val p = plan(q("ads_cohort_matrix"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(2000))
  }

  test("stream_window_cumulate: map-side explode + one keyed agg, " +
      "no join") {
    val p = plan(q("stream_window_cumulate"))
    assert(p.contains("Generate") && p.contains("explode("), p.take(2000))
    assert(!p.contains("Join"), p.take(2000))
    assert("hashpartitioning".r.findAllIn(p).size <= 1, p.take(2000))
  }

  test("llm_perplexity_proxy: token-vocab join is equi; corpus total " +
      "broadcasts as one row") {
    val p = plan(q("llm_perplexity_proxy"))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("Broadcast"), p.take(2000))
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(2000))
  }

  test("cep_pattern_match: run-length windows + lead, no self-join") {
    // the naive shape self-joins the run table on run_id±1; the shipped
    // plan is pure windows + one keyed aggregate — the run subtree
    // evaluates once and every exchange is keyed
    val p = plan(q("cep_pattern_match"))
    assert(!p.contains("Join"), p.take(2000))
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("cep_absence_timeout: one user-keyed window, no per-event join") {
    val p = plan(q("cep_absence_timeout"))
    assert(!p.contains("Join"), p.take(2000))
    assert("hashpartitioning".r.findAllIn(p).size <= 1, p.take(2000))
    // the next-purchase lookup must be a GROWING frame (desc order,
    // unboundedpreceding..-1), never an unbounded-FOLLOWING frame —
    // Spark re-aggregates those from scratch per row (O(n²) per user;
    // a 10⁵-event hot user would do 10¹⁰ buffer adds)
    assert(!p.toLowerCase.contains("unboundedfollowing"), p.take(3000))
  }

  test("ads_attribution: join is equi on the compound (user, 72h-bucket) " +
      "key; windows key on purchase id, never one partition") {
    val p = plan(q("ads_attribution"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("SinglePartition"), p.take(2000))
    // the time bucket must ride the equi key (SMJ/SHJ "Left keys"
    // lists), bounding a hot user's fan-in by clicks-per-72h-window —
    // user_id alone would rebuild the bot-user hazard
    val keyLines = p.linesIterator
      .filter(l => l.contains("keys") && l.contains("user_id")).toSeq
    assert(keyLines.nonEmpty && keyLines.forall(_.contains("bkt#")),
      p.take(3000))
  }

  test("cep_pattern_times / cep_pattern_optional: windows only, no " +
      "self-join, no single partition") {
    Seq("cep_pattern_times", "cep_pattern_optional").foreach { k =>
      val p = plan(q(k))
      assert(!p.contains("Join"), s"$k: ${p.take(2000)}")
      assert(p.contains("Window"), s"$k: ${p.take(2000)}")
      assert(!p.contains("SinglePartition"), s"$k: ${p.take(2000)}")
    }
  }

  test("merge_upsert: both latest-image windows and the full-outer join " +
      "share the user_id partitioning — no cartesian, no re-shuffle") {
    val p = plan(q("merge_upsert"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(2000))
    // two window sorts + one SMJ, all clustered on user_id: the only
    // hash exchanges are the two initial per-side shuffles (plus none
    // for the join, which reuses them)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size <= 2,
      p.take(3000))
  }

  test("fn_rules_apply: the rules relation broadcasts — the events fact " +
      "side never shuffles") {
    val p = plan(q("fn_rules_apply"))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    assert(!p.contains("hashpartitioning"), p.take(3000))
  }

  test("win_session_dynamic: one user-keyed window pass, like the " +
      "fixed-gap form") {
    val p = plan(q("win_session_dynamic"))
    assert(!p.contains("Join"), p.take(2000))
    assert("hashpartitioning".r.findAllIn(p).size <= 1, p.take(2000))
  }

  test("graph iterative loops: the persisted src-partitioned edge table " +
      "is never re-shuffled — a round exchanges only on the agg key") {
    // the shipped queries persist tradeGraph repartitioned on the
    // per-round join key `src` (Graph.partitionedEdges); every
    // iteration's join must then reuse that one exchange instead of
    // re-shuffling |E| edges per round. AQE + auto-broadcast off so the
    // assertion pins the non-broadcast shape a billion-node graph gets
    // (at test scale AQE would broadcast the node side — fine, but it
    // would hide the partitioning-reuse property this test is about).
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val confs = Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val oe = graft.ops.Graph.tradeGraph(spark, sf)
        .repartition(col("src")).persist()
      try {
        oe.count() // materialize so the join sees the cached partitioning
        val ranks = oe.select(col("src").as("node")).distinct()
          .withColumn("rank", lit(0.001))
        val it = graft.ops.Graph.iterate(ranks, oe, 0.001)
        val shuffles = it.queryExecution.executedPlan.collect {
          case s: ShuffleExchangeExec => s.outputPartitioning.toString }
        // exactly one shuffle — the dst-keyed aggregation; neither join
        // input exchanges (edges ride the persisted partitioning, and
        // this round's node side derives from it)
        assert(shuffles.size == 1 && shuffles.head.contains("dst"),
          shuffles.mkString("; ") + "\n" +
            it.queryExecution.executedPlan.toString.take(3000))
      } finally { oe.unpersist(); () }
    } finally saved.foreach { case (k, ov) =>
      ov.fold(spark.conf.unset(k))(v => spark.conf.set(k, v)) }
  }

  test("graph_pagerank: one iteration = one keyed shuffle over an equi " +
      "join with partial aggregation (asserted pre-checkpoint)") {
    // the shipped query localCheckpoints each round (lineage), which
    // hides the iteration plan — assert on the un-checkpointed form
    import org.apache.spark.sql.functions.{col, lit}
    val oe = graft.ops.Graph.outEdges(spark, sf)
    val ranks = oe.select(col("src").as("node"))
      .distinct().withColumn("rank", lit(0.001))
    val p = plan(graft.ops.Graph.iterate(ranks, oe, 0.001))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    // contributions combine map-side before the dst shuffle
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(4000))
    assert(!p.contains("SinglePartition"), p.take(4000))
  }

  test("cep_iterative_condition: windows only, no self-join, no single " +
      "partition") {
    val p = plan(q("cep_iterative_condition"))
    assert(!p.contains("Join"), p.take(2000))
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("cdc_retract_agg: user-keyed lag + band-keyed partial agg, " +
      "no join") {
    val p = plan(q("cdc_retract_agg"))
    assert(!p.contains("Join"), p.take(2000))
    assert(!p.contains("SinglePartition"), p.take(2000))
    // map-side partial aggregation on the band key
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("ads_path_topn: user-keyed session windows + top-10 as " +
      "TakeOrderedAndProject, never a global sort") {
    val p = plan(q("ads_path_topn"))
    assert(!p.contains("Join"), p.take(2000))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("ads_rfm_segments: quartile scoring is map-side against 1-row " +
      "broadcasts — no global ntile window anywhere") {
    val p = plan(q("ads_rfm_segments"))
    // the whole point: scoring must NOT rank users in a window (the
    // single-partition trap at 1e9 users); cutoffs ride tiny broadcasts
    assert(!p.contains("Window"), p.take(2000))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(2000))
  }

  test("llm_semdedup: candidate pairs meet on the bucket equi key; " +
      "assignment broadcasts stay nested-loop-free of the corpus") {
    val p = plan(q("llm_semdedup"))
    assert(!p.contains("CartesianProduct"), p.take(2000))
    val keyLines = p.linesIterator
      .filter(l => l.contains("keys") && l.contains("bucket")).toSeq
    assert(keyLines.nonEmpty, p.take(3000))
  }

  test("cep_pattern_until: windows only, no self-join, no single " +
      "partition") {
    val p = plan(q("cep_pattern_until"))
    assert(!p.contains("Join"), p.take(2000))
    assert(p.contains("Window"), p.take(2000))
    assert(!p.contains("SinglePartition"), p.take(2000))
  }

  test("ads_anomaly_zscore: one keyed day-reduction, then the constant-" +
      "key window only over the per-day table") {
    val p = plan(q("ads_anomaly_zscore"))
    assert(!p.contains("Join"), p.take(2000))
    // the only keyed exchange is the per-day groupBy (partial agg on
    // both sides of it); the trailing-window pass rides the reduced
    // table
    assert("hashpartitioning".r.findAllIn(p).size <= 1, p.take(3000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("graph_shortest_path: one BFS round = equi joins + map-side min, " +
      "no cartesian (asserted pre-checkpoint)") {
    import org.apache.spark.sql.functions.{col, lit, when}
    val oe = graft.ops.Graph.outEdges(spark, sf)
    val dist = oe.select(col("src")).distinct()
      .select(col("src").as("node"),
        when(col("src") === "c1", lit(0L)).otherwise(lit(1000000L))
          .as("dist"))
    val p = plan(graft.ops.Graph.spIterate(dist, oe))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    // the dst-keyed min combines map-side before its shuffle
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(4000))
    assert(!p.contains("SinglePartition"), p.take(4000))
  }

  test("graph_label_propagation: one round = equi join + keyed count + " +
      "dst-keyed min_by argmax, no cartesian (asserted pre-checkpoint)") {
    import org.apache.spark.sql.functions.col
    val oe = graft.ops.Graph.outEdges(spark, sf)
    val labels = oe.select(col("src")).distinct()
      .select(col("src").as("node"), col("src").as("label"))
    val p = plan(graft.ops.Graph.lpIterate(labels, oe))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    // both the (dst,label) count and the dst argmax combine map-side
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(4000))
    // the argmax is a keyed aggregate, not a window — no sort, never a
    // single partition
    assert(!p.contains("Window"), p.take(4000))
    assert(!p.contains("SinglePartition"), p.take(4000))
  }

  test("ads_province_board: fact aggregates BEFORE joining, dims " +
      "broadcast, no single-partition stage") {
    val p = plan(q("ads_province_board"))
    // nation and region ride broadcast hash joins
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p.take(4000))
    assert(!p.contains("CartesianProduct"), p.take(4000))
    assert(!p.contains("SinglePartition"), p.take(4000))
    // aggregate-before-join: the per-customer rollup's partial+final
    // HashAggregates appear below the customer join
    assert("HashAggregate".r.findAllIn(p).size >= 4, p.take(4000))
  }

  test("ads_traffic_board: user-keyed sessionization, day-keyed rollups, " +
      "no single-partition stage") {
    val p = plan(q("ads_traffic_board"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(4000))
    assert(!p.contains("SinglePartition"), p.take(4000))
  }

  test("ads_top_products: rank<=3 pushes down as WindowGroupLimit; " +
      "brand decorate is a broadcast join") {
    // the board BEFORE its JDBC publish — the exact plan the key runs.
    // WindowGroupLimit is the two-phase per-partition top-k (each
    // shuffle input forwards ≤3 rows per month), the property that
    // keeps a 20M-active-parts month from funneling unreduced through
    // one window task at 100 TB.
    val p = plan(graft.ops.Ads.topProductsBoard(TestSpark.spark,
      TestSpark.sf))
    assert(p.contains("WindowGroupLimit"), p.take(4000))
    assert(p.contains("BroadcastHashJoin"), p.take(4000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(4000))
  }

  test("whole-stage codegen covers the hot path of the Q1-shape agg") {
    // AQE finalizes codegen stages only at execution: run the query, then
    // inspect the executed plan.
    val df = q("agg_group_multi")
    df.collect()
    // "*(n)" node prefixes mark WholeStageCodegen stages in plan strings;
    // both HashAggregates (partial + final) must be inside one.
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*(1) HashAggregate") || p.contains("*(2) HashAggregate"),
      p.take(800))
  }
}
