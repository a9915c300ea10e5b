package graft.ops

import org.apache.spark.sql.functions._

/** Iterative graph analytics (the Flink-Gelly side of the reference
  * genre — "Flink实时数仓", /root/reference/README.md:2): PageRank,
  * single-source shortest path (BFS), and label-propagation community
  * detection over the customer↔supplier trade graph.
  *
  * Scale notes: all three loops share one materialized edge table
  * ([[tradeGraph]]) persisted pre-partitioned on the per-round join
  * key ([[partitionedEdges]]), so each iteration is ONE keyed shuffle
  * of the |N|-row state side against a stationary |E|-row side — the
  * `llm_dedup_clusters` contraction shape, linear per round at any
  * graph size, every join an equi join (plan-asserted in PlanSpec,
  * including the no-re-shuffle property of the persisted edge side).
  * Per-iteration LAZY `localCheckpoint` truncates lineage so rounds
  * don't compound into one mega-plan (the measured 61 s→9 s lesson
  * from the dedup cluster loop) without a separate materialization
  * job per round. Cross-engine determinism: per-edge contributions
  * round to 12 dp and accumulate in DECIMAL(38,12), and each
  * iteration's rank re-quantizes to 10 dp — both engines walk the
  * identical quantized trajectory, so the oracle compare is
  * hash-exact, not approximate (the SNIPPETS.md
  * order-independent-money discipline applied to rank mass).
  */
object Graph {
  import Tables._

  /** Damping factor and iteration count — fixed so the DuckDB oracle
    * can unroll the loop as plain CTEs (no recursive aggregation). */
  private val damping = 0.85
  private val iters = 5

  private val DecimalType38_12 =
    org.apache.spark.sql.types.DecimalType(38, 12)

  /** The static per-iteration join input (src, dst, deg): undirected
    * trade edges from orders ⋈ lineitem with each source's out-degree
    * attached. This is the BUILD plan; queries read it through
    * [[tradeGraph]] (materialized once per corpus per JVM) and persist
    * it pre-partitioned on `src` via [[partitionedEdges]]. */
  def outEdges(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val pairs = t(s, d, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(t(s, d, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(concat(lit("c"), col("o_custkey")).as("a"),
        concat(lit("s"), col("l_suppkey")).as("b"))
      .distinct()
    val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
      .union(pairs.select(col("b").as("src"), col("a").as("dst")))
    edges.join(edges.groupBy("src").agg(count(lit(1)).as("deg")), "src")
  }

  /** Content-keyed materialization of [[outEdges]] — the graph
    * analytics family's shared input, built once per corpus snapshot
    * and read by all the iterative ops, exactly like production graph
    * systems materialize the edge list before running analytics over it
    * (and exactly like the dedup cluster table in `LlmExtra`). Keyed on
    * the orders+lineitem parquet footers (see [[Snapshot]]); rooted at
    * [[Artifacts]], so `spark.graft.artifactRoot` pointed at shared
    * storage makes the table cluster-visible and cross-session, while
    * the unset default keeps the pre-round-12 per-JVM tmpdir
    * semantics. */
  def tradeGraph(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val key = Snapshot.of(Seq(s"$d/orders.parquet", s"$d/lineitem.parquet"))
    Artifacts.parquet(s, "graph", key)(outEdges(s, d))
  }

  /** The iterative loops' stationary side: the materialized edge table
    * hash-partitioned on the per-round join key `src` and persisted, so
    * every iteration's equi join reuses ONE exchange of the big side
    * instead of re-shuffling |E| edge rows per round (the rank/dist/
    * label side — |N| rows — still shuffles each round, as it must:
    * small side moves, big side stays put, the co-located-join
    * discipline that survives a 1000-executor graph). Measured at
    * sf0.1: pagerank 8.4 s → 5.5 s warm, and first-measurement
    * variance collapses for all three ops (BENCH_LOG round-11
    * continuation). */
  private def partitionedEdges(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    OpCache.track(tradeGraph(s, d).repartition(col("src")))

  /** |N| per corpus snapshot, computed once per JVM (content-keyed
    * like the artifact it derives from): pagerank's teleport term and
    * uniform start need the exact count, and the memo spares repeat
    * invocations on the same corpus a distinct-count job. */
  private val nodeCountCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def nodeCount(s: org.apache.spark.sql.SparkSession, d: String,
      nodes: => org.apache.spark.sql.DataFrame): Long =
    nodeCountCache.computeIfAbsent(
      Snapshot.of(Seq(s"$d/orders.parquet", s"$d/lineitem.parquet")),
      _ => java.lang.Long.valueOf(nodes.count())).longValue()

  /** ONE damped, quantized PageRank iteration: ranks(node, rank) ⋈
    * outEdges on the source key, contributions grouped by destination
    * — a single keyed shuffle, equi joins only (plan-asserted in
    * PlanSpec on exactly this un-checkpointed plan). The |N|-row state
    * side shuffles every round; broadcasting it measured a wash for
    * pagerank/BFS and a loss for LPA in local mode (BENCH_LOG
    * "round 20 — optimization round 1", OPTIMIZATION_r20.md change 2). */
  def iterate(ranks: org.apache.spark.sql.DataFrame,
      oe: org.apache.spark.sql.DataFrame, teleport: Double)
      : org.apache.spark.sql.DataFrame =
    oe.join(ranks, oe("src") === ranks("node"))
      .groupBy(col("dst"))
      .agg(round(lit(teleport) + lit(damping) *
        sum(round(col("rank") / col("deg"), 12)
          .cast(DecimalType38_12)).cast("double"), 10).as("rank"))
      .select(col("dst").as("node"), col("rank"))

  /** ONE BFS relaxation round: frontier ⋈ edges on the source key
    * emits per-edge candidates, then candidates UNION the current
    * distance table and a single node-keyed min folds both — the merge
    * costs one keyed shuffle with map-side partial min instead of a
    * second join (union is free; min(old, cand+1) ≡ the textbook
    * relaxation). Linear in |E|, equi join only (plan-asserted
    * un-checkpointed in PlanSpec). */
  def spIterate(dist: org.apache.spark.sql.DataFrame,
      oe: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cand = oe.join(dist.where(col("dist") < Inf),
        oe("src") === dist("node"))
      .select(oe("dst").as("node"), (col("dist") + 1L).as("dist"))
    dist.union(cand).groupBy("node").agg(min(col("dist")).as("dist"))
  }

  /** ONE synchronous label-propagation round: labels ⋈ edges on the
    * source key, (dst, label)-keyed count, then a dst-keyed
    * `min_by(label, (-count, label))` — the deterministic argmax
    * (count DESC, label ASC) as a plain aggregate with map-side
    * partials, no per-group sort/window (plan-asserted un-checkpointed
    * in PlanSpec). */
  def lpIterate(labels: org.apache.spark.sql.DataFrame,
      oe: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    oe.join(labels, oe("src") === labels("node"))
      .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
      .groupBy(col("dst"))
      .agg(min_by(col("label"),
        struct((-col("c")).as("nc"), col("label"))).as("label"))
      .select(col("dst").as("node"), col("label"))

  val queries: Map[String, Q] = Map(
    // PageRank over the bipartite customer↔supplier graph: an
    // UNDIRECTED edge per distinct (customer, supplier) pair that ever
    // traded (orders ⋈ lineitem), so no dangling-mass correction is
    // needed — every node has out-degree ≥ 1. Uniform start 1/N, 5
    // damped iterations, top-20 nodes by rank (ties broken by node id
    // so the cutoff is deterministic). The only driver-side scalar is
    // |N| — one count aggregate, the same class as the dedup-cluster
    // loop's convergence probe, never a per-row collect.
    "graph_pagerank" -> ((s, d) => {
      val oe = partitionedEdges(s, d)
      val nodes = oe.select(col("src")).distinct()
      // the only driver-side scalar is |N| — one count aggregate, the
      // same class as the dedup-cluster loop's convergence probe
      val n = nodeCount(s, d, nodes)
      val teleport = 0.15 / n // driver-computed double, same IEEE value
      // as the oracle's CAST(0.15 AS DOUBLE) / n
      var ranks = nodes.select(col("src").as("node"),
        lit(1.0 / n).as("rank"))
      for (_ <- 1 to iters)
        // localCheckpoint truncates lineage so 5 rounds don't
        // compound into one mega-plan (the dedup-cluster loop's
        // 61 s→9 s lesson). LAZY — the checkpoint computes inside the
        // next round's first action instead of paying a separate
        // materialization job per round; the round-13 interleaved
        // median-of-5 A/B (BENCH_LOG round 13) confirmed the round-11
        // single measurement (lazy wins at sf0.1 and ×10).
        ranks = iterate(ranks, oe, teleport).localCheckpoint(false)
      ranks.orderBy(col("rank").desc, col("node")).limit(20)
    }),

    // Single-source shortest path (Gelly's other flagship iterative op):
    // hop distance from customer "c1" over the same undirected trade
    // graph, bounded to `spIters` BFS rounds. Each round is ONE edge ⋈
    // frontier equi join + a dst-keyed min — linear in |E| per round,
    // the pagerank shuffle shape — with `localCheckpoint` truncating
    // lineage. Infinity is the INF sentinel (not NULL) so `least`
    // semantics are identical across engines; output keeps only reached
    // nodes (dist ≤ spIters by construction).
    "graph_shortest_path" -> ((s, d) => {
      val oe = partitionedEdges(s, d)
      var dist = oe.select(col("src")).distinct()
        .select(col("src").as("node"),
          when(col("src") === SpSeed, lit(0L)).otherwise(lit(Inf))
            .as("dist"))
      for (_ <- 1 to spIters)
        // lazy, like the pagerank loop above (dist is referenced
        // twice per round, so truncation is MANDATORY — only the
        // per-round materialization job is elective)
        dist = spIterate(dist, oe).localCheckpoint(false)
      dist.where(col("dist") < Inf).orderBy(col("dist"), col("node"))
    }),

    // Synchronous label propagation (community detection, Gelly
    // LabelPropagation): init label = own node id; each round every
    // node adopts its neighbors' most frequent label, ties broken by
    // smallest label so the trajectory is deterministic on both
    // engines; `lpIters` fixed rounds (sync LPA can oscillate — a fixed
    // round count is the standard determinism guarantee). Per round:
    // ONE edge ⋈ labels equi join + (dst, label)-keyed count + a
    // dst-keyed min_by argmax — all keyed shuffles linear in |E|.
    // Output is the community size table (top-20 by size, label
    // tiebreak).
    "graph_label_propagation" -> ((s, d) => {
      val oe = partitionedEdges(s, d)
      // checkpoint-per-round vs compound plan: each round references
      // `labels` exactly ONCE (the BFS round references `dist` twice,
      // so its un-checkpointed plan doubles per round; this one grows
      // linearly), so both are correct and the choice is purely
      // measured. Round 12 adopted the compound plan on a single
      // measurement and the per-run MEDIAN regressed 3.3→5.3 s; the
      // round-13 median-of-5 A/B (BENCH_LOG round 13) adopted the
      // per-round lazy checkpoint below.
      var labels = oe.select(col("src")).distinct()
        .select(col("src").as("node"), col("src").as("label"))
      for (_ <- 1 to lpIters) {
        labels = lpIterate(labels, oe).localCheckpoint(false)
      }
      labels.groupBy(col("label").as("community"))
        .agg(count(lit(1)).as("size"))
        .orderBy(col("size").desc, col("community")).limit(20)
    }),

    // Connected components (Gelly's fourth flagship op, completing the
    // trio): component label = min node id, computed by the SAME
    // supervertex-contraction + pointer-jumping loop the dedup cluster
    // table uses (LlmExtra.connectedComponents — min-hooking, three
    // s := s(s) jumps per round, loop until the edge set drains, loud
    // require on non-convergence). That loop is exact at ANY diameter,
    // so unlike the fixed-round LPA/BFS keys correctness never depends
    // on an iteration budget. Input is the shared materialized
    // tradeGraph artifact, one direction per undirected edge (src <
    // dst; the CC loop re-mirrors internally). On this corpus the
    // trade graph is ONE giant component at every SF (measured sf0.001
    // → sf0.1: bipartite customer↔supplier trading is near-complete) —
    // the honest result, so the output row carries three aggregates
    // (size, customer count, supplier count) to keep the oracle check
    // meaningful. Only the tiny label/edge tables iterate; the corpus-
    // sized join happens once inside the artifact build.
    "graph_connected_components" -> ((s, d) => {
      val pairs = tradeGraph(s, d)
        .where(col("src") < col("dst"))
        .select(col("src").as("doc_a"), col("dst").as("doc_b"))
      // hook below spark.graft.ccAutoEdges, star above (the
      // three-session A/B in BENCH_LOG round 14 put the crossover
      // between ×10 and ×30 of this fixture). Both exact at any
      // diameter, both label = component min.
      LlmExtra.componentsAuto(s, pairs, dedupePerRound = true)
        .groupBy(col("label").as("component"))
        .agg(count(lit(1)).as("size"),
          count(when(substring(col("doc_id"), 1, 1) === "c", 1))
            .as("n_customers"),
          count(when(substring(col("doc_id"), 1, 1) === "s", 1))
            .as("n_suppliers"))
        .orderBy(col("size").desc, col("component")).limit(20)
    })
  )

  /** BFS round bound / LPA round count / infinity sentinel — fixed so
    * the DuckDB oracle unrolls the same loops as plain CTEs. */
  private val spIters = 4
  private val lpIters = 3
  private val ccIters = 8
  private val Inf = 1000000L
  private val SpSeed = "c1"

  /** The 5 iterations unrolled as plain CTEs (standard SQL forbids
    * aggregation in a recursive CTE term; unrolling keeps the oracle
    * ANSI and byte-deterministic). */
  val oracleSql: Map[String, String] = {
    // shared undirected trade-graph CTEs (identical to `outEdges`)
    val graphCtes =
      """pairs AS (
        |  SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
        |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |edges AS (
        |  SELECT a AS src, b AS dst FROM pairs
        |  UNION ALL SELECT b AS src, a AS dst FROM pairs),
        |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)""".stripMargin
    val spCte = (k: Int) =>
      s"""c$k AS (
         |  SELECT e.dst AS node, min(d.dist) + 1 AS cand
         |  FROM edges e JOIN d${k - 1} d ON e.src = d.node
         |  WHERE d.dist < 1000000 GROUP BY e.dst),
         |d$k AS (
         |  SELECT d.node, least(d.dist, coalesce(c.cand, 1000000)) AS dist
         |  FROM d${k - 1} d LEFT JOIN c$k c ON d.node = c.node)""".stripMargin
    // MATERIALIZED is load-bearing: each cc_k is referenced TWICE (the
    // min-neighbor join and the least-join), so 8 un-materialized
    // rounds inline the base orders⋈lineitem join 2^8 times — measured
    // at sf0.1 that spilled >40 GB of DuckDB temp before dying, vs
    // 3.2 s with per-round materialization (the evaluation order every
    // engine, including the Spark side's localCheckpoint loop, wants).
    val ccCte = (k: Int) =>
      s"""m$k AS MATERIALIZED (
         |  SELECT e.src AS node, min(l.label) AS mn
         |  FROM edges e JOIN cc${k - 1} l ON e.dst = l.node
         |  GROUP BY e.src),
         |cc$k AS MATERIALIZED (
         |  SELECT l.node, least(l.label, coalesce(m.mn, l.label)) AS label
         |  FROM cc${k - 1} l LEFT JOIN m$k m ON l.node = m.node)""".stripMargin
    val lpCte = (k: Int) =>
      s"""n$k AS (
         |  SELECT e.dst AS node, l.label, count(*) AS c
         |  FROM edges e JOIN l${k - 1} l ON e.src = l.node
         |  GROUP BY e.dst, l.label),
         |l$k AS (
         |  SELECT node, label FROM (
         |    SELECT node, label, row_number() OVER (
         |      PARTITION BY node ORDER BY c DESC, label) AS rn FROM n$k)
         |  WHERE rn = 1)""".stripMargin
    val iterCte = (k: Int) =>
      s"""r$k AS (
         |  SELECT oe.dst AS node,
         |    round(CAST(0.15 AS DOUBLE) / (SELECT n FROM n)
         |      + CAST(0.85 AS DOUBLE) * CAST(sum(CAST(
         |          round(r.rank / oe.deg, 12) AS DECIMAL(38,12)))
         |        AS DOUBLE), 10) AS rank
         |  FROM r${k - 1} r JOIN oe ON r.node = oe.src
         |  GROUP BY oe.dst)""".stripMargin
    Map(
      "graph_pagerank" ->
        s"""WITH pairs AS (
           |  SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |edges AS (
           |  SELECT a AS src, b AS dst FROM pairs
           |  UNION ALL SELECT b AS src, a AS dst FROM pairs),
           |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           |oe AS (SELECT e.src, e.dst, d.deg
           |       FROM edges e JOIN deg d USING (src)),
           |n AS (SELECT count(*) AS n FROM deg),
           |r0 AS (SELECT src AS node,
           |         CAST(1.0 AS DOUBLE) / (SELECT n FROM n) AS rank
           |       FROM deg),
           |${(1 to iters).map(iterCte).mkString(",\n")}
           |SELECT node, rank FROM r$iters
           |ORDER BY rank DESC, node LIMIT 20""".stripMargin,

      "graph_shortest_path" ->
        s"""WITH $graphCtes,
           |d0 AS (SELECT src AS node,
           |         CASE WHEN src = 'c1' THEN 0 ELSE 1000000 END AS dist
           |       FROM deg),
           |${(1 to spIters).map(spCte).mkString(",\n")}
           |SELECT node, CAST(dist AS BIGINT) AS dist FROM d$spIters
           |WHERE dist < 1000000 ORDER BY dist, node""".stripMargin,

      "graph_label_propagation" ->
        s"""WITH $graphCtes,
           |l0 AS (SELECT src AS node, src AS label FROM deg),
           |${(1 to lpIters).map(lpCte).mkString(",\n")}
           |SELECT label AS community, count(*) AS size FROM l$lpIters
           |GROUP BY label ORDER BY size DESC, community LIMIT 20""".stripMargin,

      // Min-label propagation unrolled to ccIters rounds. The Spark
      // side converges exactly (contraction loop, no round budget);
      // the oracle's unroll must only REACH that fixpoint: measured
      // rounds-to-fixpoint on this corpus are 4 at sf0.01 and 5 at
      // sf0.1 (3 at sf0.001), so 8 is a ≥1.6× margin at every
      // verified scale. Every node has degree ≥ 1 by construction
      // (edges are mirrored), so the min-neighbor join never drops a
      // node; coalesce guards the general case anyway.
      "graph_connected_components" ->
        s"""WITH pairs AS MATERIALIZED (
           |  SELECT DISTINCT 'c' || o_custkey AS a, 's' || l_suppkey AS b
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |edges AS MATERIALIZED (
           |  SELECT a AS src, b AS dst FROM pairs
           |  UNION ALL SELECT b AS src, a AS dst FROM pairs),
           |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           |cc0 AS MATERIALIZED (SELECT src AS node, src AS label FROM deg),
           |${(1 to ccIters).map(ccCte).mkString(",\n")}
           |SELECT label AS component, count(*) AS size,
           |  count(CASE WHEN node LIKE 'c%' THEN 1 END) AS n_customers,
           |  count(CASE WHEN node LIKE 's%' THEN 1 END) AS n_suppliers
           |FROM cc$ccIters
           |GROUP BY label ORDER BY size DESC, component LIMIT 20""".stripMargin
    )
  }
}
