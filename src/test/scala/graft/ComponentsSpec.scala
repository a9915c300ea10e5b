package graft

import org.scalatest.funsuite.AnyFunSuite

/** connectedComponents on adversarial graph shapes the parquet-fixture
  * oracles can't produce: long paths whose diameter exceeds any fixed
  * contraction round count (the round-4 8-round loop mislabeled exactly
  * these), and mixed chains/cliques that must keep distinct labels. */
class ComponentsSpec extends AnyFunSuite {
  import TestSpark._

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    graft.ops.LlmExtra.connectedComponents(pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("40-vertex path: every vertex labels to the chain minimum") {
    val labels = cc((1L to 39L).map(i => (i, i + 1)))
    assert(labels.size === 40)
    assert(labels.values.forall(_ == 1L), labels.toSeq.sorted.mkString(","))
  }

  test("descending chain plus separate clique keep distinct min labels") {
    // ids descend along the chain, so first-round hooks all point to the
    // adjacent smaller id (worst case for hook-only contraction)
    val chain = (100L until 140L).map(i => (i, i + 1))
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 5L) yield (a, b)
    val labels = cc(chain ++ clique)
    assert((100L to 140L).forall(labels(_) == 100L))
    assert((1L to 5L).forall(labels(_) == 1L))
    assert(labels.size === 46)
  }

  test("empty pair list yields an empty labeling") {
    assert(cc(Seq.empty).isEmpty)
  }

  test("random graphs match a union-find reference") {
    // deterministic seed: the point is arbitrary shape coverage (stars,
    // chains, cycles, bridges), not run-to-run variation
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 40
      val pairs = Seq.tabulate(n) { _ =>
        val a = rnd.nextInt(200).toLong
        val b = rnd.nextInt(200).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      // local union-find with path compression as the oracle
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x
        else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      // re-root so every vertex maps to its component MINIMUM (find
      // roots are min-hooked above, so the root IS the minimum)
      val expected = verts.map(v => v -> find(v)).toMap
      assert(cc(pairs) === expected, s"trial $trial")
    }
  }

  private def ccStar(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    graft.ops.LlmExtra.connectedComponentsStar(
        pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("star contraction (Kiveris alternating large/small-star) " +
      "labels every shape identically to the hook loop") {
    // the same adversarial shapes: long path (diameter ≫ rounds of
    // naive hooking), descending chain + clique, random graphs
    val path = (1L to 39L).map(i => (i, i + 1))
    assert(ccStar(path) === cc(path))
    val chain = (100L until 140L).map(i => (i, i + 1))
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 5L) yield (a, b)
    assert(ccStar(chain ++ clique) === cc(chain ++ clique))
    assert(ccStar(Seq.empty).isEmpty)
    val rnd = new scala.util.Random(7)
    val pairs = Seq.tabulate(150) { _ =>
      val a = rnd.nextInt(200).toLong
      val b = rnd.nextInt(200).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    assert(ccStar(pairs) === cc(pairs))
  }

  test("componentsAuto dispatches by edge count: hook below the " +
      "threshold, star above") {
    import spark.implicits._
    import graft.ops.LlmExtra
    // a shape where the two algorithms take a DIFFERENT number of
    // rounds, so lastCcRounds identifies which one actually ran
    val path = (1L to 20L).map(i => (i, i + 1))
    def rounds(run: => Unit): Int = {
      LlmExtra.lastCcRounds = -1; run; LlmExtra.lastCcRounds
    }
    val df = path.toDF("doc_a", "doc_b")
    val hookRounds = rounds(LlmExtra.connectedComponents(df).collect())
    val starRounds = rounds(LlmExtra.connectedComponentsStar(df).collect())
    assert(hookRounds != starRounds,
      s"fixture can't distinguish the algorithms ($hookRounds rounds)")
    def withConf(kvs: (String, String)*)(f: => Int): Int = {
      val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try { kvs.foreach { case (k, v) => spark.conf.set(k, v) }; f }
      finally saved.foreach { case (k, ov) =>
        ov.fold(spark.conf.unset(k))(v => spark.conf.set(k, v)) }
    }
    // default threshold (15M pairs) keeps this 20-edge graph on the hook
    assert(rounds(LlmExtra.componentsAuto(spark, df).collect())
      === hookRounds)
    // threshold 0: auto must pick star
    assert(withConf("spark.graft.ccAutoEdges" -> "0")(
      rounds(LlmExtra.componentsAuto(spark, df).collect()))
      === starRounds)
  }

  test("star contraction matches the hook loop on the real trade " +
      "graph (string vertex ids, dense bipartite shape)") {
    import org.apache.spark.sql.functions.col
    val pairs = graft.ops.Graph.tradeGraph(spark, sf)
      .where(col("src") < col("dst"))
      .select(col("src").as("doc_a"), col("dst").as("doc_b"))
    val hook = graft.ops.LlmExtra
      .connectedComponents(pairs, dedupePerRound = true)
    val star = graft.ops.LlmExtra.connectedComponentsStar(pairs)
    assert(hook.count() === star.count())
    assert(hook.exceptAll(star).count() === 0)
    assert(star.exceptAll(hook).count() === 0)
  }
}
