package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale rehearsal for the dedup family (round-5 verdict item 8): runs
  * `llm_dedup_{ngram_jaccard,clusters,embcos,incremental}` on
  * SYNTHESIZED corpora at several multiples of the sf0.1 shape and
  * records wall-time, result rows, CC convergence rounds, candidate-
  * pair counts, and per-key index df — the empirical check behind the
  * "linear at 100 TB" plan-shape argument. Results land as one JSON
  * line per multiplier on stdout and in /tmp/graft_scale_rehearsal.json.
  *
  * Scaling model: the corpus grows by ADDING SOURCES at fixed per-source
  * density (sf0.1 shape: 250 docs/source, 10-100 words from a 31-word
  * vocab), the way a web corpus grows by adding domains/shards. Dedup
  * candidate joins key on (source, shingle-hash), so per-key df stays
  * STATIONARY and the pair space must grow linearly if the design is
  * right — a super-linear wall-time or pair-count curve here falsifies
  * the scale story. (Growing a fixed 31-word vocab corpus by stacking
  * docs instead would inflate every shingle's df with corpus size — a
  * density no real text has; that regime is what the ShingleDfCap
  * bounds, tested separately in LlmExtraSpec.) Dup structure is
  * injected at fixture-like rates: ~2% near-dups (1-2 words mutated)
  * and ~0.2% exact dups, each referencing an earlier doc in the SAME
  * source lane so pairs stay joinable.
  *
  * Usage: runMain graft.ScaleRehearsal [mult ...]   (default: 1 10)
  */
object ScaleRehearsal {

  // splitmix64 — deterministic per-(id, salt) stream, no shared RNG state
  private def mix(id: Long, salt: Long): Long = {
    var z = id * 0x9e3779b97f4a7c15L + salt * 0xbf58476d1ce4e5b9L +
      0x94d049bb133111ebL
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private def pick(id: Long, salt: Long, n: Int): Int =
    ((mix(id, salt) >>> 1) % n).toInt

  private val vocab = Array("spark", "batch", "part", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "query", "agg",
    "table", "hash", "key", "group", "join", "filter", "stream",
    "customer", "big", "data", "dup", "a", "vector", "slow", "window",
    "state", "shuffle", "merge")
  private val langs = Array("en", "zh", "es", "fr", "de")

  private def rawText(id: Long): String = {
    val n = 10 + pick(id, 7, 91)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(vocab(pick(id, 100 + i, vocab.length)))
      i += 1
    }
    sb.toString
  }

  /** Stored text: mostly rawText(id); ~2% near-dups (base doc from the
    * same source lane, 1-2 words mutated), ~0.2% exact dups. */
  private def textFor(id: Long, nSources: Int): String = {
    val r = pick(id, 13, 500)
    if (id < nSources || r >= 11) rawText(id)
    else {
      // an earlier doc in the same source lane (source = id % nSources)
      val back = 1 + pick(id, 17, math.max(1, (id / nSources).toInt))
      val base = id - back.toLong * nSources
      if (r == 10) rawText(base) // exact dup (1/500)
      else { // near dup (10/500): mutate 1-2 words
        val w = rawText(base).split(' ')
        val m = 1 + pick(id, 19, 2)
        var j = 0
        while (j < m) {
          w(pick(id, 23 + j, w.length)) =
            vocab(pick(id, 29 + j, vocab.length))
          j += 1
        }
        w.mkString(" ")
      }
    }
  }

  private[graft] def synthesize(s: SparkSession, dir: String,
      mult: Int): Unit = {
    import s.implicits._
    // both tables must have committed — a run killed between the two
    // writes must not leave a dir that forever skips the embeddings
    if (new java.io.File(s"$dir/documents.parquet/_SUCCESS").isFile &&
      new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").isFile) return
    val nSources = 20 * mult
    val nDocs = 5000L * mult
    val nVecs = 2000L * mult
    s.range(nDocs).map { id =>
      val text = textFor(id, nSources)
      (id, text, langs(pick(id, 31, langs.length)), s"src${id % nSources}",
        text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // embeddings: 10 label clusters, dim 64 — center + noise, normalized
    val dim = 64
    s.range(nVecs).map { id =>
      val label = pick(id, 41, 10)
      val v = Array.tabulate(dim) { k =>
        val c = (mix(label.toLong, 997L + k) % 1000L) / 500.0f - 1.0f
        val nz = (mix(id, 1700L + k) % 1000L) / 500.0f - 1.0f
        c + 0.35f * nz
      }
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (id, v.map(_ / norm), label)
    }.toDF("vec_id", "embedding", "label")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Trade tables at multiples of the REAL sf0.1 shape (150k orders,
    * 4 lineitems/order, 15k customers, 1k suppliers → ~587k distinct
    * trading pairs / 1.17M directed edges measured on the fixture), so
    * the graph-iterative family can rehearse the same 1×→10× curve the
    * dedup family does (round-11 verdict item 7). Customers AND
    * suppliers scale with the corpus — the regime where both the edge
    * table and the iterated rank/dist/label side grow linearly, which
    * is exactly the claim the per-round one-keyed-shuffle plans make. */
  private[graft] def synthesizeTrade(s: SparkSession, dir: String,
      mult: Int): Unit = {
    import s.implicits._
    if (new java.io.File(s"$dir/orders.parquet/_SUCCESS").isFile &&
      new java.io.File(s"$dir/lineitem.parquet/_SUCCESS").isFile) return
    val nCust = 15000L * mult
    val nSupp = 1000L * mult
    val nOrders = 150000L * mult
    s.range(nOrders).map(id => (id, (mix(id, 51) >>> 1) % nCust))
      .toDF("o_orderkey", "o_custkey")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    s.range(nOrders * 4).map(i => (i / 4, (mix(i, 53) >>> 1) % nSupp))
      .toDF("l_orderkey", "l_suppkey")
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
  }

  def main(args: Array[String]): Unit = {
    val mults = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 10)
    val root = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale")
    val spark = Harness.session()
    import Harness.{fmt, obj}
    // decontaminate rides along: its benchmark slice (doc_id % 17) grows
    // WITH the corpus here — harsher than production's fixed eval set —
    // so a linear curve on this shape upper-bounds the real deployment.
    val ops = Seq("llm_dedup_ngram_jaccard", "llm_dedup_clusters",
      "llm_dedup_embcos", "llm_dedup_incremental", "llm_decontaminate",
      "llm_dedup_substring", "llm_dedup_substring_prune",
      "llm_dedup_canonical", "llm_similarity_knn", "llm_knn_ivf",
      "llm_dedup_paragraph")
    // warmup: codegen + parquet reader init outside the timed region,
    // on the first multiplier's own corpus — it exists by construction
    synthesize(spark, s"$root/x${mults.head}", mults.head)
    SparkEntry.queries("llm_text_stats")(spark, s"$root/x${mults.head}")
      .count()
    val lines = mults.map { mult =>
      val dir = s"$root/x$mult"
      synthesize(spark, dir, mult)
      val timings = ops.map { name =>
        // reset so a cluster run served from the persisted cluster cache
        // (which never executes CC) records -1, not a previous
        // multiplier's round count
        graft.ops.LlmExtra.lastCcRounds = -1
        val t0 = System.nanoTime()
        // timed action mirrors Bench: a noop write executes the full
        // plan (count() would let Catalyst drop row-preserving work —
        // llm_dedup_substring_prune's cost is invisible under count).
        // The row count for the linearity table rides the SAME execution
        // via the Observation listener API — a separate count() would
        // re-run the whole un-cached pipeline a second time per op per
        // multiplier, and reading df.queryExecution.observedMetrics
        // does NOT work here (the write action plans its own
        // QueryExecution; the original one never executes).
        val obs = org.apache.spark.sql.Observation()
        val df = SparkEntry.queries(name)(spark, dir)
          .observe(obs, count(lit(1)).as("n"))
        df.write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        val n = obs.get.get("n").map(_.asInstanceOf[Long]).getOrElse(-1L)
        val cc = if (name == "llm_dedup_clusters")
          graft.ops.LlmExtra.lastCcRounds else -1
        Harness.release(spark)
        (name, dt, n, cc)
      }
      // index shape stats: per-(source,h) df on the CAPPED index (what
      // the joins see) and the implied candidate-pair row count Σ C(df,2)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val idx = graft.ops.LlmExtra.cappedShingleIndexOf(spark, docs)
      val dfStats = idx.groupBy("source", "h").agg(count(lit(1)).as("df"))
        .agg(max(col("df")).as("max_df"),
          sum(col("df") * (col("df") - 1) / 2).as("cand_pairs"))
        .first()
      val secs = obj(timings.map(t => (t._1, fmt(t._2))))
      val rows = obj(timings.map(t => (t._1, t._3)))
      val ccRounds = timings.collectFirst {
        case (_, _, _, cc) if cc >= 0 => cc }.getOrElse(-1)
      // graph-iterative rehearsal on synthesized trade tables of the
      // same multiplier. The shared edge artifact builds ONCE outside
      // the per-op timings (production materializes it once too), so
      // the op numbers are pure per-iteration cost; the build gets its
      // own scaling datum. CC runs first so its timing includes no
      // hidden build even if the artifact were dropped.
      synthesizeTrade(spark, dir, mult)
      val tG0 = System.nanoTime()
      val nEdges = graft.ops.Graph.tradeGraph(spark, dir).count()
      val graphBuild = (System.nanoTime() - tG0) / 1e9
      val gTimings = Seq("graph_connected_components", "graph_pagerank",
        "graph_shortest_path", "graph_label_propagation").map { name =>
        graft.ops.LlmExtra.lastCcRounds = -1
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        val dt = (System.nanoTime() - t0) / 1e9
        // the CC loop runs its contraction eagerly inside the builder
        // on this thread, so the diagnostic is its round count — the
        // one graph loop whose rounds GROW (log-diameter) with scale,
        // which is what separates an extra-round step from a per-round
        // blowup when a segment of the timing curve exceeds linear
        val cc = if (name == "graph_connected_components")
          graft.ops.LlmExtra.lastCcRounds else -1
        Harness.release(spark)
        (name, dt, cc)
      }
      val gRounds = gTimings.collectFirst {
        case (_, _, cc) if cc >= 0 => cc }.getOrElse(-1)
      val gSecs = obj(gTimings.map(t => (t._1, fmt(t._2))))
      val line = s"""{"rehearsal":{"mult":$mult,"docs":${docs.count()},""" +
        s""""secs":$secs,"rows":$rows,"cc_rounds":$ccRounds,""" +
        s""""max_df":${dfStats.getLong(0)},""" +
        s""""cand_pairs":${dfStats.getDouble(1).toLong},""" +
        s""""edges":$nEdges,"graph_build":${fmt(graphBuild)},""" +
        s""""graph_cc_rounds":$gRounds,"graph_secs":$gSecs}}"""
      println(line)
      line
    }
    try {
      val w = new java.io.PrintWriter("/tmp/graft_scale_rehearsal.json")
      try lines.foreach(w.println) finally w.close()
    } catch { case scala.util.control.NonFatal(_) => () }
    spark.stop()
  }
}
