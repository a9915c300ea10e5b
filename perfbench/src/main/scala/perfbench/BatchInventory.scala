package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** `batch_inventory`: one closed-loop client builds the artifact phase
  * (`Scans.tableArtifactBuild`), then runs a fixed list of
  * `SparkEntry.queries` keys in a fixed order, several passes, each key
  * into a counting `noop` sink. Per key it records the wall time, the
  * row count of the timed execution and, traced, the build / plan /
  * exec split with the jobs its job group ran. */
object BatchInventory {
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "Scans" -> graft.ops.Scans.queries, "RowOps" -> graft.ops.RowOps.queries,
    "Joins" -> graft.ops.Joins.queries,
    "JoinsAsync" -> graft.ops.JoinsAsync.queries,
    "Aggs" -> graft.ops.Aggs.queries, "Windows" -> graft.ops.Windows.queries,
    "SetOps" -> graft.ops.SetOps.queries, "Fns" -> graft.ops.Fns.queries,
    "Streaming" -> graft.ops.Streaming.queries, "Llm" -> graft.ops.Llm.queries,
    "LlmExtra" -> graft.ops.LlmExtra.queries, "Ads" -> graft.ops.Ads.queries,
    "Cep" -> graft.ops.Cep.queries, "Graph" -> graft.ops.Graph.queries)

  def run(s: SparkSession, in: String, rec: Rec,
      jobs: Option[JobStats]): Unit = {
    val lines = scala.io.Source.fromFile(s"$in/keys.txt").getLines().toVector
    val passes = lines.head.stripPrefix("passes ").trim.toInt
    val keys = lines.tail.map(_.trim).filter(_.nonEmpty)
    val data = s"$in/data"
    val moduleOf = modules.flatMap { case (m, q) => q.keys.map(_ -> m) }.toMap
    val queries = graft.SparkEntry.queries
    keys.foreach(k => rec.row("batch_keys", Map("key" -> k,
      "module" -> moduleOf.getOrElse(k, "?"),
      "oracle" -> graft.SparkEntry.oracleSql.get(k))))

    // set-up, repeated: first touch of every fixture table
    val tables = new java.io.File(data).list().filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted
    val reps = (0 until 3).map(_ => Main.timed {
      tables.foreach(t => graft.ops.Tables.t(s, data, t)
        .write.format("noop").mode("overwrite").save())
    }._2)
    rec.value("setup_work_s", Main.median(reps))

    // the write's planning phases, for the traced plan/exec split
    @volatile var lastPlanMs = 0L
    if (rec.traced) s.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        lastPlanMs = Seq("analysis", "optimization", "planning")
          .flatMap(p => qe.tracker.phases.get(p)).map(_.durationMs).sum
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    // the artifact phase: materialization jobs the chosen keys read;
    // the lake-table chains stay out of it (all of them build together,
    // ~45 s here), so a table_* key builds its own chain inside the key
    val only = keys.toSet
    val (_, artifactS) = Main.timed {
      rec.span("artifact") { _ =>
        JobStats.group(s, "artifact") {
          graft.ops.Scans.tableArtifactBuild(s, data,
            includeTables = false,
            includeGraph = only.exists(_.startsWith("graph_")),
            includeLlm = only.exists(Set("llm_dedup_clusters",
              "llm_dedup_prune", "llm_dedup_ngram_jaccard",
              "llm_dedup_incremental", "llm_dedup_embcos", "llm_knn_ivf",
              "llm_semdedup")),
            includeBucketed = only.contains("join_bucketed_colocated"),
            includeJdbc = only.exists(Set("ads_top_products",
              "sink_jdbc_board", "source_jdbc_dim")))
        }
      }
    }
    rec.value("bulk_s", artifactS)
    jobs.foreach { j =>
      JobStats.drain(s)
      val (nj, nt, sb, bw) = j.sum("artifact")
      rec.value("artifact_jobs", nj.toDouble)
      rec.value("artifact_tasks", nt.toDouble)
      rec.value("artifact_shuffle_bytes", sb.toDouble)
      rec.value("artifact_bytes_written", bw.toDouble)
    }

    for (pass <- 0 until passes; key <- keys) {
      val group = s"key:$key:$pass"
      var rows = -1L
      var buildMs, planMs, execMs = 0.0
      // the key's wall time: build + plan + execute, nothing else
      var t0, t1, t2 = 0L
      val ok = try {
        JobStats.group(s, group) {
          t0 = System.nanoTime()
          val df = queries(key)(s, data)
          t1 = System.nanoTime()
          rows = try {
            df.write.format("perfbench.CountSink").mode("overwrite").save()
            CountSink.lastRows
          } catch { case _: org.apache.spark.sql.AnalysisException =>
            df.count() // a streaming-only shape rejects batch writes
          }
          t2 = System.nanoTime()
        }
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $key failed: $e"); false
      }
      val wallMs = (t2 - t0) / 1e6
      buildMs = (t1 - t0) / 1e6
      if (ok && rec.traced) {
        JobStats.drain(s)
        val p = math.min(lastPlanMs * 1000000L, t2 - t1)
        val sid = rec.spanAt("key", 0L, t0, t2, Map("key" -> key, "pass" -> pass))
        rec.spanAt("build", sid, t0, t1)
        rec.spanAt("plan", sid, t1, t1 + p)
        rec.spanAt("exec", sid, t1 + p, t2)
        planMs = p / 1e6; execMs = (t2 - t1 - p) / 1e6
      }
      rec.op(ok)
      graft.ops.OpCache.release(s)
      s.catalog.clearCache()
      if (ok) rec.sample("key_ms", wallMs)
      val counts = jobs.map { j => JobStats.drain(s); j.sum(group) }
      rec.row("batch_runs", Map("key" -> key, "pass" -> pass, "ok" -> ok,
        "rows" -> rows, "wall_ms" -> wallMs, "build_ms" -> buildMs,
        "plan_ms" -> planMs, "exec_ms" -> execMs,
        "jobs" -> counts.map(_._1), "tasks" -> counts.map(_._2),
        "shuffle_bytes" -> counts.map(_._3)))
    }
  }
}
