package perfbench

import graft.streaming.SnapshotTable
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** `lake_rw`: one closed-loop client issues a seeded sequence of SQL
  * statements against a lake table behind the `graft` catalog — MERGE
  * INTO upserts and DELETEs (merge-on-read with deletion vectors)
  * beside pruned SELECTs, `VERSION AS OF` reads and change-feed reads,
  * with `CALL fold_dv` / `CALL optimize` every few writes. The JVM
  * records each statement's latency, the version it left and what each
  * read returned; run.py replays the op log to check every answer. */
object LakeRw {
  private val schema = StructType(Seq("k", "cust", "p", "q")
    .map(StructField(_, LongType, nullable = false)))
  private val fingerprint =
    "count(*) AS n, coalesce(sum(k), 0) AS sk, coalesce(sum(p), 0) AS sp, " +
      "coalesce(sum(q), 0) AS sq, " +
      "coalesce(sum(pmod(k * p, 1000003)), 0) AS hp, " +
      "coalesce(sum(pmod(k * q, 1000003)), 0) AS hq"

  final case class Op(i: Int, kind: String, a: Long, b: Long, c: Long)

  def run(s: SparkSession, in: String, work: String,
      rec: Rec, jobs: Option[JobStats]): Unit = {
    val wh = s"$work/lake"
    s.conf.set("spark.sql.catalog.lake", "graft.dsv2.GraftCatalog")
    s.conf.set("spark.sql.catalog.lake.warehouse", wh)
    val ops = scala.io.Source.fromFile(s"$in/lake_ops.tsv").getLines()
      .map(_.split("\t")).map(f =>
        Op(f(0).toInt, f(1), f(2).toLong, f(3).toLong, f(4).toLong))
      .toVector
    val srcRows: Map[Int, Seq[Row]] = s.read.parquet(s"$in/lake_src.parquet")
      .collect().toSeq.groupBy(_.getLong(0).toInt)
      .map { case (i, rs) => i -> rs.map(r =>
        Row(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))) }

    // set-up, repeated: bootstrap the table from the base image with
    // min/max stats on the key and the key declared as row identity
    // (which makes SQL MERGE/DELETE merge-on-read); the last copy is
    // the one the timed part uses
    val base = s.read.parquet(s"$in/lake_base.parquet")
    val reps = (0 until 3).map { r =>
      Main.timed {
        val root = s"$wh/t$r"
        SnapshotTable.commitWithStats(s, root, "k", retain = 40)(_ =>
          base.repartitionByRange(8, col("k")))
        SnapshotTable.setRowId(s, root, "k")
        s.sql(s"SELECT $fingerprint FROM lake.t$r").collect()
      }._2
    }
    rec.value("setup_work_s", Main.median(reps))

    val table = "lake.t2"
    val root = s"$wh/t2"
    Seq(0, 1).foreach(r => org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(s"$wh/t$r")))
    def latest(): Long = SnapshotTable.latestVersion(s, root).get
    val v0 = latest()
    rec.value("lake_v0", v0.toDouble)

    // (op index, version before, version after) of data writes, for
    // VERSION AS OF targets and change-feed ranges
    val writes = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    val versions = scala.collection.mutable.ArrayBuffer[Long](v0)
    var userBytes = 0L
    ops.foreach { op =>
      val vBefore = versions.last
      var result: Seq[Any] = Nil
      var version = -1L
      val isRead = Set("read", "tt", "cdf")(op.kind)
      val group = s"lake-${op.i}"
      val ok = try {
        val ms = rec.span(s"lake.${op.kind}", 0L,
            Map("op" -> op.i)) { sid =>
          val t0 = System.nanoTime()
          JobStats.group(s, group) {
            op.kind match {
              case "merge" =>
                val rows = srcRows(op.i)
                userBytes += rows.size * 32L
                s.createDataFrame(rows.asJava, schema)
                  .createOrReplaceTempView("src")
                s.sql(s"""MERGE INTO $table AS t USING src AS s ON t.k = s.k
                  |WHEN MATCHED THEN UPDATE SET *
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
              case "delete" =>
                s.sql(s"DELETE FROM $table WHERE k BETWEEN ${op.a} AND ${op.b}")
              case "read" =>
                result = readRange(s, rec, s"SELECT $fingerprint FROM $table " +
                  s"WHERE k BETWEEN ${op.a} AND ${op.b}")
              case "tt" =>
                version = versions(math.max(0,
                  versions.size - 1 - op.c.toInt))
                result = readRange(s, rec, s"SELECT $fingerprint FROM $table " +
                  s"VERSION AS OF $version WHERE k BETWEEN ${op.a} AND ${op.b}")
              case "cdf" =>
                writes.lastOption.foreach { case (_, vb, va) =>
                  version = va
                  result = s.read.format("graft")
                    .option("changesFrom", vb.toString)
                    .option("changesTo", va.toString)
                    .option("changeKey", "k").load(root)
                    .groupBy("_change_type")
                    .agg(count(lit(1)).as("n"), sum(col("p")).as("sp"))
                    .collect().toSeq.sortBy(_.getString(0))
                    .map(r => Seq(r.getString(0), r.getLong(1), r.getLong(2)))
                }
              case "fold_dv" => s.sql(s"CALL lake.fold_dv(table => 't2')").collect()
              case "optimize" => s.sql(s"CALL lake.optimize(table => 't2')").collect()
            }
          }
          val t1 = System.nanoTime()
          jobs.foreach { j =>
            JobStats.drain(s)
            j.jobIntervals(group).foreach { case (a, b) =>
              rec.spanAt("exec", sid, a, b) }
          }
          (t1 - t0) / 1e6
        }
        val kind = op.kind match {
          case "merge" | "delete" => "write"
          case "fold_dv" | "optimize" => "maint"
          case _ => "read"
        }
        rec.sample(s"lake_${kind}_ms", ms)
        true
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] lake op ${op.i} ${op.kind} failed: $e")
        false
      }
      rec.op(ok)
      // untimed bookkeeping for the replay check
      val vAfter = if (isRead) vBefore else latest()
      if (!isRead) versions += vAfter
      if (Set("merge", "delete")(op.kind) && vAfter > vBefore)
        writes += ((op.i, vBefore, vAfter))
      jobs.foreach { j =>
        val (nj, _, _, bw) = j.sum(group)
        rec.row("lake_op_jobs", Map("i" -> op.i, "jobs" -> nj,
          "bytes_written" -> bw))
      }
      rec.row("lake_ops", Map("i" -> op.i, "kind" -> op.kind, "ok" -> ok,
        "v_before" -> vBefore, "v_after" -> vAfter, "version" -> version,
        "result" -> result))
    }
    rec.value("lake_user_bytes", userBytes.toDouble)
    val h = SnapshotTable.history(s, root).last
    rec.value("lake_live_files", h.files.toDouble)
    rec.value("lake_dv_files", h.dvFiles.toDouble)

    // the bulk step: fold every deletion vector and compact what the
    // sequence left behind
    val (_, bulk) = Main.timed {
      s.sql("CALL lake.fold_dv(table => 't2')").collect()
      s.sql("CALL lake.optimize(table => 't2')").collect()
    }
    rec.value("bulk_s", bulk)

    // end state: the live image, its size alone, and the table's size
    val img = s.sql(s"SELECT $fingerprint FROM $table").collect().head
    rec.row("lake_final", Map("version" -> latest(),
      "result" -> img.toSeq))
    val live = s"$work/lake_live"
    s.table(table).coalesce(1).write.mode("overwrite").parquet(live)
    rec.value("lake_live_bytes", du(new java.io.File(live)).toDouble)
    rec.value("lake_table_bytes", du(new java.io.File(root)).toDouble)
  }

  /** Run a fingerprint SELECT; in a traced run also record the share of
    * the table's files the pruned scan read. */
  private def readRange(s: SparkSession, rec: Rec, q: String): Seq[Any] = {
    val df = s.sql(q)
    val r = df.collect().head.toSeq
    if (rec.traced) {
      val m = "filesRead=(\\d+)/(\\d+)".r
        .findFirstMatchIn(df.queryExecution.executedPlan.toString)
      m.foreach(x => rec.sample("lake_files_read_ratio",
        x.group(1).toDouble / math.max(1.0, x.group(2).toDouble)))
    }
    r
  }

  def du(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(du).sum
    else f.length()
}
