package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.SnapshotTable

/** SQL row-level commands through the DSv2 door (round 19): MERGE
  * INTO, arbitrary-predicate DELETE, and UPDATE lower onto
  * merge-on-read commitMergeDV via SupportsDelta — identical images
  * to the library calls, zero base files rewritten. */
class RowLevelSpec extends AnyFunSuite {
  import TestSpark._

  private def withWh(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("rl_spec").toString
    try f(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  private def img(pairs: (Long, String)*) = {
    import spark.implicits._
    pairs.toDF("k", "v")
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame)
      : Seq[(Long, String)] =
    df.select(col("k"), col("v")).orderBy("k", "v").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq

  private def catalog(name: String, wh: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", "graft.dsv2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
  }

  test("MERGE INTO: matched UPDATE/DELETE + NOT MATCHED INSERT through " +
      "SQL produce EXACTLY the library commitMergeDV image on a twin " +
      "chain, merge-on-read (every base file carried)") {
    withWh { wh =>
      catalog("graft_m", wh)
      def seed(root: String): Unit = {
        SnapshotTable.commitWithStats(spark, root, "k", retain = 8)(_ =>
          img((1L to 8L).map(k => (k, s"v$k")): _*)
            .repartitionByRange(3, col("k")))
        SnapshotTable.setRowId(spark, root, "k")
      }
      val root = s"$wh/t_merge"
      val twin = s"$wh/t_twin"
      seed(root); seed(twin)

      // the CDC batch: update k=2, delete k=5, insert k=99
      import spark.implicits._
      Seq((2L, "B2", "up"), (5L, "", "del"), (99L, "v99", "up"))
        .toDF("k", "v", "op").createOrReplaceTempView("src")

      val filesBefore = SnapshotTable.dataFiles(spark, root,
        SnapshotTable.latestVersion(spark, root).get).toSet
      spark.sql(
        """MERGE INTO graft_m.t_merge AS t USING src AS s ON t.k = s.k
          |WHEN MATCHED AND s.op = 'del' THEN DELETE
          |WHEN MATCHED THEN UPDATE SET v = s.v
          |WHEN NOT MATCHED AND s.op != 'del' THEN INSERT (k, v)
          |  VALUES (s.k, s.v)""".stripMargin)

      // twin chain: the library merge the SQL must equal
      SnapshotTable.commitMergeDV(spark, twin,
        img(2L -> "B2", 5L -> "DEL", 99L -> "v99"), "k",
        retain = 8)((_, b) => b.where(col("k") =!= 5L))

      assert(rowsOf(spark.table("graft_m.t_merge"))
        === rowsOf(SnapshotTable.read(spark, twin).get))
      assert(rowsOf(spark.table("graft_m.t_merge")).toMap.get(5L).isEmpty)
      assert(rowsOf(spark.table("graft_m.t_merge")).toMap.apply(2L)
        === "B2")
      // MERGE-ON-READ: SQL merge rewrote NOTHING — base files carried
      val vAfter = SnapshotTable.latestVersion(spark, root).get
      assert(filesBefore.subsetOf(
        SnapshotTable.dataFiles(spark, root, vAfter).toSet),
        "SQL MERGE must be merge-on-read (zero base files rewritten)")
      // time travel intact
      assert(SnapshotTable.readVersion(spark, root, vAfter - 1)
        .count() === 8)
    }
  }

  test("MERGE INTO enforces the cardinality contract: two source rows " +
      "matching one target row fail loudly, table unchanged") {
    withWh { wh =>
      catalog("graft_c", wh)
      val root = s"$wh/t_card"
      SnapshotTable.commitWithStats(spark, root, "k", retain = 8)(_ =>
        img(1L -> "v1", 2L -> "v2"))
      SnapshotTable.setRowId(spark, root, "k")
      import spark.implicits._
      Seq((2L, "a"), (2L, "b")).toDF("k", "v")
        .createOrReplaceTempView("src_dup")
      val vBefore = SnapshotTable.latestVersion(spark, root).get
      val e = intercept[Exception] {
        spark.sql(
          """MERGE INTO graft_c.t_card AS t USING src_dup AS s
            |ON t.k = s.k
            |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
      }
      assert(e.getMessage.toLowerCase.contains("merge") ||
        e.getMessage.toLowerCase.contains("cardinality"), e.getMessage)
      assert(SnapshotTable.latestVersion(spark, root).get === vBefore,
        "a failed merge must not commit")
    }
  }

  test("DELETE with an ARBITRARY predicate (range, LIKE) lowers onto " +
      "merge-on-read tombstones when the table declares a row id — " +
      "zero files rewritten, exact rows gone") {
    withWh { wh =>
      catalog("graft_ad", wh)
      val root = s"$wh/t_adel"
      SnapshotTable.commitWithStats(spark, root, "k", retain = 8)(_ =>
        img((1L to 10L).map(k => (k, s"v$k")): _*)
          .repartitionByRange(3, col("k")))
      SnapshotTable.setRowId(spark, root, "k")
      val filesBefore = SnapshotTable.dataFiles(spark, root,
        SnapshotTable.latestVersion(spark, root).get).toSet
      // range predicate — the round-18 surface rejected this outright
      spark.sql("DELETE FROM graft_ad.t_adel WHERE k >= 4 AND k <= 6")
      assert(rowsOf(spark.table("graft_ad.t_adel")).map(_._1)
        === Seq(1L, 2L, 3L, 7L, 8L, 9L, 10L))
      // non-key predicate
      spark.sql("DELETE FROM graft_ad.t_adel WHERE v LIKE 'v1%'")
      assert(rowsOf(spark.table("graft_ad.t_adel")).map(_._1)
        === Seq(2L, 3L, 7L, 8L, 9L))
      val vAfter = SnapshotTable.latestVersion(spark, root).get
      assert(filesBefore.subsetOf(
        SnapshotTable.dataFiles(spark, root, vAfter).toSet),
        "arbitrary-predicate DELETE must be merge-on-read")
      // the library image agrees (DV application on every read path)
      assert(rowsOf(SnapshotTable.read(spark, root).get).map(_._1)
        === Seq(2L, 3L, 7L, 8L, 9L))
    }
  }

  test("UPDATE statement rides the same delta machinery: conditional " +
      "SET lands as tombstone + fresh row, merge-on-read") {
    withWh { wh =>
      catalog("graft_u", wh)
      val root = s"$wh/t_upd"
      SnapshotTable.commitWithStats(spark, root, "k", retain = 8)(_ =>
        img((1L to 6L).map(k => (k, s"v$k")): _*)
          .repartitionByRange(2, col("k")))
      SnapshotTable.setRowId(spark, root, "k")
      val filesBefore = SnapshotTable.dataFiles(spark, root,
        SnapshotTable.latestVersion(spark, root).get).toSet
      spark.sql(
        "UPDATE graft_u.t_upd SET v = concat(v, '!') WHERE k % 2 = 0")
      assert(rowsOf(spark.table("graft_u.t_upd"))
        === Seq((1L, "v1"), (2L, "v2!"), (3L, "v3"), (4L, "v4!"),
          (5L, "v5"), (6L, "v6!")))
      val vAfter = SnapshotTable.latestVersion(spark, root).get
      assert(filesBefore.subsetOf(
        SnapshotTable.dataFiles(spark, root, vAfter).toSet),
        "UPDATE must be merge-on-read")
    }
  }

  test("MERGE full clause surface: NOT MATCHED BY SOURCE DELETE, " +
      "UPDATE SET expressions mixing both sides, and a row-id " +
      "REASSIGNMENT (update splits to tombstone + fresh row)") {
    withWh { wh =>
      catalog("graft_f", wh)
      val root = s"$wh/t_full"
      SnapshotTable.commitWithStats(spark, root, "k", retain = 8)(_ =>
        img((1L to 6L).map(k => (k, s"v$k")): _*)
          .repartitionByRange(2, col("k")))
      SnapshotTable.setRowId(spark, root, "k")
      import spark.implicits._
      Seq((2L, "s2"), (3L, "s3"), (9L, "s9")).toDF("k", "v")
        .createOrReplaceTempView("src_f")
      val filesBefore = SnapshotTable.dataFiles(spark, root,
        SnapshotTable.latestVersion(spark, root).get).toSet
      spark.sql(
        """MERGE INTO graft_f.t_full AS t USING src_f AS s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = concat(t.v, '+', s.v)
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE AND t.k > 4 THEN DELETE"""
          .stripMargin)
      // matched: 2,3 updated with BOTH sides' values; 9 inserted;
      // unmatched-by-source: 5,6 deleted (k>4), 1,4 kept
      assert(rowsOf(spark.table("graft_f.t_full")) === Seq(
        (1L, "v1"), (2L, "v2+s2"), (3L, "v3+s3"), (4L, "v4"),
        (9L, "s9")))
      val vAfter = SnapshotTable.latestVersion(spark, root).get
      assert(filesBefore.subsetOf(
        SnapshotTable.dataFiles(spark, root, vAfter).toSet),
        "full-clause MERGE must stay merge-on-read")
      // row-id reassignment through UPDATE: new identity inserted,
      // old identity tombstoned — one merge-on-read commit
      spark.sql("UPDATE graft_f.t_full SET k = k + 100 WHERE k <= 2")
      assert(rowsOf(spark.table("graft_f.t_full")) === Seq(
        (3L, "v3+s3"), (4L, "v4"), (9L, "s9"),
        (101L, "v1"), (102L, "v2+s2")))
      assert(rowsOf(SnapshotTable.read(spark, root).get) ===
        rowsOf(spark.table("graft_f.t_full")),
        "library read must agree after the id reassignment")
    }
  }

  test("row identity is an explicit contract: MERGE on an undeclared " +
      "table fails with Spark's standard error, setRowId validates " +
      "schema and DV-key agreement, declaration survives a rename") {
    withWh { wh =>
      catalog("graft_r", wh)
      val root = s"$wh/t_norid"
      SnapshotTable.commitWithStats(spark, root, "k", retain = 8)(_ =>
        img(1L -> "v1"))
      import spark.implicits._
      Seq((1L, "x")).toDF("k", "v").createOrReplaceTempView("src_r")
      intercept[Exception] {
        spark.sql(
          """MERGE INTO graft_r.t_norid AS t USING src_r AS s
            |ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = s.v"""
            .stripMargin)
      }
      intercept[IllegalArgumentException] {
        SnapshotTable.setRowId(spark, root, "nope")
      }
      // declared id survives RENAME COLUMN (stored physical)
      SnapshotTable.setRowId(spark, root, "k")
      SnapshotTable.renameColumn(spark, root, "k", "key", retain = 8)
      assert(SnapshotTable.rowIdColumn(spark, root) === Some("key"))
      // and disagreement with an existing DV key is loud
      val root2 = s"$wh/t_dvkey"
      SnapshotTable.commitWithStats(spark, root2, "k", retain = 8)(_ =>
        img(1L -> "v1", 2L -> "v2"))
      SnapshotTable.commitMergeDV(spark, root2, img(2L -> "B2"), "k",
        retain = 8)((_, b) => b)
      intercept[IllegalArgumentException] {
        SnapshotTable.setRowId(spark, root2, "v")
      }
      SnapshotTable.setRowId(spark, root2, "k") // agreeing is fine
    }
  }

  test("SQL-only lifecycle: CREATE TABLE with TBLPROPERTIES, INSERT, " +
      "CTAS, MERGE into the created table, DROP TABLE") {
    withWh { wh =>
      catalog("graft_l", wh)
      spark.sql(
        """CREATE TABLE graft_l.t_new (k BIGINT, v STRING)
          |USING graft TBLPROPERTIES ('graft.rowid'='k')""".stripMargin)
      assert(spark.sql("SELECT count(*) FROM graft_l.t_new")
        .first().getLong(0) === 0)
      spark.sql("INSERT INTO graft_l.t_new VALUES (1, 'a'), (2, 'b')")
      assert(spark.sql("SELECT count(*) FROM graft_l.t_new")
        .first().getLong(0) === 2)
      // the created table is row-level-capable via its property
      import spark.implicits._
      Seq((2L, "B"), (3L, "c")).toDF("k", "v")
        .createOrReplaceTempView("src_l")
      spark.sql(
        """MERGE INTO graft_l.t_new AS t USING src_l AS s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      assert(rowsOf(spark.table("graft_l.t_new"))
        === Seq((1L, "a"), (2L, "B"), (3L, "c")))
      // CTAS
      spark.sql(
        """CREATE TABLE graft_l.t_ctas USING graft AS
          |SELECT k, upper(v) AS v FROM graft_l.t_new""".stripMargin)
      assert(rowsOf(spark.table("graft_l.t_ctas"))
        === Seq((1L, "A"), (2L, "B"), (3L, "C")))
      // duplicate CREATE is loud
      intercept[Exception] {
        spark.sql("CREATE TABLE graft_l.t_new (k BIGINT) USING graft")
      }
      // DROP removes the root; the identifier is gone
      spark.sql("DROP TABLE graft_l.t_ctas")
      assert(!spark.sql("SHOW TABLES IN graft_l").collect()
        .map(_.getString(1)).contains("t_ctas"))
      assert(!new java.io.File(s"$wh/t_ctas").exists())
    }
  }

  test("SQL maintenance verbs (round-20): CALL optimize / fold_dv / " +
      "vacuum / restore complete the SQL-only operator lifecycle — " +
      "CREATE → INSERT fragments → MERGE (DVs) → OPTIMIZE → VACUUM → " +
      "RESTORE with zero library calls, each step's accounting checked") {
    withWh { wh =>
      catalog("graft_p", wh)
      val root = s"$wh/t_m"
      spark.sql(
        """CREATE TABLE graft_p.t_m (k BIGINT, v STRING) USING graft
          |TBLPROPERTIES ('graft.rowid'='k', 'graft.retain'='8')"""
          .stripMargin)
      // a drip of micro-INSERTs leaves fragments
      (1 to 4).foreach(i => spark.sql(
        s"INSERT INTO graft_p.t_m VALUES ($i, 'v$i')"))
      import spark.implicits._
      Seq((2L, "B2"), (9L, "v9")).toDF("k", "v")
        .createOrReplaceTempView("src_p")
      spark.sql(
        """MERGE INTO graft_p.t_m AS t USING src_p AS s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val expected =
        Seq((1L, "v1"), (2L, "B2"), (3L, "v3"), (4L, "v4"), (9L, "v9"))
      assert(rowsOf(spark.table("graft_p.t_m")) === expected)
      val vMerged = SnapshotTable.latestVersion(spark, root).get
      assert(SnapshotTable.dvOf(spark, root, vMerged).nonEmpty,
        "precondition: the MERGE left deletion vectors")

      // fold_dv: vectors fold physically, image unchanged
      val foldRow = spark.sql(
        "CALL graft_p.fold_dv(table => 't_m')").collect().head
      assert(foldRow.getInt(1) >= 1, "folded_files must count the fold")
      assert(SnapshotTable.dvOf(spark, root,
        SnapshotTable.latestVersion(spark, root).get).isEmpty,
        "fold_dv must leave the head version DV-free")
      assert(rowsOf(spark.table("graft_p.t_m")) === expected)

      // optimize: fragments re-pack, image unchanged, fewer files
      val optRow = spark.sql(
        "CALL graft_p.optimize(table => 't_m')").collect().head
      assert(optRow.getInt(2) < optRow.getInt(1),
        s"optimize must shrink the file count, got $optRow")
      assert(optRow.getInt(2) === 1)
      assert(rowsOf(spark.table("graft_p.t_m")) === expected)
      val vOpt = optRow.getLong(0)

      // restore: back to the pre-optimize image (same rows here, but
      // the HEAD must move and serve the target's file layout)
      val resRow = spark.sql(
        s"CALL graft_p.restore(table => 't_m', version => $vMerged)")
        .collect().head
      assert(resRow.getLong(0) > vOpt, "restore must commit a new head")
      assert(rowsOf(spark.table("graft_p.t_m")) === expected)

      // vacuum: count-based retention drops history
      val before = SnapshotTable.committedVersions(spark, root).size
      val vacRow = spark.sql(
        "CALL graft_p.vacuum(table => 't_m', retain_versions => 2)")
        .collect().head
      assert(vacRow.getInt(0) === before && vacRow.getInt(1) === 2,
        s"vacuum must report $before -> 2, got $vacRow")
      assert(rowsOf(spark.table("graft_p.t_m")) === expected)
      // age-based form with a zero-hour horizon keeps >= 1 version
      spark.sql(
        "CALL graft_p.vacuum(table => 't_m', older_than_hours => 0)")
      assert(SnapshotTable.committedVersions(spark, root).size >= 1)
      assert(rowsOf(spark.table("graft_p.t_m")) === expected)

      // misuse is loud: both retention forms at once
      intercept[Exception] {
        spark.sql("CALL graft_p.vacuum(table => 't_m', " +
          "retain_versions => 2, older_than_hours => 1)")
      }
      // unknown procedure is loud
      intercept[Exception] {
        spark.sql("CALL graft_p.frobnicate(table => 't_m')")
      }

      // cluster_by: the OPTIMIZE ... ZORDER BY analog — range-cluster
      // rewrite with stats on the cluster column, so a range probe
      // prunes afterwards
      val clRow = spark.sql("CALL graft_p.optimize(table => 't_m', " +
        "cluster_by => 'k', target_files => 3)").collect().head
      assert(clRow.getInt(2) === 3)
      assert(rowsOf(spark.table("graft_p.t_m")) === expected)
      val vCl = SnapshotTable.latestVersion(spark, root).get
      val (kept, total) = SnapshotTable.pruneFilesFor(spark, root, vCl,
        boxes = Seq(("k", Some(9L), Some(9L))), inProbes = Nil)
      assert(kept.size < total,
        s"clustered rewrite must enable range pruning: ${kept.size}/$total")
    }
  }

  test("CALL history (round 20): one metadata-only audit row per " +
      "committed version — manifest rows/bytes, DV presence, commit " +
      "times monotone; plain-commit versions report exact bytes/rows") {
    withWh { wh =>
      catalog("graft_hi", wh)
      val root = s"$wh/t_h"
      // v(1): 2 rows with stats; v(2): +1 append; v(3): merge-on-read
      // update of k=2 — physical rows grow by the merged row while a
      // DV hides its predecessor
      SnapshotTable.commitWithStats(spark, root, "k", retain = 8)(_ =>
        img(1L -> "a", 2L -> "b"))
      SnapshotTable.commitAppend(spark, root, img(3L -> "c"),
        retain = 8)
      SnapshotTable.commitMergeDV(spark, root, img(2L -> "B"), "k",
        retain = 8)((_, b) => b)
      val h = spark.sql("CALL graft_hi.history(table => 't_h')")
        .collect()
      assert(h.length === 3)
      assert(h.map(_.getLong(0)).toSeq ===
        SnapshotTable.committedVersions(spark, root))
      val ts = h.map(_.getTimestamp(1).getTime).toSeq
      assert(ts === ts.sorted, s"commit times must be monotone: $ts")
      assert(h.map(_.getInt(2)).toSeq.forall(_ >= 1))
      assert(h.forall(r => !r.isNullAt(3) && r.getLong(3) > 0L),
        "stats-bearing versions must account bytes")
      // physical manifest rows: 2, 3, 3 + the merged row (the DV'd
      // predecessor still counts — history reports STORAGE, and the
      // dv_files column says why visible < physical)
      assert(h.map(_.getLong(4)).toSeq === Seq(2L, 3L, 4L))
      assert(h.map(_.getInt(5)).toSeq.take(2) === Seq(0, 0))
      assert(h.last.getInt(5) >= 1,
        "the merge version must report its deletion-vector'd files")
      // a plain commit declares no stats column, and its manifest still
      // records every file's rows and bytes: exact, with no scan
      val bare = s"$wh/t_bare"
      SnapshotTable.commit(spark, bare, 8)(_ =>
        img(9L -> "z", 8L -> "y").repartition(2))
      val hb = spark.sql("CALL graft_hi.history(table => 't_bare')")
        .collect()
      val bareFiles = SnapshotTable.dataFiles(spark, bare,
        SnapshotTable.latestVersion(spark, bare).get)
      val bareBytes = bareFiles.map(f => new java.io.File(s"$bare/$f")
        .length).sum
      assert(hb.length === 1 && hb.head.getInt(2) === bareFiles.size)
      assert(!hb.head.isNullAt(3) && hb.head.getLong(3) === bareBytes)
      assert(!hb.head.isNullAt(4) && hb.head.getLong(4) === 2L)
    }
  }

  test("a table made by SQL CREATE TABLE + INSERT answers count(*) " +
      "from its manifest with no parquet scan, and CALL history " +
      "reports its rows and bytes") {
    withWh { wh =>
      catalog("graft_pc", wh)
      spark.sql("CREATE TABLE graft_pc.t (k BIGINT, v STRING) USING graft")
      spark.sql("INSERT INTO graft_pc.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")
      spark.sql("INSERT INTO graft_pc.t VALUES (4, 'd')")
      val q = spark.sql("SELECT count(*) FROM graft_pc.t")
      assert(q.collect().head.getLong(0) === 4L)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("GraftMetaAggScan") &&
        !plan.contains("GraftSnapshotScan"),
        s"count(*) of a plain-commit table must answer from metadata:\n$plan")
      // the default retention keeps the two INSERT versions
      val h = spark.sql("CALL graft_pc.history(table => 't')").collect()
      assert(h.forall(r => !r.isNullAt(3) && r.getLong(3) > 0L &&
        !r.isNullAt(4)), h.mkString("\n"))
      assert(h.map(_.getLong(4)).toSeq === Seq(3L, 4L))
    }
  }

  test("CALL clone (round 20): deep clone byte-copies the kept " +
      "segments and carries stats, DVs, colmap and row identity — " +
      "identical image, independent lifecycle, EmptyBase-CAS loud on " +
      "an existing target") {
    withWh { wh =>
      catalog("graft_cl", wh)
      val root = s"$wh/src"
      // a source exercising every sidecar: stats (commitWithStats),
      // row identity, a rename (non-trivial colmap), a merge-on-read
      // update (live DVs)
      SnapshotTable.commitWithStats(spark, root, "k", retain = 8)(_ =>
        img(1L -> "a", 2L -> "b", 3L -> "c"))
      SnapshotTable.setRowId(spark, root, "k")
      SnapshotTable.renameColumn(spark, root, "v", "val", retain = 8)
      SnapshotTable.commitMergeDV(spark, root, img(2L -> "B")
        .withColumnRenamed("v", "val"), "k", retain = 8)((_, b) => b)
      val sv = SnapshotTable.latestVersion(spark, root).get
      val row = spark.sql("CALL graft_cl.clone(target => 'dst', " +
        "source => 'src')").collect().head
      assert(row.getLong(0) === 0L && row.getLong(2) === sv)
      val dst = s"$wh/dst"
      // bit-identical image under the clone's own read path
      val image = (r: String) => SnapshotTable.read(spark, r).get
        .select(col("k"), col("val")).orderBy("k").collect().toSeq
      assert(image(dst) === image(root))
      assert(image(dst).map(r => (r.getLong(0), r.getString(1)))
        === Seq((1L, "a"), (2L, "B"), (3L, "c")))
      // byte-copy shape: same kept files, stats manifest and DVs live
      assert(SnapshotTable.dataFiles(spark, dst, 0L)
        === SnapshotTable.dataFiles(spark, root, sv))
      assert(SnapshotTable.statsManifest(spark, dst, 0L).columns
        .contains("min__k"))
      // row identity carried: the SQL row-level surface works on the
      // clone — and mutating the clone never touches the source
      spark.sql("DELETE FROM graft_cl.dst WHERE k = 3")
      assert(image(dst).map(_.getLong(0)) === Seq(1L, 2L))
      assert(SnapshotTable.latestVersion(spark, root).get === sv)
      assert(image(root).map(_.getLong(0)) === Seq(1L, 2L, 3L))
      // version pin: clone of the pre-merge snapshot serves ITS image
      spark.sql("CALL graft_cl.clone(target => 'dst0', " +
        s"source => 'src', version => ${sv - 1})").collect()
      assert(image(s"$wh/dst0").map(r => (r.getLong(0), r.getString(1)))
        === Seq((1L, "a"), (2L, "b"), (3L, "c")))
      // an existing target conflicts loudly (EmptyBase CAS), and the
      // source/source_path params are exactly-one-of
      val conflict = intercept[Exception] {
        spark.sql("CALL graft_cl.clone(target => 'dst', " +
          "source => 'src')").collect()
      }
      assert(Iterator.iterate(conflict: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8)
        .exists(_.isInstanceOf[graft.streaming.SnapshotConflictException]))
      intercept[Exception] {
        spark.sql("CALL graft_cl.clone(target => 'dst2', " +
          s"source => 'src', source_path => '$root')").collect()
      }
      // an empty target name must not resolve to the warehouse root
      intercept[Exception] {
        spark.sql("CALL graft_cl.clone(target => '', source => 'src')")
          .collect()
      }
      assert(!new java.io.File(s"$wh/v=0").exists(),
        "an invalid clone target must plant nothing in the warehouse")
      // a pre-round-15 self-contained source dir is refused: the clone
      // errors and plants nothing at the target
      val old = s"$wh/selfcontained"
      img(7L -> "x").write.parquet(s"$old/v=1")
      SnapshotTable.fsOf(spark, old).create(
        new org.apache.hadoop.fs.Path(s"$old/v=1/_COMMITTED"),
        false).close()
      val refused = intercept[Exception] {
        spark.sql("CALL graft_cl.clone(target => 'dstold', " +
          s"source_path => '$old')").collect()
      }
      assert(Iterator.iterate(refused: Throwable)(_.getCause)
        .takeWhile(_ != null).take(8)
        .exists(e => Option(e.getMessage).exists(
          _.contains("pre-round-15 self-contained"))), refused)
      assert(!new java.io.File(s"$wh/dstold/v=0").exists(),
        "a refused clone must plant no version at the target")
    }
  }

  test("clone under TRUE concurrency: two cloners race the same " +
      "target on live threads — exactly one commits, the loser " +
      "conflicts, and the winner's published files stay intact " +
      "(temp+rename copies, never a truncating overwrite)") {
    withWh { wh =>
      val root = s"$wh/src"
      SnapshotTable.commitWithStats(spark, root, "k", retain = 8)(_ =>
        img((1L to 64L).map(i => i -> s"v$i"): _*))
      val dst = s"$wh/dst_race"
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      val gate = new java.util.concurrent.CountDownLatch(1)
      def attempt(): Future[Either[Throwable, Long]] = Future {
        gate.await()
        try Right(SnapshotTable.cloneTo(spark, root, dst))
        catch { case e: Throwable => Left(e) }
      }
      val (a, b) = (attempt(), attempt())
      gate.countDown()
      val rs = Seq(Await.result(a, 120.seconds),
        Await.result(b, 120.seconds))
      val wins = rs.collect { case Right(v) => v }
      val losses = rs.collect { case Left(e) => e }
      assert(wins === Seq(0L),
        s"exactly one cloner must win, got $rs")
      assert(losses.forall { e =>
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
          .exists(_.isInstanceOf[graft.streaming.SnapshotConflictException])
      }, s"the loser must conflict loudly, got $losses")
      // the winner's table reads back complete — every published file
      // is a whole parquet (a truncating loser copy would fail here)
      val image = SnapshotTable.read(spark, dst).get
        .select(col("k")).collect().map(_.getLong(0)).sorted.toSeq
      assert(image === (1L to 64L))
      assert(SnapshotTable.dataFiles(spark, dst, 0L)
        === SnapshotTable.dataFiles(spark, root,
          SnapshotTable.latestVersion(spark, root).get))
    }
  }
}
