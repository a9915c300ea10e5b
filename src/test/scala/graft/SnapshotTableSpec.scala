package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{LakeManifest, SnapshotTable}

/** Snapshot-isolation guarantees of the versioned table surface:
  * pinned readers survive concurrent commits, lost races fail loudly,
  * retention vacuums only past the horizon, committed versions are
  * time-travelable. */
class SnapshotTableSpec extends AnyFunSuite {
  import TestSpark._

  private def withRoot(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("snap_spec").toString
    try f(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  private def img(pairs: (Long, String)*) = {
    import spark.implicits._
    pairs.toDF("k", "v")
  }

  test("a reader pinned pre-commit still reads its snapshot after " +
      "a later commit lands") {
    withRoot { root =>
      SnapshotTable.commit(spark, root)(_ => img(1L -> "a", 2L -> "b"))
      val pinned = SnapshotTable.read(spark, root).get
      assert(pinned.count() === 2)
      SnapshotTable.commit(spark, root)(st =>
        st.get.where(col("k") =!= 2L).unionByName(img(3L -> "c")))
      // the pinned frame re-collects from its IMMUTABLE version dir —
      // same rows as before the commit, no FileNotFound, no new rows
      assert(pinned.orderBy("k").collect().map(_.getLong(0)).toSeq
        === Seq(1L, 2L))
      // a fresh resolve sees the new image
      assert(SnapshotTable.read(spark, root).get
        .orderBy("k").collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    }
  }

  test("a commit whose base was superseded mid-flight fails loudly " +
      "and leaves the winner's version current") {
    withRoot { root =>
      SnapshotTable.commit(spark, root)(_ => img(1L -> "a"))
      val e = intercept[IllegalStateException] {
        SnapshotTable.commit(spark, root) { _ =>
          // a second writer lands while this commit is computing
          SnapshotTable.commit(spark, root)(_ => img(2L -> "winner"))
          img(3L -> "loser")
        }
      }
      assert(e.getMessage.contains("conflict"))
      assert(SnapshotTable.read(spark, root).get
        .select("v").collect().map(_.getString(0)).toSeq === Seq("winner"))
      // the loser's orphan dir is invisible: no _COMMITTED marker
      assert(SnapshotTable.latestVersion(spark, root) === Some(1L))
    }
  }

  test("a marker-less orphan dir never wedges the table: fresh orphans " +
      "are skipped past, aged orphans are deleted") {
    withRoot { root =>
      SnapshotTable.commit(spark, root)(_ => img(1L -> "a"))
      // simulate a commit that died between rename and marker create:
      // a v=1 dir exists with data but no _COMMITTED
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val orphan = new org.apache.hadoop.fs.Path(s"$root/v=1")
      fs.mkdirs(orphan)
      // FRESH orphan: the next commit must neither fail nor target
      // v=1 — it numbers past it and lands committed v=2
      val n2 = SnapshotTable.commit(spark, root)(_ => img(2L -> "b"))
      assert(n2 === 2L)
      assert(SnapshotTable.latestVersion(spark, root) === Some(2L))
      assert(SnapshotTable.read(spark, root).get
        .select("v").first().getString(0) === "b")
      // the fresh orphan is untouched (an in-flight publisher may own it)
      assert(fs.exists(orphan))
      // AGED orphan: push its mtime past the gate — the next commit
      // garbage-collects it and proceeds
      fs.setTimes(orphan, System.currentTimeMillis() - 16 * 60 * 1000L, -1)
      val n3 = SnapshotTable.commit(spark, root)(_ => img(3L -> "c"))
      assert(n3 === 3L)
      assert(!fs.exists(orphan))
      assert(SnapshotTable.latestVersion(spark, root) === Some(3L))
    }
  }

  test("a lost rename race cannot nest the loser's stage inside the " +
      "winner's snapshot") {
    withRoot { root =>
      // the winner owns v=1; the loser (simulated at the publish step —
      // the race window between numbering and rename is too narrow to
      // hit through commit()) renames its stage at the same v=1:
      // Hadoop local-FS rename onto the existing dir "succeeds" by
      // moving the stage INSIDE it — the landing check must detect
      // that, clean the nested dir up, and conflict
      SnapshotTable.commit(spark, root)(_ => img(1L -> "a"))
      SnapshotTable.commit(spark, root)(_ => img(2L -> "winner"))
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val stage = new org.apache.hadoop.fs.Path(s"$root/.stage-loser")
      img(3L -> "loser").write.mode("overwrite").parquet(stage.toString)
      val e = intercept[IllegalStateException] {
        SnapshotTable.publish(fs, root, stage, 1L)
      }
      assert(e.getMessage.contains("conflict"))
      // winner's snapshot is intact, current, and contains NO nested
      // stage dir; the loser's stage is gone entirely
      assert(SnapshotTable.read(spark, root).get
        .select("v").collect().map(_.getString(0)).toSeq === Seq("winner"))
      val inside = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$root/v=1")).toSeq
        .map(_.getPath.getName)
      assert(!inside.exists(_.startsWith(".stage-")), inside)
      assert(!fs.exists(stage))
    }
  }

  test("retention vacuums only versions past the horizon; survivors " +
      "stay time-travelable") {
    withRoot { root =>
      (1 to 3).foreach(i =>
        SnapshotTable.commit(spark, root, retain = 2)(_ =>
          img(i.toLong -> s"v$i")))
      // v=0 vacuumed, v=1 (previous) and v=2 (current) alive
      assert(SnapshotTable.latestVersion(spark, root) === Some(2L))
      assert(intercept[IllegalArgumentException](
        SnapshotTable.readVersion(spark, root, 0L))
        .getMessage.contains("not committed"))
      assert(SnapshotTable.readVersion(spark, root, 1L)
        .select("v").first().getString(0) === "v2")
      assert(SnapshotTable.readVersion(spark, root, 2L)
        .select("v").first().getString(0) === "v3")
    }
  }

  test("compact shrinks the file count, preserves rows exactly, and " +
      "leaves time travel + later commits intact") {
    withRoot { root =>
      // a deliberately fragmented image: 8 part files of 4 rows
      val rows = (1L to 32L).map(k => (k, s"v$k"))
      SnapshotTable.commit(spark, root, retain = 10) { _ =>
        img(rows: _*).repartition(8) }
      val v1 = SnapshotTable.latestVersion(spark, root).get
      assert(SnapshotTable.fileCount(spark, root, v1) === 8)
      val v2 = SnapshotTable.compact(spark, root)
      assert(v2 === v1 + 1)
      assert(SnapshotTable.fileCount(spark, root, v2) === 1)
      // byte-identical content
      val before = SnapshotTable.readVersion(spark, root, v1)
      val after = SnapshotTable.readVersion(spark, root, v2)
      assert(after.count() === 32)
      assert(after.exceptAll(before).count() === 0)
      assert(before.exceptAll(after).count() === 0)
      // the fragmented version is still time-travelable (retain=2
      // default on compact keeps it), and the table stays writable
      SnapshotTable.commit(spark, root) { cur =>
        cur.get.unionByName(img(33L -> "v33")) }
      assert(SnapshotTable.read(spark, root).get.count() === 33)
      // compacting an empty table fails loudly, not silently
      withRoot { empty =>
        intercept[IllegalArgumentException] {
          SnapshotTable.compact(spark, empty) }
      }
    }
  }

  test("file-level data skipping: a range-clustered commitWithStats " +
      "prunes non-overlapping part files off the manifest, stays " +
      "exact, and falls back to a full scan where no manifest exists") {
    withRoot { root =>
      // 80 rows range-clustered on k into 8 files → ~10 k-values each
      SnapshotTable.commitWithStats(spark, root, "k", retain = 10)(_ =>
        SnapshotTable.clusterBy(
          img((1L to 80L).map(k => (k, s"v$k")): _*), "k", 8))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      assert(SnapshotTable.fileCount(spark, root, v1) === 8)
      // a 10-value mid-table window overlaps at most 2 of the 8 files
      val hit = SnapshotTable.readPruned(spark, root, lit(25L), lit(34L))
      assert(hit.filesTotal === 8)
      assert(hit.filesRead < hit.filesTotal, "manifest skipped nothing")
      assert(hit.filesRead >= 1 && hit.filesRead <= 2)
      // conservative scan + exact predicate ≡ the unpruned filter
      assert(hit.df.where(col("k").between(25L, 34L))
        .orderBy("k").collect().map(_.getLong(0)).toSeq
        === (25L to 34L))
      // a range past every file's max reads zero files, keeps schema
      val miss = SnapshotTable.readPruned(spark, root, lit(1000L),
        lit(2000L))
      assert(miss.filesRead === 0)
      assert(miss.df.count() === 0)
      assert(miss.df.columns.toSeq === Seq("k", "v"))
      // compact() INHERITS the stats columns and recomputes them for
      // the rewritten files (round-14 verdict item 2: compaction must
      // not silently drop data skipping) — coalesce concatenates
      // adjacent partitions, so the range-clustered table keeps
      // contiguous prunable ranges at the coarser granularity
      SnapshotTable.compact(spark, root, targetFiles = 4)
      val afterCompact = SnapshotTable.readPruned(spark, root, lit(25L),
        lit(34L))
      assert(afterCompact.filesTotal === 4)
      assert(afterCompact.filesRead < afterCompact.filesTotal,
        "compaction dropped the stats manifest — pruning went dark")
      assert(afterCompact.df.where(col("k").between(25L, 34L))
        .count() === 10)
      // the clustered version's manifest is still intact for time
      // travel readers of v1 (it lives inside the version dir)
      assert(spark.read.parquet(s"$root/v=$v1/_manifest").count() === 8)
    }
  }

  test("2-D z-order skipping: a Morton-clustered commitWithStatsCols " +
      "prunes a box predicate on BOTH dimensions, beats 1-D clustering " +
      "on the secondary column, and missing manifests stay conservative") {
    withRoot { root =>
      import spark.implicits._
      // a 32×32 grid of (x, y) points — every (x, y) in [0, 31]²
      val grid = for (x <- 0L until 32L; y <- 0L until 32L)
        yield (x, y, x * 32 + y)
      def img3(rows: Seq[(Long, Long, Long)]) = rows.toDF("x", "y", "id")
      SnapshotTable.commitWithStatsCols(spark, root, Seq("x", "y"),
        retain = 10)(_ =>
        SnapshotTable.clusterByZ(img3(grid), "x", "y", 16))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      assert(SnapshotTable.fileCount(spark, root, v1) === 16)
      // an 8×8 box = 1/16 of the plane: z-locality must confine it to
      // a small minority of the 16 files (perfect z-split: 1-4 files)
      val box = SnapshotTable.readPrunedBox(spark, root,
        Seq(("x", lit(8L), lit(15L)), ("y", lit(16L), lit(23L))))
      assert(box.filesTotal === 16)
      assert(box.filesRead <= 6,
        s"z-order read ${box.filesRead}/16 files for a 1/16 box")
      // conservative scan + exact predicate ≡ the full filter
      assert(box.df.where(col("x").between(8L, 15L) &&
        col("y").between(16L, 23L)).count() === 64)
      // the SAME box against a 1-D clustering on x: the y-dimension
      // manifest is file-spanning, so pruning comes only from x —
      // z-order must read strictly fewer files
      withRoot { flat =>
        SnapshotTable.commitWithStatsCols(spark, flat, Seq("x", "y"),
          retain = 10)(_ =>
          SnapshotTable.clusterBy(img3(grid), "x", 16))
        val b1 = SnapshotTable.readPrunedBox(spark, flat,
          Seq(("x", lit(8L), lit(15L)), ("y", lit(16L), lit(23L))))
        assert(b1.df.where(col("x").between(8L, 15L) &&
          col("y").between(16L, 23L)).count() === 64)
        assert(box.filesRead < b1.filesRead,
          s"z ${box.filesRead} !< 1-D ${b1.filesRead}")
      }
      // a predicate on a column with NO manifest stats prunes nothing
      // but stays correct; a single-file compaction leaves nothing TO
      // skip (1 of 1 read) while staying exact
      val noCol = SnapshotTable.readPrunedBox(spark, root,
        Seq(("id", lit(0L), lit(0L))))
      assert(noCol.filesRead === noCol.filesTotal)
      SnapshotTable.compact(spark, root)
      val fb = SnapshotTable.readPrunedBox(spark, root,
        Seq(("x", lit(8L), lit(15L))))
      assert(fb.filesRead === fb.filesTotal && fb.filesTotal === 1)
      assert(fb.df.count() === 1024)
    }
  }

  test("box pruning is exact on random skewed data and random boxes " +
      "(property trials): pruned scan + predicate == full scan + " +
      "predicate under both z-order and 1-D clustering") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 3) {
      withRoot { root =>
        // skewed, duplicated, non-grid data: x zipf-ish, y uniform
        val rows = Seq.tabulate(600) { i =>
          val x = (math.pow(rnd.nextDouble(), 3) * 1000).toLong
          val y = rnd.nextInt(1000).toLong
          (x, y, i.toLong)
        }
        val cluster: org.apache.spark.sql.DataFrame =
          if (trial % 2 == 1)
            SnapshotTable.clusterByZ(rows.toDF("x", "y", "id"), "x", "y", 7)
          else SnapshotTable.clusterBy(rows.toDF("x", "y", "id"), "x", 7)
        SnapshotTable.commitWithStatsCols(spark, root, Seq("x", "y"),
          retain = 5)(_ => cluster)
        for (_ <- 1 to 4) {
          val (xl, yl) = (rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong)
          val (xh, yh) = (xl + rnd.nextInt(300), yl + rnd.nextInt(300))
          val scan = SnapshotTable.readPrunedBox(spark, root,
            Seq(("x", lit(xl), lit(xh)), ("y", lit(yl), lit(yh))))
          val got = scan.df.where(col("x").between(xl, xh) &&
              col("y").between(yl, yh))
            .select("id").collect().map(_.getLong(0)).toSet
          val want = rows.collect { case (x, y, id)
            if x >= xl && x <= xh && y >= yl && y <= yh => id }.toSet
          assert(got === want,
            s"trial $trial box [$xl,$xh]x[$yl,$yh] " +
              s"(read ${scan.filesRead}/${scan.filesTotal})")
        }
      }
    }
  }

  test("hardening: foreign v= names are skipped, a failed build leaks " +
      "no stage dir, and clusterByZ degrades gracefully on empty input") {
    withRoot { root =>
      SnapshotTable.commit(spark, root)(_ => img(1L -> "a"))
      // a stray non-numeric v= dir (ops copy) must not wedge the root
      assert(new java.io.File(root, "v=3.bak").mkdirs())
      assert(SnapshotTable.latestVersion(spark, root).isDefined)
      SnapshotTable.commit(spark, root)(st =>
        st.get.unionByName(img(2L -> "b")))
      assert(SnapshotTable.read(spark, root).get.count() === 2)
      // a commit that fails after its segment write and staging must
      // clean BOTH its staging dir and its freshly written
      // (unreferenced) data segment
      val segsBefore = new java.io.File(root).listFiles()
        .count(_.getName.startsWith("seg-"))
      intercept[RuntimeException] {
        SnapshotTable.commitCore(spark, root, 2, Nil, carriedFrom = None,
          beforePublish = () => throw new RuntimeException("stats died"))(
          cur => cur().get)
      }
      val stages = new java.io.File(root).listFiles()
        .filter(_.getName.startsWith(".stage-"))
      assert(stages.isEmpty, stages.mkString(","))
      assert(new java.io.File(root).listFiles()
        .count(_.getName.startsWith("seg-")) === segsBefore,
        "failed commit leaked a data segment")
      // version count unchanged by the failed commit
      assert(SnapshotTable.committedVersions(spark, root).size === 2)
    }
    withRoot { empty =>
      // clusterByZ on an empty image: no NPE, a plain fixed-width
      // shuffle, and the committed version reads back empty
      import spark.implicits._
      SnapshotTable.commitWithStatsCols(spark, empty, Seq("x", "y"))(_ =>
        SnapshotTable.clusterByZ(
          Seq.empty[(Long, Long)].toDF("x", "y"), "x", "y", 4))
      assert(SnapshotTable.read(spark, empty).get.count() === 0)
    }
  }

  test("schema evolution: a commit that ADDS a column serves the " +
      "merged schema, old versions keep their own schema (nulls only " +
      "under an explicit merged read), compaction preserves it") {
    withRoot { root =>
      import spark.implicits._
      SnapshotTable.commit(spark, root, retain = 10)(_ =>
        img(1L -> "a", 2L -> "b"))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      // the incoming batch carries a NEW column; the merge is
      // unionByName(allowMissingColumns) — the table-format ADD COLUMN
      // story: pre-evolution rows take NULL, nothing is rewritten
      val batch = Seq((3L, "c", 7.5)).toDF("k", "v", "score")
      SnapshotTable.commit(spark, root, retain = 10)(st =>
        st.get.unionByName(batch, allowMissingColumns = true))
      val v2 = SnapshotTable.latestVersion(spark, root).get
      val cur = SnapshotTable.read(spark, root).get
      assert(cur.columns.toSeq === Seq("k", "v", "score"))
      assert(cur.where(col("k") === 1L).select("score")
        .first().isNullAt(0))
      assert(cur.where(col("k") === 3L).select("score")
        .first().getDouble(0) === 7.5)
      // time travel serves each version's OWN schema
      assert(SnapshotTable.readVersion(spark, root, v1).columns.toSeq
        === Seq("k", "v"))
      assert(SnapshotTable.readVersion(spark, root, v2).columns.toSeq
        === Seq("k", "v", "score"))
      // an old version read under the merged schema: readable, score
      // is NULL for every pre-evolution row (read via the version's
      // manifest-listed files — the version dir holds metadata only)
      val v1Files = SnapshotTable.dataFiles(spark, root, v1)
        .map(f => s"$root/$f")
      val mergedOld = spark.read.schema(cur.schema).parquet(v1Files: _*)
      assert(mergedOld.count() === 2)
      assert(mergedOld.select("score").collect().forall(_.isNullAt(0)))
      // compaction (a plain commit) preserves the evolved schema
      val v3 = SnapshotTable.compact(spark, root)
      val compacted = SnapshotTable.readVersion(spark, root, v3)
      assert(compacted.columns.toSeq === Seq("k", "v", "score"))
      assert(compacted.exceptAll(cur).count() === 0 &&
        cur.exceptAll(compacted).count() === 0)
    }
  }

  test("a fixed-length build that died mid-way self-heals: the version " +
      "count gate resumes the missing commits (round-14 ADVICE)") {
    withRoot { root =>
      import spark.implicits._
      // simulate table_time_travel's 3-commit build dying after 1
      def batch(i: Int) = img((i.toLong + 1) -> s"b$i")
      SnapshotTable.commit(spark, root, retain = 3)(st =>
        st.fold(batch(0))(_.unionByName(batch(0))))
      assert(SnapshotTable.committedVersions(spark, root).size === 1)
      // the resume gate: commit only batches `have` onward
      val have = SnapshotTable.committedVersions(spark, root).size
      (have until 3).foreach(i =>
        SnapshotTable.commit(spark, root, retain = 3)(st =>
          st.get.unionByName(batch(i))))
      val vs = SnapshotTable.committedVersions(spark, root)
      assert(vs.size === 3)
      // version k holds batches 0..k — identical to an uninterrupted
      // 3-commit build
      assert(vs.map(v =>
        SnapshotTable.readVersion(spark, root, v).count()) === Seq(1L, 2L, 3L))
    }
  }

  private def fsFor(root: String) = new org.apache.hadoop.fs.Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("commitAppend is O(delta): each append writes only its own " +
      "files, carries history by reference, and never rewrites a " +
      "committed byte") {
    withRoot { root =>
      val fs = fsFor(root)
      def batch(i: Int) = img((1 to 3).map(j =>
        (i * 10L + j, s"b$i-$j")): _*).repartition(2)
      (1 to 4).foreach(i =>
        graft.streaming.SnapshotTable.commitAppend(spark, root, batch(i),
          retain = 10))
      val vs = SnapshotTable.committedVersions(spark, root)
      assert(vs.size === 4)
      // O(delta) accounting: files_total grows by exactly the delta's
      // files; files_new stays flat at the delta size — version K
      // never rewrites versions 1..K-1
      vs.zipWithIndex.foreach { case (v, i) =>
        assert(SnapshotTable.fileCount(spark, root, v) === 2 * (i + 1))
        assert(SnapshotTable.newFiles(spark, root, v).size === 2,
          s"v=$v wrote more than its delta")
      }
      // the file chain is strictly cumulative: v_k ⊇ v_{k-1}
      vs.sliding(2).foreach { case Seq(a, b) =>
        val fa = SnapshotTable.dataFiles(spark, root, a).toSet
        val fb = SnapshotTable.dataFiles(spark, root, b).toSet
        assert(fa.subsetOf(fb))
      }
      // physical immutability: v1's data files keep byte length AND
      // mtime across three later appends — nothing touched them
      val v1Stats = SnapshotTable.dataFiles(spark, root, vs.head).map {
        f =>
          val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(
            s"$root/$f"))
          (f, st.getLen, st.getModificationTime)
      }
      graft.streaming.SnapshotTable.commitAppend(spark, root, batch(5),
        retain = 10)
      v1Stats.foreach { case (f, len, mtime) =>
        val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(
          s"$root/$f"))
        assert((st.getLen, st.getModificationTime) === ((len, mtime)),
          s"append rewrote committed file $f")
      }
      // content: version k is the union of batches 1..k
      assert(vs.map(v =>
        SnapshotTable.readVersion(spark, root, v).count())
        === Seq(3L, 6L, 9L, 12L))
      assert(SnapshotTable.read(spark, root).get
        .where(col("k") === 21L).select("v").first().getString(0)
        === "b2-1")
    }
  }

  test("readSince serves exactly the rows appended after a version; a " +
      "full-image rewrite makes every file new (documented)") {
    withRoot { root =>
      def batch(i: Int) = img((1 to 4).map(j =>
        (i * 10L + j, s"b$i")): _*)
      (1 to 3).foreach(i =>
        graft.streaming.SnapshotTable.commitAppend(spark, root, batch(i),
          retain = 10))
      val vs = SnapshotTable.committedVersions(spark, root)
      // since v1 as of v3: batches 2 and 3, nothing else
      val delta = graft.streaming.SnapshotTable.readSince(spark, root,
        Some(vs(0)), Some(vs(2)))
      assert(delta.count() === 8)
      assert(delta.select("v").distinct().collect().map(_.getString(0))
        .toSet === Set("b2", "b3"))
      // since v2 as of v2: empty, schema preserved
      val none = graft.streaming.SnapshotTable.readSince(spark, root,
        Some(vs(1)), Some(vs(1)))
      assert(none.count() === 0)
      assert(none.columns.toSeq === Seq("k", "v"))
      // sinceV = None reads everything
      assert(graft.streaming.SnapshotTable.readSince(spark, root, None)
        .count() === 12)
      // a compaction rewrites the image into fresh files — incremental
      // consumers see everything as new (the documented limit; row-level
      // change capture is the cdc_* keys' territory)
      val preCompact = SnapshotTable.latestVersion(spark, root).get
      SnapshotTable.compact(spark, root)
      assert(graft.streaming.SnapshotTable.readSince(spark, root,
        Some(preCompact)).count() === 12)
    }
  }

  test("append-chain schema evolution: ADD COLUMN without rewriting " +
      "history — per-version schema, nulls only under the merged " +
      "schema, type changes rejected loudly") {
    withRoot { root =>
      import spark.implicits._
      graft.streaming.SnapshotTable.commitAppend(spark, root,
        img(1L -> "a", 2L -> "b"), retain = 10)
      val v1 = SnapshotTable.latestVersion(spark, root).get
      val v1Files = SnapshotTable.dataFiles(spark, root, v1).toSet
      graft.streaming.SnapshotTable.commitAppend(spark, root,
        Seq((3L, "c", 7.5)).toDF("k", "v", "score"), retain = 10)
      val v2 = SnapshotTable.latestVersion(spark, root).get
      // no history rewrite: v2 references v1's files as-is
      assert(v1Files.subsetOf(
        SnapshotTable.dataFiles(spark, root, v2).toSet))
      // per-version schema
      assert(SnapshotTable.readVersion(spark, root, v1).columns.toSeq
        === Seq("k", "v"))
      val cur = SnapshotTable.readVersion(spark, root, v2)
      assert(cur.columns.toSeq === Seq("k", "v", "score"))
      assert(cur.where(col("k") === 1L).select("score")
        .first().isNullAt(0))
      assert(cur.where(col("k") === 3L).select("score")
        .first().getDouble(0) === 7.5)
      // a type CHANGE on a shared column is silent-corruption fuel —
      // the merge refuses it
      val e = intercept[IllegalArgumentException] {
        graft.streaming.SnapshotTable.commitAppend(spark, root,
          Seq(("4", "d")).toDF("k", "v"), retain = 10)
      }
      assert(e.getMessage.contains("ADD COLUMN only"))
    }
  }

  test("appends carry per-file stats by REFERENCE: historical files " +
      "keep their recorded pruning ranges un-re-read, fresh files get " +
      "fresh stats, stats-less deltas stay conservative") {
    withRoot { root =>
      SnapshotTable.commitWithStats(spark, root, "k", retain = 10)(_ =>
        SnapshotTable.clusterBy(
          img((1L to 40L).map(k => (k, s"v$k")): _*), "k", 4))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      val statsV1 = spark.read.parquet(s"$root/v=$v1/_manifest")
        .orderBy("file").collect().map(_.toSeq)
      // append WITHOUT restating statsCols — inherited from the base
      graft.streaming.SnapshotTable.commitAppend(spark, root,
        SnapshotTable.clusterBy(
          img((41L to 80L).map(k => (k, s"v$k")): _*), "k", 4),
        retain = 10)
      val v2 = SnapshotTable.latestVersion(spark, root).get
      // round 17 (delta manifests): v2 is a DELTA version — its
      // physical _manifest holds ONLY the fresh files' rows, and the
      // merged VIEW (statsManifest) serves carried + fresh; assert
      // both the tiering and the view
      val physicalV2 = spark.read.parquet(s"$root/v=$v2/_manifest")
      assert(physicalV2.count() === 4,
        "a delta commit must write only its own files' stats rows")
      val manifestV2 = SnapshotTable.statsManifest(spark, root, v2)
      assert(manifestV2.count() === 8)
      // the carried rows are BYTE-IDENTICAL to v1's manifest — history
      // was referenced (served from v1's own physical manifest), never
      // recomputed, never even copied
      val carried = manifestV2
        .where(col("file").isin(
          statsV1.map(_.head.toString).toIndexedSeq: _*))
        .orderBy("file").collect().map(_.toSeq)
      assert(carried === statsV1)
      // pruning spans the whole chain: an old-range window touches only
      // old files, a new-range window only new ones
      val oldHit = SnapshotTable.readPruned(spark, root, lit(5L), lit(14L))
      assert(oldHit.filesTotal === 8 && oldHit.filesRead <= 2)
      assert(oldHit.df.where(col("k").between(5L, 14L)).count() === 10)
      val newHit = SnapshotTable.readPruned(spark, root, lit(45L),
        lit(54L))
      assert(newHit.filesRead <= 2)
      assert(newHit.df.where(col("k").between(45L, 54L)).count() === 10)
      // a delta MISSING the stats column records NULL ranges — its
      // files are always read (conservative), never silently skipped
      import spark.implicits._
      graft.streaming.SnapshotTable.commitAppend(spark, root,
        Seq(Tuple1("statless")).toDF("v"), retain = 10)
      val anyHit = SnapshotTable.readPruned(spark, root, lit(1000L),
        lit(2000L))
      assert(anyHit.filesRead === 1, "null-stats file must survive " +
        "every prune")
      assert(anyHit.df.where(col("v") === "statless").count() === 1)
    }
  }

  test("refcounted vacuum: segments shared with retained versions " +
      "survive version-dir retention; aged unreferenced segments are " +
      "reclaimed") {
    withRoot { root =>
      val fs = fsFor(root)
      def segs() = fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .toSeq.map(_.getPath.getName).filter(_.startsWith("seg-")).sorted
      def batch(i: Int) = img((i * 10L) -> s"b$i")
      (1 to 3).foreach(i =>
        graft.streaming.SnapshotTable.commitAppend(spark, root, batch(i),
          retain = 2))
      // v1's DIR is vacuumed (retain=2), but its SEGMENT is still
      // referenced by v2 and v3's manifests — both read their full image
      val vs = SnapshotTable.committedVersions(spark, root)
      assert(vs.size === 2)
      assert(SnapshotTable.readVersion(spark, root, vs.head).count() === 2)
      assert(SnapshotTable.readVersion(spark, root, vs.last).count() === 3)
      assert(segs().size === 3)
      // a full-image rewrite drops every reference to the append
      // chain's segments; they linger inside the age gate (an in-flight
      // commit protection), and are reclaimed once aged
      SnapshotTable.commit(spark, root, retain = 1)(_ => img(99L -> "z"))
      val keep = segs().toSet -- SnapshotTable.dataFiles(spark, root,
        SnapshotTable.latestVersion(spark, root).get)
        .map(_.takeWhile(_ != '/')).toSet
      assert(keep.nonEmpty)
      assert(segs().size === 4, "fresh unreferenced segments must " +
        "survive the gate")
      keep.foreach(n => fs.setTimes(new org.apache.hadoop.fs.Path(
        s"$root/$n"), System.currentTimeMillis() - 16 * 60 * 1000L, -1))
      // the PUBLIC maintenance entry (every commit also runs it):
      // an ops job can reclaim a quiescent table without writing to it
      SnapshotTable.vacuum(spark, root, retain = 1)
      val after = segs()
      assert(keep.forall(n => !after.contains(n)),
        s"aged unreferenced segments not reclaimed: $after")
      // the live image is intact
      assert(SnapshotTable.read(spark, root).get.count() === 1)
    }
  }

  test("commitMerge rewrites ONLY files containing batch keys: " +
      "untouched files carry by reference un-rewritten, pass-through " +
      "rows survive verbatim, and a pure-insert batch touches zero " +
      "files") {
    withRoot { root =>
      val fs = fsFor(root)
      // 80 keys range-clustered into 8 files (~10 keys each), stats on k
      SnapshotTable.commitWithStats(spark, root, "k", retain = 10)(_ =>
        SnapshotTable.clusterBy(
          img((1L to 80L).map(k => (k, s"old$k")): _*), "k", 8))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      val v1Stat = SnapshotTable.dataFiles(spark, root, v1).map { f =>
        val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(
          s"$root/$f"))
        (f, st.getLen, st.getModificationTime)
      }
      // a LOCALIZED batch: keys 5-7 live in one of the 8 files
      SnapshotTable.commitMerge(spark, root,
        img(5L -> "new5", 6L -> "new6", 7L -> "new7"), "k",
        retain = 10)((_, b) => b)
      val v2 = SnapshotTable.latestVersion(spark, root).get
      val newF = SnapshotTable.newFiles(spark, root, v2)
      val carried = SnapshotTable.dataFiles(spark, root, v2).toSet --
        newF.toSet
      // nearly all of the 8 clustered files carry by reference — keys
      // 5-7 are adjacent, so they live in 1 file (2 if a sampled range
      // boundary falls between them; boundaries vary per session)
      assert(carried.size >= 6, s"carried $carried")
      // the carried files are PHYSICALLY untouched
      v1Stat.filter(s => carried.contains(s._1)).foreach {
        case (f, len, mtime) =>
          val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(
            s"$root/$f"))
          assert((st.getLen, st.getModificationTime) === ((len, mtime)),
            s"merge rewrote untouched file $f")
      }
      // content: batch keys replaced, pass-through keys of the touched
      // file verbatim, everything else intact — 80 rows exactly
      val cur = SnapshotTable.read(spark, root).get
      assert(cur.count() === 80)
      assert(cur.where(col("k").isin(5L, 6L, 7L)).orderBy("k")
        .collect().map(_.getString(1)).toSeq
        === Seq("new5", "new6", "new7"))
      assert(cur.where(!col("k").isin(5L, 6L, 7L))
        .collect().forall(_.getString(1).startsWith("old")))
      // the fresh segment carries stats on k: a pruned read for the
      // merged range skips the carried files
      val hit = SnapshotTable.readPruned(spark, root, lit(5L), lit(7L))
      assert(hit.filesRead < hit.filesTotal)
      assert(hit.df.where(col("k").between(5L, 7L)).count() === 3)
      // PURE INSERT: keys 100-101 exist in no file — zero files
      // rewritten, the merge degenerates to an append
      SnapshotTable.commitMerge(spark, root,
        img(100L -> "ins100", 101L -> "ins101"), "k",
        retain = 10)((ex, b) => {
          assert(ex.forall(_.isEmpty), "insert batch matched rows")
          b
        })
      val v3 = SnapshotTable.latestVersion(spark, root).get
      assert(SnapshotTable.dataFiles(spark, root, v2).toSet.subsetOf(
        SnapshotTable.dataFiles(spark, root, v3).toSet),
        "pure insert must carry every existing file")
      assert(SnapshotTable.read(spark, root).get.count() === 82)
    }
  }

  test("commitMerge with an empty batch: no file touched, no row " +
      "changed, the version still advances atomically") {
    withRoot { root =>
      import spark.implicits._
      SnapshotTable.commitWithStats(spark, root, "k", retain = 10)(_ =>
        SnapshotTable.clusterBy(
          img((1L to 20L).map(k => (k, s"v$k")): _*), "k", 2))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      val before = SnapshotTable.dataFiles(spark, root, v1).toSet
      SnapshotTable.commitMerge(spark, root,
        Seq.empty[(Long, String)].toDF("k", "v"), "k",
        retain = 10)((ex, b) => {
          assert(ex.isEmpty, "empty batch must not resolve existing rows")
          b
        })
      val v2 = SnapshotTable.latestVersion(spark, root).get
      assert(v2 === v1 + 1)
      assert(before.subsetOf(
        SnapshotTable.dataFiles(spark, root, v2).toSet))
      assert(SnapshotTable.read(spark, root).get.count() === 20)
    }
  }

  test("commitMerge stays exact when a key's rows span files with " +
      "overlapping ranges: touch detection is content-based, " +
      "pass-through rows are never collapsed") {
    withRoot { root =>
      import spark.implicits._
      // two rows per key, HASH-spread over 4 files — a key's rows land
      // in different files and every file's [min,max] overlaps
      val rows = (1L to 40L).flatMap(k => Seq((k, s"a$k"), (k, s"b$k")))
      SnapshotTable.commitWithStats(spark, root, "k", retain = 10)(_ =>
        rows.toDF("k", "v").repartition(4))
      // replace key 5's rows with ONE batch row; every file containing
      // key 5 must be rewritten, and keys cohabiting those files keep
      // BOTH their rows (copied verbatim, never argmax'd away)
      SnapshotTable.commitMerge(spark, root, img(5L -> "merged5"), "k",
        retain = 10)((_, b) => b)
      val cur = SnapshotTable.read(spark, root).get
      val expected = rows.filterNot(_._1 == 5L) :+ (5L -> "merged5")
      val exp = expected.toDF("k", "v")
      assert(cur.count() === exp.count())
      assert(cur.exceptAll(exp).count() === 0)
      assert(exp.exceptAll(cur).count() === 0)
    }
  }

  test("a pre-round-15 self-contained version dir is refused, naming " +
      "the layout and the root: read, readVersion, commitAppend, " +
      "commitMerge and cloneTo throw and commit nothing") {
    withRoot { root =>
      val fs = fsFor(root)
      // hand-built v=1 in the retired layout: data directly in the
      // version dir plus the marker, none of the per-version sidecars
      img(1L -> "a", 2L -> "b").write.parquet(s"$root/v=1")
      fs.create(new org.apache.hadoop.fs.Path(s"$root/v=1/_COMMITTED"),
        false).close()
      val target = s"$root/clone"
      def refused(what: String)(f: => Any): Unit = {
        val e = intercept[IllegalStateException](f)
        assert(e.getMessage.contains("pre-round-15 self-contained") &&
          e.getMessage.contains(root), s"$what: ${e.getMessage}")
      }
      refused("read")(SnapshotTable.read(spark, root))
      refused("readVersion")(SnapshotTable.readVersion(spark, root, 1L))
      refused("commitAppend")(
        SnapshotTable.commitAppend(spark, root, img(3L -> "c")))
      refused("commitMerge")(SnapshotTable.commitMerge(spark, root,
        img(1L -> "z"), "k")((_, b) => b))
      refused("cloneTo")(SnapshotTable.cloneTo(spark, root, target))
      // nothing committed, no segment written, no clone planted
      assert(SnapshotTable.committedVersions(spark, root) === Seq(1L))
      assert(!fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .exists(_.getPath.getName.startsWith("seg-")))
      assert(SnapshotTable.committedVersions(spark, target).isEmpty)
    }
  }

  test("a version without its _manifest is refused, naming the root " +
      "and the version: read, readVersion, commitAppend, commitMerge, " +
      "history and cloneTo throw and commit nothing") {
    withRoot { root =>
      val fs = fsFor(root)
      SnapshotTable.commit(spark, root, retain = 10)(_ =>
        img(1L -> "a", 2L -> "b"))
      SnapshotTable.commitAppend(spark, root, img(3L -> "c"), retain = 10)
      val v = SnapshotTable.latestVersion(spark, root).get
      // the shape of a table written before every version carried one
      assert(fs.delete(new org.apache.hadoop.fs.Path(s"$root/v=$v/_manifest"),
        true))
      val target = s"$root/clone"
      def refused(what: String)(f: => Any): Unit = {
        val e = intercept[IllegalStateException](f)
        assert(e.getMessage.contains(s"$root/v=$v has no _manifest") &&
          e.getMessage.contains("before every version carried a manifest"),
          s"$what: ${e.getMessage}")
        // the listing's FileNotFoundException stays the cause, so a
        // version vacuumed under a racing commit still reads as a race
        assert(e.getCause.isInstanceOf[java.io.FileNotFoundException], what)
      }
      refused("read")(SnapshotTable.read(spark, root))
      refused("readVersion")(SnapshotTable.readVersion(spark, root, v))
      refused("commitAppend")(
        SnapshotTable.commitAppend(spark, root, img(4L -> "d")))
      refused("commitMerge")(SnapshotTable.commitMerge(spark, root,
        img(1L -> "z"), "k")((_, b) => b))
      refused("history")(SnapshotTable.history(spark, root))
      refused("cloneTo")(SnapshotTable.cloneTo(spark, root, target))
      // nothing committed, no segment written, no clone planted
      assert(SnapshotTable.committedVersions(spark, root).last === v)
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .count(_.getPath.getName.startsWith("seg-")) === 2)
      // the clone is refused before any byte is copied
      assert(!fs.exists(new org.apache.hadoop.fs.Path(target)))
    }
  }

  test("every commit entry point writes the one version layout: " +
      "_COMMITTED, exactly one of _files/_parent, _schema.ddl, " +
      "_commit_ts and _retain") {
    withRoot { dir =>
      import spark.implicits._
      import org.apache.spark.sql.types.{LongType, StringType}
      val root = s"$dir/t"
      val clone = s"$dir/clone"
      val fs = fsFor(root)
      def rows(ks: Seq[Long], tag: String) =
        ks.map(k => (k, k.toInt, tag)).toDF("k", "n", "v")
      // in order: each entry point commits exactly one new version of
      // its table (retain 20 keeps v0 for the restore)
      val steps: Seq[(String, String, () => Long)] = Seq(
        ("commit", root, () => SnapshotTable.commit(spark, root,
          retain = 20)(_ => rows(1L to 8L, "a").repartition(4))),
        ("commitAppend", root, () => SnapshotTable.commitAppend(spark,
          root, rows(9L to 10L, "b"), retain = 20)),
        ("commitMerge", root, () => SnapshotTable.commitMerge(spark, root,
          rows(Seq(1L), "m"), "k", retain = 20)((_, b) => b)),
        ("commitMergeDV", root, () => SnapshotTable.commitMergeDV(spark,
          root, rows(Seq(2L), "d"), "k", retain = 20)((_, b) => b)),
        ("foldDeletionVectors", root, () =>
          SnapshotTable.foldDeletionVectors(spark, root, retain = 20)),
        ("restore", root, () =>
          SnapshotTable.restore(spark, root, 0L, retain = 20)),
        ("addColumn", root, () => SnapshotTable.addColumn(spark, root,
          "note", StringType, retain = 20)),
        ("renameColumn", root, () => SnapshotTable.renameColumn(spark,
          root, "note", "memo", retain = 20)),
        ("widenColumn", root, () => SnapshotTable.widenColumn(spark, root,
          "n", LongType, retain = 20)),
        ("dropColumn", root, () => SnapshotTable.dropColumn(spark, root,
          "memo", retain = 20)),
        ("compactSmall", root, () => SnapshotTable.compactSmall(spark,
          root, Long.MaxValue, retain = 20)),
        ("compact", root, () =>
          SnapshotTable.compact(spark, root, retain = 20)),
        ("cloneTo", clone, () =>
          SnapshotTable.cloneTo(spark, root, clone, retain = 20)))
      steps.foreach { case (name, at, run) =>
        val before = SnapshotTable.committedVersions(spark, at)
        val v = run()
        assert(!before.contains(v) &&
          SnapshotTable.latestVersion(spark, at).contains(v),
          s"$name committed no new version (v=$v, before $before)")
        def has(f: String) =
          fs.exists(new org.apache.hadoop.fs.Path(s"$at/v=$v/$f"))
        assert(has("_files") != has("_parent"),
          s"$name: v=$v needs exactly one of _files/_parent")
        Seq("_COMMITTED", "_schema.ddl", "_commit_ts", "_retain",
          "_manifest").foreach(f => assert(has(f), s"$name: v=$v lacks $f"))
        // the version's own manifest records name, rows and bytes, and
        // a row count for every file the version added
        val own = spark.read.parquet(s"$at/v=$v/_manifest")
        Seq("file", "rows", "bytes").foreach(c => assert(
          own.columns.contains(c), s"$name: v=$v's manifest lacks $c"))
        val counted = own.where(col("rows").isNotNull)
          .select("file").collect().map(_.getString(0)).toSet
        val added = SnapshotTable.newFiles(spark, at, v)
        assert(added.forall(counted), s"$name: v=$v added " +
          s"${added.filterNot(counted)} with no row count")
      }
      assert(SnapshotTable.read(spark, clone).get.orderBy("k").collect()
        === SnapshotTable.read(spark, root).get.orderBy("k").collect())
    }
  }

  test("sink_snapshot_merge equals the foreachBatch upsert sink's " +
      "converged image, and every merge commit carried files") {
    val a = q("sink_snapshot_merge")
    val b = q("sink_foreach_upsert")
    assert(a.count() === b.count())
    assert(a.drop("file_merge").exceptAll(b).count() === 0)
    // the structural boolean: each commitMerge carried ≥1 file by
    // reference instead of rewriting the table (the round-15 verdict's
    // one `weak` — the legacy full-rewrite commit — closed)
    assert(a.select("file_merge").distinct().collect()
      .map(_.getBoolean(0)).toSeq === Seq(true))
  }

  test("table_time_travel builds its version history ONCE: a second " +
      "invocation reads, never re-commits") {
    import org.apache.spark.sql.functions.col
    val first = q("table_time_travel").collect()
    // the key's root (the restore chain, whose first three versions it
    // reads) is content-keyed; find it and pin its version set
    val root = new java.io.File(
      new java.net.URI(graft.ops.Artifacts.root(spark)))
    def roots() = Option(new java.io.File(root, "scratch").listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.startsWith("restore_m_")).toSeq
    assert(roots().nonEmpty)
    def versions() = roots().map(r =>
      Option(r.listFiles()).getOrElse(Array.empty)
        .map(_.getName).filter(_.startsWith("v=")).sorted.toSeq)
    val vBefore = versions()
    val second = q("table_time_travel").collect()
    // identical results AND identical on-disk version dirs — the
    // second run resolved the existing history instead of committing
    // versions 4..6 on top (which would change every version's
    // content and break the corpus-content determinism the oracle
    // relies on)
    assert(versions() === vBefore)
    assert(first.toSeq === second.toSeq)
    // and the versions observably differ — time travel reads history,
    // not three copies of one snapshot (sum_value changes as later
    // batches supersede per-user images; n_users alone can saturate
    // when every user already appears in batch 1)
    val sums = q("table_time_travel")
      .select(col("sum_value")).collect().map(_.getDouble(0))
    assert(sums.distinct.length >= 2, sums.mkString(","))
  }

  test("CAS commit: expectedBase pins the base — a commit planned " +
      "against a superseded version conflicts loudly instead of " +
      "double-applying") {
    withRoot { root =>
      // create-if-empty succeeds exactly once
      SnapshotTable.commitAppend(spark, root, img(1L -> "a"),
        expectedBase = SnapshotTable.EmptyBase)
      val e0 = intercept[IllegalStateException] {
        SnapshotTable.commitAppend(spark, root, img(1L -> "dup"),
          expectedBase = SnapshotTable.EmptyBase)
      }
      assert(e0.getMessage.contains("conflict"))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      // two writers resolve the same base; the second to commit loses
      SnapshotTable.commitAppend(spark, root, img(2L -> "b"),
        expectedBase = v1)
      val e1 = intercept[IllegalStateException] {
        SnapshotTable.commitAppend(spark, root, img(2L -> "b-again"),
          expectedBase = v1)
      }
      assert(e1.getMessage.contains("conflict"))
      // exactly one application: the winner's row landed once and the
      // loser's batch never did
      val cur = SnapshotTable.read(spark, root).get
      assert(cur.count() === 2)
      assert(cur.where(col("v") === "b-again").count() === 0)
      // commitMerge honors the same pin
      val e2 = intercept[IllegalStateException] {
        SnapshotTable.commitMerge(spark, root, img(1L -> "m"), "k",
          expectedBase = v1)((_, b) => b)
      }
      assert(e2.getMessage.contains("conflict"))
      // and with the CURRENT base it applies
      val v2 = SnapshotTable.latestVersion(spark, root).get
      SnapshotTable.commitMerge(spark, root, img(1L -> "m"), "k",
        expectedBase = v2)((_, b) => b)
      assert(SnapshotTable.read(spark, root).get
        .where(col("k") === 1L).collect().map(_.getString(1)).toSeq
        === Seq("m"))
    }
  }

  test("CAS under TRUE concurrency: two writers pinned to the same " +
      "base race on live threads — exactly one commits, exactly one " +
      "conflicts, and the loser's batch never lands") {
    withRoot { root =>
      SnapshotTable.commitAppend(spark, root, img(0L -> "seed"),
        retain = 10)
      val base = SnapshotTable.latestVersion(spark, root).get
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutor(pool)
        val gate = new java.util.concurrent.CyclicBarrier(2)
        val outcomes = Await.result(Future.sequence(
          Seq("writerA", "writerB").zipWithIndex.map { case (tag, i) =>
            Future {
              gate.await()
              try Right(SnapshotTable.commitAppend(spark, root,
                img((i + 1).toLong -> tag), retain = 10,
                expectedBase = base))
              catch {
                case e: IllegalStateException
                    if e.getMessage.contains("conflict") => Left(tag)
              }
            }
          }), scala.concurrent.duration.Duration(180, "s"))
        assert(outcomes.count(_.isRight) === 1, outcomes.toString)
        assert(outcomes.count(_.isLeft) === 1, outcomes.toString)
        val loser = outcomes.collectFirst { case Left(t) => t }.get
        val cur = SnapshotTable.read(spark, root).get
        assert(cur.count() === 2) // seed + exactly one writer's row
        assert(cur.where(col("v") === loser).count() === 0,
          "the conflicted writer's batch must never land")
      } finally pool.shutdown()
    }
  }

  test("N-WRITER CAS fuzz (round 18): six live writers mixing appends " +
      "and merge-on-read upserts race CAS-pinned commits while a " +
      "janitor interleaves compactSmall/vacuum/DV-folds — every batch " +
      "lands exactly once, conflicts are the only failure mode, and " +
      "the final image is the deterministic per-writer fold") {
    withRoot { root =>
      // seed key OUTSIDE every writer's private range (writer 0's
      // first key is 0)
      SnapshotTable.commitWithStats(spark, root, "k", retain = 10)(_ =>
        img(-1L -> "seed"))
      val nWriters = 6
      val batchesPerWriter = 4
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(nWriters + 1)
      val done = new java.util.concurrent.atomic.AtomicInteger(0)
      val unexpected = new java.util.concurrent.ConcurrentLinkedQueue[
        String]()
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutor(pool)
        val gate = new java.util.concurrent.CyclicBarrier(nWriters + 1)
        def writer(w: Int): Future[Int] = Future {
          gate.await()
          var conflicts = 0
          (0 until batchesPerWriter).foreach { b =>
            val key = w * 1000L + b
            var landed = false
            var attempts = 0
            while (!landed && attempts < 120) {
              attempts += 1
              val base = SnapshotTable.latestVersion(spark, root)
                .getOrElse(SnapshotTable.EmptyBase)
              try {
                // even batches append a fresh writer-private key; odd
                // batches UPSERT the writer's previous key through the
                // DV path — writer-private keys make the final image
                // deterministic whatever the cross-writer interleaving
                if (b % 2 == 0)
                  SnapshotTable.commitAppend(spark, root,
                    img(key -> s"a$w-$b"), retain = 10,
                    expectedBase = base)
                else
                  SnapshotTable.commitMergeDV(spark, root,
                    img((key - 1) -> s"u$w-$b"), "k", retain = 10,
                    expectedBase = base)((_, batch) => batch)
                landed = true
              } catch {
                case _: graft.streaming.SnapshotConflictException =>
                  conflicts += 1 // lost the race — re-resolve + retry
                  // jittered backoff: CAS writers without it livelock
                  // on each other (every conflict re-pins to the same
                  // new base all at once)
                  Thread.sleep(10 + ((w * 7 + attempts) % 40))
                case e: Throwable =>
                  unexpected.add(s"writer $w batch $b: $e"); landed = true
              }
            }
            if (!landed) unexpected.add(s"writer $w batch $b starved")
          }
          done.incrementAndGet()
          conflicts
        }
        val janitor: Future[Unit] = Future {
          gate.await()
          val rnd = new scala.util.Random(18)
          // throttled: a maintenance daemon commits ORDERS OF
          // MAGNITUDE less often than the write path — an unthrottled
          // loop here starved the writers' CAS pins outright (every
          // janitor commit invalidates every in-flight pin)
          while (done.get() < nWriters) {
            try rnd.nextInt(3) match {
              case 0 => SnapshotTable.compactSmall(spark, root,
                minBytes = 1024L * 1024, targetFiles = 2, retain = 10)
              case 1 => SnapshotTable.vacuum(spark, root, retain = 10)
              case 2 => SnapshotTable.foldDeletionVectors(spark, root,
                retain = 10)
            } catch {
              case _: graft.streaming.SnapshotConflictException => ()
              case e: Throwable => unexpected.add(s"janitor: $e")
            }
            var waited = 0
            while (done.get() < nWriters && waited < 700) {
              Thread.sleep(50); waited += 50
            }
          }
        }
        val conflictTotals =
          try Await.result(
            Future.sequence((0 until nWriters).map(writer) :+
              janitor.map(_ => 0)),
            scala.concurrent.duration.Duration(420, "s"))
          finally {
            // the root dir is deleted right after this block — every
            // thread must be DEAD first or cleanup races their commits
            pool.shutdownNow()
            pool.awaitTermination(60,
              java.util.concurrent.TimeUnit.SECONDS)
            ()
          }
        assert(unexpected.isEmpty,
          s"non-conflict failures: ${unexpected.toArray.mkString("; ")}")
        // contention really happened (the fuzz would prove nothing if
        // the writers never raced)
        assert(conflictTotals.sum > 0, "no conflicts — no race exercised")
        val cur = SnapshotTable.read(spark, root).get
        // exactly once: seed + one row per even batch's key; odd
        // batches upsert in place, so counts never grow past that
        val expectedKeys = (0 until nWriters).flatMap(w =>
          (0 until batchesPerWriter by 2).map(b => w * 1000L + b))
        assert(cur.count() === 1 + expectedKeys.size,
          "a batch landed twice or vanished")
        assert(cur.groupBy("k").count().where(col("count") =!= 1)
          .count() === 0, "duplicated key")
        // per-writer determinism: key w*1000+b holds its upsert when
        // batch b+1 (odd) ran, else its append value
        (0 until nWriters).foreach { w =>
          (0 until batchesPerWriter by 2).foreach { b =>
            val got = cur.where(col("k") === w * 1000L + b)
              .select("v").first().getString(0)
            val want =
              if (b + 1 < batchesPerWriter) s"u$w-${b + 1}"
              else s"a$w-$b"
            assert(got === want, s"writer $w key $b: $got != $want")
          }
        }
      } finally pool.shutdown()
    }
  }

  test("commitMerge pins a NON-DETERMINISTIC batch to one evaluation: " +
      "no key is ever duplicated or lost, and the pin is released") {
    withRoot { root =>
      import spark.implicits._
      SnapshotTable.commitWithStats(spark, root, "k", retain = 10)(_ =>
        SnapshotTable.clusterBy(
          img((1L to 40L).map(k => (k, s"old$k")): _*), "k", 4))
      // a batch whose key SET changes on every evaluation (rand() is
      // NOT enough here: an unsalted re-evaluation of the same local
      // plan replays the same seed over the same partition layout — a
      // genuinely stateful nondeterministic udf is): before the
      // internal pin, the touched-file probe could compute one subset
      // while resolve emitted another — a key in neither (lost) or in
      // a carried file AND the fresh segment (duplicated)
      val calls = new java.util.concurrent.atomic.AtomicLong(0L)
      val drift = udf(() => calls.incrementAndGet()).asNondeterministic()
      (1 to 5).foreach { round =>
        val batch = img((1L to 40L).map(k => (k, s"new$round-$k")): _*)
          .where(pmod(col("k") + drift(), lit(2L)) === 0)
        assert(batch.storageLevel ===
          org.apache.spark.storage.StorageLevel.NONE)
        SnapshotTable.commitMerge(spark, root, batch, "k",
          retain = 10)((_, b) => b)
        // the pin is internal — released before commitMerge returns
        assert(batch.storageLevel ===
          org.apache.spark.storage.StorageLevel.NONE)
        val cur = SnapshotTable.read(spark, root).get
        assert(cur.count() === 40, s"round $round lost/duplicated rows")
        assert(cur.groupBy("k").count().where(col("count") =!= 1)
          .count() === 0, s"round $round duplicated a key")
      }
      // a batch the CALLER already persisted is used as-is and stays
      // persisted afterwards
      val pinned = img(1L -> "caller").persist()
      try {
        SnapshotTable.commitMerge(spark, root, pinned, "k",
          retain = 10)((_, b) => b)
        assert(pinned.storageLevel !==
          org.apache.spark.storage.StorageLevel.NONE)
      } finally { pinned.unpersist(); () }
    }
  }

  test("readChanges emits exactly the row-level diff of a merge: " +
      "insert/update pair/delete, pass-through rows cancel, and " +
      "applying the changes to vFrom reconstructs vTo") {
    withRoot { root =>
      SnapshotTable.commitWithStats(spark, root, "k", retain = 10)(_ =>
        SnapshotTable.clusterBy(
          img((1L to 80L).map(k => (k, s"old$k")): _*), "k", 8))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      // one localized merge: update k=5, delete k=6, insert k=100 —
      // resolver drops DEL rows (upsert-with-tombstone shape)
      SnapshotTable.commitMerge(spark, root,
        img(5L -> "new5", 6L -> "DEL", 100L -> "ins100"), "k",
        retain = 10)((_, b) => b.where(col("v") =!= "DEL"))
      val v2 = SnapshotTable.latestVersion(spark, root).get
      val ch = SnapshotTable.readChanges(spark, root, v1, v2, "k")
      val got = ch.orderBy("k", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq
      assert(got === Seq(
        (5L, "new5", "update_postimage"),
        (5L, "old5", "update_preimage"),
        (6L, "old6", "delete"),
        (100L, "ins100", "insert")),
        s"pass-through cohabitants must cancel; got ${got.mkString(",")}")
      // replaying the changelog over vFrom reconstructs vTo exactly
      val pre = SnapshotTable.readVersion(spark, root, v1)
      val gone = ch.where(col("_change_type")
        .isin("delete", "update_preimage")).select("k")
      val added = ch.where(col("_change_type")
        .isin("insert", "update_postimage")).drop("_change_type")
      val rebuilt = pre.join(gone, Seq("k"), "left_anti")
        .unionByName(added)
      assert(rebuilt.exceptAll(
        SnapshotTable.readVersion(spark, root, v2)).count() === 0)
      assert(SnapshotTable.readVersion(spark, root, v2)
        .exceptAll(rebuilt).count() === 0)
      // identical versions diff to nothing
      assert(SnapshotTable.readChanges(spark, root, v2, v2, "k")
        .count() === 0)
      // O(TOUCHED) plan-asserted: every file-scan leaf in the
      // changelog plan reads ONLY files from the version diff
      // (vFrom-only ∪ vTo-only) — carried files never enter the plan,
      // so at 100 TB the changelog costs the merge's delta, not the
      // table. Falsifiable control: the full-version read DOES plan
      // the carried files this assertion excludes.
      val diffFiles =
        (SnapshotTable.dataFiles(spark, root, v1).toSet diff
          SnapshotTable.dataFiles(spark, root, v2).toSet) ++
        (SnapshotTable.dataFiles(spark, root, v2).toSet diff
          SnapshotTable.dataFiles(spark, root, v1).toSet)
      // sparkPlan, not executedPlan: AQE wraps the latter in an
      // adaptive root whose children aren't visible to collect()
      def scannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
        df.queryExecution.sparkPlan.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.relation.location.rootPaths.map { p =>
              s"${p.getParent.getName}/${p.getName}"
            }
        }.flatten.toSet
      val chScanned = scannedFiles(
        SnapshotTable.readChanges(spark, root, v1, v2, "k"))
      assert(chScanned.nonEmpty && chScanned.subsetOf(diffFiles),
        s"changelog planned non-diff files: ${chScanned -- diffFiles}")
      val fullScanned = scannedFiles(
        SnapshotTable.readVersion(spark, root, v2))
      assert(!fullScanned.subsetOf(diffFiles),
        "control: the full read should plan carried files too")
    }
  }

  test("compact honors the caller's retention horizon instead of " +
      "hardcoding 2: time travel survives maintenance") {
    withRoot { root =>
      (1 to 3).foreach(i =>
        SnapshotTable.commitAppend(spark, root, img(i.toLong -> s"v$i"),
          retain = 10))
      val before = SnapshotTable.committedVersions(spark, root)
      assert(before.size === 3)
      SnapshotTable.compact(spark, root, targetFiles = 1, retain = 10)
      val after = SnapshotTable.committedVersions(spark, root)
      assert(after.size === 4, "compact(retain=10) must keep history")
      // the pre-compaction versions still serve their images
      assert(SnapshotTable.readVersion(spark, root, before.head)
        .count() === 1)
      assert(SnapshotTable.readVersion(spark, root, after.last)
        .count() === 3)
    }
  }

  test("compactSmall re-packs ONLY sub-threshold files: healthy files " +
      "carry physically untouched with their stats, rows and pruning " +
      "survive, and a fragment-free table is a version-free no-op") {
    withRoot { root =>
      val fs = fsFor(root)
      // a healthy clustered base (2 files, ~40 rows each, stats on k)
      SnapshotTable.commitWithStats(spark, root, "k", retain = 10)(_ =>
        SnapshotTable.clusterBy(
          img((1L to 80L).map(k => (k, s"v$k" * 40)): _*), "k", 2))
      // a drip of 5 micro-appends — the fragment pile compaction exists
      // for (each one tiny file)
      (81L to 85L).foreach(k =>
        SnapshotTable.commitAppend(spark, root,
          img(k -> s"v$k").coalesce(1), retain = 10))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      val before = SnapshotTable.dataFiles(spark, root, v1)
      assert(before.size === 7)
      val sizes = before.map(f => f ->
        fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$root/$f")))
        .toMap
      val big = before.filter(f => sizes(f).getLen >= 1000)
      assert(big.size === 2, s"fixture: ${before.map(sizes(_).getLen)}")
      val v2 = SnapshotTable.compactSmall(spark, root, minBytes = 1000,
        targetFiles = 1, retain = 10)
      assert(v2 > v1)
      val after = SnapshotTable.dataFiles(spark, root, v2)
      // 2 carried big files + 1 re-packed file
      assert(after.size === 3, s"after: $after")
      assert(big.toSet.subsetOf(after.toSet))
      big.foreach { f =>
        val st = fs.getFileStatus(new org.apache.hadoop.fs.Path(
          s"$root/$f"))
        assert((st.getLen, st.getModificationTime) ===
          ((sizes(f).getLen, sizes(f).getModificationTime)),
          s"compactSmall rewrote healthy file $f")
      }
      // rows identical, stats survive (pruning still bites)
      val cur = SnapshotTable.read(spark, root).get
      assert(cur.count() === 85)
      val hit = SnapshotTable.readPruned(spark, root, lit(5L), lit(10L))
      assert(hit.filesRead < hit.filesTotal)
      assert(hit.df.where(col("k").between(5L, 10L)).count() === 6)
      // nothing left to pack: no-op, version unchanged
      assert(SnapshotTable.compactSmall(spark, root, minBytes = 1000,
        targetFiles = 1, retain = 10) === v2)
      assert(SnapshotTable.latestVersion(spark, root).get === v2)
    }
  }

  test("txn tokens: lastCommittedBatch reports the max batch id per " +
      "appId across retained versions, unaffected by token-less " +
      "commits or other appIds") {
    withRoot { root =>
      SnapshotTable.commitAppend(spark, root, img(1L -> "a"),
        retain = 10, txn = Some(("streamA", 0L)))
      SnapshotTable.commitAppend(spark, root, img(2L -> "b"),
        retain = 10, txn = Some(("streamA", 1L)))
      SnapshotTable.commitMerge(spark, root, img(3L -> "c"), "k",
        retain = 10, txn = Some(("streamB", 7L)))((_, b) => b)
      SnapshotTable.commitAppend(spark, root, img(4L -> "d"),
        retain = 10)
      assert(SnapshotTable.lastCommittedBatch(spark, root, "streamA")
        === Some(1L))
      assert(SnapshotTable.lastCommittedBatch(spark, root, "streamB")
        === Some(7L))
      assert(SnapshotTable.lastCommittedBatch(spark, root, "streamC")
        === None)
    }
  }

  test("merge fuzz: 12 seeded random upsert batches through " +
      "commitMerge (bloom-gated candidates included) equal the same " +
      "batches folded over a plain DataFrame") {
    withRoot { root =>
      val rnd = new scala.util.Random(0xC0FFEE)
      // seed: 120 keys, range-clustered with stats AND a bloom so the
      // candidate path exercises both pruning stages
      val seed = (1L to 120L).map(k => (k, s"seed$k"))
      SnapshotTable.commitWithSkipping(spark, root, Seq("k"), Seq("k"),
        bloomBits = 4096, retain = 3)(_ =>
        SnapshotTable.clusterBy(img(seed: _*), "k", 6))
      var reference: Seq[(Long, String)] = seed
      (1 to 12).foreach { r =>
        // batch shapes vary: tiny point upserts (bloom path), wide
        // batches (past the bloom probe cap), inserts of fresh keys,
        // and the occasional empty batch
        val n = rnd.nextInt(4) match {
          case 0 => 1 + rnd.nextInt(3)     // point upsert
          case 1 => 30 + rnd.nextInt(40)   // wide batch
          case 2 => 0                      // empty
          case _ => 5 + rnd.nextInt(10)
        }
        val batch = (1 to n).map { _ =>
          val k = (1 + rnd.nextInt(160)).toLong // 121..160 are inserts
          (k, s"r$r-$k")
        }.distinct.groupBy(_._1).map(_._2.head).toSeq // unique keys
        SnapshotTable.commitMerge(spark, root, img(batch: _*), "k",
          retain = 3)((_, b) => b)
        reference = (reference.toMap ++ batch.toMap).toSeq
        val cur = SnapshotTable.read(spark, root).get
          .collect().map(r2 => (r2.getLong(0), r2.getString(1))).toSet
        assert(cur === reference.toSet, s"diverged at round $r")
      }
    }
  }

  test("lifecycle fuzz: seeded append/merge/compact walk — the table " +
      "tracks a reference map at every step, every transition's " +
      "changelog replays exactly, and MAINTENANCE IS CDF-SILENT " +
      "(compaction emits zero change rows)") {
    withRoot { root =>
      val rnd = new scala.util.Random(0xBEEF)
      SnapshotTable.commitWithStats(spark, root, "k", retain = 20)(_ =>
        SnapshotTable.clusterBy(
          img((1L to 60L).map(k => (k, s"seed$k")): _*), "k", 4))
      var model: Map[Long, String] = (1L to 60L)
        .map(k => k -> s"seed$k").toMap
      var nextFresh = 61L
      (1 to 10).foreach { r =>
        val prev = SnapshotTable.latestVersion(spark, root).get
        val op = rnd.nextInt(4)
        val expectSilent = op >= 2
        op match {
          case 0 => // append fresh keys
            val fresh = (0 until 1 + rnd.nextInt(5)).map { _ =>
              val k = nextFresh; nextFresh += 1; (k, s"app$r-$k") }
            SnapshotTable.commitAppend(spark, root, img(fresh: _*),
              retain = 20)
            model ++= fresh
          case 1 => // merge: update existing + maybe insert
            val batch = (0 until 1 + rnd.nextInt(6)).map { _ =>
              val k = (1 + rnd.nextInt(nextFresh.toInt + 4)).toLong
              (k, s"m$r-$k") }.groupBy(_._1).map(_._2.head).toSeq
            SnapshotTable.commitMerge(spark, root, img(batch: _*), "k",
              retain = 20)((_, b) => b)
            model ++= batch
          case 2 =>
            SnapshotTable.compactSmall(spark, root, minBytes = 2000,
              targetFiles = 2, retain = 20)
          case _ =>
            SnapshotTable.compact(spark, root, targetFiles = 3,
              retain = 20)
        }
        val cur = SnapshotTable.latestVersion(spark, root).get
        // table == model
        val got = SnapshotTable.read(spark, root).get.collect()
          .map(x => (x.getLong(0), x.getString(1))).toMap
        assert(got === model, s"round $r op $op diverged")
        if (cur != prev) {
          val ch = SnapshotTable.readChanges(spark, root, prev, cur, "k")
          if (expectSilent)
            // rewritten rows are value-identical — bag difference
            // cancels them all: maintenance never wakes a CDF consumer
            assert(ch.count() === 0,
              s"round $r: maintenance op $op emitted changes")
          else {
            // replaying the transition's changelog over the previous
            // image reconstructs the current one exactly
            val pre = SnapshotTable.readVersion(spark, root, prev)
            val gone = ch.where(col("_change_type")
              .isin("delete", "update_preimage")).select("k")
            val added = ch.where(col("_change_type")
              .isin("insert", "update_postimage")).drop("_change_type")
            val rebuilt = pre.join(gone, Seq("k"), "left_anti")
              .unionByName(added)
            val curDf = SnapshotTable.readVersion(spark, root, cur)
            assert(rebuilt.exceptAll(curDf).count() === 0, s"round $r")
            assert(curDf.exceptAll(rebuilt).count() === 0, s"round $r")
          }
        }
      }
    }
  }

  test("schema evolution THROUGH commitMerge: a batch carrying a new " +
      "column merges ADD-COLUMN-style — pass-through and carried rows " +
      "take NULL, the key's rows carry the value, history un-rewritten") {
    withRoot { root =>
      SnapshotTable.commitWithStats(spark, root, "k", retain = 10)(_ =>
        SnapshotTable.clusterBy(
          img((1L to 40L).map(k => (k, s"v$k")): _*), "k", 4))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      import spark.implicits._
      val batch = Seq((5L, "new5", "extra5"), (100L, "ins100", "extra100"))
        .toDF("k", "v", "note")
      SnapshotTable.commitMerge(spark, root, batch, "k",
        retain = 10)((_, b) => b)
      val v2 = SnapshotTable.latestVersion(spark, root).get
      val cur = SnapshotTable.readVersion(spark, root, v2)
      assert(cur.columns.toSeq === Seq("k", "v", "note"))
      assert(cur.count() === 41)
      assert(cur.where(col("k") === 5L).select("note")
        .first().getString(0) === "extra5")
      assert(cur.where(col("k") === 100L).select("note")
        .first().getString(0) === "extra100")
      // everyone else — carried files and touched-file pass-throughs
      // alike — serves NULL for the new column
      assert(cur.where(col("note").isNull).count() === 39)
      // the pre-evolution version still serves its OWN schema
      assert(SnapshotTable.readVersion(spark, root, v1)
        .columns.toSeq === Seq("k", "v"))
      // carried files were not rewritten: v2 still references v1 files
      val carried = SnapshotTable.dataFiles(spark, root, v2).toSet
        .intersect(SnapshotTable.dataFiles(spark, root, v1).toSet)
      assert(carried.nonEmpty, "merge evolution must not rewrite history")
    }
  }

  test("bloom file skipping: point probes prune a hash-distributed " +
      "layout range stats cannot, present keys are NEVER missed, " +
      "absent keys almost never probe a file, and blooms survive " +
      "merge and append") {
    withRoot { root =>
      // 400 SPARSE keys (multiples of 7) HASH-distributed into 8
      // files: every file's [min,max] spans ~the whole domain, so
      // range skipping keeps everything for a MID-domain probe — and
      // absent probes can be chosen INSIDE the ranges, so only the
      // bloom can prune them. Exactly the layout the index exists for.
      SnapshotTable.commitWithSkipping(spark, root, Seq("k"), Seq("k"),
        bloomBits = 4096, retain = 10)(_ =>
        img((1L to 400L).map(k => (7 * k, s"v${7 * k}")): _*)
          .repartition(8, col("k")))
      val range = SnapshotTable.readPruned(spark, root,
        lit(1400L), lit(1400L))
      assert(range.filesRead === range.filesTotal,
        "hash layout must defeat range pruning (the premise)")
      val hit = SnapshotTable.readPrunedIn(spark, root, "k", Seq(1400L))
      assert(hit.filesRead < hit.filesTotal)
      assert(hit.df.where(col("k") === 1400L).count() === 1)
      // NO FALSE NEGATIVES: a present key's probe always finds its row
      (7L to 2800L by 7 * 37).foreach { k =>
        val ps = SnapshotTable.readPrunedIn(spark, root, "k", Seq(k))
        assert(ps.df.where(col("k") === k).count() === 1, s"key $k missed")
      }
      // in-list probe
      val multi = SnapshotTable.readPrunedIn(spark, root, "k",
        Seq(35L, 539L, 2100L))
      assert(multi.df.where(col("k").isin(35L, 539L, 2100L))
        .count() === 3)
      // SELECTIVITY: absent IN-RANGE keys (7i+3 — never multiples of
      // 7) should essentially never probe a file (50 keys/file × 4
      // hashes ≈ 5% of 4096 bits set → fpp ~1e-5); range stats alone
      // would read every file for every one of them
      val fpReads = (1L to 50L).map(i =>
        SnapshotTable.readPrunedIn(spark, root, "k", Seq(7 * i + 3))
          .filesRead).sum
      assert(fpReads <= 4, s"bloom not selective: $fpReads probe reads")
      // a point-upsert merge goes through the bloom candidate stage
      // (hasBloom, 2 keys ≤ probe cap) and stays exact; blooms carry
      SnapshotTable.commitMerge(spark, root,
        img(35L -> "new35", 539L -> "new539"), "k",
        retain = 10)((_, b) => b)
      val cur = SnapshotTable.read(spark, root).get
      assert(cur.count() === 400)
      assert(cur.where(col("k") === 35L).collect().map(_.getString(1))
        .toSeq === Seq("new35"))
      assert(cur.where(col("k") === 2100L).collect().map(_.getString(1))
        .toSeq === Seq("v2100"))
      // appends INHERIT the bloom column: the fresh file gets its own
      // filter and point probes keep pruning across the whole chain
      SnapshotTable.commitAppend(spark, root, img(10000L -> "fresh"),
        retain = 10)
      val ps2 = SnapshotTable.readPrunedIn(spark, root, "k", Seq(10000L))
      assert(ps2.filesRead < ps2.filesTotal)
      assert(ps2.df.where(col("k") === 10000L).count() === 1)
      val ps3 = SnapshotTable.readPrunedIn(spark, root, "k", Seq(35L))
      assert(ps3.df.where(col("k") === 35L).collect()
        .map(_.getString(1)).toSeq === Seq("new35"))
      // string-typed bloom column round-trips through the same paths
      val root2 = root + "_str"
      SnapshotTable.commitWithSkipping(spark, root2, Nil, Seq("v"),
        bloomBits = 4096, retain = 10)(_ =>
        img((1L to 100L).map(k => (k, s"name$k")): _*)
          .repartition(4, col("v")))
      val sHit = SnapshotTable.readPrunedIn(spark, root2, "v",
        Seq("name42"))
      assert(sHit.filesRead < sHit.filesTotal)
      assert(sHit.df.where(col("v") === "name42").count() === 1)
    }
  }

  test("a MAX-SIZE bloom probe compiles: no CodeGenerator interpreted " +
      "fallback at bloomProbeMaxKeys values, through both readPrunedIn " +
      "and the merge candidate stage (round-17 verdict: the OR-of-AND " +
      "probe expansion blew janino's 64 KB method limit)") {
    withRoot { root =>
      SnapshotTable.commitWithSkipping(spark, root, Seq("k"), Seq("k"),
        bloomBits = 4096, retain = 4)(_ =>
        img((1L to 400L).map(k => (7 * k, s"v${7 * k}")): _*)
          .repartition(8, col("k")))
      // capture ERROR events on Spark's codegen logger: the 64 KB
      // overflow is CORRECT-but-interpreted (Spark falls back), so the
      // only observable symptom is the logged compile failure
      val errs = new java.util.concurrent.atomic.AtomicInteger(0)
      val appender =
        new org.apache.logging.log4j.core.appender.AbstractAppender(
          "graft-codegen-probe", null, null, false,
          Array.empty[org.apache.logging.log4j.core.config.Property]) {
        override def append(
            e: org.apache.logging.log4j.core.LogEvent): Unit =
          if (e.getLevel.isMoreSpecificThan(
              org.apache.logging.log4j.Level.ERROR)) {
            errs.incrementAndGet(); ()
          }
      }
      appender.start()
      val logger = org.apache.logging.log4j.LogManager.getLogger(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
        .asInstanceOf[org.apache.logging.log4j.core.Logger]
      logger.addAppender(appender)
      try {
        val cap = SnapshotTable.bloomProbeMaxKeys
        // half present (multiples of 7), half absent-but-in-range — the
        // worst-case probe width through the point-lookup read path
        val values: Seq[Any] =
          (1L to (cap / 2).toLong).map(k => 7 * k) ++
            (1L to (cap / 2).toLong).map(k => 7 * k + 3)
        val ps = SnapshotTable.readPrunedIn(spark, root, "k", values)
        assert(ps.df.where(col("k").isin(values: _*)).count()
          === cap / 2)
        // a cap-sized upsert batch exercises the same probe inside the
        // merge candidate stage (the shape the merge fuzz tripped on)
        SnapshotTable.commitMerge(spark, root,
          img((1L to cap.toLong).map(k => (7 * k, s"m$k")): _*), "k",
          retain = 4)((_, b) => b)
        assert(SnapshotTable.read(spark, root).get.count() === 400)
      } finally logger.removeAppender(appender)
      assert(errs.get() === 0,
        s"CodeGenerator logged ${errs.get()} compile failure(s) — the " +
          "bloom probe fell out of whole-stage codegen")
    }
  }

  test("restore: rollback to version k is METADATA-ONLY, equals the " +
      "time-travel read, carries k's deletion vectors, survives " +
      "vacuuming k itself (refcount protection), and readChanges " +
      "across the restore emits the row-level diff it implies") {
    withRoot { root =>
      def segDirs(): Set[String] = {
        val fs = fsFor(root)
        fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith("seg-"))
          .map(_.getPath.getName).toSet
      }
      SnapshotTable.commitWithStats(spark, root, "k", retain = 4)(_ =>
        img((1L to 6L).map(k => (k, s"v$k")): _*)
          .repartitionByRange(3, col("k")))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      SnapshotTable.commitAppend(spark, root,
        img((7L to 9L).map(k => (k, s"v$k")): _*), retain = 4)
      val v2 = SnapshotTable.latestVersion(spark, root).get
      // merge-on-read upsert: v3 hides the old rows of keys 2 and 7
      // behind DV entries in CARRIED files
      SnapshotTable.commitMergeDV(spark, root,
        img(2L -> "B2", 7L -> "B7"), "k", retain = 4)((_, b) => b)
      val v3 = SnapshotTable.latestVersion(spark, root).get
      val segsBefore = segDirs()
      // ---- restore to v2: the pre-merge image becomes head again ----
      val r = SnapshotTable.restore(spark, root, v2, retain = 4)
      assert(r > v3)
      // metadata-only: zero new data segments were written
      assert(segDirs() === segsBefore, "restore must not write data")
      val restored = SnapshotTable.read(spark, root).get
        .orderBy("k").collect().map(x => (x.getLong(0), x.getString(1)))
      val travel = SnapshotTable.readVersion(spark, root, v2)
        .orderBy("k").collect().map(x => (x.getLong(0), x.getString(1)))
      assert(restored.toSeq === travel.toSeq)
      assert(restored.map(_._2).toSet
        === (1L to 9L).map(k => s"v$k").toSet)
      // ---- the restore IS a change: un-applying the v2→v3 merge ----
      val ch = SnapshotTable.readChanges(spark, root, v3, r, "k")
        .collect().map(x => (x.getAs[String]("_change_type"),
          x.getAs[Long]("k"), x.getAs[String]("v"))).toSet
      assert(ch === Set(("update_preimage", 2L, "B2"),
        ("update_postimage", 2L, "v2"),
        ("update_preimage", 7L, "B7"),
        ("update_postimage", 7L, "v7")))
      // ---- restore-to-current is a version-free no-op ----
      assert(SnapshotTable.restore(spark, root, r, retain = 4) === r)
      assert(SnapshotTable.latestVersion(spark, root).get === r)
      // ---- restore target must be committed ----
      intercept[IllegalArgumentException] {
        SnapshotTable.restore(spark, root, r + 500)
      }
      // ---- refcount protection: vacuum v1..v3 away, the restored
      // head still serves k's files (its own manifest references
      // them, so the segment sweep must keep every one) ----
      SnapshotTable.commitAppend(spark, root, img(10L -> "v10"),
        retain = 4)
      SnapshotTable.vacuum(spark, root, retain = 2)
      val vsLeft = SnapshotTable.committedVersions(spark, root)
      assert(!vsLeft.contains(v2) && !vsLeft.contains(v3))
      val after = SnapshotTable.read(spark, root).get
      assert(after.count() === 10)
      assert(after.where(col("k") === 2L).collect()
        .map(_.getString(1)).toSeq === Seq("v2"))
      // DV carry check on a restore TO the DV'd version: rebuild the
      // same shape and roll back to v3's merge-on-read image
      val root2 = root + "_dv"
      SnapshotTable.commitWithStats(spark, root2, "k", retain = 6)(_ =>
        img((1L to 6L).map(k => (k, s"v$k")): _*)
          .repartitionByRange(3, col("k")))
      SnapshotTable.commitMergeDV(spark, root2, img(2L -> "B2"), "k",
        retain = 6)((_, b) => b)
      val dv3 = SnapshotTable.latestVersion(spark, root2).get
      SnapshotTable.commitMerge(spark, root2, img(2L -> "C2"), "k",
        retain = 6)((_, b) => b)
      val r2 = SnapshotTable.restore(spark, root2, dv3, retain = 6)
      assert(r2 > dv3)
      // the restored head serves the DV'd image: exactly one row for
      // key 2, the merge-on-read value — the hidden original must not
      // resurrect
      val probe = SnapshotTable.read(spark, root2).get
        .where(col("k") === 2L).collect()
      assert(probe.map(_.getString(1)).toSeq === Seq("B2"))
      assert(SnapshotTable.read(spark, root2).get.count() === 6)
    }
  }

  // ---- round 17: commit timestamps / TIMESTAMP AS OF / age vacuum ----

  test("TIMESTAMP AS OF: each version's own commit time resolves to " +
      "itself, a between-commits instant resolves to the EARLIER " +
      "version, and an instant before retained history fails loudly") {
    withRoot { root =>
      SnapshotTable.commit(spark, root, retain = 3)(_ => img(1L -> "a"))
      Thread.sleep(15)
      SnapshotTable.commit(spark, root, retain = 3)(_ =>
        img(1L -> "a", 2L -> "b"))
      Thread.sleep(15)
      SnapshotTable.commit(spark, root, retain = 3)(_ =>
        img(1L -> "a", 2L -> "b", 3L -> "c"))
      val vs = SnapshotTable.committedVersions(spark, root)
      val ts = vs.map(v => SnapshotTable.commitTimestamp(spark, root, v))
      assert(ts === ts.sorted, "commit timestamps must ascend here")
      assert(ts.distinct === ts, "sleeps should separate the stamps")
      vs.zip(ts).foreach { case (v, t) =>
        assert(SnapshotTable.versionAsOf(spark, root, t) === v)
      }
      // strictly between two commits -> the earlier version
      assert(SnapshotTable.versionAsOf(spark, root,
        (ts(0) + ts(1)) / 2) === vs(0))
      // as-of "now" reads the latest image
      assert(SnapshotTable.readVersionAsOf(spark, root,
        System.currentTimeMillis()).count() === 3)
      // before the earliest retained commit: loud, never "the oldest
      // survivor" (that would silently answer a different question)
      val e = intercept[IllegalArgumentException] {
        SnapshotTable.versionAsOf(spark, root, ts(0) - 10000)
      }
      assert(e.getMessage.contains("retained"))
    }
  }

  test("TIMESTAMP AS OF monotonizes a backwards-stepping clock: a " +
      "later version whose recorded stamp predates its predecessor " +
      "can never resolve BEFORE it") {
    withRoot { root =>
      SnapshotTable.commit(spark, root, retain = 3)(_ => img(1L -> "a"))
      Thread.sleep(15)
      SnapshotTable.commit(spark, root, retain = 3)(_ => img(2L -> "b"))
      val vs = SnapshotTable.committedVersions(spark, root)
      val t1 = SnapshotTable.commitTimestamp(spark, root, vs(0))
      // fake the skew: rewrite v2's stamp 5 s into v1's past
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      val p = new org.apache.hadoop.fs.Path(
        s"$root/v=${vs(1)}/_commit_ts")
      val out = fs.create(p, true)
      out.write((t1 - 5000).toString.getBytes("UTF-8")); out.close()
      // version order wins: at t1 the EFFECTIVE stamps tie, and the
      // later version serves (Delta's tiebreak); asking for any t >= t1
      // must never step back to v1
      assert(SnapshotTable.versionAsOf(spark, root, t1) === vs(1))
      assert(SnapshotTable.versionAsOf(spark, root, t1 + 60000) === vs(1))
      // nothing resolves before the (effective) first commit
      intercept[IllegalArgumentException] {
        SnapshotTable.versionAsOf(spark, root, t1 - 1)
      }
      ()
    }
  }

  test("vacuumOlderThan: aged versions drop, the latest survives any " +
      "horizon, and segments referenced by the survivor are NEVER " +
      "reclaimed (refcount holds across age vacuum)") {
    withRoot { root =>
      SnapshotTable.commitAppend(spark, root,
        img(1L -> "a"), retain = 10)
      Thread.sleep(15)
      SnapshotTable.commitAppend(spark, root, img(2L -> "b"),
        retain = 10)
      Thread.sleep(15)
      SnapshotTable.commitAppend(spark, root, img(3L -> "c"),
        retain = 10)
      val vs = SnapshotTable.committedVersions(spark, root)
      assert(vs.size === 3)
      // a huge horizon deletes nothing
      SnapshotTable.vacuumOlderThan(spark, root, 24L * 3600 * 1000)
      assert(SnapshotTable.committedVersions(spark, root) === vs)
      // horizon 0 = everything is "too old" — but the latest version
      // must survive regardless of age
      SnapshotTable.vacuumOlderThan(spark, root, 0L)
      val kept = SnapshotTable.committedVersions(spark, root)
      assert(kept === Seq(vs.last))
      // the survivor's manifest references the VACUUMED versions'
      // append segments — the refcount sweep must have kept them all
      assert(SnapshotTable.read(spark, root).get
        .orderBy("k").collect().map(_.getLong(0)).toSeq
        === Seq(1L, 2L, 3L))
      intercept[IllegalArgumentException] {
        SnapshotTable.vacuumOlderThan(spark, root, 0L, retainAtLeast = 0)
      }
      ()
    }
  }

  // ---- round 17: CAS corpse self-heal ----

  test("CAS heal: a writer killed between its rename and its marker " +
      "leaves a corpse at the pinned slot — an aged corpse is " +
      "reclaimed and the CAS retry succeeds within one attempt; a " +
      "FRESH corpse still conflicts loudly (could be a live publish)") {
    withRoot { root =>
      SnapshotTable.commit(spark, root)(_ => img(1L -> "a"))
      val base = SnapshotTable.latestVersion(spark, root).get
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      def plantCorpse(): org.apache.hadoop.fs.Path = {
        val corpse = new org.apache.hadoop.fs.Path(
          s"$root/v=${base + 1}")
        fs.mkdirs(corpse)
        fs.create(new org.apache.hadoop.fs.Path(corpse, "_files"),
          true).close()
        corpse
      }
      // FRESH corpse: dir mtime is seconds-new — the healer must NOT
      // touch it (it could be a live publish mid-marker), so the CAS
      // commit conflicts loudly as before
      plantCorpse()
      val e = intercept[IllegalStateException] {
        SnapshotTable.commitAppend(spark, root, img(2L -> "b"),
          expectedBase = base)
      }
      assert(e.getMessage.contains("conflict"))
      // AGED corpse (backdate past the heal gate): the same retry now
      // self-heals and commits — no 15-minute janitor wait
      fs.setTimes(new org.apache.hadoop.fs.Path(s"$root/v=${base + 1}"),
        System.currentTimeMillis() - 60000, -1)
      val v2 = SnapshotTable.commitAppend(spark, root, img(2L -> "b"),
        expectedBase = base)
      assert(v2 === base + 1)
      assert(SnapshotTable.read(spark, root).get.count() === 2)
    }
  }

  test("CAS heal safety: a COMMITTED version at the pinned slot is " +
      "never reclaimed, however old — the healer re-checks the marker " +
      "and the commit conflicts loudly instead") {
    withRoot { root =>
      SnapshotTable.commit(spark, root)(_ => img(1L -> "a"))
      val base = SnapshotTable.latestVersion(spark, root).get
      // another writer legitimately committed base+1
      SnapshotTable.commit(spark, root)(st =>
        st.get.unionByName(img(2L -> "b")))
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        spark.sparkContext.hadoopConfiguration)
      fs.setTimes(new org.apache.hadoop.fs.Path(s"$root/v=${base + 1}"),
        System.currentTimeMillis() - 60000, -1)
      // direct heal call: marker present -> untouched
      SnapshotTable.healCasDestination(fs, root, base + 1)
      assert(SnapshotTable.committedVersions(spark, root).size === 2)
      // and the stale CAS writer still conflicts loudly
      val e = intercept[IllegalStateException] {
        SnapshotTable.commitAppend(spark, root, img(9L -> "x"),
          expectedBase = base)
      }
      assert(e.getMessage.contains("conflict"))
      assert(SnapshotTable.read(spark, root).get.count() === 2)
    }
  }

  // ---- round 17: txn token carry-forward ----

  test("txn tokens survive interleaved token-less maintenance " +
      "commits that vacuum the version that recorded them") {
    withRoot { root =>
      SnapshotTable.commitAppend(spark, root, img(1L -> "a"),
        retain = 2, txn = Some(("streamA", 7L)))
      // two token-less maintenance commits with retain=2: the version
      // dir that recorded streamA's token is vacuumed...
      SnapshotTable.compact(spark, root, targetFiles = 1, retain = 2)
      SnapshotTable.compact(spark, root, targetFiles = 1, retain = 2)
      val vs = SnapshotTable.committedVersions(spark, root)
      assert(vs.size === 2)
      // ...but every commit CARRIES tokens forward, so the replay
      // guard still answers (pre-round-17 this returned None and a
      // crash replay would double-apply)
      assert(SnapshotTable.lastCommittedBatch(spark, root, "streamA")
        === Some(7L))
      // a second stream's token coexists; both carry through a merge
      SnapshotTable.commitMerge(spark, root, img(1L -> "z"), "k",
        retain = 2, txn = Some(("streamB", 3L)))((cur, b) =>
        cur.map(_.unionByName(b)).getOrElse(b)
          .groupBy("k").agg(max(col("v")).as("v")))
      assert(SnapshotTable.lastCommittedBatch(spark, root, "streamA")
        === Some(7L))
      assert(SnapshotTable.lastCommittedBatch(spark, root, "streamB")
        === Some(3L))
      // per-appId the HIGHEST batch id wins
      SnapshotTable.commitAppend(spark, root, img(5L -> "e"),
        retain = 2, txn = Some(("streamA", 9L)))
      assert(SnapshotTable.lastCommittedBatch(spark, root, "streamA")
        === Some(9L))
    }
  }

  // ---- round 17: deletion vectors (merge-on-read) ----

  /** 40 keys range-clustered into 4 files with a stats manifest on k —
    * the clustered-upsert-table shape the DV tests merge into. */
  private def seedClustered(root: String): Unit = {
    SnapshotTable.commitWithStats(spark, root, "k", retain = 10)(_ =>
      SnapshotTable.clusterBy(
        img((1L to 40L).map(k => (k, s"v$k")): _*), "k", 4))
  }

  private def imageOf(root: String): Seq[(Long, String)] =
    SnapshotTable.read(spark, root).get.orderBy("k").collect().toSeq
      .map(r => (r.getLong(0), r.getString(1)))

  test("commitMergeDV: read-equivalence with commitMerge on the same " +
      "batch, with ZERO base files rewritten (merge-on-read) where " +
      "the COW merge rewrites the touched files") {
    withRoot { cow =>
      withRoot { mor =>
        seedClustered(cow); seedClustered(mor)
        val batch = img(3L -> "B3", 5L -> "B5", 38L -> "B38")
        SnapshotTable.commitMerge(spark, cow, batch, "k",
          retain = 10)((_, b) => b)
        SnapshotTable.commitMergeDV(spark, mor, batch, "k",
          retain = 10)((_, b) => b)
        assert(imageOf(cow) === imageOf(mor))
        assert(imageOf(mor).toMap.get(3L) === Some("B3"))
        // structural merge-on-read: EVERY base file carries; the DV
        // dir exists; the COW table dropped at least one file
        val vm = SnapshotTable.committedVersions(spark, mor)
        assert(SnapshotTable.dataFiles(spark, mor, vm(0)).toSet
          .subsetOf(SnapshotTable.dataFiles(spark, mor, vm(1)).toSet))
        assert(new java.io.File(s"$mor/v=${vm(1)}/_dv").exists())
        val vc = SnapshotTable.committedVersions(spark, cow)
        assert(!SnapshotTable.dataFiles(spark, cow, vc(0)).toSet
          .subsetOf(SnapshotTable.dataFiles(spark, cow, vc(1)).toSet))
        // TIME TRAVEL: v1 must still serve the PRE-merge image — the
        // vectors belong to v2, never to the version they supersede
        assert(SnapshotTable.readVersion(spark, mor, vm(0))
          .where(col("k") === 3L).select("v").first().getString(0)
          === "v3")
        // readChanges over the DV span classifies EXACTLY like the
        // COW span (update pre/post pairs for the three keys)
        val chC = SnapshotTable.readChanges(spark, cow, vc(0), vc(1), "k")
          .orderBy("k", "_change_type").collect().toSeq
        val chM = SnapshotTable.readChanges(spark, mor, vm(0), vm(1), "k")
          .orderBy("k", "_change_type").collect().toSeq
        assert(chM === chC)
        assert(chM.size === 6)
      }
    }
  }

  test("commitMergeDV point DELETE (resolve emits nothing): the key " +
      "vanishes from every read path — snapshot, pruned scan, " +
      "readSince — at O(batch) write cost") {
    withRoot { root =>
      seedClustered(root)
      SnapshotTable.commitMergeDV(spark, root, img(10L -> "x"), "k",
        retain = 10)((_, b) => b.where(lit(false)))
      assert(SnapshotTable.read(spark, root).get.count() === 39)
      assert(SnapshotTable.read(spark, root).get
        .where(col("k") === 10L).count() === 0)
      // pruned box read over the range holding the deleted key
      val ps = SnapshotTable.readPruned(spark, root, lit(8L), lit(12L))
      assert(ps.filesRead < ps.filesTotal, "clustered table must prune")
      assert(ps.df.where(col("k") === 10L).count() === 0)
      // readSince(asOf latest) of new files: the delete added NO
      // visible rows (the fresh segment is empty of them)
      val vs = SnapshotTable.committedVersions(spark, root)
      assert(SnapshotTable.readSince(spark, root, Some(vs(0)))
        .count() === 0)
      // the changelog says exactly one delete
      val ch = SnapshotTable.readChanges(spark, root, vs(0), vs(1), "k")
        .select("k", "_change_type").collect().toSeq
        .map(r => (r.getLong(0), r.getString(1)))
      assert(ch === Seq((10L, "delete")))
    }
  }

  test("deletion vectors accumulate across DV merges, survive an " +
      "append, and FOLD physically under compaction and under a later " +
      "COW merge of the touched file") {
    withRoot { root =>
      seedClustered(root)
      SnapshotTable.commitMergeDV(spark, root, img(3L -> "B3"), "k",
        retain = 10)((_, b) => b)
      // second DV merge re-hits key 3 (now living in the v2 segment)
      // and key 20 (still in a base file)
      SnapshotTable.commitMergeDV(spark, root,
        img(3L -> "C3", 20L -> "C20"), "k", retain = 10)((_, b) => b)
      val after2 = imageOf(root)
      assert(after2.toMap.get(3L) === Some("C3"))
      assert(after2.toMap.get(20L) === Some("C20"))
      assert(after2.size === 40)
      assert(after2.map(_._1) === after2.map(_._1).distinct,
        "a DV-superseded row resurfaced as a duplicate")
      // an APPEND carries the vectors untouched
      SnapshotTable.commitAppend(spark, root, img(41L -> "v41"),
        retain = 10)
      assert(imageOf(root).size === 41)
      assert(imageOf(root).toMap.get(3L) === Some("C3"))
      // a COW merge touching key 3's file folds its entries and stays
      // exact (no resurrection of v3/B3)
      SnapshotTable.commitMerge(spark, root, img(3L -> "D3"), "k",
        retain = 10)((_, b) => b)
      val afterCow = imageOf(root)
      assert(afterCow.toMap.get(3L) === Some("D3"))
      assert(afterCow.size === 41)
      assert(afterCow.map(_._1) === afterCow.map(_._1).distinct)
      // full compaction folds EVERYTHING: image unchanged, _dv gone
      val before = imageOf(root)
      val vNew = SnapshotTable.compact(spark, root, targetFiles = 2,
        retain = 10)
      assert(imageOf(root) === before)
      assert(!new java.io.File(s"$root/v=$vNew/_dv").exists(),
        "compaction must leave the version DV-free")
    }
  }

  test("commitMergeDV rejects a different merge key once the table " +
      "carries vectors (ambiguous row identity)") {
    withRoot { root =>
      seedClustered(root)
      SnapshotTable.commitMergeDV(spark, root, img(3L -> "B3"), "k",
        retain = 10)((_, b) => b)
      val e = intercept[IllegalArgumentException] {
        SnapshotTable.commitMergeDV(spark, root, img(1L -> "z"), "v",
          retain = 10)((_, b) => b)
      }
      assert(e.getMessage.contains("deletion vectors"))
    }
  }

  // ---- round 17: loud input validation ----

  test("readChanges rejects an inverted span; commitWithSkipping " +
      "rejects a non-word-aligned bloom width") {
    withRoot { root =>
      SnapshotTable.commitAppend(spark, root, img(1L -> "a"))
      SnapshotTable.commitAppend(spark, root, img(2L -> "b"))
      val vs = SnapshotTable.committedVersions(spark, root)
      val e = intercept[IllegalArgumentException] {
        SnapshotTable.readChanges(spark, root, vs(1), vs(0), "k")
      }
      assert(e.getMessage.contains("inverted"))
      intercept[IllegalArgumentException] {
        SnapshotTable.commitWithSkipping(spark, root, Seq("k"),
          Seq("k"), bloomBits = 100)(_ => img(3L -> "c"))
      }
      ()
    }
  }

  // ---- round 17: delta manifests (manifest tiering) ----

  test("delta manifests: appends under the checkpoint interval write " +
      "only their delta; the K-th commit checkpoints; chain reads, " +
      "time travel, and pruning see identical content") {
    withRoot { root =>
      val fs = fsFor(root)
      def p(v: Long, n: String) =
        new org.apache.hadoop.fs.Path(s"$root/v=$v/$n")
      spark.conf.set("spark.graft.manifestCheckpointInterval", "3")
      try {
        SnapshotTable.commitWithStats(spark, root, "k", retain = 10)(_ =>
          SnapshotTable.clusterBy(
            img((1L to 8L).map(k => (k, s"v$k")): _*), "k", 2))
        (1 to 3).foreach(i =>
          SnapshotTable.commitAppend(spark, root,
            img((i * 100L) -> s"d$i"), retain = 10))
        val vs = SnapshotTable.committedVersions(spark, root)
        val Seq(v1, v2, v3, v4) = vs.takeRight(4)
        // the full base has a full sidecar and no chain pointer
        assert(fs.exists(p(v1, "_files")) && !fs.exists(p(v1, "_parent")))
        // v2, v3 are DELTAS: chain pointer + own files, no full sidecar
        Seq(v2, v3).foreach { v =>
          assert(fs.exists(p(v, "_parent")), s"v$v missing _parent")
          assert(fs.exists(p(v, "_files_new")), s"v$v missing _files_new")
          assert(!fs.exists(p(v, "_files")), s"v$v wrote a full sidecar")
        }
        // the 3rd carried commit would exceed the interval: CHECKPOINT
        assert(fs.exists(p(v4, "_files")) && !fs.exists(p(v4, "_parent")),
          "the K-th commit must materialize a full manifest")
        // content identity across the chain and the checkpoint
        assert(SnapshotTable.readVersion(spark, root, v2).count() === 9)
        assert(SnapshotTable.readVersion(spark, root, v3).count() === 10)
        assert(SnapshotTable.readVersion(spark, root, v4).count() === 11)
        assert(SnapshotTable.dataFiles(spark, root, v4).toSet ===
          (SnapshotTable.dataFiles(spark, root, v3).toSet ++
            SnapshotTable.newFiles(spark, root, v4)))
        // the merged stats view spans the chain: a base-range window on
        // the DELTA version v3 prunes to the base's clustered files
        val hit = SnapshotTable.readPruned(spark, root, lit(1L), lit(4L))
        // 2 clustered base files + 3 single-file deltas
        assert(hit.filesTotal === 5 && hit.filesRead <= 1)
        assert(hit.df.where(col("k").between(1L, 4L)).count() === 4)
      } finally spark.conf.unset("spark.graft.manifestCheckpointInterval")
    }
  }

  test("delta manifests: a chain merge records its removals; the " +
      "merged view, reads, and pruning exclude the rewritten file") {
    withRoot { root =>
      val fs = fsFor(root)
      SnapshotTable.commitWithStats(spark, root, "k", retain = 10)(_ =>
        SnapshotTable.clusterBy(
          img((1L to 40L).map(k => (k, s"v$k")): _*), "k", 4))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      SnapshotTable.commitMerge(spark, root, img(5L -> "UP"), "k",
        retain = 10)((_, b) => b)
      val v2 = SnapshotTable.latestVersion(spark, root).get
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/v=$v2/_removed")), "chain merge must record removals")
      val removedNames = SnapshotTable.dataFiles(spark, root, v1)
        .filterNot(SnapshotTable.dataFiles(spark, root, v2).toSet)
      assert(removedNames.size === 1, "the localized merge rewrites " +
        s"exactly the touched file, got $removedNames")
      // merged view: 3 carried + fresh rows, rewritten file absent
      val view = SnapshotTable.statsManifest(spark, root, v2)
        .select("file").collect().map(_.getString(0)).toSet
      assert(!view.exists(removedNames.toSet), "rewritten file leaked " +
        "into the merged manifest view")
      assert(view === SnapshotTable.dataFiles(spark, root, v2).toSet)
      // content: upsert applied, everything else verbatim
      val img2 = SnapshotTable.read(spark, root).get
      assert(img2.where(col("k") === 5L).select("v")
        .first().getString(0) === "UP")
      assert(img2.count() === 40)
      // pruning over the chain still works after the removal
      val hit = SnapshotTable.readPruned(spark, root, lit(25L), lit(34L))
      assert(hit.filesRead < hit.filesTotal)
      assert(hit.df.where(col("k").between(25L, 34L)).count() === 10)
    }
  }

  test("vacuum RETIRES chain-referenced ancestors (metadata stub, not " +
      "committed, segments refcounted) and reclaims stubs once a " +
      "checkpoint cuts the chain") {
    withRoot { root =>
      val fs = fsFor(root)
      def exists(v: Long, n: String) = fs.exists(
        new org.apache.hadoop.fs.Path(s"$root/v=$v/$n"))
      spark.conf.set("spark.graft.manifestCheckpointInterval", "3")
      try {
        SnapshotTable.commitWithStats(spark, root, "k", retain = 2)(_ =>
          SnapshotTable.clusterBy(
            img((1L to 8L).map(k => (k, s"v$k")): _*), "k", 2))
        val v1 = SnapshotTable.latestVersion(spark, root).get
        SnapshotTable.commitAppend(spark, root, img(100L -> "d1"),
          retain = 2)
        val v2 = SnapshotTable.latestVersion(spark, root).get
        SnapshotTable.commitAppend(spark, root, img(200L -> "d2"),
          retain = 2)
        val v3 = SnapshotTable.latestVersion(spark, root).get
        // retain=2 dropped v1 — but v2's chain walks through it: RETIRED
        assert(SnapshotTable.committedVersions(spark, root) ===
          Seq(v2, v3))
        assert(exists(v1, "_RETIRED") && !exists(v1, "_COMMITTED"),
          "chain-referenced ancestor must retire, not vanish")
        // chain reads resolve THROUGH the stub; the stub itself is
        // neither readable nor time-travelable
        assert(SnapshotTable.read(spark, root).get.count() === 10)
        assert(intercept[IllegalArgumentException](
          SnapshotTable.readVersion(spark, root, v1))
          .getMessage.contains("not committed"))
        // commit 4 checkpoints (interval 3); its vacuum retires v2
        SnapshotTable.commitAppend(spark, root, img(300L -> "d3"),
          retain = 2)
        val v4 = SnapshotTable.latestVersion(spark, root).get
        assert(exists(v4, "_files"), "4th commit must checkpoint")
        assert(exists(v2, "_RETIRED"),
          "v2 is still on v3's chain: retired")
        // commit 5 chains off the checkpoint; retain=2 drops v3 — no
        // survivor walks through v1/v2/v3 anymore: stubs reclaimed
        SnapshotTable.commitAppend(spark, root, img(400L -> "d4"),
          retain = 2)
        Seq(v1, v2, v3).foreach { v =>
          assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/v=$v")),
            s"unreachable stub v$v must be reclaimed")
        }
        assert(SnapshotTable.read(spark, root).get.count() === 12)
      } finally spark.conf.unset("spark.graft.manifestCheckpointInterval")
    }
  }

  test("checkpointInterval=1 disables tiering: every carried commit " +
      "writes a full sidecar (the pre-tiering layout, selectable)") {
    withRoot { root =>
      val fs = fsFor(root)
      spark.conf.set("spark.graft.manifestCheckpointInterval", "1")
      try {
        SnapshotTable.commit(spark, root, retain = 10)(_ => img(1L -> "a"))
        SnapshotTable.commitAppend(spark, root, img(2L -> "b"),
          retain = 10)
        val v2 = SnapshotTable.latestVersion(spark, root).get
        assert(fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/v=$v2/_files")))
        assert(!fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/v=$v2/_parent")))
        assert(SnapshotTable.read(spark, root).get.count() === 2)
      } finally spark.conf.unset("spark.graft.manifestCheckpointInterval")
    }
  }

  test("ADD COLUMN rides a delta commit: the chain serves the merged " +
      "schema, pre-evolution versions keep their own, nothing rewritten") {
    withRoot { root =>
      import spark.implicits._
      val fs = fsFor(root)
      SnapshotTable.commit(spark, root, retain = 10)(_ => img(1L -> "a"))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      val before = SnapshotTable.dataFiles(spark, root, v1)
      SnapshotTable.commitAppend(spark, root,
        Seq((2L, "b", "extra")).toDF("k", "v", "note"), retain = 10)
      val v2 = SnapshotTable.latestVersion(spark, root).get
      // the evolution landed as a DELTA (chain pointer, no rewrite)
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/v=$v2/_parent")))
      assert(SnapshotTable.dataFiles(spark, root, v2)
        .toSet.intersect(before.toSet) === before.toSet,
        "history must carry by reference through an evolving delta")
      val evolved = SnapshotTable.read(spark, root).get.orderBy("k")
      assert(evolved.schema.fieldNames.toSeq === Seq("k", "v", "note"))
      assert(evolved.collect().map(r =>
        (r.getLong(0), r.getString(1), Option(r.getString(2)))).toSeq ===
        Seq((1L, "a", None), (2L, "b", Some("extra"))))
      // pre-evolution time travel serves the original schema
      assert(SnapshotTable.readVersion(spark, root, v1)
        .schema.fieldNames.toSeq === Seq("k", "v"))
    }
  }

  test("vacuumOlderThan retires chain-referenced ancestors exactly " +
      "like count-based vacuum") {
    withRoot { root =>
      val fs = fsFor(root)
      SnapshotTable.commit(spark, root, retain = 10)(_ => img(1L -> "a"))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      SnapshotTable.commitAppend(spark, root, img(2L -> "b"),
        retain = 10)
      val v2 = SnapshotTable.latestVersion(spark, root).get
      // horizon 0 keeps only the latest; v1 is on v2's chain → stub
      SnapshotTable.vacuumOlderThan(spark, root, 0L)
      assert(SnapshotTable.committedVersions(spark, root) === Seq(v2))
      assert(fs.exists(new org.apache.hadoop.fs.Path(
        s"$root/v=$v1/_RETIRED")))
      assert(SnapshotTable.read(spark, root).get.count() === 2)
    }
  }

  /** Spark jobs `f` launches from this thread, by the call site of each
    * job's first stage — recorded by a listener on a private job group
    * with the listener bus drained before and after (events arrive
    * asynchronously — the Harness.Timer discipline). */
  private def jobsOf[A](f: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    def drain(): Unit = {
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    }
    val group = s"jobs-${java.util.UUID.randomUUID()}"
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          names.add(j.stageInfos.headOption.map(_.name).getOrElse("?"))
    }
    drain()
    sc.addSparkListener(l)
    sc.setJobGroup(group, "commit job count")
    try {
      val a = f
      drain()
      import scala.jdk.CollectionConverters._
      (a, names.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  test("commit jobs do not grow with manifest-chain depth: commitMerge " +
      "and commitMergeDV on a depth-6 delta chain run as many Spark " +
      "jobs as on a depth-1 chain") {
    Seq("commitMerge", "commitMergeDV").foreach { how =>
      withRoot { root =>
        // every commit has the same shape: upsert one key of the
        // previous commit's batch (one touched file) plus five new
        // keys, merge key `k` carrying range stats
        def merge(i: Int): Seq[String] = {
          val b = img(((i * 10L - 10) +: (i * 10L until i * 10L + 5))
            .filter(_ >= 0).map(k => (k, s"v$i")): _*)
          jobsOf {
            if (how == "commitMerge")
              SnapshotTable.commitMerge(spark, root, b, "k",
                retain = 10)((_, bb) => bb)
            else
              SnapshotTable.commitMergeDV(spark, root, b, "k",
                retain = 10)((_, bb) => bb)
          }._2
        }
        // commit i lands on a base whose delta chain is i-1 links deep.
        // Counted with AQE off: its query-stage jobs are submitted from
        // futures, and on the DV path a run skips or adds a stage job
        // or two by timing (17 or 19 jobs at one depth); without it
        // each exchange and broadcast is exactly one job
        val aqe = spark.conf.get("spark.sql.adaptive.enabled")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val jobs =
          try (0 to 7).map(merge)
          finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
        val fs = fsFor(root)
        val head = SnapshotTable.latestVersion(spark, root).get
        assert(fs.exists(new org.apache.hadoop.fs.Path(
          s"$root/v=$head/_parent")), "the chain must still be a delta")
        assert(jobs(2).size === jobs(7).size, s"$how jobs per commit " +
          s"grew with chain depth (commits 0-7: " +
          s"${jobs.map(_.size).mkString(", ")}); depth 1: " +
          s"${jobs(2).mkString("; ")}; depth 6: ${jobs(7).mkString("; ")}")
        assert(SnapshotTable.read(spark, root).get.count() === 40)
      }
    }
  }

  test("a link's removals filter as literals up to the cap and " +
      "anti-join past it, keeping the same rows") {
    import spark.implicits._
    val view = (1 to 6).map(i => (s"seg/f$i.parquet", i.toLong))
      .toDF("file", "rows")
    val removed = Seq("seg/f2.parquet", "seg/f4.parquet", "seg/f5.parquet")
    def joins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.size
    val literal = SnapshotTable.withoutFiles(view, removed, maxLiterals = 3)
    val anti = SnapshotTable.withoutFiles(view, removed, maxLiterals = 2)
    assert(joins(literal) === 0, "at the cap the removals are a filter")
    assert(joins(anti) === 1, "past the cap the removals anti-join")
    assert(joins(SnapshotTable.withoutFiles(view, removed)) === 0)
    val kept = Set("seg/f1.parquet", "seg/f3.parquet", "seg/f6.parquet")
    Seq(literal, anti).foreach(df =>
      assert(df.as[(String, Long)].collect().map(_._1).toSet === kept))
    assert(SnapshotTable.withoutFiles(view, Nil) eq view)
  }

  test("footer-typed parquet reads equal Spark's inferred reads and run " +
      "no job: a stats+bloom manifest, a DV sidecar, and a fresh " +
      "segment after rename, widen and ADD COLUMN") {
    withRoot { root =>
      import spark.implicits._
      val fs = fsFor(root)
      SnapshotTable.commitWithSkipping(spark, root, Seq("k"), Seq("k"),
        bloomBits = 4096, retain = 10)(_ =>
        (1 to 40).map(i => (i.toLong, i, s"v$i")).toDF("k", "n", "v")
          .repartitionByRange(4, col("k")))
      SnapshotTable.commitMergeDV(spark, root,
        Seq((3L, 30, "dv")).toDF("k", "n", "v"), "k",
        retain = 10)((_, b) => b)
      val vDv = SnapshotTable.latestVersion(spark, root).get
      SnapshotTable.renameColumn(spark, root, "v", "label", retain = 10)
      SnapshotTable.widenColumn(spark, root, "n",
        org.apache.spark.sql.types.LongType, retain = 10)
      SnapshotTable.addColumn(spark, root, "note",
        org.apache.spark.sql.types.StringType, retain = 10)
      SnapshotTable.commitMerge(spark, root,
        Seq((5L, 50L, "seg", "x")).toDF("k", "n", "label", "note"), "k",
        retain = 10)((_, b) => b)
      val vSeg = SnapshotTable.latestVersion(spark, root).get
      def parts(dir: String) = fs.listStatus(
          new org.apache.hadoop.fs.Path(dir)).toSeq
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName)
      def same(dir: String): Seq[String] = {
        val ps = parts(dir)
        assert(ps.nonEmpty, s"no parquet parts under $dir")
        val (typed, jobs) = jobsOf(
          LakeManifest.readSidecarParquet(spark, fs, dir).schema)
        assert(jobs.isEmpty, s"typed read of $dir launched $jobs")
        assert(typed === spark.read.parquet(ps.map(_.getPath.toString): _*)
          .schema, dir)
        typed.fieldNames.toSeq
      }
      val manifest = same(s"$root/v=$vDv/_manifest")
      Seq("file", "rows", "bytes", "min__k", "max__k", "nulls__k",
        "sum__k", "bloom__k").foreach(c =>
        assert(manifest.contains(c), s"manifest lacks $c: $manifest"))
      assert(same(s"$root/v=$vDv/_dv").contains("_graft_dvk"))
      val seg = SnapshotTable.newFiles(spark, root, vSeg)
        .map(_.split("/").head).distinct
      assert(seg.size === 1, s"one fresh segment expected, got $seg")
      // physical names: the renamed column keeps its original name
      assert(same(s"$root/${seg.head}").toSet === Set("k", "n", "v", "note"))
    }
  }

  /** Runs `f` with AQE off: its query-stage jobs are submitted from
    * futures, so without it each exchange and broadcast is exactly one
    * job and a plan's exchanges are visible in `executedPlan`. */
  private def withoutAqe[A](f: => A): A = {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  /** Latest `v` per key over the existing and the batch rows — reads
    * `existing` through a window, as the streaming DWD upsert does. */
  private def latestPerKey(ex: Option[org.apache.spark.sql.DataFrame],
      b: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    ex.fold(b)(_.unionByName(b))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("k")
          .orderBy(col("v").desc)))
      .where(col("rn") === 1).drop("rn")

  test("a probe-sized merge gives the same image through its literal " +
      "key filters as through the join plans: NULL keys, a String key, " +
      "256 and 257 keys, an empty and an all-NULL batch") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.types._
    type Rows = Seq[(Option[Any], Long)]
    def frame(dt: DataType, rows: Rows, pad: Boolean): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map { case (k, n) =>
          Row(k.orNull, n, pad) }: _*),
        StructType(Seq(StructField("k", dt), StructField("n", LongType),
          StructField("pad", BooleanType, nullable = false))))
    // reads `existing`: per batch key, the sum of the table's and the
    // batch's `n` — a key split wrongly between the kept and resolved
    // rows, or a NULL-keyed table row dropped or resolved, changes the
    // image. Padding rows are dropped first.
    def resolve(ex: Option[DataFrame], b: DataFrame): DataFrame = {
      val bb = b.where(!col("pad")).select("k", "n")
      ex.fold(bb)(_.select("k", "n").unionByName(bb))
        .groupBy("k").agg(sum("n").as("n"))
    }
    def model(table: Rows, batch: Rows): Seq[String] = {
      val bk = batch.flatMap(_._1).toSet
      val kept = table.filter(_._1.forall(k => !bk.contains(k)))
      val resolved = batch.groupBy(_._1).map { case (k, rs) =>
        (k, rs.map(_._2).sum + k.fold(0L)(x =>
          table.filter(_._1.contains(x)).map(_._2).sum)) }
      (kept ++ resolved).map { case (k, n) => s"$k:$n" }.sorted
    }
    def image(root: String): Seq[String] =
      SnapshotTable.read(spark, root).get.collect()
        .map(r => s"${Option(r.get(0))}:${r.getLong(1)}").toSeq.sorted
    val longTable: Rows = (0L until 40L).map(k => (Some(k), k * 10)) ++
      Seq((None, 1000L), (None, 1001L))
    val strTable: Rows = (0 until 40).map(i => (Some(f"k$i%03d"), i.toLong)) ++
      Seq((None, 1000L))
    val cases: Seq[(String, DataType, Rows, Rows, Int => Any)] = Seq(
      ("NULL keys", LongType, longTable,
        Seq(Some(3L), Some(17L), None, None, Some(100L))
          .zipWithIndex.map { case (k, i) => (k, i + 1L) }, 1000000L + _),
      // unsorted, spanning new keys below and above every file's range
      ("String key", StringType, strTable,
        Seq(Some("k031"), Some("a"), Some("k005"), Some("zz"),
          Some("k0395"), None).zipWithIndex
          .map { case (k, i) => (k, i + 1L) }, i => s"~pad$i"),
      ("256 keys", LongType, longTable,
        (0L until 256L).map(k => (Some(k), 1L)), 1000000L + _),
      ("257 keys", LongType, longTable,
        (0L until 257L).map(k => (Some(k), 1L)), 1000000L + _),
      ("empty batch", LongType, longTable, Nil, 1000000L + _),
      ("all-NULL batch", LongType, longTable,
        Seq((None, 5L), (None, 6L)), 1000000L + _))
    for ((name, dt, table, batch, padKey) <- cases;
         how <- Seq("commitMerge", "commitMergeDV")) {
      // the batch as is takes the literal path up to 256 keys; padded
      // past the cap with keys that are in no file (and that the
      // resolver drops) it takes the join plans
      val padding: Rows = (0 until 257).map(i => (Some(padKey(i)), 0L))
      val images = Seq(false, true).map { padded =>
        var out: Seq[String] = Nil
        withRoot { root =>
          SnapshotTable.commitWithSkipping(spark, root, Seq("k"), Seq("k"),
            bloomBits = 4096, retain = 10)(_ =>
            frame(dt, table, pad = false).drop("pad")
              .repartitionByRange(4, col("k")))
          val b = frame(dt, batch, pad = false).unionByName(
            frame(dt, if (padded) padding else Nil, pad = true))
          if (how == "commitMerge")
            SnapshotTable.commitMerge(spark, root, b, "k", retain = 10)(
              resolve)
          else
            SnapshotTable.commitMergeDV(spark, root, b, "k", retain = 10)(
              resolve)
          out = image(root)
        }
        out
      }
      val expect = model(table, batch)
      assert(images.head === expect, s"$how, $name: literal path")
      assert(images(1) === expect, s"$how, $name: join path")
    }
  }

  test("a probe-sized merge plans no exchange in its touched probe and " +
      "no join in its copy-on-write rewrite") {
    withRoot { root =>
      import spark.implicits._
      SnapshotTable.commitWithStatsCols(spark, root, Seq("k"),
        retain = 10)(_ => (0L until 40L).map(k => (k, s"v$k"))
        .toDF("k", "v").repartitionByRange(4, col("k")))
      val v = SnapshotTable.latestVersion(spark, root).get
      val files = SnapshotTable.dataFiles(spark, root, v)
      val schema = SnapshotTable.read(spark, root).get.schema
      val batch = Seq((3L, "x"), (17L, "y"), (50L, "z")).toDF("k", "v")
      val keys = Seq[Any](3L, 17L, 50L)
      def exchanges(ds: org.apache.spark.sql.Dataset[_]): Int =
        withoutAqe(ds.queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.Exchange => e
        }.size)
      def joins(df: org.apache.spark.sql.DataFrame): Int =
        df.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }.size
      def probe(ks: Option[Seq[Any]]) = SnapshotTable.touchedProbe(spark,
        root, v, files, schema, batch, ks, "k")
      def rewrite(ks: Option[Seq[Any]]) = SnapshotTable.rewriteTouched(
        SnapshotTable.read(spark, root).get, batch, ks, "k")(latestPerKey)
      assert(exchanges(probe(Some(keys))) === 0,
        probe(Some(keys)).queryExecution.executedPlan.treeString)
      assert(joins(rewrite(Some(keys))) === 0,
        rewrite(Some(keys)).queryExecution.optimizedPlan.treeString)
      // the over-cap plans, which the literal ones replace
      assert(exchanges(probe(None)) > 0)
      assert(joins(rewrite(None)) === 2)
      assert(probe(Some(keys)).collect().sorted ===
        probe(None).collect().sorted)
      assert(probe(Some(keys)).collect().length === 2,
        "keys 3 and 17 sit in two of the four range-split files")
      val img = rewrite(Some(keys)).as[(Long, String)].collect().sorted
      assert(img === rewrite(None).as[(Long, String)].collect().sorted)
      assert(img.length === 41 && img.contains((3L, "x")) &&
        img.contains((50L, "z")))
    }
  }

  test("a probe-sized merge runs fewer Spark jobs than the range " +
      "aggregate and join plans did") {
    // jobs per commit with AQE off: the range aggregate, the capped
    // distinct-limit key collect (DV path) and the broadcast key joins
    // of the touched and tombstone probes ran `before`; one key
    // collect feeding literal filters runs `now`
    val before = Map("commitMerge" -> 8, "commitMergeDV" -> 10)
    val now = Map("commitMerge" -> 6, "commitMergeDV" -> 8)
    val jobs = Seq("commitMerge", "commitMergeDV").map { how =>
      var names: Seq[String] = Nil
      withRoot { root =>
        SnapshotTable.commitWithStatsCols(spark, root, Seq("k"),
          retain = 10)(_ => img((0L until 40L).map(k => (k, s"v$k")): _*)
          .repartitionByRange(4, col("k")))
        // one existing key (one touched file) plus five new ones
        val b = img((17L +: (40L until 45L)).map(k => (k, "u")): _*)
        names = withoutAqe(jobsOf {
          if (how == "commitMerge")
            SnapshotTable.commitMerge(spark, root, b, "k", retain = 10)(
              latestPerKey)
          else
            SnapshotTable.commitMergeDV(spark, root, b, "k", retain = 10)(
              latestPerKey)
        }._2)
        assert(SnapshotTable.read(spark, root).get.count() === 45)
      }
      how -> names
    }
    jobs.foreach { case (how, names) =>
      assert(names.size <= now(how), s"$how ran ${names.size} jobs; the " +
        s"literal key path runs ${now(how)}, the aggregate and join " +
        s"plans ran ${before(how)} (all: ${jobs.map(j => s"${j._1} " +
        j._2.size).mkString(", ")}): ${names.mkString("; ")}")
    }
  }

  test("a commit drops its touched files from the carried checkpoint " +
      "manifest and deletion vectors as literals up to the cap and by " +
      "anti-join past it, keeping the same rows") {
    import spark.implicits._
    val conf = "spark.graft.manifestCheckpointInterval"
    val prior = spark.conf.getOption(conf)
    // every commit writes the full (checkpoint) manifest
    spark.conf.set(conf, "1")
    try withRoot { root =>
      SnapshotTable.commitWithStatsCols(spark, root, Seq("k"),
        retain = 10)(_ => spark.range(0L, 260L, 1L, 260)
        .select(col("id").as("k"), concat(lit("v"), col("id")).as("v")))
      val v0 = SnapshotTable.latestVersion(spark, root).get
      assert(SnapshotTable.fileCount(spark, root, v0) === 260)
      // hide every seed row behind a deletion vector entry
      SnapshotTable.commitMergeDV(spark, root,
        (0L until 260L).map(k => (k, s"d$k")).toDF("k", "v"), "k",
        retain = 10)((_, b) => b)
      def manifest(v: Long) = SnapshotTable.statsManifest(spark, root, v)
        .collect().map(_.toString).toSet
      def dv(v: Long) = SnapshotTable.dvOf(spark, root, v)
        .fold(Set.empty[String])(_._2.collect().map(_.toString).toSet)
      var model = (0L until 260L).map(k => k -> s"d$k").toMap
      // 3 keys: 3 seed files + the DV segment's file(s), under the cap;
      // 257 keys: 257 seed files + the segment's, past it
      Seq(3, 257).foreach { n =>
        val base = SnapshotTable.latestVersion(spark, root).get
        val keys = (0L until n.toLong).map(_ * 260 / n)
        SnapshotTable.commitMerge(spark, root,
          keys.map(k => (k, s"c$n-$k")).toDF("k", "v"), "k",
          retain = 10)((_, b) => b)
        model ++= keys.map(k => k -> s"c$n-$k")
        val v = SnapshotTable.latestVersion(spark, root).get
        val dropped = SnapshotTable.dataFiles(spark, root, base).toSet --
          SnapshotTable.dataFiles(spark, root, v)
        assert(dropped.size > n && (n < 256 || dropped.size > 256),
          s"$n keys dropped ${dropped.size} files")
        def kept(rows: Set[String]) =
          rows.filterNot(r => dropped.exists(f => r.contains(f)))
        assert(kept(manifest(base)) subsetOf manifest(v),
          s"$n keys: carried manifest rows changed")
        assert(manifest(v).size ===
          SnapshotTable.dataFiles(spark, root, v).size)
        assert(dv(v) === kept(dv(base)), s"$n keys: carried DV entries")
        assert(SnapshotTable.read(spark, root).get.as[(Long, String)]
          .collect().toMap === model)
      }
    } finally prior.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  test("candidate selection and pruned-read planning run no Spark job") {
    withRoot { root =>
      import spark.implicits._
      // a delta chain under a checkpoint: stats and Bloom on `k`, a
      // merge that removes a file, deletion vectors, and ADD COLUMN
      SnapshotTable.commitWithSkipping(spark, root, Seq("k"), Seq("k"),
        bloomBits = 4096, retain = 10)(_ =>
        (0L until 40L).map(k => (k, s"v$k")).toDF("k", "v")
          .repartitionByRange(4, col("k")))
      SnapshotTable.commitMerge(spark, root,
        Seq((3L, "m"), (50L, "n")).toDF("k", "v"), "k",
        retain = 10)((_, b) => b)
      SnapshotTable.commitMergeDV(spark, root,
        Seq((21L, "d")).toDF("k", "v"), "k", retain = 10)((_, b) => b)
      SnapshotTable.commitAppend(spark, root,
        Seq((60L, "a", "x")).toDF("k", "v", "note"), retain = 10)
      val v = SnapshotTable.latestVersion(spark, root).get
      val schema = SnapshotTable.schemaOfVersion(spark, root, v)
      val keys = SnapshotTable.BatchKeys(Some(Seq(17L, 21L)),
        Some((17L, 21L)))
      val (cands, candJobs) = withoutAqe(jobsOf(
        SnapshotTable.candidateFiles(spark, root, v, keys, "k", schema,
          Seq("k"), Seq("k"))))
      val (box, boxJobs) = withoutAqe(jobsOf(
        SnapshotTable.readPrunedBox(spark, root,
          Seq(("k", lit(0L), lit(10L))))))
      val (in, inJobs) = withoutAqe(jobsOf(
        SnapshotTable.readPrunedIn(spark, root, "k", Seq(21L, 60L))))
      val (dsv2, dsv2Jobs) = withoutAqe(jobsOf(
        SnapshotTable.pruneFilesFor(spark, root, v,
          Seq(("k", Some(30L), None)), Seq(("k", Seq(35L))))))
      Seq("candidateFiles" -> candJobs, "readPrunedBox" -> boxJobs,
        "readPrunedIn" -> inJobs, "pruneFilesFor" -> dsv2Jobs).foreach {
        case (what, jobs) => assert(jobs.isEmpty,
          s"$what ran ${jobs.size} Spark jobs (the manifest collect ran " +
            s"one): ${jobs.mkString("; ")}") }
      // the selections are real: fewer files than the version holds,
      // and the pruned reads still answer exactly
      val total = SnapshotTable.dataFiles(spark, root, v).size
      assert(cands.nonEmpty && cands.size < total, s"$cands of $total")
      assert(box.filesRead < box.filesTotal)
      assert(box.df.where(col("k") <= 10L).count() === 11)
      assert(in.df.where(col("k").isin(21L, 60L)).select("k", "v")
        .as[(Long, String)].collect().toSet === Set((21L, "d"), (60L, "a")))
      assert(dsv2._1.nonEmpty && dsv2._1.size < dsv2._2)
    }
  }

  test("commit job counts with AQE off: commitMerge runs 3 Spark jobs " +
      "and commitMergeDV 4") {
    // the same commits ran 6 and 8 jobs while the candidate manifest
    // collect was a Spark job in each and commitMergeDV probed its hit
    // set's emptiness with two limit(1) takes instead of one count, and
    // 5 and 6 while a stats pass re-read the fresh segment and a Spark
    // job wrote the delta link's manifest
    val pinned = Map("commitMerge" -> 3, "commitMergeDV" -> 4)
    pinned.foreach { case (how, n) =>
      withRoot { root =>
        SnapshotTable.commitWithStatsCols(spark, root, Seq("k"),
          retain = 10)(_ => img((0L until 40L).map(k => (k, s"v$k")): _*)
          .repartitionByRange(4, col("k")))
        val b = img((17L +: (40L until 45L)).map(k => (k, "u")): _*)
        val names = withoutAqe(jobsOf {
          if (how == "commitMerge")
            SnapshotTable.commitMerge(spark, root, b, "k", retain = 10)(
              latestPerKey)
          else
            SnapshotTable.commitMergeDV(spark, root, b, "k", retain = 10)(
              latestPerKey)
        }._2)
        assert(names.size === n, s"$how: ${names.mkString("; ")}")
        assert(SnapshotTable.read(spark, root).get.count() === 45)
      }
    }
    // a plain-commit chain that crosses a checkpoint and then holds one
    // deletion-vector version: the checkpoint append runs only its
    // segment write, cloneTo only its byte copy, and history, a
    // type-widening commit and restore none (the checkpoint manifest,
    // restore and cloneTo each ran one more, Spark-written, and
    // history two aggregates and a distinct count per version)
    val conf = "spark.graft.manifestCheckpointInterval"
    val prior = spark.conf.getOption(conf)
    spark.conf.set(conf, "3")
    try withRoot { root =>
      import spark.implicits._
      def jobs[A](f: => A): Seq[String] = withoutAqe(jobsOf(f)._2)
      def rows(ks: Seq[Long], v: String) =
        ks.map(k => (k, v, k.toInt)).toDF("k", "v", "n")
      SnapshotTable.commit(spark, root, retain = 10)(_ =>
        rows(0L until 20L, "v").repartition(2))
      Seq(20L, 21L).foreach(k =>
        SnapshotTable.commitAppend(spark, root, rows(Seq(k), "a"),
          retain = 10))
      val checkpoint = jobs(SnapshotTable.commitAppend(spark, root,
        rows(Seq(22L), "a"), retain = 10))
      val fs = fsFor(root)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/v=3/_parent")),
        "v=3 must be a checkpoint")
      SnapshotTable.commitMergeDV(spark, root, rows(Seq(5L), "d"), "k",
        retain = 10)((_, b) => b)
      val dvImage = SnapshotTable.readVersion(spark, root, 4L)
        .collect().toSet
      val history = jobs(SnapshotTable.history(spark, root))
      val widen = jobs(SnapshotTable.widenColumn(spark, root, "n",
        org.apache.spark.sql.types.LongType, retain = 10))
      val restore = jobs(SnapshotTable.restore(spark, root, 4L, retain = 10))
      withRoot { dst =>
        val clone = jobs(SnapshotTable.cloneTo(spark, root, s"$dst/t",
          retain = 10))
        Seq(("CALL history", history, 0), ("checkpoint commitAppend",
          checkpoint, 1), ("restore", restore, 0), ("cloneTo", clone, 1),
          ("widenColumn", widen, 0)).foreach { case (what, names, n) =>
          assert(names.size === n, s"$what: ${names.mkString("; ")}") }
        // the restored and the cloned version serve v=4's image through
        // their byte-copied deletion vectors
        assert(SnapshotTable.read(spark, root).get.collect().toSet ===
          dvImage)
        assert(SnapshotTable.read(spark, s"$dst/t").get.collect().toSet ===
          dvImage)
        assert(SnapshotTable.history(spark, root).map(_.dvFiles) ===
          Seq(0, 0, 0, 0, 1, 1, 1))
      }
    } finally prior.fold(spark.conf.unset(conf))(spark.conf.set(conf, _))
  }

  test("a pruned SELECT through the graft catalog on a deletion-vector " +
      "version runs 2 Spark jobs: its scan reads the vectors once, on " +
      "the driver") {
    withRoot { wh =>
      import spark.implicits._
      val cat = "graft_pruned_jobs"
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.dsv2.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
      try {
        val root = s"$wh/t"
        SnapshotTable.commitWithStats(spark, root, "k", retain = 10)(_ =>
          (0L until 40L).map(k => (k, k * 10)).toDF("k", "p")
            .repartitionByRange(4, col("k")))
        SnapshotTable.commitMergeDV(spark, root,
          Seq((5L, 0L), (12L, 0L)).toDF("k", "p"), "k",
          retain = 10)((_, b) => b)
        assert(SnapshotTable.dvOf(spark, root, 1L).isDefined)
        val (r, names) = jobsOf(spark.sql("SELECT count(*), sum(p) FROM " +
          s"$cat.t WHERE k BETWEEN 3 AND 14").collect())
        // the aggregate's two stage jobs; the scan's plan state read the
        // vectors with a count and a collect, twice, before
        assert(names.size === 2, names.mkString("; "))
        assert(r.head.getLong(0) === 12L && r.head.getLong(1) === 850L)
      } finally {
        spark.conf.unset(s"spark.sql.catalog.$cat")
        spark.conf.unset(s"spark.sql.catalog.$cat.warehouse")
      }
    }
  }

  /** One generated manifest row: a data file and what its link's
    * manifest records of it (`n` only on links past the ADD COLUMN,
    * `bloom` only on links that carry the filter). */
  private case class GenFile(file: String, rows: Option[Long],
      k: Option[(Long, Long)], n: Option[(Int, Int)],
      bloom: Option[Seq[Long]])
  /** One generated version: fresh files, removed files, whether its
    * manifest records stats or only `file`/`rows`/`bytes`, and with
    * which optional columns (`n`'s stats as bigint once the column is
    * widened). */
  private case class GenLink(fresh: Seq[GenFile], removed: Seq[String],
      stats: Boolean, withN: Boolean, nLong: Boolean, withBloom: Boolean)
  /** A generated table history: a pre-checkpoint history whose files
    * never reach the view, the checkpoint, its deltas (newest last),
    * and the probe values of the conditions. */
  private case class GenChain(old: Seq[GenLink], ckpt: GenLink,
      deltas: Seq[GenLink], lo: Long, hi: Long, ins: Seq[Long],
      nLo: Int, hashes: Seq[Seq[Long]])

  private object ChainGen {
    import org.scalacheck.Gen
    def file(name: String, withN: Boolean, withBloom: Boolean)
        : Gen[GenFile] = for {
      rows <- Gen.option(Gen.choose(0L, 50L))
      lo <- Gen.choose(0L, 100L)
      w <- Gen.choose(0L, 30L)
      k <- Gen.frequency(4 -> Gen.const(Some((lo, lo + w))), 1 -> None)
      nl <- Gen.choose(0, 20)
      n <- Gen.frequency(3 -> Gen.const(Some((nl, nl + 5))), 1 -> None)
      words <- Gen.choose(1, 2).flatMap(Gen.listOfN(_, Gen.long))
      bloom <- Gen.frequency(6 -> Gen.const(Some(words)),
        1 -> Gen.const(Some(Nil)), 1 -> None)
    } yield GenFile(name, rows, k, if (withN) n else None,
      if (withBloom) bloom else None)
    def link(id: String, live: Seq[String], addN: Boolean,
        nLong: Boolean, merge: Boolean): Gen[GenLink] = for {
      nFresh <- Gen.choose(if (merge) 1 else 0, 3)
      stats <- Gen.frequency(3 -> Gen.const(true), 1 -> Gen.const(false))
      withBloom <- Gen.oneOf(true, false)
      fresh <- Gen.sequence[List[GenFile], GenFile]((0 until nFresh).map(
        i => file(s"seg-$id/part-$i.parquet", addN, withBloom)))
      removed <-
        if (!merge || live.isEmpty) Gen.const(Nil)
        else Gen.choose(1, math.min(3, live.size))
          .flatMap(Gen.pick(_, live)).map(_.toList.distinct)
    } yield GenLink(fresh, removed, stats && fresh.nonEmpty, addN, nLong,
      withBloom)
    val chain: Gen[GenChain] = for {
      old <- Gen.choose(1, 2).flatMap(d => Gen.sequence[List[GenLink],
        GenLink]((0 until d).map(i =>
        link(s"old$i", Nil, false, false, false))))
      addAt <- Gen.choose(0, 8)
      widenAt <- Gen.choose(addAt, 10)
      depth <- Gen.choose(0, 7)
      // a checkpoint with files
      ckpt <- link("c", Nil, addAt == 0, widenAt == 0, merge = true)
      deltas <- (1 to depth).foldLeft(Gen.const(List.empty[GenLink])) {
        (acc, i) => acc.flatMap { done =>
          val live = (ckpt +: done).foldLeft(Seq.empty[String])((l, d) =>
            l.filterNot(d.removed.contains) ++ d.fresh.map(_.file))
          Gen.oneOf(true, false).flatMap(m =>
            link(s"d$i", live, i >= addAt, i >= widenAt, m))
            .map(done :+ _)
        }
      }
      lo <- Gen.choose(0L, 120L)
      w <- Gen.choose(0L, 40L)
      ins <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, Gen.choose(0L, 130L)))
      nLo <- Gen.choose(0, 25)
      hashes <- Gen.choose(1, 3).flatMap(Gen.listOfN(_,
        Gen.listOfN(4, Gen.long)))
    } yield GenChain(old, ckpt, deltas, lo, lo + w, ins, nLo, hashes)
  }

  /** Version `v`'s manifest view as Spark reads it — the reference the
    * driver reader is checked against: each chain link's manifest parts
    * read by `spark.read.parquet`, minus the files newer links removed,
    * unioned by name. */
  private def sparkView(root: String,
      v: Long): org.apache.spark.sql.DataFrame = {
    import java.nio.file.{Files, Paths}
    def lines(p: String): Seq[String] =
      if (!Files.exists(Paths.get(p))) Nil
      else new String(Files.readAllBytes(Paths.get(p)), "UTF-8")
        .split("\n").toSeq.filter(_.nonEmpty)
    // (version, files it removed), newest first
    def chain(x: Long): List[(Long, Seq[String])] =
      lines(s"$root/v=$x/_parent") match {
        case Seq(p) => (x, lines(s"$root/v=$x/_removed")) ::
          chain(p.trim.toLong)
        case _ => List((x, Nil))
      }
    def rows(x: Long) = spark.read.parquet(new java.io.File(
      s"$root/v=$x/_manifest").listFiles().map(_.toString)
      .filter(_.endsWith(".parquet")).sorted.toSeq: _*)
    val oldest :: newer = chain(v).reverse
    newer.foldLeft(rows(oldest._1)) { case (older, (x, removed)) =>
      (if (removed.isEmpty) older
       else older.where(!col("file").isin(removed: _*)))
        .unionByName(rows(x), allowMissingColumns = true)
    }
  }

  /** The driver reader's answers on version `v` against Spark's
    * aggregates over `view` ([[sparkView]]), under the same exactness
    * gates: `metadataAggregates` COUNT and, where the view records
    * stats on `k`, MIN/MAX/SUM; `filesStatsFor` on a random subset of
    * the `live` files; and `history`'s rows and bytes of `v`. */
  private def checkAggregates(what: String, root: String, v: Long,
      view: org.apache.spark.sql.DataFrame, live: Set[String],
      rnd: scala.util.Random): Unit = {
    val stats = view.columns.contains("min__k")
    def bad(c: String) = sum(when(col("rows").isNull ||
      (col("rows") > 0 && col(c).isNull), 1L).otherwise(0L))
    val a = view.agg(count(lit(1)), (Seq(count("rows"), sum("rows"),
      count("bytes"), sum("bytes")) ++ (if (!stats) Nil else Seq(
      min("min__k"), bad("min__k"), max("max__k"), bad("max__k"),
      sum(col("sum__k")), bad("sum__k")))): _*).first()
    val n = live.size.toLong
    // complete-or-NULL: a sum counts only when every file records it
    def tally(i: Int): Option[Long] =
      if (a.getLong(i) != n) None
      else Some(if (a.isNullAt(i + 1)) 0L else a.getLong(i + 1))
    val ks = if (stats) Seq("k") else Nil
    def nulls = ks.map(_ -> (null: Any)).toMap
    val want =
      if (n == 0) Some((0L, nulls, nulls, nulls))
      else if (a.getLong(0) != n || tally(1).isEmpty ||
        (stats && Seq(6, 8, 10).exists(a.getLong(_) != 0L))) None
      else Some((tally(1).get,
        ks.map(_ -> a.get(5)).toMap, ks.map(_ -> a.get(7)).toMap,
        ks.map(_ -> Option(a.getDecimal(9)).map(_.longValueExact(): Any)
          .orNull).toMap))
    assert(SnapshotTable.metadataAggregates(spark, root, v,
      wantCount = true, ks, ks, ks) === want, s"$what: metadataAggregates")
    val subset = live.toSeq.sorted.filter(_ => rnd.nextBoolean())
    val s = view.where(col("file").isin(subset: _*))
      .agg(sum("bytes"), sum("rows")).first()
    def opt(i: Int) = if (s.isNullAt(i)) None else Some(s.getLong(i))
    assert(SnapshotTable.filesStatsFor(spark, root, v, subset) ===
      ((opt(0), opt(1))), s"$what: filesStatsFor")
    val h = SnapshotTable.history(spark, root).last
    assert(h.version === v && h.files === live.size &&
      h.bytes === tally(3) && h.rows === tally(1) && h.dvFiles === 0,
      s"$what: history $h")
  }

  test("manifestFiles equals the manifest view's filter on 120 random " +
      "chains: appends, merges with removals, stats-less links, ADD " +
      "COLUMN and a widened type mid-chain, NULL stats, Bloom columns, " +
      "a checkpoint") {
    import org.apache.spark.sql.{Column, Row}
    import org.apache.spark.sql.types._
    val seed = 20261019L
    val chains = org.scalacheck.Gen.listOfN(120, ChainGen.chain).apply(
      org.scalacheck.Gen.Parameters.default,
      org.scalacheck.rng.Seed(seed)).get
    assert(chains.size === 120)
    // the seeded sample holds every shape the title names
    def stats(c: GenChain) = (c.ckpt +: c.deltas).filter(_.stats)
    Seq[(String, GenChain => Boolean)](
      "a removal" -> (_.deltas.exists(_.removed.nonEmpty)),
      "a delta whose manifest holds only file/rows/bytes" ->
        (_.deltas.exists(l => !l.stats && l.fresh.nonEmpty)),
      "ADD COLUMN" -> (c => stats(c).exists(_.withN) &&
        stats(c).exists(!_.withN)),
      "a widened type" -> (c => stats(c).exists(_.nLong) &&
        stats(c).exists(l => l.withN && !l.nLong)),
      "NULL stats" -> (c => stats(c).exists(_.fresh.exists(_.k.isEmpty))),
      "a Bloom column" -> (c => stats(c).exists(_.withBloom) &&
        stats(c).exists(!_.withBloom))).foreach { case (shape, p) =>
      assert(chains.count(p) >= 5, s"seed $seed: too few chains with $shape")
    }
    withRoot { base =>
      // the layout is written with java.nio: the roots are local, and
      // a Hadoop create (with its checksum file) per sidecar made the
      // layout of 120 chains take seconds
      import java.nio.file.{Files, Paths}
      def text(p: String, lines: Seq[String]): Unit = {
        Files.write(Paths.get(p), lines.mkString("\n").getBytes("UTF-8"))
        ()
      }
      // lay out every version's sidecars; collect each manifest's rows
      // by schema variant (stats, withN, nLong, withBloom) so one
      // partitioned write per variant writes every link's manifest part
      val variants = scala.collection.mutable.Map.empty[
        (Boolean, Boolean, Boolean, Boolean), Vector[Row]]
        .withDefaultValue(Vector.empty)
      val tops = chains.zipWithIndex.map { case (c, ci) =>
        val root = s"$base/c$ci"
        val versions = c.old ++ (c.ckpt +: c.deltas)
        var live = Seq.empty[String]
        versions.zipWithIndex.foreach { case (l, v) =>
          val dir = s"$root/v=$v"
          Files.createDirectories(Paths.get(dir))
          val fullAt = v == 0 || v == c.old.size
          if (fullAt) live = Nil
          live = live.filterNot(l.removed.contains) ++ l.fresh.map(_.file)
          // committed, so history reads every version
          text(s"$dir/_COMMITTED", Nil)
          text(s"$dir/_commit_ts", Seq(v.toString))
          if (fullAt) text(s"$dir/_files", live)
          else {
            text(s"$dir/_parent", Seq((v - 1).toString))
            text(s"$dir/_files_new", l.fresh.map(_.file))
            if (l.removed.nonEmpty) text(s"$dir/_removed", l.removed)
          }
          def row(f: GenFile): Row = Row.fromSeq(
            Seq(s"c${ci}v$v", f.file, f.rows.getOrElse(null),
              100L + f.file.length) ++
            (if (!l.stats) Nil else
              Seq(f.k.map(_._1).getOrElse(null),
                f.k.map(_._2).getOrElse(null),
                f.k.map(k => java.math.BigDecimal.valueOf(k._1 + k._2))
                  .orNull) ++
              (if (!l.withN) Nil else Seq(f.n.map(_._1), f.n.map(_._2))
                .map(_.map(x => if (l.nLong) x.toLong: Any else x).orNull)) ++
              (if (l.withBloom) Seq(f.bloom.orNull) else Nil)))
          val variant =
            if (l.stats) (true, l.withN, l.nLong, l.withBloom)
            else (false, false, false, false)
          variants(variant) ++= l.fresh.map(row)
        }
        (root, versions.size - 1L, live.toSet)
      }
      val fileFields = Seq(StructField("file", StringType),
        StructField("rows", LongType), StructField("bytes", LongType))
      variants.foreach { case ((stats, withN, nLong, withBloom), rows) =>
        val nType = if (nLong) LongType else IntegerType
        val schema = StructType((StructField("d", StringType) +: fileFields) ++
          (if (!stats) Nil else Seq(StructField("min__k", LongType),
            StructField("max__k", LongType),
            StructField("sum__k", DecimalType(38, 0)))) ++
          (if (withN) Seq(StructField("min__n", nType),
            StructField("max__n", nType)) else Nil) ++
          (if (withBloom) Seq(StructField("bloom__k", ArrayType(LongType)))
           else Nil))
        val out = s"$base/w-$stats-$withN-$nLong-$withBloom"
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.partitionBy("d").parquet(out)
        rows.map(_.getString(0)).distinct.foreach { d =>
          val Array(ci, v) = d.stripPrefix("c").split("v")
          Files.move(Paths.get(s"$out/d=$d"),
            Paths.get(s"$base/c$ci/v=$v/_manifest"))
        }
      }
      // a version with no fresh file still writes its manifest: one
      // zero-row part
      val empty = s"$base/empty"
      spark.createDataFrame(java.util.Collections.emptyList[Row],
        StructType(fileFields)).coalesce(1).write.parquet(empty)
      val emptyPart = Files.list(Paths.get(empty)).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      chains.zipWithIndex.foreach { case (c, ci) =>
        (0 until c.old.size + 1 + c.deltas.size).foreach { v =>
          val m = Paths.get(s"$base/c$ci/v=$v/_manifest")
          if (!Files.exists(m)) {
            Files.createDirectories(m)
            Files.copy(Paths.get(emptyPart), m.resolve("part-0.parquet"))
          }
        }
      }
      def range(c: String, lo: Any, hi: Any): Column =
        col(s"min__$c").isNull || col(s"max__$c").isNull ||
          (col(s"max__$c") >= lit(lo) && col(s"min__$c") <= lit(hi))
      // one chain's check: the Spark filter over its view against the
      // driver-side selection, for every condition its view can answer,
      // and Spark's aggregates over the view against the driver reader's
      def check(ci: Int): Unit = {
        val (c, (root, top, live)) = (chains(ci), tops(ci))
        val view = sparkView(root, top)
        val cols = view.schema.fieldNames.toSet
        val bloom = SnapshotTable.bloomHitExpr("k", c.hashes)
        // "rows" is false where a generated row's count is NULL, as an
        // empty batch's candidate condition "none" is on every row
        val conds: Seq[(String, Column)] =
          Seq("rows" -> (col("rows") >= c.lo % 50), "none" -> lit(false)) ++
          (if (!cols("min__k")) Nil else Seq(
            "range k" -> range("k", c.lo, c.hi),
            "in k" -> (col("min__k").isNull || col("max__k").isNull ||
              c.ins.map(x => col("min__k") <= x && col("max__k") >= x)
                .reduce(_ || _)))) ++
          (if (!cols("min__n")) Nil
           else Seq("range n" -> range("n", c.nLo, c.nLo + 3))) ++
          (if (!cols("bloom__k")) Nil else Seq("bloom k" -> bloom)) ++
          (if (!cols("bloom__k") || !cols("min__k")) Nil
           else Seq("range and bloom k" -> (range("k", c.lo, c.hi) && bloom)))
        val expect = view.select(col("file") +: conds.zipWithIndex.map {
          case ((_, cond), i) => coalesce(cond, lit(false)).as(s"c$i")
        }: _*).collect()
        conds.zipWithIndex.foreach { case ((name, cond), i) =>
          val want = expect.filter(_.getBoolean(i + 1))
            .map(_.getString(0)).toSet
          val got = LakeManifest.manifestFiles(spark, root, top, cond)
          assert(got.distinct.size === got.size && got.toSet === want,
            s"seed $seed, chain $ci, $name: $c")
        }
        assert(LakeManifest.manifestFiles(spark, root, top, lit(true))
          .toSet === live, s"seed $seed, chain $ci: view != live files")
        checkAggregates(s"seed $seed, chain $ci", root, top, view, live,
          new scala.util.Random(seed + ci))
        // a driver-written checkpoint of the view reads back as its rows
        val ckpt = s"$base/ckpt/c$ci"
        LakeManifest.writeCheckpoint(spark, root, top, ckpt)
        val back = spark.read.parquet(ckpt)
        assert(back.columns.toSeq === view.columns.toSeq &&
          back.collect().map(_.toString).sorted.toSeq ===
            view.collect().map(_.toString).sorted.toSeq,
          s"seed $seed, chain $ci: checkpoint")
      }
      // four chains at a time: each check is a few small Spark jobs and
      // driver reads, and concurrent selections share the session
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutor(pool)
        import scala.concurrent.{Await, Future}
        Await.result(Future.sequence(chains.indices.toList.map(ci =>
          Future(check(ci)))), scala.concurrent.duration.Duration(10, "min"))
      } finally pool.shutdown()
    }
  }

  test("a commitMerge on a deletion-vector base runs no emptiness probe " +
      "of its carried vectors: it writes them while a file they name " +
      "survives and drops them with the last one") {
    withRoot { root =>
      SnapshotTable.commitWithStatsCols(spark, root, Seq("k"),
        retain = 10)(_ => img((0L until 40L).map(k => (k, s"v$k")): _*)
        .repartitionByRange(4, col("k")))
      // hide key 3: the vectors name the file holding keys 0-9
      SnapshotTable.commitMergeDV(spark, root, img(3L -> "d"), "k",
        retain = 10)((_, b) => b)
      def merge(keys: Seq[Long]): Seq[String] = withoutAqe(jobsOf(
        SnapshotTable.commitMerge(spark, root, img(keys.map(k =>
          (k, "u")): _*), "k", retain = 10)((_, b) => b))._2)
      def dv() = SnapshotTable.dvOf(spark, root,
        SnapshotTable.latestVersion(spark, root).get)
      // key 17's file carries no vector: the carried set survives
      val kept = merge(17L +: (40L until 45L))
      assert(dv().isDefined)
      // key 5 sits in the vectors' file: the rewrite folds them
      val folded = merge(Seq(5L))
      assert(dv().isEmpty)
      // key pass, touched probe, segment write, and the carried vectors'
      // write while they survive, or the broadcast of the vectors the
      // rewrite reads its touched file through when it folds them; a
      // limit(1) probe of the restricted set, a stats pass and a
      // manifest-write job ran here too before the stats moved into the
      // write and the emptiness check onto the driver
      Seq(("kept", kept, 4), ("folded", folded, 4)).foreach {
        case (what, names, n) =>
          assert(!names.exists(_.startsWith("isEmpty")) && names.size === n,
            s"$what: ${names.mkString("; ")}")
      }
      assert(SnapshotTable.read(spark, root).get.collect().map(r =>
        r.getLong(0) -> r.getString(1)).toMap ===
        ((0L until 45L).map(k => k -> s"v$k").toMap ++
          (17L +: (40L until 45L)).map(_ -> "u") + (3L -> "d") +
          (5L -> "u")))
    }
  }

  /** The committed manifest rows of version `v`'s fresh files, read by
    * Spark, and the rows the two-pass computation the write replaced
    * gives for them: a `groupBy(file)` aggregate over the fresh segment
    * (min, max, NULL count, integral `decimal(38,0)` sum, row count)
    * left-merged with the segment listing (`bytes`; a file the
    * aggregate does not see records `rows = 0` and NULL stats), plus a
    * collect-set of Bloom positions per Bloom column. Both sorted by
    * file, with their schemas. */
  private def manifestAgainstTwoPass(root: String, v: Long,
      statsCols: Seq[String], bloomCols: Seq[String], bits: Int)
      : ((Seq[(String, org.apache.spark.sql.types.DataType)],
          Seq[org.apache.spark.sql.Row]),
         (Seq[(String, org.apache.spark.sql.types.DataType)],
          Seq[org.apache.spark.sql.Row])) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val fs = fsFor(root)
    def parts(dir: String) = fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      .toSeq.filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    val fresh = SnapshotTable.newFiles(spark, root, v)
    val seg = fresh.map(_.split("/").head).distinct
    assert(seg.size === 1, s"one fresh segment expected: $fresh")
    val listing = parts(s"$root/${seg.head}").map(st =>
      s"${seg.head}/${st.getPath.getName}" -> st.getLen)
    assert(listing.map(_._1) === fresh.sorted)
    val segDf = spark.read.parquet(s"$root/${seg.head}")
    val relFile = concat_ws("/",
      element_at(split(input_file_name(), "/"), -2),
      element_at(split(input_file_name(), "/"), -1))
    def integral(c: String) = segDf.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val aggs = statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min__$c"), max(col(c)).as(s"max__$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls__$c")) ++
        (if (integral(c))
          Seq(sum(col(c).cast("decimal(38,0)")).as(s"sum__$c"))
        else Nil)) :+ count(lit(1)).as("rows")
    val agg = segDf.groupBy(relFile.as("file")).agg(aggs.head, aggs.tail: _*)
    val byFile = agg.collect().map(r => r.getString(0) -> r).toMap
    val nStats = agg.schema.size - 2
    val blooms = bloomCols.map { c =>
      val pos = explode(array((0 until SnapshotTable.bloomK).map(i =>
        pmod(hash(col(c), lit(i)).cast("long"), lit(bits.toLong))
          .cast("int")): _*))
      segDf.select(relFile.as("file"), pos.as("p")).distinct()
        .groupBy("file").agg(collect_set(col("p"))).collect().map { r =>
          val words = new Array[Long](bits / 64)
          r.getSeq[Int](1).foreach(p => words(p / 64) |= (1L << (p % 64)))
          r.getString(0) -> (words.toSeq: Seq[Long])
        }.toMap
    }
    val refRows = listing.map { case (f, bytes) =>
      val stats = byFile.get(f) match {
        case Some(r) => r.toSeq.drop(1)
        case None => Seq.fill(nStats)(null) :+ 0L
      }
      Row.fromSeq((f +: stats :+ bytes) ++ blooms.map(_.getOrElse(f, null)))
    }
    val refSchema = (agg.schema.fields.map(f => f.name -> f.dataType) :+
      ("bytes" -> LongType)) ++
      bloomCols.map(c => s"bloom__$c" -> (ArrayType(LongType): DataType))
    val committed = spark.read.parquet(
      parts(s"$root/v=$v/_manifest").map(_.getPath.toString): _*)
    ((committed.schema.fields.map(f => f.name -> f.dataType).toSeq,
      committed.collect().toSeq.sortBy(_.getString(0))),
     (refSchema.toSeq, refRows))
  }

  test("the fresh manifest recorded during the segment write equals the " +
      "two-pass stats and Bloom computation row for row and type for " +
      "type, and every written key hits its file's Bloom filter") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val typed = StructType(Seq(StructField("i", IntegerType),
      StructField("l", LongType), StructField("s", StringType),
      StructField("d", DoubleType), StructField("dec", DecimalType(12, 2)),
      StructField("dt", DateType), StructField("ts", TimestampType),
      StructField("v", StringType)))
    def row(n: Int, nulls: Boolean): Row =
      if (nulls) Row(null, null, null, null, null, null, null, s"p$n")
      else Row(n * 7 - 40, n.toLong * 1000000007L - (1L << 40), f"s$n%03d",
        if (n % 5 == 0) Double.NaN else if (n % 7 == 0) null
        else n * 1.5 - 9.25,
        new java.math.BigDecimal(n * 313).movePointLeft(2),
        java.sql.Date.valueOf(java.time.LocalDate.of(2020, 1, 1)
          .plusDays(n.toLong * 37)),
        new java.sql.Timestamp(1600000000000L + n * 3600000L), s"p$n")
    // partition 0 empty (Spark still writes its file: 0 rows), 1 and 4
    // mixed with NaN and NULL, 2 all-NULL stats columns, 3 empty (no
    // file)
    val byPart: Map[Int, Seq[Row]] = Map(1 -> (1 to 14).map(row(_, false)),
      2 -> (20 to 24).map(row(_, true)),
      4 -> ((30 to 44).map(row(_, false)) :+ row(45, true)))
    def typedFrame(): org.apache.spark.sql.DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(0 until 5, 5)
        .mapPartitionsWithIndex((p, _) =>
          byPart.getOrElse(p, Nil).iterator), typed)
    val kv = StructType(Seq(StructField("k", LongType),
      StructField("n", IntegerType), StructField("s", StringType)))
    def kvFrame(rows: Seq[(Long, Int, String)], parts: Int) =
      spark.createDataFrame(java.util.Arrays.asList(rows.map { case (k, n, s) =>
        Row(k, n, s) }: _*), kv).repartition(parts, col("k"))
    def check(root: String, statsCols: Seq[String],
        bloomCols: Seq[String] = Nil, bits: Int = 4096,
        what: String): Seq[Row] = {
      val v = SnapshotTable.latestVersion(spark, root).get
      val ((gotSchema, got), (refSchema, ref)) =
        manifestAgainstTwoPass(root, v, statsCols, bloomCols, bits)
      assert(gotSchema === refSchema, what)
      assert(got.size === ref.size, what)
      got.zip(ref).foreach { case (g, r) =>
        assert(g === r, s"$what: ${g.getString(0)}") }
      // every key written to a file hits that file's Bloom filter
      bloomCols.foreach { c =>
        val seg = SnapshotTable.newFiles(spark, root, v)
        val hashes = spark.read.parquet(seg.map(f => s"$root/$f"): _*)
          .select(concat_ws("/", element_at(split(input_file_name(), "/"),
            -2), element_at(split(input_file_name(), "/"), -1)),
            array((0 until SnapshotTable.bloomK).map(i =>
              hash(col(c), lit(i)).cast("long")): _*))
          .collect().groupBy(_.getString(0))
        hashes.foreach { case (f, rs) =>
          val m = spark.read.parquet(s"$root/v=$v/_manifest")
            .where(col("file") === f)
          val hit = m.select(rs.toSeq.map(r => SnapshotTable.bloomHitExpr(
            c, Seq(r.getSeq[Long](1)))): _*).collect()
          assert(hit.length === 1 && hit.head.toSeq.forall(_ == true),
            s"$what: a key written to $f misses bloom__$c")
        }
      }
      got
    }
    val typedStats = Seq("i", "l", "s", "d", "dec", "dt", "ts")
    withRoot { root =>
      SnapshotTable.commitWithStatsCols(spark, root, typedStats,
        retain = 10)(_ => typedFrame())
      val first = check(root, typedStats, what = "typed, first commit")
      assert(first.map(_.getAs[Any]("rows")).contains(0L),
        "partition 0's empty file records rows = 0")
      assert(first.size === 4, "partition 3 writes no file")
      // a delta link over it: the driver-written delta manifest
      SnapshotTable.commitAppend(spark, root, typedFrame(), retain = 10)
      check(root, typedStats, what = "typed, delta link")
    }
    withRoot { root =>
      SnapshotTable.commitWithStatsCols(spark, root, Seq("k", "n"),
        retain = 10)(_ => kvFrame(Nil, 1))
      val empty = check(root, Seq("k", "n"), what = "empty batch")
      assert(empty.map(_.getAs[Any]("rows")) === Seq(0L))
      // ADD COLUMN `note`, without the inherited stats column `n`
      SnapshotTable.commitAppend(spark, root, spark.range(0, 30, 1, 3)
        .select(col("id").as("k"), concat(lit("x"), col("id")).as("s"),
          lit("memo").as("note")), retain = 10)
      check(root, Seq("k"), what = "ADD COLUMN delta without n")
    }
    val rows = (0 until 60).map(i => ((i * 37 % 101).toLong, i, s"s${i % 13}"))
    withRoot { root =>
      // one Bloom column, then renamed: the fresh manifest keeps the
      // physical name
      SnapshotTable.commitWithSkipping(spark, root, Seq("k"), Seq("k"),
        bloomBits = 4096, retain = 10)(_ => kvFrame(rows, 4))
      check(root, Seq("k"), Seq("k"), what = "one Bloom column")
      SnapshotTable.renameColumn(spark, root, "k", "key", retain = 10)
      SnapshotTable.commitAppend(spark, root, kvFrame(rows.map {
        case (k, n, s) => (k + 500, n, s) }, 3).withColumnRenamed("k", "key"),
        retain = 10)
      // appends and merges inherit the Bloom columns at the table's width
      check(root, Seq("k"), Seq("k"), what = "renamed column")
    }
    withRoot { root =>
      SnapshotTable.commitWithSkipping(spark, root, Seq("k", "s"),
        Seq("k", "s"), bloomBits = 4096, retain = 10)(_ => kvFrame(rows, 4))
      check(root, Seq("k", "s"), Seq("k", "s"), what = "two Bloom columns")
      SnapshotTable.commitMerge(spark, root,
        kvFrame(Seq((37L, -1, "m"), (999L, -2, "new")), 1), "k",
        retain = 10)((_, b) => b)
      check(root, Seq("k", "s"), Seq("k", "s"), what = "merge delta link")
    }
  }

  test("commits that inherit Bloom columns write them at the table's " +
      "width: append, merge, DV merge and DV fold keep a 4096-bit table " +
      "at 64 words per file") {
    withRoot { root =>
      import spark.implicits._
      def kv(ks: Seq[Long], tag: String) = ks.map(k => (k, s"$tag$k"))
        .toDF("k", "v").repartition(2)
      SnapshotTable.commitWithSkipping(spark, root, Seq("k"), Seq("k"),
        bloomBits = 4096, retain = 10)(_ => kv(1L to 40L, "a"))
      def words(what: String): Unit = {
        val v = SnapshotTable.latestVersion(spark, root).get
        val sizes = SnapshotTable.statsManifest(spark, root, v)
          .where(col("bloom__k").isNotNull)
          .select(size(col("bloom__k"))).as[Int].collect().toSet
        assert(sizes === Set(64), s"$what: words per file $sizes")
      }
      words("create")
      SnapshotTable.commitAppend(spark, root, kv(41L to 60L, "b"),
        retain = 10)
      words("commitAppend")
      SnapshotTable.commitMerge(spark, root, kv(Seq(3L, 70L), "m"), "k",
        retain = 10)((_, b) => b)
      words("commitMerge")
      SnapshotTable.commitMergeDV(spark, root, kv(Seq(5L, 71L), "d"), "k",
        retain = 10)((_, b) => b)
      words("commitMergeDV")
      SnapshotTable.foldDeletionVectors(spark, root, retain = 10)
      words("foldDeletionVectors")
      // the narrower filters still answer every written key
      val hit = SnapshotTable.readPrunedIn(spark, root, "k", Seq(3L, 71L))
      assert(hit.df.where(col("k").isin(3L, 71L)).count() === 2)
    }
  }

  test("a driver-written manifest part reads back like a Spark-written " +
      "one: readSidecarParquet schema and rows, the manifest view and " +
      "manifestFiles") {
    withRoot { root =>
      import spark.implicits._
      val fs = fsFor(root)
      SnapshotTable.commitWithSkipping(spark, root, Seq("k"), Seq("k"),
        bloomBits = 4096, retain = 10)(_ =>
        (0L until 40L).map(k => (k, s"v$k")).toDF("k", "v")
          .repartitionByRange(4, col("k")))
      SnapshotTable.commitMerge(spark, root,
        Seq((3L, "m"), (50L, "n")).toDF("k", "v"), "k",
        retain = 10)((_, b) => b)
      val v = SnapshotTable.latestVersion(spark, root).get
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/v=$v/_parent")))
      // the same rows written by Spark, as the checkpoint writes its part
      val driverDir = s"$root/v=$v/_manifest"
      val sparkDir = s"$root/spark_manifest"
      LakeManifest.readSidecarParquet(spark, fs, driverDir).coalesce(1)
        .write.parquet(sparkDir)
      val driver = LakeManifest.readSidecarParquet(spark, fs, driverDir)
      val viaSpark = LakeManifest.readSidecarParquet(spark, fs, sparkDir)
      assert(driver.schema === viaSpark.schema)
      assert(driver.collect().toSeq === viaSpark.collect().toSeq)
      def parts(dir: String) = fs.listStatus(new org.apache.hadoop.fs.Path(
        dir)).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
      assert(parts(driverDir).map(_.getPath.getName).forall(n =>
        n.startsWith("part-") && n.endsWith(".parquet")))
      // Spark's union of the Spark-written base part with the driver-
      // written link is the view the driver reads, and the driver
      // selection agrees with its filter
      val view = sparkView(root, v)
      assert(view.schema === sparkView(root, v - 1).schema)
      assert(view.select("file").as[String].collect().sorted.toSeq ===
        SnapshotTable.dataFiles(spark, root, v).sorted)
      val driverView = SnapshotTable.statsManifest(spark, root, v)
      def typed(df: org.apache.spark.sql.DataFrame) =
        df.schema.map(f => (f.name, f.dataType))
      assert(typed(driverView) === typed(view) &&
        driverView.collect().map(_.toString).sorted.toSeq ===
          view.collect().map(_.toString).sorted.toSeq)
      val cond = col("max__k") >= lit(45L) || col("min__k") <= lit(3L)
      assert(LakeManifest.manifestFiles(spark, root, v, cond) ===
        view.where(cond).select("file").as[String].collect().sorted.toSeq)
    }
  }
}
