package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.SnapshotTable

/** Column mapping (round 18): RENAME/DROP COLUMN as metadata-only
  * commits over stable physical names — data survives, pruning
  * survives, time travel serves each version's own schema, dropped
  * physicals are never reused. */
class ColumnMappingSpec extends AnyFunSuite {
  import TestSpark._

  private def withRoot(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("colmap_spec")
      .toString
    try f(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(dir))
  }

  private def img(pairs: (Long, String)*) = {
    import spark.implicits._
    pairs.toDF("k", "v")
  }

  /** Which of `_parent` (a delta) and `_files` (a checkpoint) the
    * latest version of `root` carries. */
  private def latestShape(root: String): String = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = SnapshotTable.latestVersion(spark, root).get
    Seq("_parent", "_files").filter(f =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$root/v=$v/$f")))
      .mkString(",")
  }

  private def segDirs(root: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("seg-"))
      .map(_.getPath.getName).toSet
  }

  test("RENAME COLUMN is metadata-only: data intact under the new " +
      "name, stats AND bloom pruning still bite on the renamed " +
      "column, merges keep working, time travel serves the old name") {
    withRoot { root =>
      SnapshotTable.commitWithSkipping(spark, root, Seq("k"), Seq("k"),
        bloomBits = 4096, retain = 6)(_ =>
        img((1L to 400L).map(k => (k, s"v$k")): _*)
          .repartitionByRange(8, col("k")))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      val segsBefore = segDirs(root)

      SnapshotTable.renameColumn(spark, root, "k", "key", retain = 6)
      assert(segDirs(root) === segsBefore, "rename must not write data")
      val cur = SnapshotTable.read(spark, root).get
      assert(cur.columns.toSeq === Seq("key", "v"))
      assert(cur.count() === 400)
      assert(cur.where(col("key") === 42L).collect()
        .map(_.getString(1)).toSeq === Seq("v42"))

      // pruning survives the rename: the manifest stays keyed by the
      // stable physical name, addressed through the new logical one
      val range = SnapshotTable.readPruned(spark, root,
        lit(10L), lit(60L))
      assert(range.filesRead < range.filesTotal,
        "range pruning must survive a rename")
      assert(range.df.where(col("key").between(10L, 60L)).count() === 51)
      val point = SnapshotTable.readPrunedIn(spark, root, "key",
        Seq(250L))
      assert(point.filesRead < point.filesTotal,
        "bloom pruning must survive a rename")
      assert(point.df.where(col("key") === 250L).count() === 1)

      // a file-granular merge on the RENAMED key stays localized
      SnapshotTable.commitMerge(spark, root,
        img(50L -> "m50").withColumnRenamed("k", "key"), "key",
        retain = 6)((_, b) => b)
      val vM = SnapshotTable.latestVersion(spark, root).get
      assert(SnapshotTable.newFiles(spark, root, vM).size <
        SnapshotTable.fileCount(spark, root, vM),
        "merge after rename must carry untouched files")
      assert(SnapshotTable.read(spark, root).get
        .where(col("key") === 50L).collect().map(_.getString(1)).toSeq
        === Seq("m50"))

      // appends after the rename inherit stats/bloom on the new name
      SnapshotTable.commitAppend(spark, root,
        img(1000L -> "fresh").withColumnRenamed("k", "key"), retain = 6)
      val p2 = SnapshotTable.readPrunedIn(spark, root, "key", Seq(1000L))
      assert(p2.filesRead < p2.filesTotal)
      assert(p2.df.where(col("key") === 1000L).count() === 1)

      // time travel: the pre-rename version serves its OWN schema
      val old = SnapshotTable.readVersion(spark, root, v1)
      assert(old.columns.toSeq === Seq("k", "v"))
      assert(old.where(col("k") === 50L).collect().map(_.getString(1))
        .toSeq === Seq("v50"), "pre-rename image must be untouched")

      // bad renames fail loudly
      intercept[IllegalArgumentException] {
        SnapshotTable.renameColumn(spark, root, "nope", "x")
      }
      intercept[IllegalArgumentException] {
        SnapshotTable.renameColumn(spark, root, "key", "v")
      }
    }
  }

  test("DROP COLUMN hides the column going forward, time travel still " +
      "serves it, and a re-added same-name column NEVER reads the " +
      "dropped column's stale bytes (fresh physical name)") {
    withRoot { root =>
      SnapshotTable.commitWithStats(spark, root, "k", retain = 8)(_ =>
        img((1L to 6L).map(k => (k, s"old$k")): _*)
          .repartitionByRange(2, col("k")))
      val v1 = SnapshotTable.latestVersion(spark, root).get

      SnapshotTable.dropColumn(spark, root, "v", retain = 8)
      val dropped = SnapshotTable.read(spark, root).get
      assert(dropped.columns.toSeq === Seq("k"))
      assert(dropped.count() === 6)
      // time travel serves the dropped column from the old version
      assert(SnapshotTable.readVersion(spark, root, v1)
        .where(col("k") === 3L).select("v").first().getString(0)
        === "old3")

      // RE-ADD a column with the SAME logical name via an evolved
      // append: old files must serve NULL for it, never the retired
      // physical bytes ("old3" resurfacing would be silent corruption)
      SnapshotTable.commitAppend(spark, root,
        img(7L -> "new7"), retain = 8)
      val readded = SnapshotTable.read(spark, root).get
      assert(readded.columns.toSeq === Seq("k", "v"))
      assert(readded.where(col("k") === 3L).select("v").first()
        .isNullAt(0),
        "re-added column must read NULL from pre-drop files")
      assert(readded.where(col("k") === 7L).select("v").first()
        .getString(0) === "new7")
      assert(readded.where(col("v").isNotNull).count() === 1)

      // the only-column and missing-column drops fail loudly
      intercept[IllegalArgumentException] {
        SnapshotTable.dropColumn(spark, root, "zzz")
      }

      // DV-key drop is rejected: row identity cannot be dropped
      val root2 = root + "_dv"
      SnapshotTable.commitWithStats(spark, root2, "k", retain = 4)(_ =>
        img((1L to 6L).map(k => (k, s"v$k")): _*)
          .repartitionByRange(2, col("k")))
      SnapshotTable.commitMergeDV(spark, root2, img(2L -> "B2"), "k",
        retain = 4)((_, b) => b)
      intercept[IllegalArgumentException] {
        SnapshotTable.dropColumn(spark, root2, "k")
      }
    }
  }

  test("a long run of metadata-only schema commits CHECKPOINTS at the " +
      "manifest interval — chain walks stay bounded and reads/pruning " +
      "survive") {
    withRoot { root =>
      try {
        spark.conf.set("spark.graft.manifestCheckpointInterval", "3")
        SnapshotTable.commitWithStats(spark, root, "k", retain = 12)(_ =>
          img((1L to 100L).map(k => (k, s"v$k")): _*)
            .repartitionByRange(4, col("k")))
        (1 to 7).foreach { i =>
          val (from, to) = if (i % 2 == 1) ("k", "kk") else ("kk", "k")
          SnapshotTable.renameColumn(spark, root, from, to, retain = 12)
        }
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val vs = SnapshotTable.committedVersions(spark, root)
        // at least one RENAME version wrote a full checkpoint (its own
        // _files sidecar) — without the bound, all 7 would chain
        val renameCheckpoints = vs.tail.count(v => fs.exists(
          new org.apache.hadoop.fs.Path(s"$root/v=$v/_files")))
        assert(renameCheckpoints >= 2,
          s"expected interval checkpoints among the renames, got " +
            s"$renameCheckpoints")
        val cur = SnapshotTable.read(spark, root).get
        assert(cur.columns.toSeq === Seq("kk", "v"))
        assert(cur.count() === 100)
        val pruned = SnapshotTable.readPruned(spark, root,
          lit(5L), lit(20L))
        assert(pruned.filesRead < pruned.filesTotal,
          "pruning must survive a checkpointed rename chain")
        assert(pruned.df.where(col("kk").between(5L, 20L)).count()
          === 16)
      } finally
        spark.conf.set("spark.graft.manifestCheckpointInterval", "8")
    }
  }

  test("rename composes with the DSv2 front door: format(\"graft\") " +
      "serves the new logical names, pushed predicates on the renamed " +
      "column still prune files, and SQL sees the renamed schema") {
    withRoot { root =>
      SnapshotTable.commitWithSkipping(spark, root, Seq("k"), Seq("k"),
        bloomBits = 4096, retain = 4)(_ =>
        img((1L to 400L).map(k => (k, s"v$k")): _*)
          .repartitionByRange(8, col("k")))
      SnapshotTable.renameColumn(spark, root, "k", "key", retain = 4)
      val door = spark.read.format("graft").load(root)
      assert(door.columns.toSeq === Seq("key", "v"))
      assert(door.where(col("key") === 42L).collect()
        .map(_.getString(1)).toSeq === Seq("v42"))
      // pushdown on the RENAMED logical name prunes via the stable
      // physical manifest columns
      val v = SnapshotTable.latestVersion(spark, root).get
      val b = new graft.dsv2.GraftScanBuilder(root, v,
        SnapshotTable.schemaOfVersion(spark, root, v))
      b.pushFilters(Array(
        org.apache.spark.sql.sources.LessThanOrEqual("key", 50L)))
      val scan = b.build().asInstanceOf[graft.dsv2.GraftScan]
      assert(scan.filesRead < scan.filesTotal,
        s"pushdown must prune through the rename: ${scan.description()}")
      assert(spark.read.format("graft").load(root)
        .where(col("key") <= 50L).count() === 50)
    }
  }

  test("rename composes with deletion vectors and the changelog: a " +
      "DV'd table renamed keeps serving the merged image, and " +
      "commitMergeDV on the new name matches the existing vectors") {
    withRoot { root =>
      SnapshotTable.commitWithStats(spark, root, "k", retain = 8)(_ =>
        img((1L to 8L).map(k => (k, s"v$k")): _*)
          .repartitionByRange(3, col("k")))
      SnapshotTable.commitMergeDV(spark, root, img(2L -> "B2"), "k",
        retain = 8)((_, b) => b)
      SnapshotTable.renameColumn(spark, root, "k", "key", retain = 8)
      val cur = SnapshotTable.read(spark, root).get
      assert(cur.where(col("key") === 2L).collect()
        .map(_.getString(1)).toSeq === Seq("B2"),
        "DV application must survive the rename")
      assert(cur.count() === 8)
      // merge-on-read under the NEW name hits the same physical key
      SnapshotTable.commitMergeDV(spark, root,
        img(3L -> "B3").withColumnRenamed("k", "key"), "key",
        retain = 8)((_, b) => b)
      val after = SnapshotTable.read(spark, root).get
      assert(after.where(col("key") === 3L).collect()
        .map(_.getString(1)).toSeq === Seq("B3"))
      assert(after.count() === 8)
      // the changelog across the rename span classifies exactly the
      // merged key (rename itself is change-free)
      val vs = SnapshotTable.committedVersions(spark, root)
      val ch = SnapshotTable.readChanges(spark, root,
        vs(vs.size - 3), vs.last, "key")
        .select(col("_change_type"), col("key"), col("v"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getString(2))).toSet
      assert(ch === Set(("update_preimage", 3L, "v3"),
        ("update_postimage", 3L, "B3")))
    }
  }

  test("NESTED-field DDL (round 19): struct-leaf RENAME is " +
      "metadata-only, survives stats pruning and a later merge, time " +
      "travel serves the old leaf name; DROP + re-ADD of a leaf gets " +
      "a fresh physical and never resurrects old bytes") {
    withRoot { root =>
      import org.apache.spark.sql.functions.struct
      import spark.implicits._
      val img = (1L to 400L).map(k => (k, s"L$k", k * 1.5)).toDF(
        "k", "lang", "score")
        .select(col("k"), struct(col("lang"), col("score")).as("meta"))
        .repartitionByRange(8, col("k"))
      SnapshotTable.commitWithStats(spark, root, "k", retain = 8)(_ =>
        img)
      val v1 = SnapshotTable.latestVersion(spark, root).get
      val segsBefore = segDirs(root)

      // leaf rename through the SQL door (dotted path)
      val wh = new java.io.File(root).getParent
      spark.conf.set("spark.sql.catalog.graft_n",
        "graft.dsv2.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft_n.warehouse", wh)
      val tbl = s"graft_n.${new java.io.File(root).getName}"
      spark.sql(s"ALTER TABLE $tbl RENAME COLUMN meta.lang TO language")
      assert(segDirs(root) === segsBefore,
        "nested rename must be metadata-only")
      val cur = SnapshotTable.read(spark, root).get
      assert(cur.schema("meta").dataType.asInstanceOf[
        org.apache.spark.sql.types.StructType].fieldNames.toSeq
        === Seq("language", "score"))
      assert(cur.where(col("k") === 42L)
        .select(col("meta.language"), col("meta.score")).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
        === Seq(("L42", 63.0)))
      // stats pruning on the top-level scalar is untouched by the
      // nested rename (the round-19 verdict's done-criterion)
      val pruned = SnapshotTable.readPruned(spark, root,
        lit(10L), lit(60L))
      assert(pruned.filesRead < pruned.filesTotal)
      assert(pruned.df.where(col("k") === 42L)
        .select("meta.language").first().getString(0) === "L42")
      // time travel serves the OLD leaf name from v1's own schema
      assert(SnapshotTable.readVersion(spark, root, v1)
        .select("meta.lang").where(col("meta.lang") === "L7")
        .count() === 1)
      // a MERGE after the rename writes the physical leaf correctly
      // and reads back logically
      val batch = Seq((42L, "NEW", 0.0)).toDF("k", "language", "score")
        .select(col("k"),
          struct(col("language"), col("score")).as("meta"))
      SnapshotTable.commitMerge(spark, root, batch, "k",
        retain = 8)((_, b) => b)
      assert(SnapshotTable.read(spark, root).get
        .where(col("k") === 42L).select("meta.language")
        .first().getString(0) === "NEW")

      // DROP the leaf, re-ADD the same name: fresh physical — the old
      // bytes must NOT resurface
      spark.sql(s"ALTER TABLE $tbl DROP COLUMN meta.score")
      assert(SnapshotTable.read(spark, root).get.schema("meta")
        .dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSeq === Seq("language"))
      spark.sql(s"ALTER TABLE $tbl ADD COLUMN meta.score DOUBLE")
      val readded = SnapshotTable.read(spark, root).get
        .select(col("k"), col("meta.score").as("score"))
      assert(readded.where(col("score").isNotNull).count() === 0,
        "re-added leaf must serve NULL, never the dropped bytes")
      assert(segDirs(root).size === segsBefore.size + 1,
        "only the merge wrote a segment — every DDL was metadata-only")
    }
  }

  test("ARRAY/MAP-ELEMENT nested DDL (round 20): leaves inside " +
      "array<struct> rename/add/drop metadata-only via the virtual " +
      "'.element' segment — data intact, time travel serves the old " +
      "names, dropped element physicals never resurface") {
    withRoot { root =>
      import spark.implicits._
      val df = Seq(
        (1L, Seq((10L, "a"), (11L, "b"))),
        (2L, Seq((20L, "c"))))
        .toDF("k", "items")
        .selectExpr("k",
          "transform(items, x -> named_struct('price', x._1, " +
            "'tag', x._2)) AS items")
      SnapshotTable.commitAppend(spark, root, df, retain = 6)
      val v1 = SnapshotTable.latestVersion(spark, root).get
      val segsBefore = segDirs(root)

      // rename a leaf inside the array elements
      SnapshotTable.renameColumn(spark, root, "items.element.price",
        "cost", retain = 6)
      assert(segDirs(root) === segsBefore,
        "element rename must not write data")
      val cur = SnapshotTable.read(spark, root).get
      assert(cur.selectExpr("k", "items[0].cost AS c0")
        .orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq === Seq((1L, 10L), (2L, 20L)))
      // time travel serves v1's own element names
      assert(SnapshotTable.readVersion(spark, root, v1)
        .selectExpr("items[0].price").count() === 2)

      // add + drop inside the elements, also metadata-only
      SnapshotTable.addColumn(spark, root, "items.element.note",
        org.apache.spark.sql.types.StringType, retain = 6)
      // the enclosing struct's type changed, but no stats column did:
      // under the checkpoint interval the commit is a delta
      assert(latestShape(root) === "_parent", "nested ADD COLUMN")
      val withNote = SnapshotTable.read(spark, root).get
      assert(withNote.selectExpr("items[0].note").collect()
        .forall(_.isNullAt(0)),
        "existing element rows must serve NULL for the added leaf")
      SnapshotTable.dropColumn(spark, root, "items.element.tag",
        retain = 6)
      assert(latestShape(root) === "_parent", "nested DROP COLUMN")
      val dropped = SnapshotTable.read(spark, root).get
      val elemFields = dropped.schema("items").dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.toSeq
      assert(!elemFields.contains("tag") && elemFields.contains("cost"))
      assert(segDirs(root) === segsBefore)

      // a NEW append under the evolved schema round-trips: the write
      // side renames element leaves to physical names positionally
      val add = Seq((3L, Seq((30L, "late"))))
        .toDF("k", "items")
        .selectExpr("k",
          "transform(items, x -> named_struct('cost', x._1, " +
            "'note', x._2)) AS items")
      SnapshotTable.commitAppend(spark, root, add, retain = 6)
      val fin = SnapshotTable.read(spark, root).get
      assert(fin.selectExpr("k", "items[0].cost AS c",
        "items[0].note AS n").orderBy("k").collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.getString(2)).getOrElse(""))).toSeq
        === Seq((1L, 10L, ""), (2L, 20L, ""), (3L, 30L, "late")))

      // re-adding a dropped element leaf gets a FRESH physical: old
      // 'tag' bytes must never resurface
      SnapshotTable.addColumn(spark, root, "items.element.tag",
        org.apache.spark.sql.types.StringType, retain = 6)
      assert(SnapshotTable.read(spark, root).get
        .selectExpr("items[0].tag").collect().forall(_.isNullAt(0)),
        "re-added element leaf must not read the dropped bytes")

      // SQL surface: ALTER TABLE ... RENAME COLUMN items.element.cost
      spark.conf.set("spark.sql.catalog.graft_ae",
        "graft.dsv2.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft_ae.warehouse",
        new java.io.File(root).getParent)
      val tbl = new java.io.File(root).getName
      spark.sql(s"ALTER TABLE graft_ae.`$tbl` RENAME COLUMN " +
        "items.element.cost TO amount")
      assert(spark.table(s"graft_ae.`$tbl`")
        .selectExpr("items[0].amount").count() === 3)
    }
  }

  test("TYPE WIDENING (round 20): ALTER COLUMN TYPE int->long / " +
      "float->double is metadata-only — zero data files move, the " +
      "widened type serves from old parquet, time travel keeps the " +
      "old type, stats pruning survives, lossy changes refuse") {
    withRoot { root =>
      import spark.implicits._
      SnapshotTable.commitWithStats(spark, root, "k", retain = 6)(_ =>
        (1 to 400).map(k => (k, k.toFloat / 2f, s"v$k"))
          .toDF("k", "f", "v")
          .repartitionByRange(8, col("k")))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      assert(SnapshotTable.read(spark, root).get.schema("k").dataType
        === org.apache.spark.sql.types.IntegerType)
      val segsBefore = segDirs(root)

      SnapshotTable.widenColumn(spark, root, "k",
        org.apache.spark.sql.types.LongType, retain = 6)
      // a widening forces a checkpoint with the column's stats retyped
      assert(latestShape(root) === "_files")
      assert(SnapshotTable.statsManifest(spark, root,
        SnapshotTable.latestVersion(spark, root).get).schema("min__k")
        .dataType === org.apache.spark.sql.types.LongType)
      SnapshotTable.widenColumn(spark, root, "f",
        org.apache.spark.sql.types.DoubleType, retain = 6)
      assert(segDirs(root) === segsBefore,
        "widening must not write data files")

      // the widened schema serves the SAME values from old parquet
      val cur = SnapshotTable.read(spark, root).get
      assert(cur.schema("k").dataType
        === org.apache.spark.sql.types.LongType)
      assert(cur.schema("f").dataType
        === org.apache.spark.sql.types.DoubleType)
      assert(cur.agg(sum("k")).first().getLong(0) === 80200L)
      assert(cur.where(col("k") === 42L).select("v").first()
        .getString(0) === "v42")

      // time travel serves v1's own (narrow) type
      assert(SnapshotTable.readVersion(spark, root, v1)
        .schema("k").dataType
        === org.apache.spark.sql.types.IntegerType)

      // stats pruning still bites on the widened column, and a fresh
      // append (recording LONG-typed stats) keeps the manifest chain
      // consistent
      SnapshotTable.commitAppend(spark, root,
        (401 to 450).map(k => (k.toLong, k.toDouble / 2d, s"v$k"))
          .toDF("k", "f", "v"), retain = 6)
      val v3 = SnapshotTable.latestVersion(spark, root).get
      val (kept, total) = SnapshotTable.pruneFilesFor(spark, root, v3,
        boxes = Seq(("k", Some(10L), Some(60L))), inProbes = Nil)
      assert(kept.size < total,
        s"stats pruning must survive the widen: kept ${kept.size}/$total")
      assert(SnapshotTable.read(spark, root).get.count() === 450)

      // the DSv2 door serves the widened schema too
      val door = spark.read.format("graft").load(root)
      assert(door.schema("k").dataType
        === org.apache.spark.sql.types.LongType)
      assert(door.where(col("k") === 442L).count() === 1)

      // lossy or nonsensical changes refuse loudly
      intercept[IllegalArgumentException] {
        SnapshotTable.widenColumn(spark, root, "v",
          org.apache.spark.sql.types.LongType, retain = 6)
      }
      intercept[IllegalArgumentException] {
        SnapshotTable.widenColumn(spark, root, "k",
          org.apache.spark.sql.types.IntegerType, retain = 6)
      }
    }
  }

  test("widening a BLOOM-indexed column nulls its bitsets: the old " +
      "hashes were computed under the narrow type, so a post-widen " +
      "point probe must keep files conservatively rather than " +
      "silently skip matching rows") {
    withRoot { root =>
      import spark.implicits._
      SnapshotTable.commitWithSkipping(spark, root, Seq("k"), Seq("k"),
        bloomBits = 4096, retain = 6)(_ =>
        (1 to 400).map(k => (k, s"v$k")).toDF("k", "v")
          .repartitionByRange(8, col("k")))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      // pre-widen: the bloom prunes a point probe
      val (k1, t1) = SnapshotTable.pruneFilesFor(spark, root, v1,
        boxes = Nil, inProbes = Seq(("k", Seq(42))))
      assert(k1.size < t1, "precondition: bloom pruning bites")
      SnapshotTable.widenColumn(spark, root, "k",
        org.apache.spark.sql.types.LongType, retain = 6)
      val v2 = SnapshotTable.latestVersion(spark, root).get
      // post-widen: probes hash the LONG value — stale int-hashed
      // bitsets are nulled, so the probe keeps every file (range
      // pruning still bites; here the probe is bloom-only)
      val (k2, _) = SnapshotTable.pruneFilesFor(spark, root, v2,
        boxes = Nil, inProbes = Seq(("k", Seq(42L))))
      // correctness first: the matching row is served regardless
      assert(SnapshotTable.read(spark, root).get
        .where(col("k") === 42L).count() === 1)
      assert(k2.map(_.split('/').last).toSet
        .contains(k1.map(_.split('/').last).head) || k2.size >= k1.size,
        "nulled blooms must never skip the file holding the match")
    }
  }

  test("type widening through SQL: ALTER TABLE … ALTER COLUMN … TYPE " +
      "BIGINT lands as one metadata commit via the catalog") {
    withRoot { wh =>
      import spark.implicits._
      spark.conf.set("spark.sql.catalog.graft_ty",
        "graft.dsv2.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft_ty.warehouse", wh)
      SnapshotTable.commitWithStats(spark, s"$wh/t", "k", retain = 6)(
        _ => (1 to 100).map(k => (k, s"v$k")).toDF("k", "v"))
      spark.sql("ALTER TABLE graft_ty.t ALTER COLUMN k TYPE BIGINT")
      val df = spark.table("graft_ty.t")
      assert(df.schema("k").dataType
        === org.apache.spark.sql.types.LongType)
      assert(df.agg(sum("k")).first().getLong(0) === 5050L)
    }
  }

  test("readChanges across a rename + COW-merge span resolves " +
      "pre-image files with the NEWER colmap: the renamed column's " +
      "pre-values come from the stable physical bytes, never NULL " +
      "(round-19 advice)") {
    withRoot { root =>
      SnapshotTable.commitWithStats(spark, root, "k", retain = 8)(_ =>
        img((1L to 8L).map(k => (k, s"v$k")): _*)
          .repartitionByRange(3, col("k")))
      val v1 = SnapshotTable.latestVersion(spark, root).get
      // rename the VALUE column, then a COPY-ON-WRITE merge: the
      // touched file is dropped from vTo, so its rows flow through the
      // pre-image file read (readSetAt), the path that used to resolve
      // with vFrom's colmap — where "label" does not exist and
      // identity-falls-back to a physical name the old files never
      // carried, nulling every pre-value and breaking the cohabitant
      // cancellation
      SnapshotTable.renameColumn(spark, root, "v", "label", retain = 8)
      SnapshotTable.commitMerge(spark, root,
        img(2L -> "B2").withColumnRenamed("v", "label"), "k",
        retain = 8)((_, b) => b)
      val v3 = SnapshotTable.latestVersion(spark, root).get
      val ch = SnapshotTable.readChanges(spark, root, v1, v3, "k")
        .select(col("_change_type"), col("k"), col("label"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getString(2))).toSet
      // exact classification: cohabitants of the rewritten file cancel
      // (their pre- and post-bytes agree), and the one merged key
      // carries its ORIGINAL value as the pre-image
      assert(ch === Set(("update_preimage", 2L, "v2"),
        ("update_postimage", 2L, "B2")))
    }
  }
}
