package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Artifacts

/** The cluster-safe artifact store (round-12): one configurable root
  * (`spark.graft.artifactRoot`) for every materialized shared artifact,
  * with a temp-then-rename publish. These tests pin the deployment
  * contract the round-11 review asked for: two sessions pointed at the
  * same shared root share ONE build; distinct content keys never
  * collide; the default (conf unset) keeps per-JVM semantics; the
  * raw-files builder refuses to publish a partial directory; rewrite
  * pruning works locally and is refused on shared roots. */
class ArtifactStoreSpec extends AnyFunSuite {
  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_artspec").toString

  private def sessionWithRoot(root: String) = {
    val s = TestSpark.spark.newSession()
    s.conf.set(Artifacts.RootConf, root)
    s
  }

  test("two sessions with the same shared root share one build") {
    val root = freshRoot()
    val a = sessionWithRoot(root)
    val b = sessionWithRoot(root)
    val before = Artifacts.buildsPerformed.get()
    val d1 = Artifacts.parquet(a, "spec", "k1")(
      a.range(5).toDF("id"))
    assert(d1.count() === 5)
    assert(Artifacts.buildsPerformed.get() === before + 1)
    // second session, same root + key: must read the published table,
    // never evaluate the by-name builder
    val d2 = Artifacts.parquet(b, "spec", "k1")(
      sys.error("builder must not run — artifact is published"))
    assert(d2.count() === 5)
    assert(Artifacts.buildsPerformed.get() === before + 1)
    // published layout is clean: the key dir with _SUCCESS, no
    // leftover .build-* temp siblings
    val fam = new java.io.File(root, "spec")
    assert(new java.io.File(fam, "k1/_SUCCESS").isFile)
    assert(fam.listFiles().map(_.getName).toSet === Set("k1"))
  }

  test("distinct keys and families do not collide") {
    val root = freshRoot()
    val s = sessionWithRoot(root)
    val d1 = Artifacts.parquet(s, "specA", "k")(s.range(3).toDF("id"))
    val d2 = Artifacts.parquet(s, "specB", "k")(s.range(7).toDF("id"))
    val d3 = Artifacts.parquet(s, "specA", "k2")(s.range(11).toDF("id"))
    assert(d1.count() === 3)
    assert(d2.count() === 7)
    assert(d3.count() === 11)
  }

  test("default root (conf unset) still materializes once per JVM") {
    val s = TestSpark.spark
    assert(!Artifacts.isShared(s))
    val key = s"default_${System.nanoTime()}"
    val before = Artifacts.buildsPerformed.get()
    Artifacts.parquet(s, "spec", key)(s.range(2).toDF("id")).count()
    Artifacts.parquet(s, "spec", key)(
      sys.error("must not rebuild")).count()
    assert(Artifacts.buildsPerformed.get() === before + 1)
    // and it landed under the per-JVM tmpdir root, which is a LOCAL dir
    // behind an explicit file: scheme (qualified so a cluster
    // fs.defaultFS=hdfs can never capture the default root)
    val root = Artifacts.root(s)
    assert(root.startsWith("file:"), root)
    assert(new java.io.File(new java.net.URI(root)).isDirectory, root)
  }

  test("files artifact refuses to publish on a count mismatch " +
      "(executors wrote where the driver can't see)") {
    val root = freshRoot()
    val s = sessionWithRoot(root)
    val key = s"bad_${System.nanoTime()}"
    val e = intercept[IllegalArgumentException] {
      Artifacts.files(s, "spec", key) { tmp =>
        val f = new java.io.File(tmp.toUri.getPath, "one.bin")
        val fos = new java.io.FileOutputStream(f)
        try fos.write(Array[Byte](1, 2, 3)) finally fos.close()
        2L // builder claims two files; only one is visible
      }
    }
    assert(e.getMessage.contains("expected 2"))
    // the failed build left NOTHING behind — no published dir, no
    // .build-* temp sibling (the crash path deletes its temp)
    val fam = new java.io.File(root, "spec")
    assert(!fam.exists() || fam.listFiles().isEmpty,
      Option(fam.listFiles()).map(_.mkString(",")).getOrElse(""))
    // and a retry builds cleanly
    val dir = Artifacts.parquet(s, "spec", key)(s.range(1).toDF("id"))
    assert(dir.count() === 1)
  }

  test("files artifact publishes when counts agree and the scan " +
      "reads the bytes back") {
    val root = freshRoot()
    val s = sessionWithRoot(root)
    val dir = Artifacts.files(s, "spec", "good") { tmp =>
      val base = tmp.toUri.getPath
      (0 until 4).foreach { i =>
        val fos = new java.io.FileOutputStream(
          new java.io.File(base, s"$i.bin"))
        try fos.write(s"payload$i".getBytes("UTF-8")) finally fos.close()
      }
      4L
    }
    val rows = s.read.format("binaryFile")
      .option("pathGlobFilter", "*.bin").load(dir)
    assert(rows.count() === 4)
  }

  test("deleteIf prunes under the default root, never under a " +
      "shared root") {
    val s = TestSpark.spark
    val key = s"prune_${System.nanoTime()}"
    Artifacts.parquet(s, "spec", key)(s.range(2).toDF("id")).count()
    assert(Artifacts.deleteIf(s, "spec", key)(true))
    // pruned: the next call rebuilds
    val before = Artifacts.buildsPerformed.get()
    Artifacts.parquet(s, "spec", key)(s.range(2).toDF("id")).count()
    assert(Artifacts.buildsPerformed.get() === before + 1)
    // condition=false never deletes
    assert(!Artifacts.deleteIf(s, "spec", key)(false))
    // shared root: refuse regardless of condition
    val sh = sessionWithRoot(freshRoot())
    Artifacts.parquet(sh, "spec", "keep")(sh.range(1).toDF("id")).count()
    assert(!Artifacts.deleteIf(sh, "spec", "keep")(true))
    assert(Artifacts.parquet(sh, "spec", "keep")(
      sys.error("must not rebuild")).count() === 1)
  }

  test("racing builders of the same key serialize to exactly one build") {
    val root = freshRoot()
    val s = sessionWithRoot(root)
    val before = Artifacts.buildsPerformed.get()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 4).map { _ =>
      new Thread(() =>
        try {
          val n = Artifacts.parquet(s, "spec", "race")(
            s.range(100).toDF("id")).count()
          assert(n === 100)
        } catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(errs.isEmpty, errs)
    assert(Artifacts.buildsPerformed.get() === before + 1)
    // and the published dir is the only thing on disk — losers left no
    // temp siblings
    assert(new java.io.File(root, "spec").listFiles()
      .map(_.getName).toSet === Set("race"))
  }

  test("a scheme-qualified root (file://) resolves through Hadoop FS " +
      "— the same branch an hdfs:// root takes") {
    val bare = freshRoot()
    val s = sessionWithRoot(s"file://$bare")
    val d = Artifacts.parquet(s, "spec", "schemed")(s.range(9).toDF("id"))
    assert(d.count() === 9)
    // published on the local disk behind the scheme, marker included
    assert(new java.io.File(bare, "spec/schemed/_SUCCESS").isFile)
    // reuse across a second session with the same schemed root
    val before = Artifacts.buildsPerformed.get()
    val s2 = sessionWithRoot(s"file://$bare")
    assert(Artifacts.parquet(s2, "spec", "schemed")(
      sys.error("must not rebuild")).count() === 9)
    assert(Artifacts.buildsPerformed.get() === before)
  }

  test("scratch dirs root under the configured shared root") {
    val root = freshRoot()
    val s = sessionWithRoot(root)
    val p = Artifacts.scratch(s, "probe")
    assert(p.startsWith(root), p)
  }

  test("Snapshot fingerprints scheme-qualified paths through Hadoop " +
      "FS, matching the local fast path byte for byte") {
    val d = TestSpark.sf
    val bare = graft.ops.Snapshot.of(Seq(s"$d/documents.parquet"))
    val viaFs = graft.ops.Snapshot.of(Seq(s"file://$d/documents.parquet"))
    assert(bare === viaFs)
    // and a rewrite-sensitive property survives the FS branch: a
    // different table fingerprints differently
    val other = graft.ops.Snapshot.of(Seq(s"file://$d/orders.parquet"))
    assert(other !== viaFs)
  }

  // ---- non-atomic-rename (object-store) publish races, exercised for
  // real through the copyfs: test FileSystem (round-12 verdict item 2)

  private def copyFsSession(bare: String) = {
    TestSpark.spark.sparkContext.hadoopConfiguration
      .set("fs.copyfs.impl", classOf[CopyRenameFileSystem].getName)
    sessionWithRoot(s"copyfs:$bare")
  }

  test("a reader racing a mid-copy publish never sees partial data " +
      "(marker-last over a lexicographic copy-rename)") {
    CopyFsControl.reset()
    val bare = freshRoot()
    val s = copyFsSession(bare)
    // the publish rename of THIS key copies file-by-file in
    // lexicographic order with 200 ms between files — the S3A window
    CopyFsControl.slowDirName = "torn"
    CopyFsControl.pauseMs = 200L
    try {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val builder = new Thread(() =>
      try Artifacts.parquet(s, "spec", "torn")(s.range(50).toDF("id"))
      catch { case t: Throwable => err.set(t) })
    builder.start()
    // the reader protocol, driven from the OUTSIDE view (plain java.io,
    // what another process on this store would see): gate on _SUCCESS,
    // and once the gate opens the data must be complete
    val dir = new java.io.File(bare, "spec/torn")
    val marker = new java.io.File(dir, "_SUCCESS")
    var sawTornWindow = false
    var readRows = -1L
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (readRows < 0 && System.nanoTime() < deadline) {
      if (dir.isDirectory && !marker.isFile) sawTornWindow = true
      if (marker.isFile)
        readRows = TestSpark.spark.read.parquet(dir.toString).count()
      else Thread.sleep(5)
    }
    builder.join(60000)
    assert(err.get() == null, String.valueOf(err.get()))
    // the half-published window genuinely existed (the dir was visible
    // without its marker while keys were still landing) …
    assert(sawTornWindow, "copy-rename never exposed a marker-less dir " +
      "— the race this test pins was not exercised")
    // … and the gated reader still saw only complete data
    assert(readRows === 50)
    // reset in finally: a failed assert must not leave the slow-copy
    // switches set for later suites sharing this JVM
    } finally CopyFsControl.reset()
  }

  test("losing the publish race waits for the winner OUTSIDE the " +
      "stripe lock, and converges on the winner's bytes") {
    CopyFsControl.reset()
    val bare = freshRoot()
    val s = copyFsSession(bare)
    // every rename onto this key's final dir reports failure — the
    // loser's view of a cross-JVM race
    CopyFsControl.failRenameDst = "lostkey"
    try {
    def stripe(k: String): Int = math.floorMod(
      Artifacts.dirFor(s, "spec", k).toString.hashCode, 1024)
    // a DIFFERENT key that hashes to the SAME of the 1024 lock
    // stripes: with the wait inside the monitor it could not build
    // until the loser's 120 s poll expired
    val other = (1 to 200000).map(i => s"other$i")
      .find(k => stripe(k) == stripe("lostkey"))
      .getOrElse(fail("no same-stripe key found"))
    val loserRows =
      new java.util.concurrent.atomic.AtomicLong(-1L)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val loser = new Thread(() =>
      try loserRows.set(Artifacts.parquet(s, "spec", "lostkey")(
        s.range(5).toDF("id")).count())
      catch { case t: Throwable => err.set(t) })
    loser.start()
    // wait until the loser's rename failed — it is now polling for the
    // winner's marker
    val dl = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!CopyFsControl.renameFailed.get && System.nanoTime() < dl)
      Thread.sleep(10)
    assert(CopyFsControl.renameFailed.get)
    // an unrelated same-stripe artifact builds to completion WHILE the
    // loser waits — the property the round-12 lock restructure bought
    assert(Artifacts.parquet(s, "spec", other)(
      s.range(3).toDF("id")).count() === 3)
    assert(loser.isAlive, "loser should still be waiting for the winner")
    // now the winner (another session, same shared root) publishes —
    // through the SAME stripe, which only works because the waiting
    // loser is not holding it
    CopyFsControl.failRenameDst = ""
    val winner = copyFsSession(bare)
    assert(Artifacts.parquet(winner, "spec", "lostkey")(
      winner.range(5).toDF("id")).count() === 5)
    // the loser unblocks on the winner's marker and reads its bytes
    loser.join(30000)
    assert(err.get() == null, String.valueOf(err.get()))
    assert(loserRows.get() === 5L)
    } finally CopyFsControl.reset()
  }

  test("a rename that NESTS into a half-published winner dir is a " +
      "lost race: the loser must wait for the winner's marker, never " +
      "mark the winner's partial data complete itself") {
    val bare = freshRoot()
    val s = sessionWithRoot(bare)
    // simulate a cross-JVM copy-rename winner mid-copy: the final dir
    // exists with one partial part file and NO _SUCCESS yet
    val dir = new java.io.File(bare, "spec/nestedkey")
    assert(dir.mkdirs())
    val partial = new java.io.File(dir, "part-00000-partial.parquet")
    java.nio.file.Files.write(partial.toPath, Array[Byte](1, 2, 3))
    val marker = new java.io.File(dir, "_SUCCESS")
    val before = Artifacts.buildsPerformed.get()
    val loserRows = new java.util.concurrent.atomic.AtomicLong(-1L)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    // the loser: builds its temp, renames — on a local/HDFS-semantics
    // store a rename onto an existing dir "succeeds" by NESTING the
    // temp inside it — and must then treat the nest as a lost publish
    val loser = new Thread(() =>
      try loserRows.set(Artifacts.parquet(s, "spec", "nestedkey")(
        s.range(7).toDF("id")).count())
      catch { case t: Throwable => err.set(t) })
    loser.start()
    // wait until the loser's build ran and its temp sibling is gone
    // (post-rename, post-nested-cleanup) — it is now in the wait loop.
    // buildsPerformed ticks BEFORE the build creates the temp, so the
    // temp only counts as gone once it has been seen
    val fam = new java.io.File(bare, "spec")
    val dl = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def tempGone = !fam.listFiles().exists(_.getName.contains(".build-"))
    var tempSeen = false
    while (!(tempSeen && tempGone) && System.nanoTime() < dl) {
      tempSeen ||= !tempGone
      Thread.sleep(10)
    }
    assert(tempSeen && tempGone)
    assert(Artifacts.buildsPerformed.get() > before)
    // THE defect the round-13 review flagged: the old loser created
    // _SUCCESS here, exposing the winner's partial part files to every
    // marker-gated reader. The fixed loser must still be waiting.
    Thread.sleep(300)
    assert(!marker.isFile,
      "loser marked a half-published winner dir complete")
    assert(loser.isAlive, "loser should be waiting for the winner")
    // nested junk from the loser's rename must have been removed
    assert(!dir.listFiles().exists(_.getName.contains(".build-")))
    // the winner finishes its copy: complete data lands, marker last
    // (Spark's committer writes _SUCCESS after the part files)
    s.range(7).toDF("id").write.mode("overwrite").parquet(dir.toString)
    loser.join(30000)
    assert(err.get() == null, String.valueOf(err.get()))
    assert(loserRows.get() === 7L)
  }

  test("an ABANDONED publish (marker-less dir past the orphan gate) " +
      "self-heals: the next builder deletes the corpse and publishes, " +
      "while a FRESH marker-less dir is still treated as a live winner") {
    val bare = freshRoot()
    val s = sessionWithRoot(bare)
    // a winner died between rename and marker: complete-looking bytes,
    // no _SUCCESS, mtime past the orphan gate
    val dir = new java.io.File(bare, "spec/abandoned")
    assert(dir.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(dir, "part-00000-dead.parquet").toPath,
      Array[Byte](9, 9, 9))
    assert(dir.setLastModified(
      System.currentTimeMillis() - Artifacts.orphanGateMs - 60000))
    // the next materialize must clear the corpse and publish its own
    val rows = Artifacts.parquet(s, "spec", "abandoned")(
      s.range(5).toDF("id")).count()
    assert(rows === 5L)
    assert(new java.io.File(dir, "_SUCCESS").isFile)
    assert(!new java.io.File(dir, "part-00000-dead.parquet").exists(),
      "the corpse's partial file survived the self-heal")
  }

  test("a FRESH corpse (winner died after our age-gate clock reset) " +
      "heals via the post-timeout progress check: no marker appeared " +
      "and the dir made no progress since our cleanup, so the loser " +
      "deletes it and its retry publishes") {
    val bare = freshRoot()
    val s = sessionWithRoot(bare)
    val dir = new java.io.File(bare, "spec/freshcorpse")
    assert(dir.mkdirs())
    java.nio.file.Files.write(
      new java.io.File(dir, "part-00000-dead.parquet").toPath,
      Array[Byte](7))
    // mtime NOW: the pre-build age gate must NOT fire (it would on an
    // aged corpse — previous test); only the timeout path can heal
    val savedWait = Artifacts.lostPublishWaitMs
    Artifacts.lostPublishWaitMs = 1500L
    try {
      val rows = Artifacts.parquet(s, "spec", "freshcorpse")(
        s.range(4).toDF("id")).count()
      assert(rows === 4L)
      assert(new java.io.File(dir, "_SUCCESS").isFile)
      assert(!new java.io.File(dir, "part-00000-dead.parquet").exists())
    } finally Artifacts.lostPublishWaitMs = savedWait
  }

  test("tradeGraph and the dedup cluster pipeline build under the " +
      "configured shared root") {
    val root = freshRoot()
    val s = sessionWithRoot(root)
    assert(graft.ops.Graph.tradeGraph(s, TestSpark.sf).count() > 0)
    assert(new java.io.File(root, "graph").listFiles()
      .exists(d => new java.io.File(d, "_SUCCESS").isFile))
    // a second shared-root session reuses the published edge table
    val before = Artifacts.buildsPerformed.get()
    val s2 = sessionWithRoot(root)
    assert(graft.ops.Graph.tradeGraph(s2, TestSpark.sf).count() > 0)
    assert(Artifacts.buildsPerformed.get() === before)
    // the dedup cluster pipeline (shingle index + cluster table) roots
    // at the same conf — the 100×-deployment path the round-11 review
    // flagged
    assert(SparkEntry.queries("llm_dedup_clusters")(s, TestSpark.sf)
      .count() > 0)
    for (fam <- Seq("clusters", "shidx"))
      assert(new java.io.File(root, fam).listFiles()
        .exists(d => new java.io.File(d, "_SUCCESS").isFile), fam)
    graft.ops.OpCache.release(s)
    s.catalog.clearCache()
  }

  test("createMarkerExclusive on a store refusing createNonRecursive " +
      "with UNRECOGNIZED wording: the capability probe learns the " +
      "truth and falls back — zero-contention publish succeeds, a " +
      "taken marker still conflicts") {
    val fs = new RefusingCreateFileSystem
    fs.initialize(java.net.URI.create("refusefs:///"),
      new org.apache.hadoop.conf.Configuration())
    val dir = freshRoot()
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_COMMITTED")
    // before the probe (round-15 advice) this threw a permanent
    // IllegalStateException conflict on a completely uncontended dir
    graft.ops.FsAtomic.createMarkerExclusive(fs, marker, "probe test")
    assert(new java.io.File(dir, "_COMMITTED").isFile)
    // no probe litter left next to the marker
    assert(!new java.io.File(dir).listFiles()
      .exists(_.getName.startsWith(".graft-cap-probe-")))
    // genuine contention stays loud through the fallback
    val taken = intercept[IllegalStateException] {
      graft.ops.FsAtomic.createMarkerExclusive(fs, marker, "probe test")
    }
    assert(taken.getMessage.contains("taken"))
    // a vanished parent stays loud too
    val gone = intercept[IllegalStateException] {
      graft.ops.FsAtomic.createMarkerExclusive(fs,
        new org.apache.hadoop.fs.Path(s"$dir/nope/_COMMITTED"),
        "probe test")
    }
    assert(gone.getMessage.contains("vanished"))
  }
}
