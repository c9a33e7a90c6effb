package graft

import java.nio.file.{Files, Paths}

import graft.ops._
import graft.synth.ClipSynth
import graft.table.{MetaStore, Pred}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Merge-on-read equality deletes: sequence-number semantics, read paths
  * (scan / pruned scan / publish / CDC), materialization by rewrites, and
  * GC integration. */
class DeleteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore(tag: String): MetaStore = {
    val dir = Files.createTempDirectory(s"graft-del-$tag").toString
    MetaStore.forClips(dir)
  }

  /** 60 deterministic clips in two appends (seqs 1 and 2). */
  private def seed(store: MetaStore): Unit = {
    Append.run(spark, store, ClipSynth.dataset(spark, 30, 2, maxDurMs = 40).toDF())
    Append.run(spark, store,
      ClipSynth.dataset(spark, 60, 2, maxDurMs = 40).toDF()
        .filter(col("clip_id") > ClipSynth.clipId(29)))
  }

  private def visibleIds(store: MetaStore): Set[String] =
    store.scanCurrent(spark).select("clip_id").as[String].collect().toSet

  test("equality delete hides rows; re-insert after delete is visible (seq rule)") {
    val store = freshStore("seq")
    seed(store)
    val all = visibleIds(store)
    assert(all.size == 60)

    val res = Deletes.deleteWhere(spark, store, Seq(Pred.EqualTo("codec", "ulaw")))
    assert(res.deleteRows > 0)
    val ulaw = (0L until 60L).filter(i => ClipSynth.codec(i) == "ulaw")
      .map(ClipSynth.clipId).toSet
    assert(visibleIds(store) == all -- ulaw)

    // re-insert two previously-deleted keys with new content: the delete's
    // seq is below the new files' seq, so they must be visible
    val back = ulaw.take(2).toSeq
    val reinserted = ClipSynth.dataset(spark, 60, 1, maxDurMs = 40).toDF()
      .filter(col("clip_id").isin(back: _*))
      .withColumn("transcript", concat(col("transcript"), lit(" v2")))
    Append.run(spark, store, reinserted)
    val now = visibleIds(store)
    assert(back.forall(now.contains), "re-inserted keys must be visible")
    assert((ulaw -- back).forall(!now.contains(_)), "other deleted keys stay hidden")
    val v2 = store.scanCurrent(spark)
      .filter(col("clip_id") === back.head)
      .select("transcript").as[String].collect()
    assert(v2.length == 1 && v2.head.endsWith(" v2"))
  }

  test("pruned scan equals scan+filter under live deletes") {
    val store = freshStore("prune")
    seed(store)
    Deletes.deleteWhere(spark, store, Seq(Pred.GtEq("dur_ms", 25)))
    val preds = Seq(Pred.Between("dur_ms", 10, 35))
    val pruned = store.scanCurrentPruned(spark, preds).df
      .select("clip_id").as[String].collect().sorted
    val full = store.scanCurrent(spark).filter(Pred.and(preds))
      .select("clip_id").as[String].collect().sorted
    assert(pruned.sameElements(full))
  }

  test("compaction materializes deletes; scan equality holds; CDC stays silent") {
    val store = freshStore("compact")
    seed(store)
    val res = Deletes.deleteWhere(spark, store, Seq(Pred.EqualTo("codec", "pcm8")))
    assert(res.deleteRows > 0, "the delete must match rows")
    val preCompact = store.currentSnapshotId.get
    val expect = visibleIds(store)

    val c = Compact.run(spark, store, targetBytes = 512L * 1024, singleJob = true)
    assert(visibleIds(store) == expect, "post-compact scan must equal pre-compact")

    // rewritten files are born clean: raw-read every file with the new seq
    val newFiles = store.entries(c.snapshotId).filter(_.seq == c.snapshotId)
    if (newFiles.nonEmpty) {
      val raw = spark.read.parquet(newFiles.map(_.path): _*)
        .filter(col("codec") === "pcm8").count()
      assert(raw == 0, "materialized files must not contain deleted rows")
    }
    // compaction after a delete is still CDC-invisible
    val cdc = Changes.rowChanges(spark, store, preCompact, c.snapshotId)
    assert(cdc.isEmpty, "compaction must be invisible to CDC even when it materializes deletes")
  }

  test("full cluster rewrite makes deletes inert; expireInert drops them") {
    val store = freshStore("inert")
    seed(store)
    Deletes.deleteWhere(spark, store, Seq(Pred.EqualTo("codec", "ulaw")))
    val expect = visibleIds(store)
    assert(store.deleteEntries(store.currentSnapshotId.get).nonEmpty)

    Cluster.run(spark, store, targetBytes = 512L * 1024)
    val (snapAfter, dropped) = Deletes.expireInert(store)
    assert(dropped == 1)
    assert(store.deleteEntries(snapAfter).isEmpty)
    assert(visibleIds(store) == expect)
    // nothing inert left -> no-op, no new snapshot
    assert(Deletes.expireInert(store) == (snapAfter, 0))
  }

  test("merge-on-read delete scans identically to copy-on-write MERGE delete") {
    val mor = freshStore("mor")
    val cow = freshStore("cow")
    seed(mor); seed(cow)
    val keys = (0L until 60L).filter(i => ClipSynth.durMs(i) % 3 == 0)
      .map(ClipSynth.clipId)
    val keyDf = keys.toDF("clip_id")

    Deletes.run(spark, mor, keyDf)
    MergeInto.run(spark, cow, updates = cow.scanCurrent(spark).limit(0),
      deleteKeys = Some(keyDf))

    val a = mor.scanCurrent(spark).select("clip_id", "codec", "dur_ms", "transcript")
      .as[(String, String, Int, String)].collect().sorted
    val b = cow.scanCurrent(spark).select("clip_id", "codec", "dur_ms", "transcript")
      .as[(String, String, Int, String)].collect().sorted
    assert(a.sameElements(b))
  }

  test("rollback across a delete restores and re-hides rows") {
    val store = freshStore("rollback")
    seed(store)
    val preDelete = store.currentSnapshotId.get
    Deletes.deleteWhere(spark, store, Seq(Pred.EqualTo("codec", "ulaw")))
    val postDelete = store.currentSnapshotId.get
    val hidden = visibleIds(store)

    Refs.rollback(store, preDelete)
    assert(visibleIds(store).size == 60, "rollback before the delete restores rows")
    Refs.rollback(store, postDelete)
    assert(visibleIds(store) == hidden, "rollback onto the delete re-hides rows")
  }

  test("statsAggregate refuses under live deletes, works again after materialize") {
    val store = freshStore("stats")
    seed(store)
    val (rows0, _, _) = store.statsAggregate(store.currentSnapshotId.get, "dur_ms")
    assert(rows0 == 60)
    Deletes.deleteWhere(spark, store, Seq(Pred.EqualTo("codec", "ulaw")))
    val snap = store.currentSnapshotId.get
    val e = intercept[IllegalArgumentException](store.statsAggregate(snap, "dur_ms"))
    assert(e.getMessage.contains("live equality deletes"))
    val m = Deletes.materialize(spark, store)
    val (rows1, _, _) = store.statsAggregate(m.snapshotId, "dur_ms")
    assert(rows1 == store.scanCurrent(spark).count(),
      "after materialize the manifest fold is exact again")
  }

  test("CDC classifies merge-on-read deletes as delete rows") {
    val store = freshStore("cdc")
    seed(store)
    val from = store.currentSnapshotId.get
    Deletes.deleteWhere(spark, store, Seq(Pred.EqualTo("codec", "ulaw")))
    val to = store.currentSnapshotId.get
    val ulaw = (0L until 60L).filter(i => ClipSynth.codec(i) == "ulaw")
      .map(ClipSynth.clipId).toSet

    val rows = Changes.rowChanges(spark, store, from, to)
      .as[(String, String)].collect()
    assert(rows.forall(_._2 == "delete"))
    assert(rows.map(_._1).toSet == ulaw)
  }

  test("GC: orphan scan keeps delete files; expiry collects them once unreachable") {
    val store = freshStore("gc")
    seed(store)
    Deletes.deleteWhere(spark, store, Seq(Pred.EqualTo("codec", "ulaw")))
    val delPaths = store.deleteEntries(store.currentSnapshotId.get).map(_.path)
    assert(delPaths.nonEmpty && delPaths.forall(p => Files.exists(Paths.get(p))))

    // referenced delete files are GC roots even with a zero age floor
    RemoveOrphans.run(store, minAgeMs = 0L)
    assert(delPaths.forall(p => Files.exists(Paths.get(p))))
    val expect = visibleIds(store)

    // full rewrite + inert expiry, then snapshot expiry: the delete file is
    // referenced only by expired snapshots -> collected
    Cluster.run(spark, store, targetBytes = 512L * 1024)
    Deletes.expireInert(store)
    ExpireSnapshots.run(store, keepLast = 1)
    assert(delPaths.forall(p => !Files.exists(Paths.get(p))),
      "delete parquet must be GC'd once no retained snapshot references it")
    assert(visibleIds(store) == expect)
  }

  test("publish materializes live deletes instead of raw-copying them") {
    val store = freshStore("publish")
    seed(store)
    Deletes.deleteWhere(spark, store, Seq(Pred.EqualTo("codec", "ulaw")))
    val dest = Files.createTempDirectory("graft-del-pub").toString
    val res = Publish.run(store, store.currentSnapshotId.get, dest, Some(spark))
    val exported = spark.read.parquet(dest)
    assert(exported.filter(col("codec") === "ulaw").count() == 0)
    assert(res.rows == exported.count())
    assert(visibleIds(store) == exported.select("clip_id").as[String].collect().toSet)
  }

  test("partition-drop fast path: DELETE WHERE codec = X is metadata-only") {
    val store = freshStore("pdrop")
    store.setPartitionSpec(graft.table.PartitionSpec(Seq(
      graft.table.Partitioning.identity("codec"))))
    Append.run(spark, store, ClipSynth.dataset(spark, 200, 4, maxDurMs = 60).toDF())
    val all = visibleIds(store)
    val ulaw = (0L until 200L).filter(i => ClipSynth.codec(i) == "ulaw")
      .map(ClipSynth.clipId).toSet

    val res = Deletes.deleteWhere(spark, store, Seq(Pred.EqualTo("codec", "ulaw")))
    // every ulaw file was provably covered by its tuple: zero delete files
    assert(res.filesDropped > 0 && res.rowsDropped == ulaw.size.toLong,
      s"res=$res")
    assert(res.deleteFiles == 0 && res.deleteRows == 0, s"res=$res")
    assert(store.deleteEntries(store.currentSnapshotId.get).isEmpty,
      "no merge-on-read baggage for a fully covered delete")
    assert(visibleIds(store) == all -- ulaw)
    // time travel still sees the dropped rows (files live until expiry)
    assert(store.scan(spark, res.snapshotId - 1).count() == 200)
    // re-insert of a dropped key is trivially visible (no delete file)
    val back = ulaw.head
    Append.run(spark, store, Seq(ClipSynth.clip(back.stripPrefix("clip_").toLong,
      maxDurMs = 60)).toDS().toDF())
    assert(visibleIds(store).contains(back))
  }

  test("mixed coverage: drops covered files, equality-deletes the residue, one commit") {
    val store = freshStore("pmixed")
    // unpartitioned, but CLUSTERED on dur_ms so some files are fully inside
    // the predicate range (zonemap mustMatchAll) and boundary files are not
    Append.run(spark, store, ClipSynth.dataset(spark, 600, 8, maxDurMs = 500).toDF())
    Cluster.run(spark, store, ZOrderCurve, targetBytes = 96L * 1024,
      runId = "pmixed-cluster", hashCols = Seq.empty, rangeCols = Seq("dur_ms"))
    val snapsBefore = store.allSnapshotIds.size
    val expectSurvivors = store.scanCurrent(spark)
      .filter(!col("dur_ms").between(80, 400))
      .select("clip_id").as[String].collect().toSet

    val res = Deletes.deleteWhere(spark, store,
      Seq(Pred.Between("dur_ms", 80L, 400L)))
    assert(res.filesDropped > 0, s"no file fully covered: $res")
    assert(res.deleteRows > 0, s"no boundary residue: $res")
    assert(store.allSnapshotIds.size == snapsBefore + 1, "must be ONE commit")
    assert(visibleIds(store) == expectSurvivors)
    // summary carries both tiers
    val sum = store.currentSnapshot.get.summary
    assert(sum("filesDropped").toInt == res.filesDropped)
    assert(sum("deleteRows").toLong == res.deleteRows)
  }

  test("position delete hides exactly the named rows; re-insert is never masked") {
    val store = freshStore("pos")
    seed(store)
    val snapId = store.currentSnapshotId.get
    val all = visibleIds(store)

    // name the first two physical rows of one data file
    val target = store.entries(snapId).head
    val doomed = spark.read.parquet(target.path)
      .limit(2).select("clip_id").as[String].collect().toSet
    val positions = Seq((target.path, 0L), (target.path, 1L)).toDF("file_path", "pos")
    val res = Deletes.runPositional(spark, store, positions, expectedSnapshot = snapId)
    assert(res.deleteRows == 2)
    assert(visibleIds(store) == all -- doomed)
    // remaining rows of the SAME file survive (path+pos precision, not path)
    assert(store.scanCurrent(spark).count() == 60 - 2)

    // re-insert one deleted key: a position delete can never mask the new
    // physical row (different file), unlike an equality delete's key rule
    val back = doomed.head
    Append.run(spark, store, Seq(ClipSynth.clip(back.stripPrefix("clip_").toLong,
      maxDurMs = 40)).toDS().toDF())
    assert(visibleIds(store).contains(back))

    // stale resolution is refused: the CAS fails rather than committing
    // positions planned against a snapshot that has moved on
    intercept[graft.table.ConcurrentCommitException] {
      Deletes.runPositional(spark, store,
        Seq((target.path, 2L)).toDF("file_path", "pos"), expectedSnapshot = snapId)
    }

    // a path not live in the expected snapshot is refused up front
    // (a silent no-op mask otherwise)
    val bogus = intercept[IllegalArgumentException] {
      Deletes.runPositional(spark, store,
        Seq((target.path + ".gone", 0L)).toDF("file_path", "pos"),
        expectedSnapshot = store.currentSnapshotId.get)
    }
    assert(bogus.getMessage.contains("not live"))
  }

  test("deleteWhere(positional): predicate residue lands as a position delete") {
    val store = freshStore("poswhere")
    seed(store)
    val expectGone = store.scanCurrent(spark)
      .filter(col("codec") === "ulaw").select("clip_id").as[String].collect().toSet
    val res = Deletes.deleteWhere(spark, store,
      Seq(Pred.EqualTo("codec", "ulaw")), positional = true)
    assert(res.deleteRows == expectGone.size.toLong)
    val dels = store.deleteEntries(store.currentSnapshotId.get)
    assert(dels.size == 1 && Deletes.isPositional(dels.head) &&
      spark.read.parquet(dels.head.path).columns.sorted.sameElements(
        Array("dv", "file_path")), "the residue is stored as deletion vectors")
    assert(visibleIds(store).intersect(expectGone).isEmpty)

    // pruned scan stays exact under live position deletes
    val preds = Seq(Pred.Between("dur_ms", 5, 35))
    val pruned = store.scanCurrentPruned(spark, preds).df
      .select("clip_id").as[String].collect().sorted
    val full = store.scanCurrent(spark).filter(Pred.and(preds))
      .select("clip_id").as[String].collect().sorted
    assert(pruned.sameElements(full))
  }

  test("mixed equality + position deletes apply together; materialize retires both") {
    val store = freshStore("posmix")
    seed(store)
    val snapId = store.currentSnapshotId.get
    // equality-delete the ulaw codec rows, position-delete row 0 of one file
    Deletes.deleteWhere(spark, store, Seq(Pred.EqualTo("codec", "ulaw")))
    val target = store.entries(snapId).last
    val posVictim = spark.read.parquet(target.path)
      .limit(1).select("clip_id", "codec").as[(String, String)].collect().head
    Deletes.runPositional(spark, store,
      Seq((target.path, 0L)).toDF("file_path", "pos"),
      expectedSnapshot = store.currentSnapshotId.get)
    val ulaw = (0L until 60L).filter(i => ClipSynth.codec(i) == "ulaw")
      .map(ClipSynth.clipId).toSet
    val expect = (0L until 60L).map(ClipSynth.clipId).toSet -- ulaw -- (
      if (posVictim._2 == "ulaw") Set.empty[String] else Set(posVictim._1))
    assert(visibleIds(store) == expect)

    // materialize rewrites the position-named file, promotes/rewrites the
    // equality-covered rest, and retires EVERY delete file in one commit
    val m = Deletes.materialize(spark, store)
    assert(m.deletesRetired == 2)
    assert(store.deleteEntries(m.snapshotId).isEmpty)
    assert(visibleIds(store) == expect)
    // the position-named path is gone from the manifest (rewritten)
    assert(!store.entries(m.snapshotId).exists(_.path == target.path))
  }

  test("rewrite makes a position delete dead-path; materialize retires it exactly") {
    val store = freshStore("posdead")
    seed(store)
    val snapId = store.currentSnapshotId.get
    val target = store.entries(snapId).head
    Deletes.runPositional(spark, store,
      Seq((target.path, 0L)).toDF("file_path", "pos"), expectedSnapshot = snapId)
    val expect = visibleIds(store)

    // full rewrite: every named path dies, the delete is inert by path but
    // its seq is NOT below the rewritten files' seq floor for expireInert's
    // conservative rule... cluster stamps new seqs above it, so both rules
    // agree here; the interesting case is materialize's covered-empty branch
    Cluster.run(spark, store, targetBytes = 512L * 1024)
    assert(visibleIds(store) == expect, "rewrite materialized the position delete")
    val m = Deletes.materialize(spark, store)
    assert(m.filesRewritten == 0 && m.filesPromoted == 0 && m.deletesRetired == 1,
      s"dead-path position delete must retire metadata-only: $m")
    assert(store.deleteEntries(m.snapshotId).isEmpty)
    assert(visibleIds(store) == expect)
  }

  test("compactPositional merges position files into one and drops dead-path pairs") {
    val store = freshStore("poscompact")
    seed(store)
    // three position-delete commits -> three small delete files
    val files = store.entries(store.currentSnapshotId.get)
    files.take(3).foreach { f =>
      Deletes.runPositional(spark, store,
        Seq((f.path, 0L)).toDF("file_path", "pos"),
        expectedSnapshot = store.currentSnapshotId.get)
    }
    val expect = visibleIds(store)
    assert(store.deleteEntries(store.currentSnapshotId.get).size == 3)

    val (id1, merged1, dropped1) = Deletes.compactPositional(spark, store)
    assert(merged1 == 3 && dropped1 == 0, s"merge all, nothing dead yet: $merged1/$dropped1")
    val after1 = store.deleteEntries(id1)
    assert(after1.size == 1, "one merged position file")
    assert(visibleIds(store) == expect, "visibility unchanged by the merge")

    // compaction rewrites the named files -> every pair goes dead-path;
    // a second compactPositional drops them all (empty delete set)
    Compact.run(spark, store, targetBytes = 4L * 1024 * 1024)
    assert(visibleIds(store) == expect, "rewrite materialized the masks")
    val (id2, merged2, dropped2) = Deletes.compactPositional(spark, store)
    assert(merged2 == 1 && dropped2 == 3, s"dead pairs dropped: $merged2/$dropped2")
    assert(store.deleteEntries(id2).isEmpty, "no delete files left")
    assert(visibleIds(store) == expect)

    // fixed point: nothing to merge -> no commit
    val (id3, merged3, _) = Deletes.compactPositional(spark, store)
    assert(id3 == id2 && merged3 == 0, "no-op makes no commit")
  }

  test("deletion vectors: bitset round-trip at byte/word boundaries") {
    import graft.ops.DeleteVectors._
    val ps = Seq(0L, 1L, 7L, 8L, 63L, 64L, 65L, 511L, 513L)
    val dv = encode(ps)
    assert(expand(dv) == ps.sorted)
    assert(cardinality(dv) == ps.size)
    ps.foreach(p => assert(contains(dv, p), s"bit $p"))
    Seq(2L, 9L, 62L, 66L, 512L, 514L, 100000L).foreach(p =>
      assert(!contains(dv, p), s"bit $p must be clear"))
    assert(!contains(dv, -1L))
    assert(!contains(null, 3L), "null vector masks nothing")

    // a payload from the bitset-only encoder (rows 0, 1, 7, 8) decodes as is
    val written = Array[Byte](0x83.toByte, 0x01)
    assert(encode(Seq(8L, 0L, 7L, 1L)).sameElements(written))
    assert(expand(written) == Seq(0L, 1L, 7L, 8L) && cardinality(written) == 4)
    assert(contains(written, 7L) && !contains(written, 2L) && !contains(written, 9L))

    // past MaxPackPos the mask is stored as sorted runs, not a dense bitset
    val far = Seq(3L, 4L, 5L, MaxPackPos + 1, 1L << 40, (1L << 40) + 1)
    val runs = encode(far.reverse :+ 4L)
    assert(runs.length == 3 * 16 + 1, s"three runs: ${runs.length} bytes")
    assert(expand(runs) == far && cardinality(runs) == far.size)
    far.foreach(p => assert(contains(runs, p), s"run position $p"))
    Seq(-1L, 0L, 2L, 6L, MaxPackPos, MaxPackPos + 2, (1L << 40) - 1, (1L << 40) + 2)
      .foreach(p => assert(!contains(runs, p), s"run position $p must be clear"))
  }

  test("compactPositional folds vector files into one; visibility unchanged") {
    val store = freshStore("dv")
    seed(store)
    val files = store.entries(store.currentSnapshotId.get)
    // two delete commits over two different files
    files.take(2).foreach { f =>
      Deletes.runPositional(spark, store,
        Seq((f.path, 0L), (f.path, 2L)).toDF("file_path", "pos"),
        expectedSnapshot = store.currentSnapshotId.get)
    }
    val expect = visibleIds(store)
    val (id1, merged, dropped) = Deletes.compactPositional(spark, store)
    assert(merged == 2 && dropped == 0)
    val dels = store.deleteEntries(id1)
    assert(dels.size == 1 && Deletes.isPositional(dels.head),
      s"one merged vector file expected: $dels")
    assert(spark.read.parquet(dels.head.path).count() == 2,
      "one dv ROW per masked data file")
    assert(dels.head.rows == 4, "the entry counts the rows it masks")
    assert(visibleIds(store) == expect, "merging must not change visibility")
    // the merged vectors expand to exactly the original masks
    val pairs = Deletes.positionPairs(spark, dels)
      .as[(String, Long)].collect().toSet
    assert(pairs == files.take(2).flatMap(f =>
      Seq((f.path, 0L), (f.path, 2L))).toSet)

    // a second vector naming an already-masked file: both apply
    val f0 = files.head
    val victim = spark.read.parquet(f0.path)
      .select("clip_id").as[String].collect()(1)
    Deletes.runPositional(spark, store,
      Seq((f0.path, 1L)).toDF("file_path", "pos"),
      expectedSnapshot = store.currentSnapshotId.get)
    assert(visibleIds(store) == expect - victim, "two vectors on one file apply")

    // merging again folds both into one vector per data file
    val (id2, m2, _) = Deletes.compactPositional(spark, store)
    val dels2 = store.deleteEntries(id2)
    assert(m2 == 2 && dels2.size == 1 && dels2.head.rows == 5)
    assert(spark.read.parquet(dels2.head.path).count() == 2)
    assert(visibleIds(store) == expect - victim)

    // rewrites materialize vectors; dead vectors then retire
    Compact.run(spark, store, targetBytes = 4L * 1024 * 1024)
    assert(visibleIds(store) == expect - victim)
    val (id3, _, dropped3) = Deletes.compactPositional(spark, store)
    assert(dropped3 == 5 && store.deleteEntries(id3).isEmpty,
      "dead-path masks inside vectors are pruned")
  }

  test("legacy (file_path, pos) pair files apply, diff, merge and materialize like vectors") {
    val store = freshStore("legacy")
    seed(store)
    val base = store.currentSnapshotId.get
    val files = store.entries(base)
    val pairMasks = Seq((files(0).path, 0L), (files(0).path, 2L)).toDF("file_path", "pos")
    val vecMasks = Seq((files(1).path, 1L)).toDF("file_path", "pos")
    def rows(): Seq[String] = store.scanCurrent(spark)
      .select("clip_id", "codec", "dur_ms", "transcript")
      .collect().map(_.mkString("|")).sorted.toSeq
    def cdc(to: Long): Set[(String, String)] =
      Changes.rowChanges(spark, store, base, to).as[(String, String)].collect().toSet

    // reference: both masks committed as vectors
    Deletes.runPositional(spark, store, pairMasks, expectedSnapshot = base)
    Deletes.runPositional(spark, store, vecMasks,
      expectedSnapshot = store.currentSnapshotId.get)
    val want = rows()
    val wantCdc = cdc(store.currentSnapshotId.get)
    assert(want.size == 60 - 3 && wantCdc.size == 3)

    // the same masks with the first one as a pair file, as tables written
    // before vectors were the only form hold them
    Refs.rollback(store, base)
    val dir = store.newDataDir("posdelete")
    pairMasks.coalesce(1).write.mode("overwrite").parquet(dir)
    val pairOnly =
      store.commitDelta("delete", Nil, addedDeletes = store.collectStats(spark, dir))
    Deletes.runPositional(spark, store, vecMasks,
      expectedSnapshot = store.currentSnapshotId.get)
    val mixed = store.currentSnapshotId.get
    assert(rows() == want, "pair and vector forms apply together")
    assert(cdc(mixed) == wantCdc)

    // compactPositional rewrites them as ONE vector file
    val (id, merged, dropped) = Deletes.compactPositional(spark, store)
    val dels = store.deleteEntries(id)
    assert(merged == 2 && dropped == 0 && dels.size == 1 && dels.head.rows == 3)
    assert(spark.read.parquet(dels.head.path).columns.sorted
      .sameElements(Array("dv", "file_path")))
    assert(rows() == want)

    // materialize reads the pair file like a vector
    Refs.rollback(store, mixed)
    val m = Deletes.materialize(spark, store)
    assert(m.deletesRetired == 2 && m.filesRewritten == 2)
    assert(store.deleteEntries(m.snapshotId).isEmpty && rows() == want)

    // a lone pair file is converted too, though nothing merges or prunes;
    // the converted table is then a fixed point
    Refs.rollback(store, pairOnly)
    val (id1, m1, _) = Deletes.compactPositional(spark, store)
    val dels1 = store.deleteEntries(id1)
    assert(m1 == 1 && dels1.size == 1 && dels1.head.rows == 2)
    assert(spark.read.parquet(dels1.head.path).columns.sorted
      .sameElements(Array("dv", "file_path")))
    assert(Deletes.compactPositional(spark, store) == ((id1, 0, 0L)))
  }

  test("CDC resolves deletion-vector masks back to keys") {
    val store = freshStore("dvcdc")
    seed(store)
    val from = store.currentSnapshotId.get
    val target = store.entries(from).head
    val victims = spark.read.parquet(target.path)
      .limit(2).select("clip_id").as[String].collect().toSet
    Deletes.runPositional(spark, store,
      Seq((target.path, 0L), (target.path, 1L)).toDF("file_path", "pos"),
      expectedSnapshot = from)
    Deletes.compactPositional(spark, store)
    val to = store.currentSnapshotId.get
    val rows = Changes.rowChanges(spark, store, from, to)
      .as[(String, String)].collect().toMap
    assert(rows == victims.map(_ -> "delete").toMap,
      s"dv-masked keys must emit delete rows: $rows")
  }

  test("CDC classifies position deletes: delete rows, and re-insert as update") {
    val store = freshStore("poscdc")
    seed(store)
    val from = store.currentSnapshotId.get
    val target = store.entries(from).head
    val victims = spark.read.parquet(target.path)
      .limit(3).select("clip_id").as[String].collect().toSet
    Deletes.runPositional(spark, store,
      Seq((target.path, 0L), (target.path, 1L), (target.path, 2L))
        .toDF("file_path", "pos"),
      expectedSnapshot = from)
    // re-insert ONE of the deleted keys with new content -> net update
    val back = victims.head
    Append.run(spark, store, Seq(ClipSynth.clip(back.stripPrefix("clip_").toLong,
      maxDurMs = 40)).toDS().toDF()
      .withColumn("transcript", concat(col("transcript"), lit(" v2"))))
    val to = store.currentSnapshotId.get

    val rows = Changes.rowChanges(spark, store, from, to)
      .as[(String, String)].collect().toMap
    assert(rows(back) == "update", s"re-inserted key must be update: $rows")
    assert((victims - back).forall(k => rows.get(k).contains("delete")),
      s"position-deleted keys must emit delete rows: $rows")
    assert(rows.size == victims.size, s"no extra CDC rows: $rows")
  }

  test("null rows are never swept by a whole-file drop") {
    val store = freshStore("pnull")
    // a file whose dur_ms stats span [100,100] but contains a NULL row:
    // mustMatchAll must refuse (nullCount > 0), the null row survives
    val rows = Seq(("a", 100), ("b", 100)).toDF("clip_id", "dur_ms")
      .unionByName(Seq(("c", Option.empty[Int])).toDF("clip_id", "dur_ms"))
    Append.run(spark, store, rows.coalesce(1))
    val res = Deletes.deleteWhere(spark, store,
      Seq(Pred.EqualTo("dur_ms", 100)), keyCols = Seq("clip_id"))
    assert(res.filesDropped == 0, "file with nulls must not be dropped whole")
    assert(res.deleteRows == 2)
    assert(visibleIds(store) == Set("c"))
  }
}
