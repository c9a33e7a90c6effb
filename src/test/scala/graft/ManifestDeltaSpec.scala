package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.ops._
import graft.synth.ClipSynth
import graft.table.{MetaStore, Pred}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/** O(churn) delta commits: manifest reuse across snapshots, partial rewrite
  * on compaction, manifest re-sharding, and timestamp time travel. */
class ManifestDeltaSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore(tag: String): MetaStore =
    MetaStore.forClips(Files.createTempDirectory(s"graft-md-$tag").toString)

  private def batch(from: Long, until: Long) =
    ClipSynth.dataset(spark, until, 2, maxDurMs = 40).toDF()
      .filter(col("clip_id") >= ClipSynth.clipId(from) &&
        col("clip_id") < ClipSynth.clipId(until))

  test("append reuses every parent manifest; metadata-only ops reuse all") {
    val store = freshStore("reuse")
    Append.run(spark, store, batch(0, 20))
    val m1 = store.snapshot(1L).manifests
    Append.run(spark, store, batch(20, 40))
    val s2 = store.snapshot(2L)
    assert(m1.forall(s2.manifests.contains),
      "second append must reuse the first append's manifest by name")
    assert(s2.summary("manifestsReused") == "1")
    assert(store.scanCurrent(spark).count() == 40)

    // a delete and an evolution are metadata-only: ALL data manifests reused
    Deletes.deleteWhere(spark, store, Seq(Pred.EqualTo("codec", "pcm8")))
    assert(store.snapshot(3L).manifests == s2.manifests)
    Evolve.addColumn(spark, store, "md_score", "double", "0.5")
    assert(store.snapshot(4L).manifests == s2.manifests)
    // summary totals stayed exact through the delta chain
    assert(store.snapshot(4L).summary("rows").toLong == 40)
    assert(store.snapshot(4L).summary("files").toLong ==
      store.entries(4L).size)
  }

  test("compaction rewrites only manifests containing removed files") {
    val store = freshStore("partial")
    // batch 1: one file, large enough to be KEPT (its manifest must survive)
    Append.run(spark, store, batch(0, 30).coalesce(1))
    val keptManifest = store.snapshot(1L).manifests.head
    // batch 2: four small files -> compaction candidates
    Append.run(spark, store, batch(30, 50).repartition(4))
    val big = store.entries(1L).map(_.sizeBytes).max
    val c = Compact.run(spark, store, targetBytes = big, smallFileFrac = 0.9)
    val snap = store.snapshot(c.snapshotId)
    assert(snap.manifests.contains(keptManifest),
      "manifest with no removed file must be reused verbatim")
    assert(snap.summary("manifestsReused").toInt >= 1)
    assert(store.scanCurrent(spark).count() == 50)
    // rows preserved exactly across the partial rewrite
    assert(snap.summary("rows").toLong == 50)
  }

  test("compactManifests folds delta-commit manifests back into full shards") {
    val store = freshStore("fold")
    (0 until 5).foreach { i =>
      Append.run(spark, store, batch(i * 10L, i * 10L + 10L).coalesce(1))
    }
    val before = store.snapshot(store.currentSnapshotId.get).manifests.size
    assert(before == 5, s"expected 5 accumulated manifests, got $before")
    val rows = store.scanCurrent(spark).count()
    val (id, b, a) = store.compactManifests()
    assert(b == 5 && a == 1)
    assert(store.scanCurrent(spark).count() == rows)
    assert(store.entries(id).map(_.seq).forall(_ < id),
      "re-sharding is metadata-only: entries keep their original seqs")
  }

  test("snapshotAsOf picks the newest snapshot at or before the timestamp") {
    val store = freshStore("asof")
    Append.run(spark, store, batch(0, 10))
    val t1 = store.snapshot(1L).timestampMs
    Thread.sleep(5)
    Append.run(spark, store, batch(10, 25))
    val t2 = store.snapshot(2L).timestampMs
    assert(store.snapshotAsOf(t1) == 1L)
    if (t2 > t1) assert(store.snapshotAsOf(t2 - 1) == 1L)
    assert(store.snapshotAsOf(System.currentTimeMillis()) == 2L)
    assert(store.scanAsOf(spark, t1).count() == 10)
    assertThrows[RuntimeException](store.snapshotAsOf(t1 - 1000000))
  }

  test("layout overlap depth: cluster rewrite tightens zonemaps, metric sees it") {
    val store = freshStore("layout")
    // 8 random-layout files: every file spans most of the dur_ms space
    Append.run(spark, store,
      ClipSynth.dataset(spark, 400, 8, maxDurMs = 200).toDF().repartition(8))
    val before = graft.table.Layout.overlapDepth(
      store.entries(store.currentSnapshotId.get), "dur_ms")
    assert(before.avgDepth > 2.0, s"random layout should overlap, got $before")
    // range-cluster on dur_ms only (no hash dim): files become range-disjoint
    Cluster.run(spark, store, targetBytes = 64L * 1024,
      hashCols = Seq.empty, rangeCols = Seq("dur_ms", "sr_hz"))
    val after = graft.table.Layout.overlapDepth(
      store.entries(store.currentSnapshotId.get), "dur_ms")
    assert(after.files > 1, "cluster must produce multiple files for the metric")
    assert(after.avgDepth < before.avgDepth,
      s"cluster must reduce overlap: before=$before after=$after")
  }

  test("shared manifests survive expiry of the snapshots that created them") {
    val store = freshStore("share-gc")
    Append.run(spark, store, batch(0, 10))
    Append.run(spark, store, batch(10, 20))
    Append.run(spark, store, batch(20, 30))
    // expire all but current: snapshot 1's manifest is still referenced by
    // snapshot 3 (reuse chain) and must survive the name-set GC
    ExpireSnapshots.run(store, keepLast = 1)
    assert(store.scanCurrent(spark).count() == 30)
    assert(store.entries(store.currentSnapshotId.get).map(_.rows).sum == 30)
  }

  /** Relative paths of every regular file under `dir`. */
  private def fileSet(dir: Path): Set[String] =
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val w = Files.walk(dir)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => dir.relativize(p).toString).toSet
      finally w.close()
    }

  /** Copy a table directory, rewriting the absolute source dir recorded
   * in its metadata JSON (manifest paths, branch records, checkpoints) to
   * the copy's, so GC on the copy deletes the copy's files only. */
  private def cloneTable(src: String, tag: String): String = {
    val dst = Files.createTempDirectory(s"graft-md-$tag").toString
    val from = Paths.get(src)
    val w = Files.walk(from)
    try w.iterator().asScala.toList.foreach { p =>
      val q = Paths.get(dst).resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else if (p.getFileName.toString.endsWith(".json"))
        Files.write(q, new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
          .replace(src, dst).getBytes(StandardCharsets.UTF_8))
      else Files.copy(p, q)
    } finally w.close()
    dst
  }

  private def rowsOf(df: DataFrame): Seq[(String, Long)] =
    df.select(col("clip_id"), xxhash64(df.columns.map(col).toIndexedSeq: _*))
      .as[(String, Long)].collect().toSeq.sorted

  test("manifest-granular expiry deletes exactly the per-snapshot reachability " +
    "set on warm, cold and uncacheable handles") {
    val store = freshStore("eq-src")
    val src = store.tableDir
    Append.run(spark, store, batch(0, 30).coalesce(1))
    Append.run(spark, store, batch(30, 50).repartition(4))
    Append.run(spark, store, batch(50, 60).repartition(2))
    val big = store.entries(1L).map(_.sizeBytes).max
    Compact.run(spark, store, targetBytes = big, smallFileFrac = 0.9) // commitDelta partial rewrite
    store.compactManifests()
    Deletes.run(spark, store,
      Seq(ClipSynth.clipId(3), ClipSynth.clipId(33)).toDF("clip_id"))
    val delSnap = store.snapshot(store.currentSnapshotId.get)
    assert(delSnap.deleteManifests.nonEmpty)
    assert(delSnap.deleteManifests.forall(store.manifestPathSets.containsKey),
      "a delete manifest's path set is cached by the handle that wrote it")
    Refs.tag(store, "old", 2L)
    val live = Branches.create(store, "live", fromSnapshot = 3L)
    Append.run(spark, live, batch(100, 105))
    Append.run(spark, store, batch(60, 70).repartition(3))
    Deletes.run(spark, store, Seq(ClipSynth.clipId(40)).toDF("clip_id"))
    Compact.run(spark, store, targetBytes = big * 4, smallFileFrac = 0.9)
    Append.run(spark, store, batch(70, 80))

    val cold = MetaStore.forClips(cloneTable(src, "eq-cold"))
    val zero = MetaStore.forClips(cloneTable(src, "eq-zero"))
    zero.manifestPathSetBudget.set(0L)
    val dataBefore = fileSet(Paths.get(src, "data"))

    val res = ExpireSnapshots.run(cold, keepLast = 2)
    assert(res.expiredSnapshots.nonEmpty && res.retainedSnapshots.contains(2L) &&
      res.retainedSnapshots.contains(3L), res)
    // the old per-snapshot computation, on the still-unexpired source
    def paths(ids: Seq[Long]): Set[String] =
      ids.flatMap(id => store.entries(id) ++ store.deleteEntries(id)).map(_.path).toSet
    val pinned = live.allSnapshotIds
      .flatMap(id => live.entries(id) ++ live.deleteEntries(id)).map(_.path).toSet
    val oldWay = (paths(res.expiredSnapshots) -- paths(res.retainedSnapshots) -- pinned)
      .map(p => Paths.get(src, "data").relativize(Paths.get(p)).toString)
    assert(oldWay.nonEmpty, "the history must leave data files to collect")
    val expected = (res.retainedSnapshots.map(id => s"snap-$id" -> store.scan(spark, id)) ++
      Seq("tag" -> store.scan(spark, Refs.tags(store)("old")),
        "branch" -> live.scanCurrent(spark))).map { case (k, df) => k -> rowsOf(df) }

    val warmRes = ExpireSnapshots.run(store, keepLast = 2)
    val zeroRes = ExpireSnapshots.run(zero, keepLast = 2)
    assert(warmRes == res && zeroRes == res)
    assert(res.dataFilesDeleted == oldWay.size)
    assert(!cold.manifestPathSets.isEmpty, "a cold handle caches what it parses")
    assert(zero.manifestPathSets.isEmpty, "nothing is cacheable at budget 0")

    val survivors = Seq(store, cold, zero).map { s =>
      (fileSet(Paths.get(s.tableDir, "data")), fileSet(Paths.get(s.tableDir, "meta")))
    }
    assert(survivors.distinct.size == 1, "warm, cold and budget-0 GC keep the same files")
    assert((dataBefore -- survivors.head._1).filter(_.endsWith(".parquet")) == oldWay)
    Seq(store, cold, zero).foreach { s =>
      val got = (res.retainedSnapshots.map(id => s"snap-$id" -> s.scan(spark, id)) ++
        Seq("tag" -> s.scan(spark, Refs.tags(s)("old")),
          "branch" -> Branches.store(s, "live").scanCurrent(spark)))
        .map { case (k, df) => k -> rowsOf(df) }
      assert(got == expected, s"${s.tableDir}: rows changed by expiry")
    }
  }
}
