package graft

import java.nio.file.{Files, Paths}

import graft.ops.{Append, Compact, ExpireSnapshots, MergeInto, Refs, RefsFile}
import graft.synth.ClipSynth
import graft.table.{Json, MetaLog, MetaStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/**
 * Tags + rollback: a tag pins its snapshot (and files) through maintenance
 * and expiry; rollback restores an earlier file list as a new snapshot;
 * deleting the tag releases the files to GC.
 */
class RefsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  test("tag pins through expiry, rollback restores, delete-tag releases") {
    val dir = Files.createTempDirectory("graft-refs-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 60, 4, maxDurMs = 120).toDF())
    val v1 = store.currentSnapshotId.get
    Refs.tag(store, "dataset-v1")
    assert(Refs.snapshotFor(store, "dataset-v1") == v1)

    // maintenance moves CURRENT forward and rewrites files
    Compact.run(spark, store, targetBytes = 64L * 1024 * 1024, runId = "refs-compact")
    import spark.implicits._
    MergeInto.run(spark, store,
      store.scanCurrent(spark).filter(col("clip_id") === ClipSynth.clipId(0))
        .withColumn("transcript", lit("poisoned")),
      runId = "refs-merge")
    val poisoned = store.currentSnapshotId.get
    assert(store.scanCurrent(spark)
      .filter(col("transcript") === "poisoned").count() == 1)

    // expire everything but the latest + tag roots
    val r1 = ExpireSnapshots.run(store, keepLast = 1)
    assert(r1.retainedSnapshots.contains(v1), "tagged snapshot must survive")
    val tagged = Refs.scanTag(spark, store, "dataset-v1")
    assert(tagged.count() == 60, "tag still fully readable after expiry")
    assert(tagged.filter(col("transcript") === "poisoned").count() == 0)

    // rollback to the tag: bad merge disappears, history intact
    val rb = Refs.rollback(store, Refs.snapshotFor(store, "dataset-v1"))
    assert(store.currentSnapshotId.get == rb)
    assert(store.scanCurrent(spark).count() == 60)
    assert(store.scanCurrent(spark)
      .filter(col("transcript") === "poisoned").count() == 0)
    assert(store.allSnapshotIds.contains(poisoned), "rollback is non-destructive")

    // delete the tag -> the pinned snapshot becomes expirable
    Refs.deleteTag(store, "dataset-v1")
    val r2 = ExpireSnapshots.run(store, keepLast = 1)
    assert(!r2.retainedSnapshots.contains(poisoned))
    assert(store.scanCurrent(spark).count() == 60, "current survives GC")

    intercept[RuntimeException] { Refs.snapshotFor(store, "nope") }
    intercept[IllegalArgumentException] { Refs.rollback(store, 9999L) }
  }

  test("orphan GC deletes only old unreachable files, never committed data") {
    import graft.ops.RemoveOrphans
    val dir = Files.createTempDirectory("graft-orphan-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 30, 2, maxDurMs = 100).toDF())
    // simulate a crashed write: files landed, commit never happened
    val crashed = store.newDataDir("crashed")
    ClipSynth.dataset(spark, 10, 1, maxDurMs = 100).toDF()
      .write.mode("overwrite").parquet(crashed)
    val orphan = Files.list(java.nio.file.Paths.get(crashed)).iterator()
      .asScala.find(_.toString.endsWith(".parquet")).get

    // younger than the floor: untouched
    val r1 = RemoveOrphans.run(store, minAgeMs = 3600L * 1000)
    assert(r1.orphansDeleted == 0 && Files.exists(orphan))
    // age floor lifted: orphan goes, committed table intact
    val r2 = RemoveOrphans.run(store, minAgeMs = 0L)
    assert(r2.orphansDeleted >= 1 && !Files.exists(orphan))
    assert(r2.bytesFreed > 0)
    assert(store.scanCurrent(spark).count() == 30)
  }

  test("publish exports a tagged snapshot as standalone parquet") {
    import graft.ops.Publish
    val dir = Files.createTempDirectory("graft-pub-src-").toString
    val dest = Files.createTempDirectory("graft-pub-dst-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 40, 3, maxDurMs = 100).toDF())
    Refs.tag(store, "release-1")
    // maintenance after the tag must not affect the published export
    MergeInto.run(spark, store,
      store.scanCurrent(spark).limit(1).withColumn("transcript", lit("x")),
      runId = "pub-merge")
    val r = Publish.runTag(store, "release-1", dest)
    assert(r.rows == 40 && r.files == 3)
    // consumer side: plain spark.read.parquet, no library involved
    val out = spark.read.parquet(dest)
    assert(out.count() == 40)
    assert(out.filter(col("transcript") === "x").count() == 0,
      "post-tag maintenance must not leak into the export")
    assert(Files.exists(java.nio.file.Paths.get(dest, "_PUBLISHED.json")))
  }

  test("per-ref retention: an aged-out tag stops pinning, a permanent one never does") {
    val dir = Files.createTempDirectory("graft-refs-age-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 40, 2, maxDurMs = 120).toDF())
    val v1 = store.currentSnapshotId.get
    val v1Paths = store.entries(v1).map(_.path)
    Refs.tag(store, "nightly", maxRefAgeMs = 1L)       // aged out immediately
    Refs.tag(store, "release", maxRefAgeMs = 0L)       // permanent
    assert(Refs.retention(store).keySet == Set("nightly"))

    // a full rewrite leaves v1's files reachable only through the tags
    Compact.run(spark, store, targetBytes = 64L * 1024 * 1024, runId = "refs-age-compact")
    Thread.sleep(5)
    val r = ExpireSnapshots.run(store, keepLast = 1)
    assert(r.tagsExpired == Seq("nightly"), s"got $r")
    assert(Refs.tags(store).keySet == Set("release"))
    // the permanent tag still pins v1 and its files
    assert(r.retainedSnapshots.contains(v1))
    assert(v1Paths.forall(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))))
    assert(Refs.scanTag(spark, store, "release").count() == 40)

    // drop the permanent tag too: next expiry releases v1's files
    Refs.deleteTag(store, "release")
    val r2 = ExpireSnapshots.run(store, keepLast = 1)
    assert(!r2.retainedSnapshots.contains(v1))
    assert(v1Paths.forall(p => !java.nio.file.Files.exists(java.nio.file.Paths.get(p))),
      "untagged expired files must be GC'd")
    // re-tagging the same name fresh resets retention cleanly
    Refs.tag(store, "nightly", maxRefAgeMs = 3600L * 1000)
    assert(Refs.expireTags(store).isEmpty)

    // refs metadata table: the live tag with its retention, zero data IO
    val refs = Refs.refsTable(spark, store).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(4)))
    assert(refs.toSeq == Seq(
      ("nightly", "tag", store.currentSnapshotId.get, 3600L * 1000)),
      s"got ${refs.toSeq}")
  }

  test("re-tagging preserves retention by default; explicit 0 makes permanent") {
    val dir = Files.createTempDirectory("graft-refs-retag-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 20, 2, maxDurMs = 100).toDF())
    val v1 = store.currentSnapshotId.get
    Refs.tag(store, "nightly", maxRefAgeMs = 3600L * 1000)
    assert(Refs.retention(store).contains("nightly"))
    // re-point the nightly (the default sentinel): retention must SURVIVE —
    // dropping it silently converted a retained tag into a permanent GC root
    Append.run(spark, store, ClipSynth.dataset(spark, 5, 1, maxDurMs = 80).toDF())
    Refs.tag(store, "nightly")
    assert(Refs.retention(store).contains("nightly"),
      "default re-tag must keep the existing retention entry")
    assert(Refs.snapshotFor(store, "nightly") == store.currentSnapshotId.get)
    // explicit 0: the caller OPTS INTO permanence, entry removed
    Refs.tag(store, "nightly", maxRefAgeMs = 0L)
    assert(!Refs.retention(store).contains("nightly"))
    // a brand-new tag with the default sentinel is permanent (nothing to keep)
    Refs.tag(store, "fresh", v1)
    assert(!Refs.retention(store).contains("fresh"))
  }

  test("concurrent tag() RMWs never lose a tag (version-CAS serialized)") {
    val dir = Files.createTempDirectory("graft-refs-race-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 20, 2, maxDurMs = 100).toDF())
    val id = store.currentSnapshotId.get
    val n = 16
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until n).foreach { i =>
      pool.execute { () =>
        start.await()
        try {
          Refs.tag(store, s"t$i", id, maxRefAgeMs = 3600L * 1000)
          Refs.expireTags(store) // interleave expiry RMWs with the tag RMWs
        } catch { case t: Throwable => errs.add(t) }
      }
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS))
    assert(errs.isEmpty, s"racing refs mutations threw: ${errs.peek()}")
    // an unlocked read-modify-write loses tags under this interleaving
    assert(Refs.tags(store).keySet == (0 until n).map(i => s"t$i").toSet)
    assert(Refs.retention(store).keySet == (0 until n).map(i => s"t$i").toSet)
  }

  test("refs version-CAS: a conflicting commit between read and write " +
    "re-runs the RMW — neither update is lost") {
    val dir = Files.createTempDirectory("graft-refs-cas-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 4, 1, maxDurMs = 40).toDF())
    Refs.tag(store, "base") // migrates legacy/empty state to v1
    var calls = 0
    Refs.rmwRefs(store) { cur =>
      calls += 1
      if (calls == 1) {
        // a conflicting writer (any concurrent refs update — there is no
        // lock, the version claim is the only arbiter) lands AFTER our
        // read: it claims the next version, so OUR append must lose and
        // the body must re-run against the thief's state
        Refs.tag(store, "thief")
      }
      (Some(cur.copy(tags = cur.tags + ("mine" -> "1"))), ())
    }
    assert(calls == 2, s"lost CAS race did not re-run the RMW (calls=$calls)")
    val t = Refs.tags(store)
    assert(t.contains("thief") && t.contains("mine") && t.contains("base"),
      s"an update was lost: $t")
    // double-claim of one version: exactly one writer wins
    val log = new MetaLog(Paths.get(dir, "meta", "refs"), "v")
    val v = log.head.get
    val bytes = Json.mapper.writeValueAsBytes(RefsFile(t.map { case (k, id) => k -> id.toString }))
    assert(log.append(v, log.nonce(v), bytes))
    assert(!log.append(v, log.nonce(v), bytes), "second claim of one version won")
  }

  test("refs version-CAS: a writer stalled past the retire window re-runs " +
    "instead of claiming a retired version") {
    val dir = Files.createTempDirectory("graft-refs-ghost-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 4, 1, maxDurMs = 40).toDF())
    Refs.tag(store, "base")
    val others = (0 until 40).map(i => s"o$i")
    var calls = 0
    Refs.rmwRefs(store) { cur =>
      calls += 1
      // the stall: 40 commits land after our read, and retiring old
      // versions deletes the name our casWrite is about to claim
      if (calls == 1) others.foreach(Refs.tag(store, _))
      (Some(cur.copy(tags = cur.tags + ("mine" -> "1"))), ())
    }
    assert(calls == 2, s"a ghost claim of a retired version counted as a win")
    assert(Refs.tags(store).keySet == (others :+ "base" :+ "mine").toSet)
  }

  test("refs version-CAS: a win that sees 20 newer versions before its " +
    "writer returns runs its body exactly once") {
    val dir = Files.createTempDirectory("graft-refs-latewin-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 4, 1, maxDurMs = 40).toDF())
    Refs.tag(store, "base")
    // base is v1; 14 more tags put our win on v16, the newest version the
    // batch retire at v32 takes
    val before = (0 until 14).map(i => s"p$i")
    before.foreach(Refs.tag(store, _))
    val others = (0 until 20).map(i => s"o$i")
    val refsDir = java.nio.file.Paths.get(dir, "meta", "refs")
    var calls = 0
    var ours = -1L
    // right after our claim wins, 20 commits land on top of it (retiring
    // our own version) before our writer gets to run again
    graft.table.MetaLog.afterClaim.put(refsDir, v =>
      if (ours < 0) { ours = v; others.foreach(Refs.tag(store, _)) })
    try Refs.rmwRefs(store) { cur =>
      calls += 1
      (Some(cur.copy(tags = cur.tags + ("mine" -> "1"))), ())
    } finally graft.table.MetaLog.afterClaim.remove(refsDir)
    assert(ours == 16)
    assert(!Files.exists(new MetaLog(refsDir, "v").path(ours)),
      "our own version was not retired before our writer returned")
    assert(calls == 1, s"a real win was re-run as a ghost (calls=$calls)")
    assert(Refs.tags(store).keySet ==
      (before ++ others :+ "base" :+ "mine").toSet)
  }

  test("refs version-CAS: a writer stalled between its checks and its link " +
    "past the retire window re-runs instead of claiming a retired version") {
    val dir = Files.createTempDirectory("graft-refs-latelink-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 4, 1, maxDurMs = 40).toDF())
    Refs.tag(store, "base")
    val others = (0 until 40).map(i => s"o$i")
    val refsDir = Paths.get(dir, "meta", "refs")
    var calls = 0
    var landed = false
    // our checks pass; before our link, 40 commits land and retiring old
    // versions frees the name we are about to link
    MetaLog.beforeLink.put(refsDir, _ =>
      if (!landed) { landed = true; others.foreach(Refs.tag(store, _)) })
    try Refs.rmwRefs(store) { cur =>
      calls += 1
      (Some(cur.copy(tags = cur.tags + ("mine" -> "1"))), ())
    } finally MetaLog.beforeLink.remove(refsDir)
    assert(landed && calls == 2, s"a ghost link counted as a win (calls=$calls)")
    assert(Refs.tags(store).keySet == (others :+ "base" :+ "mine").toSet)
    assert(!Files.exists(new MetaLog(refsDir, "v").path(2L)), "the freed name was linked")
  }

  test("legacy refs.json: read as-is, migrated to v1 by the first " +
    "mutation, then tombstoned") {
    val dir = Files.createTempDirectory("graft-refs-legacy-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 4, 1, maxDurMs = 40).toDF())
    val id = store.currentSnapshotId.get
    val meta = java.nio.file.Paths.get(dir, "meta")
    // a table written before versioned refs: one refs.json, no meta/refs/
    Files.write(meta.resolve("refs.json"),
      s"""{"tags":{"old":"$id"}}""".getBytes("UTF-8"))
    assert(Refs.tags(store) == Map("old" -> id))

    Refs.tag(store, "new", id)
    assert(Files.exists(meta.resolve("refs").resolve("v1.json")))
    assert(Refs.tags(store) == Map("old" -> id, "new" -> id))
    // a reader that predates meta/refs/ must fail, not read stale tags
    val tomb = new String(Files.readAllBytes(meta.resolve("refs.json")), "UTF-8")
    intercept[Exception](graft.table.Json.mapper.readValue[graft.ops.RefsFile](tomb))

    // versioned state gone, tombstone left: a typed error, not empty tags
    Files.walk(meta.resolve("refs")).iterator().asScala.toSeq.reverse
      .foreach(Files.delete)
    intercept[graft.ops.RefsMigratedException](Refs.tags(store))
  }

  test("age-based retention: fresh snapshots are not expirable") {
    val dir = Files.createTempDirectory("graft-age-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 20, 2, maxDurMs = 100).toDF())
    Compact.run(spark, store, targetBytes = 64L * 1024 * 1024, runId = "age-c")
    // everything is seconds old: a 1-hour retention window expires nothing
    val r = ExpireSnapshots.run(store, keepLast = 1, minAgeMs = 3600L * 1000)
    assert(r.expiredSnapshots.isEmpty && r.dataFilesDeleted == 0)
    // with no age floor the old snapshot goes
    val r2 = ExpireSnapshots.run(store, keepLast = 1)
    assert(r2.expiredSnapshots.nonEmpty)
  }

  test("refs retire once per batch: after 3 x Keep tags fewer than 2 x Keep " +
    "versions remain and every tag reads back") {
    val dir = Files.createTempDirectory("graft-refs-batch-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 4, 1, maxDurMs = 40).toDF())
    val keep = 16
    val names = (0 until 3 * keep).map(i => s"t$i")
    names.foreach(Refs.tag(store, _))
    val versions = new MetaLog(Paths.get(dir, "meta", "refs"), "v").versions
    assert(versions.size < 2 * keep, s"versions left: $versions")
    assert(versions.last == 3 * keep)
    assert(Refs.tags(store).keySet == names.toSet)
  }
}
