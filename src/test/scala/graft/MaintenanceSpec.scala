package graft

import java.nio.file.Files

import graft.ops._
import graft.synth.ClipSynth
import graft.table.{LineageRecord, MetaFs, MetaStore}
import graft.verify.ScanEquality
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

/**
 * The SURVEY.md §7.4 end-to-end slice: synthesize -> S0 (many small files) ->
 * compact -> cluster(Z) -> every snapshot scan-equal (SNR>=30dB + transcript)
 * -> merge -> expire. Mirrors the reference DayJob shape
 * (reorder -> rewrite -> reload -> verify, DayJobTest.kt:133-169).
 */
class MaintenanceSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  val nClips = 2000

  lazy val tableDir: String = {
    val dir = Files.createTempDirectory("graft-table-").toString
    val store = MetaStore.forClips(dir)
    // 40 tiny files -> classic small-file problem. Natural FIXTURES dur
    // distribution (uniform 50..999 + 20% hot at 100) so range stats are
    // meaningful; ~30 MB total.
    Append.run(spark, store, ClipSynth.dataset(spark, nClips, 40).toDF())
    dir
  }

  test("S0: append produced a queryable snapshot with manifest stats") {
    val store = MetaStore.forClips(tableDir)
    val s0 = store.currentSnapshotId.get
    val entries = store.entries(s0)
    assert(entries.size === 40)
    assert(entries.map(_.rows).sum === nClips)
    // stats present and sane on every file
    entries.foreach { e =>
      assert(e.stats.contains("clip_id") && e.stats.contains("dur_ms"))
      assert(e.statLong("sr_hz", lower = true).get >= 8000)
      assert(e.sizeBytes > 0)
    }
    assert(store.scan(spark, s0).count() === nClips)
  }

  test("compaction reduces file count, preserves scan output exactly") {
    val store = MetaStore.forClips(tableDir)
    val s0 = store.allSnapshotIds.head
    val res = Compact.run(spark, store, targetBytes = 4L * 1024 * 1024,
      runId = "t-compact-1")
    assert(res.filesAfter < res.filesBefore,
      s"${res.filesBefore} -> ${res.filesAfter}")
    val rows = ScanEquality.compareSnapshots(spark, store, s0, res.snapshotId)
    val rep = ScanEquality.report(rows)
    assert(rep.allPass, s"verify failed: $rep")
    assert(rep.rows === nClips)
    // compaction does not transcode: SNR must be the perfect sentinel
    assert(rep.minSnrDb === graft.audio.Pcm.PerfectSnrDb)
  }

  test("zorder cluster rewrite preserves scan output and tightens file ranges") {
    val store = MetaStore.forClips(tableDir)
    val before = store.currentSnapshotId.get
    val res = Cluster.run(spark, store, ZOrderCurve,
      targetBytes = 2L * 1024 * 1024, runId = "t-cluster-1")
    val rep = ScanEquality.report(
      ScanEquality.compareSnapshots(spark, store, before, res.snapshotId))
    assert(rep.allPass, s"verify failed: $rep")

    // clustering quality: per-file dur_ms ranges should overlap less than
    // the unclustered S0 layout, where every file spans [50, 1000] — this is
    // what makes min/max manifest pruning on dur_ms predicates effective
    def overlapScore(id: Long): Double = {
      val es = store.entries(id).flatMap { e =>
        for (lo <- e.statLong("dur_ms", lower = true);
             hi <- e.statLong("dur_ms", lower = false)) yield (lo, hi)
      }
      val n = es.size
      if (n <= 1) 0.0
      else {
        var overlaps = 0
        for (i <- es.indices; j <- es.indices if i < j)
          if (es(i)._1 <= es(j)._2 && es(j)._1 <= es(i)._2) overlaps += 1
        overlaps.toDouble / (n.toLong * (n - 1) / 2)
      }
    }
    val s0 = store.allSnapshotIds.head
    assert(overlapScore(res.snapshotId) < overlapScore(s0),
      s"clustering did not reduce dur_ms range overlap: " +
        s"${overlapScore(res.snapshotId)} vs s0 ${overlapScore(s0)}")
  }

  test("hilbert cluster rewrite also preserves scan output") {
    val store = MetaStore.forClips(tableDir)
    val before = store.currentSnapshotId.get
    val res = Cluster.run(spark, store, HilbertCurve,
      targetBytes = 2L * 1024 * 1024, runId = "t-cluster-h")
    val rep = ScanEquality.report(
      ScanEquality.compareSnapshots(spark, store, before, res.snapshotId))
    assert(rep.allPass, s"verify failed: $rep")
  }

  test("merge into: updates win, inserts land, untouched files survive") {
    import spark.implicits._
    // dedicated table: 20 append files with CONTIGUOUS clip_id ranges, so
    // copy-on-write scoping is observable (updates touch only file 0)
    val dir = Files.createTempDirectory("graft-merge-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 2000, 20, maxDurMs = 120).toDF())
    val before = store.currentSnapshotId.get
    val preCount = store.scan(spark, before).count()

    // 50 updates hitting clip ids 0..49 (file 0 only) + 25 brand-new clips
    val updates = (0L until 50L).map { i =>
      val c = ClipSynth.clip(i, maxDurMs = 120)
      c.copy(transcript = c.transcript + " UPDATED")
    } ++ (1000000L until 1000025L).map(i => ClipSynth.clip(i, maxDurMs = 120))
    val res = MergeInto.run(spark, store, updates.toDF(), runId = "t-merge-1")

    val after = store.scan(spark, res.snapshotId)
    assert(after.count() === preCount + 25)
    assert(after.filter(col("transcript").endsWith("UPDATED")).count() === 50)
    assert(res.filesTouched === 1, s"expected 1 touched file, got ${res.filesTouched}")
    assert(res.filesUntouched === 19, "merge rewrote untouched files — COW scoping broken")
    // snapshot isolation: the pre-merge snapshot still reads the old rows
    assert(store.scan(spark, before).count() === preCount)
    assert(store.scan(spark, before)
      .filter(col("transcript").endsWith("UPDATED")).count() === 0)
    // merge lineage recorded
    assert(store.lineage(spark).filter(col("phase") === "merge").count() > 0)
  }

  test("expire snapshots GCs unreachable files but keeps current readable") {
    val store = MetaStore.forClips(tableDir)
    val cur = store.currentSnapshotId.get
    val curCount = store.scan(spark, cur).count()
    val res = ExpireSnapshots.run(store, keepLast = 1)
    assert(res.expiredSnapshots.nonEmpty)
    assert(res.dataFilesDeleted > 0)
    assert(store.scan(spark, cur).count() === curCount)
    // all remaining manifest paths exist on disk
    store.entries(cur).foreach(e => assert(new java.io.File(e.path).exists()))
  }

  test("compaction is resumable: completed bins are skipped on rerun") {
    val dir = Files.createTempDirectory("graft-resume-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 400, 12, maxDurMs = 100).toDF())
    // the markers live until the run's commit lands: list them between the
    // commit's checks and its link
    val cp = java.nio.file.Paths.get(dir, "meta", "checkpoints", "resume-run")
    var atCommit = Seq.empty[String]
    graft.table.MetaLog.beforeLink.put(store.log.dir, _ => if (atCommit.isEmpty) {
      val s = Files.list(cp)
      try atCommit = s.iterator().asScala.map(_.getFileName.toString).toSeq
      finally s.close()
    })
    val r1 = try Compact.run(spark, store, targetBytes = 1L * 1024 * 1024,
      runId = "resume-run")
    finally graft.table.MetaLog.beforeLink.remove(store.log.dir)
    assert(r1.binsSkippedByCheckpoint === 0)
    // same runId again: every bin already checkpointed
    val r2 = Compact.run(spark, store, targetBytes = 64L * 1024 * 1024,
      runId = "resume-run2")
    // checkpoint markers are content-scoped: a done marker existed for run 1
    atCommit.foreach(n => assert(!MetaFs.isTemp(n), s"checkpoint publish left a temp: $n"))
    assert(atCommit.exists(_.startsWith("done-bin-0-")),
      s"no content-scoped done marker for bin 0: $atCommit")
    assert(!Files.exists(cp), "a committed run's checkpoints are dropped")
    // replaying run 1's id against the SAME layout skips; against a CHANGED
    // layout the content hash differs, so stale results cannot resurrect
    // (regression for the stale-checkpoint hazard found in round-1 verify)
    val lineage = store.lineage(spark)
    assert(lineage.count() > 0)
    assert(lineage.filter(col("phase") === "compact").count() > 0)
  }

  /** Plans compact-lineage past one lineage file, and nothing else. */
  private val lineageOnlyPolicy = MaintenancePolicy(maxLineageShards = 1,
    maxSmallFiles = Int.MaxValue, maxOverlapDepth = Double.MaxValue,
    expireKeepLast = Int.MaxValue, maxBloomShards = Int.MaxValue)

  private def lineageEntries(dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val s = Files.list(java.nio.file.Paths.get(dir, "meta", "lineage"))
    try s.iterator().asScala.toSeq finally s.close()
  }

  private def lineageRec(run: String, i: Int) = LineageRecord(run, 1L, "probe",
    s"$run-$i", i, 10L + i, 100L, 5L, 1000L + i, "done")

  test("lineage side-table records per-item metrics for every pass") {
    val store = MetaStore.forClips(tableDir)
    val ln = store.lineage(spark)
    val phases = ln.select("phase").distinct().collect().map(_.getString(0)).toSet
    assert(phases.exists(_.startsWith("cluster")), s"phases=$phases")
    assert(ln.filter(col("rows") <= 0).count() === 0)
  }

  test("compactLineage folds per-batch shards, preserving every row") {
    val store = MetaStore.forClips(tableDir)
    val before = store.lineage(spark).count()
    assert(before > 0)
    assert(store.lineageShardCount > 1,
      "maintenance passes should have left multiple lineage shards")
    val (b, a) = store.compactLineage()
    assert(b > 1 && a == 1)
    assert(store.lineageShardCount == 1)
    assert(store.lineage(spark).count() == before, "fold must preserve rows")
    // trigger plans and clears
    assert(!AutoMaintain.plan(store, lineageOnlyPolicy)
      .exists(_.op == "compact-lineage"), "1 folded shard clears the trigger")
  }

  test("lineage on a table without lineage is a zero-row LineageRecord frame") {
    val store = MetaStore.forClips(
      Files.createTempDirectory("graft-lineage-fresh-").toString)
    assert(store.lineage(spark).filter(col("phase") === "x").count() == 0)
    assert(store.lineage(spark).orderBy("tsMs").count() == 0)
  }

  test("lineage reads legacy parquet shards beside JSON files; the fold leaves them") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lineage-legacy-").toString
    val store = MetaStore.forClips(dir)
    // AutoMaintain plans only tables with a snapshot
    Append.run(spark, store, ClipSynth.dataset(spark, 20, 1, maxDurMs = 40).toDF())
    val lin = java.nio.file.Paths.get(dir, "meta", "lineage")
    // the two parquet layouts older tables hold: flat part files in the
    // lineage dir, and one subdir per batch
    Seq(lineageRec("flat", 0)).toDS().write.mode("append").parquet(lin.toString)
    val sub = lin.resolve("0123456789ab")
    Seq(lineageRec("sub", 0), lineageRec("sub", 1)).toDS()
      .write.mode("overwrite").parquet(sub.toString)
    val flatFiles = lineageEntries(dir).filter(_.toString.endsWith(".parquet"))
    assert(flatFiles.nonEmpty)
    store.appendLineage(Seq(lineageRec("json", 0)))
    store.appendLineage(Seq(lineageRec("json", 1), lineageRec("json", 2)))

    val want = Seq(lineageRec("flat", 0), lineageRec("sub", 0), lineageRec("sub", 1),
      lineageRec("json", 0), lineageRec("json", 1), lineageRec("json", 2))
    def check(): Unit = {
      val ln = store.lineage(spark)
      assert(ln.schema.map(f => f.name -> f.dataType) ==
        org.apache.spark.sql.Encoders.product[LineageRecord].schema
          .map(f => f.name -> f.dataType))
      assert(ln.as[LineageRecord].collect().sortBy(_.item).toSeq == want.sortBy(_.item))
    }
    check()
    assert(store.lineageShardCount == 2, "only the .jsonl files count")
    assert(AutoMaintain.plan(store, lineageOnlyPolicy).exists(_.op == "compact-lineage"))
    assert(store.compactLineage() == (2, 1))
    assert(store.lineageShardCount == 1)
    flatFiles.foreach(p => assert(Files.exists(p), s"fold touched legacy $p"))
    assert(Files.isDirectory(sub))
    check()
    assert(!AutoMaintain.plan(store, lineageOnlyPolicy)
      .exists(_.op == "compact-lineage"), "1 folded file clears the trigger")
  }

  test("concurrent appendLineage: every row read back once, no temps left") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lineage-race-").toString
    val store = MetaStore.forClips(dir)
    val threads = (0 until 8).map { t =>
      new Thread(() => (0 until 25).foreach(i =>
        store.appendLineage(Seq(lineageRec(s"t$t", i)))))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val items = store.lineage(spark).select("item").as[String].collect()
    assert(items.length == 200)
    assert(items.toSet == (for (t <- 0 until 8; i <- 0 until 25) yield s"t$t-$i").toSet)
    lineageEntries(dir).map(_.getFileName.toString)
      .foreach(n => assert(!MetaFs.isTemp(n), s"publish temp left behind: $n"))
    assert(store.lineageShardCount == 200)
  }

  test("manifests shard at commit; entries() and expire see all shards") {
    val dir = Files.createTempDirectory("graft-shard-manifest-").toString
    val store = MetaStore.forClips(dir)
    store.manifestShardSize = 3
    Append.run(spark, store, ClipSynth.dataset(spark, 200, 10).toDF())
    val snap = store.currentSnapshot.get
    assert(snap.manifests.size === 4, s"10 files / shard=3 -> 4 manifests, got ${snap.manifests}")
    assert(store.entries(snap.id).size === 10)
    assert(store.scanCurrent(spark).count() === 200)
    // a second commit over the sharded snapshot still round-trips
    val c = Compact.run(spark, store, targetBytes = 64L * 1024 * 1024,
      runId = "shard-compact")
    assert(store.entries(c.snapshotId).map(_.rows).sum === 200)
  }

  test("small-batch MERGE discovers touched files via pruned candidates, not a table scan") {
    import spark.implicits._
    import graft.synth.ClipSynth
    val dir = java.nio.file.Files.createTempDirectory("graft-mergeprune").toString
    val store = graft.table.MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 2000, 8, maxDurMs = 150).toDF())
    // cluster so clip_id zonemaps are tight per file
    Cluster.run(spark, store, ZOrderCurve, targetBytes = 64L * 1024,
      runId = "mp-cluster", hashCols = Seq.empty, rangeCols = Seq("sr_hz", "dur_ms"))
    val total = store.entries(store.currentSnapshotId.get).size
    assert(total > 4)

    val upd = Seq(ClipSynth.clip(7, maxDurMs = 150), ClipSynth.clip(400, maxDurMs = 150))
      .toDS().toDF().withColumn("transcript", lit("merged-small"))
    val res = MergeInto.run(spark, store, upd, runId = "mp-merge")
    val sum = store.snapshot(res.snapshotId).summary
    val scanned = sum("filesScannedForDiscovery").toInt
    assert(scanned < total, s"discovery scanned $scanned of $total files")
    assert(store.scanCurrent(spark)
      .filter(col("transcript") === "merged-small").count() === 2)
    assert(store.scanCurrent(spark).count() === 2000)

    // pure insert of brand-new keys: zero candidate files, rows appended
    val ins = spark.range(900000L, 900005L, 1L, 1)
      .map(i => ClipSynth.clip(i, maxDurMs = 150)).toDF()
    val res2 = MergeInto.run(spark, store, ins, runId = "mp-insert")
    assert(store.snapshot(res2.snapshotId).summary("filesScannedForDiscovery").toInt == 0)
    assert(store.scanCurrent(spark).count() === 2005)
  }

  test("committed compact and cluster runs drop their checkpoint directories") {
    val dir = Files.createTempDirectory("graft-cpdrop-").toString
    val store = MetaStore.forClips(dir)
    (0 until 3).foreach(i => Append.run(spark, store,
      ClipSynth.dataset(spark, 60, 2, maxDurMs = 150).toDF()
        .withColumn("clip_id", concat(lit(s"b${i}_"), col("clip_id")))))
    val cpRoot = java.nio.file.Paths.get(dir, "meta", "checkpoints")
    def runDirs: Seq[String] = {
      val s = Files.list(cpRoot)
      try s.iterator().asScala.map(_.getFileName.toString).toSeq finally s.close()
    }
    val inc = Cluster.incremental(spark, store, ZOrderCurve, runId = "cp-inc")
    assert(inc.groupsRewritten > 0)
    assert(runDirs.isEmpty, s"after incremental cluster: $runDirs")
    Append.run(spark, store, ClipSynth.dataset(spark, 20, 2, maxDurMs = 150).toDF()
      .withColumn("clip_id", concat(lit("c_"), col("clip_id"))))
    val cmp = Compact.run(spark, store, targetBytes = 64L * 1024 * 1024, runId = "cp-compact")
    assert(cmp.binsRewritten > 0)
    assert(runDirs.isEmpty, s"after compact: $runDirs")
    Cluster.run(spark, store, ZOrderCurve, targetBytes = 256L * 1024,
      runId = "cp-cluster", batches = 2)
    assert(runDirs.isEmpty, s"after batched cluster: $runDirs")
  }

  test("expiry plus orphan GC leave only reachable parquet files and their " +
    "checksums under data/") {
    val dir = Files.createTempDirectory("graft-gc-sidecars-").toString
    val store = MetaStore.forClips(dir)
    (0 until 4).foreach { i =>
      Append.run(spark, store, ClipSynth.dataset(spark, 20, 2, maxDurMs = 60).toDF()
        .withColumn("clip_id", concat(lit(s"a${i}_"), col("clip_id"))))
    }
    Compact.run(spark, store, targetBytes = 64L * 1024 * 1024, runId = "gc-compact")
    val rows = store.scanCurrent(spark).count()
    val live = store.entries(store.currentSnapshotId.get).map(_.path).toSet
    def crc(p: String) = {
      val f = java.nio.file.Paths.get(p)
      f.resolveSibling(s".${f.getFileName}.crc").toString
    }
    val liveCrcs = live.map(crc).filter(c => Files.exists(java.nio.file.Paths.get(c)))
    ExpireSnapshots.run(store, keepLast = 1)
    RemoveOrphans.run(store, minAgeMs = 0L)
    val w = Files.walk(java.nio.file.Paths.get(dir, "data"))
    val (dirs, files) = try w.iterator().asScala.toSeq.partition(Files.isDirectory(_))
      finally w.close()
    assert(files.map(_.toString).toSet == live ++ liveCrcs,
      s"sidecars or orphans left: $files")
    val parents = live.map(p => java.nio.file.Paths.get(p))
      .flatMap(p => Iterator.iterate(p.getParent)(_.getParent).takeWhile(_ != null))
    assert(dirs.forall(parents.contains), s"directories holding no parquet left: $dirs")
    assert(store.scanCurrent(spark).count() == rows)
  }
}
