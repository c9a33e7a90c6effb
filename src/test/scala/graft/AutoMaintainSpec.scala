package graft

import java.nio.file.Files

import graft.ops.{Append, AutoMaintain, Deletes, MaintenancePolicy}
import graft.synth.ClipSynth
import graft.table.{MetaStore, Pred}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Policy-driven maintenance (ops/AutoMaintain.scala): the metadata-only
 * diagnosis must see exactly the debt a messy ingest history created, the
 * run must clear it without changing table contents, and a second plan must
 * be the fixed point (empty).
 */
class AutoMaintainSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private def newStore(): MetaStore =
    MetaStore.forClips(Files.createTempDirectory("graft-auto").toString)

  private def rows(store: MetaStore): Seq[String] =
    store.scanCurrent(spark).select("clip_id", "dur_ms", "codec")
      .collect().map(_.mkString("|")).sorted.toSeq

  test("plan diagnoses small-file debt, layout decay, history debt; run clears them") {
    val store = newStore()
    // 8 interleaved appends: many small files, each spanning the full
    // dur_ms range (overlap depth ~= file count), deep snapshot history
    (0 until 8).foreach { k =>
      Append.run(spark, store, spark.range(k * 250L, k * 250L + 250L, 1L, 2)
        .map(i => ClipSynth.clip(i, maxDurMs = 200))(
          org.apache.spark.sql.Encoders.product[graft.synth.Clip]).toDF())
    }
    val policy = MaintenancePolicy(
      targetBytes = 64L * 1024 * 1024, maxSmallFiles = 4,
      maxOverlapDepth = 3.0, expireKeepLast = 5, orphanMinAgeMs = 3600000L)
    val plan = AutoMaintain.plan(store, policy)
    val ops = plan.map(_.op)
    assert(ops.contains("compact"), s"plan=$plan")
    assert(ops.contains("cluster"), s"plan=$plan")
    assert(ops.contains("expire"), s"plan=$plan")
    assert(!ops.contains("expire-deletes"), "no deletes exist yet")

    val before = rows(store)
    val applied = AutoMaintain.run(spark, store, policy, runId = "auto-t1")
    assert(applied.map(_.decision.op) == ops)
    assert(rows(store) == before, "maintenance must not change table contents")

    // fixed point: every trigger cleared
    val after = AutoMaintain.plan(store, policy)
    assert(after.isEmpty, s"expected converged plan, got $after")
    // and the layout actually improved: overlap depth ~1 post-cluster
    val rep = graft.table.Layout.overlapDepth(
      store.entries(store.currentSnapshotId.get), "sr_hz")
    assert(rep.avgDepth <= 3.0)
  }

  test("inert deletes are diagnosed only once a rewrite outruns them") {
    val store = newStore()
    Append.run(spark, store, ClipSynth.dataset(spark, 300, 4, maxDurMs = 150).toDF())
    Deletes.deleteWhere(spark, store, Seq(Pred.EqualTo("clip_id", ClipSynth.clipId(5))))
    val policy = MaintenancePolicy(maxSmallFiles = 1000, maxOverlapDepth = 1e9,
      expireKeepLast = 100)
    // delete still covers the original files: nothing inert yet
    assert(!AutoMaintain.plan(store, policy).map(_.op).contains("expire-deletes"))
    // full cluster rewrite outruns it
    graft.ops.Cluster.run(spark, store, graft.ops.ZOrderCurve,
      targetBytes = 64L * 1024 * 1024, runId = "auto-t2",
      hashCols = Seq.empty, rangeCols = Seq("sr_hz", "dur_ms"))
    val plan = AutoMaintain.plan(store, policy)
    assert(plan.map(_.op) == Seq("expire-deletes"), s"plan=$plan")
    AutoMaintain.run(spark, store, policy, runId = "auto-t2b")
    assert(store.deleteEntries(store.currentSnapshotId.get).isEmpty)
    assert(AutoMaintain.plan(store, policy).isEmpty)
  }

  test("position-delete file debt triggers compact-pos-deletes; run clears it") {
    val store = newStore()
    Append.run(spark, store, ClipSynth.dataset(spark, 300, 4, maxDurMs = 150).toDF())
    val policy = MaintenancePolicy(maxSmallFiles = 1000, maxOverlapDepth = 1e9,
      expireKeepLast = 100, maxPosDeleteFiles = 2,
      maxDeleteEras = 1000, maxDeleteRowFrac = 1.0)
    // three one-row position deletes: 3 files > bound 2; position files must
    // NOT count toward the equality era bound (they are one union'd anti-join)
    import spark.implicits._
    val files = store.entries(store.currentSnapshotId.get)
    files.take(3).foreach { f =>
      Deletes.runPositional(spark, store,
        Seq((f.path, 0L)).toDF("file_path", "pos"),
        expectedSnapshot = store.currentSnapshotId.get)
    }
    val plan = AutoMaintain.plan(store, policy)
    assert(plan.map(_.op) == Seq("compact-pos-deletes"), s"plan=$plan")
    val before = rows(store)
    AutoMaintain.run(spark, store, policy, runId = "auto-pos")
    assert(store.deleteEntries(store.currentSnapshotId.get).size == 1)
    assert(rows(store) == before, "maintenance must not change contents")
    assert(AutoMaintain.plan(store, policy).isEmpty, "fixed point")
  }

  test("a deletion vector's masked rows count toward the delete-row bound") {
    val store = newStore()
    Append.run(spark, store, ClipSynth.dataset(spark, 300, 4, maxDurMs = 150).toDF())
    val policy = MaintenancePolicy(maxSmallFiles = 1000, maxOverlapDepth = 1e9,
      expireKeepLast = 100, maxDeleteRowFrac = 0.02)
    // 20 of 300 rows (6.7 %) masked by ONE vector row
    import spark.implicits._
    val f = store.entries(store.currentSnapshotId.get).maxBy(_.rows)
    Deletes.runPositional(spark, store,
      (0L until 20L).map(p => (f.path, p)).toDF("file_path", "pos"),
      expectedSnapshot = store.currentSnapshotId.get)
    val dels = store.deleteEntries(store.currentSnapshotId.get)
    assert(dels.size == 1 && dels.head.rows == 20, s"dels=$dels")
    val plan = AutoMaintain.plan(store, policy)
    assert(plan.map(_.op) == Seq("materialize-deletes"), s"plan=$plan")
  }

  test("per-tuple small-file accounting: lone files per partition are not debt") {
    val store = newStore()
    store.setPartitionSpec(graft.table.PartitionSpec(Seq(
      graft.table.Partitioning.identity("codec"))))
    Append.run(spark, store, ClipSynth.dataset(spark, 200, 1, maxDurMs = 120).toDF())
    // one small file per codec tuple -> nothing mergeable
    val policy = MaintenancePolicy(maxSmallFiles = 0, maxOverlapDepth = 1e9,
      expireKeepLast = 100)
    assert(!AutoMaintain.plan(store, policy).map(_.op).contains("compact"))
    // a second append doubles every tuple -> mergeable debt appears
    Append.run(spark, store, ClipSynth.dataset(spark, 200, 1, maxDurMs = 120)
      .toDF().withColumn("clip_id", concat(lit("b_"), col("clip_id"))))
    assert(AutoMaintain.plan(store, policy).map(_.op).contains("compact"))
  }

  test("empty table plans nothing") {
    assert(AutoMaintain.plan(newStore(), MaintenancePolicy()).isEmpty)
  }
}
