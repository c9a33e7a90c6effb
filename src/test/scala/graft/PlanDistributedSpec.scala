package graft

import java.nio.file.Files

import graft.ops.{Append, Deletes, Evolve}
import graft.synth.ClipSynth
import graft.table.{MetaStore, PartitionSpec, Partitioning, Pred}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Distributed scan planning (table/PlanScan.scala): above the threshold,
 * tuple + zonemap pruning runs as a Spark job over manifest shards instead
 * of a driver parse of every entry. The load-bearing property is EXACT
 * agreement with the driver path — same kept files, same evidence counts,
 * same rows — because both run the identical pruner/keep code, just in a
 * different place. Forced here via distributedPlanThreshold = 0 on one of
 * two handles over the same table dir.
 */
class PlanDistributedSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  private val clipSpec = PartitionSpec(Seq(
    Partitioning.identity("codec"),
    Partitioning.truncate("dur_ms", 100, sourceType = "int")))

  /** (driver-path handle, forced-distributed handle) over one table. */
  private def twinStores(tag: String): (MetaStore, MetaStore) = {
    val dir = Files.createTempDirectory(s"graft-planjob-$tag").toString
    val driver = MetaStore.forClips(dir)
    driver.setPartitionSpec(clipSpec)
    driver.manifestShardSize = 7 // many shards so the job has real fan-out
    Append.run(spark, driver, ClipSynth.dataset(spark, 80, 4, maxDurMs = 900).toDF())
    val dist = MetaStore.forClips(dir)
    dist.distributedPlanThreshold = 0L
    (driver, dist)
  }

  test("forced-distributed scanPruned agrees with the driver path exactly") {
    val (driver, dist) = twinStores("agree")
    val predSets = Seq(
      Seq(Pred.EqualTo("codec", "ulaw"), Pred.Between("dur_ms", 100L, 350L)),
      Seq(Pred.EqualTo("clip_id", ClipSynth.clipId(7))), // bloom-tier point probe
      Seq(Pred.GtEq("sr_hz", 16000L)),
      Seq.empty[Pred]) // unselective: kept == total
    predSets.foreach { preds =>
      val a = driver.scanCurrentPruned(spark, preds)
      val b = dist.scanCurrentPruned(spark, preds)
      assert(b.filesTotal == a.filesTotal && b.filesKept == a.filesKept &&
        b.filesKeptPartition == a.filesKeptPartition &&
        b.rowsTotal == a.rowsTotal &&
        b.rowsKeptUpperBound == a.rowsKeptUpperBound,
        s"evidence diverged for $preds: driver=$a dist=$b")
      val ra = a.df.select("clip_id").as[String](spark.implicits.newStringEncoder)
        .collect().sorted.toSeq
      val rb = b.df.select("clip_id").as[String](spark.implicits.newStringEncoder)
        .collect().sorted.toSeq
      assert(rb == ra, s"rows diverged for $preds")
    }
  }

  test("distributed everything-pruned probe keeps schema, returns zero rows") {
    val (driver, dist) = twinStores("empty")
    val preds = Seq(Pred.EqualTo("dur_ms", 999999L))
    val b = dist.scanCurrentPruned(spark, preds)
    assert(b.filesKept == 0 && b.filesTotal > 0)
    assert(b.df.columns.toSeq == driver.scanCurrent(spark).columns.toSeq)
    assert(b.df.count() == 0L)
  }

  test("BLOOM-prunes-everything point probe keeps schema on the " +
    "distributed tier (zonemaps kept files, bloom dropped them all)") {
    val (driver, dist) = twinStores("bloomempty")
    // a key LEXICOGRAPHICALLY INSIDE the per-file clip_id ranges (so the
    // zonemap tier keeps files) that no row carries (so the bloom tier
    // prunes the survivors): before the r5 fix the distributed path then
    // read zero files into a zero-COLUMN frame and the re-applied
    // predicate failed analysis — the driver path was unaffected
    val preds = Seq(Pred.EqualTo("clip_id", "clip_000000000010x"))
    val b = dist.scanCurrentPruned(spark, preds)
    assert(b.filesTotal > 0)
    assert(b.filesKeptPartition == b.filesTotal,
      "tuple tier should not constrain a clip_id probe under a codec/dur spec")
    assert(b.df.columns.toSeq == driver.scanCurrent(spark).columns.toSeq,
      "all-pruned probe lost the table schema")
    assert(b.df.count() == 0L)
  }

  test("distributed pruned scan never resurrects an equality-deleted row") {
    val (driver, dist) = twinStores("deletes")
    import spark.implicits._
    val victim = ClipSynth.clipId(3)
    Deletes.run(spark, driver, Seq(victim).toDF("clip_id"))
    val preds = Seq(Pred.EqualTo("clip_id", victim))
    val b = dist.scanCurrentPruned(spark, preds)
    assert(b.df.count() == 0L, "deleted key visible through distributed plan")
    // and a non-deleted key still resolves through the same path
    val ok = dist.scanCurrentPruned(spark,
      Seq(Pred.EqualTo("clip_id", ClipSynth.clipId(5))))
    assert(ok.df.count() == 1L)
  }

  test("forced-distributed unpruned scan reads the same rows") {
    val (driver, dist) = twinStores("scan")
    val a = driver.scanCurrent(spark).select("clip_id")
      .as[String](spark.implicits.newStringEncoder).collect().sorted.toSeq
    val b = dist.scanCurrent(spark).select("clip_id")
      .as[String](spark.implicits.newStringEncoder).collect().sorted.toSeq
    assert(b == a && a.size == 80)

    // a live equality delete, a position delete and an evolution: both
    // tiers assemble delete- and era-aware, row for row (bytes as a hash)
    import spark.implicits._
    val files = driver.entries(driver.currentSnapshotId.get).sortBy(-_.rows)
    val key = spark.read.parquet(files(1).path).select("clip_id").head().getString(0)
    Deletes.run(spark, driver, Seq(key).toDF("clip_id"))
    Deletes.runPositional(spark, driver, Seq((files.head.path, 0L))
      .toDF("file_path", "pos"), driver.currentSnapshotId.get)
    Evolve.addColumn(spark, driver, "quality_score", "double", "0.75")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.withColumn("bytes", sha2(col("bytes"), 256)).collect()
        .map(_.toSeq.mkString("|")).sorted.toSeq
    val id = driver.currentSnapshotId.get
    val want = rows(driver.scan(spark, id))
    assert(want.size == 78 && want.forall(_.endsWith("|0.75")))
    assert(rows(driver.scanPruned(spark, id, Nil).df) == want)
    assert(rows(dist.scan(spark, id)) == want)
    assert(rows(dist.scanPruned(spark, id, Nil).df) == want)
  }

  test("forced-distributed partial-rewrite classification equals driver parse") {
    val (driver, dist) = twinStores("classify")
    // a COLD forced-distributed handle (empty path-set cache) must classify
    // a removal to exactly the same snapshot state as the warm driver path
    val snap = driver.currentSnapshotId.get
    val all = driver.entries(snap)
    val victims = all.take(3).map(_.path).toSet
    val id = dist.commitDelta("compact", Seq.empty, removedPaths = victims)
    assert(dist.entries(id).map(_.path).toSet == all.map(_.path).toSet -- victims)
    assert(dist.currentSnapshot.get.summary("manifestsRewritten").toInt >= 1)
    // untouched shards reused by name, not rewritten
    assert(dist.currentSnapshot.get.summary("manifestsReused").toInt > 0)
    // the driver handle agrees about the resulting snapshot
    assert(driver.entries(id).map(_.path).toSet == dist.entries(id).map(_.path).toSet)
  }

  test("forced-distributed partitionsTable equals the driver fold") {
    val (driver, dist) = twinStores("ptable")
    def rows(s: MetaStore) = s.partitionsTableCurrent(spark)
      .selectExpr("cast(partition as string)", "n_files", "n_rows",
        "total_bytes", "min_seq", "max_seq")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(rows(dist) == rows(driver))
  }
}
