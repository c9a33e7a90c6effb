package graft

import java.nio.file.Files

import graft.ops.{Append, Deletes, Evolve}
import graft.synth.ClipSynth
import graft.table.{ColStat, DataFile, Json, MetaStore, PartitionSpec, Partitioning,
  PlanScan, Pred, Pruning}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Distributed scan planning (table/PlanScan.scala): above the threshold,
 * tuple + zonemap pruning runs as a Spark job over manifest shards instead
 * of a driver parse of every entry. The load-bearing property is EXACT
 * agreement with the driver path — same kept files, same evidence counts,
 * same rows — because both run the identical pruner/keep code, just in a
 * different place. Forced here via distributedPlanThreshold = 0 on one of
 * two handles over the same table dir. The same exactness holds for the
 * manifest-summary skip in front of both tiers: a plan that skips
 * manifests by their summaries equals one that reads every manifest.
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

  // ---- manifest-summary skip: a property over random shard layouts ----

  private val summarySpec = PartitionSpec(Seq(
    Partitioning.identity("k"),
    Partitioning.truncate("n", 10, sourceType = "long"),
    Partitioning.bucket("s", 4)))
  private val keys = Seq("alaw", "pcm8", "pcm16le", "ulaw")
  private val words = Seq("apple", "banana", "cherry", "date", "elder", "fig",
    "grape", "kiwi", "lime")

  /** A numeric stat for a file of `rows` rows: absent, all-null, a null
   * count past the row count, a flag that disagrees with the column's, an
   * unparseable bound, or an ordinary [lo, lo + w] range. */
  private def numStat(rows: Long, lo: Long): Gen[Option[ColStat]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some(ColStat("", "", numeric = true, rows))),
    1 -> Gen.const(Some(ColStat(lo.toString, lo.toString, numeric = true, rows + 3))),
    1 -> Gen.const(Some(ColStat(lo.toString, (lo + 5).toString, numeric = false, 0L))),
    1 -> Gen.const(Some(ColStat("x", (lo + 5).toString, numeric = true, 0L))),
    12 -> (for {
      w <- Gen.choose(0L, 12L)
      nulls <- Gen.choose(0L, math.max(0L, rows - 1))
    } yield Some(ColStat(lo.toString, (lo + w).toString, numeric = true, nulls))))

  private def strStat(rows: Long): Gen[Option[ColStat]] = Gen.frequency(
    1 -> Gen.const(None),
    1 -> Gen.const(Some(ColStat("", "", numeric = false, rows))),
    8 -> (for {
      a <- Gen.oneOf(words); b <- Gen.oneOf(words)
      nulls <- Gen.choose(0L, math.max(0L, rows - 1))
    } yield Some(ColStat(Seq(a, b).min, Seq(a, b).max, numeric = false, nulls))))

  private def entryGen(i: Int): Gen[DataFile] = for {
    rows <- Gen.frequency(1 -> Gen.const(0L), 8 -> Gen.choose(1L, 100L))
    lo <- Gen.choose(0L, 80L)
    n <- numStat(rows, lo)
    s <- strStat(rows)
    k <- Gen.oneOf(keys)
    kPart <- Gen.frequency(1 -> None, 1 -> Some(Partitioning.HiveNull), 6 -> Some(k))
    nPart <- Gen.frequency(1 -> None, 5 -> Some((lo / 10 * 10).toString))
    sPart <- Gen.frequency(1 -> None, 4 -> Gen.choose(0, 3).map(b => Some(b.toString)))
  } yield DataFile(f"/t/data/part-$i%05d.parquet", rows, 1L,
    (Seq("k" -> Some(ColStat(k, k, numeric = false, 0L)), "n" -> n, "s" -> s)
      .collect { case (c, Some(st)) => c -> st }).toMap,
    partition = Seq("k" -> kPart, "n_trunc" -> nPart, "s_bucket" -> sPart)
      .collect { case (f, Some(v)) => f -> v }.toMap)

  private val predGen: Gen[Pred] = Gen.oneOf(
    Gen.choose(0L, 95L).map(v => Pred.EqualTo("n", v)),
    for (a <- Gen.choose(0L, 95L); w <- Gen.choose(0L, 20L)) yield Pred.Between("n", a, a + w),
    Gen.listOfN(3, Gen.choose(0L, 95L)).map(vs => Pred.InSet("n", vs)),
    Gen.choose(0L, 95L).map(v => Pred.Lt("n", v)),
    Gen.choose(0L, 95L).map(v => Pred.GtEq("n", v)),
    Gen.oneOf(words).map(v => Pred.EqualTo("s", v)),
    for (a <- Gen.oneOf(words); b <- Gen.oneOf(words))
      yield Pred.Between("s", Seq(a, b).min, Seq(a, b).max),
    Gen.listOfN(2, Gen.oneOf(words)).map(vs => Pred.InSet("s", vs)),
    Gen.oneOf(words).map(v => Pred.Lt("s", v)),
    Gen.oneOf(words).map(v => Pred.GtEq("s", v)),
    Gen.oneOf(keys).map(v => Pred.EqualTo("k", v)),
    Gen.listOfN(2, Gen.oneOf(keys)).map(vs => Pred.InSet("k", vs)),
    Gen.oneOf(keys).map(v => Pred.GtEq("k", v)))

  /** Entries in a random order: as written, range-clustered on `n`, or
   * grouped by the `k` tuple then `n` (so some shards hold one tuple). */
  private val layoutGen: Gen[Seq[DataFile]] = for {
    count <- Gen.choose(1, 40)
    es <- Gen.sequence[Seq[DataFile], DataFile]((0 until count).map(entryGen))
    order <- Gen.choose(0, 2)
  } yield {
    def lo(e: DataFile) = e.stats.get("n").flatMap(_.min.toLongOption).getOrElse(-1L)
    order match {
      case 0 => es
      case 1 => es.sortBy(lo)
      case _ => es.sortBy(e => (e.partition.getOrElse("k", ""), lo(e)))
    }
  }

  private final case class Case(entries: Seq[DataFile], shardSize: Int,
                                appends: Int, rewrite: Boolean,
                                predSets: Seq[Seq[Pred]])

  private val caseGen: Gen[Case] = for {
    es <- layoutGen
    shard <- Gen.choose(1, 6)
    appends <- Gen.choose(0, 3)
    rewrite <- Gen.oneOf(true, false)
    predSets <- Gen.listOfN(4, Gen.choose(0, 2).flatMap(Gen.listOfN(_, predGen)))
  } yield Case(es, shard, appends, rewrite, predSets)

  private def checkProp(minSuccessful: Int)(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default
        .withMinSuccessfulTests(minSuccessful).withWorkers(1), p)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("summary-skipping plan equals the read-every-manifest plan: kept " +
    "paths and every evidence count, on driver, job, cold and legacy handles") {
    var manifests = 0L; var read = 0L
    checkProp(60)(Prop.forAllNoShrink(caseGen) { c =>
      val dir = Files.createTempDirectory("graft-summary-").toString
      try {
        val store = new MetaStore(dir, Seq("k", "n", "s"))
        store.bloomColumn = None
        store.setPartitionSpec(summarySpec)
        store.manifestShardSize = c.shardSize
        // one full commit, then delta appends (reused manifests keep their
        // parent's summary), then a partial rewrite (summaries recomputed)
        val chunks = c.entries.grouped(
          math.max(1, c.entries.size / (c.appends + 1))).toSeq
        store.commit("append", chunks.head)
        chunks.tail.foreach(ch => store.commitDelta("append", ch))
        if (c.rewrite)
          store.commitDelta("compact", Nil,
            removedPaths = c.entries.indices.filter(_ % 3 == 0)
              .map(i => c.entries(i).path).toSet)
        val job = new MetaStore(dir, Seq("k", "n", "s"))
        job.distributedPlanThreshold = 0L
        val cold = new MetaStore(dir, Seq("k", "n", "s"))
        val id = store.currentSnapshotId.get
        val snap = store.snapshot(id)
        assert(snap.manifestSummaries.keySet == snap.manifests.toSet)
        // the legacy descriptor: the same snapshot JSON without summaries
        val tree = Json.mapper.readTree(Json.write(snap))
          .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
        tree.remove("manifestSummaries")
        val legacy = Json.readSnapshot(Json.mapper.writeValueAsString(tree))
        assert(legacy.manifestSummaries.isEmpty)
        val all = store.entries(id)
        c.predSets.forall { preds =>
          val (partKept, zoneKept) = Pruning.tupleZone(Some(summarySpec), all, preds)
          val want = (zoneKept.map(_.path), all.size.toLong, all.map(_.rows).sum,
            partKept.toLong)
          def got(p: PlanScan.PlannedFiles) =
            (p.kept.map(_.path), p.filesTotal, p.rowsTotal, p.filesKeptPartition)
          val driver = PlanScan.prune(spark, store, snap, preds)
          manifests += snap.manifests.size; read += driver.manifestsRead
          val plans = Seq(
            "driver" -> driver,
            "job" -> PlanScan.prune(spark, job, snap, preds),
            "cold" -> PlanScan.prune(spark, cold, cold.snapshot(id), preds),
            "legacy" -> PlanScan.prune(spark, store, legacy, preds))
          plans.foreach { case (tier, p) =>
            assert(got(p) == want, s"$tier plan diverged for $preds")
          }
          true
        }
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    })
    assert(read < manifests, s"no manifest was ever skipped ($read of $manifests read)")
  }

  test("a commit over a legacy parent keeps its manifests unsummarized and " +
    "plans them by reading; summaries never change a plan's result") {
    val dir = Files.createTempDirectory("graft-summary-legacy-").toString
    val store = new MetaStore(dir, Seq("k", "n", "s"))
    store.bloomColumn = None
    store.setPartitionSpec(summarySpec)
    store.manifestShardSize = 2
    def e(i: Int, lo: Long) = DataFile(f"/t/data/l-$i%03d.parquet", 10L, 1L,
      Map("n" -> ColStat(lo.toString, (lo + 9).toString, numeric = true, 0L)),
      partition = Map("n_trunc" -> lo.toString))
    val id1 = store.commit("append", (0 until 6).map(i => e(i, i * 10L)))
    // strip the summaries from the descriptor on disk: a pre-summary snapshot
    val path = java.nio.file.Paths.get(dir, "meta", s"snap-$id1.json")
    val tree = Json.mapper.readTree(Files.readAllBytes(path))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    tree.remove("manifestSummaries")
    Files.write(path, Json.mapper.writeValueAsBytes(tree))
    val id2 = store.commitDelta("append", Seq(e(6, 60L), e(7, 70L)))
    val snap = store.snapshot(id2)
    val fresh = snap.manifests.filterNot(store.snapshot(id1).manifests.toSet)
    assert(snap.manifestSummaries.keySet == fresh.toSet,
      "reused legacy manifests must stay unsummarized, new ones summarized")
    val preds = Seq(Pred.Between("n", 0L, 5L))
    val p = PlanScan.prune(spark, store, snap, preds)
    // 3 legacy shards read, the one new shard skipped by its summary
    assert(p.manifestsRead == 3)
    assert(p.kept.map(_.path) == Seq(e(0, 0L).path))
    assert(p.filesTotal == 8 && p.rowsTotal == 80 && p.filesKeptPartition == 1)
  }

  test("a point probe on a range-clustered table opens one manifest and " +
    "plans on the driver with no Spark job, though the table is above the " +
    "job threshold") {
    val dir = Files.createTempDirectory("graft-summary-point-").toString
    val store = new MetaStore(dir, Seq("k", "n", "s"))
    store.bloomColumn = None
    store.manifestShardSize = 10
    store.distributedPlanThreshold = 50L
    store.commit("append", (0 until 200).map(i => DataFile(f"/t/data/p-$i%04d.parquet",
      5L, 1L, Map("n" -> ColStat((i * 10L).toString, (i * 10L + 9).toString,
        numeric = true, 0L)))))
    val snap = store.currentSnapshot.get
    assert(store.planDistributed(snap))
    val sc = spark.sparkContext
    sc.setJobGroup("summary-point-probe", "point probe")
    val p = try PlanScan.prune(spark, store, snap, Seq(Pred.EqualTo("n", 1234L)))
      finally sc.clearJobGroup()
    assert(p.manifestsRead == 1 && p.kept.map(_.path) == Seq("/t/data/p-0123.parquet"))
    assert(p.filesTotal == 200 && p.rowsTotal == 1000 && p.filesKeptPartition == 200)
    assert(sc.statusTracker.getJobIdsForGroup("summary-point-probe").isEmpty,
      "a probe left with one manifest must plan on the driver")
  }
}
