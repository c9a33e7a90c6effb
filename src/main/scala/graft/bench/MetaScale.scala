package graft.bench

import java.nio.file.Files

import graft.table._

/**
 * Metadata-scale probe: the 10^12-row design claim is really a claim about
 * the 10^5–10^7-data-file regime (128 MB files), where what matters is the
 * DRIVER-side cost of planning and committing against the manifest set —
 * no real data needs to exist to measure it. This main synthesizes a table
 * of K fake file entries with realistic stats/tuples, commits it through
 * the real MetaStore, and times every metadata operation the engine does
 * per query or per commit:
 *
 *  - snapshot planning ([[PlanScan.prune]], always measured): point and
 *    range prune (summary skip, then the surviving manifests on the driver
 *    or as a Spark job by their file count), path listing for an unpruned
 *    scan, the partitions-table fold — the per-query costs that must stay
 *    ~flat in driver time as K grows. `point_manifests_read` is the number
 *    of manifests the point probe opened (O(matching manifests) on this
 *    range-clustered layout) and `snapshot_bytes` the size of the snapshot
 *    descriptor that carries the summaries,
 *  - driver planning tier (`entries()` load, partition + zonemap prune) —
 *    only at K ≤ driverMax (default 2·10^6): it materializes every entry
 *    driver-side, which is exactly the O(K) the distributed tier replaces,
 *  - O(churn) streaming append (`commitDelta`, zero parent manifests read),
 *  - partial rewrite (compact-shaped: remove files clustered in one shard),
 *  - full manifest rewrite (`compactManifests`) for contrast (driver tier),
 *  - `snapshotAsOf` time travel, branch fork/delta/fast-forward.
 *
 * Seeding is CHUNKED (500k-entry delta commits), so the driver never holds
 * more than one chunk of [[DataFile]]s — at K = 10^7 the full list would be
 * ~10 GB of driver heap, which is the point of the distributed tier.
 *
 * Usage: runMain graft.bench.MetaScale [K] [driverMax]
 * (default K 200000 ≈ a 25 TB table at 128 MB files; 10^6 and 10^7 are the
 * regimes the r4/r5 verdict asks for).
 */
object MetaScale {

  private def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def synthEntry(i: Long, commitId: Long): DataFile = {
    // contiguous clip_id ranges per file (post-cluster layout) so zonemap
    // pruning has realistic selectivity; dur window + codec as tuples
    val lo = i * 10000L
    val hi = lo + 9999L
    DataFile(
      path = f"/warehouse/clips/data/append-x/_p_codec=${Seq("pcm16le", "ulaw", "pcm8")(
        (i % 3).toInt)}/_p_dur_ms_trunc=${(i % 10) * 100}/part-$i%08d.parquet",
      rows = 60000L,
      sizeBytes = 128L * 1024 * 1024,
      stats = Map(
        "clip_id" -> ColStat(f"clip_$lo%012d", f"clip_$hi%012d", numeric = false, 0L),
        "sr_hz" -> ColStat("8000", "44100", numeric = true, 0L),
        "dur_ms" -> ColStat(((i % 10) * 100).toString,
          ((i % 10) * 100 + 99).toString, numeric = true, 0L)),
      seq = commitId,
      partition = Map(
        "codec" -> Seq("pcm16le", "ulaw", "pcm8")((i % 3).toInt),
        "dur_ms_trunc" -> ((i % 10) * 100).toString))
  }

  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toLong).getOrElse(200000L)
    val driverMax = args.lift(1).map(_.toLong).getOrElse(2000000L)
    val driverTier = k <= driverMax
    val dir = Files.createTempDirectory(
      graft.queries.OracleFixtures.scratchRoot, "graft-metascale")
    try {
      val store = new MetaStore(dir.toString, MetaStore.ClipStatsColumns)
      store.bloomColumn = None
      store.setPartitionSpec(PartitionSpec(Seq(
        Partitioning.identity("codec"),
        Partitioning.truncate("dur_ms", 100, sourceType = "int"))))

      // chunked seed: driver peak = one chunk, commit cost reported as the
      // SUM over chunks (the same bytes of manifest JSON either way)
      val chunk = 500000L
      var tCommitFull = 0.0
      var off = 0L
      while (off < k) {
        val n = math.min(chunk, k - off)
        val batch = (off until off + n).map(synthEntry(_, 1L))
        val (_, t) =
          if (off == 0L) time(store.commit("append", batch))
          else time(store.commitDelta("append", batch))
        tCommitFull += t
        off += n
      }

      val spark = org.apache.spark.sql.SparkSession.builder()
        .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")

      val preds = Seq(Pred.EqualTo("codec", "ulaw"),
        Pred.Between("dur_ms", 120L, 180L))
      val probe = Seq(Pred.EqualTo("clip_id", f"clip_${k * 5000L}%012d"))
      val snap = store.currentSnapshot.get
      val snapshotBytes = Files.size(dir.resolve("meta").resolve(s"snap-${snap.id}.json"))

      // ---- snapshot planning (always): warm once, then measure —
      // planning runs once per QUERY, so warm-JVM cost is representative
      PlanScan.prune(spark, store, snap, probe)
      val (distPoint, tDistPoint) = time(PlanScan.prune(spark, store, snap, probe))
      val (distRange, tDistRange) = time(PlanScan.prune(spark, store, snap, preds))
      val (unpruned, tDistList) = time(PlanScan.prune(spark, store, snap, Nil))
      require(unpruned.kept.size == k.toInt, s"unpruned plan ${unpruned.kept.size} != $k")
      val (ptRows, tPartitionsFold) = time(PlanScan.partitionsFold(spark, store, snap))

      // ---- driver planning tier (K-bounded: materializes every entry) ----
      var tLoad = -1.0; var tPartition = -1.0; var tZonemap = -1.0
      var tPoint = -1.0; var partKeptN = -1; var zoneKeptN = -1; var pointKeptN = -1
      if (driverTier) {
        val (entries, t0) = time(store.entries(store.currentSnapshotId.get))
        tLoad = t0
        require(entries.size == k.toInt, s"${entries.size} != $k")
        val spec = store.partitionSpec.get
        // prunes run once per QUERY — warm JIT is the representative cost
        entries.filter(spec.pruner(preds)); Pruning.keep(entries.take(50000), preds)
        val (partKept, t1) = time(entries.filter(spec.pruner(preds)))
        tPartition = t1; partKeptN = partKept.size
        val (zoneKept, t2) = time(Pruning.keep(partKept, preds))
        tZonemap = t2; zoneKeptN = zoneKept.size
        require(distRange.kept.size == zoneKept.size,
          s"distributed range prune ${distRange.kept.size} != driver ${zoneKept.size}")
        Pruning.keep(entries.take(50000), probe)
        val (pointKept, t3) = time(Pruning.keep(entries, probe))
        tPoint = t3; pointKeptN = pointKept.size
        require(distPoint.kept.map(_.path).sorted == pointKept.map(_.path).sorted,
          "distributed point prune diverged from driver path")
      }

      val add10 = (k until k + 10L).map(synthEntry(_, 0L))
      val (_, tAppendDelta) = time(
        store.commitDelta("append", add10))
      val reused = store.currentSnapshot.get.summary("manifestsReused").toInt

      // compact-shaped partial rewrite: remove 100 files that live in ONE
      // manifest shard (entries are sharded in commit order), add 1 merged
      val victims = (1000L until 1100L).map(synthEntry(_, 1L).path).toSet
      val (_, tPartialRewrite) = time(
        store.commitDelta("compact", Seq(synthEntry(k + 100L, 0L)),
          removedPaths = victims))
      val rewritten = store.currentSnapshot.get.summary("manifestsRewritten").toInt

      val (_, tAsOf) = time(store.snapshotAsOf(System.currentTimeMillis()))
      // full manifest rewrite + branch fork are WHOLE-TABLE driver passes by
      // design (one-time costs, not per-query) — measured in the driver tier
      var tFullRewrite = -1.0; var tBranchFork = -1.0
      var tBranchDelta = -1.0; var tFf = -1.0
      if (driverTier) {
        val (_, t4) = time(store.compactManifests()); tFullRewrite = t4
        val (_, t5) = time(graft.ops.Branches.create(store, "bench")); tBranchFork = t5
        val bstore = graft.ops.Branches.store(store, "bench")
        val addB = (k + 200L until k + 210L).map(synthEntry(_, 0L))
        val (_, t6) = time(bstore.commitDelta("append", addB)); tBranchDelta = t6
        val (ffIds, t7) = time(graft.ops.Branches.fastForward(store, "bench")); tFf = t7
        require(ffIds.size == 1, s"expected 1 replayed commit, got $ffIds")
      }

      // bloom fold probe: 16 shards of real 16 KiB filters — 20% of rows
      // reference dead (rewritten-away) files the fold must drop. Row count
      // is capped (fold cost is rows x 16 KiB of shard IO, reported as
      // MB/s; it extrapolates linearly in shard bytes by construction).
      val bloomFiles = math.min(k, 16000L).toInt
      val perShard = bloomFiles / 16
      val livePathSeq = (0L until bloomFiles * 4L / 5L).map(synthEntry(_, 1L).path)
      val deadPaths = (0 until bloomFiles / 5).map(i => s"/warehouse/clips/data/dead/part-$i.parquet")
      val bloomBytes = {
        val bits = new Array[Long](FileBloom.DefaultBits / 64)
        FileBloom.add(bits, "clip_000000000042")
        FileBloom.pack(bits)
      }
      (0 until 16).foreach { sh =>
        val slice = (livePathSeq ++ deadPaths).drop(sh * perShard).take(perShard)
        FileBloom.writeShard(store, slice.map(_ -> bloomBytes))
      }
      val (foldRes, tBloomFold) = time(FileBloom.compact(spark, store))
      val foldMb = 16.0 * perShard * bloomBytes.length / 1e6

      println(
        f"""{"metric":"meta-scale","files":$k,"shards":${(k + store.manifestShardSize - 1) / store.manifestShardSize},"driver_tier":$driverTier,""" +
        f""""commit_full_ms":$tCommitFull%.1f,""" +
        f""""dist_plan_point_ms":$tDistPoint%.1f,"dist_point_kept":${distPoint.kept.size},""" +
        f""""point_manifests_read":${distPoint.manifestsRead},"snapshot_bytes":$snapshotBytes,""" +
        f""""dist_plan_range_ms":$tDistRange%.1f,"dist_range_kept":${distRange.kept.size},""" +
        f""""dist_list_paths_ms":$tDistList%.1f,""" +
        f""""partitions_fold_ms":$tPartitionsFold%.1f,"partitions":${ptRows.length},""" +
        f""""snapshot_load_ms":$tLoad%.1f,""" +
        f""""prune_partition_ms":$tPartition%.1f,"partition_kept":$partKeptN,""" +
        f""""prune_zonemap_ms":$tZonemap%.1f,"zonemap_kept":$zoneKeptN,""" +
        f""""prune_point_ms":$tPoint%.1f,"point_kept":$pointKeptN,""" +
        f""""append_delta_ms":$tAppendDelta%.1f,"manifests_reused":$reused,""" +
        f""""partial_rewrite_ms":$tPartialRewrite%.1f,"manifests_rewritten":$rewritten,""" +
        f""""asof_ms":$tAsOf%.1f,"manifest_compact_ms":$tFullRewrite%.1f,""" +
        f""""branch_fork_ms":$tBranchFork%.1f,"branch_delta_ms":$tBranchDelta%.1f,""" +
        f""""branch_ff_1commit_ms":$tFf%.1f,""" +
        f""""bloom_fold_ms":$tBloomFold%.1f,"bloom_fold_mb":$foldMb%.1f,""" +
        f""""bloom_rows_kept":${foldRes.rowsKept},"bloom_rows_dropped":${foldRes.rowsDropped}}""")
      spark.stop()
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
      ()
    }
  }
}
