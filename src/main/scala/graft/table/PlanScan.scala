package graft.table

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/**
 * Distributed scan planning: prune manifest shards as a SPARK JOB instead of
 * a driver-side parse of every entry.
 *
 * The driver-side planning tier ([[MetaStore.entries]] parsed on the
 * driver, then [[Pruning.tupleZone]]) is O(table files) in JSON parse +
 * [[DataFile]] materialization per query.
 * At the measured 10^5–10^6-file regime that is seconds of driver time; at
 * the nominal 10^12-row / 10^7-file scale it is the one remaining
 * scale-killer (r4 verdict). Iceberg solves it the same way: manifests are
 * the unit of parallel planning, and each worker evaluates partition + stats
 * pruning over its shard, returning only surviving files.
 *
 * Here the driver holds only the manifest NAME list (O(shards), ~K/10^4) and
 * receives back only the KEPT entries plus aggregate evidence — for a point
 * probe on a clustered/bucketed table that is a handful of files regardless
 * of K. All three elimination tiers run exactly as the driver path does:
 * partition tuples and zonemaps inside the job ([[Pruning.tupleZone]] per
 * shard — the same code, so distributed and driver planning cannot
 * diverge), blooms afterwards on the already-small kept set (the bloom step
 * of [[Pruning.scanDistributed]], itself a Spark job). An unpruned scan
 * ([[MetaStore.scan]]) takes the same job with no predicates.
 *
 * Reference contract: stats-beside-data reads scale with the data volume,
 * not the driver (cursor/src/main/java/cursors/io/ISAMCursor.kt:175-211 —
 * each medium's `.meta` sidecar is read where the medium is). The manifest
 * shard is the sidecar; the executor is "where the medium is".
 *
 * Storage note: shards are read with java.nio against the table dir, the
 * same storage abstraction every other MetaStore path uses (the deployment
 * assumption is a shared filesystem; local[N] shares trivially).
 */
object PlanScan {

  /** O(1) file-count estimate for the threshold decision: every commit
   * records "files" in its summary; a foreign/legacy snapshot without one
   * falls back to shards × shardSize (an upper bound — over-estimating only
   * flips planning to the distributed path early, never changes results). */
  def estimatedFiles(store: MetaStore, snap: Snapshot): Long =
    snap.summary.get("files").flatMap(_.toLongOption)
      .getOrElse(snap.manifests.size.toLong * store.manifestShardSize)

  /** Evidence-carrying result of a distributed prune. `kept` is the only
   * O(files)-bounded piece, and only when the predicate is unselective. */
  final case class PlannedFiles(
      kept: Seq[DataFile],
      filesTotal: Long,
      rowsTotal: Long,
      filesKeptPartition: Long)

  private def planPartitions(spark: SparkSession, nShards: Int): Int =
    math.max(1, math.min(nShards, spark.sparkContext.defaultParallelism * 2))

  private def readShard(metaDir: String, name: String): Seq[DataFile] =
    Json.readManifest(Paths.get(metaDir, name))

  /** Partition-tuple + zonemap pruning of `snap`'s manifests, one task per
   * shard group. Identical keep/skip decisions to the driver path by
   * construction (same [[Pruning.tupleZone]]). Kept entries come back
   * WITHOUT `stats`: pruning has used them, and assembly reads only path,
   * seq and rows — so an unpruned plan ships no more than the paths need. */
  def prune(spark: SparkSession, store: MetaStore, snap: Snapshot,
            preds: Seq[Pred]): PlannedFiles = {
    val names = snap.manifests
    if (names.isEmpty) return PlannedFiles(Nil, 0L, 0L, 0L)
    val metaDir = Paths.get(store.tableDir, "meta").toString
    val spec = store.partitionSpec // case-class tree: serializes into the closure
    val shards = spark.sparkContext
      .parallelize(names, planPartitions(spark, names.size))
      .map { name =>
        val es = readShard(metaDir, name)
        val (partKept, zoneKept) = Pruning.tupleZone(spec, es, preds)
        (zoneKept.map(_.copy(stats = Map.empty)), es.size.toLong,
          es.iterator.map(_.rows).sum, partKept.toLong)
      }
      .collect()
    PlannedFiles(
      shards.iterator.flatMap(_._1).toVector,
      shards.iterator.map(_._2).sum,
      shards.iterator.map(_._3).sum,
      shards.iterator.map(_._4).sum)
  }

  /** Live path set (data + delete files) as a DISTRIBUTED DataFrame — for
   * joins against side-tables (bloom fold) where the paths never need to
   * exist on the driver at all: parse stays in executors, the join consumes
   * the frame directly. */
  def livePathsDF(spark: SparkSession, store: MetaStore,
                  snap: Snapshot): org.apache.spark.sql.DataFrame = {
    val names = snap.manifests ++ snap.deleteManifests
    val metaDir = Paths.get(store.tableDir, "meta").toString
    val rdd =
      if (names.isEmpty) spark.sparkContext.emptyRDD[String]
      else spark.sparkContext
        .parallelize(names, planPartitions(spark, names.size))
        .flatMap(name => readShard(metaDir, name).map(_.path))
    spark.createDataset(rdd)(org.apache.spark.sql.Encoders.STRING)
      .toDF("path")
  }

  /** Of `names` (manifest shards), which contain at least one of `removed`?
   * One task per shard group; `removed` rides a broadcast. Exact — shards
   * are immutable, so membership is a per-shard fact. */
  def touchedShards(spark: SparkSession, store: MetaStore,
                    names: Seq[String], removed: Set[String]): Set[String] = {
    if (names.isEmpty || removed.isEmpty) return Set.empty
    val metaDir = Paths.get(store.tableDir, "meta").toString
    val bc = spark.sparkContext.broadcast(removed)
    try {
      spark.sparkContext
        .parallelize(names, planPartitions(spark, names.size))
        .filter { name =>
          val r = bc.value
          readShard(metaDir, name).exists(e => r.contains(e.path))
        }
        .collect()
        .toSet
    } finally bc.destroy()
  }

  /** One arbitrary entry of the snapshot (schema anchor for the
   * everything-pruned case) — parses shards driver-side until one is
   * non-empty, so the cost is O(one shard) for any non-empty table. */
  def anyEntry(store: MetaStore, snap: Snapshot): Option[DataFile] =
    snap.manifests.iterator
      .flatMap(m => store.readManifestEntries(m).headOption)
      .nextOption()

  /** Distributed partitions-table fold: per-shard partial rollup in
   * executors (each task reduces its shard to at most |distinct tuples|
   * rows), merged on the driver — the map-side-combine shape of the
   * driver-side fold in [[MetaStore.partitionsTable]]. */
  def partitionsFold(spark: SparkSession, store: MetaStore, snap: Snapshot)
      : Seq[(Map[String, String], Long, Long, Long, Long, Long)] = {
    val names = snap.manifests
    if (names.isEmpty) return Nil
    val metaDir = Paths.get(store.tableDir, "meta").toString
    spark.sparkContext
      .parallelize(names, planPartitions(spark, names.size))
      .flatMap { name =>
        readShard(metaDir, name).groupBy(_.partition).iterator.map {
          case (p, fs) =>
            (p, (fs.size.toLong, fs.iterator.map(_.rows).sum,
              fs.iterator.map(_.sizeBytes).sum,
              fs.iterator.map(_.seq).min, fs.iterator.map(_.seq).max))
        }
      }
      .reduceByKey { (a, b) =>
        (a._1 + b._1, a._2 + b._2, a._3 + b._3,
          math.min(a._4, b._4), math.max(a._5, b._5))
      }
      .collect()
      .iterator
      .map { case (p, (nf, nr, nb, lo, hi)) => (p, nf, nr, nb, lo, hi) }
      .toSeq
  }
}
