package graft.table

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

/**
 * Scan planning over a snapshot's manifests: the partition-tuple and
 * zonemap tiers ([[Pruning.tupleZone]]), with each manifest first tested
 * against the summary its snapshot records beside its name
 * ([[ManifestSummary]]).
 *
 * Three steps, cheapest first:
 *  1. Summary skip, on the driver, without opening a manifest. The summary
 *     is expressed as one bounding [[DataFile]] per manifest (and one
 *     single-field tuple per recorded partition value), so the existing
 *     [[Pred.mayMatch]] and [[PartitionSpec.pruner]] decide — there is no
 *     second predicate evaluator. A manifest is skipped only when the
 *     summary proves no entry survives AND fixes the manifest's tuple-tier
 *     survivor count (0: some predicated field has no passing value and is
 *     carried by every entry; the file count: every value of every
 *     predicated field passes, or no spec field sources a predicated
 *     column, and the zonemap test fails on the bound). So `filesTotal`,
 *     `rowsTotal` and `filesKeptPartition` are the same as a full read.
 *  2. The tier choice, [[MetaStore.planDistributed]], made on the
 *     SURVIVING manifests' file count: a point probe on a range-clustered
 *     table is left with one or two manifests, and plans on the driver.
 *  3. The survivors are parsed — on the driver below the threshold, else
 *     as a Spark job, one task per shard group (Iceberg's parallel
 *     planning). Both run the same [[Pruning.tupleZone]], so the tiers
 *     cannot diverge. The job returns only the kept entries (stats
 *     dropped) plus counts.
 *
 * The bloom tier runs afterwards on the already-small kept set
 * ([[Pruning.scanPlanned]]). An unpruned scan ([[MetaStore.scan]]) takes
 * the same path with no predicates, which skips nothing.
 *
 * Reference contract: the reference reaches a medium's data through the
 * ranges of its `.meta` sidecar before it opens the medium
 * (cursor/src/main/java/cursors/io/ISAMCursor.kt:175-211). Here the
 * manifest is the sidecar and its summary the range.
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

  /** Evidence-carrying result of a prune. `kept` is the only
   * O(files)-bounded piece, and only when the predicate is unselective.
   * `manifestsRead` = manifests opened; the others were skipped by their
   * summary. */
  final case class PlannedFiles(
      kept: Seq[DataFile],
      filesTotal: Long,
      rowsTotal: Long,
      filesKeptPartition: Long,
      manifestsRead: Int)

  private def planPartitions(spark: SparkSession, nShards: Int): Int =
    math.max(1, math.min(nShards, spark.sparkContext.defaultParallelism * 2))

  private def readShard(metaDir: String, name: String): Seq[DataFile] =
    Json.readManifest(Paths.get(metaDir, name))

  /** The summary test of step 1: Some(the manifest's tuple-tier survivor
   * count) when `s` proves that no entry survives both tiers and fixes that
   * count; None = the manifest must be read. */
  private def summarySkip(spec: Option[PartitionSpec],
                          preds: Seq[Pred]): ManifestSummary => Option[Long] = {
    val fields = spec.fold(Seq.empty[PartField])(
      _.fields.filter(f => preds.exists(_.column == f.source)))
    val tuplePass = spec.fold((_: DataFile) => true)(_.pruner(preds))
    s => {
      // per predicated field: Some(true) = every entry passes it, Some(false)
      // = none does, None = mixed or unknown (values past the cap)
      val verdicts = fields.map { f =>
        if (s.overCap.contains(f.name)) None
        else s.partitions.get(f.name) match {
          case None => Some(true) // no entry carries it: the tuple tier keeps all
          case Some(p) =>
            val ok = p.values.map(v =>
              tuplePass(DataFile("", 0L, 0L, Map.empty, partition = Map(f.name -> v))))
            if (ok.forall(identity)) Some(true)
            else if (!p.missing && !ok.contains(true)) Some(false)
            else None
        }
      }
      if (verdicts.contains(Some(false))) Some(0L)
      else if (verdicts.forall(_.contains(true)) && !preds.forall(_.mayMatch(s.bound)))
        Some(s.files)
      else None
    }
  }

  /** Summary skip, tier choice on the survivors, then partition-tuple +
   * zonemap pruning of the surviving manifests (see the object doc). Kept
   * entries come back WITHOUT `stats` from the job tier: pruning has used
   * them, and assembly reads only path, seq and rows — so an unpruned plan
   * ships no more than the paths need. */
  def prune(spark: SparkSession, store: MetaStore, snap: Snapshot,
            preds: Seq[Pred]): PlannedFiles = {
    val spec = store.partitionSpec // case-class tree: serializes into the closure
    val skip = summarySkip(spec, preds)
    val decided = snap.manifests.map(m => m -> snap.manifestSummaries.get(m).flatMap(skip))
    val survivors = decided.collect { case (m, None) => m }
    val skipped = decided.collect { case (m, Some(partKept)) =>
      (snap.manifestSummaries(m), partKept) }
    // surviving manifests without a summary count together as the part of
    // the snapshot's file count that its summaries leave unaccounted for
    val known = survivors.flatMap(snap.manifestSummaries.get)
    val survivingFiles = known.iterator.map(_.files).sum +
      (if (known.size == survivors.size) 0L
       else math.max(0L, estimatedFiles(store, snap) -
         snap.manifestSummaries.valuesIterator.map(_.files).sum))
    val metaDir = Paths.get(store.tableDir, "meta").toString
    def plan(es: Seq[DataFile]): (Seq[DataFile], Long, Long, Long) = {
      val (partKept, zoneKept) = Pruning.tupleZone(spec, es, preds)
      (zoneKept, es.size.toLong, es.iterator.map(_.rows).sum, partKept.toLong)
    }
    val shards =
      if (survivors.isEmpty) Nil
      else if (!store.planDistributed(survivingFiles))
        survivors.map(m => plan(readShard(metaDir, m)))
      else spark.sparkContext
        .parallelize(survivors, planPartitions(spark, survivors.size))
        .map { m =>
          val (kept, files, rows, partKept) = plan(readShard(metaDir, m))
          (kept.map(_.copy(stats = Map.empty)), files, rows, partKept)
        }
        .collect().toSeq
    PlannedFiles(
      shards.iterator.flatMap(_._1).toVector,
      shards.iterator.map(_._2).sum + skipped.iterator.map(_._1.files).sum,
      shards.iterator.map(_._3).sum + skipped.iterator.map(_._1.rows).sum,
      shards.iterator.map(_._4).sum + skipped.iterator.map(_._2).sum,
      survivors.size)
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
