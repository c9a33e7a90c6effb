package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths}
import java.util.UUID

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Filesystem-backed snapshot store with atomic commits.
 *
 * Layout:
 * {{{
 *   <tableDir>/data/<snapshotTag>/...parquet   data files (immutable once committed)
 *   <tableDir>/meta/snap-<id>.json             snapshot log: a claimed id is a commit
 *   <tableDir>/meta/manifest-<id>-<uuid>.json  file lists + stats
 *   <tableDir>/meta/HINT, FLOOR                where head lookup starts (MetaLog)
 *   <tableDir>/meta/lineage/<uuid>.jsonl       lineage/metrics rows, one file per op
 *   <tableDir>/meta/checkpoints/<runId>/       per-item completion markers
 * }}}
 *
 * The snapshot log is a [[MetaLog]]: a commit is the create-once claim of
 * `snap-<parent+1>.json`, and the hint written after it may lag
 * (SURVEY.md §7.5 risk item). Data
 * files are never mutated — maintenance writes new files and commits a new
 * snapshot, so a reader holding a snapshot id sees a frozen file list
 * (snapshot isolation). This is the engine analog of the reference's
 * immutable/idempotent access doctrine (reference README.md:128-132).
 */
class MetaStore(val tableDir: String, val statsColumns: Seq[String],
                dataRootOverride: Option[String] = None) {

  /** Key column to build per-file bloom filters for (point-lookup pruning,
   * [[FileBloom]]); default = the leading stats column (the table key).
   * None disables bloom maintenance. */
  var bloomColumn: Option[String] = statsColumns.headOption

  /** False when this store writes into ANOTHER table's data directory
   * (a branch store, [[graft.ops.Branches]]): its snapshot log shares data
   * files with the owning table, so GC actions must never delete data files
   * through this handle — [[graft.ops.ExpireSnapshots]] skips file deletion
   * and [[graft.ops.RemoveOrphans]] refuses outright. */
  def ownsData: Boolean = dataRootOverride.isEmpty

  private val metaDir: JPath = Paths.get(tableDir, "meta")
  private val dataDir: JPath =
    dataRootOverride.map(Paths.get(_)).getOrElse(Paths.get(tableDir, "data"))
  Files.createDirectories(metaDir)
  Files.createDirectories(dataDir)
  Files.createDirectories(metaDir.resolve("lineage"))
  Files.createDirectories(metaDir.resolve("checkpoints"))

  private[graft] val log = new MetaLog(metaDir, "snap-")

  def currentSnapshotId: Option[Long] = log.head

  private def parseSnapshot(bytes: Array[Byte]): Snapshot =
    Json.readSnapshot(new String(bytes, StandardCharsets.UTF_8))

  def snapshot(id: Long): Snapshot = parseSnapshot(log.read(id))

  def currentSnapshot: Option[Snapshot] = log.latest.map(h => parseSnapshot(h._2))

  def allSnapshotIds: Seq[Long] = log.versions

  def entries(snapshotId: Long): Seq[DataFile] = entriesOf(snapshot(snapshotId))

  private def entriesOf(snap: Snapshot): Seq[DataFile] =
    snap.manifests.flatMap(m => Json.readManifest(metaDir.resolve(m)))

  /** Equality-delete files live for `snapshotId` (empty = no deletes). Each
   * entry's parquet holds key values; `seq` = the delete's commit id. */
  def deleteEntries(snapshotId: Long): Seq[DataFile] =
    deleteEntriesOf(snapshot(snapshotId))

  private def deleteEntriesOf(snap: Snapshot): Seq[DataFile] =
    snap.deleteManifests.flatMap(m => Json.readManifest(metaDir.resolve(m)))

  /** Snapshot-isolated scan: the file list is frozen at commit time. It is
   * [[scanPruned]] with no predicates — the one read path, so deletes are
   * applied, evolved columns read under the declared schema with per-era
   * defaults (every maintenance rewrite reading through here MATERIALIZES
   * them into its output files), and planning picks its tier by
   * [[planDistributed]]. */
  def scan(spark: SparkSession, snapshotId: Long): DataFrame =
    scanPruned(spark, snapshotId, Nil).df

  /** Zero-row frame that still CARRIES THE TABLE SCHEMA when any historical
   * data file is reachable (footer-only read under a constant-false filter)
   * — so `scan().filter(col(...))` keeps working after an operation empties
   * the table (e.g. a whole-table partition-drop delete). A table that
   * never held data falls back to a schemaless empty frame. */
  private[graft] def emptyLike(spark: SparkSession): DataFrame = {
    // an evolution list declares the schema outright (a raw historical file
    // would carry its ERA's physical layout — pre-rename names, dropped
    // columns); without one any reachable file's footer is authoritative
    val evos = graft.ops.Evolve.evolutions(this)
    if (evos.nonEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.DataType.fromJson(evos.last.schemaAfterJson)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
    val anyFile = allSnapshotIds.reverseIterator
      .flatMap(id => entries(id).iterator)
      .find(e => Files.exists(Paths.get(e.path)))
    anyFile match {
      case Some(e) => spark.read.parquet(e.path).filter(lit(false))
      case None => spark.emptyDataFrame
    }
  }

  def scanCurrent(spark: SparkSession): DataFrame =
    scan(spark, currentSnapshotId.getOrElse(sys.error(s"$tableDir: no current snapshot")))

  /** Time travel by wall clock: the newest snapshot committed at or before
   * `tsMs` (expired history is gone — pin a tag for durable reads). */
  def snapshotAsOf(tsMs: Long): Long = {
    val ids = allSnapshotIds.filter(id => snapshot(id).timestampMs <= tsMs)
    if (ids.isEmpty) sys.error(s"$tableDir: no snapshot at or before $tsMs")
    ids.max
  }

  def scanAsOf(spark: SparkSession, tsMs: Long): DataFrame =
    scan(spark, snapshotAsOf(tsMs))

  /** Above this many files (estimated O(1) from the snapshot summary),
   * scan PLANNING runs as a Spark job over manifest shards instead of a
   * driver-side parse of every entry ([[PlanScan]]). Default 100k files
   * ≈ a 12 TB table at 128 MB files — below it the driver parse is
   * single-digit-ms and job overhead would dominate; above it driver
   * planning time stays ~flat in K instead of linear. Overridable per
   * store, or process-wide via -Dgraft.plan.distributedThreshold. */
  var distributedPlanThreshold: Long =
    sys.props.get("graft.plan.distributedThreshold").map(_.toLong)
      .getOrElse(100000L)

  /** The one tier-selection rule: plan `files` data files as a Spark job?
   * Scan planning ([[PlanScan.prune]]) asks it with the file count of the
   * manifests its summaries did not skip; partitionsTable and
   * FileBloom.compact, which read every manifest, with the snapshot's. A
   * drifted copy of the predicate would silently plan on the wrong tier. */
  def planDistributed(files: Long): Boolean = files >= distributedPlanThreshold

  def planDistributed(snap: Snapshot): Boolean =
    planDistributed(PlanScan.estimatedFiles(this, snap))

  /** The one way a snapshot is read: skip whole manifests their summaries
   * rule out, then whole data files that the partition tuple, zonemap or
   * bloom tiers prove cannot match `preds` (see [[PlanScan]], [[Pruning]]),
   * then read the rest delete- and evolution-aware; result rows are
   * identical to `scan(...).filter(Pred.and(preds))` by construction. */
  def scanPruned(spark: SparkSession, snapshotId: Long,
                 preds: Seq[Pred]): PrunedScan =
    Pruning.scanPlanned(spark, this, snapshotId, snapshot(snapshotId), preds)

  def scanCurrentPruned(spark: SparkSession, preds: Seq[Pred]): PrunedScan =
    scanPruned(spark,
      currentSnapshotId.getOrElse(sys.error(s"$tableDir: no current snapshot")), preds)

  /**
   * Metadata-only aggregate: row count and per-column min/max answered from
   * the MANIFEST alone — zero data files opened. The lakehouse classic
   * (Iceberg answers count(*)/min/max from manifests the same way); at
   * 100 TB this turns a full-table aggregate into a driver-side fold over
   * file entries. Only exact when no entry has nulls in `column` beyond the
   * recorded nullCount semantics: min/max stats ignore nulls, matching SQL
   * aggregate semantics.
   *
   * Refuses under LIVE equality deletes: manifest row counts include rows a
   * delete file masks, so the fold would silently over-count (Iceberg
   * disables count(*) pushdown under delete files for the same reason).
   * Retire the debt first ([[graft.ops.Deletes.materialize]] /
   * `expireInert`) or aggregate through a scan.
   */
  def statsAggregate(snapshotId: Long, column: String): (Long, Option[Long], Option[Long]) = {
    require(deleteEntries(snapshotId).isEmpty,
      s"statsAggregate: snapshot $snapshotId carries live equality deletes; " +
        "manifest counts would over-count masked rows (materialize deletes first)")
    val es = entries(snapshotId)
    val rows = es.map(_.rows).sum
    // min/max only when EVERY file carries a numeric stat for the column:
    // a file without one (written before an add/rename evolution, or with
    // non-numeric stats) may hold rows outside the partial range, so a
    // skip-the-gaps aggregate would be confidently wrong — None says
    // "recompute from data", never a narrower-than-true answer
    val mins = es.map(_.statLong(column, lower = true))
    val maxs = es.map(_.statLong(column, lower = false))
    (rows,
      if (es.isEmpty || mins.exists(_.isEmpty)) None else Some(mins.flatten.min),
      if (es.isEmpty || maxs.exists(_.isEmpty)) None else Some(maxs.flatten.max))
  }

  // ---- hidden partitioning ----
  private def specPath = metaDir.resolve("partition-spec.json")

  /** The table's hidden-partition spec, if declared ([[Partitioning]]). */
  def partitionSpec: Option[PartitionSpec] =
    if (Files.exists(specPath))
      Some(Json.mapper.readValue[PartitionSpec](
        new String(Files.readAllBytes(specPath), StandardCharsets.UTF_8)))
    else None

  /** Declare (or additively evolve) the partition spec. Existing field
   * names must keep their exact definition — files already carry tuples
   * under those names and the pruner trusts them; NEW fields only apply to
   * files written afterwards (older files lack the tuple entry and are
   * kept conservatively, the Iceberg spec-evolution rule). */
  def setPartitionSpec(spec: PartitionSpec): Unit = {
    partitionSpec.foreach { old =>
      val byName = old.fields.map(f => f.name -> f).toMap
      spec.fields.foreach { f =>
        byName.get(f.name).foreach { prev =>
          require(prev == f,
            s"partition field '${f.name}' already declared as $prev; " +
              "field definitions are immutable (add a new name instead)")
        }
      }
    }
    MetaFs.replace(specPath, Json.write(spec).getBytes(StandardCharsets.UTF_8))
  }

  /** Write a batch under `dir` honoring the partition spec when one is
   * declared (one tuple per output file, tuple in the path) — the write
   * path for every op that doesn't manage its own layout. */
  def writeData(df: DataFrame, dir: String): Unit = partitionSpec match {
    case Some(spec) => spec.write(df, dir)
    case None => df.write.mode("overwrite").parquet(dir)
  }

  // ---- declared sort order ----
  private def sortOrderPath = metaDir.resolve("sort-order.json")

  /** The table's declared cluster order, if any ([[SortOrder]]). */
  def sortOrder: Option[SortOrder] =
    if (Files.exists(sortOrderPath))
      Some(Json.mapper.readValue[SortOrder](
        new String(Files.readAllBytes(sortOrderPath), StandardCharsets.UTF_8)))
    else None

  /** Declare (or replace — unlike partition fields, a sort order carries no
   * per-file state, so redeclaring is always safe: the next cluster pass
   * simply rewrites toward the new order) the table's cluster order. */
  def setSortOrder(order: SortOrder): Unit = {
    require(order.rangeCols.nonEmpty,
      "sort order needs at least one range column (it is also the decay-trigger column)")
    require(Set("zorder", "hilbert")(order.curve),
      s"unknown curve '${order.curve}' (zorder|hilbert)")
    MetaFs.replace(sortOrderPath, Json.write(order).getBytes(StandardCharsets.UTF_8))
  }

  // ---- metadata tables (Iceberg's table$files / table$snapshots analog) ----

  /** One row per data file of `snapshotId`: path, rows, size, sequence
   * number, partition tuple (map), and per-column stats (map of structs) —
   * the manifest AS a DataFrame, so layout questions ("rows per partition
   * tuple", "files under 10 MB", "min/max drift per column") are plain
   * Spark queries instead of driver loops. Driver-side construction is
   * O(files) — the same cost any metadata read pays. */
  def filesTable(spark: SparkSession, snapshotId: Long): DataFrame = {
    import org.apache.spark.sql.Encoders
    spark.createDataset(entries(snapshotId))(Encoders.product[DataFile]).toDF()
  }

  def filesTableCurrent(spark: SparkSession): DataFrame =
    filesTable(spark,
      currentSnapshotId.getOrElse(sys.error(s"$tableDir: no current snapshot")))

  /** One row per retained snapshot: id, parent, timestamp, operation,
   * manifest names, summary map, delete manifests — the history log AS a
   * DataFrame (ops/rows/bytes trends, commit cadence, operation mix). */
  def snapshotsTable(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.Encoders
    spark.createDataset(allSnapshotIds.map(snapshot))(
      Encoders.product[Snapshot]).toDF()
  }

  /** One row per partition tuple of `snapshotId`: file/row/byte totals and
   * the seq range — Iceberg's `table$partitions` analog, answered from the
   * manifest alone (zero data IO). Files written without tuple
   * reconstruction group under the empty tuple; `max_seq - min_seq` spread
   * per tuple is the per-partition compaction-debt signal
   * [[graft.ops.AutoMaintain]] reads file-wise. */
  def partitionsTable(spark: SparkSession, snapshotId: Long): DataFrame = {
    // folded DRIVER-side over the already-loaded manifest entries: routing
    // the rollup through filesTable() single-thread-encodes every DataFile
    // into Catalyst rows first (measured 23.5 s at 10^6 entries in
    // bench/MetaScale) only to reduce them to ~|partitions| rows; the plain
    // Scala fold is one O(K) pass and only the tiny aggregate is encoded.
    // Above the planning threshold the fold runs per-shard in executors
    // (map-side combine to ~|partitions| rows each) — same rollup, no
    // driver entry list.
    val snap = snapshot(snapshotId)
    val rows =
      if (planDistributed(snap))
        PlanScan.partitionsFold(spark, this, snap)
      else entries(snapshotId).groupBy(_.partition).map { case (p, fs) =>
        (p, fs.size.toLong, fs.map(_.rows).sum, fs.map(_.sizeBytes).sum,
          fs.map(_.seq).min, fs.map(_.seq).max)
      }.toSeq
    import org.apache.spark.sql.Encoders
    spark.createDataset(rows)(
      Encoders.product[(Map[String, String], Long, Long, Long, Long, Long)])
      .toDF("partition", "n_files", "n_rows", "total_bytes",
        "min_seq", "max_seq")
  }

  def partitionsTableCurrent(spark: SparkSession): DataFrame =
    partitionsTable(spark,
      currentSnapshotId.getOrElse(sys.error(s"$tableDir: no current snapshot")))

  /** Fresh output directory for one maintenance pass. */
  def newDataDir(tag: String): String = {
    val d = dataDir.resolve(s"$tag-${UUID.randomUUID().toString.take(8)}")
    Files.createDirectories(d)
    d.toString
  }

  /**
   * Collect manifest entries for every parquet file under `dir` (recursive):
   * per-file row count and min/max/nullCount for `statsColumns`, plus the
   * per-file key bloom ([[FileBloom]]), in ONE map-only Spark job with no
   * shuffle. Each task opens its files with parquet-mr ([[FileStats]]):
   * rows and integral/UTF-8 bounds come from the footers the writer filled
   * (Iceberg writers likewise record column metrics instead of rescanning);
   * other types, and the bloom key, are decoded from their column chunks
   * alone, never the payload. Each task writes its (path, bloom) rows as
   * one parquet file into a staging shard, which the driver moves into
   * `meta/blooms/` in one atomic rename after the job. Entries are sorted
   * by path; zero-row files are left out. Each carries `seq` 0 and
   * `schemaId` -1, for the commit to stamp.
   */
  def collectStats(spark: SparkSession, dir: String): Seq[DataFile] = {
    val files = FileStats.dataFiles(Paths.get(dir))
    // a PARTITIONED write of an empty batch produces zero files (the
    // dynamic-partition writer has no tuple to open a file for, unlike the
    // plain writer's schema-bearing empty part file) — an empty append
    // commits zero entries and writes no shard
    if (!files.exists(_.endsWith(".parquet"))) return Seq.empty
    val staged = bloomColumn.map(_ => FileBloom.newStaging(this))
    val cols = statsColumns
    val key = bloomColumn
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val stagedDir = staged.map(_.toString)
    try {
      val entries = spark.sparkContext
        .parallelize(files, math.min(files.size, spark.sparkContext.defaultParallelism))
        .mapPartitionsWithIndex { (i, it) =>
          FileStats.collect(it.toSeq, cols, key, tz,
            stagedDir.map(d => s"$d/part-$i.parquet")).iterator
        }.collect()
      staged.foreach(FileBloom.publish(this, _))
      entries.toSeq.sortBy(_.path)
    } finally staged.foreach(MetaFs.deleteTree) // gone once published
  }

  def normalizePath(p: String): String = MetaStore.decodePath(p)

  /** Max data-file entries per manifest shard. One giant JSON manifest
   * makes the driver's commit/read O(table files) in a single blob — at
   * 10^12 rows (~10^5-10^6 files at 128 MB) that is the known Iceberg
   * bottleneck Iceberg shards manifests for. Sharding keeps each manifest
   * bounded; `entries()` already concatenates over `snap.manifests`. */
  var manifestShardSize: Int = 10000

  /**
   * Atomically commit a new snapshot holding exactly `entries`.
   * Returns the new snapshot id.
   *
   * Cross-PROCESS safe: the commit IS the create-once claim of
   * `snap-<parent+1>.json` ([[MetaLog.append]], parent = the head at entry).
   * Of N writers racing from one base exactly one wins; every loser, and a
   * writer with a stale base, gets [[ConcurrentCommitException]] and may
   * re-read + retry. Ids stay CONTIGUOUS with `parentId == id - 1`, which
   * [[graft.streaming.ChangeFeed]]'s retention-gap detection relies on.
   */
  /** @param deletes equality-delete entries for the NEW snapshot:
   *   `None` (the default) inherits the parent's delete manifests verbatim —
   *   the right behavior for every op that doesn't touch deletes (append,
   *   compact with carried files, merge, evolve): rewritten files get a new
   *   `seq` above every delete so deletes are inert on them, while
   *   carried-over files keep their old `seq` and stay covered.
   *   `Some(xs)` writes a fresh delete-manifest set (add a delete, expire
   *   inert ones, restore a rollback target's set). */
  def commit(operation: String, entries: Seq[DataFile],
             summary: Map[String, String] = Map.empty,
             deletes: Option[Seq[DataFile]] = None,
             expectedParent: Option[Long] = None): Long = synchronized {
    val (parent, parentSnap, parentNonce) = headFor(expectedParent)
    val id = parent.max(0L) + 1L
    // stamp data sequence numbers: an entry carried from an older snapshot
    // arrives with its original seq (> 0, from the manifest) and keeps it; a
    // NEW entry (collectStats constructs seq = 0) gets this commit's id —
    // unless the parent already tracked the path (legacy seq-0 manifests
    // stay 0 = oldest, conservatively covered by every delete)
    lazy val parentSeq: Map[String, Long] =
      parentSnap.fold(Map.empty[String, Long])(
        entriesOf(_).map(e => e.path -> e.seq).toMap)
    val stamped = entries.map { e =>
      stampEra(if (e.seq > 0L) e else e.copy(seq = parentSeq.getOrElse(e.path, id)),
        parentSnap)
    }
    val shards = if (stamped.isEmpty) Seq(stamped) else
      stamped.grouped(manifestShardSize).toSeq
    val manifests = shards.map(writeManifest(id, _))
    publish(operation, parent, parentNonce, id, manifests.map(_._1), manifests.toMap,
      manifests.map(_._1), deleteManifestNames(parentSnap, id, deletes),
      deletes.isDefined, evolutionsOf(parentSnap),
      summary ++ Map("files" -> stamped.size.toString,
                     "rows" -> stamped.map(_.rows).sum.toString,
                     "bytes" -> stamped.map(_.sizeBytes).sum.toString))
  }

  /**
   * O(churn) commit: reuse every parent manifest untouched by the change —
   * the Iceberg manifest-reuse discipline. `commit` rewrites the COMPLETE
   * file list (O(table files) of driver JSON per commit — fine for full
   * rewrites like a cluster pass, ruinous for a streaming append against
   * 10^5-10^6 files); this publishes a snapshot as parent manifests minus
   * `removedPaths` plus a fresh manifest for `added`:
   *
   *  - pure append / metadata-only op (`removedPaths` empty): NO parent
   *    manifest is read or rewritten — commit cost is O(added), manifests
   *    shared structurally with the parent;
   *  - partial rewrite (compact/merge): only manifests CONTAINING a removed
   *    path are rewritten (minus those paths); disjoint shards are reused.
   *
   * Shared manifests are immutable and GC'd by name-set difference
   * (ExpireSnapshots), same as shared data files. Many delta commits
   * accumulate small manifests; [[compactManifests]] re-shards.
   *
   * @param deletes REPLACE the delete-file set wholesale (rewrites /
   *   rollback / retirement). The caller planned that set against a specific
   *   parent — pass `expectedParent` alongside, or an interleaved delete
   *   commit is silently clobbered.
   * @param addedDeletes APPEND these delete files to the parent's live set,
   *   stamped `seq` = this commit's id, with the carry-forward read INSIDE
   *   the commit section. Callers must NOT pre-read the parent's delete set
   *   or pre-stamp seq themselves: between that read and the commit another
   *   writer can land, and the stale union either loses the interleaved
   *   delete or stamps a seq below the actual id (uncovered rows). On an
   *   empty table they are dropped — there is nothing older to mask.
   * @param expectedParent optimistic-concurrency check: throw
   *   [[ConcurrentCommitException]] (retryable) if the current snapshot is
   *   no longer this — for commits whose removedPaths / delete set were
   *   planned from a read of that snapshot.
   * @param evolutions the new snapshot's evolution list, replacing the
   *   parent's (an evolve commit: [[graft.ops.Evolve]]); pass
   *   `expectedParent` alongside, for the same reason as with `deletes`.
   */
  def commitDelta(operation: String, added: Seq[DataFile],
                  removedPaths: Set[String] = Set.empty,
                  summary: Map[String, String] = Map.empty,
                  deletes: Option[Seq[DataFile]] = None,
                  addedDeletes: Seq[DataFile] = Nil,
                  expectedParent: Option[Long] = None,
                  evolutions: Option[Seq[Evolution]] = None): Long = synchronized {
    require(deletes.isEmpty || addedDeletes.isEmpty,
      "commitDelta: pass deletes (replace) or addedDeletes (append), not both")
    // the parent descriptor is read ONCE per commit and passed down
    val (parent, parentSnap, parentNonce) = headFor(expectedParent)
    val id = parent.max(0L) + 1L
    val effDeletes: Option[Seq[DataFile]] = parentSnap match {
      case Some(p) if addedDeletes.nonEmpty =>
        Some(deleteEntriesOf(p) ++
          addedDeletes.map(d => if (d.seq > 0L) d else d.copy(seq = id)))
      case _ => deletes
    }
    val stampedAdded =
      added.map(e => stampEra(if (e.seq > 0L) e else e.copy(seq = id), parentSnap))
    val parentManifests = parentSnap.fold(Seq.empty[String])(_.manifests)
    var removedRows = 0L; var removedBytes = 0L; var removedFiles = 0L
    // ONE JSON parse per parent manifest: classify and rewrite in the same
    // pass (a second read per touched shard doubled the dominant cost of a
    // partial rewrite at the 10^5-file regime — measured by MetaScale)
    val reused = Seq.newBuilder[String]
    val rewritten = Seq.newBuilder[(String, ManifestSummary)]
    var rewrittenCount = 0
    // path-set fast path: a cached shard containing none of the removed
    // paths is reused by name without a JSON parse (exact, not a summary).
    // Above the planning threshold, UNCACHED shards are classified by a
    // Spark job instead of a driver parse-all (PlanScan.touchedShards —
    // at 10^7 entries a cold/over-budget cache made every partial rewrite
    // parse 1000 shards driver-side, 14 s measured in MetaScale); the
    // driver then parses only the touched shards. Opportunistic: without
    // an active session (pure-metadata callers) the driver parse stands.
    val jobClassified: Option[Set[String]] =
      if (removedPaths.nonEmpty &&
          parentManifests.size.toLong * manifestShardSize >= distributedPlanThreshold)
        org.apache.spark.sql.SparkSession.getActiveSession
          .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
          .map { spark =>
            val unknown = parentManifests.filter(m => manifestPathSets.get(m) == null)
            PlanScan.touchedShards(spark, this, unknown, removedPaths)
          }
      else None
    def mayContainRemoved(m: String): Boolean =
      manifestPathSets.get(m) match {
        case null => jobClassified match {
          case Some(touched) => touched.contains(m) // job-exact
          case None => true // unknown shard: must parse
        }
        case s => removedPaths.exists(s.contains)
      }
    parentManifests.foreach { m =>
      if (removedPaths.isEmpty || !mayContainRemoved(m)) reused += m
      else {
        val es = readManifestEntries(m)
        if (es.forall(e => !removedPaths.contains(e.path))) reused += m
        else {
          rewrittenCount += 1
          val kept = es.filter { e =>
            val out = removedPaths.contains(e.path)
            if (out) { removedRows += e.rows; removedBytes += e.sizeBytes; removedFiles += 1 }
            !out
          }
          if (kept.nonEmpty) rewritten += writeManifest(id, kept)
        }
      }
    }
    val reusedNames = reused.result()
    val own = rewritten.result() ++
      stampedAdded.grouped(manifestShardSize).map(writeManifest(id, _))
    // a reused manifest keeps the summary its parent recorded, unparsed
    // (none under a legacy parent: every plan then reads the manifest)
    val reusedSummaries = parentSnap.fold(Map.empty[String, ManifestSummary])(p =>
      reusedNames.flatMap(m => p.manifestSummaries.get(m).map(m -> _)).toMap)
    // totals incrementally from the parent's recorded summary (avoids the
    // O(table) manifest read the delta commit exists to skip)
    lazy val parentEntries = parentSnap.fold(Seq.empty[DataFile])(entriesOf)
    def parentCount(k: String): Long = parentSnap.fold(0L) { p =>
      p.summary.get(k).flatMap(_.toLongOption).getOrElse(k match {
        case "files" => parentEntries.size.toLong
        case "rows" => parentEntries.map(_.rows).sum
        case _ => parentEntries.map(_.sizeBytes).sum
      })
    }
    publish(operation, parent, parentNonce, id, reusedNames ++ own.map(_._1),
      reusedSummaries ++ own, own.map(_._1),
      deleteManifestNames(parentSnap, id, effDeletes),
      effDeletes.isDefined, evolutions.getOrElse(evolutionsOf(parentSnap)),
      summary ++ Map(
        "files" -> (parentCount("files") - removedFiles + stampedAdded.size).toString,
        "rows" -> (parentCount("rows") - removedRows + stampedAdded.map(_.rows).sum).toString,
        "bytes" -> (parentCount("bytes") - removedBytes + stampedAdded.map(_.sizeBytes).sum).toString,
        "manifestsReused" -> reusedNames.size.toString,
        "manifestsRewritten" -> rewrittenCount.toString))
  }

  /** Re-shard the current snapshot's manifests into full-size shards
   * (metadata-only): many delta commits leave one small manifest each; this
   * folds them back to ceil(files / manifestShardSize) shards. Returns
   * (new snapshot id, manifests before, after). */
  def compactManifests(): (Long, Int, Int) = MetaStore.withCommitRetry() {
    val cur = currentSnapshotId.getOrElse(sys.error(s"$tableDir: no current snapshot"))
    val snap = snapshot(cur)
    val before = snap.manifests.size
    // CAS on the snapshot whose full entry list we serialized: without it an
    // append landing between entries(cur) and the commit would be silently
    // clobbered by this stale re-shard (retry re-reads and re-shards)
    val id = commit("rewrite-manifests", entriesOf(snap),
      Map("manifestsBefore" -> before.toString),
      expectedParent = Some(cur))
    (id, before, snapshot(id).manifests.size)
  }

  /** Seed an EMPTY store with `from`'s snapshot `snapshotId`, kept under the
   * SAME id — the zero-copy branch fork ([[graft.ops.Branches]]): entries
   * (and the equality-delete set) point at `from`'s files with their data
   * sequence numbers carried verbatim. Preserving the id matters twice:
   * every carried seq is ≤ `snapshotId`, so fork-local commits (minted at
   * `snapshotId + 1`, `+2`, …) stay strictly above them — the invariant
   * equality-delete coverage (`seq < delete.seq`) relies on — and a
   * fast-forward replay onto the parent lines up id-for-id, keeping one
   * coherent sequence space across both logs. The fork carries `from`'s
   * current evolution list, and each entry its era as `from` reads it
   * ([[graft.ops.Evolve.eraOf]]), so the branch reads no legacy record. */
  def seedFork(from: MetaStore, snapshotId: Long): Long = synchronized {
    require(currentSnapshotId.isEmpty, s"$tableDir: seedFork on a non-empty store")
    val source = from.snapshot(snapshotId)
    val evos = graft.ops.Evolve.evolutions(from)
    val era = graft.ops.Evolve.eraOf(from)
    val es = from.entriesOf(source).map(e => e.copy(schemaId = era(e)))
    val shards = if (es.isEmpty) Seq(es) else es.grouped(manifestShardSize).toSeq
    val manifests = shards.map(writeManifest(snapshotId, _))
    val dels = from.deleteEntriesOf(source)
    publish("branch-fork", -1L, null, snapshotId, manifests.map(_._1), manifests.toMap,
      manifests.map(_._1),
      deleteManifestNames(None, snapshotId, if (dels.isEmpty) None else Some(dels)),
      dels.nonEmpty, evos,
      Map("forkOf" -> from.tableDir, "forkSnapshot" -> snapshotId.toString,
        "files" -> es.size.toString, "rows" -> es.map(_.rows).sum.toString,
        "bytes" -> es.map(_.sizeBytes).sum.toString))
  }

  /** Manifest and delete-manifest shards are IMMUTABLE per name, so each
   * one's path SET can be cached the first time it is written or parsed
   * (GC reachability reads it through [[manifestPaths]]); a partial rewrite then
   * reuses every shard containing none of the removed paths WITHOUT
   * parsing its JSON. (Classifying a removal by each shard's [min,max]
   * range of PATHS was tried first and is useless under hidden
   * partitioning: the codec/window path segments interleave within every
   * shard, so every path range spans the whole path space. The snapshot's
   * stats summaries, [[ManifestSummary]], bound column values, not paths.)
   * The sets hold REFERENCES to the entry path strings (~40 B/path
   * of overhead), capped globally; past the cap a shard simply stays
   * uncached and is parsed — the cache is never a correctness input.
   * Cold-cache commits (a fresh driver) parse everything once and are
   * cached from then on — the long-lived maintenance-loop driver pays
   * O(touched shards) per partial rewrite, not O(table shards)
   * (MetaScale measured parse-all at 3.7-5.5 s per rewrite at 10^6
   * entries). */
  private[graft] val manifestPathSets =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.HashSet[String]]()
  private[graft] val manifestPathSetBudget = new java.util.concurrent.atomic.AtomicLong(4000000L)

  /** Reserve budget, build, publish via putIfAbsent. Every reservation that
   * does NOT end with this thread's set living in the map is refunded —
   * failed admission and lost putIfAbsent races alike (ADVICE r4: the old
   * version leaked both, so one cap-exceeding burst drove the budget
   * permanently negative and the cache silently stopped admitting). */
  private def cachePathSet(name: String, shard: Seq[DataFile]): Unit =
    if (!manifestPathSets.containsKey(name)) {
      if (manifestPathSetBudget.addAndGet(-shard.size) < 0L) {
        manifestPathSetBudget.addAndGet(shard.size.toLong) // refund: not admitted
      } else {
        val s = new java.util.HashSet[String](shard.size * 2)
        shard.foreach(e => s.add(e.path))
        if (manifestPathSets.putIfAbsent(name, s) != null)
          manifestPathSetBudget.addAndGet(shard.size.toLong) // lost race: refund
      }
      ()
    } else ()

  /** Release a deleted manifest's cached path set (expiry / failed-commit
   * cleanup) so the budget recycles; names are UUIDs and never reused, so
   * a missed call only costs budget, never correctness. */
  private[graft] def forgetManifest(name: String): Unit = {
    val old = manifestPathSets.remove(name)
    if (old != null) manifestPathSetBudget.addAndGet(old.size.toLong)
    ()
  }

  private[graft] def readManifestEntries(name: String): Seq[DataFile] = {
    val es = Json.readManifest(metaDir.resolve(name))
    cachePathSet(name, es)
    es
  }

  /** The path set of manifest (or delete manifest) `name`: the cached set
   * when there is one, else one parse through [[readManifestEntries]]
   * (which caches it when the budget allows); past the budget a one-off
   * set. GC reachability ([[graft.ops.ExpireSnapshots]],
   * [[graft.ops.RemoveOrphans]], [[graft.ops.Branches.dataRoots]],
   * [[FileBloom.compact]]) walks DISTINCT manifest names through here, so
   * a shard shared by every snapshot of the log is read once, not once per
   * snapshot. Read-only view: callers must not mutate it. */
  private[graft] def manifestPaths(name: String): java.util.Set[String] = {
    val cached = manifestPathSets.get(name)
    val s = if (cached != null) cached else {
      val es = readManifestEntries(name)
      val now = manifestPathSets.get(name)
      if (now != null) now else {
        val one = new java.util.HashSet[String](es.size * 2)
        es.foreach(e => one.add(e.path))
        one
      }
    }
    java.util.Collections.unmodifiableSet(s)
  }

  /** Union of [[manifestPaths]] over the DISTINCT manifest and delete
   * manifest names of `snaps`. */
  private[graft] def reachablePaths(snaps: Seq[Snapshot]): java.util.Set[String] = {
    val out = new java.util.HashSet[String]()
    snaps.flatMap(s => s.manifests ++ s.deleteManifests).distinct
      .foreach(m => out.addAll(manifestPaths(m)))
    out
  }

  /** Write one data manifest; returns its name and the summary the new
   * snapshot records beside it. */
  private def writeManifest(id: Long, shard: Seq[DataFile]): (String, ManifestSummary) = {
    val name = s"manifest-$id-${UUID.randomUUID().toString.take(8)}.json"
    Json.writeManifest(metaDir.resolve(name), shard)
    cachePathSet(name, shard)
    name -> ManifestSummary.of(shard)
  }

  /** Delete manifests: inherited by NAME (immutable, shared across
   * snapshots like data files), or rewritten when the op changes the set. */
  private def deleteManifestNames(parent: Option[Snapshot], id: Long,
                                  deletes: Option[Seq[DataFile]]): Seq[String] =
    deletes match {
      case None => parent.fold(Seq.empty[String])(_.deleteManifests)
      case Some(ds) if ds.isEmpty => Nil
      case Some(ds) =>
        ds.map(stampEra(_, parent)).grouped(manifestShardSize).map { shard =>
          val name = s"delmanifest-$id-${UUID.randomUUID().toString.take(8)}.json"
          Json.writeManifest(metaDir.resolve(name), shard)
          cachePathSet(name, shard)
          name
        }.toSeq
    }

  /** The evolution list a commit copies from its parent. */
  private def evolutionsOf(parent: Option[Snapshot]): Seq[Evolution] =
    parent.fold(Seq.empty[Evolution])(_.evolutions)

  /** A new entry (`schemaId` -1) was written under the parent's schema. */
  private def stampEra(e: DataFile, parent: Option[Snapshot]): DataFile =
    if (e.schemaId >= 0) e else e.copy(schemaId = evolutionsOf(parent).size)

  /** The head as a commit's parent: (id, descriptor, nonce), or (-1, None,
   * null) on an empty log; [[ConcurrentCommitException]] if not `expected`. */
  private def headFor(expected: Option[Long]): (Long, Option[Snapshot], String) = {
    val head = log.latest
    val parent = head.fold(-1L)(_._1)
    expected.foreach { p =>
      if (p != parent) throw new ConcurrentCommitException(
        s"commit planned against snapshot $p but current is $parent")
    }
    (parent, head.map(h => parseSnapshot(h._2)), head.map(h => MetaLog.nonceOf(h._2)).orNull)
  }

  /** Append snapshot `id` on the parent whose nonce the commit read
   * ([[MetaLog.append]]). `manifestSummaries` holds a summary for each
   * manifest that has one. `ownManifests` / `ownDeletes` = files THIS commit
   * wrote (deleted when it loses); reused/inherited names are never touched. */
  private def publish(operation: String, parent: Long, parentNonce: String, id: Long,
                      manifestNames: Seq[String],
                      manifestSummaries: Map[String, ManifestSummary],
                      ownManifests: Seq[String],
                      delManifestNames: Seq[String], ownDeletes: Boolean,
                      evolutions: Seq[Evolution],
                      summary: Map[String, String]): Long = {
    val snap = Snapshot(id, parent, System.currentTimeMillis(), operation,
      manifestNames, summary, delManifestNames, manifestSummaries, evolutions)
    if (!log.append(id - 1, parentNonce, Json.write(snap).getBytes(StandardCharsets.UTF_8))) {
      (ownManifests ++ (if (ownDeletes) delManifestNames else Nil)).foreach { n =>
        Files.deleteIfExists(metaDir.resolve(n)); forgetManifest(n)
      }
      throw new ConcurrentCommitException(
        s"snapshot $id: parent $parent is no longer the head")
    }
    id
  }

  // ---- lineage side-table ----
  private def lineageDir = metaDir.resolve("lineage")

  /** (`.jsonl` files, legacy parquet shards): flat files or per-batch
   * subdirs from before lineage was JSON, read but never written or folded.
   * `_`/`.`-prefixed names (committer debris) are skipped, as Spark does. */
  private def lineageFiles: (Seq[JPath], Seq[JPath]) = {
    if (!Files.isDirectory(lineageDir)) return (Nil, Nil)
    val s = Files.list(lineageDir)
    try {
      import scala.jdk.CollectionConverters._
      val ps = s.iterator().asScala.filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith("_") || n.startsWith(".")
      }.toSeq
      (ps.filter(_.toString.endsWith(".jsonl")),
        ps.filter(p => Files.isDirectory(p) || p.toString.endsWith(".parquet")))
    } finally s.close()
  }

  /** Publish `bytes` as a new `<uuid>.jsonl` through [[MetaFs]]: readers
   * see it whole or not at all, and concurrent writers never share a file. */
  private def claimLineage(bytes: Array[Byte]): Unit =
    while (!MetaFs.claim(lineageDir.resolve(s"${UUID.randomUUID()}.jsonl"), bytes)) ()

  /** Append `recs` as ONE JSON-lines file. A driver-side write: no Spark
   * job. Ops buffer their rows and call this once. */
  def appendLineage(recs: Seq[LineageRecord]): Unit =
    if (recs.nonEmpty)
      claimLineage(recs.map(r => Json.write(r) + "\n").mkString
        .getBytes(StandardCharsets.UTF_8))

  /** Every lineage row, JSON and legacy parquet alike, with
   * [[LineageRecord]]'s schema (zero rows on a table without lineage). */
  def lineage(spark: SparkSession): DataFrame = {
    val schema = org.apache.spark.sql.Encoders.product[LineageRecord].schema
    val (json, parquet) = lineageFiles
    val frames =
      (if (json.isEmpty) Nil
       else Seq(spark.read.schema(schema).json(json.map(_.toString): _*))) ++
      (if (parquet.isEmpty) Nil
       else Seq(spark.read.schema(schema).parquet(parquet.map(_.toString): _*)))
    frames.reduceOption(_ unionByName _).getOrElse(spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema))
  }

  /** Lineage `.jsonl` file count — the [[compactLineage]] trigger. Legacy
   * parquet shards are not counted: nothing adds to them. */
  def lineageShardCount: Int = lineageFiles._1.size

  /** Concatenate the lineage `.jsonl` files into ONE on the driver (rows
   * preserved): each op claims its own file, so a long-running stream
   * accumulates unbounded metadata file count.
   * Captured-first like FileBloom.compact: a file added mid-fold is neither
   * folded nor deleted. Lineage is diagnostics; a reader racing the fold
   * may briefly see duplicate rows or miss a deleted input. Returns
   * (files before, after). */
  def compactLineage(): (Int, Int) = {
    val shards = lineageFiles._1
    if (shards.size <= 1) return (shards.size, shards.size)
    // every file ends in a newline, so the concatenation is JSON lines
    claimLineage(Array.concat(shards.map(Files.readAllBytes(_)): _*))
    shards.foreach(Files.deleteIfExists(_))
    (shards.size, 1)
  }

  // ---- checkpoints (resumable maintenance) ----
  private def checkpointPath(runId: String): JPath =
    metaDir.resolve("checkpoints").resolve(runId)

  private def checkpointDir(runId: String): JPath =
    Files.createDirectories(checkpointPath(runId))

  def markDone(runId: String, item: String): Unit =
    MetaFs.replace(checkpointDir(runId).resolve(s"done-$item"), Array.emptyByteArray)

  def isDone(runId: String, item: String): Boolean =
    Files.exists(checkpointPath(runId).resolve(s"done-$item"))

  /** Forget a run's checkpoints once its commit has landed: its outputs
   * are snapshot-reachable from then on, so they no longer need to be
   * orphan-GC roots, and a rerun under the same id starts afresh. */
  def dropCheckpoints(runId: String): Unit = MetaFs.deleteTree(checkpointPath(runId))

  def saveItemResult(runId: String, item: String, payload: String): Unit =
    MetaFs.replace(checkpointDir(runId).resolve(s"result-$item"),
      payload.getBytes(StandardCharsets.UTF_8))

  /** Read back a per-item payload written by [[saveItemResult]]. */
  def itemResult(runId: String, item: String): Option[String] = {
    val p = checkpointPath(runId).resolve(s"result-$item")
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    else None
  }
}

/** Thrown when a commit's parent is no longer the log's head: another
 * writer claimed the next snapshot id first, or the commit was planned
 * against an older snapshot. Nothing was published. Safe to retry after
 * re-reading the table state. */
class ConcurrentCommitException(msg: String) extends RuntimeException(msg)

object MetaStore {
  /** Stats columns for the canonical clip table. */
  val ClipStatsColumns: Seq[String] = Seq("clip_id", "sr_hz", "dur_ms", "codec")

  /** `input_file_name()` / `_metadata.file_path` return URI-ENCODED file
   * URIs (space → %20, '%' → %25, ...); manifest paths are the DECODED
   * filesystem form java.io.File sees. Every read-back of those columns
   * must go through THIS decoder, or tuple parsing, compact bin lookups,
   * bloom-path joins, and position-delete identity silently miss files
   * under partition dirs whose values contain encodable characters. */
  def decodePath(p: String): String =
    if (p == null || !p.startsWith("file:")) p
    else {
      // fast path: no '%' means nothing to decode — scheme strip only.
      // This runs per ROW inside withPos reads; URI parsing every row
      // would dominate the scan for the overwhelmingly common case of
      // partition values without encodable characters.
      if (p.indexOf('%') < 0) {
        var i = 5 // after "file:"
        while (i < p.length && p.charAt(i) == '/') i += 1
        "/" + p.substring(i)
      } else try new java.net.URI(p).getPath
      catch { case _: java.net.URISyntaxException =>
        "/+".r.replaceFirstIn(p.stripPrefix("file:"), "/") }
    }

  def forClips(tableDir: String): MetaStore = new MetaStore(tableDir, ClipStatsColumns)

  /** Retry `body` across commit races with jittered backoff. ONLY for
   * operations whose body re-reads table state and whose effect is valid
   * against any newer snapshot (append: pure add; delete: predicate
   * re-resolution IS the correct serialization). Rewrites (compact/
   * cluster/merge) must NOT blind-retry — their planned inputs may have
   * been rewritten away; the caller re-plans instead. */
  def withCommitRetry[T](maxAttempts: Int = 5)(body: => T): T = {
    var attempt = 1
    while (true) {
      try return body
      catch {
        case e: ConcurrentCommitException =>
          if (attempt >= maxAttempts) throw e
          Thread.sleep((10L << attempt) +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(25))
          attempt += 1
      }
    }
    sys.error("unreachable")
  }
}
