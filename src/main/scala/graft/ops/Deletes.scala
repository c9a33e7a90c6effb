package graft.ops

import graft.table.{DataFile, MetaStore, Pred, Pruning}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class MaterializeResult(
    snapshotId: Long,
    /** Covered files actually rewritten (delete keys may live in them). */
    filesRewritten: Int,
    /** Covered files PROMOTED metadata-only: tuple/zonemap/bloom proved no
     * delete key can be present, so only their `seq` was bumped. */
    filesPromoted: Int,
    /** Delete files retired by the same commit. */
    deletesRetired: Int)

final case class DeleteResult(
    snapshotId: Long,
    deleteFiles: Int,
    deleteRows: Long,
    /** Whole data files dropped METADATA-ONLY by [[Deletes.deleteWhere]]'s
     * partition-drop fast path (tuple/stats proved every row matched). */
    filesDropped: Int = 0,
    rowsDropped: Long = 0L)

/**
 * Merge-on-read row-level deletes, Iceberg-style — BOTH v2 delete shapes:
 *
 *  - **equality deletes** (key-value files, the sequence rule below), and
 *  - **position deletes** ([[Deletes.runPositional]]: exact physical rows,
 *    stored in ONE form — a deletion-vector file of `(file_path, dv)` rows,
 *    one per masked data file ([[DeleteVectors]], Iceberg v3's form);
 *    applied by a broadcast path join plus a bit test on the row index from
 *    Spark's `_metadata` hidden columns — the row order DuckDB's
 *    `file_row_number` also reports). Delete kind is read from the path
 *    tag ([[isPositional]]), never from a footer.
 *
 * A delete commit writes a small parquet of key values (no data file is
 * touched — the write cost is O(deleted keys), not O(table)) and records it
 * in the snapshot's delete manifests with `seq` = the commit id. Read-side,
 * a data row is visible iff no delete file with `seq > file.seq` contains
 * its key — the sequence rule that makes a later re-insert of a deleted key
 * visible again. Every rewrite (compact / cluster / merge) reads through
 * [[readFiles]], so rewritten files are born clean (their new `seq` sits
 * above every existing delete) and the carried delete files go inert as
 * maintenance progresses; [[expireInert]] then drops them metadata-only.
 *
 * Scale shape: delete sets are bounded churn (the 100 TB table's daily
 * delete batch, not the table), so the read-side application is a
 * broadcast anti-join per delete era — zero shuffle of the data side. Sets
 * above `broadcastRowLimit` fall back to a shuffle anti-join; tables with
 * rewrite-scale deletions should use copy-on-write
 * ([[MergeInto]] `deleteKeys`) instead.
 *
 * The reference has no delete story at all (its volumes are immutable,
 * reference README.md:128-132); this supplies the lakehouse-standard one
 * Spark-first.
 */
object Deletes {

  /** Delete sets with at most this many total rows are broadcast to the
   * anti-join (driver+executor memory bound); larger sets shuffle. */
  var broadcastRowLimit: Long = 5L * 1000 * 1000

  /** Helper columns carrying each row's physical identity through a
   * position-aware read: normalized source file path + 0-based row index
   * within that file (Spark's `_metadata.file_path` / `_metadata.row_index`
   * hidden columns, attached at the raw parquet read). */
  val PosPathCol = "_pos_path"
  val PosIdxCol = "_pos_idx"

  /** Read one group of delete files (uniform column set) as a distinct key
   * frame. */
  private def keyFrame(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.parquet(paths: _*).distinct()

  /** Key-column sets of delete files, by path. Delete files are immutable,
   * so the probe result never changes — without this cache every scan of a
   * snapshot with E delete eras re-opens up to E(E+1)/2 parquet footers on
   * the driver (readFiles calls applyTo once per seq group), on EVERY query,
   * before any data is read. */
  private val delColsCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  /** The (sorted) key columns of the EQUALITY delete file at `path` —
   * footer-only probe, cached for the store's lifetime (delete files are
   * immutable). Shared by the equality grouping, CDC's key probe, and the
   * evolve guard, so each file's footer opens ONCE. */
  def delCols(spark: SparkSession, path: String): Seq[String] =
    delColsCache.computeIfAbsent(path,
      pp => spark.read.parquet(pp).columns.toSeq.sorted)

  /** Whether `d` is a POSITION delete (a deletion-vector file) rather than
   * an equality delete. Metadata-only: every positional writer puts its file
   * under a `posdelete`-tagged dir ([[writeVectors]]). */
  def isPositional(d: DataFile): Boolean = d.path.contains("/posdelete-")

  private val encodeUdf = udf((ps: Seq[Long]) => DeleteVectors.encode(ps))

  /** Group `(file_path, pos)` rows into one `(file_path, dv)` deletion
   * vector per data file — the one encoder every positional writer (and the
   * legacy-pair read) goes through. */
  def toVectors(positions: DataFrame): DataFrame =
    positions.groupBy("file_path")
      .agg(encodeUdf(collect_list(col("pos").cast("long"))).as("dv"))

  /** Write `toVectors(positions)` as one delete file under a fresh
   * `posdelete` dir. The entry's `rows` is the number of MASKED rows (not
   * the file's one row per data file), so delete-row debt and summaries
   * count what the mask hides. Nil when `positions` is empty. */
  private def writeVectors(spark: SparkSession, store: MetaStore,
                           positions: DataFrame): Seq[DataFile] = {
    val outDir = store.newDataDir("posdelete")
    toVectors(positions).coalesce(1).write.mode("overwrite").parquet(outDir)
    val entries = store.collectStats(spark, outDir).filter(_.rows > 0)
    if (entries.isEmpty) return Nil
    val cardinality = udf((dv: Array[Byte]) => DeleteVectors.cardinality(dv))
    val masked = spark.read.parquet(outDir)
      .agg(sum(cardinality(col("dv")))).head().getLong(0)
    entries.map(_.copy(rows = masked))
  }

  /** Write the distinct `keys` as one equality-delete file under a fresh
   * `delete` dir. Nil when `keys` is empty. */
  private def writeKeys(spark: SparkSession, store: MetaStore,
                        keys: DataFrame): Seq[DataFile] = {
    val outDir = store.newDataDir("delete")
    keys.distinct().coalesce(1).write.mode("overwrite").parquet(outDir)
    store.collectStats(spark, outDir).filter(_.rows > 0)
  }

  /** Read schema of position-delete files: vectors carry `dv`; files
   * written before vectors were the only form carry `(file_path, pos)`
   * pairs instead. A fixed schema reads both (the absent column reads as
   * null) without opening any footer. */
  private val PosDeleteSchema = new org.apache.spark.sql.types.StructType()
    .add("file_path", "string").add("pos", "long").add("dv", "binary")

  /** The masks of `posDels` as ONE `(file_path, dvs)` row per masked data
   * file: every vector naming it, plus its legacy pairs re-encoded through
   * [[toVectors]]. */
  private def vectors(spark: SparkSession, posDels: Seq[DataFile]): DataFrame = {
    val raw = spark.read.schema(PosDeleteSchema).parquet(posDels.map(_.path): _*)
    raw.filter(col("dv").isNotNull).select("file_path", "dv")
      .unionByName(toVectors(raw.filter(col("pos").isNotNull)))
      .groupBy("file_path").agg(collect_list("dv").as("dvs"))
  }

  /** All `(file_path, pos)` pairs the position deletes `posDels` mask —
   * distinct. */
  def positionPairs(spark: SparkSession, posDels: Seq[DataFile]): DataFrame = {
    val expandUdf = udf((dvs: Seq[Array[Byte]]) =>
      dvs.flatMap(DeleteVectors.expand).distinct)
    vectors(spark, posDels)
      .select(col("file_path"), explode(expandUdf(col("dvs"))).as("pos"))
  }

  /** Anti-join `df` against every delete entry in `dels`. Delete files are
   * grouped by their column set (equality deletes may key on different
   * column subsets); each group is one anti-join on exactly its columns. */
  def applyTo(spark: SparkSession, df: DataFrame, dels: Seq[DataFile]): DataFrame = {
    if (dels.isEmpty) return df
    val totalRows = dels.map(_.rows).sum
    val bySchema = dels.map(_.path).groupBy(p => delCols(spark, p))
    bySchema.foldLeft(df) { case (acc, (cols, paths)) =>
      val keys = keyFrame(spark, paths)
      val right = if (totalRows <= broadcastRowLimit) broadcast(keys) else keys
      acc.join(right, cols, "left_anti")
    }
  }

  /** Drop the rows of a frame carrying [[PosPathCol]]/[[PosIdxCol]] row
   * identity that a position delete masks: ONE row per masked file is
   * broadcast as a `(path, dvs)` map, and each data row pays an O(1) bit
   * test (O(log runs) for a sorted-runs vector) — no per-deleted-row join
   * input. Broadcast only while the vectors fit comfortably (delete-file
   * bytes are in the manifest); a pathological mask set falls back to a
   * shuffle join rather than OOMing the driver/executors. Position deletes
   * apply purely by exact path — rewrites change paths, so a stale position
   * delete is inert on rewritten files by construction (no sequence rule
   * needed; paths are never reused, every output dir is UUID-fresh). */
  private def applyPositional(spark: SparkSession, df: DataFrame,
                              posDels: Seq[DataFile]): DataFrame = {
    val dvDf = vectors(spark, posDels).withColumnRenamed("file_path", PosPathCol)
    val right =
      if (posDels.map(_.sizeBytes).sum <= 256L * 1024 * 1024) broadcast(dvDf)
      else dvDf
    val masked = udf((dvs: Seq[Array[Byte]], pos: Long) =>
      dvs.exists(DeleteVectors.contains(_, pos)))
    df.join(right, Seq(PosPathCol), "left_outer")
      .filter(col("dvs").isNull || !masked(col("dvs"), col(PosIdxCol)))
      .drop("dvs")
  }

  /**
   * Delete-aware + evolution-aware read of a file subset under `snapshotId`:
   * files are grouped by which EQUALITY deletes apply to them (delete `d`
   * applies to file `f` iff `f.seq < d.seq`), each group is read through the
   * evolution-aware path and anti-joined against exactly its applicable
   * delete keys. The group count is O(distinct delete seqs), which stays
   * small because rewrites retire deletes ([[expireInert]]).
   *
   * POSITION deletes (deletion vectors) are applied after the union in ONE
   * join on physical row identity — they key on exact paths, so no per-seq
   * grouping is needed and rows of files they don't name are untouched.
   *
   * @param withPos keep the [[PosPathCol]]/[[PosIdxCol]] row-identity
   *   columns in the output (for callers resolving rows to positions, e.g.
   *   `deleteWhere(positional = true)`); otherwise they are attached only
   *   when position deletes exist and dropped before returning.
   */
  def readFiles(spark: SparkSession, store: MetaStore, snapshotId: Long,
                files: Seq[DataFile], withPos: Boolean = false): DataFrame = {
    if (files.isEmpty) return spark.emptyDataFrame
    val dels = store.deleteEntries(snapshotId).sortBy(_.seq)
    val (posDels, eqDels) = dels.partition(isPositional)
    val needPos = withPos || posDels.nonEmpty
    val evos = Evolve.evolutions(store)
    if (dels.isEmpty && !needPos) return Evolve.readFiles(spark, store, files, evos)
    val delSeqs = eqDels.map(_.seq)
    // boundary index = how many equality deletes DON'T apply (seq <= file
    // seq); applicable set for the group = eqDels.drop(boundary)
    val groups = files.groupBy(f => delSeqs.count(_ <= f.seq))
    val eqApplied = groups.toSeq.sortBy(_._1).map { case (boundary, fs) =>
      applyTo(spark, Evolve.readFiles(spark, store, fs, evos, needPos),
        eqDels.drop(boundary))
    }.reduce(_.unionByName(_))
    val visible =
      if (posDels.isEmpty) eqApplied
      else applyPositional(spark, eqApplied, posDels)
    if (withPos) visible
    else if (needPos) visible.drop(PosPathCol, PosIdxCol)
    else visible
  }

  /**
   * Commit an equality delete: write `keys` (any column subset of the table;
   * duplicates dropped) as one parquet delete file and commit a `delete`
   * snapshot with the SAME data files. O(|keys|) work; zero data rewrite.
   */
  def run(spark: SparkSession, store: MetaStore, keys: DataFrame,
          runId: String = s"delete-${System.currentTimeMillis()}"): DeleteResult = {
    // stats via the standard path (present-column min/max; per-file bloom
    // rides along and is harmless). Seq stamping and the carry-forward of
    // the parent's delete set happen INSIDE commitDelta (addedDeletes):
    // doing either out here races an interleaved writer — the stale union
    // loses their delete, or our seq lands below the actual commit id and
    // fails to cover their rows. Deleting keys is valid against any newer
    // snapshot (the key parquet itself is reused verbatim across retries).
    val rawEntries = writeKeys(spark, store, keys)
    val rows = rawEntries.map(_.rows).sum
    if (rows == 0)
      return DeleteResult(store.currentSnapshotId.getOrElse(-1L), 0, 0)
    MetaStore.withCommitRetry() {
      store.currentSnapshotId.getOrElse(sys.error("delete: empty table"))
      // metadata-only delta commit: the data file list is untouched, so every
      // parent manifest is reused — O(delete keys), never O(table)
      val newSnap = store.commitDelta("delete", Nil, summary = Map(
        "runId" -> runId,
        "deleteRows" -> rows.toString,
        "deleteFiles" -> rawEntries.size.toString),
        addedDeletes = rawEntries)
      DeleteResult(newSnap, rawEntries.size, rows)
    }
  }

  /**
   * Commit a POSITION delete: `positions` is a frame of exactly
   * `(file_path: string, pos: long)` naming physical rows of CURRENT data
   * files (0-based row index within the file — Spark's `_metadata.row_index`
   * / DuckDB's `file_row_number` convention), stored as deletion vectors
   * ([[toVectors]]). O(|positions|) work, zero data rewrite. Unlike an equality
   * delete there is no key semantics: a later re-insert of the same logical
   * key is a DIFFERENT physical row and is never masked, and every rewrite
   * (new paths) makes the delete inert on the rewritten data by
   * construction.
   *
   * The caller resolved positions against a specific snapshot's files —
   * `expectedSnapshot` CASes on it so an interleaved rewrite (which would
   * orphan the named paths and silently un-delete) fails the commit instead.
   */
  def runPositional(spark: SparkSession, store: MetaStore, positions: DataFrame,
                    expectedSnapshot: Long,
                    runId: String = s"delete-${System.currentTimeMillis()}"): DeleteResult = {
    require(positions.columns.sorted.toSeq == Seq("file_path", "pos"),
      s"position delete needs exactly (file_path, pos); got ${positions.columns.mkString(",")}")
    // every named path must be a LIVE data file of the snapshot the caller
    // resolved against — a stale or mistyped path would otherwise commit a
    // silent no-op mask. Driver-side set: bounded by file count, not rows.
    val live = store.entries(expectedSnapshot).map(_.path).toSet
    val named = positions.select("file_path").distinct()
      .collect().map(_.getString(0))
    val dead = named.filterNot(live.contains)
    require(dead.isEmpty,
      s"position delete names ${dead.length} path(s) not live in snapshot " +
        s"$expectedSnapshot (stale resolution or typo): ${dead.take(3).mkString(", ")}")
    val rawEntries = writeVectors(spark, store, positions)
    val rows = rawEntries.map(_.rows).sum
    if (rows == 0)
      return DeleteResult(store.currentSnapshotId.getOrElse(-1L), 0, 0)
    val newSnap = store.commitDelta("delete", Nil, summary = Map(
      "runId" -> runId,
      "deleteRows" -> rows.toString,
      "deleteFiles" -> rawEntries.size.toString,
      "deleteType" -> "position"),
      addedDeletes = rawEntries,
      expectedParent = Some(expectedSnapshot))
    DeleteResult(newSnap, rawEntries.size, rows)
  }

  /**
   * Predicate-shaped delete, two tiers in ONE atomic commit:
   *
   *  1. **Partition-drop fast path** — files whose partition tuple or
   *     zonemap stats PROVE every row matches ([[Pred.mustMatchAll]] /
   *     [[graft.table.PartitionSpec.mustMatchAll]]; requires zero nulls in
   *     the column) are removed from the manifest, metadata-only: no key
   *     parquet, no read-side anti-join baggage, O(dropped files) commit.
   *     This is how "DELETE WHERE codec = 'ulaw'" on a codec-partitioned
   *     100 TB table stays a metadata operation — Iceberg's drop-partition
   *     semantics. Old snapshots still reference the files (time travel /
   *     rollback / CDC all see the deletion as removed rows).
   *  2. **Equality-delete residue** — rows matching `preds` in files only
   *     PARTIALLY covered are resolved to `keyCols` via the pruned scan
   *     (only candidate files opened, dropped files excluded) and committed
   *     as a merge-on-read equality delete, as before.
   *
   * Key-based residue semantics unchanged: an equality delete removes every
   * visible row sharing the key (keys are expected unique, e.g. clip_id).
   *
   * With `positional = true` the residue is committed as a POSITION delete
   * instead: matching rows resolve to `(file_path, pos)` via the
   * position-aware read and are stored as deletion vectors, so no key
   * column (or key uniqueness) is needed and
   * a later re-insert of a matching key is never masked. The partition-drop
   * fast path is identical in both modes.
   */
  def deleteWhere(spark: SparkSession, store: MetaStore, preds: Seq[Pred],
                  keyCols: Seq[String] = Seq("clip_id"),
                  positional: Boolean = false,
                  runId: String = s"delete-${System.currentTimeMillis()}"): DeleteResult =
  // a lost commit race re-runs the WHOLE resolution: the covered-file set
  // and residue keys must be re-proven against the snapshot that beat us
  // (predicate re-resolution is the correct serialization of DELETE WHERE)
  MetaStore.withCommitRetry() {
    val snapId = store.currentSnapshotId.getOrElse(sys.error("delete: empty table"))
    val entries = store.entries(snapId)
    val spec = store.partitionSpec
    val (covered, rest) = entries.partition(f => preds.forall(p =>
      spec.exists(_.mustMatchAll(f, p)) || p.mustMatchAll(f)))

    // residue: files that may still contain matching rows (tuple, zonemap
    // and bloom conservative keep), read delete-aware so already-deleted
    // rows don't re-resolve
    val candidates = Pruning.candidates(spark, store, rest, preds)
    val delEntries =
      if (candidates.isEmpty) Nil
      else if (positional)
        writeVectors(spark, store,
          readFiles(spark, store, snapId, candidates, withPos = true)
            .filter(Pred.and(preds))
            .select(col(PosPathCol).as("file_path"), col(PosIdxCol).as("pos")))
      else writeKeys(spark, store, readFiles(spark, store, snapId, candidates)
        .filter(Pred.and(preds)).select(keyCols.map(col): _*))

    // ONE commit carrying both tiers: manifest minus covered files, plus
    // (when residue exists) a fresh delete file. Seq stamping + delete
    // carry-forward happen inside commitDelta (addedDeletes), and
    // expectedParent pins the snapshot the covered/residue resolution was
    // proven against — an interleaved commit fails this commit (retryable)
    // instead of being clobbered, and the retry re-resolves the predicate.
    if (covered.isEmpty && delEntries.isEmpty)
      return DeleteResult(snapId, 0, 0)
    val rowsDropped = covered.map(_.rows).sum
    val newSnap = store.commitDelta("delete", Nil,
      removedPaths = covered.map(_.path).toSet,
      summary = Map(
        "runId" -> runId,
        "filesDropped" -> covered.size.toString,
        "rowsDropped" -> rowsDropped.toString,
        "deleteRows" -> delEntries.map(_.rows).sum.toString,
        "deleteFiles" -> delEntries.size.toString),
      addedDeletes = delEntries,
      expectedParent = Some(snapId))
    DeleteResult(newSnap, delEntries.size, delEntries.map(_.rows).sum,
      filesDropped = covered.size, rowsDropped = rowsDropped)
  }

  /**
   * Merge every live POSITION-delete file into ONE deletion-vector file,
   * dropping masks of paths no longer live (rewrites / partition drops
   * turned them into dead weight) — Iceberg's rewrite-position-delete-files
   * maintenance. O(mask rows) work, zero data-file IO: frequent small
   * streaming deletes otherwise accumulate one join input per commit. A
   * legacy `(file_path, pos)` pair file is rewritten as a vector even when
   * it is the only one. Equality deletes are untouched (their per-seq
   * application forbids naive merging: a merged file at max seq would
   * over-apply to files between the seqs).
   *
   * The merged entry keeps `max(source seqs)` so [[expireInert]]'s
   * conservative seq rule behaves exactly as it did on the inputs — a
   * fresh (seq-0 → stamped-inert) entry would be dropped while still
   * masking live rows.
   *
   * Returns (snapshot id, position files before, mask rows dropped as
   * dead-path); no commit when there is nothing to merge, prune or convert.
   */
  def compactPositional(spark: SparkSession, store: MetaStore,
                        runId: String = s"posdel-compact-${System.currentTimeMillis()}"): (Long, Int, Long) =
  MetaStore.withCommitRetry() {
    import spark.implicits._
    val snapId = store.currentSnapshotId.getOrElse(sys.error("delete: empty table"))
    val dels = store.deleteEntries(snapId)
    val (posDels, eqDels) = dels.partition(isPositional)
    if (posDels.isEmpty) return (snapId, 0, 0L)
    // live-path semi-join (not isInCollection: the live set is file-count
    // sized, 10^5-10^6 at scale — a join input, not an In-list literal)
    val liveDf = store.entries(snapId).map(_.path).toDF("file_path")
    val allPairs = positionPairs(spark, posDels)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val total = allPairs.count()
    val kept = allPairs.join(liveDf, Seq("file_path"), "left_semi")
    val keptRows = kept.count()
    if (posDels.size < 2 && keptRows == total &&
        spark.read.schema(PosDeleteSchema).parquet(posDels.head.path)
          .filter(col("pos").isNotNull).isEmpty) {
      allPairs.unpersist()
      return (snapId, 0, 0L)
    }
    val newDels =
      if (keptRows == 0) Nil
      else writeVectors(spark, store, kept).map(_.copy(seq = posDels.map(_.seq).max))
    allPairs.unpersist()
    val id = store.commitDelta("compact-deletes", Nil, summary = Map(
      "runId" -> runId,
      "posFilesMerged" -> posDels.size.toString,
      "maskRowsDropped" -> (total - keptRows).toString,
      "deleteFiles" -> (eqDels.size + newDels.size).toString),
      deletes = Some(eqDels ++ newDels),
      expectedParent = Some(snapId))
    (id, posDels.size, total - keptRows)
  }

  /**
   * Drop delete files no live data file is still covered by (every data
   * file's `seq >= delete.seq`, which a full cluster rewrite guarantees).
   * The seq rule is conservative for POSITION deletes (a dead-path position
   * delete with a high seq is kept here); [[materialize]] retires those
   * exactly via path liveness.
   * Metadata-only commit; the orphaned delete parquets become GC-able by
   * [[ExpireSnapshots]] / [[RemoveOrphans]] once no retained snapshot
   * references them. Returns (new snapshot id, deletes dropped); no commit
   * when nothing is inert.
   */
  def expireInert(store: MetaStore): (Long, Int) = MetaStore.withCommitRetry() {
    val snapId = store.currentSnapshotId.getOrElse(sys.error("delete: empty table"))
    val dels = store.deleteEntries(snapId)
    if (dels.isEmpty) return (snapId, 0)
    val minDataSeq = store.entries(snapId).map(_.seq).minOption.getOrElse(Long.MaxValue)
    val (inert, live) = dels.partition(_.seq <= minDataSeq)
    if (inert.isEmpty) return (snapId, 0)
    // replace-mode delete set planned from snapId: expectedParent turns an
    // interleaved delete commit into a retry (re-partitioned against the
    // new state) instead of silently dropping it from the live set
    val id = store.commitDelta("expire-deletes", Nil, summary = Map(
      "deletesDropped" -> inert.size.toString,
      "deletesKept" -> live.size.toString),
      deletes = Some(live),
      expectedParent = Some(snapId))
    (id, inert.size)
  }

  /**
   * Materialize every live equality delete and retire the delete files, in
   * ONE atomic commit — the pass that pays down merge-on-read read debt
   * ([[graft.ops.MergeInto.runMor]] leaves one delete era per batch; each
   * era is an extra anti-join on every scan until a rewrite retires it).
   *
   * Two tiers, like [[deleteWhere]] but in the opposite direction:
   *
   *  1. **Seq promotion (metadata-only)** — a covered file that PROVABLY
   *     contains none of the delete keys (partition tuple / zonemap /
   *     per-file bloom all conservative, same pruning stack as
   *     [[MergeInto]]'s touched-file discovery) doesn't need its bytes
   *     rewritten: applying the deletes to it is a no-op, so the commit
   *     just re-enters it with `seq` = the new commit id, lifting it above
   *     every delete. At 10^5-10^6 files where a delete batch names a few
   *     thousand keys, THIS is the whole game — the alternative rewrites
   *     the table to retire kilobytes of delete files.
   *  2. **Rewrite** — files that may contain a key are read delete-aware
   *     ([[readFiles]]: deletes applied, evolution defaults materialized)
   *     and written back; born with the new commit's seq.
   *
   * After the commit the minimum data seq >= every delete's seq, so the
   * same commit drops ALL delete manifests (`deletes = Some(Nil)`).
   * Old snapshots keep theirs — time travel / CDC are unaffected.
   *
   * NOT retried on commit race (it is a rewrite: planned inputs may have
   * been rewritten away) — the caller re-plans, like compact/cluster.
   *
   * Promotion proof needs the key VALUES driver-side; delete sets larger
   * than `promoteKeyLimit` rows (or keyed on anything but single columns)
   * skip the proof and rewrite every covered file.
   */
  def materialize(spark: SparkSession, store: MetaStore,
                  runId: String = s"materialize-${System.currentTimeMillis()}",
                  promoteKeyLimit: Int = 100000): MaterializeResult = {
    val snapId = store.currentSnapshotId.getOrElse(sys.error("materialize: empty table"))
    val entries = store.entries(snapId)
    val dels = store.deleteEntries(snapId)
    if (dels.isEmpty) return MaterializeResult(snapId, 0, 0, 0)
    // position deletes cover exactly the live files they NAME (masks naming
    // rewritten-away paths are dead weight, not coverage); equality deletes
    // cover by the sequence rule
    val (posDels, eqDels) = dels.partition(isPositional)
    val posTargets: Set[String] =
      if (posDels.isEmpty) Set.empty
      else vectors(spark, posDels)
        .select("file_path").collect().map(_.getString(0)).toSet
    val coveredEq = entries.filter(f => eqDels.exists(_.seq > f.seq))
    val coveredPos = entries.filter(f => posTargets.contains(f.path))
    val covered = coveredEq ++
      coveredPos.filterNot(f => coveredEq.exists(_.path == f.path))
    if (covered.isEmpty) {
      // every delete is provably inert — no equality delete covers any live
      // file AND no position delete names a live path — so retire them ALL
      // (expireInert's seq-only rule would keep a dead-path position delete)
      val id = store.commitDelta("expire-deletes", Nil, summary = Map(
        "deletesDropped" -> dels.size.toString,
        "deletesKept" -> "0"),
        deletes = Some(Nil),
        expectedParent = Some(snapId))
      return MaterializeResult(id, 0, 0, dels.size)
    }

    // promotion proof (equality deletes only — a position-named file always
    // rewrites): per delete-key column, the distinct key values (only when
    // every delete file keys on exactly ONE column and the total stays
    // driver-sized; multi-column keys would need tuple-level proofs)
    val delColSets = eqDels.map(d => delCols(spark, d.path))
    val provable = eqDels.map(_.rows).sum <= promoteKeyLimit && delColSets.forall(_.size == 1)
    val eqToRewrite: Seq[DataFile] =
      if (!provable) coveredEq
      else {
        val byCol = eqDels.zip(delColSets).groupBy(_._2.head)
        // a file needs a rewrite iff it MAY contain a key of SOME delete
        // that covers it (delete.seq > file.seq)
        val mayPaths: Set[String] = byCol.iterator.flatMap { case (c, ds) =>
          val maxSeq = ds.map(_._1.seq).max
          val vals = spark.read.parquet(ds.map(_._1.path): _*)
            .distinct().collect().map(_.get(0)).toSeq
          Pruning.candidates(spark, store, coveredEq.filter(_.seq < maxSeq),
            Seq(Pred.InSet(c, vals))).map(_.path)
        }.toSet
        coveredEq.filter(f => mayPaths.contains(f.path))
      }
    val toRewrite = eqToRewrite ++
      coveredPos.filterNot(f => eqToRewrite.exists(_.path == f.path))
    val promoted = covered.filterNot(f => toRewrite.exists(_.path == f.path))

    val newEntries =
      if (toRewrite.isEmpty) Nil
      else {
        val outDir = store.newDataDir("materialize")
        store.writeData(readFiles(spark, store, snapId, toRewrite), outDir)
        store.collectStats(spark, outDir)
      }
    val t0 = System.currentTimeMillis()
    store.appendLineage(newEntries.zipWithIndex.map { case (e, p) =>
      graft.table.LineageRecord(runId, snapId, "materialize", e.path, p,
        e.rows, e.sizeBytes, 0L, t0, "done")
    })
    // seq = 0 on promoted re-entries -> commitDelta stamps the new id
    val id = store.commitDelta("materialize-deletes",
      newEntries ++ promoted.map(_.copy(seq = 0L)),
      removedPaths = covered.map(_.path).toSet,
      summary = Map(
        "runId" -> runId,
        "filesRewritten" -> toRewrite.size.toString,
        "filesPromoted" -> promoted.size.toString,
        "deletesRetired" -> dels.size.toString),
      deletes = Some(Nil),
      // the retire-all is only sound for the delete set OF snapId — an
      // interleaved delete commit must fail this commit (caller re-plans,
      // same doctrine as compact/cluster), not lose its keys
      expectedParent = Some(snapId))
    MaterializeResult(id, toRewrite.size, promoted.size, dels.size)
  }
}
