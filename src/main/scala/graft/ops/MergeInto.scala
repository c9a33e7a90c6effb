package graft.ops

import graft.keys.Keys
import graft.table.{LineageRecord, MetaStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

final case class MergeResult(
    snapshotId: Long,
    runId: String,
    filesTouched: Int,
    filesUntouched: Int,
    updatedOrInserted: Long,
    /** Equality-delete rows committed by the merge-on-read mode
     * ([[MergeInto.runMor]]); 0 for copy-on-write. */
    deleteRows: Long = 0L)

/**
 * Copy-on-write MERGE INTO keyed on `clip_id`: WHEN MATCHED THEN UPDATE (all
 * columns from the update side), WHEN NOT MATCHED THEN INSERT.
 *
 * The reference has no key-equi join (SURVEY.md §2.3) — its hand-built
 * key->row index maps (cursor/src/main/java/cursors/Clusters.kt:132-196) are
 * re-expressed here as Spark joins:
 *
 *  1. touched-file discovery = inner join of (clip_id, _metadata.file_path)
 *     against update keys — only files that actually contain a matched key
 *     get rewritten (everything else is carried over untouched);
 *  2. rewrite = full_outer join of touched-file rows with updates, coalescing
 *     update columns over target columns (matched -> update wins, target-only
 *     -> kept, update-only -> insert).
 *
 * At scale step 1 is a broadcast join when the update batch is small (Spark
 * AQE decides; `broadcastUpdates` forces it), and step 2 shuffles only the
 * touched files' rows, not the table.
 */
object MergeInto {

  /** Update batches at or below this many distinct keys use pruned
   * candidate discovery (tuple + zonemap + bloom); above it, the full
   * discovery scan (bloom probing is O(files × keys) executor-side). */
  var SmallKeySetLimit: Int = 10000

  /** @param deleteKeys WHEN MATCHED THEN DELETE branch: rows of the target
   *                     whose key appears here are dropped during the
   *                     copy-on-write rewrite.
   * @param deleteUnmatched WHEN NOT MATCHED BY SOURCE THEN DELETE (the
   *                     full-sync merge: after the commit the table's key
   *                     set EQUALS the source's). The stale-key set is
   *                     computed against the SAME snapshot the rewrite is
   *                     planned on (and the commit CASes on it), so an
   *                     interleaved append can never be half-synced away.
   *                     Intrinsically O(table): every row is matched or
   *                     stale, so every non-empty file is touched — use it
   *                     for genuine mirror loads, not incremental batches. */
  def run(spark: SparkSession, store: MetaStore, updates: DataFrame,
          keyCol: String = "clip_id",
          targetBytes: Long = 128L * 1024 * 1024,
          runId: String = s"merge-${System.currentTimeMillis()}",
          broadcastUpdates: Boolean = true,
          deleteKeys: Option[DataFrame] = None,
          deleteUnmatched: Boolean = false,
          extraSummary: Map[String, String] = Map.empty): MergeResult = {
    val snapId = store.currentSnapshotId.getOrElse(sys.error("merge: empty table"))
    val entries = store.entries(snapId)
    val t0 = System.nanoTime()

    val allDeleteKeys: Option[DataFrame] =
      if (!deleteUnmatched) deleteKeys
      else {
        val stale = store.scan(spark, snapId).select(col(keyCol))
          .except(updates.select(col(keyCol)))
        Some(deleteKeys.map(_.select(col(keyCol)).unionByName(stale))
          .getOrElse(stale))
      }
    val updKeys0 = allDeleteKeys.foldLeft(updates.select(col(keyCol)))(
      (u, dk) => u.unionByName(dk.select(col(keyCol)))).distinct()
    val updKeys = if (broadcastUpdates) broadcast(updKeys0) else updKeys0

    // 1. which data files contain matched keys? For a SMALL key set — the
    // canonical merge shape: a daily update batch against a huge table —
    // eliminate candidate files by partition tuple + zonemap + per-file
    // bloom BEFORE any data read, so the discovery scan touches the
    // candidates' key column, not the whole table's (at 10^6 files the
    // full-table discovery read IS the merge's cost). Larger key sets fall
    // back to the full discovery scan (bloom probing is O(files x keys)).
    val keyVals: Option[Seq[Any]] = {
      val head = updKeys0.limit(SmallKeySetLimit + 1).collect()
      if (head.length <= SmallKeySetLimit) Some(head.map(_.get(0)).toSeq)
      else None
    }
    val candidates = keyVals match {
      case Some(vs) if vs.nonEmpty =>
        graft.table.Pruning.candidates(spark, store, entries,
          Seq(graft.table.Pred.InSet(keyCol, vs)))
      case _ => entries
    }
    val touchedPaths =
      if (candidates.isEmpty) Set.empty[String] // pure insert: no file can match
      else {
        // row identity via the read's _metadata path column (withPos), NOT
        // input_file_name(): the delete-aware read may anti-join, and when
        // the delete side exceeds the broadcast limit the join shuffles —
        // input_file_name() evaluated above an exchange returns "" and
        // every touched file would silently classify as untouched (matched
        // keys then DUPLICATE: old row carried over + update appended).
        // _metadata.file_path is bound at the scan, immune to plan shape.
        Deletes.readFiles(spark, store, snapId, candidates, withPos = true)
          .select(col(keyCol), col(Deletes.PosPathCol).as("_file"))
          .join(updKeys, keyCol)
          .select("_file").distinct()
          .collect().map(r => store.normalizePath(r.getString(0))).toSet
      }
    val (touched, untouched) = entries.partition(e => touchedPaths.contains(e.path))

    // 2. rewrite touched files + append inserts, preserving cluster order
    val base =
      if (touched.nonEmpty) Deletes.readFiles(spark, store, snapId, touched)
      else store.scan(spark, snapId).limit(0) // schema-only frame
    val dataCols = base.columns.filter(_ != keyCol)
    // standard WHEN MATCHED THEN UPDATE semantics: a matched row takes the
    // update side's value VERBATIM (an explicit NULL overwrites) — keyed off
    // a match marker, not coalesce, which would silently keep the old value.
    // A NARROW batch (missing some target columns — the runEvolving /
    // partial-update shape) KEEPS the target's value for the absent columns
    // on matched rows, same rule Delta applies to unreferenced columns; on
    // inserts the absent columns are NULL.
    // membership via the session RESOLVER, not string equality: Spark
    // resolves columns case-insensitively by default, so a batch column
    // differing only in case IS the target column — a case-sensitive set
    // test treated it as absent and matched rows silently kept their old
    // values (ADVICE r3)
    val resolver = spark.sessionState.conf.resolver
    val updCols = updates.columns
    val merged0 = base.alias("t")
      .join(updates.withColumn("_upd", lit(true)).alias("u"),
        Seq(keyCol), "full_outer")
      .select(col(keyCol) +: dataCols.map(c =>
        (if (updCols.exists(u => resolver(u, c)))
          when(col("u._upd"), col(s"u.$c")).otherwise(col(s"t.$c"))
        else col(s"t.$c")).as(c)): _*)
    val merged = allDeleteKeys match {
      case Some(dk) =>
        val keys = dk.select(col(keyCol)).distinct()
        // a not-matched-by-source key set is table-sized — never broadcast it
        val right = if (deleteUnmatched) keys else broadcast(keys)
        merged0.join(right, Seq(keyCol), "left_anti")
      case None => merged0
    }

    val touchedBytes = math.max(touched.map(_.sizeBytes).sum, 1L)
    val nFiles = math.max(1, math.ceil(touchedBytes.toDouble / targetBytes).toInt)
    val outDir = store.newDataDir("merge")
    val ckey = Keys.zorderKey(21, Seq(col("clip_id")),
      Cluster.scaledRangeCols(entries, Seq("sr_hz", "dur_ms"), 21))
    merged
      .withColumn("_ckey", ckey)
      .repartitionByRange(nFiles, col("_ckey"))
      .sortWithinPartitions("_ckey")
      .drop("_ckey")
      .write.mode("overwrite").parquet(outDir)

    val newEntries = store.collectStats(spark, outDir)
    val wallMs = (System.nanoTime() - t0) / 1000000
    store.appendLineage(newEntries.zipWithIndex.map { case (e, p) =>
      LineageRecord(runId, snapId, "merge", e.path, p, e.rows, e.sizeBytes,
        wallMs, System.currentTimeMillis(), "done")
    })
    val newSnap = store.commitDelta("merge", newEntries,
      removedPaths = touched.map(_.path).toSet,
      // rewrite planned against snapId: an interleaved commit (append /
      // delete / maintenance) invalidates the touched-file plan and the
      // merged rows themselves — fail (caller re-plans) rather than publish
      // a merge that silently drops the interleaved change
      expectedParent = Some(snapId),
      summary = extraSummary ++ Map(
        "runId" -> runId,
        "filesTouched" -> touched.size.toString,
        "filesUntouched" -> untouched.size.toString,
        "filesScannedForDiscovery" -> candidates.size.toString))
    MergeResult(newSnap, runId, touched.size, untouched.size,
      newEntries.map(_.rows).sum)
  }

  /**
   * Merge-on-read MERGE INTO — same WHEN MATCHED UPDATE / NOT MATCHED INSERT
   * (/ optional MATCHED DELETE) semantics as [[run]], but the commit is pure
   * churn instead of a rewrite:
   *
   *  - ONE equality-delete file covering every update + delete key
   *    (`seq` = the new snapshot id, so by the Iceberg sequence rule it
   *    masks only OLDER rows of those keys — [[Deletes]]), plus
   *  - the update rows appended as new data files with the SAME `seq`
   *    (born above the delete, so the new versions stay visible).
   *
   * Scan results are IDENTICAL to copy-on-write by construction; the cost
   * flips from O(touched files) to O(batch). On a 10^12-row table where a
   * daily batch touches a few rows in most files, copy-on-write rewrites
   * nearly the whole table — this commits kilobytes. The price is read-side
   * debt (one more delete era per merge), which compaction materializes and
   * [[Deletes.expireInert]] then retires; [[AutoMaintain]] watches it.
   * Iceberg's `write.merge.mode = merge-on-read` made the same trade.
   *
   * Key discovery never scans the table at all (no touched-file discovery
   * pass) — deleting a key that exists nowhere is a no-op under the
   * sequence rule, so pure inserts need no membership probe.
   *
   * Safe under [[MetaStore.withCommitRetry]]: like [[Deletes.run]], the
   * batch is valid against any newer snapshot (append + key delete commute
   * with other appends), unlike copy-on-write whose planned inputs can be
   * rewritten away.
   *
   * @param outputFiles coalesce the appended batch to this many data files
   *   (0 = keep the incoming partitioning); small CDC batches default to 1
   *   to avoid seeding small-file debt 32 files at a time.
   */
  def runMor(spark: SparkSession, store: MetaStore, updates: DataFrame,
             keyCol: String = "clip_id",
             runId: String = s"merge-mor-${System.currentTimeMillis()}",
             deleteKeys: Option[DataFrame] = None,
             outputFiles: Int = 1,
             extraSummary: Map[String, String] = Map.empty): MergeResult = {
    val t0 = System.nanoTime()

    // a MOR batch must carry the FULL target schema: the appended row
    // replaces its matched row WHOLESALE (equality delete + higher seq), so
    // an absent column cannot "keep" the target's value — and committing a
    // physically narrower file would poison every later mixed-schema scan.
    // Narrow batches belong to run()/runEvolving (copy-on-write keeps
    // absent columns per row).
    // resolver-aware guard + case ALIGNMENT: Spark resolves batch columns
    // case-insensitively, but runMor writes the batch PHYSICALLY — a file
    // whose parquet schema carries "SR_HZ" next to target files carrying
    // "sr_hz" poisons later mixed-schema scans, so batch columns matching a
    // target column only case-insensitively are renamed to the target's
    // exact spelling before the guard and the write
    val resolver = spark.sessionState.conf.resolver
    val updatesAligned = store.currentSnapshotId match {
      case Some(_) =>
        val targetCols = store.scanCurrent(spark).schema.fieldNames
        val missing = targetCols.filterNot(t =>
          updates.columns.exists(u => resolver(u, t)))
        require(missing.isEmpty,
          s"merge-mor: batch lacks target column(s) ${missing.mkString(", ")} — " +
            "use run()/runEvolving (copy-on-write keeps absent columns)")
        updates.columns.foldLeft(updates) { (df, u) =>
          targetCols.find(t => resolver(u, t) && t != u)
            .map(t => df.withColumnRenamed(u, t)).getOrElse(df)
        }
      case None => updates
    }

    // appended data files (written once; reused verbatim across commit
    // retries). A key in BOTH updates and deleteKeys must end up deleted —
    // copy-on-write applies the delete after the update ([[run]]) — so the
    // delete keys are excluded from the batch (their appended rows would
    // otherwise share the delete's seq and outlive it).
    val batch0 = deleteKeys match {
      case Some(dk) => updatesAligned.join(
        broadcast(dk.select(col(keyCol)).distinct()), Seq(keyCol), "left_anti")
      case None => updatesAligned
    }
    val batch = if (outputFiles > 0) batch0.coalesce(outputFiles) else batch0
    val outDir = store.newDataDir("merge-mor")
    store.writeData(batch, outDir)
    val addedRaw = store.collectStats(spark, outDir)

    // one equality-delete key file: update keys ∪ delete keys
    val allKeys = deleteKeys.foldLeft(updatesAligned.select(col(keyCol)))(
      (u, dk) => u.unionByName(dk.select(col(keyCol)))).distinct()
    val delDir = store.newDataDir("delete")
    allKeys.coalesce(1).write.mode("overwrite").parquet(delDir)
    val delRaw = store.collectStats(spark, delDir).filter(_.rows > 0)

    val result = MetaStore.withCommitRetry() {
      val parent = store.currentSnapshotId.getOrElse(-1L)
      // seq stamping (delete file AND batch files = the commit's id) and the
      // parent-delete carry-forward happen inside commitDelta (addedDeletes)
      // — pre-computing either here races an interleaved writer: a stale
      // seq fails to mask their rows of the same key (lost update)
      val delEntries = if (parent == -1L) Nil else delRaw
      val newSnap = store.commitDelta("merge-mor", addedRaw,
        summary = extraSummary ++ Map(
          "runId" -> runId,
          "filesTouched" -> "0",
          "deleteRows" -> delEntries.map(_.rows).sum.toString,
          "deleteFiles" -> delEntries.size.toString),
        addedDeletes = delEntries)
      MergeResult(newSnap, runId, 0,
        if (parent == -1L) 0 else store.entries(parent).size,
        addedRaw.map(_.rows).sum,
        deleteRows = delEntries.map(_.rows).sum)
    }
    // lineage AFTER the commit succeeds: inside the retry block every lost
    // race would append the same records again (duplicate metrics rows)
    val wallMs = (System.nanoTime() - t0) / 1000000
    store.appendLineage(addedRaw.zipWithIndex.map { case (e, p) =>
      LineageRecord(runId, result.snapshotId - 1, "merge-mor", e.path, p,
        e.rows, e.sizeBytes, wallMs, System.currentTimeMillis(), "done")
    })
    result
  }

  /**
   * Cost-based write-mode selection: estimate the copy-on-write REWRITE
   * AMPLIFICATION from metadata alone — candidate files that may contain a
   * batch key (partition tuple + zonemap + per-file bloom, the same pruning
   * stack [[run]]'s discovery uses; NO data read) over the batch's own
   * size — and pick the cheaper mode:
   *
   *  - amplification <= `morThreshold`: copy-on-write (precise discovery
   *    happens inside [[run]]; the table stays delete-free);
   *  - above it: merge-on-read (the rewrite would move `morThreshold`x the
   *    batch's bytes; commit the batch as churn and let maintenance pay the
   *    debt off-peak).
   *
   * Iceberg makes users pick `write.merge.mode` statically per table; a
   * daily pipeline whose batch size swings 1000x is better served deciding
   * per batch. Estimation cost: one pass over the manifest + one bloom
   * probe job; batches too large to enumerate keys driver-side
   * (> [[SmallKeySetLimit]]) estimate with zonemap/tuple tiers only.
   */
  def auto(spark: SparkSession, store: MetaStore, updates: DataFrame,
           keyCol: String = "clip_id",
           morThreshold: Double = 16.0,
           runId: String = s"merge-auto-${System.currentTimeMillis()}",
           deleteKeys: Option[DataFrame] = None,
           extraSummary: Map[String, String] = Map.empty): MergeResult = {
    val snapOpt = store.currentSnapshotId
    if (snapOpt.isEmpty)
      return runMor(spark, store, updates, keyCol, runId, deleteKeys,
        extraSummary = extraSummary) // empty table: pure append shape
    val entries = store.entries(snapOpt.get)

    val updKeys = deleteKeys.foldLeft(updates.select(col(keyCol)))(
      (u, dk) => u.unionByName(dk.select(col(keyCol)))).distinct()
    val head = updKeys.limit(SmallKeySetLimit + 1).collect()
    val candidates =
      if (head.isEmpty) Nil
      else if (head.length > SmallKeySetLimit) entries // assume broad touch
      else graft.table.Pruning.candidates(spark, store, entries,
        Seq(graft.table.Pred.InSet(keyCol, head.map(_.get(0)).toSeq)))
    // batch size estimate from the update keys' row count x the table's
    // mean row width (the batch frame itself has no size until written)
    val tableRows = math.max(entries.map(_.rows).sum, 1L)
    val tableBytes = math.max(entries.map(_.sizeBytes).sum, 1L)
    val batchBytes = math.max(head.length.toLong, 1L) * (tableBytes / tableRows)
    val touchBytes = candidates.map(_.sizeBytes).sum
    val amplification = touchBytes.toDouble / batchBytes
    val tag = Map("mergeMode" ->
      (if (amplification > morThreshold) "mor" else "cow"),
      "rewriteAmplificationEst" -> f"$amplification%.1f")
    if (amplification > morThreshold)
      runMor(spark, store, updates, keyCol, runId, deleteKeys,
        extraSummary = extraSummary ++ tag)
    else
      run(spark, store, updates, keyCol, runId = runId,
        deleteKeys = deleteKeys, extraSummary = extraSummary ++ tag)
  }

  /**
   * MERGE with AUTOMATIC SCHEMA EVOLUTION (Delta's `mergeSchema` / Iceberg
   * add-missing-columns): every column the update batch carries that the
   * target schema lacks is first added METADATA-ONLY with a NULL default
   * ([[Evolve.addColumn]] — rows the merge never touches read NULL, the
   * widening itself rewrites zero files), then the merge proceeds against
   * the widened target with cost-based COW/MOR selection ([[auto]]).
   *
   * A same-name column of a DIFFERENT type is refused, not coerced —
   * silent type drift in a daily merge is how a training table rots;
   * widen explicitly first ([[Evolve.widenColumn]]).
   */
  def runEvolving(spark: SparkSession, store: MetaStore, updates: DataFrame,
                  keyCol: String = "clip_id",
                  runId: String = s"merge-${System.currentTimeMillis()}",
                  deleteKeys: Option[DataFrame] = None): MergeResult = {
    if (store.currentSnapshotId.isEmpty) // empty table: nothing to evolve
      return auto(spark, store, updates, keyCol, runId = runId,
        deleteKeys = deleteKeys)
    val target = store.scanCurrent(spark).schema
    val resolver = spark.sessionState.conf.resolver
    // nullability-INSENSITIVE type equality: frames assembled from case
    // classes or unions routinely differ from the stored schema only in
    // (nested) nullability/containsNull, which is value-compatible — only
    // a genuine type difference is drift worth refusing
    def sameType(a: org.apache.spark.sql.types.DataType,
                 b: org.apache.spark.sql.types.DataType): Boolean = {
      import org.apache.spark.sql.types._
      (a, b) match {
        case (x: ArrayType, y: ArrayType) =>
          sameType(x.elementType, y.elementType)
        case (x: MapType, y: MapType) =>
          sameType(x.keyType, y.keyType) && sameType(x.valueType, y.valueType)
        case (x: StructType, y: StructType) =>
          x.fields.length == y.fields.length &&
            x.fields.zip(y.fields).forall { case (fa, fb) =>
              resolver(fa.name, fb.name) && sameType(fa.dataType, fb.dataType)
            }
        case _ => a == b
      }
    }
    val added = scala.collection.mutable.ArrayBuffer[String]()
    // the table's snapshot id as of the instant the merge itself starts;
    // None until the widening phase completes (see catch below)
    var preMergeSnap: Option[Option[Long]] = None
    try {
      updates.schema.fields.foreach { f =>
        target.fields.find(t => resolver(t.name, f.name)) match {
          case Some(t) => require(sameType(t.dataType, f.dataType),
            s"merge evolve: column '${f.name}' is ${t.dataType} in the target " +
              s"but ${f.dataType} in the batch — widen the target explicitly first")
          case None =>
            Evolve.addColumn(spark, store, f.name, f.dataType.sql,
              s"CAST(NULL AS ${f.dataType.sql})")
            added += f.name
            System.err.println(
              s"[merge] schema-evolved target: added ${f.name} ${f.dataType.sql}")
        }
      }
      // a NARROW batch (missing target columns) must merge copy-on-write:
      // COW's projection keeps the target's value for absent columns, while
      // merge-on-read replaces matched rows WHOLESALE with the appended row —
      // it cannot express partial-column keep semantics
      val narrow = target.fields.exists(f =>
        !updates.columns.exists(u => resolver(u, f.name)))
      preMergeSnap = Some(store.currentSnapshotId)
      if (narrow)
        run(spark, store, updates, keyCol, runId = runId, deleteKeys = deleteKeys)
      else
        auto(spark, store, updates, keyCol, runId = runId, deleteKeys = deleteKeys)
    } catch {
      // NonFatal only (ADVICE r4): after an OutOfMemoryError or interrupt the
      // JVM is not a safe place to run multi-commit cleanup — propagate raw.
      case scala.util.control.NonFatal(e) =>
        // evolve+merge lands as (evolution commit, merge commit) rather than
        // one atomic commit; if the merge half fails (constraint, CAS
        // exhaustion), un-widen so the evolution is not left durable without
        // the data that justified it. Each drop is metadata-only; a failure
        // while un-widening is suppressed in favor of the merge's error.
        // Un-widen ONLY when no merge snapshot has landed (failure during
        // widening, or before the merge committed): once a merge commit is
        // durable the added columns carry committed data and dropping them
        // would destroy it (ADVICE r4). "Landed" is decided by looking for
        // THIS runId in the summaries of snapshots newer than the pre-merge
        // head — comparing the global head alone would mistake a CONCURRENT
        // writer's commit for ours and skip the cleanup in exactly the
        // CAS-exhaustion case it exists for (r5 review). An unreadable
        // snapshot counts as committed: the safe direction is keeping the
        // widened columns.
        // the whole probe is guarded: if even the snapshot LISTING throws
        // (e.g. the same metadata outage that failed the merge), assume
        // committed — keeping the widened columns is the safe direction,
        // and the original merge error must not be displaced (r5 review)
        val mergeCommitted = preMergeSnap.exists { pre =>
          val floor = pre.getOrElse(-1L)
          try store.allSnapshotIds.filter(_ > floor).exists { id =>
            try store.snapshot(id).summary.get("runId").contains(runId)
            catch { case scala.util.control.NonFatal(_) => true }
          } catch { case scala.util.control.NonFatal(le) =>
            e.addSuppressed(le); true
          }
        }
        if (!mergeCommitted)
          added.reverse.foreach { c =>
            try Evolve.dropColumn(spark, store, c)
            catch { case scala.util.control.NonFatal(re) => e.addSuppressed(re) }
          }
        throw e
    }
  }
}
