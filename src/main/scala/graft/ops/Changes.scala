package graft.ops

import graft.table.{DataFile, MetaStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level delta between two snapshots of the same table. */
final case class SnapshotDiff(
    fromId: Long,
    toId: Long,
    added: Seq[DataFile],
    removed: Seq[DataFile]) {
  def churnedFiles: Int = added.size + removed.size
}

/**
 * Incremental reads between snapshots (CDC) over the immutable-file store.
 * Because data files are never mutated (MetaStore doctrine; reference
 * README.md:128-132 immutability + its aspired append-only journal,
 * README.md:141-142), the delta between ANY two snapshots is fully described
 * by the file-list set difference — so every read here is bounded by the
 * CHURN between the snapshots, never by table size. At 100 TB a day's
 * incremental consumer reads the day's appended/rewritten files only.
 *
 * Three surfaces:
 *  - [[fileDiff]]: the added/removed file lists (driver-side, manifest-only).
 *  - [[appendedRows]]: exact new-rows read when every step in (from, to] is
 *    an append — the common streaming-ingest consumer path.
 *  - [[rowChanges]]: row-level insert/update/delete classification between
 *    any two snapshots, by full-outer-joining ONLY the churned files on the
 *    key. Pure rewrites (compact / cluster) move rows between files without
 *    changing them, so they classify as `rewritten` and are dropped — a
 *    compaction is invisible to CDC consumers by construction.
 */
object Changes {

  def fileDiff(store: MetaStore, fromId: Long, toId: Long): SnapshotDiff = {
    // manifest-NAME diff: snapshots of one log share untouched shards by
    // name (the commitDelta reuse discipline), and a shard name is written
    // once and immutable — so only shards present on ONE side need parsing.
    // An append diff costs O(appended files); a partial rewrite O(touched
    // shards); only a full rewrite degenerates to O(table). Entries carried
    // through a rewritten shard appear on both sides with the same path
    // (entries are immutable per path) and cancel in the path subtraction.
    // At the 10^5-file regime this is the difference between a ChangeFeed
    // poll paying ~1.3 s of manifest JSON per crossed append and paying
    // ~2 ms (MetaScale-measured).
    val mFrom = store.snapshot(fromId).manifests.toSet
    val mTo = store.snapshot(toId).manifests.toSet
    val addedEntries = (mTo -- mFrom).toSeq.flatMap(store.readManifestEntries)
    val removedEntries = (mFrom -- mTo).toSeq.flatMap(store.readManifestEntries)
    val addedPaths = addedEntries.map(_.path).toSet
    val removedPaths = removedEntries.map(_.path).toSet
    SnapshotDiff(fromId, toId,
      addedEntries.filterNot(e => removedPaths.contains(e.path)).sortBy(_.path),
      removedEntries.filterNot(e => addedPaths.contains(e.path)).sortBy(_.path))
  }

  /** Walk the parent chain from `toId` back to `fromId`; the snapshot ops
   * crossed, newest first. Fails if `fromId` is not an ancestor. */
  def operationsBetween(store: MetaStore, fromId: Long, toId: Long): Seq[String] = {
    var id = toId
    val ops = scala.collection.mutable.ArrayBuffer[String]()
    while (id != fromId) {
      require(id > fromId && id != -1L,
        s"snapshot $fromId is not an ancestor of $toId")
      val s = store.snapshot(id)
      ops += s.operation
      id = s.parentId
    }
    ops.toSeq
  }

  /**
   * Rows appended in (fromId, toId]. Exact by construction when every
   * snapshot crossed is an append (enforced): appends never remove files,
   * so the added files hold exactly the new rows.
   */
  def appendedRows(spark: SparkSession, store: MetaStore,
                   fromId: Long, toId: Long): DataFrame = {
    val ops = operationsBetween(store, fromId, toId)
    // same pure-row-addition set ChangeFeed.poll uses: a WAP publish is an
    // append that took the audit detour (adds files, removes none)
    val appendOps = Set("append", "wap-publish", "cherry-pick")
    require(ops.forall(appendOps.contains),
      s"appendedRows needs an append-only range, saw: ${ops.mkString(",")}; " +
        "use rowChanges for ranges crossing rewrites")
    val d = fileDiff(store, fromId, toId)
    if (d.added.isEmpty) store.scan(spark, toId).limit(0)
    else Evolve.readFiles(spark, store, d.added, Evolve.evolutions(store))
  }

  /**
   * Row-level CDC: one row per key whose content differs between the
   * snapshots, with `change_type` in {insert, update, delete}. Reads ONLY
   * churned files; untouched files cannot contribute changes (immutable) and
   * are never opened. Requires `keyCol` to be unique per snapshot (the clip
   * table's contract). Content equality is a fingerprint over every non-key
   * column (xxhash64 — covers the binary payload), so a compaction that only
   * relocates rows yields an empty result.
   */
  def rowChanges(spark: SparkSession, store: MetaStore,
                 fromId: Long, toId: Long,
                 keyCol: String = "clip_id"): DataFrame = {
    val d = fileDiff(store, fromId, toId)
    // era-normalized AND delete-aware reads: each side applies ITS OWN
    // snapshot's equality deletes, so a row already deleted at `from` whose
    // file was churned doesn't resurface as a phantom old-side row
    def read(fs: Seq[DataFile], snapId: Long): Option[DataFrame] =
      if (fs.isEmpty) None else Some(Deletes.readFiles(spark, store, snapId, fs))
    val base = (read(d.removed, fromId), read(d.added, toId)) match {
      case (None, None) =>
        // no churn at all — including the entry-less-snapshot case, where
        // scan() has no schema to project keyCol from
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(keyCol,
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("change_type",
              org.apache.spark.sql.types.StringType))))
      case (oldOpt, newOpt) =>
        val schema = oldOpt.getOrElse(newOpt.get)
        val dataCols = schema.columns.filter(_ != keyCol).sorted
        // null-safe fingerprint: Spark's hash functions SKIP null inputs
        // (seed passes through unchanged), so (a=v, b=NULL) and (a=NULL, b=v)
        // would collide and a genuine update classify as 'rewritten'. An
        // always-non-null isnull marker per column keeps the hash sequence
        // distinct wherever the null pattern differs.
        val fp = xxhash64(dataCols.flatMap(c =>
          Seq(isnull(col(c)).cast("int"), col(c))): _*)
        def side(dfo: Option[DataFrame], tag: String) =
          dfo.getOrElse(schema.limit(0))
            .select(col(keyCol), fp.as(s"_fp_$tag"))
        side(oldOpt, "old").join(side(newOpt, "new"), Seq(keyCol), "full_outer")
          .withColumn("change_type",
            when(col("_fp_old").isNull, "insert")
              .when(col("_fp_new").isNull, "delete")
              .when(col("_fp_old") =!= col("_fp_new"), "update")
              .otherwise("rewritten"))
          .filter(col("change_type") =!= "rewritten")
          .select(col(keyCol), col("change_type"))
    }
    // merge-on-read deletes churn NO data files, so the file-diff path above
    // cannot see them: keys in delete files ADDED in (from, to] that were
    // visible at `from` and are no longer visible at `to` are row deletes.
    // Bounded by the delete churn: the key set drives a zonemap+bloom-PRUNED
    // visibility probe on both snapshots, never a full scan.
    val fromDelPaths = store.deleteEntries(fromId).map(_.path).toSet
    val deltaDels = store.deleteEntries(toId).filterNot(e => fromDelPaths.contains(e.path))
    val (posDelEntries, eqDelEntries) = deltaDels.partition(Deletes.isPositional)
    val keyed = eqDelEntries.map(_.path).filter { p =>
      Deletes.delCols(spark, p).contains(keyCol)
    }
    // POSITION deletes added in the range carry no key column — resolve the
    // masked (file_path, pos) rows to keys by reading the TARGET files under
    // `from`'s visibility with row identity attached. Bounded by the delete
    // churn's target-file set, never the table.
    val posKeyVals: Seq[Any] =
      if (posDelEntries.isEmpty) Nil
      else {
        val pairs = Deletes.positionPairs(spark, posDelEntries)
          .select(col("file_path").as(Deletes.PosPathCol),
            col("pos").as(Deletes.PosIdxCol))
        val targetPaths = pairs.select(Deletes.PosPathCol)
          .distinct().collect().map(_.getString(0)).toSet
        val targets = store.entries(fromId).filter(f => targetPaths.contains(f.path))
        if (targets.isEmpty) Nil
        else Deletes.readFiles(spark, store, fromId, targets, withPos = true)
          .join(broadcast(pairs), Seq(Deletes.PosPathCol, Deletes.PosIdxCol), "left_semi")
          .select(keyCol).distinct().collect().map(_.get(0)).toSeq
      }
    if (keyed.isEmpty && posKeyVals.isEmpty) base
    else {
      val keyVals = (if (keyed.isEmpty) Nil
        else spark.read.parquet(keyed: _*)
          .select(keyCol).distinct().collect().map(_.get(0)).toSeq
        ).++(posKeyVals).distinct
      if (keyVals.isEmpty) base
      else {
        val pred = Seq(graft.table.Pred.InSet(keyCol, keyVals))
        val atFrom = store.scanPruned(spark, fromId, pred).df.select(keyCol)
        val atTo = store.scanPruned(spark, toId, pred).df.select(keyCol)
        val deleted = atFrom.except(atTo)
          .withColumn("change_type", lit("delete"))
        // the MERGE-ON-READ UPSERT shape: a key the file-diff path classified
        // as `insert` (its new row is in an added file, its OLD row sits in
        // an UNCHURNED file the diff never reads, masked by one of the
        // range's delete files) that was VISIBLE at `from` is a net UPDATE.
        // Same pruned probe, no extra scan. Covers deleted-then-re-inserted
        // keys too (visible at both ends, new content -> update).
        val wasVisible = broadcast(atFrom.distinct().withColumn("_was", lit(true)))
        val reclassified = base.join(wasVisible, Seq(keyCol), "left_outer")
          .withColumn("change_type",
            when(col("change_type") === "insert" && col("_was"), "update")
              .otherwise(col("change_type")))
          .drop("_was")
        // a delete materialized by a rewrite within the same range appears
        // in BOTH paths (file diff + delete diff) — identical rows, distinct
        reclassified.unionByName(deleted).distinct()
      }
    }
  }
}
