package graft.streaming

import graft.ops.{Append, AutoMaintain, MaintenancePolicy, MergeInto}
import graft.table.MetaStore
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, desc, row_number}
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Streaming lakehouse ingest: a Structured Streaming source lands in the
 * MetaStore table one atomic snapshot per micro-batch.
 *
 * Exactly-once without a transactional sink: `foreachBatch` is at-least-once
 * across restarts, so each commit records its micro-batch id in the snapshot
 * summary (`streamBatchId`) and a replayed batch is detected against the
 * snapshot log and skipped — the table's own commit history is the
 * idempotence ledger, the same trick Iceberg/Delta streaming sinks use.
 * Combined with the store's atomic snapshot claim, readers see each batch
 * exactly once or not yet, never partially.
 */
object StreamAppend {

  /** Batch ids already committed to `store` by any streaming query.
   * O(history) metadata reads — kept for diagnostics; the hot-path replay
   * test is [[isReplay]]. */
  def committedBatchIds(store: MetaStore): Set[Long] =
    store.allSnapshotIds.map(store.snapshot)
      .flatMap(_.summary.get("streamBatchId"))
      .map(_.toLong).toSet

  /** The newest committed micro-batch id, or -1. foreachBatch delivers
   * batch ids in strictly increasing order and each commits before the
   * next starts, so the NEWEST stream-stamped snapshot carries the maximum
   * — walk ids descending and stop at the first hit. O(commits since the
   * last stream batch), not O(history): the per-trigger ledger probe must
   * not reread the whole snapshot log on a long-running ingest. */
  def maxCommittedBatchId(store: MetaStore): Long =
    store.allSnapshotIds.sorted.reverseIterator
      .map(id => store.snapshot(id).summary.get("streamBatchId"))
      .collectFirst { case Some(b) => b.toLong }
      .getOrElse(-1L)

  /** Replay test for one table fed by ONE streaming query (batch ids are
   * per-query counters — two queries feeding one table would need a
   * per-query ledger key). A replayed id is <= the newest committed one
   * because ids commit in order; a batch that failed mid-commit never
   * stamped a snapshot, so its retry is NOT classified as a replay. */
  def isReplay(store: MetaStore, batchId: Long): Boolean =
    batchId <= maxCommittedBatchId(store)

  /** Commit one micro-batch; no-op if `batchId` was already committed. */
  def commitBatch(store: MetaStore, batch: DataFrame, batchId: Long): Unit = {
    if (isReplay(store, batchId)) return // restart replay
    Append.run(batch.sparkSession, store, batch,
      Map("streamBatchId" -> batchId.toString))
  }

  /** Upsert one micro-batch via copy-on-write MERGE (exactly-once through
   * the same batch-id ledger as [[commitBatch]]). A first batch against an
   * empty table appends. When `orderCol` is set, duplicate keys WITHIN the
   * batch are resolved last-wins by that column before merging (a CDC-shaped
   * source can carry several updates for one key per trigger); without it,
   * the batch must be key-unique — MERGE's full-outer would duplicate. */
  def commitMergeBatch(store: MetaStore, batch: DataFrame, batchId: Long,
                       keyCol: String = "clip_id",
                       orderCol: Option[String] = None,
                       mor: Boolean = false): Unit = {
    if (isReplay(store, batchId)) return // restart replay
    val deduped = orderCol match {
      case Some(oc) =>
        val w = Window.partitionBy(keyCol).orderBy(desc(oc))
        batch.withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
      case None => batch
    }
    if (store.currentSnapshotId.isEmpty)
      Append.run(batch.sparkSession, store, deduped,
        Map("streamBatchId" -> batchId.toString))
    else if (mor)
      // merge-on-read: per-batch cost is O(batch) — one appended file + one
      // equality-delete file — never O(touched files); the right mode for a
      // high-frequency CDC stream against a huge table. Read debt is
      // retired by the in-loop AutoMaintain ([[start]]'s maintainEvery).
      MergeInto.runMor(batch.sparkSession, store, deduped, keyCol,
        runId = s"stream-merge-$batchId",
        extraSummary = Map("streamBatchId" -> batchId.toString)): Unit
    else
      MergeInto.run(batch.sparkSession, store, deduped, keyCol,
        runId = s"stream-merge-$batchId",
        extraSummary = Map("streamBatchId" -> batchId.toString)): Unit
  }

  /** Start a streaming UPSERT query: each micro-batch MERGEs into the
   * table (update-or-insert by `keyCol`), exactly-once across restarts via
   * the snapshot ledger — the streaming face of [[graft.ops.MergeInto]]
   * for CDC-shaped sources.
   *
   * @param maintainEvery run [[AutoMaintain]] after every Nth committed
   *   batch (0 = never), like [[start]]. ESSENTIAL with `mor = true`: each
   *   MOR batch leaves one delete era (one extra anti-join per scan) and
   *   one small file — exactly the debt the policy's delete-eras/rows and
   *   small-file triggers diagnose and `materialize-deletes` + compact
   *   retire. Without it a long-running MOR stream degrades reads
   *   unboundedly. */
  def startUpsert(store: MetaStore, source: DataFrame, checkpointDir: String,
                  queryName: String, keyCol: String = "clip_id",
                  orderCol: Option[String] = None,
                  mor: Boolean = false,
                  maintainEvery: Int = 0,
                  policy: MaintenancePolicy = MaintenancePolicy()): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .queryName(queryName)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val replay = isReplay(store, batchId)
        commitMergeBatch(store, batch.toDF(), batchId, keyCol, orderCol, mor)
        if (!replay && maintainEvery > 0 && (batchId + 1) % maintainEvery == 0) {
          val applied = AutoMaintain.run(batch.sparkSession, store, policy,
            runId = s"$queryName-auto-$batchId")
          if (applied.nonEmpty) System.err.println(
            s"[stream-maintain] batch=$batchId ran ${applied.map(_.decision.op).mkString(",")}")
        }
      }
      .start()

  /** Start the ingest query (micro-batch; caller owns stop/await).
   *
   * @param maintainEvery run [[AutoMaintain]] after every Nth committed
   *   batch (0 = never): continuous ingest accumulates exactly the debt its
   *   policy-driven planner diagnoses (small files per batch, interleaved
   *   key ranges), so the ingest loop IS the maintenance daemon — no
   *   external scheduler. Safe by construction: maintenance commits carry
   *   no `streamBatchId` (replay detection unaffected), compaction is
   *   CDC-invisible so live [[ChangeFeed]] consumers see only the appends,
   *   and a maintenance pass that crashes mid-run resumes from its own
   *   checkpoints on the next trigger. Replayed batches don't re-trigger
   *   (only a COMMITTING batch counts). */
  def start(store: MetaStore, source: DataFrame, checkpointDir: String,
            queryName: String, maintainEvery: Int = 0,
            policy: MaintenancePolicy = MaintenancePolicy()): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .queryName(queryName)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val replay = isReplay(store, batchId)
        commitBatch(store, batch.toDF(), batchId)
        if (!replay && maintainEvery > 0 && (batchId + 1) % maintainEvery == 0) {
          val applied = AutoMaintain.run(batch.sparkSession, store, policy,
            runId = s"$queryName-auto-$batchId")
          if (applied.nonEmpty) System.err.println(
            s"[stream-maintain] batch=$batchId ran ${applied.map(_.decision.op).mkString(",")}")
        }
      }
      .start()
}
