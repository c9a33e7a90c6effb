package graft.streaming

import graft.ops.{Changes, Evolve}
import graft.table.MetaStore
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Read side of the streaming lakehouse: an incremental consumer that follows
 * a table's APPENDED rows by snapshot cursor — the complement of
 * [[StreamAppend]] (write side).
 *
 * One poll emits the union of each append snapshot's OWN added files in
 * `(sinceSnapshot, current]`; rewrites (compact / cluster / merge-rewrite /
 * rollback) contribute nothing, because each append's delta is computed
 * against its own parent, not across the whole range. Files are immutable
 * and maintenance never deletes them (only [[graft.ops.ExpireSnapshots]]
 * does), so a consumer lagging behind maintenance still reads its batches
 * exactly — the retention window (expire keepLast / a pinned tag,
 * [[graft.ops.Refs]]) bounds how far behind a consumer may fall, precisely
 * Kafka's retention contract re-expressed over snapshots.
 *
 * Exactly-once: the cursor is the snapshot id, advanced by the CALLER after
 * it has durably processed the batch (at-least-once if it crashes between
 * processing and persisting the cursor, like any offset-commit consumer).
 */
object ChangeFeed {

  final case class Poll(df: DataFrame, fromExclusive: Long, toInclusive: Long,
                        appendSnapshots: Seq[Long]) {
    def isEmpty: Boolean = appendSnapshots.isEmpty
  }

  /** Rows appended since `sinceSnapshot` (exclusive), up to the current
   * snapshot. `sinceSnapshot = -1` replays the table from its beginning
   * (what retention still holds). Snapshot ids are contiguous by
   * construction (MetaStore.commit allocates last+1), so a MISSING id in
   * the cursor range proves expiry already dropped a snapshot the consumer
   * never saw — that is a hard error, not silent data loss. The cursor
   * itself and every in-range append's PARENT must also still be live:
   * each append's delta diffs against its parent's manifest, so an expired
   * parent would crash mid-read after the range check passed. */
  def poll(spark: SparkSession, store: MetaStore, sinceSnapshot: Long): Poll = {
    val cur = store.currentSnapshotId.getOrElse(
      return Poll(spark.emptyDataFrame, sinceSnapshot, sinceSnapshot, Seq.empty))
    val ids = store.allSnapshotIds.toSet
    def retentionError(what: String): Nothing =
      throw new IllegalArgumentException(
        s"change-feed cursor $sinceSnapshot is behind the retention window: " +
          s"$what (raise expire minAgeMs/keepLast or pin a tag)")
    if (sinceSnapshot >= 0) {
      val missing = (sinceSnapshot + 1 to cur).filterNot(ids.contains)
      if (missing.nonEmpty) retentionError(
        s"snapshots ${missing.mkString(",")} were expired before this consumer read them")
      if (!ids.contains(sinceSnapshot)) retentionError(
        s"the cursor snapshot $sinceSnapshot itself was expired")
    }
    // feed-visible ops = pure row additions: plain appends and WAP publishes
    // (a published staged batch is an append that took the audit detour —
    // its commit adds files, removes none, and touches no deletes). Rewrites
    // and upserts (compact / cluster / merge / merge-mor / rollback) stay
    // invisible: the feed contract is APPENDED rows.
    val appendOps = Set("append", "wap-publish", "cherry-pick")
    val appendSnaps = store.allSnapshotIds
      .filter(id => id > sinceSnapshot && id <= cur)
      .map(store.snapshot)
      .filter(s => appendOps.contains(s.operation))
    appendSnaps.foreach { s =>
      if (s.parentId >= 0 && !ids.contains(s.parentId)) retentionError(
        s"append snapshot ${s.id} diffs against expired parent ${s.parentId}")
    }
    // collect every append's own added-file list FIRST, then issue ONE
    // evolution-aware read over the concatenation: readFiles groups by era
    // internally, so a consumer catching up over thousands of appends gets
    // O(eras) scan nodes instead of a thousand-way unionByName plan
    val added = appendSnaps.flatMap { s =>
      if (s.parentId == -1L) store.entries(s.id)
      else Changes.fileDiff(store, s.parentId, s.id).added
    }
    val df =
      if (added.isEmpty) {
        if (appendSnaps.isEmpty) spark.emptyDataFrame
        else store.scan(spark, cur).limit(0)
      } else Evolve.readFiles(spark, store, added, Evolve.evolutions(store))
    Poll(df, sinceSnapshot, cur, appendSnaps.map(_.id))
  }
}
