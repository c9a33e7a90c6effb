package graft.ops

import graft.table.{DataFile, MetaStore}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Append new rows as immutable data files + a new snapshot. */
object Append {

  /**
   * Write `df` under a fresh data dir (one parquet file per partition of
   * `df` — callers size partitions for the target file size) and commit
   * snapshot = parent entries + new entries.
   *
   * @param constraints write-time quality gates ([[Constraints]]): checked
   *   in one aggregate pass over the batch BEFORE any file is written; a
   *   violation aborts with the per-constraint report and commits nothing.
   *   The batch plan is executed twice (gate pass + write pass), so `df`
   *   must be deterministic — the same contract Spark's own task retries
   *   already impose on anything written; cache the batch first if its
   *   source can change between passes.
   */
  def run(spark: SparkSession, store: MetaStore, df: DataFrame,
          summary: Map[String, String] = Map.empty,
          constraints: Seq[Constraint] = Seq.empty): Long = {
    Constraints.enforce(df, constraints)
    val dir = store.newDataDir("append")
    // honors the table's hidden-partition spec when declared: one partition
    // tuple per output file, tuple recorded in the manifest for exact
    // file elimination at scan time (table/Partitioning.scala)
    store.writeData(df, dir)
    val newEntries = store.collectStats(spark, dir)
    // O(batch) commit: parent manifests are reused structurally — a
    // streaming ingest against a 10^5-manifest-entry table never reads or
    // rewrites the existing file list. An append is valid against ANY newer
    // snapshot, so a lost commit race (another writer claimed the id) is
    // retried rather than surfaced — multi-writer appends just work.
    MetaStore.withCommitRetry() {
      store.commitDelta("append", newEntries, summary = summary)
    }
  }
}
