package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.{ClassTagExtensions, DefaultScalaModule}

/**
 * Metadata model for the Iceberg-shaped table: snapshots point at manifests,
 * manifests list data files with row counts and per-column min/max stats.
 *
 * This is the Spark-first re-expression of the reference's `.meta` sidecar
 * (cell coords / column names / type mementos,
 * cursor/src/main/java/cursors/io/ISAMCursor.kt:175-211) plus its aspired
 * "append-only journal of volume mutations" (reference README.md:141-142,
 * 163-165): the sidecar becomes a manifest entry with column stats (the
 * `featureRange` min/max pass, vector-like/src/main/java/vec/ml/
 * FeatureRange.kt:14-33), the journal becomes the snapshot log.
 */
final case class ColStat(min: String, max: String, numeric: Boolean, nullCount: Long)

/** @param seq data sequence number — the snapshot id whose commit first added
 *   this file (stamped by [[MetaStore.commit]]; carried over verbatim on
 *   every later commit). Equality deletes apply only to files with
 *   `seq < delete.seq` (Iceberg's sequence-number rule), so a row
 *   re-inserted AFTER a delete of its key stays visible. `0` = predates
 *   sequence tracking = oldest (every delete applies). */
/** @param partition hidden-partition tuple (spec field name → value string)
 *   parsed from the file's Hive-style `_p_` path segments at stats time —
 *   the scan planner's EXACT elimination tier ([[PartitionSpec.mayMatch]]).
 *   Empty = the file was written without tuple reconstruction (pre-spec
 *   history, tuple-agnostic rewrites); such files are always kept. */
final case class DataFile(
    path: String,
    rows: Long,
    sizeBytes: Long,
    stats: Map[String, ColStat],
    seq: Long = 0L,
    partition: Map[String, String] = Map.empty) {
  /** Integer view of a numeric stat; None when absent OR not integral —
   * every caller's contract is keep/recompute-on-unknown, so a double
   * stats column must degrade conservatively, never throw. Doubles round
   * toward the conservative side (floor for lower bound, ceil for upper):
   * a widened bound can only admit extra files, never skip a matching one. */
  def statLong(col: String, lower: Boolean): Option[Long] =
    stats.get(col).filter(_.numeric).flatMap { s =>
      val v = if (lower) s.min else s.max
      v.toLongOption.orElse(v.toDoubleOption.map(d =>
        if (lower) math.floor(d).toLong else math.ceil(d).toLong))
    }
}

final case class ManifestFile(entries: Seq[DataFile])

/** @param deleteManifests manifest files listing EQUALITY-DELETE files (each
 *   a small parquet of key values; `DataFile.seq` = the delete's commit id).
 *   A data row is visible iff no delete file with a higher seq contains its
 *   key — applied read-side ([[graft.ops.Deletes]], merge-on-read) and
 *   materialized by every rewrite (compact/cluster/merge). */
/** Declared cluster order (the Iceberg sort-order metadata analog):
 * `curve` is "zorder" | "hilbert"; `rangeCols` must be non-empty — its
 * leading column doubles as the layout-decay trigger column
 * ([[graft.ops.AutoMaintain]]). Stored in meta/sort-order.json so the
 * table is self-describing: maintenance reclusters by the table's own
 * declaration, not caller-side defaults. */
final case class SortOrder(
    curve: String,
    hashCols: Seq[String],
    rangeCols: Seq[String])

final case class Snapshot(
    id: Long,
    parentId: Long, // -1 = none
    timestampMs: Long,
    operation: String, // append | compact | cluster | merge | replace | delete
    manifests: Seq[String], // manifest file names relative to meta/
    summary: Map[String, String],
    deleteManifests: Seq[String] = Nil)

/** Per-item lineage/metrics row, persisted into the metadata side-table
 * (meta/lineage). The Spark analog of the reference's FibonacciReporter
 * rows/sec instrumentation (vector-like/src/main/java/vec/util/
 * FibonacciReporter.kt:15-35). */
final case class LineageRecord(
    runId: String,
    snapshotId: Long,
    phase: String,
    item: String,
    partitionId: Int,
    rows: Long,
    bytes: Long,
    wallMs: Long,
    tsMs: Long,
    status: String)

object Json {
  val mapper: ObjectMapper with ClassTagExtensions = {
    val m = new ObjectMapper() with ClassTagExtensions
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }
  def write(v: Any): String = mapper.writeValueAsString(v)
  def readSnapshot(s: String): Snapshot = {
    val snap = mapper.readValue[Snapshot](s)
    // pre-deletes snap-*.json lacks the field; Jackson leaves the Seq null
    // (primitive Long `seq` defaults to 0 on its own)
    if (snap.deleteManifests == null) snap.copy(deleteManifests = Nil) else snap
  }
  /** The one manifest codec: every data and delete manifest is read and
   * written through this pair. Static, so PlanScan's executors call it. */
  def readManifest(path: Path): Seq[DataFile] = {
    val es = mapper.readValue[ManifestFile](
      new String(Files.readAllBytes(path), StandardCharsets.UTF_8)).entries
    // pre-partitioning manifest-*.json lacks the field; Jackson leaves the
    // Map null (same back-compat rule as Snapshot.deleteManifests)
    if (es.exists(_.partition == null))
      es.map(e => if (e.partition == null) e.copy(partition = Map.empty) else e)
    else es
  }
  def writeManifest(path: Path, entries: Seq[DataFile]): Unit = {
    Files.write(path, write(ManifestFile(entries)).getBytes(StandardCharsets.UTF_8))
    ()
  }
}
