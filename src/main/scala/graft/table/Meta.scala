package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import com.fasterxml.jackson.annotation.JsonInclude
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
 *   history, tuple-agnostic rewrites); such files are always kept.
 * @param schemaId the file's era: how many of [[Snapshot.evolutions]] it
 *   was written after. Commit stamps an entry arriving with `-1` (from
 *   [[MetaStore.collectStats]]) with the parent's list length; any other
 *   entry keeps its era, even when its `seq` is reset. `0` is not written,
 *   and on a legacy-evolved table may predate eras ([[graft.ops.Evolve.eraOf]]). */
final case class DataFile(
    path: String,
    rows: Long,
    sizeBytes: Long,
    stats: Map[String, ColStat],
    seq: Long = 0L,
    partition: Map[String, String] = Map.empty,
    @JsonInclude(JsonInclude.Include.NON_DEFAULT) schemaId: Int = 0) {
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

/** @param manifestSummaries bounds of each data manifest, keyed by its name
 *   (Iceberg's manifest-list field summaries): scan planning tests them
 *   before it opens a manifest ([[PlanScan.prune]]). A manifest without one
 *   (listed by a snapshot written before summaries existed, or reused from
 *   one) is always read.
 * @param evolutions the table's schema evolutions in commit order, copied
 *   from the parent by every commit and appended to by an evolve commit
 *   ([[graft.ops.Evolve]]). Not written when empty. */
final case class Snapshot(
    id: Long,
    parentId: Long, // -1 = none
    timestampMs: Long,
    operation: String, // append | compact | cluster | merge | replace | delete
    manifests: Seq[String], // manifest file names relative to meta/
    summary: Map[String, String],
    deleteManifests: Seq[String] = Nil,
    manifestSummaries: Map[String, ManifestSummary] = Map.empty,
    @JsonInclude(JsonInclude.Include.NON_EMPTY) evolutions: Seq[Evolution] = Nil)

/** One schema evolution: files of older eras were written under
 * `schemaBeforeJson`, newer ones under `schemaAfterJson`. On read, older
 * files take `defaultSql` for an added `column` (even where a dropped name's
 * stale bytes are physically there), are renamed from `renamedFrom`, have a
 * dropped column projected away, or are cast to a widened `typeDdl`.
 * `paths`, the files it predates, is set only on the legacy
 * `meta/evolutions*` records; those from before rename/drop support are all
 * `add` and lack `schemaBeforeJson` (the after-schema minus `column`). */
final case class Evolution(
    column: String,
    typeDdl: String,
    defaultSql: String,
    schemaAfterJson: String,
    kind: String = "add",
    renamedFrom: String = "",
    schemaBeforeJson: String = "",
    @JsonInclude(JsonInclude.Include.NON_EMPTY) paths: Seq[String] = Nil)

/** The distinct values one partition field takes across a manifest's
 * entries; `missing` = some entry carries no value for the field. */
final case class PartSummary(values: Seq[String], missing: Boolean)

/** What all of a data manifest's entries share, written beside its name
 * when the manifest is written. Every bound covers every entry, so a
 * predicate the bounds rule out matches no entry of the manifest:
 *  - `stats`: per stats column, the min of the entry mins and the max of the
 *    entry maxes (zero-row and all-null entries, which no comparison
 *    matches, stay out of the union) and the summed null count (each
 *    entry's capped at its rows). A column is absent when some entry lacks
 *    it, the entries disagree on `numeric`, or a numeric bound does not
 *    parse — the cases in which [[Pred.mayMatch]] keeps an entry unread;
 *  - `partitions`: per partition field carried by some entry, its distinct
 *    values. A field with more than [[ManifestSummary.MaxPartitionValues]]
 *    of them is named in `overCap` instead, and nothing is proven from it.
 *    A field in neither is carried by no entry. */
final case class ManifestSummary(
    files: Long,
    rows: Long,
    stats: Map[String, ColStat],
    partitions: Map[String, PartSummary],
    overCap: Seq[String] = Nil) {

  /** One file spanning the whole manifest: [[Pred.mayMatch]] false on it
   * proves it false on every entry. */
  def bound: DataFile = DataFile("", rows, 0L, stats)
}

object ManifestSummary {
  val MaxPartitionValues = 64

  def of(entries: Seq[DataFile]): ManifestSummary = {
    // distinct values per field, collected up to one past the cap
    val values = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]
    entries.foreach(_.partition.foreach { case (n, v) =>
      val vs = values.getOrElseUpdate(n, mutable.LinkedHashSet.empty[String])
      if (vs.size <= MaxPartitionValues) vs += v
    })
    val (small, large) =
      values.toSeq.sortBy(_._1).partition(_._2.size <= MaxPartitionValues)
    ManifestSummary(
      entries.size.toLong,
      entries.iterator.map(_.rows).sum,
      entries.headOption.fold(Map.empty[String, ColStat])(_.stats.flatMap {
        case (c, s) => union(entries, c, s.numeric).map(c -> _)
      }),
      small.map { case (n, vs) =>
        n -> PartSummary(vs.toVector, entries.exists(!_.partition.contains(n)))
      }.toMap,
      large.map(_._1))
  }

  private def parseNum(b: String): BigDecimal =
    b.toLongOption match {
      case Some(l) => BigDecimal(l)
      case None => try BigDecimal(b) catch { case _: NumberFormatException => null }
    }

  /** Column `c`'s stat over all of `entries` (`numeric` = the first
   * entry's flag); None when no sound one exists. One pass: this runs for
   * every shard a commit writes. */
  private def union(entries: Seq[DataFile], c: String,
                    numeric: Boolean): Option[ColStat] = {
    var nulls = 0L
    var lo, hi: String = null
    var loN, hiN: BigDecimal = null
    val it = entries.iterator
    while (it.hasNext) {
      val e = it.next()
      val s = e.stats.getOrElse(c, null)
      if (s == null || s.numeric != numeric) return None
      nulls += math.min(s.nullCount, e.rows)
      // zero-row and all-null entries match no comparison: out of the union
      if (e.rows > 0 && s.nullCount < e.rows) {
        if (!numeric) {
          if (lo == null || s.min < lo) lo = s.min
          if (hi == null || s.max > hi) hi = s.max
        } else {
          val a = parseNum(s.min); val b = parseNum(s.max)
          if (a == null || b == null) return None
          if (lo == null || a < loN) { lo = s.min; loN = a }
          if (hi == null || b > hiN) { hi = s.max; hiN = b }
        }
      }
    }
    Some(if (lo == null) ColStat("", "", numeric, nulls) else ColStat(lo, hi, numeric, nulls))
  }
}

/** Per-item lineage/metrics row, persisted into the metadata side-table
 * (meta/lineage, one JSON object per line, one `.jsonl` file per op). The
 * Spark analog of the reference's FibonacciReporter rows/sec
 * instrumentation (vector-like/src/main/java/vec/util/FibonacciReporter.kt:15-35). */
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
  /** A field a record lacks (one written before the field existed) reads
   * as its case-class default: the Scala module applies defaults. */
  def readSnapshot(s: String): Snapshot = mapper.readValue[Snapshot](s)
  /** The one manifest codec: every data and delete manifest is read and
   * written through this pair. Static, so PlanScan's executors call it. */
  def readManifest(path: Path): Seq[DataFile] =
    mapper.readValue[ManifestFile](
      new String(Files.readAllBytes(path), StandardCharsets.UTF_8)).entries
  def writeManifest(path: Path, entries: Seq[DataFile]): Unit = {
    Files.write(path, write(ManifestFile(entries)).getBytes(StandardCharsets.UTF_8))
    ()
  }
}
