package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.table.{Json, MetaFs, MetaStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One schema evolution. The files captured in `paths` were written BEFORE
 * it, under `schemaBeforeJson` (the era's physical layout); files written
 * after carry `schemaAfterJson` physically.
 *
 *  - `kind = "add"`: pre-files take `defaultSql` for `column` on read
 *    (including a dropped-then-re-added name whose stale bytes must NOT
 *    resurface — the column logically did not exist in those files);
 *    post-files keep their written values, genuine NULLs included.
 *  - `kind = "rename"`: pre-files store the data under `renamedFrom` and are
 *    read via a rename projection; values are untouched.
 *  - `kind = "drop"`: pre-files still carry the bytes; the column is
 *    projected away on read (column pruning makes that free).
 *
 * `schemaBeforeJson` is empty on records written before rename/drop support;
 * for those (always `add`) the before-schema is the after-schema minus the
 * added column. */
final case class Evolution(
    column: String,
    typeDdl: String,
    defaultSql: String,
    schemaAfterJson: String,
    paths: Seq[String],
    kind: String = "add",
    renamedFrom: String = "",
    schemaBeforeJson: String = "")

final case class EvolutionLog(evolutions: Seq[Evolution])

/**
 * Additive schema evolution with Iceberg-style initial defaults, without
 * rewriting a single data file: an `addColumn` commit records (column, type,
 * default, the CURRENT file list) in `meta/evolutions.json`. Readers group a
 * snapshot's files by which evolutions they predate and fill the default
 * only for those groups — a file that physically lacks the column reads as
 * all-NULL there, so `coalesce(col, default)` fills exactly the pre-evolution
 * rows; post-evolution files keep their values, explicit NULLs included.
 *
 * Self-healing: Compact/Cluster read through [[MetaStore.scan]], so their
 * rewrites MATERIALIZE the default into the new files, which then drop out
 * of every evolution's path set — the log's effective size shrinks as
 * maintenance runs. (At 10^5-10^6 files the sidecar should shard like the
 * manifests do; same bound, same fix, noted in MetaStore.manifestShardSize.)
 *
 * The reference's `.meta` sidecar re-declares column types per volume
 * (cursor/src/main/java/cursors/io/ISAMCursor.kt:175-211) but has no
 * add-column story; this supplies it Spark-first.
 */
object Evolve {

  private def logPath(store: MetaStore) =
    Paths.get(store.tableDir, "meta", "evolutions.json")

  private def evoDir(store: MetaStore) =
    Paths.get(store.tableDir, "meta", "evolutions")

  /** mtime-guarded parse cache for the LEGACY single-file log: every
   * MetaStore.scan consults the log, and a maintenance pass issues MANY
   * scans — re-parsing an O(files) JSON sidecar per scan is avoidable
   * rework. Key = table dir; entry is invalidated whenever the file's
   * (mtime, size) changes. */
  private val logCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Seq[Evolution])]()

  /** Per-file parse cache for the write-once per-snapshot entries (an
   * evo-<id>.json never changes after its atomic publish). */
  private val entryCache =
    new java.util.concurrent.ConcurrentHashMap[String, Evolution]()

  private def legacyEvolutions(store: MetaStore): Seq[Evolution] = {
    val p = logPath(store)
    if (!Files.exists(p)) return Seq.empty
    val mtime = Files.getLastModifiedTime(p).toMillis
    val size = Files.size(p)
    val cached = logCache.get(store.tableDir)
    if (cached != null && cached._1 == mtime && cached._2 == size) return cached._3
    val parsed = Json.mapper.readValue[EvolutionLog](
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).evolutions
    logCache.put(store.tableDir, (mtime, size, parsed))
    parsed
  }

  /**
   * The table's evolution log, in commit order: any legacy single-file
   * entries (pre-dating per-snapshot records, never written anymore)
   * followed by the write-once `meta/evolutions/evo-<snapId>.json` entries
   * sorted by snapshot id. Per-snapshot files make the log append-only with
   * NO read-modify-write: two racing evolvers each publish under their own
   * committed snapshot id (unique by the commit CAS), so neither can clobber
   * the other — the lost-update window of rewriting one shared JSON is gone.
   */
  def evolutions(store: MetaStore): Seq[Evolution] = {
    val d = evoDir(store)
    legacyEvolutions(store) ++ MetaFs.versions(d, "evo-").map { id =>
      entryCache.computeIfAbsent(d.resolve(s"evo-$id.json").toString, pp =>
        Json.mapper.readValue[Evolution](new String(
          Files.readAllBytes(Paths.get(pp)), StandardCharsets.UTF_8)))
    }
  }

  /**
   * Add `column` of `typeDdl` (Spark DDL, e.g. "double") with an initial
   * default (a SQL expression over literals). Metadata-only: commits a new
   * snapshot with the SAME data files.
   */
  def addColumn(spark: SparkSession, store: MetaStore, column: String,
                typeDdl: String, defaultSql: String): Long =
    record(spark, store, s"add $column") { before =>
      require(!before.fieldNames.contains(column),
        s"column $column already exists")
      val after = StructType(before.fields :+
        org.apache.spark.sql.types.StructField(
          column, org.apache.spark.sql.types.DataType.fromDDL(typeDdl),
          nullable = true))
      (Evolution(column, typeDdl, defaultSql, after.json, Nil,
        kind = "add", schemaBeforeJson = before.json),
        Map("column" -> column, "type" -> typeDdl, "default" -> defaultSql))
    }

  /**
   * Rename `from` to `to`, metadata-only (Iceberg `RENAME COLUMN`): no file
   * is touched; pre-rename files keep the bytes under the old physical name
   * and every read projects them to the new one. Zonemap stats of old files
   * stay keyed by the old name, so predicates on the new name simply can't
   * prune them ([[graft.table.Pruning]] keeps on missing stats — IO cost,
   * never correctness); rewrites re-stat under the new name. Refused for
   * partition-spec sources and the bloom side-table column: their
   * write-path/probe machinery is keyed by physical name and a silent remap
   * would desynchronize layout from planning.
   */
  def renameColumn(spark: SparkSession, store: MetaStore,
                   from: String, to: String): Long =
    record(spark, store, s"rename $from->$to") { before =>
      require(before.fieldNames.contains(from), s"no such column: $from")
      require(!before.fieldNames.contains(to), s"column $to already exists")
      requireUnbound(spark, store, from, "rename")
      val after = StructType(before.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      (Evolution(to, "", "", after.json, Nil,
        kind = "rename", renamedFrom = from, schemaBeforeJson = before.json),
        Map("renamedFrom" -> from, "column" -> to))
    }

  /**
   * Drop `column`, metadata-only (Iceberg `DROP COLUMN`): pre-drop files
   * keep the bytes (column pruning makes the dead column free to carry) and
   * every read projects it away; rewrites physically shed it. A later
   * [[addColumn]] may REUSE the name — stale bytes never resurface because
   * pre-add files take the add's default outright (the column logically
   * did not exist there). Refused for partition/bloom-bound columns.
   */
  def dropColumn(spark: SparkSession, store: MetaStore, column: String): Long =
    record(spark, store, s"drop $column") { before =>
      require(before.fieldNames.contains(column), s"no such column: $column")
      require(before.fields.length > 1, "cannot drop the last column")
      requireUnbound(spark, store, column, "drop")
      val after = StructType(before.fields.filterNot(_.name == column))
      (Evolution(column, "", "", after.json, Nil,
        kind = "drop", schemaBeforeJson = before.json),
        Map("column" -> column, "dropped" -> "true"))
    }

  /** The Iceberg-legal widening promotions (never lossy, so old files can
   * be cast on read with bit-exact round-trips). */
  private def widens(from: org.apache.spark.sql.types.DataType,
                     to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
  }

  /**
   * Widen `column` to `toTypeDdl`, metadata-only (Iceberg type promotion:
   * int->long, float->double, decimal precision growth). Pre-widen files
   * keep the narrow physical type and are cast on read — lossless by
   * construction, so scan output is identical to a full rewrite; rewrites
   * materialize the wide type. Refused for partition-spec sources (bucket
   * hashing is typed: xxhash64 of an int column's values differs from the
   * long's, so a silent widen would desynchronize probe from layout).
   */
  def widenColumn(spark: SparkSession, store: MetaStore, column: String,
                  toTypeDdl: String): Long =
    record(spark, store, s"widen $column->$toTypeDdl") { before =>
      val idx = before.fieldNames.indexOf(column)
      require(idx >= 0, s"no such column: $column")
      val to = org.apache.spark.sql.types.DataType.fromDDL(toTypeDdl)
      require(widens(before.fields(idx).dataType, to),
        s"cannot widen $column: ${before.fields(idx).dataType.sql} -> " +
          s"${to.sql} is not a lossless promotion (int->long, float->double, " +
          "decimal precision growth)")
      requireUnbound(spark, store, column, "widen")
      val after = StructType(before.fields.map(f =>
        if (f.name == column) f.copy(dataType = to) else f))
      (Evolution(column, toTypeDdl, "", after.json, Nil,
        kind = "widen", schemaBeforeJson = before.json),
        Map("column" -> column, "widenedTo" -> toTypeDdl))
    }

  private def requireUnbound(spark: SparkSession, store: MetaStore,
                             column: String, op: String): Unit = {
    require(!store.partitionSpec.exists(_.fields.exists(_.source == column)),
      s"cannot $op $column: it is a partition-spec source column")
    require(!store.bloomColumn.contains(column),
      s"cannot $op $column: it is the bloom side-table key column")
    // live equality-delete files anti-join on their PHYSICAL key columns at
    // every read — renaming/dropping such a column would make the whole
    // table unreadable (the join target no longer exists post-evolution)
    val keyed = store.currentSnapshotId.map(store.deleteEntries).getOrElse(Nil)
      .filter(d => !Deletes.isPositional(d) &&
        Deletes.delCols(spark, d.path).contains(column))
    require(keyed.isEmpty,
      s"cannot $op $column: ${keyed.size} live equality-delete file(s) key on " +
        "it (retire the debt first: Deletes.materialize / expireInert)")
  }

  /** Shared evolution commit: capture the live-file set, commit a no-op
   * snapshot under CAS, then publish the extended log atomically. */
  private def record(spark: SparkSession, store: MetaStore, what: String)(
      mk: StructType => (Evolution, Map[String, String])): Long =
    graft.table.MetaStore.withCommitRetry() {
    val snapId = store.currentSnapshotId.getOrElse(sys.error("evolve: empty table"))
    val before = store.scan(spark, snapId).schema
    val (evo0, summary) = mk(before)
    // pre-evolution paths = files reachable from ANY live snapshot, not just
    // CURRENT: a pinned tag or rollback target may reference files already
    // rewritten away from the head — those files also predate this evolution,
    // and omitting them would give Refs.scanTag the wrong era treatment
    // (latest-schema-wins contract)
    val prePaths = store.allSnapshotIds.flatMap(store.entries)
      .map(_.path).distinct.toVector
    val evo = evo0.copy(paths = prePaths)
    // a concurrent evolver that committed but has not yet published its
    // entry would make `before` (and mk's validation) stale — fail loudly
    // (retryable: the publisher writes its entry microseconds after its
    // commit, so the retry sees it). Only checkable for per-snapshot-era
    // entries (legacy-log tables can't map entries to snapshot ids); expired
    // snapshots don't matter — their entries outlive them by design.
    if (!Files.exists(logPath(store))) {
      val missing = store.allSnapshotIds.filter(i =>
        store.snapshot(i).operation == "evolve" &&
          !Files.exists(evoDir(store).resolve(s"evo-$i.json")))
      if (missing.nonEmpty)
        throw new graft.table.ConcurrentCommitException(
          s"evolve snapshot(s) ${missing.mkString(",")} have no published " +
            "log entry yet — concurrent evolver mid-publish")
    }
    // commit FIRST, then publish the entry atomically as a WRITE-ONCE
    // per-snapshot file (evo-<id>.json, id unique by the commit CAS): a
    // crash between the two leaves a harmless no-op "evolve" snapshot,
    // never a log that retro-actively rewrites pinned reads, never a torn
    // file, and never a lost update between two racing evolvers (nobody
    // rewrites a shared log file).
    // expectedParent: a file appended between the prePaths capture and this
    // commit would be misclassified as post-evolution — the CAS fails
    // instead and the retry recaptures.
    val id = store.commitDelta("evolve", Nil,
      summary = summary + ("evolution" -> what),
      expectedParent = Some(snapId))
    Files.createDirectories(evoDir(store))
    if (!MetaFs.claim(evoDir(store).resolve(s"evo-$id.json"),
        Json.mapper.writeValueAsString(evo).getBytes(StandardCharsets.UTF_8)))
      throw new IllegalStateException(
        s"evo-$id.json already exists: snapshot $id's log entry is write-once")
    id
  }

  /**
   * Evolution-aware read of an arbitrary file subset: group files by the SET
   * of evolutions they predate (at most one group per era in practice), read
   * each group under the declared schema (absent columns -> NULL), fill that
   * group's defaults, and union. Rows are identical to a full
   * rewrite-on-evolve, at zero write cost. Used by every scan (through
   * [[Deletes.readFiles]]) AND by direct-file maintenance readers (per-bin
   * compaction), so every rewrite materializes the defaults regardless of
   * which path it reads through.
   */
  /** @param withPos attach [[Deletes.PosPathCol]]/[[Deletes.PosIdxCol]]
   *   (normalized source path + 0-based row index, from the parquet source's
   *   `_metadata` hidden columns) at the RAW read — before any era
   *   projection — so position deletes can be applied and resolved on
   *   physical row identity. */
  def readFiles(spark: SparkSession, store: MetaStore,
                files: Seq[graft.table.DataFile],
                withPos: Boolean = false): DataFrame = {
    // static decode (no instance capture): _metadata.file_path is a
    // URI-ENCODED uri; position identity must match the manifests' decoded
    // filesystem paths for files under encodable partition-dir names
    val decodeUdf = udf((p: String) => MetaStore.decodePath(p))
    def pos(df: DataFrame): DataFrame =
      if (!withPos) df
      else df
        .withColumn(Deletes.PosPathCol, decodeUdf(col("_metadata.file_path")))
        .withColumn(Deletes.PosIdxCol, col("_metadata.row_index"))
    val evos = evolutions(store)
    if (evos.isEmpty) return pos(spark.read.parquet(files.map(_.path): _*))
    val declared = org.apache.spark.sql.types.DataType.fromJson(
      evos.last.schemaAfterJson).asInstanceOf[StructType]
    val evoSets = evos.map(_.paths.toSet)
    // era(f) = index of the first evolution f predates (capture sets are
    // monotone: a file live at evolution k is captured by every later one),
    // evos.length = written after all of them. Each group is read under ITS
    // era's physical schema, then the subsequent evolutions replay in order:
    // add fills the default OUTRIGHT (the column logically did not exist in
    // pre-add files — a dropped-then-re-added name may be physically present
    // with stale bytes that must not resurface; genuinely-absent columns
    // read the same either way), rename/drop are projections.
    def era(f: graft.table.DataFile): Int = {
      val k = evoSets.indexWhere(_.contains(f.path))
      if (k < 0) evos.length else k
    }
    val outCols = declared.fieldNames.toSeq ++
      (if (withPos) Seq(Deletes.PosPathCol, Deletes.PosIdxCol) else Nil)
    files.groupBy(era).toSeq.sortBy(_._1).map { case (k, fs) =>
      val readSchema =
        if (k == evos.length) declared else schemaBefore(evos(k))
      val base = pos(spark.read.schema(readSchema).parquet(fs.map(_.path): _*))
      evos.drop(k).foldLeft(base) { (df, e) =>
        e.kind match {
          case "rename" => df.withColumnRenamed(e.renamedFrom, e.column)
          case "drop" => df.drop(e.column)
          case "widen" => df.withColumn(e.column, col(e.column).cast(e.typeDdl))
          case _ => df.withColumn(e.column,
            expr(e.defaultSql).cast(e.typeDdl))
        }
      }.select(outCols.map(col): _*)
    }.reduce(_.unionByName(_))
  }

  /** The physical schema files of `e`'s era were written under. Legacy add
   * records (no `schemaBeforeJson`) derive it as after-minus-column. */
  private def schemaBefore(e: Evolution): StructType = {
    if (e.schemaBeforeJson.nonEmpty)
      org.apache.spark.sql.types.DataType.fromJson(e.schemaBeforeJson)
        .asInstanceOf[StructType]
    else StructType(org.apache.spark.sql.types.DataType
      .fromJson(e.schemaAfterJson).asInstanceOf[StructType]
      .fields.filterNot(_.name == e.column))
  }
}
