package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.table.{DataFile, Evolution, Json, MetaFs, MetaStore, Snapshot}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The legacy single-file log, `meta/evolutions.json`. */
private final case class EvolutionLog(evolutions: Seq[Evolution])

/**
 * Schema evolution without rewriting a single data file (Iceberg's
 * schema list with initial defaults): add, rename, drop and widen. The
 * table's evolutions are a list in every snapshot record
 * ([[Snapshot.evolutions]]); an evolve commit is a metadata-only snapshot
 * whose record appends one [[Evolution]] to its parent's list, so the
 * evolution publishes in the same [[graft.table.MetaLog]] claim as the
 * snapshot — whole or not at all. Each data file carries its era
 * ([[DataFile.schemaId]]), stamped at commit. Readers group a snapshot's
 * files by era, read each group under its era's physical schema and replay
 * the later evolutions on it; a file that physically lacks an added column
 * takes that column's default, while newer files keep their values,
 * explicit NULLs included.
 *
 * Reads use the head's list for every snapshot, a tag's included
 * (latest schema wins). Compact/Cluster read through [[MetaStore.scan]], so
 * their rewrites materialize the current schema into files of the current
 * era.
 *
 * Tables evolved before the list existed keep their evolutions in
 * `meta/evolutions.json` or `meta/evolutions/evo-<id>.json` records, which
 * name the files each one predates. [[legacyEvolutions]] is the only reader
 * of them: it supplies the list until the first evolve commit copies it
 * into the snapshot record, and the eras of the entries written before eras
 * existed ([[eraOf]]).
 *
 * The reference's `.meta` sidecar re-declares column types per volume
 * (cursor/src/main/java/cursors/io/ISAMCursor.kt:175-211) but has no
 * add-column story; this supplies it Spark-first.
 */
object Evolve {

  /** (which records exist, their parse) per table dir: every scan of a
   * legacy table consults its records, and none is written any more. */
  private val legacyCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Seq[Evolution])]()

  /** The legacy records, in commit order: the single-file log, then the
   * per-snapshot `evo-<id>.json` entries by snapshot id. Empty on a table
   * that evolved only through snapshot records. */
  private def legacyEvolutions(store: MetaStore): Seq[Evolution] = {
    val meta = Paths.get(store.tableDir, "meta")
    val ids = MetaFs.versions(meta.resolve("evolutions"), "evo-")
    val single = Files.exists(meta.resolve("evolutions.json"))
    if (!single && ids.isEmpty) return Nil
    val key = s"$single:${ids.mkString(",")}"
    def read(name: String) =
      new String(Files.readAllBytes(meta.resolve(name)), StandardCharsets.UTF_8)
    legacyCache.compute(store.tableDir, (_, c) =>
      if (c != null && c._1 == key) c
      else key -> ((if (single)
        Json.mapper.readValue[EvolutionLog](read("evolutions.json")).evolutions else Nil) ++
        ids.map(id => Json.mapper.readValue[Evolution](read(s"evolutions/evo-$id.json")))))._2
  }

  /** The evolution list `snap` carries, or the legacy records' when it
   * carries none. */
  private def evolutionsAt(store: MetaStore, snap: Option[Snapshot]): Seq[Evolution] =
    snap.map(_.evolutions).filter(_.nonEmpty)
      .getOrElse(legacyEvolutions(store).map(_.copy(paths = Nil)))

  /** The table's evolutions in commit order: the head's list. */
  def evolutions(store: MetaStore): Seq[Evolution] =
    evolutionsAt(store, store.currentSnapshot)

  /** Each file's era: its `schemaId`, or for a `0` entry of a legacy table
   * the index of the first legacy record whose `paths` name it (the
   * captures are monotone: a file live at record k is named by every later
   * one), else the legacy record count. */
  def eraOf(store: MetaStore): DataFile => Int = {
    lazy val legacy = legacyEvolutions(store).map(_.paths.toSet)
    f => if (f.schemaId > 0 || legacy.isEmpty) f.schemaId else {
      val k = legacy.indexWhere(_.contains(f.path))
      if (k < 0) legacy.size else k
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
      (Evolution(column, typeDdl, defaultSql, after.json,
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
      (Evolution(to, "", "", after.json,
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
      (Evolution(column, "", "", after.json,
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
      (Evolution(column, toTypeDdl, "", after.json,
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

  /** Shared evolution commit: the head's list plus the new entry, published
   * by one metadata-only snapshot. `mk` validates against the head's
   * schema, so the commit is pinned to that head: a racing evolver's win
   * fails the CAS and the retry re-reads. */
  private def record(spark: SparkSession, store: MetaStore, what: String)(
      mk: StructType => (Evolution, Map[String, String])): Long =
    MetaStore.withCommitRetry() {
      val head = store.currentSnapshot.getOrElse(sys.error("evolve: empty table"))
      val (evo, summary) = mk(store.scan(spark, head.id).schema)
      store.commitDelta("evolve", Nil,
        summary = summary + ("evolution" -> what),
        expectedParent = Some(head.id),
        evolutions = Some(evolutionsAt(store, Some(head)) :+ evo))
    }

  /**
   * Evolution-aware read of an arbitrary file subset: group files by era
   * ([[eraOf]]), read each group under its era's schema (absent columns ->
   * NULL), replay the later evolutions on it, and union. Rows are identical
   * to a full rewrite-on-evolve, at zero write cost. Used by every scan (through
   * [[Deletes.readFiles]]) AND by direct-file maintenance readers (per-bin
   * compaction), so every rewrite materializes the defaults regardless of
   * which path it reads through.
   *
   * @param evos the table's list ([[evolutions]]), read once by the caller
   *   for all the groups of one scan
   * @param withPos attach [[Deletes.PosPathCol]]/[[Deletes.PosIdxCol]]
   *   (normalized source path + 0-based row index, from the parquet source's
   *   `_metadata` hidden columns) at the RAW read — before any era
   *   projection — so position deletes can be applied and resolved on
   *   physical row identity. */
  def readFiles(spark: SparkSession, store: MetaStore,
                files: Seq[DataFile], evos: Seq[Evolution],
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
    if (evos.isEmpty) return pos(spark.read.parquet(files.map(_.path): _*))
    val declared = org.apache.spark.sql.types.DataType.fromJson(
      evos.last.schemaAfterJson).asInstanceOf[StructType]
    // each era's group is read under ITS physical schema, then the later
    // evolutions replay in order: add fills the default OUTRIGHT (the
    // column logically did not exist in older files — a dropped-then-
    // re-added name may be physically present with stale bytes that must
    // not resurface; genuinely-absent columns read the same either way),
    // rename/drop are projections
    val era = eraOf(store)
    val outCols = declared.fieldNames.toSeq ++
      (if (withPos) Seq(Deletes.PosPathCol, Deletes.PosIdxCol) else Nil)
    files.groupBy(era).toSeq.sortBy(_._1).map { case (k, fs) =>
      val readSchema =
        if (k >= evos.length) declared else schemaBefore(evos(k))
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
