package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.table.{Json, MetaFs, MetaLog, MetaStore}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Snapshot ids are stored as strings: Jackson erases Map[String, Long] to
 * boxed Integers on read, which blows up at the first unboxing access.
 * `retention` (optional, absent in files written before it existed) maps a
 * tag name to "createdAtMs,maxRefAgeMs" — the Iceberg per-ref retention
 * pair; a tag without an entry is permanent. */
final case class RefsFile(tags: Map[String, String],
                          retention: Map[String, String] = Map.empty)

/** The legacy `meta/refs.json` is a migration tombstone but `meta/refs/`
 * holds no version: the versioned refs state is gone, and reading the
 * table as tag-less would silently un-pin every tagged snapshot. */
final class RefsMigratedException(msg: String) extends IllegalStateException(msg)

/**
 * Named snapshot refs (tags) + rollback over the snapshot log — the
 * release-management layer of the lakehouse: tag a snapshot a training run
 * consumed ("dataset-v3"), keep reading it by name while maintenance moves
 * CURRENT forward, and roll the table back to any live snapshot by
 * committing its file list as a NEW snapshot (history stays intact; no file
 * is touched). [[ExpireSnapshots]] treats tagged snapshots as GC roots, so a
 * tag pins its files for as long as it exists.
 *
 * Durability model: refs state is a [[MetaLog]] (`meta/refs/v<N>.json`). A
 * mutation reads the head, computes the next state and appends it; of N
 * concurrent read-modify-writes exactly one wins each version and every
 * loser re-runs against the new head ([[rmwRefs]]), as does a writer whose
 * parent was retired while it stalled ([[MetaLog.append]] refuses it). No
 * update is lost or applied twice, and no lock is needed. Tables written
 * before versioning read their legacy single `refs.json` until the first
 * mutation migrates it to v1 and replaces `refs.json` with a tombstone that
 * a pre-versioning reader fails to parse.
 */
object Refs {

  private def refsPath(store: MetaStore) =
    Paths.get(store.tableDir, "meta", "refs.json")

  private def refsDir(store: MetaStore) =
    Paths.get(store.tableDir, "meta", "refs")

  /** Content of a migrated `refs.json`: deliberately not JSON, so a reader
   * that predates `meta/refs/` fails loudly instead of reading stale tags. */
  private val Tombstone = "TOMBSTONE: refs migrated to meta/refs/\n"

  private def parseRefs(bytes: Array[Byte]): RefsFile =
    Json.mapper.readValue[RefsFile](new String(bytes, StandardCharsets.UTF_8))

  private def log(store: MetaStore) = new MetaLog(refsDir(store), "v")

  /** (version, its nonce, state). Version 0 = no version yet — state comes
   * from the legacy single refs.json (or is empty) and the nonce is null;
   * the first write migrates it to v1. A parse failure means external
   * damage (versions are published whole), surfaced. A tombstoned refs.json
   * with no versions throws [[RefsMigratedException]]. */
  @scala.annotation.tailrec
  private def readHead(store: MetaStore): (Long, String, RefsFile) =
    log(store).latest match {
      case Some((v, bytes)) => (v, MetaLog.nonceOf(bytes), parseRefs(bytes))
      case None if !Files.exists(refsPath(store)) => (0L, null, RefsFile(Map.empty))
      case None =>
        val bytes = Files.readAllBytes(refsPath(store))
        if (new String(bytes, StandardCharsets.UTF_8) != Tombstone) (0L, null, parseRefs(bytes))
        // a migration that landed after the head read left v1 behind
        else if (log(store).head.nonEmpty) readHead(store)
        else throw new RefsMigratedException(s"${store.tableDir}: meta/refs.json " +
          "is a migration tombstone but meta/refs/ holds no version")
    }

  private def readFile(store: MetaStore): RefsFile = readHead(store)._3

  /** Versions kept at and below the head by a retire; a win of every
   * `Keep`-th version retires the rest, so at most `2 * Keep - 1` remain. */
  private val Keep = 16

  /** Run a refs read-modify-write: `body` maps the current state to
   * (Some(newState) to commit | None for read-only, plus the caller's
   * result). A new state is appended on the version it was computed from
   * ([[MetaLog.append]]); winning v1 over a legacy refs.json tombstones it.
   * On a lost race — another writer's win, or a parent retired while this
   * writer stalled — the body RE-RUNS against the new head's state, so no
   * update is ever silently clobbered. */
  private[graft] def rmwRefs[A](store: MetaStore)
                               (body: RefsFile => (Option[RefsFile], A)): A = {
    val lg = log(store)
    var attempts = 0
    var out: Option[A] = None
    while (out.isEmpty) {
      val (v, nonce, cur) = readHead(store)
      val (next, result) = body(cur)
      next match {
        case None => out = Some(result)
        case Some(nf) =>
          Files.createDirectories(lg.dir)
          if (lg.append(v, nonce, Json.mapper.writeValueAsBytes(nf))) {
            if (v == 0L && Files.exists(refsPath(store)))
              MetaFs.replace(refsPath(store), Tombstone.getBytes(StandardCharsets.UTF_8))
            // a retire lists the directory, so it runs once per Keep wins;
            // it takes every older version still present, so a crash before
            // one is repaired by the next Keep-th win
            if ((v + 1) % Keep == 0)
              lg.retire(Iterator.iterate(v + 1 - Keep)(_ - 1)
                .takeWhile(k => k > 0 && Files.exists(lg.path(k))).toSeq)
            out = Some(result)
          } else {
            attempts += 1
            if (attempts > 100)
              sys.error(s"refs CAS: lost $attempts races in a row " +
                s"(${store.tableDir}) — giving up rather than spinning")
            Thread.sleep(1)
          }
      }
    }
    out.get
  }

  def tags(store: MetaStore): Map[String, Long] =
    readFile(store).tags.map { case (k, v) => k -> v.toLong }

  /** Per-tag retention: name -> (createdAtMs, maxRefAgeMs). Tags without an
   * entry are permanent. */
  def retention(store: MetaStore): Map[String, (Long, Long)] =
    readFile(store).retention.flatMap { case (k, v) =>
      v.split(",") match {
        case Array(c, a) => Some(k -> (c.toLong, a.toLong))
        case _ => None
      }
    }

  /** Tag `snapshotId` (default: current) as `name`; overwrites an existing
   * tag of the same name. `maxRefAgeMs > 0` gives the tag an Iceberg-style
   * ref retention: once the tag is older than this, [[expireTags]] (run
   * automatically at the start of every [[ExpireSnapshots]] pass) drops it,
   * un-pinning its snapshot — so a "keep the nightly export for 30 days"
   * tag cannot quietly pin 10^5 files forever. `0` makes the tag
   * EXPLICITLY permanent (drops any existing retention); the default `-1`
   * keeps whatever retention the name already carries — so re-pointing a
   * retained nightly tag does not silently convert it into a permanent GC
   * root (ADVICE r3). */
  def tag(store: MetaStore, name: String, snapshotId: Long = -1L,
          maxRefAgeMs: Long = -1L): Long = {
    val id = if (snapshotId >= 0) snapshotId
      else store.currentSnapshotId.getOrElse(sys.error("tag: empty table"))
    require(Files.exists(store.log.path(id)), s"tag: no snapshot $id")
    rmwRefs(store) { f =>
      val ret =
        if (maxRefAgeMs > 0L)
          f.retention + (name -> s"${System.currentTimeMillis()},$maxRefAgeMs")
        else if (maxRefAgeMs == 0L) f.retention - name
        else f.retention // keep-existing sentinel
      (Some(RefsFile(f.tags + (name -> id.toString), ret)), ())
    }
    id
  }

  def deleteTag(store: MetaStore, name: String): Unit =
    rmwRefs(store) { f =>
      (Some(RefsFile(f.tags - name, f.retention - name)), ())
    }

  /** Drop every tag whose age exceeds its declared maxRefAgeMs; returns the
   * dropped names. Permanent tags (no retention entry) never expire. */
  def expireTags(store: MetaStore,
                 nowMs: Long = System.currentTimeMillis()): Seq[String] =
    rmwRefs(store) { f =>
      val expired = f.retention.flatMap { case (k, v) =>
        v.split(",") match {
          case Array(c, a) if nowMs - c.toLong > a.toLong => Some(k)
          case _ => None
        }
      }.toSeq.sorted
      (if (expired.isEmpty) None
       else Some(RefsFile(f.tags -- expired, f.retention -- expired)),
        expired)
    }

  def snapshotFor(store: MetaStore, name: String): Long =
    tags(store).getOrElse(name, sys.error(s"no tag named $name"))

  /** Read the table as of a tag — snapshot isolation by name. ROWS are
   * frozen; the SCHEMA follows the table's latest declared schema: a later
   * `Evolve.addColumn` makes tagged reads grow the new column filled with
   * its default (same latest-schema-wins rule Delta applies to time
   * travel). Consumers needing byte-stable exports should [[Publish]] the
   * tag instead of re-reading it. */
  def scanTag(spark: SparkSession, store: MetaStore, name: String): DataFrame =
    store.scan(spark, snapshotFor(store, name))

  /** One row per named ref — tags AND branches — as a DataFrame (the
   * Iceberg `table$refs` metadata-table analog): name, type, the snapshot
   * it points at (a branch's current head), creation time and max ref age
   * where declared (-1 = permanent / unknown). Answered from metadata
   * alone; zero data IO. */
  def refsTable(spark: SparkSession, store: MetaStore): DataFrame = {
    import spark.implicits._
    val ret = retention(store)
    val tagRows = tags(store).toSeq.map { case (n, id) =>
      val (c, a) = ret.getOrElse(n, (-1L, -1L))
      (n, "tag", id, c, a)
    }
    val branchRows = Branches.list(store).toSeq.map { case (n, rec) =>
      val head = Branches.store(store, n).currentSnapshotId.getOrElse(-1L)
      (n, "branch", head, rec.createdMs,
        if (rec.maxRefAgeMs > 0L) rec.maxRefAgeMs else -1L)
    }
    (tagRows ++ branchRows).sortBy(r => (r._2, r._1))
      .toDF("name", "type", "snapshot_id", "created_at_ms", "max_age_ms")
  }

  /**
   * Roll the table back to `toSnapshotId`: commits that snapshot's exact
   * file list as a NEW snapshot (operation "rollback"). Metadata-only and
   * non-destructive — the rolled-back-over snapshots stay in history until
   * expiry.
   */
  def rollback(store: MetaStore, toSnapshotId: Long): Long = {
    require(Files.exists(store.log.path(toSnapshotId)),
      s"rollback: no snapshot $toSnapshotId")
    // restore the target's equality-delete set too: its entries carry their
    // original seqs, so the target's deletes land on exactly the same rows
    // (inheriting the CURRENT delete set instead would apply deletes
    // committed after the target to a pre-delete file list)
    store.commit("rollback", store.entries(toSnapshotId),
      Map("rolledBackTo" -> toSnapshotId.toString),
      deletes = Some(store.deleteEntries(toSnapshotId)))
  }
}
