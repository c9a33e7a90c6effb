package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.table.{Json, MetaFs, MetaStore}
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
 * Durability model: refs state is a chain of immutable version files
 * (`meta/refs/v<N>.json`). A mutation reads the top version, computes the
 * next state and publishes it with a create-once [[MetaFs.claim]] of
 * `v<N+1>.json` ([[casWrite]]). Of N concurrent read-modify-writes exactly
 * one wins each version; every loser re-runs against the winner's state
 * ([[rmwRefs]]). Retiring old versions frees their names, so a writer
 * stalled past the retire window can claim a freed name; [[rmwRefs]]
 * detects that ghost claim and re-runs it as a loss ([[retire]]). No update
 * is lost and no lock is needed. Tables written
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

  private def parseRefs(bytes: Array[Byte]): RefsFile = {
    val f = Json.mapper.readValue[RefsFile](
      new String(bytes, StandardCharsets.UTF_8))
    // files written before retention existed deserialize it as null
    if (f.retention == null) f.copy(retention = Map.empty) else f
  }

  /** Committed version numbers present under meta/refs/, ascending. */
  private def versionsOf(store: MetaStore): Seq[Long] =
    MetaFs.versions(refsDir(store), "v")

  /** (version, state). Version 0 = no CAS commit yet — state comes from the
   * legacy single refs.json (or is empty); the first [[casWrite]] migrates
   * it to v1. Every version file is published complete ([[MetaFs.claim]]),
   * so a parse failure means external damage, not a torn write — surfaced,
   * same as the legacy path. A tombstoned refs.json with no versions throws
   * [[RefsMigratedException]]. */
  private[graft] def readVersioned(store: MetaStore): (Long, RefsFile) = {
    var attempt = 0
    while (true) {
      versionsOf(store).lastOption match {
        case Some(v) =>
          // the listed TOP version can only vanish if Keep newer commits
          // land between the list and this read (retire's window) — a
          // narrow race, but a reader must re-list rather than crash on it
          try return (v,
            parseRefs(Files.readAllBytes(refsDir(store).resolve(s"v$v.json"))))
          catch {
            case _: java.nio.file.NoSuchFileException if attempt < 20 =>
              attempt += 1
          }
        case None =>
          val p = refsPath(store)
          if (!Files.exists(p)) return (0L, RefsFile(Map.empty))
          val bytes = Files.readAllBytes(p)
          if (new String(bytes, StandardCharsets.UTF_8) != Tombstone)
            return (0L, parseRefs(bytes))
          // a migration that landed between the listing and this read
          // leaves v1 behind: re-list
          if (versionsOf(store).isEmpty)
            throw new RefsMigratedException(s"${store.tableDir}: meta/refs.json " +
              "is a migration tombstone but meta/refs/ holds no version")
      }
    }
    sys.error("unreachable")
  }

  private def readFile(store: MetaStore): RefsFile = readVersioned(store)._2

  /** Publish `f` as version `expected + 1` IFF no other writer got there
   * first — a filesystem compare-and-swap ([[MetaFs.claim]]: exactly one
   * concurrent claimer per version wins). Losers re-read and re-run their
   * read-modify-write ([[rmwRefs]]). Winning v1 over a legacy refs.json
   * tombstones it. */
  private[graft] def casWrite(store: MetaStore, expected: Long,
                              f: RefsFile): Boolean = {
    val dir = refsDir(store)
    Files.createDirectories(dir)
    val won = MetaFs.claim(dir.resolve(s"v${expected + 1}.json"),
      Json.mapper.writeValueAsString(f).getBytes(StandardCharsets.UTF_8))
    if (won && expected == 0L && Files.exists(refsPath(store)))
      MetaFs.replace(refsPath(store), Tombstone.getBytes(StandardCharsets.UTF_8))
    won
  }

  /** Versions [[retire]] keeps below the newest one. */
  private val Keep = 16

  /** After claiming version `won`: retire every version `Keep` or more
   * below the newest, and report whether `won` is a GHOST — a name an
   * earlier retire had already deleted, re-claimed by a writer that read its
   * parent before `Keep` newer commits landed. Its state sits below the
   * newest version, so the write is lost. A name is only retired once a
   * version `Keep` above it exists, and the newest version is never
   * retired, so a ghost always lists a version `won + Keep` or higher. A
   * real win lists that high only if `Keep` commits land between its link
   * and this listing; it is then re-run too, which repeats its update. */
  private def retire(store: MetaStore, won: Long): Boolean = {
    val vs = versionsOf(store)
    val newest = vs.lastOption.getOrElse(won)
    vs.filter(_ <= newest - Keep).foreach { v =>
      try Files.deleteIfExists(refsDir(store).resolve(s"v$v.json"))
      catch { case _: java.io.IOException => () }
    }
    newest >= won + Keep
  }

  /** Run a refs read-modify-write with CAS publication: `body` maps the
   * current state to (Some(newState) to commit | None for read-only, plus
   * the caller's result). On a lost CAS race, or a ghost claim of a retired
   * version ([[retire]]), the body RE-RUNS against the winner's state, so
   * no update is ever silently clobbered. */
  private[graft] def rmwRefs[A](store: MetaStore)
                               (body: RefsFile => (Option[RefsFile], A)): A = {
    var attempts = 0
    var out: Option[A] = None
    while (out.isEmpty) {
      val (v, cur) = readVersioned(store)
      val (next, result) = body(cur)
      next match {
        case None => out = Some(result)
        case Some(nf) =>
          if (casWrite(store, v, nf) && !retire(store, v + 1))
            out = Some(result)
          else {
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
    require(store.allSnapshotIds.contains(id), s"tag: no snapshot $id")
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
    require(store.allSnapshotIds.contains(toSnapshotId),
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
