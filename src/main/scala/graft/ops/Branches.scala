package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}

import graft.table.{Json, MetaFs, MetaStore}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.jdk.CollectionConverters._

/** One branch record. Snapshot ids are strings for the same Jackson boxing
 * reason as [[RefsFile]]. `evolutionCount` pins the schema era both sides
 * must still be in at fast-forward / cherry-pick time. `mergedHead` is the
 * highest branch snapshot a COMPLETED fast-forward replayed — recorded so
 * [[Branches.merged]] stays true after expiry drops the replayed main
 * snapshots themselves. */
final case class BranchRec(
    name: String,
    forkSnapshot: String,
    createdMs: Long,
    evolutionCount: Int,
    mergedHead: String = "-1",
    /** Iceberg branch ref-retention: > 0 means [[Branches.expireAged]]
     * (run by every [[ExpireSnapshots]] pass) force-drops the branch once
     * it is older than this — a staging branch left behind by a dead
     * pipeline must not pin the fork snapshot's files forever. 0 (also
     * what records written before the field existed read back as) =
     * permanent. */
    maxRefAgeMs: Long = 0L)

/**
 * Branches: a full writable fork of the table — its own snapshot log under
 * `<table>/branches/<name>/meta`, seeded zero-copy at a fork snapshot
 * ([[MetaStore.seedFork]]) — plus a git-style fast-forward merge that
 * REPLAYS the branch's commits onto the main log id-for-id, and an
 * append-only cherry-pick for diverged mains.
 *
 * This is the audit/staging-branch workflow for MAINTENANCE (the use case
 * Iceberg documents for its branch refs): run compaction / clustering /
 * MERGE INTO / deletes against the branch, verify scan-equality there in
 * full isolation — main readers never see an intermediate state — then
 * fast-forward when the result is blessed. [[Wap]] covers the single staged
 * APPEND; a branch covers multi-commit rewrites, which WAP cannot (a staged
 * batch has no snapshot log to chain rewrites on).
 *
 * Design notes, and where this deliberately differs from Iceberg's
 * shared-log branch refs:
 *
 *  - **Separate per-branch log, one shared id/sequence space.** The main
 *    log's cross-process safety hinges on same-parent racers contending on
 *    the same `snap-<parent+1>.json` create-once claim; interleaving branch
 *    snapshots into that log would break the claim discipline (a branch
 *    commit at head + 1 would livelock main writers). Instead each
 *    branch gets its own log DIRECTORY, the same [[graft.table.MetaLog]],
 *    seeded AT the fork id so branch commit ids stay strictly above every
 *    carried data-sequence number (equality-delete coverage) and line up
 *    id-for-id with a later replay.
 *  - **Branch data files live in the MAIN table's `data/` directory**
 *    (the branch store is constructed with a data-root override), so a
 *    fast-forward is metadata-only — no file moves. Files reachable from
 *    any branch snapshot are GC roots on the main side (both for
 *    [[RemoveOrphans]] and for [[ExpireSnapshots]]' file deletion); fork
 *    snapshots are expiry roots like tags.
 *  - **Branch records are one file per name** (`meta/branchrefs/<name>
 *    .json`), created by a create-once [[MetaFs.claim]] — there is no
 *    shared read-modify-write file, so concurrent create/drop of DIFFERENT
 *    branches cannot lose each other's records (a lost record would strip
 *    GC roots and let maintenance delete live branch data).
 *  - **Fast-forward = ordered replay.** Requires main's head to still BE
 *    the fork point (true fast-forward; anything else is a merge conflict —
 *    cherry-pick appends, or re-branch and re-run). Each branch snapshot is
 *    re-committed onto main with the same operation, entries, and delete
 *    set, CAS-chained with `expectedParent`, stamped `ffFrom`/`ffSnap` — so
 *    a crash mid-replay resumes idempotently, and ChangeFeed consumers see
 *    ordinary contiguous commits. Because ids line up, carried sequence
 *    numbers keep exactly the coverage semantics they had in the branch.
 *
 * At 10^12-clip scale everything here is metadata-bounded: fork cost is
 * O(manifest entries) of driver JSON (no data IO), replay is O(branch
 * commits) commits of O(files) each.
 */
object Branches {

  private def refsDir(store: MetaStore): JPath = {
    val d = Paths.get(store.tableDir, "meta", "branchrefs")
    Files.createDirectories(d)
    d
  }

  private def recordPath(store: MetaStore, name: String): JPath =
    refsDir(store).resolve(s"$name.json")

  private def branchDir(store: MetaStore, name: String): JPath =
    Paths.get(store.tableDir, "branches", name)

  private def readRecord(p: JPath): BranchRec =
    Json.mapper.readValue[BranchRec](
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8))

  def list(store: MetaStore): Map[String, BranchRec] = {
    val d = refsDir(store)
    val stream = Files.list(d)
    try stream.iterator().asScala
      .filter(_.getFileName.toString.endsWith(".json"))
      .map(readRecord)
      .map(r => r.name -> r)
      .toMap
    finally stream.close()
  }

  def record(store: MetaStore, name: String): BranchRec = {
    val p = recordPath(store, name)
    require(Files.exists(p), s"no branch named $name")
    readRecord(p)
  }

  /** Create-once claim: of two concurrent creates of one name exactly one
   * wins; the loser throws and the winner's record is left untouched. */
  private def claimRecord(store: MetaStore, rec: BranchRec): Unit =
    if (!MetaFs.claim(recordPath(store, rec.name),
        Json.mapper.writeValueAsString(rec).getBytes(StandardCharsets.UTF_8)))
      throw new IllegalArgumentException(s"branch '${rec.name}' already exists")

  /** Replace-mode update (mergedHead stamp), torn-write-safe. */
  private def updateRecord(store: MetaStore, rec: BranchRec): Unit = {
    val p = recordPath(store, rec.name)
    if (!Files.exists(p)) return // branch dropped concurrently — nothing to stamp
    MetaFs.replace(p,
      Json.mapper.writeValueAsString(rec).getBytes(StandardCharsets.UTF_8))
  }

  /** Handle on an existing branch's store. Same stats/bloom configuration
   * as the parent; data-root overridden to the parent's `data/`. */
  def store(main: MetaStore, name: String): MetaStore = {
    require(main.ownsData, s"${main.tableDir}: branches nest only under the " +
      "owning table (open the branch through the root table)")
    record(main, name) // existence check
    val b = new MetaStore(branchDir(main, name).toString, main.statsColumns,
      Some(Paths.get(main.tableDir, "data").toString))
    b.bloomColumn = main.bloomColumn
    b
  }

  /**
   * Create branch `name` at `fromSnapshot` (default: current). Zero-copy:
   * the branch's seed snapshot points at the parent's files under the SAME
   * snapshot id ([[MetaStore.seedFork]]), which also carries the parent's
   * evolution list and each file's era. The parent's partition spec is
   * copied, so branch scans and writes resolve hidden partitions and
   * per-era defaults exactly like the parent.
   *
   * Crash windows: the record is claimed LAST, so a branch dir without a
   * record (crash mid-create, or mid-[[drop]] after the record went) is
   * condemned debris — a retried create of the same name clears it and
   * starts over; GC never treats it as a root.
   */
  def create(main: MetaStore, name: String, fromSnapshot: Long = -1L,
             maxRefAgeMs: Long = 0L): MetaStore = {
    require(main.ownsData, s"${main.tableDir}: cannot branch a branch — " +
      "fork the owning table instead (nested data roots would be deleted " +
      "by the outer branch's drop)")
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid branch name: $name")
    require(!Files.exists(recordPath(main, name)),
      s"branch '$name' already exists")
    val dir = branchDir(main, name)
    MetaFs.deleteTree(dir) // an unrecorded leftover is condemned
    val b = new MetaStore(dir.toString, main.statsColumns,
      Some(Paths.get(main.tableDir, "data").toString))
    b.bloomColumn = main.bloomColumn
    val fork = if (fromSnapshot >= 0) fromSnapshot
      else main.currentSnapshotId.getOrElse(sys.error("branch: empty table"))
    require(Files.exists(main.log.path(fork)), s"branch: no snapshot $fork")
    // the partition spec travels with the fork (a read-side dependency);
    // the evolution list travels in the fork snapshot
    val spec = Paths.get(main.tableDir, "meta", "partition-spec.json")
    if (Files.exists(spec))
      Files.copy(spec, Paths.get(b.tableDir, "meta", "partition-spec.json"),
        StandardCopyOption.REPLACE_EXISTING)
    b.seedFork(main, fork)
    claimRecord(main, BranchRec(name, fork.toString,
      System.currentTimeMillis(), Evolve.evolutions(main).size,
      maxRefAgeMs = maxRefAgeMs))
    b
  }

  /** Fork snapshot ids — [[ExpireSnapshots]] GC roots on the main log: a
   * live branch pins its fork point (and thereby every parent file it
   * carries) exactly like a tag. */
  def forkRoots(main: MetaStore): Seq[Long] =
    list(main).values.map(_.forkSnapshot.toLong).toSeq

  /** Every data/delete-file path reachable from any branch snapshot —
   * GC roots on the main side: branch files sit in the MAIN data directory
   * but main snapshots may not reference them (pre-merge work), and a main
   * snapshot that DID reference them may expire while the branch log still
   * needs them. Consulted by both [[RemoveOrphans]] and [[ExpireSnapshots]].
   * Strict by design: a torn branch log blocks GC rather than risking it.
   * (A branch DIRECTORY missing its record — a crashed [[drop]] or
   * [[create]] — is not listed here: its files are already condemned.) */
  def dataRoots(main: MetaStore): Set[String] =
    list(main).keys.flatMap { name =>
      val b = store(main, name)
      b.reachablePaths(b.allSnapshotIds.map(b.snapshot)).asScala
        .map(main.normalizePath)
    }.toSet

  /** In-flight (not-yet-committed) work staged THROUGH branch stores: WAP
   * batches and checkpointed run outputs recorded in a branch's meta but
   * writing into the main data dir — [[RemoveOrphans]] roots. */
  def pendingRoots(main: MetaStore): Set[String] =
    list(main).keys.flatMap { name =>
      Wap.stagedRoots(store(main, name))
    }.toSet

  /** True when `name`'s head commit has been replayed onto main — durable
   * across expiry of the replayed main snapshots via the record's
   * `mergedHead` stamp, with the snapshot-log summaries as fallback. */
  def merged(main: MetaStore, name: String): Boolean = {
    val rec = record(main, name)
    val b = store(main, name)
    val head = b.currentSnapshotId.getOrElse(-1L)
    if (head <= rec.forkSnapshot.toLong) return true // no branch-local work
    if (rec.mergedHead.toLong >= head) return true
    main.allSnapshotIds.exists { id =>
      val s = main.snapshot(id)
      s.summary.get("ffFrom").contains(name) &&
        s.summary.get("ffSnap").contains(head.toString)
    }
  }

  /**
   * Fast-forward main to the branch head: replay each branch commit after
   * the fork onto the main log, in order, id-for-id. Returns the replayed
   * main snapshot ids (empty when already up to date).
   *
   * Requirements (each raises with a precise message):
   *  - main's head is the fork point, or a prefix of this branch's commits
   *    already replayed by an earlier/interrupted fast-forward (idempotent
   *    resume); anything else is a divergence — [[cherryPick]] appends, or
   *    re-branch from the new head;
   *  - neither side evolved the schema since the fork ([[Wap]]'s era rule:
   *    replaying file lists across an era boundary would mis-default);
   *  - the branch log is contiguous above the fork (don't expire branch
   *    history you intend to merge).
   */
  def fastForward(main: MetaStore, name: String): Seq[Long] = {
    val rec = record(main, name)
    val fork = rec.forkSnapshot.toLong
    val b = store(main, name)
    val evoMain = Evolve.evolutions(main).size
    val evoBranch = Evolve.evolutions(b).size
    require(evoMain == rec.evolutionCount && evoBranch == rec.evolutionCount,
      s"fast-forward '$name': schema era moved (fork era ${rec.evolutionCount}, " +
        s"main $evoMain, branch $evoBranch); re-branch and re-run")
    val bids = b.allSnapshotIds.filter(_ > fork).sorted
    require(bids == (fork + 1 to fork + bids.size),
      s"fast-forward '$name': branch log not contiguous above fork $fork " +
        s"(have ${bids.mkString(",")}); branch history was expired")
    val cur = main.currentSnapshotId.getOrElse(-1L)
    require(cur >= fork,
      s"fast-forward '$name': main head $cur below fork $fork")
    // resume check: every main commit past the fork must be OUR replay.
    // Replayed snapshots that expiry already dropped can no longer prove
    // anything either way — skip them; the surviving ones (always including
    // the head, which expiry retains) must all carry our stamp.
    (fork + 1 to cur).foreach { id =>
      val sOpt =
        try Some(main.snapshot(id))
        catch { case _: java.nio.file.NoSuchFileException => None }
      sOpt.foreach { s =>
        require(s.summary.get("ffFrom").contains(name) &&
          s.summary.get("ffSnap").contains(id.toString),
          s"fast-forward '$name': main diverged at snapshot $id " +
            s"(${s.operation}); cherry-pick appends, or re-branch from the " +
            "current head and re-run")
      }
    }
    require(cur <= fork + bids.size,
      s"fast-forward '$name': main already past branch head")
    // O(churn) replay: each branch commit lands as a DELTA against the one
    // before it (manifest-reuse discipline — a full commit() here would pay
    // O(table files) of driver JSON per replayed commit, ruinous at the
    // 10^5-10^6-file regime). The diff is taken between consecutive BRANCH
    // snapshots; it applies cleanly to main because the replay keeps the
    // logs identical below each step (entries are immutable per path, so
    // path-diff == entry-diff). The delete set is replayed wholesale —
    // replace-mode — which is exact and typically tiny.
    val replayed = ((cur + 1) to (fork + bids.size)).map { id =>
      val snap = b.snapshot(id)
      val d = Changes.fileDiff(b, id - 1, id) // manifest-name diff: O(churn)
      val got = main.commitDelta(snap.operation, d.added,
        removedPaths = d.removed.map(_.path).toSet,
        summary = snap.summary ++ Map("ffFrom" -> name, "ffSnap" -> id.toString),
        deletes = Some(b.deleteEntries(id)),
        expectedParent = Some(id - 1))
      assert(got == id, s"fast-forward '$name': replay minted $got, expected $id")
      got
    }
    if (bids.nonEmpty) {
      updateRecord(main, record(main, name)
        .copy(mergedHead = (fork + bids.size).toString))
      // carry the branch's bloom side-table shards across: the replayed
      // files' per-file key blooms were written under the BRANCH's
      // meta/blooms, so without this the ff'd files have no bloom row on
      // main and every point probe keeps them conservatively (correct but
      // unpruned — observed post-ff: "kept 0 live rows"). The data paths
      // are main-data-dir paths already, so the rows apply verbatim; hard
      // links keep the shards alive past a later branch drop. Idempotent:
      // same-named shards are skipped.
      val bRoot = Paths.get(b.tableDir, "meta", "blooms")
      val mRoot = Paths.get(main.tableDir, "meta", "blooms")
      if (Files.isDirectory(bRoot)) {
        Files.createDirectories(mRoot)
        val shards = Files.list(bRoot)
        try shards.iterator().asScala
          .filter(Files.isDirectory(_))
          .foreach { shard =>
            val dst = mRoot.resolve(shard.getFileName)
            if (!Files.exists(dst)) {
              Files.createDirectories(dst)
              val fl = Files.list(shard)
              try fl.iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
                val t = dst.resolve(f.getFileName)
                try Files.createLink(t, f)
                catch {
                  case _: UnsupportedOperationException | _: java.io.IOException =>
                    Files.copy(f, t)
                }
              } finally fl.close()
            }
          }
        finally shards.close()
      }
    }
    replayed
  }

  /**
   * Maintenance audit of the branch window — the blessing gate before
   * [[fastForward]]: every clip present at the FORK must reach the branch
   * HEAD bit-identically (md5 digest fast path — the shuffle is ~50 B/row,
   * not payload bytes) with exact transcript + metadata equality. This is
   * the north-rule scan-equality invariant applied to the whole staged
   * window at once, however many compaction/cluster/merge commits it spans.
   *
   * Branch-APPENDED rows have no pre-image and are excluded — gate those
   * with [[Constraints]] (the WAP audit path). Branch-DELETED rows fail the
   * audit unless `allowDeletes` (a maintenance branch should not lose rows;
   * a curation branch deletes on purpose). A row REWRITTEN with different
   * content fails either way — that is precisely what the gate is for.
   */
  def audit(spark: SparkSession, main: MetaStore, name: String,
            allowDeletes: Boolean = false): graft.verify.VerifyReport = {
    import org.apache.spark.sql.functions.col
    val rec = record(main, name)
    val b = store(main, name)
    val rows = graft.verify.ScanEquality.compare(spark,
      b.scan(spark, rec.forkSnapshot.toLong), b.scanCurrent(spark),
      checkSynth = false)
      .filter(col("in_pre"))
    graft.verify.ScanEquality.report(
      if (allowDeletes) rows.filter(col("in_post")) else rows)
  }

  /**
   * Cherry-pick ONE branch commit onto main — the divergence escape hatch
   * [[fastForward]] refuses: a pure-APPEND branch commit commutes with
   * whatever main did since the fork, so its added files can be re-committed
   * onto the current head as a fresh delta (Iceberg's `cherrypick_snapshot`,
   * with the same append-only restriction: rewrites and delete-set changes
   * are order-dependent and must be re-run, not replayed, against the new
   * head). Added entries are re-stamped with the NEW main commit id, so
   * main-side equality-delete coverage stays correct relative to main's own
   * history. Idempotent AND race-safe: the already-picked probe re-runs
   * under the commit CAS ([[Wap.publish]]'s probe-and-commit discipline —
   * without the `expectedParent` pin, two concurrent picks would both pass
   * the probe and double-commit the same files).
   */
  def cherryPick(main: MetaStore, name: String, branchSnapshotId: Long): Long = {
    val rec = record(main, name)
    val b = store(main, name)
    require(branchSnapshotId > rec.forkSnapshot.toLong,
      s"cherry-pick: $branchSnapshotId is not a branch-local commit of '$name'")
    require(Files.exists(b.log.path(branchSnapshotId)),
      s"cherry-pick: branch '$name' has no snapshot $branchSnapshotId")
    // BOTH eras must sit at the fork era: a main-side evolution would
    // mis-default old-era files, and a branch-side evolution means the
    // picked files were materialized under a schema main doesn't have
    val evoMain = Evolve.evolutions(main).size
    val evoBranch = Evolve.evolutions(b).size
    require(evoMain == rec.evolutionCount && evoBranch == rec.evolutionCount,
      s"cherry-pick '$name': schema era moved (fork era " +
        s"${rec.evolutionCount}, main $evoMain, branch $evoBranch); files " +
        "written under another era would mis-default — re-run the work " +
        "against the new head")
    val parentPaths = b.entries(branchSnapshotId - 1).map(_.path).toSet
    val es = b.entries(branchSnapshotId)
    val added = es.filterNot(e => parentPaths.contains(e.path))
    val removed = parentPaths -- es.map(_.path).toSet
    def delKey(d: graft.table.DataFile) = (d.path, d.seq)
    val delsEqual = b.deleteEntries(branchSnapshotId).map(delKey).toSet ==
      b.deleteEntries(branchSnapshotId - 1).map(delKey).toSet
    require(removed.isEmpty && delsEqual,
      s"cherry-pick: branch snapshot $branchSnapshotId of '$name' is not a " +
        "pure append (it rewrites files or changes the delete set); " +
        "order-dependent commits cannot be cherry-picked — fast-forward, or " +
        "re-run the operation on main")
    MetaStore.withCommitRetry() {
      // probe-and-commit under the CAS: the snapshot log is the idempotency
      // ledger, and expectedParent pins the snapshot the probe ran against
      main.allSnapshotIds.map(main.snapshot).find(s =>
        s.summary.get("cherryPickFrom").contains(name) &&
          s.summary.get("cherryPickSnap").contains(branchSnapshotId.toString))
        .map(_.id).getOrElse {
          val parent = main.currentSnapshotId.getOrElse(-1L)
          main.commitDelta("cherry-pick", added.map(_.copy(seq = 0L)),
            summary = Map("cherryPickFrom" -> name,
              "cherryPickSnap" -> branchSnapshotId.toString),
            expectedParent = Some(parent))
        }
    }
  }

  /**
   * Drop branch `name`: remove its record (releasing the GC roots), then
   * its log directory. Branch-written data files that never fast-forwarded
   * become orphans in the main data dir — [[RemoveOrphans]] collects them
   * behind its age floor. Requires `force` when the branch has unmerged
   * commits (the git `-D` rule).
   */
  def drop(main: MetaStore, name: String, force: Boolean = false): Unit = {
    require(force || merged(main, name),
      s"branch '$name' has unmerged commits; fast-forward first or force")
    Files.deleteIfExists(recordPath(main, name))
    MetaFs.deleteTree(branchDir(main, name))
  }

  /** Force-drop every branch whose age exceeds its declared maxRefAgeMs
   * (the Iceberg branch-retention rule); returns the dropped names. An
   * aged-out staging branch is ABANDONED by definition, so age is measured
   * from the branch's last activity — the HEAD snapshot's commit timestamp
   * (floored at createdMs: a fresh fork's head is a snapshot inherited from
   * main, whose timestamp predates the branch) — matching Iceberg's
   * max-ref-age-ms. Aging from createdMs alone destroyed actively-committed
   * branches together with their recent unmerged work (ADVICE r3).
   * Branches without the declaration never expire. */
  def expireAged(main: MetaStore,
                 nowMs: Long = System.currentTimeMillis()): Seq[String] =
    if (!main.ownsData) Nil
    else list(main).toSeq.flatMap { case (n, rec) =>
      if (rec.maxRefAgeMs <= 0L) None
      else {
        val bs = store(main, n)
        val headMs = bs.currentSnapshotId
          .map(id => bs.snapshot(id).timestampMs).getOrElse(rec.createdMs)
        val lastActiveMs = math.max(headMs, rec.createdMs)
        if (nowMs - lastActiveMs > rec.maxRefAgeMs) Some(n) else None
      }
    }.sorted.map { n => drop(main, n, force = true); n }

  /** Read the branch head — snapshot isolation against main's churn. */
  def scan(spark: SparkSession, main: MetaStore, name: String): DataFrame =
    store(main, name).scanCurrent(spark)
}
