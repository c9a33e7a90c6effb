package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.table.{DataFile, Json, MetaFs, MetaStore}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One staged (written-but-unpublished) batch. `auditedMs` > 0 means a clean
 * [[Wap.audit]] pass blessed exactly these files. `evolutionCount` pins the
 * schema era the batch was written under. */
final case class StagedWrite(
    name: String,
    createdMs: Long,
    auditedMs: Long,
    evolutionCount: Int,
    summary: Map[String, String],
    entries: Seq[DataFile],
    /** Snapshot current when the batch was staged: any publish of it commits
     * a HIGHER id, so `(stagedAtSnapshot, current]` exactly bounds the
     * idempotent-publish probe — no wall clocks involved. */
    stagedAtSnapshot: Long = -1L)

/**
 * Write-Audit-Publish: stage a batch OUTSIDE the snapshot log, audit it in
 * isolation, and only then publish it atomically — the Iceberg WAP workflow
 * (`spark.wap.id` / audit branches) re-expressed over this store.
 *
 * A staged batch's data files live under `data/staged-<name>-*` but NO
 * snapshot references them: readers cannot see the rows ([[MetaStore]]
 * snapshot isolation), yet auditors can scan exactly those files. The
 * staged-record JSON under `meta/staged/` is the only pointer — it also
 * serves as a GC root so [[RemoveOrphans]] never collects a pending batch.
 *
 * Contrast with [[Constraints]]-gated [[Append]] (synchronous gate in the
 * writer): WAP decouples the roles. The producer stages; an independent
 * audit process (different team, different cadence, possibly expensive
 * checks a writer can't afford inline) blesses or rejects; publication is a
 * pure-append O(batch) commit that cannot fail validation. At 100 TB the
 * audit reads ONLY the staged files — never the table.
 *
 * Snapshot-log contiguity is untouched: staged batches have no snapshot id
 * until publish mints the next `parent + 1` — nothing here bends the CAS /
 * ChangeFeed invariants.
 */
object Wap {

  private def stagedDir(store: MetaStore) = {
    val d = Paths.get(store.tableDir, "meta", "staged")
    Files.createDirectories(d)
    d
  }

  private def recordPath(store: MetaStore, name: String) = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid staged name: $name")
    stagedDir(store).resolve(s"$name.json")
  }

  private def writeRecord(store: MetaStore, rec: StagedWrite): Unit =
    MetaFs.replace(recordPath(store, rec.name),
      Json.mapper.writeValueAsString(rec).getBytes(StandardCharsets.UTF_8))

  def get(store: MetaStore, name: String): StagedWrite =
    Json.mapper.readValue[StagedWrite](new String(
      Files.readAllBytes(recordPath(store, name)), StandardCharsets.UTF_8))

  def list(store: MetaStore): Seq[StagedWrite] = {
    val d = stagedDir(store)
    val stream = Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      stream.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".json"))
        .map(p => Json.mapper.readValue[StagedWrite](
          new String(Files.readAllBytes(p), StandardCharsets.UTF_8)))
        .toSeq.sortBy(_.createdMs)
    } finally stream.close()
  }

  /** All data-file paths pinned by staged records — [[RemoveOrphans]] GC
   * roots (no snapshot references a pending batch, but it is NOT garbage). */
  def stagedRoots(store: MetaStore): Set[String] =
    list(store).flatMap(_.entries.map(e => store.normalizePath(e.path))).toSet

  /** Stage `batch` under `name`: write its data files (partition-spec-aware)
   * and record them; NO snapshot is committed and no reader sees a row. */
  def stage(spark: SparkSession, store: MetaStore, batch: DataFrame,
            name: String,
            summary: Map[String, String] = Map.empty): StagedWrite = {
    require(!Files.exists(recordPath(store, name)),
      s"staged batch '$name' already exists (publish or discard it first)")
    val outDir = store.newDataDir(s"staged-$name")
    store.writeData(batch, outDir)
    val rec = StagedWrite(name, System.currentTimeMillis(), 0L,
      Evolve.evolutions(store).size, summary,
      store.collectStats(spark, outDir),
      stagedAtSnapshot = store.currentSnapshotId.getOrElse(-1L))
    writeRecord(store, rec)
    rec
  }

  /** Read ONLY the staged batch's rows — the auditor's view. */
  def scanStaged(spark: SparkSession, store: MetaStore, name: String): DataFrame = {
    val rec = get(store, name)
    if (rec.entries.isEmpty) store.scanCurrent(spark).limit(0)
    else spark.read.parquet(rec.entries.map(_.path): _*)
  }

  /** Preview: the table AS IF the staged batch were published. */
  def scanWith(spark: SparkSession, store: MetaStore, name: String): DataFrame =
    store.scanCurrent(spark).unionByName(scanStaged(spark, store, name))

  /** Audit the staged batch against `cs` (one aggregate pass over the
   * staged files only). A CLEAN result stamps `auditedMs` on the record —
   * the blessing [[publish]] requires; violations leave it unstamped. */
  def audit(spark: SparkSession, store: MetaStore, name: String,
            cs: Seq[Constraint] = Constraint.clipDefaults): Seq[Violation] = {
    val bad = Constraints.check(scanStaged(spark, store, name), cs)
    if (bad.isEmpty)
      writeRecord(store, get(store, name)
        .copy(auditedMs = System.currentTimeMillis()))
    bad
  }

  /**
   * Atomically publish the staged batch: an O(batch) delta commit of its
   * recorded entries (every parent manifest reused), then the staged record
   * is dropped. Requires a clean [[audit]] unless `force`. Safe under
   * commit races (pure append — retried like [[Append]]). Refuses to
   * publish across a schema evolution: files staged under an older era
   * lack the evolved column and would read wrongly; re-stage instead.
   */
  /** Idempotency probe: the snapshot (if any) that already published this
   * exact staged record. The snapshot log is the ledger (same trick as
   * StreamAppend's batch ids); `stagedMs` disambiguates a REUSED name whose
   * earlier batch was published within the retention window. Bounded by ID,
   * not clocks: a publish always commits a snapshot ABOVE the one current at
   * stage time, so only `(stagedAtSnapshot, current]` is scanned. */
  private def publishedAs(store: MetaStore, rec: StagedWrite) =
    store.allSnapshotIds.filter(_ > rec.stagedAtSnapshot).sorted
      .map(store.snapshot)
      .find(s => s.summary.get("wapName").contains(rec.name) &&
        s.summary.get("stagedMs").contains(rec.createdMs.toString))

  def publish(store: MetaStore, name: String, force: Boolean = false): Long = {
    val rec = get(store, name)
    // idempotent across a crash between commit and record delete: a retried
    // publish of an already-committed stage just drops the record. This
    // probe runs FIRST — before the audit/era gates — because an already-
    // published batch needs no blessing and must be acknowledgeable even
    // after a later schema evolution ('discard and re-stage' would be
    // catastrophic advice for files a snapshot already references).
    publishedAs(store, rec) match {
      case Some(s) =>
        Files.deleteIfExists(recordPath(store, name))
        return s.id
      case None =>
    }
    require(force || rec.auditedMs > 0L,
      s"staged batch '$name' has not passed an audit (use audit(), or force)")
    // probe-and-commit under the CAS: the up-front probe alone leaves a
    // window where TWO concurrent publishes of the same batch both see
    // "not yet published" and both commit (double-counted rows). Pinning
    // expectedParent to the snapshot current at probe time turns the loser
    // into a retry, whose RE-probe then sees the winner's commit. The era
    // gate runs after that pin too: the commit stamps the batch with the
    // parent's era, so an evolution landing after the gate fails the CAS.
    val id = MetaStore.withCommitRetry() {
      publishedAs(store, rec) match {
        case Some(s) => s.id
        case None =>
          val parent = store.currentSnapshotId.getOrElse(-1L)
          val evoNow = Evolve.evolutions(store).size
          require(rec.evolutionCount == evoNow,
            s"staged batch '$name' was written under schema era " +
              s"${rec.evolutionCount} but the table is now at era $evoNow; " +
              "discard and re-stage")
          store.commitDelta("wap-publish", rec.entries,
            summary = rec.summary ++ Map(
              "wapName" -> name,
              "stagedMs" -> rec.createdMs.toString,
              "auditedMs" -> rec.auditedMs.toString),
            expectedParent = Some(parent))
      }
    }
    Files.deleteIfExists(recordPath(store, name))
    id
  }

  /** Drop the staged batch: record first (readers lose the pointer), then
   * its data files eagerly (they were never reachable from any snapshot).
   * EXCEPT when a crash-interrupted [[publish]] already committed the batch
   * — then the files ARE live table data and only the stale record goes. */
  def discard(store: MetaStore, name: String): Int = {
    val rec = get(store, name)
    if (publishedAs(store, rec).isDefined) {
      Files.deleteIfExists(recordPath(store, name))
      return 0
    }
    Files.deleteIfExists(recordPath(store, name))
    var n = 0
    rec.entries.foreach { e =>
      if (Files.deleteIfExists(Paths.get(e.path))) n += 1
    }
    n
  }
}
