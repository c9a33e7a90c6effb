package graft.ops

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import graft.table.{MetaFs, MetaStore}

import scala.jdk.CollectionConverters._

/** @param commitDebrisDeleted publish temps under `meta/` plus bloom
 *   staging shards ([[graft.table.FileBloom.newStaging]]) whose writer died
 *   before it published them.
 *  @param manifestsDeleted manifests and delete manifests no snapshot
 *   names: left by an expiry that died between its retire and its deletes,
 *   or by a commit that died before its claim. */
final case class OrphanResult(scanned: Int, orphansDeleted: Int, bytesFreed: Long,
                              commitDebrisDeleted: Int = 0, manifestsDeleted: Int = 0)

/**
 * Orphan-file GC: a writer that crashes AFTER writing data files but BEFORE
 * its commit leaves files on disk that no snapshot references — invisible to
 * readers (snapshot isolation) and to [[ExpireSnapshots]] (which only walks
 * committed snapshots), but costing storage forever. This action deletes
 * data files unreachable from ANY snapshot, the manifests no snapshot
 * names, `_SUCCESS` markers, checksums whose file is gone and the
 * directories left empty, with an
 * age floor so an in-flight (written-but-not-yet-committed) maintenance
 * pass is never clobbered — the same contract as Iceberg's
 * remove_orphan_files.
 */
object RemoveOrphans {

  /** Data-file paths recorded in checkpoint result payloads — outputs of an
   * IN-PROGRESS (interrupted, resumable) maintenance run that no snapshot
   * references yet. They must be GC roots: deleting them would make the
   * run's resume path commit entries pointing at vanished files. Payloads
   * that are not DataFile JSON (e.g. persisted range bounds) parse-fail and
   * contribute nothing. */
  private def checkpointRoots(store: MetaStore): Set[String] = {
    val cpDir = Paths.get(store.tableDir, "meta", "checkpoints")
    if (!Files.exists(cpDir)) return Set.empty
    val stream = Files.walk(cpDir)
    try stream.iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.startsWith("result-"))
      .flatMap { p =>
        try graft.table.Json.mapper
          .readValue[Seq[graft.table.DataFile]](
            new String(Files.readAllBytes(p),
              java.nio.charset.StandardCharsets.UTF_8))
          .map(e => store.normalizePath(e.path))
        catch { case _: Exception => Seq.empty[String] }
      }.toSet
    finally stream.close()
  }

  /** Delete data file `p` and the `.<name>.crc` checksum Hadoop's local
   * filesystem writes beside it; true when `p` was there. A checksum left
   * without its file goes in orphan GC's sweep. */
  private[ops] def deleteDataFile(p: Path): Boolean = {
    val gone = Files.deleteIfExists(p)
    if (gone) Files.deleteIfExists(p.resolveSibling(s".${p.getFileName}.crc"))
    gone
  }

  /** @param minAgeMs only files older than this are deletable (default 1 h);
   *    must exceed the longest plausible write-to-commit window. */
  def run(store: MetaStore, minAgeMs: Long = 3600L * 1000): OrphanResult = {
    require(store.ownsData,
      s"${store.tableDir}: orphan GC must run on the owning table, not a " +
        "branch store (branch data lives in the parent's data directory)")
    val snaps = store.allSnapshotIds.map(store.snapshot)
    val reachable: Set[String] =
      store.reachablePaths(snaps).asScala.toSet ++
        checkpointRoots(store) ++
        // staged-but-unpublished WAP batches: no snapshot references them,
        // but they are pending work, not garbage
        Wap.stagedRoots(store) ++
        // branch-reachable files sit in THIS data dir but no main snapshot
        // references them until fast-forward — pending work, not garbage;
        // likewise work staged THROUGH a branch store (WAP batches,
        // checkpointed run outputs) is recorded in the branch's meta while
        // its files live here
        Branches.dataRoots(store) ++
        Branches.pendingRoots(store) ++
        Branches.list(store).keys.flatMap(n =>
          checkpointRoots(Branches.store(store, n)))
    val dataDir = Paths.get(store.tableDir, "data")
    val cutoff = System.currentTimeMillis() - minAgeMs
    var scanned = 0
    var deleted = 0
    var freed = 0L
    // each directory's age is read before its entries go (which bumps it)
    val oldDirs = scala.collection.mutable.Stack[Boolean]()
    Files.walkFileTree(dataDir, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes): FileVisitResult = {
        oldDirs.push(a.lastModifiedTime.toMillis < cutoff)
        FileVisitResult.CONTINUE
      }
      override def visitFile(p: Path, a: BasicFileAttributes): FileVisitResult = {
        val n = p.getFileName.toString
        val old = a.lastModifiedTime.toMillis < cutoff
        if (n.endsWith(".parquet")) {
          scanned += 1
          if (old && !reachable.contains(store.normalizePath(p.toString)) &&
              deleteDataFile(p)) {
            freed += a.size
            deleted += 1
          }
        } else if (old && n == "_SUCCESS") deleteDataFile(p)
        // a live file keeps its checksum: reads through Hadoop verify it
        else if (old && n.startsWith(".") && n.endsWith(".crc") &&
            !Files.exists(p.resolveSibling(n.substring(1, n.length - 4))))
          Files.deleteIfExists(p)
        FileVisitResult.CONTINUE
      }
      // a write directory left with no entry goes too
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult = {
        if (oldDirs.pop() && d != dataDir)
          try Files.deleteIfExists(d)
          catch { case _: java.nio.file.DirectoryNotEmptyException => false }
        FileVisitResult.CONTINUE
      }
      // a checksum deleted with its file may still be queued for a visit
      override def visitFileFailed(p: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    OrphanResult(scanned, deleted, freed, removeCommitDebris(store, cutoff) +
      graft.table.FileBloom.removeStaleStaging(store, cutoff),
      removeUnnamedManifests(store, snaps, cutoff))
  }

  /** Deletes the manifests and delete manifests in `meta/` that none of
   * `snaps` names and that were last modified before `cutoffMs`. A commit
   * writes its manifests before it claims its snapshot, and a reused
   * manifest is named by the parent the commit read, so the age floor that
   * protects in-flight data files protects these too. */
  private def removeUnnamedManifests(store: MetaStore, snaps: Seq[graft.table.Snapshot],
                                     cutoffMs: Long): Int = {
    val named = snaps.flatMap(s => s.manifests ++ s.deleteManifests).toSet
    val s = Files.list(Paths.get(store.tableDir, "meta"))
    val unnamed = try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      (n.startsWith("manifest-") || n.startsWith("delmanifest-")) && n.endsWith(".json") &&
        !named.contains(n) &&
        (try Files.getLastModifiedTime(p).toMillis < cutoffMs
         catch { case _: java.nio.file.NoSuchFileException => false })
    }.toList finally s.close()
    unnamed.count { p =>
      store.forgetManifest(p.getFileName.toString)
      Files.deleteIfExists(p)
    }
  }

  /** A publish that crashed between its temp write and its link or rename
   * leaves a [[MetaFs]] temp anywhere under `meta/`. Deletes such debris
   * behind the same age floor that protects in-flight commits. Never a
   * `snap-*.json`: a claimed snapshot is committed ([[graft.table.MetaLog]]). */
  private def removeCommitDebris(store: MetaStore, cutoffMs: Long): Int = {
    var removed = 0
    Files.walkFileTree(Paths.get(store.tableDir, "meta"), new SimpleFileVisitor[Path] {
      override def visitFile(p: Path, a: BasicFileAttributes): FileVisitResult = {
        if (MetaFs.isTemp(p.getFileName.toString) &&
            a.lastModifiedTime.toMillis < cutoffMs && Files.deleteIfExists(p))
          removed += 1
        FileVisitResult.CONTINUE
      }
      // live writers remove their own temps and publish their staging
      // shards while the walk runs: a vanished entry is not an error
      override def visitFileFailed(p: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    removed
  }
}
