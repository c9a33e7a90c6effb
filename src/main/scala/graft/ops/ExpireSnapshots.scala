package graft.ops

import java.nio.file.{Files, Paths}

import graft.table.MetaStore

import scala.jdk.CollectionConverters._

final case class ExpireResult(
    expiredSnapshots: Seq[Long],
    retainedSnapshots: Seq[Long],
    dataFilesDeleted: Int,
    manifestsDeleted: Int,
    tagsExpired: Seq[String] = Nil,
    branchesExpired: Seq[String] = Nil)

/**
 * Snapshot expiry with reachability GC: drop all snapshots except the most
 * recent `keepLast`, then delete every manifest and data file no retained
 * snapshot can reach. This realizes the reference's aspired
 * "consolidate ... to absorb journalized mutations" / idempotent-volume GC
 * (reference README.md:141-142,163-165) over our snapshot log.
 *
 * Reachability is computed over the retained snapshot set only — a file
 * shared by an expired and a retained snapshot survives (files are
 * content-immutable, so sharing across snapshots is the common case after
 * partial rewrites).
 */
object ExpireSnapshots {

  /** @param minAgeMs only snapshots at least this old are expirable — the
   *    retention window incremental consumers ([[graft.streaming.ChangeFeed]])
   *    rely on: a consumer lagging less than the window never loses a batch.
   *    0 = age is no protection (keepLast/current/tags still are). */
  def run(store: MetaStore, keepLast: Int = 1, minAgeMs: Long = 0L): ExpireResult = {
    // every snap file is a committed snapshot (the claim is the commit), so
    // the newest one listed is the head
    val all = store.allSnapshotIds
    val current = all.lastOption.getOrElse(sys.error("expire: empty table"))
    // per-ref retention first: a tag past its declared maxRefAgeMs stops
    // being a GC root NOW, in the same pass — otherwise an aged-out nightly
    // tag pins its snapshot for one extra expiry cycle
    val droppedTags = Refs.expireTags(store)
    // same rule for branches that declared maxRefAgeMs at create time: an
    // aged-out staging branch stops pinning its fork point and data roots
    val droppedBranches = Branches.expireAged(store)
    // tags and branch fork points are GC roots: a tagged snapshot (and its
    // files) survives expiry for as long as the tag exists (Refs.scala), and
    // a live branch pins the snapshot it forked from — every parent file a
    // branch commit carries is reachable from that fork (Branches.scala)
    val tagged = (Refs.tags(store).values.toSeq ++ Branches.forkRoots(store))
      .filter(all.contains)
    // each descriptor read once: the age filter, the retained set and the
    // expired set all use it
    val snaps = all.map(id => id -> store.snapshot(id)).toMap
    val cutoff = System.currentTimeMillis() - minAgeMs
    val young =
      if (minAgeMs <= 0L) Seq.empty
      else all.filter(id => snaps(id).timestampMs > cutoff)
    val retained =
      (all.takeRight(keepLast) ++ tagged ++ young :+ current).distinct.sorted
    val expired = all.filterNot(retained.contains)

    // reachability per DISTINCT manifest name, not per snapshot: manifests
    // are immutable per name and consecutive snapshots share almost all of
    // them (the Changes.fileDiff discipline). Delete files and their
    // manifests participate exactly like data files: a retained snapshot's
    // equality-delete parquets must survive (dropping one would resurrect
    // its deleted rows), an expired snapshot's go once nothing retained
    // shares them.
    def names(ids: Seq[Long]): Set[String] =
      ids.flatMap(id => snaps(id).manifests ++ snaps(id).deleteManifests).toSet
    val reachableManifests = names(retained)
    val doomed = names(expired) -- reachableManifests
    // the records go BEFORE any file they name: a crash after this point
    // leaves only unreferenced manifests and data files (orphan GC takes
    // the data files), never a record naming a deleted manifest, which
    // every later expiry and orphan GC would fail to read
    store.log.retire(expired)

    var dataDeleted = 0
    var manifestsDeleted = 0
    // a branch store shares data files with its parent table: expiring
    // branch HISTORY (snap/manifest JSONs, branch-local) is fine, but data
    // files it can reach may also be reachable from parent snapshots this
    // store cannot see — only the owning store may delete data. On the
    // owning side, files reachable from any LIVE BRANCH's log are pinned
    // even when every main snapshot referencing them expires (a replayed
    // intermediate can expire while the branch still needs its files).
    // Candidates = paths only doomed manifests list, minus every path a
    // reachable manifest lists — exactly (expired paths -- retained paths),
    // since a path of a shared manifest is reachable by definition. All
    // path sets are read BEFORE any manifest is deleted or forgotten.
    if (store.ownsData) {
      val candidates = new java.util.HashSet[String]()
      doomed.foreach(m => candidates.addAll(store.manifestPaths(m)))
      val it = reachableManifests.iterator
      while (!candidates.isEmpty && it.hasNext)
        candidates.removeAll(store.manifestPaths(it.next()))
      val branchPinned = Branches.dataRoots(store)
      candidates.asScala.foreach { p =>
        if (!branchPinned.contains(store.normalizePath(p)) &&
            RemoveOrphans.deleteDataFile(Paths.get(p))) dataDeleted += 1
      }
    }
    doomed.foreach { m =>
      if (Files.deleteIfExists(Paths.get(store.tableDir, "meta", m))) {
        manifestsDeleted += 1
        store.forgetManifest(m)
      }
    }
    ExpireResult(expired, retained, dataDeleted, manifestsDeleted,
      droppedTags, droppedBranches)
  }
}
