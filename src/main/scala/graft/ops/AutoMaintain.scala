package graft.ops

import graft.table.{Layout, MetaStore}
import org.apache.spark.sql.SparkSession

/**
 * Policy-driven maintenance: decide — from MANIFEST METADATA ALONE, zero
 * data IO — which maintenance passes a table currently needs, then run only
 * those, in dependency order. This is the brain a maintenance daemon loops:
 * at 10^5–10^6 files nobody schedules compaction by hand, and blindly
 * running every pass every time turns O(churn) nights into O(table) ones.
 *
 * The reference aspires to exactly this janitorial loop for its volumes
 * ("append-only journal … periodically collapsed", reference
 * README.md:141-145); here each trigger is a measurable layout property:
 *
 *  - small-file debt → bin-pack [[Compact]] (trigger: count of files under
 *    `smallFileFrac * targetBytes` in any partition tuple exceeds the bound;
 *    partition-aware, matching Compact's tuple-pure bins);
 *  - zonemap decay → curve [[Cluster]] (trigger: [[Layout.overlapDepth]] on
 *    the leading range column exceeds the bound — appends interleave key
 *    ranges, so expected files-per-probe degrades measurably as the table
 *    grows between rewrites);
 *  - manifest sprawl → [[MetaStore.compactManifests]] (many delta commits
 *    leave one small shard each);
 *  - merge-on-read delete debt → [[Deletes.materialize]] (too many delete
 *    eras or delete rows: promote provably-clean files metadata-only,
 *    rewrite the rest, retire every delete file in one commit);
 *  - outrun delete files → [[Deletes.expireInert]] (a full rewrite left no
 *    covered data file);
 *  - history debt → [[ExpireSnapshots]] + [[RemoveOrphans]] (bounded
 *    snapshot count behind an age floor, then crash-debris GC).
 *
 * `plan` is pure and cheap (one manifest read); `run` executes the plan and
 * re-plans after, so a converged table reports an EMPTY plan — the loop's
 * fixed point. Order matters and is encoded here: deletes expire before
 * cluster only if already inert; compact before cluster (cluster reads
 * fewer, larger files); manifest/ snapshot hygiene last (they see the final
 * layout).
 */
final case class MaintenancePolicy(
    targetBytes: Long = 128L * 1024 * 1024,
    smallFileFrac: Double = 0.75,
    maxSmallFiles: Int = 16,
    clusterRangeCols: Seq[String] = Seq("sr_hz", "dur_ms"),
    clusterHashCols: Seq[String] = Seq.empty,
    maxOverlapDepth: Double = 4.0,
    minFilesForCluster: Int = 4,
    /** Incremental-vs-full cluster crossover: when the files needing a
     * rewrite (the chain-overlap groups of size >= 2 on the leading range
     * column, [[Cluster.overlapGroups]]) hold at most this fraction of the
     * table's bytes, run the O(churn) [[Cluster.incremental]] instead of
     * the full rewrite — the post-append common case at 10^5-10^6 files,
     * where decay is local to the appended key ranges. Past the crossover
     * the whole table is interleaved anyway and one global rewrite beats
     * group-by-group passes that would each re-shuffle most of the data. */
    incrementalClusterMaxFrac: Double = 0.5,
    maxManifestShards: Int = 32,
    expireKeepLast: Int = 5,
    expireMinAgeMs: Long = 0L,
    orphanMinAgeMs: Long = 3600L * 1000,
    /** Merge-on-read debt bounds ([[Deletes.materialize]] trigger): live
     * delete ERAS (distinct delete seqs — each is one extra anti-join on
     * every scan) and live delete rows as a fraction of table rows. */
    maxDeleteEras: Int = 6,
    maxDeleteRowFrac: Double = 0.02,
    /** Position-delete FILE bound ([[Deletes.compactPositional]] trigger):
     * every position-delete commit adds one small file to the one union'd
     * vector join input; merge them (and drop dead-path masks) past this. */
    maxPosDeleteFiles: Int = 8,
    /** Bloom side-table shard bound ([[graft.table.FileBloom.compact]]
     * trigger): every write adds one shard, dead files keep their rows —
     * fold to one live-only shard past this. */
    maxBloomShards: Int = 32,
    /** Lineage side-table file bound ([[graft.table.MetaStore.compactLineage]]
     * trigger): one `.jsonl` file per op; fold past this. */
    maxLineageShards: Int = 64)

object AutoMaintain {

  final case class Decision(op: String, reason: String)
  /** `committed = false`: the pass lost a commit race to a concurrent
   * writer (retryable [[graft.table.ConcurrentCommitException]]) and was
   * SKIPPED this round — the next [[run]] re-plans against the new state.
   * A maintenance loop must outlive writer interleaving, not crash on it. */
  final case class Applied(decision: Decision, snapshotId: Long,
                           committed: Boolean = true)

  /** Metadata-only diagnosis: which passes does the table need right now? */
  def plan(store: MetaStore, policy: MaintenancePolicy): Seq[Decision] = {
    val snapId = store.currentSnapshotId.getOrElse(return Nil)
    val entries = store.entries(snapId)
    val out = Seq.newBuilder[Decision]

    val threshold = (policy.targetBytes * policy.smallFileFrac).toLong
    // compact merges within a tuple, so debt is per-tuple: 20 partitions
    // with one small file each are NOT compactable debt
    val smallByTuple = entries.filter(_.sizeBytes < threshold)
      .groupBy(_.partition).map(_._2.size)
    val mergeable = smallByTuple.filter(_ >= 2).sum
    if (mergeable > policy.maxSmallFiles)
      out += Decision("compact",
        s"$mergeable mergeable small files (<${threshold} B) exceed bound ${policy.maxSmallFiles}")

    val dels = store.deleteEntries(snapId)
    // merge-on-read debt: each delete ERA is one more anti-join on every
    // scan until a rewrite retires it — a streaming MOR upsert adds one per
    // batch. Bounded here; materialize promotes provably-clean files
    // metadata-only and rewrites the rest, retiring all delete files.
    // Deletes.isPositional reads the path tag, so this stays metadata-only.
    // Each position file is one more small input to the single union'd
    // vector join — era semantics don't apply to them (application is by
    // exact path, not seq). A vector entry's `rows` counts the rows it
    // masks, so the row bound sees position deletes at their true weight.
    val (posDels, eqDels) = dels.partition(Deletes.isPositional)
    val morDebt = dels.nonEmpty && {
      val eras = eqDels.map(_.seq).distinct.size
      val delRows = dels.map(_.rows).sum
      val tableRows = math.max(entries.map(_.rows).sum, 1L)
      eras > policy.maxDeleteEras ||
        delRows > policy.maxDeleteRowFrac * tableRows
    }
    if (morDebt)
      out += Decision("materialize-deletes",
        s"${eqDels.map(_.seq).distinct.size} delete eras / ${dels.map(_.rows).sum} delete rows " +
          s"exceed bounds (eras>${policy.maxDeleteEras} or rows>" +
          f"${policy.maxDeleteRowFrac}%.2f*table)")
    else if (posDels.size > policy.maxPosDeleteFiles)
      out += Decision("compact-pos-deletes",
        s"${posDels.size} position-delete files exceed bound ${policy.maxPosDeleteFiles}")
    else {
      val inertable = dels.nonEmpty && {
        val minDataSeq = entries.map(_.seq).minOption.getOrElse(Long.MaxValue)
        dels.exists(_.seq <= minDataSeq)
      }
      if (inertable)
        out += Decision("expire-deletes", "delete files outrun by every data file")
    }

    // convergence guard: if the CURRENT snapshot is itself a cluster pass,
    // the measured depth IS this policy's fixed point — a multi-dim curve
    // key cannot always drive the lead column's interval depth below an
    // aggressive bar, and re-triggering on an unchanged layout would make
    // the maintenance daemon rewrite the same groups every loop forever.
    // Any later commit (append/delete/merge) re-arms the trigger.
    val justClustered =
      Set("cluster", "cluster-incremental")(store.snapshot(snapId).operation)
    // the table's DECLARED sort order (meta/sort-order.json) wins over the
    // policy's cluster columns: the decay trigger must measure the same
    // column the rewrite will sort, or the loop chases the wrong metric
    val clusterRangeCols =
      store.sortOrder.map(_.rangeCols).getOrElse(policy.clusterRangeCols)
    if (!justClustered && entries.size >= policy.minFilesForCluster)
      clusterRangeCols.headOption.foreach { c =>
        // measure WITHIN partition tuples: tuple pruning runs before
        // zonemaps, so a probe never opens files across tuples it excludes
        // — and the cluster rewrite's per-tuple fanout means GLOBAL depth
        // stays high forever on a partitioned table (a trigger that never
        // converges). Weighted by each tuple's measured file count.
        val groups = entries.groupBy(_.partition).values
          .map(g => Layout.overlapDepth(g.toSeq, c))
          .filter(_.filesWithStats > 0).toSeq
        val files = groups.map(_.filesWithStats).sum
        if (files > 0) {
          val avg = groups.map(r => r.avgDepth * r.filesWithStats).sum / files
          if (avg > policy.maxOverlapDepth) {
            // scope the fix to the decay: when the interleaved groups hold
            // a minority of the table's bytes, rewrite only them (O(churn));
            // only a globally decayed layout justifies the O(table) pass
            val rewriteBytes = Cluster.overlapGroups(entries, c)
              .filter(_.size >= 2).flatten.map(_.sizeBytes).sum
            val totalBytes = math.max(entries.map(_.sizeBytes).sum, 1L)
            val frac = rewriteBytes.toDouble / totalBytes
            val reason =
              f"$c within-tuple overlap depth $avg%.1f exceeds ${policy.maxOverlapDepth}%.1f " +
                f"(expected files opened per tuple-pruned probe)"
            if (frac <= policy.incrementalClusterMaxFrac)
              out += Decision("cluster-incremental",
                f"$reason; overlap groups hold $frac%.2f of table bytes " +
                  f"(<= ${policy.incrementalClusterMaxFrac}%.2f) -> O(churn) group rewrite")
            else
              out += Decision("cluster",
                f"$reason; overlap groups hold $frac%.2f of table bytes -> full rewrite")
          }
        }
      }

    if (store.snapshot(snapId).manifests.size > policy.maxManifestShards)
      out += Decision("compact-manifests",
        s"${store.snapshot(snapId).manifests.size} manifest shards exceed ${policy.maxManifestShards}")

    val bloomShards = graft.table.FileBloom.shardCount(store)
    if (store.bloomColumn.nonEmpty && bloomShards > policy.maxBloomShards)
      out += Decision("compact-blooms",
        s"$bloomShards bloom side-table shards exceed ${policy.maxBloomShards}")

    val lineageShards = store.lineageShardCount
    if (lineageShards > policy.maxLineageShards)
      out += Decision("compact-lineage",
        s"$lineageShards lineage shards exceed ${policy.maxLineageShards}")

    if (store.allSnapshotIds.size > policy.expireKeepLast)
      out += Decision("expire",
        s"${store.allSnapshotIds.size} snapshots exceed keepLast=${policy.expireKeepLast}")

    out.result()
  }

  /** Execute the current plan in order; returns what ran and the snapshot
   * each pass committed. A second `plan` right after returns only decisions
   * whose trigger the passes could not clear (e.g. expire behind an age
   * floor) — on a quiesced table it is empty. */
  def run(spark: SparkSession, store: MetaStore,
          policy: MaintenancePolicy = MaintenancePolicy(),
          runId: String = s"auto-${System.currentTimeMillis()}"): Seq[Applied] =
    plan(store, policy).map { d =>
      try Applied(d, applyOne(spark, store, policy, runId, d))
      catch {
        case e: graft.table.ConcurrentCommitException =>
          // a concurrent writer invalidated this pass's plan (expectedParent
          // CAS) — skip it; the trigger re-fires on the next loop iteration
          // against the new snapshot. Propagating would kill the ingest
          // stream that hosts the in-loop maintenance.
          System.err.println(s"[auto-maintain] ${d.op} skipped: ${e.getMessage}")
          Applied(d, store.currentSnapshotId.getOrElse(-1L), committed = false)
      }
    }

  /** Curve + key columns for a cluster pass: the table's declared sort
   * order when present, else the policy's (curve defaults to Z-order). */
  private def clusterSpec(store: MetaStore, policy: MaintenancePolicy)
      : (CurveKind, Seq[String], Seq[String]) =
    store.sortOrder match {
      case Some(o) =>
        (if (o.curve == "hilbert") HilbertCurve else ZOrderCurve,
          o.hashCols, o.rangeCols)
      case None => (ZOrderCurve, policy.clusterHashCols, policy.clusterRangeCols)
    }

  private def applyOne(spark: SparkSession, store: MetaStore,
                       policy: MaintenancePolicy, runId: String,
                       d: Decision): Long =
    d.op match {
        case "compact" =>
          Compact.run(spark, store, policy.targetBytes, policy.smallFileFrac,
            runId = s"$runId-compact").snapshotId
        case "expire-deletes" =>
          Deletes.expireInert(store)._1
        case "materialize-deletes" =>
          Deletes.materialize(spark, store,
            runId = s"$runId-materialize").snapshotId
        case "compact-pos-deletes" =>
          Deletes.compactPositional(spark, store,
            runId = s"$runId-posdel-compact")._1
        case "cluster" =>
          val (curve, hashC, rangeC) = clusterSpec(store, policy)
          Cluster.run(spark, store, curve, policy.targetBytes,
            runId = s"$runId-cluster", hashCols = hashC,
            rangeCols = rangeC).snapshotId
        case "cluster-incremental" =>
          val (curve, hashC, rangeC) = clusterSpec(store, policy)
          Cluster.incremental(spark, store, curve, policy.targetBytes,
            runId = s"$runId-cluster-inc", hashCols = hashC,
            rangeCols = rangeC).snapshotId
        case "compact-manifests" =>
          store.compactManifests()._1
        case "compact-blooms" =>
          graft.table.FileBloom.compact(spark, store)
          store.currentSnapshotId.getOrElse(-1L) // side-table only, no commit
        case "compact-lineage" =>
          store.compactLineage()
          store.currentSnapshotId.getOrElse(-1L) // side-table only, no commit
        case "expire" =>
          ExpireSnapshots.run(store, policy.expireKeepLast, policy.expireMinAgeMs)
          // orphan GC must run through the OWNING table's handle: a branch
          // store's data lives in the parent's data dir (RemoveOrphans
          // refuses it outright)
          if (store.ownsData) RemoveOrphans.run(store, policy.orphanMinAgeMs)
          store.currentSnapshotId.get
    }
}
