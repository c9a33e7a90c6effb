package perfbench

import graft.ops._
import graft.table._

/**
 * `meta`: the commit, refs and metadata-GC path plus distributed planning,
 * with no data I/O. A table of synthetic manifest entries (the MetaScale
 * entry shape) sized above the store's distributed-planning threshold,
 * then a fixed interleave of tiny commits: an append, a compact-shaped
 * partial rewrite, a refs tag and a PlanScan point probe. Manifest
 * compaction and snapshot expiry run at a fixed cadence to keep manifests
 * and snapshots bounded. Entry paths point under the table's own data dir
 * and name no real file, so expiry GC has nothing real to delete.
 */
final class Meta(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val entriesN = 6000
  private val shardSize = 500
  private val threshold = 4000L
  // a rewrite removes rewriteN entries and adds rewriteN - appendN, so one
  // round leaves the file count where it was
  private val appendN = 10
  private val rewriteN = 100
  private val roundsPerGc = 8
  private val keepLast = 2
  private val tagNames = 4
  private val sampleEvery = 8
  private val warmupBlocks = 10

  val latencyTypes: Seq[String] = Seq("commit", "rewrite", "tag", "plan")
  private val round: Seq[String] = latencyTypes
  val block: Int = round.size * roundsPerGc + 2

  private var store: MetaStore = _
  private var dataDir = ""
  // the model: live entry ids in manifest order (oldest first)
  private val live = scala.collection.mutable.ArrayDeque[Long]()
  private var nextId = 0L
  private var plans = 0L
  private var sampled = 0L

  private val codecs = Seq("pcm16le", "ulaw", "pcm8")

  /** The MetaScale entry shape: a contiguous clip_id range per file, a
   * (codec, dur_ms) tuple, 128 MB / 60k rows nominal. */
  private def entry(i: Long, seq: Long): DataFile = {
    val lo = i * 10000L
    val codec = codecs((i % 3).toInt)
    val trunc = (i % 10) * 100
    DataFile(
      path = f"$dataDir/synth/_p_codec=$codec/_p_dur_ms_trunc=$trunc/part-$i%09d.parquet",
      rows = 60000L,
      sizeBytes = 128L * 1024 * 1024,
      stats = Map(
        "clip_id" -> ColStat(f"clip_$lo%012d", f"clip_${lo + 9999}%012d", numeric = false, 0L),
        "sr_hz" -> ColStat("8000", "44100", numeric = true, 0L),
        "dur_ms" -> ColStat(trunc.toString, (trunc + 99).toString, numeric = true, 0L)),
      seq = seq,
      partition = Map("codec" -> codec, "dur_ms_trunc" -> trunc.toString))
  }

  def setup(dir: String): (Double, Double) = {
    val s = new MetaStore(dir, MetaStore.ClipStatsColumns)
    s.bloomColumn = None
    s.manifestShardSize = shardSize
    s.distributedPlanThreshold = threshold
    s.setPartitionSpec(PartitionSpec(Seq(
      Partitioning.identity("codec"),
      Partitioning.truncate("dur_ms", 100, sourceType = "int"))))
    dataDir = java.nio.file.Paths.get(dir, "data").toString
    live.clear(); nextId = 0L; plans = 0L; sampled = 0L
    // the seed picks where the id space starts, so each seed's paths differ
    val base = ctx.rng.nextInt(1000).toLong * 1000L
    val (es, synthS) = Table.timed(ctx.span("synth", "entries") {
      (base until base + entriesN).map(entry(_, 1L))
    })
    val (_, buildS) = Table.timed(ctx.span("setup", "commit") {
      es.grouped(5 * shardSize).zipWithIndex.foreach { case (chunk, c) =>
        if (c == 0) s.commit("append", chunk) else s.commitDelta("append", chunk)
      }
      s.compactManifests()
      ExpireSnapshots.run(s, keepLast = 1)
    })
    store = s
    live ++= (base until base + entriesN)
    nextId = base + entriesN
    require(store.planDistributed(store.currentSnapshot.get),
      "meta table must sit above the distributed-planning threshold")
    (synthS, buildS)
  }

  def warmup(): Unit =
    (0L until warmupBlocks.toLong * block).foreach { k =>
      op(k).run().check().foreach(e => sys.error(s"warm-up op failed: $e"))
    }

  private def filesCheck(): Option[String] = {
    val n = store.currentSnapshot.get.summary("files").toLong
    if (n == live.size) None else Some(s"table lists $n files, model ${live.size}")
  }

  private def fresh(n: Int): Seq[DataFile] = {
    val out = (nextId until nextId + n).map(entry(_, 0L))
    live ++= (nextId until nextId + n)
    nextId += n
    out
  }

  private def commit(op: String, add: Seq[DataFile],
                     removed: Set[String]): (Long, Option[ctx.tracer.Span]) = {
    val id = ctx.span("table", "commit")(
      store.commitDelta(op, add, removedPaths = removed))
    (id, ctx.tracer.last)
  }

  /** Manifest reuse and metadata bytes of commit `id`, read back after
   * the op's clock has stopped. */
  private def commitCounters(id: Long, span: Option[ctx.tracer.Span]): Unit =
    span.foreach { s =>
      val snap = store.snapshot(id)
      val parent = store.snapshot(snap.parentId).manifests.toSet
      val meta = java.nio.file.Paths.get(store.tableDir, "meta")
      val written = (snap.manifests.filterNot(parent) :+ s"snap-$id.json")
        .map(m => java.nio.file.Files.size(meta.resolve(m))).sum
      ctx.tracer.add(s, "manifests_reused", snap.summary("manifestsReused").toDouble)
      ctx.tracer.add(s, "manifests_rewritten", snap.summary("manifestsRewritten").toDouble)
      ctx.tracer.add(s, "meta_bytes_written", written.toDouble)
    }

  /** One GC block per `roundsPerGc` rounds: the op stream is rounds of
   * (commit, rewrite, tag, plan) followed by compact-manifests and expire. */
  def op(k: Long): Op = {
    val pos = (k % block).toInt
    val r = k / block * roundsPerGc + pos / round.size
    if (pos == block - 2) Op("compact_manifests", () => {
      ctx.span("table", "compact_manifests")(store.compactManifests())
      Outcome(0L, () => filesCheck())
    })
    else if (pos == block - 1) Op("expire", () => {
      ctx.span("ops", "expire") {
        val res = ExpireSnapshots.run(store, keepLast = keepLast)
        ctx.count("expire_files_deleted", res.dataFilesDeleted)
      }
      Outcome(0L, () => filesCheck())
    })
    else round(pos % round.size) match {
      case "commit" => Op("commit", () => {
        val add = fresh(appendN)
        val (id, span) = commit("append", add, Set.empty)
        Outcome(add.size, () => { commitCounters(id, span); filesCheck() })
      })
      case "rewrite" => Op("rewrite", () => {
        // compact-shaped: the oldest clustered run of entries is replaced
        // by fewer merged ones, shrinking the table by what an append added
        val victims = (0 until rewriteN).map(_ => live.removeHead())
        val removed = victims.map(entry(_, 0L).path).toSet
        val add = fresh(rewriteN - appendN)
        val (id, span) = commit("compact", add, removed)
        Outcome(add.size + removed.size, () => {
          commitCounters(id, span)
          val rewritten = store.snapshot(id).summary("manifestsRewritten").toInt
          filesCheck().orElse(
            if (rewritten >= 1) None else Some("rewrite touched no manifest"))
        })
      })
      case "tag" => Op("tag", () => {
        val name = s"t${r % tagNames}"
        val id = ctx.span("ops", "refs_tag")(Refs.tag(store, name))
        Outcome(1L, () =>
          if (Refs.snapshotFor(store, name) == id) None else Some(s"tag $name does not resolve to $id"))
      })
      case _ => Op("plan", () => {
        val target = live(ctx.rng.nextInt(live.size))
        val preds = Seq(Pred.EqualTo("clip_id", f"clip_${target * 10000L + 4242}%012d"))
        val snap = store.currentSnapshot.get
        val planned = ctx.span("table", "plan_job") {
          ctx.count("plan_shards", snap.manifests.size)
          PlanScan.prune(spark, store, snap, preds)
        }
        plans += 1
        val sample = plans % sampleEvery == 0
        Outcome(planned.kept.size, () => {
          val want = entry(target, 0L).path
          val got = planned.kept.map(_.path)
          if (got != Seq(want)) Some(s"plan kept ${got.take(3)}, model $want")
          else if (!sample) None
          else {
            sampled += 1
            val driver = Pruning.keep(store.entries(snap.id), preds).map(_.path)
            if (driver == got) None else Some(s"plan kept $got, driver path $driver")
          }
        })
      })
    }
  }

  def shape(): Map[String, Long] = Table.shape(store)

  def band(start: Map[String, Long]): Map[String, Long] = Map(
    "rows" -> (2L * appendN * 60000L),
    "files" -> (2L * appendN),
    "manifests" -> (start("manifests") + 2L * round.size * roundsPerGc),
    "snapshots" -> (keepLast + tagNames + 2L * roundsPerGc + 2))

  def finish(): (Boolean, Map[String, Any]) = {
    val snap = store.currentSnapshot.get
    val files = store.entries(snap.id).map(_.path)
    val model = live.map(entry(_, 0L).path)
    val tags = Refs.tags(store)
    val ids = store.allSnapshotIds.toSet
    val tagsOk = tags.size == tagNames && tags.values.forall(ids.contains)
    (files.size == live.size && files.toSet == model.toSet && tagsOk,
      Map("files" -> files.size, "model_files" -> live.size,
        "tags" -> tags.size, "tags_resolve" -> tagsOk,
        "plans_sampled" -> sampled))
  }
}
