package perfbench

import graft.ops._
import graft.synth.ClipSynth
import graft.table._
import org.apache.spark.sql.Row

/**
 * `lookup`: what a reader of a maintained table sees. A ClipSynth table
 * under a `truncate(dur_ms, 25)` spec, Z-order clustered with per-file
 * `clip_id` blooms, then a few merge-on-read eras of generator-identical
 * upserts, so every read anti-joins live equality deletes. Ops alternate a
 * bloom-tier point probe and a tuple/zonemap-tier `dur_ms` range count;
 * nothing is written.
 */
final class Lookup(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val clips = 2000
  private val batches = 1
  private val maxDurMs = 150
  private val targetBytes = 200L * 1024L
  private val eras = 2
  private val eraKeys = 100
  private val rangeWidth = 10
  private val warmupOps = 10

  val latencyTypes: Seq[String] = Seq("point", "range")
  // the range windows: 10 ms wide, each inside one 25 ms partition tuple;
  // a block probes every window twice in a fixed order, so each run reads
  // the same mix of ranges
  private val windows: Seq[Int] = Seq(50, 75, 100, 125, 140)
  val block: Int = 4 * windows.size

  // the generator model: rows per dur_ms value, and per key how many MOR
  // eras re-wrote it (each era's copy lives in one more file)
  private val durCount: Array[Long] = {
    val c = new Array[Long](maxDurMs + 1)
    (0 until clips).foreach(i => c(math.min(ClipSynth.durMs(i), maxDurMs)) += 1)
    c
  }
  private var copies: Array[Int] = new Array[Int](clips)

  private var store: MetaStore = _
  private var snap = -1L
  private var deleteFiles = 0

  def setup(dir: String): (Double, Double) = {
    val s = MetaStore.forClips(dir)
    s.setPartitionSpec(PartitionSpec(Seq(
      Partitioning.truncate("dur_ms", 25, sourceType = "int"))))
    val per = (clips + batches - 1) / batches
    val cap = maxDurMs
    val (ds, synthS) = Table.timed(ctx.span("synth", "generate") {
      Shuffle.perm(batches, ctx.rng).map { b =>
        val d = spark.range(b.toLong * per, math.min(clips, (b + 1L) * per), 1L, 2)
          .map(i => ClipSynth.clip(i, cap)).persist()
        d.count(); d
      }
    })
    val (_, buildS) = Table.timed(ctx.span("setup", "build") {
      ds.foreach { d => Append.run(spark, s, d.toDF()); d.unpersist() }
    })
    store = s
    (synthS, buildS)
  }

  /** Z-order cluster, merge-on-read eras of generator-identical upserts,
   * then one bloom fold: every read anti-joins `eras` live equality
   * deletes. */
  override def prepare(): Unit = {
    val cap = maxDurMs
    Cluster.run(spark, store, ZOrderCurve, targetBytes = targetBytes)
    copies = new Array[Int](clips)
    (0 until eras).foreach { _ =>
      val keys = (0 until eraKeys).map(_ => ctx.rng.nextInt(clips)).distinct
      keys.foreach(i => copies(i) += 1)
      MergeInto.runMor(spark, store,
        spark.createDataset(keys.map(i => ClipSynth.clip(i, cap))).toDF())
    }
    FileBloom.compact(spark, store)
    ExpireSnapshots.run(store, keepLast = 1)
    snap = store.currentSnapshotId.get
    deleteFiles = store.deleteEntries(snap).size
  }

  def warmup(): Unit =
    (0L until warmupOps).foreach { k =>
      op(k).run().check().foreach(e => sys.error(s"warm-up op failed: $e"))
    }

  /** Plan + read through the public pruned-scan path, billing each layer. */
  private def pruned(preds: Seq[Pred]): PrunedScan = {
    val es = ctx.span("table", "entries")(store.entries(snap))
    ctx.span("table", "prune") {
      val ps = Pruning.scan(spark, store, snap, es, preds)
      ctx.count("files_total", ps.filesTotal)
      ctx.count("files_kept", ps.filesKept)
      ctx.count("delete_files_live", deleteFiles)
      ps
    }
  }

  def op(k: Long): Op =
    if (k % 2 == 0) {
      val i = ctx.rng.nextInt(clips)
      Op("point", () => {
        val id = ClipSynth.clipId(i)
        val ps = pruned(Seq(Pred.EqualTo("clip_id", id)))
        ctx.count("key_holders", 1 + copies(i))
        val rows = ctx.span("table", "read")(ps.df.collect())
        Outcome(rows.length, () => checkPoint(i, rows))
      })
    } else {
      val lo = windows(((k / 2) % windows.size).toInt)
      val hi = lo + rangeWidth - 1
      Op("range", () => {
        val ps = pruned(Seq(Pred.Between("dur_ms", lo.toLong, hi.toLong)))
        val n = ctx.span("table", "read")(ps.df.count())
        val expect = (lo to hi).map(d => durCount(d)).sum
        Outcome(n, () =>
          if (n == expect) None else Some(s"range [$lo,$hi] counted $n, model $expect"))
      })
    }

  private def checkPoint(i: Int, rows: Array[Row]): Option[String] = {
    val want = ClipSynth.clip(i, maxDurMs)
    if (rows.length != 1) Some(s"point ${want.clip_id} returned ${rows.length} rows")
    else {
      val r = rows(0)
      val same = r.getAs[String]("clip_id") == want.clip_id &&
        r.getAs[Int]("sr_hz") == want.sr_hz && r.getAs[Int]("dur_ms") == want.dur_ms &&
        r.getAs[String]("codec") == want.codec &&
        r.getAs[String]("transcript") == want.transcript &&
        java.util.Arrays.equals(r.getAs[Array[Byte]]("bytes"), want.bytes)
      if (same) None else Some(s"point ${want.clip_id} differs from the generator row")
    }
  }

  def shape(): Map[String, Long] = Table.shape(store)

  def band(start: Map[String, Long]): Map[String, Long] = start.map { case (k, _) => k -> 0L }

  def finish(): (Boolean, Map[String, Any]) = {
    val ok = store.currentSnapshotId.contains(snap)
    (ok, Map("snapshot" -> snap,
      "delete_files_live" -> store.deleteEntries(snap).size,
      "files" -> store.entries(snap).size))
  }
}
