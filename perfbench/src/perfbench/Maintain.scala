package perfbench

import graft.ops._
import graft.synth.{Clip, ClipSynth}
import graft.table.{FileBloom, MetaStore}
import graft.verify.ScanEquality
import org.apache.spark.sql.Dataset

/**
 * `maintain`: what a maintenance operator runs. A ClipSynth table landed
 * as small appends, then a fixed cycle of merge (copy-on-write upsert of
 * generator-identical rows, skewed toward the hot codec/dur_ms rows),
 * compact, incremental Z-order cluster and expire. Table content never
 * changes, so scan equality between the first and last snapshot of the
 * window must hold at 1.0.
 *
 * No partition spec: `MergeInto.run` writes its output without partition
 * tuples, so under a spec every cycle would move rows from tuple files to
 * tuple-less ones and the table would never reach a steady shape.
 */
final class Maintain(ctx: Ctx) extends Workload {
  import ctx.spark.implicits._
  private val spark = ctx.spark
  private val clips = 1500
  private val batches = 3
  private val maxDurMs = 150
  private val targetBytes = 256L * 1024L
  private val mergeKeys = 10
  private val keepLast = 2
  // the first cycles after landing spend up to 60 % more CPU than later
  // ones (compiler threads, unoptimised code); four keep most of that out
  // of the window while a whole run stays near 70 s
  private val warmupCycles = 4
  require(mergeKeys <= MergeInto.SmallKeySetLimit,
    "merge batch must stay on the pruned-discovery path")

  val latencyTypes: Seq[String] = Seq("merge", "compact", "cluster", "expire")
  private val cycle = latencyTypes
  val block: Int = cycle.size

  // hot keys: the skewed (codec, dur_ms) partition the generator over-weights
  private val hot: Array[Int] = (0 until clips).filter(i =>
    ClipSynth.codec(i) == "pcm16le" && math.min(ClipSynth.durMs(i), maxDurMs) == 100).toArray

  private var store: MetaStore = _
  private var windowStart = -1L
  private var upsertedBytes = 0L
  private var writtenBytes = 0L
  private var rewrittenRows = 0L
  private var rewriteSeconds = 0.0

  private def clipsDs(lo: Long, hi: Long): Dataset[Clip] = {
    val cap = maxDurMs
    spark.range(lo, hi, 1L, 2).map(i => ClipSynth.clip(i, cap))
  }

  def setup(dir: String): (Double, Double) = {
    val s = MetaStore.forClips(dir)
    // batches land in a seeded order; contents follow the generator
    val per = (clips + batches - 1) / batches
    val order = Shuffle.perm(batches, ctx.rng)
    val (ds, synthS) = Table.timed(ctx.span("synth", "generate") {
      order.map { b =>
        val d = clipsDs(b.toLong * per, math.min(clips, (b + 1L) * per)).persist()
        d.count(); d
      }
    })
    val (_, buildS) = Table.timed(ctx.span("setup", "land") {
      ds.foreach { d => Append.run(spark, s, d.toDF()); d.unpersist() }
    })
    store = s
    (synthS, buildS)
  }

  def warmup(): Unit = {
    (0L until warmupCycles * cycle.size.toLong).foreach { k =>
      op(k).run().check().foreach(e => sys.error(s"warm-up op failed: $e"))
    }
    // the window starts here; the tag keeps its snapshot through expiry so
    // the end-of-run scan equality can read it
    windowStart = store.currentSnapshotId.get
    Refs.tag(store, "perfbench-window-start", windowStart)
    upsertedBytes = 0L; writtenBytes = 0L; rewrittenRows = 0L; rewriteSeconds = 0.0
  }

  private def mergeBatch(): Seq[Long] = {
    val keys = scala.collection.mutable.LinkedHashSet[Long]()
    while (keys.size < mergeKeys) {
      keys += (if (ctx.rng.nextInt(2) == 0) hot(ctx.rng.nextInt(hot.length)).toLong
               else ctx.rng.nextInt(clips).toLong)
    }
    keys.toSeq
  }

  /** Bytes of the data files snapshot `after` added over `before`. */
  private def addedBytes(before: Long, after: Long): Long = {
    val b = store.entries(before).map(_.path).toSet
    store.entries(after).filterNot(e => b.contains(e.path)).map(_.sizeBytes).sum
  }

  private def rowsCheck(): Option[String] = {
    val r = Table.rows(store)
    if (r == clips) None else Some(s"table holds $r rows, expected $clips")
  }

  /** A rewrite op: time it, then (clock stopped) record bytes written. */
  private def rewrite(name: String)(body: => Long): Outcome = {
    val before = store.currentSnapshotId.get
    val t0 = System.nanoTime()
    val rows = ctx.span("ops", name)(body)
    rewriteSeconds += (System.nanoTime() - t0) / 1e9
    rewrittenRows += rows
    Outcome(rows, () => {
      writtenBytes += addedBytes(before, store.currentSnapshotId.get)
      rowsCheck()
    })
  }

  def op(k: Long): Op = cycle((k % cycle.size).toInt) match {
    case "merge" => Op("merge", () => {
      val keys = mergeBatch()
      val batch = keys.map(i => ClipSynth.clip(i, maxDurMs))
      upsertedBytes += batch.map(c => c.bytes.length.toLong + c.transcript.length).sum
      val df = spark.createDataset(batch).toDF()
      rewrite("merge") {
        // merge output lands as half-size files, the small-file debt the
        // next compaction folds
        val r = MergeInto.run(spark, store, df, targetBytes = targetBytes / 2)
        ctx.count("merge_files_touched", r.filesTouched)
        r.updatedOrInserted
      }
    })
    case "compact" => Op("compact", () => rewrite("compact") {
      val r = Compact.run(spark, store, targetBytes = targetBytes, singleJob = true)
      // one output file per rewritten bin
      ctx.count("compact_files_in", r.filesBefore - r.filesAfter + r.binsRewritten)
      ctx.count("compact_files_out", r.binsRewritten)
      r.rowsRewritten
    })
    case "cluster" => Op("cluster", () => rewrite("cluster") {
      val r = Cluster.incremental(spark, store, ZOrderCurve, targetBytes = targetBytes)
      ctx.count("cluster_files_rewritten", r.filesRewritten)
      ctx.count("cluster_files_kept", r.filesKept)
      r.rowsRewritten
    })
    case _ => Op("expire", () => {
      ctx.span("ops", "expire") {
        val r = ExpireSnapshots.run(store, keepLast = keepLast)
        ctx.count("expire_files_deleted", r.dataFilesDeleted)
        FileBloom.compact(spark, store)
      }
      Outcome(0L, () => rowsCheck())
    })
  }

  def shape(): Map[String, Long] = Table.shape(store)

  def band(start: Map[String, Long]): Map[String, Long] = Map(
    "rows" -> 0L,
    "files" -> math.max(16L, start("files") / 2),
    "manifests" -> math.max(16L, start("manifests")),
    "snapshots" -> (keepLast + 4L))

  private def dataDirBytes(): Long = {
    val w = java.nio.file.Files.walk(java.nio.file.Paths.get(store.tableDir, "data"))
    try {
      var n = 0L
      w.forEach(p => if (p.toString.endsWith(".parquet")) n += java.nio.file.Files.size(p))
      n
    } finally w.close()
  }

  def finish(): (Boolean, Map[String, Any]) = {
    val last = store.currentSnapshotId.get
    val rep = ctx.span("verify", "scan_equality") {
      ScanEquality.report(ScanEquality.compareSnapshots(spark, store,
        windowStart, last, checkSynth = false))
    }
    (rep.passRate == 1.0 && rep.rows == clips,
      Map("scan_equality_pass_rate" -> rep.passRate,
        "scan_equality_rows" -> rep.rows,
        "scan_equality_min_snr_db" -> rep.minSnrDb,
        "window_start_snapshot" -> windowStart, "last_snapshot" -> last))
  }

  override def extras(): Map[String, Any] = {
    val live = store.entries(store.currentSnapshotId.get).map(_.sizeBytes).sum
    Map("rows_rewritten" -> rewrittenRows,
      "rewrite_s" -> rewriteSeconds,
      "bytes_upserted" -> upsertedBytes,
      "bytes_written" -> writtenBytes,
      "write_amp" -> (if (upsertedBytes == 0) 0.0 else writtenBytes.toDouble / upsertedBytes),
      "space_amp" -> (if (live == 0) 0.0 else dataDirBytes().toDouble / live))
  }
}

object Shuffle {
  /** Seeded Fisher-Yates permutation of 0 until n. */
  def perm(n: Int, rng: java.util.SplittableRandom): Seq[Int] = {
    val a = (0 until n).toArray
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toSeq
  }
}
