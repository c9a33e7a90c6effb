package graft.ops

import graft.keys.Keys
import graft.table.{LineageRecord, MetaStore}
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{col, lit, udf}

sealed trait CurveKind
case object ZOrderCurve extends CurveKind
case object HilbertCurve extends CurveKind

final case class ClusterResult(
    snapshotId: Long,
    runId: String,
    filesBefore: Int,
    filesAfter: Int,
    rows: Long,
    curve: String)

/** Result of an [[Cluster.incremental]] pass. `filesKept` files were carried
 * into the new snapshot untouched (manifest reuse, zero data IO). */
final case class IncClusterResult(
    snapshotId: Long,
    runId: String,
    groupsRewritten: Int,
    filesRewritten: Int,
    filesKept: Int,
    filesAdded: Int,
    rowsRewritten: Long,
    curve: String)

/**
 * Full-table cluster rewrite on a space-filling-curve key over
 * (clip_id, sr_hz, dur_ms) — the engine's re-expression of the reference's
 * `ordered` cluster sort (cursor/src/main/java/cursors/Cursor.kt:167-180) and
 * its aspired Hilbert ordering (cursor/src/main/java/cursors/context/
 * Ordering.kt:105, README.md:155), executed Spark-first:
 *
 *   scan -> withColumn(curve key) -> repartitionByRange(nFiles, key)
 *        -> sortWithinPartitions(key) -> drop(key) -> parquet write
 *
 * `repartitionByRange` samples the key distribution, so the 20% dur_ms=100
 * hot rows (FIXTURES.md skew injection) spread across range bounds by their
 * interleaved clip_id hash bits — the curve key itself acts as the salt for
 * the hot dims (hash bits of clip_id are interleaved bit-for-bit with
 * sr_hz/dur_ms bits), avoiding a single fat range partition.
 */
object Cluster {

  def keyColumn(curve: CurveKind, hashCols: Seq[Column], rangeCols: Seq[Column],
                bitsPerDim: Int): Column = curve match {
    case ZOrderCurve  => Keys.zorderKey(bitsPerDim, hashCols, rangeCols)
    case HilbertCurve => Keys.hilbertKey(bitsPerDim, hashCols, rangeCols)
  }

  /**
   * Min-max scale a range dim to fill its full bit width. Without this the
   * curve degenerates: dur_ms < 2^10 leaves the top 11 of 21 bits zero, so
   * interleaved hash bits dominate the key and locality dies. Min/max come
   * from manifest stats (free — no extra pass), the same role the
   * reference's NormalizedRange metadata plays for min-max scaling
   * (cursor/src/main/java/cursors/context/NormalizedRange.kt:11-18,
   * Cursor.kt:183-254).
   */
  def scaledDim(c: Column, minV: Long, maxV: Long, bits: Int): Column = {
    val span = math.max(1L, maxV - minV)
    val maxOut = (1L << bits) - 1
    // scale through double: (v-min)*maxOut in long arithmetic overflows
    // whenever span * 2^bits exceeds 2^63 (a 63-bit single-dim key, or any
    // wide-span dim like epoch micros). The key is a LAYOUT value — only
    // monotonicity matters, and double scaling is monotone; worst-case
    // rounding past 2^53 perturbs bucket boundaries, never correctness.
    ((c.cast("long") - minV).cast("double") * maxOut / span).cast("long")
  }

  /** Range cols scaled using per-table min/max from the manifest entries. */
  def scaledRangeCols(entries: Seq[graft.table.DataFile], rangeCols: Seq[String],
                      bits: Int): Seq[Column] =
    rangeCols.map { c =>
      val mins = entries.flatMap(_.statLong(c, lower = true))
      val maxs = entries.flatMap(_.statLong(c, lower = false))
      if (mins.isEmpty || maxs.isEmpty) col(c).cast("long")
      else scaledDim(col(c), mins.min, maxs.max, bits)
    }

  /**
   * @param batches >1 splits the rewrite into that many contiguous key-range
   *                sub-jobs, each independently checkpointed — the resume
   *                granularity for very large tables (an interrupted run
   *                re-plans from the PERSISTED range bounds and skips
   *                completed batches, so output is identical).
   *
   *                Cost trade-off, deliberate: each batch filters the FULL
   *                input scan by its key range (B batches = B scans of the
   *                column-pruned key inputs + payload of matching rows).
   *                File-level pruning cannot help here — the curve key
   *                interleaves hash bits, so before clustering every input
   *                file spans nearly the whole key space. The alternative
   *                (batching by input FILES) would resume without re-reading
   *                but loses global range layout: file batches overlap in
   *                key space, so the output would not be one contiguous
   *                range per file. We keep global layout and pay the
   *                re-scan, which at 100 TB is bounded by B * scan cost and
   *                amortized by choosing B ~ cluster-failure MTBF, not small.
   */
  /** Write `keyed` (a frame carrying the curve key as `_ckey`) under
   * `outDir` as ~`nFiles` files, each covering one CONTIGUOUS key range, in
   * exactly one shuffle. Range boundaries come from a COLUMN-PRUNED quantile
   * pass (reads only the key's input columns — parquet pruning skips the
   * audio payload), instead of repartitionByRange's sampling job which
   * re-reads full rows. Shared by the full rewrite ([[run]]) and the
   * O(churn) incremental rewrite ([[incremental]]). */
  private def writeCurveFiles(spark: SparkSession, store: MetaStore,
                              keyed: org.apache.spark.sql.DataFrame,
                              nFiles: Int, outDir: String): Seq[graft.table.DataFile] = {
    val probs = (1 until nFiles).map(_.toDouble / nFiles).toArray
    val bounds: Array[Long] =
      if (nFiles <= 1) Array.empty
      else keyed.select("_ckey").stat
        .approxQuantile("_ckey", probs, 0.001)
        .map(_.toLong).distinct.sorted
    val n = bounds.length + 1
    // Collision-free reducer assignment: pick one int token per key range
    // such that Spark's HashPartitioning (murmur3 seed 42, pmod n) sends
    // each token to a DISTINCT reducer. A plain 0..n-1 id would hash-
    // collide for ~1/e of ranges, giving some reducers 2-3 file groups
    // and others none — a 2-3x write-stage skew tail (observed).
    val tokens = new Array[Int](n)
    val used = new Array[Boolean](n)
    var cand = 0
    var i = 0
    while (i < n) {
      var t = cand
      def bucket(v: Int): Int = {
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashInt(v, 42)
        ((h % n) + n) % n
      }
      while (used(bucket(t))) t += 1
      tokens(i) = t
      used(bucket(t)) = true
      cand = t + 1
      i += 1
    }
    // capture the (tiny) bound/token arrays in the closure — do NOT use
    // sparkContext.broadcast here: Broadcast.value goes through a
    // synchronized block-manager lookup, and calling it PER ROW from all
    // task threads serializes the whole map stage on one lock (measured:
    // the stage pinned every core busy-waiting and its wall time was
    // ~constant regardless of parallelism)
    val bArr = bounds
    val tArr = tokens
    val assign = udf((k: Long) => {
      val idx0 = java.util.Arrays.binarySearch(bArr, k)
      val idx = if (idx0 >= 0) idx0 + 1 else -(idx0 + 1)
      tArr(idx)
    })
    // sort leads with _file so the dynamic-partition writer's required
    // ordering is satisfied (no extra non-stable sort injected); one
    // token per partition makes it equivalent to sorting by _ckey alone.
    // Partitioned tables: recompute the hidden-partition columns and
    // fan each key range out per tuple (Iceberg fanout writer) — the
    // rewrite preserves exact partition pruning, and within each tuple
    // every file still covers one contiguous key range.
    val pfields = store.partitionSpec.map(_.fields).getOrElse(Nil)
    val pnames = pfields.map(graft.table.Partitioning.ColPrefix + _.name)
    val assigned = keyed.withColumn("_file", assign(col("_ckey")))
    val withP =
      if (pfields.isEmpty) assigned
      else assigned.select(assigned.columns.map(col) ++ pfields.map(f =>
        f.expr.as(graft.table.Partitioning.ColPrefix + f.name)): _*)
    withP
      .repartition(n, col("_file"))
      .sortWithinPartitions(("_file" +: pnames :+ "_ckey").map(col): _*)
      .drop("_ckey")
      .write.mode("overwrite").partitionBy("_file" +: pnames: _*).parquet(outDir)
    store.collectStats(spark, outDir)
  }

  def run(spark: SparkSession, store: MetaStore,
          curve: CurveKind = ZOrderCurve,
          targetBytes: Long = 128L * 1024 * 1024,
          runId: String = s"cluster-${System.currentTimeMillis()}",
          hashCols: Seq[String] = Seq("clip_id"),
          rangeCols: Seq[String] = Seq("sr_hz", "dur_ms"),
          batches: Int = 1): ClusterResult = {
    val snapId = store.currentSnapshotId.getOrElse(sys.error("cluster: empty table"))
    val entries = store.entries(snapId)
    val totalBytes = entries.map(_.sizeBytes).sum
    val nFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    // cap at 31 bits/dim: 2^31 buckets per dim is far beyond any file-count
    // resolution need, and it keeps single-dim keys out of the long-overflow
    // regime scaledDim's double path would otherwise round through
    val bitsPerDim = math.min(31, 63 / (hashCols.size + rangeCols.size))

    val t0 = System.nanoTime()
    val df = store.scan(spark, snapId)
    val key = keyColumn(curve, hashCols.map(col),
      scaledRangeCols(entries, rangeCols, bitsPerDim), bitsPerDim)
    val outDir = store.newDataDir("cluster")
    val keyed = df.withColumn("_ckey", key)

    val newEntries: Seq[graft.table.DataFile] =
      if (batches <= 1) {
        writeCurveFiles(spark, store, keyed, nFiles, outDir)
      } else {
        // checkpoint identity = base snapshot + input file set, same doctrine
        // as Compact's bin contentHash: a resume whose base moved (an
        // interleaved delete/append committed between interruption and
        // re-run) must re-plan and re-run every batch — reusing outputs
        // written from the OLD base would resurrect deleted rows / drop
        // interleaved appends under the batch's fresh (higher) seq
        val planHash = java.lang.Long.toHexString(
          (snapId + "|" + entries.map(_.path).sorted.mkString("|"))
            .hashCode.toLong & 0xFFFFFFFFL)
        // persist batch bounds once; resumes of the SAME plan reuse them
        val bounds: Array[Double] = store.itemResult(runId, s"bounds-$planHash") match {
          case Some(saved) => saved.split(",").map(_.toDouble)
          case None =>
            val probs = (1 until batches).map(_.toDouble / batches).toArray
            val b = keyed.stat.approxQuantile("_ckey", probs, 0.001)
            store.saveItemResult(runId, s"bounds-$planHash", b.mkString(","))
            b
        }
        val filesPerBatch = math.max(1, nFiles / batches)
        (0 until batches).flatMap { b =>
          val item = s"batch-$b-$planHash"
          // trust a completed batch's saved manifest ONLY if its files are
          // still on disk: batch outputs are unreachable from any snapshot
          // until the final commit, so a RemoveOrphans run between
          // interruption and resume may have GC'd them (its checkpoint-root
          // protection can itself have been bypassed by an aggressive
          // minAgeMs) — committing the stale entries would corrupt the
          // snapshot. Vanished batches simply re-run.
          val intact = store.itemResult(runId, item)
            .filter(_ => store.isDone(runId, item))
            .map(s => graft.table.Json.mapper
              .readValue[Seq[graft.table.DataFile]](s))
            .filter(_.forall(e =>
              java.nio.file.Files.exists(java.nio.file.Paths.get(e.path))))
          intact match {
            case Some(saved) => saved
            case _ =>
              val lo = if (b == 0) None else Some(bounds(b - 1))
              val hi = if (b == batches - 1) None else Some(bounds(b))
              val part = keyed
                .filter(lo.map(col("_ckey") >= _).getOrElse(lit(true)) &&
                  hi.map(col("_ckey") < _).getOrElse(lit(true)))
              val batchDir = s"$outDir/batch=$b"
              val pfields = store.partitionSpec.map(_.fields).getOrElse(Nil)
              val pnames = pfields.map(graft.table.Partitioning.ColPrefix + _.name)
              val ranged = part.repartitionByRange(filesPerBatch, col("_ckey"))
              val withP =
                if (pfields.isEmpty) ranged
                else ranged.select(ranged.columns.map(col) ++ pfields.map(f =>
                  f.expr.as(graft.table.Partitioning.ColPrefix + f.name)): _*)
              val sorted = withP
                .sortWithinPartitions((pnames :+ "_ckey").map(col): _*)
                .drop("_ckey")
              (if (pnames.isEmpty) sorted.write
               else sorted.write.partitionBy(pnames: _*))
                .mode("overwrite").parquet(batchDir)
              val es = store.collectStats(spark, batchDir)
              store.saveItemResult(runId, item, graft.table.Json.write(es))
              store.markDone(runId, item)
              es
          }
        }
      }

    val wallMs = (System.nanoTime() - t0) / 1000000
    store.appendLineage(newEntries.zipWithIndex.map { case (e, p) =>
      LineageRecord(runId, snapId, s"cluster-$curve", e.path, p, e.rows, e.sizeBytes,
        wallMs, System.currentTimeMillis(), "done")
    }.toSeq)
    // full rewrite planned against snapId (delete-aware read, born-clean
    // seqs): an interleaved commit — especially an equality delete, whose
    // keys this rewrite did NOT apply — must fail the commit, not be
    // silently outrun by the higher-seq output files
    val newSnap = store.commit("cluster", newEntries, Map(
      "runId" -> runId, "curve" -> curve.toString,
      "batches" -> batches.toString,
      "filesBefore" -> entries.size.toString),
      expectedParent = Some(snapId))
    store.dropCheckpoints(runId)
    ClusterResult(newSnap, runId, entries.size, newEntries.size,
      newEntries.map(_.rows).sum, curve.toString)
  }

  /** Chain-overlap groups of the snapshot's files on `column`'s zonemap
   * intervals, per partition tuple, from MANIFEST METADATA alone: sort each
   * tuple's [min,max] intervals by lower bound and sweep, merging while the
   * next interval starts at or below the running max upper bound. A
   * singleton group is a file already disjoint from every other file in its
   * tuple — a probe on `column` opens it alone, so a rewrite would buy
   * nothing. Files missing stats on `column` can never be pruned, so their
   * whole tuple conservatively collapses to one group. Deterministic order
   * (tuple, then lower bound) so group indices are stable for checkpoint
   * identity across a resume. */
  def overlapGroups(entries: Seq[graft.table.DataFile],
                    column: String): Seq[Seq[graft.table.DataFile]] =
    entries.groupBy(_.partition).toSeq
      .sortBy(_._1.toSeq.sorted.mkString(","))
      .flatMap { case (_, fs) =>
        val withStats = fs.flatMap { e =>
          for (lo <- e.statLong(column, lower = true);
               hi <- e.statLong(column, lower = false)) yield (e, lo, hi)
        }
        if (withStats.size < fs.size) Seq(fs.sortBy(_.path))
        else {
          val sorted = withStats.sortBy(t => (t._2, t._3, t._1.path))
          val out = Seq.newBuilder[Seq[graft.table.DataFile]]
          var cur = List.empty[graft.table.DataFile]
          var curHi = Long.MinValue
          sorted.foreach { case (e, lo, hi) =>
            if (cur.nonEmpty && lo <= curHi) { cur = e :: cur; curHi = math.max(curHi, hi) }
            else {
              if (cur.nonEmpty) out += cur.reverse
              cur = List(e); curHi = hi
            }
          }
          if (cur.nonEmpty) out += cur.reverse
          out.result()
        }
      }

  /**
   * O(churn) incremental cluster: rewrite ONLY the file groups whose
   * zonemap intervals on the leading range column interleave, carrying
   * every already-disjoint file into the new snapshot untouched (manifest
   * reuse via [[MetaStore.commitDelta]] — zero data IO for the kept set).
   *
   * At 10^12 rows a full-table recluster is never affordable; appends decay
   * the layout only LOCALLY (the new files' key ranges overlap a handful of
   * neighbors), so maintenance must cost O(decayed region). Iceberg's
   * RewriteDataFiles exposes the same idea as filtered rewrites; here the
   * scope is derived automatically from the stats the manifests already
   * carry — the same intervals [[graft.table.Layout.overlapDepth]] measures,
   * so the trigger metric and the rewrite scope agree by construction.
   *
   * Each group is rewritten delete-aware ([[Deletes.readFiles]]) with
   * group-local dimension scaling (finer curve resolution than table-global
   * bounds; the key orders rows only WITHIN the group's rewrite, so local
   * scaling is sound). Output files get fresh (born-clean) sequence
   * numbers, exactly like [[Compact]]: live equality deletes keep masking
   * the untouched files and never re-mask the rewritten output. Per-group
   * checkpointing (content-hash keyed on base snapshot + member paths, with
   * on-disk re-verification) makes a multi-group pass resumable.
   */
  def incremental(spark: SparkSession, store: MetaStore,
                  curve: CurveKind = ZOrderCurve,
                  targetBytes: Long = 128L * 1024 * 1024,
                  runId: String = s"cluster-inc-${System.currentTimeMillis()}",
                  hashCols: Seq[String] = Seq("clip_id"),
                  rangeCols: Seq[String] = Seq("sr_hz", "dur_ms")): IncClusterResult = {
    val snapId = store.currentSnapshotId.getOrElse(sys.error("cluster: empty table"))
    val entries = store.entries(snapId)
    val lead = rangeCols.headOption.getOrElse(
      sys.error("cluster incremental: need at least one range column"))
    val toRewrite = overlapGroups(entries, lead).filter(_.size >= 2)
    if (toRewrite.isEmpty)
      return IncClusterResult(snapId, runId, 0, 0, entries.size, 0, 0L, curve.toString)
    val bitsPerDim = math.min(31, 63 / (hashCols.size + rangeCols.size))
    val outDir = store.newDataDir("cluster-inc")
    val t0 = System.nanoTime()
    val lineageBuf = Seq.newBuilder[LineageRecord]
    val added = toRewrite.zipWithIndex.flatMap { case (group, gi) =>
      val contentHash = java.lang.Long.toHexString(
        (snapId + "|" + group.map(_.path).sorted.mkString("|"))
          .hashCode.toLong & 0xFFFFFFFFL)
      val item = s"group-$gi-$contentHash"
      // same saved-output re-verification as Compact's bins: outputs are
      // unreachable from any snapshot until the final commit, so an orphan
      // GC between interruption and resume may have removed them
      val intact = store.itemResult(runId, item)
        .filter(_ => store.isDone(runId, item))
        .map(s => graft.table.Json.mapper.readValue[Seq[graft.table.DataFile]](s))
        .filter(_.forall(e =>
          java.nio.file.Files.exists(java.nio.file.Paths.get(e.path))))
      val es = intact.getOrElse {
        val df = Deletes.readFiles(spark, store, snapId, group)
        val key = keyColumn(curve, hashCols.map(col),
          scaledRangeCols(group, rangeCols, bitsPerDim), bitsPerDim)
        val nFiles = math.max(1, math.ceil(
          group.map(_.sizeBytes).sum.toDouble / targetBytes).toInt)
        val res = writeCurveFiles(spark, store, df.withColumn("_ckey", key),
          nFiles, s"$outDir/group=$gi")
        store.saveItemResult(runId, item, graft.table.Json.write(res))
        store.markDone(runId, item)
        res
      }
      lineageBuf ++= es.zipWithIndex.map { case (e, p) =>
        LineageRecord(runId, snapId, s"cluster-inc-$curve", item, p, e.rows,
          e.sizeBytes, (System.nanoTime() - t0) / 1000000, System.currentTimeMillis(), "done")
      }
      es
    }
    store.appendLineage(lineageBuf.result())
    val rewrittenPaths = toRewrite.flatten.map(_.path).toSet
    // planned against snapId delete-aware: an interleaved commit (above all
    // an equality delete whose keys this rewrite did NOT apply) must fail
    // the CAS, not be outrun by the output files' higher seq
    val newSnap = store.commitDelta("cluster-incremental", added,
      removedPaths = rewrittenPaths,
      expectedParent = Some(snapId),
      summary = Map(
        "runId" -> runId, "curve" -> curve.toString,
        "groupsRewritten" -> toRewrite.size.toString,
        "filesRewritten" -> rewrittenPaths.size.toString,
        "filesKept" -> (entries.size - rewrittenPaths.size).toString))
    store.dropCheckpoints(runId)
    IncClusterResult(newSnap, runId, toRewrite.size, rewrittenPaths.size,
      entries.size - rewrittenPaths.size, added.size,
      added.map(_.rows).sum, curve.toString)
  }
}
