package graft.ops

import java.util.concurrent.{Callable, Executors, TimeUnit}

import graft.table.{DataFile, Json, LineageRecord, MetaStore}
import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

final case class CompactResult(
    snapshotId: Long,
    runId: String,
    filesBefore: Int,
    filesAfter: Int,
    binsRewritten: Int,
    binsSkippedByCheckpoint: Int,
    rowsRewritten: Long)

/**
 * Bin-packing small-file compaction.
 *
 * Plan: first-fit-decreasing over files below `smallFileFrac * targetBytes`
 * (the driver-side analog of the reference's keyClusters row->cluster
 * assignment, cursor/src/main/java/cursors/Clusters.kt:106-117, re-aimed at
 * files->bins per SURVEY.md §7.2). Execute: each bin is an independent,
 * shuffle-free `read(binFiles).coalesce(1).write` job — bins run concurrently
 * on the Spark scheduler and commit per-bin checkpoint markers, so a killed
 * run resumes by skipping completed bins (north_rule: resumable from
 * checkpoint). At cluster scale each bin touches only its own files: no
 * global shuffle, wall-clock scales with executor count.
 */
object Compact {

  /** One shuffle job for all bins: hash-repartition on the bin id, write
   * partitionBy(bin), single stats pass over the whole output dir. */
  private def runSingleJob(spark: SparkSession, store: MetaStore, snapId: Long,
      entries: Seq[DataFile], kept: Seq[DataFile], singletons: Seq[Seq[DataFile]],
      toRewrite: Seq[Seq[DataFile]], outDir: String, runId: String): CompactResult = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    // closure-captured map, so the per-row path is one decode + one hash
    // lookup — no broadcast (Broadcast.value is a synchronized lookup;
    // per-row it serializes the stage on one lock). Keys are the manifests'
    // DECODED filesystem paths; input_file_name() returns a URI-ENCODED
    // uri, so the probe must decode or files under partition dirs with
    // encodable characters would all miss into the -1 bin.
    val binOf: Map[String, Int] = toRewrite.zipWithIndex
      .flatMap { case (bin, i) => bin.map(f => f.path -> i) }.toMap
    val norm = udf((p: String) =>
      binOf.getOrElse(graft.table.MetaStore.decodePath(p), -1))
    // input_file_name() needs a SINGLE-source plan: with live deletes or
    // schema-evolution eras the read is a union of era groups, so fall back
    // to per-bin reads with literal tags (O(bins) scan nodes — acceptable
    // for the transitional mixed state; the plain path stays one scan)
    val plainLayout = store.deleteEntries(snapId).isEmpty &&
      Evolve.evolutions(store).isEmpty
    val tagged =
      if (plainLayout)
        Evolve.readFiles(spark, store, toRewrite.flatten, Nil)
          .withColumn("_bin", norm(input_file_name()))
      else
        toRewrite.zipWithIndex.map { case (bin, i) =>
          Deletes.readFiles(spark, store, snapId, bin)
            .withColumn("_bin", lit(i))
        }.reduce(_.unionByName(_))
    // partitioned tables: recompute the hidden-partition columns so each
    // bin's output lands under its tuple's path segments (bins are
    // tuple-pure by construction, so this fans out to ONE file per bin)
    val pfields = store.partitionSpec.map(_.fields).getOrElse(Nil)
    val pnames = pfields.map(graft.table.Partitioning.ColPrefix + _.name)
    val withP =
      if (pfields.isEmpty) tagged
      else tagged.select(tagged.columns.map(col) ++
        pfields.map(f => f.expr.as(graft.table.Partitioning.ColPrefix + f.name)): _*)
    withP
      .repartition(toRewrite.size, col("_bin"))
      .write.mode("overwrite").partitionBy("_bin" +: pnames: _*).parquet(outDir)
    val newEntries = store.collectStats(spark, outDir)
    val wallMs = (System.nanoTime() - t0) / 1000000
    store.appendLineage(newEntries.zipWithIndex.map { case (e, p) =>
      LineageRecord(runId, snapId, "compact", "single-job", p, e.rows,
        e.sizeBytes, wallMs, System.currentTimeMillis(), "done")
    })
    val filesAfter = entries.size - toRewrite.map(_.size).sum + newEntries.size
    val newSnap = store.commitDelta("compact", newEntries,
      removedPaths = toRewrite.flatten.map(_.path).toSet,
      // bins were read delete-aware against snapId; an interleaved commit
      // (e.g. an equality delete this rewrite didn't apply) fails the
      // commit — caller re-plans, per the rewrite doctrine
      expectedParent = Some(snapId),
      summary = Map(
        "runId" -> runId, "mode" -> "single-job",
        "binsRewritten" -> toRewrite.size.toString,
        "filesBefore" -> entries.size.toString,
        "filesAfter" -> filesAfter.toString))
    CompactResult(newSnap, runId, entries.size, filesAfter,
      toRewrite.size, 0, newEntries.map(_.rows).sum)
  }

  /** First-fit-decreasing bin packing by file size. */
  def binPackFFD(files: Seq[DataFile], targetBytes: Long): Seq[Seq[DataFile]] = {
    val bins = scala.collection.mutable.ArrayBuffer[(scala.collection.mutable.ArrayBuffer[DataFile], Long)]()
    files.sortBy(f => (-f.sizeBytes, f.path)).foreach { f =>
      bins.indexWhere(_._2 + f.sizeBytes <= targetBytes) match {
        case -1 =>
          bins += ((scala.collection.mutable.ArrayBuffer(f), f.sizeBytes))
        case i =>
          bins(i)._1 += f
          bins(i) = (bins(i)._1, bins(i)._2 + f.sizeBytes)
      }
    }
    bins.map(_._1.toSeq).toSeq
  }

  /**
   * @param singleJob true = execute ALL bins in one shuffle job
   *   (read candidates -> map file->bin via broadcast -> repartition(bin) ->
   *   write partitionBy(bin)) + one stats pass. Right when bins are small
   *   and numerous (driver job-submission overhead would dominate the
   *   per-bin mode). false = independent per-bin jobs with checkpoint
   *   markers — shuffle-free and resumable, right when bins are large.
   */
  /** @param scope optional file-level filter (Iceberg RewriteDataFiles
   *   semantics): only files that MAY contain rows matching these
   *   predicates — by partition tuple, then zonemap stats — are compaction
   *   candidates; everything else is carried untouched. At 10^5–10^6 files
   *   this is how maintenance runs inside a window: one partition (or one
   *   key range) at a time, each pass O(scope), never O(table). Whole
   *   files are rewritten (no row filtering), so scope never changes
   *   contents — it only narrows which files are eligible to merge. */
  def run(spark: SparkSession, store: MetaStore,
          targetBytes: Long = 128L * 1024 * 1024,
          smallFileFrac: Double = 0.75,
          runId: String = s"compact-${System.currentTimeMillis()}",
          maxConcurrentBins: Int = 4,
          singleJob: Boolean = false,
          scope: Seq[graft.table.Pred] = Nil): CompactResult = {
    val snapId = store.currentSnapshotId.getOrElse(sys.error("compact: empty table"))
    val entries = store.entries(snapId)
    val threshold = (targetBytes * smallFileFrac).toLong
    val inScope: graft.table.DataFile => Boolean =
      if (scope.isEmpty) _ => true
      else {
        val paths = graft.table.Pruning.tupleZone(store.partitionSpec, entries, scope)
          ._2.iterator.map(_.path).toSet
        f => paths.contains(f.path)
      }
    val (candidates, kept) =
      entries.partition(e => e.sizeBytes < threshold && inScope(e))
    // bins never mix partition tuples: a merged file must stay single-tuple
    // or its path segment would lie to the pruner (files without a tuple
    // group under the empty tuple and merge freely). Sorted group order
    // keeps bin indices deterministic for checkpoint identity.
    val bins = candidates.groupBy(_.partition).toSeq
      .sortBy(_._1.toSeq.sorted.mkString(","))
      .flatMap { case (_, fs) => binPackFFD(fs, targetBytes) }
    // single-file bins gain nothing from a rewrite — keep them in place
    val (toRewrite, singletons) = bins.partition(_.size >= 2)
    val outDir = store.newDataDir(s"compact")

    if (singleJob && toRewrite.nonEmpty) {
      return runSingleJob(spark, store, snapId, entries, kept, singletons,
        toRewrite, outDir, runId)
    }

    var skipped = 0
    // lineage rows are buffered and appended ONCE after the pool drains:
    // one lineage file per op, not one per bin
    val lineageBuf = new java.util.concurrent.ConcurrentLinkedQueue[LineageRecord]()
    val pool = Executors.newFixedThreadPool(math.max(1, maxConcurrentBins))
    val tasks = toRewrite.zipWithIndex.map { case (bin, i) =>
      new Callable[Seq[DataFile]] {
        override def call(): Seq[DataFile] = {
          // checkpoint identity = bin CONTENT + base snapshot, not just
          // index: a rerun of the same runId against a changed table layout
          // must not resurrect stale results for a bin that now holds
          // different files, and a resume after an interleaved DELETE commit
          // must re-run the bin (the saved output still contains the
          // deleted rows, but its new seq would put it above the delete)
          val contentHash = java.lang.Long.toHexString(
            (snapId + "|" + bin.map(_.path).sorted.mkString("|"))
              .hashCode.toLong & 0xFFFFFFFFL)
          val item = s"bin-$i-$contentHash"
          // same re-verification as Cluster's batched resume: a saved bin
          // whose output files were GC'd between interruption and resume
          // (orphan GC with an aggressive age floor) must re-run, not commit
          // entries pointing at deleted files
          val intact = store.itemResult(runId, item)
            .filter(_ => store.isDone(runId, item))
            .map(s => Json.mapper.readValue[Seq[DataFile]](s))
            .filter(_.forall(e =>
              java.nio.file.Files.exists(java.nio.file.Paths.get(e.path))))
          intact match {
            case Some(saved) =>
              Compact.synchronized { skipped += 1 }
              saved
            case _ =>
              val t0 = System.nanoTime()
              // re-home the merged file under its (single) tuple's path
              // segments so collectStats re-parses the tuple
              val pseg = graft.table.Partitioning.pathOf(bin.head.partition)
              val binDir =
                if (pseg.isEmpty) s"$outDir/bin=$i" else s"$outDir/bin=$i/$pseg"
              Deletes.readFiles(spark, store, snapId, bin)
                .coalesce(1)
                .write.mode("overwrite").parquet(binDir)
              val newEntries = store.collectStats(spark, binDir)
              store.saveItemResult(runId, item, Json.write(newEntries))
              store.markDone(runId, item)
              val wallMs = (System.nanoTime() - t0) / 1000000
              newEntries.zipWithIndex.foreach { case (e, p) =>
                lineageBuf.add(LineageRecord(runId, snapId, "compact", item, p,
                  e.rows, e.sizeBytes, wallMs, System.currentTimeMillis(), "done"))
              }
              newEntries
          }
        }
      }
    }
    val newEntries =
      try pool.invokeAll(tasks.asJava).asScala.flatMap(_.get()).toSeq
      finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.HOURS) }
    store.appendLineage(lineageBuf.asScala.toSeq)

    val filesAfter = entries.size - toRewrite.map(_.size).sum + newEntries.size
    val newSnap = store.commitDelta("compact", newEntries,
      removedPaths = toRewrite.flatten.map(_.path).toSet,
      // checkpoint keys on the base snapshot: a resume re-plans against the
      // new current first, so at commit time the base must still BE current
      expectedParent = Some(snapId),
      summary = Map(
        "runId" -> runId,
        "binsRewritten" -> toRewrite.size.toString,
        "filesBefore" -> entries.size.toString,
        "filesAfter" -> filesAfter.toString))
    store.dropCheckpoints(runId)
    CompactResult(newSnap, runId, entries.size, filesAfter,
      toRewrite.size, skipped, newEntries.map(_.rows).sum)
  }
}
