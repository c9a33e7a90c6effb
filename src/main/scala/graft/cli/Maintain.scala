package graft.cli

import graft.ops._
import graft.synth.ClipSynth
import graft.table.MetaStore
import graft.verify.ScanEquality
import org.apache.spark.sql.SparkSession

/**
 * spark-submit entry point for the maintenance loop (north_rule: "run via
 * spark-submit on a multi-executor cluster"). In cluster mode the master and
 * resource flags come from spark-submit; this main only declares the job.
 *
 * Usage:
 *   spark-submit --class graft.cli.Maintain columnarspark.jar <tableDir> <op> [args]
 *   ops:
 *     synth <nClips> <files>        append a deterministic synthetic batch
 *     compact [targetMB]            bin-pack small files
 *     cluster [zorder|hilbert] [targetMB] [batches]
 *                                   (no curve given: the declared sort
 *                                   order picks curve + key columns)
 *     cluster-inc [targetMB]        O(churn) incremental recluster of the
 *                                   interleaved overlap groups only
 *     sort-order [curve range,cols [hash,cols]]
 *                                   declare (or show) the table sort order
 *     merge-synth <lo> <hi>         upsert resynthesized clips lo..hi
 *     expire [keepLast] [minAgeH]   snapshot expiry + GC (age floor in hours)
 *     verify <preSnap> <postSnap>   scan-equality gate
 *     lineage                       dump the metrics side-table
 *     snapshots                     list the snapshot log
 *     tag <name> [snapId] [maxAgeMs] pin a snapshot as a named GC root
 *                                   (maxAgeMs > 0: ref retention — expiry
 *                                   drops the tag once it ages out)
 *     tags                          list named refs
 *     refs                          tags AND branches as one metadata table
 *     rollback <snapId|tagName>     metadata-only rollback
 *     changes <from> <to>           row-level CDC between snapshots
 *     feed <sinceSnap>              poll appended rows since a cursor
 *     evolve <col> <type> <defaultSql>  add a column with initial default
 *     evolve-rename <from> <to>     rename a column, metadata-only
 *     evolve-drop <col>             drop a column, metadata-only
 *     evolve-widen <col> <type>     widen a column type (int->long etc), metadata-only
 *     partitions                    per-tuple file/row/byte rollup (manifest-only)
 *     transcode [codec] [rateHz]    canonicalize payloads (default pcm16le 16000)
 *     orphans [minAgeH]             delete unreachable data files (crashed writes)
 *     publish <snapId|tag> <dest>   export a snapshot as standalone parquet
 *     materialize-deletes           pay down merge-on-read debt: promote
 *                                   provably-clean files metadata-only,
 *                                   rewrite the rest, retire delete files
 *     delete-where-pos <col> <op> <v>  predicate delete, residue as POSITIONS
 *     compact-pos-deletes           merge position-delete files into one
 *                                   deletion-vector file, dropping
 *                                   dead-path mask rows
 *     wap-stage <name> <n> [fromId] stage a batch outside the snapshot log
 *     wap-audit <name>              constraint-audit the staged batch only
 *     wap-publish <name> [force]    atomic O(batch) publish (audit-gated)
 *     wap-discard <name>            drop record + staged files
 *     wap-list                      pending staged batches
 *     compact-blooms                fold the bloom side-table to live files
 *     compact-lineage               fold the per-batch lineage shards
 */
object Maintain {

  /** `<col> <op:eq|lt|gteq> <value>` shared by the delete-where ops. */
  private def parsePred(rest: Array[String]): graft.table.Pred = rest(1) match {
    case "eq" => graft.table.Pred.EqualTo(rest(0), rest(2))
    case "lt" => graft.table.Pred.Lt(rest(0), rest(2).toLong)
    case "gteq" => graft.table.Pred.GtEq(rest(0), rest(2).toLong)
    case o => sys.error(s"delete-where: unknown op $o (eq|lt|gteq)")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Maintain <tableDir> <op> [args]")
    val tableDir = args(0)
    val op = args(1)
    val rest = args.drop(2)

    val spark = SparkSession.builder()
      .appName(s"graft-maintain-$op")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // a branch log dir must be opened THROUGH its parent (Branches.store):
    // opening it as a plain table would root new data files inside the
    // branch dir, where branch-drop deletes them — even after a fast-forward
    // committed them to main
    val store = {
      val p = java.nio.file.Paths.get(tableDir).toAbsolutePath.normalize
      val parent = Option(p.getParent).filter(_.getFileName != null)
      if (parent.exists(_.getFileName.toString == "branches") &&
          parent.map(_.getParent).exists(gp =>
            java.nio.file.Files.exists(gp.resolve("meta").resolve("branchrefs")
              .resolve(p.getFileName.toString + ".json"))))
        Branches.store(
          MetaStore.forClips(parent.get.getParent.toString),
          p.getFileName.toString)
      else MetaStore.forClips(tableDir)
    }

    op match {
      case "synth" =>
        val n = rest(0).toLong
        val files = rest(1).toInt
        val id = Append.run(spark, store, ClipSynth.dataset(spark, n, files).toDF())
        println(s"committed snapshot $id: $n clips in $files files")
      case "compact" =>
        // compact [mb] [col eq value]  — optional scope: only files that may
        // contain matching rows (partition tuple + zonemap) are candidates
        val mb = rest.headOption.filter(_.forall(_.isDigit))
          .map(_.toLong).getOrElse(128L)
        val scopeArgs = rest.dropWhile(_.forall(_.isDigit)).toSeq
        val scope = scopeArgs match {
          case Seq(c, "eq", v) => Seq(graft.table.Pred.EqualTo(c, v): graft.table.Pred)
          case Seq() => Nil
          case other => sys.error(s"bad compact scope: ${other.mkString(" ")}")
        }
        val r = Compact.run(spark, store, targetBytes = mb * 1024 * 1024,
          scope = scope)
        println(s"snapshot ${r.snapshotId}: ${r.filesBefore} -> ${r.filesAfter} files" +
          s" (${r.binsRewritten} bins, ${r.binsSkippedByCheckpoint} resumed" +
          (if (scope.nonEmpty) s", scoped ${scopeArgs.mkString(" ")}" else "") + ")")
      case "cluster" =>
        // the curve name is optional per the usage header — 'cluster 256'
        // must honor the 256, not silently drop it to the positional
        // default. With no explicit curve, the table's DECLARED sort order
        // (sort-order op) picks curve AND key columns.
        val declared = store.sortOrder
        val (curve, cols, numArgs) = rest.headOption match {
          case Some("hilbert") => (HilbertCurve, None, rest.drop(1))
          case Some("zorder")  => (ZOrderCurve, None, rest.drop(1))
          case _ =>
            (declared.map(o => if (o.curve == "hilbert") HilbertCurve
              else ZOrderCurve).getOrElse(ZOrderCurve),
              declared.map(o => (o.hashCols, o.rangeCols)), rest)
        }
        val mb = numArgs.lift(0).map(_.toLong).getOrElse(128L)
        val batches = numArgs.lift(1).map(_.toInt).getOrElse(1)
        val r = cols match {
          case Some((h, rc)) =>
            Cluster.run(spark, store, curve, targetBytes = mb * 1024 * 1024,
              batches = batches, hashCols = h, rangeCols = rc)
          case None =>
            Cluster.run(spark, store, curve, targetBytes = mb * 1024 * 1024,
              batches = batches)
        }
        println(s"snapshot ${r.snapshotId}: clustered ${r.rows} rows into ${r.filesAfter} files ($curve)")
      case "cluster-inc" =>
        val declared = store.sortOrder
        val mb = rest.lift(0).map(_.toLong).getOrElse(128L)
        val r = Cluster.incremental(spark, store,
          declared.map(o => if (o.curve == "hilbert") HilbertCurve
            else ZOrderCurve: CurveKind).getOrElse(ZOrderCurve),
          targetBytes = mb * 1024 * 1024,
          hashCols = declared.map(_.hashCols).getOrElse(Seq("clip_id")),
          rangeCols = declared.map(_.rangeCols).getOrElse(Seq("sr_hz", "dur_ms")))
        println(s"snapshot ${r.snapshotId}: rewrote ${r.groupsRewritten} overlap groups " +
          s"(${r.filesRewritten} files -> ${r.filesAdded}), kept ${r.filesKept} untouched")
      case "sort-order" =>
        rest.toSeq match {
          case Seq() => store.sortOrder match {
            case Some(o) => println(s"${o.curve} hash=${o.hashCols.mkString(",")} " +
              s"range=${o.rangeCols.mkString(",")}")
            case None => println("(none declared)")
          }
          case Seq(curve, rangeCsv) =>
            store.setSortOrder(graft.table.SortOrder(curve, Nil,
              rangeCsv.split(",").toSeq))
            println(s"sort order declared: $curve range=$rangeCsv")
          case Seq(curve, rangeCsv, hashCsv) =>
            store.setSortOrder(graft.table.SortOrder(curve,
              hashCsv.split(",").toSeq, rangeCsv.split(",").toSeq))
            println(s"sort order declared: $curve range=$rangeCsv hash=$hashCsv")
          case other => sys.error(s"usage: sort-order [curve rangeCols,csv [hashCols,csv]]; got $other")
        }
      case "merge-synth" =>
        val lo = rest(0).toLong
        val hi = rest(1).toLong
        val updates = spark.range(lo, hi).map(i => ClipSynth.clip(i)).toDF()
        val r = MergeInto.run(spark, store, updates)
        println(s"snapshot ${r.snapshotId}: touched=${r.filesTouched} untouched=${r.filesUntouched}")
      case "expire" =>
        val keep = rest.headOption.map(_.toInt).getOrElse(2)
        val minAgeMs = rest.lift(1).map(_.toLong * 3600 * 1000).getOrElse(0L)
        val r = ExpireSnapshots.run(store, keepLast = keep, minAgeMs = minAgeMs)
        println(s"expired ${r.expiredSnapshots.size} snapshots, " +
          s"deleted ${r.dataFilesDeleted} data files, ${r.manifestsDeleted} manifests")
      case "snapshots" =>
        store.allSnapshotIds.map(store.snapshot).foreach { s =>
          println(f"${s.id}%6d ${s.operation}%-10s parent=${s.parentId}%-6d " +
            s"ts=${java.time.Instant.ofEpochMilli(s.timestampMs)} " +
            s"files=${s.summary.getOrElse("files", "?")} " +
            s"rows=${s.summary.getOrElse("rows", "?")}")
        }
      case "tag" =>
        val id = Refs.tag(store, rest(0), rest.lift(1).map(_.toLong).getOrElse(-1L),
          rest.lift(2).map(_.toLong).getOrElse(-1L)) // -1: keep existing retention
        println(s"tag ${rest(0)} -> snapshot $id")
      case "tags" =>
        val ret = Refs.retention(store)
        Refs.tags(store).toSeq.sortBy(_._1).foreach { case (n, id) =>
          val suffix = ret.get(n).map { case (c, a) =>
            s" (expires ${java.time.Instant.ofEpochMilli(c + a)})" }.getOrElse("")
          println(s"$n -> $id$suffix")
        }
      case "refs" =>
        Refs.refsTable(spark, store).collect().foreach { r =>
          val age = if (r.getLong(4) >= 0) s" maxAgeMs=${r.getLong(4)}" else ""
          println(s"${r.getString(1)} ${r.getString(0)} -> ${r.getLong(2)}$age")
        }
      case "rollback" =>
        val target = rest(0).toLongOption.getOrElse(Refs.snapshotFor(store, rest(0)))
        val id = Refs.rollback(store, target)
        println(s"rolled back to $target as new snapshot $id")
      case "changes" =>
        Changes.rowChanges(spark, store, rest(0).toLong, rest(1).toLong)
          .groupBy("change_type").count().orderBy("change_type")
          .collect()
          .foreach(r => println(s"${r.getString(0)}: ${r.getLong(1)}"))
      case "feed" =>
        val p = graft.streaming.ChangeFeed.poll(spark, store, rest(0).toLong)
        println(s"appends=${p.appendSnapshots.mkString(",")} " +
          s"rows=${p.df.count()} nextCursor=${p.toInclusive}")
      case "evolve" =>
        val id = Evolve.addColumn(spark, store, rest(0), rest(1), rest(2))
        println(s"snapshot $id: added ${rest(0)} ${rest(1)} default ${rest(2)}")
      case "evolve-rename" =>
        val id = Evolve.renameColumn(spark, store, rest(0), rest(1))
        println(s"snapshot $id: renamed ${rest(0)} -> ${rest(1)} (metadata-only)")
      case "evolve-drop" =>
        val id = Evolve.dropColumn(spark, store, rest(0))
        println(s"snapshot $id: dropped ${rest(0)} (metadata-only)")
      case "evolve-widen" =>
        val id = Evolve.widenColumn(spark, store, rest(0), rest(1))
        println(s"snapshot $id: widened ${rest(0)} -> ${rest(1)} (metadata-only)")
      case "partitions" =>
        // per-tuple rollup from the manifest alone (table$partitions)
        store.partitionsTableCurrent(spark)
          .selectExpr("partition", "n_files", "n_rows", "total_bytes",
            "min_seq", "max_seq")
          .collect().foreach { r =>
            val tup = r.getMap[String, String](0)
            val t = if (tup.isEmpty) "(unpartitioned)"
              else tup.map { case (k, v) => s"$k=$v" }.mkString(",")
            println(f"$t%-40s files=${r.getLong(1)} rows=${r.getLong(2)} " +
              s"bytes=${r.getLong(3)} seq=[${r.getLong(4)},${r.getLong(5)}]")
          }
      case "publish" =>
        val target = rest(0).toLongOption.getOrElse(Refs.snapshotFor(store, rest(0)))
        val r = Publish.run(store, target, rest(1), Some(spark))
        println(s"published snapshot ${r.snapshotId}: ${r.files} files, " +
          s"${r.rows} rows, ${r.bytes} bytes -> ${r.destDir}")
      case "orphans" =>
        val minAgeMs = rest.headOption.map(_.toLong * 3600 * 1000)
          .getOrElse(3600L * 1000)
        val r = RemoveOrphans.run(store, minAgeMs)
        println(s"scanned ${r.scanned} files, deleted ${r.orphansDeleted} " +
          s"orphans (${r.bytesFreed} bytes), " +
          s"${r.commitDebrisDeleted} crashed-publish temps, " +
          s"${r.manifestsDeleted} unnamed manifests")
      case "transcode" =>
        val codec = rest.headOption.getOrElse(graft.audio.Pcm.Pcm16le)
        val rate = rest.lift(1).map(_.toInt).getOrElse(16000)
        val r = Transcode.run(spark, store, codec, rate,
          runId = s"cli-transcode-${System.currentTimeMillis()}")
        println(s"snapshot ${r.snapshotId}: transcoded ${r.clips} clips to $codec@$rate")
      case "verify" =>
        val rep = ScanEquality.report(ScanEquality.compareSnapshots(
          spark, store, rest(0).toLong, rest(1).toLong))
        println(s"verify: rows=${rep.rows} passed=${rep.passed} failed=${rep.failed} " +
          s"minSnrDb=${rep.minSnrDb} passRate=${rep.passRate}")
        if (!rep.allPass) sys.exit(2)
      case "lineage" =>
        store.lineage(spark).orderBy("tsMs").show(100, truncate = false)
      case "delete-ids" =>
        import spark.implicits._
        val r = Deletes.run(spark, store, rest.toSeq.toDF("clip_id"))
        println(s"snapshot ${r.snapshotId}: equality delete of " +
          s"${r.deleteRows} keys in ${r.deleteFiles} delete file(s)")
      case "delete-where" =>
        // <col> <op:eq|lt|gteq> <value> — resolved via the pruned scan
        val r = Deletes.deleteWhere(spark, store, Seq(parsePred(rest)))
        println(s"snapshot ${r.snapshotId}: dropped ${r.filesDropped} " +
          s"fully-covered file(s) (${r.rowsDropped} rows, metadata-only) + " +
          s"equality delete of ${r.deleteRows} keys in ${r.deleteFiles} delete file(s)")
      case "delete-where-pos" =>
        // <col> <op:eq|lt|gteq> <value> — residue committed as POSITIONS
        val r = Deletes.deleteWhere(spark, store, Seq(parsePred(rest)),
          positional = true)
        println(s"snapshot ${r.snapshotId}: dropped ${r.filesDropped} " +
          s"fully-covered file(s) (${r.rowsDropped} rows, metadata-only) + " +
          s"position delete of ${r.deleteRows} rows in ${r.deleteFiles} delete file(s)")
      case "compact-pos-deletes" =>
        val (id, merged, dropped) = Deletes.compactPositional(spark, store)
        println(s"snapshot $id: merged $merged position-delete file(s), " +
          s"dropped $dropped dead-path mask row(s)")
      case "expire-deletes" =>
        val (id, dropped) = Deletes.expireInert(store)
        println(s"snapshot $id: dropped $dropped inert delete file(s)")
      case "materialize-deletes" =>
        val r = Deletes.materialize(spark, store)
        println(s"snapshot ${r.snapshotId}: rewrote ${r.filesRewritten} " +
          s"file(s), promoted ${r.filesPromoted} metadata-only, retired " +
          s"${r.deletesRetired} delete file(s)")
      case "wap-stage" => // <name> <nClips> [fromId] — stage a synthetic batch
        val from = if (rest.length > 2) rest(2).toLong else 0L
        import spark.implicits._
        val batch = spark.range(from, from + rest(1).toLong)
          .map(i => graft.synth.ClipSynth.clip(i, 200)).toDF()
        val rec = Wap.stage(spark, store, batch, rest(0))
        println(s"staged '${rec.name}': ${rec.entries.map(_.rows).sum} rows in " +
          s"${rec.entries.size} file(s); invisible until wap-publish")
      case "wap-audit" =>
        val bad = Wap.audit(spark, store, rest(0))
        if (bad.isEmpty) println(s"audit '${rest(0)}': clean (publishable)")
        else println(s"audit '${rest(0)}': VIOLATIONS " +
          bad.map(v => s"${v.constraint}=${v.rows}").mkString(", "))
      case "wap-publish" =>
        val id = Wap.publish(store, rest(0), force = rest.contains("force"))
        println(s"published '${rest(0)}' as snapshot $id")
      case "wap-discard" =>
        println(s"discarded '${rest(0)}': ${Wap.discard(store, rest(0))} file(s) deleted")
      case "wap-list" =>
        val recs = Wap.list(store)
        if (recs.isEmpty) println("no staged batches")
        recs.foreach(r => println(s"${r.name}  rows=${r.entries.map(_.rows).sum} " +
          s"files=${r.entries.size} staged=${java.time.Instant.ofEpochMilli(r.createdMs)} " +
          s"audited=${if (r.auditedMs > 0) "yes" else "NO"}"))
      case "branch" => // <name> [fromId] [maxAgeMs] — zero-copy writable fork
        val from = if (rest.length > 1) rest(1).toLong else -1L
        val b = Branches.create(store, rest(0), from,
          maxRefAgeMs = rest.lift(2).map(_.toLong).getOrElse(0L))
        println(s"branch '${rest(0)}' at snapshot ${b.currentSnapshotId.get} " +
          s"(log: ${b.tableDir})")
      case "branches" =>
        val recs = Branches.list(store)
        if (recs.isEmpty) println("no branches")
        recs.values.foreach { r =>
          val head = Branches.store(store, r.name).currentSnapshotId.getOrElse(-1L)
          println(s"${r.name}  fork=${r.forkSnapshot} head=$head " +
            s"merged=${Branches.merged(store, r.name)}")
        }
      case "branch-ff" =>
        val replayed = Branches.fastForward(store, rest(0))
        if (replayed.isEmpty) println(s"'${rest(0)}': already up to date")
        else println(s"fast-forwarded '${rest(0)}': replayed snapshots " +
          replayed.mkString(", "))
      case "branch-drop" =>
        Branches.drop(store, rest(0), force = rest.contains("force"))
        println(s"dropped branch '${rest(0)}'")
      case "branch-pick" => // <name> <branchSnapId> — append-only cherry-pick
        val id = Branches.cherryPick(store, rest(0), rest(1).toLong)
        println(s"cherry-picked '${rest(0)}' snapshot ${rest(1)} as main snapshot $id")
      case "branch-audit" => // <name> [allow-deletes] — fork->head scan equality
        val rep = Branches.audit(spark, store, rest(0),
          allowDeletes = rest.contains("allow-deletes"))
        println(s"audit '${rest(0)}': rows=${rep.rows} failed=${rep.failed} " +
          s"minSnr=${rep.minSnrDb} passRate=${rep.passRate}" +
          (if (rep.allPass) " (blessed - safe to branch-ff)" else " (NOT blessed)"))
      case "compact-manifests" =>
        val (id, before, after) = store.compactManifests()
        println(s"snapshot $id: $before -> $after manifest shards")
      case "compact-blooms" =>
        val r = graft.table.FileBloom.compact(spark, store)
        println(s"bloom shards ${r.shardsBefore} -> ${r.shardsAfter}: " +
          s"kept ${r.rowsKept} live rows, dropped ${r.rowsDropped} dead")
      case "compact-lineage" =>
        val (before, after) = store.compactLineage()
        println(s"lineage shards $before -> $after")
      case "layout" =>
        // zonemap quality per stats column: expected files opened per probe
        val es = store.entries(store.currentSnapshotId.get)
        val cols = if (rest.nonEmpty) rest.toSeq else store.statsColumns
        cols.foreach(c => println(graft.table.Layout.overlapDepth(es, c).pretty))
      case "partition" =>
        // declare/evolve the hidden-partition spec:
        //   partition identity:codec bucket:clip_id:8 truncate:dur_ms:100:int
        val fields = rest.toSeq.map { s =>
          s.split(':') match {
            case Array("identity", c) => graft.table.Partitioning.identity(c)
            case Array("identity", c, t) => graft.table.Partitioning.identity(c, t)
            case Array("bucket", c, n) => graft.table.Partitioning.bucket(c, n.toInt)
            case Array("bucket", c, n, t) =>
              graft.table.Partitioning.bucket(c, n.toInt, t)
            case Array("truncate", c, w) =>
              graft.table.Partitioning.truncate(c, w.toLong)
            case Array("truncate", c, w, t) =>
              graft.table.Partitioning.truncate(c, w.toLong, t)
            case _ => sys.error(s"bad partition field '$s' " +
              "(identity:<col>[:<type>] | bucket:<col>:<n>[:<type>] | " +
              "truncate:<col>:<w>[:<type>])")
          }
        }
        store.setPartitionSpec(graft.table.PartitionSpec(fields))
        println(s"partition spec: ${fields.map(f =>
          s"${f.transform}(${f.source}${if (f.param > 0) "," + f.param else ""})")
          .mkString(", ")} (applies to future writes)")
      case "auto" =>
        // policy-driven maintenance: plan (metadata-only) then run what's
        // needed; `auto plan` prints the diagnosis without executing
        val policy = MaintenancePolicy(
          targetBytes = rest.find(_.forall(_.isDigit)).map(_.toLong * 1024 * 1024)
            .getOrElse(128L * 1024 * 1024))
        if (rest.contains("plan")) {
          val p = AutoMaintain.plan(store, policy)
          if (p.isEmpty) println("plan: nothing to do (converged)")
          else p.foreach(d => println(s"plan: ${d.op} — ${d.reason}"))
        } else {
          val applied = AutoMaintain.run(spark, store, policy)
          if (applied.isEmpty) println("auto: nothing to do (converged)")
          else applied.foreach(a =>
            println(s"auto: ${a.decision.op} -> snapshot ${a.snapshotId} (${a.decision.reason})"))
        }
      case other => sys.error(s"unknown op: $other")
    }
    spark.stop()
  }
}
