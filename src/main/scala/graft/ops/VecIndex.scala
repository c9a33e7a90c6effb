package graft.ops

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import graft.functions.VecExprs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Write-time ANN side-tables: the LSH bucket assignment and the per-label
 * IVF centroid partials are computed ONCE when the index is built and
 * persisted as parquet next to (not inside) the source table; probes read
 * the index, not the corpus. At 100 TB this is the difference between an
 * O(corpus) rebuild per query and an O(candidates) pruned join — the same
 * role the reference's persisted cluster indexes play
 * (vec/util/BloomFilter.kt:18-121 keys its bloom filters by cluster at
 * build time, not per probe).
 *
 * Index layout under [[dirFor]] / [[dirForStore]]:
 * {{{
 *   eras/<tag>/buckets/   vec_id, label, bkt        (rows new in that era)
 *   eras/<tag>/cstats/    label, pos, sx, cnt       (centroid partials)
 *   _COMPLETE             fingerprint of the source at build time
 * }}}
 *
 * Eras make maintenance INCREMENTAL for the streaming shape: an append-only
 * commit range indexes just the appended rows as one new era (the parent
 * snapshot's era files are hard-linked, O(new data) work), while any rewrite
 * (compact / merge / delete) rebuilds from scratch — rows may have changed.
 * Readers union the eras: buckets are row-disjoint by construction, and the
 * IVF centroids aggregate the per-era (sum, count) partials exactly.
 */
object VecIndex {

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /**
   * Root for raw-source indexes: `GRAFT_INDEX_ROOT` when set (on a real
   * cluster this must be shared storage every driver/executor mounts —
   * e.g. the warehouse filesystem), else `<user.dir>/target/graft-vecindex`.
   * NEVER `java.io.tmpdir`: tmp cleaners wiped era files out from under a
   * fingerprint-valid `_COMPLETE` marker (observed r3), and a tmpdir is
   * driver-local — invisible to any other process that needs the index.
   */
  def indexRoot: Path =
    sys.env.get("GRAFT_INDEX_ROOT").map(Paths.get(_)).getOrElse(
      Paths.get(System.getProperty("user.dir"), "target", "graft-vecindex"))

  /**
   * Index location for a PLAIN parquet source path (no metastore): keyed by
   * the full SHA-256 of the path (r2's 32-bit `String.hashCode` was
   * collision-prone). The source dirs themselves (e.g. the read-only
   * testdata mounts) cannot be written next to, so the index lives under
   * [[indexRoot]]. MetaStore-backed tables should use [[ensureForStore]],
   * which persists the index INSIDE the table's own `meta/` keyed by
   * snapshot id.
   */
  def dirFor(sourcePath: String): String = {
    val h = sha256Hex(sourcePath).take(32)
    indexRoot.resolve(s"graft-vecindex-$h").toString
  }

  /** Index location for a snapshot of a MetaStore table: inside the table's
   * own metadata tree, so every reader of the table (any driver, any
   * executor mounting the table path) sees the same index, and snapshot id
   * keying makes invalidation exact — a maintenance commit changes the id,
   * an unchanged table keeps serving the built index. */
  def dirForStore(store: graft.table.MetaStore, snapshotId: Long): String =
    Paths.get(store.tableDir, "meta", "vecindex", s"snap-$snapshotId").toString

  private def fingerprint(sourcePath: String): String = {
    val p = Paths.get(sourcePath)
    if (!Files.exists(p)) return "missing"
    val files =
      if (Files.isDirectory(p)) {
        val s = Files.list(p)
        try {
          val it = s.iterator()
          val buf = scala.collection.mutable.ArrayBuffer[String]()
          while (it.hasNext) {
            val f = it.next()
            buf += s"${f.getFileName}:${Files.size(f)}"
          }
          buf.sorted.toSeq
        } finally s.close()
      } else Seq(s"${p.getFileName}:${Files.size(p)}")
    // layout version prefix: v2 = corpus-scaled plane ladder + planes.csv.
    // A pre-ladder index (same source bytes, no planes.csv) must MISS this
    // fingerprint and rebuild once, or its 6-plane buckets would be audited
    // against a ladder-derived fresh recompute.
    "v2|" + files.mkString("|")
  }

  /** Plane count pinned at this index's creation (planes.csv beside the
   * eras — a one-row CSV so the DuckDB oracle can read the same artifact).
   * Missing file = the pre-ladder 6-plane layout (back-compat). */
  def planesOf(indexDir: String): Int = {
    val p = Paths.get(indexDir, "planes.csv")
    if (!Files.exists(p)) VecExprs.nPlanes
    else new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .linesIterator.drop(1).next().trim.toInt
  }

  private def writePlanes(indexDir: String, planes: Int): Unit =
    Files.write(Paths.get(indexDir, "planes.csv"),
      s"planes\n$planes\n".getBytes(StandardCharsets.UTF_8))

  /** Write ONE era's side-tables for `embeddings` (only those rows).
   * `planes` must be the INDEX's pinned plane count, not a fresh
   * derivation: eras of one index must agree on bucket ids. */
  private def writeEra(embeddings: DataFrame, indexDir: String,
                       eraTag: String, planes: Int): Unit = {
    val era = s"$indexDir/eras/$eraTag"
    embeddings
      .select(col("vec_id"), col("label"),
        expr(VecExprs.bucketSparkN(planes)).as("bkt"))
      .write.mode("overwrite").parquet(s"$era/buckets")
    // (sum, count) partials instead of means: per-era partials aggregate to
    // the EXACT global mean at read time; persisted means could not be
    // combined without knowing each era's weight
    embeddings
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(sum(col("x").cast("double")).as("sx"), count(col("x")).as("cnt"))
      .write.mode("overwrite").parquet(s"$era/cstats")
  }

  private def deleteRecursively(p: Path): Unit = {
    if (!Files.exists(p)) return
    val walk = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    } finally walk.close()
  }

  /** Hard-link (fall back to copy) every file under `from/eras` into
   * `to/eras` — O(file count) metadata ops, zero data movement; the parquet
   * era files are immutable so sharing inodes across snapshot dirs is safe
   * and pruning the old dir only unlinks. */
  private def linkEras(from: String, to: String): Unit = {
    val src = Paths.get(from, "eras")
    if (!Files.isDirectory(src)) return
    val walk = Files.walk(src)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.foreach { p =>
        val rel = src.relativize(p)
        val dst = Paths.get(to, "eras").resolve(rel)
        if (Files.isDirectory(p)) Files.createDirectories(dst)
        else try Files.createLink(dst, p)
        catch { case _: UnsupportedOperationException | _: java.io.IOException =>
          Files.copy(p, dst)
        }
      }
    } finally walk.close()
  }

  /** Build both side-tables from scratch (single "full" era). The plane
   * count derives from the corpus size at THIS build (VecExprs.annPlanes
   * ladder — a fixed 2^6-bucket layout makes probe candidate lists grow
   * linearly with the corpus) and is persisted; a full rebuild is the only
   * re-tuning point. */
  def build(spark: SparkSession, embeddings: DataFrame, indexDir: String,
            sourceFingerprint: String): Unit = {
    val dir = Paths.get(indexDir)
    deleteRecursively(dir.resolve("eras"))
    Files.createDirectories(dir)
    val planes = VecExprs.annPlanes(embeddings.count())
    writePlanes(indexDir, planes)
    writeEra(embeddings, indexDir, "full", planes)
    Files.write(dir.resolve("_COMPLETE"),
      sourceFingerprint.getBytes(StandardCharsets.UTF_8))
  }

  /** The `_COMPLETE` fingerprint alone is not enough: a cleaner (or partial
   * delete) can remove era parquet files while leaving the marker, and a
   * fingerprint-valid-but-file-missing index crashes every reader
   * (reproduced r3). Completeness therefore also requires at least one
   * bucket parquet file to actually exist. */
  private def hasEraData(indexDir: String): Boolean = {
    val eras = Paths.get(indexDir, "eras")
    if (!Files.isDirectory(eras)) return false
    val w = Files.walk(eras)
    try w.anyMatch { p =>
      val s = p.toString
      s.endsWith(".parquet") && s.contains("/buckets/")
    } finally w.close()
  }

  private def isComplete(indexDir: String, fp: String): Boolean = {
    val marker = Paths.get(indexDir, "_COMPLETE")
    Files.exists(marker) &&
      new String(Files.readAllBytes(marker), StandardCharsets.UTF_8) == fp &&
      hasEraData(indexDir)
  }

  /**
   * Ensure an up-to-date index exists for the embeddings parquet at
   * `sourcePath`; builds (or rebuilds on source change) at most once.
   * Returns the index directory.
   */
  def ensure(spark: SparkSession, sourcePath: String): String = synchronized {
    val indexDir = dirFor(sourcePath)
    val fp = fingerprint(sourcePath)
    if (!isComplete(indexDir, fp))
      build(spark, spark.read.parquet(sourcePath), indexDir, fp)
    indexDir
  }

  /**
   * Ensure an index for the CURRENT snapshot of a MetaStore table, persisted
   * under `<tableDir>/meta/vecindex/snap-<id>/`. Invalidation is exact (any
   * commit changes the id) but the REBUILD is incremental when the commit
   * range since the newest indexed snapshot is append-only ({append,
   * wap-publish}): the parent dir's era files are hard-linked across and
   * only the appended rows are indexed as a new era — O(new data), the
   * streaming-ingest shape. Rewrites (compact / cluster / merge / delete)
   * rebuild in full: their commits may change or remove indexed rows.
   * Superseded snapshot indexes are pruned once the new one completes.
   */
  def ensureForStore(spark: SparkSession, store: graft.table.MetaStore): String =
    synchronized {
      val snapId = store.currentSnapshotId.getOrElse(
        sys.error(s"vecindex: ${store.tableDir} has no current snapshot"))
      val indexDir = dirForStore(store, snapId)
      val fp = s"snapshot-$snapId"
      if (isComplete(indexDir, fp)) return indexDir

      val root = Paths.get(store.tableDir, "meta", "vecindex")
      Files.createDirectories(root)
      // newest complete ancestor index = incremental base candidate
      val existing: Seq[(Long, Path)] = {
        val stream = Files.list(root)
        try {
          import scala.jdk.CollectionConverters._
          stream.iterator().asScala.flatMap { p =>
            val n = p.getFileName.toString
            if (n.startsWith("snap-"))
              n.stripPrefix("snap-").toLongOption
                .filter(a => isComplete(p.toString, s"snapshot-$a"))
                .map(_ -> p)
            else None
          }.toSeq
        } finally stream.close()
      }
      val base = existing.filter(_._1 < snapId).sortBy(-_._1).headOption
      val incremental = base.exists { case (a, _) =>
        val live = store.allSnapshotIds.toSet
        (a to snapId).forall(live.contains) &&
          Changes.operationsBetween(store, a, snapId)
            .forall(Set("append", "wap-publish").contains)
      }
      if (incremental) {
        val (a, parentDir) = base.get
        linkEras(parentDir.toString, indexDir)
        // incremental eras MUST keep the parent's pinned plane count —
        // mixing plane counts across eras would make bucket ids of one
        // index mutually meaningless (re-tuning is a full rebuild)
        val planes = planesOf(parentDir.toString)
        writePlanes(indexDir, planes)
        writeEra(Changes.appendedRows(spark, store, a, snapId),
          indexDir, s"inc-$snapId", planes)
        Files.write(Paths.get(indexDir, "_COMPLETE"),
          fp.getBytes(StandardCharsets.UTF_8))
      } else {
        build(spark, store.scan(spark, snapId), indexDir, fp)
      }
      // prune superseded snapshot indexes (GC after successful build; era
      // files shared via hard links survive for the new dir)
      existing.map(_._2).filter(_.getFileName.toString != s"snap-$snapId")
        .foreach(deleteRecursively)
      indexDir
    }

  /** `eras/<tag>/<table>` for every era of the index, listed rather than
   * globbed: Spark probes a single glob path literally for a streaming-sink
   * log and logs a WARN with a FileNotFoundException stack trace. */
  private def eraTables(indexDir: String, table: String): Seq[String] = {
    val s = Files.list(Paths.get(indexDir, "eras"))
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.map(_.resolve(table))
        .filter(Files.isDirectory(_)).map(_.toString).toList.sorted
    } finally s.close()
  }

  def buckets(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(eraTables(indexDir, "buckets"): _*)

  /** IVF centroids: exact global means from the per-era (sum, count)
   * partials — a tiny aggregate (labels × dims rows) at read time. */
  def centroids(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(eraTables(indexDir, "cstats"): _*)
      .groupBy("label", "pos")
      .agg((sum("sx") / sum("cnt")).as("mean_x"))
}
