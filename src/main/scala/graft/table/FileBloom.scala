package graft.table

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}

import scala.util.hashing.MurmurHash3

/**
 * Per-data-file bloom filters for point-lookup pruning — the engine analog
 * of the reference's write-time bloom cluster indexes
 * (vector-like/src/main/java/vec/util/BloomFilter.kt:18-121, README.md:144)
 * and of Iceberg's puffin bloom sidecars.
 *
 * Why zonemaps are not enough: after a curve cluster rewrite the key's HASH
 * bits are interleaved into the layout, so every file's (min,max) clip_id
 * range spans nearly the whole key space and a point lookup keeps ALL files.
 * A per-file bloom answers "might this file contain key k" directly,
 * independent of ordering.
 *
 * Storage: a parquet side-table `meta/blooms/<uuid>/` of (path, bloom) rows,
 * one write per maintenance output dir (unique subdir per call — concurrent
 * bins never race a shared committer dir). Readers load it as ONE Spark scan
 * and evaluate membership DISTRIBUTED, collecting only the surviving paths —
 * at 10^6 files the driver never holds 10^6 blooms.
 *
 * Safety contract (same as [[Pruning]]): false positives cost IO only;
 * false negatives are impossible by construction (add/mightContain use the
 * same double-hash sequence — property-tested in PruningSpec), and a file
 * with no bloom row is conservatively kept.
 */
object FileBloom {

  /** Bits per file filter: 2^17 bits = 16 KiB ≈ 1% FPP at ~11k keys/file. */
  val DefaultBits: Int = 1 << 17
  val K: Int = 5

  private def hashes(key: String): (Int, Int) =
    (MurmurHash3.stringHash(key, 0x9747b28c), MurmurHash3.stringHash(key, 0x5bd1e995))

  def add(bits: Array[Long], key: String): Unit = {
    val nBits = bits.length * 64
    val (h1, h2) = hashes(key)
    var i = 0
    while (i < K) {
      val idx = java.lang.Math.floorMod(h1 + i * h2, nBits)
      bits(idx >> 6) |= 1L << (idx & 63)
      i += 1
    }
  }

  def mightContain(packed: Array[Byte], key: String): Boolean = {
    val nBits = packed.length * 8
    if (nBits == 0) return true // corrupt/empty filter: stay conservative
    val (h1, h2) = hashes(key)
    var i = 0
    while (i < K) {
      val idx = java.lang.Math.floorMod(h1 + i * h2, nBits)
      if ((packed(idx >> 3) & (1 << (idx & 7))) == 0) return false
      i += 1
    }
    true
  }

  def pack(bits: Array[Long]): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(bits.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bits.foreach(out.putLong)
    out.array()
  }

  /** Typed UDAF building one bloom per group (file) — distributed, one pass. */
  final class BloomAgg(nBits: Int) extends Aggregator[String, Array[Long], Array[Byte]] {
    def zero: Array[Long] = new Array[Long](nBits / 64)
    def reduce(b: Array[Long], a: String): Array[Long] = {
      if (a != null) add(b, a)
      b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) |= y(i); i += 1 }
      x
    }
    def finish(b: Array[Long]): Array[Byte] = pack(b)
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  private def bloomRoot(store: MetaStore): java.nio.file.Path =
    java.nio.file.Paths.get(store.tableDir, "meta", "blooms")

  /** Aggregation column building one bloom per file group — composed into
   * [[MetaStore.collectStats]]'s single grouped pass so a maintenance
   * output is scanned ONCE for stats + blooms (the r3 separate
   * `FileBloom.write` pass re-read every output and cost the scaling
   * bench's cluster phase ~1.6x). */
  def aggColumn(keyCol: org.apache.spark.sql.Column,
                nBits: Int = DefaultBits): org.apache.spark.sql.Column =
    udaf(new BloomAgg(nBits)).apply(keyCol.cast("string")).as("_bloom")

  /**
   * Persist one shard of per-file blooms from an already-aggregated frame
   * of (`_file` = raw input_file_name, `_bloom`) rows. A unique subdir per
   * call keeps concurrent compaction bins from racing one committer
   * directory.
   */
  def writeShard(store: MetaStore, grouped: DataFrame): Unit = {
    val out = bloomRoot(store).resolve(
      java.util.UUID.randomUUID().toString.take(12))
    // decode the URI-encoded input_file_name to the filesystem form the
    // manifests store (static function: no MetaStore instance captured);
    // runs once per FILE-group row, not per data row
    val norm = udf((p: String) => MetaStore.decodePath(p)).apply(col("_file"))
    grouped.select(norm.as("path"), col("_bloom").as("bloom"))
      .write.mode("overwrite").parquet(out.toString)
  }

  def hasBlooms(store: MetaStore): Boolean = {
    val root = bloomRoot(store)
    if (!java.nio.file.Files.isDirectory(root)) return false
    val s = java.nio.file.Files.list(root)
    try s.iterator().hasNext finally s.close()
  }

  /** The side-table's shard (per-write subdir) directories. */
  private def shardDirs(store: MetaStore): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val root = bloomRoot(store)
    if (!java.nio.file.Files.isDirectory(root)) return Nil
    val s = java.nio.file.Files.list(root)
    try s.iterator().asScala.filter(java.nio.file.Files.isDirectory(_)).toList
    finally s.close()
  }

  /** Current shard count — the [[compact]] trigger. */
  def shardCount(store: MetaStore): Int = shardDirs(store).size

  final case class BloomCompaction(shardsBefore: Int, shardsAfter: Int,
                                   rowsKept: Long, rowsDropped: Long)

  /**
   * Fold the side-table to ONE shard holding only LIVE files' blooms. Every
   * write (append / merge batch / compaction bin / delete-key file) adds a
   * shard, and rewritten/expired data files leave their 16 KiB rows behind
   * — unbounded, the probe scan cost grows with ALL historical writes
   * instead of live files. This pass inner-joins the side-table against the
   * current snapshot's paths, rewrites one shard, and drops the old ones
   * (captured BEFORE the read, so a concurrent writer's new shard is never
   * folded in or deleted). Readers racing the swap stay correct: a missing
   * bloom row is a conservative keep ([[prunePaths]]).
   */
  def compact(spark: SparkSession, store: MetaStore): BloomCompaction = {
    import scala.jdk.CollectionConverters._
    val root = bloomRoot(store)
    val shards = shardDirs(store)
    if (shards.size <= 1)
      return BloomCompaction(shards.size, shards.size, 0L, 0L)
    // ignoreMissingFiles: a concurrent compact's swap must degrade to
    // fewer folded rows (conservative), not kill this pass mid-scan
    val all = spark.read.option("ignoreMissingFiles", "true")
      .parquet(shards.map(_.toString): _*)
    val total = all.count()
    val out = root.resolve(java.util.UUID.randomUUID().toString.take(12))
    // live-path frame: above the planning threshold the manifest parse runs
    // in EXECUTORS (PlanScan.livePathsDF) — at 10^7 entries the old
    // store.entries() materialized every DataFile driver-side (~60 s of a
    // 74 s fold, MetaScale); below it, parallelize the driver list (a
    // local-Seq toDF would encode every path single-threaded)
    val liveDf = store.currentSnapshotId match {
      case None => spark.emptyDataFrame.selectExpr("'' as path").limit(0)
      case Some(id) =>
        val snap = store.snapshot(id)
        if (store.planDistributed(snap))
          PlanScan.livePathsDF(spark, store, snap)
        else {
          val livePaths = store.reachablePaths(Seq(snap)).asScala.toSeq
          spark.createDataset(spark.sparkContext.parallelize(
            livePaths, math.max(1, math.min(32, livePaths.size / 50000))))(
            org.apache.spark.sql.Encoders.STRING).toDF("path")
        }
    }
    all.join(liveDf, Seq("path"), "inner")
      .dropDuplicates("path")
      .write.mode("overwrite").parquet(out.toString)
    val kept = spark.read.parquet(out.toString).count()
    shards.foreach { d =>
      val w = java.nio.file.Files.walk(d)
      try w.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally w.close()
    }
    BloomCompaction(shards.size, 1, kept, total - kept)
  }

  /** The side-table as (path, bloom) rows; empty when no shard exists.
   * Reads the listed shard dirs, not a `*` glob: Spark probes a single glob
   * path literally for a streaming-sink log and logs a WARN with a
   * FileNotFoundException stack trace on every read.
   * ignoreMissingFiles: [[compact]] deletes folded shard dirs AFTER the
   * swap, so a reader that listed them just before loses files mid-scan —
   * with the option the vanished rows simply drop out, which is exactly
   * the documented degradation (missing bloom row = conservative keep)
   * instead of a FileNotFoundException killing the query. A shard dir
   * that vanishes between the listing and Spark's path check fails the
   * read up front; the listing is then taken again (a fold always leaves
   * its output shard, so the retry converges). */
  def table(spark: SparkSession, store: MetaStore): DataFrame = {
    val shards = shardDirs(store)
    if (shards.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("path", StringType), StructField("bloom", BinaryType))))
    else
      try spark.read.option("ignoreMissingFiles", "true")
        .parquet(shards.map(_.toString): _*)
      catch {
        case _: org.apache.spark.sql.AnalysisException
            if !shards.forall(java.nio.file.Files.isDirectory(_)) =>
          table(spark, store)
      }
  }

  /**
   * Distributed point-lookup prune: of `paths`, return those that MIGHT
   * contain ANY of `values` for the bloom key column. Files without a bloom
   * row are kept (conservative). One Spark job over the bloom side-table;
   * only the surviving path strings come back to the driver.
   */
  def prunePaths(spark: SparkSession, store: MetaStore,
                 paths: Seq[String], values: Seq[String]): Set[String] = {
    if (!hasBlooms(store) || values.isEmpty) return paths.toSet
    import spark.implicits._
    val vs = values.toArray
    val might = udf((bloom: Array[Byte]) =>
      vs.exists(v => mightContain(bloom, v)))
    val candidates = paths.toDF("path")
    val withBloom = candidates.join(table(spark, store), Seq("path"), "left_outer")
    withBloom.filter(col("bloom").isNull || might(col("bloom")))
      .select("path").as[String].collect().toSet
  }
}
