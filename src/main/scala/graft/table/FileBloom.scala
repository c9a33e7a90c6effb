package graft.table

import org.apache.spark.sql.{DataFrame, SparkSession}
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
 * one shard per maintenance output dir (unique subdir per call — concurrent
 * bins never race a shared dir). A shard is built under
 * `meta/blooms-staging/` and moved into `meta/blooms/` in one atomic rename,
 * so readers never list a partial one. Readers load it as ONE Spark scan
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

  private def bloomRoot(store: MetaStore): java.nio.file.Path =
    java.nio.file.Paths.get(store.tableDir, "meta", "blooms")

  /** Where shards are built before [[publish]] moves them into
   * `meta/blooms/`, so no reader ever lists a partial shard. */
  private[graft] def stagingRoot(store: MetaStore): java.nio.file.Path =
    java.nio.file.Paths.get(store.tableDir, "meta", "blooms-staging")

  /** A fresh, empty staging shard directory. */
  def newStaging(store: MetaStore): java.nio.file.Path =
    java.nio.file.Files.createDirectories(stagingRoot(store).resolve(
      java.util.UUID.randomUUID().toString.take(12)))

  /** Publish a staged shard with one atomic directory move; a shard with
   * no file (no output had the key column) is dropped instead. */
  def publish(store: MetaStore, staged: java.nio.file.Path): Unit =
    if (FileStats.dataFiles(staged).isEmpty) MetaFs.deleteTree(staged)
    else {
      val root = java.nio.file.Files.createDirectories(bloomRoot(store))
      MetaFs.moveInto(staged, root.resolve(staged.getFileName))
    }

  private val ShardSchema: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY
    Types.buildMessage()
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("path")
      .optional(BINARY).named("bloom")
      .named("spark_schema")
  }

  /** Write (path, bloom) rows as ONE parquet file with parquet-mr (no
   * Hadoop FS): built under a hidden name and renamed into place, so a
   * retried task replaces its file instead of adding a torn one. */
  def writeFile(file: String, rows: Seq[(String, Array[Byte])]): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val dst = java.nio.file.Paths.get(file)
    val tmp = dst.resolveSibling(s".${dst.getFileName}.${java.util.UUID.randomUUID()}")
    val w = ExampleParquetWriter.builder(new org.apache.parquet.io.LocalOutputFile(tmp))
      .withConf(new org.apache.parquet.conf.PlainParquetConfiguration())
      .withType(ShardSchema)
      .withCompressionCodec(org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    try rows.foreach { case (p, b) =>
      val g = new SimpleGroup(ShardSchema)
      g.add("path", p)
      g.add("bloom", org.apache.parquet.io.api.Binary.fromConstantByteArray(b))
      w.write(g)
    } finally w.close()
    MetaFs.moveInto(tmp, dst)
  }

  /** One shard of (path, bloom) rows written on the driver. */
  def writeShard(store: MetaStore, rows: Seq[(String, Array[Byte])]): Unit = {
    val staged = newStaging(store)
    writeFile(staged.resolve("part-0.parquet").toString, rows)
    publish(store, staged)
  }

  /** Staging shards of writers that died before [[publish]]: deletes those
   * last modified before `cutoffMs`. Returns how many it deleted. */
  def removeStaleStaging(store: MetaStore, cutoffMs: Long): Int = {
    import scala.jdk.CollectionConverters._
    val root = stagingRoot(store)
    if (!java.nio.file.Files.isDirectory(root)) return 0
    val s = java.nio.file.Files.list(root)
    // a writer publishing meanwhile moves its shard away: not stale
    val stale = try s.iterator().asScala.filter(d =>
      try java.nio.file.Files.getLastModifiedTime(d).toMillis < cutoffMs
      catch { case _: java.nio.file.NoSuchFileException => false }).toList
    finally s.close()
    stale.foreach(MetaFs.deleteTree)
    stale.size
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
    val shards = shardDirs(store)
    if (shards.size <= 1)
      return BloomCompaction(shards.size, shards.size, 0L, 0L)
    // ignoreMissingFiles: a concurrent compact's swap must degrade to
    // fewer folded rows (conservative), not kill this pass mid-scan
    val all = spark.read.option("ignoreMissingFiles", "true")
      .parquet(shards.map(_.toString): _*)
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
    // the report's row counts come from the footers, not two count() jobs;
    // a shard a concurrent fold deleted meanwhile counts as empty
    def rows(dir: java.nio.file.Path): Long =
      try FileStats.dataFiles(dir).map(FileStats.rowCount).sum
      catch { case _: java.nio.file.NoSuchFileException => 0L }
    val total = shards.map(rows).sum
    val staged = newStaging(store)
    all.join(liveDf, Seq("path"), "inner")
      .dropDuplicates("path")
      .write.mode("overwrite").parquet(staged.toString)
    val kept = rows(staged)
    publish(store, staged)
    shards.foreach(MetaFs.deleteTree)
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
