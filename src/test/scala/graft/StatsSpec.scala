package graft

import java.nio.file.{Files, Paths}

import graft.table.{ColStat, DataFile, FileBloom, FileStats, MetaStore}
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/**
 * `MetaStore.collectStats` (footer stats, in-task blooms, staged shard)
 * against an in-test oracle: the grouped `min/max/sum(isNull)` aggregate
 * over `input_file_name()` with a bloom UDAF, which is what the stats of a
 * file and its key bloom are defined as. Every entry and every bloom row
 * must be identical.
 */
class StatsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  /** One bloom per file group, folded from the rendered keys. */
  private final class OracleBloom extends Aggregator[String, Array[Long], Array[Byte]] {
    def zero: Array[Long] = new Array[Long](FileBloom.DefaultBits / 64)
    def reduce(b: Array[Long], a: String): Array[Long] = {
      if (a != null) FileBloom.add(b, a)
      b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) |= y(i); i += 1 }
      x
    }
    def finish(b: Array[Long]): Array[Byte] = FileBloom.pack(b)
    def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  private def oracle(store: MetaStore, dir: String)
      : (Seq[DataFile], Map[String, Seq[Byte]]) = {
    val df = spark.read.parquet(dir)
    val present = store.statsColumns.filter(df.columns.contains)
    val key = store.bloomColumn.filter(df.columns.contains)
    val aggs = present.flatMap { c =>
      Seq(min(col(c)).cast("string").as(s"min_$c"),
        max(col(c)).cast("string").as(s"max_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    } ++ Seq(count(lit(1)).as("_rows")) ++
      key.map(c => udaf(new OracleBloom).apply(col(c).cast("string")).as("_bloom"))
    val rows = df.withColumn("_file", input_file_name())
      .groupBy(col("_file")).agg(aggs.head, aggs.tail: _*).collect()
    val entries = rows.map { r =>
      val path = MetaStore.decodePath(r.getAs[String]("_file"))
      val stats = present.map { c =>
        c -> ColStat(
          Option(r.getAs[String](s"min_$c")).getOrElse(""),
          Option(r.getAs[String](s"max_$c")).getOrElse(""),
          df.schema(c).dataType.isInstanceOf[NumericType],
          r.getAs[Long](s"nulls_$c"))
      }.toMap
      DataFile(path, r.getAs[Long]("_rows"), new java.io.File(path).length(), stats,
        partition = graft.table.Partitioning.tupleOf(path), schemaId = -1)
    }.toSeq.sortBy(_.path)
    val blooms = if (key.isEmpty) Map.empty[String, Seq[Byte]] else rows.map(r =>
      MetaStore.decodePath(r.getAs[String]("_file")) ->
        r.getAs[Array[Byte]]("_bloom").toSeq).toMap
    (entries, blooms)
  }

  private def bloomRows(store: MetaStore): Map[String, Seq[Byte]] =
    FileBloom.table(spark, store).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1).toSeq).toMap

  /** Writes `df` into a fresh data dir of a fresh table, then checks
   * collectStats against the oracle; returns the table and the entries. */
  private def check(statsCols: Seq[String], df: DataFrame,
                    write: (DataFrame, String) => Unit = (d, p) =>
                      d.write.mode("append").parquet(p)): (MetaStore, Seq[DataFile]) = {
    val store = new MetaStore(Files.createTempDirectory("graft-stats-").toString, statsCols)
    val dir = store.newDataDir("t")
    write(df, dir)
    val (want, wantBlooms) = oracle(store, dir)
    val got = store.collectStats(spark, dir)
    assert(got == want)
    assert(FileBloom.shardCount(store) == 1, "one shard per call")
    val gotBlooms = bloomRows(store)
    assert(gotBlooms.keySet == wantBlooms.keySet)
    wantBlooms.foreach { case (p, b) => assert(gotBlooms(p) == b, s"bloom of $p") }
    assert(!Files.exists(FileBloom.stagingRoot(store)) ||
      FileStats.dataFiles(FileBloom.stagingRoot(store)).isEmpty, "staging left behind")
    (store, got)
  }

  private def frame(schema: StructType, rows: Seq[Row], parts: Int = 1): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  test("zero-row files are left out; an all-empty output keeps its one shard") {
    val schema = StructType(Seq(StructField("k", StringType), StructField("n", LongType)))
    val empty = frame(schema, Nil)
    assert(check(Seq("k", "n"), empty)._2.isEmpty)
    val (_, mixed) = check(Seq("k", "n"), empty, (d, p) => {
      d.write.mode("append").parquet(p)
      frame(schema, Seq(Row("a", 1L), Row("b", 2L)))
        .write.mode("append").parquet(p)
    })
    assert(mixed.size == 1 && mixed.head.rows == 2L)
  }

  test("all-null columns render as empty bounds with every row counted null") {
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("n", LongType), StructField("d", DoubleType)))
    val (_, got) = check(Seq("k", "n", "d"),
      frame(schema, (0 until 50).map(i => Row(s"k$i", null, null)), parts = 2))
    assert(got.nonEmpty && got.forall(e =>
      e.stats("n") == ColStat("", "", numeric = true, e.rows) &&
        e.stats("d") == ColStat("", "", numeric = true, e.rows)))
  }

  test("multi-row-group files: footer bounds and value folds span every group") {
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("n", IntegerType), StructField("d", DoubleType)))
    val rows = (0 until 3000).map(i =>
      Row(f"k${(i * 7919) % 3000}%05d", if (i % 11 == 0) null else (i * 31) % 977 - 400,
        if (i % 13 == 0) null else ((i * 17) % 1000) / 7.0))
    val (_, got) = check(Seq("k", "n", "d"), frame(schema, rows, parts = 2), (d, p) =>
      d.write.option("parquet.block.size", "2048").mode("append").parquet(p))
    val groups = got.map(e => org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(Paths.get(e.path))))
      .map { r => try r.getRowGroups.size finally r.close() }
    assert(groups.forall(_ > 1), s"row groups per file: $groups")
  }

  test("non-ASCII strings order by UTF-8 bytes, as Spark orders them") {
    val schema = StructType(Seq(StructField("k", StringType), StructField("s", StringType)))
    // UTF-16 puts the surrogate pair (U+1F600) below U+FF5E; UTF-8 bytes
    // put it above
    // a max past parquet-mr's 4 KiB statistics limit leaves its chunk
    // without statistics: that column's bounds are folded from its values
    val vals = Seq("～", "😀", "é", "z", "中文", "", "A", null, "😀" * 1100)
    val (_, got) = check(Seq("k", "s"),
      frame(schema, vals.zipWithIndex.map { case (v, i) => Row(v, vals((i + 3) % vals.size)) }))
    assert(got.map(_.stats("k").max) == Seq("😀" * 1100))
    val st = org.apache.parquet.hadoop.ParquetFileReader.open(
      new org.apache.parquet.io.LocalInputFile(Paths.get(got.head.path)))
    try assert(!st.getRowGroups.get(0).getColumns.get(0).getStatistics.hasNonNullValue)
    finally st.close()
  }

  test("partitioned output: tuple values with '%', space, '+' and '/' survive the path") {
    val schema = StructType(Seq(StructField("k", StringType),
      StructField("n", LongType), StructField("_p_x", StringType)))
    val values = Seq("a b", "50%", "c+d", "x/y", "é/x")
    val rows = values.flatMap(v => (0 until 4).map(i => Row(s"$v-$i", i.toLong, v)))
    val (_, got) = check(Seq("k", "n"), frame(schema, rows, parts = 2),
      (d, p) => d.write.partitionBy("_p_x").mode("append").parquet(p))
    assert(got.map(_.partition("x")).toSet == values.toSet)
  }

  test("long, double, date and other non-footer types render as cast(min)") {
    val schema = StructType(Seq(StructField("id", LongType), StructField("d", DoubleType),
      StructField("day", DateType), StructField("ts", TimestampType),
      StructField("f", FloatType), StructField("dec", DecimalType(12, 3)),
      StructField("big", DecimalType(30, 4)), StructField("b", BooleanType),
      StructField("sh", ShortType), StructField("z", DoubleType)))
    val nan = Double.NaN
    val ds = Seq[Any](-0.0, 0.0, 1.5, nan, Double.NegativeInfinity, null, 2.0, 0.0, -0.0)
    val rows = ds.zipWithIndex.map { case (d, i) =>
      Row(if (i == 5) null else (i.toLong - 4) * 1000000007L, d,
        if (i == 2) null else java.sql.Date.valueOf(s"20${10 + i}-0${1 + i % 9}-1$i"),
        if (i == 7) null else new java.sql.Timestamp(1700000000000L + i * 3600123L),
        if (i == 1) Float.NaN else i.toFloat / 3,
        if (i == 4) null else new java.math.BigDecimal(s"${i * 37 - 100}.125"),
        new java.math.BigDecimal(s"${i}12345678901234567890.5"),
        if (i == 3) null else i % 2 == 0, (i - 4).toShort,
        Seq(-0.0, 0.0, 3.0, 0.0, -0.0, 5.0, 0.0, 1.0, -0.0)(i))
    }
    // z's minimum is a 0.0/-0.0 tie, which keeps the first value seen:
    // files open on either one
    val cols = schema.fieldNames.toSeq
    val (_, split) = check(cols, frame(schema, rows, parts = 3))
    assert(split.map(_.stats("z").min).toSet == Set("-0.0", "0.0"))
    check(cols, frame(schema, rows.reverse, parts = 1))
  }

  test("a non-string key column blooms its rendered values") {
    val schema = StructType(Seq(StructField("n", LongType), StructField("k", StringType)))
    val (store, got) = check(Seq("n", "k"),
      frame(schema, (0 until 40).map(i => Row(if (i == 3) null else i * 3L, s"k$i")), parts = 2))
    val blooms = FileBloom.table(spark, store).collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1)).toMap
    assert(got.exists(e => FileBloom.mightContain(blooms(e.path), "6")))
  }

  test("an unpublished staging shard is invisible; orphan GC removes it once stale") {
    val dir = Files.createTempDirectory("graft-stage-").toString
    val store = MetaStore.forClips(dir)
    ops.Append.run(spark, store, synth.ClipSynth.dataset(spark, 40, 2, maxDurMs = 100).toDF())
    val paths = store.entries(store.currentSnapshotId.get).map(_.path)
    val probe = synth.ClipSynth.clipId(7L)
    val before = FileBloom.table(spark, store).count()
    // a staged shard claiming NO file holds the probe key: visible, it
    // would prune every file
    val staged = FileBloom.newStaging(store)
    FileBloom.writeFile(staged.resolve("part-0.parquet").toString,
      paths.map(_ -> FileBloom.pack(new Array[Long](FileBloom.DefaultBits / 64))))
    assert(FileBloom.table(spark, store).count() == before)
    assert(FileBloom.prunePaths(spark, store, paths, Seq(probe)).nonEmpty)
    assert(FileBloom.shardCount(store) == 1)
    // fresh: the default age floor protects an in-flight writer
    assert(ops.RemoveOrphans.run(store).commitDebrisDeleted == 0)
    assert(Files.isDirectory(staged))
    Files.setLastModifiedTime(staged, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2L * 3600 * 1000))
    assert(ops.RemoveOrphans.run(store).commitDebrisDeleted == 1)
    assert(!Files.exists(staged))
    assert(FileBloom.prunePaths(spark, store, paths, Seq(probe)).nonEmpty)
  }
}
