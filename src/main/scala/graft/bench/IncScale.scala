package graft.bench

import graft.ops._
import graft.synth.ClipSynth
import graft.table.MetaStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * O(churn)-vs-O(table) probe for [[Cluster.incremental]]: at table sizes
 * S, 2S, 4S, measure (a) the FULL recluster wall and (b) the incremental
 * wall after an identical fixed-size narrow append decays the layout
 * locally. The claim under test — the reason the incremental pass exists —
 * is that (a) grows linearly with the table while (b) tracks the CHURN
 * (fixed batch + its overlap neighborhood) and stays flat. Same session,
 * same confs, interleaved per size, so the comparison is relative.
 *
 * Usage: runMain graft.bench.IncScale [baseClips] [doublings] [cores]
 * Prints one JSON line per size plus a summary line.
 */
object IncScale {

  def main(args: Array[String]): Unit = {
    val base = args.lift(0).map(_.toLong).getOrElse(100000L)
    val doublings = args.lift(1).map(_.toInt).getOrElse(2)
    val cores = args.lift(2).map(_.toInt).getOrElse(8)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-inc-scale")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (16L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", graft.Bench.tempWarehouse())
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.shuffle.unsafe.file.output.buffer", "1m")
      .config("spark.hadoop.io.file.buffer.size", "1048576")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory(
      graft.queries.OracleFixtures.scratchRoot, "graft-incscale")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile): Unit))

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val results = (0 to doublings).map { d =>
      val n = base << d
      val dir = root.resolve(s"t$d").toString
      val store = MetaStore.forClips(dir)
      // capped duration keeps bytes ∝ rows across sizes; 64 source files
      Append.run(spark, store,
        spark.range(0L, n, 1L, 64).map(i => ClipSynth.clip(i, 200)).toDF())
      val (_, fullSec) = time {
        Cluster.run(spark, store, ZOrderCurve, targetBytes = 8L * 1024 * 1024,
          runId = s"incscale-full-$d", hashCols = Nil, rangeCols = Seq("dur_ms"))
      }
      val filesTotal = store.entries(store.currentSnapshotId.get).size
      // identical narrow churn at every size: 10k clips in dur [80,120] —
      // the batch, not the table, should set the incremental cost
      Append.run(spark, store,
        spark.range(n, n + 40000L, 1L, 4).map(i => ClipSynth.clip(i, 200)).toDF()
          .filter(col("dur_ms").between(80, 120)).coalesce(1))
      val (inc, incSec) = time {
        Cluster.incremental(spark, store, ZOrderCurve,
          targetBytes = 8L * 1024 * 1024, runId = s"incscale-inc-$d",
          hashCols = Nil, rangeCols = Seq("dur_ms"))
      }
      println(s"""{"clips":$n,"fullClusterSec":${f"$fullSec%.1f"},""" +
        s""""incClusterSec":${f"$incSec%.1f"},"filesTotal":$filesTotal,""" +
        s""""filesRewritten":${inc.filesRewritten},"filesKept":${inc.filesKept},""" +
        s""""rowsRewritten":${inc.rowsRewritten}}""")
      (n, fullSec, incSec, inc.filesRewritten, filesTotal)
    }
    val first = results.head; val last = results.last
    val fullGrowth = last._2 / first._2
    val incGrowth = last._3 / first._3
    val sizeGrowth = last._1.toDouble / first._1
    println(f"""{"summary":"table grew ${sizeGrowth}%.0fx: full recluster """ +
      f"""${fullGrowth}%.1fx slower, incremental ${incGrowth}%.1fx","pass":${incGrowth < fullGrowth / 2}}""")
    spark.stop()
  }
}
