package graft

import java.nio.file.Files

import graft.ops.{Append, Compact, Evolve}
import graft.synth.ClipSynth
import graft.table.MetaStore
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * Additive schema evolution: old files read the initial default, new files
 * keep their written values (explicit NULLs included), and a compaction
 * materializes the default without changing any row.
 */
class EvolveSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  test("addColumn default fills only pre-evolution files; compaction materializes") {
    val dir = Files.createTempDirectory("graft-evolve-").toString
    val store = MetaStore.forClips(dir)

    val v1 = ClipSynth.dataset(spark, 80, 4, maxDurMs = 120).toDF()
    Append.run(spark, store, v1)

    Evolve.addColumn(spark, store, "quality_score", "double", "0.75")

    // post-evolution append carries real values, one planted NULL
    val v2 = ClipSynth.dataset(spark, 20, 2, maxDurMs = 120).toDF()
      .withColumn("clip_id", concat(lit("v2_"), col("clip_id")))
      .withColumn("quality_score",
        when(col("clip_id") === concat(lit("v2_"), lit(ClipSynth.clipId(0))),
          lit(null).cast("double"))
          .otherwise(lit(0.25)))
    Append.run(spark, store, v2)

    def check(tag: String): Unit = {
      val df = store.scanCurrent(spark).cache()
      assert(df.count() == 100, tag)
      assert(df.filter(!col("clip_id").startsWith("v2_"))
        .filter(col("quality_score") === 0.75).count() == 80,
        s"$tag: old rows take the default")
      assert(df.filter(col("clip_id").startsWith("v2_"))
        .filter(col("quality_score") === 0.25).count() == 19,
        s"$tag: new rows keep written values")
      assert(df.filter(col("quality_score").isNull).count() == 1,
        s"$tag: explicit NULL in a post-evolution file is preserved")
      df.unpersist()
    }
    check("pre-compact")

    Compact.run(spark, store, targetBytes = 64L * 1024 * 1024, runId = "evo-compact")
    check("post-compact")
    // materialized: compacted files carry the column physically, so they are
    // outside every evolution path set — verify by reading them raw
    val raw = spark.read.parquet(
      store.entries(store.currentSnapshotId.get).map(_.path): _*)
    assert(raw.columns.contains("quality_score"))
    assert(raw.filter(col("quality_score") === 0.75).count() == 80)

    // second evolution stacks on the first
    Evolve.addColumn(spark, store, "split_name", "string", "'train'")
    val df2 = store.scanCurrent(spark)
    assert(df2.filter(col("split_name") === "train").count() == 100)
    assert(df2.filter(col("quality_score") === 0.75).count() == 80)

    intercept[IllegalArgumentException] {
      Evolve.addColumn(spark, store, "quality_score", "double", "0.0")
    }
  }

  test("pruned scan and publish stay era-correct across an evolution") {
    import graft.ops.Publish
    import graft.table.Pred
    val dir = Files.createTempDirectory("graft-evolve-ps-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 80, 4, maxDurMs = 120).toDF())
    Evolve.addColumn(spark, store, "quality_score", "double", "0.75")
    Append.run(spark, store,
      ClipSynth.dataset(spark, 20, 2, maxDurMs = 120).toDF()
        .withColumn("clip_id", concat(lit("v2_"), col("clip_id")))
        .withColumn("quality_score", lit(0.25)))

    // pruned scan must see filled defaults, same as scan+filter
    val ps = store.scanCurrentPruned(spark, Seq(Pred.GtEq("quality_score", 0.5)))
    assert(ps.df.count() == 80, "era defaults visible through the pruned path")

    // mixed-era publish: file copy would export mixed schemas -> must
    // materialize (and must refuse without a session)
    val dest = Files.createTempDirectory("graft-evolve-pub-").toString
    intercept[RuntimeException] { Publish.run(store, store.currentSnapshotId.get, dest) }
    Publish.run(store, store.currentSnapshotId.get, dest, Some(spark))
    val out = spark.read.parquet(dest)
    assert(out.count() == 100)
    assert(out.filter(col("quality_score") === 0.75).count() == 80,
      "published export materializes the evolved default")
  }

  test("an evolved table emptied by a partition drop scans under its declared schema") {
    import graft.ops.Deletes
    import graft.table.Pred
    val dir = Files.createTempDirectory("graft-evolve-empty-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 40, 2, maxDurMs = 120).toDF())
    val files = store.entries(store.currentSnapshotId.get).size
    Evolve.addColumn(spark, store, "quality_score", "double", "0.75")
    // every file's stats prove dur_ms >= 0: a metadata-only drop of them all,
    // leaving an evolved snapshot with no files and no delete manifests
    val res = Deletes.deleteWhere(spark, store, Seq(Pred.GtEq("dur_ms", 0L)))
    assert(res.filesDropped == files && res.deleteFiles == 0)
    val df = store.scanCurrent(spark)
    assert(df.columns.toSeq == store.scanCurrentPruned(spark, Nil).df.columns.toSeq)
    assert(df.columns.contains("quality_score"))
    assert(df.filter(col("codec") === "ulaw").count() == 0L)
  }

  test("renameColumn is metadata-only: old files read under the new name") {
    val dir = Files.createTempDirectory("graft-evolve-ren-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 60, 4, maxDurMs = 120).toDF())
    val preFiles = store.entries(store.currentSnapshotId.get).map(_.path).toSet

    Evolve.renameColumn(spark, store, "transcript", "caption")
    val df = store.scanCurrent(spark)
    assert(df.columns.toSeq.contains("caption") && !df.columns.contains("transcript"))
    assert(df.filter(length(col("caption")) > 0).count() == 60,
      "values survive the rename")
    assert(store.entries(store.currentSnapshotId.get).map(_.path).toSet == preFiles,
      "no data file was touched")

    // post-rename append writes the new physical name; mixed eras union
    Append.run(spark, store,
      ClipSynth.dataset(spark, 20, 2, maxDurMs = 120).toDF()
        .withColumn("clip_id", concat(lit("v2_"), col("clip_id")))
        .withColumnRenamed("transcript", "caption"))
    val mixed = store.scanCurrent(spark)
    assert(mixed.count() == 80)
    assert(mixed.filter(col("caption").isNull).count() == 0)

    // a rewrite materializes the new name physically
    Compact.run(spark, store, targetBytes = 64L * 1024 * 1024, runId = "ren-compact")
    val raw = spark.read.parquet(
      store.entries(store.currentSnapshotId.get).map(_.path): _*)
    assert(raw.columns.contains("caption") && !raw.columns.contains("transcript"))

    // CDC across the rename + compaction sees zero row changes
    intercept[IllegalArgumentException] {
      Evolve.renameColumn(spark, store, "caption", "sr_hz") // name collision
    }
    intercept[IllegalArgumentException] {
      Evolve.renameColumn(spark, store, "nope", "x")
    }
  }

  test("dropColumn hides stale bytes; re-added name takes the default, not the corpse") {
    val dir = Files.createTempDirectory("graft-evolve-drop-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 50, 4, maxDurMs = 120).toDF())
    val sA = store.currentSnapshotId.get

    Evolve.dropColumn(spark, store, "codec")
    val df = store.scanCurrent(spark)
    assert(!df.columns.contains("codec"))
    assert(df.count() == 50)

    // re-add the SAME name: old files physically carry 'codec' values, but
    // logically the column was reborn — every pre-add row must read the
    // default, never the stale bytes
    Evolve.addColumn(spark, store, "codec", "string", "'fresh'")
    val re = store.scanCurrent(spark)
    assert(re.filter(col("codec") === "fresh").count() == 50,
      "dropped-then-re-added column never resurrects stale values")

    // append under the reborn column, then compact: values stay separated
    Append.run(spark, store,
      ClipSynth.dataset(spark, 10, 1, maxDurMs = 120).toDF()
        .withColumn("clip_id", concat(lit("v2_"), col("clip_id")))
        .withColumn("codec", lit("written")))
    Compact.run(spark, store, targetBytes = 64L * 1024 * 1024, runId = "drop-compact")
    val post = store.scanCurrent(spark).cache()
    assert(post.filter(col("codec") === "fresh").count() == 50)
    assert(post.filter(col("codec") === "written").count() == 10)
    post.unpersist()

    // time travel to the pre-drop snapshot reads the CURRENT declared schema
    // (latest-schema-wins, same contract as addColumn over tagged reads)
    assert(store.scan(spark, sA).columns.contains("codec"))

    intercept[IllegalArgumentException] { Evolve.dropColumn(spark, store, "ghost") }
  }

  test("widenColumn promotes int->long metadata-only; illegal promotions refused") {
    val dir = Files.createTempDirectory("graft-evolve-widen-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 40, 2, maxDurMs = 120).toDF())
    val preFiles = store.entries(store.currentSnapshotId.get).map(_.path).toSet
    val sumBefore = store.scanCurrent(spark)
      .agg(sum(col("dur_ms").cast("long"))).collect().head.getLong(0)

    Evolve.widenColumn(spark, store, "dur_ms", "bigint")
    val df = store.scanCurrent(spark)
    assert(df.schema("dur_ms").dataType ==
      org.apache.spark.sql.types.LongType, "declared type widened")
    assert(df.agg(sum("dur_ms")).collect().head.getLong(0) == sumBefore,
      "values bit-exact across the widen")
    assert(store.entries(store.currentSnapshotId.get).map(_.path).toSet == preFiles,
      "no data file was touched")

    // post-widen append writes long physically; mixed eras still union,
    // and a rewrite materializes the wide type
    Append.run(spark, store,
      ClipSynth.dataset(spark, 10, 1, maxDurMs = 120).toDF()
        .withColumn("clip_id", concat(lit("v2_"), col("clip_id")))
        .withColumn("dur_ms", col("dur_ms").cast("long") + 1000000000L))
    assert(store.scanCurrent(spark).filter(col("dur_ms") > 1000000000L).count() == 10)
    Compact.run(spark, store, targetBytes = 64L * 1024 * 1024, runId = "widen-compact")
    val raw = spark.read.parquet(
      store.entries(store.currentSnapshotId.get).map(_.path): _*)
    assert(raw.schema("dur_ms").dataType == org.apache.spark.sql.types.LongType,
      "rewrite materialized the wide physical type")
    assert(store.scanCurrent(spark).count() == 50)

    // narrowing / cross-family promotions refused
    intercept[IllegalArgumentException] {
      Evolve.widenColumn(spark, store, "dur_ms", "int")
    }
    intercept[IllegalArgumentException] {
      Evolve.widenColumn(spark, store, "codec", "bigint")
    }
  }

  test("rename refuses partition-spec sources and the bloom column") {
    import graft.table.{PartField, PartitionSpec}
    val dir = Files.createTempDirectory("graft-evolve-guard-").toString
    val store = MetaStore.forClips(dir)
    store.setPartitionSpec(PartitionSpec(Seq(
      PartField("codec_p", "codec", "identity", 0, "string"))))
    Append.run(spark, store, ClipSynth.dataset(spark, 20, 2, maxDurMs = 120).toDF())
    intercept[IllegalArgumentException] {
      Evolve.renameColumn(spark, store, "codec", "enc")
    }
    intercept[IllegalArgumentException] { Evolve.dropColumn(spark, store, "codec") }
  }

  test("CDC across an evolution + compaction stays empty (era-normalized reads)") {
    val dir = Files.createTempDirectory("graft-evolve-cdc-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store,
      ClipSynth.dataset(spark, 60, 4, maxDurMs = 120).toDF())
    val sA = store.currentSnapshotId.get
    Evolve.addColumn(spark, store, "stage", "string", "'raw'")
    Compact.run(spark, store, targetBytes = 64L * 1024 * 1024, runId = "evo-cdc")
    val sB = store.currentSnapshotId.get
    // old-era files vs materialized files: same logical rows -> no changes
    assert(graft.ops.Changes.rowChanges(spark, store, sA, sB).count() == 0)
  }

  test("a crash at either log seam of addColumn leaves no evolution or a " +
    "whole one, and the next addColumn succeeds") {
    import graft.table.MetaLog
    val dir = Files.createTempDirectory("graft-evolve-crash-").toString
    val store = MetaStore.forClips(dir)
    Append.run(spark, store, ClipSynth.dataset(spark, 40, 2, maxDurMs = 80).toDF())
    val seams = Seq("before_link" -> MetaLog.beforeLink, "after_claim" -> MetaLog.afterClaim)
    seams.zipWithIndex.foreach { case ((name, seam), i) =>
      seam.put(store.log.dir, _ => throw new IllegalStateException(s"crash $name"))
      try intercept[IllegalStateException] {
        Evolve.addColumn(spark, store, s"c_$name", "int", s"$i")
      } finally seam.remove(store.log.dir)
      val landed = Evolve.evolutions(store).exists(_.column == s"c_$name")
      val df = store.scanCurrent(spark)
      assert(df.columns.contains(s"c_$name") == landed, s"$name: a torn evolution")
      if (landed) assert(df.filter(col(s"c_$name") === i).count() == 40, name)
      // a crashed evolver must not wedge the next one
      Evolve.addColumn(spark, store, s"n_$name", "string", s"'$name'")
      // the claim is the commit: nothing lands before it, all of it after
      assert(landed == (name == "after_claim"), s"$name: landed=$landed")
    }
    val df = store.scanCurrent(spark)
    assert(Evolve.evolutions(store).map(_.column) ==
      Seq("n_before_link", "c_after_claim", "n_after_claim"))
    assert(df.count() == 40)
    assert(df.filter(col("n_before_link") === "before_link" &&
      col("c_after_claim") === 1 && col("n_after_claim") === "after_claim").count() == 40)
    assert(!Files.exists(java.nio.file.Paths.get(dir, "meta", "evolutions")) &&
      !Files.exists(java.nio.file.Paths.get(dir, "meta", "evolutions.json")),
      "an evolution writes no side record")
  }
}
