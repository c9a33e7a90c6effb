package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.ops.{Append, Branches, Compact, Evolve, Refs}
import graft.synth.ClipSynth
import graft.table.{Json, MetaStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/**
 * Tables evolved before the evolution list moved into the snapshot record:
 * their evolutions sit in `meta/evolutions.json` (the single-file log) and
 * `meta/evolutions/evo-<id>.json` records, each naming the files it
 * predates, and their entries carry no era. Reads keep that path-set rule
 * until the first new-style evolution copies the list into the record.
 */
class EvolveLegacySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark

  test("a legacy-evolved table reads the same rows across an append, a " +
    "compaction and a new-style addColumn, on the head and on a tag") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-evolve-legacy-").toString
    val store = MetaStore.forClips(dir)
    val meta = Paths.get(dir, "meta")
    def batch(prefix: String): DataFrame =
      ClipSynth.dataset(spark, 20, 2, maxDurMs = 60).toDF()
        .withColumn("clip_id", concat(lit(prefix), col("clip_id")))
    // what the legacy writer captured: every file any snapshot reaches
    def captured: Seq[String] =
      store.allSnapshotIds.flatMap(store.entries).map(_.path).distinct
    def write(p: java.nio.file.Path, v: Any): Unit = {
      Files.write(p, Json.write(v).getBytes(StandardCharsets.UTF_8)); ()
    }
    val cols = Seq("clip_id", "quality", "caption")
    def rows(df: DataFrame, cs: Seq[String] = cols): Set[Seq[Any]] =
      df.select(cs.map(col): _*).collect().map(_.toSeq).toSet
    def model(df: DataFrame, quality: Double): Set[Seq[Any]] =
      df.select(col("clip_id"), lit(quality), col("transcript"))
        .collect().map(_.toSeq).toSet

    // era 0, then an add record in the single-file log, from before
    // rename/drop support (no kind, no schemaBeforeJson)
    val a = batch("a_")
    Append.run(spark, store, a)
    val s0 = store.scanCurrent(spark).schema
    val s1 = StructType(s0.fields :+ StructField("quality", DoubleType))
    write(meta.resolve("evolutions.json"), Map("evolutions" -> Seq(Map(
      "column" -> "quality", "typeDdl" -> "double", "defaultSql" -> "0.75",
      "schemaAfterJson" -> s1.json, "paths" -> captured))))
    store.commitDelta("evolve", Nil, summary = Map("evolution" -> "add quality"))
    // era 1, then a rename in a per-snapshot record
    val b = batch("b_").withColumn("quality", lit(0.25))
    Append.run(spark, store, b)
    val s2 = StructType(s1.fields.map(f =>
      if (f.name == "transcript") f.copy(name = "caption") else f))
    val pre2 = captured
    val id2 = store.commitDelta("evolve", Nil, summary = Map("evolution" -> "rename"))
    Files.createDirectories(meta.resolve("evolutions"))
    write(meta.resolve("evolutions").resolve(s"evo-$id2.json"), Map(
      "column" -> "caption", "typeDdl" -> "", "defaultSql" -> "",
      "schemaAfterJson" -> s2.json, "paths" -> pre2, "kind" -> "rename",
      "renamedFrom" -> "transcript", "schemaBeforeJson" -> s1.json))
    // era 2
    val c = batch("c_").withColumn("quality", lit(0.5))
    Append.run(spark, store, c.withColumnRenamed("transcript", "caption"))
    Refs.tag(store, "legacy")
    assert(store.entries(store.currentSnapshotId.get).forall(_.schemaId == 0),
      "the fixture's entries carry no era, as before eras existed")

    val legacyRows = model(a, 0.75) ++ model(b, 0.25) ++ model(c, 0.5)
    def tagged = Refs.scanTag(spark, store, "legacy")
    assert(rows(store.scanCurrent(spark)) == legacyRows)
    assert(rows(tagged) == legacyRows)
    // a branch forked now carries the list and each file's era itself
    Branches.create(store, "fork")
    assert(rows(Branches.scan(spark, store, "fork")) == legacyRows)

    // an append under the current schema
    val d = batch("d_").withColumn("quality", lit(0.125))
    Append.run(spark, store, d.withColumnRenamed("transcript", "caption"))
    val headRows = legacyRows ++ model(d, 0.125)
    assert(rows(store.scanCurrent(spark)) == headRows)
    assert(rows(tagged) == legacyRows)

    // a compaction materializes the current schema
    val before = store.entries(store.currentSnapshotId.get).size
    Compact.run(spark, store, targetBytes = 64L * 1024 * 1024, runId = "legacy-compact")
    assert(store.entries(store.currentSnapshotId.get).size < before)
    assert(rows(store.scanCurrent(spark)) == headRows)
    assert(rows(tagged) == legacyRows)

    // a new-style evolution copies the legacy list into the record and
    // writes no legacy record
    val legacyFiles = Files.list(meta.resolve("evolutions")).count()
    val single = Files.readAllBytes(meta.resolve("evolutions.json")).toSeq
    Evolve.addColumn(spark, store, "split", "string", "'train'")
    assert(store.currentSnapshot.get.evolutions.map(_.column) ==
      Seq("quality", "caption", "split"))
    assert(store.currentSnapshot.get.evolutions.forall(_.paths.isEmpty))
    assert(Files.list(meta.resolve("evolutions")).count() == legacyFiles)
    assert(Files.readAllBytes(meta.resolve("evolutions.json")).toSeq == single)
    val withSplit = cols :+ "split"
    assert(rows(store.scanCurrent(spark), withSplit) == headRows.map(_ :+ "train"))
    assert(rows(tagged, withSplit) == legacyRows.map(_ :+ "train"),
      "a tag reads under the latest schema")

    // files written after it keep their own values
    val e = batch("e_").withColumn("quality", lit(1.0)).withColumn("split", lit("test"))
    Append.run(spark, store, e.withColumnRenamed("transcript", "caption"))
    assert(rows(store.scanCurrent(spark), withSplit) ==
      headRows.map(_ :+ "train") ++ model(e, 1.0).map(_ :+ "test"))
    assert(store.scanCurrent(spark).filter($"split".isNull).count() == 0)
  }
}
