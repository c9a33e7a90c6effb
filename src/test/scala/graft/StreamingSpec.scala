package graft

import java.nio.file.Files

import graft.streaming.ClipStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("windowed streaming agg over events matches the batch equivalent") {
    // file source needs a directory; copy the single parquet into one
    val dir = Files.createTempDirectory("graft-stream-").toString
    spark.read.parquet(s"$sf/events.parquet").write.mode("overwrite").parquet(dir)

    ClipStream.runWindowedOnDir(spark, dir, "stream_out")
    val streamed = spark.table("stream_out")

    val batch = ClipStream.windowedCounts(spark.read.parquet(dir))
    assert(streamed.count() === batch.count())
    val sDiff = streamed.select("win_start", "event_type", "n")
      .except(batch.select("win_start", "event_type", "n"))
    assert(sDiff.count() === 0, "streamed rows differ from batch rows")
  }

  test("stateful sessionize accumulates per-user counts") {
    import spark.implicits._
    val events = spark.read.parquet(s"$sf/events.parquet")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[ClipStream.Event]
    val out = ClipStream.sessionize(events)
    val got = out.collect().map(r => r.user_id -> r.n_events).toMap
    val exp = events.groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === exp)
  }

  test("salted skew aggregation equals direct aggregation") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val direct = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("q"),
        max(col("l_partkey")).as("mx"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val salted = graft.ops.SkewAgg.saltedGroupBy(li, Seq("l_returnflag"),
      "l_orderkey", 16, Seq(
        graft.ops.SkewAgg.count("n"),
        graft.ops.SkewAgg.sum("l_quantity", "q_raw"),
        graft.ops.SkewAgg.max("l_partkey", "mx")))
      .withColumn("q", col("q_raw").cast("long")).drop("q_raw")
      .collect().map(r => r.getAs[String]("l_returnflag") ->
        (r.getAs[Long]("n"), r.getAs[Long]("q"), r.getAs[Long]("mx"))).toMap
    assert(salted === direct)
  }

  test("batched cluster rewrite equals single-pass output set") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-batchclust-").toString
    val store = graft.table.MetaStore.forClips(dir)
    graft.ops.Append.run(spark, store,
      graft.synth.ClipSynth.dataset(spark, 1200, 12, maxDurMs = 150).toDF())
    val s0 = store.currentSnapshotId.get
    // the markers live until the run's commit lands: list them between the
    // commit's checks and its link
    val cp = java.nio.file.Paths.get(dir, "meta", "checkpoints", "batch-clust")
    var atCommit = Seq.empty[String]
    graft.table.MetaLog.beforeLink.put(store.log.dir, _ => if (atCommit.isEmpty) {
      val s = Files.list(cp)
      try {
        import scala.jdk.CollectionConverters._
        atCommit = s.iterator().asScala.map(_.getFileName.toString).toSeq
      } finally s.close()
    })
    val res = try graft.ops.Cluster.run(spark, store, graft.ops.ZOrderCurve,
      targetBytes = 1L * 1024 * 1024, runId = "batch-clust", batches = 3)
    finally graft.table.MetaLog.beforeLink.remove(store.log.dir)
    val rep = graft.verify.ScanEquality.report(
      graft.verify.ScanEquality.compareSnapshots(spark, store, s0, res.snapshotId))
    assert(rep.allPass, s"$rep")
    // resume: re-running the same runId against the SAME base plan skips
    // every batch — markers are keyed batch-<i>-<planHash> so a resume whose
    // base snapshot moved re-runs instead of resurrecting stale outputs
    val doneMarkers = atCommit.filter(_.startsWith("done-batch-"))
    assert(doneMarkers.size == 3, s"3 plan-keyed batch markers, got $doneMarkers")
    assert(!Files.exists(cp), "a committed run's checkpoints are dropped")
  }

  test("watermarked streaming dedup drops duplicates, keeps state bounded semantics") {
    val dir = Files.createTempDirectory("graft-dedup-src-").toString
    val ev = spark.read.parquet(s"$sf/events.parquet").limit(400)
    ev.write.mode("overwrite").parquet(dir)
    ev.write.mode("append").parquet(dir) // full duplicate arrival

    val q = ClipStream.dedupEvents(
      spark.readStream.schema(ClipStream.eventSchema).parquet(dir))
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    try q.processAllAvailable()
    finally q.stop()

    assert(spark.table("dedup_out").count() === 400)
    assert(spark.table("dedup_out").select("event_id").distinct().count() === 400)
  }

  test("stream-stream interval join matches the batch equivalent") {
    val dir = Files.createTempDirectory("graft-ssjoin-src-").toString
    spark.read.parquet(s"$sf/events.parquet").write.mode("overwrite").parquet(dir)

    val q = ClipStream.errorClickJoin(
      spark.readStream.schema(ClipStream.eventSchema).parquet(dir))
      .writeStream.outputMode("append").format("memory")
      .queryName("ssjoin_out").start()
    try q.processAllAvailable()
    finally q.stop()

    // withWatermark is a no-op on a batch DataFrame, so the same plan
    // definition doubles as the batch oracle
    val batch = ClipStream.errorClickJoin(spark.read.parquet(dir))
    assert(spark.table("ssjoin_out").count() === batch.count())
    assert(spark.table("ssjoin_out")
      .select("error_id", "cts").except(batch.select("error_id", "cts"))
      .count() === 0)
  }

  test("streaming ingest commits one snapshot per batch, exactly-once on replay") {
    import graft.streaming.StreamAppend
    import graft.table.MetaStore
    val srcDir = Files.createTempDirectory("graft-ingest-src-").toString
    val ckpt = Files.createTempDirectory("graft-ingest-ckpt-").toString
    val tableDir = Files.createTempDirectory("graft-ingest-table-").toString
    val store = MetaStore.forClips(tableDir)

    val ev = spark.read.parquet(s"$sf/events.parquet")
    ev.limit(100).write.mode("overwrite").parquet(srcDir)

    val src = spark.readStream.schema(ClipStream.eventSchema).parquet(srcDir)
    val q = StreamAppend.start(store, src, ckpt, "ingest_q")
    try q.processAllAvailable()
    finally q.stop()

    val n1 = store.scanCurrent(spark).count()
    assert(n1 === 100)
    val batchIds = StreamAppend.committedBatchIds(store)
    assert(batchIds.nonEmpty)

    // at-least-once replay of an already-committed batch must be a no-op
    val snapsBefore = store.allSnapshotIds.size
    StreamAppend.commitBatch(store, ev.limit(100), batchIds.head)
    assert(store.allSnapshotIds.size === snapsBefore, "replayed batch re-committed")
    assert(store.scanCurrent(spark).count() === 100)

    // a second file of NEW data arrives -> new batch, new snapshot
    ev.orderBy(org.apache.spark.sql.functions.col("event_id").desc).limit(50)
      .write.mode("append").parquet(srcDir)
    val q2 = StreamAppend.start(store, spark.readStream
      .schema(ClipStream.eventSchema).parquet(srcDir), ckpt, "ingest_q2")
    try q2.processAllAvailable()
    finally q2.stop()
    assert(store.scanCurrent(spark).count() === 150)
  }

  test("streaming ingest with in-loop auto-maintenance: compaction rides the cadence") {
    import graft.streaming.StreamAppend
    import graft.table.MetaStore
    import graft.synth.ClipSynth
    val srcDir = Files.createTempDirectory("graft-ingauto-src-").toString
    val ckpt = Files.createTempDirectory("graft-ingauto-ckpt-").toString
    val store = MetaStore.forClips(
      Files.createTempDirectory("graft-ingauto-table-").toString)

    // 4 source files -> 4 micro-batches (maxFilesPerTrigger=1), 2 small
    // data files each; maintenance every 2nd batch with a tight small-file
    // bound must trigger at least one compact inside the ingest loop
    (0 until 4).foreach { k =>
      ClipSynth.dataset(spark, 100, 2, maxDurMs = 100).toDF()
        .withColumn("clip_id",
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit(s"s${k}_"),
            org.apache.spark.sql.functions.col("clip_id")))
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val src = spark.readStream.option("maxFilesPerTrigger", 1)
      .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
    val policy = graft.ops.MaintenancePolicy(maxSmallFiles = 2,
      maxOverlapDepth = 1e9, expireKeepLast = 1000)
    val q = StreamAppend.start(store, src, ckpt, "ingauto_q",
      maintainEvery = 2, policy = policy)
    try q.processAllAvailable()
    finally q.stop()

    assert(store.scanCurrent(spark).count() === 400)
    val ops = store.allSnapshotIds.map(store.snapshot(_).operation)
    assert(ops.count(_ == "append") === 4)
    assert(ops.contains("compact"), s"ops=$ops")
    // maintenance commits never carry a batch id: replay detection intact
    assert(StreamAppend.committedBatchIds(store).size === 4)
    // replaying a committed batch after maintenance is still a no-op
    val snaps = store.allSnapshotIds.size
    StreamAppend.commitBatch(store,
      ClipSynth.dataset(spark, 100, 2, maxDurMs = 100).toDF(), 0L)
    assert(store.allSnapshotIds.size === snaps)
  }

  test("streaming upsert MERGEs each batch exactly-once (CDC-shaped source)") {
    import graft.streaming.StreamAppend
    import graft.table.MetaStore
    import graft.synth.ClipSynth
    import org.apache.spark.sql.functions._
    val srcDir = Files.createTempDirectory("graft-ups-src-").toString
    val ckpt = Files.createTempDirectory("graft-ups-ckpt-").toString
    val store = MetaStore.forClips(
      Files.createTempDirectory("graft-ups-table-").toString)
    graft.ops.Append.run(spark, store,
      ClipSynth.dataset(spark, 100, 2, maxDurMs = 80).toDF())

    // 3 update batches: batch k updates transcripts of ids [k*20, k*20+30)
    // (overlapping) and INSERTS ids [100+k*10, 100+k*10+10); a later batch
    // overwrites an earlier batch's update for overlapping keys
    (0 until 3).foreach { k =>
      val upd = ClipSynth.dataset(spark, 200, 2, maxDurMs = 80).toDF()
        .filter(col("clip_id") >= ClipSynth.clipId(k * 20) &&
          col("clip_id") < ClipSynth.clipId(k * 20 + 30) ||
          (col("clip_id") >= ClipSynth.clipId(100 + k * 10) &&
            col("clip_id") < ClipSynth.clipId(100 + k * 10 + 10)))
        .withColumn("transcript", concat(col("transcript"), lit(s" u$k")))
      upd.coalesce(1).write.mode("append").parquet(srcDir)
    }
    val src = spark.readStream.option("maxFilesPerTrigger", 1)
      .schema(spark.read.parquet(srcDir).schema).parquet(srcDir)
    val q = StreamAppend.startUpsert(store, src, ckpt, "upsert_q")
    try q.processAllAvailable()
    finally q.stop()

    val table = store.scanCurrent(spark)
    assert(table.count() === 130) // 100 seed + 30 inserts
    // a key updated by several batches holds the LAST batch's value
    // (id 25 is in batches 0+1; id 45 in 1+2; id 5 only in 0). NOTE:
    // file-source batch order tracks the source files' modification
    // timestamps, which this test wrote in k order.
    def tr(i: Long) = table.filter(col("clip_id") === ClipSynth.clipId(i))
      .select("transcript").collect().head.getString(0)
    assert(tr(25).endsWith(" u1"), s"got '${tr(25)}'")
    assert(tr(45).endsWith(" u2"), s"got '${tr(45)}'")
    assert(tr(5).endsWith(" u0"), s"got '${tr(5)}'")
    assert(StreamAppend.committedBatchIds(store).size === 3)
    // replay is a no-op
    val snaps = store.allSnapshotIds.size
    StreamAppend.commitMergeBatch(store,
      ClipSynth.dataset(spark, 10, 1).toDF(), 1L)
    assert(store.allSnapshotIds.size === snaps)
  }

  test("streaming audio feature extraction matches the batch map exactly") {
    import graft.synth.{Clip, ClipSynth}
    import spark.implicits._
    val srcDir = Files.createTempDirectory("graft-feat-src-").toString
    val clips = ClipSynth.dataset(spark, 120, 4, maxDurMs = 150)
    clips.write.mode("overwrite").parquet(srcDir)

    val stream = spark.readStream
      .schema(clips.schema)
      .parquet(srcDir)
      .as[Clip]
    val q = ClipStream.clipFeatures(stream).writeStream
      .outputMode("append").format("memory").queryName("feat_stream").start()
    try q.processAllAvailable()
    finally q.stop()

    val streamed = spark.table("feat_stream")
      .orderBy("clip_id").collect()
    val batch = ClipStream.clipFeatures(clips)
      .toDF().orderBy("clip_id").collect()
    assert(streamed.length === 120)
    assert(streamed.sameElements(batch), "stream and batch rows must be identical")
    // decoded features are real: every tone clip has signal
    assert(batch.forall(_.getAs[Long]("rms_rounded") > 1000))
  }

  test("change feed follows appends exactly once; rewrites are invisible") {
    import graft.ops.{Append, Compact}
    import graft.streaming.ChangeFeed
    import graft.synth.ClipSynth
    import graft.table.MetaStore
    import org.apache.spark.sql.functions._
    val store = MetaStore.forClips(
      Files.createTempDirectory("graft-feed-").toString)
    Append.run(spark, store, ClipSynth.dataset(spark, 60, 4, maxDurMs = 120).toDF())

    var cursor = -1L
    val p1 = ChangeFeed.poll(spark, store, cursor)
    assert(p1.df.count() === 60)
    cursor = p1.toInclusive

    val p2 = ChangeFeed.poll(spark, store, cursor)
    assert(p2.isEmpty && p2.df.count() === 0, "no new data -> empty poll")

    // two appends with a compaction interleaved — the consumer lags through
    // maintenance and still sees exactly the two new batches
    def batch(prefix: String, n: Long) =
      ClipSynth.dataset(spark, n, 2, maxDurMs = 120).toDF()
        .withColumn("clip_id", concat(lit(prefix), col("clip_id")))
    Append.run(spark, store, batch("b2_", 40))
    Compact.run(spark, store, targetBytes = 64L * 1024 * 1024, runId = "feed-compact")
    Append.run(spark, store, batch("b3_", 20))

    val p3 = ChangeFeed.poll(spark, store, cursor)
    assert(p3.appendSnapshots.size === 2)
    val ids = p3.df.select("clip_id").collect().map(_.getString(0))
    assert(ids.length === 60 && ids.distinct.length === 60)
    assert(ids.forall(id => id.startsWith("b2_") || id.startsWith("b3_")),
      "compaction rewrite must contribute nothing")
    cursor = p3.toInclusive

    // full replay from the beginning sees every append once
    assert(ChangeFeed.poll(spark, store, -1L).df.count() === 120)

    // a cursor that fell behind the retention window must ERROR, not
    // silently skip the expired batch
    Append.run(spark, store, batch("b4_", 10))
    Append.run(spark, store, batch("b5_", 10))
    graft.ops.ExpireSnapshots.run(store, keepLast = 1)
    intercept[IllegalArgumentException] {
      ChangeFeed.poll(spark, store, cursor)
    }
  }
}
