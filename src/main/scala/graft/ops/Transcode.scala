package graft.ops

import graft.audio.{Dsp, Pcm}
import graft.synth.Clip
import graft.table.{LineageRecord, MetaStore}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

final case class TranscodeResult(
    snapshotId: Long,
    runId: String,
    clips: Long,
    filesAfter: Int)

/**
 * Transcoding maintenance pass: rewrite every clip to a canonical
 * (codec, sample rate) — the normalization step an audio training pipeline
 * runs so downstream featurization sees ONE payload format.
 *
 * Unlike compact/cluster (which preserve payload bytes and verify by
 * digest), a transcode changes the payload on purpose, so its gate is
 * signal-level: `verify` decodes old and new payloads, resamples the old
 * reference to the target rate, and scores SNR per clip. The rewrite itself
 * is a map-only distributed pass (no shuffle; per-row decode→resample→encode
 * with the deterministic Dsp/Pcm cores), so wall-clock scales with executor
 * count and the pass is idempotent — rerunning produces bit-identical files.
 */
object Transcode {

  private val clipCols = Seq("clip_id", "bytes", "sr_hz", "dur_ms", "codec",
    "transcript")

  private def clips(df: DataFrame): Dataset[Clip] = {
    import df.sparkSession.implicits._
    df.select(clipCols.map(col): _*).as[Clip]
  }

  /** Rewrite the current snapshot to (targetCodec, targetSrHz) and commit a
   * new snapshot. Readers of prior snapshots are untouched (snapshot
   * isolation). */
  def run(spark: SparkSession, store: MetaStore,
          targetCodec: String = Pcm.Pcm16le, targetSrHz: Int = 16000,
          runId: String): TranscodeResult = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val snapId = store.currentSnapshotId.getOrElse(sys.error("transcode: empty table"))
    val outDir = store.newDataDir("transcode")
    // per-row payload rewrite over the FULL schema: columns added by
    // Evolve.addColumn ride along untouched — a fixed Clip projection here
    // would commit files without them, silently reverting every evolved
    // value to NULL (the new files postdate all evolutions). The codec core
    // is inherently JVM work, so a UDF costs nothing extra vs a typed map.
    val tcode = udf((codec: String, bytes: Array[Byte], srHz: Int) =>
      Pcm.encode(targetCodec,
        Dsp.resampleLinear(Pcm.decode(codec, bytes), srHz, targetSrHz)))
    store.scan(spark, snapId)
      .withColumn("bytes", tcode(col("codec"), col("bytes"), col("sr_hz")))
      .withColumn("sr_hz", lit(targetSrHz))
      .withColumn("codec", lit(targetCodec))
      .write.mode("overwrite").parquet(outDir)
    val newEntries = store.collectStats(spark, outDir)
    val wallMs = (System.nanoTime() - t0) / 1000000
    store.appendLineage(newEntries.zipWithIndex.map { case (e, p) =>
      LineageRecord(runId, snapId, "transcode", s"$targetCodec@$targetSrHz",
        p, e.rows, e.sizeBytes, wallMs, System.currentTimeMillis(), "done")
    })
    val newSnap = store.commit("transcode", newEntries, Map(
      "runId" -> runId, "targetCodec" -> targetCodec,
      "targetSrHz" -> targetSrHz.toString),
      // rewrite planned against snapId — interleaved commits fail it loudly
      expectedParent = Some(snapId))
    TranscodeResult(newSnap, runId, newEntries.map(_.rows).sum, newEntries.size)
  }

  /** Per-clip signal verdicts of `newSnap` against `oldSnap`: the old
   * payload decoded and resampled to the target rate IS the reference; the
   * new payload must match it within `minSnrDb` and carry the declared
   * target meta. One clip_id-keyed join — payloads must move once, there is
   * no digest shortcut when bytes legitimately change. */
  def verify(spark: SparkSession, store: MetaStore, oldSnap: Long,
             newSnap: Long, targetCodec: String, targetSrHz: Int,
             minSnrDb: Double): DataFrame = {
    import spark.implicits._
    val o = clips(store.scan(spark, oldSnap))
      .map(c => (c.clip_id, c.bytes, c.sr_hz, c.codec, c.transcript))
      .toDF("clip_id", "o_bytes", "o_sr", "o_codec", "o_transcript")
    val n = clips(store.scan(spark, newSnap)).toDF()
    val joined = n.join(o, Seq("clip_id"), "full_outer")
    val score = udf((oBytes: Array[Byte], oSr: Integer, oCodec: String,
                     nBytes: Array[Byte], nCodec: String) =>
      if (oBytes == null || nBytes == null) -1.0
      else {
        val ref = Dsp.resampleLinear(Pcm.decode(oCodec, oBytes), oSr, targetSrHz)
        Pcm.snrDb(ref, Pcm.decode(nCodec, nBytes))
      })
    joined.select(col("clip_id"),
        score(col("o_bytes"), col("o_sr"), col("o_codec"),
          col("bytes"), col("codec")).as("snr_db"),
        (col("codec") === targetCodec && col("sr_hz") === targetSrHz)
          .as("meta_ok"),
        (col("transcript") === col("o_transcript")).as("transcript_ok"))
      .withColumn("pass",
        col("snr_db") >= minSnrDb && col("meta_ok") && col("transcript_ok"))
  }
}
