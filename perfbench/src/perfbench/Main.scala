package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.table.{Json, MetaStore}
import org.apache.spark.sql.SparkSession

/** Result of one op call: rows it moved, and a correctness check that the
 * harness runs after the op's clock has stopped (None = correct). */
final case class Outcome(rows: Long, check: () => Option[String])

/** One op of a workload's fixed mix: `tpe` names its latency series. */
final case class Op(tpe: String, run: () => Outcome)

/** What a workload gives the harness. Each workload is one closed-loop
 * client: the harness calls `op(k)` for k = 0, 1, 2, ... until the timed
 * window is spent. */
trait Workload {
  /** Op types that get a latency series (fixed-cadence GC ops do not). */
  def latencyTypes: Seq[String]
  /** Generate the inputs and build the table in `dir` (synth and build
   * seconds); called `reps` times, the last table is kept. */
  def setup(dir: String): (Double, Double)
  /** Once-only set-up on the kept table (billed as build time). */
  def prepare(): Unit = ()
  /** Untimed ops on the kept table: JIT, codegen and steady-state shape. */
  def warmup(): Unit
  def op(k: Long): Op
  /** Ops per repeat of the fixed mix; the window ends on a whole repeat,
   * so throughput never depends on where the clock ran out. */
  def block: Int
  /** Table shape for the steady-state band: rows, files, manifests, snapshots. */
  def shape(): Map[String, Long]
  /** Allowed |end - start| per shape key. */
  def band(start: Map[String, Long]): Map[String, Long]
  /** End-of-run checks (untimed); returns (correct, details). */
  def finish(): (Boolean, Map[String, Any])
  /** Workload-level figures for the report (write amp etc). */
  def extras(): Map[String, Any] = Map.empty
}

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, seed: Long) {
  val rng = new java.util.SplittableRandom(seed)
  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)
  def count(name: String, v: => Double): Unit = tracer.count(name, v)
}

object Table {
  /** Files, manifests, snapshots and rows of the current snapshot. */
  def shape(store: MetaStore): Map[String, Long] = {
    val snap = store.currentSnapshot.get
    Map("rows" -> snap.summary("rows").toLong,
      "files" -> snap.summary("files").toLong,
      "manifests" -> snap.manifests.size.toLong,
      "snapshots" -> store.allSnapshotIds.size.toLong)
  }

  def rows(store: MetaStore): Long = store.currentSnapshot.get.summary("rows").toLong

  def deleteTree(dir: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir)): Unit

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/**
 * Benchmark JVM entry point. Runs one workload: Spark session, three
 * set-ups (the last one is kept), a warm timed window of `seconds` of op
 * time, then the untimed end-of-run checks. Writes every raw figure (op
 * latencies, set-up times, table shape, spans) as one JSON file; the
 * Python launcher turns it into metrics.
 *
 * Args: --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
 *       --cpus N
 */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = mutable.Map[String, String]()
    args.grouped(2).foreach {
      case Array(k, v) if k.startsWith("--") => opts(k.drop(2)) = v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val work = opts("work")
    val cpus = opts("cpus").toInt

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // same write-path settings as the engine's own benches
      // (bench/ScalingBench.scala): 1 MB buffers, sort-based shuffle writer
      .config("spark.shuffle.file.buffer", "1m")
      .config("spark.shuffle.unsafe.file.output.buffer", "1m")
      .config("spark.hadoop.io.file.buffer.size", "1048576")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val listener = if (trace) Some(new SpanListener) else None
    listener.foreach(sc.addSparkListener)
    val tracer = new Tracer(trace, sc)
    val ctx = new Ctx(spark, tracer, seed)
    val w: Workload = workload match {
      case "maintain" => new Maintain(ctx)
      case "lookup" => new Lookup(ctx)
      case "meta" => new Meta(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val originNs = System.nanoTime()
    val originMs = System.currentTimeMillis()

    // set-up: the table build runs three times and setup_s takes its median,
    // so one slow build (cold page cache, first-time JIT) does not move it;
    // the once-only preparation and the warm-up run on the kept table
    val setups = mutable.ArrayBuffer[Map[String, Double]]()
    var prevDir: Option[String] = None
    (0 until 3).foreach { r =>
      val dir = s"$work/table-$r"
      val (synthS, buildS) = w.setup(dir)
      prevDir.foreach(Table.deleteTree)
      prevDir = Some(dir)
      setups += Map("synth_s" -> synthS, "build_s" -> buildS)
      System.err.println(f"[perfbench] setup $r: synth $synthS%.2f s, build $buildS%.2f s")
    }
    val (_, prepareS) = Table.timed(tracer.span("setup", "prepare")(w.prepare()))
    val (_, warmupS) = Table.timed(tracer.span("setup", "warmup")(w.warmup()))
    System.err.println(f"[perfbench] prepare $prepareS%.2f s, warm-up $warmupS%.2f s")

    // timed window: only op calls count toward `seconds`; checks run with
    // the clock stopped
    val shape0 = w.shape()
    val band = w.band(shape0)
    Gc.resetPeak()
    val gc0 = (Gc.timeMs, Gc.count)
    val windowT0 = System.nanoTime()
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    var activeNs = 0L
    var k = 0L
    // a traced run traces every other op of each type, so its untraced
    // half measures the tracing overhead on the same op mix
    val seen = mutable.Map[String, Long]()
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    while (activeNs < seconds * 1e9 || k % w.block != 0) {
      val op = w.op(k)
      val nth = seen.getOrElse(op.tpe, 0L)
      seen(op.tpe) = nth + 1
      tracer.on = trace && nth % 2 == 0
      tracer.op = k
      val c0 = os.getProcessCpuTime
      val t0 = System.nanoTime()
      val res: Either[Throwable, Outcome] =
        try Right(tracer.span("op", op.tpe)(op.run()))
        catch { case e: Throwable => Left(e) }
      val t1 = System.nanoTime()
      val c1 = os.getProcessCpuTime
      activeNs += t1 - t0
      tracer.op = -1L
      val traced = tracer.on
      tracer.on = trace
      val err: Option[String] = res match {
        case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(o) =>
          try o.check() catch { case e: Throwable => Some(s"check threw $e") }
      }
      System.err.println(f"[perfbench] op $k ${op.tpe} ${(t1 - t0) / 1e9}%.3f s ${err.getOrElse("ok")}")
      ops += Map("type" -> op.tpe, "start_s" -> (t0 - originNs) / 1e9,
        "lat_s" -> (t1 - t0) / 1e9, "cpu_s" -> (c1 - c0) / 1e9,
        "ok" -> err.isEmpty, "traced" -> traced,
        "err" -> err.map(_.take(300)).getOrElse(""),
        "rows" -> res.map(_.rows).getOrElse(0L))
      k += 1
    }
    val windowWallS = (System.nanoTime() - windowT0) / 1e9
    val gcWindow = (Gc.timeMs - gc0._1, Gc.count - gc0._2)
    val heapPeak = Gc.heapPeakBytes
    val shape1 = w.shape()
    val bandOk = band.forall { case (key, allowed) =>
      math.abs(shape1(key) - shape0(key)) <= allowed
    }
    val (finOk, finDetails) =
      try tracer.span("verify", "finish")(w.finish())
      catch { case e: Throwable => (false, Map("finish_error" -> e.toString)) }
    listener.foreach(_.drain(sc))

    val rt = ManagementFactory.getRuntimeMXBean
    val out = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> trace, "cpus" -> cpus,
      "session_s" -> sessionS,
      "setups" -> setups.toSeq, "prepare_s" -> prepareS, "warmup_s" -> warmupS,
      "latency_types" -> w.latencyTypes,
      "active_s" -> activeNs / 1e9,
      "window_wall_s" -> windowWallS,
      "ops" -> ops.toSeq,
      "shape_start" -> shape0, "shape_end" -> shape1, "band" -> band,
      "band_ok" -> bandOk,
      "finish_ok" -> finOk, "finish" -> finDetails,
      "extras" -> w.extras(),
      "gc_s" -> gcWindow._1 / 1e3, "gc_count" -> gcWindow._2,
      "heap_peak_bytes" -> heapPeak,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
      "jvm_args" -> rt.getInputArguments.toArray.toSeq.map(_.toString)
        .filter(a => a.startsWith("-X") || a.startsWith("-XX")),
      "spans" -> tracer.toJson(originNs),
      "spark" -> listener.map(_.toJson(originMs)).getOrElse(Map.empty))
    Files.write(Paths.get(opts("out")),
      Json.mapper.writeValueAsString(out).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
