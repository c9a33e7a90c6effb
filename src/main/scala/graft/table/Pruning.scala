package graft.table

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/**
 * Manifest-stats file pruning (zonemaps): evaluate simple predicates against
 * each data file's per-column min/max BEFORE reading it, and scan only the
 * files that may contain a match. This is the scan-side payoff of the curve
 * cluster rewrite — after `Cluster.run` each file covers a tight key range,
 * so a range predicate on a clustered dim touches a small file subset. The
 * reference reaches the same goal through its ordered ISAM access
 * (cursor/src/main/java/cursors/context/Ordering.kt:36-58: binary search over
 * the sorted medium) and the `.meta` sidecar ranges; here the sidecar is the
 * manifest and the "binary search" is file elimination.
 *
 * Safety contract: pruning is an IO optimization ONLY. `mayMatch` must be
 * conservative (keep on any uncertainty: missing stats, unparseable numeric,
 * mixed-null files), and [[MetaStore.scanPruned]] re-applies the predicate as
 * a real Spark filter over the kept files, so results are identical to
 * `scan(...).filter(...)` by construction even if a stat were wrong.
 */
sealed trait Pred {
  def column: String

  /** The exact Spark filter this predicate stands for (comparisons are
   * null-rejecting, matching `mayMatch`'s assumption that nulls never match). */
  def toColumn: Column

  /** false ONLY when the file's stats PROVE no row can match. */
  def mayMatch(f: DataFile): Boolean

  /** true ONLY when the file's stats PROVE EVERY row matches — the dual
   * proof obligation (whole-file coverage, used by the metadata-only
   * partition-drop delete path). Sufficient, not necessary: the predicate
   * must hold over the whole [min,max] interval and the file must have
   * zero nulls in the column (a null row never matches a comparison, so a
   * file containing one can never be fully covered). Default false keeps
   * unknown/undecidable cases on the safe side. */
  def mustMatchAll(f: DataFile): Boolean = {
    val s = f.stats.get(column).orNull
    if (s == null || s.nullCount > 0 || f.rows == 0) false
    else provenOn(s.min, s.max, s.numeric).getOrElse(false)
  }

  /** Is the predicate true at EVERY point of [min,max]? None = undecidable. */
  protected def provenOn(min: String, max: String,
                         numeric: Boolean): Option[Boolean] = Some(false)
}

object Pred {

  /** min/max are stored as strings (MetaStore.collectStats casts); compare
   * numerically when the column is numeric, lexicographically otherwise.
   * None = can't decide (unparseable) — caller must keep the file. */
  private def cmp(statVal: String, v: Any, numeric: Boolean): Option[Int] =
    if (!numeric) Some(statVal.compareTo(v.toString))
    else
      try Some(BigDecimal(statVal).compare(BigDecimal(v.toString)))
      catch { case _: NumberFormatException => None }

  /** Evaluate one bound test against a file's stat for `column`; keep (true)
   * when stats are absent or undecidable. `test(min,max)` returns true if a
   * match is still possible. */
  private def statTest(f: DataFile, column: String)(
      test: (String, String, Boolean) => Option[Boolean]): Boolean =
    f.stats.get(column) match {
      case None => true // no stats for this column -> cannot prune
      case Some(s) =>
        if (s.nullCount >= f.rows) false // all-null file: comparisons never match
        else test(s.min, s.max, s.numeric).getOrElse(true)
    }

  final case class GtEq(column: String, v: Any) extends Pred {
    def toColumn: Column = col(column) >= lit(v)
    def mayMatch(f: DataFile): Boolean =
      statTest(f, column)((_, max, num) => cmp(max, v, num).map(_ >= 0))
    override protected def provenOn(min: String, max: String, num: Boolean) =
      cmp(min, v, num).map(_ >= 0)
  }

  final case class Gt(column: String, v: Any) extends Pred {
    def toColumn: Column = col(column) > lit(v)
    def mayMatch(f: DataFile): Boolean =
      statTest(f, column)((_, max, num) => cmp(max, v, num).map(_ > 0))
    override protected def provenOn(min: String, max: String, num: Boolean) =
      cmp(min, v, num).map(_ > 0)
  }

  final case class LtEq(column: String, v: Any) extends Pred {
    def toColumn: Column = col(column) <= lit(v)
    def mayMatch(f: DataFile): Boolean =
      statTest(f, column)((min, _, num) => cmp(min, v, num).map(_ <= 0))
    override protected def provenOn(min: String, max: String, num: Boolean) =
      cmp(max, v, num).map(_ <= 0)
  }

  final case class Lt(column: String, v: Any) extends Pred {
    def toColumn: Column = col(column) < lit(v)
    def mayMatch(f: DataFile): Boolean =
      statTest(f, column)((min, _, num) => cmp(min, v, num).map(_ < 0))
    override protected def provenOn(min: String, max: String, num: Boolean) =
      cmp(max, v, num).map(_ < 0)
  }

  final case class EqualTo(column: String, v: Any) extends Pred {
    def toColumn: Column = col(column) === lit(v)
    def mayMatch(f: DataFile): Boolean =
      statTest(f, column) { (min, max, num) =>
        for (lo <- cmp(min, v, num); hi <- cmp(max, v, num))
          yield lo <= 0 && hi >= 0
      }
    override protected def provenOn(min: String, max: String, num: Boolean) =
      for (lo <- cmp(min, v, num); hi <- cmp(max, v, num))
        yield lo == 0 && hi == 0
  }

  /** Inclusive range — the canonical post-cluster probe shape. */
  final case class Between(column: String, lo: Any, hi: Any) extends Pred {
    def toColumn: Column = col(column) >= lit(lo) && col(column) <= lit(hi)
    def mayMatch(f: DataFile): Boolean =
      statTest(f, column) { (min, max, num) =>
        for (a <- cmp(max, lo, num); b <- cmp(min, hi, num))
          yield a >= 0 && b <= 0
      }
    override protected def provenOn(min: String, max: String, num: Boolean) =
      for (a <- cmp(min, lo, num); b <- cmp(max, hi, num))
        yield a >= 0 && b <= 0
  }

  final case class InSet(column: String, vs: Seq[Any]) extends Pred {
    def toColumn: Column = col(column).isin(vs: _*)
    def mayMatch(f: DataFile): Boolean =
      statTest(f, column) { (min, max, num) =>
        val checks = vs.map { v =>
          for (lo <- cmp(min, v, num); hi <- cmp(max, v, num))
            yield lo <= 0 && hi >= 0
        }
        if (checks.exists(_.isEmpty)) None // any undecidable member -> keep
        else Some(checks.exists(_.contains(true)))
      }
    override protected def provenOn(min: String, max: String, num: Boolean) =
      cmp(min, max, num) match {
        case Some(0) => Some(vs.exists(v => cmp(min, v, num).contains(0)))
        case Some(_) => Some(false) // multi-valued file: not all in a point set
        case None => None
      }
  }

  def and(preds: Seq[Pred]): Column =
    preds.map(_.toColumn).reduceOption(_ && _).getOrElse(lit(true))
}

/** Result of a pruned scan: the filtered DataFrame plus the skip evidence. */
final case class PrunedScan(
    df: DataFrame,
    filesKept: Int,
    filesTotal: Int,
    rowsKeptUpperBound: Long,
    rowsTotal: Long,
    /** Files surviving the partition-tuple tier alone (= filesTotal when no
     * spec is declared) — separates the exact-tuple evidence from zonemaps. */
    filesKeptPartition: Int = -1) {
  def filesSkipped: Int = filesTotal - filesKept
}

object Pruning {

  /** Prune `entries` to the files that may satisfy ALL of `preds`. */
  def keep(entries: Seq[DataFile], preds: Seq[Pred]): Seq[DataFile] =
    entries.filter(f => preds.forall(_.mayMatch(f)))

  /** The tuple then zonemap tiers, with the tuple tier's survivor count as
   * evidence. Tuple elimination is exact and cheapest (a memoized string
   * compare per file against the declared spec; files without a tuple are
   * kept), so stats parsing never touches files it already excludes. Pure:
   * [[PlanScan.prune]] runs it per surviving manifest shard, on the driver
   * or in executors, so the two tiers cannot diverge. */
  def tupleZone(spec: Option[PartitionSpec], entries: Seq[DataFile],
                preds: Seq[Pred]): (Int, Seq[DataFile]) =
    if (preds.isEmpty) (entries.size, entries)
    else {
      val partKept = spec.fold(entries)(s => entries.filter(s.pruner(preds)))
      (partKept.size, keep(partKept, preds))
    }

  /** Point-lookup bloom tier: zonemaps cannot prune equality probes on a
   * hash-scattered key (every file's min/max spans the key space after a
   * curve rewrite); the per-file bloom side-table can. Conservative by
   * construction: union of probe values, files without a bloom row kept. */
  private def bloom(spark: SparkSession, store: MetaStore,
                    zoneKept: Seq[DataFile], preds: Seq[Pred]): Seq[DataFile] = {
    val values = preds.flatMap {
      case Pred.EqualTo(c, v) if store.bloomColumn.contains(c) => Seq(v.toString)
      case Pred.InSet(c, vs) if store.bloomColumn.contains(c) => vs.map(_.toString)
      case _ => Nil
    }
    if (values.isEmpty || zoneKept.isEmpty) zoneKept
    else {
      val surviving = FileBloom.prunePaths(spark, store, zoneKept.map(_.path), values)
      zoneKept.filter(e => surviving.contains(e.path))
    }
  }

  /** The file-elimination stack — partition tuple, then zonemap, then bloom
   * — on the driver: of `entries`, the files that may hold a row matching
   * ALL of `preds`. Merge, the delete-where residue and delete
   * materialization ask here; [[scan]] and [[scanPlanned]] compose the
   * same two steps because they also report the tuple tier's count. */
  def candidates(spark: SparkSession, store: MetaStore, entries: Seq[DataFile],
                 preds: Seq[Pred]): Seq[DataFile] =
    bloom(spark, store, tupleZone(store.partitionSpec, entries, preds)._2, preds)

  /**
   * Read only the surviving files, then re-apply the predicate exactly —
   * identical semantics to `scan + filter` regardless of stats quality.
   * When everything is pruned, the schema is preserved by scanning one
   * file under a constant-false filter (footer-only read; Catalyst folds
   * it to an empty relation). Reads go through the evolution-aware path
   * (`readFiles`) so a predicate on an evolved column sees the filled
   * defaults, exactly as `scan + filter` would. (Pre-evolution files have
   * no stats for the evolved column, so `mayMatch` keeps them — pruning
   * stays conservative across eras.)
   */
  def scan(spark: SparkSession, store: MetaStore, snapshotId: Long,
           entries: Seq[DataFile], preds: Seq[Pred]): PrunedScan = {
    val (partKept, zoneKept) = tupleZone(store.partitionSpec, entries, preds)
    assemble(spark, store, snapshotId, preds, bloom(spark, store, zoneKept, preds),
      filesTotal = entries.size.toLong, rowsTotal = entries.map(_.rows).sum,
      filesKeptPartition = partKept.toLong,
      anyEntry = entries.headOption)
  }

  /** [[scan]] of a whole snapshot, the one read path behind
   * [[MetaStore.scanPruned]]: the tuple and zonemap tiers run through
   * [[PlanScan.prune]] (summary skip, then the surviving manifests on the
   * driver or as a Spark job, the same [[tupleZone]]), so neither tier
   * materializes entries of manifests the summaries rule out — the bloom
   * tier and the delete-aware assembly are [[scan]]'s. */
  def scanPlanned(spark: SparkSession, store: MetaStore, snapshotId: Long,
                  snap: Snapshot, preds: Seq[Pred]): PrunedScan = {
    val plan = PlanScan.prune(spark, store, snap, preds)
    // anyEntry must cover BOTH all-pruned shapes: tuple/zonemap pruned
    // everything (plan.kept empty) AND the bloom tier pruned the zonemap
    // survivors — in the latter case plan.kept is non-empty and its head is
    // the schema donor (a bare None made assemble read zero files into a
    // zero-COLUMN frame whose re-applied predicate then failed analysis)
    assemble(spark, store, snapshotId, preds, bloom(spark, store, plan.kept, preds),
      plan.filesTotal, plan.rowsTotal, plan.filesKeptPartition,
      anyEntry = plan.kept.headOption.orElse(
        if (plan.filesTotal == 0L) None else PlanScan.anyEntry(store, snap)))
  }

  /** Delete-aware read of the kept files + exact re-filter — everything
   * after the elimination tiers. No predicates, no `Filter` node: an
   * unpruned scan plans exactly as a bare read. */
  private def assemble(spark: SparkSession, store: MetaStore, snapshotId: Long,
                       preds: Seq[Pred], kept: Seq[DataFile],
                       filesTotal: Long, rowsTotal: Long,
                       filesKeptPartition: Long,
                       anyEntry: => Option[DataFile]): PrunedScan = {
    // delete-aware read: pruning must never resurrect a deleted row — the
    // kept files are anti-joined against their applicable delete files
    // exactly as a full scan would (readFiles is a no-op without deletes)
    val readFiles = (fs: Seq[DataFile]) =>
      graft.ops.Deletes.readFiles(spark, store, snapshotId, fs)
    val base =
      if (filesTotal == 0L) store.emptyLike(spark)
      else if (kept.isEmpty)
        readFiles(anyEntry.toSeq).filter(lit(false))
      else readFiles(kept)
    PrunedScan(
      if (preds.isEmpty) base else base.filter(Pred.and(preds)),
      kept.size, filesTotal.toInt,
      kept.map(_.rows).sum, rowsTotal,
      filesKeptPartition = filesKeptPartition.toInt)
  }
}
