package graft.queries

/**
 * Run-time oracle registry for queries whose DuckDB oracle must reference a
 * FIXTURE the query itself exports (decoded PCM samples, a maintenance
 * store's data files): the oracle SQL embeds absolute fixture paths that are
 * only known when the query runs, so `SparkEntry.oracleSql` merges this
 * registry AFTER `graft.Verify` has executed every query.
 *
 * This is how the audio/maintenance queries get real DuckDB oracles despite
 * operating on synthesized or store-internal data: the query persists its
 * INPUT (or the store's raw data files) to a deterministic location, and the
 * oracle recomputes the query's arithmetic — resampling, RMS, zero
 * crossings, frame grids, era defaults, CDC classification — from that raw
 * input in SQL, independently of the JVM implementation.
 *
 * Fixture dirs are deterministic per (query, sf) and OUTSIDE the Verify
 * output dir (the driver globs outDir subdirectories as query outputs), and
 * they persist past the Verify JVM because DuckDB reads them afterwards.
 * tmpfs is preferred for the same write-path reason as the bench stores.
 */
object OracleFixtures {

  /** Verification-scaffolding switch. Fixture export + the read-back exist
   * so DuckDB can recompute a query from its exact input bytes; they are
   * NOT part of the operator's work. graft.Bench sets this false so the
   * benchmarked plan computes the identical result from the in-memory
   * input directly — no parquet round-trip — and BENCH times measure the
   * engine, not the oracle plumbing. graft.Verify leaves it true. */
  @volatile var exportEnabled: Boolean = true

  /** Stage `df` as a query's input: export it to the `fixture` dir,
   * register `sql(fixtureDir)` as the query's oracle, and return the
   * READ-BACK frame (the verified plan consumes exactly the bytes the
   * oracle reads) — or pass `df` through untouched when export is off. */
  def stage(s: org.apache.spark.sql.SparkSession, query: String,
            fixture: String, sfDir: String, df: org.apache.spark.sql.DataFrame)
           (sql: String => String): org.apache.spark.sql.DataFrame =
    if (!exportEnabled) df
    else {
      val fx = freshDir(fixture, sfDir)
      df.write.mode("overwrite").parquet(fx)
      register(query, sql(fx))
      s.read.parquet(fx)
    }

  private val registry =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def register(name: String, sql: String): Unit = {
    registry.put(name, sql)
    ()
  }

  def oracles: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    registry.asScala.toMap
  }

  private val Shm = java.nio.file.Paths.get("/dev/shm")

  /** tmpfs is RAM: below this much usable space it is not chosen, so a
   * near-full /dev/shm degrades to disk speed instead of failing writes
   * (or starving the host) mid-run. */
  val TmpfsFloorBytes: Long = 1L << 30

  /** The scratch-root choice as a pure function of /dev/shm's usable bytes
   * (None = absent or not writable): tmpfs at or above the floor, else
   * java.io.tmpdir. */
  def scratchRootFor(shmUsableBytes: Option[Long]): java.nio.file.Path =
    if (shmUsableBytes.exists(_ >= TmpfsFloorBytes)) Shm
    else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))

  /** Scratch root for fixture/e2e/bench stores and the JVM's warehouse and
   * shuffle dirs: tmpfs when available (a shared-disk /tmp collapses under
   * concurrent small writes — ScalingBench measured), else java.io.tmpdir.
   * The ONE policy point for all of them except ScalingBench's
   * GRAFT_BENCH_DIR-overridable root. */
  def scratchRoot: java.nio.file.Path = scratchRootFor(
    if (!java.nio.file.Files.isDirectory(Shm) || !java.nio.file.Files.isWritable(Shm)) None
    else scala.util.Try(java.nio.file.Files.getFileStore(Shm).getUsableSpace).toOption)
  private def root: java.nio.file.Path = scratchRoot

  /** Deterministic fixture dir for (query, sf); created if absent. */
  def dir(qname: String, sfDir: String): String = {
    val tag = java.nio.file.Paths.get(sfDir).getFileName.toString
    val d = root.resolve("graft-oracle-fixtures").resolve(tag).resolve(qname)
    java.nio.file.Files.createDirectories(d)
    d.toString
  }

  /** [[dir]], cleared first — for MetaStore roots that must start empty. */
  def freshDir(qname: String, sfDir: String): String = {
    val d = dir(qname, sfDir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(d))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    d
  }

  /** DuckDB literal for a list of parquet paths. */
  def pathList(paths: Seq[String]): String =
    paths.map(p => s"'$p'").mkString("[", ", ", "]")

  /** Absolute path of a CHECKED-IN fixture under the repo's fixtures/ dir
   * (reviewed golden data, e.g. the Hijrah calendar table). Resolved from
   * the working directory (sbt runs from the repo root), overridable with
   * -Dgraft.repo.dir for out-of-repo launchers; fails loudly if absent so
   * a misresolved path can never become a silently-empty oracle join. */
  def repoFixture(name: String): String = {
    val repo = sys.props.getOrElse("graft.repo.dir", sys.props("user.dir"))
    val p = java.nio.file.Paths.get(repo, "fixtures", name)
    require(java.nio.file.Files.exists(p), s"checked-in fixture missing: $p")
    p.toString
  }
}
