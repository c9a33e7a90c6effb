package graft.bench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Deterministic scale-up of the driver's sfX testdata to sf(X*factor) for
 * the superlinearity audit (r4 verdict directive 3): every table is the
 * union of `factor` key-shifted replicas of the source, so row counts,
 * join fan-outs, and group cardinalities grow exactly linearly and any
 * query whose runtime grows superlinearly (>~1.2x the data ratio) is
 * flagged for a plan audit.
 *
 * Key discipline — replication must not manufacture pathologies:
 *  - every primary/foreign key is shifted by `rep * (max+1)` consistently
 *    across tables (orderkey in orders AND lineitem, custkey in customer
 *    AND orders, ...), so key uniqueness and join selectivity per row are
 *    preserved;
 *  - tiny dims (region, nation) are copied as-is, like TPC-H's fixed dims;
 *  - `documents.text` gets a per-WORD replica suffix (deterministic): a
 *    verbatim copy would make every document a cross-replica exact+near
 *    duplicate, inflating dedup pair counts quadratically — a data
 *    pathology, not an engine cost. The first attempt (word ROTATION)
 *    failed exactly this bar: the q48 shingles are char-8-grams of the
 *    FIRST 256 chars, and rotating by rep*7 words only slides that window
 *    ~45 chars, so replicas stayed >0.5-Jaccard near-dups of each other
 *    and the audit measured q77 at 31x on 10x data — all of it pair
 *    blowup. Suffixing every word rewrites nearly every 8-gram (words are
 *    shorter than the gram, so grams straddle boundaries) while keeping
 *    within-replica dup structure, token counts, and word counts intact;
 *  - `embeddings.embedding` is element-rotated per replica (norm-preserving,
 *    direction-changing) for the same reason on cosine queries.
 *
 * Usage: runMain graft.bench.ScaleData <srcSfDir> <outDir> [factor]
 */
object ScaleData {

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")}]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, src, out, factor)
    spark.stop()
  }

  /** Replica `rep` of a documents frame: every non-empty space-separated
   * token of `text` gets the suffix `r<rep>`. Empty tokens (from doubled,
   * leading or trailing spaces) stay empty, so the replica keeps its
   * source's token count. Replica 0 is the source itself. */
  private[graft] def suffixWords(d: DataFrame, rep: Int): DataFrame =
    if (rep == 0) d
    else d.withColumn("text",
      expr(s"array_join(transform(split(text, ' '), " +
        s"w -> CASE WHEN w = '' THEN w ELSE concat(w, 'r$rep') END), ' ')"))

  def run(spark: SparkSession, src: String, out: String, factor: Int): Unit = {
    def t(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")

    /** max+1 of a key column — the per-replica shift stride. */
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).head().getLong(0) + 1L

    /** Union of `factor` replicas with `shifts` (col -> stride) applied as
     * col + rep*stride; `extra` transforms each replica further. */
    def replicate(df: DataFrame, shifts: Map[String, Long],
                  extra: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until factor).map { rep =>
        val shifted = shifts.foldLeft(df) { case (d, (c, s)) =>
          d.withColumn(c, col(c) + lit(rep.toLong * s))
        }
        extra(shifted, rep)
      }.reduce(_.unionAll(_))

    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scale] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    // fixed dims: copied verbatim (TPC-H keeps nation/region constant per SF)
    write(t("region"), "region")
    write(t("nation"), "nation")

    val custS = stride(t("customer"), "c_custkey")
    val ordS = stride(t("orders"), "o_orderkey")
    val partS = stride(t("part"), "p_partkey")
    val suppS = stride(t("supplier"), "s_suppkey")

    write(replicate(t("customer"), Map("c_custkey" -> custS)), "customer")
    write(replicate(t("supplier"), Map("s_suppkey" -> suppS)), "supplier")
    write(replicate(t("part"), Map("p_partkey" -> partS)), "part")
    write(replicate(t("orders"),
      Map("o_orderkey" -> ordS, "o_custkey" -> custS)), "orders")
    write(replicate(t("lineitem"),
      Map("l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS)),
      "lineitem")

    val evS = stride(t("events"), "event_id")
    val userS = stride(t("events"), "user_id")
    write(replicate(t("events"),
      Map("event_id" -> evS, "user_id" -> userS)), "events")

    // documents: per-word replica suffix so replicas are textually DISTINCT
    // at the char-8-gram level (see scaladoc — rotation was NOT, measured)
    val docS = stride(t("documents"), "doc_id")
    write(replicate(t("documents"), Map("doc_id" -> docS), suffixWords),
      "documents")

    // embeddings: rotate vector elements by rep (norm-preserving, direction
    // decorrelated) so cosine near-dup counts grow linearly, not x factor^2
    val vecS = stride(t("embeddings"), "vec_id")
    write(replicate(t("embeddings"), Map("vec_id" -> vecS),
      (d, rep) =>
        if (rep == 0) d
        else d.withColumn("embedding",
          expr(s"concat(slice(embedding, ${rep + 1}, 1000000), " +
            s"slice(embedding, 1, $rep))"))),
      "embeddings")
  }
}
