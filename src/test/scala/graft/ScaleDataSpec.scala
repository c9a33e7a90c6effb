package graft

import java.nio.file.Files

import graft.bench.ScaleData
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/**
 * ScaleData's contract is LINEAR growth of every query-relevant quantity —
 * the superlinearity audit divides sf1 walls by sf0.1 walls assuming the
 * work grew exactly `factor`×, so a replication artifact that inflates dup
 * pair counts quadratically poisons the audit (measured: the first
 * word-ROTATION variant left replicas >0.5-Jaccard near-dups of each other
 * under q48's char-8-gram shingles and the audit read q77 at 31×). These
 * tests pin the properties that keep the data honest.
 */
class ScaleDataSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val outDir: String = {
    val d = Files.createTempDirectory("graft-scaledata-").toString
    ScaleData.run(spark, "/root/testdata/sf0.001", d, 3)
    d
  }

  test("row counts grow by exactly factor; fixed dims are copied verbatim") {
    def n(t: String) = spark.read.parquet(s"$outDir/$t.parquet").count()
    def n0(t: String) =
      spark.read.parquet(s"/root/testdata/sf0.001/$t.parquet").count()
    for (t <- Seq("customer", "orders", "lineitem", "events", "documents",
      "embeddings")) assert(n(t) === 3 * n0(t), t)
    for (t <- Seq("region", "nation")) assert(n(t) === n0(t), t)
  }

  test("keys stay unique and joins stay selective after the shift") {
    val o = spark.read.parquet(s"$outDir/orders.parquet")
    assert(o.select("o_orderkey").distinct().count() === o.count())
    // every replicated lineitem still joins to exactly one replicated order
    val l = spark.read.parquet(s"$outDir/lineitem.parquet")
    assert(l.join(o, l("l_orderkey") === o("o_orderkey")).count() === l.count())
  }

  test("replica documents are NOT near-dups of their source under " +
    "char-8-gram Jaccard (the q48 shingle)") {
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
    val n0 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .count()
    val grams = (c: org.apache.spark.sql.Column) => expr(
      s"array_distinct(transform(sequence(1, greatest(length(${c}) - 7, 1)), " +
        s"i -> substring(${c}, i, 8)))")
    // doc_id d in replica r is source doc (d % stride) shifted by r*stride:
    // pair each rep-0 doc with its rep-1 and rep-2 copies
    val base = docs.filter(col("doc_id") < n0)
      .select(col("doc_id"), lower(substring(col("text"), 1, 256)).as("b0"))
    val reps = docs.filter(col("doc_id") >= n0)
      .select((col("doc_id") % n0).as("doc_id"),
        lower(substring(col("text"), 1, 256)).as("b1"))
    val jac = base.join(reps, "doc_id")
      .select(grams(col("b0")).as("g0"), grams(col("b1")).as("g1"))
      .select((size(array_intersect($"g0", $"g1")).cast("double") /
        size(array_union($"g0", $"g1"))).as("j"))
    val worst = jac.agg(max("j")).head().getDouble(0)
    assert(worst < 0.5, s"a replica is a >=0.5-Jaccard near-dup ($worst) " +
      "of its source — pair counts would grow quadratically in factor")
  }

  test("within-replica structure is preserved: suffixing keeps same-replica " +
    "pair Jaccard identical to the source corpus") {
    // two docs' word SETS shift by the same suffix, so |A∩B| and |A∪B| are
    // unchanged within a replica; spot-check the first two docs of rep 1
    val n0 = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .count()
    val docs = spark.read.parquet(s"$outDir/documents.parquet")
    def wordJac(ids: (Long, Long)) = {
      val two = docs.filter(col("doc_id").isin(ids._1, ids._2))
        .select(array_distinct(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .collect().map(_.getSeq[String](0).toSet)
      two(0).intersect(two(1)).size.toDouble / two(0).union(two(1)).size
    }
    assert(wordJac((0L, 1L)) === wordJac((n0, n0 + 1L)))
  }

  test("replica suffixing keeps a doc's non-empty-token count across " +
    "doubled, leading and trailing spaces") {
    val src = Seq((0L, "the  quick brown fox "), (1L, " a b  c  "))
      .toDF("doc_id", "text")
    def counts(d: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      d.select(col("doc_id"), split(col("text"), " ").as("w")).collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1).count(_.nonEmpty)).toMap
    val want = counts(src)
    assert(want == Map(0L -> 4, 1L -> 3))
    for (rep <- 1 to 3) {
      val d = ScaleData.suffixWords(src, rep)
      assert(counts(d) == want, s"replica $rep")
      // every non-empty token carries the suffix; no bare suffix appears
      val toks = d.select(explode(split(col("text"), " "))).as[String]
        .collect().filter(_.nonEmpty)
      assert(toks.forall(t => t.endsWith(s"r$rep") && t != s"r$rep"), toks.toSeq)
    }
  }

  test("embedding rotation preserves the norm (linear work for norm/cosine " +
    "queries) while changing direction") {
    val e = spark.read.parquet(s"$outDir/embeddings.parquet")
    val n0 = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .count()
    val nrm = (c: String) => expr(
      s"round(sqrt(aggregate(transform($c, x -> CAST(x AS DOUBLE) * " +
        s"CAST(x AS DOUBLE)), CAST(0.0 AS DOUBLE), (a, v) -> a + v)), 6)")
    val base = e.filter(col("vec_id") < n0)
      .select(col("vec_id"), col("embedding").as("e0"))
    val rep1 = e.filter(col("vec_id") >= n0 && col("vec_id") < 2 * n0)
      .select((col("vec_id") % n0).as("vec_id"), col("embedding").as("e1"))
    val both = base.join(rep1, "vec_id")
    assert(both.filter(nrm("e0") =!= nrm("e1")).count() === 0)
    assert(both.filter(expr("e0 = e1")).count() === 0)
  }
}
