package graft

import graft.keys.{SpaceFillingCurve => SFC}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Smoke + golden checks for the driver-contract query surface at sf0.001. */
class QueriesSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  val sf = "/root/testdata/sf0.001"

  test("every query runs non-empty at sf0.001") {
    val counts = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      name -> fn(spark, sf).count()
    }
    val empty = counts.filter(_._2 == 0)
    assert(empty.isEmpty, s"empty queries: ${empty.map(_._1)}")
  }

  test("scratch root: tmpfs only at or above the free-space floor") {
    import graft.queries.OracleFixtures.{TmpfsFloorBytes, scratchRootFor}
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val shm = java.nio.file.Paths.get("/dev/shm")
    assert(scratchRootFor(None) == tmp)
    assert(scratchRootFor(Some(0L)) == tmp)
    assert(scratchRootFor(Some(TmpfsFloorBytes - 1)) == tmp)
    assert(scratchRootFor(Some(TmpfsFloorBytes)) == shm)
    assert(scratchRootFor(Some(Long.MaxValue)) == shm)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("pivot columns reconcile with the plain aggregate") {
    val piv = SparkEntry.queries("q17_pivot")(spark, sf)
      .agg(sum(coalesce(col("qty_f"), lit(0L))) +
        sum(coalesce(col("qty_o"), lit(0L)))).collect()(0).getLong(0)
    val total = spark.read.parquet(s"$sf/lineitem.parquet")
      .agg(sum(col("l_quantity").cast("long"))).collect()(0).getLong(0)
    assert(piv === total)
  }

  test("unpivot is the exact long form of the pivot, nulls kept") {
    val wide = SparkEntry.queries("q17_pivot")(spark, sf).collect()
    val long = SparkEntry.queries("q108_unpivot")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    assert(long.size === wide.length * 3)
    wide.foreach { r =>
      val k = r.getString(0)
      def cell(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      assert(long((k, "qty_f")) === cell(1))
      assert(long((k, "qty_o")) === cell(2))
      // the declared-but-absent 'X' status is an all-NULL pivot lane: its
      // cells must SURVIVE the melt (Dataset.unpivot keeps nulls, unlike
      // SQL UNPIVOT's exclude-nulls default)
      assert(long((k, "qty_x")) === None)
    }
  }

  test("q60 zorder matches the pure core on every row") {
    SparkEntry.queries("q60_zorder_key")(spark, sf).collect().foreach { r =>
      val px = r.getAs[Long]("px")
      val sy = r.getAs[Long]("sy")
      assert(r.getAs[Long]("zkey") === SFC.zOrder(Array(px, sy), 8))
    }
  }

  test("exact dedup finds exactly the planted duplicates") {
    val df = SparkEntry.queries("q40_dedup_exact")(spark, sf)
    assert(df.filter(col("n_copies") =!= 2).count() === 0)
  }

  test("jaccard planted pairs all score 1.0 for self-duplicates") {
    val pairs = SparkEntry.queries("q48_jaccard_pairs")(spark, sf)
    val planted = pairs.filter(col("id_b") - col("id_a") === 100000)
    assert(planted.count() > 0)
    assert(planted.filter(col("jac") =!= 1.0).count() === 0)
  }

  test("resample spine has no gaps and covers the date range") {
    val df = SparkEntry.queries("q19_resample_spine")(spark, sf)
    val n = df.count()
    val dist = df.select(countDistinct(col("d"))).collect()(0).getLong(0)
    assert(n === dist)
    val minMax = spark.read.parquet(s"$sf/orders.parquet")
      .agg(datediff(max(to_date(col("o_orderdate"))),
        min(to_date(col("o_orderdate"))))).collect()(0).getInt(0)
    assert(n === minMax + 1)
  }

  test("Components.minLabel: chain, clique, and isolated-pair components") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3: needs >1 iteration), clique {10,11,12},
    // pair {20,21}; labels must be each component's min id
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (21L, 20L)).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L)
    // local union-find path (default: edge count under the threshold)
    val got = graft.ops.Components.minLabel(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // distributed loop path (threshold forced to 0) must agree exactly
    val saved = graft.ops.Components.localSolveMaxEdges
    try {
      graft.ops.Components.localSolveMaxEdges = 0L
      val gotDist = graft.ops.Components.minLabel(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(gotDist === want)
    } finally graft.ops.Components.localSolveMaxEdges = saved
  }

  test("Components.minLabel local/distributed parity on a random graph") {
    import spark.implicits._
    // deterministic pseudo-random graph: 300 nodes, 400 edges
    def mix(i: Long) = {
      var z = i * 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      (z ^ (z >>> 27)) & Long.MaxValue
    }
    val edges = (0L until 400L)
      .map(i => (mix(i) % 300L, mix(i + 7919L) % 300L)).toDF("id_a", "id_b")
    val local = graft.ops.Components.minLabel(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val saved = graft.ops.Components.localSolveMaxEdges
    val dist = try {
      graft.ops.Components.localSolveMaxEdges = 0L
      graft.ops.Components.minLabel(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    } finally { graft.ops.Components.localSolveMaxEdges = saved }
    assert(local === dist)
    // string ids take the Comparable path: same components, lex-min labels
    val sEdges = Seq(("b", "a"), ("b", "c"), ("x", "y")).toDF("id_a", "id_b")
    val sGot = graft.ops.Components.minLabel(sEdges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(sGot === Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
  }

  test("Components.minLabel: fat string edges exceed the BYTE bound and " +
    "route distributed despite a small edge count") {
    import spark.implicits._
    // few edges (far under localSolveMaxEdges) but each id is a wide string
    // — url/content-hash shaped — so the driver-copy estimate trips the
    // byte bound and the distributed loop must produce the same labels
    val wide = (c: Char, i: Int) => s"${c.toString * 2000}_$i"
    val fat = Seq(
      (wide('a', 1), wide('a', 2)), (wide('a', 2), wide('a', 3)),
      (wide('b', 1), wide('b', 2))).toDF("id_a", "id_b")
    val savedBytes = graft.ops.Components.localSolveMaxBytes
    val got = try {
      graft.ops.Components.localSolveMaxBytes = 1024L // 3 edges × 4k chars >> 1 KiB
      graft.ops.Components.minLabel(fat).collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    } finally graft.ops.Components.localSolveMaxBytes = savedBytes
    val want = Map(
      wide('a', 1) -> wide('a', 1), wide('a', 2) -> wide('a', 1),
      wide('a', 3) -> wide('a', 1),
      wide('b', 1) -> wide('b', 1), wide('b', 2) -> wide('b', 1))
    assert(got === want)
  }

  test("Components.starContract: 10k-node path labels in O(log n) rounds") {
    import spark.implicits._
    // a path graph is the worst case for min-label propagation (diameter =
    // n, one hop per round); star contraction must finish in ~log n rounds
    val n = 10000L
    val path = spark.range(1L, n).select(
      col("id").as("id_a"), (col("id") - 1L).as("id_b"))
    // plus a separate triangle and an isolated self-loop node
    val edges = path.unionAll(
      Seq((20000L, 20001L), (20001L, 20002L), (20000L, 20002L),
        (30000L, 30000L)).toDF("id_a", "id_b"))
    val (labels, rounds) =
      graft.ops.Components.starContractWithRounds(edges)
    assert(rounds <= 25, s"expected O(log n) rounds for the path, got $rounds")
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === n.toInt + 4)
    (0L until n).foreach(i => assert(got(i) == 0L, s"path node $i"))
    Seq(20000L, 20001L, 20002L).foreach(i => assert(got(i) == 20000L))
    assert(got(30000L) == 30000L, "self-loop-only node labels itself")
    // same answer as min-label on a shallow graph (cross-check on the triangle+pair)
    val small = Seq((2L, 1L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val viaStar = graft.ops.Components.starContract(small).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaMin = graft.ops.Components.minLabel(small).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaStar === viaMin)
  }

  test("Components.starContract preserves string ids (no silent long cast)") {
    import spark.implicits._
    // clip_id-shaped keys: a cast('long') would NULL every id, drop every
    // edge, and self-label every node — silent corruption for the minLabel
    // fallback path on string-keyed graphs
    def k(i: Int) = f"clip_$i%012d"
    val chain = (1 to 200).map(i => (k(i), k(i - 1))).toDF("id_a", "id_b")
    val edges = chain.unionAll(Seq((k(900), k(901))).toDF("id_a", "id_b"))
    val got = graft.ops.Components.starContract(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.size == 203)
    (0 to 200).foreach(i => assert(got(k(i)) == k(0), s"chain node $i"))
    assert(got(k(900)) == k(900) && got(k(901)) == k(900))
  }

  test("flagship entry returns all-pass verification rows") {
    val rows = SparkEntry.entry(spark)
    assert(rows.count() > 0)
    assert(rows.filter(col("pass") === false).count() === 0)
  }
}
