package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** PageRank kernel semantics: exact agreement with a local sequential
  * replay of the scaled-integer recurrence, plus the structural
  * properties the fixture graph implies.
  */
class GraphSpec extends SparkSuite {

  private def localPageRank[K](
      nodes: Seq[K], edges: Seq[(K, K)], iters: Int): Map[K, Long] = {
    val scale = Graph.rankScale
    val outdeg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val inbox = scala.collection.mutable.Map.empty[K, Long].withDefaultValue(0L)
      for ((s, d) <- edges) inbox(d) += r(s) / outdeg(s)
      r = nodes.map(n => n -> (scale * 15 / 100 + 85 * inbox(n) / 100)).toMap
    }
    r
  }

  /** The relational rounds the driver folds replace, as join semantics
    * reference: rank rows join edges on src, contributions sum per dst,
    * node rows left-join the sums.
    */
  private def framePageRank(nodes: DataFrame, edges: DataFrame, iters: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val srcSide = e.join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
    var ranks = nodes.select(col("id"), lit(Graph.rankScale).as("r"))
    for (_ <- 1 to iters) {
      val inbox = srcSide.join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), expr("r div deg").as("c"))
        .groupBy(col("id")).agg(sum(col("c")).as("s"))
      ranks = nodes.select(col("id")).join(inbox, Seq("id"), "left")
        .select(col("id"),
          (lit(Graph.rankScale * 15 / 100) + expr("(85 * coalesce(s, 0L)) div 100")).as("r"))
    }
    ranks.select(col("id"), col("r").as("rank_scaled"))
  }

  /** The relational min-plus rounds, as [[framePageRank]] is for ranks. */
  private def frameShortestPaths(nodes: DataFrame, edges: DataFrame, sources: DataFrame,
      maxHops: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    var dist = nodes.select(col("id"))
      .join(sources.select(col("id"), lit(0L).as("s0")), Seq("id"), "left")
      .select(col("id"), coalesce(col("s0"), lit(Graph.unreached)).as("d"))
    for (_ <- 1 to maxHops) {
      val relaxed = e.join(dist.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), (col("d") + 1).as("nd"))
        .groupBy(col("id")).agg(min(col("nd")).as("nd"))
      dist = dist.join(relaxed, Seq("id"), "left")
        .select(col("id"), least(col("d"), coalesce(col("nd"), lit(Graph.unreached))).as("d"))
    }
    dist.select(col("id"), col("d").as("hops"))
  }

  /** A result's rows as a sorted multiset, so duplicate rows count. */
  private def bag(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("pageRank matches a local sequential replay of the integer recurrence") {
    import spark.implicits._
    // hand-built graph incl. a dangling node (3) and a rank sink (4)
    val nodes = Seq(1L, 2L, 3L, 4L, 5L)
    val edges = Seq((1L, 2L), (1L, 4L), (2L, 4L), (5L, 4L), (4L, 5L))
    val out = Graph.pageRank(
        nodes.toDF("id"), edges.toDF("src", "dst"), iters = 4)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank_scaled")).toMap
    val expected = localPageRank(nodes, edges, iters = 4)
    assert(out === expected)
    // the 4↔5 cycle keeps the bulk of the mass oscillating between its
    // two members — both outrank every out-of-cycle node at any parity —
    // and the unreferenced dangling node (3) sits at pure teleport rank
    val outside = Seq(1L, 2L, 3L).map(out)
    assert(Seq(4L, 5L).map(out).min > outside.max)
    assert(out(3L) === Graph.rankScale * 15 / 100)
  }

  test("pageRank over string ids (textrank's shape) matches the local replay") {
    import spark.implicits._
    val nodes = Seq("graph", "rank", "token", "word", "lonely")
    val fwd = Seq("graph" -> "rank", "rank" -> "token", "token" -> "word", "graph" -> "word")
    val edges = fwd ++ fwd.map(_.swap)
    val out = Graph.pageRank(nodes.toDF("id"), edges.toDF("src", "dst"), iters = 3)
    assert(out.schema("id").dataType === org.apache.spark.sql.types.StringType)
    val got = out.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === localPageRank(nodes, edges, iters = 3))
  }

  test("pageRank keeps the relational join semantics for null, duplicate and non-node ids") {
    import spark.implicits._
    // node 2 is listed twice, one node id is null; edge src 9 and dst 8
    // are not nodes; one edge has a null dst and one a null src
    val nodes = Seq(Some(1L), Some(2L), Some(2L), None, Some(3L)).toDF("id")
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(2L), Some(3L)), (Some(2L), Some(8L)), (Some(9L), Some(3L)),
      (Some(3L), Some(1L)), (Some(3L), None), (None, Some(1L)), (Some(1L), Some(3L)))
      .toDF("src", "dst")
    val out = Graph.pageRank(nodes, edges, iters = 3)
    assert(bag(out) === bag(framePageRank(nodes, edges, iters = 3)))
    val rows = out.collect()
    assert(rows.length === 5)
    assert(rows.filter(_.isNullAt(0)).map(_.getLong(1)).toSeq === Seq(Graph.rankScale * 15 / 100))
    // integer node ids join long edge ids, and keep their own type
    val intNodes = Seq(1, 2, 2, 3).toDF("id")
    val intOut = Graph.pageRank(intNodes, edges, iters = 2)
    assert(intOut.schema("id").dataType === org.apache.spark.sql.types.IntegerType)
    assert(bag(intOut) === bag(framePageRank(intNodes, edges, iters = 2)))
    // float keys are refused: Spark's join normalizes NaN and -0.0
    intercept[IllegalArgumentException] {
      Graph.pageRank(Seq(1.0).toDF("id"), Seq((1.0, 1.0)).toDF("src", "dst"), 1)
    }
  }

  test("pageRank throws on a rank overflow, as the ANSI sum does") {
    import spark.implicits._
    // node 1 listed 120 000 times sends 120 000 full ranks to node 2;
    // 85 times that sum exceeds Long.MaxValue
    val nodes = (Seq.fill(120000)(1L) :+ 2L).toDF("id")
    intercept[ArithmeticException] {
      Graph.pageRank(nodes, Seq((1L, 2L)).toDF("src", "dst"), iters = 1)
    }
  }

  test("shortestPaths keeps the relational join semantics for null, duplicate and non-node ids") {
    import spark.implicits._
    // node 2 is listed twice and is a source twice; 7 is a source but no node
    val nodes = Seq(Some(1L), Some(2L), Some(2L), None, Some(3L), Some(4L)).toDF("id")
    val edges = Seq[(Option[Long], Option[Long])](
      (Some(2L), Some(3L)), (Some(3L), Some(4L)), (Some(7L), Some(1L)), (Some(3L), Some(9L)),
      (None, Some(1L)), (Some(4L), None)).toDF("src", "dst")
    val sources = Seq(Some(2L), Some(2L), Some(7L), None).toDF("id")
    val out = Graph.shortestPaths(nodes, edges, sources, maxHops = 3)
    assert(bag(out) === bag(frameShortestPaths(nodes, edges, sources, maxHops = 3)))
    assert(out.count() === 8)
  }

  test("the folds run few Spark jobs: pageRank at most 2, shortestPaths at most 3") {
    import spark.implicits._
    val nodes = (1L to 40L).toDF("id")
    val edges = ((1L to 39L).map(i => (i, i + 1)) :+ (40L -> 1L)).toDF("src", "dst")
    val (_, prJobs) = withJobCount(Graph.pageRank(nodes, edges, 3).collect())
    assert(prJobs <= 2, s"pageRank ran $prJobs jobs")
    val (_, spJobs) = withJobCount(
      Graph.shortestPaths(nodes, edges, Seq(1L).toDF("id"), maxHops = 4).collect())
    assert(spJobs <= 3, s"shortestPaths ran $spJobs jobs")
  }

  test("purchase-graph ranks: suppliers absorb rank, customers stay at teleport") {
    val out = Graph.qGraphPagerank(spark, sf).collect()
    val (supp, cust) = out.partition(_.getAs[String]("kind") == "supplier")
    assert(supp.nonEmpty && cust.nonEmpty)
    val teleport = Graph.rankScale * 15 / 100
    // customers have no in-edges: exactly the teleport floor after any
    // number of iterations
    cust.foreach(r => assert(r.getAs[Long]("rank_scaled") === teleport))
    // every supplier with buyers outranks the teleport floor
    assert(supp.map(_.getAs[Long]("rank_scaled")).max > teleport)
    // rank mass never exceeds the injected total (dangling + floor loss only)
    val total = out.map(_.getAs[Long]("rank_scaled")).sum
    assert(total <= Graph.rankScale * out.length)
  }

  test("shortestPaths matches a local BFS on a hand-built graph") {
    import spark.implicits._
    // 1-2-3-4-5 path, 6 isolated, plus a 1→4 shortcut
    val nodes = (1L to 6L).toDF("id")
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (1L, 4L))
    val out = Graph.shortestPaths(nodes, edges.toDF("src", "dst"),
        Seq(1L).toDF("id"), maxHops = 4)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("hops")).toMap
    assert(out === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L,
      6L -> Graph.unreached))
  }

  test("purchase-graph reach: bipartite parity and the 4-hop bound hold") {
    val out = Graph.qGraphReach(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val hops = r.getAs[Long]("hops")
      assert(hops >= 0 && hops <= 4)
      // edges only cross the customer/supplier bipartition: supplier
      // distances are even, customer distances odd
      if (r.getAs[String]("kind") == "supplier") assert(hops % 2 === 0)
      else assert(hops % 2 === 1)
    }
    // the sources themselves (and only they) are at distance zero
    val nSources = graft.model.Tables.supplier(spark, sf)
      .filter(org.apache.spark.sql.functions.col("s_suppkey") <= 2).count()
    assert(out.count(r => r.getAs[Long]("hops") == 0L) === nSources)
  }

  test("triangles: per-part counts match a local brute-force enumeration") {
    import org.apache.spark.sql.functions.col
    val out = Graph.qGraphTriangles(spark, sf).collect()
      .map(r => r.getAs[Long]("part_id") -> r.getAs[Long]("n_triangles")).toMap
    val pairs = graft.model.Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edges = pairs.groupBy(_._1).values.flatMap { g =>
      val ps = g.map(_._2).distinct.sorted
      for (i <- ps.indices; j <- (i + 1) until ps.length) yield (ps(i), ps(j))
    }.toSet
    val verts = edges.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    val local = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      i <- verts.indices; j <- (i + 1) until verts.length
      if edges.contains((verts(i), verts(j)))
      k <- (j + 1) until verts.length
      if edges.contains((verts(j), verts(k))) && edges.contains((verts(i), verts(k)))
    } {
      local(verts(i)) += 1; local(verts(j)) += 1; local(verts(k)) += 1
    }
    assert(out === local.toMap)
    // participation counts 3-cover the triangle set
    assert(out.values.sum % 3 === 0)
    assert(out.nonEmpty) // co-order graph is dense enough to have triangles
  }

  test("determinism: two runs at different parallelism agree bit-for-bit") {
    import spark.implicits._
    val nodes = (1L to 40L).toDF("id")
    val edges = (1L to 39L).map(i => (i, i + 1)) ++ Seq((40L, 1L), (7L, 3L), (20L, 3L))
    val a = Graph.pageRank(nodes, edges.toDF("src", "dst"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = Graph.pageRank(nodes.repartition(7), edges.toDF("src", "dst").repartition(5), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a === b)
  }

  test("k-core peel matches a local round-by-round replay; invariants hold") {
    import org.apache.spark.sql.functions.col
    val out = Graph.qGraphKcore(spark, sf).collect()
      .map(r => r.getAs[Long]("node_id") -> r.getAs[Long]("deg")).toMap
    val fwd = graft.model.Tables.orders(spark, sf)
      .join(graft.model.Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1) + Graph.supplierIdOffset))
    // local replay: 4 peel rounds over the doubled edge set
    var es = (fwd ++ fwd.map(e => (e._2, e._1))).toSet
    for (_ <- 1 to 4) {
      val deg = es.groupBy(_._1).map { case (n, g) => n -> g.size }
      val kept = deg.filter(_._2 >= 3).keySet
      es = es.filter(e => kept(e._1) && kept(e._2))
    }
    val local = es.groupBy(_._1).map { case (n, g) => n -> g.size.toLong }
    assert(out === local)
    // the peel is monotone: survivors are a subset of round-0 nodes and
    // within-core degree never exceeds the raw degree
    val raw = (fwd ++ fwd.map(e => (e._2, e._1))).groupBy(_._1)
      .map { case (n, g) => n -> g.map(_._2).distinct.size.toLong }
    out.foreach { case (n, d) => assert(d <= raw(n), s"node $n") }
  }

  test("fixpoint property on a crafted graph: a clique core survives, pendants peel off") {
    import spark.implicits._
    // K5 clique (ids 1-5) + a pendant chain 6-7-8 hanging off node 1:
    // the chain must peel away within 3 rounds, the clique must remain
    // intact with degree 4
    val clique = for { i <- 1L to 5L; j <- 1L to 5L if i != j } yield (i, j)
    val chain = Seq((1L, 6L), (6L, 1L), (6L, 7L), (7L, 6L), (7L, 8L), (8L, 7L))
    val out = Graph.kCorePeel((clique ++ chain).toDF("src", "dst"), k = 3, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === (1L to 5L).map(_ -> 4L).toMap)
  }
}
