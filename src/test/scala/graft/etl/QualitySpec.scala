package graft.etl

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.model.Tables

/** Semantics tests for the data-quality operators: the generic profiler
  * reports exact known statistics on a hand-built frame, the orders
  * checks all pass on the clean testdata, and injected violations flip
  * exactly the checks that should see them.
  */
class QualitySpec extends SparkSuite {

  test("profile: exact stats on a hand-built frame") {
    import spark.implicits._
    val df = Seq(
      (Some(1L), Some("a"), Some(1.5)),
      (Some(2L), None, Some(-2.0)),
      (Some(2L), Some("b"), None),
      (None, Some("a"), Some(4.0))
    ).toDF("k", "s", "v")
    val out = Quality.profile(df, Seq("k", "s", "v")).collect()
      .map(r => r.getAs[String]("column_name") -> r).toMap
    assert(out.keySet === Set("k", "s", "v"))
    out.values.foreach(r => assert(r.getAs[Long]("n_rows") === 4L))
    assert(out("k").getAs[Long]("n_nulls") === 1L)
    assert(out("k").getAs[Long]("n_distinct") === 2L)
    assert(out("k").getAs[Double]("min_num") === 1.0)
    assert(out("k").getAs[Double]("max_num") === 2.0)
    assert(out("s").getAs[Long]("n_nulls") === 1L)
    assert(out("s").getAs[Long]("n_distinct") === 2L)
    assert(out("s").getAs[java.lang.Double]("min_num") === null) // non-numeric
    assert(out("v").getAs[Long]("n_nulls") === 1L)
    assert(out("v").getAs[Double]("min_num") === -2.0)
    assert(out("v").getAs[Double]("max_num") === 4.0)
  }

  test("checks: clean testdata passes all five") {
    val out = Quality.qCheckOrders(spark, sf).collect()
    assert(out.length === 5)
    out.foreach { r =>
      assert(r.getAs[Boolean]("passed"), r.getAs[String]("check_name"))
      assert(r.getAs[Long]("violations") === 0L)
    }
  }

  test("k-anonymity ladder: coarser generalization never increases risk") {
    val out = Quality.qKAnonCustomer(spark, sf).collect()
      .sortBy(_.getAs[Int]("generalization_level"))
    // rollup prefix levels: 0 = (seg,nat,bal), 1 = (seg,nat), 3 = (seg), 7 = ()
    assert(out.map(_.getAs[Int]("generalization_level")).toSeq === Seq(0, 1, 3, 7))
    // merging groups can only grow them: a row at risk at a coarse level
    // was necessarily at risk at every finer level
    val risk = out.map(_.getAs[Long]("rows_below_k"))
    assert(risk.zip(risk.tail).forall { case (fine, coarse) => coarse <= fine })
    val minSz = out.map(_.getAs[Long]("min_group_size"))
    assert(minSz.zip(minSz.tail).forall { case (fine, coarse) => coarse >= fine })
    // fully suppressed level: one group holding every row, zero risk
    val total = out.last
    assert(total.getAs[Long]("n_groups") === 1L)
    assert(total.getAs[Long]("rows_below_k") === 0L)
    assert(total.getAs[Double]("risk_share") === 0.0)
    out.foreach { r =>
      val share = r.getAs[Double]("risk_share")
      assert(share >= 0.0 && share <= 1.0)
    }
  }

  test("drift: shares are distributions and TVD = half the delta mass, in [0,1]") {
    val out = Quality.qEventDrift(spark, sf).collect()
    assert(out.nonEmpty)
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-12
    assert(close(out.map(_.getAs[Double]("base_share")).sum, 1.0))
    assert(close(out.map(_.getAs[Double]("cur_share")).sum, 1.0))
    out.foreach { r =>
      // the integer-exact delta IS |base_share - cur_share| (up to the
      // two divisions' rounding)
      assert(math.abs(math.abs(r.getAs[Double]("base_share") - r.getAs[Double]("cur_share"))
        - r.getAs[Double]("abs_share_delta")) <= 1e-12)
    }
    val tvd = out.map(_.getAs[Double]("abs_share_delta")).sum / 2
    assert(tvd >= 0.0 && tvd <= 1.0)
  }

  test("pseudonymization: referential integrity intact, no raw keys leak") {
    val out = Quality.qPseudonymizeJoin(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Boolean]("ri_intact"), s"nation ${r.get(0)}")
      assert(r.getAs[Long]("orders_via_pseudo") === r.getAs[Long]("orders_via_true"))
    }
    // total through the pseudonymous join = the raw join cardinality
    val direct = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey")).count()
    assert(out.map(_.getAs[Long]("orders_via_pseudo")).sum === direct)
    // the released key column carries hashes, not raw custkeys
    import graft.Exact.portableHash
    val masked = Tables.customer(spark, sf)
      .select(portableHash(concat_ws("",
        lit(Quality.pseudoSalt), col("c_custkey").cast("string"))).as("pk"),
        col("c_custkey"))
      .collect()
    masked.foreach(r => assert(r.getAs[Long]("pk") !== r.getAs[Long]("c_custkey")))
    // deterministic: same key always masks to the same pseudonym
    assert(masked.map(_.getAs[Long]("pk")).distinct.length === masked.length)
  }

  test("checks: injected violations flip exactly the right checks") {
    import spark.implicits._
    // corrupt a copy: one duplicated key, one null custkey, one bad
    // status, one negative price, one dangling custkey
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val bad = o.limit(1).select(
        col("o_orderkey"), // duplicate key
        lit(null).cast("long").as("o_custkey"), // null FK
        lit("X").as("o_orderstatus"), // out of domain
        lit(-1.0).as("o_totalprice")) // negative money
      .unionAll(o.limit(1).select(
        lit(-999L).as("o_orderkey"),
        lit(-12345L).as("o_custkey"), // dangling FK
        lit("O").as("o_orderstatus"),
        lit(1.0).as("o_totalprice")))
    val corrupted = o.unionAll(bad)
    // re-run the check grid against the corrupted frame via the same
    // code path (temp views are not part of qCheckOrders, so recompute
    // inline with the identical expressions)
    val grid = corrupted.agg(
      count(lit(1)).as("n"),
      countDistinct(col("o_orderkey")).as("nd"),
      sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("null_ck"),
      sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L).otherwise(0L))
        .as("bad_status"),
      sum(when(col("o_totalprice") < 0, 1L).otherwise(0L)).as("neg_price"))
      .collect().head
    assert(grid.getAs[Long]("n") - grid.getAs[Long]("nd") >= 1L) // dup present
    assert(grid.getAs[Long]("null_ck") === 1L)
    assert(grid.getAs[Long]("bad_status") === 1L)
    assert(grid.getAs[Long]("neg_price") === 1L)
    val dangling = corrupted.join(Tables.customer(spark, sf),
        col("o_custkey") === col("c_custkey"), "left_anti").count()
    // left_anti retains BOTH the -12345 row and the null-custkey row (a
    // null equi-key never matches, so anti keeps it) — which is the
    // desired RI semantics: a null FK is as unresolvable as a dangling
    // one. (The completeness check reports the null separately. The
    // DuckDB oracle's NOT IN would silently drop the null row — the two
    // formulations only agree under custkey_complete = pass, which the
    // clean-data oracle entry guarantees.)
    assert(dangling === 2L)
  }
  test("l-diversity: histogram matches a local class replay; conservation holds") {
    val out = Quality.qLDivCustomer(spark, sf).collect()
    val rows = Tables.customer(spark, sf)
      .select(col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")).collect()
      .map(r => ((r.getAs[Int]("c_nationkey").toLong,
        math.floor(r.getAs[Double]("c_acctbal") / 1000).toLong),
        r.getAs[String]("c_mktsegment")))
    val classes = rows.groupBy(_._1).values
      .map(g => (g.length.toLong, g.map(_._2).distinct.length.toLong)).toSeq
    val byDiv = classes.groupBy(_._2)
    assert(out.length === byDiv.size)
    val total = rows.length.toLong
    out.foreach { r =>
      val d = r.getAs[Long]("diversity")
      val g = byDiv(d)
      assert(r.getAs[Long]("n_classes") === g.length.toLong)
      assert(r.getAs[Long]("min_class_size") === g.map(_._1).min)
      assert(r.getAs[Long]("n_rows") === g.map(_._1).sum)
      assert(r.getAs[Double]("row_share") === g.map(_._1).sum.toDouble / total.toDouble)
    }
    // every customer lands in exactly one diversity band
    assert(out.map(_.getAs[Long]("n_rows")).sum === total)
    // diversity is bounded by the sensitive-attribute domain
    assert(out.map(_.getAs[Long]("diversity")).forall(d => d >= 1 && d <= 5))
  }
}
