package graft.functions

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.SparkSuite

/** Misra-Gries guarantees, property-tested over random streams and
  * random merge trees — the claims the two-pass heavy-hitters query
  * ([[graft.ext.TextOps.qDocHeavyHitters]]) relies on:
  *   (1) no false negatives: every item with freq > N/k is in the sketch;
  *   (2) counters underestimate by at most N/k.
  */
class MisraGriesSpec extends SparkSuite {

  private def check(name: String, p: Prop, n: Int = 60): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val streamGen = for {
    k <- Gen.choose(2, 8)
    n <- Gen.choose(0, 400)
    // Zipf-ish alphabet so heavy hitters actually occur
    items <- Gen.listOfN(n, Gen.frequency(
      8 -> Gen.const("hot"), 4 -> Gen.const("warm"),
      3 -> Gen.oneOf("a", "b", "c"), 2 -> Gen.choose(0, 50).map("cold" + _)))
    cuts <- Gen.listOfN(3, Gen.choose(0, math.max(n, 1)))
  } yield (k, items, cuts.sorted)

  test("guarantees hold across random streams and merge splits") {
    check("mg-guarantees", Prop.forAll(streamGen) { case (k, items, cuts) =>
      val agg = new MisraGries(k)
      // split the stream into chunks, sketch each, merge left-to-right —
      // exercising reduce AND merge paths; an empty stream cut only at 0
      // has no chunks and sketches to zero
      val bounds = (0 +: cuts :+ items.length).distinct.sorted
      val chunks = bounds.zip(bounds.tail).map { case (a, b) => items.slice(a, b) }
      val sketch = chunks
        .map(c => c.foldLeft(agg.zero)(agg.reduce))
        .reduceLeftOption(agg.merge).getOrElse(agg.zero)
      val result = agg.finish(sketch)
      val exact = items.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val n = items.size.toLong
      // (1) every heavy hitter survives
      exact.foreach { case (item, freq) =>
        if (freq * k > n) assert(result.contains(item), s"lost heavy hitter $item ($freq/$n, k=$k)")
      }
      // (2) estimates never exceed truth, and undershoot by at most N/k
      result.foreach { case (item, est) =>
        val freq = exact.getOrElse(item, 0L)
        assert(est <= freq, s"$item overestimated: $est > $freq")
        assert(est >= freq - n / k, s"$item undershot beyond N/k: $est < $freq - $n/$k")
      }
      // size bound: at most k-1 counters
      assert(result.size <= k - 1)
      true
    })
  }

  test("two-pass heavy hitters: distributed result equals a local exact count") {
    import org.apache.spark.sql.functions.{col, explode, split}
    val out = graft.ext.TextOps.qDocHeavyHitters(spark, sf).collect()
      .map(r => (r.getAs[String]("tok"), r.getAs[Long]("n")))
    val toks = graft.model.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("t")).collect().map(_.getString(0))
    val exact = toks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = toks.length.toLong
    val expected = exact.filter { case (_, f) => f * graft.ext.TextOps.mgK > n }
      .toSeq.sortBy { case (t, f) => (-f, t) }
    assert(out.toSeq === expected)
    assert(out.nonEmpty) // the fixture has heavy hitters — the guarantee is exercised
  }
}
