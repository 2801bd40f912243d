package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

/** Pins the collapse-first [[WeightedPercentile]] buffer (value →
  * weight-sum map, round 10) to the row-level multiset definition it
  * replaced: sort pairs by value, accumulate weights, return the first
  * value whose cumulative weight reaches q × total. The property corpus
  * targets exactly what the collapse changes — duplicate values whose
  * weights are pre-summed before entering the cumulative scan — plus the
  * threshold landing inside a tie run, merge across partitions, NaN
  * values, and the empty group. */
class WeightedPercentileSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session("local[4]")

  /** The reference implementation: the pre-round-10 row-level scan. */
  private def rowLevel(q: Double, pairs: Seq[(Double, Double)]): Double = {
    if (pairs.isEmpty) return Double.NaN
    val sorted = pairs.sortBy(_._1)
    val threshold = q * sorted.iterator.map(_._2).sum
    var cum = 0.0
    for ((v, w) <- sorted) {
      cum += w
      if (cum >= threshold) return v
    }
    sorted.last._1
  }

  private def viaAggregator(q: Double, pairs: Seq[(Double, Double)],
      chunks: Int = 3): Double = {
    // drive reduce + merge exactly like a partial/final agg would: split
    // into partitions, reduce each, merge the buffers, finish
    val agg = new WeightedPercentile(q)
    val bufs = pairs.grouped(math.max(1, math.ceil(pairs.size.toDouble / chunks).toInt))
      .map(part => part.foldLeft(agg.zero)((b, p) => agg.reduce(b, VW(p._1, p._2))))
      .toList
    agg.finish(if (bufs.isEmpty) agg.zero else bufs.reduce(agg.merge))
  }

  test("tie runs: threshold inside a run of equal values returns that value") {
    // values 1,1,1,2 weights 1 each; q=0.5 → threshold 2 lands on the
    // SECOND copy of 1 in row-level order — collapsed, on 1's summed run
    val pairs = Seq((1.0, 1.0), (1.0, 1.0), (1.0, 1.0), (2.0, 1.0))
    assert(viaAggregator(0.5, pairs) == 1.0)
    assert(viaAggregator(0.5, pairs) == rowLevel(0.5, pairs))
  }

  test("empty group is NaN; all-NaN values collapse to one terminal run") {
    assert(viaAggregator(0.5, Nil).isNaN)
    val nans = Seq((Double.NaN, 1.0), (Double.NaN, 2.0), (3.0, 1.0))
    // NaN sorts last (total order): q=0.9 crosses inside the NaN run
    assert(viaAggregator(0.9, nans).isNaN)
    assert(viaAggregator(0.2, nans) == 3.0)
  }

  test("buffer is bounded by distinct values even for NaN and signed zero") {
    // ADVICE r10: with Double keys, mutable.HashMap's == never matches NaN
    // so every NaN row inserted a fresh entry; the canonical-bits key must
    // collapse all NaNs to ONE entry and fold -0.0 into 0.0 (the behavior
    // numeric == had for zeros)
    val agg = new WeightedPercentile(0.3)
    val rows = Seq(VW(Double.NaN, 1.0), VW(Double.NaN, 2.0),
      VW(0.0, 1.0), VW(-0.0, 1.0), VW(5.0, 1.0))
    val buf = rows.foldLeft(agg.zero)(agg.reduce)
    assert(buf.size == 3, s"expected {NaN, 0.0, 5.0} = 3 entries, got $buf")
    // total weight 6, threshold 1.8: crosses inside 0.0's summed run (w=2)
    assert(agg.finish(buf) == 0.0)
  }

  test("property: collapse-first == row-level over duplicate-heavy corpora") {
    val pairGen = for {
      v <- Gen.chooseNum(0, 8)        // few distinct values → heavy ties
      w <- Gen.chooseNum(1, 5)
    } yield (v.toDouble, w.toDouble)
    val listGen = Gen.listOfN(40, pairGen)
    val qGen = Gen.oneOf(0.1, 0.25, 0.5, 0.75, 0.9, 1.0)
    val seeds = org.scalacheck.Gen.Parameters.default
    var rnd = org.scalacheck.rng.Seed(42L)
    for (_ <- 1 to 300) {
      val pairs = listGen.apply(seeds, rnd).get
      val q = qGen.apply(seeds, rnd.next).get
      assert(viaAggregator(q, pairs, chunks = 4) == rowLevel(q, pairs),
        s"q=$q pairs=$pairs")
      rnd = rnd.next.next
    }
  }

  test("SQL surface: weighted_median over ties matches the window oracle shape") {
    import spark.implicits._
    val df = Seq(("a", 10.0, 3.0), ("a", 10.0, 3.0), ("a", 20.0, 1.0),
      ("b", 1.0, 1.0), ("b", 2.0, 1.0)).toDF("g", "v", "w")
    df.createOrReplaceTempView("wp_spec")
    val got = spark.sql(
      "SELECT g, weighted_median(v, w) AS m FROM wp_spec GROUP BY g ORDER BY g")
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    // a: total 7, threshold 3.5 → cum(10)=6 crosses; b: threshold 1 → 1.0
    assert(got == Seq(("a", 10.0), ("b", 1.0)))
  }

  test("q80 entry == Spark running q80's row-level oracle SQL at sf0.01") {
    // the collapsed (rf, v) window against the per-row cumulative window
    // it replaces — the same definition the DuckDB oracle runs
    val sf = "/root/testdata/sf0.01"
    val s = Engine.session("local[4]").newSession()
    Engine.prepare(s, sf)
    val got = SparkEntry.queries("q80_weighted_pct_window")(s, sf).collect().toSeq
    val want = s.sql(SparkEntry.oracleSql("q80_weighted_pct_window")).collect().toSeq
    assert(got.nonEmpty)
    assert(got === want)
  }
}
