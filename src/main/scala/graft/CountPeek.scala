package graft

/** One-off: materialize a named contract query at an arbitrary data scale
  * and print only its row count (`tools/run_main.sh graft.CountPeek
  * <sfDir> <query> [query...]`).
  *
  * The seam for derived correctness checks on queries whose OUTPUT is too
  * large to dump and hash at top scale (the ×100/×1000 oracle sweeps):
  * clone-multiplied corpora grow some answers quadratically (q96's
  * interval join matches every error copy against every click copy at the
  * same timestamp), so the full-content check runs at the scale where the
  * enumeration is feasible (×10) and the top-scale check compares this
  * count against the oracle-side count computed arithmetically over clone
  * groups — same protocol as q66's union-find derived check (BASELINE ×10
  * notes).
  *
  * A leading `noop` arg switches the action from `count()` to a full
  * noop-sink materialization (every output row UnsafeRow-copied through
  * the sink, same action graft.Bench times): `count()` measures
  * enumeration+aggregation but never copies rows, so it cannot see the
  * single-task UnsafeRow.copy wall the ×1000 bench hit on clone cliques —
  * `noop` is the probe that does (round-11 chunk-parallel expansion
  * before/after evidence, BASELINE ×1000 notes). */
object CountPeek {
  def main(args: Array[String]): Unit = {
    val sf = args(0)
    val noop = args.lift(1).contains("noop")
    val spark = Engine.session()
    args.drop(if (noop) 2 else 1).foreach { name =>
      val t0 = System.nanoTime()
      if (noop) {
        SparkEntry.queries(name)(spark, sf)
          .write.format("noop").mode("overwrite").save()
        println(f"NOOP $name sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      } else {
        val n = SparkEntry.queries(name)(spark, sf).count()
        println(f"COUNT $name rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      }
    }
    spark.stop()
  }
}
