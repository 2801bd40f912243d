package graft

/** One-off: materialize contract entries at an arbitrary data scale and
  * print only each one's row count (`tools/run_main.sh graft.CountPeek
  * <sfDir> [entry...]`).
  *
  * The seam for derived correctness checks on queries whose OUTPUT is too
  * large to dump and hash at top scale (the ×100/×1000 oracle sweeps):
  * clone-multiplied corpora grow some answers quadratically (q96's
  * interval join matches every error copy against every click copy at the
  * same timestamp), so the full-content check runs at the scale where the
  * enumeration is feasible (×10) and the top-scale check compares this
  * count against the oracle-side count computed arithmetically over clone
  * groups — same protocol as q66's union-find derived check (BASELINE ×10
  * notes). Timing `count()` per entry is also the ×1000 bench's
  * count-only protocol for clone-quadratic answers (BASELINE ×1000 notes).
  *
  * No entry names counts every entry; an unknown name fails before any
  * entry runs. */
object CountPeek {
  def main(args: Array[String]): Unit = {
    val sf = args(0)
    val entries = SparkEntry.select(args.drop(1).toSeq)
    val spark = Engine.session()
    entries.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      val n = fn(spark, sf).count()
      println(f"COUNT $name rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.1f")
    }
    spark.stop()
  }
}
