package graft

import org.apache.spark.sql.Row

/** Generic same-JVM SQL A/B: run two SQL statements from argv alternating
  * (A,B,A,B,…) REPS times each under the Bench noop-sink protocol, so the
  * box's ambient drift cancels out of the comparison (this box swings up
  * to ~10× on multi-minute windows — round-17 measurement protocol).
  * Also verifies the two statements return IDENTICAL typed row multisets
  * (column types, then row count, then rows) before timing, so a
  * formulation A/B can't silently change the answer.
  *
  * Usage: tools/run_main.sh graft.R17SqlAb "<sqlA>" "<sqlB>"
  */
object R17SqlAb {
  /** Row multiset over typed values. Floating values compare by bit
    * pattern (NaN equals NaN, -0.0 differs from 0.0: the oracle hash
    * check sees bits) and binary by content; callers compare the column
    * types first, so equal keys come from equal types. */
  private def bag(rows: Array[Row]): Map[Any, Array[Row]] = {
    def canon(v: Any): Any = v match {
      case r: Row => r.toSeq.map(canon)
      case b: Array[Byte] => b.toSeq
      case s: scala.collection.Seq[_] => s.map(canon)
      case m: scala.collection.Map[_, _] => m.map { case (k, x) => canon(k) -> canon(x) }
      case d: Double => java.lang.Double.doubleToLongBits(d)
      case f: Float => java.lang.Float.floatToIntBits(f)
      case x => x
    }
    rows.groupBy(canon)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: R17SqlAb <sqlA> <sqlB>")
    val Seq(a, b) = args.take(2).toSeq
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("REPS", "3").toInt
    val spark = Engine.session()
    Engine.prepare(spark, sf)
    val (da, db) = (spark.sql(a), spark.sql(b))
    val (ta, tb) = (da.schema.map(_.dataType), db.schema.map(_.dataType))
    require(ta == tb, s"A/B column types differ: $ta vs $tb")
    val (ra, rb) = (da.collect(), db.collect())
    require(ra.length == rb.length, s"A/B row counts differ: ${ra.length} vs ${rb.length}")
    val (ba, bb) = (bag(ra), bag(rb))
    def n(m: Map[Any, Array[Row]], k: Any) = m.get(k).fold(0)(_.length)
    (ba.keySet ++ bb.keySet).find(k => n(ba, k) != n(bb, k)).foreach { k =>
      throw new IllegalArgumentException(s"A/B results differ; first differing row " +
        s"(A x${n(ba, k)}, B x${n(bb, k)}): ${ba.getOrElse(k, bb(k)).head}")
    }
    println(s"ABEQ identical (${ra.length} rows)")
    (1 to reps).foreach { r =>
      Seq("A" -> a, "B" -> b).foreach { case (name, sql) =>
        val t0 = System.nanoTime()
        spark.sql(sql).write.format("noop").mode("overwrite").save()
        println(f"AB17 rep=$r $name ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      }
    }
    spark.stop()
  }
}
