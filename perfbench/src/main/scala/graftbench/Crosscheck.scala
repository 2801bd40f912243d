package graftbench

import org.apache.spark.sql.SparkSession

/** Fingerprints the result dumps `graft.Verify` writes (`<dump>/<name>`),
  * one line `name fingerprint` each, so the fingerprints the benchmark
  * stores can be tied to dumps that tools/hash_check.py compared with the
  * DuckDB oracles. Usage: Crosscheck <dump dir> <name>... */
object Crosscheck {
  def main(a: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    a.tail.foreach { n =>
      println(s"$n ${Fingerprint.compute(spark.read.parquet(s"${a.head}/$n"))._2}")
    }
    spark.stop()
  }
}
