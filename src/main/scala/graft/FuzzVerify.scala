package graft

import scala.jdk.CollectionConverters._

/** Differential-fuzz runner: executes a generated query file
  * (tools/fuzz_gen.py, {name: sql} in the shared Spark/DuckDB ANSI
  * subset) on the Spark side and dumps results in the same layout
  * `graft.Verify` uses, so `tools/hash_check.py` — the strict mimic of
  * the driver's DuckDB oracle gate — is the comparator.
  *
  * Full loop:
  * {{{
  * python3 tools/fuzz_gen.py 42 200 > target/fuzz_queries.json
  * sbt "runMain graft.FuzzVerify target/fuzz_queries.json /tmp/fuzz_out"
  * python3 tools/hash_check.py /root/testdata/sf0.01 /tmp/fuzz_out
  * }}}
  *
  * The curated 121-query contract corpus pins designed shapes; the fuzz
  * corpus sweeps the expression/join/agg space BETWEEN those shapes for
  * dialect or semantics divergences no one thought to write down.
  */
object FuzzVerify {
  def main(args: Array[String]): Unit = {
    val Array(queriesJson, outDir) = args.take(2)
    val spark = Engine.session()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    Engine.prepare(spark, sfDir)
    // Entries are either a plain SQL string (same text runs on both
    // engines) or {"spark": sql, "oracle": sql} pairs — the collapse-first
    // fuzzer's form (tools/fuzz_dedup.py), where the Spark side is the
    // restatement under test and the oracle side is DuckDB's naive
    // all-pairs statement of the same answer.
    val queries = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(queriesJson)).properties().asScala.toSeq.map { e =>
        val v = e.getValue
        if (v.isObject) (e.getKey, v.get("spark").asText(), v.get("oracle").asText())
        else (e.getKey, v.asText(), v.asText())
      }
    val failed =
      try Verify.dump(spark, outDir,
        queries.map { case (name, sparkSql, _) => name -> (() => spark.sql(sparkSql)) },
        queries.map { case (name, _, oracleSql) => name -> oracleSql }.toMap)
      finally spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
