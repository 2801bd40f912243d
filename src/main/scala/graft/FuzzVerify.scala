package graft

import java.nio.file.{Files, Paths}

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
    new java.io.File(outDir).mkdirs()

    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File(queriesJson))
    var failed = 0
    // Entries are either a plain SQL string (same text runs on both
    // engines) or {"spark": sql, "oracle": sql} pairs — the collapse-first
    // fuzzer's form (tools/fuzz_dedup.py), where the Spark side is the
    // restatement under test and the oracle side is DuckDB's naive
    // all-pairs statement of the same answer.
    val oracleOut = mapper.createObjectNode()
    root.fields().forEachRemaining { e =>
      val name = e.getKey
      val (sparkSql, oracleSql) =
        if (e.getValue.isObject)
          (e.getValue.get("spark").asText(), e.getValue.get("oracle").asText())
        else { val s = e.getValue.asText(); (s, s) }
      oracleOut.put(name, oracleSql)
      try {
        spark.sql(sparkSql).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(s"[fuzz] $name ok")
      } catch { case scala.util.control.NonFatal(ex) =>
        failed += 1
        System.err.println(s"[fuzz] $name FAILED: ${ex.getMessage.take(200)}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(oracleOut))
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
