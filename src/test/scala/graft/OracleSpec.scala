package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The correctness floor: every contract entry's answer at sf0.01, dumped
  * through [[Verify.dump]] exactly as `graft.Verify` dumps it, equals its
  * DuckDB oracle hash-exact under `tools/hash_check.py`; and the oracle
  * SQL itself matches the per-entry sha256 pins in `oracle_sql.sha256`,
  * so an oracle edit shows as its own diff, never together with the Spark
  * side unnoticed. */
class OracleSpec extends AnyFunSuite {
  private val sf = PlanSweep.defaultSf

  private def deleteTree(p: Path): Unit = {
    val all = Files.walk(p)
    try all.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally all.close()
  }

  test("every contract entry matches its DuckDB oracle hash-exact at sf0.01") {
    // a fresh newSession keeps confs and temp views other suites leave on
    // the shared session out of the answers
    val spark = Engine.wireSession(Engine.session("local[4]").newSession())
    val out = Files.createTempDirectory("graft-oracle")
    try {
      val runs = SparkEntry.select(Nil).map { case (name, fn) => name -> (() => fn(spark, sf)) }
      assert(Verify.dump(spark, out.toString, runs, SparkEntry.oracleSql) === Nil)
      val (code, log) = ChildProcess.run("python3", "tools/hash_check.py", sf, out.toString)
      val summary = s"== ${SparkEntry.oracleSql.size} pass, 0 fail =="
      // the FAIL lines name the entries; a run that dies early has none
      val verdict = log.linesIterator.filter(l => l.startsWith("FAIL") || l.startsWith("==")).toSeq
      assert(code === 0 && log.contains(summary),
        (if (verdict.isEmpty) log else verdict.mkString("\n")) + s"\nwant $summary")
    } finally deleteTree(out)
  }

  test("the oracle SQL of every entry matches its pin in oracle_sql.sha256") {
    val pinned = Files.readAllLines(Paths.get("oracle_sql.sha256")).asScala
      .filter(_.nonEmpty).map { l => val Array(h, n) = l.split("  ", 2); n -> h }.toMap
    val now = SparkEntry.oracleSql.map { case (n, sql) =>
      n -> java.security.MessageDigest.getInstance("SHA-256").digest(sql.getBytes(UTF_8))
        .map(b => f"${b & 0xff}%02x").mkString
    }
    val changed = (pinned.keySet ++ now.keySet).toSeq.sorted.filter(n => pinned.get(n) != now.get(n))
    assert(changed.isEmpty,
      s"oracle SQL changed for ${changed.mkString(", ")}; if intended, edit " +
        "oracle_sql.sha256 by hand (drop the line of an entry that is gone):\n" +
        changed.flatMap(n => now.get(n).map(h => s"$h  $n")).mkString("\n"))
  }
}
