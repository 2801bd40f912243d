package graft

import org.apache.spark.sql.SparkSession

/** Automated plan audit over the whole contract corpus: flags the plan
  * smells that matter at 100 TB — cartesian products, exchange storms,
  * and all-pairs NLJs inside the banded dedup family.
  *
  * Exchange counts are RATCHETED per query against
  * `plan_exchanges.snapshot` (repo root): any query whose physical plan
  * gains an exchange vs the snapshot fails the gate, so a 6→11 creep on
  * one query is caught even though it stays under the global storm
  * threshold (VERDICT r5 #4 — the r5 gate only had the blunt global
  * `>12`). The ratchet applies at the default sf0.01 dir only: relative
  * file sizes legitimately flip broadcast decisions at other scales.
  * `PlanSweepSpec` runs [[sweep]] in the test suite.
  *
  * Run: `sbt "runMain graft.PlanSweep"` — prints one line per query and a
  * BAD line per smell; exit code 1 if any smell found.
  * `sbt "runMain graft.PlanSweep --update"` — rewrite the snapshot's
  * counts from the current plans, keeping its comment lines (use after
  * an INTENTIONAL plan change, then review the snapshot diff in git).
  * `sbt "runMain graft.PlanSweep --explain [names...]"` — print formatted
  * physical plans for headline queries instead (the scale audit:
  * PushedFilters reach the parquet scan, small dims broadcast, aggregates
  * are partial+final, partitioned reads prune, WholeStageCodegen spans are
  * wide).
  */
object PlanSweep {
  private[graft] val defaultSf = "/root/testdata/sf0.01"
  private val snapshotPath = "plan_exchanges.snapshot"
  private val explainDefaults = Seq("q1_agg", "q6_selective_filter", "q3_join_topk",
    "q5_join_multiway", "q44_dedup_minhash_lsh", "q48_ann_topk_brute",
    "q58_partitioned_write_prune", "q91_bucketed_join", "q93_asof_join", "q100_kmeans",
    "q102_ann_lsh")

  def main(args: Array[String]): Unit = {
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", defaultSf)
    val spark = Engine.session("local[4]")
    val bad =
      if (args.headOption.contains("--explain")) {
        val names = if (args.length > 1) args.toSeq.tail else explainDefaults
        names.foreach { n =>
          println(s"\n===== $n =====")
          println(SparkEntry.queries(n)(spark, sf).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        }
        Nil
      } else if (args.contains("--update")) {
        val (found, observed) = audit(spark, sf, ratchet = false, println)
        if (sf == defaultSf) {
          // the snapshot's comment lines record why counts moved; keep them
          val history =
            if (new java.io.File(snapshotPath).exists()) {
              val src = scala.io.Source.fromFile(snapshotPath)
              try src.getLines().filter(_.startsWith("#")).toList finally src.close()
            } else Nil
          val w = new java.io.PrintWriter(snapshotPath)
          // ASCII-only: the PrintWriter uses the platform charset, and a
          // non-ASCII dash here has already mojibake'd once (VERDICT r7 §6)
          if (history.isEmpty)
            w.println("# per-query exchange counts at sf0.01 - PlanSweep fails any increase")
          history.foreach(w.println)
          observed.toSeq.sorted.foreach { case (n, c) => w.println(s"$n $c") }
          w.close()
          println(s"SWEEP wrote ${observed.size} entries to $snapshotPath")
        }
        found
      } else sweep(spark, sf, println)
    spark.stop()
    if (bad.nonEmpty) sys.exit(1)
  }

  /** Plan every contract entry at `sf` and return the BAD lines: a smell,
    * an entry that fails to plan, or — at the default sf0.01 — an
    * exchange count above `plan_exchanges.snapshot` or a snapshot that no
    * longer covers exactly the contract's entries. `log` receives every
    * line, ok and BAD alike. */
  def sweep(spark: SparkSession, sf: String, log: String => Unit = _ => ()): Seq[String] =
    audit(spark, sf, ratchet = sf == defaultSf, log)._1

  private def audit(spark: SparkSession, sf: String, ratchet: Boolean,
      log: String => Unit): (Seq[String], Map[String, Int]) = {
    val snapshot: Map[String, Int] =
      if (new java.io.File(snapshotPath).exists())
        scala.io.Source.fromFile(snapshotPath).getLines()
          .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
          .map { l => val Array(n, c) = l.split("\\s+"); n -> c.toInt }.toMap
      else Map.empty
    val observed = scala.collection.mutable.Map.empty[String, Int]
    val bad = Seq.newBuilder[String]
    def report(line: String, isBad: Boolean): Unit = {
      log(line)
      if (isBad) bad += line
    }
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val qe = fn(spark, sf).queryExecution
        val plan = qe.executedPlan.toString
        val exchanges = plan.linesIterator.count(_.contains("Exchange "))
        observed(name) = exchanges
        val cartesian = plan.contains("CartesianProduct")
        val bcastNlj = plan.contains("BroadcastNestedLoopJoin")
        val smells = Seq(
          // a cartesian product is only acceptable where the query IS a
          // cross join (q11) or a tiny broadcast probe (ANN/IVF assign)
          (cartesian && !Set("q11_cross_join").contains(name)) -> "CartesianProduct",
          (exchanges > 12) -> s"exchange storm ($exchanges)",
          (ratchet && snapshot.get(name).exists(exchanges > _)) ->
            s"exchange ratchet: $exchanges > snapshot ${snapshot.getOrElse(name, -1)}",
          // LSH-banded dedup must pair via equi-join on (band, bucket) —
          // an all-pairs nested-loop self-join here is the 100 TB killer
          // (q48 brute-force ANN is the deliberate all-pairs baseline)
          (bcastNlj && Set("q44_dedup_minhash_lsh", "q45_dedup_simhash",
            "q46_dedup_ngram_jaccard", "q47_dedup_embedding_cosine")
            .contains(name)) -> "all-pairs NLJ in banded dedup"
        ).collect { case (true, s) => s }
        report(f"SWEEP ${if (smells.isEmpty) "ok " else "BAD"} $name%-30s exch=$exchanges%2d" +
          (if (bcastNlj) " bnlj" else "") + smells.mkString(" [", ",", "]").replace(" []", ""),
          smells.nonEmpty)
      } catch {
        case e: Throwable =>
          report(s"SWEEP ERR $name: ${String.valueOf(e.getMessage).take(100)}", isBad = true)
      }
    }
    if (ratchet) {
      // a query the snapshot knows that no longer exists, or a new query
      // the snapshot doesn't cover, means the snapshot needs a refresh —
      // fail loudly rather than silently un-ratcheting coverage
      (snapshot.keySet -- observed.keySet).toSeq.sorted.foreach { n =>
        report(s"SWEEP BAD $n in snapshot but not in queries (re-run --update)", isBad = true)
      }
      (observed.keySet -- snapshot.keySet).toSeq.sorted.foreach { n =>
        report(s"SWEEP BAD $n not ratcheted (re-run --update)", isBad = true)
      }
      // an IMPROVEMENT should also refresh the snapshot, or the gain can
      // silently erode back to the stale ceiling
      observed.foreach { case (n, c) =>
        snapshot.get(n).filter(c < _).foreach(s =>
          log(s"SWEEP note $n improved $s -> $c (tighten with --update)"))
      }
    }
    (bad.result(), observed.toMap)
  }
}
