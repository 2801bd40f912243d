package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Pins the Spark eval-order hazard tools/fuzz_retrieval.py found on its
  * first smoke run, and the two defenses the codebase relies on.
  *
  * The hazard: when an n-gram `transform(sequence(1, size(ws)-(n-1)),
  * i -> ... slice(ws, i, n) ...)` and an `explode` of its result sit in
  * ONE inlined plan, `InferFiltersFromGenerate` derives
  * `isnotnull(gs) AND size(gs) > 0` from the Generate; pushdown
  * substitutes gs's DEFINING expression into the inferred filter, and
  * `FilterExec` hoists IsNotNull conjuncts ahead of the user's
  * `WHERE size(ws) >= n` guard — so the transform evaluates on shorter
  * texts, where `sequence(1, k < 1)` is DESCENDING through 0 and `slice`
  * raises INVALID_PARAMETER_VALUE.START.
  *
  * Defenses pinned here:
  *  1. production q84 checkpoints the groups view (`graftCkpt()` in
  *     `Pipeline.scala`'s contamination builder), cutting the optimizer's
  *     view between transform and explode — it must stay correct on a
  *     corpus containing texts SHORTER than the gram size;
  *  2. inline SQL can instead make the expression total with a
  *     `greatest(size(ws)-(n-1), 1)` bound — identity for every row the
  *     guard keeps.
  * The hazard test itself is upgrade-tolerant: on current Spark 4.1 the
  * inline form raises; if a future Spark fixes the eval order it must
  * instead return exactly the reference rows (either way the defenses
  * above stay valid).
  */
class EvalOrderSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.wireSession(Engine.session("local[4]").newSession())

  // Crafted corpus: a clone group holding BOTH a bench (id%97=0) and a
  // train member, a train doc sharing one 4-gram with each bench text,
  // non-sharing train docs, and two texts SHORTER than 4 words (the
  // hazard trigger rows).
  private val docs: Seq[(Long, String)] = Seq(
    0L -> "alpha beta gamma delta epsilon", // bench
    1L -> "alpha beta gamma delta epsilon", // train clone of bench content
    97L -> "alpha beta gamma delta zeta",   // bench
    2L -> "alpha beta gamma nope nope",     // train, no shared 4-gram
    3L -> "x alpha beta gamma delta y",     // train, shares 1 bench gram
    6L -> "beta gamma delta zeta q",        // train, shares 1 bench gram
    4L -> "short one two",                  // 3 words: below gram size
    5L -> "tiny")                           // 1 word

  // word-4-gram reference computed by hand (see comments above):
  // doc1 carries its content's 2 grams, both in the bench union.
  private val expected = Set((1L, 2L), (3L, 1L), (6L, 1L))

  private def register(): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text").createOrReplaceTempView("documents")
  }

  test("production q84 (ckpt'd groups view) is immune to the hazard " +
    "on a corpus with below-gram-size texts") {
    register()
    val got = SparkEntry.queries("q84_contamination")(spark, "unused")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
  }

  // The inline q84 shape WITHOUT the checkpoint, word-level grams as
  // plain strings (the hazard needs only transform+slice under explode).
  private def inlineSql(seqBound: String): String =
    s"""WITH g AS (
       |  SELECT rep, train_ids, in_bench,
       |    array_distinct(transform(sequence(1, $seqBound),
       |      i -> array_join(slice(ws, i, 4), ' '))) AS gs
       |  FROM (
       |    SELECT min(doc_id) AS rep,
       |      filter(sort_array(collect_list(doc_id)), id -> id % 97 != 0) AS train_ids,
       |      exists(collect_list(doc_id), id -> id % 97 = 0) AS in_bench,
       |      split(text, ' ') AS ws
       |    FROM documents
       |    WHERE size(split(text, ' ')) >= 4
       |    GROUP BY text) g0),
       |bench AS (SELECT DISTINCT g FROM (
       |  SELECT explode(gs) AS g FROM g WHERE in_bench) b),
       |shared AS (
       |  SELECT t.rep, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
       |  FROM (SELECT rep, explode(gs) AS g FROM g
       |        WHERE size(train_ids) > 0) t
       |  JOIN bench ON t.g = bench.g GROUP BY t.rep)
       |SELECT id AS doc_id, n_shared_grams
       |FROM shared JOIN g ON g.rep = shared.rep
       |LATERAL VIEW explode(g.train_ids) x AS id""".stripMargin

  test("inline (un-checkpointed) form either hits the documented hazard " +
    "or — on a fixed Spark — returns the reference rows") {
    register()
    val res = scala.util.Try {
      spark.sql(inlineSql("size(ws) - 3"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    res match {
      case scala.util.Failure(e) =>
        // ADVICE r11: match the precise error condition, not the substring
        // 'slice' — an unrelated slice-lowering regression must FAIL here,
        // not be classified as the documented hazard. The hazard raises
        // slice's INVALID_PARAMETER_VALUE.START (sequence descends through
        // start = 0); walk the cause chain since Spark wraps task failures.
        val conditions = Iterator.iterate(e.asInstanceOf[Throwable])(_.getCause)
          .takeWhile(_ != null).take(8)
          .collect { case st: org.apache.spark.SparkThrowable => st.getCondition }
          .toSeq
        assert(conditions.contains("INVALID_PARAMETER_VALUE.START"),
          s"inline form failed with an UNEXPECTED error (not the documented " +
            s"slice INVALID_PARAMETER_VALUE.START hazard; conditions seen: " +
            s"$conditions): $e")
      case scala.util.Success(got) =>
        assert(got === expected,
          "a future Spark fixed the eval order but the inline form no " +
            "longer matches the reference — investigate before removing " +
            "the ckpt defense")
    }
  }

  test("inline form with the total greatest(...) bound returns the " +
    "reference rows") {
    register()
    val got = spark.sql(inlineSql("greatest(size(ws) - 3, 1)"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === expected)
  }
}
