package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The K-pass runner [[PassRun]] dumps its entries' answers. Every family
  * runs with K=3, every step through `PassRun.run` in one JVM, over
  * sf0.01's documents plus one clone of each marked document: sf0.01 has
  * no two marked documents with the same text, so without the clones
  * every group is a singleton and the clique branch emits nothing.
  *  - each pass dump holds only pairs whose SMALLER rep hashes to that
  *    pass (the predicate reads `a.rep`, the side it is pushed to);
  *  - minhash and simhash run pass ×3, expand ×3 and clique; the appended
  *    dump equals q44's or q45's answer as a row multiset and holds no
  *    row twice, the receipt that the passes are disjoint;
  *  - ngram runs pass ×3 and finish; its dumps equal q46's and q66's
  *    answers;
  *  - a step that reads a missing pass refuses to run;
  *  - q45's and q46's entries equal doc-level naive all-pairs references
  *    on the same corpus, so a fault in the clique tail the entries and
  *    the runner share cannot pass by agreeing with itself. */
class PassRunSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.wireSession(Engine.session("local[4]").newSession())
  private val K = 3
  private lazy val dir = s"${Engine.tmpDir}/pass_run_spec"
  private lazy val sf: String = {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    docs.union(docs.where("text LIKE '%dup%'").withColumn("doc_id", col("doc_id") + 1000))
      .write.mode("overwrite").parquet(s"$dir/corpus/documents.parquet")
    s"$dir/corpus"
  }

  private def run(args: Any*): Unit = PassRun.run(spark, sf, args.map(_.toString))
  private def multiset(rows: Array[Row]): Map[Row, Int] =
    rows.groupBy(identity).view.mapValues(_.length).toMap
  private def answer(entry: String): Map[Row, Int] =
    multiset(SparkEntry.queries(entry)(spark, sf).collect())
  private def dumped(path: String): Map[Row, Int] = multiset(spark.read.parquet(path).collect())

  private def passes(family: String, cand: String): Unit =
    for (i <- 0 until K) {
      run(family, "pass", K, i, cand)
      val stray = spark.read.parquet(s"$cand/pass_$i").where(s"pmod(hash(ra), $K) != $i").count()
      assert(stray == 0, s"$family pass $i holds $stray pairs whose smaller rep hashes elsewhere")
    }

  for ((family, entry) <- Seq("minhash" -> "q44_dedup_minhash_lsh", "simhash" -> "q45_dedup_simhash"))
    test(s"$family: pass ×3, expand ×3 and clique dump $entry's answer, each row once") {
      val want = answer(entry)
      val (cand, out) = (s"$dir/$family/cand", s"$dir/$family/out")
      passes(family, cand)
      for (i <- 0 until K) run(family, "expand", K, i, cand, out)
      run(family, "clique", out)
      val dump = spark.read.parquet(s"$out/$entry.parquet")
      assert(dump.count() == dump.distinct().count(), "the dump holds a row twice")
      assert(dumped(s"$out/$entry.parquet") == want)
    }

  test("ngram: pass ×3 and finish dump q46's and q66's answers") {
    val (q46, q66) = (answer("q46_dedup_ngram_jaccard"), answer("q66_dedup_components"))
    val (cand, out) = (s"$dir/ngram/cand", s"$dir/ngram/out")
    passes("ngram", cand)
    val e = intercept[IllegalArgumentException](run("ngram", "finish", K + 1, cand, out))
    assert(e.getMessage.contains(s"missing completed pass dumps $K "), e.getMessage)
    run("ngram", "finish", K, cand, out)
    assert(dumped(s"$out/q46_dedup_ngram_jaccard.parquet") == q46)
    assert(dumped(s"$out/q66_dedup_components.parquet") == q66)
  }

  /** `entry`'s answer against `naive`, run on the entry's prepared session
    * under `naiveConf`; each marked document's clone pair (d, d + 1000)
    * must be in the answer, and only the clique branch emits those. */
  private def naiveCheck(entry: String, naive: String, naiveConf: (String, String)*): Unit = {
    val got = answer(entry)
    naiveConf.foreach { case (k, v) => spark.conf.set(k, v) }
    val want = try multiset(spark.sql(naive).collect())
               finally naiveConf.foreach { case (k, _) => spark.conf.unset(k) }
    assert(got == want, s"$entry differs from its naive reference")
    val marked = spark.sql("SELECT * FROM documents WHERE text LIKE '%dup%'").count() / 2
    assert(marked > 0 && got.keys.count(r => r.getLong(1) == r.getLong(0) + 1000) == marked,
      "a marked document's clone pair is missing")
  }

  test("clique branch: q45 equals the doc-level all-pairs simhash60 join") {
    naiveCheck("q45_dedup_simhash",
      """WITH s AS (SELECT doc_id, simhash60(text) AS sh FROM documents WHERE text LIKE '%dup%')
        |SELECT a.doc_id AS da, b.doc_id AS db, cast(bit_count(a.sh ^ b.sh) AS BIGINT) AS hamming
        |FROM s a JOIN s b ON bit_count(a.sh ^ b.sh) <= 8 AND a.doc_id < b.doc_id""".stripMargin,
      HammingJoinRewrite.EnabledConf -> "false")
  }

  test("clique branch: q46 equals the doc-level all-pairs 4-gram Jaccard") {
    naiveCheck("q46_dedup_ngram_jaccard",
      s"""WITH g AS (
         |  SELECT doc_id, array_distinct(transform(sequence(1, length(text) - 3),
         |    i -> ${Pipeline.h32Spark("substr(text, i, 4)")})) AS grams
         |  FROM documents WHERE text LIKE '%dup%' AND length(text) >= 4)
         |SELECT da, db, jacc FROM (
         |  SELECT a.doc_id AS da, b.doc_id AS db,
         |    round(size(array_intersect(a.grams, b.grams)) / cast(size(a.grams) + size(b.grams)
         |      - size(array_intersect(a.grams, b.grams)) AS DOUBLE), 6) AS jacc
         |  FROM g a JOIN g b ON a.doc_id < b.doc_id) t
         |WHERE jacc >= ${Pipeline.JaccThreshold}""".stripMargin)
  }

  test("expand refuses a missing pass; a family runs only its own steps") {
    for (family <- Seq("minhash", "simhash")) {
      val e = intercept[IllegalArgumentException](
        run(family, "expand", K, 1, s"$dir/none", s"$dir/none_out"))
      assert(e.getMessage.contains("missing completed pass dumps 1 "), e.getMessage)
    }
    intercept[RuntimeException](run("ngram", "clique", s"$dir/none_out"))
    intercept[RuntimeException](run("minhash", "finish", K, s"$dir/none", s"$dir/none_out"))
    assert(!new java.io.File(s"$dir/none_out").exists)
  }
}
