package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Bucketed physical layout as a first-class engine API (SURVEY §2.4 scale
  * story, promoted from the q91 contract query per VERDICT r6 #4 — the
  * remedy measured 30× on the tq4 EXISTS shape and 7× on q3 join+agg at
  * ×1000, BASELINE.md §"Bucketed layout, paid for and measured at ×1000").
  *
  * ≙ the layout decision a 100 TB deploy makes once and amortizes over
  * every subsequent join/aggregation on the key (the reference's
  * vendored-engine counterpart is hash-repartitioned exec with a
  * co-partitioning contract, `DF:physical-plan/src/repartition/mod.rs`;
  * Spark's native form is the bucketed table). `bucketedView(table, key)`
  * returns a DataFrame over a managed parquet table bucketed AND sorted on
  * `key`:
  *
  *  - `repartition(buckets, key)` before `bucketBy(buckets, key)` uses the
  *    same murmur3-pmod placement as the bucket spec, so every bucket
  *    lands in exactly ONE file and the scan's sort order is trusted — no
  *    re-sort, no Exchange on the join key at read time;
  *  - joins/aggregations between two views bucketed on their join keys
  *    with the same bucket count plan with ZERO hash-partition Exchange
  *    (q91 and q107 assert this on their executed plans);
  *  - the write is SETUP, not query work — memoized per (warehouse,
  *    table-name) with a per-file content fingerprint of the source, so
  *    bench reps and plan sweeps reuse the layout while a rewritten
  *    source (even same-size, same-mtime-tick — per-file tuples, ADVICE
  *    r5) rebuilds it.
  */
object Layout {

  /** (warehouse dir, bucketed table name) → (source dir, content
    * fingerprint) whose bucketed copy exists. */
  private val memo =
    scala.collection.mutable.Map.empty[(String, String), (String, String)]

  /** Content fingerprint of a parquet source (file or directory): the
    * sorted recursive list of (relative path, size, mtime) per file. */
  private[graft] def dirFingerprint(path: String): String = {
    val root = new java.io.File(path)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else Seq(f)
    walk(root).map(f =>
        s"${f.getAbsolutePath.stripPrefix(root.getAbsolutePath)}:${f.length()}:${f.lastModified()}")
      .sorted.mkString("|")
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Drop a managed table AND its warehouse directory: the in-memory
    * catalog forgets tables across JVMs but their warehouse directories
    * persist, so DROP alone can't clear the way for a re-CREATE. */
  private[graft] def resetManagedTable(s: SparkSession, name: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(
      new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath, name)
    if (loc.exists()) deleteRecursively(loc)
  }

  /** Name of the managed bucketed copy for (table, key, buckets). */
  def tableName(table: String, key: String, buckets: Int): String =
    s"graft_${table}_${key}_b$buckets"

  /** Create-or-reuse the bucketed sorted layout of a testdata table under
    * `dir` and return a DataFrame over it. Thread-safe; idempotent per
    * source content. */
  def bucketedView(s: SparkSession, dir: String, table: String, key: String,
      buckets: Int = 64): DataFrame = memo.synchronized {
    val tbl = tableName(table, key, buckets)
    val k = (s.conf.get("spark.sql.warehouse.dir"), tbl)
    val fp = dirFingerprint(s"$dir/$table.parquet")
    if (!(memo.get(k).contains((dir, fp)) && s.catalog.tableExists(tbl))) {
      resetManagedTable(s, tbl)
      Queries.T(s, dir, table)
        .repartition(buckets, col(key))
        .write
        .bucketBy(buckets, key).sortBy(key)
        .format("parquet").saveAsTable(tbl)
      memo(k) = (dir, fp)
    }
    s.table(tbl)
  }
}
