package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import scala.jdk.CollectionConverters._

/** Facade over SparkSession — the engine's single entry point.
  *
  * Mirrors the reference's `SessionContext` surface (sql entry, table
  * registration, function registry; see reference
  * `datafusion/core/src/execution/context/mod.rs:574` `SessionContext::sql`
  * and `:1117` `register_udf`) re-expressed Spark-first: a configured
  * `SparkSession`, temp views over the testdata parquet, and custom
  * functions injected into Spark's `FunctionRegistry`.
  *
  * Scale stance: [[session]] sizes a local session from the core count
  * ([[cpus]]), but nothing here is local-only — shuffle partitions and AQE
  * are the knobs a cluster deploy would override via spark-submit; all
  * query code is declarative DataFrame/SQL so Catalyst/AQE re-plan at any
  * scale.
  */
object Engine {

  /** Spark's generated-class cache: one static, JVM-wide LRU that
    * `CodeGenerator$` sizes once, from `SQLConf.get`, when it first loads.
    * Spark's default of 100 entries is below what one pass of graft's
    * queries needs, so every pass evicted and recompiled the classes the
    * pass before had compiled. Counted at sf0.01 with an unbounded cache:
    * one pass over all 124 contract entries compiles ~1400 distinct
    * classes (1400 under `Verify`, 1395 under `Bench`), and a second pass
    * in the same session compiles only the ~40–60 whose source differs
    * per run (mostly the two streaming entries); with 100 entries every
    * pass compiled ~2000. 3000 is a little over twice the count; the
    * classes it keeps cost ~11 MB of metaspace.
    * Set as a JVM system property, only if unset: `SparkConf` loads
    * `spark.*` system properties when a context starts, so every session
    * built after this object loads gets it, and a user's `-D` or builder
    * `.config` value still wins. [[prepare]] warns when a session runs
    * with less. */
  val codegenCacheConf = "spark.sql.codegen.cache.maxEntries"
  val codegenCacheEntries: Int = 3000
  sys.props.getOrElseUpdate(codegenCacheConf, codegenCacheEntries.toString)

  /** Tables the driver generates (TESTDATA.md). */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** A pid-keyed directory under `java.io.tmpdir`, deleted at JVM exit.
    * Directories the default layout would share between every JVM launched
    * from the repo root get one of these instead, so two concurrent graft
    * processes (e.g. Verify and PlanSweep) never clobber each other's
    * files mid-flight, and a checkout anywhere writes only under the
    * process's own temp area. */
  private def processDir(prefix: String): String = {
    val d = new java.io.File(
      sys.props("java.io.tmpdir"), s"$prefix-${ProcessHandle.current().pid()}")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(); ()
      }
      rm(d)
    }))
    d.getAbsolutePath
  }

  /** Per-process warehouse for managed tables (bucketed layouts, DDL).
    * The default `./spark-warehouse` is shared by every JVM launched from
    * the repo root, and [[Layout.resetManagedTable]] deletes a table's
    * directory before re-creating it; the in-memory catalog already
    * forgets managed tables at exit, so nothing ever legitimately reads
    * another process's warehouse. Override with SPARK_GRAFT_WAREHOUSE to
    * pin a location. */
  lazy val warehouseDir: String =
    sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE", processDir("graft-warehouse"))

  /** Per-process scratch area for the files contract entries write and
    * read back (source/sink round trips, streaming checkpoints). */
  lazy val tmpDir: String = processDir("graft-tmp")

  /** The [[tmpDir]] subdirectory an entry tagged `tag` uses for input
    * `dir`: one per (tag, dir), so entries over two inputs never share. */
  def scratchDir(tag: String, dir: String): String =
    s"$tmpDir/${tag}_${dir.replaceAll("[^a-zA-Z0-9]", "_")}"

  /** Cores of a graft-built local session: `SPARK_GRAFT_CPUS`, else every
    * core the JVM sees. Every main reads the variable through this. */
  lazy val cpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)

  /** The one way graft builds a session: every main (`Bench`, `Verify`,
    * `FuzzVerify`, the CLI, `PlanSweep`, `PassRun`, `CountPeek`) and every
    * spec starts here, and [[wireSession]] installs graft's functions and
    * rules exactly as [[prepare]] does on a session graft did not build.
    * Shuffle partitions default to [[cpus]]. Scale knobs, all unset by
    * default; `tools/run_main.sh` presets them for >=1 GB corpora:
    *  - SPARK_GRAFT_SHUFFLE_PARTITIONS: at ×1000 the 600M-row shuffles
    *    need more partitions than cores (BASELINE §tq4 matrix: 32→256
    *    partitions is 112→34.5 s because the per-task sort working set
    *    fits memory again).
    *  - SPARK_GRAFT_PERIODIC_GC (default Spark's own 30min): in local mode
    *    the ContextCleaner only deletes a dead shuffle's files once the JVM
    *    collects its ShuffleDependency; under a big low-pressure heap that
    *    can take the whole session, so shuffle files accumulate (a
    *    124-query dump at ×100 filled the disk with 50+ GB) and evict the
    *    input parquet from the page cache (BASELINE §×1000 suite-context
    *    tail).
    *  - SPARK_GRAFT_OFFHEAP (e.g. `48g`, unset = on-heap): off-heap
    *    Tungsten memory, so execution/agg buffers move out of the GC'd
    *    heap — the long-session remedy at ×1000 where 600M-row aggregate
    *    state churns a 96 GB heap. A cluster deploy sets the same two
    *    confs via spark-submit; pair with a SMALLER -Xmx (JVM_XMX) so
    *    total footprint stays bounded. */
  def session(master: String = s"local[$cpus]"): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.warehouse.dir", warehouseDir)
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus.toString))
      .config("spark.cleaner.periodicGC.interval",
        sys.env.getOrElse("SPARK_GRAFT_PERIODIC_GC", "30min"))
    sys.env.get("SPARK_GRAFT_OFFHEAP").filter(_.nonEmpty).foreach { sz =>
      b.config("spark.memory.offHeap.enabled", "true").config("spark.memory.offHeap.size", sz)
    }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    wireSession(s)
  }

  /** graft's optimizer rules, in the order they are appended. Both go
    * through `experimentalMethods.extraOptimizations` (the LAST optimizer
    * batch): [[BroadcastSemiJoinRewrite]] must run after
    * `RewritePredicateSubquery` has turned EXISTS into a LeftSemi join, and
    * one batch for both keeps one plan for every session. */
  private[graft] val rules = Seq(HammingJoinRewrite, BroadcastSemiJoinRewrite)

  /** The one way graft installs itself into a live session: the custom
    * function registry plus [[rules]], each appended once. [[session]]
    * applies it to every session it builds, [[prepare]] to any other (the
    * driver's, perfbench's, a `newSession()`). Idempotent. On a session
    * built with [[GraftExtensions]] the builder-injected
    * [[HammingJoinRewrite]] has already banded the join, and the second
    * copy skips it: the banded join has an equi conjunct. */
  private[graft] def wireSession(s: SparkSession): SparkSession = {
    functions.registerAll(s)
    val em = s.sessionState.experimentalMethods
    em.extraOptimizations = em.extraOptimizations ++ rules.filterNot(em.extraOptimizations.contains)
    s
  }

  /** Schema-conditional `ts` normalization to session-TZ TimestampType.
    * Long = legacy nanos → integral-divide to micros (same truncation DuckDB
    * applies casting timestamp_ns → timestamp, so oracles agree). NTZ →
    * cast; the session is pinned UTC so the cast is value-identical. */
  def normalizeTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
    case _                => df
  }

  /** Numeric event-time in MICROSECONDS for a raw (un-normalized) events
    * frame — the probe/test seam for quantile splits and watermark math
    * that must not care which physical layout the file has. */
  def tsMicrosCol(df: DataFrame): Column = df.schema("ts").dataType match {
    case LongType => expr("ts div 1000")
    case _        => unix_micros(col("ts").cast(TimestampType))
  }

  /** Expected NORMALIZED schema per table (column name → admissible Spark
    * `simpleString` types). The driver regenerates the testdata between
    * rounds and has already changed physical layouts once (events.ts:
    * TIMESTAMP(NANOS)→timestamp[us], round 7 — every query died at
    * analysis, TESTDATA.md drift history). [[auditSchema]] turns the next
    * drift into ONE readable error at prepare time instead of 123
    * cascading analyzer failures or, worse, silently wrong answers.
    * Date-ish columns admit both timestamp flavors (NTZ and LTZ coerce
    * identically against literals under the UTC session); events.ts must
    * be exactly `timestamp` — that is [[normalizeTs]]'s postcondition, so
    * a third layout it can't normalize trips the audit. */
  private val ts2 = Set("timestamp", "timestamp_ntz")
  private def one(t: String) = Set(t)
  private[graft] val expectedSchemas: Map[String, Seq[(String, Set[String])]] = Map(
    "region" -> Seq("r_regionkey" -> one("int"), "r_name" -> one("string")),
    "nation" -> Seq("n_nationkey" -> one("int"), "n_name" -> one("string"),
      "n_regionkey" -> one("int")),
    "customer" -> Seq("c_custkey" -> one("bigint"), "c_name" -> one("string"),
      "c_nationkey" -> one("int"), "c_acctbal" -> one("double"),
      "c_mktsegment" -> one("string")),
    "supplier" -> Seq("s_suppkey" -> one("bigint"), "s_name" -> one("string"),
      "s_nationkey" -> one("int"), "s_acctbal" -> one("double")),
    "part" -> Seq("p_partkey" -> one("bigint"), "p_name" -> one("string"),
      "p_brand" -> one("string"), "p_type" -> one("string"),
      "p_size" -> one("int"), "p_retailprice" -> one("double")),
    "orders" -> Seq("o_orderkey" -> one("bigint"), "o_custkey" -> one("bigint"),
      "o_orderstatus" -> one("string"), "o_totalprice" -> one("double"),
      "o_orderdate" -> ts2, "o_orderpriority" -> one("string")),
    "lineitem" -> Seq("l_orderkey" -> one("bigint"), "l_partkey" -> one("bigint"),
      "l_suppkey" -> one("bigint"), "l_linenumber" -> one("int"),
      "l_quantity" -> one("double"), "l_extendedprice" -> one("double"),
      "l_discount" -> one("double"), "l_tax" -> one("double"),
      "l_returnflag" -> one("string"), "l_linestatus" -> one("string"),
      "l_shipdate" -> ts2),
    "events" -> Seq("event_id" -> one("bigint"), "ts" -> one("timestamp"),
      "user_id" -> one("bigint"), "event_type" -> one("string"),
      "value" -> one("double"), "props" -> one("string")),
    "documents" -> Seq("doc_id" -> one("bigint"), "text" -> one("string"),
      "lang" -> one("string"), "source" -> one("string"),
      "n_chars" -> one("bigint")),
    "embeddings" -> Seq("vec_id" -> one("bigint"),
      "embedding" -> one("array<float>"), "label" -> one("int")))

  /** Fail fast and readably on testdata schema drift (see
    * [[expectedSchemas]]). Returns the table's schema fingerprint. */
  private[graft] def auditSchema(t: String, df: DataFrame): String = {
    val actual = df.schema.map(f => f.name -> f.dataType.simpleString)
    expectedSchemas.get(t).foreach { exp =>
      val guidance = " — testdata was regenerated with a new physical " +
        "layout; normalize it in Queries.T (the events/normalizeTs pattern) " +
        "or update Engine.expectedSchemas after auditing every reader. " +
        "See TESTDATA.md drift history."
      if (actual.map(_._1) != exp.map(_._1))
        throw new IllegalStateException(
          s"testdata schema changed: $t columns [${exp.map(_._1).mkString(", ")}]" +
            s" -> [${actual.map(_._1).mkString(", ")}]$guidance")
      val bad = exp.zip(actual).collect {
        case ((n, ok), (_, a)) if !ok.contains(a) =>
          s"$t.$n ${ok.mkString("|")} -> $a"
      }
      if (bad.nonEmpty)
        throw new IllegalStateException(
          s"testdata schema changed: ${bad.mkString("; ")}$guidance")
    }
    java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.seqHash(actual))
  }

  /** Register every testdata table found under `sfDir` as a temp view.
    * Views are read through [[Queries.T]], the same path the DataFrame
    * entries use (schema-conditional `events.ts`, schema inferred once per
    * session); every table is schema-audited, and the per-table
    * fingerprints are logged once per prepare so a round artifact records
    * what the engine saw. */
  def registerTables(spark: SparkSession, sfDir: String): Unit = {
    val prints = tableNames.flatMap { t =>
      if (new java.io.File(s"$sfDir/$t.parquet").exists()) {
        val df = Queries.T(spark, sfDir, t)
        val fp = auditSchema(t, df)
        df.createOrReplaceTempView(t)
        Some(s"$t=$fp")
      } else None
    }
    System.err.println(s"[graft] $sfDir schema fingerprints: ${prints.mkString(" ")}")
  }

  /** Idempotent per-query prep: [[wireSession]] + views on an arbitrary session.
    * Query lambdas in [[SparkEntry]] call this so they work on the driver's
    * own session (Verify/Bench), not just ours. Memoized per live session
    * (weak keys: a GC'd session's slot disappears instead of aliasing a new
    * session that happens to reuse its identity hash): re-reading ten
    * parquet schemas + re-analyzing the SQL-UDF shims costs ~0.3s, which
    * would otherwise be paid per query in a 91-query Verify/Bench sweep.
    */
  private val prepared =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  def prepare(spark: SparkSession, sfDir: String): SparkSession = {
    prepared.synchronized {
      if (prepared.get(spark) != sfDir) {
        wireSession(spark)
        registerTables(spark, sfDir)
        warnSmallCodegenCache(spark)
        prepared.put(spark, sfDir)
        ()
      }
    }
    spark
  }

  private val codegenCacheWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Once per JVM: say so when `spark`'s generated-class cache is smaller
    * than [[codegenCacheEntries]] — its SparkContext started before this
    * object loaded, or the user set a smaller value. Answers are the same;
    * repeated queries recompile their classes. */
  private def warnSmallCodegenCache(spark: SparkSession): Unit = {
    val n = spark.conf.get(codegenCacheConf)
    if (n.toLongOption.exists(_ < codegenCacheEntries) &&
        codegenCacheWarned.compareAndSet(false, true))
      System.err.println(
        s"[graft] WARNING: $codegenCacheConf is $n in this session, below graft's " +
          s"$codegenCacheEntries: repeated queries will recompile their generated " +
          s"classes (answers are unaffected). Start the SparkContext with " +
          s"--conf $codegenCacheConf=$codegenCacheEntries.")
  }

  /** Free cross-query executor state left behind by a previous contract
    * entry, so a long suite run (Verify/Bench: 119 queries, 2 reps) stays
    * at per-query steady state instead of accumulating block-manager and
    * GC pressure (round-4 bench showed late-suite queries 3–8× their
    * isolated times: tq18 5.68 s vs 1.18 s, q51 2.74 s vs 0.51 s — the
    * `localCheckpoint` blocks of q44/q45/q46/q66/q73/q74/q85/q100/q102 and
    * the q88/q95 streaming memory sinks were never released).
    *
    * Called at the START of each [[SparkEntry.queries]] invocation, never
    * after: an entry's returned DataFrame may still read its own
    * checkpoints/sink until the caller materializes it. Every entry
    * recreates its views and checkpoints on invocation
    * (`createOrReplaceTempView`), so dropping a PRIOR entry's state is
    * always safe. This is the same hygiene a long-lived 100 TB session
    * needs: caches are owned by the query that made them and released when
    * its result is consumed. */
  /** RDD ids persisted by [[ckpt]], with the session that made each — the
    * ONLY ids [[reclaim]] may sweep, and only for that session. Sweeping
    * `getPersistentRDDs` wholesale would clobber third-party caches and,
    * worse, a previous entry's still-lazy locally-checkpointed result
    * whose lineage is already truncated (ADVICE r5); sweeping another
    * session's ids would free blocks an entry there still reads. */
  private val ownedRddIds =
    java.util.Collections.synchronizedList(new java.util.ArrayList[(SparkSession, Int)]())

  /** Materialize `df` via `localCheckpoint()` and record the persisted
    * block's RDD id as owned by `df`'s session. Every checkpoint in query
    * code goes through here so reclaim can free exactly our blocks and
    * nothing else. The before/after diff of the persistent-RDD registry is
    * safe under the sequential contract harness (one query materializes at
    * a time). */
  def ckpt(df: DataFrame, reliable: Boolean = false): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = if (reliable) df.checkpoint() else df.localCheckpoint()
    (sc.getPersistentRDDs.keySet -- before).foreach { id =>
      ownedRddIds.add((df.sparkSession, id)); ()
    }
    out
  }

  /** Temp views registered by [[ckptView]], with their session — the
    * views [[reclaim]] drops together with the blocks they read. */
  private val ownedViews =
    java.util.Collections.synchronizedList(new java.util.ArrayList[(SparkSession, String)]())

  /** [[ckpt]] `df` and register it as temp view `name`. After the next
    * [[reclaim]] the view would only point at freed blocks, so reclaim
    * drops it too. */
  def ckptView(df: DataFrame, name: String): Unit = {
    ckpt(df).createOrReplaceTempView(name)
    ownedViews.add((df.sparkSession, name)); ()
  }

  /** Postfix syntax for [[ckpt]] and [[ckptView]]: `df.graftCkpt()`,
    * `df.graftCkptView("name")`. */
  implicit class GraftCkptOps(private val df: DataFrame) extends AnyVal {
    def graftCkpt(reliable: Boolean = false): DataFrame = ckpt(df, reliable)
    def graftCkptView(name: String): Unit = ckptView(df, name)
  }

  def reclaim(spark: SparkSession): Unit = {
    // non-blocking: removal proceeds on the block-manager side while the
    // next query plans; a blocking wait here bills the previous query's
    // cleanup to the next query's wall clock (measured: up to seconds
    // after checkpoint-heavy entries)
    val persistent = spark.sparkContext.getPersistentRDDs
    takeOwned(ownedRddIds, spark)
      .foreach(id => persistent.get(id).foreach(_.unpersist(blocking = false)))
    takeOwned(ownedViews, spark).foreach(spark.catalog.dropTempView)
    // run-to-completion streaming results (q88/q95 memory sinks) live in
    // the per-stream CLONED session (Surface.withStatePartitions) and are
    // released when the entry's result DataFrame is dropped — nothing to
    // sweep here; dropping views on `spark` would be a no-op. The drops
    // r5 did here are retired with the clone-scoped streams.
  }

  /** Remove and return what `spark` owns in `owned`; other sessions'
    * entries stay. */
  private def takeOwned[A](owned: java.util.List[(SparkSession, A)],
      spark: SparkSession): Seq[A] = owned.synchronized {
    val (mine, rest) = owned.asScala.toSeq.partition(_._1 eq spark)
    owned.clear()
    owned.addAll(rest.asJava)
    mine.map(_._2)
  }

  def sql(spark: SparkSession, query: String): DataFrame = spark.sql(query)

  /** Dynamic-typed entry mirroring the reference Python binding
    * `greatest.run_greatest(list[list]) -> list` (reference `src/lib.rs:57-90`):
    * infer a common type over the columns (Float64-dominant, lib.rs:37-53),
    * all-null fast path (lib.rs:84-88), then the row-wise greatest.
    */
  def runGreatest(columns: Seq[Seq[Any]]): Seq[Any] =
    GreatestRunner.run(session(), columns)
}
