package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** [[Queries.T]] infers each table's parquet schema once per session and
  * returns a fresh relation per call: repeated reads start no Spark job,
  * answer exactly like a plain `read.parquet`, and a rewritten file is
  * inferred again. */
class TableReadSpec extends AnyFunSuite {

  lazy val spark = Engine.session("local[4]")
  // the benchmark's committed sf0.01 copy: present in every checkout
  private val sf = new java.io.File("perfbench/data/sf0.01").getAbsolutePath

  /** Spark jobs started by `body` on this thread. A marker job run after
    * `body` is the barrier: the listener bus delivers events in order, so
    * once the marker's start arrives every earlier job has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val (key, tag) = ("graft.spec.phase", s"t${System.nanoTime()}")
    val n = new AtomicInteger
    val marked = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty(key)) match {
          case Some(`tag`) => n.incrementAndGet(); ()
          case Some(m) if m == s"$tag-marker" => marked.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setLocalProperty(key, tag)
      body
      sc.setLocalProperty(key, s"$tag-marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marked.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
      n.get
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(l)
    }
  }

  test("a repeated read of the same (dir, table) starts no Spark job") {
    val first = jobsDuring(Queries.T(spark, sf, "orders").schema)
    val again = jobsDuring {
      (1 to 3).foreach(_ => Queries.T(spark, sf, "orders").schema)
    }
    assert(again == 0, s"repeated T(orders) started $again jobs (first call: $first)")
  }

  test("T has the plain read's schema, and prepare fills the memo") {
    Engine.prepare(spark, sf)
    Engine.tableNames.filterNot(_ == "events").foreach { t =>
      val plain = spark.read.parquet(s"$sf/$t.parquet").schema
      assert(Queries.T(spark, sf, t).schema == plain, s"$t schema drift")
    }
    assert(jobsDuring(Engine.tableNames.foreach(Queries.T(spark, sf, _))) == 0)
  }

  test("T(lineitem) self-join on l_orderkey counts as the plain read's") {
    def selfJoin(a: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =
      a.join(b, a("l_orderkey") === b("l_orderkey")).count()
    val p = s"$sf/lineitem.parquet"
    val want = selfJoin(spark.read.parquet(p), spark.read.parquet(p))
    val got = selfJoin(Queries.T(spark, sf, "lineitem"), Queries.T(spark, sf, "lineitem"))
    val perKey = spark.read.parquet(p).groupBy("l_orderkey").count()
      .agg(sum(col("count") * col("count"))).head().getLong(0)
    assert(got == want && want == perKey, s"self-join: T $got, plain $want, per-key $perKey")
  }

  test("a file rewritten in place gets its schema inferred again") {
    import spark.implicits._
    val dir = s"${Engine.tmpDir}/table_read_spec"
    Seq((1, "a")).toDF("k", "v").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Queries.T(spark, dir, "t").schema.fieldNames.toSeq == Seq("k", "v"))
    assert(jobsDuring(Queries.T(spark, dir, "t")) == 0)
    Seq((2L, "b", 3.5)).toDF("k", "v", "w").write.mode("overwrite").parquet(s"$dir/t.parquet")
    var df: org.apache.spark.sql.DataFrame = null
    assert(jobsDuring { df = Queries.T(spark, dir, "t") } > 0, "rewrite must re-infer")
    assert(df.schema.map(f => f.name -> f.dataType) ==
      Seq("k" -> LongType, "v" -> StringType, "w" -> DoubleType))
    assert(df.collect().map(_.toSeq).toSeq == Seq(Seq(2L, "b", 3.5)))
  }

  test("events.ts is still TimestampType through T") {
    val ev = Queries.T(spark, sf, "events")
    assert(ev.schema("ts").dataType == TimestampType)
    val year = ev.agg(max("ts")).head().getTimestamp(0)
      .toInstant.atZone(java.time.ZoneOffset.UTC).getYear
    assert(year >= 2000 && year <= 2100, s"events max(ts) year $year")
  }

  test("a dir that prepare never saw reads correctly") {
    val other = s"${Engine.tmpDir}/table_read_spec_unseen"
    new java.io.File(other).mkdirs()
    Seq("nation", "lineitem").foreach { t =>
      java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/$t.parquet"),
        java.nio.file.Paths.get(s"$other/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    Engine.prepare(spark, sf)
    val p = s"$other/nation.parquet"
    val got = Queries.T(spark, other, "nation").orderBy("n_nationkey").collect().toSeq
    val want = spark.read.parquet(p).orderBy("n_nationkey").collect().toSeq
    assert(got == want)
    assert(Queries.T(spark, other, "lineitem").count() ==
      spark.read.parquet(s"$other/lineitem.parquet").count())
  }
}
