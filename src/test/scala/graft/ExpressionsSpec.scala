package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the custom Catalyst expressions: DotProduct null/length
  * semantics and the Fingerprints kernels' exact equivalence to the
  * SQL formulations they replaced (incl. non-ASCII text). */
class ExpressionsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Engine.session("local[4]")

  private def one(sql: String): Any = {
    functions.registerAll(spark)
    spark.sql(sql).collect()(0).get(0)
  }

  test("dot_product: exact left-to-right fold") {
    assert(one("SELECT dot_product(array(1D, 2D, 3D), array(4D, 5D, 6D))") == 32.0)
  }

  test("dot_product: length mismatch -> null (matches the zip_with fold)") {
    assert(one("SELECT dot_product(array(1D, 2D), array(1D))") == null)
  }

  test("dot_product: null element -> null, and the expression reports nullable") {
    assert(one("SELECT dot_product(array(1D, cast(NULL AS DOUBLE)), array(1D, 2D))") == null)
    functions.registerAll(spark)
    val df = spark.sql("SELECT dot_product(array(1D, 2D), array(3D, 4D)) AS d")
    assert(df.schema.head.nullable, "DotProduct must report nullable=true")
    assert(df.collect()(0).getDouble(0) == 11.0)
  }

  test("token_lex_count ≡ java.util.regex on random + adversarial strings") {
    val pat = java.util.regex.Pattern.compile("[a-z]+|[0-9]+|[^a-z0-9 ]")
    def regexCount(s: String): Long = {
      val m = pat.matcher(s); var n = 0L
      while (m.find()) n += 1
      n
    }
    val rnd = new scala.util.Random(42)
    val alphabet = "abz 019AZ.,!¿λ𝕏é \t"
    val cases = Seq("", " ", "   ", "abc", "abc123", "a1b2 c3", "λλ one λ",
      "𝕏ab𝕏", "a" * 1000, "tabs\tand\nnewlines") ++
      (1 to 500).map(_ => (1 to rnd.nextInt(60))
        .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    cases.foreach { s =>
      val got = Fingerprints.tokenLexCount(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      assert(got == regexCount(s), s"tokenLexCount diverges on ${s.take(40).toList}")
    }
    // and through the SQL surface (codegen path)
    functions.registerAll(spark)
    assert(one("SELECT token_lex_count('ab1 cd, 22x')") == 6L)
  }

  test("poly_hash / min_gram_hash match the SQL-HOF formulation on real docs") {
    Engine.prepare(spark, "/root/testdata/sf0.001")
    val mismatches = spark.sql(
      """SELECT count(*) FROM (
        |  SELECT doc_id,
        |    poly_hash(text) AS np,
        |    aggregate(transform(sequence(1, length(text)), i -> ascii(substr(text, i, 1))),
        |              cast(0 AS BIGINT), (acc, c) -> (acc * 31 + c) % 2147483647) AS hp,
        |    min_gram_hash(text) AS nm,
        |    array_min(transform(sequence(1, length(text) - 3),
        |      i -> cast(conv(substr(md5(substr(text, i, 4)),1,8),16,10) AS BIGINT))) AS hm
        |  FROM documents WHERE length(text) >= 4) t
        |WHERE np != hp OR nm != hm""".stripMargin).collect()(0).getLong(0)
    assert(mismatches == 0L)
  }

  test("fingerprint kernels handle non-ASCII codepoints like the HOF path") {
    functions.registerAll(spark)
    val r = spark.sql(
      """SELECT poly_hash(s) = aggregate(transform(sequence(1, length(s)),
        |         i -> ascii(substr(s, i, 1))), cast(0 AS BIGINT),
        |         (acc, c) -> (acc * 31 + c) % 2147483647),
        |  min_gram_hash(s) = array_min(transform(sequence(1, length(s) - 3),
        |         i -> cast(conv(substr(md5(substr(s, i, 4)),1,8),16,10) AS BIGINT)))
        |FROM (SELECT 'héllo wörld – ünïcode テスト' AS s)""".stripMargin).collect()(0)
    assert(r.getBoolean(0), "poly_hash diverges on non-ASCII")
    assert(r.getBoolean(1), "min_gram_hash diverges on non-ASCII")
  }

  test("simhash60 ≡ the explode-and-vote SQL on random, edge-case and sf0.1 texts") {
    functions.registerAll(spark)
    // q45's former sketch statement, kept as the reference: one row per
    // token hash, then 60 per-bit ±1 vote sums behind a GROUP BY
    val votes = (0 until Fingerprints.SimhashBits).map { b =>
      s"SUM(CASE WHEN (shiftright(x, $b) & 1) = 1 THEN 1 ELSE -1 END) AS v$b"
    }.mkString(",\n    ")
    val assemble = (0 until Fingerprints.SimhashBits).map { b =>
      s"CASE WHEN v$b >= 0 THEN shiftleft(cast(1 AS BIGINT), $b) ELSE cast(0 AS BIGINT) END"
    }.mkString(" + ")
    val reference =
      s"""WITH t AS (
         |  SELECT rep, explode(transform(split(text, ' '),
         |    w -> cast(conv(substr(md5(w),1,15),16,10) AS BIGINT))) AS x
         |  FROM sh_texts),
         |v AS (
         |  SELECT rep,
         |    $votes
         |  FROM t GROUP BY rep)
         |SELECT rep, $assemble AS sh FROM v""".stripMargin
    val rnd = new scala.util.Random(45)
    val words = Seq("", " ", "  ", "dup", "a", "zz", "é", "λλ", "テスト", "𝕏", "x1")
    val edge = Seq("", " ", "   ", "dup", " dup", "dup ", " dup ", "dup  dup",
      "a  b   c", "héllo wörld – ünïcode テスト", "𝕏 𝕏𝕏  dup")
    val random = (1 to 1000).map(_ =>
      (1 to rnd.nextInt(40)).map(_ => words(rnd.nextInt(words.size))).mkString(" "))
    import spark.implicits._
    val sf01 = PlanSweep.defaultSf.stripSuffix("sf0.01") + "sf0.1" // next to the default corpus
    val real = spark.read.parquet(s"$sf01/documents.parquet")
      .where("text LIKE '%dup%'").select("text").distinct().as[String].collect().toSeq
    assert(real.nonEmpty, "sf0.1 must hold marked 'dup' texts")
    val texts = (edge ++ random ++ real).distinct
    // an RDD-backed view, not a LocalRelation: a projection over a local
    // Seq is evaluated interpreted at optimization time, and this must
    // run the codegen'd path
    spark.sparkContext.parallelize(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, 4)
      .toDF("rep", "text").createOrReplaceTempView("sh_texts")
    val got = spark.sql("SELECT rep, simhash60(text) AS sh FROM sh_texts")
    got.createOrReplaceTempView("sh_got")
    val mismatches = spark.sql(
      s"""SELECT count(*) FROM sh_got k
         |LEFT JOIN ($reference) r ON k.rep = r.rep AND k.sh = r.sh
         |WHERE r.rep IS NULL""".stripMargin).collect()(0).getLong(0)
    assert(mismatches == 0L, s"simhash60 diverges from the SQL on $mismatches of ${texts.size} texts")
    // the interpreted path agrees with the codegen'd one
    val byRep = got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(SimHash60(org.apache.spark.sql.catalyst.expressions.Literal(t)).eval() == byRep(i.toLong),
        s"interpreted simhash60 diverges on ${t.take(40).toList}")
    }
  }

  test("min_gram_hash: under 4 codepoints -> null") {
    assert(one("SELECT min_gram_hash('abc')") == null)
    assert(one("SELECT min_gram_hash('abcd')") != null)
  }

  test("single-block mini-MD5 ≡ java.security.MessageDigest on random bytes") {
    // pins the measured-and-rejected q53 alternative (round 12 — the JDK
    // intrinsic WON; BASELINE.md §"q53 fingerprint"): it must compute the
    // same first-4-bytes-in-hex-order value on every (offset, length <= 55)
    // window, or a re-timing on a future JDK is meaningless
    val jdk = java.security.MessageDigest.getInstance("MD5")
    def ref(bytes: Array[Byte], off: Int, len: Int): Long = {
      jdk.reset(); jdk.update(bytes, off, len)
      val h = jdk.digest()
      ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) | ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
    }
    val rnd = new scala.util.Random(7)
    val buf = new Array[Byte](4096)
    rnd.nextBytes(buf)
    // every length 0..55 at varied offsets, plus dense random windows
    for (len <- 0 to 55; off <- Seq(0, 1, 17, 4096 - len))
      assert(Md5Mini.first32(buf, off, len) == ref(buf, off, len),
        s"mini-MD5 diverges at off=$off len=$len")
    for (_ <- 1 to 2000) {
      val len = rnd.nextInt(56)
      val off = rnd.nextInt(4096 - len + 1)
      assert(Md5Mini.first32(buf, off, len) == ref(buf, off, len),
        s"mini-MD5 diverges at off=$off len=$len")
    }
  }
}

/** Single-block MD5 (RFC 1321), messages ≤ 55 bytes, constants computed
  * from the spec (K(i) = ⌊|sin(i+1)|·2³²⌋): the allocation-free pure-Java
  * alternative to the JDK digest that q53's min-gram sketch measured and
  * rejected (BASELINE.md §"q53 fingerprint": MessageDigest ~79 ms vs this
  * ~103 ms per 600k grams, because HotSpot intrinsifies MD5). Returns the
  * first 32 bits of the digest in hex-string order — same contract as
  * `conv(substr(md5(x),1,8),16,10)`. */
object Md5Mini {
  val K: Array[Int] = Array.tabulate(64)(i =>
    ((math.abs(math.sin(i + 1.0)) * 4294967296.0).toLong & 0xffffffffL).toInt)
  val S: Array[Int] = Array(7, 12, 17, 22, 5, 9, 14, 20, 4, 11, 16, 23, 6, 10, 15, 21)
  private val scratch = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = new Array[Int](16)
  }

  def first32(bytes: Array[Byte], off: Int, len: Int): Long = {
    require(len <= 55, s"single-block MD5 requires len <= 55, got $len")
    val m = scratch.get()
    java.util.Arrays.fill(m, 0)
    var i = 0
    while (i < len) { m(i >> 2) |= (bytes(off + i) & 0xff) << ((i & 3) << 3); i += 1 }
    m(len >> 2) |= 0x80 << ((len & 3) << 3)
    m(14) = len << 3 // bit length; high word m(15) stays 0 for len <= 55
    var a = 0x67452301; var b = 0xefcdab89; var c = 0x98badcfe; var d = 0x10325476
    i = 0
    while (i < 64) {
      var f = 0; var g = 0
      if (i < 16) { f = (b & c) | (~b & d); g = i }
      else if (i < 32) { f = (d & b) | (~d & c); g = (5 * i + 1) & 15 }
      else if (i < 48) { f = b ^ c ^ d; g = (3 * i + 5) & 15 }
      else { f = c ^ (b | ~d); g = (7 * i) & 15 }
      val tmp = d; d = c; c = b
      b = b + Integer.rotateLeft(a + f + K(i) + m(g), S(((i >> 4) << 2) | (i & 3)))
      a = tmp
      i += 1
    }
    // digest byte order is little-endian per word: hex chars 1-8 are the
    // bytes of (a + a0) lowest-first
    java.lang.Integer.reverseBytes(a + 0x67452301).toLong & 0xffffffffL
  }
}
