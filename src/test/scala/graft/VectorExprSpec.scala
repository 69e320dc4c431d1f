package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.ops.Similarity

/** Native vec_dot expression: correctness vs the HOF formulation, codegen
  * and interpreted paths, float and double arrays, null behavior.
  */
class VectorExprSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  test("vec_dot equals HOF dot bit-for-bit on float arrays") {
    GraftFunctions.register(spark)
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.1f, -0.2f, 0.3f), Array(-0.4f, 0.5f, 0.25f)),
    ).toDF("a", "b")
    val rows = df.select(
      GraftFunctions.vecDot($"a", $"b").as("native"),
      Similarity.dot($"a", $"b").as("hof")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
    assert(rows.head.getDouble(0) == 32.0)
  }

  test("vec_dot handles double arrays and mixed types") {
    GraftFunctions.register(spark)
    val df = Seq((Array(1.0, 2.0), Array(3.0f, 4.0f))).toDF("a", "b")
    assert(df.select(GraftFunctions.vecDot($"a", $"b")).collect().head.getDouble(0) == 11.0)
  }

  test("vec_dot is null on null input") {
    GraftFunctions.register(spark)
    val df = Seq((Some(Array(1.0f)), Option.empty[Array[Float]])).toDF("a", "b")
    assert(df.select(GraftFunctions.vecDot($"a", $"b")).collect().head.isNullAt(0))
  }

  test("vec_dot rejects non-array arguments at analysis") {
    GraftFunctions.register(spark)
    val df = Seq((1, 2)).toDF("a", "b")
    intercept[Exception] { df.select(GraftFunctions.vecDot($"a", $"b")).collect() }
  }

  test("vec_dot participates in whole-stage codegen") {
    GraftFunctions.register(spark)
    // parquet-backed input: a local relation would be constant-folded away
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.select(GraftFunctions.vecDot($"embedding", $"embedding").as("d"))
    // the Project containing vec_dot must sit inside a WholeStageCodegen node
    val hasCodegen = q.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
        if w.toString.contains("vec_dot") => w
    }.nonEmpty
    assert(hasCodegen)
    assert(q.filter($"d" > 0).count() > 0)
  }

  test("array_sum equals HOF fold bit-for-bit, including float and empty arrays") {
    GraftFunctions.register(spark)
    val df = Seq(
      Array(0.1f, 0.2f, 0.30003f, -7.5f),
      Array[Float](),
    ).toDF("a")
    val rows = df.select(
      GraftFunctions.arraySum($"a").as("native"),
      aggregate($"a", lit(0.0), (acc, x) => acc + x).as("hof")).collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    assert(rows(1).getDouble(0) == 0.0)
  }

  test("array_sum is null on null array and null element (matches HOF)") {
    GraftFunctions.register(spark)
    val df = Seq(
      (0L, Some(Array(Option(1.0), None))),
      (1L, Option.empty[Array[Option[Double]]]),
    ).toDF("id", "a")
    val rows = df.select(
      GraftFunctions.arraySum($"a").as("native"),
      aggregate($"a", lit(0.0), (acc, x) => acc + x).as("hof")).collect()
    rows.foreach(r => assert(r.isNullAt(0) && r.isNullAt(1)))
  }

  test("array_sum participates in whole-stage codegen") {
    GraftFunctions.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = emb.select(GraftFunctions.arraySum($"embedding").as("s"))
    val hasCodegen = q.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec
        if w.toString.contains("array_sum") => w
    }.nonEmpty
    assert(hasCodegen)
  }

  test("topk_by_score keeps the k best with (score desc, id asc) ties and O(k) buffers") {
    GraftFunctions.register(spark)
    // many rows per group, ties on score — exercises heap insert + merge
    val df = (0L until 1000L).map(i => ("g", i, (i % 10).toDouble))
      .toDF("g", "id", "score").repartition(8)
    val got = df.groupBy($"g")
      .agg(GraftFunctions.topKByScore($"score", $"id", 5).as("tk"))
      .select(posexplode($"tk").as(Seq("pos", "e")))
      .select($"e.id", $"e.score", $"pos")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    // best score 9.0, tie-break ascending id: ids 9, 19, 29, 39, 49
    assert(got.toList == List((9L, 9.0), (19L, 9.0), (29L, 9.0), (39L, 9.0), (49L, 9.0)))
  }

  test("topk_by_score with string ids copies buffer-backed values (no row-buffer aliasing)") {
    GraftFunctions.register(spark)
    // parquet-backed input → UnsafeRow iteration with a reused buffer;
    // distinct string ids must survive into the emitted array
    val docs = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
      .select($"n_name", ($"n_nationkey" % 7).cast("double").as("score"))
    val got = docs.groupBy(lit(1))
      .agg(GraftFunctions.topKByScore($"score", $"n_name", 10).as("tk"))
      .select(explode($"tk").as("e")).select($"e.id")
      .collect().map(_.getString(0))
    assert(got.length == 10)
    assert(got.distinct.length == 10) // aliasing bug would repeat the last-read name
  }

  test("array_sum handles decimal and short arrays (any Number physical type)") {
    GraftFunctions.register(spark)
    val df = spark.sql(
      "SELECT array(CAST(1.25 AS DECIMAL(10,2)), CAST(2.50 AS DECIMAL(10,2))) AS d, " +
        "array(CAST(1 AS SMALLINT), CAST(2 AS SMALLINT)) AS s")
    val row = df.select(
      GraftFunctions.arraySum($"d").as("sd"),
      GraftFunctions.arraySum($"s").as("ss")).collect().head
    assert(row.getDouble(0) == 3.75)
    assert(row.getDouble(1) == 3.0)
  }

  test("topk_by_score plans as a partial aggregate, not a window") {
    GraftFunctions.register(spark)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter($"vec_id" < 3)
    val q = Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", k = 5)
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))
    assert(plan.contains("ObjectHashAggregate") || plan.contains("SortAggregate"))
    // partial + final: the aggregate appears in two stages around the exchange
    assert("topk_by_score".r.findAllIn(plan).size >= 2)
  }

  test("bpe_apply and sq_dot compile under forced codegen with non-nullable inputs") {
    GraftFunctions.register(spark)
    // Regression: expressions that can RETURN null while their inputs are
    // non-nullable must declare nullable=true, or the generated
    // `isNull = …` assignment targets a never-declared variable and the
    // stage silently falls back to interpreted eval. Forcing
    // fallback=false + CODEGEN_ONLY turns that silent degradation into a
    // test failure. Inputs are tied to range's id so constant folding
    // cannot evaluate them interpreted before codegen runs.
    spark.conf.set("spark.sql.codegen.fallback", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val merges = typedLit(Seq(Seq("a", "a"), Seq("a", "b")))
      val words = split(
        concat(lit("aa ab aab"), when($"id" < 0, lit("x")).otherwise(lit(""))), " ")
      val row = spark.range(1)
        .select(
          GraftFunctions.bpeApply(words, merges).as("sw"),
          GraftFunctions.sqDot(
            array(($"id" + 1).cast("int"), lit(2), lit(3)),
            array(lit(1.0), lit(2.0), lit(3.0))).as("d"))
        .collect().head
      assert(row.getSeq[String](0) == Seq("aa", "ab", "aa", "b"))
      assert(row.getDouble(1) == 14.0)
    } finally {
      spark.conf.unset("spark.sql.codegen.fallback")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("brute-force top-k on real embeddings matches HOF-computed cosine") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val probes = emb.filter($"vec_id" === 0)
    val native = Similarity.bruteForceTopK(emb, probes, "embedding", "vec_id", k = 3).collect()
    // independent check: HOF cosine of the top neighbor
    val top = native.head
    val hof = emb.as("c").crossJoin(probes.as("p"))
      .filter($"c.vec_id" === top.getAs[Long]("neighbor_id"))
      .select(round(Similarity.cosine($"p.embedding", $"c.embedding"), 6))
      .collect().head.getDouble(0)
    assert(top.getAs[Double]("cosine") == hof)
  }

  test("contains_any: overlaps, suffixes, multibyte, case, empties, nulls") {
    GraftFunctions.register(spark)
    val pats = Seq("abc", "bcd", "héllo", "tail")
    val df = Seq(
      (0L, "xxabcdxx"),   // 'abc' and 'bcd' overlapping
      (1L, "xbcd"),       // suffix-only match via failure links
      (2L, "say héllo!"), // multibyte UTF-8 pattern
      (3L, "ABC"),        // case-sensitive: no match
      (4L, "ab cd bc d"), // fragments only
      (5L, "xxxtail"),    // match ends at the last byte
      (6L, ""),
    ).toDF("id", "t")
      .union(Seq((7L, null.asInstanceOf[String])).toDF("id", "t"))
    val got = df.select($"id", GraftFunctions.containsAny($"t", pats).as("m"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getBoolean(1))).toMap
    assert(got(0L) == true && got(1L) == true && got(2L) == true && got(5L) == true)
    assert(got(3L) == false && got(4L) == false && got(6L) == false)
    assert(got(7L) == null) // null text propagates
    // empty pattern list never matches; empty strings in the list ignored
    assert(df.filter($"t".isNotNull)
      .select(GraftFunctions.containsAny($"t", Seq.empty[String]))
      .collect().forall(!_.getBoolean(0)))
    assert(df.filter($"id" === 4L)
      .select(GraftFunctions.containsAny($"t", Seq("", "bc d")))
      .collect().head.getBoolean(0))
  }

  test("nfc_normalize: combining marks compose, NFC-only scope, digests unify") {
    GraftFunctions.register(spark)
    val composed = "caf\u00e9"   // precomposed e-acute
    val decomposed = "cafe\u0301" // e + combining acute
    val df = Seq(
      (0L, composed),
      (1L, decomposed),
      (2L, "\ufb01le"),           // fi ligature: NFC keeps it (NFKC wouldn't)
      (3L, "plain ascii"),
      (4L, "\u212b"),             // ANGSTROM SIGN -> U+00C5 under NFC
    ).toDF("id", "t")
      .union(Seq((5L, null.asInstanceOf[String])).toDF("id", "t"))
    val got = df.select($"id",
        GraftFunctions.nfcNormalize($"t").as("n"),
        md5(GraftFunctions.nfcNormalize($"t").cast("binary")).as("d"))
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getString(1)),
          (if (r.isNullAt(2)) null else r.getString(2)))).toMap
    // the two encodings of "cafe-acute" become byte-identical — and so
    // do their digests (the dedup-stability property this exists for)
    assert(got(0L)._1 == composed && got(1L)._1 == composed)
    assert(got(0L)._2 == got(1L)._2)
    // canonical-only: the ligature survives NFC untouched
    assert(got(2L)._1 == "\ufb01le")
    // ASCII fast path is identity; singleton canonical mappings apply
    assert(got(3L)._1 == "plain ascii")
    assert(got(4L)._1 == "\u00c5")
    assert(got(5L)._1 == null) // null propagates
    // agrees with java.text.Normalizer on arbitrary mixed rows
    val mixed = "\u01fabc\u00f1o\u0308"
    val probe = Seq((0L, mixed))
      .toDF("id", "t")
      .select(GraftFunctions.nfcNormalize($"t")).collect().head.getString(0)
    assert(probe == java.text.Normalizer.normalize(
      mixed, java.text.Normalizer.Form.NFC))
  }

  test("contains_any agrees with the naive contains chain on random fixtures") {
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(17)
    def word(alpha: Int): String =
      Seq.fill(4 + rnd.nextInt(4))(('a' + rnd.nextInt(alpha)).toChar).mkString
    // patterns over a wider alphabet than the texts: most patterns can't
    // occur, so both outcomes are exercised at 2000-pattern scale
    val pats = Seq.fill(2000)(word(12)).distinct
    val texts = (0L until 300L).map(i => (i, Seq.fill(30)(word(6)).mkString(" ")))
    val df = texts.toDF("id", "t")
    val native = df.select($"id", GraftFunctions.containsAny($"t", pats).as("m"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val naive = texts.map { case (i, t) => i -> pats.exists(t.contains) }.toMap
    assert(native == naive)
    assert(native.values.exists(identity) && native.values.exists(!_),
      "fixture should exercise both outcomes")
  }

  test("contains_any demands a literal pattern list and string input") {
    GraftFunctions.register(spark)
    val df = Seq(("a", Seq("a"))).toDF("t", "p")
    val e = intercept[Exception] {
      df.select(org.apache.spark.sql.functions.call_function(
        "contains_any", $"t", $"p")).collect()
    }
    assert(e.getMessage.contains("foldable") || e.getMessage.contains("DATATYPE_MISMATCH"))
    // SQL surface through the registry
    assert(spark.sql("SELECT contains_any('big slow scan', array('big slow', 'zz'))")
      .collect().head.getBoolean(0))
  }

  test("sorted_bin_contains agrees with array_contains on sort_array'd stores") {
    // the O(log n) probe must match the O(n) scan bit-for-bit when the
    // array is sorted by Spark's own BinaryType order — random 16-byte
    // digests plus variable-length keys (shorter-prefix edge included),
    // across a store size that exercises every binary-search branch
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(23)
    def bytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    val store = (Seq.fill(257)(bytes(16)) ++ Seq(Array[Byte](1, 2), Array[Byte](1, 2, 3),
      Array[Byte](-1, -128), Array.empty[Byte])).distinct
    // probes: half members, half misses (some sharing prefixes with members)
    val probes = rnd.shuffle(store).take(120) ++ Seq.fill(120)(bytes(16)) ++
      Seq(Array[Byte](1), Array[Byte](1, 2, 3, 4), Array[Byte](-1))
    val df = probes.zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("id", "key")
      .withColumn("__bl", sort_array(typedLit(store)))
    val got = df.select($"id",
        GraftFunctions.sortedBinContains($"__bl", $"key").as("m"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val want = df.select($"id", array_contains($"__bl", $"key").as("m"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == want)
    assert(got.values.exists(identity) && got.values.exists(!_),
      "fixture should exercise both outcomes")
    // empty store: everything is a miss, never an error
    val empty = probes.take(3).zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("id", "key")
      .withColumn("__bl", typedLit(Array.empty[Array[Byte]]))
    assert(empty.select(GraftFunctions.sortedBinContains($"__bl", $"key"))
      .collect().forall(!_.getBoolean(0)))
    // type guard: non-binary array is an analysis-time error
    val e = intercept[Exception] {
      Seq((Seq(1L), Array[Byte](1))).toDF("a", "k")
        .select(org.apache.spark.sql.functions.call_function(
          "sorted_bin_contains", $"a", $"k")).collect()
    }
    assert(e.getMessage.contains("DATATYPE_MISMATCH") ||
      e.getMessage.contains("sorted_bin_contains requires"))
  }

  test("array MEDIAN and sum of squares equal the array_sort / transform forms, nulls included") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.types.DoubleType
    // the Column forms the planner used before the native expressions
    def sortedMedian(arr: Column): Column = {
      val sorted = array_sort(arr)
      val n = size(arr)
      val mid = ((n + lit(1)) / 2).cast("int")
      val lo = (n / 2).cast("int")
      when(n === 0, lit(null).cast(DoubleType))
        .when(pmod(n, lit(2)) === 1, element_at(sorted, mid).cast(DoubleType))
        .otherwise((element_at(sorted, lo).cast(DoubleType) +
          element_at(sorted, lo + 1).cast(DoubleType)) / 2.0)
    }
    def foldedSquares(arr: Column): Column =
      GraftFunctions.arraySum(transform(arr, x => x.cast(DoubleType) * x.cast(DoubleType)))
    val nan = Double.NaN
    def a(xs: java.lang.Double*): Option[Seq[java.lang.Double]] = Some(xs)
    val rows = Seq(
      a(3.0, null, 1.0), a(null, 2.0), a(1.0, null, null), a(), None,
      a(0.0, -0.0, 5.0, -0.0), a(0.0, -0.0, 1.0), a(-0.0, 0.0, 1.0), a(nan, 1.0, 2.0),
      a(2.5, 1.5, 4.0, 3.0), a(0.1, 0.7, 0.2))
    // through an exchange, so the projection is not folded into the local relation
    val df = rows.zipWithIndex.map { case (v, i) => (i, v) }.toDF("id", "v")
      .withColumn("f", $"v".cast("array<float>"))
      .withColumn("i", $"v".try_cast("array<int>"))
      .repartition(1)
    val cols = Seq("v", "f", "i")
    def run(): Seq[org.apache.spark.sql.Row] = df.select($"id" +: cols.flatMap(c => Seq(
        GraftFunctions.arrayMedian(col(c)), sortedMedian(col(c)),
        GraftFunctions.arraySumSquares(col(c)), foldedSquares(col(c)))): _*)
      .orderBy("id").collect().toSeq
    def check(got: Seq[org.apache.spark.sql.Row]): Unit = got.foreach { r =>
      for (k <- cols.indices; pair <- Seq(1, 3)) {
        val (a, b) = (r.get(1 + 4 * k + pair - 1), r.get(1 + 4 * k + pair))
        // Double.equals: NaN equals NaN, -0.0 differs from 0.0
        assert(java.util.Objects.equals(a, b), s"row ${r.getInt(0)} ${cols(k)}: native $a vs column form $b")
      }
    }
    val codegen = run()
    check(codegen)
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try check(run()) finally {
      spark.conf.unset("spark.sql.codegen.factoryMode")
      spark.conf.unset("spark.sql.codegen.wholeStage")
    }
    val median = codegen.map(r => Option(r.get(1)))
    // nulls sort last and count in n
    assert(median.take(3) == Seq(Some(3.0), None, None))
    // -0.0 and 0.0 keep their input order, as array_sort's stable sort does
    assert(median(5).map(_.asInstanceOf[Double].compareTo(-0.0)).contains(0))
    assert(median(6).map(_.asInstanceOf[Double].compareTo(-0.0)).contains(0))
    assert(median(7).map(_.asInstanceOf[Double].compareTo(0.0)).contains(0))
    assert(median(8) == Some(2.0) && median(9) == Some(2.75))
    // STDDEV through the dialect: greatest skips nulls (as DuckDB's does),
    // so a null element clamps to 0.0 rather than null
    val sd = Compiler.queryOrThrow(df.select($"id", $"v"), "SELECT id, STDDEV(v) AS sd",
      extensions = true).orderBy("id").collect().map(r => Option(r.get(1)))
    assert(sd(0) == Some(0.0) && sd(3).isEmpty && sd(9) == Some(math.sqrt(3.25 / 3)))
  }
}
