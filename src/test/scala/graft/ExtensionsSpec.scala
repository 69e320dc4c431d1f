package graft

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession

/** GraftExtensions: native functions reachable from plain SQL in a session
  * built with the standard extensions mechanism.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("vec_dot / simhash60 / word_shingles / minhash_sig usable from spark.sql") {
    // force a genuinely new session so the extension path (not a leftover
    // per-session registration from another suite) is what resolves; the
    // shared session comes first, so its static confs own the JVM whatever
    // order the suites run in
    SparkSpec.spark
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    try {
      val dot = spark.sql(
        "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").collect().head.getDouble(0)
      assert(dot == 11.0)

      val sh = spark.sql(
        "SELECT word_shingles('the quick brown fox', 2) AS s").collect().head.getSeq[String](0)
      assert(sh == Seq("the quick", "quick brown", "brown fox"))

      val sig = spark.sql(
        "SELECT minhash_sig(array(1L, 2L, 3L), 4) AS m").collect().head.getSeq[Long](0)
      assert(sig.length == 4)

      val same = spark.sql(
        "SELECT simhash60('hello world') = simhash60('hello world') AS eq").collect().head.getBoolean(0)
      assert(same)
    } finally {
      // restore the shared session for later suites (don't stop the
      // SparkContext — it is shared)
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
