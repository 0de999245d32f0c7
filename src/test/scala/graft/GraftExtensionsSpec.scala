package graft

import org.apache.spark.sql.SparkSession

/** Every entry of the kernel table ([[GraftExtensions.functions]]) must
  * resolve from plain SQL both in a session built with the extension —
  * the "switch your session to this library" story — and in a plain
  * session once a registry entry has run on it.
  */
class GraftExtensionsSpec extends SparkSpec {

  /** One SQL call per table entry, with arguments of its input types. */
  private val calls: Map[String, String] = Map(
    "graft_vec_dot" -> ("graft_vec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
      "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)))"),
    "graft_qsqdist" -> "graft_qsqdist(array(1L, 5L), array(4L, 1L))",
    "graft_simhash64" -> "graft_simhash64(array(1L, 2L))",
    "graft_minhash16" -> "graft_minhash16(array(1L, 2L))",
    "graft_bbit_minhash16" -> "graft_bbit_minhash16('a b c d')",
    "graft_shingle3" -> "graft_shingle3('a b c d')",
    "graft_tokenhash64" -> "graft_tokenhash64('a b c d')",
    "graft_simhash_sig" -> "graft_simhash_sig('a b c d')",
    "graft_cdc_cuts" -> "graft_cdc_cuts('the quick brown fox jumps over the lazy dog')",
    "graft_zorder2" -> "graft_zorder2(3L, 1L)",
    "graft_text_search" -> "graft_text_search('Merge Join Rocks', 'join')",
    "graft_token_prefix" -> "graft_token_prefix('merge join rocks', 'jo')")

  private val names = GraftExtensions.functions.map(_._1.funcName)

  private def resolves(s: SparkSession, name: String): Boolean =
    scala.util.Try(s.sql(s"SELECT ${calls(name)}").collect()).isSuccess

  test("the kernel table has one entry per kernel, 12 distinct names") {
    assert(names.size == 12)
    assert(names.distinct.size == names.size, s"duplicate names: ${names.diff(names.distinct)}")
    assert(names.toSet == calls.keySet, "every table entry needs a sample call here")
  }

  test("withExtensions registers all graft functions for SQL use") {
    // getOrCreate would silently reuse the shared test session (whose
    // registry already holds the table) — clear the default so a
    // genuinely fresh session is built, then restore
    val saved = SparkSession.getDefaultSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val s2 = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      names.foreach(n => assert(resolves(s2, n), s"$n does not resolve"))
      val dot = s2.sql(s"SELECT ${calls("graft_vec_dot")} AS d").head().getDouble(0)
      assert(dot == 11.0)
      assert(s2.sql(s"SELECT ${calls("graft_qsqdist")}").head().getLong(0) == 25L)
      assert(s2.sql(s"SELECT ${calls("graft_text_search")}").head().getBoolean(0))
      assert(s2.sql(s"SELECT ${calls("graft_token_prefix")}").head().getBoolean(0))
      assert(!s2.sql(s"SELECT ${calls("graft_simhash64")} IS NULL AS n").head().getBoolean(0))
      assert(s2.sql(s"SELECT size(${calls("graft_minhash16")}) AS k").head().getInt(0) == 16)
      // zorder: x=0b11 → bits 0,2; y=0b1 → bit 1 ⇒ z=0b111=7
      assert(s2.sql(s"SELECT ${calls("graft_zorder2")} AS z").head().getLong(0) == 7L)
    } finally {
      // the new session shares the JVM's SparkContext — do NOT stop it;
      // just restore the shared session for the remaining suites
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      saved.foreach(SparkSession.setDefaultSession)
    }
  }

  test("a newSession resolves no graft function until a registry entry runs on it") {
    val fresh = spark.newSession()
    names.foreach(n => assert(!resolves(fresh, n), s"$n resolves before any entry ran"))
    SparkEntry.queries("agg_hash_groupby")(fresh, sf)
    names.foreach(n => assert(resolves(fresh, n), s"$n does not resolve after an entry ran"))
  }
}
