package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.functions.{Md5Family, Native}

/** The spark.sql.extensions integration path: a session built with
  * GraftSparkExtensions resolves the graft native functions from plain
  * SQL, no Scala-side registration call needed.
  */
class ExtensionsSpec extends SparkSpecBase {
  test("withExtensions(GraftSparkExtensions) exposes graft functions to SQL") {
    val shared = spark // force shared session (and its SparkContext) up first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // getOrCreate reuses the running SparkContext but builds a FRESH
      // session, so the extensions hook actually runs
      val s2 = SparkSession.builder()
        .withExtensions(new GraftSparkExtensions())
        .getOrCreate()
      val cos = s2.sql(
        "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d))")
        .head.getDouble(0)
      assert(cos == 1.0)
      val sig = s2.sql(
        "SELECT graft_minhash16(array(1L, 2L), array(3L, 4L)) AS s")
        .selectExpr("size(s)", "s[0]").head
      assert(sig.getInt(0) == 16)
      // p=0 permutation is min(h1 mod ring) = 1
      assert(sig.getLong(1) == 1L)
      // NFC: a decomposed e + combining acute composes to U+00E9
      // the Scala \u escape embeds the REAL combining acute in the
      // SQL text (Spark's chr() is ASCII-only)
      val nfc = s2.sql("SELECT graft_nfc('e\u0301')")
        .head.getString(0)
      assert(nfc == "\u00e9" && nfc.length == 1)
      val dot = s2.sql("SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
        .head.getDouble(0)
      assert(dot == 11.0)
      val top = s2.sql("SELECT graft_topgram(array('a', 'b', 'a'), 1) AS t")
        .selectExpr("t.g", "t.c").head
      assert(top.getString(0) == "a" && top.getLong(1) == 2L)
      // the general form with the constants graft_minhash16 fixes
      val sigN = s2.sql("SELECT graft_minhash(array(1L, 2L), array(3L, 4L), " +
        s"16, ${Md5Family.Ring}L) = graft_minhash16(array(1L, 2L), array(3L, 4L))")
        .head.getBoolean(0)
      assert(sigN)
      val hit = s2.sql("SELECT graft_bloom_might_contain((SELECT " +
        "graft_bloom_agg(xxhash64(id), 3L, 1024L) FROM range(3)), xxhash64(2L))")
        .head.getBoolean(0)
      assert(hit)
      // every row of the table is called above
      assert(Native.all.map(_.name).toSet == Set("graft_cosine", "graft_minhash16",
        "graft_nfc", "graft_dot", "graft_topgram", "graft_minhash",
        "graft_bloom_agg", "graft_bloom_might_contain"))
    } finally {
      SparkSession.setActiveSession(shared)
      SparkSession.setDefaultSession(shared)
    }
  }

  test("the Scala helpers register each native function once per session") {
    import org.apache.spark.sql.functions._
    import graft.functions.{MinhashExpressions, TextExpressions, VectorExpressions}
    // a new session starts from a fresh registry without the table
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    val ids = Native.all.map(f => FunctionIdentifier(f.name))
    assert(!ids.exists(reg.functionExists))
    val df = s.sql("SELECT array(1.0d, 2.0d) AS v, array(1L, 2L) AS h, " +
      "'e\u0301' AS t, array('a', 'b', 'a') AS toks")
    val helpers: Seq[(String, () => Column)] = Seq(
      "graft_cosine" -> (() => VectorExpressions.cosineFast(s)(col("v"), col("v"))),
      "graft_dot" -> (() => VectorExpressions.dotFast(s)(col("v"), col("v"))),
      "graft_minhash" -> (() =>
        MinhashExpressions.minhashFast(s)(col("h"), col("h"), 16, Md5Family.Ring)),
      "graft_nfc" -> (() => TextExpressions.nfcFast(s)(col("t"))),
      "graft_topgram" -> (() => TextExpressions.topGramFast(s)(col("toks"), lit(1))))
    helpers.foreach { case (name, helper) =>
      val id = FunctionIdentifier(name)
      df.select(helper().as("r")).collect()
      assert(ids.forall(reg.functionExists), s"$name: table not installed")
      val builder = reg.lookupFunctionBuilder(id).get
      val info = reg.lookupFunction(id).get
      df.select(helper().as("r")).collect()
      assert(reg.lookupFunctionBuilder(id).get eq builder, s"$name re-registered")
      assert(reg.lookupFunction(id).get eq info, s"$name re-registered")
    }
    assert(df.select(TextExpressions.nfcFast(s)(col("t"))).head.getString(0) == "\u00e9")
  }

  test("NFC normalization: composition, idempotence, dedup-equality repair") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.TextExpressions.nfcFast
    val decomposed = "cafe\u0301" // e + combining acute (5 code points)
    val composed = "caf\u00e9" // precomposed (4 code points)
    assert(decomposed != composed) // the bug NFC fixes
    val df = Seq((1L, decomposed), (2L, composed), (3L, "plain ascii"))
      .toDF("id", "t")
    val out = graft.operators.TextAnalysis.nfcNormalize(df, "id", "t")
      .as[(Long, String, Int, Int, Int)].collect().toSeq
    assert(out == Seq(
      (1L, composed, 1, 5, 4), // composed, flagged, one char shorter
      (2L, composed, 0, 4, 4),
      (3L, "plain ascii", 0, 11, 11)))
    // normalized forms now dedup as equals
    assert(df.select(nfcFast(spark)(col("t")).as("n"))
      .filter(col("n") === composed).count() == 2)
  }
}
