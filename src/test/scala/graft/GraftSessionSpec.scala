package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CONF` parsing, without a session. */
class GraftSessionSpec extends AnyFunSuite {
  import GraftSession.parseConf

  test("SPARK_GRAFT_CONF: ordered pairs, trimmed, split at the first '='") {
    assert(parseConf("a=1;b=2") == Seq("a" -> "1", "b" -> "2"))
    assert(parseConf(" spark.x = on ;\tk=v ") == Seq("spark.x" -> "on", "k" -> "v"))
    assert(parseConf("k=a=b;e=") == Seq("k" -> "a=b", "e" -> ""))
    assert(parseConf("") == Nil)
    assert(parseConf("  ") == Nil)
  }

  test("SPARK_GRAFT_CONF: a malformed entry throws naming the entry") {
    def rejects(spec: String, entry: String): Unit = {
      val e = intercept[IllegalArgumentException](parseConf(spec))
      assert(e.getMessage.contains(s"'$entry'"), e.getMessage)
    }
    rejects("a=b;spark.sql.x;c=d", "spark.sql.x")
    rejects("a=b;;c=d", "")
    rejects("a=b;", "")
    rejects("=v", "=v")
  }
}
