package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.rand
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("tail is the highest whole percentile with ten samples beyond it") {
    assert(Harness.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Harness.tail((1 to 40).map(_.toDouble)) == Some((75, 30.0)))
    assert(Harness.tail((1 to 100).map(_.toDouble)) == Some((90, 90.0)))
    assert(Harness.tail((1 to 11).map(_.toDouble)) == Some((9, 1.0)))
    (11 to 400).foreach { n =>
      val xs = scala.util.Random.shuffle((1 to n).map(_.toDouble))
      val Some((p, v)) = Harness.tail(xs)
      assert(xs.count(_ > v) >= 10, s"n=$n")
      // one percentile higher would leave fewer than ten beyond it
      assert(math.ceil((p + 1) * n / 100.0).toInt > n - 10, s"n=$n")
    }
  }

  test("self time counts overlapping children once") {
    val spans = Seq(
      Span(1, 0, 1, "op", "op", 0, 100),
      // two executions a Par.inParallel pair runs side by side
      Span(10, 1, 1, "execution", "a", 10, 50),
      Span(11, 1, 1, "execution", "b", 30, 70),
      Span(20, 10, 1, "job", "j", 20, 40),
      Span(21, 11, 1, "job", "k", 35, 80))
    val self = Spans.selfTimes(spans)
    assert(self(1) == 40.0)
    assert(self(10) == 20.0)
    assert(self(11) == 5.0) // its job runs past its end: clipped at 70
    assert(self(20) == 20.0)
    assert(Spans.unionWithin(Seq((0.0, 10.0), (5.0, 20.0), (30.0, 40.0)), 0, 35) == 25.0)
  }

  test("call sites map to the innermost graft module") {
    val site =
      """graft.operators.TextIndex$.query(TextIndex.scala:230)
        |graft.queries.TextQueries$.$anonfun$textIndexQ$1(TextQueries.scala:433)
        |perfbench.QueryMix.pass(Workloads.scala:102)""".stripMargin
    assert(Spans.module(site) == "operators.TextIndex")
    assert(Spans.module("graft.engine.Par$$anon$1.run(Par.scala:17)") == "engine.Par")
    assert(Spans.module("perfbench.Harness$.fingerprint(Harness.scala:60)") == "perfbench")
    assert(Spans.module("java.lang.Thread.run(Thread.java:840)") == "spark")
  }

  test("fingerprints ignore row order and partitioning but not content") {
    import spark.implicits._
    val df = (1 to 500).map(i => (i.toLong, s"t$i", i * 0.1)).toDF("id", "t", "x")
    val fp = Harness.fingerprint(df)
    assert(fp._1 == 500)
    assert(Harness.fingerprint(df.orderBy(rand(7)).repartition(5)) == fp)
    assert(Harness.fingerprint(df.filter($"id" =!= 3)) != fp)
    assert(Harness.fingerprint(df.union(df.limit(1))) != fp)
  }

  test("inputs are a function of the seed") {
    assert(Gen.documents(1, 200) == Gen.documents(1, 200))
    assert(Gen.documents(1, 200) != Gen.documents(2, 200))
    def emb(s: Long) = Gen.embeddings(s, 50).map { case (i, v, l) => (i, v.toSeq, l) }
    assert(emb(1) == emb(1))
    assert(emb(1) != emb(2))
    assert(Gen.powerMinutes(1, 300) == Gen.powerMinutes(1, 300))
    assert(Gen.powerMinutes(1, 300) != Gen.powerMinutes(2, 300))
  }
}
