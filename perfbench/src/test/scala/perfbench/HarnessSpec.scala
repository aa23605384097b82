package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  // adaptive execution off: it runs a count's shuffle stage as a job of
  // its own, and the attribution test counts jobs exactly
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.adaptive.enabled", "false")
    .config("spark.local.dir", "target/spark-local")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("tail is the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailLevel(19).isEmpty)
    assert(Stats.tailLevel(20).contains(50.0))
    assert(Stats.tailLevel(40).contains(75.0))
    assert(Stats.tailLevel(100).contains(90.0))
    assert(Stats.tailLevel(1000).contains(99.0))
    Seq(20, 30, 33, 42, 57, 100).foreach { n =>
      val xs = (1 to n).map(_.toDouble)
      val tail = Stats.percentile(xs, Stats.tailLevel(n).get)
      assert(xs.count(_ > tail) >= 10, s"n=$n")
      assert(xs.count(_ > tail) <= 11, s"n=$n")
    }
  }

  test("percentiles interpolate between order statistics") {
    val xs = (1 to 5).map(_.toDouble)
    assert(Stats.median(xs) == 3.0)
    assert(Stats.percentile(xs, 75) == 4.0)
    assert(Stats.percentile(Seq(1.0, 2.0), 50) == 1.5)
    assert(Stats.percentile(Seq(7.0), 90) == 7.0)
  }

  test("job-interval union merges overlaps and clips to the span") {
    assert(Stats.unionLength(Nil, 0, 100) == 0)
    assert(Stats.unionLength(Seq((10L, 20L), (30L, 40L)), 0, 100) == 20)
    assert(Stats.unionLength(Seq((10L, 30L), (20L, 40L)), 0, 100) == 30)
    assert(Stats.unionLength(Seq((10L, 50L), (20L, 30L)), 0, 100) == 40)
    assert(Stats.unionLength(Seq((30L, 40L), (10L, 20L), (15L, 35L)), 0, 100) == 30)
    assert(Stats.unionLength(Seq((-10L, 20L), (90L, 200L)), 0, 100) == 30)
    assert(Stats.unionLength(Seq((150L, 200L)), 0, 100) == 0)
  }

  test("listener attributes exactly the span's own jobs to it") {
    val tracer = new Tracer(spark, enabled = true, runId = "selftest")
    tracer.attach()
    spark.range(10).count() // outside every span
    tracer.span("outer") {
      tracer.span("count")(spark.range(1000).count())
      tracer.span("driver-only")(Thread.sleep(20))
    }
    val costs = tracer.costs().map { case (s, c) => s.name -> c }.toMap
    tracer.detach()
    assert(costs("count").jobs == 1)
    assert(costs.values.map(_.jobs).sum == 1)
    assert(costs("driver-only").jobs == 0)
    assert(costs("outer").jobs == 0)
    assert(costs("count").taskMs >= 0)
    assert(costs("count").driverMs <= costs("count").wallMs)
    assert(costs("driver-only").driverMs == costs("driver-only").wallMs)
    val spans = tracer.spans.map(s => s.name -> s).toMap
    assert(spans("count").parent == spans("outer").id)
    assert(spans("outer").parent == "")
    assert(tracer.spans.forall(_.id.startsWith("selftest-")))
  }

  test("a disabled tracer records nothing and sets no job group") {
    val tracer = new Tracer(spark, enabled = false, runId = "off")
    tracer.attach()
    assert(tracer.span("x")(spark.range(10).count()) == 10)
    assert(tracer.spans.isEmpty)
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null)
  }

  test("metric names use only letters, digits, '_', '.' and '-'") {
    val names = Main.EndToEnd.map(_._1) ++ Layers.all.map(_._1)
    assert(names.distinct.size == names.size)
    names.foreach(n => assert(Stats.validName(n), n))
    assert(Layers.all.size <= 128)
    Seq("", "_lead", "a b", "a/b", "x" * 65, "é").foreach(n => assert(!Stats.validName(n), n))
  }

  test("a ball answer missing one id fails the check") {
    val oracleBall = Set(1L, 2L, 3L)
    val oracleKnn = Seq(1L, 2L, 3L)
    val ann = Seq((1L, 0.1), (2L, 0.2), (3L, 0.3))
    assert(Serve.compare(0, oracleBall, oracleKnn, ann, oracleBall, oracleKnn, k = 3).isEmpty)
    val bad = Serve.compare(0, oracleBall - 2L, oracleKnn, ann, oracleBall, oracleKnn, k = 3)
    assert(bad.size == 1 && bad.head.contains("ball"))
    assert(Serve.compare(0, oracleBall, oracleKnn.reverse, ann, oracleBall, oracleKnn, k = 3)
      .exists(_.contains("knn")))
    assert(Serve.compare(0, oracleBall, oracleKnn, ann.reverse, oracleBall, oracleKnn, k = 3)
      .exists(_.contains("ann")))
  }
}
