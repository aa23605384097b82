package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SpecBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{BruteForce, IndexBuild, IndexMaintain, IndexSearch, IvfPq}
import graft.sources.Ingest

/** The single-query serve path: the IVF-PQ probe's scoring against the
  * batch ADC path and its compiled-code reuse across queries, and the
  * IndexSearch walk memo's lifecycle. */
class ServePathSpec extends SparkSpec {
  import spark.implicits._

  private lazy val pts = Ingest.randomClustered(spark, 2000, 16, 20, seed = 7L)
    .select(col("id"), col("vector").cast("array<double>").as("vector"))
    .cache()

  /** Noisy copies of a few corpus points, one per cluster region. */
  private lazy val queries: Seq[(Long, Seq[Double])] =
    pts.filter(col("id") % 400 === 11).orderBy("id")
      .as[(Long, Seq[Double])].collect().toSeq
      .map { case (id, v) => (id, v.zipWithIndex.map { case (x, i) => x + 0.003 * ((i % 3) - 1) }) }

  /** Jobs launched while `body` runs (and materializes). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    SpecBus.drain(sc)
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val r = body
      SpecBus.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(l)
  }

  private def idsOf(df: DataFrame): Set[Long] =
    df.select("id").as[Long].collect().toSet

  private def ball(points: DataFrame, q: Seq[Double], r: Double): Set[Long] =
    idsOf(BruteForce.rangeSearch(points, "vector", q, r))

  private val Radius = 0.12

  test("IvfPq.probe and probeOpq equal their batch ADC paths, (id, dist) in order") {
    val dir = java.nio.file.Files.createTempDirectory("graftserve").toString
    IvfPq.write(pts, "id", "vector", numLists = 8, coarseIters = 0,
      m = 4, k = 16, pqIters = 1, path = s"$dir/adc")
    val store = IvfPq.open(spark, s"$dir/adc")
    IvfPq.writeOpq(pts, "id", "vector", numLists = 8, coarseIters = 0,
      m = 4, k = 16, pqIters = 1, path = s"$dir/opq")
    val os = IvfPq.openOpq(spark, s"$dir/opq")
    // the list nearest the first query emptied: its probes score an
    // empty list alongside full ones
    val nearest = graft.operators.Similarity.ivfProbeLists(
      store.centroids, queries.head._2, 1).head
    val holey = store.copy(codes = store.codes.filter(col("list_id") =!= nearest))
    val emptied = store.codes.filter(col("list_id") === nearest)
      .select("id").as[Long].collect().toSet
    assert(emptied.nonEmpty)
    val qdf = queries.toDF("qid", "qv")

    def batchRows(df: DataFrame): Map[Long, Seq[(Long, Double)]] =
      df.select(col("qid"), col("id"), col("dist")).as[(Long, Long, Double)]
        .collect().groupBy(_._1).map { case (qid, rs) =>
          qid -> rs.map(r => (r._2, r._3)).toSeq.sortBy(r => (r._2, r._1)) }
    def single(df: DataFrame): Seq[(Long, Double)] =
      df.select("id", "dist").as[(Long, Double)].collect().toSeq

    for ((s, nprobe) <- Seq((store, 3), (store, 8), (holey, 3))) {
      val batch = batchRows(IvfPq.probeBatch(s, pts, "id", "vector",
        qdf, "qid", "qv", nprobe, topN = 40, k = 10))
      queries.foreach { case (qid, q) =>
        val got = single(IvfPq.probe(s, pts, "id", "vector", q, nprobe, 40, 10))
        assert(got.size == 10)
        assert(got == batch(qid), s"probe q$qid nprobe $nprobe diverged from probeBatch")
        if (s eq holey) assert(got.forall(r => !emptied(r._1)))
      }
    }
    val batchOpq = batchRows(IvfPq.probeBatchOpq(os, pts, "id", "vector",
      qdf, "qid", "qv", nprobe = 3, topN = 40, k = 10))
    queries.foreach { case (qid, q) =>
      assert(single(IvfPq.probeOpq(os, pts, "id", "vector", q, 3, 40, 10)) ==
        batchOpq(qid), s"probeOpq q$qid diverged from probeBatchOpq")
    }

    // a probe for a NEW query reuses the compiled code of the last one
    val (q1, q2) = (queries(1)._2, queries(2)._2)
    assert(graft.operators.Similarity.ivfProbeLists(store.centroids, q1, 3) !=
      graft.operators.Similarity.ivfProbeLists(store.centroids, q2, 3))
    IvfPq.probe(store, pts, "id", "vector", q1, 3, 40, 10).collect()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    IvfPq.probe(store, pts, "id", "vector", q2, 3, 40, 10).collect()
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "a probe with a different query compiled new code")
  }

  test("walk memo: a cached index is collected once, and only while cached") {
    val index = IndexBuild.buildIndex(pts, "id", "vector").cache()
    val nodes = index.count()
    val q = queries.head._2
    val want = ball(pts, q, Radius)
    assert(want.nonEmpty)
    assert(idsOf(IndexSearch.searchExact(index, pts, "id", "vector", q, Radius)) == want)
    queries.foreach { case (_, qq) =>
      val (got, jobs) = jobsOf(
        idsOf(IndexSearch.searchExact(index, pts, "id", "vector", qq, Radius)))
      assert(jobs <= 2, s"memoized searchExact launched $jobs jobs")
      assert(got == ball(pts, qq, Radius))
    }
    // a limit under the memoized node count still descends distributed
    val (_, memoJobs) = jobsOf(IndexSearch.searchBall(index, q, Radius))
    assert(memoJobs == 0)
    val (small, smallJobs) = jobsOf(
      idsOf(IndexSearch.searchBall(index, q, Radius, localNodeLimit = nodes - 1)))
    assert(smallJobs > 0, "a localNodeLimit under the node count skipped the guard")
    assert(small == idsOf(IndexSearch.searchBoxDistributed(index, q, Radius)))
    assert(want.subsetOf(small))

    // two cached indexes keep one tree each
    val first = want.toSeq.sorted.take(1)
    val other = IndexMaintain.removePoints(index, first.toDF("id")).cache()
    other.count()
    assert(idsOf(IndexSearch.searchExact(other, pts, "id", "vector", q, Radius)) ==
      want -- first)
    assert(idsOf(IndexSearch.searchExact(index, pts, "id", "vector", q, Radius)) == want)
    other.unpersist(blocking = true)

    // unpersist, shrink and re-cache: the memo must not serve the old tree
    index.unpersist(blocking = true)
    val removed = want.toSeq.sorted.take(math.max(1, want.size / 2))
    val shrunk = IndexMaintain.removePoints(index, removed.toDF("id")).cache()
    shrunk.count()
    val live = pts.filter(!col("id").isin(removed: _*))
    Seq.fill(2)(()).foreach { _ =>
      val got = idsOf(IndexSearch.searchExact(shrunk, pts, "id", "vector", q, Radius))
      assert(got == ball(live, q, Radius))
      assert(got.intersect(removed.toSet).isEmpty, "a removed id came back")
    }
    shrunk.unpersist(blocking = true)
  }

  test("walk memo: an uncached (parquet-loaded) index is collected on every call") {
    val dir = java.nio.file.Files.createTempDirectory("graftwalk").toString
    IndexBuild.buildIndex(pts, "id", "vector").write.parquet(s"$dir/index")
    val index = spark.read.parquet(s"$dir/index")
    queries.take(2).foreach { case (_, q) =>
      val (got, jobs) = jobsOf(idsOf(IndexSearch.searchBall(index, q, Radius)))
      assert(jobs >= 2, s"uncached searchBall launched only $jobs jobs")
      assert(ball(pts, q, Radius).subsetOf(got))
    }
  }
}
