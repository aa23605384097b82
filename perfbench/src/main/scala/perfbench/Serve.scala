package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Ingest

object Serve {
  /** The corpus is the same for every seed (the seed drives the query
    * stream), so runs with different seeds serve the same index. */
  val CorpusSeed = 42L
  val N = 8000L
  val Dim = 64
  val Centers = 80
  /** Ball radius: the median query (a corpus point plus noise) holds a few
    * dozen points, inside the 10-1000 band the workload calls for. */
  val Radius = 0.34
  val NoiseSd = 0.004
  val Lists = 64
  val PqM = 8
  val PqK = 16
  val TrainIters = 0
  val NProbe = 4
  val TopN = 1000
  val K = 10
  /** Recall below this means the ANN answer is broken, not merely
    * approximate. */
  val RecallFloor = 0.5

  /** Mismatches of one request's answers against the oracle: the ball
    * must equal the brute-force range set, kNN the brute-force ids in
    * (distance, id) order, and ANN must return k rows sorted by distance. */
  def compare(i: Int, ball: Set[Long], knn: Seq[Long], ann: Seq[(Long, Double)],
              oracleBall: Set[Long], oracleKnn: Seq[Long], k: Int): Seq[String] =
    Seq(
      (ball == oracleBall) -> (s"serve ball q$i: ${ball.size} ids, oracle ${oracleBall.size}" +
        s" (missing ${(oracleBall -- ball).take(5)}, extra ${(ball -- oracleBall).take(5)})"),
      (knn == oracleKnn) -> s"serve knn q$i: $knn != oracle $oracleKnn",
      (ann.size == k && ann.map(_._2) == ann.map(_._2).sorted) ->
        s"serve ann q$i: ${ann.size} rows or not sorted by distance"
    ).collect { case (false, what) => what }
}

/** Repeated single-query serving over one corpus: each op is a request
  * that answers one query vector three ways — exact vicinity
  * (IndexSearch.searchExact), exact kNN on the pinned tree
  * (PinnedIndex.knn) and IVF-PQ ANN on an opened store (IvfPq.probe) — in
  * a seeded order. Index build, pinning and the store write are set-up. */
final class Serve extends Workload {
  import Serve._

  val name = "serve"
  val minOps = 30
  override val warmupOps = 3
  def params = Seq("n" -> N, "dim" -> Dim, "centers" -> Centers,
    "radius" -> Radius, "query_noise_sd" -> NoiseSd, "ivfpq_lists" -> Lists,
    "pq_m" -> PqM, "pq_k" -> PqK, "train_iters" -> TrainIters,
    "nprobe" -> NProbe, "top_n" -> TopN, "k" -> K)

  private var pts: DataFrame = _
  private var index: DataFrame = _
  private var pinned: PinnedIndex = _
  private var vecs: mutable.LongMap[Array[Float]] = _
  private var store: IvfPq.Store = _

  private val queries = mutable.ArrayBuffer.empty[Array[Double]]
  private val ball = mutable.HashMap.empty[Int, Set[Long]]
  private val knn = mutable.HashMap.empty[Int, Seq[Long]]
  private val ann = mutable.HashMap.empty[Int, Seq[(Long, Double)]]

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    pts = ctx.span("Ingest.randomClustered") {
      val p = Ingest.randomClustered(spark, N, Dim, Centers, seed = CorpusSeed).cache()
      p.count()
      p
    }
    index = ctx.span("IndexBuild.buildIndex") {
      val i = IndexBuild.buildIndex(pts, "id", "vector").cache()
      i.count()
      i
    }
    val (p, v) = ctx.span("PinnedIndex.pinWithVectors")(
      PinnedIndex.pinWithVectors(index, pts, "id", "vector"))
    pinned = p
    vecs = v
    val path = ctx.work.resolve(s"ivfpq-$rep").toString
    ctx.span("IvfPq.write")(IvfPq.write(pts, "id", "vector", Lists,
      TrainIters, PqM, PqK, TrainIters, path))
    store = ctx.span("IvfPq.open")(IvfPq.open(spark, path))
  }

  def release(ctx: Ctx): Unit = {
    if (index != null) index.unpersist(blocking = true)
    if (pts != null) pts.unpersist(blocking = true)
    index = null; pts = null; pinned = null; vecs = null; store = null
  }

  private def query(ctx: Ctx): Array[Double] = {
    val base = vecs(ctx.rng.nextInt(N.toInt).toLong)
    base.map(x => x + ctx.rng.nextGaussian() * NoiseSd)
  }

  def op(ctx: Ctx, i: Int): Unit = {
    val q = query(ctx)
    queries += q
    val qs = q.toSeq
    ctx.rng.shuffle(Seq(0, 1, 2)).foreach {
      case 0 => ball(i) = ctx.span("IndexSearch.searchExact")(
        IndexSearch.searchExact(index, pts, "id", "vector", qs, Radius)
          .select("id").collect().map(_.getLong(0)).toSet)
      case 1 => knn(i) = ctx.span("PinnedIndex.knn")(
        pinned.knn(qs, K, vecs(_)).map(_._1))
      case _ => ann(i) = ctx.span("IvfPq.probe")(
        IvfPq.probe(store, pts, "id", "vector", qs, NProbe, TopN, K)
          .select("id", "dist").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    }
  }

  def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val done = queries.indices.filter(i => ball.contains(i) && knn.contains(i) && ann.contains(i))
    val qdf = done.map(i => (i, queries(i).toSeq)).toDF("qid", "qvec").cache()
    // oracle answers for every completed request, in two batched scans
    val truthKnn = ctx.span("BruteForce.knnJoin")(
      BruteForce.knnJoin(pts, "vector", "id", qdf, "qid", "qvec", K)
        .select("qid", "id", "dist", "rank").collect())
      .groupBy(_.getInt(0)).map { case (qid, rs) =>
        qid -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq }
    val truthBall = ctx.span("BruteForce.distanceJoin")(
      BruteForce.distanceJoin(qdf, "qvec", pts, "vector", Radius)
        .select("qid", "id").collect())
      .groupBy(_.getInt(0)).map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
    val ballSizes = done.map(i => truthBall.getOrElse(i, Set.empty[Long]).size.toDouble)
    var hits = 0
    done.foreach { i =>
      val tk = truthKnn.getOrElse(i, Nil).map(_._1)
      compare(i, ball(i), knn(i), ann(i), truthBall.getOrElse(i, Set.empty[Long]), tk, K)
        .foreach(m => ctx.check(ok = false, m))
      hits += ann(i).map(_._1).toSet.intersect(tk.toSet).size
    }
    if (done.nonEmpty) {
      val recall = hits.toDouble / (done.size * K)
      ctx.layer("serve.recall_at_10") = recall
      ctx.check(recall >= RecallFloor, s"serve ann recall@10 $recall under $RecallFloor")
      val medBall = Stats.median(ballSizes)
      ctx.info("ball_result_median") = medBall
      ctx.check(medBall >= 10 && medBall <= 1000,
        s"serve ball median result size $medBall outside 10-1000")
    }
    ctx.info("queries") = done.size

    if (ctx.tracer.recording && done.nonEmpty) {
      // the batch ANN path over the same queries must agree with the
      // single-query one
      val batch = ctx.span("IvfPq.probeBatch")(
        IvfPq.probeBatch(store, pts, "id", "vector", qdf, "qid", "qvec", NProbe, TopN, K)
          .select(col("qid").cast("int"), col("id")).collect())
        .groupBy(_.getInt(0)).map { case (qid, rs) => qid -> rs.map(_.getLong(1)).toSet }
      done.foreach { i =>
        ctx.check(batch.getOrElse(i, Set.empty[Long]) == ann(i).map(_._1).toSet,
          s"serve probeBatch q$i disagrees with probe")
      }
      // index-search counters on a sample of the same queries
      val sample = done.take(8)
      var visited = 0L
      var cands = 0L
      var results = 0L
      sample.foreach { i =>
        val q = queries(i).toSeq
        visited += IndexSearch.searchBoxWithMetrics(index, q, Radius, l2 = true)._2.nodesVisited
        cands += IndexSearch.searchBall(index, q, Radius).count()
        results += ball(i).size
      }
      ctx.layer("IndexSearch.nodes_visited") = visited.toDouble / sample.size
      ctx.layer("IndexSearch.candidates_per_result") = cands.toDouble / math.max(1L, results)
    }
    qdf.unpersist()
  }
}
