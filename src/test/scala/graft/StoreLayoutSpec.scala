package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{BinaryIndex, BruteForce, IvfPq, IvfSq}
import graft.sources.Ingest

/** The rules the persisted vector stores share through
  * operators.PartitionedStore: the ranking convention of the exact
  * re-rank and the one-file-per-partition-per-task write. */
class StoreLayoutSpec extends SparkSpec {
  import spark.implicits._

  private val N = 400
  private val K = 10

  private lazy val pts = Ingest.randomClustered(spark, N, 16, 6, seed = 11L)
    .select(col("id"), col("vector").cast("array<double>").as("vector"))
    .cache()

  /** Noisy copies of a few corpus points. */
  private lazy val queries: Seq[(Long, Seq[Double])] =
    pts.filter(col("id") % 97 === 5).orderBy("id")
      .as[(Long, Seq[Double])].collect().toSeq
      .map { case (id, v) => (id, v.map(_ + 0.004)) }

  private def queryDf: DataFrame = queries.toDF("qid", "qv")

  private def ids(df: DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().toSeq

  /** Per-qid ids in (dist, id) order, a NULL dist last. */
  private def batchIds(df: DataFrame): Map[Long, Seq[Long]] =
    df.select(col("qid").cast("long"), col("id"), col("dist"))
      .as[(Long, Long, Option[Double])].collect().toSeq
      .groupBy(_._1).view
      .mapValues(_.sortBy(r => (r._3.getOrElse(Double.PositiveInfinity), r._2))
        .map(_._2)).toMap

  test("a null-vector row never takes the place of a real neighbour in the quantized stores' re-rank") {
    val dir = java.nio.file.Files.createTempDirectory("graftnullrank").toString
    // the stores hold every id; the vector table has lost one vector, so
    // its exact distance is NULL in every re-rank that reaches it
    val nulled = queries.head._1 + 1
    val vectors = pts.withColumn("vector",
      when(col("id") === nulled, lit(null).cast("array<double>"))
        .otherwise(col("vector")))
    val live = vectors.filter(col("vector").isNotNull)
    val want = queries.map { case (qid, q) =>
      qid -> ids(BruteForce.knn(live, "vector", "id", q, K))
    }.toMap
    assert(want.values.forall(_.size == K))

    IvfPq.write(pts, "id", "vector", numLists = 4, coarseIters = 0,
      m = 4, k = 16, pqIters = 1, path = s"$dir/pq")
    IvfSq.write(pts, "id", "vector", 4, 0, s"$dir/sq")
    BinaryIndex.write(pts, "id", "vector", 16, s"$dir/bin")
    val pq = IvfPq.open(spark, s"$dir/pq")
    val sq = IvfSq.open(spark, s"$dir/sq")
    val bin = BinaryIndex.open(spark, s"$dir/bin")
    // every list probed and the whole corpus in the candidate pool: the
    // only way to differ from brute force is the null row's rank
    val single: Seq[(String, Seq[Double] => DataFrame)] = Seq(
      "IvfPq.probe" -> (q => IvfPq.probe(pq, vectors, "id", "vector", q, 4, N, K)),
      "IvfSq.probe" -> (q => IvfSq.probe(sq, vectors, "id", "vector", q, 4, N, K)),
      "BinaryIndex.probe" -> (q => BinaryIndex.probe(bin, vectors, "id", "vector", q, K, N)))
    val wrong = for ((name, probe) <- single; (qid, q) <- queries
                     if ids(probe(q)) != want(qid)) yield s"$name q$qid"
    val batch: Seq[(String, DataFrame)] = Seq(
      "IvfPq.probeBatch" -> IvfPq.probeBatch(pq, vectors, "id", "vector",
        queryDf, "qid", "qv", 4, N, K),
      "IvfSq.probeBatch" -> IvfSq.probeBatch(sq, vectors, "id", "vector",
        queryDf, "qid", "qv", 4, N, K),
      "BinaryIndex.probeBatch" -> BinaryIndex.probeBatch(bin, vectors, "id",
        "vector", queryDf, "qid", "qv", K, N))
    val wrongBatch = for ((name, df) <- batch if batchIds(df) != want) yield name
    assert(wrong.isEmpty && wrongBatch.isEmpty,
      s"null row ranked among the neighbours: ${(wrong ++ wrongBatch).mkString(", ")}")
  }

  /** Parquet files in each `list_id=` dir of a store. */
  private def filesPerList(path: String): Map[String, Int] =
    new java.io.File(path).listFiles().filter(_.getName.startsWith("list_id="))
      .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
      .toMap

  test("an append of a multi-partition frame adds at most one file per touched list dir") {
    val dir = java.nio.file.Files.createTempDirectory("graftappendfiles").toString
    val seed = pts.filter(col("id") % 2 === 0)
    val adds = pts.filter(col("id") % 2 === 1).repartition(8)
    val stores: Seq[(String, String => Unit, String => Unit)] = Seq(
      ("IvfPq", p => IvfPq.write(seed, "id", "vector", numLists = 4,
          coarseIters = 0, m = 4, k = 16, pqIters = 0, path = p),
        p => IvfPq.append(spark, p, adds, "id", "vector")),
      ("IvfSq", p => IvfSq.write(seed, "id", "vector", 4, 0, p),
        p => IvfSq.append(spark, p, adds, "id", "vector")))
    val grownBy = stores.map { case (name, write, append) =>
      val path = s"$dir/$name"
      write(path)
      val before = filesPerList(path)
      append(path)
      assert(spark.read.parquet(path).count() == N, s"$name row count")
      name -> filesPerList(path).map { case (d, n) => d -> (n - before.getOrElse(d, 0)) }
    }.toMap
    assert(grownBy.values.forall(_.values.exists(_ > 0)), s"an append wrote nothing: $grownBy")
    assert(grownBy.values.forall(_.values.forall(_ <= 1)),
      s"files added per list dir: $grownBy")
  }
}
