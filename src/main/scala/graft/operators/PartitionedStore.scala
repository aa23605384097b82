package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{dist, doubleVec}

/** The layout and serving body shared by the persisted vector stores —
  * LSH-bucketed and IVF-flat ([[Similarity]]), IVF-PQ/OPQ ([[IvfPq]]),
  * IVF-SQ8 ([[IvfSq]]) and binary ([[BinaryIndex]]). Each family keeps
  * only what is its own (how a row is routed and encoded, how a
  * candidate is scored); the rules below live here once.
  *
  * Layout rules:
  *  - Rows are parquet partitioned by one routing key (`bucket` or
  *    `list_id`); a probe names the keys it needs, so its read is
  *    partition-pruned (PartitionFilters on the key), never a full scan.
  *  - One file per partition per task: every write and append clusters
  *    rows by the key before the partitioned write ([[writeRows]]).
  *    Without that, every upstream task writes a file into EVERY
  *    partition dir — shuffle.partitions × numLists files (131k at
  *    C=4096, measured: a 5-minute write and multi-second probes from
  *    file listing alone).
  *  - Sidecars are frozen: the quantizer state (`.centroids`,
  *    `.codebook`, `.extent`, `.thr`, `.planes`, `.opq`) is written once
  *    per store as one small parquet file each ([[writeSidecar]]) and
  *    never re-trained by append or remove — a drifted corpus warrants
  *    a rewrite. Appends read only the sidecars they encode with, never
  *    the partition listing.
  *  - Ranking convention: every exact distance ordering is
  *    `dist asc_nulls_last, id`. A null or length-mismatched vector
  *    yields dist = NULL, and Spark's default ascending sort is NULLS
  *    FIRST, which would seat such rows AHEAD of every real neighbour.
  *    Per-query top-k is one `row_number` window over `qid`
  *    ([[topKPerQuery]]). */
private[graft] object PartitionedStore {

  /** Write (`overwrite`) or append (`append`) `rows` partitioned by
    * `key`, clustered by the key first: one file per partition per
    * task. */
  def writeRows(rows: DataFrame, key: String, mode: String,
                path: String): Unit =
    rows.repartition(col(key))
      .write.mode(mode).partitionBy(key).parquet(path)

  /** Write one sidecar table next to the store at `path + suffix`. */
  def writeSidecar(table: DataFrame, path: String, suffix: String): Unit =
    table.coalesce(1).write.mode("overwrite").parquet(path + suffix)

  /** Persist a coarse-centroid set as the `.centroids` sidecar
    * (list_id, centroid). */
  def writeCentroids(spark: SparkSession,
                     centroids: Array[(Long, Array[Double])],
                     path: String): Unit = {
    import spark.implicits._
    writeSidecar(centroids.map { case (lid, cv) => (lid, cv.toSeq) }.toSeq
      .toDF("list_id", "centroid"), path, ".centroids")
  }

  /** The store's frozen coarse-centroid set, from its sidecar. */
  def readCentroids(spark: SparkSession,
                    path: String): Array[(Long, Array[Double])] =
    spark.read.parquet(path + ".centroids")
      .select(col("list_id").cast("long"), col("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** The probed-partition join every batch probe uses: pin the probe
    * relation (one row per probed (query, key), carrying `qid`/`qv`),
    * collect the distinct keys it touches, read the store pruned to
    * those partitions and broadcast-join the two on the key — each
    * store row meets only the queries that probed its partition. */
  def probedJoin(rows: DataFrame, probes: DataFrame, key: String): DataFrame = {
    val pinned = probes.localCheckpoint()
    val keys = pinned.select(key).distinct().collect().map(_.get(0)).toSeq
    rows.filter(col(key).isin(keys: _*))
      .join(broadcast(pinned), Seq(key))
  }

  /** The `k` first rows of each `qid` under `order` (adds `rn`). */
  def topKPerQuery(rows: DataFrame, k: Int, order: Column*): DataFrame =
    rows.withColumn("rn",
        row_number().over(Window.partitionBy(col("qid")).orderBy(order: _*)))
      .filter(col("rn") <= k)

  /** Fetch a candidate pool's vectors from the wide vector table by a
    * broadcast keyed join on the id. */
  def withVectors(vectors: DataFrame, idCol: String, vecCol: String,
                  pool: DataFrame): DataFrame =
    vectors.select(col(idCol), col(vecCol))
      .join(broadcast(pool), Seq(idCol))

  /** Exact re-rank tail, single query: `dist` to `q`, top k by the
    * ranking convention. */
  def rankExact(rows: DataFrame, idCol: String, vecCol: String,
                q: Seq[Double], k: Int): DataFrame =
    rows.withColumn("dist", dist(col(vecCol), doubleVec(q)))
      .orderBy(col("dist").asc_nulls_last, col(idCol))
      .limit(k)

  /** Exact re-rank tail, per query: `dist` to each row's own query
    * vector `qv`, top k of each `qid` by the ranking convention. */
  def rankExact(rows: DataFrame, idCol: String, vecCol: String,
                k: Int): DataFrame =
    topKPerQuery(rows.withColumn("dist", dist(col(vecCol), col("qv"))), k,
      col("dist").asc_nulls_last, col(idCol))
}
