package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{dist, doubleVec}
import graft.operators.PartitionedStore.{rankExact, topKPerQuery, withVectors, writeRows}

/** IVF + SQ8: the inverted-file coarse quantizer over SCALAR-quantized
  * (int8-per-dim) storage — faiss's IVF/SQ workhorse layout (public
  * method, no reference counterpart), completing the serving-store
  * family {bucketed LSH, IVF-flat, IVFADC, IVF-SQ8}. Rows are
  * partitioned by nearest coarse centroid exactly like the IVF-flat
  * store, but the persisted payload is the 4×-smaller code column; a
  * probe prunes to the nprobe nearest list partitions, ranks by the
  * BIN-CENTER decode of the codes (the same fixed-order IEEE chain as
  * [[VectorStats.sqKnn]] — the DuckDB oracle predicts it bit for bit),
  * keeps topN, and exactly re-ranks those via a broadcast keyed join
  * against the wide vector table.
  *
  * Scale shape (the 100 TB layout): scan surface = d bytes-ish per row
  * over nprobe/numLists of the corpus, partition-pruned
  * (PartitionFilters on list_id), no shuffle before the top-k; the
  * quantization extent is a d-entry sidecar (corpus-size-independent);
  * the float vectors are touched only through the topN re-rank join.
  * Unlike IVFADC the codes decode WITHOUT per-list state (global
  * extent, raw — not residual — encoding), which keeps the probe a
  * single codegen projection and makes appends trivially parallel.
  */
object IvfSq {

  /** A pre-opened IVF-SQ8 serving handle (see [[IvfPq.Store]] for why
    * opening is the expensive step at corpus-scale C). */
  final case class Store(codes: DataFrame,
                         centroids: Array[(Long, Array[Double])],
                         mins: Array[Double], exts: Array[Double],
                         levels: Int)

  /** Bin-center decode of a code column against driver-held extents:
    * x̂_i = min_i + (code_i + 0.5)·ext_i/levels; constant dims (ext 0)
    * decode to min_i. The extent arrays are d-sized literals — bounded
    * by dimension, never by corpus or list count. Kept identical, op
    * for op, to [[VectorStats.sqKnn]]'s decode so one oracle SQL form
    * covers both. */
  private def decodeCol(codes: Column, mins: Array[Double],
                        exts: Array[Double], levels: Int): Column = {
    val minsL = array(mins.map(lit).toIndexedSeq: _*)
    val extsL = array(exts.map(lit).toIndexedSeq: _*)
    transform(codes, (c, i) =>
      when(element_at(extsL, i + 1) === 0d, element_at(minsL, i + 1))
        .otherwise(element_at(minsL, i + 1) +
          (c.cast("double") + lit(0.5d)) * element_at(extsL, i + 1) / levels))
  }

  /** SQ8 encode of a vector column against driver-held extents — the
    * one encoder of write and append, op for op
    * [[VectorStats.sqCode]]: floor((x − min_i)/ext_i·levels) clamped to
    * levels−1, constant dims (ext 0) encode to 0. */
  private def encodeCol(vec: Column, mins: Array[Double],
                        exts: Array[Double], levels: Int): Column = {
    val minsL = array(mins.map(lit).toIndexedSeq: _*)
    val extsL = array(exts.map(lit).toIndexedSeq: _*)
    transform(vec, (x, i) =>
      least(
        floor(when(element_at(extsL, i + 1) === 0d, lit(0.0d))
          .otherwise((x.cast("double") - element_at(minsL, i + 1)) /
            element_at(extsL, i + 1) * levels)).cast("int"),
        lit(levels - 1)))
  }

  /** Persist the IVF-SQ8 serving layout: narrow (id, codes) rows
    * partitioned by list_id, with the coarse-centroid set and the
    * per-dim quantization extent as KB-sized sidecars. Centroids are
    * the deterministic first-numLists seed refined `coarseIters` Lloyd
    * rounds (0 = exact oracle-replayable assignment). The extent is
    * aggregated once, written as its sidecar, and read back (d rows) to
    * encode the corpus exactly as [[append]] encodes. */
  def write(emb: DataFrame, idCol: String, vecCol: String,
            numLists: Int, coarseIters: Int, path: String,
            levels: Int = 256, routed: Boolean = false): Unit = {
    val spark = emb.sparkSession
    // routed: the O(√C) two-level coarse kernel for corpus-scale C
    // (same trade as IvfPq.write — see listIdCol there)
    val assignFn: (Column, Array[(Long, Array[Double])]) => Column =
      if (routed) (v, c) => Similarity.ivfListIdRouted(v, c, routeSpark = Some(spark))
      else Similarity.ivfListId
    val centroids =
      Similarity.ivfTrain(emb, idCol, vecCol, numLists, coarseIters, assignFn)
    // extent sidecar: one row per dim (idx, mn, ex) + the level count
    PartitionedStore.writeSidecar(VectorStats.sqExtent(emb, idCol, vecCol)
      .select(explode(map_entries(col("_qmins"))).as("m"), col("_qexts"))
      .select(col("m.key").as("idx"), col("m.value").as("mn"),
        element_at(col("_qexts"), col("m.key")).as("ex"),
        lit(levels).as("levels")), path, ".extent")
    val (mins, exts, _) = readExtent(spark, path)
    writeRows(emb.select(col(idCol),
        assignFn(col(vecCol), centroids).as("list_id"),
        encodeCol(col(vecCol), mins, exts, levels).as("codes")),
      "list_id", "overwrite", path)
    PartitionedStore.writeCentroids(spark, centroids, path)
  }

  /** The `.extent` sidecar: per-dim mins and extents in dim order, and
    * the level count. */
  private def readExtent(spark: SparkSession,
                         path: String): (Array[Double], Array[Double], Int) = {
    val ext = spark.read.parquet(path + ".extent")
      .select(col("idx").cast("int"), col("mn").cast("double"),
        col("ex").cast("double"), col("levels").cast("int"))
      .collect().sortBy(_.getInt(0))
    (ext.map(_.getDouble(1)), ext.map(_.getDouble(2)), ext.head.getInt(3))
  }

  /** Open a persisted IVF-SQ8 store once: one partition listing, one
    * read of each sidecar. */
  def open(spark: SparkSession, path: String): Store = {
    val (mins, exts, levels) = readExtent(spark, path)
    Store(spark.read.parquet(path), PartitionedStore.readCentroids(spark, path),
      mins, exts, levels)
  }

  /** INCREMENTAL maintenance: encode new vectors with the store's OWN
    * frozen centroid + extent sidecars and append to their list
    * partitions (the quantizer and extent are frozen — re-training is
    * a rewrite). Reads those two sidecars only; the store itself is
    * never listed. Removal is [[StoreMaintain.removeFromStore]],
    * unchanged — the layout is the same list_id-partitioned narrow
    * table as the IVF-flat store. */
  def append(spark: SparkSession, path: String, newVecs: DataFrame,
             idCol: String, vecCol: String): Unit = {
    val (mins, exts, levels) = readExtent(spark, path)
    writeRows(newVecs.select(col(idCol),
        Similarity.ivfListId(col(vecCol), PartitionedStore.readCentroids(spark, path))
          .as("list_id"),
        encodeCol(col(vecCol), mins, exts, levels).as("codes")),
      "list_id", "append", path)
  }

  /** Probe: read ONLY the nprobe nearest list partitions, rank by
    * decoded-code distance with the deterministic (sq_dist, id)
    * tie-break, keep topN, then fetch those vectors by broadcast keyed
    * join and re-rank exactly to k. */
  def probe(store: Store, vectors: DataFrame, idCol: String,
            vecCol: String, q: Seq[Double],
            nprobe: Int, topN: Int, k: Int): DataFrame = {
    val probeLists = Similarity.ivfProbeLists(store.centroids, q, nprobe)
    val cands = store.codes
      .filter(col("list_id").isin(probeLists: _*))
      .withColumn("sq_dist",
        dist(decodeCol(col("codes"), store.mins, store.exts, store.levels),
          doubleVec(q)))
      .orderBy(col("sq_dist"), col(idCol))
      .limit(topN)
    rankExact(withVectors(vectors, idCol, vecCol, cands), idCol, vecCol, q, k)
      .drop("codes", "sq_dist")
  }

  /** One-shot [[probe]] (opens the store per call — serving processes
    * should hold the [[Store]] handle instead). */
  def probe(spark: SparkSession, path: String, vectors: DataFrame,
            idCol: String, vecCol: String, q: Seq[Double],
            nprobe: Int, topN: Int, k: Int): DataFrame =
    probe(open(spark, path), vectors, idCol, vecCol, q, nprobe, topN, k)

  /** BATCH kNN JOIN over the store — the a6/a8 shape for the SQ8 path,
    * completing the {LSH, IVF, IVFADC, IVF-SQ8} × {single, batch}
    * probe matrix: per-query probe lists from a broadcast join against
    * the centroid relation, codes scan pruned to the UNION of probed
    * list partitions, per-query WindowGroupLimit topN on the decoded
    * distance, exact re-rank to k through one broadcast keyed join.
    * Simpler than the ADC batch: the decode is GLOBAL (extent
    * literals), so no per-(query, list) lookup tables ride the probe
    * relation. Returns (qid, id, dist). */
  def probeBatch(store: Store, vectors: DataFrame,
                 idCol: String, vecCol: String,
                 queries: DataFrame, qIdCol: String, qVecCol: String,
                 nprobe: Int, topN: Int, k: Int): DataFrame = {
    val centRel = Similarity.centroidRelation(store.codes.sparkSession,
      store.centroids)
    val qProbe = Similarity.probeListsJoin(queries, qIdCol, qVecCol,
      centRel, nprobe)
    val cands = topKPerQuery(
        PartitionedStore.probedJoin(store.codes, qProbe, "list_id")
          .withColumn("sq_dist",
            dist(decodeCol(col("codes"), store.mins, store.exts, store.levels),
              col("qv"))),
        topN, col("sq_dist"), col(idCol))
      .select(col("qid"), col("qv"), col(idCol))
    rankExact(withVectors(vectors, idCol, vecCol, cands), idCol, vecCol, k)
      .select(col("qid"), col(idCol), col("dist"))
  }

  /** One-shot [[probeBatch]] (opens the store per call). */
  def probeBatch(spark: SparkSession, path: String, vectors: DataFrame,
                 idCol: String, vecCol: String,
                 queries: DataFrame, qIdCol: String, qVecCol: String,
                 nprobe: Int, topN: Int, k: Int): DataFrame =
    probeBatch(open(spark, path), vectors, idCol, vecCol,
      queries, qIdCol, qVecCol, nprobe, topN, k)
}
