package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.{dist, doubleVec}
import graft.operators.ProductQuant.Codebook

/** IVF-PQ (IVFADC): the standard composition of the IVF coarse quantizer
  * with product-quantized RESIDUALS (Jégou, Douze, Schmid, TPAMI 2011,
  * §IV — public method, no reference counterpart). Vectors are assigned
  * to their nearest coarse centroid; the residual v − c(v) is PQ-encoded;
  * the serving store persists only (id, codes) partitioned by list. A
  * probe visits the nprobe nearest lists, ADC-ranks their codes against
  * the QUERY's residual for that list (a per-list m×k lookup table), and
  * exactly re-ranks the topN survivors via a keyed join.
  *
  * Scale shape (the 100 TB layout): the full-scan surface is m bytes-ish
  * per row of codes in nprobe/numLists of the data — a partition-pruned
  * parquet read (PartitionFilters on list_id, asserted in ScaleSpec), no
  * shuffle before the top-k; centroids and codebook are KB-sized
  * sidecars; the wide vector table is touched only through a broadcast
  * keyed join on the topN candidate ids.
  *
  * Determinism: residuals stay float64 end-to-end (pqTrain/pqAssign
  * asFloat=false — a float32 round-trip would truncate them); with
  * iters=0 both quantizers are exact functions of the first-C / first-k
  * rows, which is what the a5_ivfpq DuckDB oracle recomputes. */
object IvfPq {

  /** Element-wise residual v − centroid(list_id) as float64: the
    * centroid set embeds as a literal map keyed by list id, so this is
    * a pure codegen projection (no join, no shuffle). */
  def residualCol(vec: Column, listId: Column,
                  centroids: Array[(Long, Array[Double])]): Column = {
    val cmap = map_from_arrays(
      array(centroids.map(c => lit(c._1)).toIndexedSeq: _*),
      array(centroids.map(c => doubleVec(c._2.toIndexedSeq)).toIndexedSeq: _*))
    zip_with(vec.cast("array<double>"), element_at(cmap, listId),
      (a, b) => a - b)
  }

  /** Train the residual codebook against a fixed coarse-centroid set:
    * assign lists (map-only), form residuals, PQ-train in float64.
    * Lloyd refinement of the coarse set itself is Similarity.ivfTrain;
    * pass its output as `centroids`. */
  /** Coarse list-id column: exact O(C) argmin by default; `routed`
    * switches to the two-level O(√C) kernel
    * ([[Similarity.ivfListIdRouted]]) for corpus-scale C (≥ ~4096),
    * where the flat per-row loop dominates the encode pass. Routed
    * assignment is approximate at super boundaries — the standard
    * hierarchical-IVF trade; probes are unaffected (a row lives in its
    * assigned list either way, and the query's probe lists stay exact). */
  private def listIdCol(spark: SparkSession, vec: Column,
                        centroids: Array[(Long, Array[Double])],
                        routed: Boolean): Column =
    if (routed)
      Similarity.ivfListIdRouted(vec, centroids, routeSpark = Some(spark))
    else Similarity.ivfListId(vec, centroids)

  def trainResidual(emb: DataFrame, idCol: String, vecCol: String,
                    centroids: Array[(Long, Array[Double])],
                    m: Int, k: Int, iters: Int,
                    routed: Boolean = false): Codebook = {
    val resid = emb
      .withColumn("list_id", listIdCol(emb.sparkSession, col(vecCol), centroids, routed))
      .withColumn("resid", residualCol(col(vecCol), col("list_id"), centroids))
    ProductQuant.pqTrain(resid, idCol, "resid", m, k, iters, asFloat = false)
  }

  /** Assign (list_id, codes) to every vector — one codegen projection:
    * coarse argmin, residual, per-subspace PQ argmin. */
  def assign(emb: DataFrame, vecCol: String,
             centroids: Array[(Long, Array[Double])], cb: Codebook,
             codesCol: String = "codes", routed: Boolean = false): DataFrame = {
    val withResid = emb
      .withColumn("list_id", listIdCol(emb.sparkSession, col(vecCol), centroids, routed))
      .withColumn("resid", residualCol(col(vecCol), col("list_id"), centroids))
    ProductQuant.pqAssign(withResid, "resid", cb, codesCol, asFloat = false)
      .drop("resid")
  }

  /** Persist the IVFADC serving layout: narrow (id, codes) rows
    * partitioned by list_id, with the centroid set and codebook as
    * KB-sized sidecar tables (mirrors writeIvf/writePq). Returns the
    * trained (centroids, codebook). */
  def write(emb: DataFrame, idCol: String, vecCol: String,
            numLists: Int, coarseIters: Int, m: Int, k: Int, pqIters: Int,
            path: String,
            routed: Boolean = false): (Array[(Long, Array[Double])], Codebook) = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centroids = Similarity.ivfTrain(emb, idCol, vecCol, numLists, coarseIters,
      assign = if (routed)
        (v, c) => Similarity.ivfListIdRouted(v, c, routeSpark = Some(spark))
      else Similarity.ivfListId)
    val cb = trainResidual(emb, idCol, vecCol, centroids, m, k, pqIters, routed)
    assign(emb, vecCol, centroids, cb, routed = routed)
      .select(col(idCol), col("list_id"), col("codes"))
      // cluster rows into their target partition before the partitioned
      // write: without this every upstream task writes a file into EVERY
      // list dir — shuffle.partitions × numLists files (131k at C=4096,
      // measured: a 5-minute write and multi-second probes from file
      // listing alone). After: one file per list per owning task.
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(path)
    centroids.map { case (lid, cv) => (lid, cv.toSeq) }.toSeq
      .toDF("list_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(path + ".centroids")
    cb.zipWithIndex.flatMap { case (words, j) =>
      words.zipWithIndex.map { case (w, c) => (j, c, w.toSeq) }
    }.toSeq.toDF("j", "code", "word")
      .coalesce(1).write.mode("overwrite").parquet(path + ".codebook")
    (centroids, cb)
  }

  /** A pre-opened IVFADC serving handle: the store DataFrame plus both
    * decoded sidecars. Opening is the expensive part of a probe at
    * corpus scale — `spark.read.parquet` on a C-partition store LISTS
    * all C partition dirs to build its file index (measured: 7–8 s of
    * an 8 s probe at C=4096 was listing, re-done per read), and the
    * sidecar collects are two more jobs. A serving process opens once
    * and probes many times; every probe against the handle reuses the
    * cached file index (partition pruning still applies — pruning
    * filters the index, it doesn't re-list) and the in-memory
    * quantizer/codebook. */
  final case class Store(codes: DataFrame,
                         centroids: Array[(Long, Array[Double])],
                         cb: Codebook) {
    /** Centroid sidecar as a broadcast-able relation (for batch probes). */
    private[graft] def centRel: DataFrame =
      Similarity.centroidRelation(codes.sparkSession, centroids)
  }

  /** Open a persisted IVFADC store once: one partition listing, one
    * read of each sidecar. */
  def open(spark: SparkSession, path: String): Store =
    Store(spark.read.parquet(path), readCentroids(spark, path),
      readCodebook(spark, path))

  /** The store's frozen coarse-centroid set, from its sidecar. */
  def readCentroids(spark: SparkSession,
                    path: String): Array[(Long, Array[Double])] =
    spark.read.parquet(path + ".centroids")
      .select(col("list_id").cast("long"), col("centroid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** The store's frozen residual codebook, from its sidecar. */
  def readCodebook(spark: SparkSession, path: String): Codebook =
    spark.read.parquet(path + ".codebook")
      .select(col("j"), col("code"), col("word"))
      .collect()
      .groupBy(_.getInt(0)).toArray.sortBy(_._1)
      .map(_._2.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray))

  /** INCREMENTAL maintenance of a persisted IVFADC store — appendIvf's
    * twin for the PQ path: coarse-assign + residual-encode the new
    * vectors with the store's OWN frozen quantizer and codebook sidecars
    * (re-training is a rewrite, exactly as in IVF serving systems) and
    * APPEND the narrow (id, codes) rows to their list partitions. Only
    * touched partitions gain files; probes see old ∪ new rows. */
  def append(spark: SparkSession, path: String, newVecs: DataFrame,
             idCol: String, vecCol: String): Unit =
    assign(newVecs, vecCol, readCentroids(spark, path), readCodebook(spark, path))
      .select(col(idCol), col("list_id"), col("codes"))
      .write.mode("append").partitionBy("list_id").parquet(path)

  /** Probe an IVFADC store: read ONLY the nprobe nearest list partitions
    * (PartitionFilters on list_id), ADC-score each row against the
    * query's residual FOR ITS OWN LIST, take the topN by approximate
    * distance, then fetch those vectors by keyed broadcast join and
    * re-rank exactly. The per-list m×k tables enter as ONE flat
    * nprobe·m·k lookup-table literal beside a literal array of the probed
    * list ids; a row's score is Σ_j lut[pos(list_id)·m·k + j·k + code_j],
    * j ascending (the fold order of adcScore and probeBatch). Array
    * literals are codegen references, not inlined constants, so every
    * query reuses the same compiled code. */
  def probe(spark: SparkSession, path: String, vectors: DataFrame,
            idCol: String, vecCol: String, q: Seq[Double],
            nprobe: Int, topN: Int, k: Int): DataFrame =
    probe(open(spark, path), vectors, idCol, vecCol, q, nprobe, topN, k)

  /** [[probe]] against a pre-opened [[Store]] — the serving form: no
    * partition re-listing, no sidecar jobs per call. */
  def probe(store: Store, vectors: DataFrame,
            idCol: String, vecCol: String, q: Seq[Double],
            nprobe: Int, topN: Int, k: Int): DataFrame =
    probeWith(store, vectors, idCol, vecCol, q, q, nprobe, topN, k)

  /** The single-query probe body: probe lists and ADC scores come from
    * `scoreQ` (the query in the store's coding space), the exact re-rank
    * from `exactQ` (the query in the vector table's space). */
  private def probeWith(store: Store, vectors: DataFrame,
                        idCol: String, vecCol: String,
                        scoreQ: Seq[Double], exactQ: Seq[Double],
                        nprobe: Int, topN: Int, k: Int): DataFrame = {
    val byList = store.centroids.toMap
    val probeLists = Similarity.ivfProbeLists(store.centroids, scoreQ, nprobe)
    val lut = probeLists.toArray.flatMap { lid =>
      val c = byList(lid)
      ProductQuant.adcTable(store.cb, scoreQ.indices.map(i => scoreQ(i) - c(i))).flatten
    }
    val m = store.cb.length
    val kCodes = store.cb(0).length
    val base = (array_position(lit(probeLists.toArray), col("list_id").cast("long")) - 1)
      .cast("int") * (m * kCodes) + 1
    val score = (0 until m).map { j =>
      element_at(lit(lut), base + j * kCodes + element_at(col("codes"), j + 1))
    }.reduce(_ + _)
    val cands = store.codes
      .filter(col("list_id").isin(probeLists: _*))
      .withColumn("approx", score)
      .orderBy(col("approx"), col(idCol))
      .limit(topN)
    vectors.select(col(idCol), col(vecCol))
      .join(broadcast(cands), Seq(idCol))
      .withColumn("dist", dist(col(vecCol), doubleVec(exactQ)))
      .orderBy(col("dist"), col(idCol))
      .limit(k)
      .drop("codes", "approx")
  }

  // ===== OPQ-composed store (Ge et al., CVPR 2013 composed with IVF —
  // the Faiss "OPQ pre-transform + IVFPQ" layout) =====
  //
  // The rotation is applied FIRST: coarse centroids, residuals and the
  // PQ codebook all live in ROTATED space, so encode and probe are the
  // plain IVFADC pipeline over rotated vectors; only the exact re-rank
  // touches the original space (through the wide vector table, as
  // always). Rotation arithmetic is the SAME codegen column on every
  // path — write, append, and the driver-side query rotation all use
  // the ascending-i float64 fold (ProductQuant.opqRotateCol /
  // opqRotateQuery) — so append ≡ write-time encode bit-for-bit.

  /** An opened OPQ-IVFADC handle: the plain store + the frozen
    * rotation sidecar. */
  final case class OpqStore(store: Store, pc: Array[Array[Double]],
                            perm: Array[Int]) {
    private[graft] def rotateQuery(q: Seq[Double]): Seq[Double] =
      ProductQuant.opqRotateQuery(
        ProductQuant.OpqModel(pc, perm, store.cb), q).toSeq
  }

  /** Persist the OPQ-IVFADC layout: train the rotation (PCA +
    * eigenvalue allocation) on the corpus, rotate, and delegate to the
    * plain [[write]]; the rotation lands in a `.opq` sidecar (d·d
    * doubles + the permutation — KB-sized, the codebook contract). */
  def writeOpq(emb: DataFrame, idCol: String, vecCol: String,
               numLists: Int, coarseIters: Int, m: Int, k: Int,
               pqIters: Int, path: String)
      : (Array[(Long, Array[Double])], Codebook) = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (pc, perm, _) = ProductQuant.opqRotation(emb, idCol, vecCol, m)
    val rotated = emb.withColumn("_rotv",
      ProductQuant.opqRotateCol(pc, perm, col(vecCol)))
    val out = write(rotated, idCol, "_rotv", numLists, coarseIters,
      m, k, pqIters, path)
    pc.zipWithIndex.map { case (row, i) => (i, row.toSeq, perm(i)) }.toSeq
      .toDF("i", "prow", "permi")
      .coalesce(1).write.mode("overwrite").parquet(path + ".opq")
    out
  }

  /** Open a persisted OPQ-IVFADC store once (plain open + one rotation
    * sidecar read). */
  def openOpq(spark: SparkSession, path: String): OpqStore = {
    val rows = spark.read.parquet(path + ".opq")
      .select(col("i"), col("prow"), col("permi"))
      .collect().sortBy(_.getInt(0))
    OpqStore(open(spark, path),
      rows.map(_.getSeq[Double](1).toArray),
      rows.map(_.getInt(2)))
  }

  /** INCREMENTAL maintenance of an OPQ store: rotate the new vectors
    * with the frozen sidecar rotation, then the plain frozen-quantizer
    * [[append]] — identical codes to a write-time encode of the same
    * rows (the rotation column is the same arithmetic on both paths). */
  def appendOpq(spark: SparkSession, path: String, newVecs: DataFrame,
                idCol: String, vecCol: String): Unit = {
    val os = openOpq(spark, path)
    append(spark, path,
      newVecs.withColumn("_rotv",
        ProductQuant.opqRotateCol(os.pc, os.perm, col(vecCol))),
      idCol, "_rotv")
  }

  /** [[probe]] against an OPQ store: probe-list selection and ADC
    * scoring run in rotated space (rotated query vs rotated-space
    * centroids/codes); the exact re-rank runs in the ORIGINAL space
    * against the wide vector table. */
  def probeOpq(os: OpqStore, vectors: DataFrame,
               idCol: String, vecCol: String, q: Seq[Double],
               nprobe: Int, topN: Int, k: Int): DataFrame =
    probeWith(os.store, vectors, idCol, vecCol, os.rotateQuery(q), q,
      nprobe, topN, k)

  /** [[probeBatch]] against an OPQ store — completing the
    * {single, batch} × {plain, OPQ} serving matrix: the query relation
    * is rotated ONCE as a codegen projection (the same rotation column
    * encode used), probe-list selection + per-(qid, list) ADC LUTs run
    * in rotated space, and the exact re-rank joins the original-space
    * vector table with the ORIGINAL query vectors. Plan shape identical
    * to probeBatch (pruned codes scan, broadcast LUT rows, window
    * top-k). */
  def probeBatchOpq(os: OpqStore, vectors: DataFrame,
                    idCol: String, vecCol: String,
                    queries: DataFrame, qIdCol: String, qVecCol: String,
                    nprobe: Int, topN: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val store = os.store
    val cb: Codebook = store.cb
    val m = cb.length
    val kCodes = cb(0).length
    val dsub = cb(0)(0).length
    val cbFlat = array(cb.flatten.flatten.map(lit).toIndexedSeq: _*)
    val centRel = store.centRel
      .select(col("list_id").cast("long"),
        col("cv").cast("array<double>").as("cv"))
    val qProbe = queries
      .select(col(qIdCol).cast("long").as("qid"),
        col(qVecCol).cast("array<double>").as("qv"),
        ProductQuant.opqRotateCol(os.pc, os.perm, col(qVecCol))
          .cast("array<double>").as("rqv"))
      .crossJoin(broadcast(centRel))
      .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(dist(col("rqv"), col("cv")), col("list_id"))))
      .filter(col("rn") <= nprobe)
      .withColumn("qres", zip_with(col("rqv"), col("cv"), (a, b) => a - b))
      .withColumn("lut", flatten(
        transform(sequence(lit(0), lit(m - 1)), j =>
          transform(sequence(lit(0), lit(kCodes - 1)), c =>
            aggregate(sequence(lit(0), lit(dsub - 1)), lit(0.0d),
              (acc, s) => {
                val d = element_at(col("qres"), j * dsub + s + 1) -
                  element_at(cbFlat, (j * kCodes + c) * dsub + s + 1)
                acc + d * d
              })))))
      .select(col("qid"), col("qv"), col("list_id"), col("lut"))
      .localCheckpoint()
    val lists = qProbe.select("list_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val approx = (0 until m).map { j =>
      element_at(col("lut"), lit(j * kCodes) + element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _)
    val cands = store.codes
      .filter(col("list_id").isin(lists: _*))
      .join(broadcast(qProbe), Seq("list_id"))
      .withColumn("approx", approx)
      .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("approx"), col(idCol))))
      .filter(col("rn") <= topN)
      .select(col("qid"), col("qv"), col(idCol), col("approx"))
    vectors.select(col(idCol), col(vecCol))
      .join(broadcast(cands), Seq(idCol))
      .withColumn("dist", dist(col(vecCol), col("qv")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("dist"), col(idCol))))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), col("dist"))
  }

  /** BATCH ADC kNN JOIN over the persisted IVFADC store — the a6 shape
    * for the PQ path: a query RELATION is served in one wave against
    * the narrow (id, codes) store.
    *
    *  1. Per-query probe lists come from a broadcast JOIN against the
    *     `.centroids` sidecar relation (queries × centroids + per-query
    *     window — the centroid table is broadcast data, never a Q×C
    *     plan literal).
    *  2. Each (qid, probed list) row carries its ADC lookup table as a
    *     DATA column: residual = qv − cv (zip_with), then one
    *     transform/aggregate projection computes the m·k sub-distance
    *     table against the codebook. The codebook enters as ONE flat
    *     m·k·dsub literal — bounded by the codebook contract
    *     (corpus-size-independent KBs), while the per-(qid, list)
    *     tables, which DO grow with the batch, are rows in the
    *     broadcast probe relation, never plan constants or when-chains.
    *  3. The codes store is read pruned to the UNION of probed list
    *     partitions (PartitionFilters on list_id), broadcast-joined to
    *     the probe relation on list_id, and a row's approximate
    *     distance is m `element_at` lookups into its query's table.
    *  4. Per-query WindowGroupLimit keeps the topN ADC candidates; only
    *     those rows touch the wide vector table (broadcast keyed join)
    *     for the exact re-rank to the final k.
    *
    * Fold orders are pinned for engine portability: each table entry
    * accumulates sub-dimensions ascending (0 + d₀² + d₁² + …), a row's
    * score sums subspaces ascending — exactly what the a8 DuckDB oracle
    * unrolls. Returns (qid, id, dist). */
  def probeBatch(spark: SparkSession, path: String, vectors: DataFrame,
                 idCol: String, vecCol: String,
                 queries: DataFrame, qIdCol: String, qVecCol: String,
                 nprobe: Int, topN: Int, k: Int): DataFrame =
    probeBatch(open(spark, path), vectors, idCol, vecCol,
      queries, qIdCol, qVecCol, nprobe, topN, k)

  /** [[probeBatch]] against a pre-opened [[Store]] — the serving form:
    * no partition re-listing, no sidecar jobs per call. */
  def probeBatch(store: Store, vectors: DataFrame,
                 idCol: String, vecCol: String,
                 queries: DataFrame, qIdCol: String, qVecCol: String,
                 nprobe: Int, topN: Int, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cb: Codebook = store.cb
    val m = cb.length
    val kCodes = cb(0).length
    val dsub = cb(0)(0).length
    // flat (j, code, subdim)-ordered codebook literal — m·k·dsub doubles
    val cbFlat = array(cb.flatten.flatten.map(lit).toIndexedSeq: _*)
    val centRel = store.centRel
      .select(col("list_id").cast("long"),
        col("cv").cast("array<double>").as("cv"))
    val qProbe = queries
      .select(col(qIdCol).cast("long").as("qid"),
        col(qVecCol).cast("array<double>").as("qv"))
      .crossJoin(broadcast(centRel))
      .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(dist(col("qv"), col("cv")), col("list_id"))))
      .filter(col("rn") <= nprobe)
      .withColumn("qres", zip_with(col("qv"), col("cv"), (a, b) => a - b))
      .withColumn("lut", flatten(
        transform(sequence(lit(0), lit(m - 1)), j =>
          transform(sequence(lit(0), lit(kCodes - 1)), c =>
            aggregate(sequence(lit(0), lit(dsub - 1)), lit(0.0d),
              (acc, s) => {
                val d = element_at(col("qres"), j * dsub + s + 1) -
                  element_at(cbFlat, (j * kCodes + c) * dsub + s + 1)
                acc + d * d
              })))))
      .select(col("qid"), col("qv"), col("list_id"), col("lut"))
      .localCheckpoint()
    // the touched-list union prunes the codes read at partition level
    val lists = qProbe.select("list_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    val approx = (0 until m).map { j =>
      element_at(col("lut"), lit(j * kCodes) + element_at(col("codes"), j + 1) + 1)
    }.reduce(_ + _)
    val cands = store.codes
      .filter(col("list_id").isin(lists: _*))
      .join(broadcast(qProbe), Seq("list_id"))
      .withColumn("approx", approx)
      .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("approx"), col(idCol))))
      .filter(col("rn") <= topN)
      .select(col("qid"), col("qv"), col(idCol), col("approx"))
    vectors.select(col(idCol), col(vecCol))
      .join(broadcast(cands), Seq(idCol))
      .withColumn("dist", dist(col(vecCol), col("qv")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("qid"))
        .orderBy(col("dist"), col(idCol))))
      .filter(col("rn") <= k)
      .select(col("qid"), col(idCol), col("dist"))
  }
}
