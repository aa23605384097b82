package graft.operators

import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import scala.collection.mutable

/** Vicinity search over the space-partitioning index.
  *
  * Semantics = the reference's recursive search (DDL.sql:234-295):
  * descend from rangeId 0; follow the low child when `dimension is null or
  * mid >= q[dim] - domain`, the high child when `dimension is null or
  * mid <= q[dim] + domain`; emit leaf ids. The pruning is an L-inf box
  * test per split dimension, so the result is a CANDIDATE superset of the
  * L2 ball — `searchExact` re-checks with the exact distance predicate
  * (the caller-side re-verification of MemoryVectorIndex.cs:237-241).
  *
  * Physical strategy (ours, not the reference's):
  *  - `searchBoxLocal`: collect the index to the driver and walk it in
  *    memory — the index is ~2N tiny rows; for N up to a few million
  *    nodes this is a single collect + an in-memory descent, and the
  *    result is a broadcast-able id set. This mirrors the reference's SQL
  *    recursive CTE, which also runs on one node.
  *
  *    Walk memo (every local walk goes through [[localTree]]): for a
  *    CACHED index the built rangeId → node map is kept, keyed weakly on
  *    the identity of the cache entry Spark's CacheManager serves the
  *    index from, so repeated queries pay no count and no collect. The
  *    memo is exactly as fresh as Spark's own cache: `unpersist` or a
  *    re-cache of new contents yields a different (or no) entry, and a
  *    cleared entry's map is dropped at the next lookup. An uncached
  *    index — parquet-loaded, `localCheckpoint`ed — is counted and
  *    collected on every call, since its files or blocks can change
  *    under a live DataFrame. Driver memory: one compact map per cached
  *    index, holding at most the `localNodeLimit` of the guarded call
  *    that built it (the unguarded `searchBoxLocal` and
  *    `searchBoxWithMetrics` collect the whole index, as they always
  *    did); never the collected Rows.
  *  - `searchBoxDistributed`: iterative frontier loop — per level, join
  *    the (tiny, broadcast) frontier against the index relation. Survives
  *    indexes too large for any single node; ~depth joins, each
  *    broadcast-hash, no large-side shuffle.
  */
object IndexSearch {

  /** Candidate leaf ids within the box (auto local/distributed). */
  def searchBox(index: DataFrame, q: Seq[Double], domain: Double,
                localNodeLimit: Long = 2_000_000L): DataFrame =
    localTree(index, localNodeLimit) match {
      case Some(tree) => walkIds(index, tree, q, domain, l2 = false)
      case None => searchBoxDistributed(index, q, domain)
    }

  /** Exact vicinity search: candidate ids from the L2 budget descent
    * (strictly tighter than the box test for ball queries), re-checked
    * with the true euclidean predicate against the points table — equals
    * the brute-force oracle by construction (zero false pos/neg). */
  def searchExact(index: DataFrame, points: DataFrame, idCol: String,
                  vecCol: String, q: Seq[Double], radius: Double): DataFrame = {
    val cands = searchBall(index, q, radius).withColumnRenamed("id", idCol)
    points.join(cands, idCol)
      .filter(dist(col(vecCol), doubleVec(q)) <= radius)
  }

  /** Candidate leaf ids for an L2 ball query: the local path uses the
    * reference's squared-distance-budget pruning
    * (MemoryVectorIndex.cs:259-344) — budget starts at r² and tightens by
    * the squared offset each split adds on the non-query side; a subtree
    * is pruned when the budget goes negative. Still a candidate SUPERSET
    * of the true ball (the bound is a lower bound on the real distance),
    * so searchExact's re-check stays exact. Indexes too large to collect
    * fall back to the distributed box descent (a looser superset). */
  def searchBall(index: DataFrame, q: Seq[Double], radius: Double,
                 localNodeLimit: Long = 2_000_000L): DataFrame =
    localTree(index, localNodeLimit) match {
      case Some(tree) => walkIds(index, tree, q, radius, l2 = true)
      case None => searchBoxDistributed(index, q, radius)
    }

  private def walkIds(index: DataFrame, tree: mutable.LongMap[WalkNode],
                      q: Seq[Double], domain: Double, l2: Boolean): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    walkMap(tree, q, domain, l2).ids.toDF("id")
  }

  /** A collected tree: its rangeId → node map and its index row count
    * (what the `localNodeLimit` guard compares against). */
  private final case class LocalTree(byId: mutable.LongMap[WalkNode], rows: Long)

  /** Trees of cached indexes, keyed weakly on their cache entry's
    * identity (the entry is a case class, so an equality-keyed
    * WeakHashMap would conflate entries of equal plans). */
  private val treeMemo =
    mutable.ArrayBuffer.empty[(java.lang.ref.WeakReference[GraftSqlShim.CacheEntry], LocalTree)]

  private def memoized(entry: GraftSqlShim.CacheEntry): Option[LocalTree] =
    treeMemo.synchronized {
      treeMemo.filterInPlace { case (ref, _) =>
        val e = ref.get
        e != null && e.isCachedColumnBuffersLoaded
      }
      treeMemo.collectFirst { case (ref, t) if ref.get eq entry => t }
    }

  /** The index's in-memory walk map, or None when it holds more than
    * `localNodeLimit` rows (the caller then descends distributed). A
    * cached index is counted and collected once per cache entry; any
    * other index on every call. */
  private[graft] def localTree(index: DataFrame,
                               localNodeLimit: Long = Long.MaxValue)
      : Option[mutable.LongMap[WalkNode]] = {
    val entry = GraftSqlShim.cacheEntry(index)
    entry.flatMap(memoized) match {
      case Some(t) => Option.when(t.rows <= localNodeLimit)(t.byId)
      case None =>
        val fits = localNodeLimit == Long.MaxValue || {
          val probe = math.min(localNodeLimit + 1, Int.MaxValue.toLong - 1).toInt
          index.limit(probe).count() <= localNodeLimit
        }
        Option.when(fits) {
          val nodes = index.select("rangeId", "dimension", "mid", "lowRangeId",
            "highRangeId", "id").collect()
          val t = LocalTree(buildWalkMap(nodes, 0), nodes.length.toLong)
          entry.foreach(e => treeMemo.synchronized {
            if (!treeMemo.exists(_._1.get eq e))
              treeMemo += ((new java.lang.ref.WeakReference(e), t))
          })
          t.byId
        }
    }
  }

  /** In-memory descent over one tree's collected node rows; `off` is the
    * column offset of rangeId within each Row (rows after it must be
    * dimension, mid, lowRangeId, highRangeId, id — the index schema).
    * Used by the per-document walks; single-index walks take their map
    * from [[localTree]]. */
  private[graft] final case class WalkResult(ids: Seq[Long], nodesVisited: Long)

  /** One tree node of the collected walk structure (serializable so the
    * whole map can be BROADCAST for the batch per-partition walks). */
  private[graft] final case class WalkNode(
      dim: Integer, mid: Float, low: java.lang.Long, high: java.lang.Long,
      ids: mutable.ArrayBuffer[Long], internal: Boolean)

  /** Build the rangeId → node map once; walk it many times
    * ([[walkMap]]) — across the Q queries of a batch, and across calls
    * on a cached index ([[localTree]]). */
  private[graft] def buildWalkMap(rows: Iterable[org.apache.spark.sql.Row],
                                  off: Int): mutable.LongMap[WalkNode] = {
    val byId = mutable.LongMap.empty[WalkNode]
    rows.foreach { r =>
      val rangeId = r.getLong(off)
      val n = byId.getOrElseUpdate(rangeId,
        WalkNode(null, 0f, null, null, mutable.ArrayBuffer.empty,
          internal = false))
      if (!r.isNullAt(off + 5)) n.ids += r.getLong(off + 5)
      if (!r.isNullAt(off + 3)) {
        // internal row for this rangeId (leaf rows may share the rangeId
        // only under bucket leaves; the ids buffer is carried over)
        byId.update(rangeId, WalkNode(
          if (r.isNullAt(off + 1)) null else Int.box(r.getInt(off + 1)),
          if (r.isNullAt(off + 2)) 0f else r.getFloat(off + 2),
          Long.box(r.getLong(off + 3)),
          if (r.isNullAt(off + 4)) null else Long.box(r.getLong(off + 4)),
          n.ids, internal = true))
      }
    }
    byId
  }

  private[graft] def walkTree(rows: Iterable[org.apache.spark.sql.Row],
                              off: Int, q: Seq[Double], domain: Double,
                              l2: Boolean = false): WalkResult =
    walkMap(buildWalkMap(rows, off), q, domain, l2)

  private[graft] def walkMap(byId: mutable.LongMap[WalkNode],
                             q: Seq[Double], domain: Double,
                             l2: Boolean = false): WalkResult = {
    val out = mutable.ArrayBuffer.empty[Long]
    var visited = 0L
    if (l2) {
      // Squared-distance budget descent (MemoryVectorIndex.cs:259-344):
      // budget = r² − Σ_d offs(d)², where offs(d) is the known minimum
      // |q(d) − p(d)| for any point p in the current subtree (the low
      // child's region is v ≤ mid, the high child's v ≥ mid — F10 tie
      // split keeps mid on both sides, so the bound max(±(q−mid), 0) is
      // valid). Tighten on descent, restore on backtrack, prune at < 0.
      val offs = new Array[Double](q.length)
      def visit(rid: Long, budget: Double): Unit =
        byId.get(rid).foreach { n =>
          visited += 1
          out ++= n.ids
          if (n.internal) {
            if (n.dim == null) {
              // id-split node: no spatial narrowing
              if (n.low != null) visit(n.low.longValue(), budget)
              if (n.high != null) visit(n.high.longValue(), budget)
            } else {
              val d = n.dim.intValue()
              val c = q(d)
              val m = n.mid.toDouble
              val old = offs(d)
              if (n.low != null) {
                val nb = math.max(math.max(c - m, 0d), old)
                val b = budget + old * old - nb * nb
                if (b >= 0) { offs(d) = nb; visit(n.low.longValue(), b); offs(d) = old }
              }
              if (n.high != null) {
                val nb = math.max(math.max(m - c, 0d), old)
                val b = budget + old * old - nb * nb
                if (b >= 0) { offs(d) = nb; visit(n.high.longValue(), b); offs(d) = old }
              }
            }
          }
        }
      // 1e-9 relative inflation: r² rounds below the exact squared sum
      // for a point at EXACTLY distance r, and the budget's add/subtract
      // chain drifts by ~d·ulp — either could prune a boundary match the
      // exact re-check can't recover. The inflation dominates both; the
      // few extra candidates are removed by the re-check.
      visit(0L, domain * domain * 1.000000001d)
    } else {
      val stack = mutable.Stack[Long](0L)
      while (stack.nonEmpty) {
        byId.get(stack.pop()).foreach { n =>
          visited += 1
          out ++= n.ids
          if (n.internal) {
            val (lo, hi) =
              if (n.dim == null) (true, true)
              else {
                val c = q(n.dim.intValue())
                (n.mid.toDouble >= c - domain, n.mid.toDouble <= c + domain)
              }
            if (lo && n.low != null) stack.push(n.low.longValue())
            if (hi && n.high != null) stack.push(n.high.longValue())
          }
        }
      }
    }
    WalkResult(out.toSeq, visited)
  }

  /** Driver-local descent (index collected, or taken from the walk
    * memo). Returns one column `id` of candidate point ids. */
  def searchBoxLocal(index: DataFrame, q: Seq[Double], domain: Double): DataFrame =
    walkIds(index, localTree(index).get, q, domain, l2 = false)

  /** Per-document box search over a (docId, ...) index built by
    * buildIndexPerDoc — mirrors dbo.Search's optional @docId
    * (DDL.sql:240-241,262-263): None searches every document. Returns
    * (docId, id) candidate rows.
    *
    * Scale guard (mirrors searchBox): the selected documents' trees are
    * collected and walked locally only while they fit `localNodeLimit`;
    * past it — the many-document `docId = None` case at corpus scale —
    * the descent runs as a distributed frontier loop keyed on
    * (docId, rangeId), so no tree ever reaches the driver. */
  def searchBoxPerDoc(index: DataFrame, q: Seq[Double], domain: Double,
                      docId: Option[Long] = None,
                      localNodeLimit: Long = 2_000_000L): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val filtered = docId.map(d => index.filter(col("docId") === d)).getOrElse(index)
    val probe = math.min(localNodeLimit + 1, Int.MaxValue.toLong - 1).toInt
    if (filtered.limit(probe).count() <= localNodeLimit) {
      val nodes = filtered.select("docId", "rangeId", "dimension", "mid",
        "lowRangeId", "highRangeId", "id").collect()
      nodes.groupBy(_.getLong(0)).toSeq.flatMap { case (doc, rows) =>
        walkTree(rows, 1, q, domain).ids.map(id => (doc, id))
      }.toDF("docId", "id")
    } else searchBoxPerDocDistributed(filtered, q, domain)
  }

  /** Frontier-join descent over MANY documents' trees at once: every
    * doc's root enters the frontier; each level joins the surviving
    * (docId, childId) pairs back against the index on the COMPOSITE key,
    * so documents descend independently in the same jobs. No broadcast
    * hint on the child join — the frontier is O(docs × branching) wide
    * and AQE picks broadcast only when it actually fits. */
  private[graft] def searchBoxPerDocDistributed(index: DataFrame, q: Seq[Double],
                                                domain: Double): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val qCol = doubleVec(q.map(_.toDouble))
    val idx = index.localCheckpoint()
    var frontier = idx.filter($"rangeId" === 0L).localCheckpoint()
    var leaves = List.empty[DataFrame]
    while (!frontier.isEmpty) {
      leaves = frontier.filter($"id".isNotNull).select($"docId", $"id")
        .localCheckpoint() :: leaves
      val qv = element_at(qCol, $"dimension" + 1)
      val childIds = frontier.filter($"lowRangeId".isNotNull)
        .select($"docId".as("cdoc"), explode(array(
          when($"dimension".isNull ||
            $"mid".cast("double") >= qv - domain, $"lowRangeId"),
          when($"dimension".isNull ||
            $"mid".cast("double") <= qv + domain, $"highRangeId"))).as("childId"))
        .filter($"childId".isNotNull)
        .distinct()
      val next = idx.join(childIds,
          $"rangeId" === $"childId" && $"docId" === $"cdoc")
        .drop("childId", "cdoc")
        .localCheckpoint()
      IndexBuild.freeCheckpoint(frontier)
      frontier = next
    }
    IndexBuild.freeCheckpoint(frontier)
    IndexBuild.freeCheckpoint(idx)
    leaves.reduceOption(_ unionAll _)
      .getOrElse(spark.emptyDataset[(Long, Long)].toDF("docId", "id"))
  }

  /** Search metrics — the reference's index-quality observability
    * (predicate calls per match, MemoryVectorIndexTests.cs:165-196). */
  case class SearchMetrics(nodesVisited: Long, leavesEmitted: Long,
                           candidates: Long)

  /** Box (or L2-budget) search with probe accounting: one local tree
    * ([[localTree]]), one instrumented walk (the same walkMap the plain
    * local search uses). */
  def searchBoxWithMetrics(index: DataFrame, q: Seq[Double], domain: Double,
                           l2: Boolean = false)
      : (DataFrame, SearchMetrics) = {
    val spark = index.sparkSession
    import spark.implicits._
    val result = walkMap(localTree(index).get, q, domain, l2)
    (result.ids.toDF("id"),
      SearchMetrics(result.nodesVisited, result.ids.size.toLong,
        result.ids.size.toLong))
  }

  /** The reference's own query surface: `dbo.Search` is a recursive CTE
    * (DDL.sql:255-294). Spark 4.1 supports WITH RECURSIVE — this is the
    * one-statement SQL twin of the frontier loop, for SQL-surface parity.
    * `indexView` must be a registered temp view of the index relation. */
  def searchBoxSql(spark: SparkSession, indexView: String,
                   q: Seq[Double], domain: Double): DataFrame = {
    val qArr = q.mkString("array(", ", ", ")")
    spark.sql(
      s"""WITH RECURSIVE node AS (
         |  SELECT * FROM $indexView WHERE rangeId = 0
         |  UNION ALL
         |  SELECT i.* FROM $indexView i JOIN node n
         |    ON (n.lowRangeId IS NOT NULL AND i.rangeId = n.lowRangeId AND
         |        (n.dimension IS NULL OR
         |         CAST(n.mid AS DOUBLE) >= element_at($qArr, n.dimension + 1) - $domain))
         |    OR (n.highRangeId IS NOT NULL AND i.rangeId = n.highRangeId AND
         |        (n.dimension IS NULL OR
         |         CAST(n.mid AS DOUBLE) <= element_at($qArr, n.dimension + 1) + $domain))
         |)
         |SELECT id FROM node WHERE id IS NOT NULL""".stripMargin)
  }

  /** BATCH box search — Q queries through ONE shared frontier descent
    * (the serving shape at 100×: per-query descents re-scan the index Q
    * times; this scans it once per LEVEL regardless of Q). The frontier
    * holds (qid, qvec, childId) triples — O(Q × level width) rows,
    * broadcast onto the partitioned index exactly like [[knnJoin]]'s
    * broadcast-queries shape (`a6`) — so each level is one index scan
    * joined against a broadcast query frontier, and queries that prune
    * differently simply stop contributing rows. Pruning is the per-query
    * L-inf box test (the `DDL.sql:240-249` predicate with `q[dim]` taken
    * from the ROW's query vector), a candidate superset of each query's
    * L2 ball; [[searchExactBatch]] re-checks exactly.
    * Returns (qid, id) candidate pairs. */
  def searchBoxBatch(index: DataFrame, queries: DataFrame, qidCol: String,
                     qvecCol: String, domain: Double,
                     localNodeLimit: Long = 2_000_000L): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    // Fast path when the tree fits a broadcast (it's ~2N tiny rows): ONE
    // scan of the partitioned queries with the tree map broadcast, each
    // task walking its queries' L2-budget descents against the shared
    // in-memory tree — a6's broadcast-small-side principle with the
    // roles the data sizes dictate (queries partitioned, index
    // broadcast). No loop, no per-level jobs. The frontier-join loop
    // below remains the path for indexes too large for any single node.
    val local = localTree(index, localNodeLimit)
    if (local.isDefined) {
      val bc = spark.sparkContext.broadcast(local.get)
      return queries
        .select(col(qidCol).cast("long").as("qid"),
          col(qvecCol).cast("array<double>").as("qvec"))
        .as[(Long, Seq[Double])]
        .flatMap { case (qid, qv) =>
          walkMap(bc.value, qv, domain, l2 = true).ids.map(id => (qid, id))
        }
        .toDF("qid", "id")
    }
    val idx = index.localCheckpoint()
    val qs = queries.select(col(qidCol).as("qid"),
      col(qvecCol).cast("array<double>").as("qvec"))
    var frontier = idx.filter($"rangeId" === 0L).crossJoin(broadcast(qs))
      .localCheckpoint()
    var leaves = List.empty[DataFrame]
    while (!frontier.isEmpty) {
      leaves = frontier.filter($"id".isNotNull).select($"qid", $"id")
        .localCheckpoint() :: leaves
      val qv = element_at($"qvec", $"dimension" + 1)
      val childIds = frontier.filter($"lowRangeId".isNotNull)
        .select($"qid", $"qvec", explode(array(
          when($"dimension".isNull ||
            $"mid".cast("double") >= qv - domain, $"lowRangeId"),
          when($"dimension".isNull ||
            $"mid".cast("double") <= qv + domain, $"highRangeId"))).as("childId"))
        .filter($"childId".isNotNull)
        .dropDuplicates("qid", "childId")
      val next = idx.join(broadcast(childIds), $"rangeId" === $"childId")
        .drop("childId")
        .localCheckpoint()
      IndexBuild.freeCheckpoint(frontier)
      frontier = next
    }
    IndexBuild.freeCheckpoint(frontier)
    IndexBuild.freeCheckpoint(idx)
    leaves.reduceOption(_ unionAll _)
      .getOrElse(spark.emptyDataset[(Long, Long)].toDF("qid", "id"))
  }

  /** BATCH exact vicinity search: the [[searchBoxBatch]] candidates
    * re-checked with the true per-query euclidean predicate — equals the
    * brute-force per-query oracle by construction. Output:
    * (qid, point id columns...) for every point within `radius` of its
    * query. */
  def searchExactBatch(index: DataFrame, points: DataFrame, idCol: String,
                       vecCol: String, queries: DataFrame, qidCol: String,
                       qvecCol: String, radius: Double): DataFrame = {
    val cands = searchBoxBatch(index, queries, qidCol, qvecCol, radius)
      .withColumnRenamed("id", idCol)
    val qs = queries.select(col(qidCol).as("qid"),
      col(qvecCol).as("__qvec"))
    points.join(cands, idCol)
      .join(broadcast(qs), "qid")
      .filter(dist(col(vecCol), col("__qvec")) <= radius)
      .drop("__qvec")
  }

  /** Iterative frontier-join descent for indexes too large to collect. */
  def searchBoxDistributed(index: DataFrame, q: Seq[Double], domain: Double): DataFrame = {
    val spark = index.sparkSession
    import spark.implicits._
    val qCol = doubleVec(q.map(_.toDouble))
    val idx = index.localCheckpoint()
    var frontier = idx.filter($"rangeId" === 0L).localCheckpoint()
    // per-level leaf ids are checkpointed (they ARE the result, so their
    // blocks live until the caller is done) — which lets every frontier
    // checkpoint be released as soon as its successor is materialized
    // (no storage-block leak across levels)
    var leaves = List.empty[DataFrame]
    while (!frontier.isEmpty) {
      leaves = frontier.filter($"id".isNotNull).select($"id")
        .localCheckpoint() :: leaves
      val qv = element_at(qCol, $"dimension" + 1)
      val childIds = frontier.filter($"lowRangeId".isNotNull)
        .select(explode(array(
          when($"dimension".isNull ||
            $"mid".cast("double") >= qv - domain, $"lowRangeId"),
          when($"dimension".isNull ||
            $"mid".cast("double") <= qv + domain, $"highRangeId"))).as("childId"))
        .filter($"childId".isNotNull)
        .distinct()
      val next = idx.join(broadcast(childIds), $"rangeId" === $"childId")
        .drop("childId")
        .localCheckpoint()
      IndexBuild.freeCheckpoint(frontier)
      frontier = next
    }
    IndexBuild.freeCheckpoint(frontier)
    IndexBuild.freeCheckpoint(idx)
    leaves.reduceOption(_ unionAll _)
      .getOrElse(spark.emptyDataset[Long].toDF("id"))
  }
}
