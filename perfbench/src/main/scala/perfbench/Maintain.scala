package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Ingest

object Maintain {
  /** The corpus is the same for every seed (the seed drives which ids are
    * removed and which vectors probe). */
  val CorpusSeed = 42L
  val N = 10000
  val Dim = 64
  val Centers = 100
  val Lists = 16
  val Append = 200
  val Remove = 20
  val Probes = 5
  val NProbe = 4
  val K = 10
  val NoiseSd = 0.004
  /** Rounds the pre-generated append pool covers. */
  val MaxRounds = 60
  val RecallQueries = 10
}

/** A persisted IVF store (Similarity.writeIvf) under write-heavy upkeep.
  * Each pass is one round of ops: append fresh vectors
  * (Similarity.appendIvf), remove live ids (StoreMaintain.removeFromStore),
  * then probe by path (Similarity.probeIvf), alternately with a
  * just-appended vector and a noisy live one. Files pile up round after
  * round, as they do in a live store. */
final class Maintain extends Workload {
  import Maintain._

  val name = "maintain"
  override val opsPerPass: Int = 2 + Probes
  val minOps: Int = 6 * opsPerPass
  /** One untimed round: the first append and remove pay JIT warm-up. */
  override val warmupOps: Int = opsPerPass
  def params = Seq("n" -> N, "dim" -> Dim, "centers" -> Centers,
    "lists" -> Lists, "append_per_round" -> Append,
    "remove_per_round" -> Remove, "probes_per_round" -> Probes,
    "nprobe" -> NProbe, "k" -> K)

  private var pool: DataFrame = _
  private var poolVecs: Map[Long, Array[Float]] = _
  private var path: String = _
  private val live = mutable.LinkedHashSet.empty[Long]
  private val removed = mutable.HashSet.empty[Long]
  private var appended = 0
  /** This round's appended ids. */
  private var fresh: Vector[Long] = Vector.empty
  /** The last probe: (id that must come back or -1, result ids). */
  private var lastProbe: Option[(Long, Seq[Long])] = None
  private val files = mutable.ArrayBuffer.empty[Double]
  private val bytes = mutable.ArrayBuffer.empty[Double]

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    pool = ctx.span("Ingest.randomClustered") {
      val p = Ingest.randomClustered(spark, N + MaxRounds * Append, Dim, Centers,
        seed = CorpusSeed).cache()
      p.count()
      p
    }
    poolVecs = pool.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    path = ctx.work.resolve(s"ivf-$rep").toString
    ctx.span("Similarity.writeIvf")(
      Similarity.writeIvf(pool.filter(col("id") < N), "id", "vector", Lists, path))
    live.clear(); live ++= (0L until N.toLong)
    removed.clear(); appended = 0
  }

  def release(ctx: Ctx): Unit = {
    if (pool != null) pool.unpersist(blocking = true)
    if (path != null) Main.deleteTree(java.nio.file.Paths.get(path))
    pool = null
  }

  def op(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    i % opsPerPass match {
      case 0 =>
        require(appended < MaxRounds, "append pool exhausted")
        val lo = N.toLong + appended.toLong * Append
        fresh = (lo until lo + Append).toVector
        ctx.span("Similarity.appendIvf")(Similarity.appendIvf(spark, path,
          pool.filter(col("id") >= lo && col("id") < lo + Append), "vector"))
        appended += 1
        live ++= fresh
      case 1 =>
        val doomed = ctx.rng.shuffle(live.toVector.filterNot(fresh.toSet)).take(Remove)
        ctx.span("StoreMaintain.removeFromStore")(StoreMaintain.removeFromStore(
          spark, path, doomed.toDF("id"), "id", "list_id"))
        live --= doomed; removed ++= doomed
      case p =>
        val (q, own) =
          if (p % 2 == 0) {
            val id = fresh(ctx.rng.nextInt(fresh.size))
            (poolVecs(id).map(_.toDouble), id)
          } else {
            val ids = live.toVector
            val id = ids(ctx.rng.nextInt(ids.size))
            (poolVecs(id).map(x => x + ctx.rng.nextGaussian() * NoiseSd), -1L)
          }
        val ids = ctx.span("Similarity.probeIvf")(
          Similarity.probeIvf(spark, path, "id", "vector", q.toSeq, NProbe, K)
            .select("id").collect().map(_.getLong(0)).toSeq)
        lastProbe = Some((own, ids))
    }
  }

  override def afterOp(ctx: Ctx, i: Int): Unit = {
    lastProbe.foreach { case (own, ids) =>
      if (own >= 0) ctx.check(ids.contains(own),
        s"maintain op $i: appended id $own not returned for its own vector")
      ctx.check(ids.size == K, s"maintain op $i: probe returned ${ids.size} rows")
      val bad = ids.filter(removed.contains)
      ctx.check(bad.isEmpty, s"maintain op $i: removed ids $bad returned")
    }
    lastProbe = None
    if (i % opsPerPass == opsPerPass - 1) {
      val (f, b) = storeSize(java.nio.file.Paths.get(path))
      files += f; bytes += b
    }
  }
  private def storeSize(p: Path): (Double, Double) = {
    val s = Files.walk(p)
    try {
      val data = s.filter(f => Files.isRegularFile(f) &&
        f.getFileName.toString.endsWith(".parquet")).toArray.map(_.asInstanceOf[Path])
      (data.length.toDouble, data.map(Files.size).sum.toDouble)
    } finally s.close()
  }

  def finish(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val rows = spark.read.parquet(path)
    val stored = rows.count()
    ctx.check(stored == live.size, s"maintain store holds $stored rows, expected ${live.size}")
    val gone = rows.join(removed.toSeq.toDF("id"), "id").count()
    ctx.check(gone == 0, s"maintain store still holds $gone removed rows")
    if (files.nonEmpty) {
      ctx.layer("store.files") = Stats.median(files.toSeq)
      ctx.layer("store.bytes") = Stats.median(bytes.toSeq)
      ctx.layer("maintain.space_amp") = bytes.last / (live.size.toDouble * Dim * 4)
    }
    ctx.info("live_rows") = live.size
    ctx.info("rounds") = appended
    if (ctx.tracer.recording) {
      // recall of the final store against an exact scan of its own rows
      val liveIds = live.toVector
      val qs = (0 until RecallQueries).map { j =>
        val id = liveIds(ctx.rng.nextInt(liveIds.size))
        (j, poolVecs(id).toSeq.map(x => x + ctx.rng.nextGaussian() * NoiseSd))
      }
      val qdf = qs.toDF("qid", "qvec")
      val truth = BruteForce.knnJoin(rows, "vector", "id", qdf, "qid", "qvec", K)
        .select("qid", "id").collect()
        .groupBy(_.getInt(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val hits = qs.map { case (j, q) =>
        Similarity.probeIvf(spark, path, "id", "vector", q, NProbe, K)
          .select("id").collect().map(_.getLong(0)).toSet
          .intersect(truth.getOrElse(j, Set.empty[Long])).size
      }.sum
      ctx.layer("maintain.recall_at_10") = hits.toDouble / (RecallQueries * K)
      val removes = ctx.tracer.costs().collect {
        case (s, c) if s.name == "StoreMaintain.removeFromStore" => c.outputBytes.toDouble
      }
      if (removes.nonEmpty)
        ctx.layer("StoreMaintain.bytes_written_per_row_removed") = Stats.median(removes) / Remove
    }
  }
}
