package perfbench

import org.apache.spark.sql.functions._

import graft.SparkEntry

object Gates {
  /** The gates a pass runs, with each gate's pinned row count on the
    * bundled sf0.001 tables (agreeing with the DuckDB oracle): the
    * cheapest gate of each name family, plus the Graphs (d26) and GraphAnn
    * (a25) gates. Gates that stage persisted stores are left out: they
    * keep those stores outside the working directory between runs. */
  val Pinned: Seq[(String, Long)] = Seq(
    "q1_pricing_summary" -> 6L,
    "d1_exact_dups" -> 500L,
    "d26_triangles" -> 5L,
    "a2_ivf_knn" -> 10L,
    "a25_knn_graph" -> 2000L,
    "v5_index_search_exact" -> 16L,
    "t3_tfidf" -> 491L,
    "p8_temperature_mix" -> 399L,
    "m8_image_dedup" -> 244L,
    "s1_sessions" -> 946L,
    "i1_json_shred" -> 32000L)

  val DataDir = "perfbench/data/sf0.001"
}

/** A slice of the gate suite: every operator family (relational, dedup,
  * ANN, vector index, text, pipeline, multimodal, streaming, ingest) on
  * small tables, where the fixed per-query driver cost is a large share.
  * Each op is one gate's `.count()`; each pass runs every gate once in a
  * seeded order. */
final class Gates extends Workload {
  import Gates._

  val name = "gates"
  override val opsPerPass: Int = Pinned.size
  val minOps: Int = 3 * Pinned.size
  /** One untimed pass: the first run of each gate pays JIT and codegen. */
  override val warmupOps: Int = Pinned.size
  def params = Seq("data" -> DataDir, "gates" -> Pinned.map(_._1))

  private val expected = Pinned.toMap
  private var dir: String = _
  private var order: IndexedSeq[String] = IndexedSeq.empty
  private var last: (String, Long) = _

  def setup(ctx: Ctx, rep: Int): Unit = {
    val spark = ctx.spark
    dir = ctx.root.resolve(DataDir).toString
    require(new java.io.File(dir, "lineitem.parquet").exists(), s"no tables under $dir")
    // the same untimed warm-up the gate bench runs: JIT, codegen and
    // parquet footer caches
    ctx.span("warmup") {
      spark.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag")).count().collect()
      spark.range(100).selectExpr("sum(id)").collect()
    }
  }

  def release(ctx: Ctx): Unit = ctx.spark.catalog.clearCache()

  def op(ctx: Ctx, i: Int): Unit = {
    if (i % opsPerPass == 0) order = ctx.rng.shuffle(Pinned.map(_._1)).toIndexedSeq
    val gate = order(i % opsPerPass)
    last = null
    val rows = ctx.span(s"gate.$gate")(SparkEntry.queries(gate)(ctx.spark, dir).count())
    last = (gate, rows)
  }

  override def afterOp(ctx: Ctx, i: Int): Unit = if (last != null) {
    val (gate, rows) = last
    ctx.check(rows == expected(gate), s"gate $gate: $rows rows, pinned ${expected(gate)}")
  }

  def finish(ctx: Ctx): Unit = ctx.info("gates") = Pinned.size
}
