package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.VectorColumns
import graft.operators.TimeSeries.quantize

/** Streaming twins of the vector/ANN lanes — the live layer of the
  * two-level IVF serving path ([[graft.operators.Similarity]] owns
  * the batch side).
  *
  * Production shape at 100 TB: the quantizer is FIT offline (batch —
  * `lloydDistributed` + the per-cell refits), its centroid matrices
  * ship to the stream as plan-referenced constants, and arriving
  * vectors route in the scan stage of each micro-batch. State is one
  * row per open (window, cell) — cells are bounded (nlist), so state
  * is bounded regardless of stream rate; the watermark closes windows
  * and releases state, the bounded-state contract of every streaming
  * lane here.
  */
object VectorsPipeline {

  /** STREAMING TWO-LEVEL IVF CENSUS — the live twin of the batch
    * `ann_ivf_two_level` census: arriving vectors route through the
    * SAME [[graft.expressions.TwoLevelCellExpr]] kernel (identical
    * probe-the-supers / argmin-over-their-subs arithmetic — one
    * definition, so the live occupancy layer and the batch census can
    * never disagree on a vector's home cell) into
    * watermark-closed per-hour windows. Counts and min-id are
    * associative, so each (window, cell) reduces map-side-partially
    * within every micro-batch — the [[EventsPipeline.streamingTiles]]
    * discipline applied to the ANN lane. Output per closed window
    * mirrors the batch census row shape plus the window start.
    *
    * Input contract: `ts` (timestamp), `vec_id` (long), `emb`
    * (array<double>) — the fitted `sup`/`subs` matrices come from the
    * OFFLINE fit, exactly as a serving tier would load them. */
  def streamingTwoLevelCensus(vectors: DataFrame,
      sup: Array[Array[Double]], subs: Array[Array[Array[Double]]],
      nprobeSuper: Int): DataFrame = {
    val subK = subs(0).length
    vectors
      .withWatermark("ts", "2 hours")
      .withColumn("cell",
        VectorColumns.twoLevelCell(col("emb"), sup, subs, nprobeSuper))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("cell"))
      .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))
      .select(col("w.start").as("window_start"),
        (col("cell") / subK).cast("int").as("super_cell"),
        pmod(col("cell"), lit(subK)).cast("int").as("sub_cell"),
        col("n_vectors"), col("min_vec_id"))
  }

  /** STREAMING TWO-LEVEL ANN SERVING — the retrieval twin of
    * [[streamingTwoLevelCensus]] and the live layer of
    * `ann_ivf_two_level_topk`: arriving QUERY vectors route in the
    * scan stage through [[graft.expressions.TwoLevelProbeCellsExpr]]
    * (the compiled driver-router law — parity spec-pinned, so the
    * stream probes the SAME cells the batch lane picks), explode
    * into their `probeCells` product cells, stream-STATIC equi-join
    * the pre-assigned corpus on `cell` (each corpus vector matches a
    * query at most once — its home cell), exact cosine, and a
    * bounded [[graft.expressions.TopKAgg]] per (window, query)
    * closed by the watermark. 100 TB shape: the static side is the
    * bucketed corpus (partition-pruned by the join key at scale),
    * per-query state is one O(k) heap, and nothing routes through
    * the driver.
    *
    * Input contract: `ts` (timestamp), `query_id` (long), `qe`
    * (array<double>); `corpus` is the batch (vec_id, emb) frame.
    * Output per closed window: (window_start, query_id, neighbor_id,
    * rk, cosine) — the batch lane's row shape plus the window. */
  def streamingAnnServe(queries: DataFrame, corpus: DataFrame,
      sup: Array[Array[Double]], subs: Array[Array[Array[Double]]],
      nprobeSuper: Int, probeCells: Int, k: Int): DataFrame = {
    val home = corpus
      .withColumn("cell",
        VectorColumns.twoLevelCell(col("emb"), sup, subs, nprobeSuper))
    queries
      .withWatermark("ts", "2 hours")
      .withColumn("cell", explode(VectorColumns.twoLevelProbeCells(
        col("qe"), sup, subs, nprobeSuper, probeCells)))
      .join(home, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", VectorColumns.cosine(col("qe"), col("emb")))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("query_id"))
      .agg(graft.expressions.TopKAgg.topk(
        quantize(col("cos"), 6), col("vec_id"), col("cos"), k).as("top"))
      .select(col("w.start").as("window_start"), col("query_id"),
        posexplode(col("top")))
      .select(col("window_start"), col("query_id"),
        col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rk"),
        quantize(col("col.payload"), 4).as("cosine"))
  }
}
