package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import Climate.{byCell, microMean}
import TimeSeries.quantize

/** RASTER POLYGONIZATION + GeoJSON emission — the data-parallel core
  * of `gdal_polygonize` / `gdal_contour -p` that the reference shells
  * out to after contouring (`ingestor_knmi_evapo_fc.py:252-270`
  * produces contour POLYGONS, not just the per-cell band table
  * `grid_contour_bands` ports). The classic raster→vector algorithm,
  * re-expressed as relational operators end to end:
  *
  *  1. cells band by value (elementwise, scan stage);
  *  2. per (row, band) maximal RUNS via gaps-and-islands (one window
  *     over the row key — the standard islands trick, no UDF);
  *  3. vertically-overlapping same-band runs become edges (an
  *     equi-join on (band, row+1) with an interval-overlap filter —
  *     candidate pairs are O(runs), never cells²);
  *  4. connected components over the run graph
  *     ([[Dedup.connectedComponents]] — the same union-find/min-label
  *     machinery the dedup clusters use; a raster region IS a
  *     connected component);
  *  5. each region emits one RFC 7946 Feature whose MultiPolygon is
  *     the region's row-run RECTANGLE decomposition in deterministic
  *     (row, x0) order — the standard scanline decomposition of a
  *     rectilinear region (adjacent rects share edges; dissolving
  *     shared edges into one OGC ring is a presentation pass the
  *     decomposition already pins down).
  *
  * Everything is integer arithmetic and string assembly both engines
  * replay exactly, so the emitted GeoJSON itself is hash-checked —
  * a banding, run, adjacency, labeling or ordering bug cannot
  * produce the same bytes.
  *
  * Scale shape: banding and run-building are one window + one agg on
  * the (row, band) key; the adjacency join touches runs (≪ cells);
  * components run on the run GRAPH (tiny — regions per raster tile),
  * with the distributed min-label path taking over past the
  * small-graph ceiling. At 100 TB the raster arrives tiled and every
  * stage keys by (tile, row): nothing here concentrates a tile's
  * cells anywhere.
  */
object Polygonize {

  /** Band width in exact micro-units (25 value-units per band over
    * the events grid's ~0-200 unit means → a handful of bands with
    * real multi-run regions). */
  private[graft] val BandMicroUnits = 25000000.0

  /** MARCHING SQUARES contour LINES — the other half of
    * `gdal_contour` (`ingestor_knmi_evapo_fc.py:252-270` runs it at
    * fixed levels; `grid_contour_bands` ports the band
    * classification, this ports the ISO-LINE extraction): for every
    * 2×2 corner window and every level, the classic 16-case lookup
    * emits 0-2 line segments whose endpoints interpolate linearly
    * along the crossed edges. Inside = corner ≥ level; the two
    * saddle cases (5/10) disambiguate on the window's EXACT integer
    * corner sum vs 4·level (the center-mean rule, no floats in the
    * decision). Interpolation t = (L−va)/(vb−va) runs on micro-unit
    * integers cast to double — a selected edge always crosses, so
    * the denominator is never zero — and coordinates quantize to
    * 1e-6, so both engines emit bit-identical doubles.
    *
    * Shape: the corner windows are three equi-joins of the cell
    * table against itself (tile-local at scale — the D8 lanes'
    * pattern), levels explode as a literal array in the same scan,
    * and the per-window case/segment logic is one codegen'd when
    * chain. No shuffle beyond the cell aggregation itself. */
  private[graft] def contourSegments(cells: DataFrame,
      levels: Seq[Int]): DataFrame = {
    val g = cells
    def ren(dy: Int, dx: Int, as: String) =
      g.select((col("gy") - dy).as("gy"), (col("gx") - dx).as("gx"),
        col("v_us").as(as))
    val win = g.select(col("gy"), col("gx"), col("v_us").as("tl"))
      .join(ren(0, 1, "tr"), Seq("gy", "gx"))
      .join(ren(1, 0, "bl"), Seq("gy", "gx"))
      .join(ren(1, 1, "br"), Seq("gy", "gx"))
      .withColumn("lv", explode(array(levels.map(l => lit(l.toLong)): _*)))
      .withColumn("lus", col("lv") * 1000000L)
    val bit = (c: Column) => when(c >= col("lus"), 1).otherwise(0)
    val cased = win
      .withColumn("cse", bit(col("tl")) * 8 + bit(col("tr")) * 4 +
        bit(col("br")) * 2 + bit(col("bl")))
      .withColumn("ctr",
        col("tl") + col("tr") + col("br") + col("bl") >= col("lus") * 4)
    val nullS = lit(null).cast("string")
    def et(a1: String, a2: String, b1: String = null, b2: String = null) =
      struct(lit(a1).as("a1"), lit(a2).as("a2"),
        Option(b1).map(lit).getOrElse(nullS).as("b1"),
        Option(b2).map(lit).getOrElse(nullS).as("b2"))
    // the 16-case edge-pair table (T/B/L/R = crossed edge); saddles
    // split on the center rule
    val pairs = when(col("cse") === 1, et("L", "B"))
      .when(col("cse") === 2, et("B", "R"))
      .when(col("cse") === 3, et("L", "R"))
      .when(col("cse") === 4, et("T", "R"))
      .when(col("cse") === 5 && col("ctr"), et("T", "L", "B", "R"))
      .when(col("cse") === 5, et("T", "R", "L", "B"))
      .when(col("cse") === 6, et("T", "B"))
      .when(col("cse") === 7, et("T", "L"))
      .when(col("cse") === 8, et("T", "L"))
      .when(col("cse") === 9, et("T", "B"))
      .when(col("cse") === 10 && col("ctr"), et("T", "R", "L", "B"))
      .when(col("cse") === 10, et("T", "L", "B", "R"))
      .when(col("cse") === 11, et("T", "R"))
      .when(col("cse") === 12, et("L", "R"))
      .when(col("cse") === 13, et("R", "B"))
      .when(col("cse") === 14, et("B", "L"))
    val seg = cased.withColumn("e", pairs)
      .select(col("lv"), col("gy"), col("gx"),
        col("tl"), col("tr"), col("bl"), col("br"), col("lus"),
        explode(array(
          struct(lit(0).as("seg"), col("e.a1").as("e1"), col("e.a2").as("e2")),
          struct(lit(1).as("seg"), col("e.b1").as("e1"), col("e.b2").as("e2"))))
          .as("s"))
      .filter(col("s.e1").isNotNull)
    def t(va: Column, vb: Column) =
      (col("lus") - va).cast("double") / (vb - va).cast("double")
    def xOf(e: Column) =
      when(e === "T", col("gx") + t(col("tl"), col("tr")))
        .when(e === "B", col("gx") + t(col("bl"), col("br")))
        .when(e === "L", col("gx").cast("double"))
        .otherwise((col("gx") + 1).cast("double"))
    def yOf(e: Column) =
      when(e === "T", col("gy").cast("double"))
        .when(e === "B", (col("gy") + 1).cast("double"))
        .when(e === "L", col("gy") + t(col("tl"), col("bl")))
        .otherwise(col("gy") + t(col("tr"), col("br")))
    seg.select(col("lv").as("level"), col("gy"), col("gx"),
      col("s.seg").as("seg"),
      quantize(xOf(col("s.e1")), 6).as("x1"), quantize(yOf(col("s.e1")), 6).as("y1"),
      quantize(xOf(col("s.e2")), 6).as("x2"), quantize(yOf(col("s.e2")), 6).as("y2"))
  }

  def gridContourLines(spark: SparkSession, dir: String): DataFrame =
    contourSegments(
      byCell(graft.Tables.events(spark, dir))
        .agg(microMean.as("v_us")),
      Climate.contourLevels)

  /** The 8×8 events grid (same lattice as the codec/D8 lanes) banded,
    * run-length decomposed, region-labeled and emitted as GeoJSON —
    * one row per (region, band) with run/cell counts, the grid bbox
    * and the Feature string. */
  def gridPolygonize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = byCell(graft.Tables.events(spark, dir))
      .agg(microMean.as("v_us"))
      .withColumn("band",
        floor(col("v_us") / lit(BandMicroUnits)).cast("long"))
    val w = Window.partitionBy(col("gy"), col("band")).orderBy(col("gx"))
    val runs = cells
      .withColumn("grp", col("gx") - row_number().over(w))
      .groupBy(col("gy"), col("band"), col("grp"))
      .agg(min(col("gx")).as("x0"), max(col("gx")).as("x1"),
        count(lit(1)).as("len"))
      // one run starts per (row, x0) ⇒ gy·8 + x0 is a unique id, and
      // row order makes upper-row ids strictly smaller — the region
      // label (component minimum) is therefore the region's first
      // run in scan order, a stable, meaningful id
      .withColumn("run_id", col("gy") * 8 + col("x0"))
      .drop("grp")
      // read by the adjacency join (twice) and the final rollup
      .localCheckpoint()
    val below = runs.select(col("band"), (col("gy") - 1).as("gy"),
      col("x0").as("bx0"), col("x1").as("bx1"), col("run_id").as("idb"))
    val edges = runs.join(below, Seq("band", "gy"))
      .filter(col("x0") <= col("bx1") && col("bx0") <= col("x1"))
      .select(col("run_id").as("doc_a"), col("idb").as("doc_b"))
    val labels = Dedup.connectedComponents(edges)
      .select(col("doc_id").as("run_id"), col("cluster_id"))
    val rect = runs.join(labels, Seq("run_id"), "left")
      .withColumn("region", coalesce(col("cluster_id"), col("run_id")))
      .withColumn("s", concat(lit("[[["),
        col("x0"), lit(","), col("gy"),
        lit("],["), col("x1") + 1, lit(","), col("gy"),
        lit("],["), col("x1") + 1, lit(","), col("gy") + 1,
        lit("],["), col("x0"), lit(","), col("gy") + 1,
        lit("],["), col("x0"), lit(","), col("gy"), lit("]]]")))
    rect.groupBy(col("region").as("region_id"), col("band"))
      .agg(count(lit(1)).as("n_runs"), sum(col("len")).as("n_cells"),
        min(col("x0")).as("min_gx"), max(col("x1")).as("max_gx"),
        min(col("gy")).as("min_gy"), max(col("gy")).as("max_gy"),
        concat_ws(",", transform(
          array_sort(collect_list(struct(col("gy"), col("x0"),
            col("s").as("s")))),
          t => t.getField("s"))).as("rects"))
      .select(col("region_id"), col("band"), col("n_runs"), col("n_cells"),
        col("min_gx"), col("max_gx"), col("min_gy"), col("max_gy"),
        concat(
          lit("""{"type":"Feature","properties":{"band":"""), col("band"),
          lit(""","cells":"""), col("n_cells"),
          lit("""},"geometry":{"type":"MultiPolygon","coordinates":["""),
          col("rects"), lit("]}}")).as("geojson"))
  }
}
