package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.Climate.microMean

/** STAC (SpatioTemporal Asset Catalog) search-result processing — the
  * data semantics of `ingestor_planetary_process.py:195-230`: a STAC
  * API search (collections + closed datetime interval + query-
  * extension property predicates) yields pages of Items; each Item's
  * `assets` dict is probed by variable name (`assets.get(varname)`,
  * items lacking the asset silently dropped), and the selected
  * assets' datasets are opened, bbox-sliced, scaled by `factor` and
  * concatenated along time. The NETWORK half (pystac_client /
  * planetary_computer signing) is the declared ingest seam — what
  * lands here are the result documents; everything after the fetch is
  * this module.
  *
  * Spark-first shape: pages parse with the native `from_json` (one
  * codegen'd expression per page document — a paged result set keeps
  * the parse distributed across pages, exactly how STAC APIs deliver
  * results), items `explode` out, and search predicates + asset
  * probing are plain Column filters over the parsed struct — all
  * pushdown-friendly, no UDFs. At 100 TB the page documents arrive as
  * a parquet/text table of (name, content) and every stage scales
  * with page count.
  */
object Stac {

  /** Parse schema for the Item subset the reference consumes: id /
    * collection / bbox / properties (datetime + query-able fields) /
    * assets dict. `assets` is a MapType so `element_at` mirrors
    * Python's `assets.get(varname)` null-on-missing semantics. */
  val itemCollectionSchema: StructType = StructType(Seq(
    StructField("type", StringType),
    StructField("features", ArrayType(StructType(Seq(
      StructField("type", StringType),
      StructField("stac_version", StringType),
      StructField("id", StringType),
      StructField("collection", StringType),
      StructField("bbox", ArrayType(DoubleType)),
      StructField("properties", StructType(Seq(
        StructField("datetime", StringType),
        StructField("obs:count", LongType),
        StructField("value_us", LongType),
        StructField("ensemble", LongType)))),
      StructField("assets", MapType(StringType, StructType(Seq(
        StructField("href", StringType),
        StructField("type", StringType)))))))))))

  /** docs(name, content) → one row per Item, with the page name and
    * in-page position kept for provenance. Malformed JSON (from_json
    * → null) and non-FeatureCollection documents quarantine instead
    * of failing the job — same drop-seam discipline as the raster
    * codecs ([[Grids.decodeAscDrop]]). */
  def decodeStacDrop(docs: DataFrame): (DataFrame, DataFrame) = {
    val parsed = docs.withColumn("doc",
      from_json(col("content"), itemCollectionSchema))
    val bad = parsed.filter(col("doc").isNull ||
      col("doc.type") =!= "FeatureCollection" || col("doc.features").isNull)
      .select(col("name"), lit("malformed_item_collection").as("reason"))
    val items = parsed
      .filter(col("doc.type") === "FeatureCollection" &&
        col("doc.features").isNotNull)
      .select(col("name").as("page"),
        posexplode(col("doc.features")).as(Seq("pos", "item")))
      .filter(col("item.type") === "Feature")
    (items, bad)
  }

  /** The search predicate set of `catalog.search(collections=…,
    * datetime=[start,end], query=…)`: collection membership, CLOSED
    * ISO-interval on `properties.datetime` (lexicographic compare is
    * exact for Z-suffixed ISO-8601), and query-extension operators
    * (`gte`/`lte`/`eq` over item properties). */
  def searchItems(items: DataFrame, collections: Seq[String],
      dateStart: String, dateEnd: String,
      query: Seq[Column => Column] = Nil): DataFrame = {
    val base = items
      .filter(col("item.collection").isin(collections: _*))
      .filter(col("item.properties.datetime") >= dateStart &&
        col("item.properties.datetime") <= dateEnd)
    query.foldLeft(base)((df, p) => df.filter(p(col("item.properties"))))
  }

  /** `signed_item.assets.get(varname)` + `if asset:` — probe the
    * assets dict, drop items lacking the variable, surface the href/
    * media-type and the `× factor` scaling the reference applies to
    * the opened dataset. */
  def selectAssets(found: DataFrame, varname: String,
      factor: Double): DataFrame = {
    val asset = element_at(col("item.assets"), varname)
    found.withColumn("asset", asset).filter(col("asset").isNotNull)
      .select(
        col("item.id").as("item_id"),
        col("item.collection").as("collection"),
        substring(col("item.properties.datetime"), 1, 10).as("day"),
        col("asset.href").as("href"),
        col("asset.type").as("media_type"),
        col("item.bbox")(0).as("west"), col("item.bbox")(1).as("south"),
        col("item.bbox")(2).as("east"), col("item.bbox")(3).as("north"),
        col("item.properties.obs:count").as("n_obs"),
        (col("item.properties.value_us").cast("double") / 1e6 * factor)
          .as("value"))
  }

  /** END-TO-END oracle-checked lane: STAC pages are RENDERED in-plan
    * from the events grid (12 items ← user_id % 12; per-item count +
    * exact micro-unit mean; collection/datetime/bbox/ensemble all
    * deterministic functions of the item group; the `tp` asset
    * withheld from every gid % 4 == 1 item), paged 5-per-document,
    * then decoded and searched with ALL FOUR drop mechanisms live —
    * collections=[era5,cmip6] (drops obs), datetime∈[03-03,03-10]
    * (drops the edge items), query ensemble<=3 (drops gid%5==4),
    * asset probe (drops gid%4==1). The oracle recomputes the
    * survivors straight from events, so the gate proves
    * search∘parse∘render = identity — a parse or predicate bug
    * cannot hash-match. */
  def stacSearchItems(spark: SparkSession, dir: String): DataFrame = {
    val items = graft.Tables.events(spark, dir)
      .groupBy((col("user_id") % 12).as("gid"))
      .agg(count(lit(1)).as("cnt"),
        microMean.as("v_us"))
      .withColumn("id", concat(lit("item_"), lpad(col("gid"), 3, "0")))
      .withColumn("collection", element_at(
        array(lit("era5"), lit("cmip6"), lit("obs")),
        (col("gid") % 3 + 1).cast("int")))
      .withColumn("day", date_format(
        date_add(to_date(lit("2024-03-01")), col("gid").cast("int")),
        "yyyy-MM-dd"))
      .withColumn("west", lit(-10.0) + (col("gid") % 4).cast("double") * 5.0)
      .withColumn("south", lit(40.0) + expr("gid div 4").cast("double") * 2.0)
    val assetStruct = struct(
      concat(lit("./data/"), col("collection"), lit("/"), col("id"),
        lit("_tp.nc")).as("href"),
      lit("application/netcdf").as("type"))
    val thumbStruct = struct(
      concat(lit("./thumb/"), col("id"), lit(".png")).as("href"),
      lit("image/png").as("type"))
    val itemJson = items.select(col("gid"), expr("gid div 5").as("pg"),
      to_json(struct(
        lit("Feature").as("type"),
        lit("1.0.0").as("stac_version"),
        col("id"),
        col("collection"),
        array(col("west"), col("south"), col("west") + 2.0,
          col("south") + 2.0).as("bbox"),
        struct(
          concat(col("day"), lit("T00:00:00Z")).as("datetime"),
          col("cnt").as("obs:count"),
          col("v_us").as("value_us"),
          (col("gid") % 5).as("ensemble")).as("properties"),
        when(col("gid") % 4 === 1, map(lit("thumbnail"), thumbStruct))
          .otherwise(map(lit("thumbnail"), thumbStruct,
            lit("tp"), assetStruct)).as("assets"))).as("j"))
    // page assembly: bounded (≤5 items/page), order pinned by gid
    val docs = itemJson.groupBy(col("pg"))
      .agg(concat_ws(",", transform(
        array_sort(collect_list(struct(col("gid"), col("j")))),
        s => s.getField("j"))).as("body"))
      .select(concat(lit("page_"), col("pg"), lit(".json")).as("name"),
        concat(lit("""{"type":"FeatureCollection","features":["""),
          col("body"), lit("]}")).as("content"))
    val (parsed, _) = decodeStacDrop(docs)
    val found = searchItems(parsed, Seq("era5", "cmip6"),
      "2024-03-03T00:00:00Z", "2024-03-10T00:00:00Z",
      Seq(p => p.getField("ensemble") <= 3))
    selectAssets(found, "tp", factor = 2.5)
      .orderBy(col("item_id"))
  }
}
