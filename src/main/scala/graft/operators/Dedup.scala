package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TimeSeries.quantize

/** Near-duplicate detection over the `documents` corpus — the
  * LLM-pipeline dedup family (SURVEY §2 ops 24-26).
  *
  * The 100 TB invariant shared by every variant: candidate pairs come
  * ONLY from shared buckets (shingles, LSH bands, simhash chunks) —
  * never an all-pairs product. Within-bucket pair counts are bounded
  * by a bucket-frequency cap so one degenerate hot bucket cannot
  * produce O(n²) candidates; AQE's skew-join splitting handles the
  * residual imbalance. Pairs are always generated with
  * `id_a < id_b` to halve the work and avoid self-pairs.
  */
object Dedup {

  /** Distinct word 3-shingles per document, as one array column.
    * Generated with a single codegen'd regex pass — a zero-width
    * match anchored at each token start captures the overlapping
    * 3-gram — instead of `transform`+`slice` lambdas, whose
    * higher-order functions evaluate interpreted per element
    * (measured ~2× slower end-to-end). Elementwise in the scan
    * stage; documents are size-bounded so the array is too. */
  private def shingleArrays(docs: DataFrame): DataFrame =
    Tables.spread(docs, col("doc_id"))
      // native one-pass shingle kernel (r17) — byte-exact twin of the
      // regexp_extract_all + array_distinct composition (ShinglesSpec
      // pins element-for-element equality, corpus included); deletes
      // the Java-regex lookaround machinery from the hottest scan
      // stage of the dedup family
      .select(col("doc_id"),
        graft.expressions.TextColumns.shingles(col("text"), 3)
        .as("sh_arr"))
      // noPushdown (r17): left bare, PushPredicateThroughNonJoin
      // inlines the regex into this predicate (twice — size() and
      // isnotnull()) and pushes it below the spread Exchange, so the
      // whole tokenize ran serially in the pre-shuffle map stage and
      // AGAIN in the post-shuffle projection (plan-audited: 582 ms
      // single-task stage on dedup_ngram_jaccard → 39 ms; the regex
      // now runs once, parallel, where it is written).
      .filter(graft.expressions.PlanColumns.noPushdown(
        size(col("sh_arr")) > 0))

  /** Exploded (doc_id, shingle) rows — the candidate generator. */
  private def shingles(docs: DataFrame): DataFrame =
    shingleArrays(docs)
      .select(col("doc_id"), explode(col("sh_arr")).as("shingle"))

  /** Attach both docs' shingle arrays to candidate pairs and score
    * them elementwise: jaccard = |∩|/|∪| via array_intersect/union —
    * two joins on the pair ids, zero extra aggregations. */
  private def scorePairs(cands: DataFrame, sh: DataFrame): DataFrame =
    cands
      .join(sh.select(col("doc_id").as("doc_a"), col("sh_arr").as("arr_a")),
        Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh_arr").as("arr_b")),
        Seq("doc_b"))
      .withColumn("jaccard",
        round(size(array_intersect(col("arr_a"), col("arr_b")))
          / size(array_union(col("arr_a"), col("arr_b"))).cast("double"), 4))
      .filter(col("jaccard") >= JaccardT)
      .select("doc_a", "doc_b", "jaccard")

  /** Jaccard threshold for the pair operators. */
  private val JaccardT = 0.5

  /** Exact n-gram Jaccard over shared-shingle candidates: documents
    * sharing at least one 3-shingle are scored
    * |A∩B| / (|A|+|B|-|A∩B|); pairs ≥ 0.5 survive. The shingle
    * equi-join is the candidate generator — the shuffle key is the
    * shingle (high cardinality), and only co-bucketed docs ever meet.
    * The shared count IS the intersection size, so scoring needs only
    * the per-doc set sizes — no second pass over shingle arrays.
    * At corpus scale a hot-shingle long tail would make this
    * candidate join quadratic; minhashLsh below is the scale path
    * (band buckets + frequency cap). */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardPairs(shingleArrays(Tables.documents(spark, dir)))
      .select("doc_a", "doc_b", "jaccard")

  /** Every document pair `doc_a < doc_b` sharing a shingle of the
    * [[shingleArrays]] rows `shArr`: the `shared` count (the
    * intersection size) and both set sizes `n_a`, `n_b`. Each
    * exploded row CARRIES its doc's set size, so the pair join itself
    * delivers n_a/n_b (constant per doc — min() just picks it
    * deterministically): no per-side counts join, and only the two
    * intrinsic self-join tokenizations remain (plan-audited: 4 corpus
    * tokenizations → 2, two joins fewer). The Spark twin of the
    * oracles' `sh`/`cnt`/`p0` fragment. */
  private def sharedShinglePairs(shArr: DataFrame): DataFrame = {
    val sh = shArr.select(col("doc_id"), size(col("sh_arr")).as("n_sh"),
      explode(col("sh_arr")).as("shingle"))
    sh.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a"), col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"),
        col("shingle")), Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"),
        min(col("n_a")).as("n_a"), min(col("n_b")).as("n_b"))
  }

  /** The [[sharedShinglePairs]] scored by Jaccard, kept at ≥ 0.5. */
  private def jaccardPairs(shArr: DataFrame): DataFrame =
    sharedShinglePairs(shArr)
      .withColumn("jaccard",
        round(col("shared") / (col("n_a") + col("n_b") - col("shared")), 4))
      .filter(col("jaccard") >= JaccardT)

  /** Containment threshold for [[ngramContainment]]. */
  private val ContainT = 0.8

  /** N-gram CONTAINMENT near-SUPERSET detection — the asymmetric
    * companion to [[ngramJaccard]]: C(A,B) = |A∩B| / min(|A|,|B|).
    * Jaccard misses the quote/boilerplate case entirely — a short doc
    * wholly embedded in a long one scores |A|/|B| ≈ 0 on Jaccard but
    * 1.0 on containment — and that case (mirrored articles with added
    * navigation, quoted posts, concatenated shards) is a major
    * near-dup class in web corpora. Pairs with C ≥ 0.8 survive.
    *
    * Same 100 TB shape as [[ngramJaccard]]: candidates ONLY from the
    * shared-shingle equi-join (each exploded row carries its doc's
    * set size, so the pair join itself delivers n_a/n_b and the
    * shared count IS the intersection — no second pass, no extra
    * joins); minhash-LSH banding is the hot-tail-capped scale path
    * for candidate generation, identical to the Jaccard family. */
  def ngramContainment(spark: SparkSession, dir: String): DataFrame =
    sharedShinglePairs(shingleArrays(Tables.documents(spark, dir)))
      .withColumn("containment",
        round(col("shared") / least(col("n_a"), col("n_b")).cast("double"), 4))
      .filter(col("containment") >= ContainT)
      .select(col("doc_a"), col("doc_b"),
        col("n_a").cast("long").as("n_a"), col("n_b").cast("long").as("n_b"),
        col("containment"))

  /** Near-dup CLUSTERS from the pairwise matches: connected
    * components of the ngram-Jaccard graph by iterative min-label
    * propagation — each round every node adopts the smallest label in
    * its neighborhood, converging in O(component diameter) rounds
    * (near-dup components are shallow: pairs/triples, so 2-3 rounds
    * in practice). Every round is one shuffle join on the edge list;
    * the driver only reads a 1-row convergence aggregate (sum of
    * labels, strictly decreasing until fixpoint), never the data.
    * This is what a dedup pipeline actually consumes: pick
    * `min(doc_id)` per cluster as the keeper, drop the rest. */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(ngramJaccard(spark, dir).select("doc_a", "doc_b"))

  /** [[dedupClusters]] fed from the CAPPED minhash-LSH pair source —
    * the 100 TB default: candidate generation is band-bucketed and
    * frequency-capped, so no hot-shingle tail can go quadratic the
    * way the exact ngram join can. Both sources verify pairs with the
    * same exact Jaccard ≥ 0.5, so on any corpus where LSH recall is
    * total the clusterings are identical (spec-asserted); the exact
    * variant stays as the small-scale oracle twin. */
  def dedupClustersScaled(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(minhashLsh(spark, dir).select("doc_a", "doc_b"))

  /** SURVIVORSHIP dedup — which document each near-dup cluster KEEPS,
    * chosen by QUALITY rather than the arbitrary min-id convention:
    * the curation rule real pipelines want ("keep the cleanest copy,
    * drop the OCR-damaged mirror"), composing [[dedupClusters]] with
    * the [[graft.operators.TextOps.textQuality]] score. Keeper =
    * highest quality_score, smallest doc_id on ties (deterministic).
    *
    * Shape at scale: clusters are a SLIVER of the corpus (only docs
    * with a verified near-dup), pinned once; quality then scores
    * only that sliver — the raw docs are SEMI-JOINED by cluster
    * membership BEFORE the regex/tokenize pass (the [[minhashLsh]]
    * candidate-restriction trick), so the expensive scan never
    * touches non-duplicated docs. The keeper argmax is a map-side
    * `max(struct(score, −id))` — no window, no sort ([[graft
    * .operators.TimeSeries]] burst-flag tie-break pattern). */
  def dedupSurvivorship(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(spark, dir).localCheckpoint()
    keepersOf(spark, dir, clusters)
  }

  /** Keeper table from a PINNED cluster sliver — the shared core of
    * [[dedupSurvivorship]] (report) and [[dedupSurvivorshipApply]]
    * (kept-corpus emission): quality scores only the semi-joined
    * member docs, keeper argmax is a map-side `max(struct)`. */
  private def keepersOf(spark: SparkSession, dir: String,
      clusters: DataFrame): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .join(clusters.select(col("doc_id")), Seq("doc_id"), "left_semi")
    val q = graft.operators.TextOps.textQualityOf(docs)
      .select(col("doc_id"), col("quality_score"))
    clusters.join(q, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality_score").as("qs"), (-col("doc_id")).as("ni")))
          .as("k"))
      .select(col("cluster_id"), col("n_members"),
        (-col("k.ni")).cast("long").as("keeper_doc"),
        col("k.qs").as("keeper_score"))
  }

  /** APPLY stage of survivorship dedup — the KEPT corpus: every
    * unclustered doc plus each near-dup cluster's highest-quality
    * member ([[dedupSurvivorship]]'s keeper). Emits (doc_id, source,
    * n_chars) — the slim identity projection; downstream joins pull
    * text by id so the full-text column never rides the anti-join.
    *
    * Shape at scale: the drop-list is cluster members minus keepers —
    * a SLIVER of a sliver, built from the pinned cluster table and
    * the O(#clusters) keeper aggregate, then anti-joined against the
    * corpus (broadcast-sized in practice; Spark picks BHJ under AQE
    * when it fits, SMJ otherwise — both correct). */
  def dedupSurvivorshipApply(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(spark, dir).localCheckpoint()
    val dropped = clusters.join(
      keepersOf(spark, dir, clusters)
        .select(col("keeper_doc").as("doc_id")),
      Seq("doc_id"), "left_anti")
    Tables.documents(spark, dir)
      .join(dropped.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_chars"))
  }

  /** Near-dup SAVINGS report — what the survivorship policy actually
    * buys, per source: corpus totals beside the dropped-member doc
    * and char mass and the saved fraction (the number that justifies
    * the dedup compute bill, and the per-source view that shows
    * WHICH crawl is paying for it). Same pinned cluster sliver and
    * keeper aggregate as [[dedupSurvivorshipApply]]; the report side
    * is two bounded aggregations joined on O(sources) rows. */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(spark, dir).localCheckpoint()
    val dropped = clusters.join(
      keepersOf(spark, dir, clusters)
        .select(col("keeper_doc").as("doc_id")),
      Seq("doc_id"), "left_anti")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val droppedBySrc = docs
      .join(dropped.select("doc_id"), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("dropped_docs"),
        sum(col("n_chars")).as("dropped_chars"))
    docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
      .join(broadcast(droppedBySrc), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_chars"),
        coalesce(col("dropped_docs"), lit(0L)).as("dropped_docs"),
        coalesce(col("dropped_chars"), lit(0L)).as("dropped_chars"),
        quantize(coalesce(col("dropped_chars"), lit(0L)).cast("double")
          / col("n_chars"), 4).as("saved_frac"))
  }

  /** Cross-SOURCE contamination matrix — for every pair of corpus
    * sources, how much verbatim content they share: distinct shared
    * word 3-shingles, plus containment (shared / smaller set — "is
    * source B mostly a mirror of A?") and Jaccard. This is the
    * corpus-curation view of [[decontaminate]]: before mixing
    * sources into a training corpus you want the overlap MATRIX
    * (crawl snapshots vs curated dumps, mirrors, re-hosted wikis),
    * not just doc-level pairs.
    *
    * Shape at scale: the unit is the DISTINCT (source, shingle) pair,
    * so per-shingle join fan-out is bounded by the number of SOURCES
    * carrying it (a handful), never by document frequency — the hot-
    * shingle tail that makes doc-level pair joins quadratic is
    * structurally capped here, and the output is sources² rows. The
    * distinct pair table is pinned (localCheckpoint): both self-join
    * sides and the per-source counts read it, and unpinned each
    * reference re-runs the tokenize+explode+distinct pass (the
    * operator's dominant cost — same call as [[minhashLsh]]'s bucket
    * pin; on a cluster you'd materialize it to parquet, same trade).
    * Per-source totals ride the broadcast-sized counts table. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlapOf(Tables.spread(Tables.documents(spark, dir), col("doc_id")))

  /** [[sourceOverlap]] over an arbitrary (source, text) frame — seam
    * so the matrix is spec-checkable on constructed corpora. */
  private[graft] def sourceOverlapOf(docs: DataFrame): DataFrame = {
    val ss = docs
      .select(col("source"), explode(
        graft.expressions.TextColumns.shingles(col("text"), 3))
        .as("shingle"))
      .distinct()
      .localCheckpoint()
    val counts = ss.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    ss.select(col("source").as("source_a"), col("shingle"))
      .join(ss.select(col("source").as("source_b"), col("shingle")),
        Seq("shingle"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("shared"))
      .join(broadcast(counts.select(col("source").as("source_a"),
        col("n_sh").as("n_a"))), Seq("source_a"))
      .join(broadcast(counts.select(col("source").as("source_b"),
        col("n_sh").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("shared"),
        col("n_a"), col("n_b"),
        round(col("shared") / least(col("n_a"), col("n_b")), 4)
          .as("containment"),
        round(col("shared") / (col("n_a") + col("n_b") - col("shared")), 4)
          .as("jaccard"))
  }

  /** Benchmark decontamination — the training-corpus hygiene step
    * that removes documents leaking evaluation data: any training doc
    * sharing at least one word 8-shingle with a held-out benchmark
    * doc is flagged (the standard n-gram-overlap decontamination
    * rule). Returns the contamination report: flagged `doc_id` +
    * distinct shared-shingle count as evidence.
    *
    * Shape at scale: shingles are extracted in the scan stage (one
    * codegen'd regex pass over normalized text, distinct per doc),
    * the benchmark side collapses to its DISTINCT shingle set, and
    * contamination is one equi-join on the shingle. A real benchmark
    * suite is a FIXED small set (it does not grow with the corpus),
    * so at runtime AQE broadcasts that side and the train corpus
    * never shuffles; the join stays unhinted because this test
    * derivation (`doc_id % 10`) does scale with the input. Skew is
    * structurally bounded: the bench side is distinct, so join output
    * is at most the train-side occurrences of benchmark shingles —
    * the contamination volume itself. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateOf(Tables.documents(spark, dir),
      col("doc_id") % 10 === 0, 8)

  /** PRODUCTION entry point of [[decontaminate]] (r16 — the last
    * fixture-derived eval set gains its param-table shape): the
    * benchmark shingle set arrives EXTERNALLY as a parquet param
    * table at `paramPath` with a `shingle STRING` column — the
    * `load_param_file` seam the contamination screens ride
    * ([[graft.operators.TextOps.corpusContaminationFromParams]]) —
    * instead of being derived from in-corpus membership (in
    * production the benchmark lives OUTSIDE the training corpus, so
    * every document is train-side and screens). Benchmark n-gram
    * sets are small by nature → broadcast hash join, the corpus
    * never shuffles; same output shape as the fixture query
    * (doc_id, n_hit_shingles). */
  def decontaminateFromParams(spark: SparkSession, dir: String,
      paramPath: String): DataFrame = {
    val raw = spark.read.parquet(paramPath)
      .select(col("shingle").cast("string").as("shingle"))
    // the param table broadcasts — guard it like the embedding probe
    // loader (Similarity's MaxExternalProbes discipline): null rows
    // and oversized tables refuse BY NAME instead of vanishing in the
    // join or failing as an opaque executor broadcast error
    require(raw.filter(col("shingle").isNull).limit(1).count() == 0L,
      "null_param_shingle: benchmark shingle param rows need a " +
        "non-null shingle")
    val bench = raw.distinct()
    val n = bench.limit(MaxExternalShingles + 1).count()
    require(n <= MaxExternalShingles,
      s"shingle table exceeds MaxExternalShingles=$MaxExternalShingles" +
        " distinct shingles — benchmark shingle sets broadcast; shard " +
        "the screen by benchmark instead of loading one oversized table")
    decontaminateAgainst(Tables.documents(spark, dir), bench, 8)
  }

  /** Broadcast ceiling for external benchmark shingle tables: 2²⁰
    * distinct 8-gram shingles ≈ tens of MB broadcast — comfortably a
    * broadcast-side table, far above any real eval suite (an eval
    * suite's shingle count scales with ITS token count, not the
    * corpus). Above the cap refuse by name rather than degrade. */
  private[graft] val MaxExternalShingles = 1 << 20

  /** Screen every document of `docs` against an external benchmark
    * shingle set: per doc, the count of distinct k-gram shingles it
    * shares with the benchmark. The shingle pass is pinned to
    * [[decontaminateOf]]'s (same regex, same normalization, same
    * array_distinct), so the param path and the fixture screen agree
    * shingle-for-shingle — spec-proven through a file round trip. */
  private[graft] def decontaminateAgainst(docs: DataFrame,
      benchShingles: DataFrame, k: Int): DataFrame = {
    Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(graft.expressions.TextColumns.shingles(
          TextOps.normalized(col("text")), k)).as("shingle"))
      .join(broadcast(benchShingles), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_shingles"))
  }

  /** [[decontaminate]] over an arbitrary (doc_id, text) frame with a
    * caller-supplied benchmark membership predicate and shingle
    * width. */
  private[graft] def decontaminateOf(docs: DataFrame, isBench: Column,
      k: Int): DataFrame = {
    // the native kernel captures the overlapping k-gram at each token
    // start (see shingleArrays; ShinglesSpec pins regex equality)
    val sh = Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"), isBench.as("is_bench"),
        explode(graft.expressions.TextColumns.shingles(
          TextOps.normalized(col("text")), k)).as("shingle"))
    val bench = sh.filter(col("is_bench")).select("shingle").distinct()
    sh.filter(!col("is_bench"))
      .join(bench, Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hit_shingles"))
  }

  /** CONTAMINATION BY SOURCE — [[decontaminate]]'s per-document hit
    * list rolled up to the level decisions are made at: a SOURCE
    * whose documents keep matching benchmark shingles gets its feed
    * quarantined, not its documents individually scrubbed (the
    * [[graft.operators.TextOps.dedupReport]] triage convention
    * applied to eval leakage). Per source: train docs, contaminated
    * docs, total hit shingles, contamination rate. The rollup join
    * keys on doc_id (sliver side = the hit list — AQE broadcasts);
    * output is O(sources). */
  def contaminationBySource(spark: SparkSession, dir: String): DataFrame = {
    val hits = decontaminate(spark, dir)
    Tables.documents(spark, dir)
      .filter(!(col("doc_id") % 10 === 0))
      .select(col("doc_id"), col("source"))
      .join(hits, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_hit_shingles").isNotNull, 1).otherwise(0))
          .cast("long").as("n_contaminated"),
        coalesce(sum(col("n_hit_shingles")), lit(0L)).as("hit_shingles"),
        round(sum(when(col("n_hit_shingles").isNotNull, 1).otherwise(0))
          / count(lit(1)).cast("double"), 4).as("contamination_rate"))
  }

  /** Edge-count ceiling for the driver union-find fast path of
    * [[connectedComponents]]. */
  private[graft] val SmallGraphMaxEdges = 4000000L

  /** Connected components of an undirected pair graph
    * (`doc_a`, `doc_b`) by min-label propagation; see
    * [[dedupClusters]] for the scale notes. Public so the iteration
    * can be exercised on arbitrary graphs (long chains need
    * O(diameter) rounds — the spec proves convergence beyond the
    * shallow near-dup case).
    *
    * Two regimes, chosen by the (already-computed-anyway) edge
    * count, the same spirit as AQE's runtime broadcast decision:
    * a near-dup edge list UNDER the ceiling is orchestration-sized —
    * union-find on the driver labels it in milliseconds, where the
    * distributed loop pays per-ROUND job overhead × graph diameter
    * for data that fits in one task (measured ~6 s → ~0.5 s on
    * dedup_semantic at sf0.1). Over the ceiling (billions of edges
    * at corpus scale), the min-label propagation runs exactly as
    * before. Both paths emit the identical canonical labeling
    * (component minimum), spec-asserted against each other. */
  def connectedComponents(pairsIn: DataFrame,
      smallGraphMaxEdges: Long = SmallGraphMaxEdges): DataFrame = {
    val pairs = pairsIn.persist()
    if (pairs.count() <= smallGraphMaxEdges) {
      val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        parent.getOrElseUpdate(x, x)
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val labeled = parent.keys.toSeq.sorted.map(n => (n, find(n)))
      pairs.unpersist()
      val spark = pairsIn.sparkSession
      import spark.implicits._
      return labeled.toDF("doc_id", "cluster_id")
    }
    val adj = pairs.select(col("doc_a").as("node"), col("doc_b").as("nbr"))
      .union(pairs.select(col("doc_b").as("node"), col("doc_a").as("nbr")))
      .persist()
    // Each round references `labels` twice, so WITHOUT lineage
    // truncation the logical plan doubles per round — 2^rounds nodes
    // by the time a deep component converges (persist caches execution
    // but not the plan). localCheckpoint materializes the round's
    // labels AND cuts the plan back to a leaf: constant-size plans,
    // O(diameter) rounds of bounded work.
    var labels = adj.select(col("node")).distinct()
      .withColumn("label", col("node")).localCheckpoint()
    // coalesce: sum over an empty frame is null (clean corpora have
    // zero near-dup pairs), and the loop must converge, not NPE
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    var before = labelSum(labels)
    var converged = false
    while (!converged) {
      val nbrMin = adj.join(labels.withColumnRenamed("node", "nbr"), Seq("nbr"))
        .groupBy(col("node")).agg(min(col("label")).as("nbr_label"))
      val next = labels.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        .localCheckpoint()
      val after = labelSum(next)
      labels = next
      converged = after == before
      before = after
    }
    val out = labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
    adj.unpersist(); pairs.unpersist()
    out
  }

  private[graft] val NumHashes = 64
  private[graft] val NumBands = 16
  private[graft] val RowsPerBand = NumHashes / NumBands
  /** Buckets holding more candidates than this are dropped: a hot
    * bucket of size m contributes m²/2 pairs; capping bounds the
    * worst case while near-dup pairs still meet in their other,
    * selective bands. */
  private[graft] val BucketCap = 50

  /** PORTABLE base hash: the first 12 hex digits of md5, parsed
    * base-16 — a 48-bit value both Spark (`conv`) and ANSI-ish SQL
    * (`('0x'||substr(md5(s),1,12))::BIGINT`) compute bit-identically,
    * which is what lets the LSH family be oracle-checked instead of
    * spec-only. One md5 per row; everything downstream is integer
    * arithmetic. */
  private[graft] def h48(c: Column): Column =
    conv(substring(md5(c), 1, 12), 16, 10).cast("long")

  /** Affine MinHash family over the 48-bit base hash:
    * g_i(h) = (a_i·h + b_i) mod p, p = 2^61−1 (Mersenne). The
    * multipliers are 15-bit odd and the offsets < 2^47, so
    * a·h + b < 2^63 − 2^48 + 2^47 never overflows a signed 64-bit
    * lane in either engine. Constants are fixed (seeded) literals so
    * the oracle SQL can interpolate the identical family. */
  private[graft] val MinhashP: Long = (1L << 61) - 1
  private[graft] val (minhashA, minhashB): (Array[Long], Array[Long]) = {
    val rng = new scala.util.Random(20260814L)
    val a = Array.fill(NumHashes)((rng.nextInt(1 << 14).toLong << 1) | 1L)
    val b = Array.fill(NumHashes)(rng.nextLong() & ((1L << 47) - 1))
    (a, b)
  }

  /** MinHash signatures, computed IN-ROW from the shingle ARRAY by
    * the codegen'd [[graft.expressions.MinHashSigExpr]] kernel: one
    * MD5 + 64 affine running mins per shingle, one compiled pass per
    * document, signature emitted as a 64-long array in the SCAN
    * stage. Values are identical to the previous explode → 64-column
    * min-aggregate formulation (min over the same set — the oracles
    * are untouched), but the exploded (doc, shingle) rows, the
    * 64-lane aggregation state and its shuffle are gone entirely:
    * at corpus scale the signature pass is now embarrassingly
    * parallel map work with zero exchanges. */
  private def minhashSignatures(shArr: DataFrame): DataFrame =
    shArr.select(col("doc_id"),
      graft.expressions.TextColumns.minhashSig(
        col("sh_arr"), minhashA, minhashB, MinhashP).as("sig"))

  /** Raw band-bucket membership (doc_id, band, bh) without counts —
    * the PUBLISHABLE minhash index artifact: persist it as parquet
    * once per corpus snapshot, load it per batch
    * ([[dedupIncrementalAgainst]]); counts are recomputed over
    * whatever population the consumer combines. */
  private[graft] def rawBandBuckets(shArr: DataFrame): DataFrame = {
    val sig = minhashSignatures(shArr)
    // the bucket key is the band's RAW 4-tuple of minhash values (no
    // second hash): equality is what banding needs, the join/window
    // key stays deterministic integers, and the oracle can reproduce
    // it with a plain multi-column equi-join
    val bandCols = (0 until NumBands).map { b =>
      struct(lit(b).as("band"),
        slice(col("sig"), b * RowsPerBand + 1, RowsPerBand).as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bh").as("bh"))
  }

  private def withBucketCounts(buckets: DataFrame): DataFrame =
    buckets.withColumn("bucket_n",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("bh"))))

  /** Band-bucket membership (doc_id, band, bh, bucket_n) BEFORE the
    * frequency cap — shared by the candidate generator (keeps
    * bucket_n <= [[BucketCap]]) and the recall audit's dropped-mass
    * accounting (keeps the rest, so the cap's loss is quantified
    * rather than silent). */
  private def bandBuckets(shArr: DataFrame): DataFrame =
    withBucketCounts(rawBandBuckets(shArr))

  /** The published-index build for [[dedupIncrementalAgainst]]:
    * tokenize + sign the corpus snapshot once, persist the result. */
  def minhashIndex(docs: DataFrame): DataFrame =
    rawBandBuckets(shingleArrays(docs))

  /** Within-bucket candidate pairs from RAW (doc_id, band, bh)
    * membership — ONE hash aggregate, r18. The r17 shape window-
    * counted the O(docs·bands) bucket table (a full sort by
    * (band, bh) — sf1 profile: 11.4 s of task time), pinned the
    * capped rows, and self-joined them (two more reads + a join —
    * 6.1 s). A bucket's pairs are a pure function of its member
    * list, so: group to (bucket → sorted members), drop buckets over
    * [[BucketCap]] (size(members) ≡ the window's bucket_n — each doc
    * appears once per band by construction), and expand the ≤
    * C(50,2) ordered pairs IN-ROW. Same pair set bit-for-bit
    * (sorted members ⇒ a < b exactly as the old filter), no window
    * sort, no self-join, no pin — the expansion volume is
    * O(buckets · cap²) worst case, the same bound the join had. */
  private def cappedCandidatesFrom(buckets: DataFrame): DataFrame =
    buckets.groupBy(col("band"), col("bh"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ms"))
      .filter(size(col("ms")).between(2, BucketCap))
      .select(explode(expr(
        "flatten(transform(ms, (a, i) -> transform(" +
          "slice(ms, i + 2, size(ms) - i - 1), " +
          "b -> named_struct('doc_a', a, 'doc_b', b))))")).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .distinct()

  /** LSH CANDIDATE pairs from (doc_id, sh_arr) shingle-array rows:
    * in-row signatures → raw-4-tuple band buckets → frequency cap →
    * distinct within-bucket pairs. Shared by [[minhashLsh]] (which
    * verifies them) and [[lshRecallAudit]] (which only needs
    * membership). NOT pinned — callers checkpoint per their reuse. */
  private def minhashCandidates(shArr: DataFrame): DataFrame =
    cappedCandidatesFrom(rawBandBuckets(shArr))

  /** MinHash + LSH banding (`16 bands × 4 rows`): docs agreeing on
    * any whole band become candidates; candidates are verified with
    * the exact Jaccard — computed ONLY for candidate pairs, via a
    * semi-join-restricted shingle join. End-to-end: no all-pairs
    * stage, bucket-frequency capped, verification cost bounded by
    * the candidate count. */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val cands = minhashCandidates(shingleArrays(docs))
      // pinned: read twice below (the id semi-join and the scoring)
      .localCheckpoint()
    // exact-Jaccard verification restricted to candidates — and the
    // shingle re-tokenization restricted to candidate DOCS by a
    // semi-join pushed under the regex pass: near-dup candidates are
    // a sliver of the corpus, so the verify stage tokenizes a sliver,
    // not everything twice
    val candIds = cands.select(col("doc_a").as("doc_id"))
      .union(cands.select(col("doc_b").as("doc_id"))).distinct()
    // semi-join the RAW docs before shingling (a join does not
    // migrate below a projection, so filtering first is what keeps
    // the regex off non-candidates), then pin the sliver: scorePairs
    // reads it twice
    val candSh = shingleArrays(docs.join(candIds, Seq("doc_id"), "left_semi"))
      .localCheckpoint()
    scorePairs(cands, candSh)
  }

  /** INCREMENTAL near-dup screening — the production shape of LSH
    * dedup at 100 TB: the historical corpus is already signed and
    * bucketed (a published (doc_id, band, bh) index — [[bandBuckets]]
    * over the index side, persistable as parquet and loaded per
    * batch), and each arriving BATCH is screened against
    * index ∪ earlier-batch docs WITHOUT re-clustering the world.
    * New docs equi-join the combined bucket table on (band, bh); a
    * partner is valid if it is an index doc (any id) or an
    * earlier-batch doc (smaller id — the first-occurrence
    * survivorship rule); the [[BucketCap]] frequency cap applies to
    * the COMBINED bucket population (a bucket hot across
    * index+batch is exactly the one that would go quadratic).
    * Candidates verify with the exact Jaccard on the candidate
    * sliver only; each batch doc reports its best verified match
    * (jaccard desc, partner-id asc) or stands as new.
    *
    * Scale shape: only the batch contributes new signature work in
    * the steady state (the index bucket table is a parquet read);
    * the candidate join is bucket-bounded and capped; the verify
    * join touches a candidate sliver. The query wiring splits
    * `documents` 80/20 by id to stand in for corpus/batch. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    dedupIncrementalOf(
      docs.filter(col("doc_id") % 10 < 8),
      docs.filter(col("doc_id") % 10 >= 8))
  }

  private[graft] def dedupIncrementalOf(indexDocs: DataFrame,
      batchDocs: DataFrame): DataFrame = {
    // in-flow wiring signs the index HERE; a LAZY pin (r18) makes the
    // counts derivation and the admissible-bucket membership read
    // share ONE index signature pass at ANY index size without the
    // eager pin's serializing barrier: the RDD materializes inside
    // the admissible-bucket broadcast (whose counts aggregate reaches
    // it first) and the membership read reuses the persisted blocks
    // — the two readers are strictly ordered by the broadcast
    // dependency, so no concurrent-stage double-compute is possible.
    // This retires the r17 IndexPinMinDocs gate (which existed only
    // to spare small indexes the eager materialization job) and its
    // count() probe job. Steady-state deployments load both
    // artifacts from parquet instead — the 4-arg overload.
    dedupIncrementalAgainst(
      minhashIndex(indexDocs).localCheckpoint(eager = false),
      indexDocs, batchDocs)
  }

  /** The SECOND published index artifact: per-bucket membership
    * counts, aggregated ONCE at index-build time and persisted next
    * to the membership table. With the counts published, a batch
    * never re-counts the index population — it applies its own
    * per-bucket deltas to the stored counts (see
    * [[dedupIncrementalAgainst]]), making the per-batch counting
    * cost O(batch·bands) instead of an O(index) scan per batch. */
  def minhashIndexCounts(indexBuckets: DataFrame): DataFrame = {
    // one index scan, pinned so the snapshot-stamp cross join below
    // doesn't re-run it
    val counts = indexBuckets.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("idx_n")).localCheckpoint()
    // every row carries the SNAPSHOT STAMP — the total membership row
    // count the counts were aggregated from. A counts parquet
    // regenerated out of sync with the membership it summarizes would
    // silently change BucketCap admissions; the stamp lets
    // [[dedupIncrementalAgainst]] assert agreement (membership
    // count() is a parquet-footer read, no scan) before screening.
    counts.crossJoin(broadcast(
      counts.agg(sum(col("idx_n")).as("snapshot_rows"))))
  }

  /** Convenience wiring when only the membership table is at hand:
    * derives the count table in-flow (one aggregation over the
    * membership — the index-BUILD cost, paid here because the caller
    * didn't persist it). Steady-state deployments persist both
    * artifacts and call the 4-arg overload. */
  def dedupIncrementalAgainst(indexBuckets: DataFrame,
      indexDocs: DataFrame, batchDocs: DataFrame): DataFrame =
    // counts derived in-flow from this very membership cannot be out
    // of sync — derive them DIRECTLY (r18): no snapshot stamp (whose
    // consistency gate would re-run the in-flow signature pass here,
    // not a footer read), no stamp cross-join, and no eager pin — the
    // aggregate is read exactly once (the cap gate), so it plans
    // into the same query as the screen instead of costing a
    // serializing materialization job. [[minhashIndexCounts]] stays
    // the PUBLISHED-artifact builder (stamped, pinned for its own
    // double read); this in-flow path just doesn't need any of that.
    dedupIncrementalAgainst(indexBuckets,
      indexBuckets.groupBy(col("band"), col("bh"))
        .agg(count(lit(1)).as("idx_n")),
      indexDocs, batchDocs)

  /** The per-batch cap gate, isolated so its plan is auditable: the
    * batch's per-bucket deltas (O(batch·bands) rows) LEFT-join the
    * PUBLISHED count table (index-unseen buckets count as zero) and
    * the combined population gates against [[BucketCap]]. The index
    * MEMBERSHIP never appears in this plan — that is the whole point
    * (the pre-r9 shape window-counted index ∪ batch every batch).
    * Broadcast by the caller: a batch's bucket list is small by the
    * batch-sizing contract (drop the hint for corpus-sized
    * backfills). */
  private[graft] def admissibleBuckets(indexCounts: DataFrame,
      batchBuckets: DataFrame): DataFrame =
    batchBuckets.groupBy(col("band"), col("bh"))
      .agg(count(lit(1)).as("delta_n"))
      .join(indexCounts, Seq("band", "bh"), "left")
      .filter(coalesce(col("idx_n"), lit(0L)) + col("delta_n") <= BucketCap)
      .select("band", "bh")

  /** Screen a batch against a PREBUILT (typically parquet-loaded)
    * [[minhashIndex]] + [[minhashIndexCounts]] pair — the
    * steady-state entry point: only the batch tokenizes and signs
    * fresh; the [[BucketCap]] gate evaluates the COMBINED population
    * (published index count + the batch's own delta) but touches
    * ONLY the batch's buckets — the count table joins against the
    * O(batch·bands) delta aggregate, never the index membership, and
    * the membership table itself is read exactly once, restricted to
    * the admissible buckets (a (band, bh)-keyed join — prunable at
    * the storage layer when the index is written partitioned by
    * band). A bucket the batch never touches can produce no
    * candidate, so skipping its count changes nothing — the spec
    * proves count-table + delta ≡ the combined recompute
    * bit-for-bit. `indexDocs` supplies candidate partners' text for
    * the exact-Jaccard verify (an id-keyed sliver read). The parquet
    * round-trip of both artifacts is spec-proven bit-identical to
    * the inline path. */
  def dedupIncrementalAgainst(indexBuckets: DataFrame, indexCounts: DataFrame,
      indexDocs: DataFrame, batchDocs: DataFrame): DataFrame = {
    // snapshot-consistency gate: the counts artifact must describe
    // THIS membership snapshot. Σ idx_n (an O(buckets) aggregate over
    // the small counts table) must equal both the stamp it carries
    // and the membership's actual row count (a parquet-footer count
    // for a published index — no data scan). Out-of-sync artifacts
    // would silently shift BucketCap admissions; fail loud instead.
    if (indexCounts.columns.contains("snapshot_rows")) {
      // coalesce: an EMPTY counts artifact (legitimately published
      // with the stamp column before any docs) aggregates to NULL —
      // the gate must fall through to the informative requires, not
      // die in getLong.
      val d = indexCounts
        .agg(coalesce(sum(col("idx_n")), lit(0L)).as("s"),
          coalesce(max(col("snapshot_rows")), lit(0L)).as("st"))
        .collect()(0)
      val (sumN, stamp) = (d.getLong(0), d.getLong(1))
      require(sumN == stamp,
        s"counts artifact internally inconsistent: sum(idx_n)=$sumN != snapshot_rows=$stamp")
      val actual = indexBuckets.count()
      require(actual == stamp,
        s"counts snapshot ($stamp membership rows) does not match the " +
          s"index membership ($actual rows) — artifacts out of sync")
    }
    val all = indexDocs.select("doc_id", "text")
      .unionByName(batchDocs.select("doc_id", "text"))
    // the batch's own membership — the only fresh signature work.
    // LAZY pin (r18): its two readers are strictly ordered (the delta
    // aggregate runs inside the admissible-bucket BROADCAST build;
    // the candidate-side union sits above a join on that broadcast,
    // so its stage cannot start until the broadcast — and therefore
    // batchB's materialization — is done), so the batch signature
    // pass still runs exactly once, without the eager pin's
    // serializing job. Same for `bk` and `candSh` below: the r17
    // eager chain planned 5 barrier jobs back-to-back; the lanes now
    // plan as one query and only `cand` (an expensive diamond read
    // by three downstream subtrees whose stages CAN run
    // concurrently) keeps an eager materialization point.
    val batchB = rawBandBuckets(shingleArrays(batchDocs))
      .localCheckpoint(eager = false)
    val admissible = broadcast(admissibleBuckets(indexCounts, batchB))
    // the single membership read: index partners inside admissible
    // buckets only
    val bk = indexBuckets.select("doc_id", "band", "bh")
      .join(admissible, Seq("band", "bh"))
      .withColumn("is_new", lit(false))
      .unionByName(batchB.join(admissible, Seq("band", "bh"))
        .withColumn("is_new", lit(true)))
      .localCheckpoint(eager = false)
    val cand = bk.filter(col("is_new"))
      .select(col("doc_id").as("doc_a"), col("band"), col("bh"))
      .join(bk.select(col("doc_id").as("doc_b"), col("is_new").as("b_new"),
        col("band"), col("bh")), Seq("band", "bh"))
      .filter(col("doc_b") =!= col("doc_a")
        && (!col("b_new") || col("doc_b") < col("doc_a")))
      .select("doc_a", "doc_b").distinct()
      .localCheckpoint()
    val candIds = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // tokenize only the candidate sliver for verification (the
    // minhashLsh semi-join-under-the-regex discipline)
    val candSh = shingleArrays(all.join(candIds, Seq("doc_id"), "left_semi"))
      .localCheckpoint(eager = false)
    // best-match argmax as a map-side `max(struct)` (r17): picks the
    // identical (jaccard desc, partner-id asc) row the row_number
    // window did, but as a hash aggregate with partial combine — no
    // per-doc sort, no window exchange (the house burst-flag /
    // ringPick pattern; at batch scale the candidate sliver streams
    // instead of sorting)
    val best = scorePairs(cand, candSh)
      .groupBy(col("doc_a"))
      .agg(max(struct(col("jaccard").as("j"), (-col("doc_b")).as("nb")))
        .as("k"))
      .select(col("doc_a").as("doc_id"), (-col("k.nb")).as("dup_of"),
        col("k.j").as("jaccard"))
    batchDocs.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("jaccard"))
  }

  /** SimHash bit width — 48, matching [[h48]]'s output so the
    * fingerprint, its chunks and the Hamming check are identical
    * integer arithmetic in both engines. */
  private[graft] val SimhashBits = 48

  /** 48-bit SimHash: token hashes vote ±1 per bit position, weighted
    * by term frequency (duplicates vote again); the sign vector is
    * the fingerprint. Computed IN-ROW by the codegen'd
    * [[graft.expressions.SimHashExpr]] kernel — one compiled pass
    * over the token array per document, fingerprint born in the scan
    * stage. Replaces the explode → 48-conditional-sum aggregation:
    * identical integer arithmetic (the token hash is the portable
    * [[h48]], so the operator stays oracle-checked), but zero
    * exploded rows and zero aggregation shuffle. */
  def simhashFingerprints(docs: DataFrame): DataFrame =
    Tables.spread(docs, col("doc_id"))
      .select(col("doc_id"),
        graft.expressions.TextColumns.simhashFp(split(col("text"), " "))
          .as("simhash"))

  /** In-row 48-bit SimHash over a text column NAME — the identical
    * fingerprint [[simhashFingerprints]] aggregates, computed as ONE
    * scan-stage expression (HOF fold over the token array, md5 bound
    * once per token via the single-element-array trick). No shuffle,
    * no grouping — which is what the STREAMING near-dup lane needs:
    * a fingerprint that exists the moment the row arrives, not after
    * a watermark-delayed aggregation. Spec-asserted equal to the
    * batch aggregation doc-for-doc. */
  def simhashCol(textCol: String): Column = expr(
    s"""aggregate(
       |  split($textCol, ' '),
       |  array_repeat(0, $SimhashBits),
       |  (acc, t) -> zip_with(acc,
       |    element_at(transform(
       |      array(CAST(conv(substring(md5(t), 1, 12), 16, 10) AS BIGINT)),
       |      h -> transform(sequence(0, ${SimhashBits - 1}),
       |             b -> IF((shiftright(h, b) & 1) = 1, 1, -1))), 1),
       |    (a, v) -> a + v),
       |  acc -> aggregate(
       |    zip_with(acc, sequence(0, ${SimhashBits - 1}),
       |      (s, b) -> IF(s > 0, shiftleft(CAST(1 AS BIGINT), b),
       |                   CAST(0 AS BIGINT))),
       |    CAST(0 AS BIGINT), (x, y) -> x + y))""".stripMargin)

  /** SimHash near-dup pairs within Hamming distance ≤ 3. Candidate
    * generation by the pigeonhole principle: split the 48-bit
    * fingerprint into 4 × 12-bit chunks — any pair within distance 3
    * agrees exactly on ≥ 1 chunk, so an equi-join per chunk finds
    * every such pair without an all-pairs scan. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    val fp = simhashFingerprints(Tables.documents(spark, dir))
    val chunks = fp.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * 12).bitwiseAND(0xFFFL).as("cv"))): _*))
        .as("ck"))
      .select(col("doc_id"), col("simhash"),
        col("ck.chunk").as("chunk"), col("ck.cv").as("cv"))
    val a = chunks.select(col("doc_id").as("doc_a"),
      col("simhash").as("sh_a"), col("chunk"), col("cv"))
    val b = chunks.select(col("doc_id").as("doc_b"),
      col("simhash").as("sh_b"), col("chunk"), col("cv"))
    a.join(b, Seq("chunk", "cv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      // noPushdown (r17): bare, this predicate's inferred
      // isnotnull(hamming) constraint walked down both join sides and
      // inlined the WHOLE simhash kernel into a per-row scan filter
      // (plan-audited: `isnotnull(simhash_fp(split(text)))` — the
      // fingerprint computed twice per doc)
      .filter(graft.expressions.PlanColumns.noPushdown(
        col("hamming") <= 3))
  }

  /** LSH RECALL AUDIT — the governance check a production dedup
    * pipeline ships next to its approximate path: how many of the
    * TRUE near-dup pairs (exact shared-shingle Jaccard ≥ 0.5 — the
    * exhaustive [[ngramJaccard]] lane; any pair at that threshold
    * shares a shingle, so the truth set is complete) did the banded
    * [[minhashLsh]] path actually surface, bucketed by similarity
    * decile. The interesting failure mode is the low-similarity tail:
    * band-agreement probability is J^4 per band, so recall decays
    * toward the 0.5 boundary and this table is where that shows up
    * before anyone trains on silently-duplicated data.
    *
    * Shape at scale: both inputs are the already-bucketed pipelines
    * (no new all-pairs anything); the audit join is on pair ids —
    * slivers — and the output is O(deciles) rows. At 100 TB this runs
    * on a sampled partition slice, same plan. Verified LSH output is
    * a subset of the truth set by construction, so precision is 1
    * and the one-sided recall join is the whole story.
    *
    * Two audit-specific savings over composing the public queries:
    * the corpus tokenizes ONCE into a pinned shingle table feeding
    * both the truth join and the minhash signatures, and the LSH side
    * stops at CANDIDATES — truth ∩ verified-pairs ≡ truth ∩
    * candidates (verification is exactly "candidate ∧ J ≥ 0.5", and
    * every truth pair already has J ≥ 0.5), so the verify stage would
    * be recomputing what the truth side knows. ~1.7× end-to-end
    * (bench: 4.26 → 2.5 s at sf0.1).
    *
    * DROPPED-MASS DENOMINATOR: [[BucketCap]] silently discards
    * band buckets holding > 50 docs (a hot bucket of size m is m²/2
    * candidate pairs — the cap is what keeps the join from going
    * quadratic), and the recall table must carry that caveat itself:
    * every row also reports how much the cap threw away —
    * `dropped_buckets` / `dropped_memberships` (rows) /
    * `dropped_docs` (distinct docs touched) / `est_dropped_pairs`
    * (Σ m·(m−1)/2, the candidate pairs those buckets would have
    * generated). A boilerplate-heavy corpus shows up here as a large
    * dropped mass next to a low top-decile recall — the signal to
    * raise the cap or pre-strip the boilerplate. */
  def lshRecallAudit(spark: SparkSession, dir: String): DataFrame =
    lshRecallAuditOf(Tables.documents(spark, dir))

  private[graft] def lshRecallAuditOf(docs: DataFrame): DataFrame = {
    // ONE tokenize pass, pinned as ARRAYS: the truth join explodes
    // the pinned arrays (cheap — the regex already ran), the LSH side
    // computes in-row signatures from the same arrays.
    val shArr = shingleArrays(docs).localCheckpoint()
    val truth = jaccardPairs(shArr)
    // pinned: the cap filter (candidates) and the dropped-mass agg
    // both read the bucket table; unpinned each re-runs the
    // signature pass
    val bk = bandBuckets(shArr).localCheckpoint()
    decileRecall(truth, cappedCandidatesFrom(bk), Seq("doc_a", "doc_b"))
      .crossJoin(broadcast(droppedMass(bk)))
  }

  /** The recall audits' per-decile table: `truth` pairs (with their
    * `jaccard`) left-joined on `pair` to the LSH candidate pairs
    * `cand`, bucketed by similarity decile. */
  private def decileRecall(truth: DataFrame, cand: DataFrame,
      pair: Seq[String]): DataFrame =
    truth.join(cand.withColumn("found", lit(1)), pair, "left")
      .withColumn("bucket", least(floor(col("jaccard") * 10), lit(9L)) / 10.0)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("found"), lit(0))).cast("long").as("n_found"),
        round(sum(coalesce(col("found"), lit(0)))
          / count(lit(1)).cast("double"), 4).as("recall"))

  /** The recall audits' one-row DROPPED-MASS ledger over the pinned
    * bucket table `bk`. Every dropped row carries its bucket's size,
    * so the whole summary is ONE aggregate: Σ(m−1) over rows equals
    * Σ m(m−1) over buckets, halved = the lost candidate pairs. */
  private def droppedMass(bk: DataFrame): DataFrame =
    bk.filter(col("bucket_n") > BucketCap)
      .agg(count_distinct(struct(col("band"), col("bh")))
          .as("dropped_buckets"),
        count(lit(1)).as("dropped_memberships"),
        count_distinct(col("doc_id")).as("dropped_docs"),
        expr("coalesce(sum(bucket_n - 1), 0) div 2").as("est_dropped_pairs"))

  /** Deterministic md5-prefix PROBE SAMPLE shared by the sampled
    * audit lanes: a doc/vector is a probe iff the first hex char of
    * `md5(cast(id as string))` equals this prefix — rate 1/16,
    * reproducible on any engine (the oracle renders the identical
    * selector), stable across runs and partition layouts, and
    * unbiased w.r.t. id structure (unlike `id % 16`, which an
    * id-assignment scheme can correlate with content). */
  private[graft] val AuditSampleHex = "0"
  private[graft] val AuditSampleRate = 1.0 / 16

  private[graft] def auditSampled(id: Column): Column =
    substring(md5(id.cast("string")), 1, AuditSampleHex.length) ===
      AuditSampleHex

  /** SAMPLED twin of [[lshRecallAudit]] — the production-scale mode
    * BENCH_NOTES prescribed in prose, now a real lane: the recall
    * estimate runs on a deterministic md5-prefix PROBE sample
    * ([[AuditSampleHex]], rate 1/16) instead of the exhaustive truth
    * set. Truth pairs are (probe, partner) oriented — each sampled
    * doc audits its own near-dup neighborhood against ALL partners
    * (not just sampled ones), so the per-decile recall is an
    * unbiased estimate of the full audit's at 1/16 the truth-join
    * cost: the shared-shingle join explodes only the probes' shingle
    * arrays against the corpus index. The candidate side restricts
    * the capped bucket self-join to probe-touching pairs the same
    * way. `sample_rate` and `n_probes` ride every output row so a
    * reader can never mistake the estimate for the census; the
    * dropped-mass ledger stays EXACT (it is O(n) bucket accounting,
    * not pair work — sampling it would gain nothing). */
  def lshRecallAuditSampled(spark: SparkSession, dir: String): DataFrame =
    lshRecallAuditSampledOf(Tables.documents(spark, dir))

  private[graft] def lshRecallAuditSampledOf(docs: DataFrame): DataFrame = {
    val shArr = shingleArrays(docs).localCheckpoint()
    val sh = shArr.select(col("doc_id"), size(col("sh_arr")).as("n_sh"),
      explode(col("sh_arr")).as("shingle"))
    val truth = sh.filter(auditSampled(col("doc_id")))
      .select(col("doc_id").as("probe_id"), col("n_sh").as("n_a"),
        col("shingle"))
      .join(sh.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b"),
        col("shingle")), Seq("shingle"))
      .filter(col("probe_id") =!= col("doc_b"))
      .groupBy(col("probe_id"), col("doc_b"))
      .agg(count(lit(1)).as("shared"),
        min(col("n_a")).as("n_a"), min(col("n_b")).as("n_b"))
      .withColumn("jaccard",
        round(col("shared") / (col("n_a") + col("n_b") - col("shared")), 4))
      .filter(col("jaccard") >= JaccardT)
    val bk = bandBuckets(shArr).localCheckpoint()
    val capped = bk.filter(col("bucket_n") <= BucketCap)
    val cand = capped.filter(auditSampled(col("doc_id")))
      .select(col("doc_id").as("probe_id"), col("band"), col("bh"))
      .join(capped.select(col("doc_id").as("doc_b"), col("band"),
        col("bh")), Seq("band", "bh"))
      .filter(col("probe_id") =!= col("doc_b"))
      .select("probe_id", "doc_b").distinct()
    val np = docs.filter(auditSampled(col("doc_id")))
      .agg(count(lit(1)).as("n_probes"))
    decileRecall(truth, cand, Seq("probe_id", "doc_b"))
      .withColumn("sample_rate", lit(AuditSampleRate))
      .crossJoin(broadcast(np))
      .crossJoin(broadcast(droppedMass(bk)))
  }

  /** QUALITY-vs-DUPLICATION cross-table — the curation question the
    * survivorship rule begs: is deduplication removing low-quality
    * boilerplate (healthy — dup rate concentrated in the low-quality
    * deciles) or deleting high-quality content (a crawler or
    * near-dup-threshold problem)? Buckets the whole corpus by
    * quality-score decile and reports each decile's near-dup-cluster
    * membership rate.
    *
    * Shape at scale: cluster membership is the usual SLIVER
    * (left-joined; AQE broadcasts it), quality is one scan-stage
    * pass, and the rollup is O(deciles). */
  def qualityVsDup(spark: SparkSession, dir: String): DataFrame = {
    val members = dedupClusters(spark, dir)
      .select(col("doc_id")).distinct().withColumn("dup", lit(1))
    TextOps.textQuality(spark, dir)
      .select(col("doc_id"), col("quality_score"))
      .join(members, Seq("doc_id"), "left")
      .withColumn("bucket",
        least(floor(col("quality_score") * 10), lit(9L)) / 10.0)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("dup"), lit(0))).cast("long").as("n_dup"),
        round(sum(coalesce(col("dup"), lit(0)))
          / count(lit(1)).cast("double"), 4).as("dup_rate"))
  }

  /** Tokens per fixed chunk for [[dedupChunks]] — private[graft] so
    * the generated oracle SQL interpolates the same constant. */
  private[graft] val ChunkTokens = 10

  /** (doc, chunk-index, chunk-hash) rows — shared by the report and
    * the removal pass. */
  private def chunkRows(spark: SparkSession, dir: String): DataFrame = {
    val C = ChunkTokens
    Tables.spread(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"),
        split(TextOps.normalized(col("text")), " ").as("toks"))
      .withColumn("nchunks", (size(col("toks")) / C).cast("int"))
      // noPushdown (r17): keeps the tokenize out of the pre-shuffle
      // serial stage (shingleArrays pathology, same fix)
      .filter(graft.expressions.PlanColumns.noPushdown(col("nchunks") > 0))
      .select(col("doc_id"),
        explode(sequence(lit(0), col("nchunks") - 1)).as("ci"),
        col("toks"))
      .select(col("doc_id"), col("ci"),
        array_join(slice(col("toks"), col("ci") * C + 1, lit(C)), " ")
          .as("chunk"))
  }

  /** Cross-document duplicated-CHUNK report — the chunk-granularity
    * approximation of exact substring dedup (the boilerplate/
    * template-removal pass run before training): every document is
    * cut into consecutive fixed-width token chunks, and any chunk
    * appearing in ≥ 2 distinct documents is reported with its spread
    * (distinct docs, total occurrences, first carrier). Document-
    * level dedup cannot see these — two different pages sharing a
    * footer are no document pair at all.
    *
    * Shape at scale: chunking is elementwise in the scan stage
    * (sequence + slice over the token array — bounded by doc length);
    * the single shuffle groups by the chunk's md5, a uniform 128-bit
    * key with no skew by construction. The distinct-doc count inside
    * each hash group is exact (one expand over the already-bucketed
    * rows); occurrences of ONE degenerate chunk concentrate on one
    * key, which AQE's skew split absorbs — there is no all-pairs
    * anywhere. A removal pass would semi-join (doc_id, chunk_hash)
    * against this report, elementwise again. */
  def dedupChunks(spark: SparkSession, dir: String): DataFrame =
    chunkRows(spark, dir)
      .select(col("doc_id"), md5(col("chunk")).as("chunk_hash"))
      .groupBy(col("chunk_hash"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("first_doc"))
      .filter(col("n_docs") >= 2)

  /** The chunk-dedup REMOVAL pass — what [[dedupChunks]]'s report
    * exists for: every repeated chunk keeps only its FIRST occurrence
    * in corpus order (smallest (doc_id, chunk_index)), later
    * occurrences are dropped, and each document is rebuilt from its
    * surviving chunks. One ranking window on the chunk hash (uniform
    * high-cardinality key) decides keepers; one grouped collect per
    * doc reassembles — two shuffles total, no joins against the
    * report, no all-pairs anything. Docs shorter than one chunk pass
    * through untouched (their tail is never chunked, by the same
    * convention as the report). */
  def dedupChunksApply(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("chunk_hash")).orderBy(col("doc_id"), col("ci"))
    chunkRows(spark, dir)
      .withColumn("chunk_hash", md5(col("chunk")))
      .withColumn("keep", row_number().over(w) === 1)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("keep"), 0).otherwise(1)).cast("long").as("n_dropped"),
        array_join(array_sort(collect_list(
          when(col("keep"), struct(col("ci"), col("chunk"))))).getField("chunk"),
          " ").as("clean_text"))
  }
}
