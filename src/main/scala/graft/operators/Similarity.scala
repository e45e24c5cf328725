package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.expressions.{MatMomentsAgg, TopKAgg, VecSumAgg, VectorColumns}
import graft.functions.VectorKernels
import graft.operators.TimeSeries.{quantize, units}

/** Embedding similarity operators (SURVEY §2 ops 27-29): exact cosine
  * near-dup pairs, brute-force top-k (the correctness baseline), and
  * the random-hyperplane LSH bucketed variant (the scale path).
  *
  * Cosine runs in [[graft.expressions.CosineSimExpr]] — a fused
  * codegen'd loop per pair. Vectors are cast to `array<double>` once,
  * up front, so every kernel call is unboxed double math.
  */
object Similarity {

  /** SQL text: the double array `arr` in whole 1e-6 units, elementwise
    * floor(x·1e6 + 0.5) held as doubles, so later sums are exact. */
  private def microUnitsSql(arr: String): String =
    s"transform($arr, x -> cast(floor(x * 1e6 + 0.5) as double))"

  private def vecs(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.embeddings(spark, dir), col("vec_id"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  /** Deterministic bounded fit sample for the IVF/PQ quantizers: the
    * 4096 LOWEST vec_ids (TakeOrdered — a per-partition top-k heap,
    * never a full sort), so the SAME sample — and therefore the SAME
    * fitted centroids — comes back on every run and every partition
    * layout. A bare `limit(4096)` would depend on file-listing order,
    * and the fitted constants are rendered into the DuckDB oracle as
    * literals, so the fit must be a pure function of the dataset. */
  private def fitSample(spark: SparkSession, dir: String,
      size: Int = 4096): Array[Array[Double]] =
    vecs(spark, dir).orderBy(col("vec_id")).limit(size)
      .select(col("emb")).collect().map(_.getSeq[Double](0).toArray)

  /** Memoized per-dataset quantizer fits (driver-local Lloyd's on the
    * bounded sample — microseconds). The cache lets the oracle
    * renderer ([[graft.SparkEntry.oracleSql]]) embed the EXACT
    * centroids the query plan used as literal VALUES, turning the
    * IVF/PQ family from rows-only into hash-checked. */
  private val ivfFitCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Double]]]
  private val pqFitCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Array[Array[Double]]]]

  private[graft] val IvfNlistMin = 4
  private[graft] val IvfNlistMax = 1024
  private[graft] val PqM = 8
  private[graft] val PqSubDim = 8
  private[graft] val PqKsub = 16

  /** ADAPTIVE IVF cell count — the √n sizing law [[annNlistSweep]]
    * measured (r12 evidence): at 10× the corpus, FIXED nlist=16 grew
    * candidate volume 10.2× while nlist=64 held the same recall tier
    * at ~3.7× fewer candidates — denser cells IMPROVE recall at
    * fixed probe depth, so the cell count can track √n without
    * giving recall back (per-probe candidates stay ~nprobe·n/√n,
    * turning the quadratic candidate growth into n^{3/2}).
    *
    * The rule: the power of two nearest in log space to √n/4,
    * clamped to [[IvfNlistMin]]..[[IvfNlistMax]]. Powers of two keep
    * the fit-cache rung set small, and a PURE FUNCTION of the corpus
    * count means the oracle renderer replays the IDENTICAL quantizer
    * (same discipline as [[pairsBits]]' adaptive signature width).
    *
    * The old 256 ceiling was a LITERAL-TREE limit, not a law: cell
    * assignment used to fuse nlist literal-centroid dot products
    * into one expression, so nlist was bounded by expression-tree
    * size. Since r14 the assignment rides
    * [[graft.expressions.NearestCellsExpr]] — the centroid matrix is
    * a plan reference object (one compiled scan per row, still
    * scan-stage, zero shuffles) — so the cap is now set by the FIT,
    * not the plan: [[ivfCentroids]] grows its driver-local Lloyd's
    * sample as 16·nlist (bounded by [[IvfFitSampleMax]]), and
    * [[IvfNlistMax]] = 1024 keeps that fit O(seconds) on the driver
    * (the √n law then holds to ~17M vectors; past it, candidates
    * grow ∝ n/1024 — raise the two constants together if a corpus
    * ever gets there). */
  private[graft] def adaptiveNlist(n: Long): Int = {
    val target = math.sqrt(math.max(n, 0L).toDouble) / 4.0
    var p = IvfNlistMin
    while (p < IvfNlistMax && p * math.sqrt(2.0) <= target) p <<= 1
    p
  }

  /** The shipped cell count for this corpus — [[adaptiveNlist]] of
    * the memoized corpus count. */
  private[graft] def ivfNlist(spark: SparkSession, dir: String): Int =
    adaptiveNlist(corpusCount(spark, dir))

  /** Fit-sample ceiling: 16·nlist at [[IvfNlistMax]] = 16384 rows ×
    * dim doubles on the driver — MBs, and a Lloyd's pass that stays
    * O(seconds). */
  private[graft] val IvfFitSampleMax = 16 * IvfNlistMax

  /** The shared IVF coarse quantizer (nlist = [[ivfNlist]], the √n
    * adaptive sizing): one fit serves [[annIvfTopk]] and
    * [[knnGraphIvf]]. The sample grows with the cell count
    * (max(4096, 16·nlist)) so every cell sees ≥ ~16 fit points even
    * past the old 256-cell range; at nlist ≤ 256 the size is the
    * historical 4096, so existing fits — and the oracles replaying
    * them — are unchanged. */
  private[graft] def ivfCentroids(spark: SparkSession, dir: String): Array[Array[Double]] =
    ivfFitCache.getOrElseUpdate(dir, {
      val nlist = ivfNlist(spark, dir)
      lloyd(fitSample(spark, dir,
        math.max(4096, math.min(16 * nlist, IvfFitSampleMax))),
        nlist, iters = 8)
    })

  // ---- two-level coarse quantizer (the 10⁸⁺ fit posture) ----

  /** Distributed-iteration count for the level-1 fit: each iteration
    * is one broadcast of the centroid matrix + one
    * [[graft.expressions.NearestCellsExpr]] scan + a cell-keyed
    * exact mean — the full corpus is touched `iters` times and
    * NOTHING corpus-sized ever lands on the driver. */
  private[graft] val TwoLevelIters = 4
  /** Per-sub-cell fit-sample factor (16·subK rows per super-cell —
    * the same ≥~16-points-per-cell rule [[ivfCentroids]] uses). */
  private[graft] val TwoLevelSubSample = 16
  /** Super-cells probed by the two-level routing. */
  private[graft] val TwoLevelNprobeSuper = 2

  /** DISTRIBUTED Lloyd's — the level-1 fit of the two-level
    * quantizer, for corpora where even the 16·nlist driver sample
    * stops being representative (10⁸⁺ vectors): a driver for-loop
    * over existing operators, exactly as SURVEY row 29h declares.
    * Per iteration: assignment is one [[graft.expressions
    * .NearestCellsExpr]] scan (centroids ride a plan reference —
    * broadcast-equivalent, zero shuffles), and the new centroid is a
    * cell-keyed EXACT mean: elements quantize to 1e-6 integer units
    * FIRST and sum as longs (order-free — a raw double Σ would
    * depend on partition layout and the fitted constants are
    * rendered into the DuckDB oracle as literals, so the fit must be
    * a pure function of the dataset; unit sums stay under 2^53
    * through ~10⁹ unit-scale elements per cell). The per-(cell, dim)
    * partial aggregate keeps the shuffle at cells·dims·partitions
    * rows regardless of corpus size. Empty cells keep their previous
    * centroid — [[lloyd]]'s rule. */
  private[graft] def lloydDistributed(v: DataFrame,
      init: Array[Array[Double]], iters: Int): Array[Array[Double]] = {
    var cents = init
    var it = 0
    while (it < iters) {
      val rows = v.select(
          VectorColumns.nearestCells(col("emb"), cents, 1)
            .getItem(0).getField("b").as("cell"),
          expr("transform(emb, x -> cast(floor(x * 1e6 + 0.5) as bigint))")
            .as("q"))
        .select(col("cell"), posexplode(col("q")).as(Seq("pos", "qv")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("qv")).as("s"), count(lit(1)).as("n"))
        .collect()
      val sums = Array.fill(cents.length)(new Array[Long](cents(0).length))
      val cnts = new Array[Long](cents.length)
      rows.foreach { r =>
        sums(r.getInt(0))(r.getInt(1)) = r.getLong(2)
        cnts(r.getInt(0)) = r.getLong(3)
      }
      cents = Array.tabulate(cents.length)(c =>
        if (cnts(c) == 0L) cents(c)
        else sums(c).map(s => s.toDouble / cnts(c) / 1e6))
      it += 1
    }
    cents
  }

  /** TWO-LEVEL coarse quantizer fit (SURVEY row 29h, now built):
    * [[lloydDistributed]] fits `superK` super-cells over the FULL
    * corpus, then each super-cell gets a driver-local [[lloyd]]
    * refit of `subK` sub-cells from its own bounded sample (the
    * [[TwoLevelSubSample]]·subK lowest vec_ids per cell — a
    * deterministic per-cell top-k, collected once: superK·16·subK =
    * 16·nlist rows total, the same driver budget the flat fit
    * carries). Product = superK·subK cells with every piece bounded;
    * past-17M corpora raise nlist without the fit ever outgrowing
    * the driver. An empty super-cell degrades to subK copies of its
    * super centroid (routing stays total). */
  private[graft] def fitTwoLevel(v: DataFrame, superK: Int, subK: Int):
      (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val seed = v.orderBy(col("vec_id")).limit(math.max(4096, 16 * superK))
      .select(col("emb")).collect().map(_.getSeq[Double](0).toArray)
    val init = Array.tabulate(superK)(i =>
      seed(((i.toLong * seed.length) / superK).toInt).clone())
    val superCents = lloydDistributed(v, init, TwoLevelIters)
    // per-cell bounded sample via [[graft.expressions.MinKVecAgg]]
    // (r17 — replaces a `row_number() over (partition by cell order
    // by vec_id)` that sort-shuffled the FULL corpus with embedding
    // payloads to keep 16·subK rows per cell): map-side partial
    // reduces each scan partition to ≤ 16·subK entries per cell, so
    // the shuffle moves O(cells·k·dim·partitions) doubles regardless
    // of corpus size. Same law — the lowest TwoLevelSubSample·subK
    // vec_ids per cell, ascending — bit-for-bit the window plan's
    // sample (parity pinned in SimilaritySpec).
    val perCell = v.withColumn("cell",
        VectorColumns.nearestCells(col("emb"), superCents, 1)
          .getItem(0).getField("b"))
      .groupBy(col("cell"))
      .agg(graft.expressions.MinKVecAgg.minkVec(
        col("vec_id"), col("emb"), TwoLevelSubSample * subK).as("sample"))
      .collect()
      .map { r =>
        (r.getInt(0), r.getSeq[Row](1)
          .map(_.getSeq[Double](1).toArray).toArray)
      }.toMap
    val subs = Array.tabulate(superK) { c =>
      perCell.get(c) match {
        case Some(pts) if pts.nonEmpty => lloyd(pts, subK, iters = 8)
        case _ => Array.fill(subK)(superCents(c).clone())
      }
    }
    (superCents, subs)
  }

  private val twoLevelFitCache = scala.collection.concurrent.TrieMap
    .empty[String, (Array[Array[Double]], Array[Array[Array[Double]]])]

  /** Memoized two-level fit at the corpus-adaptive nlist: superK =
    * smallest power of two with superK² ≥ nlist, subK = nlist/superK
    * (both powers of two — nlist 16 → 4×4, 1024 → 32×32, 8192 →
    * 128×64). Memoized for the same reason as [[ivfCentroids]]: the
    * oracle renderer embeds the EXACT fitted centroids as literal
    * VALUES. */
  private[graft] def twoLevelCentroids(spark: SparkSession, dir: String):
      (Array[Array[Double]], Array[Array[Array[Double]]]) =
    twoLevelFitCache.getOrElseUpdate(dir, {
      val nlist = ivfNlist(spark, dir)
      var superK = 2
      while (superK * superK < nlist) superK <<= 1
      fitTwoLevel(vecs(spark, dir), superK, math.max(1, nlist / superK))
    })

  /** TWO-LEVEL IVF census — the end-to-end exercise of the 10⁸⁺ fit
    * path: every vector routes through [[graft.expressions
    * .TwoLevelCellExpr]] (probe [[TwoLevelNprobeSuper]] super-cells,
    * argmin over their sub-cells — O(superK + 2·subK) dots per row
    * instead of the flat quantizer's O(nlist)), then one tiny
    * cell-keyed rollup. 100 TB shape: the corpus is touched once at
    * scan grain, the shuffle carries ≤ nlist rows per partition. */
  def annIvfTwoLevel(spark: SparkSession, dir: String): DataFrame = {
    val (sup, subs) = twoLevelCentroids(spark, dir)
    val subK = subs(0).length
    vecs(spark, dir)
      .withColumn("cell",
        VectorColumns.twoLevelCell(col("emb"), sup, subs, TwoLevelNprobeSuper))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))
      .select((col("cell") / subK).cast("int").as("super_cell"),
        pmod(col("cell"), lit(subK)).cast("int").as("sub_cell"),
        col("n_vectors"), col("min_vec_id"))
      .orderBy(col("super_cell"), col("sub_cell"))
  }

  /** Product cells the two-level router probes per QUERY (the ANN
    * lane's nprobe twin — top-[[TwoLevelNprobeSuper]] supers, then
    * this many best product cells among their subs). */
  private[graft] val TwoLevelProbeCells = 4

  /** Driver-side replay of the two-level routing for a QUERY vector:
    * top-[[TwoLevelNprobeSuper]] supers by (round6(‖c‖²−2·c·x), id),
    * then the [[TwoLevelProbeCells]] best product cells among their
    * sub-cells by (round6 distance, pid) — the EXACT arithmetic of
    * [[graft.functions.VectorKernels.twoLevelCell]] (index-order
    * dots, driver ‖c‖² fold, 6-dp quantize), so the probed cell list
    * is bit-reproducible by the DuckDB oracle from the same literal
    * centroids. Bounded: runs per PROBE (the ann family's fixed
    * probe set), never per corpus row. */
  private[graft] def twoLevelProbeCells(pe: Array[Double],
      sup: Array[Array[Double]], subs: Array[Array[Array[Double]]]):
      Seq[Int] = {
    def dist(c: Array[Double]): Double = {
      val cc = c.map(x => x * x).sum
      var d = 0.0; var i = 0
      val n = math.min(pe.length, c.length)
      while (i < n) { d += pe(i) * c(i); i += 1 }
      VectorKernels.round6(cc - 2.0 * d)
    }
    val subK = subs(0).length
    val probedSupers = sup.indices.map(b => (dist(sup(b)), b))
      .sorted.take(TwoLevelNprobeSuper).map(_._2).sorted
    probedSupers.flatMap(s => (0 until subK).map { j =>
      (dist(subs(s)(j)), s * subK + j)
    }).sorted.take(TwoLevelProbeCells).map(_._2)
  }

  /** TWO-LEVEL IVF top-k ANN — the retrieval half of the 10⁸⁺ fit
    * path (the census [[annIvfTwoLevel]] proves fit + assignment;
    * this lane proves the quantizer SERVES queries): every vector's
    * home cell comes from one [[graft.expressions.TwoLevelCellExpr]]
    * scan (the corpus's only pass), each probe routes DRIVER-side
    * through [[twoLevelProbeCells]] (O(superK + 2·subK) dots per
    * probe — probes are a fixed set, the routing table is tiny and
    * broadcasts), candidates come from the cell equi-join, and the
    * exact cosine re-ranks to top-10. 100 TB: scan + broadcast join
    * + bounded TopKAgg, no corpus shuffle. */
  def annIvfTwoLevelTopk(spark: SparkSession, dir: String): DataFrame = {
    val (sup, subs) = twoLevelCentroids(spark, dir)
    val v = vecs(spark, dir)
    val home = v.withColumn("cell",
      VectorColumns.twoLevelCell(col("emb"), sup, subs, TwoLevelNprobeSuper))
    val probes: Array[(Long, Array[Double])] = v.filter(probeFilter(spark, dir))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val routing = probes.toSeq.flatMap { case (pid, pe) =>
      twoLevelProbeCells(pe, sup, subs).map(c => (pid, pe.toSeq, c))
    }
    val routeDf = spark.createDataFrame(routing)
      .toDF("probe_id", "pe", "cell")
    val scored = home.join(broadcast(routeDf), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", VectorColumns.cosine(
        col("pe").cast("array<double>"), col("emb")))
    topkPerProbe(scored, 10)
  }

  /** The PQ per-subspace codebooks (M=8 subspaces × ksub=16 centroids
    * of subDim=8), all fit on the one bounded sample. */
  private[graft] def pqCodebooks(spark: SparkSession, dir: String): Array[Array[Array[Double]]] =
    pqFitCache.getOrElseUpdate(dir, {
      val sample = fitSample(spark, dir)
      Array.tabulate(PqM)(m =>
        lloyd(sample.map(_.slice(m * PqSubDim, (m + 1) * PqSubDim)), PqKsub, iters = 8))
    })

  /** Cosine near-duplicate pairs (≥ 0.35). Exact block-nested join
    * with `id_a < id_b`; at corpus scale the candidate generator
    * below (LSH buckets) replaces the product — kept exact here as
    * the oracle-checkable baseline the LSH spec measures recall
    * against. */
  def embeddingPairs(spark: SparkSession, dir: String): DataFrame = {
    val a = vecs(spark, dir).select(col("vec_id").as("id_a"), col("emb").as("ea"))
    val b = vecs(spark, dir).select(col("vec_id").as("id_b"), col("emb").as("eb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", VectorColumns.cosine(col("ea"), col("eb")))
      .filter(col("cosine") >= 0.35)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** INCREMENTAL embedding near-dup screen —
    * [[graft.operators.Dedup.dedupIncremental]]'s semantic twin:
    * each BATCH vector (vec_id % 10 ≥ 8 in the query wiring) is
    * screened against the already-ingested INDEX corpus plus
    * earlier-batch vectors (smaller id — first-occurrence
    * survivorship), reporting its best cosine match ≥ 0.35 or
    * standing as new; nothing re-pairs the historical corpus
    * against itself. Ranking is by the 4-dp ROUNDED cosine with an
    * id tie-break — a total order both engines reproduce (raw-ulp
    * argmax ties would be engine-dependent). Exact baseline here
    * (the batch side broadcasts against one corpus scan — the
    * [[embeddingPairs]] declared-oracle-baseline regime); at 100 TB
    * the [[lshPairs]] bucket machinery generates the candidates
    * instead, same decision tail. */
  def embeddingIncremental(spark: SparkSession, dir: String): DataFrame =
    embeddingIncrementalOf(vecs(spark, dir))

  private[graft] def embeddingIncrementalOf(v: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val batch = v.filter(col("vec_id") % 10 >= 8)
      .select(col("vec_id").as("bid"), col("emb").as("be"))
    val best = v.join(broadcast(batch),
        col("vec_id") =!= col("bid")
          && (col("vec_id") % 10 < 8 || col("vec_id") < col("bid")))
      .withColumn("cosine",
        quantize(VectorColumns.cosine(col("be"), col("emb")), 4))
      .filter(col("cosine") >= 0.35)
      // argmax as a map-side max(struct) (r17): identical pick to the
      // row_number window — (cosine desc, vec_id asc) is total within
      // a bid (vec_id unique) — but partial-aggregates before the
      // exchange instead of sorting the candidate set per probe
      .groupBy(col("bid"))
      .agg(max(struct(col("cosine").as("c"), (-col("vec_id")).as("nv")))
        .as("k"))
      .select(col("bid"), (-col("k.nv")).as("dup_of"),
        col("k.c").as("cosine"))
    batch.select(col("bid"))
      .join(best, Seq("bid"), "left")
      .select(col("bid").as("vec_id"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("cosine"))
  }

  /** Fixed size of the ANN serving lanes' probe set. */
  private[graft] val NumProbes = 5

  private val probeIdCache =
    scala.collection.concurrent.TrieMap.empty[String, Array[Long]]

  /** The serving lanes' probe ids: the [[NumProbes]] vec_ids FIRST in
    * md5-of-id order (r17 — retires the `vec_id < 5` convention, the
    * r16 verdict's item 7: lowest-id probes could in principle tune
    * routing to early ids; an md5-ordered draw is position-unbiased
    * the same way [[graft.operators.TextOps.corpusSample]]'s selector
    * is, while keeping the fixed count an eval set needs). Memoized
    * like [[ivfCentroids]] — one TakeOrdered job per dir — and
    * SQL-expressible, so every oracle RE-DERIVES the same set with
    * `ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 5` instead
    * of trusting rendered literals. Returned sorted; lanes filter by
    * `isin` literals (a pushed-down In, same scan shape as the old
    * range predicate). */
  private[graft] def probeIds(spark: SparkSession, dir: String): Array[Long] =
    probeIdCache.getOrElseUpdate(dir,
      vecs(spark, dir)
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(NumProbes)
        .select(col("vec_id")).collect().map(_.getLong(0)).sorted)

  /** `vec_id` membership predicate for the probe set — an In over
    * [[NumProbes]] literals, pushdown-friendly at the parquet scan. */
  private[graft] def probeFilter(spark: SparkSession, dir: String): Column =
    col("vec_id").isin(probeIds(spark, dir).map(Long.box): _*)

  /** Exact cosine top-k neighbors for each probe vector (the
    * md5-selected [[probeIds]] set). The probe set is broadcast
    * against the corpus scan — one pass over the big side, k·|probes|
    * result rows — and ranking happens in [[topkPerProbe]]'s bounded
    * aggregate (map-side partial top-k), so the small probe key never
    * concentrates the corpus. */
  def annTopkBruteforce(spark: SparkSession, dir: String): DataFrame = {
    val probes = vecs(spark, dir).filter(probeFilter(spark, dir))
      .select(col("vec_id").as("probe_id"), col("emb").as("pe"))
    val scored = vecs(spark, dir)
      .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cos", VectorColumns.cosine(col("pe"), col("emb")))
    topkPerProbe(scored, 10)
  }

  /** Truncation dims for [[annMatryoshkaAudit]]. */
  private[graft] val MatryoshkaDims = Seq(8, 16, 32)

  /** MATRYOSHKA TRUNCATION AUDIT — the dimension-budget evaluation
    * run before serving truncated embeddings (matryoshka-style
    * models promise graceful degradation; this measures it on YOUR
    * corpus): for each probe and each prefix dimension d ∈ 8/16/32,
    * the exact top-10 by the d-dim prefix cosine is compared to the
    * full-dimension exact top-10 — recall@10 plus the cosine REGRET
    * (full-space quality of the full picks minus full-space quality
    * of the truncated picks; recall can drop while regret stays
    * negligible, which is exactly the case where serving the prefix
    * is safe).
    *
    * Shape: ONE corpus×probes broadcast pass scores the full cosine
    * and all three prefix cosines per pair (prefix cosines are more
    * kernel calls in the same compiled stage, not more passes); each
    * (probe, dim) reduces through the bounded [[TopKAgg]] with the
    * FULL-space cosine carried as payload, so regret needs no second
    * lookup. Cosines quantize to 1e-4 longs before the means —
    * exact integer sums, one division. Output O(probes × dims). */
  def annMatryoshkaAudit(spark: SparkSession, dir: String): DataFrame = {
    val probes = vecs(spark, dir).filter(probeFilter(spark, dir))
      .select(col("vec_id").as("probe_id"), col("emb").as("pe"))
    val scored = vecs(spark, dir)
      .join(broadcast(probes), col("vec_id") =!= col("probe_id"))
      .withColumn("cos_full", VectorColumns.cosine(col("pe"), col("emb")))
    // the FULL ranking rides the same explode as a dim=64 branch
    // (cos_d = cos_full), so the corpus×probes pass runs ONCE and one
    // grouped TopKAgg produces all four top-10s (plan-audited:
    // 3 BroadcastNestedLoopJoins → 1, 16 exchanges → 5)
    val perDim = scored
      .select(col("probe_id"), col("vec_id"), col("cos_full"),
        explode(array((MatryoshkaDims.map(d =>
          struct(lit(d).as("dim"), VectorColumns.cosine(
            slice(col("pe"), 1, d), slice(col("emb"), 1, d)).as("cos_d"))) :+
          struct(lit(64).as("dim"), col("cos_full").as("cos_d"))): _*))
          .as("dc"))
      .select(col("probe_id"), col("vec_id"), col("cos_full"),
        col("dc.dim").as("dim"), col("dc.cos_d").as("cos_d"))
    val picks = perDim.groupBy(col("probe_id"), col("dim"))
      .agg(TopKAgg.topk(quantize(col("cos_d"), 6), col("vec_id"),
        col("cos_full"), 10).as("top"))
      .select(col("probe_id"), col("dim"), explode(col("top")).as("t"))
      .select(col("probe_id"), col("dim"), col("t.id").as("neighbor_id"),
        units(col("t.payload"), 4).as("cf_u"))
      // pinned sliver (O(probes × dims × 10) rows): the full-dim split
      // and both join sides read it
      .localCheckpoint()
    val full = picks.filter(col("dim") === 64)
    val trunc = picks.filter(col("dim") =!= 64)
    trunc
      .join(full.select(col("probe_id"), col("neighbor_id"),
        lit(1).as("hit")), Seq("probe_id", "neighbor_id"), "left")
      .groupBy(col("probe_id"), col("dim"))
      .agg(sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"),
        sum(col("cf_u")).as("trunc_u"))
      .join(full.groupBy(col("probe_id"))
        .agg(sum(col("cf_u")).as("full_u")), Seq("probe_id"))
      .select(col("probe_id"), col("dim").cast("long").as("dim"),
        (col("n_hits") / 10.0).as("recall_at10"),
        (floor((col("full_u") - col("trunc_u")).cast("double") / 10.0 + 0.5)
          / 1e4).as("cos_regret"))
  }

  /** Top-k per probe via the bounded [[graft.expressions.TopKAgg]]
    * aggregate: map-side partial top-k reduces every input partition
    * to an O(k) state before the shuffle, so the low-cardinality
    * probe key never funnels the corpus through |probes| sorting
    * tasks (the failure mode of a ranking window). Ranking key is
    * the cosine rounded to 6dp with vec_id tie-break — reproducible
    * bit-for-bit against the DuckDB oracle. */
  private def topkPerProbe(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("probe_id"))
      .agg(TopKAgg.topk(quantize(col("cos"), 6), col("vec_id"), col("cos"), k)
        .as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rk"),
        quantize(col("col.payload"), 4).as("cosine"))

  /** Exact k-NN GRAPH — every vector's top-k cosine neighbors, the
    * precursor structure of embedding-space curation (SemDeDup-style
    * semantic dedup prunes edges of exactly this graph; density /
    * connected-component cluster passes consume it). Brute force by
    * construction: the correctness baseline [[knnGraphIvf]] is
    * measured against, same role [[annTopkBruteforce]] plays for the
    * probe-set ANN family — an exact all-pairs graph at 100 TB is
    * not a thing any engine should promise, and the corpus collect
    * here (like the broadcast it replaces) bounds validity to the
    * exact-baseline regime (~10⁶ vectors × small dim).
    *
    * The n² arithmetic runs in [[graft.expressions.TopKCosineExpr]]:
    * one compiled scan per row against the stage-referenced corpus
    * matrix, emitting that row's k best directly. The broadcast
    * self-join + [[graft.expressions.TopKAgg]] formulation computes
    * the identical result but materializes an UnsafeRow PER PAIR
    * (both 64-double vectors copied n² times) just to feed a
    * k-bounded reduction — measured 4-5× slower at sf0.1. Plan:
    * scan → project → generate, zero exchanges. */
  def knnGraph(spark: SparkSession, dir: String): DataFrame =
    knnGraphOf(vecs(spark, dir), 5)

  /** Validity bound for the exact-baseline regime: [[knnGraphOf]]
    * collects the corpus matrix to the driver (~0.5 KB/vector at
    * dim 64), so past this many vectors the failure mode would be a
    * driver OOM mid-collect. The guard turns it into a message
    * pointing at [[knnGraphIvf]] — the IVF-blocked scale path — and
    * costs one vec_id-column count (no vector bytes move). */
  private[graft] val ExactBaselineMaxVectors = 200000L

  private[graft] def knnGraphOf(v: DataFrame, k: Int,
      maxVectors: Long = ExactBaselineMaxVectors): DataFrame = {
    val n = v.count()
    require(n <= maxVectors,
      s"knn_graph is the exact O(n²) BASELINE, valid to $maxVectors " +
        s"vectors (corpus has $n): it collects the corpus matrix to " +
        "the driver by design. Use knn_graph_ivf — the IVF-blocked " +
        "scale path — for larger corpora.")
    val corpus = v.select(col("vec_id"), col("emb")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
    v.select(col("vec_id"),
        posexplode(VectorColumns.topkCosine(col("emb"), col("vec_id"),
          corpus.map(_._1), corpus.map(_._2), k)))
      .select(col("vec_id"), col("col.id").as("neighbor_id"),
        (col("pos") + 1).cast("int").as("rk"),
        quantize(col("col.payload"), 4).as("cosine"))
  }

  /** IVF-BLOCKED k-NN graph — the scale path for [[knnGraph]]: the
    * bounded-sample coarse quantizer (same build as [[annIvfTopk]])
    * assigns every vector a HOME cell, every vector additionally
    * probes its `nprobe` nearest cells, and candidate pairs exist
    * only where a prober's cell list meets a vector's home cell — an
    * equi-join on cell id, so the n² product never materializes and
    * the corpus shuffles once by cell. Candidate volume is
    * ~n²·nprobe/nlist with nlist = [[adaptiveNlist]] ∝ √n (wired,
    * not aspirational — the r12 sizing sweep measured fixed-16
    * scaling 10.2× for 10× data), turning quadratic into n^{3/2}.
    * Recall against the
    * exact graph is measured in SimilaritySpec, mirroring the LSH/
    * IVF/PQ twins' treatment. */
  def knnGraphIvf(spark: SparkSession, dir: String): DataFrame =
    knnGraphIvfOf(vecs(spark, dir), k = 5, nprobe = 4,
      ivfCentroids(spark, dir))

  private[graft] def knnGraphIvfOf(v: DataFrame, k: Int, nprobe: Int,
      cents: Array[Array[Double]]): DataFrame = {
    // home cell = cells(0).b; probe cells = nprobe smallest 6-dp
    // (d, b)-ordered distances — ONE fused plan-referenced kernel
    // call in the scan stage ([[VectorColumns.nearestCells]]: same
    // scores/ties as the former literal-centroid array_sort, but the
    // centroid table is a reference object, so nlist is no longer
    // bounded by literal-tree size), zero shuffles
    val ranked = v.withColumn("cells",
      VectorColumns.nearestCells(col("emb"), cents, nprobe))
    val home = ranked
      .select(col("vec_id"), col("emb"), col("cells")(0).getField("b").as("cell"))
    val probing = ranked
      .select(col("vec_id").as("probe_id"), col("emb").as("pe"),
        explode(col("cells").getField("b")).as("cell"))
    val scored = probing.join(home, Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cos", VectorColumns.cosine(col("pe"), col("emb")))
    topkPerProbe(scored, k).withColumnRenamed("probe_id", "vec_id")
  }

  /** Eval probe set for the SEMANTIC decontamination screen: the 32
    * lowest vec_ids ≡ 3 (mod 97) — fixed SIZE, not corpus-fraction
    * (benchmarks don't grow with the corpus), same bounded-sample
    * discipline as the quantizer fits. */
  private[graft] val SemContamProbes = 32
  private[graft] val SemContamMod = 97L
  private[graft] val SemContamRem = 3L

  /** A training vector is semantically contaminated above this
    * cosine against any eval probe — near-duplicate grade. */
  private[graft] val SemContamThreshold = 0.95

  /** SEMANTIC DECONTAMINATION screen — the embedding-space twin of
    * the text pipeline's `corpus_contamination`: paraphrased or
    * reformatted benchmark leakage that shares no 8-gram still sits
    * next to the eval item in embedding space, so every training
    * vector reports its nearest eval probe and cosine, with the
    * near-duplicate flag at [[SemContamThreshold]] (all-clean on
    * this corpus — the flag logic is proven on a planted positive in
    * SimilaritySpec, the honest way to gate a detector whose firing
    * condition the clean corpus doesn't exhibit).
    *
    * Shape at scale: the probe set is a bounded driver constant
    * shipped as a codegen reference object ([[VectorColumns
    * .topkCosine]] — no literal-tree blowup, no join, no shuffle);
    * the whole screen is one scan-stage pass, which is exactly how
    * semantic decontamination runs over 100 TB: broadcast the
    * benchmark embeddings, stream the corpus.
    *
    * Exactness: elements quantize to 1e-6 INTEGER units first (the
    * embedding_drift/covariance discipline) so dot and norms are
    * exact integers (≤ ~6e13 ≪ 2^53) — the cosine is then the same
    * three exact operands through the same correctly-rounded /,·,√
    * in both engines, immune to summation-order ulps (which DID
    * split a raw-double version at 1e6 half-boundaries). */
  def embeddingContamination(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir).withColumn("emb", expr(microUnitsSql("emb")))
    val probes = v
      .filter(col("vec_id") % SemContamMod === SemContamRem)
      .orderBy(col("vec_id")).limit(SemContamProbes)
      .collect() // bounded: ≤ 32 rows by construction
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    embeddingContaminationOf(v, probes.map(_._1), probes.map(_._2))
  }

  /** Probe-count ceiling for the externally-loaded benchmark table:
    * the probe matrix ships to executors as a codegen reference
    * object, so it must be bounded driver-side — 4096 probes × 64
    * dims ≈ 2 MB, well inside broadcast discipline. Benchmarks are
    * small by nature; a table above the cap refuses by name rather
    * than silently degrading. */
  private[graft] val MaxExternalProbes = 4096

  /** PRODUCTION entry point of the semantic screen: the eval probe
    * matrix arrives EXTERNALLY as a parquet param table at
    * `paramPath` with columns (eval_id BIGINT, embedding
    * ARRAY<DOUBLE|FLOAT>) — the `load_param_file` seam the bias
    * lanes ride — instead of derived from the corpus. Probes get the
    * same 1e-6 integer-unit quantization as the corpus side, so the
    * exactness discipline survives the file round trip. The
    * driver-contract query above keeps its fixture-derived probe set
    * (the corpus is the only data in the container). */
  def embeddingContaminationFromParams(spark: SparkSession, dir: String,
      paramPath: String): DataFrame = {
    val v = vecs(spark, dir).withColumn("emb", expr(microUnitsSql("emb")))
    val probes = spark.read.parquet(paramPath)
      .select(col("eval_id").cast("long"),
        expr(microUnitsSql("cast(embedding as array<double>)")).as("emb"))
      .orderBy(col("eval_id"))
      .limit(MaxExternalProbes + 1)
      .collect()
    require(probes.length <= MaxExternalProbes,
      s"probe table exceeds MaxExternalProbes=$MaxExternalProbes — " +
        "benchmark embedding tables broadcast; shard the screen by " +
        "benchmark instead of loading one oversized table")
    // malformed rows refuse BY NAME like the cap and schema casts —
    // getLong/getSeq on a null otherwise surface as a raw NPE
    probes.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        "null_probe_row: param table rows need non-null eval_id " +
          "and embedding")
    }
    embeddingContaminationOf(v,
      probes.map(_.getLong(0)),
      probes.map(_.getSeq[Double](1).toArray))
  }

  private[graft] def embeddingContaminationOf(v: DataFrame,
      ids: Array[Long], mat: Array[Array[Double]]): DataFrame = {
    v.withColumn("top", VectorColumns.topkCosine(col("emb"),
        col("vec_id"), ids, mat, k = 1)(0))
      .select(col("vec_id"),
        col("top").getField("id").as("top_eval_id"),
        quantize(col("top").getField("payload"), 4)
          .as("top_cos"),
        (col("top").getField("payload") >= SemContamThreshold)
          .as("contaminated"))
      .orderBy(col("vec_id"))
  }

  /** Per-label COVARIANCE matrix of the embedding space — the
    * sufficient statistics of PCA/whitening (the OPQ-style rotation
    * fit before product quantization, drift detection via
    * covariance shift, redundancy analysis across dimensions). One
    * hash aggregation: elements quantize to exact 1e-6 integer
    * units ONCE in the scan, then [[graft.expressions.MatMomentsAgg]]
    * folds count / Σx / upper-triangle Σx·y into O(dim²) longs of
    * per-partition state (~17 KB at dim 64) — the covariance of a
    * 100 TB corpus shuffles kilobytes per partition, and because
    * every sum is integer the result is bit-identical on any
    * partitioning and both engines. The (pos → dim pair) map is a
    * broadcast 2080-row table, not a 2080-literal expression tree.
    * Unbiased (n−1) normalization; groups with n < 2 are excluded
    * (no covariance exists, and the guard keeps ANSI division
    * clean). */
  def embeddingCovariance(spark: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val pairs = for { i <- 1 to dim; j <- i to dim } yield (i, j)
    import spark.implicits._
    val pairIdx = broadcast(pairs.zipWithIndex
      .map { case ((i, j), p) => (p, i, j) }
      .toDF("pos", "dim_i", "dim_j"))
    val q = transform(col("embedding").cast("array<double>"),
      x => round(x * 1e6).cast("long"))
    Tables.embeddings(spark, dir)
      .select(col("label"), q.as("u"))
      .groupBy(col("label"))
      .agg(MatMomentsAgg.matMoments(col("u")).as("m"))
      .filter(col("m.n") >= 2)
      .select(col("label"), col("m.n").as("n"), col("m.sums").as("sums"),
        posexplode(col("m.comoments")))
      .join(pairIdx, Seq("pos"))
      .select(col("label"), col("dim_i"), col("dim_j"),
        ((col("n") * col("col") -
          element_at(col("sums"), col("dim_i")) *
          element_at(col("sums"), col("dim_j"))).cast("double")
          / ((col("n") * (col("n") - 1)).cast("double") * lit(1e12)))
          .as("cov"))
  }

  /** PCA-WHITENING of the embedding space — fit on
    * [[embeddingCovariance]]'s exact sufficient statistics, apply as
    * one compiled projection per row. Fit is DRIVER math on O(dim²)
    * values (the collected moments row, ~17 KB — the same bounded-
    * fit argument as the IVF/PQ quantizers): cyclic Jacobi
    * eigen-decomposition of the covariance, top-`Components`
    * eigenpairs (λ desc), whitening rows e_k/√λ_k. Apply is
    * [[graft.expressions.MatVecExpr]] — W and μ ride the stage's
    * reference array, each vector pays one fused y = W·(x−μ) loop,
    * zero joins, zero shuffles beyond the scan. Output is the
    * dimension-reduced whitened sketch (vec_id, component, value):
    * decorrelated unit-variance axes — the preprocessing PQ/OPQ and
    * drift monitors want. Deterministic (fixed sweep order, fixed
    * tolerance, index tie-break) but not SQL-expressible (the eigen
    * solve), so rows-only + spec: whitening its own fit sample must
    * produce exactly unit variances and zero cross-covariances,
    * which the spec asserts to 1e-4. */
  def embeddingWhiten(spark: SparkSession, dir: String): DataFrame = {
    val Components = 8
    val m = Tables.embeddings(spark, dir)
      .select(transform(col("embedding").cast("array<double>"),
        x => round(x * 1e6).cast("long")).as("u"))
      .agg(MatMomentsAgg.matMoments(col("u")).as("m"))
      .select(col("m.n"), col("m.sums"), col("m.comoments"))
      .collect()(0)
    val n = m.getLong(0)
    require(n >= 2, "whitening needs at least two vectors")
    val sums = m.getSeq[Long](1).toArray
    val com = m.getSeq[Long](2).toArray
    val dim = sums.length
    val mu = sums.map(_.toDouble / n / 1e6)
    val cov = Array.ofDim[Double](dim, dim)
    var idx = 0
    for (i <- 0 until dim; j <- i until dim) {
      val c = (n.toDouble * com(idx) - sums(i).toDouble * sums(j)) /
        (n.toDouble * (n - 1)) / 1e12
      cov(i)(j) = c; cov(j)(i) = c; idx += 1
    }
    val (lambda, vecsE) = jacobiEigen(cov)
    val order = lambda.indices.sortBy(k => (-lambda(k), k)).take(Components)
    val w = order.map { k =>
      val l = math.max(lambda(k), 1e-12)
      vecsE.map(row => row(k) / math.sqrt(l)) // column k of E, scaled
    }.toArray
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        posexplode(VectorColumns.matVec(col("embedding"), mu, w)))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("component"),
        quantize(col("col"), 6).as("value"))
  }

  /** Cyclic Jacobi eigen-decomposition of a symmetric matrix —
    * deterministic driver math for the O(dim²) whitening fit.
    * Returns (eigenvalues, eigenvector matrix E with eigenvectors as
    * COLUMNS). Fixed sweep order; converges when the off-diagonal
    * norm drops below 1e-12 (≤ 50 sweeps — a 64² symmetric matrix
    * needs ~8). */
  private def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val e = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offNorm(): Double = {
      var s = 0.0
      for (i <- 0 until d; j <- i + 1 until d) s += a(i)(j) * a(i)(j)
      math.sqrt(s)
    }
    var sweep = 0
    while (offNorm() > 1e-12 && sweep < 50) {
      for (p <- 0 until d; q <- p + 1 until d if a(p)(q) != 0.0) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        val t = if (theta == 0.0) 1.0
          else math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        for (i <- 0 until d) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - s * aiq
          a(i)(q) = s * aip + c * aiq
        }
        for (i <- 0 until d) {
          val api = a(p)(i); val aqi = a(q)(i)
          a(p)(i) = c * api - s * aqi
          a(q)(i) = s * api + c * aqi
        }
        for (i <- 0 until d) {
          val eip = e(i)(p); val eiq = e(i)(q)
          e(i)(p) = c * eip - s * eiq
          e(i)(q) = s * eip + c * eiq
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), e)
  }

  /** SEMANTIC dedup (SemDeDup-style): prune the [[knnGraph]]'s
    * high-cosine edges into clusters and keep ONE representative per
    * cluster — near-duplicate MEANING collapses even when the text
    * differs (translations, templated rewrites, paraphrase spam),
    * which no shingle/minhash pass can see. Edges are the graph's
    * pairs at cosine ≥ 0.35 (the same threshold as the exact-pair
    * dedup family), components come from
    * [[Dedup.connectedComponents]]'s min-label propagation
    * (O(diameter) bounded rounds, plan-truncated per round), and the
    * keeper is the cluster's minimum id — deterministic, so the
    * drop-list is reproducible run to run. Output is one row per
    * CLUSTERED vector (vectors with no qualifying edge are
    * implicitly kept and never shuffle anywhere). At 100 TB the
    * same composition holds with [[knnGraphIvf]] as the edge
    * source. */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame = {
    val edges = knnGraph(spark, dir)
      .filter(col("cosine") >= 0.35)
      .select(least(col("vec_id"), col("neighbor_id")).as("doc_a"),
        greatest(col("vec_id"), col("neighbor_id")).as("doc_b"))
      .distinct()
    Dedup.connectedComponents(edges)
      .select(col("doc_id").as("vec_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("keep"))
  }

  /** Shared audit rollup: per-probe recall@k and mean-cosine regret
    * of an approximate top-k arm against the exact brute-force arm
    * (both as (probe_id, neighbor_id, cos_u) with cosines in exact
    * 1e-4 integer units). The approximate arm is pinned
    * (localCheckpoint) — it feeds the hit join AND its own per-probe
    * mean, and must not recompute between the two reads. */
  private def recallRollup(bf: DataFrame, approx: DataFrame): DataFrame = {
    val ap = approx.localCheckpoint()
    val per = bf
      .join(ap.select(col("probe_id"), col("neighbor_id"), lit(1).as("hit")),
        Seq("probe_id", "neighbor_id"), "left")
      .groupBy(col("probe_id"))
      .agg(count(lit(1)).as("k"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"),
        sum(col("cos_u")).as("bf_u"))
    val ls = ap.groupBy(col("probe_id"))
      .agg(sum(col("cos_u")).as("ap_u"), count(lit(1)).as("n_l"))
    per.join(ls, Seq("probe_id"), "left")
      .select(col("probe_id"), col("n_hit"),
        quantize(col("n_hit") / col("k").cast("double"), 4).as("recall"),
        quantize((col("bf_u").cast("double") / col("k")
          - col("ap_u").cast("double") / col("n_l")) / 1e4, 4).as("cos_regret"))
  }

  /** ANN RECALL AUDIT — the index-quality report that closes the
    * audit family (text: `dedup_lsh_audit`; embeddings:
    * `dedup_semantic_sweep`; here: the ANN index itself): per probe,
    * how many of the EXACT top-k ([[annTopkBruteforce]]) did the
    * hyperplane-LSH index ([[annLshTopk]]) return, and how much
    * cosine quality the approximation gave up (mean exact-top-k
    * cosine minus mean returned cosine — the metric that catches an
    * index returning plausible-but-worse neighbors even at decent
    * recall). Cosines re-quantize to exact integer 1e-4 units before
    * the mean, so both engines' sums agree bit-for-bit.
    *
    * Shape at scale: both inputs are the existing bounded plans (the
    * exact side runs on the audit's probe SAMPLE — the brute-force
    * cost is the price of ground truth and the probe set is the
    * knob); the audit itself joins two O(probes·k) lists. A probe the
    * index returned nothing for keeps its row with a NULL regret. */
  def annRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    recallRollup(
      annTopkBruteforce(spark, dir).select(col("probe_id"),
        col("neighbor_id"), units(col("cosine"), 4).as("cos_u")),
      annLshTopk(spark, dir).select(col("probe_id"),
        col("neighbor_id"), units(col("cosine"), 4).as("cos_u")))
  }

  /** Recall/regret audit of the TWO-LEVEL quantizer's serving lane —
    * the governance row for the 10⁸⁺ fit path ([[annIvfTwoLevelTopk]]
    * vs exact brute force over the same md5-drawn probes): did
    * routing through superK + 2·subK dots instead of nlist keep the
    * answers? Same bounded shape as every audit here: the corpus is
    * scanned by the two arms only, the rollup is O(probes). */
  def annTwoLevelRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    recallRollup(
      annTopkBruteforce(spark, dir).select(col("probe_id"),
        col("neighbor_id"), units(col("cosine"), 4).as("cos_u")),
      annIvfTwoLevelTopk(spark, dir).select(col("probe_id"),
        col("neighbor_id"), units(col("cosine"), 4).as("cos_u")))
  }

  /** EMBEDDING LABEL PURITY — the space-health metric run before
    * trusting an embedding column for dedup or retrieval: for every
    * vector, the fraction of its k nearest neighbors sharing its
    * label, rolled up per label. A label whose purity collapses
    * toward the label's base rate means the space carries no signal
    * for it — curation built on those neighborhoods (SemDeDup,
    * [[knnGraph]]-driven clustering) silently degrades first there.
    * Composes the existing k-NN edge set with the label column; the
    * rollup is O(labels). Purity is an exact integer ratio (hits
    * over k·members) divided once. */
  def embeddingLabelPurity(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir).select("vec_id", "label")
    val edges = knnGraph(spark, dir)
      .select(col("vec_id"), col("neighbor_id"))
      .join(labels, Seq("vec_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nb_label")), Seq("neighbor_id"))
    edges
      .groupBy(col("label"))
      .agg(count_distinct(col("vec_id")).as("n_vecs"),
        count(lit(1)).as("n_edges"),
        sum(when(col("label") === col("nb_label"), 1).otherwise(0))
          .cast("long").as("n_same"),
        quantize(sum(when(col("label") === col("nb_label"), 1).otherwise(0))
          / count(lit(1)).cast("double"), 4).as("purity"))
  }

  /** Sweep thresholds for [[semanticSweep]] — literals, interpolated
    * into the oracle SQL. */
  private[graft] val SweepTaus = Seq(0.30, 0.35, 0.40, 0.45, 0.50, 0.60)

  /** SemDeDup THRESHOLD SWEEP — the governance table for the
    * embedding side, the semantic twin of `dedup_lsh_audit`: before
    * committing to one cosine cutoff, how many near-dup pairs and
    * how many affected documents does each candidate threshold
    * imply? Sweeps the FIXED k-NN edge set (computed once) across
    * the cutoffs, so choosing τ reads one table instead of re-running
    * the graph per candidate — the curve's knee is where SemDeDup
    * stops trimming boilerplate and starts deleting content.
    *
    * Shape at scale: the k-NN graph is the operator's whole cost
    * (same bounded plan as `knn_graph`; the IVF-blocked twin swaps in
    * unchanged); the sweep itself is an O(k·n·|τ|) explode of id
    * pairs — no vectors — two hash aggs and a 6-row join. A
    * threshold implying zero pairs drops out (inner grouping), same
    * in the oracle. */
  def semanticSweep(spark: SparkSession, dir: String): DataFrame = {
    val pairs = knnGraph(spark, dir)
      .select(least(col("vec_id"), col("neighbor_id")).as("doc_a"),
        greatest(col("vec_id"), col("neighbor_id")).as("doc_b"),
        col("cosine"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("cosine")).as("cosine"))
    val swept = pairs
      .select(col("doc_a"), col("doc_b"), col("cosine"),
        explode(array(SweepTaus.map(lit): _*)).as("tau"))
      .filter(col("cosine") >= col("tau"))
      // read twice (pair counts + affected-doc counts); pinned so the
      // driver-collected corpus scan in knnGraph runs once, not twice
      .localCheckpoint()
    val nPairs = swept.groupBy(col("tau")).agg(count(lit(1)).as("n_pairs"))
    val nDocs = swept
      .select(col("tau"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy(col("tau")).agg(countDistinct(col("d")).as("n_docs"))
    val total = vecs(spark, dir).agg(count(lit(1)).as("n_vecs"))
    nPairs.join(nDocs, Seq("tau")).crossJoin(total)
      .select(col("tau"), col("n_pairs"), col("n_docs"),
        quantize(col("n_docs") / col("n_vecs").cast("double"), 4).as("dup_rate"))
  }

  /** Plain Lloyd's k-means over an in-memory sample — the IVF coarse
    * quantizer fit. Deterministic: evenly-spaced init over the sample
    * order, fixed iteration count; empty clusters keep their previous
    * centroid. Cost is O(|sample|·k·dim·iters) on the DRIVER — the
    * sample is bounded, so this never scales with the corpus. */
  private[graft] def lloyd(points: Array[Array[Double]], k: Int, iters: Int): Array[Array[Double]] = {
    val n = points.length
    val dim = points(0).length
    var cents = Array.tabulate(k)(i => points(((i.toLong * n) / k).toInt).clone())
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val cnt = new Array[Long](k)
      points.foreach { p =>
        var best = 0; var bd = Double.MaxValue; var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          while (j < dim) { val t = p(j) - cents(c)(j); d += t * t; j += 1 }
          if (d < bd) { bd = d; best = c }
          c += 1
        }
        cnt(best) += 1
        var j = 0
        while (j < dim) { sums(best)(j) += p(j); j += 1 }
      }
      cents = Array.tabulate(k)(c =>
        if (cnt(c) == 0) cents(c) else sums(c).map(_ / cnt(c)))
    }
    cents
  }

  /** IVF (inverted-file) ANN — the coarse-quantizer alternative to
    * LSH: k-means centroids partition the corpus into `nlist`
    * buckets; each probe searches only the `nprobe` buckets whose
    * centroids are nearest.
    *
    * Index build, shaped for 100 TB: the quantizer is fit on a
    * BOUNDED sample (`limit(4096)` — never the corpus; k-means
    * iterates full passes over its fit input, and 8 passes over
    * 100 TB would dwarf every query the index serves). The sample is
    * small by construction, so the fit runs as a driver-local
    * Lloyd's loop in microseconds — no distributed iteration at all.
    * The full corpus is then touched exactly ONCE: bucket assignment
    * is a fused argmin-over-centroids expression (centroids are
    * literals, distances via the codegen'd dot kernel), evaluated in
    * the scan stage with zero shuffles. */
  def annIvfTopk(spark: SparkSession, dir: String): DataFrame = {
    val nprobe = 2
    val v = vecs(spark, dir)
    val cents = ivfCentroids(spark, dir)
    // argmin_c ||e - c||² = argmin_c (|c|² - 2·e·c) — |e|² is constant
    // per row and drops out, so each candidate costs one dot product.
    // Distances round to 6dp with the bucket-id tie-break so the
    // oracle's replay of the same arithmetic lands on the identical
    // bucket; the fused kernel keeps this scan-stage at any nlist.
    val bucketCol = VectorColumns.nearestCells(col("emb"), cents, 1)
      .getItem(0).getField("b")
    val assigned = v.withColumn("bucket", bucketCol)
    // probe → nprobe nearest centroids, ranked by exact cosine to the
    // centroid (16 × |probes| rows — the routing table is tiny)
    val centroidDf = spark.createDataFrame(
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq)
      .toDF("bucket", "centroid")
    val probes = assigned.filter(probeFilter(spark, dir))
      .select(col("vec_id").as("probe_id"), col("emb").as("pe"))
    val routing = probes.crossJoin(broadcast(centroidDf))
      .withColumn("cos", VectorColumns.cosine(col("pe"),
        col("centroid").cast("array<double>")))
    // route by the 6-dp ROUNDED centroid cosine with the bucket-id
    // tie-break — a total order the DuckDB oracle reproduces exactly
    // (raw-double routing could pick a different nprobe set across
    // engines when two centroids land within an ulp)
    val probeBuckets = routing
      .groupBy(col("probe_id"))
      .agg(TopKAgg.topk(quantize(col("cos"), 6), col("bucket").cast("long"),
        col("cos"), nprobe).as("top"))
      .select(col("probe_id"), explode(col("top.id")).as("bucket"))
      .join(probes, Seq("probe_id"))
    val cands = assigned.join(broadcast(probeBuckets), Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("pe"), col("vec_id"), col("emb"))
      .dropDuplicates("probe_id", "vec_id")
    topkPerProbe(
      cands.withColumn("cos", VectorColumns.cosine(col("pe"), col("emb"))), 10)
  }

  /** The nprobe ladder [[annNprobeSweep]] measures: powers of two
    * under the corpus's adaptive cell count, topped by nlist itself
    * (exhaustive — the self-check rung whose recall must be 1). A
    * function of nlist, not a constant, so the ladder tracks the
    * [[adaptiveNlist]] sizing per corpus. */
  private[graft] def nprobeLadder(nlist: Int): Seq[Int] =
    Seq(1, 2, 4, 8, 16, 32, 64, 128).filter(_ < nlist) :+ nlist

  /** IVF NPROBE SWEEP — the tuning-governance table for the ANN
    * scale path, the routing twin of [[semanticSweep]]: ONE
    * assignment + ONE routing-rank pass, then every rung of the
    * nprobe ladder is a filter on `first_rn` (the rank of the first
    * probed cell that admits the candidate) — the sweep never re-runs
    * the quantizer. Per rung: candidate volume (the cost axis),
    * hits against the exact brute-force top-10, recall@10, and the
    * mean per-neighbor cosine regret in 4-dp units. The top rung
    * (nprobe = nlist) probes every cell, so its recall must be 1.0
    * and regret 0 — a built-in self-check the spec asserts. Probes
    * are a bounded driver-chosen set, so the per-probe ranking
    * windows partition on probe_id over bounded candidate slivers —
    * audit-tier cost, run it on a probe sample at production scale. */
  def annNprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val v = vecs(spark, dir)
    val cents = ivfCentroids(spark, dir)
    val nlist = cents.length
    val bucketCol = VectorColumns.nearestCells(col("emb"), cents, 1)
      .getItem(0).getField("b")
    val assigned = v.withColumn("bucket", bucketCol)
    val centroidDf = spark.createDataFrame(
      cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq)
      .toDF("bucket", "centroid")
    val probes = assigned.filter(probeFilter(spark, dir))
      .select(col("vec_id").as("probe_id"), col("emb").as("pe"))
    // routing rank rn = 1..nlist per probe (same key order as
    // annIvfTopk's TopKAgg routing: 6-dp cosine desc, bucket asc)
    val ranked = probes.crossJoin(broadcast(centroidDf))
      .withColumn("cos", VectorColumns.cosine(col("pe"),
        col("centroid").cast("array<double>")))
      .withColumn("rn", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(quantize(col("cos"), 6).desc, col("bucket").asc)))
      .select(col("probe_id"), col("bucket"), col("rn"))
    // first_rn: the earliest routing rank that admits the candidate
    val scored = assigned.join(broadcast(ranked), Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(min(col("rn")).as("first_rn"))
      .join(v, Seq("vec_id"))
      .join(probes, Seq("probe_id"))
      .withColumn("cos", VectorColumns.cosine(col("pe"), col("emb")))
      .withColumn("cos_u", units(col("cos"), 4))
      .select("probe_id", "vec_id", "first_rn", "cos", "cos_u")
      // pinned: every sweep rung and the truth join read this sliver
      .localCheckpoint()
    val truth = scored // nprobe = nlist admits everything: reuse
      .withColumn("rk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(quantize(col("cos"), 6).desc, col("vec_id").asc)))
      .filter(col("rk") <= 10)
      .select(col("probe_id"), col("vec_id"), col("cos_u").as("t_u"))
    val tTot = truth.agg(count(lit(1)).as("n_truth"),
      sum(col("t_u")).as("tu"))
    // ONE aggregation per rung instead of two joined ones (r17): the
    // rank window preserves row count and the truth join is on a
    // unique (probe_id, vec_id) key, so candidate count and top-10
    // hit/cos sums can ride the same grouped pass — the second
    // aggregate subtree, its join, and their extra exchanges are
    // gone (plan: 11 exchanges → 8; identical output, oracle-pinned).
    val rungs = scored
      .crossJoin(broadcast(nprobeLadder(nlist).toDF("nprobe")))
      .filter(col("first_rn") <= col("nprobe"))
    rungs
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("nprobe"), col("probe_id"))
          .orderBy(quantize(col("cos"), 6).desc, col("vec_id").asc)))
      .join(truth.select(col("probe_id"), col("vec_id"), lit(1).as("hit")),
        Seq("probe_id", "vec_id"), "left")
      .groupBy(col("nprobe"))
      .agg(count(lit(1)).as("n_cands"),
        sum(when(col("rk") <= 10, coalesce(col("hit"), lit(0)))
          .otherwise(lit(0))).cast("long").as("n_hit"),
        sum(when(col("rk") <= 10, col("cos_u"))).as("iu"))
      .crossJoin(broadcast(tTot))
      .select(col("nprobe").cast("long").as("nprobe"), col("n_cands"),
        col("n_hit"), col("n_truth"),
        quantize(col("n_hit") / col("n_truth").cast("double"), 4).as("recall_at10"),
        (floor((col("tu") - col("iu")).cast("double")
          / col("n_truth") + 0.5) / 1e4).as("mean_regret"))
  }

  /** The nlist ladder [[annNlistSweep]] measures — the IVF SIZING
    * axis orthogonal to [[annNprobeSweep]]'s routing depth. The
    * shipped sizing is [[adaptiveNlist]] (∝ √n); at the test scales
    * the ladder brackets it both ways, and its r12 measurements are
    * the evidence the adaptive law is wired to. */
  private[graft] val NlistSweep: Seq[Int] = Seq(4, 8, 16, 32, 64)

  /** Probe depth held fixed across the nlist ladder — the shipped
    * [[knnGraphIvf]] sizing, so the sweep measures exactly the
    * trade the production operator rides. */
  private[graft] val NlistSweepNprobe = 4

  private val nlistFitCache = scala.collection.concurrent.TrieMap
    .empty[(String, Int), Array[Array[Double]]]

  /** Per-(dataset, nlist) quantizer fits for the sizing sweep; the
    * corpus's ADAPTIVE nlist reuses [[ivfCentroids]] so that rung of
    * the sweep is EXACTLY the production quantizer. */
  private[graft] def nlistCentroids(spark: SparkSession, dir: String,
      nlist: Int): Array[Array[Double]] =
    if (nlist == ivfNlist(spark, dir)) ivfCentroids(spark, dir)
    else nlistFitCache.getOrElseUpdate((dir, nlist),
      lloyd(fitSample(spark, dir), nlist, iters = 8))

  /** IVF NLIST SWEEP — the SIZING-evidence table behind the "nlist ~
    * √n" claim: at the shipped probe depth (nprobe = 4), each rung
    * refits the coarse quantizer at a different cell count and
    * measures candidate volume (the cost axis — what a 100× corpus
    * multiplies) against recall@10 and cosine regret vs the exact
    * truth. More cells ⇒ fewer candidates per probe ⇒ cheaper but
    * lower recall; the crossover this table exposes is what fixes
    * nlist at scale. Shape: ONE corpus×probes scoring pass is pinned
    * and shared by the truth ranking and every rung's metric join;
    * per rung, home-cell assignment is a literal-centroid argmin in
    * the scan stage and the candidate set is one broadcast equi-join
    * on the cell id — the sweep never materializes n² anywhere.
    * Audit-tier (bounded probes), like every governance lane. */
  def annNlistSweep(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val v = vecs(spark, dir)
    val scoredAll = v.join(broadcast(
        v.filter(probeFilter(spark, dir))
          .select(col("vec_id").as("probe_id"), col("emb").as("pe"))),
        col("vec_id") =!= col("probe_id"))
      .withColumn("cos", VectorColumns.cosine(col("pe"), col("emb")))
      .withColumn("cos_u", units(col("cos"), 4))
      .select(col("probe_id"), col("vec_id"), col("cos"), col("cos_u"))
      // pinned: the truth ranking and all five rungs read this sliver
      .localCheckpoint()
    val truth = scoredAll
      .withColumn("rk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(quantize(col("cos"), 6).desc, col("vec_id").asc)))
      .filter(col("rk") <= 10)
      .select(col("probe_id"), col("vec_id"), col("cos_u").as("t_u"))
      .localCheckpoint()
    val tTot = truth.agg(count(lit(1)).as("n_truth"),
      sum(col("t_u")).as("tu"))
    val probeVecs = v.filter(probeFilter(spark, dir))
      .select(col("vec_id").as("probe_id"), col("emb").as("pe"))
    val rungs = NlistSweep.map { nlist =>
      val cents = nlistCentroids(spark, dir, nlist)
      val nprobe = math.min(NlistSweepNprobe, nlist)
      val home = v.select(col("vec_id"),
        VectorColumns.nearestCells(col("emb"), cents, 1)
          .getItem(0).getField("b").as("cell"))
      val centroidDf = spark.createDataFrame(
        cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq)
        .toDF("cell", "centroid")
      val routing = probeVecs.crossJoin(broadcast(centroidDf))
        .withColumn("cc", VectorColumns.cosine(col("pe"),
          col("centroid").cast("array<double>")))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("probe_id"))
            .orderBy(quantize(col("cc"), 6).desc, col("cell").asc)))
        .filter(col("rn") <= nprobe)
        .select(col("probe_id"), col("cell"))
      // home cells are unique per vector and routing cells distinct
      // per probe, so the equi-join yields each pair at most once
      val cands = home.join(broadcast(routing), Seq("cell"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"))
      // ONE ungrouped aggregate per rung (r17): the rank window keeps
      // every candidate row and the truth join key is unique, so the
      // candidate count and the top-10 hit/cos sums share a single
      // pass — the per-rung localCheckpoint (an eager job serializing
      // the five otherwise-independent rungs) and the second
      // aggregate+crossJoin are gone. The five rung subtrees now live
      // in ONE final plan, so their stages overlap (guide §2.6)
      // instead of running as 5×4 back-to-back jobs.
      cands.join(scoredAll, Seq("probe_id", "vec_id"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("probe_id"))
            .orderBy(quantize(col("cos"), 6).desc, col("vec_id").asc)))
        .join(truth.select(col("probe_id"), col("vec_id"),
          lit(1).as("hit")), Seq("probe_id", "vec_id"), "left")
        .agg(count(lit(1)).as("n_cands"),
          sum(when(col("rk") <= 10, coalesce(col("hit"), lit(0)))
            .otherwise(lit(0))).cast("long").as("n_hit"),
          sum(when(col("rk") <= 10, col("cos_u"))).as("iu"))
        .select(lit(nlist).cast("long").as("nlist"),
          lit(nprobe).cast("long").as("nprobe"),
          col("n_cands"), col("n_hit"), col("iu"))
    }.reduce(_ unionByName _)
    rungs.crossJoin(broadcast(tTot))
      .select(col("nlist"), col("nprobe"), col("n_cands"), col("n_hit"),
        col("n_truth"),
        quantize(col("n_hit") / col("n_truth").cast("double"), 4).as("recall_at10"),
        (floor((col("tu") - col("iu")).cast("double")
          / col("n_truth") + 0.5) / 1e4).as("mean_regret"))
      .orderBy(col("nlist"))
  }

  /** Per-label embedding CENTROIDS — the class-prototype report
    * (cluster centers for drift monitoring, label-quality checks,
    * nearest-class-mean classification). The elementwise vector sum
    * runs in [[VecSumAgg]]: O(dim) state per group with map-side
    * partial aggregation, so the shuffle moves O(partitions × labels
    * × dim) doubles — the `posexplode → groupBy(label, dim)`
    * alternative would shuffle dim× the corpus row count. The tiny
    * aggregated result (|labels| rows) then explodes to (label, dim,
    * value) only for the oracle-comparable output shape.
    *
    * Invariance note (documented residual risk): the per-dimension
    * sums are raw doubles, so their partial-agg merge order is
    * engine- and partitioning-dependent; a sum landing within an ulp
    * of a half-quantum of the 1e-6 grid could floor differently
    * across engines/runs. The exact-integer alternative (quantize
    * elements once, sum longs in the aggregator) is available if the
    * gate ever flips; float32-origin inputs exactly representable in
    * double keep the risk negligible here. */
  def embeddingCentroids(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir)
      .select(col("label"), col("embedding").cast("array<double>").as("emb"))
      .groupBy(col("label"))
      .agg(VecSumAgg.vecSum(col("emb")).as("vsum"),
        count(lit(1)).as("n_vecs"))
      .select(col("label"), col("n_vecs"),
        posexplode(transform(col("vsum"),
          s => quantize(s / col("n_vecs"), 6))))
      .select(col("label"), col("n_vecs"),
        (col("pos") + 1).cast("int").as("dim"), col("col").as("c"))
  }

  /** EMBEDDING DISTRIBUTION DRIFT — the embedding-space twin of the
    * text lane's `length_drift_psi`: per label, how far has the
    * class centroid moved between the corpus's first and second
    * halves (vec_id parity as the deterministic split — a deployment
    * splits on ingest time)? A drifting centroid means the upstream
    * encoder or the data changed, and every ANN index / classifier
    * fitted on the old half is now miscalibrated. Reports per label:
    * both half sizes, the L2 distance between half-centroids, and
    * their cosine.
    *
    * Exactness: elements quantize ONCE in-row to integer 1e-6 units
    * (held in doubles — integer-valued, so the [[VecSumAgg]] partial
    * sums stay EXACT and merge-order-free up to 2⁵³, unlike the raw
    * float sums `embedding_centroids` documents as residual risk);
    * centroid coordinates are exact-integer ratios, and both the L2
    * and dot terms quantize per-DIMENSION to 1e-8 before summing, so
    * the 64-term reductions are exact longs on any engine and in any
    * order. One scan, one (label, half) VecSumAgg, one label join —
    * O(labels) output. */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val q = Tables.embeddings(spark, dir)
      .select(col("label"), (col("vec_id") % 2).as("half"),
        expr(microUnitsSql("cast(embedding as array<double>)")).as("eq"))
    val halves = q.groupBy(col("label"), col("half"))
      .agg(VecSumAgg.vecSum(col("eq")).as("s"), count(lit(1)).as("n"))
    val a = halves.filter(col("half") === 0)
      .select(col("label"), col("s").as("s0"), col("n").as("n0"))
    val b = halves.filter(col("half") === 1)
      .select(col("label"), col("s").as("s1"), col("n").as("n1"))
    a.join(b, Seq("label"))
      // per-dim centroid coords in 1e-6 units (exact ratios); L2/dot
      // terms quantized per dim to 1e-8 units -> exact long sums
      .withColumn("d2_u", expr(
        """aggregate(zip_with(s0, s1,
          |  (x, y) -> (x / n0 - y / n1) * (x / n0 - y / n1)),
          |  0L, (acc, t) -> acc + cast(floor(t / 1e4 + 0.5) as bigint))"""
          .stripMargin))
      .withColumn("dot_u", expr(
        """aggregate(zip_with(s0, s1, (x, y) -> (x / n0) * (y / n1)),
          |  0L, (acc, t) -> acc + cast(floor(t / 1e4 + 0.5) as bigint))"""
          .stripMargin))
      .withColumn("na_u", expr(
        """aggregate(s0, 0L,
          |  (acc, x) -> acc + cast(floor(x / n0 * x / n0 / 1e4 + 0.5) as bigint))"""
          .stripMargin))
      .withColumn("nb_u", expr(
        """aggregate(s1, 0L,
          |  (acc, y) -> acc + cast(floor(y / n1 * y / n1 / 1e4 + 0.5) as bigint))"""
          .stripMargin))
      .select(col("label"), col("n0").as("n_first"), col("n1").as("n_second"),
        // d2_u is (1e4·L2)² as an exact long, so one sqrt + floor
        // lands directly on the 1e-4 grid
        (floor(sqrt(col("d2_u").cast("double")) + 0.5) / 1e4).as("l2_drift"),
        when(col("na_u") > 0 && col("nb_u") > 0,
          quantize(col("dot_u").cast("double")
            / sqrt(col("na_u").cast("double") * col("nb_u").cast("double")), 4))
          .as("cos_centroid"))
  }

  /** Per-vector int8 POST-TRAINING QUANTIZATION report — the other
    * storage-compression lever next to [[annPqTopk]] (PQ replaces the
    * vector with subspace codes; affine int8 keeps the layout but
    * stores one byte per dimension + two scalars — the standard
    * serving-index format, 4× smaller than float32). Per vector:
    * min/max, the affine scale, and the integer checksum of the
    * quantized codes (the auditable fingerprint a re-quantization
    * must reproduce). Everything is elementwise in the scan — no
    * shuffle, no join at any corpus size; codes are integers the
    * moment they exist, so both engines agree exactly (constant
    * vectors quantize to scale 0 / checksum 0 by the guard, not
    * NaN). */
  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame = {
    Tables.embeddings(spark, dir)
      .withColumn("vmin", array_min(col("embedding")).cast("double"))
      .withColumn("vmax", array_max(col("embedding")).cast("double"))
      .withColumn("scale", (col("vmax") - col("vmin")) / lit(255.0))
      .select(col("vec_id"), col("label"), col("vmin"), col("vmax"),
        col("scale"),
        when(col("scale") === 0.0, 0L).otherwise(
          expr("""aggregate(embedding, 0L, (a, x) ->
            a + CAST(floor((CAST(x AS DOUBLE) - vmin) / scale + 0.5) AS BIGINT))"""))
          .as("qsum"))
  }

  /** TWO-NN intrinsic-dimension estimate per label (Facco et al.
    * 2017, *Estimating the intrinsic dimension of datasets by a
    * minimal neighborhood information* — the standard
    * manifold-dimension probe an embedding evaluation runs: an ID
    * far below the ambient dimension means the space is under-used;
    * per-LABEL IDs that diverge flag mixed-provenance clusters):
    * each vector's ratio μ = d₂/d₁ of its two nearest-neighbor
    * distances, ID = n / Σ ln μ (the MLE under local uniformity).
    * Distances are the cosine-derived chord √(2−2cos) on the SAME
    * quantized cosines the kNN graph publishes (composition — the
    * oracle mirrors it); each ln μ term quantizes to 1e-6 units
    * before the cross-vector sum; coincident neighbors (d₁ = 0) are
    * excluded. O(labels) output off the O(k·n) edge table. */
  def embeddingIntrinsicDim(spark: SparkSession, dir: String): DataFrame = {
    val labels = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    val p = knnGraph(spark, dir)
      .filter(col("rk") <= 2)
      .groupBy(col("vec_id"))
      .agg(min(when(col("rk") === 1, col("cosine"))).as("c1"),
        min(when(col("rk") === 2, col("cosine"))).as("c2"))
      .withColumn("d1",
        sqrt(greatest(lit(2.0) - lit(2.0) * col("c1"), lit(0.0))))
      .withColumn("d2",
        sqrt(greatest(lit(2.0) - lit(2.0) * col("c2"), lit(0.0))))
      .filter(col("d1") > 0 && col("d2") >= col("d1"))
      .withColumn("lmu_u",
        units(log(col("d2") / col("d1")), 6))
      .join(labels, Seq("vec_id"))
    p.groupBy(col("label"))
      .agg(count(lit(1)).as("n_used"), sum(col("lmu_u")).as("su"))
      .select(col("label"), col("n_used"),
        when(col("su") > 0,
          quantize(col("n_used").cast("double")
            / (col("su").cast("double") / 1e6), 4))
          .as("intrinsic_dim"))
  }

  /** k-NN graph MUTUALITY census — the graph-quality number embedding
    * evaluations read (a healthy manifold's kNN edges reciprocate;
    * hubness — a few vectors appearing in everyone's list without
    * reciprocation — degrades retrieval and shows up here as mass at
    * n_mutual = 0): for each vector, how many of its k edges are
    * reciprocated, reported as the (n_mutual, n_vecs) histogram.
    * Composition over [[knnGraph]]'s edge set (oracle mirrors it):
    * the reverse-edge check is ONE equi-join of the O(k·n) edge table
    * against itself on the swapped key pair — never touches the
    * vectors again — and the histogram is O(k+1) rows. */
  def knnGraphMutuality(spark: SparkSession, dir: String): DataFrame = {
    val e = knnGraph(spark, dir)
      .select(col("vec_id"), col("neighbor_id"))
      .localCheckpoint() // three readers: both join sides + the key list
    val m = e.as("a").join(e.as("b"),
        col("a.vec_id") === col("b.neighbor_id") &&
          col("a.neighbor_id") === col("b.vec_id"))
      .groupBy(col("a.vec_id").as("vec_id"))
      .agg(count(lit(1)).as("n_mutual"))
    e.select(col("vec_id")).distinct()
      .join(m, Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("n_mutual"), lit(0L)).as("n_mutual"))
      .groupBy(col("n_mutual"))
      .agg(count(lit(1)).as("n_vecs"))
  }

  /** Embedding NORM AUDIT — the data-quality gate an index build runs
    * before trusting a vector column (zero vectors break cosine,
    * norm drift between labels signals a mixed-provenance dump):
    * per label, the vector count, zero-norm count, mean norm and
    * exact p10/p50/p90 norm percentiles.
    *
    * Exactness: each element quantizes to a 1e-6-unit long IN-ROW
    * (an `aggregate` fold over exact longs — merge order can't reach
    * it), so the squared norm is an exact integer; per-vector norms
    * quantize to 1e-6 units before the cross-vector mean sum; the
    * percentiles rank-interpolate on one window sort per label — NO
    * per-label collect, so a label with a billion vectors sorts and
    * spills instead of materializing a driver-sized array. */
  def embeddingNormAudit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qs = Seq(("p10", 0.1), ("p50", 0.5), ("p90", 0.9))
    val v = Tables.embeddings(spark, dir)
      .select(col("label"),
        // the native fused loop ([[graft.expressions.QuantNormSqExpr]])
        // — identical arithmetic to the aggregate-HOF formulation but
        // codegen'd, no interpreted per-element lambda in the hot path
        expr("quant_norm_sq(embedding)").as("nsq_u"))
      .withColumn("norm", sqrt(col("nsq_u").cast("double")) / 1e6)
      .withColumn("norm_u",
        floor(sqrt(col("nsq_u").cast("double")) + 0.5).cast("long"))
    val w = Window.partitionBy(col("label")).orderBy(col("nsq_u"))
    val ranked = v
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("label"))))
    val pctAggs = qs.flatMap { case (nm, q) =>
      val r = (col("n") - 1) * lit(q)
      val lo = floor(r) + 1
      Seq(min(when(col("rn") === lo, col("norm"))).as(s"${nm}_lo"),
        min(when(col("rn") === least(lo + 1, col("n")), col("norm")))
          .as(s"${nm}_hi"),
        min(r - floor(r)).as(s"${nm}_f"))
    }
    val pctOut = qs.map { case (nm, _) =>
      quantize(col(s"${nm}_lo") + col(s"${nm}_f")
        * (col(s"${nm}_hi") - col(s"${nm}_lo")), 4).as(nm)
    }
    ranked.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        (Seq(sum(when(col("nsq_u") === 0, 1L).otherwise(0L)).as("n_zero"),
          sum(col("norm_u")).as("su")) ++ pctAggs): _*)
      .select(Seq(col("label"), col("n_vecs"), col("n_zero"),
        quantize(col("su").cast("double") / col("n_vecs") / 1e6, 4).as("mean_norm"))
        ++ pctOut: _*)
  }

  /** Distance-to-class-centroid OUTLIER flags — the mislabeled-vector
    * filter of embedding curation (a vector far from its own label's
    * prototype is a labeling error or contamination; drop or re-queue
    * it before the index build). Composes [[embeddingCentroids]]'
    * bounded `VecSumAgg` prototypes, quantized to the 1e-6 grid so
    * both engines hold the SAME reference point, broadcast back by
    * label; each vector's squared distance accumulates as exact
    * integer 1e-8 units (per-term quantize is elementwise and
    * bit-identical; integer sums are association-free), and the flag
    * compares against 1.05× the corpus mean distance (uniform
    * synthetic vectors concentrate at ±10% of the mean in 64-dim;
    * real clustered data would gate higher) — both operands
    * bit-identical, so the gate can't flip. Two broadcast joins
    * (O(labels)·dim prototypes, one scalar), one elementwise pass:
    * zero data-sized shuffles at any corpus size. */
  def embeddingOutliers(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.embeddings(spark, dir)
      .select(col("label"), col("embedding").cast("array<double>").as("emb"))
      .groupBy(col("label"))
      .agg(VecSumAgg.vecSum(col("emb")).as("vsum"), count(lit(1)).as("n"))
      .select(col("label"),
        transform(col("vsum"), s => quantize(s / col("n"), 6))
          .as("centroid"))
    // pin the NARROW scored projection (24 B/row, no embedding
    // array): the global-mean pass and the final flag pass both read
    // it, and without the checkpoint each re-expands the lineage into
    // its own 512 B/row embedding scan + centroid join (plan-audited:
    // 4 fact scans → 2, the structural minimum for mean-then-compare)
    val scored = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("emb"))
      .join(broadcast(cents), Seq("label"))
      .withColumn("dist2_u",
        expr("""aggregate(zip_with(emb, centroid, (x, c) -> (x - c) * (x - c)),
          0L, (a, t) -> a + CAST(floor(t * 1e8 + 0.5) AS BIGINT))"""))
      .select(col("vec_id"), col("label"), col("dist2_u"))
      .localCheckpoint()
    val meanD = scored.agg(
      (sum(col("dist2_u")).cast("double") / count(lit(1))).as("mean_u"))
    scored.crossJoin(broadcast(meanD))
      .select(col("vec_id"), col("label"),
        (col("dist2_u").cast("double") / 1e8).as("dist2"),
        (col("dist2_u").cast("double") > lit(1.05) * col("mean_u"))
          .as("is_outlier"))
  }

  /** Product-quantization ANN — the memory-compression scale path:
    * the 64-dim embedding splits into M=8 subspaces, each encoded as
    * its nearest of 16 per-subspace centroids, so a stored vector is
    * M small codes (8 bytes) instead of 64 doubles (512 bytes) — the
    * difference between an index that fits executor memory at 100 TB
    * and one that does not.
    *
    * Build, shaped like [[annIvfTopk]]: all M codebooks fit on ONE
    * bounded `limit(4096)` sample via the driver-local Lloyd's loop;
    * the corpus is touched once, encoding via M fused
    * argmin-over-centroids expressions in the scan stage (zero
    * shuffles). Search is asymmetric (ADC): each probe precomputes an
    * M×16 lookup table of exact subspace distances to every centroid
    * (probes are query-time inputs — the LUT table is
    * O(probes·M·ksub), broadcast); scoring a stored vector is then M
    * array lookups, not a 64-dim dot product. The ADC shortlist
    * (bounded per probe by the [[TopKAgg]] heap) re-ranks with the
    * EXACT cosine, so quantization error costs recall only inside
    * the shortlist tail — spec-measured against the brute-force
    * baseline. */
  def annPqTopk(spark: SparkSession, dir: String): DataFrame = {
    val M = PqM; val subDim = PqSubDim; val ksub = PqKsub; val shortlist = 50
    val v = vecs(spark, dir)
    val books = pqCodebooks(spark, dir)
    def subVec(m: Int): Column = slice(col("emb"), m * subDim + 1, subDim)
    // argmin_c ||e_m - c||² = argmin_c (|c|² - 2·e_m·c), as in IVF
    def subScore(m: Int, c: Array[Double]): Column =
      lit(c.map(x => x * x).sum) -
        lit(2.0) * VectorColumns.dot(subVec(m), array(c.map(lit).toIndexedSeq: _*))
    // encode argmin on 6-dp rounded subspace distances (ties → lower
    // code) — both engines assign identical codes from the literal
    // codebooks
    val codeCols = (0 until M).map { m =>
      array_min(array((0 until ksub).map(k =>
        struct(quantize(subScore(m, books(m)(k)), 6).as("d"), lit(k).as("k"))): _*))
        .getField("k").as(s"code_$m")
    }
    val encoded = v.select(col("vec_id") +: col("emb") +: codeCols: _*)
    // probes are query-time driver inputs (bounded, like the fit
    // sample); their LUTs travel as one broadcast table
    val probes: Array[(Long, Array[Double])] = v.filter(probeFilter(spark, dir))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val lutRows = probes.map { case (pid, pe) =>
      val lut: Seq[Seq[Double]] = (0 until M).map { m =>
        val pm = pe.slice(m * subDim, (m + 1) * subDim)
        (0 until ksub).map { k =>
          val c = books(m)(k)
          c.map(x => x * x).sum - 2.0 * c.zip(pm).map { case (a, b) => a * b }.sum
        }
      }
      (pid, lut, pe.toSeq)
    }.toSeq
    val probeDf = spark.createDataFrame(lutRows).toDF("probe_id", "lut", "pe")
    // ADC as an ORDER-FREE integer: each of the 8 LUT terms is
    // quantized to a 1e-9 grid FIRST, then summed as longs (terms
    // ≲ 1e11 each, sum ≲ 1e12 — exact in a 64-bit lane and exact as
    // a double key). A raw double Σ would depend on summation order,
    // which DuckDB's aggregate does not specify, so the shortlist-50
    // boundary could differ across engines or even across runs.
    val adcU = (0 until M).map(m =>
      units(element_at(element_at(col("lut"), m + 1),
        col(s"code_$m") + 1), 9))
      .reduce(_ + _)
    val scored = encoded.join(broadcast(probeDf),
        col("vec_id") =!= col("probe_id"))
      .withColumn("adc_u", adcU)
    // shortlist ranks on the quantized ADC (ascending, vec_id
    // tie-break) — the total order the oracle replays
    val short = scored.groupBy(col("probe_id"))
      .agg(TopKAgg.topk(negate(col("adc_u")), col("vec_id"),
        col("adc_u"), shortlist).as("top"))
      .select(col("probe_id"), explode(col("top.id")).as("vec_id"))
    // exact re-rank of the bounded shortlist
    val reranked = short
      .join(v, Seq("vec_id"))
      .join(probeDf.select(col("probe_id"), col("pe")), Seq("probe_id"))
      .withColumn("cos", VectorColumns.cosine(col("pe").cast("array<double>"),
        col("emb")))
    topkPerProbe(reranked, 10)
  }

  private[graft] val NumTables = 4
  private[graft] val BitsPerTable = 6

  /** Mean-occupancy target for the PAIRS lane's adaptive signature
    * width: bits grow with the corpus so that n / 2^bits stays ≤ this
    * — the mechanism that keeps within-bucket pair volume O(n), not
    * O(n²/2^bits) at fixed bits. */
  private[graft] val PairsTargetOcc = 32
  /** Hard per-(table, signature) occupancy ceiling for the pairs
    * lane (≈ 6× the adaptive mean): a skewed bucket of size m would
    * contribute m²/2 candidate pairs; members of a dropped bucket
    * still meet in their other, better-spread tables. Dropped mass is
    * ledgered by [[embeddingLshAudit]] exactly like the minhash
    * lane's [[graft.operators.Dedup.BucketCap]] audit. */
  private[graft] val EmbBucketCap = 200

  private val countCache =
    scala.collection.concurrent.TrieMap.empty[String, Long]
  /** Memoized corpus count (parquet metadata count — no scan); the
    * adaptive signature width is a pure function of it, so the oracle
    * renderer can replay the identical width. */
  private[graft] def corpusCount(spark: SparkSession, dir: String): Long =
    countCache.getOrElseUpdate(dir, vecs(spark, dir).count())

  /** Adaptive bits for the pairs lane: smallest width ≥ 6 with
    * n / 2^bits ≤ [[PairsTargetOcc]]. n ≤ 2048 → 6 (the fixed width
    * the top-k lane uses), so small-SF outputs are unchanged; at 10×
    * data the width widens and the lane stays linear. The former 16
    * cap (the literal-tree plan-size bound — mean occupancy measured
    * 61 vs the 32 target at 4M vectors, r15) is LIFTED: the
    * signature is a compiled plan-referenced kernel now, so the
    * occupancy law holds to the Int-packing limit of 30 bits
    * (34 G vectors at occupancy 32 — past any single-corpus size). */
  private[graft] def pairsBits(n: Long): Int = {
    var b = BitsPerTable
    while (b < 30 && (n >> b) > PairsTargetOcc) b += 1
    b
  }

  /** Deterministic pseudo-random unit-free hyperplanes (LCG over the
    * (table, bit, dim) index — reproducible across runs/executors). */
  private[graft] def hyperplane(table: Int, bit: Int, dim: Int): Array[Double] = {
    var state = (table * 1315423911L + bit * 2654435761L + 97531L) & 0x7fffffffffffffffL
    Array.fill(dim) {
      state = state * 6364136223846793005L + 1442695040888963407L
      // top 53 bits → uniform in [0,1) → [-1,1)
      ((state >>> 11) * (1.0 / (1L << 53))) * 2.0 - 1.0
    }
  }

  /** Bucket signature for one table: sign bits of `bits` hyperplane
    * dot products, packed into an int. The plane matrix rides a PLAN
    * REFERENCE ([[graft.expressions.HyperplaneSigExpr]] — the
    * `NearestCellsExpr` pattern), not an O(bits·dim) literal tree,
    * so the adaptive width is no longer plan-size-bounded; the dots
    * and nan-safe sign test are term-for-term the literal
    * formulation, so signatures and oracles are unchanged. */
  private def signature(emb: Column, table: Int, dim: Int,
      bits: Int = BitsPerTable): Column =
    VectorColumns.hyperplaneSig(emb,
      Array.tabulate(bits)(bit => hyperplane(table, bit, dim)))

  /** The pairs lane's bucket table: every vector exploded to
    * `NumTables` (t, sig) memberships at the ADAPTIVE width for this
    * corpus size, each row carrying its bucket's occupancy (one
    * window count keyed exactly like the downstream self-join, so the
    * exchange is reused, not repeated). */
  private[graft] def pairBuckets(spark: SparkSession, dir: String): DataFrame =
    pairBucketsOf(vecs(spark, dir), pairsBits(corpusCount(spark, dir)))

  private[graft] def pairBucketsOf(v: DataFrame, bits: Int): DataFrame = {
    val dim = 64
    val sigCols = (0 until NumTables).map(t =>
      struct(lit(t).as("t"), signature(col("emb"), t, dim, bits).as("sig")))
    v.select(col("vec_id"), col("emb"), explode(array(sigCols: _*)).as("b"))
      .select(col("vec_id"), col("emb"),
        col("b.t").as("t"), col("b.sig").as("sig"))
      .withColumn("bucket_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("t"), col("sig"))))
  }

  private[graft] def cappedPairsFrom(bucketed: DataFrame): DataFrame = {
    val capped = bucketed.filter(col("bucket_n") <= EmbBucketCap)
    capped.select(col("vec_id").as("id_a"), col("emb").as("ea"),
        col("t"), col("sig"))
      .join(capped.select(col("vec_id").as("id_b"), col("emb").as("eb"),
        col("t"), col("sig")), Seq("t", "sig"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "ea", "eb")
      .dropDuplicates("id_a", "id_b")
  }

  /** Random-hyperplane LSH near-dup PAIRS — the 100 TB path for
    * [[embeddingPairs]]: candidates come only from vectors sharing a
    * bucket in at least one table (`id_a < id_b`, deduplicated), then
    * the exact cosine filters them. Two mechanisms keep the candidate
    * volume O(n) as the corpus grows — raw bucket occupancy is O(n)
    * at fixed bits, so pair volume would otherwise be O(n²/2^bits):
    * the signature WIDTH adapts to corpus size ([[pairsBits]]: mean
    * occupancy ≤ [[PairsTargetOcc]]), and any residual hot bucket is
    * dropped at [[EmbBucketCap]] with its lost mass ledgered by
    * [[embeddingLshAudit]]. Recall vs the exact baseline is
    * spec-measured (SimilaritySpec). */
  def embeddingPairsLsh(spark: SparkSession, dir: String): DataFrame =
    cappedPairsFrom(pairBuckets(spark, dir))
      .withColumn("cosine", VectorColumns.cosine(col("ea"), col("eb")))
      .filter(col("cosine") >= 0.35)
      .select(col("id_a"), col("id_b"),
        quantize(col("cosine"), 4).as("cosine"))

  /** RECALL-vs-DROPPED-MASS audit for the pairs lane — the embedding
    * twin of [[graft.operators.Dedup.lshRecallAudit]]: exhaustive
    * exact truth pairs (cos ≥ 0.35) bucketed by cosine decile, the
    * capped LSH candidates left-joined in, per-decile recall, and the
    * dropped-bucket ledger (bucket count, memberships, estimated lost
    * pairs Σ m(m−1)/2) broadcast onto every row. The exhaustive truth
    * is the AUDIT's cost, not the operator's — run it on a sample at
    * production scale. */
  def embeddingLshAudit(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    // pinned: the cap filter and the dropped-mass agg both read it;
    // unpinned each re-runs the 4×bits hyperplane signature pass
    val bucketed = pairBuckets(spark, dir).localCheckpoint()
    val cand = cappedPairsFrom(bucketed)
      .select(col("id_a"), col("id_b"), lit(1).as("found"))
    val truth = v.select(col("vec_id").as("id_a"), col("emb").as("ea"))
      .join(v.select(col("vec_id").as("id_b"), col("emb").as("eb")),
        col("id_a") < col("id_b"))
      .withColumn("cos4",
        quantize(VectorColumns.cosine(col("ea"), col("eb")), 4))
      .filter(col("cos4") >= 0.35)
    decileRecall(truth, cand, Seq("id_a", "id_b"))
      .crossJoin(broadcast(droppedMass(bucketed)))
  }

  /** SAMPLED twin of [[embeddingLshAudit]] — the embedding side of
    * the probe-sampled governance mode (see
    * [[graft.operators.Dedup.lshRecallAuditSampled]]): exhaustive
    * truth restricted to (probe, partner) pairs where the probe is
    * in the deterministic md5-prefix sample (rate 1/16), candidates
    * restricted to probe-touching bucket pairs the same way.
    * `sample_rate`/`n_probes` ride every row; the dropped-bucket
    * ledger stays exact (O(n) accounting). Cuts the truth side from
    * n²/2 to n²/32 pair cosines — the knob that makes the audit
    * runnable at every ingest batch instead of quarterly. */
  def embeddingLshAuditSampled(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val bucketed = pairBuckets(spark, dir).localCheckpoint()
    val capped = bucketed.filter(col("bucket_n") <= EmbBucketCap)
    val cand = capped.filter(Dedup.auditSampled(col("vec_id")))
      .select(col("vec_id").as("probe_id"), col("t"), col("sig"))
      .join(capped.select(col("vec_id").as("id_b"), col("t"), col("sig")),
        Seq("t", "sig"))
      .filter(col("probe_id") =!= col("id_b"))
      .select("probe_id", "id_b").distinct()
      .withColumn("found", lit(1))
    val np = v.filter(Dedup.auditSampled(col("vec_id")))
      .agg(count(lit(1)).as("n_probes"))
    val truth = v.filter(Dedup.auditSampled(col("vec_id")))
      .select(col("vec_id").as("probe_id"), col("emb").as("ea"))
      .join(v.select(col("vec_id").as("id_b"), col("emb").as("eb")),
        col("probe_id") =!= col("id_b"))
      .withColumn("cos4",
        quantize(VectorColumns.cosine(col("ea"), col("eb")), 4))
      .filter(col("cos4") >= 0.35)
    decileRecall(truth, cand, Seq("probe_id", "id_b"))
      .withColumn("sample_rate", lit(Dedup.AuditSampleRate))
      .crossJoin(broadcast(np))
      .crossJoin(broadcast(droppedMass(bucketed)))
  }

  /** The embedding audits' per-decile table: `truth` pairs (with their
    * quantized `cos4`) left-joined on `pair` to the candidate pairs
    * `cand` (flagged `found`), bucketed by cosine decile. */
  private def decileRecall(truth: DataFrame, cand: DataFrame,
      pair: Seq[String]): DataFrame =
    truth.join(cand, pair, "left")
      .withColumn("bucket", least(floor(col("cos4") * 10), lit(9L)) / 10.0)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_true"),
        sum(coalesce(col("found"), lit(0))).cast("long").as("n_found"),
        quantize(sum(coalesce(col("found"), lit(0)))
          / count(lit(1)).cast("double"), 4).as("recall"))

  /** The embedding audits' one-row dropped-bucket ledger over the
    * pinned bucket table. */
  private def droppedMass(bucketed: DataFrame): DataFrame =
    bucketed.filter(col("bucket_n") > EmbBucketCap)
      .agg(count_distinct(struct(col("t"), col("sig")))
          .as("dropped_buckets"),
        count(lit(1)).as("dropped_memberships"),
        expr("coalesce(sum(bucket_n - 1), 0) div 2").as("est_dropped_pairs"))

  /** Probe sample for the SAMPLED ANN recall audit: two hex chars →
    * rate 1/256. The ANN truth side is brute force per probe (O(n)
    * each — the price of ground truth), so the probe-count knob is
    * the entire cost model and gets a tighter rate than the dedup
    * audits' 1/16. */
  private[graft] val AnnAuditSampleHex = "00"
  private[graft] val AnnAuditSampleRate = 1.0 / 256

  private def annAuditSampled(id: Column): Column =
    substring(md5(id.cast("string")), 1, AnnAuditSampleHex.length) ===
      AnnAuditSampleHex

  /** SAMPLED twin of [[annRecallAudit]]: instead of the fixed probe
    * ids (the bounded [[probeIds]] set — fine for an oracle fixture,
    * too small a draw for a
    * production census), probes come from the deterministic
    * md5-prefix sample at rate 1/256 — at any corpus size the audit
    * costs ~n²/256 cosine evaluations on the truth side and the
    * probe set is a fresh unbiased draw as the corpus grows. Same
    * per-probe output as the fixed audit plus the `sample_rate`
    * column. */
  def annRecallAuditSampled(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val probes = v.filter(annAuditSampled(col("vec_id")))
      .select(col("vec_id").as("probe_id"), col("emb").as("pe"))
    val bf = topkPerProbe(
      v.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
        .withColumn("cos", VectorColumns.cosine(col("pe"), col("emb"))), 10)
      .select(col("probe_id"), col("neighbor_id"),
        units(col("cosine"), 4).as("cos_u"))
    val dim = 64
    val sigCols = (0 until NumTables).map(t =>
      struct(lit(t).as("t"), signature(col("emb"), t, dim).as("sig")))
    val bucketed = v
      .select(col("vec_id"), col("emb"), explode(array(sigCols: _*)).as("b"))
      .select(col("vec_id"), col("emb"),
        col("b.t").as("t"), col("b.sig").as("sig"))
    val probeBuckets = bucketed.filter(annAuditSampled(col("vec_id")))
      .select(col("vec_id").as("probe_id"), col("emb").as("pe"),
        col("t"), col("sig"))
    val cands = bucketed.join(broadcast(probeBuckets), Seq("t", "sig"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("pe"), col("vec_id"), col("emb"))
      .dropDuplicates("probe_id", "vec_id")
    val lsh = topkPerProbe(
      cands.withColumn("cos", VectorColumns.cosine(col("pe"), col("emb"))), 10)
      .select(col("probe_id"), col("neighbor_id"),
        units(col("cosine"), 4).as("cos_u"))
    recallRollup(bf, lsh)
      .withColumn("sample_rate", lit(AnnAuditSampleRate))
  }

  /** Random-hyperplane LSH top-k — the 100 TB path. Each vector gets
    * `NumTables` bucket signatures (elementwise, in the scan stage);
    * probes meet corpus vectors through bucket equi-joins only, the
    * union of tables is deduplicated, and exact cosine ranks the
    * candidates. Recall tunes with tables × bits; candidate count per
    * probe is ~|bucket|·tables, never O(n). */
  def annLshTopk(spark: SparkSession, dir: String): DataFrame = {
    val dim = 64
    val v = vecs(spark, dir)
    val sigCols = (0 until NumTables).map(t =>
      struct(lit(t).as("t"), signature(col("emb"), t, dim).as("sig")))
    val bucketed = v
      .select(col("vec_id"), col("emb"), explode(array(sigCols: _*)).as("b"))
      .select(col("vec_id"), col("emb"),
        col("b.t").as("t"), col("b.sig").as("sig"))
    val probeBuckets = bucketed.filter(probeFilter(spark, dir))
      .select(col("vec_id").as("probe_id"), col("emb").as("pe"),
        col("t"), col("sig"))
    val cands = bucketed.join(broadcast(probeBuckets), Seq("t", "sig"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("pe"), col("vec_id"), col("emb"))
      .dropDuplicates("probe_id", "vec_id")
    topkPerProbe(
      cands.withColumn("cos", VectorColumns.cosine(col("pe"), col("emb"))), 10)
  }
}
