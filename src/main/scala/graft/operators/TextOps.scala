package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.TimeSeries.{quantize, units}

/** Text-analysis + exact-dedup operators over the `documents` corpus —
  * the LLM-training-pipeline surface (SURVEY §2 ops 23, 30-33).
  *
  * Everything here is built from codegen'd `functions._` primitives
  * (split / filter / array_* / md5) — no UDFs — so at 100 TB each op
  * is a single scan stage with whole-stage codegen, followed by at
  * most one hash aggregation on a high-cardinality key (the
  * fingerprint). Normalization is shared so dedup and fingerprint
  * agree on identity.
  */
object TextOps {

  /** Lowercase, trim, collapse runs of whitespace — the canonical
    * content identity used by dedup and fingerprinting. */
  def normalized(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  private def words(c: Column): Column = split(c, " ")

  /** Occurrences of exactly `w` among the tokens — the native
    * codegen'd kernel ([[graft.expressions.CountTokenExpr]]); the
    * `size(filter(...))` composition it replaces dispatched an
    * interpreted lambda per element and allocated a filtered array
    * per (row × marker word). */
  private def cnt(tokens: Column, w: String): Column =
    graft.expressions.TextColumns.countToken(tokens, w)

  /** Exact deduplication: hash-groupBy on the normalized-content
    * fingerprint; keep the smallest doc_id as the canonical survivor.
    * One shuffle on md5 (uniform 128-bit key — no skew by
    * construction); map-side partial agg collapses same-partition
    * dups before it. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(md5(normalized(col("text"))).as("fingerprint"), col("doc_id"))
      .groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("dup_count"))

  /** Per-source DUPLICATION report — the health dashboard on top of
    * [[dedupExact]]: for each source, how many documents it
    * contributes, how many distinct normalized contents, how many
    * documents are redundant copies, the largest duplicate group,
    * and the duplication rate. This is the number a curation run
    * reads FIRST (a source with 40% dup rate gets its crawler fixed,
    * not its corpus deduped harder), while [[dedupExact]] emits the
    * keeper decisions themselves. Within-source by design —
    * cross-source sharing is [[graft.operators.Dedup.sourceOverlap]]'s
    * contamination matrix.
    *
    * Exactness: counts are integers; the rate divides two exact
    * integers once and floor-quantizes.
    *
    * Shape at scale: same single md5 shuffle as [[dedupExact]]
    * (uniform 128-bit key, map-side partials collapse same-partition
    * copies), then the rollup to O(sources) rows. */
  def dedupReport(spark: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(spark, dir)
      .select(col("source"), md5(normalized(col("text"))).as("fp"))
      .groupBy(col("source"), col("fp"))
      .agg(count(lit(1)).as("cnt"))
    g.groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_docs"),
        count(lit(1)).as("n_unique"),
        (sum(col("cnt")) - count(lit(1))).as("n_dup_docs"),
        max(col("cnt")).as("max_group"),
        quantize((sum(col("cnt")) - count(lit(1))).cast("double")
          / sum(col("cnt")), 4).as("dup_rate"))
  }

  /** The language-marker lexicons shared by [[langId]] and
    * [[corpusClean]] — pluggable; this instance partitions the
    * synthetic corpus vocabulary so the argmax genuinely varies. */
  private[operators] val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "data", "fast", "small"),
    "de" -> Seq("window", "batch", "stream", "slow"),
    "fr" -> Seq("merge", "sort", "join", "line"),
    "es" -> Seq("spark", "query", "vector", "row"))

  /** Adds `score_<lang>` columns (marker occurrences in `toks`) and
    * the argmax `lang_pred`. Ties break by fixed lexicon order
    * (en > de > fr > es), encoded identically in the oracle's CASE
    * chain. */
  private def withLangScores(df: DataFrame): DataFrame = {
    val scored = markers.foldLeft(df) { case (d, (lang, ws)) =>
      d.withColumn(s"score_$lang",
        ws.map(w => cnt(col("toks"), w)).reduce(_ + _).cast("long"))
    }
    val Seq(en, de, fr, es) = markers.map(m => col(s"score_${m._1}"))
    scored.withColumn("lang_pred",
      when(en >= de && en >= fr && en >= es, "en")
        .when(de >= fr && de >= es, "de")
        .when(fr >= es, "fr")
        .otherwise("es"))
  }

  /** Marker-word language scoring + argmax. */
  def langId(spark: SparkSession, dir: String): DataFrame =
    withLangScores(Tables.documents(spark, dir)
        .select(col("doc_id"), words(normalized(col("text"))).as("toks")))
      .select("doc_id", "score_en", "score_de", "score_fr", "score_es", "lang_pred")

  /** LANG-ID CONFUSION census — the classifier-vs-metadata
    * reconciliation run before trusting either: every (declared
    * lang, predicted lang) cell with its count and its share of the
    * declared language. Off-diagonal mass is the actionable signal —
    * a source whose declared 'de' documents predict 'en' has a
    * metadata problem or a classifier gap, and both get triaged from
    * this one table. One scan (the [[langId]] scoring pass carries
    * the declared column along), one O(langs²) aggregation, one
    * windowed share over the tiny census. */
  def langIdConfusion(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
    Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(langId(spark, dir).select("doc_id", "lang_pred"), Seq("doc_id"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rate",
        round(col("n") / sum(col("n")).over(w).cast("double"), 4))
  }

  /** Declared-vs-predicted language DISAGREEMENT per source — the
    * upstream-metadata QC census beside the confusion matrix (the
    * matrix says WHICH languages confuse; this says WHICH SOURCE
    * ships wrong declarations — a crawl whose mismatch rate spikes
    * has a metadata pipeline bug, not a language shift): per source
    * the doc count, mismatch count and rate. Composition over
    * [[langId]] (oracle mirrors it); one broadcast-scale join on
    * doc_id and one (source) rollup. */
  def langMismatchBySource(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("lang"))
      .join(langId(spark, dir).select(col("doc_id"), col("lang_pred")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("lang") =!= col("lang_pred"), 1L).otherwise(0L))
          .as("n_mismatch"))
      .select(col("source"), col("n_docs"), col("n_mismatch"),
        quantize(col("n_mismatch").cast("double") / col("n_docs"), 4).as("mismatch_rate"))

  /** Quality scoring: token/stopword/digit ratios + a bounded
    * composite — the classic pre-training corpus filter signals. */
  def textQuality(spark: SparkSession, dir: String): DataFrame =
    textQualityOf(Tables.documents(spark, dir))

  /** [[textQuality]] over an arbitrary documents frame — also the
    * scoring stage of survivorship dedup, where it runs on the
    * cluster-member SLIVER, not the whole corpus. */
  private[graft] def textQualityOf(documents: DataFrame): DataFrame = {
    documents
      .withColumn("toks", words(normalized(col("text"))))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("stop_ratio",
        round((cnt(col("toks"), "the") + cnt(col("toks"), "a"))
          / col("n_tokens").cast("double"), 4))
      .withColumn("digit_ratio",
        round(length(regexp_replace(col("text"), "[^0-9]", ""))
          / col("n_chars").cast("double"), 4))
      .withColumn("mean_token_len",
        round((col("n_chars") - (col("n_tokens") - 1))
          / col("n_tokens").cast("double"), 4))
      .withColumn("quality_score",
        round(least(lit(1.0), col("n_tokens") / lit(100.0))
          * (lit(1.0) - col("stop_ratio")), 4))
      .select("doc_id", "n_tokens", "stop_ratio", "digit_ratio",
        "mean_token_len", "quality_score")
  }

  /** Rule names for [[qualityRules]] — one report row each, plus the
    * `any_rule` rollup. The oracle SQL mirrors the same names. */
  val qualityRuleNames: Seq[String] = Seq("too_few_tokens",
    "mean_token_len_out", "digit_heavy", "no_stopwords", "low_diversity")

  /** Documents with the per-doc counters the quality battery tests —
    * shared scan stage of [[qualityRules]] and [[qualityFunnel]]. */
  private def qualityRuleDocs(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", words(normalized(col("text"))))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("toks"))).cast("long"))
      .withColumn("n_digits",
        length(regexp_replace(col("text"), "[^0-9]", "")).cast("long"))
      .withColumn("n_stop",
        (cnt(col("toks"), "the") + cnt(col("toks"), "a")).cast("long"))

  /** The named rule predicates over [[qualityRuleDocs]] columns, in
    * [[qualityRuleNames]] order (= the funnel's stage order). */
  private def qualityRuleConds: Seq[(String, Column)] = {
    val meanLen = col("n_chars") - (col("n_tokens") - 1) // = mean*n_tokens
    val rules: Seq[(String, Column)] = Seq(
      "too_few_tokens"     -> (col("n_tokens") < 5),
      "mean_token_len_out" -> (meanLen < lit(3) * col("n_tokens") ||
        meanLen > lit(10) * col("n_tokens")),
      "digit_heavy"        -> (lit(5) * col("n_digits") > col("n_chars")),
      "no_stopwords"       -> (col("n_stop") === 0),
      "low_diversity"      -> (lit(10) * col("n_distinct") <
        lit(3) * col("n_tokens")))
    require(rules.map(_._1) == qualityRuleNames)
    rules
  }

  /** Rule-BASED quality filtering report — the Gopher/C4-style named
    * heuristic battery ([[textQuality]] scores continuously; curation
    * pipelines mostly gate on hard rules): per rule, how many
    * documents fail it, plus the `any_rule` rollup a filter would
    * drop. Thresholds compare CROSS-MULTIPLIED integers (`digits/chars
    * > 1/5` ⟺ `5·digits > chars`), so membership can never flip on a
    * float ulp — the [[graft.operators.Climate.gridContourBands]]
    * discipline applied to ratios. One elementwise scan (no explode, no join: token counts
    * via the codegen'd kernels), one 1-row aggregate, unpivoted
    * in-row to the report. Scaled-down thresholds for the synthetic
    * corpus (real Gopher gates: ≥50 words, mean len 3-10, ≥2
    * stopwords…). */
  def qualityRules(spark: SparkSession, dir: String): DataFrame = {
    val d = qualityRuleDocs(spark, dir)
    val rules = qualityRuleConds
    val agg = d.agg(
      count(lit(1)).as("n_docs"),
      (rules.map { case (n, c) =>
        sum(when(c, 1L).otherwise(0L)).as(s"f_$n")
      } :+ sum(when(rules.map(_._2).reduce(_ || _), 1L).otherwise(0L))
        .as("f_any_rule")): _*)
    agg.select(col("n_docs"),
      explode(array((qualityRuleNames :+ "any_rule").map { n =>
        struct(lit(n).as("rule"), col(s"f_$n").as("n_fail"))
      }: _*)).as("x"))
      .select(col("x.rule").as("rule"), col("x.n_fail").as("n_fail"),
        col("n_docs"),
        quantize(col("x.n_fail").cast("double") / col("n_docs"), 4).as("fail_rate"))
  }

  /** Sequential quality FUNNEL — the attrition ledger of a staged
    * curation gate ([[qualityRules]] counts each rule independently;
    * a real pipeline applies them in ORDER and a document stops at
    * its first failure, so the per-stage drop counts are what the
    * pipeline operator actually watches): per stage, how many
    * documents entered, how many that stage dropped, how many moved
    * on. Σ n_dropped + final n_out = corpus, by construction.
    *
    * Shape at scale: the same single elementwise scan as
    * [[qualityRules]] — the first-failing-stage index is one ordered
    * CASE over the integer counters, ONE 1-row aggregate counts each
    * stage's drops, and the cumulative n_in ladder is folded into
    * the literal report structs in-row (a window over the 5-row
    * report would be a second exchange for nothing). */
  def qualityFunnel(spark: SparkSession, dir: String): DataFrame = {
    val rules = qualityRuleConds
    val firstFail = rules.zipWithIndex
      .foldLeft(when(lit(false), 0)) { case (acc, ((_, c), i)) =>
        acc.when(c, i + 1) }
      .otherwise(0)
    val agg = qualityRuleDocs(spark, dir)
      .select(firstFail.as("ff"))
      .agg(count(lit(1)).as("n_docs"),
        rules.indices.map(i =>
          sum(when(col("ff") === i + 1, 1L).otherwise(0L)).as(s"f_$i")): _*)
    // n_in ladder: stage k enters with n_docs minus everything the
    // earlier stages dropped — plain Column arithmetic, no window
    val nIn = rules.indices.scanLeft(col("n_docs")) {
      case (prev, i) => prev - col(s"f_$i") }
    agg.select(explode(array(rules.zipWithIndex.map { case ((name, _), i) =>
        struct(lit(i + 1).as("stage"), lit(name).as("rule"),
          nIn(i).as("n_in"), col(s"f_$i").as("n_dropped"),
          nIn(i + 1).as("n_out"))
      }: _*)).as("x"))
      .select(col("x.stage").as("stage"), col("x.rule").as("rule"),
        col("x.n_in").as("n_in"), col("x.n_dropped").as("n_dropped"),
        col("x.n_out").as("n_out"),
        when(col("x.n_in") > 0,
          quantize(col("x.n_dropped").cast("double") / col("x.n_in"), 4)).as("drop_rate"))
  }

  /** Token counting: whitespace tokens, distinct tokens, regex word
    * tokens, and a BPE-ish subword estimate (~4 chars/token). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("toks", words(normalized(col("text"))))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_ws_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct_tokens"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long")
          .as("n_regex_tokens"),
        ceil(col("n_chars") / lit(4.0)).cast("long").as("est_bpe_tokens"))
  }

  /** TOKENIZER FERTILITY census — the per-language tokenizer-
    * efficiency audit run before committing a corpus to a tokenizer:
    * fertility (subword tokens per whitespace word) and bytes per
    * token tell you which languages the vocabulary under-serves (high
    * fertility = fragmented words = wasted context window and skewed
    * effective mixing weights; the `est_bpe_tokens` lane of
    * [[tokenCount]] rolled up to where the decision is made). All
    * counts are exact integer sums in one map-side-partial
    * aggregation over a single scan-stage pass (tokenize + regex +
    * byte length are elementwise); the two ratios divide exact longs
    * once. Output is O(languages). */
  def tokenizerFertility(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"),
        size(words(normalized(col("text")))).cast("long").as("nw"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).cast("long")
          .as("nt"),
        octet_length(col("text")).cast("long").as("nb"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nw")).as("ws_tokens"),
        sum(col("nt")).as("subword_tokens"),
        sum(col("nb")).as("text_bytes"))
      .withColumn("fertility",
        round(col("subword_tokens") / col("ws_tokens").cast("double"), 4))
      .withColumn("bytes_per_token",
        round(col("text_bytes") / col("subword_tokens").cast("double"), 4))

  /** Stratified corpus sampling with per-stratum rates — the corpus
    * rebalancing step of a training-data pipeline (downsample the
    * dominant strata, keep the rare ones). The selector is the first
    * two hex digits of `md5(doc_id)` compared against a per-stratum
    * cutoff: deterministic, reproducible across engines and runs, and
    * entirely elementwise — sampling adds ZERO shuffles at any scale.
    * Rates here: en ≈ 10%, de ≈ 30%, fr = 50%, es = 100%.
    *
    * The scoring column is PINNED in its projection with
    * [[graft.expressions.PlanColumns.noPushdown]]: Catalyst pushes a
    * filter through any all-deterministic projection by substituting
    * column references with their defining expressions, which here
    * inlines the whole tokenize-and-score tree into the Filter
    * condition — once per `lang_pred` reference, interpreted — and
    * the projection then scores everything AGAIN (the round-2 bench
    * pathology: 66 s vs 0.7 s for `langId` itself). Flagging the
    * expensive projected column keeps the filter ABOVE it, so each
    * document is scored exactly once and the filter compares the
    * materialized column. (Wrapping the filter condition itself does
    * NOT work: the Project-pushdown rule checks only the projection's
    * fields for determinism, not the predicate.) */
  def corpusSample(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = when(col("lang_pred") === "en", "19")
      .when(col("lang_pred") === "de", "4c")
      .when(col("lang_pred") === "fr", "7f")
      .otherwise("ff")
    langId(spark, dir)
      .select(col("doc_id"),
        graft.expressions.PlanColumns.noPushdown(col("lang_pred")).as("lang_pred"))
      .withColumn("sel", substring(md5(col("doc_id").cast("string")), 1, 2))
      .filter(col("sel") <= cutoff)
  }

  /** Deterministic train/val/test SPLIT report — the release step
    * after curation: every document lands in exactly one split by an
    * md5-prefix range over its id (the [[corpusSample]] selector — a
    * new document never moves existing assignments), ~90/5/5 by hex
    * thresholds. Entirely elementwise assignment + one rollup
    * aggregation on (split, source); zero extra shuffles at any
    * corpus size. */
  def corpusSplit(spark: SparkSession, dir: String): DataFrame = {
    val sel = substring(md5(col("doc_id").cast("string")), 1, 2)
    Tables.documents(spark, dir)
      .withColumn("split",
        when(sel < "e6", "train").when(sel < "f3", "val").otherwise("test"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
  }

  /** Deterministic training SHARD assignment + per-shard manifest —
    * the release artifact a large-scale training run reads before
    * touching data: every document lands in one of [[NShards]] shards
    * by the same stable md5-prefix rule as [[corpusSplit]] (a new
    * document never moves existing assignments, so shards are
    * APPEND-stable across corpus versions), and each shard's manifest
    * row carries its document/char mass plus the SOURCE-MIX entropy —
    * the number a curriculum/mixture scheduler needs to verify the
    * hash actually stratified sources evenly across shards.
    *
    * Entropy is exact-integer disciplined: per-(shard, source) counts
    * are integers, each nd·ln(nd) term is quantized to 1e-6 units
    * BEFORE the cross-source sum (a raw float sum's merge order is
    * engine-chosen), and H = ln(N) − Σᵤ/1e6/N divides once. Shape:
    * elementwise assignment in the scan, one (shard, source) agg with
    * map-side partials, one O(shards × sources) rollup — zero joins,
    * zero extra shuffles at any corpus size. */
  def corpusShardManifest(spark: SparkSession, dir: String): DataFrame = {
    val bySrc = Tables.documents(spark, dir)
      .select(
        (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % NShards).as("shard"),
        col("source"), col("n_chars"))
      .groupBy(col("shard"), col("source"))
      .agg(count(lit(1)).as("nd"), sum(col("n_chars")).as("nc"))
    bySrc.groupBy(col("shard"))
      .agg(sum(col("nd")).as("n_docs"), sum(col("nc")).as("n_chars"),
        count(lit(1)).as("n_sources"),
        sum(units(col("nd").cast("double") * log(col("nd").cast("double")), 6)).as("su"))
      .select(col("shard"), col("n_docs"), col("n_chars"), col("n_sources"),
        quantize(log(col("n_docs").cast("double"))
          - col("su").cast("double") / 1e6 / col("n_docs"), 4).as("src_entropy"))
  }

  /** Shard count of [[corpusShardManifest]] — a training-run constant
    * (the reference frame is the data-release shard convention, not a
    * tunable). */
  val NShards = 32

  /** Signal names of [[qualitySignalCorr]], in moment-index order. */
  val QualitySignals: Seq[String] = Seq("n_tokens", "stop_ratio",
    "digit_ratio", "mean_token_len", "quality_score")

  /** QUALITY-SIGNAL correlation matrix — the redundant-filter
    * governance table: two quality signals with |r| → 1 gate the
    * same documents, so one of them buys nothing (the filter-battery
    * pruning decision every curation pipeline revisits). Pairwise
    * Pearson over the [[textQuality]] signals, computed from ONE
    * aggregation pass: all 5 sums + 15 cross-moments are conditional
    * aggregates in a single reduce over the corpus — no signal
    * unpivot, no self-join, O(1) output rows at any corpus size.
    *
    * Exactness: ratios quantize to 1e-4-unit longs (token counts are
    * already integers), every moment is an exact integer sum, and
    * each r is one float division over sqrt'd exact operands.
    * Integer envelope: Σx² ≤ n·10⁸ for ratio signals and n·(max
    * tokens)² for counts — ANSI faults loudly far before 10¹⁸. */
  def qualitySignalCorr(spark: SparkSession, dir: String): DataFrame = {
    val q = textQuality(spark, dir).select(
      col("n_tokens").as("v0"),
      units(col("stop_ratio"), 4).as("v1"),
      units(col("digit_ratio"), 4).as("v2"),
      units(col("mean_token_len"), 4).as("v3"),
      units(col("quality_score"), 4).as("v4"))
    val aggs = (0 until 5).map(i => sum(col(s"v$i")).as(s"s$i")) ++
      (for { i <- 0 until 5; j <- i until 5 }
        yield sum(col(s"v$i") * col(s"v$j")).as(s"ss${i}_$j"))
    val m = q.agg(count(lit(1)).as("n"), aggs: _*)
    val pairStructs =
      for { i <- 0 until 5; j <- (i + 1) until 5 } yield {
        val num = (col("n") * col(s"ss${i}_$j")
          - col(s"s$i") * col(s"s$j")).cast("double")
        val denA = sqrt((col("n") * col(s"ss${i}_$i")
          - col(s"s$i") * col(s"s$i")).cast("double"))
        val denB = sqrt((col("n") * col(s"ss${j}_$j")
          - col(s"s$j") * col(s"s$j")).cast("double"))
        struct(lit(QualitySignals(i)).as("sig_a"),
          lit(QualitySignals(j)).as("sig_b"),
          when(denA > 0 && denB > 0,
            quantize(num / (denA * denB), 4)).as("r"))
      }
    m.select(col("n"), explode(array(pairStructs: _*)).as("p"))
      .select(col("p.sig_a").as("sig_a"), col("p.sig_b").as("sig_b"),
        col("n"), col("p.r").as("r"))
  }

  /** Curriculum TRAINING ORDER — the per-shard data-order artifact a
    * quality-curriculum loader consumes: inside each
    * [[corpusShardManifest]] shard, documents rank highest
    * [[textQuality]] score first (clean-data-first curricula) with a
    * deterministic doc_id tiebreak, and `cum_tokens` carries the
    * running token budget so a loader can resume mid-shard at any
    * token offset without rescanning. Shape: the quality scan is
    * elementwise, then ONE window exchange on the shard key carries
    * both the rank and the running sum (same sort, two frames) —
    * shards are hash-balanced so the window partitions are too. A
    * total order per shard is inherently one task's sort; that is
    * fine exactly because a shard must anyway be consumable by one
    * loader — if the corpus outgrows the shard size, the knob is
    * [[NShards]], which the manifest co-owns. */
  def corpusCurriculumOrder(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    textQuality(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .withColumn("shard",
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % NShards)
      .select(col("shard"), row_number().over(w).as("position"),
        col("doc_id"), col("quality_score"), col("n_tokens"),
        sum(col("n_tokens")).over(w.rowsBetween(
          Window.unboundedPreceding, Window.currentRow)).as("cum_tokens"))
  }

  /** LEAKAGE-SAFE train/val/test split — [[corpusSplit]]'s assignment
    * rule keyed by each document's near-dup CLUSTER anchor instead of
    * its own id: every member of a duplicate cluster hashes the same
    * anchor (the cluster's min doc_id), so near-identical documents
    * can never straddle train and eval — the split-time twin of
    * [[graft.operators.Dedup.decontaminate]]'s post-hoc check.
    * Unclustered docs anchor to themselves, so assignments equal
    * [[corpusSplit]]'s except on the duplicated sliver, and a new
    * document still never moves an existing assignment.
    *
    * Shape at scale: the cluster table is a SLIVER (only docs with a
    * verified near-dup) left-joined against the corpus — AQE picks
    * the broadcast build while it fits; assignment stays elementwise
    * on top, and the rollup is the same single (split, source)
    * aggregation as [[corpusSplit]]. */
  def corpusSplitSafe(spark: SparkSession, dir: String): DataFrame = {
    val clusters = Dedup.dedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val sel = substring(
      md5(coalesce(col("cluster_id"), col("doc_id")).cast("string")), 1, 2)
    Tables.documents(spark, dir)
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("split",
        when(sel < "e6", "train").when(sel < "f3", "val").otherwise("test"))
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_chars"))
  }

  /** RAG chunk window / stride (tokens): 64-token chunks every 48
    * tokens — 16 tokens of overlap so no sentence is ever split
    * without context on one side. private[graft] so the oracle SQL
    * interpolates the same constants. */
  private[graft] val RagWindow = 64
  private[graft] val RagStride = 48

  /** OVERLAPPING-WINDOW chunking — the retrieval-corpus prep twin of
    * the dedup pass's fixed chunks ([[graft.operators.Dedup]]
    * `dedup_chunks` cuts disjoint blocks to FIND duplication; this
    * cuts overlapping [[RagWindow]]-token windows every [[RagStride]]
    * tokens to BUILD an embedding/retrieval corpus, the standard
    * RAG-ingestion shape). Per chunk: position, token count, and the
    * md5 of its joined text (the identity retrieval indexes key on —
    * the text itself stays in the lake). Entirely elementwise: one
    * tokenize pass, one in-row `sequence` explode bounded by the
    * document's own length, slice+hash in the scan stage — zero
    * shuffles at any corpus size (the driver's hash-compare is the
    * only ordering consumer). Documents shorter than one stride
    * still emit their single (possibly short) chunk. */
  def ragChunks(spark: SparkSession, dir: String): DataFrame = {
    val W = RagWindow
    val S = RagStride
    Tables.spread(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), words(normalized(col("text"))).as("toks"))
      .withColumn("n_toks", size(col("toks")))
      // noPushdown (r17): keeps the tokenize out of the pre-shuffle
      // serial stage (shingleArrays pathology, same fix)
      .filter(graft.expressions.PlanColumns.noPushdown(col("n_toks") > 0))
      .select(col("doc_id"), col("toks"), col("n_toks"),
        explode(expr(s"sequence(0, cast((n_toks - 1) div $S as int))"))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        (col("chunk_idx") * S).cast("long").as("start_token"),
        least(lit(W), col("n_toks") - col("chunk_idx") * S).cast("long")
          .as("chunk_tokens"),
        md5(array_join(slice(col("toks"), col("chunk_idx") * S + 1, lit(W)),
          " ")).as("chunk_hash"))
  }

  /** Tokens per packed training sequence. */
  val packBudget = 2048

  /** Concat-and-split sequence packing — the batching step that turns
    * a curated corpus into fixed-length training sequences: documents
    * are concatenated in a deterministically SHUFFLED order (md5 of
    * the id — the same reshuffle-free selector as [[corpusSample]])
    * within hash shards, and the token stream is cut every
    * [[packBudget]] tokens; a document may straddle a cut (standard
    * GPT-style packing — no padding waste, unlike greedy
    * no-straddle bin packing, whose reset-on-overflow recurrence also
    * wouldn't distribute). Emits, per document: its shard, its
    * shuffled position, and the (sequence, offset) where it starts.
    *
    * Shape at scale: a column-pruned scan of `(doc_id, n_chars)` only
    * — packing never reads `text` — one hash shuffle on the shard
    * key, one per-shard sort of md5 keys, and a prefix sum. All
    * arithmetic is integral (token counts, integer division), so
    * every engine agrees bit-for-bit. Shard count is a constant 8
    * here; at 100 TB it scales with the cluster (each shard is one
    * training worker's stream). */
  def packSequences(spark: SparkSession, dir: String): DataFrame = {
    val w  = Window.partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.documents(spark, dir)
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        md5(col("doc_id").cast("string")).as("k"),
        ceil(col("n_chars") / lit(4.0)).cast("long").as("n_tokens"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .withColumn("start", sum(col("n_tokens")).over(wf) - col("n_tokens"))
      .select(col("doc_id"), col("shard"), col("pos"), col("n_tokens"),
        expr(s"start div $packBudget").as("seq_id"),
        (col("start") % packBudget).as("seq_off"))
  }

  /** Repetition + diversity quality signals per document — the
    * "repetitious text" filters of large-corpus curation (duplicate
    * n-gram fraction, most-common-n-gram fraction, token entropy):
    * heavily repeated boilerplate scores high dup/top ratios and low
    * entropy and gets culled before training.
    *
    * Shape at scale: every signal is per-document, so nothing needs
    * to leave its row — sort the token (resp. bigram) array and
    * fold the runs of equal grams with `aggregate`, tracking run
    * length, distinct count, max run, and Σc·ln(c) in one pass.
    * Entropy is the identity H = ln(N) − Σc·ln(c)/N over the run
    * lengths. That makes the whole operator ONE scan with ZERO
    * exchanges (the earlier explode→groupBy formulation shuffled two
    * (doc_id, gram)-sized streams plus a spreading repartition —
    * three exchanges over corpus-sized data for per-row answers).
    * The in-row sort is O(L log L) per document, strictly cheaper
    * than hashing the same L grams through an exchange. */
  def textRepetition(spark: SparkSession, dir: String): DataFrame =
    repetitionOf(Tables.documents(spark, dir))

  /** [[textRepetition]] over an arbitrary (doc_id, text) frame. */
  private[graft] def repetitionOf(docs: DataFrame): DataFrame = {
    // Run-length folds over the sorted gram arrays. Accumulator:
    // p = previous gram, r = current run length, d = distinct runs
    // closed so far, m = max closed-run length, s = Σ r·ln(r) over
    // closed runs; the finish lambda closes the final run. Ratios
    // divide exact integers, so they are engine-invariant; the
    // entropy sum is quantized (TimeSeries.quantize) as everywhere
    // else.
    val tokStats = expr(
      """aggregate(array_sort(toks),
        |  named_struct('p', cast(null as string), 'r', 0L, 's', 0D),
        |  (a, x) -> if(a.p <=> x,
        |    named_struct('p', x, 'r', a.r + 1L, 's', a.s),
        |    named_struct('p', x, 'r', 1L,
        |      's', a.s + if(a.r > 0L, cast(a.r as double) * ln(a.r), 0D))),
        |  a -> a.s + if(a.r > 0L, cast(a.r as double) * ln(a.r), 0D)
        |)""".stripMargin)
    // bigrams built elementwise from the token array (no positional
    // self-join): slice off the last token, pair each with its
    // successor via the transform index.
    val biStats = expr(
      """aggregate(
        |  array_sort(transform(slice(toks, 1, size(toks) - 1),
        |    (t, i) -> concat(t, ' ', element_at(toks, i + 2)))),
        |  named_struct('p', cast(null as string), 'r', 0L, 'd', 0L, 'm', 0L),
        |  (a, x) -> if(a.p <=> x,
        |    named_struct('p', x, 'r', a.r + 1L, 'd', a.d, 'm', a.m),
        |    named_struct('p', x, 'r', 1L,
        |      'd', a.d + if(a.r > 0L, 1L, 0L), 'm', greatest(a.m, a.r))),
        |  a -> named_struct('d', a.d + if(a.r > 0L, 1L, 0L),
        |                    'm', greatest(a.m, a.r))
        |)""".stripMargin)
    docs
      .select(col("doc_id"), words(normalized(col("text"))).as("toks"))
      // explode semantics of the replaced shape: a null/empty token
      // array contributed no rows, so the doc was absent entirely.
      // noPushdown (r17): without it the tokenize inlines into this
      // predicate and pushes below the spread exchange — the regex
      // then runs serially pre-shuffle and again up here (the
      // shingleArrays pathology, same fix).
      .filter(graft.expressions.PlanColumns.noPushdown(
        size(col("toks")) > 0))
      .withColumn("sumclnc", tokStats)
      .withColumn("bi", biStats)
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        quantize(log(size(col("toks")).cast("double"))
            - col("sumclnc") / size(col("toks")).cast("double"), 4).as("token_entropy"),
        // the replaced left join yielded NULLs for a bigram-less doc
        when(size(col("toks")) >= 2,
          (size(col("toks")) - 1).cast("long")).as("n_bigrams"),
        when(size(col("toks")) >= 2,
          quantize(lit(1.0) - col("bi.d").cast("double")
              / (size(col("toks")) - 1).cast("double"), 4)).as("dup_bigram_ratio"),
        when(size(col("toks")) >= 2,
          quantize(col("bi.m").cast("double")
              / (size(col("toks")) - 1).cast("double"), 4)).as("top_bigram_ratio"))
  }

  /** The composed corpus-curation pipeline in ONE plan — what a
    * C4-style cleaning run chains: tokenize once, score language +
    * quality, exact-dedup survivors only, then stratified downsample
    * per predicted language (en 38% / de 63% / fr 81% / es+zh 100%).
    * A user runs one call and gets the training-ready keep list.
    *
    * Shape at scale: one scan computes every per-doc signal
    * elementwise; the only shuffle is the keeper window on the md5
    * fingerprint (uniform high-cardinality key). The selection filter
    * sits ABOVE that window and references only materialized
    * attributes — Catalyst cannot substitute the scoring tree into it
    * through the window boundary (spec-asserted), so every document
    * is scored exactly once. */
  def corpusClean(spark: SparkSession, dir: String): DataFrame =
    corpusCleanOf(Tables.documents(spark, dir))

  /** [[corpusClean]] over an arbitrary (doc_id, text) frame. */
  private[graft] def corpusCleanOf(docs: DataFrame): DataFrame = {
    val scored = withLangScores(
      docs.select(col("doc_id"), normalized(col("text")).as("norm"))
        .withColumn("toks", words(col("norm"))))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      // floor-quantized quality (vs textQuality's round()): this one
      // feeds a >= threshold, where the engines' round() divergence
      // on .00005 boundaries would flip membership
      .withColumn("quality_score",
        quantize(least(lit(1.0), col("n_tokens") / lit(100.0))
          * (lit(1.0) - (cnt(col("toks"), "the") + cnt(col("toks"), "a"))
              / col("n_tokens").cast("double")), 4))
    val keeper = org.apache.spark.sql.expressions.Window
      .partitionBy(md5(col("norm")))
    scored
      .withColumn("keeper", min(col("doc_id")).over(keeper))
      .withColumn("sel", substring(md5(col("doc_id").cast("string")), 1, 2))
      .filter(col("doc_id") === col("keeper") &&
        col("quality_score") >= 0.25 &&
        col("sel") <= when(col("lang_pred") === "en", "60")
          .when(col("lang_pred") === "de", "a0")
          .when(col("lang_pred") === "fr", "d0")
          .otherwise("ff"))
      .select("doc_id", "lang_pred", "n_tokens", "quality_score")
  }

  /** Corpus vocabulary: the k most frequent tokens with a
    * deterministic (count desc, token asc) tiebreak — the counting
    * primitive under tokenizer/BPE-vocabulary construction and
    * stopword discovery. One explode → one hash aggregation on the
    * token (map-side partials collapse each partition's counts
    * first), then a bounded top-k planned as TakeOrderedAndProject —
    * per-task heaps, no global sort, O(k) driver merge at any corpus
    * size. */
  def vocabTopk(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(spark, dir), col("doc_id"))
      .select(explode(words(normalized(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(100)

  /** Zipf-fit rank depth — the fit reads exactly the top [[ZipfR]]
    * ranks, so the regression abscissae are the LITERAL sequence
    * 1..R and their centered weights are driver constants. */
  val ZipfR = 100

  /** Centered ln-rank weights (x_r − x̄)/Sxx of the Zipf OLS — pure
    * driver doubles rendered into both engines, so the slope is ONE
    * weighted sum of ln-frequencies (the y side), no per-key
    * regression state. */
  lazy val zipfWeights: Seq[(Int, Double)] = {
    val xs = (1 to ZipfR).map(r => math.log(r.toDouble))
    val xbar = xs.sum / ZipfR
    val sxx = xs.map(x => (x - xbar) * (x - xbar)).sum
    (1 to ZipfR).map(r => r -> ((xs(r - 1) - xbar) / sxx))
  }

  /** ZIPF EXPONENT per source — the vocabulary-shape statistic
    * (natural text follows rank-frequency slope ≈ −1; a source whose
    * slope collapses toward 0 is boilerplate/template spam, one that
    * steepens is vocabulary-starved): OLS of ln f on ln rank over
    * each source's top-[[ZipfR]] tokens. Because the ranks are BY
    * CONSTRUCTION the literal 1..R, the whole regression reduces to
    * Σ w_r · ln f_r with [[zipfWeights]] a broadcast literal — each
    * term quantizes to 1e-6 units before the cross-rank sum. Also
    * reports the top-R token-mass share (how much of the source the
    * head covers). Shape: one (source, token) count agg, one
    * per-source window rank (top-R filter), one bounded join against
    * the R-row literal, one rollup. */
  def vocabZipfFit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val counts = Tables.spread(Tables.documents(spark, dir), col("doc_id"))
      .select(col("source"), explode(words(normalized(col("text")))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint() // the total-mass side and the ranked side both read it
    val w = Window.partitionBy(col("source"))
      .orderBy(col("n").desc, col("token").asc)
    val top = counts
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= ZipfR)
      .join(broadcast(zipfWeights.toDF("rank", "wt")), Seq("rank"))
    val fit = top.groupBy(col("source"))
      .agg(count(lit(1)).as("n_ranks"),
        sum(units(col("wt") * log(col("n").cast("double")), 6)).as("su"),
        sum(col("n")).as("head_mass"))
    val totals = counts.groupBy(col("source"))
      .agg(sum(col("n")).as("total_mass"),
        count(lit(1)).as("vocab_size"))
    totals.join(broadcast(fit), Seq("source"), "left")
      .select(col("source"), col("vocab_size"), col("total_mass"),
        col("n_ranks"),
        quantize(col("su").cast("double") / 1e6, 4)
          .as("zipf_slope"),
        quantize(col("head_mass").cast("double") / col("total_mass"), 4).as("head_share"))
  }

  /** SpaceSaving sketch capacity for [[vocabHeavyHitters]]. */
  private[graft] val HeavyHitterCap = 512

  /** SKETCHED frequent tokens — [[vocabTopk]]'s SpaceSaving twin
    * ([[graft.expressions.SpaceSavingAgg]]), completing the sketch
    * trio (HLL cardinality, GK quantiles, SS frequent items): the
    * exact plan's full (token, count) hash-aggregate state is
    * O(vocabulary) — fine for words, ruinous for n-gram or URL
    * streams whose key space is data-sized — while the sketch holds
    * O(capacity) state per partition AND through the merge tree, at
    * the cost of (est, err) bounds instead of exact counts. Top-20
    * reported; the spec asserts the classical guarantees against the
    * exact twin (est ≥ true ≥ est−err; every true top-20 surfaced at
    * this capacity/skew). */
  def vocabHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(spark, dir), col("doc_id"))
      .select(explode(words(normalized(col("text")))).as("token"))
      .agg(graft.expressions.SpaceSavingAgg
        .spaceSaving(col("token"), HeavyHitterCap).as("sk"))
      .select(posexplode(slice(col("sk"), 1, 20)))
      .select((col("pos") + 1).as("rank"), col("col.item").as("token"),
        col("col.est").as("est_count"), col("col.err").as("max_err"))

  /** Adjacent CHARACTER-PAIR counts over the corpus vocabulary — the
    * inner loop of BPE tokenizer training (count all symbol pairs,
    * merge the most frequent, repeat): the first, corpus-wide
    * iteration exposed as an operator, top-50 pairs weighted by word
    * frequency. A training-data pipeline runs exactly this to seed a
    * vocabulary or audit tokenizer fit against a new corpus.
    *
    * Shape at scale: the corpus collapses to its (token, n_occ)
    * VOCABULARY first — the classic BPE preprocessing, one token-
    * keyed map-side-partial agg over the explode — and the pair
    * fan-out (ONE in-row `transform` over substring windows) runs on
    * vocab rows, not corpus tokens: a word repeated a million times
    * contributes its pairs once, weighted by its exact integer count.
    * The final top-50 is a bounded TakeOrdered (per-task heaps),
    * never a global sort. All counts exact longs. */
  def bpePairCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.spread(Tables.documents(spark, dir), col("doc_id"))
      .select(explode(words(normalized(col("text")))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .groupBy(col("tok")).agg(count(lit(1)).as("n_occ"))
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"), col("n_occ"))
      .groupBy(col("pair")).agg(sum(col("n_occ")).as("n"))
      .orderBy(col("n").desc, col("pair").asc)
      .limit(50)

  /** Number of BPE merge rounds and the vocab cap for
    * [[bpeTrainMerges]]. */
  private[graft] val BpeMergeSteps = 10
  private[graft] val BpeVocabCap = 4096

  /** BPE MERGE TRAINING — the first [[BpeMergeSteps]] actual
    * byte-pair-encoding merges, learned the way SentencePiece/GPT-2
    * training does: iterate (count adjacent symbol pairs → take the
    * most frequent → merge all its non-overlapping occurrences
    * left-to-right), with [[bpePairCounts]] being exactly round 1's
    * counting stage. The scale insight BPE training rides is that
    * everything happens on the WORD-FREQUENCY table, never the
    * corpus: a word repeated a million times carries its symbol
    * sequence once with an exact integer weight, so each round is
    * one explode+agg over an O(vocab) table. The table is further
    * capped to the [[BpeVocabCap]] most frequent words (deterministic
    * (count desc, word) TakeOrdered — the bounded-fit-sample seam of
    * the IVF/PQ family), which is how production tokenizer trainers
    * bound memory too.
    *
    * The merge LOOP runs driver-local over the COLLECTED capped
    * vocab (r17): the table is ≤ [[BpeVocabCap]] (word, count) rows
    * BY CONSTRUCTION — orchestration-sized, the exact bounded-fit
    * collect contract of [[graft.operators.Similarity]]'s `lloyd`
    * sample — so ten rounds of pair-count → argmax → merge are
    * microseconds of driver arithmetic instead of ten
    * (head + localCheckpoint) Spark-job pairs over a 4096-row frame
    * (measured: 35 jobs → 3, 2.4 s → ~0.7 s at sf0.1; the corpus
    * pass — the only part that scales — is unchanged: one tokenize +
    * count + TakeOrdered). Semantics are replicated bit-for-bit:
    * pair counts are exact long sums; the argmax tie-break compares
    * UTF-8 BYTES (UTF8String's binary order, what the former
    * `orderBy(l, r)` compared); the merge is the same non-overlapping
    * left-to-right fold. Oracle: the loop unrolled into chained
    * MATERIALIZED CTE rounds ([[graft.SparkEntry]]'s
    * `bpeMergeOracle`), using the closed form of the fold — l≠r
    * adjacencies can never overlap so all merge; l=r runs merge at
    * even offsets from the run start (gaps-and-islands window); the
    * spec additionally recomputes the greedy merges independently. */
  def bpeTrainMerges(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vocab0 = Tables.spread(Tables.documents(spark, dir), col("doc_id"))
      .select(explode(words(normalized(col("text")))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .groupBy(col("tok")).agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("tok").asc).limit(BpeVocabCap)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // split("") twin of the former `split(col("tok"), "")` column:
    // same Java regex split, no trailing-empty handling needed for a
    // zero-width pattern
    var vocab: Array[(Array[String], Long)] =
      vocab0.map { case (tok, n) => (tok.split(""), n) }
    // UTF-8 byte order — what Spark's string orderBy (UTF8String
    // binary comparison) ordered; Java String.compareTo (UTF-16
    // units) differs above the BMP
    def u8lt(a: String, b: String): Boolean =
      java.util.Arrays.compareUnsigned(
        a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        b.getBytes(java.nio.charset.StandardCharsets.UTF_8)) < 0
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    for (step <- 1 to BpeMergeSteps) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      vocab.foreach { case (syms, n) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + n
          i += 1
        }
      }
      // the in-plan formulation head()'d an empty frame here — refuse
      // by name instead of emitting an empty-string merge
      require(counts.nonEmpty,
        s"bpe: no adjacent symbol pairs left at step $step")
      val (l, r, n) = counts.foldLeft(("", "", Long.MinValue)) {
        case (best @ (bl, br, bn), ((cl, cr), cn)) =>
          if (cn > bn || (cn == bn && (u8lt(cl, bl) ||
            (cl == bl && u8lt(cr, br))))) (cl, cr, cn) else best
      }
      merges += ((step, l, r, n))
      // non-overlapping left-to-right merge over each word's bounded
      // symbol array — the same fold the in-plan `aggregate` ran
      vocab = vocab.map { case (syms, nOcc) =>
        val acc = scala.collection.mutable.ArrayBuffer.empty[String]
        syms.foreach { s =>
          if (acc.nonEmpty && acc.last == l && s == r)
            acc(acc.length - 1) = l + r
          else acc += s
        }
        (acc.toArray, nOcc)
      }
    }
    merges.toSeq.toDF("step", "left", "right", "n_occ")
  }

  /** Equal-width doc-id buckets in [[vocabGrowth]] — FIXED, so the
    * growth curve is O(1) rows at any corpus size. */
  private[graft] val GrowthBuckets = 32L

  /** VOCABULARY GROWTH (Heaps-law) curve — cumulative distinct-token
    * count vs cumulative token count in doc-id order: the dataset-
    * scaling diagnostic (is the corpus still contributing new
    * vocabulary, or has it saturated into duplication?). Pairs with
    * [[vocabCoverage]]: coverage asks how much a FIXED vocab covers;
    * growth asks how fast the vocab itself grows.
    *
    * Scale design: docs land in [[GrowthBuckets]] equal-width doc-id
    * buckets, so the curve is ≤32 rows regardless of corpus size and
    * the cumulative window runs single-partition over a BOUNDED
    * table (the [[vocabCoverage]] 100-row argument, not a corpus
    * window). The corpus tokenizes ONCE into (bucket, token) counts
    * — one shuffle; a token's FIRST bucket is a min over that
    * aggregated vocab-sized table (pinned — both the per-bucket
    * totals and the first-bucket pass read it), and new-vocab-per-
    * bucket collapses it to curve rows. The doc tally re-reads only
    * the pruned doc_id column — metadata-cheap, never a second
    * tokenize. Every output is an exact integer. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val bt = Tables.spread(docs, col("doc_id"))
      .crossJoin(broadcast(mx))
      .select(expr(s"doc_id * $GrowthBuckets div (mx + 1)").as("bucket"),
        explode(words(normalized(col("text")))).as("tok"))
      .groupBy(col("bucket"), col("tok")).agg(count(lit(1)).as("n_occ"))
      .localCheckpoint()
    val perBucket = bt.groupBy(col("bucket"))
      .agg(sum(col("n_occ")).as("n_tok"))
    val newVocab = bt.groupBy(col("tok")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new"))
    val nDocs = docs.crossJoin(broadcast(mx))
      .select(expr(s"doc_id * $GrowthBuckets div (mx + 1)").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(newVocab, Seq("bucket"), "left")
      .join(nDocs, Seq("bucket"))
      .select(col("bucket"), col("n_docs"),
        sum(col("n_tok")).over(w).cast("long").as("cum_tokens"),
        sum(coalesce(col("n_new"), lit(0L))).over(w).cast("long")
          .as("cum_vocab"))
  }

  /** Per-document N-GRAM NOVELTY — the fraction of a doc's distinct
    * word trigrams whose FIRST corpus occurrence (by doc_id, the
    * ingestion order) is this document. The curation signal behind
    * "is this late crawl adding anything": boilerplate recombinations
    * and template farms score near 0, genuinely new material near 1
    * (the document-level sibling of [[vocabGrowth]]'s corpus curve;
    * the trigram grain matches the dedup family's shingles).
    *
    * Shape at scale: ONE codegen regex pass extracts distinct
    * trigrams per doc (the [[graft.operators.Dedup]] zero-width-
    * lookahead trick), localCheckpoint'd so the two downstream
    * aggregations don't re-tokenize; first-occurrence is a min()
    * groupBy on the trigram key (map-side partial), and both rollups
    * are doc-keyed aggs of already-collapsed rows. No window over the
    * corpus, no join wider than O(docs). */
  def ngramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val tgd = Tables.spread(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), explode(graft.expressions.TextColumns.shingles(
        normalized(col("text")), 3)).as("tg"))
      .localCheckpoint()
    val nNew = tgd.groupBy(col("tg")).agg(min(col("doc_id")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_new"))
    val nTg = tgd.groupBy(col("doc_id")).agg(count(lit(1)).as("n_tg"))
    nTg.join(nNew, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tg"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        round(coalesce(col("n_new"), lit(0L)) / col("n_tg").cast("double"), 4)
          .as("novelty"))
  }

  /** Doc-length histogram bin edges for [[lengthDriftPsi]] (n_chars
    * upper bounds; last bin open) — literals shared with the oracle. */
  private[graft] val PsiBins: Seq[Long] = Seq(64, 128, 256, 512, 1024, 2048, 4096)

  /** LENGTH-DISTRIBUTION DRIFT by population stability index — the
    * ingestion-monitoring metric ("did the crawl's document-shape
    * change mid-stream?" — a pipeline regression that dedup rates and
    * vocabulary curves miss when content stays unique but truncation/
    * concatenation bugs reshape it): per fixed doc-id bucket, the PSI
    * of its n_chars histogram against the FIRST bucket's, with
    * add-one smoothing so empty bins stay finite;
    * PSI = Σ_bins (p−q)·ln(p/q), the industry drift gauge (>0.2 =
    * investigate, >0.25 = shifted — reported, not enforced).
    *
    * Shape at scale: a column-pruned (doc_id, n_chars) scan — text is
    * never read — one (bucket, bin) aggregation with map-side
    * partials, the reference bucket broadcast back over the O(32·8)
    * histogram table, and the PSI fold is an aggregation over ≤8 rows
    * per bucket. Engine invariance: counts are exact longs, smoothed
    * shares are exact integer ratios, each bin's ln() term is floor-
    * quantized at 1e-8 before the (exact) sum, PSI reported at 1e-6. */
  def lengthDriftPsi(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    val bin = PsiBins.zipWithIndex.foldRight(lit(PsiBins.size): Column) {
      case ((edge, i), rest) => when(col("n_chars") <= edge, i).otherwise(rest)
    }
    val hist = docs.crossJoin(broadcast(mx))
      .select(expr(s"doc_id * $GrowthBuckets div (mx + 1)").as("bucket"),
        bin.as("bin"))
      .groupBy(col("bucket"), col("bin")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val nBins = PsiBins.size + 1
    val ref = hist.filter(col("bucket") === 0)
      .select(col("bin"), col("c").as("c_ref"))
    val refN = ref.agg(sum(col("c_ref")).as("n_ref"))
    val perBucket = hist.groupBy(col("bucket")).agg(sum(col("c")).as("n"))
    // dense (bucket × bin) grid so absent bins still contribute their
    // smoothed share — the 32×8 frame is broadcast-sized at any corpus
    val grid = perBucket.crossJoin(
      broadcast(spark.range(nBins).select(col("id").cast("int").as("bin"))))
    grid
      .join(hist, Seq("bucket", "bin"), "left")
      .join(broadcast(ref), Seq("bin"), "left")
      .crossJoin(broadcast(refN))
      .withColumn("p", (coalesce(col("c"), lit(0L)) + 1).cast("double")
        / (col("n") + nBins).cast("double"))
      .withColumn("q", (coalesce(col("c_ref"), lit(0L)) + 1).cast("double")
        / (col("n_ref") + nBins).cast("double"))
      .withColumn("term",
        floor((col("p") - col("q")) * log(col("p") / col("q")) * 1e8 + 0.5))
      .groupBy(col("bucket"))
      .agg(max(col("n")).as("n_docs"),
        (sum(col("term")) / 1e8).as("psi_raw"))
      .select(col("bucket"), col("n_docs").cast("long").as("n_docs"),
        quantize(col("psi_raw"), 6).as("psi"),
        when(col("psi_raw") > 0.25, "shifted")
          .when(col("psi_raw") > 0.1, "drifting")
          .otherwise("stable").as("verdict"))
  }

  /** DUPLICATION-GROWTH curve — cumulative exact-dup rate vs corpus
    * position in ingestion order: the dedup-family sibling of
    * [[vocabGrowth]] ("is the marginal crawl still adding unique
    * content, or mostly re-fetching what we have?"), and the curve
    * that decides when to STOP a crawl. Per fixed doc-id bucket:
    * docs landed, fingerprints FIRST seen there, and the running
    * duplicate rate 1 − distinct/total.
    *
    * Shape at scale: the [[vocabGrowth]] discipline — one fingerprint
    * scan, first-occurrence = min(bucket) per fingerprint (map-side
    * partial), and the cumulative window runs single-partition over
    * the FIXED ≤[[GrowthBuckets]] rows at any corpus size. All
    * counts exact longs; the rate divides two exact longs once. */
  def dupGrowth(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val mx = docs.agg(max(col("doc_id")).as("mx"))
    // pinned (the vocabGrowth bt precedent): both rollups and the
    // first-occurrence pass read it; unpinned, each branch re-ran the
    // scan+md5 over the corpus (plan-audited: 4 scans → 2)
    val fp = docs.crossJoin(broadcast(mx))
      .select(expr(s"doc_id * $GrowthBuckets div (mx + 1)").as("bucket"),
        md5(normalized(col("text"))).as("fp"))
      .localCheckpoint()
    val perBucket = fp.groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
    val firsts = fp.groupBy(col("fp")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_first"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket.join(firsts, Seq("bucket"), "left")
      .select(col("bucket"), col("n_docs"),
        coalesce(col("n_first"), lit(0L)).as("n_first"),
        sum(col("n_docs")).over(w).cast("long").as("cum_docs"),
        sum(coalesce(col("n_first"), lit(0L))).over(w).cast("long")
          .as("cum_unique"))
      .withColumn("dup_rate",
        round(lit(1.0) - col("cum_unique") / col("cum_docs").cast("double"), 4))
  }

  /** Vocabulary COVERAGE / OOV-rate report — the tokenizer-design
    * primitive: what fraction of the running token stream does a
    * top-K vocabulary cover, at several K, in one pass. The vocab
    * ranking is the bounded [[vocabTopk]] plan (TakeOrdered — per-task
    * k-row heaps, never a global sort); coverage then needs only the
    * 100-row ranked table and one total-count scalar: cumulative sums
    * over the RANKED VOCAB (100 rows — window on a bounded table, not
    * the corpus) evaluated at each K. Counts are exact integers; the
    * coverage ratio divides two exact longs. */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.spread(Tables.documents(spark, dir), col("doc_id"))
      .select(explode(words(normalized(col("text")))).as("token"))
    val total = toks.agg(count(lit(1)).as("total_tokens"))
    val ranked = toks.groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(100)
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("token").asc)))
      .withColumn("cum", sum(col("n")).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("token").asc)
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.currentRow)))
    import spark.implicits._
    val ks = Seq(5, 10, 25).toDF("k")
    ranked.join(broadcast(ks), col("rk") === col("k"))
      .crossJoin(broadcast(total))
      .select(col("k"),
        col("cum").cast("long").as("covered_tokens"),
        col("total_tokens"),
        quantize(col("cum").cast("double") / col("total_tokens"), 4)
          .as("coverage"))
  }

  /** Corpus report card: doc/token/char statistics at every
    * (lang × source) granularity IN ONE PASS via CUBE grouping sets —
    * per-stratum rows, per-lang and per-source marginals, and the
    * grand total, without re-scanning per dimension. Spark expands
    * the cube in the aggregation (map-side partials per grouping
    * set); subtotal rows surface as 'ALL'. Counts and sums are exact
    * integers, so the result is engine-invariant with no float
    * convention needed. */
  def corpusStats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("n_tokens", size(words(normalized(col("text")))).cast("long"))
      .cube(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        max(col("n_chars")).as("max_chars"))
      .select(coalesce(col("lang"), lit("ALL")).as("lang"),
        coalesce(col("source"), lit("ALL")).as("source"),
        col("n_docs"), col("n_tokens"), col("max_chars"))

  /** Target share of the token budget per source — the data-mixing
    * recipe of a training run (the "40% web / 30% books / …" table).
    * A literal, like the calibration tables: the SAME Seq generates
    * the DuckDB VALUES so both engines share every weight
    * bit-for-bit. Sources not listed get weight 0 (excluded). */
  val mixWeights: Seq[(String, Double)] = Seq(
    "src0" -> 0.2, "src1" -> 0.15, "src2" -> 0.15, "src3" -> 0.1,
    "src4" -> 0.1, "src5" -> 0.08, "src6" -> 0.08, "src7" -> 0.06,
    "src8" -> 0.05, "src9" -> 0.03)

  /** Fraction of the corpus' total tokens the mixed dataset targets. */
  val mixBudgetShare: Double = 0.5

  /** Per-doc mixing attributes: one elementwise tokenize pass. */
  private def mixBase(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(words(normalized(col("text")))).cast("long").as("n_tok"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long").as("bucket"))

  /** The mixing FIT: materialized (source × bucket) histogram plus
    * the per-source rate/cut table derived from it. */
  private def mixFit(base: DataFrame): (DataFrame, DataFrame) = {
    import base.sparkSession.implicits._
    val w = mixWeights.toDF("source", "weight")
    val hist = base
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))
      .localCheckpoint()
    val avail = hist.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tok")).as("avail_tokens"))
    val total = avail.agg(sum(col("avail_tokens")).as("total_tokens"))
    val rates = avail.join(broadcast(w), Seq("source"))
      .crossJoin(broadcast(total))
      .withColumn("target_tokens",
        floor(col("total_tokens").cast("double") * lit(mixBudgetShare)
          * col("weight")).cast("long"))
      .withColumn("rate",
        least(lit(1.0), col("target_tokens").cast("double") / col("avail_tokens")))
      .withColumn("cut", floor(col("rate") * lit(65536.0)).cast("long"))
    (hist, rates)
  }

  /** TEMPERATURE-derived source mixture — [[corpusMix]] with the
    * weights computed FROM availability instead of declared:
    * w_s = avail_s^α / Σ avail_t^α at α = ½ (the multilingual-
    * sampling standard — upweights rare sources, damps dominant
    * ones; α = ½ renders as one `sqrt`, sidestepping cross-engine
    * `pow`). Each √avail quantizes to 1e-6 units BEFORE the
    * cross-source sum (the float fold order rule), so the weight
    * denominator is an exact integer. Everything downstream —
    * md5-bucket admission, cut table, kept accounting — is the
    * identical machinery, so declared-weight and temperature
    * mixes are directly comparable reports. */
  def corpusMixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val hist = mixBase(spark, dir)
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tok"))
      .localCheckpoint()
    val avail = hist.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tok")).as("avail_tokens"))
      .withColumn("su",
        units(sqrt(col("avail_tokens").cast("double")), 6))
    val tot = avail.agg(sum(col("su")).as("sum_su"),
      sum(col("avail_tokens")).as("total_tokens"))
    val rates = avail.crossJoin(broadcast(tot))
      .withColumn("weight", col("su").cast("double") / col("sum_su"))
      .withColumn("target_tokens",
        floor(col("total_tokens").cast("double") * lit(mixBudgetShare)
          * col("weight")).cast("long"))
      .withColumn("rate",
        least(lit(1.0), col("target_tokens").cast("double") / col("avail_tokens")))
      .withColumn("cut", floor(col("rate") * lit(65536.0)).cast("long"))
    val kept = hist.join(broadcast(rates.select("source", "cut")), Seq("source"))
      .filter(col("bucket") < col("cut"))
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("kept_docs"),
        sum(col("n_tok")).as("kept_tokens"))
    rates.join(broadcast(kept), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("avail_tokens"),
        col("weight"), col("target_tokens"), col("rate"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
  }

  /** Token-budgeted SOURCE MIXING — the step that turns a mixing
    * recipe (per-source weights × a total token budget) into concrete
    * per-source admission rates and realized token counts: for each
    * source, `target = budget · weight`, `rate = min(1, target /
    * available)`, and a document is admitted iff its md5 selector
    * bucket falls below `floor(rate · 65536)` — the deterministic,
    * engine-invariant analogue of per-source Bernoulli sampling. The
    * budget denominator is the WHOLE corpus' token count: unlisted
    * sources still contribute tokens to the denominator but are
    * excluded from admission (weight 0), exactly like dropping a
    * low-quality source from a recipe.
    *
    * Shape at scale: ONE tokenize pass builds a (source × 16-bit
    * selector bucket) HISTOGRAM — bounded at 65536·|sources| rows no
    * matter the corpus size — which is `localCheckpoint`ed so the
    * rate computation and the admitted-mass rollup both read the
    * materialized sketch instead of re-scanning the corpus (the
    * dedup-clusters precedent for cutting a reused intermediate's
    * lineage). Admission is quantized to 2^-16 of each source, so the
    * realized token mass is within 2^-16 of the target — and because
    * the cut is a bucket boundary, the admitted set is exactly
    * reproducible elementwise: the keep-list pass is one broadcast of
    * the 10-row cut table and zero shuffles.
    *
    * Output: one row per weighted source with available/target/kept
    * docs and tokens and the admission rate. */
  def corpusMix(spark: SparkSession, dir: String): DataFrame = {
    val (hist, rates) = mixFit(mixBase(spark, dir))
    val kept = hist.join(broadcast(rates.select("source", "cut")), Seq("source"))
      .filter(col("bucket") < col("cut"))
      .groupBy(col("source"))
      .agg(sum(col("n_docs")).as("kept_docs"),
        sum(col("n_tok")).as("kept_tokens"))
    // kept is O(|sources|) rows off the bounded sketch: broadcast, so
    // the tiny report join never plans a sort-merge off unknown stats
    rates.join(broadcast(kept), Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("avail_tokens"),
        col("target_tokens"), col("rate"),
        coalesce(col("kept_docs"), lit(0L)).as("kept_docs"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
  }

  /** The EMISSION side of [[corpusMix]]: the admitted documents
    * themselves — what actually feeds the tokenizer downstream. Two
    * passes by design (the fit sketch, then this elementwise filter
    * with the 10-row cut table broadcast): at 100 TB the second pass
    * is a zero-shuffle scan, and because admission cuts at a selector
    * bucket boundary the emitted set is exactly the one the
    * [[corpusMix]] report accounted for. */
  def corpusMixDocs(spark: SparkSession, dir: String): DataFrame = {
    val base = mixBase(spark, dir)
    val (_, rates) = mixFit(base)
    base.join(broadcast(rates.select("source", "cut")), Seq("source"))
      .filter(col("bucket") < col("cut"))
      .select(col("doc_id"), col("source"), col("n_tok"))
  }

  /** Characteristic terms per document — TF-IDF top-3 with a total
    * (score desc, term asc) tiebreak: the classic retrieval/tagging
    * primitive over a curated corpus.
    *
    * Shape at scale: the tokenize + explode scan runs ONCE by
    * CONSTRUCTION — `tf` is already distinct per (doc, term), so
    * document frequency is simply `count(*) over (partition by
    * term)` ON the tf intermediate: a window over the
    * high-cardinality vocabulary key, replacing the round-3 shape
    * where tf/df/n each re-branched from (and re-executed) the
    * exploded base. The plan is one linear exchange chain — explode →
    * agg(doc, term) → window(term) → window(doc) — with no diamond
    * for the optimizer to miss. Corpus size N is a scalar aggregate
    * over the documents table itself (a narrow count scan, never a
    * second tokenize, never a driver-side count) joined in as a
    * broadcast 1-row relation. N is deliberately the CORPUS size
    * (count of document rows, the standard IDF denominator), not the
    * count of docs with ≥1 token: a doc that tokenizes to nothing
    * still counts toward N, and the oracle SQL states the same
    * `count(*) FROM documents`. The per-doc top-3 is a ranking window
    * over doc_id — a HIGH-cardinality partition key (each partition
    * sorts ~|vocab per doc| rows), which is exactly where ranking
    * windows are the right tool.
    *
    * Engine invariance: ln() can differ in the last ulp across
    * libms, so IDF is floor-quantized once per TERM (vocabulary-
    * sized, not corpus-sized exposure) and the score derives from
    * integer TF × quantized IDF — bit-identical on both engines
    * before the ordering compares it. */
  def docKeywords(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.spread(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), explode(words(normalized(col("text")))).as("term"))
    val tf = base.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val n = Tables.documents(spark, dir)
      .agg(count(lit(1)).as("n_docs"))
    val wDf = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
    val scored = tf.withColumn("df", count(lit(1)).over(wDf))
      .crossJoin(broadcast(n))
      .withColumn("idf",
        quantize(log(col("n_docs").cast("double") / col("df")), 6))
      .withColumn("score",
        quantize(col("tf") * col("idf"), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk").cast("int").as("rk"),
        col("term"), col("score"))
  }

  /** Per-document fingerprints: exact content hash + order-invariant
    * bag-of-words hash (catches shuffled near-dups for free). */
  def docFingerprint(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .withColumn("norm", normalized(col("text")))
      .select(col("doc_id"),
        md5(col("norm")).as("content_fp"),
        md5(concat_ws(" ", array_sort(array_distinct(words(col("norm"))))))
          .as("bow_fp"))
  }

  /** Count-based bigram language-model scoring — the "perplexity
    * filter" of corpus curation (score every document under a
    * corpus-fitted n-gram LM; outliers in either direction are
    * boilerplate or garbage): add-1-smoothed conditional bigram
    * probabilities fit on the whole corpus, each document scored by
    * the mean log-probability of its bigrams.
    *
    * Shape at scale: ONE tokenize+explode scan emits (doc, prev,
    * cur) bigram rows; the model is two hash aggregations on
    * high-cardinality gram keys (map-side partials) — the bigram
    * table with its context count attached via a window over the
    * already-aggregated bigrams, never a second corpus pass; the
    * vocabulary size is a 1-row scalar joined as a broadcast
    * relation. Scoring re-joins doc bigram occurrences to model rows
    * on the (prev, cur) key and reduces per doc. Engine invariance:
    * ln() is floor-quantized once per DISTINCT bigram (vocabulary-
    * sized exposure), doc aggregation sums exact integer occurrence
    * counts times quantized logs, and the per-doc mean divides two
    * exact quantities before one final quantization. */
  def docLmScore(spark: SparkSession, dir: String): DataFrame = {
    // ≥2 tokens ⟺ the single-space-normalized text contains a space
    val docs = Tables.spread(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), normalized(col("text")).as("norm"))
      .filter(col("norm").contains(" "))
    // (doc, prev, cur) with per-doc occurrence counts — materialized
    // ONCE (the corpus_mix sketch precedent): the model aggregation
    // and the scoring join both read it, and without the checkpoint
    // each reference re-runs the tokenize+explode scan (measured ~2×
    // end-to-end). Vocab size then derives from the aggregated model
    // table, never a third pass. Bigrams pair IN-ROW by one codegen'd
    // zero-width regex pass over the normalized text (the Dedup
    // shingle trick at width 2): adjacency is a row-local fact, so
    // the previous lag()-window formation — which shuffled and SORTED
    // the whole exploded token stream by (doc, pos) — was pure
    // overhead, and a transform/struct lambda evaluates interpreted
    // per element (measured: no win). Endpoints split AFTER the
    // aggregation, on collapsed (doc × distinct-bigram) rows.
    val bi = docs
      .select(col("doc_id"), explode(expr(
        "regexp_extract_all(norm, '(?<=^| )(?=([^ ]+ [^ ]+))', 1)")).as("g"))
      .groupBy(col("doc_id"), col("g"))
      .agg(count(lit(1)).as("n_occ"))
      .select(col("doc_id"),
        substring_index(col("g"), " ", 1).as("prev"),
        substring_index(col("g"), " ", -1).as("cur"), col("n_occ"))
      .localCheckpoint()
    // corpus model: bigram counts, context counts, vocab size
    val model = bi.groupBy(col("prev"), col("cur"))
      .agg(sum(col("n_occ")).as("c_bi"))
      .withColumn("c_prev", sum(col("c_bi")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("prev"))))
    val vocab = model.select(col("cur")).distinct()
      .agg(count(lit(1)).as("v"))
    val scored = model.crossJoin(vocab)
      .withColumn("logp",
        quantize(log((col("c_bi") + 1) / (col("c_prev") + col("v")).cast("double")), 6))
      .select(col("prev"), col("cur"), col("logp"))
    bi.join(scored, Seq("prev", "cur"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n_occ")).cast("long").as("n_bigrams"),
        quantize(sum(col("logp") * col("n_occ"))
          / sum(col("n_occ")), 4).as("mean_logp"))
  }

  /** Collocation mining by pointwise mutual information — the phrase-
    * detection primitive behind tokenizer merges and stop-phrase
    * lists: PMI(a,b) = ln( P(ab) / (P(a)·P(b)) ) over adjacent token
    * pairs, reported for the top collocations above a count floor
    * (PMI without a floor surfaces hapax noise). Shares the one-scan
    * bigram machinery of [[docLmScore]]: unigram and bigram counts
    * are two hash aggregations on gram keys; the unigram table joins
    * the bigram table twice (uniform token keys, AQE-broadcast while
    * small); the final page is a bounded TakeOrdered. ln() quantizes
    * per bigram TYPE, and the probability ratio divides exact integer
    * counts, so both engines rank identical values. */
  def bigramPmi(spark: SparkSession, dir: String): DataFrame = {
    // ≥2 tokens ⟺ the single-space-normalized text contains a space
    val docs = Tables.spread(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), normalized(col("text")).as("norm"))
      .filter(col("norm").contains(" "))
    // bigrams pair IN-ROW: one codegen'd zero-width regex pass over
    // the normalized text (the Dedup shingle trick at width 2 —
    // adjacency is a row-local fact, so the previous lag()-window
    // formation's exchange+sort of the exploded token stream was pure
    // overhead, and a transform/struct lambda evaluates interpreted
    // per element); endpoints split AFTER the aggregation, on
    // vocabulary-sized rows
    val bi = docs
      .select(explode(expr(
        "regexp_extract_all(norm, '(?<=^| )(?=([^ ]+ [^ ]+))', 1)")).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("n_ab"))
      .select(substring_index(col("g"), " ", 1).as("a"),
        substring_index(col("g"), " ", -1).as("b"), col("n_ab"))
    val exploded = docs.select(col("doc_id"),
      explode(split(col("norm"), " ")).as("col"))
    // pin the O(vocab) unigram table: BOTH endpoint joins and the
    // grand total read it, and without the checkpoint each reference
    // re-runs the whole tokenize+explode chain (plan-audited: 4
    // corpus tokenizations → 2, bigram + unigram passes — the
    // structural minimum). The total is Σ n_tok over the tiny
    // materialized table, not a third corpus pass.
    val uni = exploded.groupBy(col("col").as("tok"))
      .agg(count(lit(1)).as("n_tok"))
      .localCheckpoint()
    val total = uni.agg(sum(col("n_tok")).as("n_total"))
    bi.filter(col("n_ab") >= 5)
      .join(uni.select(col("tok").as("a"), col("n_tok").as("n_a")), Seq("a"))
      .join(uni.select(col("tok").as("b"), col("n_tok").as("n_b")), Seq("b"))
      .crossJoin(broadcast(total))
      // P(ab) uses the bigram total = n_total - n_docs ≈ n_total; the
      // token total keeps both engines' convention identical
      .withColumn("pmi",
        quantize(log(col("n_ab").cast("double") * col("n_total")
          / (col("n_a").cast("double") * col("n_b"))), 6))
      .orderBy(col("pmi").desc, col("a").asc, col("b").asc)
      .limit(50)
      .select(col("a"), col("b"), col("n_ab"), col("pmi"))
  }

  /** PII patterns shared by the Spark plan and the DuckDB oracle —
    * deliberately inside the RE2 ∩ java.util.regex common subset
    * (character classes, bounded quantifiers, no lookaround), so both
    * engines match byte-identically. */
  private[graft] val piiPatterns: Seq[(String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"),
    ("phone", "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"),
    ("ip", "([0-9]{1,3}\\.){3}[0-9]{1,3}"))

  /** Deterministic PII-bearing rows injected beside the corpus — the
    * synthetic documents carry no PII, so these planted rows (same
    * Seq feeding both engines, the featureDrop pattern) prove the
    * redaction actually fires while the clean corpus proves it leaves
    * ordinary text untouched. */
  private[graft] val piiDrop: Seq[(Long, String)] = (0 until 40).map { i =>
    val parts = Seq(s"user report $i contact") ++
      (if (i % 3 == 0) Seq(s"mail person$i@example${i % 7}.org today") else Nil) ++
      (if (i % 4 == 0) Seq(s"call +1-55${i % 10}-01${i % 10}-${1000 + i}") else Nil) ++
      (if (i % 5 == 0) Seq(s"from host 10.${i % 256}.${(i * 7) % 256}.${i % 100}") else Nil) ++
      Seq("end")
    (100000L + i, parts.mkString(" "))
  }

  /** PII scrubbing — the redaction pass every pre-training corpus
    * runs before release: emails, phone numbers and IPv4 literals
    * replaced by typed placeholder tags, with per-document match
    * counts for the audit report. Pure elementwise regex work in the
    * scan stage (codegen'd `regexp_replace`/`regexp_extract_all`, no
    * UDF, no shuffle at all before the sink) — the 100 TB shape is
    * one pass over the corpus. Runs over the real documents table
    * UNION the planted [[piiDrop]] rows; output keeps the scrubbed
    * text so the oracle hash proves clean rows pass through
    * byte-identical. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val drop = spark.createDataFrame(piiDrop).toDF("doc_id", "text")
    val all = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .unionByName(drop)
    val counted = piiPatterns.foldLeft(all) { case (d, (name, pat)) =>
      d.withColumn(s"n_$name",
        size(regexp_extract_all(col("text"), lit(pat), lit(0))).cast("long"))
    }
    val scrubbed = piiPatterns.foldLeft(counted) { case (d, (name, pat)) =>
      d.withColumn("text", regexp_replace(col("text"), pat, s"<${name.toUpperCase}>"))
    }
    scrubbed.select(col("doc_id"), col("text").as("clean_text"),
      col("n_email"), col("n_phone"), col("n_ip"),
      (col("n_email") + col("n_phone") + col("n_ip") > 0).as("had_pii"))
  }

  /** The decontamination/boilerplate overlap grain: word 8-grams
    * (the GPT-3/PaLM decontamination papers screen on 8–13-gram
    * overlap; 8 fits this corpus's doc lengths). Extraction is the
    * house zero-width-lookahead regex — EVERY overlapping position
    * in one codegen pass, no position explode. */
  private val Gram8Sql: String => String = colName =>
    s"regexp_extract_all($colName, " +
      s"'(?<=^| )(?=(${Seq.fill(8)("[^ ]+").mkString(" ")}))', 1)"

  /** Eval-set membership rule: docs with doc_id ≡ 3 (mod 97) donate
    * one eval item (words 11–18 of the normalized text) — the
    * fixture "benchmark set" the screen runs against, rendered
    * in-plan like every other fixture corpus. */
  private[graft] val ContamEvalMod = 97L
  private[graft] val ContamEvalRem = 3L

  /** TEST-SET CONTAMINATION SCREEN — the decontamination step every
    * serious pretraining pipeline runs (strip training documents
    * that overlap the evaluation benchmarks, or the eval numbers are
    * fiction): an eval set of 8-gram probes is matched against every
    * document's 8-gram set; a document sharing ANY probe is
    * contaminated and reported with its hit count, and `self_hit`
    * marks the probe's own source document (which must always flag —
    * the built-in positive control).
    *
    * Shape at scale: the eval set is SMALL by nature (benchmarks,
    * not corpora) — it broadcasts, so the screen is one scan-stage
    * regex pass + a broadcast hash join + a doc-keyed agg; no
    * shuffle wider than the contaminated slice. That is exactly how
    * production decontamination runs at 100 TB: ship the benchmark
    * n-gram set to every executor, never shuffle the corpus. */
  def corpusContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), normalized(col("text")).as("norm"))
      .localCheckpoint()
    val evalSet = docs
      .filter(col("doc_id") % ContamEvalMod === ContamEvalRem &&
        size(split(col("norm"), " ")) >= 18)
      .select(col("doc_id").as("eval_id"),
        concat_ws(" ", slice(split(col("norm"), " "), 11, 8)).as("gram"))
    corpusContaminationOf(docs, evalSet)
  }

  /** PRODUCTION entry point of the screen: the eval 8-gram probe set
    * arrives EXTERNALLY as a parquet param table at `paramPath` with
    * columns (eval_id BIGINT, gram STRING) — benchmark n-grams loaded
    * the way the bias lanes load pretrained transfer params
    * (`load_param_file`, bias_correction_cds_process.py:310-324) —
    * instead of derived from the corpus. The driver-contract query
    * above keeps its fixture-derived probe set because this
    * container's only data IS the corpus; a production caller writes
    * the benchmark table once (`write.parquet`) and every pretraining
    * run screens against it here. Same broadcast-probe plan. */
  def corpusContaminationFromParams(spark: SparkSession, dir: String,
      paramPath: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir), col("doc_id"))
      .select(col("doc_id"), normalized(col("text")).as("norm"))
    val evalSet = spark.read.parquet(paramPath)
      .select(col("eval_id").cast("long").as("eval_id"),
        col("gram").cast("string").as("gram"))
    corpusContaminationOf(docs, evalSet)
  }

  private[graft] def corpusContaminationOf(docs: DataFrame,
      evalSet: DataFrame): DataFrame = {
    val grams = docs.select(col("doc_id"),
      explode(array_distinct(expr(Gram8Sql("norm")))).as("gram"))
    grams.join(broadcast(evalSet), Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("eval_id")).as("n_eval_hits"),
        max(when(col("doc_id") === col("eval_id"), 1L).otherwise(0L))
          .as("self"))
      .select(col("doc_id"), col("n_eval_hits"),
        (col("self") === 1L).as("self_hit"))
      .orderBy(col("doc_id"))
  }

  /** A span is boilerplate when it recurs across at least this many
    * DISTINCT documents (the CCNet/RefinedWeb repeated-paragraph
    * rule at the 8-gram grain this corpus supports). */
  private[graft] val BoilerplateMinDocs = 3

  /** Salt fan-out for the position⋈gram-set joins below. A licence
    * blurb's gram present in 10% of a 100 TB corpus would otherwise
    * put 10% of all positions in ONE shuffle partition of the join;
    * salting the position side by a position-derived hash and
    * replicating the set side K ways bounds any gram's partition to
    * 1/K of its mass — EXACT (the set side carries every salt, so
    * each position still matches exactly once), deterministic (no
    * reliance on AQE thresholds firing), the same discipline the
    * dedup lanes apply to hot buckets, minus the cap (a census must
    * not drop mass). */
  private[graft] val SpanSaltK = 16

  /** FREQUENCY SPLIT for the salt: the repeated-gram set at corpus
    * scale is itself corpus-sized (10-30% of distinct grams repeat),
    * so replicating ALL of it ×[[SpanSaltK]] would multiply a
    * corpus-scale join side by 16 to defend against the handful of
    * genuinely hot grams. The censuses already count each gram's
    * occurrences on the pinned pass, so the set splits there: grams
    * at or above this occurrence count take the salted lane (their
    * replication is O(hot grams), negligible by construction); the
    * cold majority joins unsalted at ×1 set-side cost — any cold
    * gram contributes at most this many rows to one shuffle
    * partition, which is the same per-key bound the salt would give
    * a gram of K× this mass. Hot and cold sets are disjoint, so the
    * union of the two joins is exactly the unsplit join. */
  private[graft] val SpanHotMinOcc = 65536L

  private def salted(set: DataFrame): DataFrame =
    set.withColumn("salt",
      explode(expr(s"sequence(0, ${SpanSaltK - 1})")))

  /** The split position⋈gram-set inner join shared by the span
    * censuses: `pos` rows carrying `gram` plus the `keep` columns,
    * `set` rows carrying `gram` and a count column `cntCol`; rows of
    * `pos` whose gram is in `set` come back (each exactly once) with
    * only `keep`, hot grams via the salted lane, cold unsalted. The
    * salt hash keys on the keep columns (distinct per pos row), so
    * one hot gram's matches spread across [[SpanSaltK]] partitions. */
  private def splitGramJoin(pos: DataFrame, set: DataFrame,
      cntCol: String, hotMin: Long, keep: Seq[String]): DataFrame = {
    val hot  = set.filter(col(cntCol) >= hotMin).select(col("gram"))
    val cold = set.filter(col(cntCol) < hotMin).select(col("gram"))
    val keepCols = keep.map(col)
    val hotMatched = pos
      .withColumn("salt", pmod(hash(keepCols: _*), lit(SpanSaltK)))
      .join(salted(hot), Seq("gram", "salt"))
      .select(keepCols: _*)
    val coldMatched = pos.join(cold, Seq("gram")).select(keepCols: _*)
    hotMatched.unionByName(coldMatched)
  }

  /** EXACT-SUBSTRING REPEATED-SPAN CENSUS — the "Deduplicating
    * Training Data Makes Language Models Better" (Lee et al. 2021)
    * screen re-expressed at the 8-gram grain: a position is REPEATED
    * when its 8-gram occurs anywhere else in the corpus (a second
    * position, same doc or not — the suffix-array definition);
    * consecutive repeated positions merge into MAXIMAL spans
    * (gaps-and-islands, the relational form of the suffix-array
    * maximal repeat), and each document reports its span count,
    * repeated-token coverage, and longest span in tokens — the
    * numbers that decide how much of a doc the exact-substring
    * dedup pass would cut.
    *
    * Shape at scale: one regex pass emits (position, gram) — pinned,
    * reused by the global gram frequency and the island pass; the
    * frequency is a gram-keyed count (uniform hash key, map-side
    * partials) rejoined on the same key; islands are a per-DOC
    * window (position − row_number), so the only window partitions
    * by doc_id — never the corpus. The true suffix-array method
    * needs a global sort; the n-gram relaxation is the standard
    * distributed substitute and is exact for repeats ≥ the gram
    * length. */
  def dedupRepeatedSpans(spark: SparkSession, dir: String): DataFrame =
    dedupRepeatedSpansOf(
      Tables.spread(Tables.documents(spark, dir), col("doc_id"))
        .select(col("doc_id"), normalized(col("text")).as("norm")))

  private[graft] def dedupRepeatedSpansOf(docs: DataFrame,
      hotMin: Long = SpanHotMinOcc): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = docs.select(col("doc_id"),
        posexplode(expr(Gram8Sql("norm"))).as(Seq("pos", "gram")))
      .localCheckpoint()
    val repeated = pos.groupBy(col("gram"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .localCheckpoint() // read twice: hot and cold branches
    // the gram-frequency agg above is skew-safe by itself (map-side
    // partials); the join back is where one hot gram would pile a
    // partition — frequency-split salted (see [[SpanHotMinOcc]])
    val islands = splitGramJoin(pos, repeated, "n_occ", hotMin,
        Seq("doc_id", "pos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .withColumn("island", col("pos") - col("rn"))
      .groupBy(col("doc_id"), col("island"))
      .agg((max(col("pos")) - min(col("pos")) + 8).as("span_tokens"))
    val perDoc = islands.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("span_tokens")).as("covered_tokens"),
        max(col("span_tokens")).as("longest_span"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        coalesce(col("longest_span"), lit(0L)).as("longest_span"))
      .orderBy(col("doc_id"))
  }

  /** A repeated span is CUT by the apply step when it is at least
    * this many tokens (two full grams — the Lee et al. tool's
    * "long enough to be mechanical, not phrasal" threshold at this
    * corpus's 8-gram grain). */
  private[graft] val CutMinTokens = 16

  /** EXACT-SUBSTRING DEDUP APPLY — the cut step of the Lee et al.
    * screen [[dedupRepeatedSpans]] reports on: repeated spans of ≥
    * [[CutMinTokens]] tokens are removed from every document, and
    * each document reports its token count, the number of distinct
    * cut regions, tokens cut, tokens kept and the kept fraction —
    * the numbers the training pipeline budgets after exact-substring
    * dedup. Cut regions are the TRUE INTERVAL UNION of qualifying
    * spans (adjacent islands' 8-token tails overlap, so summing span
    * lengths would over-cut; a second per-doc gaps-and-islands pass
    * merges overlaps — same window discipline, never a corpus-wide
    * sort). The position⋈gram join is salted like the census. */
  def dedupSpansApply(spark: SparkSession, dir: String): DataFrame =
    dedupSpansApplyOf(
      Tables.spread(Tables.documents(spark, dir), col("doc_id"))
        .select(col("doc_id"), normalized(col("text")).as("norm")))

  private[graft] def dedupSpansApplyOf(docs: DataFrame,
      hotMin: Long = SpanHotMinOcc): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pos = docs.select(col("doc_id"),
        posexplode(expr(Gram8Sql("norm"))).as(Seq("pos", "gram")))
      .localCheckpoint()
    val repeated = pos.groupBy(col("gram"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .localCheckpoint() // read twice: hot and cold branches
    val spans = splitGramJoin(pos, repeated, "n_occ", hotMin,
        Seq("doc_id", "pos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
      .withColumn("island", col("pos") - col("rn"))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + 7).as("e"))
      .filter(col("e") - col("s") + 1 >= CutMinTokens)
    // interval union: a span starting inside (or at) the running max
    // of earlier ends merges into the same cut region
    val byStart = Window.partitionBy(col("doc_id")).orderBy(col("s"))
    val cuts = spans
      .withColumn("prev_max", max(col("e")).over(
        byStart.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ng", when(col("prev_max").isNull ||
        col("s") > col("prev_max"), 1L).otherwise(0L))
      .withColumn("grp", sum(col("ng")).over(
        byStart.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("grp"))
      .agg((max(col("e")) - min(col("s")) + 1).as("cut_len"))
    val perDoc = cuts.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_cuts"), sum(col("cut_len")).as("cut_tokens"))
    docs.select(col("doc_id"),
        size(split(col("norm"), " ")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_cuts"), lit(0L)).as("n_cuts"),
        coalesce(col("cut_tokens"), lit(0L)).as("cut_tokens"),
        (col("n_tokens") - coalesce(col("cut_tokens"), lit(0L)))
          .as("kept_tokens"),
        quantize((col("n_tokens") - coalesce(col("cut_tokens"), lit(0L)))
          / col("n_tokens").cast("double"), 4)
          .as("kept_frac"))
      .orderBy(col("doc_id"))
  }

  /** BOILERPLATE SPAN CENSUS — the cross-document repeated-span
    * screen (headers, footers, licence blurbs, navigation chrome):
    * an 8-gram position is boilerplate when its gram occurs in ≥
    * [[BoilerplateMinDocs]] distinct documents; each document
    * reports its total 8-gram positions, boilerplate positions, and
    * the boilerplate fraction the cleaning stage would strip.
    *
    * Shape at scale: ONE regex pass emits every position (pinned —
    * both aggregations read it without re-tokenizing); the
    * boilerplate set is a gram-keyed count-distinct (uniform hash
    * key, map-side partials) and rejoins on the same gram hash; the
    * per-doc rollup is a doc-keyed agg. No window over the corpus,
    * joins no wider than O(positions). */
  def boilerplateNgrams(spark: SparkSession, dir: String): DataFrame =
    boilerplateNgramsOf(
      Tables.spread(Tables.documents(spark, dir), col("doc_id"))
        .select(col("doc_id"), normalized(col("text")).as("norm")))

  private[graft] def boilerplateNgramsOf(docs: DataFrame,
      hotMin: Long = SpanHotMinOcc): DataFrame = {
    // reduce positions to (doc, gram, cnt) FIRST — the census only
    // needs counts, and the reduction is map-side-partial-friendly,
    // so the downstream join moves per-doc-distinct grams instead of
    // every position
    val dg = docs.select(col("doc_id"),
        explode(expr(Gram8Sql("norm"))).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val boiler = dg.groupBy(col("gram"))
      .agg(count(lit(1)).as("n_docs")) // dg is distinct per (doc, gram)
      .filter(col("n_docs") >= BoilerplateMinDocs)
      .localCheckpoint() // read twice: hot and cold branches
    // gram-keyed rejoin, frequency-split salted against the one hot
    // licence-blurb gram (see [[SpanHotMinOcc]]); a gram's fan in
    // THIS join is its n_docs (dg is per-(doc, gram)), so hotness
    // keys on n_docs. The old left-join-with-marker becomes two
    // rollups: totals come straight from dg, boiler hits from the
    // split inner join — identical left semantics at less shuffle.
    val nBoiler = splitGramJoin(dg, boiler, "n_docs", hotMin,
        Seq("doc_id", "cnt"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_boiler"))
    val perDoc = dg.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_grams"))
      .join(nBoiler, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          round(col("n_boiler") / col("n_grams").cast("double"), 4))
          .as("boiler_frac"))
      .orderBy(col("doc_id"))
  }
}
