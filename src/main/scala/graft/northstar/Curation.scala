package graft.northstar

import graft.engine.Configs
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Config-driven corpus curation: the r7 operator set composed into ONE
  * declarative pipeline, in the same JSON-replay style as the
  * reference's config files (SURVEY.md §1.1 — configs drive stages;
  * ours drives the training-data curation stages the reference never
  * had). Stage order is FIXED and semantic, not configurable, because
  * each stage's statistics are computed on its INPUT:
  *
  *   1. quality gate   (q_score >= minQuality)
  *   2. language gate  (lang ∈ langs)
  *   3. length floor   (drop bottom num/den by token count — threshold
  *                      from the gated survivors, not the raw corpus)
  *   4. temperature    (per-lang rebalance over the floored survivors)
  *   5. budget fill    (greedy best-quality-first per lang)
  *
  * Every stage is optional (absent key = skipped). Each rule is written
  * once, as a per-row flag ([[flagged]], [[budgetFill]]); [[run]],
  * [[funnel]], [[freeze]] and [[serve]] differ only in where the two
  * statistics come from and what they do with the flags. The whole
  * composition stays one lazy plan — histogram/count aggregates ride as broadcast
  * 1-row/stratum-row sides, nothing materializes between stages — and
  * every decision is deterministic integer/hash arithmetic, so an
  * external SQL engine can replay the full pipeline (see the
  * `ns_curation_config` oracle). The scored frame IS persisted before
  * the statistic fan-out when a statistic-bearing stage is configured
  * ([[scoredOnce]]) — the text kernel otherwise re-runs once per
  * statistic subtree, which at 100 TB is full corpus scans thrown away.
  */
object Curation {

  case class CurationConfig(
      minQuality: Option[Double] = None,
      langs: Option[Seq[String]] = None,
      lengthFloorNum: Option[Long] = None,
      lengthFloorDen: Option[Long] = None,
      temperatureAlpha: Option[Double] = None,
      budgetPerLang: Option[Long] = None)

  /** Parse a curation config from JSON, e.g.
    * `{"min_quality": 0.5, "langs": ["en","de"], "length_floor": "1/10",
    *   "temperature_alpha": 0.5, "budget_per_lang": 3000}`. Read
    * strictly ([[Configs.Fields]]): a typoed key refuses rather than
    * silently disabling its gate, JSON null reads as absent (treating
    * `{"langs": null}` as Some(Nil) would make the isin() gate drop the
    * ENTIRE corpus), and a value of the wrong type refuses rather than
    * coercing to 0 (`{"budget_per_lang": "3k"}` silently dropped the whole
    * corpus; code-review r13/r14).
    */
  def parseConfig(json: String): CurationConfig = {
    val f = Configs.Fields(json, "curation config")
    f.onlyKeys(Set("min_quality", "langs", "length_floor",
      "temperature_alpha", "budget_per_lang"))
    val floor = f.text("length_floor").map { s =>
      s.split("/", 2) match {
        case Array(n, d) => (n.trim.toLong, d.trim.toLong)
        case _ => throw new IllegalArgumentException(
          s"length_floor must be 'num/den', got '$s'")
      }
    }
    val budget = f.integer("budget_per_lang")
    // a zero/negative budget admits nothing — refuse rather than
    // silently emptying every language's quota
    budget.foreach(b => require(b > 0,
      s"budget_per_lang must be positive, got $b"))
    CurationConfig(
      minQuality = f.number("min_quality"),
      // an explicit empty array means "no language filter", same as
      // absent: Some(Nil) would hand isin() ZERO arguments
      langs = f.strings("langs").filter(_.nonEmpty),
      lengthFloorNum = floor.map(_._1),
      lengthFloorDen = floor.map(_._2),
      temperatureAlpha = f.number("temperature_alpha"),
      budgetPerLang = budget)
  }

  /** (id, lang, q_score, n_tokens) of every document: the text kernel
    * every stage reads. */
  private def scored(df: DataFrame, idCol: String, textCol: String,
                     langCol: String): DataFrame =
    TextAnalysis.qualityScore(df, textCol)
      .select(col(idCol), col(langCol), col("q_score"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))

  /** The scored frame every stage derives from — persisted when the
    * config carries a statistic-bearing stage (optimization r21, guide
    * §1.2/§5: the length-floor threshold and the temperature rates are
    * computed on broadcast SUBTREES that re-derive the quality/token
    * text kernel from the raw corpus — with both stages configured the
    * kernel ran 3× per run; at 100 TB that is two full corpus scans
    * thrown away). persist is lazy, recomputable MEMORY_AND_DISK and
    * tracked (the [[Dedup.trackedPersist]] contract), freed by
    * clearCache/releasePersisted like every other tracked frame —
    * never a cross-run cache. Configs with no statistic stage stay
    * one-pass and unpersisted.
    */
  private def scoredOnce(df: DataFrame, cfg: CurationConfig, idCol: String,
                         textCol: String, langCol: String): DataFrame = {
    val s = scored(df, idCol, textCol, langCol)
    if (lengthCut(cfg).isDefined || cfg.temperatureAlpha.isDefined)
      Dedup.trackedPersist(s)
    else s
  }

  /** A stage statistic on its way to each row: adds its column to the
    * frame of flags so far. */
  private type Stat = DataFrame => DataFrame

  private def literal(name: String, value: Column): Stat =
    _.withColumn(name, value)

  /** The scored frame plus one flag column per stage: `__s2` the gates,
    * `__s3` the length floor, `__s4` the temperature sample. Each flag is
    * the one before AND its stage's rule, so a row survives every stage
    * up to its last true flag; a stage without its statistic keeps the
    * flag before. The length cut (`__thr`) and the per-language rates
    * (`__rate`) reach each row through `cut` and `rates`: [[batch]] joins
    * them as broadcast frames derived from the flagged survivors,
    * [[serve]] adds them as frozen literals.
    */
  private def flagged(scored: DataFrame, minQuality: Option[Double],
                      langs: Option[Seq[String]], cut: Option[Stat],
                      rates: Option[Stat], idCol: String,
                      langCol: String): DataFrame = {
    val gates = Seq(minQuality.map(q => col("q_score") >= q),
        langs.map(ls => col(langCol).isin(ls: _*)))
      .flatten.reduceOption(_ && _).getOrElse(lit(true))
    def stage(f: DataFrame, stat: Option[Stat], prev: String, flag: String,
              rule: Column) =
      stat.fold(f.withColumn(flag, col(prev)))(attach =>
        attach(f).withColumn(flag, col(prev) && rule))
    val floored = stage(scored.withColumn("__s2", gates), cut, "__s2",
      "__s3", col("n_tokens") > col("__thr"))
    stage(floored, rates, "__s3", "__s4",
      Sampling.hashUnit(col(idCol)) < col("__rate"))
  }

  /** The length cut as a 1-row `__thr` frame: the k-th smallest token
    * count of the gated survivors ([[Sampling.quantileFloor]]'s cut). */
  private def lengthCut(cfg: CurationConfig): Option[DataFrame => DataFrame] =
    for (n <- cfg.lengthFloorNum; d <- cfg.lengthFloorDen) yield
      (f: DataFrame) => Sampling.quantileThresholdFrame(
        f.filter(col("__s2")), "n_tokens", n, d)

  /** The per-language rates of the floored survivors
    * ([[Sampling.temperatureSample]]'s arithmetic, null languages
    * excluded). */
  private def langRates(cfg: CurationConfig,
                        langCol: String): Option[DataFrame => DataFrame] =
    cfg.temperatureAlpha.map(a => (f: DataFrame) =>
      Sampling.temperatureRates(f.filter(col("__s3")), langCol, a))

  /** The batch flags: both statistics ride as broadcast sides. A row
    * whose language has no rate gets a null `__rate`, so its `__s4` is
    * false or null and it never survives. */
  private def batch(df: DataFrame, cfg: CurationConfig, idCol: String,
                    textCol: String, langCol: String): DataFrame =
    flagged(scoredOnce(df, cfg, idCol, textCol, langCol), cfg.minQuality,
      cfg.langs,
      lengthCut(cfg).map(cut => f => f.crossJoin(broadcast(cut(f)))),
      langRates(cfg, langCol).map(r => f =>
        f.join(broadcast(r(f)), Seq(langCol), "left")),
      idCol, langCol)

  /** The budget fill as the flag `__s5`: per language, best quality
    * first (id ties), a row is admitted while the tokens admitted before
    * it stay under the budget. [[run]] passes the temperature survivors
    * alone (`alive` None); [[funnel]] passes every row, and rows not
    * `alive` add no tokens, which leaves each live row's running total
    * unchanged (ids are unique, so the RANGE/ROWS frame distinction is
    * moot).
    */
  private def budgetFill(f: DataFrame, cfg: CurationConfig,
                         alive: Option[Column], idCol: String,
                         langCol: String): DataFrame = {
    val live = alive.getOrElse(lit(true))
    cfg.budgetPerLang.fold(f.withColumn("__s5", live)) { budget =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(langCol)
        .orderBy(col("q_score").desc, col(idCol))
      val tokens = alive.fold(col("n_tokens"))(
        when(_, col("n_tokens")).otherwise(0L))
      f.withColumn("__s5", live && (sum(tokens).over(w) - tokens) < budget)
    }
  }

  private def output(f: DataFrame, idCol: String, langCol: String) =
    f.select(col(idCol), col(langCol), col("n_tokens"),
      round(col("q_score") * 10000).cast("long").as("q_e4"))

  /** Run the curation pipeline over a documents frame (doc_id, text,
    * lang, ...). Output: (doc_id, lang, n_tokens, q_e4) for every
    * surviving document. The budget window runs over the temperature
    * survivors only.
    */
  def run(df: DataFrame, cfg: CurationConfig,
          idCol: String = "doc_id", textCol: String = "text",
          langCol: String = "lang"): DataFrame = {
    val sampled = batch(df, cfg, idCol, textCol, langCol).filter(col("__s4"))
    output(budgetFill(sampled, cfg, None, idCol, langCol)
      .filter(col("__s5")), idCol, langCol)
  }

  /** The deployable artifact of a batch curation run: every data-derived
    * statistic frozen to plain values — the length-floor threshold and
    * the per-language temperature rates. Gates become pure per-row
    * predicates, so [[serve]] can apply them to a STREAM (the
    * "nightly-train, continuously-serve" split, mirroring
    * TextAnalysis.lmHead / scoreWithLm). The budget-fill stage is
    * deliberately absent: admission under a cumulative budget is a
    * batch decision, not a per-row one.
    */
  case class FrozenCuration(
      minQuality: Option[Double],
      langs: Option[Seq[String]],
      lengthThreshold: Option[Long],
      rates: Option[Map[String, Double]])

  /** Freeze a config's data-derived statistics from a batch corpus: the
    * two statistic frames [[batch]] joins, collected. Driver collects are
    * bounded: one scalar threshold + one row per language. The rates see
    * the collected cut as a literal, exactly as [[serve]] applies it; an
    * empty input freezes the cut at Long.MaxValue and the rates to an
    * empty map, so serve keeps nothing, as the batch run would.
    */
  def freeze(df: DataFrame, cfg: CurationConfig,
             idCol: String = "doc_id", textCol: String = "text",
             langCol: String = "lang"): FrozenCuration = {
    val base = scoredOnce(df, cfg, idCol, textCol, langCol)
    def flags(cut: Option[Stat]) =
      flagged(base, cfg.minQuality, cfg.langs, cut, None, idCol, langCol)
    val thr = lengthCut(cfg).map(cut =>
      cut(flags(None)).first() match {
        case r if r.isNullAt(0) => Long.MaxValue
        case r => r.getLong(0)
      })
    val rates = langRates(cfg, langCol).map(r =>
      r(flags(thr.map(t => literal("__thr", lit(t))))).collect()
        .map(row => row.getString(0) -> row.getDouble(1)).toMap)
    FrozenCuration(cfg.minQuality, cfg.langs, thr, rates)
  }

  /** Apply a frozen curation policy as a stateless narrow pass — no
    * aggregates, no joins, no state; runs unchanged on a streaming
    * frame. Unseen languages (absent from the frozen rates) are dropped:
    * the policy has no admission rate for them.
    */
  def serve(df: DataFrame, frozen: FrozenCuration,
            idCol: String = "doc_id", textCol: String = "text",
            langCol: String = "lang"): DataFrame = {
    val rate = frozen.rates.map(_.foldLeft(lit(-1.0)) { case (acc, (k, v)) =>
      when(col(langCol) === k, lit(v)).otherwise(acc)
    })
    output(flagged(scored(df, idCol, textCol, langCol), frozen.minQuality,
        frozen.langs, frozen.lengthThreshold.map(t => literal("__thr", lit(t))),
        rate.map(literal("__rate", _)), idCol, langCol)
      .filter(col("__s4")), idCol, langCol)
  }

  /** Per-source document cap — the C4/RefinedWeb "domain cap" curation
    * step: no single source (domain, crawl host, feed) may contribute
    * more than `cap` documents, so a few mega-domains can't dominate the
    * training mixture the way raw web frequency would make them. Keeps
    * the `cap` BEST documents per source, "best" = the given ordering
    * (default: longest `n_chars` first, `doc_id` as the deterministic
    * tiebreak so reruns and external replays pick identical survivors).
    *
    * Shape: ONE window (row_number partitioned by source) = one shuffle
    * on the source key. At 100 TB the partition count is the domain
    * count (millions), so partitions stay small; a single pathological
    * mega-domain skews its one partition, but the window only needs the
    * top `cap` rows — if that ever matters, pre-filter with a capped
    * groupBy-count semi-join before the window. No collect, no driver
    * state.
    */
  def sourceCap(df: DataFrame, cap: Int, sourceCol: String = "source",
                orderBy: Seq[Column] = Seq(col("n_chars").desc,
                  col("doc_id").asc)): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(sourceCol)).orderBy(orderBy: _*)
    // temp rank column name must not collide with (and silently
    // overwrite) a caller column — suffix until unique
    val rk = Iterator.iterate("__rk")(_ + "_")
      .find(n => !df.columns.contains(n)).get
    df.withColumn(rk, row_number().over(w))
      .filter(col(rk) <= cap)
      .drop(rk)
  }

  /** Stage-survivor funnel for the same pipeline: how many documents
    * (and tokens) survive each curation stage — the observability row a
    * nightly run logs next to its output.
    *
    * SINGLE-PASS shape: the stage flags [[run]] filters on are reduced
    * with ONE conditional aggregate, so the text kernel runs once, not
    * once per stage (at 100 TB each rerun is a corpus scan). The
    * statistic subtrees read the PERSISTED scored frame ([[scoredOnce]]),
    * and the main pass, the budget window and the aggregate ride one
    * scan. The budget window is [[run]]'s, over every row, with rows dead
    * before it adding zero tokens.
    */
  def funnel(df: DataFrame, cfg: CurationConfig,
             idCol: String = "doc_id", textCol: String = "text",
             langCol: String = "lang"): DataFrame = {
    val f = budgetFill(batch(df, cfg, idCol, textCol, langCol), cfg,
      Some(col("__s4")), idCol, langCol)
    def n(flag: String) = coalesce(sum(when(col(flag), 1L)), lit(0L))
    def tok(flag: String) =
      coalesce(sum(when(col(flag), col("n_tokens"))), lit(0L))
    f.agg(
      count(lit(1)).as("n_input"),
      coalesce(sum(col("n_tokens")), lit(0L)).as("tok_input"),
      n("__s2").as("n_gated"), tok("__s2").as("tok_gated"),
      n("__s3").as("n_floored"), tok("__s3").as("tok_floored"),
      n("__s4").as("n_sampled"), tok("__s4").as("tok_sampled"),
      n("__s5").as("n_selected"), tok("__s5").as("tok_selected"))
  }

  /** Multimodal curation gates (VERDICT r13 task 6): config-driven
    * predicates over the DECODED asset metadata
    * ([[Multimodal.decodeAssets]]'s (asset_id, width, height, format)
    * columns) — the modality analogue of the text gates above. `width`/
    * `height` carry per-format meaning by the codec contract: pixel
    * dims for image/video, total samples / channel count for audio —
    * so at a known sample rate the width bounds ARE the audio duration
    * gate (e.g. min 1 s at 44.1 kHz = min_width 44100). All gates are
    * stateless narrow filters: no aggregates, no joins, stream-safe,
    * and replayable by an external SQL engine over the metadata
    * integers (the `ns_asset_curation` oracle).
    */
  case class AssetCurationConfig(
      formats: Option[Seq[String]] = None,
      minWidth: Option[Long] = None, maxWidth: Option[Long] = None,
      minHeight: Option[Long] = None, maxHeight: Option[Long] = None)

  /** Parse an asset curation config from JSON, e.g.
    * `{"formats": ["png","mp4"], "min_width": 32, "max_width": 4096}`.
    * Read as strictly as [[parseConfig]]; an explicit empty `formats`
    * array means "no format filter".
    */
  def parseAssetConfig(json: String): AssetCurationConfig = {
    val f = Configs.Fields(json, "asset curation config")
    f.onlyKeys(Set("formats", "min_width", "max_width", "min_height",
      "max_height"))
    AssetCurationConfig(
      formats = f.strings("formats").filter(_.nonEmpty),
      minWidth = f.integer("min_width"),
      maxWidth = f.integer("max_width"),
      minHeight = f.integer("min_height"),
      maxHeight = f.integer("max_height"))
  }

  /** Apply an asset curation config to a decoded-asset frame. Every
    * gate is optional (absent = skipped); rows must carry the
    * [[Multimodal.decodeAssets]] metadata columns.
    */
  def curateAssets(decoded: DataFrame,
                   cfg: AssetCurationConfig): DataFrame = {
    val f0 = cfg.formats.fold(decoded)(fs =>
      decoded.filter(col("format").isin(fs: _*)))
    val f1 = cfg.minWidth.fold(f0)(v => f0.filter(col("width") >= v))
    val f2 = cfg.maxWidth.fold(f1)(v => f1.filter(col("width") <= v))
    val f3 = cfg.minHeight.fold(f2)(v => f2.filter(col("height") >= v))
    cfg.maxHeight.fold(f3)(v => f3.filter(col("height") <= v))
  }

  /** Semantic-dedup stage for the curation chain: within each semantic
    * near-duplicate cluster (precomputed labels — one row per document,
    * `cluster_id` from [[Artifacts.semanticLabelsFor]] or an in-query
    * [[Similarity.semanticDedup]] run) keep the HIGHEST-QUALITY member,
    * with the same quality score the curation gates use feeding the
    * keeper choice (SemDeDup's "keep one per cluster" upgraded from
    * keep-first to keep-best — curation keeps the best copy of a
    * semantic duplicate group, not the one crawled first). Keeper rule
    * is [[Similarity.semanticDedupBestFromLabels]]'s: max q_score, tie
    * → lowest id. The optional `minQuality` gate then screens the
    * KEEPERS (a low-quality cluster contributes nothing, rather than
    * promoting its least-bad member past the gate). One lazy plan: the
    * text-kernel scoring pass is narrow, labels join on the id, keeper
    * selection is one window per cluster. Output: (idCol, cluster_id,
    * q_score) for each surviving keeper.
    */
  def semanticKeepBest(docs: DataFrame, labels: DataFrame,
                       minQuality: Option[Double] = None,
                       idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val labelIdCol = labels.columns.filterNot(_ == "cluster_id").head
    val scored = TextAnalysis.qualityScore(docs, textCol)
      .select(col(idCol).as(labelIdCol), col("q_score"))
    val kept = Similarity.semanticDedupBestFromLabels(
        scored, labels, scoreCol = "q_score", idCol = labelIdCol)
      .filter(col("is_keeper"))
    minQuality.fold(kept)(q => kept.filter(col("q_score") >= q))
      .select(col(labelIdCol).as(idCol), col("cluster_id"), col("q_score"))
  }
}
