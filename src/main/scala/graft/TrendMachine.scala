package graft

import graft.model.{ScoredRow, TrendQuery}
import graft.operators.{Corpus, Daily, Dedup, GapFill, Metrics, Report, Score, TextStats, Trend}
import org.apache.spark.sql.{DataFrame, Dataset}

/** The engine's public API (SURVEY §7.1 module 7) — what the
  * reference's `load_data` + report block (main.py:186-405) returns,
  * generalized per-url and lazy: every frame is a plan, nothing runs
  * until the caller acts on it.
  */
object TrendMachine {

  /** All result frames for one query over a capture set. */
  final case class TrendResult(
      daily: DataFrame,
      scored: Dataset[ScoredRow],
      transitions: DataFrame,
      headline: DataFrame)

  /** captures (url, ts, status, digest, seq) -> full result bundle.
    *
    * The daily table is the natural caching boundary (the reference's
    * load_cdx cache): callers re-running with new sigmoid parameters
    * should persist `daily` and call [[rescore]].
    */
  def run(captures: DataFrame, query: TrendQuery = TrendQuery()): TrendResult = {
    val daily = Daily.fromCaptures(captures)
    fromDaily(daily, query)
  }

  /** Warm path: re-parameterize from a (persisted) daily table without
    * re-running the capture scan and window stages.
    */
  def fromDaily(daily: DataFrame, query: TrendQuery): TrendResult = {
    val scored = Trend.runFromDaily(daily, query)
    val densified = GapFill.densify(
      GapFill.fill(Score.scorableDays(daily), query.fill, query.policy), query.asOf)
    TrendResult(
      daily = daily,
      scored = scored,
      transitions = Report.transitions(densified),
      headline = Metrics.headline(scored.toDF()))
  }

  /** Alias for [[fromDaily]] matching the reference's warm-path naming. */
  def rescore(daily: DataFrame, query: TrendQuery): TrendResult = fromDaily(daily, query)

  /** SQL surface: register the result bundle as temp views so the whole
    * engine is queryable from `spark.sql` — `<prefix>_captures`,
    * `<prefix>_daily`, `<prefix>_scored`, `<prefix>_transitions`,
    * `<prefix>_headline`. Views are lazy plans: nothing materializes
    * until a SQL query runs, and Catalyst pushes SQL-side filters and
    * projections down INTO the engine's plans (filter a url in SQL and
    * the parquet scan prunes).
    */
  def registerViews(
      captures: DataFrame,
      query: TrendQuery = TrendQuery(),
      prefix: String = "trend"): TrendResult = {
    val result = run(captures, query)
    captures.createOrReplaceTempView(s"${prefix}_captures")
    result.daily.createOrReplaceTempView(s"${prefix}_daily")
    result.scored.toDF().createOrReplaceTempView(s"${prefix}_scored")
    result.transitions.createOrReplaceTempView(s"${prefix}_transitions")
    result.headline.createOrReplaceTempView(s"${prefix}_headline")
    result
  }

  /** SQL surface for the training-data pipeline: register the corpus
    * operators over a documents table (doc_id, text, lang, source,
    * n_chars) as temp views — `<prefix>_dedup`, `<prefix>_clusters`,
    * `<prefix>_quality`, `<prefix>_vocab`, `<prefix>_tfidf`,
    * `<prefix>_sample`, `<prefix>_stats`. Same laziness contract as
    * [[registerViews]] with one exception: the clustering and pipeline
    * views' label-propagation loop runs actions at registration time
    * (its fixpoint cannot be expressed as a single lazy plan). Also
    * registered: `<prefix>_boilerplate`, `<prefix>_decontaminated`,
    * `<prefix>_bm25`, `<prefix>_pipeline`.
    */
  def registerCorpusViews(docs: DataFrame, prefix: String = "corpus"): Unit = {
    docs.createOrReplaceTempView(s"${prefix}_documents")
    Dedup.exact(docs).createOrReplaceTempView(s"${prefix}_dedup")
    Corpus.dedupClusters(docs).createOrReplaceTempView(s"${prefix}_clusters")
    TextStats.quality(docs).createOrReplaceTempView(s"${prefix}_quality")
    Corpus.vocab(docs).createOrReplaceTempView(s"${prefix}_vocab")
    Corpus.tfidf(docs).createOrReplaceTempView(s"${prefix}_tfidf")
    Corpus.stratifiedSample(docs).createOrReplaceTempView(s"${prefix}_sample")
    Corpus.stats(docs).createOrReplaceTempView(s"${prefix}_stats")
    Corpus.stripBoilerplate(docs).createOrReplaceTempView(s"${prefix}_boilerplate")
    Corpus.decontaminate(docs).createOrReplaceTempView(s"${prefix}_decontaminated")
    Corpus.bm25Top(docs).createOrReplaceTempView(s"${prefix}_bm25")
    // the one-job curation composite (shares one shingle explode across
    // clustering + decontamination); like the clusters view, its loop
    // runs actions at registration time
    Corpus.docPipeline(docs).createOrReplaceTempView(s"${prefix}_pipeline")
  }
}
