package perfbench

import java.util.SplittableRandom

import graft.TrendMachine
import graft.model.{FillPolicy, ScoredRow, SigParams, TrendQuery}
import graft.operators.{CacheScope, Corpus, Daily, Dedup, GapFill, Score, TextStats, Trend}
import graft.sources.Warc
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import Workloads._

/** The reference's single-user session (main.py:186-405) against the CDX
  * parquet file: an open runs `TrendMachine.run` on one URL's captures,
  * persists and builds `daily`, and collects `scored`, `transitions` and
  * `headline`; each open is followed by rescores with seeded fill, policy
  * and sigmoid changes. URLs are drawn with Zipf popularity. One untraced
  * open and rescore warm up and check, one traced session is measured; then the
  * staged GapFill and Score operators run alone on a persisted daily table.
  */
final class LookupProbe(spark: SparkSession, store: CaptureStore, seed: Long) {
  val RescoresPerOpen = 2
  val PopularityS = 1.0
  private val rnd = new SplittableRandom(seed ^ 0x10c4L)
  private val zipf = new Gen.Zipf(Gen.CaptureParams().urls, PopularityS, rnd)
  private var daily: DataFrame = _

  type Collected = (Seq[ScoredRow], Seq[Row], Seq[Row])

  /** A seeded variation of the query: fill window, policy, and one sigmoid
    * parameter shifted.
    */
  private def variant(): TrendQuery = {
    val fills = Seq(-1, 0, 3, 7, 30)
    val keys = SigParams.defaults.keys.toSeq.sorted
    val key = keys(rnd.nextInt(keys.size))
    val p = SigParams.defaults(key)
    TrendQuery(fills(rnd.nextInt(fills.size)), FillPolicy.all(rnd.nextInt(FillPolicy.all.size)),
      params = SigParams.defaults.updated(key, p.copy(shift = p.shift + rnd.nextInt(5) - 2)))
  }

  private def collectAll(r: TrendMachine.TrendResult): Collected =
    (r.scored.collect().toSeq, r.transitions.collect().toSeq, r.headline.collect().toSeq)

  private def open(url: String, s: Spans): Collected = s("TrendMachine.open") {
    if (daily != null) daily.unpersist(blocking = false)
    val r = TrendMachine.run(store.of(Seq(url)), Query)
    daily = r.daily.persist()
    s("operators.Daily")(daily.count())
    collectAll(r)
  }

  private def rescore(q: TrendQuery, s: Spans): Collected =
    s("TrendMachine.rescore")(collectAll(TrendMachine.rescore(daily, q)))

  private def timed[T](kind: String, into: collection.mutable.Map[String, Vector[Double]])(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    into(kind) = into.getOrElse(kind, Vector.empty) :+ (System.nanoTime() - t0) / 1e6
    r
  }

  def run(t: Tracer): Probed = {
    val lat = collection.mutable.Map.empty[String, Vector[Double]]
    // untraced session: warms the request path and checks it
    val url = Gen.urlOfRank(zipf.next())
    val opened = open(url, NoSpans)
    val again = rescore(Query, NoSpans)
    def rows(xs: Seq[Row]) = xs.map(_.toString).sorted
    val checks = Seq(
      check("lookup_rescore_with_open_query_equals_open")(
        Checks.sameRows("scored", sorted(again._1), sorted(opened._1))
          .orElse(Checks.sameRows("transitions", rows(again._2), rows(opened._2)))
          .orElse(Checks.sameRows("headline", rows(again._3), rows(opened._3)))),
      check("lookup_open_equals_trend_run")(
        Checks.sameRows("open scored vs Trend.run", sorted(opened._1),
          sorted(Trend.run(store.of(Seq(url)), Query).collect().toSeq))))
    // traced session
    val tracedRank = zipf.next()
    val tracedUrl = Gen.urlOfRank(tracedRank)
    timed("open", lat)(open(tracedUrl, t))
    (1 to RescoresPerOpen).foreach { _ =>
      val q = variant()
      timed("rescore", lat)(rescore(q, t))
    }
    daily.unpersist()

    // the staged layers alone, on seeded URLs' persisted daily tables
    val fillQuery = TrendQuery(fill = -1, policy = FillPolicy.Closest)
    (1 to 2).foreach { _ =>
      val d = Daily.fromCaptures(store.of(Seq(Gen.urlOfRank(1 + rnd.nextInt(40))))).persist()
      d.count()
      val filled = t("operators.GapFill") {
        val f = GapFill.fill(d, fillQuery.fill, fillQuery.policy).persist()
        f.count()
        f
      }
      t("operators.Score")(noop(Score.scoreFilled(filled, fillQuery.params, fillQuery.asOf).toDF()))
      filled.unpersist()
      d.unpersist()
    }

    t.settle()
    val opens = t.spansNamed("TrendMachine.open").map(t.metrics)
    val requests = opens ++ t.spansNamed("TrendMachine.rescore").map(t.metrics)
    def perRequest(f: Tracer.SpanMetrics => Double) =
      if (requests.isEmpty) 0.0 else requests.map(f).sum / requests.size
    val readRows = opens.map(_.rowsRead).sum.toDouble
    Probed(Map(
      "sources.rows_read" -> (if (opens.isEmpty) 0.0 else readRows / opens.size),
      "sources.rows_read_per_row_returned" -> readRows / Gen.rankCounts(Gen.CaptureParams())(tracedRank - 1),
      "daily.build_s" -> medianOver(t, "operators.Daily")(_.wallMs / 1e3),
      "daily.jobs" -> medianOver(t, "operators.Daily")(_.jobs.toDouble),
      "gapfill.fill_s" -> medianOver(t, "operators.GapFill")(_.wallMs / 1e3),
      "score.score_s" -> medianOver(t, "operators.Score")(_.wallMs / 1e3),
      "api.jobs_per_request" -> perRequest(_.jobs.toDouble),
      "api.plan_ms_per_request" -> perRequest(_.planMs.toDouble)),
      checks, lat.toMap)
  }
}

/** The curation half on a seeded planted corpus: WARC payloads through
  * `Warc.parseWarcRecords`, `TextStats.extractText` and the
  * `Dedup` / `Corpus` stages one at a time, then `Corpus.docPipeline`
  * whole, whose verdict is checked against the plant.
  */
final class CurationProbe(spark: SparkSession, seed: Long, work: String) {
  import spark.implicits._
  val params = Gen.CorpusParams(singletons = 150)

  def run(t: Tracer): Probed = {
    val corpus = Gen.corpus(seed, params)
    val path = s"$work/data/warc"
    spark.sparkContext.parallelize(Gen.warcFiles(corpus).toIndexedSeq, spark.sparkContext.defaultParallelism)
      .toDF("file_id", "payload").write.mode("overwrite").parquet(path)
    def files() = spark.read.parquet(path)

    val parsed = t("sources.Warc") {
      val p = Warc.parseWarcRecords(files()).toDF().persist()
      p.count()
      p
    }
    val text = t("operators.TextStats") {
      val d = TextStats.extractText(parsed).persist()
      d.count()
      d
    }
    val sh = t("operators.Dedup.shingles") {
      val x = Dedup.shingles(text).persist()
      x.count()
      x
    }
    val (pairs, candidates, verified) = t("operators.Dedup.pairs") {
      val p = Dedup.nearDupPairsFromShingles(sh)
      (p, p.count(), p.filter(col("jaccard") >= Corpus.ClusterJaccard).count())
    }
    t("operators.Corpus.clusters")(noop(Corpus.dedupClustersFromPairs(text, pairs)))
    CacheScope.releaseAll()
    Seq(sh, text, parsed).foreach(_.unpersist())

    val t0 = System.nanoTime()
    val out = t("operators.Corpus.docPipeline") {
      val docs = TextStats.extractText(Warc.parseWarcRecords(files()).toDF())
      Corpus.docPipeline(docs).select("doc_id", "cluster", "keep").as[(Long, Long, Boolean)].collect()
    }
    val passMs = (System.nanoTime() - t0) / 1e6
    CacheScope.releaseAll()

    t.settle()
    def wall(n: String) = medianOver(t, n)(_.wallMs / 1e3)
    // each CC round ends in one convergence-sum `head()`, after one
    // initial sum; graft plans them on the loop's child session
    val rounds = medianOver(t, "operators.Corpus.clusters")(m => (m.queries.getOrElse("head", 1) - 1).toDouble)
    Probed(
      Map(
        "sources.warc_parse_s" -> wall("sources.Warc"),
        "textstats.extract_s" -> wall("operators.TextStats"),
        "dedup.shingle_s" -> wall("operators.Dedup.shingles"),
        "dedup.pairs_s" -> wall("operators.Dedup.pairs"),
        "dedup.candidate_pairs" -> candidates.toDouble,
        "dedup.verified_pairs" -> verified.toDouble,
        "dedup.verify_yield" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates),
        "corpus.cc_s" -> wall("operators.Corpus.clusters"),
        "corpus.cc_rounds" -> rounds,
        "corpus.pipeline_s" -> passMs / 1e3),
      Seq(
        check("curation_planted_pairs_share_a_cluster_and_unrelated_do_not")(
          Checks.clusters(out.map(r => r._1 -> r._2).toMap, corpus)),
        check("curation_keep_count_matches_plant")(Checks.keepCount(out.count(_._3), corpus))),
      Map("curation_pass" -> Seq(passMs)))
  }
}
