package graft.operators

import java.time.LocalDate

import graft.model.{FilledRow, ScoredRow, SigParams}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{col, udf}

/** S1: the stateful sigmoid recurrence — the staged pipeline's scorer.
  *
  * Reference: main.py:193-227. A sequential scan over each URL's
  * densified day series. On every specimen (resp. content) state change
  * the new run's amplitude is re-based on the score at the boundary
  * (`base = h; scale = base if spread < 0 else 1 - base; x = 0`), which
  * is a cross-run data dependency no window function can express — so
  * this one stage is a typed `groupByKey(url).flatMapGroups` fold.
  *
  * This is the declarative path's last stage ([[Trend.runStaged]],
  * [[Trend.runFromDaily]]): it scores a daily table that [[GapFill]]
  * already filled, densifying to `asOf` inline (identical semantics to
  * [[GapFill.densify]], which remains the standalone DataFrame operator)
  * so the staged pipeline needs only one shuffle downstream of the
  * fill — no calendar join. The fused path ([[Trend.run]]) and the
  * scored streams score with the per-url kernel in
  * [[graft.streaming.Streaming]] instead, one closed day at a time; the
  * two scorers are kept apart on purpose, so each checks the other.
  *
  * Scale design: per-URL series are tiny (≤ ~11k days for a 30-year
  * archive), so the in-memory sort+fold per key is O(small); millions of
  * URLs spread across executors on the url hash. State per group is
  * O(1).
  */
object Score {

  /** ISO day parse as an Option — the scorer's junk-day gate. Upstream
    * stages deliberately tolerate junk timestamps (they yield junk day
    * strings, matching the reference's Python slicing); such days carry
    * no calendar position, so scoring SKIPS them rather than crashing
    * mid-job (the reference's pd.date_range would throw). The daily
    * table still reports them.
    */
  private[graft] def parseDay(s: String): Option[LocalDate] =
    try Some(LocalDate.parse(s))
    catch { case _: java.time.format.DateTimeParseException => None }

  private val isDay = udf((d: String) => d != null && parseDay(d).nonEmpty)

  /** The daily rows whose day [[parseDay]] accepts — what the staged
    * fill and densify may see: their `to_date` casts would throw on a
    * junk day under ANSI mode, while the scorers skip such days. The
    * daily table itself still reports them.
    */
  def scorableDays(daily: DataFrame): DataFrame = daily.filter(isDay(col("day")))

  /** Score a densified per-day table (output of [[GapFill.densify]]). */
  def scoreDensified(
      densified: DataFrame,
      params: Map[String, SigParams]): Dataset[ScoredRow] = {
    val spark = densified.sparkSession
    import spark.implicits._
    val ds = densified
      .select(
        "url", "day", "datetime", "c2xx", "c3xx", "c4xx", "c5xx",
        "specimen", "digest", "content", "chaos", "chaosn")
      .as[FilledRow]
    ds.groupByKey(_.url).flatMapGroups { (url, it) =>
      val rows = it.toArray
      scala.util.Sorting.quickSort(rows)(Ordering.by((r: FilledRow) => r.day))
      scoreSeries(url, rows, params)
    }
  }

  /** Score straight from the (observed ∪ filled) table, densifying to
    * `asOf` inside the typed stage — the single-shuffle fast path used
    * by the flagship pipeline.
    */
  def scoreFilled(
      filledDf: DataFrame,
      params: Map[String, SigParams],
      asOf: String): Dataset[ScoredRow] = {
    val spark = filledDf.sparkSession
    import spark.implicits._
    val until = LocalDate.parse(asOf)
    val ds = filledDf
      .select(
        "url", "day", "datetime", "c2xx", "c3xx", "c4xx", "c5xx",
        "specimen", "digest", "content", "chaos", "chaosn")
      .as[FilledRow]
    ds.groupByKey(_.url).flatMapGroups { (url, it) =>
      val rows = it.filter(r => parseDay(r.day).nonEmpty).toArray
      scala.util.Sorting.quickSort(rows)(Ordering.by((r: FilledRow) => r.day))
      densifyAndScore(url, rows, params, until)
    }
  }

  /** J1 calendar loop + recurrence over one url's sorted (observed ∪
    * filled) rows (reference main.py:199-201). Fill rows are strictly
    * interior, so the head row is always an observed day.
    */
  private def densifyAndScore(
      url: String,
      rows: Array[FilledRow],
      params: Map[String, SigParams],
      until: LocalDate): Iterator[ScoredRow] = {
    if (rows.isEmpty) return Iterator.empty
    val byDay = rows.map(r => r.day -> r).toMap
    val first = LocalDate.parse(rows.head.day)
    val days = Iterator.iterate(first)(_.plusDays(1)).takeWhile(!_.isAfter(until))
    val series = days.map { d =>
      val t = d.toString
      byDay.getOrElse(t, FilledRow(url, t, "~", 0, 0, 0, 0, "~", "~", "Unknown", None, None))
    }.toArray
    scoreSeries(url, series, params)
  }

  /** The exact reference recurrence over one URL's day-ordered series
    * (reference main.py:194-227). Series rows must be densified
    * (consecutive days); chaos forward-fill happens here (W3).
    */
  private def scoreSeries(
      url: String,
      series: Array[FilledRow],
      params: Map[String, SigParams]): Iterator[ScoredRow] = {
    // Junk specimens (possible via lexicographic bucketing of codes like
    // "30x") would crash the reference's params lookup (main.py:209);
    // we deliberately fall back to the Unobserved ("~") parameters.
    def p(key: String, dflt: String): SigParams =
      params.getOrElse(key, params(dflt))

    var res = graft.model.DimState.resilienceInit
    var fix = graft.model.DimState.fixityInit
    var pch = 0.0
    var pchn = 0.0

    series.iterator.map { r =>
      // W3 chaos forward-fill (reference main.py:202-207): observed days
      // always carry chaos > 0; None marks filled/missing days.
      val (chaos, chaosn) = (r.chaos, r.chaosn) match {
        case (Some(c), Some(cn)) => pch = c; pchn = cn; (c, cn)
        case _                   => (pch, pchn)
      }
      res = res.step(r.specimen, p(r.specimen, "~"))
      fix = fix.step(r.content, p(r.content, "Unknown"))
      val resilience = res.h
      val fixity = fix.h
      val call = r.c2xx + r.c3xx + r.c4xx + r.c5xx
      ScoredRow(
        url = url,
        day = r.day,
        datetime = r.datetime,
        c2xx = r.c2xx,
        c3xx = r.c3xx,
        c4xx = r.c4xx,
        c5xx = r.c5xx,
        call = call,
        specimen = r.specimen,
        filled = r.specimen != "~" && call == 0,
        resilience = resilience,
        digest = r.digest,
        content = r.content,
        fixity = fixity,
        chaos = chaos,
        chaosn = chaosn)
    }
  }
}
