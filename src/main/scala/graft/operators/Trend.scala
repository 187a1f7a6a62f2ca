package graft.operators

import graft.model.{Capture, ScoredRow, TrendQuery}
import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col

/** Public batch API: captures in, scored daily series out
  * (reference lifecycle: main.py:371, load_data at main.py:186-248).
  */
object Trend {

  /** Full pipeline in ONE url-keyed shuffle: each url's captures run
    * through the per-url trend kernel ([[graft.streaming.Streaming]]) —
    * the fused daily fold the reference runs (main.py:143-182) feeding
    * gap fill, densify and the sigmoid recurrence (main.py:193-227) one
    * closed day at a time, then densified to `asOf`. The scored streams
    * run the same kernel, so a stream's closed prefix equals this table
    * by construction.
    *
    * Grouping is on the `url` column, so the map side only hash-
    * partitions rows; the typed `groupByKey(_.url)` would deserialize
    * every capture to compute its key (an `AppendColumns` step).
    *
    * The staged declarative pipeline ([[runStaged]]: Daily -> GapFill ->
    * Score) returns the same rows through independent code; it remains
    * the right shape when the daily table is a persisted intermediate
    * shared across many downstream queries ([[runFromDaily]]). This path
    * wins when scoring straight from captures: per-url capture sets are
    * bounded (~3M under the reference's page cap) so the in-partition
    * fold is O(bounded), and millions of urls spread on the url hash.
    */
  def run(captures: DataFrame, query: TrendQuery): Dataset[ScoredRow] = {
    val spark = captures.sparkSession
    import spark.implicits._
    captures
      .select("url", "ts", "status", "digest", "seq")
      .groupBy(col("url"))
      .as[String, Capture]
      .flatMapGroups((url, rows) => Streaming.scoreCaptures(url, rows, query, tail = true))
  }

  /** The declarative staged pipeline: daily aggregation -> gap fill ->
    * densify+score. Same results as [[run]]; used when the daily table
    * should remain a Catalyst-visible (pushdown/prune-able) DataFrame.
    */
  def runStaged(captures: DataFrame, query: TrendQuery): Dataset[ScoredRow] =
    runFromDaily(Daily.fromCaptures(captures), query)

  /** Stage-split variant mirroring the reference's cache boundary
    * (main.py:129 vs 186): the daily table is the natural materialized
    * intermediate — persist it, then re-run only fill+score on
    * parameter changes. Junk days (see [[Score.parseDay]]) stay in the
    * daily table but never reach the fill.
    */
  def runFromDaily(dailyDf: DataFrame, query: TrendQuery): Dataset[ScoredRow] = {
    val filled = GapFill.fill(Score.scorableDays(dailyDf), query.fill, query.policy)
    Score.scoreFilled(filled, query.params, query.asOf)
  }
}
