package graft

import graft.model.{FillPolicy, SigParams, TrendQuery}
import graft.operators.{Ann, Corpus, Daily, Dedup, GapFill, Metrics, Multimodal, Report, Score, TextStats, Trend}
import graft.sources.Cdx
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Every driver-checkable query, one per SURVEY §2 operator (plus the
  * training-data pipeline operators). Each query's DuckDB twin lives in
  * [[Oracle]]; output columns and row ordering are kept byte-identical.
  */
object Queries {

  /** Injected "today" — see SparkEntry.AsOf. */
  val AsOf = "2024-03-01"

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  def captures(s: SparkSession, dir: String): DataFrame = Cdx.fromEvents(s, dir)

  /** The session object itself keys its cache (identity semantics —
    * SparkSession doesn't override equals), so a stale entry can never
    * be handed to a different session. NOTE: the cached DataFrames hold
    * strong references back to their session, so entries are NOT
    * GC-reclaimed — the map is bounded by (live sessions x sf dirs) and
    * long-lived drivers cycling sessions should call [[clearDailyCache]]
    * on session stop.
    */
  private val dailyCache =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, DataFrame]]()

  /** Drop and unpersist a stopped session's cached daily tables. */
  def clearDailyCache(s: SparkSession): Unit = dailyCache.synchronized {
    Option(dailyCache.remove(s)).foreach(_.values.foreach { df =>
      try df.unpersist(blocking = false) catch { case _: Throwable => () }
    })
  }

  /** SNK2: the daily table is the reference's disk-cached materialized
    * intermediate (main.py:129 — load_cdx is cached, fill+score re-run
    * on parameter change). Mirror that cache split: compute once per
    * (session, dir), persist, and let every downstream query reuse it —
    * otherwise each of the ~20 daily-derived queries re-runs the
    * captures scan + three window shuffles.
    */
  private def dailyDf(s: SparkSession, dir: String): DataFrame =
    dailyCache.synchronized {
      val perSession = dailyCache.computeIfAbsent(
        s, _ => scala.collection.mutable.Map.empty[String, DataFrame])
      perSession.getOrElseUpdate(
        dir,
        Daily.fromCaptures(captures(s, dir))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }

  // ---------------------------------------------------------------- P1-P4
  /** Parse/projection stage: day derivation, status-class bucketing,
    * digest truncation (SURVEY P1-P4).
    */
  def cdxParse(s: SparkSession, dir: String): DataFrame =
    captures(s, dir)
      .select(
        col("url"),
        col("seq"),
        col("ts"),
        concat_ws("-", substring(col("ts"), 1, 4), substring(col("ts"), 5, 2), substring(col("ts"), 7, 2)).as("day"),
        Daily.statusClass(col("status")).as("status_class"),
        substring(col("digest"), 1, 8).as("digest8"))
      .orderBy("url", "seq")

  // ------------------------------------------------------------------- A4
  /** Order-sensitive digest->status imputation for revisit records. */
  def digestImpute(s: SparkSession, dir: String): DataFrame =
    Daily.enrich(captures(s, dir))
      .select(col("url"), col("seq"), col("s").as("status_imputed"))
      .orderBy("url", "seq")

  // ------------------------------------------------------------------- A1
  def dailyCounts(s: SparkSession, dir: String): DataFrame =
    dailyDf(s, dir)
      .select(col("url"), col("day"), col("c2xx"), col("c3xx"), col("c4xx"), col("c5xx"),
        (col("c2xx") + col("c3xx") + col("c4xx") + col("c5xx")).as("call"))
      .orderBy("url", "day")

  // ------------------------------------------------------------------- A2
  def dailySpecimen(s: SparkSession, dir: String): DataFrame =
    dailyDf(s, dir)
      .select(col("url"), col("day"), col("specimen"), col("datetime"), col("digest").as("digest8"))
      .orderBy("url", "day")

  // ------------------------------------------------------------------- A3
  def dailyContent(s: SparkSession, dir: String): DataFrame =
    dailyDf(s, dir)
      .select(col("url"), col("day"), col("content"))
      .orderBy("url", "day")

  /** Trailing-window capture-volume anomaly flags per (url, day). */
  def dailyAnomalies(s: SparkSession, dir: String): DataFrame =
    Metrics.dailyAnomalies(dailyDf(s, dir)).orderBy("url", "day")

  // --------------------------------------------------------------- W1/W2
  /** Per-day chaos snapshots (cumulative + last-1000-capture window). */
  def chaosDaily(s: SparkSession, dir: String): DataFrame =
    dailyDf(s, dir)
      .select(col("url"), col("day"), col("chaos"), col("chaosn"))
      .orderBy("url", "day")

  // ------------------------------------------------------------------ A13
  /** Distinct timestamp prefixes at six granularities, per URL.
    *
    * Dedup-first shape: every coarser prefix is a prefix of the
    * second-level one, so distinct (url, second-prefix) FIRST, then
    * count distincts over the deduped set. A direct 6-way countDistinct
    * would run Spark's Expand (6x every capture row) before the shuffle;
    * here the expand touches only distinct seconds — at archive scale,
    * orders of magnitude fewer rows — and n_second becomes a plain
    * count.
    */
  def periodicSamples(s: SparkSession, dir: String): DataFrame =
    captures(s, dir)
      .select(col("url"), substring(col("ts"), 1, 14).as("p14"))
      .distinct()
      .groupBy("url")
      .agg(
        count(lit(1)).as("n_second"),
        countDistinct(substring(col("p14"), 1, 12)).as("n_minute"),
        countDistinct(substring(col("p14"), 1, 10)).as("n_hour"),
        countDistinct(substring(col("p14"), 1, 8)).as("n_day"),
        countDistinct(substring(col("p14"), 1, 6)).as("n_month"),
        countDistinct(substring(col("p14"), 1, 4)).as("n_year"))
      .orderBy("url")

  // ------------------------------------------------------------------- A5
  /** Monthly rollup anchored at the 15th (string month key,
    * reference main.py:384).
    */
  def monthlyRollup(s: SparkSession, dir: String): DataFrame =
    dailyCounts(s, dir)
      .groupBy(col("url"), concat(substring(col("day"), 1, 8), lit("15")).as("month"))
      .agg(
        sum("c2xx").as("c2xx"),
        sum("c3xx").as("c3xx"),
        sum("c4xx").as("c4xx"),
        sum("c5xx").as("c5xx"),
        sum("call").as("call"))
      .orderBy("url", "month")

  // ------------------------------------------------------------------- A7
  /** Column totals melted to (status, total) (reference main.py:386). */
  def totalsUnpivot(s: SparkSession, dir: String): DataFrame =
    dailyCounts(s, dir)
      .groupBy("url")
      .agg(
        sum("c2xx").as("c2xx"),
        sum("c3xx").as("c3xx"),
        sum("c4xx").as("c4xx"),
        sum("c5xx").as("c5xx"),
        sum("call").as("call"))
      .selectExpr(
        "url",
        "stack(5, 'c2xx', c2xx, 'c3xx', c3xx, 'c4xx', c4xx, 'c5xx', c5xx, 'call', call) as (status, total)")
      .orderBy("url", "status")

  // ------------------------------------------------------------------- A6
  /** describe()-style summary per status column over observed days with
    * zeros nulled (reference main.py:385): count, mean, std, min,
    * q1/median/q3 (linear interpolation), max.
    */
  def summaryStats(s: SparkSession, dir: String): DataFrame =
    dailyCounts(s, dir)
      .selectExpr(
        "url",
        "stack(5, 'c2xx', c2xx, 'c3xx', c3xx, 'c4xx', c4xx, 'c5xx', c5xx, 'call', call) as (status, cnt)")
      .withColumn("cnt", when(col("cnt") === 0, lit(null)).otherwise(col("cnt")))
      .groupBy("url", "status")
      .agg(
        count("cnt").as("n"),
        avg("cnt").as("mean"),
        // nanvl: Spark stddev_samp of a single value is NaN where
        // DuckDB's is NULL — both must land on 0.0
        round(coalesce(nanvl(stddev_samp(col("cnt")), lit(null)), lit(0.0)), 6).as("std"),
        coalesce(min("cnt"), lit(0L)).as("min"),
        coalesce(expr("percentile(cnt, 0.25)"), lit(0.0)).as("q1"),
        coalesce(expr("percentile(cnt, 0.5)"), lit(0.0)).as("median"),
        coalesce(expr("percentile(cnt, 0.75)"), lit(0.0)).as("q3"),
        coalesce(max("cnt"), lit(0L)).as("max"))
      .withColumn("mean", coalesce(col("mean"), lit(0.0)))
      .orderBy("url", "status")

  // ------------------------------------------------------------------- J1
  /** Calendar densification, fill disabled (reference main.py:199-201). */
  def densifyCalendar(s: SparkSession, dir: String): DataFrame =
    GapFill.densify(dailyDf(s, dir), AsOf)
      .select(col("url"), col("day"), col("specimen"), col("content"), col("filled"), col("call"))
      .orderBy("url", "day")

  // ---------------------------------------------------------------- G1-G6
  private def fillQuery(policy: FillPolicy)(s: SparkSession, dir: String): DataFrame =
    GapFill.fill(dailyDf(s, dir), -1, policy)
      .select(
        col("url"),
        col("day"),
        col("specimen"),
        (col("specimen") =!= "~" && col("c2xx") + col("c3xx") + col("c4xx") + col("c5xx") === 0).as("filled"))
      .orderBy("url", "day")

  def fillForward(s: SparkSession, dir: String): DataFrame = fillQuery(FillPolicy.Forward)(s, dir)
  def fillBackward(s: SparkSession, dir: String): DataFrame = fillQuery(FillPolicy.Backward)(s, dir)
  def fillClosest(s: SparkSession, dir: String): DataFrame = fillQuery(FillPolicy.Closest)(s, dir)
  def fillIdentical(s: SparkSession, dir: String): DataFrame = fillQuery(FillPolicy.Identical)(s, dir)

  // ---------------------------------------------------------------- as-of
  /** Backward as-of join ([[graft.operators.AsOf.asofJoin]]): each
    * observed day joined to the most recent content-change day at or
    * before it for the same url — "state as of" is the time-series
    * lookup the reference's digest-imputation dict performs implicitly
    * (SURVEY §2.4 notes A4/J2 is an as-of join in disguise). DuckDB's
    * native ASOF JOIN is the oracle twin.
    */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyDf(s, dir)
    val left = daily.select(col("url"), col("day"), col("specimen"))
    val right = daily.filter(col("content") === "Changed")
      .select(
        col("url"),
        col("day").as("rday"),
        col("day").as("chg_day"),
        col("digest").as("chg_digest"))
    graft.operators.AsOf
      .asofJoin(left, right, Seq("url"), "day", "rday", Seq("chg_day", "chg_digest"))
      .orderBy("url", "day")
  }

  /** Strictly-before variant: a change on the day itself is invisible
    * ("previous state" semantics) — each url's first observed day, being
    * its own change, carries null payload. Twin uses DuckDB ASOF with
    * `>` instead of `>=`.
    */
  def asofJoinStrict(s: SparkSession, dir: String): DataFrame = {
    val daily = dailyDf(s, dir)
    val left = daily.select(col("url"), col("day"), col("specimen"))
    val right = daily.filter(col("content") === "Changed")
      .select(
        col("url"),
        col("day").as("rday"),
        col("day").as("chg_day"),
        col("digest").as("chg_digest"))
    graft.operators.AsOf
      .asofJoin(left, right, Seq("url"), "day", "rday", Seq("chg_day", "chg_digest"),
        strict = true)
      .orderBy("url", "day")
  }

  // ------------------------------------------------------------ A11/A12/J4
  /** 4x4 specimen transition matrix over the densified series with the
    * reference's skip + first-row-deadlock semantics (main.py:232-246).
    */
  def transitions(s: SparkSession, dir: String): DataFrame =
    Report.transitions(GapFill.densify(dailyDf(s, dir), AsOf))
      .orderBy("url", "src", "tgt")

  // ------------------------------------------------------------------- W7
  /** Run segmentation: contiguous same-specimen day runs. */
  def runSegments(s: SparkSession, dir: String): DataFrame = {
    val densified = GapFill.densify(dailyDf(s, dir), AsOf)
    val w = Window.partitionBy("url").orderBy("day")
    densified
      // first-row sentinel " " matches the DuckDB twin's `coalesce(lag
      // ...), ' ')` textually: specimen values ('~', '2xx', ...) never
      // equal it, and a space keeps the registry greppable as plain text
      .withColumn("changed", (col("specimen") =!= coalesce(lag(col("specimen"), 1).over(w), lit(" "))).cast("long"))
      .withColumn("run_id", sum("changed").over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("url", "run_id")
      .agg(
        first("specimen").as("specimen"),
        min("day").as("start_day"),
        max("day").as("end_day"),
        count(lit(1)).as("days"))
      .orderBy("url", "run_id")
  }

  // ------------------------------------------------------------------ A10
  /** Content value counts over the densified series (main.py:390). */
  def fixityCounts(s: SparkSession, dir: String): DataFrame =
    GapFill.densify(dailyDf(s, dir), AsOf)
      .groupBy("url", "content")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("url", "content")

  // ------------------------------------------------------------- A8/A9/A14
  /** Active / filled / missing day breakdown plus capture totals and OK
    * ratio (reference main.py:388-394), under fill=-1/forward.
    */
  def specimenBreakdown(s: SparkSession, dir: String): DataFrame = {
    val densified = GapFill.densify(
      GapFill.fill(dailyDf(s, dir), -1, FillPolicy.Forward), AsOf)
    densified
      .groupBy("url")
      .agg(
        sum(when(col("call") > 0, 1L).otherwise(0L)).as("active"),
        sum(when(col("filled"), 1L).otherwise(0L)).as("filled"),
        sum(when(col("call") === 0 && !col("filled"), 1L).otherwise(0L)).as("missing"),
        sum("call").as("captures"),
        round(sum("c2xx").cast("double") / sum("call") * 100, 6).as("ok_pct"))
      .orderBy("url")
  }

  // ----------------------------------------------------------- W4/W5/P5/P7
  /** Score-free headline metrics per url: span/gaps/activity/ymd/URIM
    * (reference main.py:393-405 minus the score columns).
    */
  def spanMetrics(s: SparkSession, dir: String): DataFrame =
    Metrics.spanMetrics(
      GapFill.densify(GapFill.fill(dailyDf(s, dir), -1, FillPolicy.Forward), AsOf), AsOf)
      .orderBy("url")

  /** Full six-metric headline row (resilience/fixity deltas included) —
    * rows-only for the oracle (stateful scores).
    */
  def metrics(s: SparkSession, dir: String): DataFrame =
    Metrics.headline(scored(s, dir)).orderBy("url")

  // ------------------------------------------------------------------- S1
  /** Full scored pipeline — the flagship. Not SQL-expressible (stateful
    * cross-run recurrence), so driver-checked rows-only.
    */
  def scored(s: SparkSession, dir: String): DataFrame =
    Trend.runFromDaily(dailyDf(s, dir), TrendQuery(fill = -1, policy = FillPolicy.Forward, asOf = AsOf))
      .toDF()
      // query-level round(6): puts the recurrence under the DuckDB
      // recursive-CTE oracle (absorbs last-ulp exp() differences);
      // Trend.run itself stays raw
      .withColumn("resilience", round(col("resilience"), 6))
      .withColumn("fixity", round(col("fixity"), 6))
      .orderBy("url", "day")

  /** The BASELINE protocol's multi-URL synthetic scoring run: 1M
    * captures x 200 urls generated distributedly (spark.range, no data
    * files, no driver loops) through the FULL pipeline — the headline
    * throughput number for the flagship path. Output is one scored day
    * row per (url, day): ~9k rows from 1M captures.
    */
  def scoredScale(s: SparkSession, dir: String): DataFrame = {
    // the ONE synthetic generator — ScaleBench parameterizes the same
    // definition, so the scaling probe benchmarks exactly the workload
    // this oracle-pinned query verifies
    val caps = ScaleBench.captures(s, 1000000L, 200)
    Trend.run(caps, TrendQuery(fill = -1, policy = FillPolicy.Forward, asOf = "2024-04-01"))
      .toDF()
      .withColumn("resilience", round(col("resilience"), 6))
      .withColumn("fixity", round(col("fixity"), 6))
      .orderBy("url", "day")
  }

  /** Resilience/fixity series projection of [[scored]] (whose scores
    * are already rounded to 6 for the recursive-CTE oracle).
    */
  def scoreSeries(s: SparkSession, dir: String): DataFrame =
    scored(s, dir).select(
      col("url"), col("day"), col("specimen"), col("content"),
      col("resilience"), col("fixity"), col("chaos"), col("chaosn"))

  // ------------------------------------------------------------------- S3
  /** Sigmoid reference curves for the 8 default parameter sets
    * (reference main.py:251-257).
    */
  def sigmoidShape(s: SparkSession, dir: String): DataFrame = {
    val params = SigParams.defaults.toSeq.map { case (k, p) => (k, p.shift, p.slope, p.spread) }
    val pdf = s.createDataFrame(params).toDF("key", "shift", "slope", "spread")
    s.range(101)
      .withColumnRenamed("id", "x")
      .crossJoin(broadcast(pdf))
      .select(
        col("key"),
        col("x"),
        round(
          when(col("spread") < 0, 1.0).otherwise(0.0) +
            col("spread") / (lit(1.0) + exp(col("shift") - col("x").cast("double") / col("slope"))),
          6).as("h"))
      .orderBy("key", "x")
  }

  // ----------------------------------------------------- generic relational
  /** TPC-H Q1-style pricing summary; decimal-exact sums. */
  def tpchQ1(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_base_price"),
        // All-decimal arithmetic: casting each money-like factor to
        // decimal(18,2) is unambiguous, and decimal multiply/sum are
        // exact — a double->decimal(28,12) cast of the product would
        // round differently between engines (half-up vs half-even).
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("sum_disc_price"),
        round(avg("l_quantity"), 6).as("avg_qty"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Star-schema join: revenue per region/nation, broadcast dims. */
  def revenueByNation(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders")
      .join(broadcast(table(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(table(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(table(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy("r_name", "n_name")

  /** Top-3 orders per customer by price (window ranking). */
  def topOrdersPerCustomer(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    table(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("o_custkey", "rn")
  }

  /** Tumbling 1-day event-time windows per event type (ST2 batch
    * analog).
    */
  def eventDailyWindows(s: SparkSession, dir: String): DataFrame =
    Cdx.readEvents(s, dir)
      .groupBy(
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("day", "event_type")

  /** Gap-based sessionization (12 h gap) via native session_window. */
  def eventSessions(s: SparkSession, dir: String): DataFrame =
    operators.Sessions.sessionize(Cdx.readEvents(s, dir))
      .orderBy("user_id", "session_seq")

  /** Cohort retention matrix (first-active-day cohorts). */
  def eventRetention(s: SparkSession, dir: String): DataFrame =
    operators.Sessions.retention(Cdx.readEvents(s, dir))
      .orderBy("cohort_day", "day_offset")

  /** Ordered view→click→purchase funnel, first-touch chain per user. */
  def eventFunnel(s: SparkSession, dir: String): DataFrame =
    operators.Sessions.funnel(Cdx.readEvents(s, dir)).orderBy("user_id")

  /** First-order event-type Markov transition matrix. */
  def eventMarkov(s: SparkSession, dir: String): DataFrame =
    operators.Sessions.markovTransitions(Cdx.readEvents(s, dir))
      .orderBy("prev_type", "cur_type")

  // --------------------------------------------- training-data pipeline ops
  private def docs(s: SparkSession, dir: String): DataFrame = table(s, dir, "documents")

  /** The documents table hash-repartitioned by doc_id to the session's
    * shuffle width, for feeding PER-ROW SYNTHESIS/CODEC KERNELS (guide
    * §2.5 input skew): the corpus parquet packs into one scan split at
    * bench scale (one small file = one task), so every payload
    * synthesis + container parse + decode chain downstream of the scan
    * ran near-serial while the rest of the cluster idled — round-19
    * ProfileOne measured the whole mm_video/mm_anchor families on 2
    * tasks. One ~MB exchange of the raw text rows buys a full-width
    * fused kernel stage; row-wise kernels are placement-independent,
    * so results are identical. Kept for queries whose dominant cost is
    * a compute kernel, NOT added to cheap projection/aggregate queries
    * where the extra exchange would cost more than it buys.
    */
  private def spreadDocs(s: SparkSession, dir: String): DataFrame = {
    val n = scala.util.Try(
      s.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(200)
    docs(s, dir).repartition(n, col("doc_id"))
  }

  /** Exact dedup: content-hash groups with canonical survivor. */
  def docExactDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(docs(s, dir)).orderBy("doc_id")

  /** MinHash-LSH near-dup candidate pairs + exact shingle Jaccard. */
  def docNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupPairs(docs(s, dir)).orderBy("doc_a", "doc_b")

  /** [[docNearDup]] with the band-bucket cap forced DOWN to 2 so the
    * sampling coin actively fires on this corpus (every fixture bucket
    * is under the production default of [[graft.operators.BandCap
    * .DefaultCap]]): the oracle replaying the identical survivor set
    * is the proof the cap is deterministic, not just bounded.
    */
  def docNearDupCapped(s: SparkSession, dir: String): DataFrame =
    Dedup.nearDupPairsFromShingles(
      graft.operators.CacheScope.persist(Dedup.shingles(docs(s, dir))), 2)
      .orderBy("doc_a", "doc_b")

  /** The overflow census for a cap=2 run — [[graft.operators.BandCap
    * .overflowBuckets]]: every (band, sig) bucket the cap would
    * sample, with its true size, so capping is reported, never silent.
    */
  def docBandOverflow(s: SparkSession, dir: String): DataFrame =
    graft.operators.BandCap.overflowBuckets(
      Dedup.bandSignatures(docs(s, dir)), Seq("band", "sig"), 2)
      .orderBy("band", "sig")

  /** 32-bit SimHash fingerprints. */
  def docSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhash(docs(s, dir)).orderBy("doc_id")

  /** SimHash banded near-dup pairs (Hamming <= 6). */
  def docSimhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(docs(s, dir)).orderBy("doc_a", "doc_b")

  /** Token statistics per document. */
  def docTokenStats(s: SparkSession, dir: String): DataFrame =
    TextStats.tokenStats(docs(s, dir)).orderBy("doc_id")

  /** Trained subword vocabulary (top-k frequent substrings). */
  def docSubwordVocab(s: SparkSession, dir: String): DataFrame =
    TextStats.subwordVocab(docs(s, dir)).orderBy("rank")

  /** TRUE-BPE merge cache — the [[kmeansCenters]] contract: trained
    * once per (session, dir) so the identical literal merge table
    * reaches both the Spark apply and the DuckDB VALUES twin.
    */
  private val bpeMergeCache =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, Array[TextStats.BpeMerge]]]()

  def bpeTrainedMerges(s: SparkSession, dir: String): Array[TextStats.BpeMerge] =
    bpeMergeCache.synchronized {
      val perSession = bpeMergeCache.computeIfAbsent(
        s, _ => scala.collection.mutable.Map.empty[String, Array[TextStats.BpeMerge]])
      perSession.getOrElseUpdate(dir, TextStats.bpeMerges(docs(s, dir)))
    }

  /** The trained TRUE-BPE merge table as a row: iterative pair-merge
    * training ([[TextStats.bpeMerges]] — one distributed aggregate
    * per round, the Lloyd-loop discipline), materialized for the
    * VALUES twin. EngineProps pins training parity against an
    * independent single-machine BPE implementation.
    */
  def docSubwordVocabBpe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    bpeTrainedMerges(s, dir).toSeq.toDS().toDF()
      .select(col("rank"), col("left"), col("right"), col("merged"), col("freq"))
      .orderBy("rank")
  }

  /** Per-doc token statistics under the TRUE-BPE vocabulary — the
    * apply half: merges ride the closure, the twin replays the exact
    * rank-ordered left-to-right merge walk as a recursive CTE.
    */
  def docTokenStatsBpeTrue(s: SparkSession, dir: String): DataFrame =
    TextStats.tokenStatsBpeTrue(docs(s, dir), bpeTrainedMerges(s, dir))
      .orderBy("doc_id")

  /** Real-token statistics through the trained subword vocab. */
  def docTokenStatsBpe(s: SparkSession, dir: String): DataFrame =
    TextStats.tokenStatsSubword(docs(s, dir)).orderBy("doc_id")

  /** Tokenizer selection card — one row per tokenizer family (greedy
    * frequent-substring, true BPE, unigram-LM) with corpus-level
    * token volume and tokens-per-whitespace-word: the read a pipeline
    * runs when CHOOSING its tokenizer (compression rate at equal
    * vocab budget). Each leg is an already-verified token-stats query
    * reduced to a one-row aggregate; the twin nests the greedy static
    * twin and the two dynamic twins as WITH-scoped subqueries.
    */
  def docTokenizerCompare(s: SparkSession, dir: String): DataFrame = {
    def leg(name: String, stats: DataFrame, tokCol: String): DataFrame =
      stats
        .agg(
          sum("n_tokens_ws").cast("long").as("n_tokens_ws"),
          sum(tokCol).cast("long").as("n_tokens"))
        .select(
          lit(name).as("tokenizer"),
          col("n_tokens_ws"),
          col("n_tokens"),
          round(col("n_tokens").cast("double") / col("n_tokens_ws"), 6)
            .as("tokens_per_ws"))
    leg("bpe_true",
      TextStats.tokenStatsBpeTrue(docs(s, dir), bpeTrainedMerges(s, dir)),
      "n_tokens_bpe")
      .unionByName(leg("greedy",
        TextStats.tokenStatsSubword(docs(s, dir)), "n_tokens_bpe"))
      .unionByName(leg("unigram",
        TextStats.tokenStatsUnigram(docs(s, dir), unigramTrainedPieces(s, dir)),
        "n_tokens_uni"))
      .orderBy("tokenizer")
  }

  private val unigramCache =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, Array[TextStats.UnigramPiece]]]()

  /** Train the unigram-LM pieces ONCE per (session, dir), persist the
    * artifact and load it back — the save/load round trip is part of
    * the fixture, so the registered rows prove the frozen-artifact
    * apply path end to end.
    */
  def unigramTrainedPieces(s: SparkSession, dir: String): Array[TextStats.UnigramPiece] =
    unigramCache.synchronized {
      val perSession = unigramCache.computeIfAbsent(
        s, _ => scala.collection.mutable.Map.empty[String, Array[TextStats.UnigramPiece]])
      perSession.getOrElseUpdate(
        dir, {
          // withScope, NOT releaseAll: lazy training triggered mid-query
          // (docTokenizerCompare, the dynamic oracle map) must release
          // only the trainer's own persists — a session-global drain
          // here unpersisted frames an ENCLOSING query had registered,
          // forcing recomputation
          val trained = graft.operators.CacheScope.withScope {
            TextStats.unigramPieces(docs(s, dir))
          }
          val p = java.nio.file.Files.createTempDirectory("graft_unigram_").toString
          TextStats.saveUnigramPieces(s, trained, p)
          TextStats.loadUnigramPieces(s, p)
        })
    }

  /** The trained unigram-LM piece table as a row: EM training
    * ([[TextStats.unigramPieces]] — one distributed integer aggregate
    * per round), materialized for the VALUES twin. EngineProps pins
    * seed/EM/prune/score parity against an independent single-machine
    * implementation.
    */
  def docSubwordVocabUnigram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    unigramTrainedPieces(s, dir).toSeq.toDS().toDF()
      .select(col("piece"), col("cnt_micro"), col("score_micro"))
      .orderBy(col("cnt_micro").desc, col("piece"))
  }

  /** Per-doc token statistics under the unigram tokenizer — the apply
    * half: the twin DERIVES the identical integer Viterbi (max score,
    * then min tokens) as a recursive CTE carrying a 4-position DP
    * window over the materialized piece scores.
    */
  def docTokenStatsUnigram(s: SparkSession, dir: String): DataFrame =
    TextStats.tokenStatsUnigram(docs(s, dir), unigramTrainedPieces(s, dir))
      .orderBy("doc_id")

  /** The tokenizer train/apply split end-to-end: a vocab trained on
    * ONE corpus (every third document — standing in for "batch 1" /
    * the frozen reference corpus), persisted as a parquet artifact,
    * loaded back, and applied to a DIFFERENT corpus (all documents —
    * "batch 2"). The values differ from `doc_token_stats_bpe`
    * wherever the full corpus's vocab would have: cross-batch token
    * budgets only mean anything under one frozen vocab.
    */
  private val vocabArtifactCache =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, String]]()

  def docTokenStatsBpeStored(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    // train + persist ONCE per (session, dir) — that is the artifact's
    // whole point; repeated invocations (bench sweeps) tokenize through
    // the already-stored vocab
    val vocabDir = vocabArtifactCache.synchronized {
      val perSession = vocabArtifactCache.computeIfAbsent(
        s, _ => scala.collection.mutable.Map.empty[String, String])
      perSession.getOrElseUpdate(
        dir, {
          val p = java.nio.file.Files.createTempDirectory("graft_vocab_").toString
          TextStats.saveSubwordVocab(
            TextStats.subwordVocab(d.filter(col("doc_id") % 3 === 0)), p)
          p
        })
    }
    TextStats.tokenStatsWith(d, TextStats.loadSubwordVocab(s, vocabDir))
      .orderBy("doc_id")
  }

  /** Marker-scoring language ID. */
  def docLangId(s: SparkSession, dir: String): DataFrame =
    TextStats.langId(docs(s, dir)).orderBy("doc_id")

  /** Pretraining quality heuristics. */
  def docQuality(s: SparkSession, dir: String): DataFrame =
    TextStats.quality(docs(s, dir)).orderBy("doc_id")

  /** Word-distribution entropy (gibberish / repetition detector). */
  def docEntropy(s: SparkSession, dir: String): DataFrame =
    TextStats.entropy(docs(s, dir)).orderBy("doc_id")

  /** Hashed-feature linear quality classifier (fasttext-style). */
  def docQualityModel(s: SparkSession, dir: String): DataFrame =
    TextStats.qualityModel(docs(s, dir)).orderBy("doc_id")

  /** Trained-weight cache — the [[kmeansCenters]] contract: the fitted
    * (bucket, weight_milli) table and bias are collected once per
    * (session, dir) so the identical literals reach the Spark plan and
    * the DuckDB VALUES twin.
    */
  private val qmTrainedCache =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, (Array[(Long, Long)], Long)]]()

  def qualityModelWeights(s: SparkSession, dir: String): (Array[(Long, Long)], Long) =
    qmTrainedCache.synchronized {
      val perSession = qmTrainedCache.computeIfAbsent(
        s, _ => scala.collection.mutable.Map.empty[String, (Array[(Long, Long)], Long)])
      perSession.getOrElseUpdate(
        dir,
        graft.operators.CacheScope.withScope {
          TextStats.trainQualityWeights(docs(s, dir))
        })
    }

  /** [[docQualityModel]] with TRAINED weights: MLlib logistic
    * regression distills the heuristic verdict into the hashed linear
    * model on the deterministic train split, and the fitted milli
    * weights score through the identical integer pipeline.
    */
  def docQualityModelTrained(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (w, bias) = qualityModelWeights(s, dir)
    TextStats.qualityModelWith(
      docs(s, dir), w.toSeq.toDF("bucket", "weight_milli"), bias)
      .orderBy("doc_id")
  }

  /** STORED-weights cache: trained on a DIFFERENT corpus (every other
    * document — "batch 1"), persisted through the parquet artifact and
    * loaded back, so the registered row proves cross-batch scoring
    * with a frozen classifier. Same literal-materialization contract
    * as [[qualityModelWeights]].
    */
  def qualityModelWeightsStored(s: SparkSession, dir: String): (Array[(Long, Long)], Long) =
    qmTrainedCache.synchronized {
      val perSession = qmTrainedCache.computeIfAbsent(
        s, _ => scala.collection.mutable.Map.empty[String, (Array[(Long, Long)], Long)])
      perSession.getOrElseUpdate(
        s"$dir#stored", {
          val (w, b) = graft.operators.CacheScope.withScope {
            TextStats.trainQualityWeights(docs(s, dir).filter(col("doc_id") % 2 === 0))
          }
          val p = java.nio.file.Files.createTempDirectory("graft_qweights_").toString
          TextStats.saveQualityWeights(s, p, w, b)
          TextStats.loadQualityWeights(s, p)
        })
    }

  /** [[docQualityModelTrained]] through a PERSISTED weights artifact
    * trained on batch 1 (every other doc) and applied to the full
    * corpus — the classifier's train/apply split end-to-end.
    */
  def docQualityModelStored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (w, bias) = qualityModelWeightsStored(s, dir)
    TextStats.qualityModelWith(
      docs(s, dir), w.toSeq.toDF("bucket", "weight_milli"), bias)
      .orderBy("doc_id")
  }

  /** Per-split confusion counts + accuracy/precision/recall of the
    * TRAINED classifier vs the heuristic label — the quality-model
    * analogue of `ann_recall_report`.
    */
  def docQualityEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (w, bias) = qualityModelWeights(s, dir)
    TextStats.qualityEval(
      docs(s, dir), w.toSeq.toDF("bucket", "weight_milli"), bias)
      .orderBy("split")
  }

  /** One-row classifier health verdict with the retrain hand-off —
    * the quality-model analogue of `ann_index_health`.
    */
  def docQualityHealth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (w, bias) = qualityModelWeights(s, dir)
    TextStats.qualityHealth(
      docs(s, dir), w.toSeq.toDF("bucket", "weight_milli"), bias)
  }

  /** Bigram-LM perplexity under the corpus's OWN distribution — the
    * CCNet-style gibberish read: docs whose word transitions are
    * globally rare score high even when every word is common.
    */
  def docLmScore(s: SparkSession, dir: String): DataFrame =
    TextStats.lmScore(docs(s, dir)).orderBy("doc_id")

  /** Stored-LM cache — train on the deterministic md5 train split,
    * persist the pruned artifact, load it back ONCE per (session,
    * dir); bench sweeps and both stored faces probe the same frozen
    * model instead of refitting per call.
    */
  private val lmArtifactCache =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, (Map[(String, String), Long], Map[String, Long], Long)]]()

  def lmStoredModel(s: SparkSession, dir: String): (Map[(String, String), Long], Map[String, Long], Long) =
    lmArtifactCache.synchronized {
      val perSession = lmArtifactCache.computeIfAbsent(
        s, _ => scala.collection.mutable.Map.empty[String, (Map[(String, String), Long], Map[String, Long], Long)])
      perSession.getOrElseUpdate(
        dir, {
          val train = docs(s, dir).join(
            TextStats.trainSplit(docs(s, dir)).filter(col("split") === "train").select("doc_id"),
            Seq("doc_id"))
          val (bi, uni, v) = TextStats.lmCounts(train)
          val p = java.nio.file.Files.createTempDirectory("graft_lm_").toString
          TextStats.saveLm(s, p, bi, uni, v.collect().head.getLong(0))
          TextStats.loadLm(s, p)
        })
    }

  /** [[docLmScore]] through a PERSISTED pruned artifact trained on the
    * md5 train split and applied to the full corpus — the production
    * filter shape: frozen model in a broadcast, zero-shuffle scoring,
    * unseen mass priced by add-one smoothing.
    */
  def docLmScoreStored(s: SparkSession, dir: String): DataFrame = {
    val (bi, uni, v) = lmStoredModel(s, dir)
    TextStats.lmScoreStored(docs(s, dir), bi, uni, v).orderBy("doc_id")
  }

  /** The ingest-time LM filter over bounded input — the stateless
    * kernel computes the batch stored rows exactly (shared twin).
    */
  def streamingLmScore(s: SparkSession, dir: String): DataFrame = {
    val (bi, uni, v) = lmStoredModel(s, dir)
    graft.streaming.Streaming.lmScoreStream(docs(s, dir), bi, uni, v).orderBy("doc_id")
  }

  /** Unicode NFC normalization over planted decomposed accents. */
  def docNfc(s: SparkSession, dir: String): DataFrame =
    TextStats.nfcNormalize(TextStats.nfcPlant(docs(s, dir))).orderBy("doc_id")

  /** Temperature-sampling mixture (T = 2, weight ∝ √n_source). */
  def docMixtureTemperature(s: SparkSession, dir: String): DataFrame =
    Corpus.mixtureSampleTemperature(docs(s, dir)).orderBy("doc_id")

  /** Domain-level quality gate verdicts (the C4-style source filter). */
  def sourceQualityGate(s: SparkSession, dir: String): DataFrame =
    Corpus.sourceQualityGate(docs(s, dir)).orderBy("source")

  /** The domain gate applied: documents of surviving sources. */
  def docSourceFiltered(s: SparkSession, dir: String): DataFrame =
    Corpus.sourceFiltered(docs(s, dir)).orderBy("doc_id")

  /** Deterministic export-shard manifest (per-shard volume + share). */
  def docShardManifest(s: SparkSession, dir: String): DataFrame =
    Corpus.shardManifest(docs(s, dir)).orderBy("shard")

  /** How many md5 classes [[corpusDiff]]'s planted snapshots use. */
  val DiffMod = 20

  /** Snapshot diff over two planted releases of the documents table:
    * md5 class 0 exists only in the new snapshot (`added`), class 1
    * only in the old (`removed`), class 2 in both with a ` v2` text
    * suffix in the new (`changed`) — a pure function of doc_id, so
    * the twin replays the same two snapshots.
    */
  def corpusDiff(s: SparkSession, dir: String): DataFrame = {
    val tagged = docs(s, dir).select(
      col("doc_id"),
      col("source"),
      col("text"),
      expr(s"CAST(conv(substr(md5(concat('diff', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % $DiffMod")
        .as("b"))
    val old = tagged.filter(col("b") =!= 0)
      .select(col("doc_id"), col("source"), col("text"))
    val nw = tagged.filter(col("b") =!= 1)
      .select(
        col("doc_id"),
        col("source"),
        when(col("b") === 2, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    Corpus.snapshotDiff(old, nw).orderBy("source", "status")
  }

  /** How many md5 classes [[corpusDiffNear]]'s planted snapshots use,
    * and the id offset its re-render-with-new-id class lands at (far
    * above any sf's real doc_id space).
    */
  val DiffNearMod = 20
  val DiffNearIdOffset = 10000000L

  /** [[corpusDiffNear]]'s planted releases: class 0 exists only in the
    * new snapshot (genuinely `added`), class 1 only in the old
    * (`removed`), class 2 is REWRITTEN in place (text replaced by a
    * deterministic digest string — near-zero shingle overlap, a real
    * `changed`), class 3 is RE-RENDERED in place (` v2` suffix — high
    * Jaccard, the exact diff's first blind spot), class 4 is
    * re-rendered under a NEW id (old row + suffixed text at
    * doc_id + [[DiffNearIdOffset]] — the exact diff's removed+added
    * blind spot), everything else unchanged. Pure functions of
    * doc_id, so the twin replays both snapshots.
    */
  private def diffNearSnapshots(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val tagged = docs(s, dir).select(
      col("doc_id"),
      col("source"),
      col("text"),
      expr(s"CAST(conv(substr(md5(concat('ndiff', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % $DiffNearMod")
        .as("b"))
    val old = tagged.filter(col("b") =!= 0)
      .select(col("doc_id"), col("source"), col("text"))
    val nw = tagged.filter(col("b") =!= 1)
      .select(
        when(col("b") === 4, col("doc_id") + DiffNearIdOffset)
          .otherwise(col("doc_id")).as("doc_id"),
        col("source"),
        when(col("b") === 2, concat(lit("rewritten "), md5(col("text"))))
          .when(col("b").isin(3, 4), concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
    (old, nw)
  }

  /** The old release's SHIPPED near-dup base, written once per
    * (session, dir) — what [[Corpus.snapshotDiffNear]] probes, so the
    * diff pays zero old-corpus re-fingerprinting (the artifact
    * [[graft.operators.Corpus.pipelineExport]] publishes anyway).
    */
  private val diffNearCache =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, String]]()

  /** Near-dup-aware snapshot diff: (added, removed, changed,
    * near_changed, unchanged) per source — the exact diff plus
    * re-render detection through the old release's stored signature
    * base.
    */
  def corpusDiffNear(s: SparkSession, dir: String): DataFrame = {
    val (old, nw) = diffNearSnapshots(s, dir)
    val table = diffNearCache.synchronized {
      val perSession = diffNearCache.computeIfAbsent(
        s, _ => scala.collection.mutable.Map.empty[String, String])
      perSession.getOrElseUpdate(
        dir, {
          val t = s"diffnear_nd_q_${fixtureTag(dir)}"
          graft.sinks.Sinks.writeNearDupBase(old.select("doc_id", "text"), t)
          t
        })
    }
    Corpus.snapshotDiffNear(s, table, old, nw).orderBy("source", "status")
  }

  /** The stateful domain-gate fold over bounded input — must equal
    * the declarative batch gate (shared twin); the true
    * mapGroupsWithState path is StreamingSpec-pinned.
    */
  def streamingSourceGate(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.batchSourceGate(docs(s, dir)).toDF().orderBy("source")

  /** Content fingerprints (md5 + bottom-3 shingle sketch). */
  def docFingerprint(s: SparkSession, dir: String): DataFrame =
    TextStats.fingerprint(docs(s, dir)).orderBy("doc_id")

  /** Deterministic train/valid/test hash split. */
  def docSplit(s: SparkSession, dir: String): DataFrame =
    TextStats.trainSplit(docs(s, dir)).orderBy("doc_id")

  /** The end-to-end WEB-ARCHIVE curation job: HTML pages in, keep
    * verdict out — [[TextStats.wrapHtml]]'s planted pages through
    * [[TextStats.extractText]] into [[Corpus.docPipeline]]'s
    * clustering + decontamination verdict. Extraction preserves the
    * shingle stream exactly (CorpusSpec pins it), so this composite
    * proves the integration: the twin rewires the doc_pipeline SQL to
    * read the extracted pages.
    */
  def docPipelineHtml(s: SparkSession, dir: String): DataFrame =
    Corpus.docPipeline(
      TextStats.extractText(TextStats.wrapHtml(spreadDocs(s, dir)))
        .select("doc_id", "text"))
      .orderBy("doc_id")

  /** Ingest-time WARC extraction over bounded input — the stateless
    * kernel computes the batch warc_extract rows exactly (shared
    * twin): a crawler's rolling archive uploads become corpus rows
    * while the crawl runs.
    */
  def streamingWarcExtract(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.warcExtractStream(
      graft.sources.Warc.withWarcPayload(TextStats.wrapHtml(spreadDocs(s, dir))))
      .orderBy("doc_id")

  /** The archive-to-corpus story end-to-end: WARC files → record scan
    * → HTTP body → text extraction → the full curation pipeline. The
    * container round-trip is lossless, so the twin IS the HTML
    * pipeline twin — any scan defect breaks the hash.
    */
  def warcPipeline(s: SparkSession, dir: String): DataFrame =
    Corpus.docPipeline(
      TextStats.extractText(
        graft.sources.Warc.parseWarcRecords(
          graft.sources.Warc.withWarcPayload(TextStats.wrapHtml(spreadDocs(s, dir)))).toDF(),
        htmlCol = "html")
        .select("doc_id", "text"))
      .orderBy("doc_id")

  /** The dataset card: one row of corpus composition, dup/keep/
    * contamination rates — what a corpus release publishes and a
    * regression check diffs run-over-run.
    */
  def corpusManifest(s: SparkSession, dir: String): DataFrame =
    Corpus.corpusManifest(docs(s, dir))

  /** Eval-leakage audit: verified near-dup pairs bucketed by the
    * unordered split pair they straddle — cross-split rows are eval
    * examples the model effectively trained on.
    */
  def docSplitLeakage(s: SparkSession, dir: String): DataFrame =
    Corpus.splitLeakage(docs(s, dir)).orderBy("split_a", "split_b")

  /** Pre-tokenization text normalization with shrinkage audit. */
  def docNormalize(s: SparkSession, dir: String): DataFrame =
    TextStats.normalize(docs(s, dir)).orderBy("doc_id")

  /** PII scrubbing: email + long-digit-run redaction with audit counts. */
  def docPiiScrub(s: SparkSession, dir: String): DataFrame =
    TextStats.piiScrub(docs(s, dir)).orderBy("doc_id")

  /** Within-document repetition (bigram dominance) quality signal. */
  def docRepetition(s: SparkSession, dir: String): DataFrame =
    TextStats.repetition(docs(s, dir)).orderBy("doc_id")

  /** The fuller Gopher battery: top/duplicated n-gram fractions for
    * n in 2..4.
    */
  def docNgramRepetition(s: SparkSession, dir: String): DataFrame =
    TextStats.ngramRepetition(docs(s, dir)).orderBy("doc_id")

  /** Overlapping fixed-window chunking (8-word windows, stride 6). */
  def docChunk(s: SparkSession, dir: String): DataFrame =
    TextStats.chunk(docs(s, dir)).orderBy("doc_id", "chunk_idx")

  /** Composite keep/drop verdict (dup > too_short > low_quality). */
  def docKeepMask(s: SparkSession, dir: String): DataFrame =
    TextStats.keepMask(docs(s, dir)).orderBy("doc_id")

  /** Duplicate-cluster resolution: connected components over near-dup
    * pairs, canonical survivor per cluster.
    */
  def docDedupClusters(s: SparkSession, dir: String): DataFrame =
    Corpus.dedupClusters(docs(s, dir)).orderBy("doc_id")

  /** Deduplicated corpus export: canonical rows + capped provenance. */
  def docDedupExport(s: SparkSession, dir: String): DataFrame =
    Corpus.dedupExport(docs(s, dir)).orderBy("doc_id")

  /** Quality-aware survivor per cluster (argmax quality, id tiebreak). */
  def docDedupExportBest(s: SparkSession, dir: String): DataFrame =
    Corpus.dedupExportBest(docs(s, dir)).orderBy("cluster")

  /** Benchmark decontamination: shingle overlap vs the held-out set. */
  def docDecontaminate(s: SparkSession, dir: String): DataFrame =
    Corpus.decontaminate(docs(s, dir)).orderBy("doc_id")

  /** Every ExtBenchMod-th document plays the EXTERNAL benchmark table
    * in [[docDecontaminateExt]] — deliberately a different slice than
    * the stand-in path's `% 29`, so the two registry rows exercise
    * different overlap sets.
    */
  val ExtBenchMod = 7

  /** Decontamination against an external benchmark frame (the
    * production shape: eval suites are their own table). The corpus is
    * the FULL documents table — corpus members of the benchmark come
    * back contamination 1.0, the leak the operator exists to flag.
    */
  def docDecontaminateExt(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    Corpus.decontaminate(d, d.filter(col("doc_id") % ExtBenchMod === 0))
      .orderBy("doc_id")
  }

  /** One-job curation composite: clustering + decontamination off ONE
    * shared shingle explode, with the combined keep verdict.
    */
  def docPipeline(s: SparkSession, dir: String): DataFrame =
    Corpus.docPipeline(docs(s, dir)).orderBy("doc_id")

  /** The complete curation verdict: clustering + decontamination +
    * quality + PII + repetition, one reason-coded keep decision per doc.
    */
  def docPipelineFull(s: SparkSession, dir: String): DataFrame =
    Corpus.docPipelineFull(docs(s, dir)).orderBy("doc_id")

  /** The complete keep decision plus the semantic-decontamination and
    * duplicated-span evidence faces — two more reason codes over the
    * same shared-shingle plan.
    */
  def docPipelineFullV2(s: SparkSession, dir: String): DataFrame =
    Corpus.docPipelineFullV2(docs(s, dir), embs(s, dir)).orderBy("doc_id")

  /** The COMPLETE funnel: v2 plus the frozen-LM perplexity leg and
    * the domain gate — every filter class a production curation
    * pipeline runs, in one plan.
    */
  def docPipelineFullV3(s: SparkSession, dir: String): DataFrame = {
    val (bi, uni, v) = lmStoredModel(s, dir)
    Corpus.docPipelineFullV3(docs(s, dir), embs(s, dir), bi, uni, v)
      .orderBy("doc_id")
  }

  /** v3 plus the LANGUAGE GATE: wrong_language between bad_source and
    * too_short — the corpus-composition decision a multilingual crawl
    * feeds through before any per-doc quality read.
    */
  def docPipelineFullV4(s: SparkSession, dir: String): DataFrame = {
    val (bi, uni, v) = lmStoredModel(s, dir)
    Corpus.docPipelineFullV4(docs(s, dir), embs(s, dir), bi, uni, v)
      .orderBy("doc_id")
  }

  /** The FUNNEL RELEASE CARD: per-reason document counts and shares
    * over the complete v4 verdict — "why did we drop what we dropped",
    * the one-table answer every curation run publishes beside its
    * dataset card and the first thing a regression diff compares
    * release-over-release. The rollup is reason-cardinality rows (~11)
    * off the already-composed funnel; the share denominator is a
    * single-partition window over those rows, not a second corpus
    * pass.
    */
  def docPipelineReasons(s: SparkSession, dir: String): DataFrame = {
    val (bi, uni, v) = lmStoredModel(s, dir)
    Corpus.docPipelineFullV4(docs(s, dir), embs(s, dir), bi, uni, v)
      .groupBy("reason")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn(
        "share",
        round(
          col("n_docs").cast("double") /
            sum("n_docs").over(org.apache.spark.sql.expressions.Window.partitionBy()),
          6))
      .orderBy("reason")
  }

  /** The funnel's RELEASE artifact, proof-read from disk: the v4 keep
    * verdict applied and written as sharded parquet + manifest + card
    * ([[graft.operators.Corpus.pipelineExport]]) ONCE per (session,
    * dir), then the registered row recomputes the shard manifest FROM
    * THE WRITTEN FILES — hash equality against the twin's
    * keep-filtered shard rollup proves the artifact on disk holds
    * exactly the kept documents in exactly the deterministic coin's
    * shards (verdict → release, closed end-to-end).
    */
  private val exportCache =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, String]]()

  def docPipelineExport(s: SparkSession, dir: String): DataFrame = {
    val path = exportCache.synchronized {
      val perSession = exportCache.computeIfAbsent(
        s, _ => scala.collection.mutable.Map.empty[String, String])
      perSession.getOrElseUpdate(
        dir, {
          val p = java.nio.file.Files.createTempDirectory("graft_export_").toString
          val (bi, uni, v) = lmStoredModel(s, dir)
          Corpus.pipelineExport(docs(s, dir), embs(s, dir), bi, uni, v, p)
          p
        })
    }
    Corpus.exportManifestFromFiles(s, path).orderBy("shard")
  }

  /** Corpus-level boilerplate removal (segment-df scrub) with audit. */
  def docBoilerplate(s: SparkSession, dir: String): DataFrame =
    Corpus.stripBoilerplate(docs(s, dir)).orderBy("doc_id")

  /** Sequence packing: doc -> (seq_id, seq_offset) in 256-token
    * training sequences via distributed prefix sum.
    */
  def docPack(s: SparkSession, dir: String): DataFrame =
    Corpus.packSequences(docs(s, dir)).orderBy("doc_id")

  /** Sequence packing in REAL (trained-subword) tokens. */
  def docPackBpe(s: SparkSession, dir: String): DataFrame =
    Corpus.packSequencesSubword(docs(s, dir)).orderBy("doc_id")

  /** Document-aware packing: no doc straddles a 256-token boundary
    * (harmonic size classes; oversize docs tiled and flagged).
    */
  def docPackNoSplit(s: SparkSession, dir: String): DataFrame =
    Corpus.packSequencesNoSplit(docs(s, dir)).orderBy("doc_id")

  /** [[docPackNoSplit]] at a 16-token budget — small enough that real
    * docs EXCEED it, so the oversize tiled-and-flagged path and the
    * multi-class layout are both oracle-exercised.
    */
  def docPackNoSplitTiny(s: SparkSession, dir: String): DataFrame =
    Corpus.packSequencesNoSplit(docs(s, dir), budget = 16L).orderBy("doc_id")

  /** Ingest-time real-token stats over bounded input — must equal
    * doc_token_stats_bpe row for row (shared twin).
    */
  def streamingTokenStatsBpe(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.batchTokenStatsSubword(docs(s, dir))
      .toDF().orderBy("doc_id")

  /** Unigram-LM mean log-prob per doc (perplexity-filter stand-in). */
  def docLogProb(s: SparkSession, dir: String): DataFrame =
    Corpus.unigramLogProb(docs(s, dir)).orderBy("doc_id")

  /** Corpus vocabulary: top-100 words by document frequency. */
  def corpusVocab(s: SparkSession, dir: String): DataFrame =
    Corpus.vocab(docs(s, dir)).orderBy("rank")

  /** Top bigram collocations by PMI (count floor 5). */
  def corpusPmi(s: SparkSession, dir: String): DataFrame =
    Corpus.pmiTop(docs(s, dir)).orderBy("rank")

  /** Per-document top-3 TF-IDF terms. */
  def docTfidf(s: SparkSession, dir: String): DataFrame =
    Corpus.tfidf(docs(s, dir)).orderBy("doc_id", "rn")

  /** Per-document top-3 BM25 index terms (Robertson k1=1.2, b=0.75). */
  def docBm25(s: SparkSession, dir: String): DataFrame =
    Corpus.bm25Top(docs(s, dir)).orderBy("doc_id", "rn")

  /** Sparse lexical top-5 retrieval per query doc (prefix-filtered). */
  def docTfidfTopK(s: SparkSession, dir: String): DataFrame =
    Corpus.tfidfTopK(docs(s, dir)).orderBy("doc_a", "rn")

  /** BM25 retrieval over the fixed default term query (top-10 hits). */
  def corpusSearch(s: SparkSession, dir: String): DataFrame =
    Corpus.searchBm25(docs(s, dir)).orderBy("rank")

  /** Impact-ordered inverted index: df + top-5 postings per term. */
  def corpusInvertedIndex(s: SparkSession, dir: String): DataFrame =
    Corpus.invertedIndex(docs(s, dir)).orderBy("word")

  /** Hybrid retrieval: RRF fusion of BM25 and vector-cosine top-k. */
  def corpusHybridSearch(s: SparkSession, dir: String): DataFrame =
    Corpus.hybridSearch(docs(s, dir), embs(s, dir)).orderBy("rank")

  /** Containment similarity over LSH candidates (subset-dup catcher). */
  def docContainment(s: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(docs(s, dir)).orderBy("doc_a", "doc_b")

  /** Cross-doc duplicated-span report (exact substring dedup shape) —
    * the UNFLOORED variant (minSpanWords = gram width): every merged
    * island counts, the original pin of the span algebra.
    */
  def docSubstringDedup(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDedup(docs(s, dir), minSpanWords = Dedup.SubstrGramN).orderBy("doc_id")

  /** [[docSubstringDedup]] with the production span floor
    * ([[Dedup.SubstrMinSpanWords]]): idiom-length islands no longer
    * count, only real copied passages — the Lee-et-al semantics.
    */
  def docSubstringDedupMin(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDedup(docs(s, dir)).orderBy("doc_id")

  /** [[docSubstringDedup]] at PRODUCTION WIDTH: 20-word grams with the
    * Lee-et-al ~50-word island floor ([[Dedup.SubstrGramNWide]] /
    * [[Dedup.SubstrMinSpanWordsWide]]) — the parameter point a real
    * 100-TB run uses, over the same two-level hash filter and span
    * algebra.
    */
  def docSubstringDedupWide(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDedup(
      docs(s, dir),
      minSpanWords = Dedup.SubstrMinSpanWordsWide,
      gramN = Dedup.SubstrGramNWide).orderBy("doc_id")

  /** Deterministic curriculum training order: quality bands first,
    * epoch-stable md5 shuffle within bands, one global order_idx.
    */
  def docEpochOrder(s: SparkSession, dir: String): DataFrame =
    Corpus.epochOrder(docs(s, dir)).orderBy("doc_id")

  /** The removal step: documents rebuilt with duplicated spans sliced
    * out (the floor keeps idiom-length islands intact).
    */
  def docSubstringScrub(s: SparkSession, dir: String): DataFrame =
    Dedup.substringScrub(docs(s, dir)).orderBy("doc_id")

  /** HTML text extraction over deterministic planted pages: each doc's
    * text entity-escaped into a chrome-heavy page
    * ([[TextStats.wrapHtml]] — script/style/comment/attribute tags,
    * zero visible chrome words), then [[TextStats.extractText]]'s
    * strip+decode+collapse pipeline recovers it. The twin replays both
    * the wrap and the extraction with the same RE2 patterns.
    */
  def docExtractHtml(s: SparkSession, dir: String): DataFrame =
    TextStats.extractText(TextStats.wrapHtml(spreadDocs(s, dir))).orderBy("doc_id")

  /** WARC container ingestion end-to-end: the HTML fixture wrapped in
    * canonical multi-record ISO 28500 files (warcinfo head records,
    * real HTTP response blocks, unknown extension headers), then
    * parsed back with the REAL byte-level record scan and fed through
    * [[TextStats.extractText]]. The twin replays the synth formulas
    * with no container — equality proves the scan (version line,
    * header walk, Content-Length block, status line) is real.
    */
  def warcExtract(s: SparkSession, dir: String): DataFrame = {
    val parsed = graft.operators.CacheScope.persist(
      graft.sources.Warc.parseWarcRecords(
        graft.sources.Warc.withWarcPayload(TextStats.wrapHtml(spreadDocs(s, dir)))).toDF())
    parsed.select("doc_id", "url", "warc_date", "status", "n_block_bytes")
      .join(TextStats.extractText(parsed, htmlCol = "html"), "doc_id")
      .orderBy("doc_id")
  }

  /** [[warcExtract]] over `.warc.gz` payloads — per-record gzip
    * members through the same scan; the twin is SHARED with the plain
    * row, so hash equality proves the member walk is a lossless
    * inflation, not a parallel code path.
    */
  def warcExtractGz(s: SparkSession, dir: String): DataFrame = {
    val parsed = graft.operators.CacheScope.persist(
      graft.sources.Warc.parseWarcRecords(
        graft.sources.Warc.withWarcPayloadGz(TextStats.wrapHtml(spreadDocs(s, dir)))).toDF())
    parsed.select("doc_id", "url", "warc_date", "status", "n_block_bytes")
      .join(TextStats.extractText(parsed, htmlCol = "html"), "doc_id")
      .orderBy("doc_id")
  }

  /** Archive files written once per (JVM, dir, gz) — the annIndexCache
    * pattern: the write is fixture setup; the operator under test is
    * the seek-based ranged read against REAL files.
    */
  private val warcFileCache = scala.collection.concurrent.TrieMap.empty[String, String]

  private def cdxWarcFetch(s: SparkSession, dir: String, gz: Boolean): DataFrame = {
    val fx = graft.operators.CacheScope.persist(
      graft.sources.Warc.withWarcPayloadIndexed(TextStats.wrapHtml(spreadDocs(s, dir)), gz))
    // the PRODUCTION fetch path: locators select, the reader seeks
    // [offset, offset+length) of each selected record in the on-disk
    // archive — bytes read ≈ Σ selected lengths, never Σ file sizes
    // (the synthesized payloads are deterministic, so the per-JVM
    // written files always match this call's locators)
    val filesDir = warcFileCache.getOrElseUpdate(s"$dir#$gz", {
      val p = tempIndexDir("graft_warc_files_")
      graft.sources.Warc.writeArchiveFiles(fx, p)
      p
    })
    val selected = fx
      .select(explode(col("locators")).as("l")).select("l.*")
      .filter(col("status") === 200 &&
        expr("CAST(conv(substr(md5(concat('cdx', url)), 1, 8), 16, 10) AS BIGINT) % 3 = 0"))
    val fetched = graft.operators.CacheScope.persist(
      graft.sources.Warc.readRecordsFromFiles(filesDir, selected).toDF())
    fetched.select("doc_id", "url", "warc_date", "status", "offset", "n_block_bytes")
      .join(TextStats.extractText(fetched, htmlCol = "html"), "doc_id")
  }

  /** The CDX↔WARC join — the complete archive data model in one
    * pipeline: the synthesized CDX index (REAL byte offsets measured
    * as the files were assembled — `Warc.withWarcPayloadIndexed`)
    * filtered to a deterministic capture selection (status 200 + an
    * md5 coin on the url), then EXACTLY those (filename, offset,
    * length) records fetched through [[graft.sources.Warc
    * .readRecordsAt]]'s ranged read. Output carries the offset, so
    * hash equality against the twin's pure string-length replay of
    * the layout arithmetic proves the synthesized index points at the
    * true byte positions AND the ranged read fetches the right
    * records.
    */
  def cdxWarcJoin(s: SparkSession, dir: String): DataFrame =
    cdxWarcFetch(s, dir, gz = false).orderBy("doc_id")

  /** The `.warc.gz` face: offsets address each record's own
    * COMPRESSED gzip member (the real archive convention), so the
    * fetch inflates exactly one member per selected capture. Member
    * offsets are gzip-output-dependent — not SQL-computable — so this
    * row drops the offset column and shares the plain row's record
    * twin: hash equality proves the member-ranged fetch returns the
    * identical records.
    */
  def cdxWarcJoinGz(s: SparkSession, dir: String): DataFrame =
    cdxWarcFetch(s, dir, gz = true).drop("offset").orderBy("doc_id")

  /** Incremental batch-vs-base exact dedup verdict. */
  def docDedupIncremental(s: SparkSession, dir: String): DataFrame =
    Dedup.incrementalDedup(docs(s, dir)).orderBy("doc_id")

  /** Cross-corpus NEAR-dup: the arriving half of the deterministic
    * `inc` coin split probed against the stored half — the near-copy
    * face exact fingerprints miss (re-renders, boilerplate variants).
    */
  def docNearDupIncremental(s: SparkSession, dir: String): DataFrame = {
    val coin = expr(
      "CAST(conv(substr(md5(concat('inc', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2")
    val tagged = docs(s, dir).withColumn("b", coin)
    Dedup.incrementalNearDup(
      tagged.filter(col("b") === 1).drop("b"),
      tagged.filter(col("b") === 0).drop("b"))
      .orderBy("doc_batch", "doc_corpus")
  }

  /** Stable identifier-safe tag for a testdata dir — md5 prefix, so the
    * stored fixtures get ONE table name per dir across JVM runs and the
    * write paths' retire-previous-lifecycle logic reclaims stale runs.
    */
  private def fixtureTag(dir: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    d.take(8).map(b => f"$b%02x").mkString
  }

  /** The STORED fixture of a segmented dedup tier: a deterministic md5
    * three-way split of the documents table — coin `inc` picks base
    * (0) vs the rest; among the rest, coin `seg` picks an already-
    * appended delta segment (0) vs the probing batch (1) — then the
    * base written by `write` and the segment appended by `append`
    * ([[graft.sinks.Sinks.writeDedupBase]] / `appendDedupDelta`, or
    * the near-dup pair), so the registered rows exercise the real
    * storage layout end-to-end and the DuckDB twins replay the same
    * coins in place. The table, `<prefix>_<dir tag>`, is deterministic
    * per dir (NOT a UUID): across JVM runs the same warehouse reuses
    * one name, and the writer's retire-previous-lifecycle path
    * reclaims the old run's tables instead of orphaning a fresh set
    * per process. Written ONCE per (session, table) — both stored rows
    * and repeated bench sweeps probe the same tables.
    */
  private val storedFixtures =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Set[String]]()

  private def storedFixture(
      s: SparkSession,
      dir: String,
      prefix: String,
      write: (DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit): (String, DataFrame) = {
    val coin = (p: String) =>
      expr(s"CAST(conv(substr(md5(concat('$p', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2")
    val tagged = docs(s, dir).withColumn("b", coin("inc")).withColumn("sc", coin("seg"))
    val table = s"${prefix}_${fixtureTag(dir)}"
    storedFixtures.synchronized {
      val written = storedFixtures.computeIfAbsent(
        s, _ => scala.collection.mutable.Set.empty[String])
      if (!written(table)) {
        write(tagged.filter(col("b") === 0).select("doc_id", "text"), table)
        append(tagged.filter(col("b") === 1 && col("sc") === 0).select("doc_id", "text"), table)
        written += table
      }
    }
    (table, tagged.filter(col("b") === 1 && col("sc") === 1).select("doc_id", "text"))
  }

  private def storedDedupFixture(s: SparkSession, dir: String): (String, DataFrame) =
    storedFixture(s, dir, "dedup_stored_q",
      graft.sinks.Sinks.writeDedupBase(_, _), graft.sinks.Sinks.appendDedupDelta)

  private def storedNearDupFixture(s: SparkSession, dir: String): (String, DataFrame) =
    storedFixture(s, dir, "neardup_stored_q",
      graft.sinks.Sinks.writeNearDupBase(_, _), graft.sinks.Sinks.appendNearDupDelta)

  /** Near-dup of an arriving batch against the PERSISTED signature
    * base + delta segment — zero corpus-side minhash/census per probe.
    */
  def docNearDupIncrementalStored(s: SparkSession, dir: String): DataFrame = {
    val (table, probe) = storedNearDupFixture(s, dir)
    Dedup.nearDupAgainstStored(s, table, probe).orderBy("doc_batch", "doc_corpus")
  }

  /** Incremental dedup against the PERSISTED base + delta segments —
    * the full storage path: bucketed base probe (exchange-free) plus
    * the broadcast segment probe.
    */
  def docDedupIncrementalStored(s: SparkSession, dir: String): DataFrame = {
    val (table, probe) = storedDedupFixture(s, dir)
    Dedup.incrementalDedupStored(s, table, probe).orderBy("doc_id")
  }

  /** The ingest-time stored-corpus probe over bounded input — the
    * stream-static join's expression tree on a batch frame, equal to
    * the dup_of_base face of [[docDedupIncrementalStored]] (shared
    * twin semantics; MemoryStream ≡ batch is spec-pinned).
    */
  def streamingDedupStored(s: SparkSession, dir: String): DataFrame = {
    val (table, probe) = storedDedupFixture(s, dir)
    graft.streaming.Streaming.dedupStoredStream(probe, table).orderBy("doc_id")
  }

  /** Per-source token-budget selection (best-quality-first). */
  def docBudgetSelect(s: SparkSession, dir: String): DataFrame =
    Corpus.budgetSelect(docs(s, dir)).orderBy("doc_id")

  /** Token-budget selection in REAL (trained-subword) tokens. */
  def docBudgetSelectBpe(s: SparkSession, dir: String): DataFrame =
    Corpus.budgetSelectSubword(docs(s, dir)).orderBy("doc_id")

  /** Deterministic hash-stratified 1-in-5 sample per language. */
  def docSample(s: SparkSession, dir: String): DataFrame =
    Corpus.stratifiedSample(docs(s, dir)).orderBy("doc_id")

  /** Source-mixture resampling to the default integer-weight spec. */
  def docMixtureSample(s: SparkSession, dir: String): DataFrame =
    Corpus.mixtureSampleDefault(docs(s, dir)).orderBy("doc_id")

  /** Corpus composition audit per (lang, source). */
  def corpusStats(s: SparkSession, dir: String): DataFrame =
    Corpus.stats(docs(s, dir)).orderBy("lang", "source")

  /** A13 at archive scale: HLL sketches (approx_count_distinct)
    * replacing the exact distinct counts — the documented approximation
    * path when exact per-granularity distincts stop fitting the
    * shuffle. Rows-only check (sketch estimates are engine-specific, so
    * no DuckDB hash twin can exist).
    */
  def periodicSamplesApprox(s: SparkSession, dir: String): DataFrame =
    captures(s, dir)
      .groupBy("url")
      .agg(
        approx_count_distinct(substring(col("ts"), 1, 14)).as("n_second"),
        approx_count_distinct(substring(col("ts"), 1, 12)).as("n_minute"),
        approx_count_distinct(substring(col("ts"), 1, 10)).as("n_hour"),
        approx_count_distinct(substring(col("ts"), 1, 8)).as("n_day"),
        approx_count_distinct(substring(col("ts"), 1, 6)).as("n_month"),
        approx_count_distinct(substring(col("ts"), 1, 4)).as("n_year"))
      .orderBy("url")

  private def embs(s: SparkSession, dir: String): DataFrame = table(s, dir, "embeddings")

  /** Trained-codebook cache: the KMeans fit is seeded, but the SAME
    * literal centers must reach both the Spark query and the DuckDB
    * twin (Oracle.dynamic materializes them as a VALUES table) — a
    * refit under different parallelism could drift in the last ulp and
    * flip a near-tie assignment. Collected once per (session, dir):
    * K vectors, index metadata, not data. Same WeakHashMap keying as
    * the daily cache (session identity; entries die with the session).
    */
  private val kmeansCache =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, Array[(Long, Array[Float])]]]()

  def kmeansCenters(s: SparkSession, dir: String): Array[(Long, Array[Float])] =
    kmeansCache.synchronized {
      val perSession = kmeansCache.computeIfAbsent(
        s, _ => scala.collection.mutable.Map.empty[String, Array[(Long, Array[Float])]])
      perSession.getOrElseUpdate(
        dir,
        Ann.kmeansCentroids(embs(s, dir)).select("c_id", "ce").collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .sortBy(_._1))
    }

  /** Trained-PQ codebook cache — same contract as [[kmeansCenters]]:
    * collected once per (session, dir) so the identical literal floats
    * reach the Spark plan and the DuckDB VALUES twin.
    */
  private val pqTrainedCache =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, Array[(Long, Array[Float])]]]()

  def pqTrainedCents(s: SparkSession, dir: String): Array[(Long, Array[Float])] =
    pqTrainedCache.synchronized {
      val perSession = pqTrainedCache.computeIfAbsent(
        s, _ => scala.collection.mutable.Map.empty[String, Array[(Long, Array[Float])]])
      perSession.getOrElseUpdate(
        dir,
        Ann.pqTrainedCodebook(embs(s, dir)).head()
          .getSeq[org.apache.spark.sql.Row](0)
          .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
          .sortBy(_._1).toArray)
    }

  /** PQ ADC top-K over the TRAINED per-subspace codebook — the
    * production encode path, oracle-pinned by materializing the packed
    * centers into the twin (the [[annIvfKmeans]] pattern).
    */
  def annPqTrained(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    import s.implicits._
    val cb = pqTrainedCents(s, dir).toSeq.toDF("c_id", "ce")
      .agg(expr("array_sort(collect_list(struct(c_id, ce)))").as("cents"))
    Ann.pqTopKIndexed(Ann.pqEncode(e, cb), cb, Ann.defaultQueries(e))
      .orderBy("q_id", "rn")
  }

  /** Trained rotation + rotated-space codebook cache — same (session,
    * dir) memoization contract as [[pqTrainedCents]]: the SVD runs
    * once, and the SAME literal floats reach the Spark plan and the
    * twin's VALUES tables.
    */
  private val rotationCache =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, (Array[Array[Float]], Array[(Long, Array[Float])])]]()

  def rotatedPqMeta(
      s: SparkSession, dir: String): (Array[Array[Float]], Array[(Long, Array[Float])]) =
    rotationCache.synchronized {
      val perSession = rotationCache.computeIfAbsent(
        s,
        _ => scala.collection.mutable.Map
          .empty[String, (Array[Array[Float]], Array[(Long, Array[Float])])])
      perSession.getOrElseUpdate(
        dir, {
          val e = embs(s, dir)
          val rot = Ann.pcaRotation(e)
          val centers = Ann.pqTrainedCodebook(Ann.rotate(e, rot)).head()
            .getSeq[org.apache.spark.sql.Row](0)
            .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
            .sortBy(_._1).toArray
          (rot, centers)
        })
    }

  /** PQ ADC top-K in ROTATED space: the OPQ-style trained rotation
    * ([[Ann.pcaRotation]] — eigenvalue-allocated principal directions)
    * applied to corpus and queries before a codebook TRAINED on the
    * rotated vectors. Equal code budget to `ann_pq_trained`; the
    * rotation is what the recall improvement rides on
    * (IvfRecallSpec pins rotated >= unrotated agreement).
    */
  def annPqRotated(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    import s.implicits._
    val (rot, centers) = rotatedPqMeta(s, dir)
    val re = Ann.rotate(e, rot)
    val cb = centers.toSeq.toDF("c_id", "ce")
      .agg(expr("array_sort(collect_list(struct(c_id, ce)))").as("cents"))
    Ann.pqTopKIndexed(Ann.pqEncode(re, cb), cb, Ann.defaultQueries(re))
      .orderBy("q_id", "rn")
  }

  /** Trained per-list residual book cache — same (session, dir)
    * memoization contract as [[kmeansCenters]]/[[pqTrainedCents]].
    */
  private val resTrainedCache =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, Array[(Long, Int, Array[Float])]]]()

  def residualTrainedBooks(s: SparkSession, dir: String): Array[(Long, Int, Array[Float])] =
    resTrainedCache.synchronized {
      val perSession = resTrainedCache.computeIfAbsent(
        s, _ => scala.collection.mutable.Map.empty[String, Array[(Long, Int, Array[Float])]])
      perSession.getOrElseUpdate(
        dir, {
          val e = embs(s, dir)
          val cents = Ann.firstKCentroids(e)
          graft.operators.CacheScope.withScope {
            Ann.pqResidualCodebooksTrained(Ann.ivfAssign(e, cents), cents)
              .collect()
              .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
              .sortBy(b => (b._1, b._2))
          }
        })
    }

  /** Residual IVF-PQ over TRAINED per-list codebooks (distributed
    * Lloyd — all IvfK x PqM books fit simultaneously), oracle-pinned by
    * materializing the books into the twin (the [[annIvfKmeans]]
    * pattern).
    */
  def annIvfPqResidualTrained(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    import s.implicits._
    val cb = residualTrainedBooks(s, dir).toSeq.toDF("c_id", "k", "cb")
    val cents = Ann.firstKCentroids(e)
    Ann.ivfPqResidualRank(Ann.ivfAssign(e, cents), cents, cb, Ann.defaultQueries(e))
      .orderBy("q_id", "rn")
  }

  /** Per-list residual books trained in ROTATED space — the
    * [[residualTrainedBooks]] fit over the rotated corpus (rotation
    * from [[rotatedPqMeta]], shared with the plain-PQ rotated row),
    * memoized under a distinct cache key so the two fits never mix.
    */
  def residualRotatedBooks(s: SparkSession, dir: String): Array[(Long, Int, Array[Float])] =
    resTrainedCache.synchronized {
      val perSession = resTrainedCache.computeIfAbsent(
        s, _ => scala.collection.mutable.Map.empty[String, Array[(Long, Int, Array[Float])]])
      perSession.getOrElseUpdate(
        s"$dir#rotated", {
          val re = Ann.rotate(embs(s, dir), rotatedPqMeta(s, dir)._1)
          val cents = Ann.firstKCentroids(re)
          graft.operators.CacheScope.withScope {
            Ann.pqResidualCodebooksTrained(Ann.ivfAssign(re, cents), cents)
              .collect()
              .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
              .sortBy(b => (b._1, b._2))
          }
        })
    }

  /** Residual IVF-PQ in ROTATED space — the best-recall configuration
    * gets the OPQ benefit: the trained rotation decorrelates
    * coordinates BEFORE the coarse quantizer and the per-list residual
    * Lloyd fit, so the finest codes (where OPQ's gain is largest)
    * spend their budget on balanced subspaces. Same code budget and
    * NProbe as `ann_ivfpq_residual_trained`; the whole geometry —
    * coarse centroids, assignments, books, queries — lives in rotated
    * space, exactly like the rotated serving index
    * ([[graft.sinks.Sinks]] `rotation/` artifact).
    */
  def annIvfPqResidualRotated(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    import s.implicits._
    val re = Ann.rotate(e, rotatedPqMeta(s, dir)._1)
    val cb = residualRotatedBooks(s, dir).toSeq.toDF("c_id", "k", "cb")
    val cents = Ann.firstKCentroids(re)
    Ann.ivfPqResidualRank(Ann.ivfAssign(re, cents), cents, cb, Ann.defaultQueries(re))
      .orderBy("q_id", "rn")
  }

  /** Brute-force cosine top-K: broadcast query set vs corpus. */
  def annTopK(s: SparkSession, dir: String): DataFrame =
    Ann.cosineTopK(embs(s, dir)).orderBy("q_id", "rn")

  /** Per-query recall@K of the IVF-PQ tier vs brute force — the
    * index-evaluation read; both legs are the registry's own verified
    * retrieval shapes.
    */
  def annRecallReport(s: SparkSession, dir: String): DataFrame =
    Ann.recallReport(embs(s, dir)).orderBy("q_id")

  /** Recall@K of the RESIDUAL tier — the best-recall path evaluated
    * through the same exact-vs-approx join.
    */
  def annRecallReportResidual(s: SparkSession, dir: String): DataFrame =
    Ann.recallReportResidual(embs(s, dir)).orderBy("q_id")

  /** One-row index-health verdict: overall recall@K + drift summary +
    * the rebuild_recommended hand-off to rebuildAnnIndex.
    */
  def annIndexHealth(s: SparkSession, dir: String): DataFrame =
    Ann.indexHealth(embs(s, dir))

  /** Label-filtered top-K (metadata predicate + similarity). */
  def annFilteredTopK(s: SparkSession, dir: String): DataFrame =
    Ann.cosineTopKFiltered(embs(s, dir)).orderBy("q_id", "rn")

  /** Cosine range search (threshold companion to top-K). */
  def annRangeSearch(s: SparkSession, dir: String): DataFrame =
    Ann.rangeSearch(embs(s, dir)).orderBy("q_id", "vec_id")

  /** Embedding outliers by centroid-distance median ratio. */
  def embOutliers(s: SparkSession, dir: String): DataFrame =
    Ann.embOutliers(embs(s, dir)).orderBy("vec_id")

  /** LSH-bucketed cosine top-K (the scale path). */
  def annLsh(s: SparkSession, dir: String): DataFrame =
    Ann.lshTopK(embs(s, dir)).orderBy("q_id", "rn")

  /** IVF-probed cosine top-K (coarse quantizer + inverted lists). */
  def annIvf(s: SparkSession, dir: String): DataFrame =
    Ann.ivfTopK(embs(s, dir)).orderBy("q_id", "rn")

  /** IVF with an MLlib-KMeans-trained codebook — the production path
    * (IvfRecallSpec pins its recall against brute force). The trained
    * centers are collected once ([[kmeansCenters]]) and replayed into
    * the plan AND into the DuckDB twin as a literal VALUES table
    * (Oracle.dynamic), so even the trained path hash-matches.
    */
  def annIvfKmeans(s: SparkSession, dir: String): DataFrame = {
    graft.functions.FloatDot.register(s)
    val emb = embs(s, dir)
    import s.implicits._
    val cents = kmeansCenters(s, dir).toSeq.toDF("c_id", "ce")
      .withColumn("cnorm", expr("sqrt(float_dot(ce, ce))"))
    Ann.ivfTopK(emb, Ann.defaultQueries(emb), cents)
      .orderBy("q_id", "rn")
  }

  /** IVF inverted-list histogram. */
  def annIvfLists(s: SparkSession, dir: String): DataFrame =
    Ann.ivfAssign(embs(s, dir))
      .groupBy("c_id")
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("c_id")

  /** PQ codes in long format (vec_id, m, code) — the compressed
    * corpus representation.
    */
  def annPqCodes(s: SparkSession, dir: String): DataFrame =
    Ann.pqEncode(embs(s, dir))
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
      .orderBy("vec_id", "m")

  /** Semantic decontamination: training vectors too close (cosine) to
    * any benchmark vector — the embedding-space face of
    * doc_decontaminate.
    */
  def embDecontaminate(s: SparkSession, dir: String): DataFrame =
    Ann.embDecontaminate(embs(s, dir)).orderBy("vec_id")

  /** [[annPqCodes]] over a corpus with one codebook-range vec_id
    * removed (the non-contiguous-id edge): codes are positions into
    * the vec_id-sorted SURVIVING centroid set on both engines, so the
    * labels must still hash-match when position != vec_id.
    */
  def annPqCodesGap(s: SparkSession, dir: String): DataFrame =
    Ann.pqEncode(embs(s, dir).filter(col("vec_id") =!= Oracle.PqGapId))
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("m", "code")))
      .orderBy("vec_id", "m")

  /** PQ top-K by asymmetric distance computation (table lookups, no
    * corpus float math).
    */
  def annPqTopK(s: SparkSession, dir: String): DataFrame =
    Ann.pqTopK(embs(s, dir)).orderBy("q_id", "rn")

  /** PQ shortlist + exact-L2 rerank — the production PQ pipeline. */
  def annPqRerank(s: SparkSession, dir: String): DataFrame =
    Ann.pqRerankTopK(embs(s, dir)).orderBy("q_id", "rn")

  /** IVF-PQ: coarse-quantizer list pruning + ADC over probed lists. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame =
    Ann.ivfPqTopK(embs(s, dir)).orderBy("q_id", "rn")

  /** Serving-layout index fixtures, one per (JVM, dir) — the
    * cdx_source_scan pattern: the write is fixture setup, the operator
    * under test is the partition-pruned disk read.
    */
  private val annIndexCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** A self-cleaning temp directory for on-disk index fixtures. */
  private def tempIndexDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete()
        ()
      }
      rm(d)
    }))
    d.getPath
  }

  /** IVF-PQ through the SERVING layout: codes in c_id-partitioned
    * parquet (one directory per inverted list), probes pruning at the
    * storage layer — must equal the in-memory `ann_ivfpq` bit-for-bit
    * (shared oracle twin).
    */
  def annIndexTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val idxPath = annIndexCache.getOrElseUpdate(dir, {
      val p = tempIndexDir("graft_ann_index_")
      graft.sinks.Sinks.writeAnnIndex(e, p)
      p
    })
    graft.sinks.Sinks.readAnnIndexTopK(s, idxPath, Ann.defaultQueries(e))
      .orderBy("q_id", "rn")
  }

  /** The ROTATED serving layout end-to-end: the OPQ-style rotation
    * persisted as index metadata, corpus encoded in rotated space,
    * queries rotated inside the read path — must equal the in-memory
    * IVF-PQ over the rotated corpus (the twin rotates via the same
    * literal matrix).
    */
  def annIndexRotatedTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val (rot, _) = rotatedPqMeta(s, dir)
    val idxPath = annIndexCache.getOrElseUpdate(s"$dir#rot", {
      val p = tempIndexDir("graft_ann_rot_")
      graft.sinks.Sinks.writeAnnIndexRotated(e, p, rot)
      p
    })
    graft.sinks.Sinks.readAnnIndexTopK(s, idxPath, Ann.defaultQueries(e))
      .orderBy("q_id", "rn")
  }

  /** The RESIDUAL serving layout end-to-end — the best-recall
    * configuration on disk: per-list books persisted under
    * `books_residual/` (the layout marker every face detects), codes
    * quantizing v − centroid, queries ranked through per-(query,
    * probed list) residual dtables. Must equal the in-memory
    * `ann_ivfpq_residual` bit-for-bit (shared oracle twin).
    */
  def annIndexResidualTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val idxPath = annIndexCache.getOrElseUpdate(s"$dir#res", {
      val p = tempIndexDir("graft_ann_res_")
      graft.sinks.Sinks.writeAnnIndexResidual(e, p)
      p
    })
    graft.sinks.Sinks.readAnnIndexTopK(s, idxPath, Ann.defaultQueries(e))
      .orderBy("q_id", "rn")
  }

  /** The FULL best-recall disk configuration end-to-end: trained
    * rotation + residual books fit in rotated space + the serving
    * layout, every artifact composing automatically at query time —
    * must equal the in-memory `ann_ivfpq_residual_rotated`
    * bit-for-bit (shared dynamic twin: literal rotation + literal
    * trained books through the identical residual CTEs).
    */
  def annIndexResidualRotatedTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val (rot, _) = rotatedPqMeta(s, dir)
    val idxPath = annIndexCache.getOrElseUpdate(s"$dir#resrot", {
      val p = tempIndexDir("graft_ann_resrot_")
      import s.implicits._
      graft.sinks.Sinks.writeAnnIndexResidualRotated(
        e, p, rot, residualRotatedBooks(s, dir).toSeq.toDF("c_id", "k", "cb"))
      p
    })
    graft.sinks.Sinks.readAnnIndexTopK(s, idxPath, Ann.defaultQueries(e))
      .orderBy("q_id", "rn")
  }

  /** The serving index's UPSERT path end-to-end: build, then re-ingest
    * a data-derived id set (ids >= 100, off the query side, every
    * 13th) with DIFFERENT vectors — each takes the NEXT id's embedding
    * — via [[graft.sinks.Sinks.upsertAnnIndex]]'s append-wins
    * tombstone segments, then query. Must equal the in-memory IVF-PQ
    * over the logically-updated corpus under the index's FROZEN
    * coarse/PQ metadata, which the twin derives entirely in SQL.
    */
  def annIndexUpsertTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val idxPath = annIndexCache.getOrElseUpdate(s"$dir#upsert", {
      val p = tempIndexDir("graft_ann_upsert_")
      graft.sinks.Sinks.writeAnnIndex(e, p)
      val nxt = e.select((col("vec_id") - 1).as("vec_id"), col("embedding"))
      val up = e.select("vec_id")
        .filter(col("vec_id") >= 100 &&
          col("vec_id") % Ann.QueryMod =!= 0 && col("vec_id") % 13 === 7)
        .join(nxt, "vec_id") // inner join: drops the id with no successor
      graft.sinks.Sinks.upsertAnnIndex(s, p, up)
      p
    })
    graft.sinks.Sinks.readAnnIndexTopK(s, idxPath, Ann.defaultQueries(e))
      .orderBy("q_id", "rn")
  }

  /** The index LIFECYCLE end-to-end: build, drift the corpus with
    * upserts that move GEOMETRY SEEDS (vec_ids 3 and 10 sit inside
    * both the firstK coarse centroids and the PQ codebook stand-in,
    * so the frozen geometry goes stale — exactly the recall-decay
    * situation [[graft.operators.Ann.recallReport]] detects), then
    * [[graft.sinks.Sinks.rebuildAnnIndex]] refits everything on the
    * current vector table and atomically swaps. The twin replays the
    * from-scratch index over the POST-upsert corpus (centroids AND
    * codebook re-derived from `emb_rb`) — equality is the proof the
    * rebuild truly refits geometry rather than recycling the stale
    * artifacts.
    */
  def annIndexRebuildTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val idxPath = annIndexCache.getOrElseUpdate(s"$dir#rebuild", {
      val p = tempIndexDir("graft_ann_rebuild_")
      graft.sinks.Sinks.writeAnnIndex(e, p)
      val nxt = e.select((col("vec_id") - 1).as("vec_id"), col("embedding"))
      val up = e.select("vec_id")
        .filter(col("vec_id") % Ann.QueryMod =!= 0 && col("vec_id") % 7 === 3)
        .join(nxt, "vec_id") // inner join: drops the id with no successor
      graft.sinks.Sinks.upsertAnnIndex(s, p, up)
      // the source-of-truth vector table AFTER the upserts
      val cur = e.select(col("vec_id"), col("embedding")).as("v")
        .join(up.select(col("vec_id"), col("embedding").as("emb_up")), Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("emb_up"), col("embedding")).as("embedding"))
      graft.sinks.Sinks.rebuildAnnIndex(s, p, cur)
      p
    })
    graft.sinks.Sinks.readAnnIndexTopK(s, idxPath, Ann.defaultQueries(e))
      .orderBy("q_id", "rn")
  }

  /** IVF-PQ with per-list RESIDUAL codebooks — codes quantize
    * v − centroid, ADC tables build over the query residual.
    */
  def annIvfPqResidual(s: SparkSession, dir: String): DataFrame =
    Ann.ivfPqResidualTopK(embs(s, dir)).orderBy("q_id", "rn")

  /** Embedding-cosine near-dup pairs (banded LSH, cos >= 0.3). */
  def embNearDup(s: SparkSession, dir: String): DataFrame =
    Ann.embNearDup(embs(s, dir)).orderBy("vec_a", "vec_b")

  /** The SEMANTIC modality's ingest-time near-dup face over bounded
    * input — the per-bucket exact-cosine fold whose signature kernel
    * is shared verbatim with `emb_near_dup`; the twin is the banded
    * self-join the batch operator runs, kept per band.
    */
  def streamingEmbNearDup(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.batchNearDup(
      graft.streaming.Streaming.EmbRule, Ann.nearDupBandedVectors(embs(s, dir)))
      .toDF().orderBy("vec_a", "vec_b", "band")

  /** Session-memoized in-memory HNSW BUILD artifacts — (corpus,
    * bands, entries, graph), `localCheckpoint`-materialized so they
    * outlive the build's [[graft.operators.CacheScope]]: the
    * serving-shape fixture [[annHnswTopK]] searches against, the
    * build paid once per (session, dir) like the stored dedup /
    * near-dup bases. The build is the SAME deterministic
    * [[graft.operators.Ann.hnswGraphParts]] the one-shot face and
    * [[graft.sinks.Sinks.writeHnswIndex]] run, so the fixture search
    * is bit-identical to both (spec-pinned).
    */
  // A plain HashMap, deliberately: the cached DataFrames hold a strong
  // reference to their SparkSession, so a WeakHashMap keyed by session
  // (the sibling caches' pattern — safe there because their values are
  // plain table-name Strings) could never evict here, and the
  // localCheckpoint blocks live in the session's block manager
  // regardless — GC of the handle would strand them, not free them.
  // Entries are bounded at one per (session, dir) for the JVM's life.
  private val hnswBuildCache =
    new java.util.HashMap[SparkSession, scala.collection.mutable.Map[
      String, (DataFrame, DataFrame, DataFrame, DataFrame)]]()

  /** Drop the memoized HNSW build fixture for `s` — the explicit
    * eviction hook for long-lived JVMs that create and stop many
    * sessions (the checkpoint blocks die with the session's block
    * manager; this frees the driver-side handles and the session
    * reference itself).
    */
  def invalidateHnswBuildCache(s: SparkSession): Unit =
    hnswBuildCache.synchronized { hnswBuildCache.remove(s); () }

  private def hnswBuildFixture(
      s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame, DataFrame) =
    hnswBuildCache.synchronized {
      // purge entries whose session is already stopped: their blocks
      // are gone with the block manager, only the dead handles remain
      val it = hnswBuildCache.entrySet().iterator()
      while (it.hasNext) if (it.next().getKey.sparkContext.isStopped) it.remove()
      val perSession = hnswBuildCache.computeIfAbsent(
        s,
        _ => scala.collection.mutable.Map
          .empty[String, (DataFrame, DataFrame, DataFrame, DataFrame)])
      perSession.getOrElseUpdate(
        dir, {
          val e = embs(s, dir)
          graft.operators.CacheScope.withScope {
            val (graph, ord) = Ann.hnswGraphParts(e)
            (Ann.hnswCorpusVectors(e).localCheckpoint(true),
              Ann.hnswCorpusBands(e).localCheckpoint(true),
              ord.filter(col("r") < Ann.HnswEntries).select("vec_id")
                .localCheckpoint(true),
              graph.localCheckpoint(true))
          }
        })
    }

  /** Graph ANN (small-world) top-K: banded seeds + fixed-round beam
    * over the kNN+ring graph — deterministic build and search, so the
    * twin replays both.
    *
    * SERVING SHAPE: the graph build is paid once per session into
    * [[hnswBuildFixture]] and this row measures the in-memory SEARCH
    * — the shape a user running repeated queries actually pays (the
    * docs scope build-per-call to one-shot exploratory use). The
    * build stays oracle-verified through this row's twin (the
    * deterministic build makes the memoized graph identical to a
    * per-invocation one, so the unrolled build+search CTEs replay it
    * exactly); the one-shot build+search face remains
    * [[graft.operators.Ann.hnswTopK]], pinned ≡ this fixture search
    * in HnswIndexSpec.
    */
  def annHnswTopK(s: SparkSession, dir: String): DataFrame = {
    val (corpus, bands, entries, graph) = hnswBuildFixture(s, dir)
    Ann.hnswSearch(corpus, bands, entries, graph, Ann.defaultQueries(embs(s, dir)))
      .orderBy("q_id", "rn")
  }

  /** Graph ANN through the SERVING layout: edges/entries/bands/vectors
    * frozen on disk ([[graft.sinks.Sinks.writeHnswIndex]] — the build
    * paid once, at write), search-only beam at query time. Shares the
    * in-memory face's oracle twin: the deterministic build makes the
    * frozen graph identical to the per-invocation one, so the same
    * unrolled CTEs replay both.
    */
  def annIndexHnswTopK(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val idxPath = annIndexCache.getOrElseUpdate(s"$dir#hnsw", {
      val p = tempIndexDir("graft_ann_hnsw_")
      // Freeze the session-memoized build fixture instead of paying a
      // second identical build: [[hnswBuildFixture]] holds the SAME
      // deterministic (graph, entries, bands, vectors) frames
      // writeHnswIndex would reconstruct from `e`
      // (Ann.hnswGraphParts/hnswCorpusBands/hnswCorpusVectors are
      // pure functions of the corpus and the build is md5-ring/id
      // deterministic — HnswIndexSpec pins disk ≡ in-memory), so the
      // written generation is bit-identical and the graph build is
      // paid ONCE per (session, dir) across both serving faces.
      val (vectors, bands, entries, graph) = hnswBuildFixture(s, dir)
      graft.sinks.Sinks.writeHnswIndexFromParts(s, p)(
        () => (graph, entries, bands, vectors))
      p
    })
    graft.sinks.Sinks.readHnswIndexTopK(s, idxPath, Ann.defaultQueries(e))
      .orderBy("q_id", "rn")
  }

  /** Corpus-wide approximate k-NN graph over banded-LSH candidates. */
  def annKnnJoin(s: SparkSession, dir: String): DataFrame =
    Ann.knnJoin(embs(s, dir)).orderBy("vec_id", "rn")

  /** Twin ids in [[annTopkBanded]]'s augmented corpus sit above every
    * real vec_id (sf embeddings are dense from 0).
    */
  val BandedTwinOffset = 100000L

  /** Multi-probe banded query top-K (the lshTopK scale successor). The
    * registered corpus is augmented with exact twins of the query
    * vectors (vec_id + [[BandedTwinOffset]]): the sf embeddings are
    * isotropic-random, where 16-bit band keys almost never collide, so
    * the unaugmented row would be a vacuous 0-row hash match — with
    * twins planted, the row proves each query RETRIEVES its duplicate
    * through the band join (cos 1.0) plus any real collisions.
    */
  def annTopkBanded(s: SparkSession, dir: String): DataFrame = {
    val e = embs(s, dir)
    val twins = e.filter(col("vec_id") % Ann.QueryMod === 0)
      .select((col("vec_id") + BandedTwinOffset).as("vec_id"), col("label"), col("embedding"))
    Ann.bandedTopK(e.select("vec_id", "label", "embedding").unionByName(twins),
        Ann.defaultQueries(e))
      .orderBy("q_id", "rn")
  }

  /** Semantic dup-cluster resolution over the embedding pair graph. */
  def embDedupClusters(s: SparkSession, dir: String): DataFrame =
    Ann.embDedupClusters(embs(s, dir)).orderBy("vec_id")

  /** LSH bucket histogram (bucketing sanity + skew visibility). */
  def annBuckets(s: SparkSession, dir: String): DataFrame =
    Ann.withBucket(embs(s, dir))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"))
      .orderBy("bucket")

  /** k-NN majority-label classification of the query set. */
  def annClassify(s: SparkSession, dir: String): DataFrame =
    Ann.knnClassify(embs(s, dir)).orderBy("q_id")

  /** Symmetric int8 embedding quantization (long format). */
  def embQuantize(s: SparkSession, dir: String): DataFrame =
    Ann.quantizeInt8(embs(s, dir)).orderBy("vec_id", "pos")

  /** J-L ±1 random projection to 8 dims (long format). */
  def embProject(s: SparkSession, dir: String): DataFrame =
    Ann.project(embs(s, dir)).orderBy("vec_id", "j")

  /** Per-label centroid embeddings (long format). */
  def embCentroids(s: SparkSession, dir: String): DataFrame =
    Ann.labelCentroids(embs(s, dir)).orderBy("label", "pos")

  /** Per-dimension mean shift between the reference and current
    * corpus windows — the drift read that precedes recall decay.
    */
  def embDriftReport(s: SparkSession, dir: String): DataFrame =
    Ann.embDriftReport(embs(s, dir)).orderBy("pos")

  /** Multimodal plumbing: binary payload + metadata -> typed
    * partition-batched feature extraction (decode stubbed).
    */
  def mmFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.features(spreadDocs(s, dir)).toDF().orderBy("doc_id")

  /** Frame sampling over the payload (video-keyframe plumbing). */
  def mmFrames(s: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.withPayload(spreadDocs(s, dir)))
      .toDF().orderBy("doc_id", "frame_idx")

  /** Stride-resample resize stub. */
  def mmResize(s: SparkSession, dir: String): DataFrame =
    Multimodal.resize(Multimodal.withPayload(spreadDocs(s, dir)))
      .toDF().orderBy("doc_id")

  /** dHash perceptual fingerprint per payload (integer-exact). */
  def mmPhash(s: SparkSession, dir: String): DataFrame =
    Multimodal.fingerprint(Multimodal.Image, Multimodal.withPayload(spreadDocs(s, dir)))
      .orderBy("doc_id")

  /** PIXEL-TRUE 2-D dHash over real PNG payloads: the fixture plants
    * actual `javax.imageio`-encoded images whose pixels derive from
    * md5 metadata ([[Multimodal.plantedPngPayloads]]); the operator
    * must decode the compressed bytes back to a luma grid to hash,
    * and the twin replays the grid from the formula codec-free —
    * equality is the proof the decode path is real.
    */
  def mmPhashPx(s: SparkSession, dir: String): DataFrame =
    Multimodal.fingerprint(Multimodal.Image, Multimodal.plantedPngPayloads(spreadDocs(s, dir)))
      .orderBy("doc_id")

  /** Per-tile crop-robust hashes over the planted PNGs AND their
    * tile-aligned crops — the fixed-size origin-anchored tile grid
    * whose surviving tiles are bit-identical under the crop, while
    * the global dHash scrambles (spec-pinned miss).
    */
  def mmPhashTiles(s: SparkSession, dir: String): DataFrame =
    Multimodal.pixelTileHashes(
      Multimodal.plantedPngPayloads(spreadDocs(s, dir))
        .unionByName(Multimodal.plantedCroppedPngPayloads(spreadDocs(s, dir))))
      .toDF().orderBy("doc_id", "tile_y", "tile_x")

  /** Crop-robust image near-dup: position-free tile-hash vote over
    * the planted orig+crop corpus — every planted crop pair must
    * stand on ≥ TileMinVotes shared tiles.
    */
  def mmImageNearDupTiles(s: SparkSession, dir: String): DataFrame =
    Multimodal.mmImageNearDupTiles(
      Multimodal.plantedPngPayloads(spreadDocs(s, dir))
        .unionByName(Multimodal.plantedCroppedPngPayloads(spreadDocs(s, dir))))
      .orderBy("doc_a", "doc_b")

  /** Content-anchored descriptor hashes over the planted PNGs and
    * their (7,3) OFF-LATTICE crops — gradient-local-max anchors, the
    * same 12×8 region kernel centered on each, so the crop rows'
    * shared anchors carry bit-identical descriptors at an offset
    * neither tile lattice covers.
    */
  def mmAnchorHashes(s: SparkSession, dir: String): DataFrame =
    Multimodal.anchorHashes(
      Multimodal.plantedPngPayloads(spreadDocs(s, dir))
        .unionByName(Multimodal.plantedArbitraryCroppedPngPayloads(spreadDocs(s, dir))))
      .toDF().orderBy("doc_id", "anchor_y", "anchor_x")

  /** Arbitrary-offset crop-robust near-dup: the anchored vote over
    * the planted orig+(7,3)-crop corpus — the pairs BOTH tile faces
    * provably miss (spec-pinned), caught content-anchored.
    */
  def mmImageNearDupAnchored(s: SparkSession, dir: String): DataFrame =
    Multimodal.mmImageNearDupAnchored(
      Multimodal.plantedPngPayloads(spreadDocs(s, dir))
        .unionByName(Multimodal.plantedArbitraryCroppedPngPayloads(spreadDocs(s, dir))))
      .orderBy("doc_a", "doc_b")

  /** HALF-STRIDE overlap tile hashes over the planted PNGs and their
    * (6,4)-offset crops — the lattice face that upgrades the
    * supported crop class from tile-aligned to half-tile-aligned.
    */
  def mmPhashTilesOverlap(s: SparkSession, dir: String): DataFrame =
    Multimodal.pixelTileHashesOverlap(
      Multimodal.plantedPngPayloads(spreadDocs(s, dir))
        .unionByName(Multimodal.plantedHalfStrideCroppedPngPayloads(spreadDocs(s, dir))))
      .toDF().orderBy("doc_id", "tile_y", "tile_x")

  /** Overlap-lattice near-dup: the (6,4)-offset crop pairs the ALIGNED
    * tile face provably misses (spec-pinned), caught on the half-tile
    * lattice.
    */
  def mmImageNearDupTilesOverlap(s: SparkSession, dir: String): DataFrame =
    Multimodal.mmImageNearDupTilesOverlap(
      Multimodal.plantedPngPayloads(spreadDocs(s, dir))
        .unionByName(Multimodal.plantedHalfStrideCroppedPngPayloads(spreadDocs(s, dir))))
      .orderBy("doc_a", "doc_b")

  /** Tile base written once per (session, dir) — the
    * [[storedNearDupFixture]] pattern: base = the planted originals
    * (the published release's images, fingerprinted once), batch =
    * their tile-aligned crops (the recrawl's re-cropped re-uploads).
    */
  private val storedTileCache =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, String]]()

  private def storedTileFixture(s: SparkSession, dir: String): (String, DataFrame) = {
    val table = storedTileCache.synchronized {
      val perSession = storedTileCache.computeIfAbsent(
        s, _ => scala.collection.mutable.Map.empty[String, String])
      perSession.getOrElseUpdate(
        dir, {
          val t = s"tiles_stored_q_${fixtureTag(dir)}"
          graft.sinks.Sinks.writeTileBase(
            Multimodal.plantedPngPayloads(spreadDocs(s, dir)), t)
          t
        })
    }
    (table, Multimodal.plantedCroppedPngPayloads(spreadDocs(s, dir)))
  }

  /** Crop-robust image near-dup of an arriving batch against the
    * PERSISTED tile-signature base — zero corpus decode per probe.
    */
  def mmImageTilesIncrementalStored(s: SparkSession, dir: String): DataFrame = {
    val (table, batch) = storedTileFixture(s, dir)
    Multimodal.tilesAgainstStored(s, table, batch)
      .orderBy("doc_batch", "doc_corpus")
  }

  /** Anchor base written once per (session, dir) — the stored-tile
    * pattern with content-anchored signatures: base = the planted
    * originals, batch = their (7,3) OFF-LATTICE crops (the recrawl's
    * arbitrarily re-cropped re-uploads — the class the tile base's
    * lattice provably misses).
    */
  private val storedAnchorCache =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, String]]()

  private def storedAnchorFixture(s: SparkSession, dir: String): (String, DataFrame) = {
    val table = storedAnchorCache.synchronized {
      val perSession = storedAnchorCache.computeIfAbsent(
        s, _ => scala.collection.mutable.Map.empty[String, String])
      perSession.getOrElseUpdate(
        dir, {
          val t = s"anchors_stored_q_${fixtureTag(dir)}"
          graft.sinks.Sinks.writeAnchorBase(
            Multimodal.plantedPngPayloads(spreadDocs(s, dir)), t)
          t
        })
    }
    (table, Multimodal.plantedArbitraryCroppedPngPayloads(spreadDocs(s, dir)))
  }

  def mmImageAnchoredIncrementalStored(s: SparkSession, dir: String): DataFrame = {
    val (table, batch) = storedAnchorFixture(s, dir)
    Multimodal.anchorsAgainstStored(s, table, batch)
      .orderBy("doc_batch", "doc_corpus")
  }

  /** Anchored dup clusters over the orig+(7,3)-crop corpus — each
    * arbitrary-offset crop family resolves to its original as the
    * canonical doc through the one CC engine.
    */
  def mmImageAnchoredClusters(s: SparkSession, dir: String): DataFrame =
    Multimodal.mmImageAnchoredClusters(
      Multimodal.plantedPngPayloads(spreadDocs(s, dir))
        .unionByName(Multimodal.plantedArbitraryCroppedPngPayloads(spreadDocs(s, dir))))
      .orderBy("doc_id")

  /** Audio-container features through a REAL RIFF/WAVE chunk scan:
    * deterministic PCM parameters synthesized around the projected
    * text as sample data, parsed back field-for-field with exact
    * integer duration math — the audio modality joining the image
    * family's plumbing.
    */
  def mmAudioFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.audioFeatures(Multimodal.withAudioPayload(spreadDocs(s, dir)))
      .toDF().orderBy("doc_id")

  /** PIXEL-TRUE resize over the planted PNGs: real decode, exact
    * integer box-average downscale to 18x16, real PNG re-encode. The
    * hashable columns are the resized grid's integer luma sum and an
    * md5 over its values — replayed by the twin from the planted
    * formula with no codec; the re-encoded payload itself rides the
    * row for consumers but never the hash (codec bytes are
    * JDK-dependent).
    */
  def mmResizePx(s: SparkSession, dir: String): DataFrame =
    Multimodal.resizePx(Multimodal.plantedPngPayloads(spreadDocs(s, dir)))
      .toDF()
      .select("doc_id", "out_w", "out_h", "luma_sum", "luma_md5")
      .orderBy("doc_id")

  // ------------------------------------------ perceptual kernel rows
  // Every perceptual kernel ([[Multimodal.Kernel]]) serves the same
  // registry faces over its payload set: the fingerprint row, the
  // near-dup pairs, the duplicate clusters (the shared CC engine), and
  // the ingest-time fold over bounded input (must equal the banded
  // self-join kept per band; the true flatMapGroupsWithState path is
  // StreamingSpec-pinned). The twins replay each kernel from the synth
  // formulas with no container bytes — equality is the proof the
  // decode (PCM, AVI frame walk) is real.

  private type Payloads = (SparkSession, String) => DataFrame

  private def mmFingerprintRows(kernel: Multimodal.Kernel, payloads: Payloads)(
      s: SparkSession, dir: String): DataFrame =
    Multimodal.fingerprint(kernel, payloads(s, dir)).orderBy("doc_id")

  private def mmPairRows(kernel: Multimodal.Kernel, payloads: Payloads)(
      s: SparkSession, dir: String): DataFrame =
    Multimodal.nearDupPairs(kernel, payloads(s, dir)).orderBy("doc_a", "doc_b")

  private def mmClusterRows(kernel: Multimodal.Kernel, payloads: Payloads)(
      s: SparkSession, dir: String): DataFrame =
    Multimodal.dedupClusters(kernel, payloads(s, dir)).orderBy("doc_id")

  private def streamingMmPairRows(kernel: Multimodal.Kernel, payloads: Payloads)(
      s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.batchNearDup(
      graft.streaming.Streaming.perceptualRule(kernel),
      Multimodal.perceptualBanded(Multimodal.fingerprint(kernel, payloads(s, dir))))
      .toDF().orderBy("doc_a", "doc_b", "band")

  /** The image near-dup rows' payload set: the text payloads
    * (realistic negatives) plus the planted smooth signals and their
    * stride-resampled copies, where scale-invariant pairing is
    * mathematically possible ([[Multimodal.plantedResampledPayloads]]).
    */
  private def imagePayloadSet(s: SparkSession, dir: String): DataFrame =
    Multimodal.withPayload(spreadDocs(s, dir))
      .unionByName(Multimodal.plantedResampledPayloads(spreadDocs(s, dir)))

  /** The combined audio payload set every mm_audio_* row runs over:
    * text-synth WAVs (realistic negatives — too short for a stable
    * 65-bucket energy signature) plus the planted waveform +
    * 2x-downsample pairs where scale-invariant pairing is
    * mathematically possible ([[Multimodal.plantedAudioPayloads]]):
    * each planted waveform must pair with its resample and nothing
    * else. The PCM energy dHash must chunk-scan the container, decode
    * signed 16-bit little-endian frames, mono-mix, and bucket
    * energies.
    */
  private def audioPayloadSet(s: SparkSession, dir: String): DataFrame =
    Multimodal.withAudioPayload(spreadDocs(s, dir))
      .unionByName(Multimodal.plantedAudioPayloads(spreadDocs(s, dir)))

  /** The spectral rows' payload set: text-synth WAVs (negatives —
    * varied ASCII pseudo-noise autocorrelation; clips under the
    * minimum frame count drop) plus the planted recording +
    * padded-stretch pairs where lag-structure pairing is
    * mathematically possible: each planted recording pairs with its
    * padded constant-pitch stretch — the transform class the
    * relative-time energy dHash provably misses (spec-pinned). The
    * block-envelope resample plants are deliberately NOT in this set:
    * near-DC content gives every such clip the same degenerate
    * monotone lag signature — the energy tier is their home.
    */
  private def audioSpectralSet(s: SparkSession, dir: String): DataFrame =
    Multimodal.withAudioPayload(spreadDocs(s, dir))
      .unionByName(Multimodal.plantedStretchedAudioPayloads(spreadDocs(s, dir)))

  /** SAMPLE-TRUE audio resample: real container scan → PCM decode →
    * exact integer box-average decimation → real WAV re-encode; only
    * the formula-replayable proof columns hash (the [[mmResizePx]]
    * discipline), the playable payload rides the row.
    */
  def mmAudioResample(s: SparkSession, dir: String): DataFrame =
    Multimodal.resampleAudio(audioPayloadSet(s, dir))
      .toDF()
      .select("doc_id", "out_rate", "n_frames", "energy_sum", "pcm_md5")
      .orderBy("doc_id")

  /** Every video face runs over synthesized-AVI versions of the text
    * stand-ins (realistic negatives) plus planted clip + frame-rate-
    * downsample pairs where temporal-invariant pairing is
    * mathematically possible ([[Multimodal.plantedVideoPayloads]]):
    * each planted clip must pair with its frame-rate downsample and
    * nothing else.
    */
  private def videoPayloadSet(s: SparkSession, dir: String): DataFrame =
    Multimodal.withVideoPayload(spreadDocs(s, dir))
      .unionByName(Multimodal.plantedVideoPayloads(spreadDocs(s, dir)))

  /** Real AVI container scan (LIST descent, avih fields, 00db frame
    * chunks): the twin replays geometry/timing/frame counts from the
    * synth formulas with no container bytes — equality is the proof
    * the chunk walk is real.
    */
  def mmVideoFeatures(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoFeatures(videoPayloadSet(s, dir))
      .toDF().orderBy("doc_id")

  /** The video SPECTRAL rows' payload set: flicker-projected texts
    * (negatives — one constant-luma frame per payload byte, the only
    * projection that reaches a stable lag window from the corpus's
    * text lengths; sub-minimum clips drop) plus the planted clip +
    * black-padded constant-flicker stretch pairs where lag-structure
    * pairing is mathematically possible: each planted clip pairs with
    * its black-padded longer cut, which the relative-time temporal
    * dHash provably misses (spec-pinned). The constant-luma block
    * plants are deliberately NOT in this set for the audio face's
    * reason: near-DC content (sparse block-boundary deltas) gives a
    * degenerate lag signature — the temporal-dHash tier is their home.
    */
  private def videoSpectralSet(s: SparkSession, dir: String): DataFrame =
    Multimodal.withFlickerVideoPayload(spreadDocs(s, dir))
      .unionByName(Multimodal.plantedStretchedVideoPayloads(spreadDocs(s, dir)))

  /** The SPATIAL video payload set: every clip of the temporal set
    * (all of which fall under the 9×8 pixel grid and so emit no
    * spatial hash — the sub-grid gate, proved by the twin replaying
    * only the planted clips) plus the pixel-true planted
    * original/cropped pairs.
    */
  private def pxVideoPayloadSet(s: SparkSession, dir: String): DataFrame =
    videoPayloadSet(s, dir)
      .unionByName(Multimodal.plantedPxVideoPayloads(spreadDocs(s, dir)))

  /** Per-(clip, sampled frame) spatial 2-D dHash over decoded luma
    * planes — the twin replays the planted md5 cell grids through the
    * same closed-form block-overlap arithmetic, no container bytes.
    */
  def mmVideoPhashPx(s: SparkSession, dir: String): DataFrame =
    Multimodal.videoPxHashes(pxVideoPayloadSet(s, dir))
      .toDF().orderBy("doc_id", "slot")

  /** Spatial video near-dup by per-slot banding + frame vote: each
    * planted clip must pair with its CROPPED copy — the re-encode the
    * temporal hash cannot catch — and nothing else.
    */
  def mmVideoNearDupPx(s: SparkSession, dir: String): DataFrame =
    Multimodal.mmVideoNearDupPx(pxVideoPayloadSet(s, dir))
      .orderBy("doc_a", "doc_b")

  /** Multimodal dedup report — the media release card: one row per
    * payload modality with the counts a dataset card publishes
    * (fingerprintable items, near-dup members dropped, largest
    * cluster, dup rate). Each leg is an already-verified cluster
    * query reduced to a one-row aggregate (the `corpus_manifest`
    * composition discipline); the twin nests the three cluster twins
    * as self-contained WITH-scoped subqueries.
    */
  def mmDedupReport(s: SparkSession, dir: String): DataFrame = {
    def leg(name: String, clusters: DataFrame): DataFrame =
      clusters
        .agg(
          count(lit(1)).as("n_items"),
          sum(when(col("doc_id") =!= col("cluster"), 1L).otherwise(0L))
            .cast("long").as("n_dups"),
          max("cluster_size").as("max_cluster"))
        .select(
          lit(name).as("modality"),
          col("n_items"),
          col("n_dups"),
          col("max_cluster"),
          round(col("n_dups").cast("double") / col("n_items"), 6).as("dup_rate"))
    // The three modality legs are fully independent chains (separate
    // payload synthesis, fingerprints, and an EAGER cluster-propagation
    // loop each); built sequentially, each leg's loop idles the cluster
    // while the next leg waits. Build AND materialize them concurrently
    // (persist + count in a thread per leg; the union then reads the
    // three 1-row caches) — identical rows, wall-clock approaches the
    // slowest leg instead of the sum. Persists land in the session
    // registry and are released by the harness's per-query releaseAll.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val futs = Seq[() => DataFrame](
      () => leg("audio", Multimodal.dedupClusters(Multimodal.Audio, audioPayloadSet(s, dir))),
      () => leg("image", Multimodal.dedupClusters(Multimodal.Image, imagePayloadSet(s, dir))),
      () => leg("video", Multimodal.dedupClusters(Multimodal.Video, videoPayloadSet(s, dir)))
    ).map(f => pool.submit(new java.util.concurrent.Callable[DataFrame] {
      def call(): DataFrame = {
        val df = graft.operators.CacheScope.persist(f())
        df.count() // populate the 1-row cache while the other legs run
        df
      }
    }))
    try futs.map(_.get()).reduce(_ unionByName _).orderBy("modality")
    finally pool.shutdown()
  }

  /** FRAME-TRUE video resample: real container walk → every-4th-frame
    * decimation → real AVI re-encode; only formula-replayable proof
    * columns hash (the [[mmAudioResample]] discipline), the playable
    * payload rides the row.
    */
  def mmVideoResample(s: SparkSession, dir: String): DataFrame =
    Multimodal.resampleVideo(videoPayloadSet(s, dir))
      .toDF()
      .select("doc_id", "out_us_per_frame", "n_frames", "luma_sum", "frames_md5")
      .orderBy("doc_id")

  // ------------------------------------------------------------ P6/P5/P11/P12
  /** Presentation projection of the densified table: the reference's
    * public column set (rename/title-case P6, main.py:230) + URIM (P5).
    */
  def reportDaily(s: SparkSession, dir: String): DataFrame =
    GapFill.densify(dailyDf(s, dir), AsOf)
      .select(
        col("url"),
        col("day").as("Day"),
        col("datetime").as("Datetime"),
        col("c2xx").as("2xx"),
        col("c3xx").as("3xx"),
        col("c4xx").as("4xx"),
        col("c5xx").as("5xx"),
        col("call").as("All"),
        col("specimen").as("Specimen"),
        col("filled").as("Filled"),
        col("digest").as("Digest"),
        col("content").as("Content"),
        Metrics.urim(col("datetime"), col("url")).as("URIM"))
      .orderBy("url", "Day")

  /** Transition melt with the chart's log-scale guard column (P11,
    * `datum.Count+1`, main.py:555-556).
    */
  def transitionsChart(s: SparkSession, dir: String): DataFrame =
    transitions(s, dir).withColumn("cnt_plus", col("cnt") + 1)

  /** URL scheme normalization (P12, main.py:588). */
  def normalizeUrls(s: SparkSession, dir: String): DataFrame =
    captures(s, dir)
      .select("url").distinct()
      .select(col("url"), Metrics.normalizeUrl(col("url")).as("normalized"))
      .orderBy("url")

  // ------------------------------------------------------------- SRC1-SRC3
  /** Page-file fixtures are cached per (JVM, dir) — a fresh temp dir
    * each run, so pages from a previous process can never shadow
    * regenerated input parquet — and removed on JVM exit.
    */
  private val cdxPagesCache = scala.collection.concurrent.TrieMap.empty[String, String]

  /** Scan through the CDX DataSourceV2: captures are materialized once
    * as page files (the driver-side write is test-fixture setup, not
    * part of the operator), then read back through the paginated,
    * pushdown-capable source and checked against the oracle's captures.
    */
  def cdxSourceScan(s: SparkSession, dir: String): DataFrame = {
    val pagesPath = cdxPagesCache.getOrElseUpdate(dir, {
      val pagesDir = java.nio.file.Files.createTempDirectory("graft_cdx_pages_").toFile
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        pagesDir.listFiles().foreach(_.delete())
        pagesDir.delete()
        ()
      }))
      // Distributed page write — no driver collect: range-partition by
      // stream position so lexicographic part-file order == page order
      // (the source's pagination contract), executors write the pages.
      // At 100x the same plan writes 100x the pages; the driver never
      // holds a row.
      captures(s, dir)
        .repartitionByRange(8, col("url"), col("ts"), col("seq"))
        .sortWithinPartitions("url", "ts", "seq")
        .select(concat_ws(" ", col("url"), col("ts"), col("status"), col("digest")))
        .write.mode("overwrite").text(pagesDir.getPath)
      // the empty job marker would parse as a 0-line page; drop it
      new java.io.File(pagesDir, "_SUCCESS").delete()
      pagesDir.getPath
    })
    s.read.format(graft.sources.CdxSource.Name).option("path", pagesPath).load()
      .filter(col("url").isNotNull)
      .select("url", "ts", "status", "digest")
      .orderBy("url", "ts", "status", "digest")
  }

  // ------------------------------------------------------------------ ST1
  /** The streaming fold run over bounded input — must equal the batch
    * daily table bit-for-bit (same oracle SQL shape as daily_counts).
    */
  def streamingDaily(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.model.Capture
    captures(s, dir).as[Capture]
      .groupByKey(_.url)
      .flatMapGroups((url, rows) => graft.streaming.Streaming.runBatch(url, rows))
      .toDF()
      .orderBy("url", "day")
  }

  /** The incremental scorer's fold (ST1 full: captures -> daily ->
    * scored in one stateful stage) over bounded input — must equal the
    * batch scored table on each url's observed-day prefix.
    */
  def streamingScored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.model.Capture
    val q = graft.model.TrendQuery(fill = -1, policy = FillPolicy.Forward, asOf = AsOf)
    captures(s, dir).as[Capture]
      .groupByKey(_.url)
      .flatMapGroups((url, rows) => graft.streaming.Streaming.runBatchScored(url, rows, q))
      .toDF()
      .withColumn("resilience", round(col("resilience"), 6))
      .withColumn("fixity", round(col("fixity"), 6))
      .orderBy("url", "day")
  }

  /** The streaming exact-dedup fold (hash-keyed first-seen-wins) over
    * bounded input — must equal min-per-hash, the batch dedup's
    * canonical rule.
    */
  def streamingDedup(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.batchDedup(docs(s, dir)).toDF().orderBy("doc_id")

  /** The streaming LSH candidate fold over bounded input — must equal
    * the band-bucket self-join (one row per colliding band per pair).
    */
  def streamingNearDup(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.batchNearDup(
      graft.streaming.Streaming.TextRule, Dedup.bandSignatures(docs(s, dir)))
      .toDF().orderBy("doc_a", "doc_b", "band")

  /** The ingest-time decontamination kernel over bounded input — must
    * equal doc_decontaminate row for row (shared twin).
    */
  def streamingDecontaminate(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.batchDecontaminate(docs(s, dir))
      .toDF().orderBy("doc_id")

  /** Ingest-time SEMANTIC decontamination over bounded input — must
    * equal emb_decontaminate row for row (shared twin).
    */
  def streamingEmbDecontaminate(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.batchEmbDecontaminate(embs(s, dir))
      .toDF().orderBy("vec_id")

  /** The ingest-time keep verdict over bounded input — must equal
    * doc_keep_mask row for row (shared twin).
    */
  def streamingKeepMask(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.batchKeep(docs(s, dir))
      .toDF().orderBy("doc_id")

  /** Ingest-time language ID: the stateless kernel over bounded input
    * computes the batch doc_lang_id rows exactly — shared twin.
    */
  def streamingLangId(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streaming.langIdStream(docs(s, dir))
      .toDF().orderBy("doc_id")

  // ------------------------------------------------------------- registry
  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdx_parse" -> (cdxParse _),
    "digest_impute" -> (digestImpute _),
    "daily_counts" -> (dailyCounts _),
    "daily_specimen" -> (dailySpecimen _),
    "daily_content" -> (dailyContent _),
    "chaos_daily" -> (chaosDaily _),
    "daily_anomalies" -> (dailyAnomalies _),
    "periodic_samples" -> (periodicSamples _),
    "monthly_rollup" -> (monthlyRollup _),
    "totals_unpivot" -> (totalsUnpivot _),
    "summary_stats" -> (summaryStats _),
    "densify_calendar" -> (densifyCalendar _),
    "fill_forward" -> (fillForward _),
    "fill_backward" -> (fillBackward _),
    "fill_closest" -> (fillClosest _),
    "fill_identical" -> (fillIdentical _),
    "asof_join" -> (asofJoin _),
    "asof_join_strict" -> (asofJoinStrict _),
    "transitions" -> (transitions _),
    "run_segments" -> (runSegments _),
    "fixity_counts" -> (fixityCounts _),
    "specimen_breakdown" -> (specimenBreakdown _),
    "scored" -> (scored _),
    "scored_scale" -> (scoredScale _),
    "score_series" -> (scoreSeries _),
    "sigmoid_shape" -> (sigmoidShape _),
    "tpch_q1" -> (tpchQ1 _),
    "revenue_by_nation" -> (revenueByNation _),
    "top_orders_per_cust" -> (topOrdersPerCustomer _),
    "event_daily_windows" -> (eventDailyWindows _),
    "event_sessions" -> (eventSessions _),
    "event_retention" -> (eventRetention _),
    "event_funnel" -> (eventFunnel _),
    "event_markov" -> (eventMarkov _),
    "doc_exact_dedup" -> (docExactDedup _),
    "doc_near_dup" -> (docNearDup _),
    "doc_near_dup_capped" -> (docNearDupCapped _),
    "doc_band_overflow" -> (docBandOverflow _),
    "warc_extract_gz" -> (warcExtractGz _),
    "doc_simhash" -> (docSimhash _),
    "doc_simhash_pairs" -> (docSimhashPairs _),
    "doc_token_stats" -> (docTokenStats _),
    "doc_subword_vocab" -> (docSubwordVocab _),
    "doc_subword_vocab_bpe" -> (docSubwordVocabBpe _),
    "doc_token_stats_bpe_true" -> (docTokenStatsBpeTrue _),
    "doc_subword_vocab_unigram" -> (docSubwordVocabUnigram _),
    "doc_token_stats_unigram" -> (docTokenStatsUnigram _),
    "doc_tokenizer_compare" -> (docTokenizerCompare _),
    "doc_token_stats_bpe" -> (docTokenStatsBpe _),
    "doc_token_stats_bpe_stored" -> (docTokenStatsBpeStored _),
    "doc_lang_id" -> (docLangId _),
    "doc_quality" -> (docQuality _),
    "doc_entropy" -> (docEntropy _),
    "doc_quality_model" -> (docQualityModel _),
    "doc_quality_model_trained" -> (docQualityModelTrained _),
    "doc_quality_model_stored" -> (docQualityModelStored _),
    "doc_quality_eval" -> (docQualityEval _),
    "doc_quality_health" -> (docQualityHealth _),
    "doc_lm_score" -> (docLmScore _),
    "doc_lm_score_stored" -> (docLmScoreStored _),
    "streaming_lm_score" -> (streamingLmScore _),
    "doc_nfc" -> (docNfc _),
    "doc_mixture_temperature" -> (docMixtureTemperature _),
    "source_quality_gate" -> (sourceQualityGate _),
    "doc_source_filtered" -> (docSourceFiltered _),
    "streaming_source_gate" -> (streamingSourceGate _),
    "doc_pipeline_full_v3" -> (docPipelineFullV3 _),
    "doc_pipeline_full_v4" -> (docPipelineFullV4 _),
    "doc_pipeline_export" -> (docPipelineExport _),
    "doc_pipeline_reasons" -> (docPipelineReasons _),
    "doc_shard_manifest" -> (docShardManifest _),
    "corpus_diff" -> (corpusDiff _),
    "corpus_diff_near" -> (corpusDiffNear _),
    "doc_fingerprint" -> (docFingerprint _),
    "doc_split" -> (docSplit _),
    "doc_split_leakage" -> (docSplitLeakage _),
    "corpus_manifest" -> (corpusManifest _),
    "doc_near_dup_incremental" -> (docNearDupIncremental _),
    "doc_near_dup_incremental_stored" -> (docNearDupIncrementalStored _),
    "doc_normalize" -> (docNormalize _),
    "doc_extract_html" -> (docExtractHtml _),
    "warc_extract" -> (warcExtract _),
    "warc_pipeline" -> (warcPipeline _),
    "cdx_warc_join" -> (cdxWarcJoin _),
    "cdx_warc_join_gz" -> (cdxWarcJoinGz _),
    "streaming_warc_extract" -> (streamingWarcExtract _),
    "doc_pipeline_html" -> (docPipelineHtml _),
    "doc_pii_scrub" -> (docPiiScrub _),
    "doc_repetition" -> (docRepetition _),
    "doc_ngram_repetition" -> (docNgramRepetition _),
    "doc_keep_mask" -> (docKeepMask _),
    "doc_chunk" -> (docChunk _),
    "doc_dedup_clusters" -> (docDedupClusters _),
    "doc_dedup_export" -> (docDedupExport _),
    "doc_dedup_export_best" -> (docDedupExportBest _),
    "doc_decontaminate" -> (docDecontaminate _),
    "streaming_decontaminate" -> (streamingDecontaminate _),
    "streaming_emb_decontaminate" -> (streamingEmbDecontaminate _),
    "streaming_token_stats_bpe" -> (streamingTokenStatsBpe _),
    "streaming_keep_mask" -> (streamingKeepMask _),
    "streaming_lang_id" -> (streamingLangId _),
    "doc_decontaminate_ext" -> (docDecontaminateExt _),
    "doc_pipeline" -> (docPipeline _),
    "doc_pipeline_full" -> (docPipelineFull _),
    "doc_pipeline_full_v2" -> (docPipelineFullV2 _),
    "doc_boilerplate" -> (docBoilerplate _),
    "doc_pack" -> (docPack _),
    "doc_pack_bpe" -> (docPackBpe _),
    "doc_pack_nosplit" -> (docPackNoSplit _),
    "doc_pack_nosplit_tiny" -> (docPackNoSplitTiny _),
    "doc_logprob" -> (docLogProb _),
    "corpus_vocab" -> (corpusVocab _),
    "corpus_pmi" -> (corpusPmi _),
    "doc_tfidf" -> (docTfidf _),
    "doc_bm25" -> (docBm25 _),
    "corpus_search" -> (corpusSearch _),
    "doc_tfidf_topk" -> (docTfidfTopK _),
    "corpus_inverted_index" -> (corpusInvertedIndex _),
    "corpus_hybrid_search" -> (corpusHybridSearch _),
    "doc_sample" -> (docSample _),
    "doc_containment" -> (docContainment _),
    "doc_substring_dedup" -> (docSubstringDedup _),
    "doc_substring_dedup_min" -> (docSubstringDedupMin _),
    "doc_substring_dedup_wide" -> (docSubstringDedupWide _),
    "doc_dedup_incremental_stored" -> (docDedupIncrementalStored _),
    "streaming_dedup_stored" -> (streamingDedupStored _),
    "doc_substring_scrub" -> (docSubstringScrub _),
    "doc_epoch_order" -> (docEpochOrder _),
    "doc_dedup_incremental" -> (docDedupIncremental _),
    "doc_budget_select" -> (docBudgetSelect _),
    "doc_budget_select_bpe" -> (docBudgetSelectBpe _),
    "doc_mixture_sample" -> (docMixtureSample _),
    "corpus_stats" -> (corpusStats _),
    "periodic_samples_approx" -> (periodicSamplesApprox _),
    "ann_topk" -> (annTopK _),
    "ann_range_search" -> (annRangeSearch _),
    "ann_filtered_topk" -> (annFilteredTopK _),
    "ann_lsh" -> (annLsh _),
    "ann_ivf" -> (annIvf _),
    "ann_ivf_kmeans" -> (annIvfKmeans _),
    "ann_ivf_lists" -> (annIvfLists _),
    "ann_pq_codes" -> (annPqCodes _),
    "ann_pq_codes_gap" -> (annPqCodesGap _),
    "ann_pq_trained" -> (annPqTrained _),
    "ann_pq_rotated" -> (annPqRotated _),
    "ann_index_rotated_topk" -> (annIndexRotatedTopK _),
    "ann_pq_topk" -> (annPqTopK _),
    "ann_pq_rerank" -> (annPqRerank _),
    "ann_ivfpq" -> (annIvfPq _),
    "ann_index_topk" -> (annIndexTopK _),
    "ann_index_residual_topk" -> (annIndexResidualTopK _),
    "ann_index_residual_rotated_topk" -> (annIndexResidualRotatedTopK _),
    "ann_recall_report" -> (annRecallReport _),
    "ann_index_health" -> (annIndexHealth _),
    "ann_recall_report_residual" -> (annRecallReportResidual _),
    "ann_index_upsert_topk" -> (annIndexUpsertTopK _),
    "ann_index_rebuild_topk" -> (annIndexRebuildTopK _),
    "ann_ivfpq_residual" -> (annIvfPqResidual _),
    "ann_ivfpq_residual_trained" -> (annIvfPqResidualTrained _),
    "ann_ivfpq_residual_rotated" -> (annIvfPqResidualRotated _),
    "emb_near_dup" -> (embNearDup _),
    "streaming_emb_near_dup" -> (streamingEmbNearDup _),
    "emb_decontaminate" -> (embDecontaminate _),
    "ann_knn_join" -> (annKnnJoin _),
    "ann_hnsw_topk" -> (annHnswTopK _),
    "ann_index_hnsw_topk" -> (annIndexHnswTopK _),
    "ann_topk_banded" -> (annTopkBanded _),
    "emb_dedup_clusters" -> (embDedupClusters _),
    "emb_centroids" -> (embCentroids _),
    "emb_drift_report" -> (embDriftReport _),
    "emb_outliers" -> (embOutliers _),
    "emb_quantize" -> (embQuantize _),
    "emb_project" -> (embProject _),
    "ann_buckets" -> (annBuckets _),
    "ann_classify" -> (annClassify _),
    "mm_features" -> (mmFeatures _),
    "mm_frames" -> (mmFrames _),
    "mm_resize" -> (mmResize _),
    "mm_phash" -> (mmPhash _),
    "mm_phash_px" -> (mmPhashPx _),
    "mm_phash_tiles" -> (mmPhashTiles _),
    "mm_image_near_dup_tiles" -> (mmImageNearDupTiles _),
    "mm_phash_tiles_overlap" -> (mmPhashTilesOverlap _),
    "mm_image_near_dup_tiles_overlap" -> (mmImageNearDupTilesOverlap _),
    "mm_anchor_hashes" -> (mmAnchorHashes _),
    "mm_image_near_dup_anchored" -> (mmImageNearDupAnchored _),
    "mm_image_tiles_incremental_stored" -> (mmImageTilesIncrementalStored _),
    "mm_image_anchored_incremental_stored" -> (mmImageAnchoredIncrementalStored _),
    "mm_image_anchored_clusters" -> (mmImageAnchoredClusters _),
    "mm_resize_px" -> (mmResizePx _),
    "mm_audio_features" -> (mmAudioFeatures _),
    "mm_audio_phash" -> (mmFingerprintRows(Multimodal.Audio, audioPayloadSet) _),
    "mm_audio_phash_spectral" -> (mmFingerprintRows(Multimodal.AudioSpectral, audioSpectralSet) _),
    "mm_audio_near_dup_spectral" -> (mmPairRows(Multimodal.AudioSpectral, audioSpectralSet) _),
    "mm_audio_resample" -> (mmAudioResample _),
    "mm_audio_near_dup" -> (mmPairRows(Multimodal.Audio, audioPayloadSet) _),
    "mm_audio_dedup_clusters" -> (mmClusterRows(Multimodal.Audio, audioPayloadSet) _),
    "streaming_mm_audio_near_dup" -> (streamingMmPairRows(Multimodal.Audio, audioPayloadSet) _),
    "streaming_mm_audio_near_dup_spectral" -> (streamingMmPairRows(Multimodal.AudioSpectral, audioSpectralSet) _),
    "streaming_mm_video_near_dup_spectral" -> (streamingMmPairRows(Multimodal.VideoSpectral, videoSpectralSet) _),
    "mm_video_features" -> (mmVideoFeatures _),
    "mm_video_phash" -> (mmFingerprintRows(Multimodal.Video, videoPayloadSet) _),
    "mm_video_near_dup" -> (mmPairRows(Multimodal.Video, videoPayloadSet) _),
    "mm_video_phash_spectral" -> (mmFingerprintRows(Multimodal.VideoSpectral, videoSpectralSet) _),
    "mm_video_near_dup_spectral" -> (mmPairRows(Multimodal.VideoSpectral, videoSpectralSet) _),
    "mm_video_phash_px" -> (mmVideoPhashPx _),
    "mm_video_near_dup_px" -> (mmVideoNearDupPx _),
    "mm_video_resample" -> (mmVideoResample _),
    "mm_dedup_report" -> (mmDedupReport _),
    "mm_video_dedup_clusters" -> (mmClusterRows(Multimodal.Video, videoPayloadSet) _),
    "streaming_mm_video_near_dup" -> (streamingMmPairRows(Multimodal.Video, videoPayloadSet) _),
    "mm_near_dup" -> (mmPairRows(Multimodal.Image, imagePayloadSet) _),
    "mm_dedup_clusters" -> (mmClusterRows(Multimodal.Image, imagePayloadSet) _),
    "span_metrics" -> (spanMetrics _),
    "metrics" -> (metrics _),
    "streaming_daily" -> (streamingDaily _),
    "streaming_scored" -> (streamingScored _),
    "streaming_dedup" -> (streamingDedup _),
    "streaming_near_dup" -> (streamingNearDup _),
    "streaming_mm_near_dup" -> (streamingMmPairRows(Multimodal.Image, imagePayloadSet) _),
    "report_daily" -> (reportDaily _),
    "cdx_source_scan" -> (cdxSourceScan _),
    "transitions_chart" -> (transitionsChart _),
    "normalize_urls" -> (normalizeUrls _)
  )
}
