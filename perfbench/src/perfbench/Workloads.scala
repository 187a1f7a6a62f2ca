package perfbench

import java.util.SplittableRandom

import graft.model.{Capture, FillPolicy, ScoredRow, TrendQuery}
import graft.operators.Trend
import graft.sources.CdxSource
import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** One timed operation: `items` units of work done by `run`. */
final case class Op(kind: String, items: Long, run: Spans => Unit)

/** A workload: inputs made in `setup`, an untimed `warmUp`, a closed loop of
  * `nextOp` calls, output `checks` run outside the timed region, and layer
  * `probes` run only in a traced run. Probes may check outputs too.
  */
trait Workload {
  /** what `Op.items` counts */
  def itemUnit: String
  def params: Map[String, Any]
  def setup(rep: Int): Unit
  def warmUp(): Unit
  def nextOp(): Op
  /** (check name, failure message or None), each made with [[Workloads.check]] */
  def checks(): Seq[(String, Option[String])]
  def probes(t: Tracer): Probed
  def close(): Unit = ()
}

/** Layer metrics from a traced run's probes, the checks the probes made,
  * and latency samples (kind -> ms) of requests the probes timed.
  */
final case class Probed(
    metrics: Map[String, Double],
    checks: Seq[(String, Option[String])] = Nil,
    latencies: Map[String, Seq[Double]] = Map.empty)

object Workloads {
  val Names = Seq("trend_batch", "trend_stream")

  def apply(name: String, spark: SparkSession, seed: Long, work: String): Workload = name match {
    case "trend_batch" => new TrendBatch(spark, seed, work)
    case "trend_stream" => new TrendStream(spark, seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def check(name: String)(body: => Option[String]): (String, Option[String]) =
    name -> (try body catch { case scala.util.control.NonFatal(e) => Some(s"threw $e") })

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The scoring query of the trend workloads: 14-day gap fill with the
    * `closest` policy, so fill, densify and recurrence all do work.
    */
  val Query: TrendQuery = TrendQuery(fill = 14, policy = FillPolicy.Closest)

  def sorted(rows: Seq[ScoredRow]): Seq[ScoredRow] = rows.sortBy(r => (r.url, r.day))

  /** ns per capture of graft's fused daily fold (`Streaming.runBatch`) on
    * the driver over a seeded sample of URLs, regenerated from the seed;
    * median of three passes.
    */
  def foldNsPerCapture(seed: Long): Double = {
    val rnd = new SplittableRandom(seed ^ 0x5eedL)
    val p = Gen.CaptureParams()
    val sample = Seq.fill(12)(1 + rnd.nextInt(p.urls)).distinct.map(Gen.urlCaptures(seed, _, p))
    val n = sample.map(_.length).sum
    Stats.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      sample.foreach(c => Streaming.runBatch(c.head.url, c.iterator).size)
      (System.nanoTime() - t0).toDouble / n
    })
  }

  /** Median of a per-span metric over the spans named `name`, 0 when none. */
  def medianOver(t: Tracer, name: String)(f: Tracer.SpanMetrics => Double): Double = {
    val ss = t.spansNamed(name)
    if (ss.isEmpty) 0.0 else Stats.median(ss.map(s => f(t.metrics(s))))
  }
}

import Workloads._

/** The captures as a CDX index serves them: page files of `pageLines`
  * `url ts status digest` lines each, sorted by (url, ts), written by the
  * executors in parallel. graft's CDX source (`graft.sources.CdxSource`)
  * reads them back; `trend_batch` stores what it read as parquet, in
  * (url, ts) order and in small row groups, so a per-URL read can skip
  * row groups.
  */
final class CaptureStore(spark: SparkSession, seed: Long, work: String,
    p: Gen.CaptureParams = Gen.CaptureParams(), pageLines: Int = 50000) {
  var path: String = _

  /** Write rep `rep`'s CDX pages and return graft's scan of them. */
  def cdx(rep: Int): DataFrame = {
    val (s, lines, params) = (seed, pageLines, p)
    val dir = s"$work/data/cdx-$rep"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    // first line of each URL rank in the whole index
    val from = Gen.rankCounts(p).scanLeft(0L)(_ + _)
    val pages = ((from.last + lines - 1) / lines).toInt
    spark.sparkContext.parallelize(0 until pages, pages).foreach { k =>
      val (lo, hi) = (k.toLong * lines, (k + 1L) * lines)
      val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(dir, f"page-$k%05d.cdx"))
      try (1 to params.urls).filter(r => from(r - 1) < hi && from(r) > lo).foreach { r =>
        Gen.urlCaptures(s, r, params).slice(math.max(0L, lo - from(r - 1)).toInt, (hi - from(r - 1)).toInt)
          .foreach { c => w.write(Gen.cdxLine(c)); w.newLine() }
      } finally w.close()
    }
    spark.read.format(CdxSource.Name).option("path", dir).load()
  }

  /** CDX pages, read by graft, stored as parquet */
  def write(rep: Int): Unit = {
    path = s"$work/data/captures-$rep"
    cdx(rep).write.option("parquet.block.size", 256 * 1024).mode("overwrite").parquet(path)
  }

  def all(): DataFrame = spark.read.parquet(path)
  def of(urls: Seq[String]): DataFrame = all().filter(col("url").isin(urls: _*))
}

/** `trend_batch`: one `Trend.run` over every capture, read from parquet and
  * written to the noop sink. Its traced run also probes the batch layers
  * no timed loop covers: the `TrendMachine` request path with the staged
  * Daily / GapFill / Score operators ([[LookupProbe]]) and the curation
  * half ([[CurationProbe]]).
  */
final class TrendBatch(spark: SparkSession, seed: Long, work: String) extends Workload {
  val itemUnit = "captures"
  private val store = new CaptureStore(spark, seed, work)
  def params: Map[String, Any] = Gen.CaptureParams().asMap ++ Map("query" -> Query.toString)

  def setup(rep: Int): Unit = store.write(rep)
  def op(s: Spans): Unit = s("operators.Trend")(noop(Trend.run(store.all(), Query).toDF()))
  def warmUp(): Unit = (1 to 6).foreach(_ => op(NoSpans))
  private val captures = Gen.rankCounts(Gen.CaptureParams()).sum.toLong
  def nextOp(): Op = Op("run", captures, op)

  def checks(): Seq[(String, Option[String])] = Seq(
    check("row_count_equals_days_to_asOf") {
      val got = Trend.run(store.all(), Query).groupBy("url").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val (p, s) = (Gen.CaptureParams(), seed)
      val firstDay = spark.sparkContext.parallelize(1 to p.urls)
        .map(r => Gen.urlOfRank(r) -> Gen.dayOf(Gen.urlCaptures(s, r, p).head.ts)).collect()
      Checks.rowCounts(got, firstDay.toMap, Query.asOf)
    },
    check("fused_equals_staged_on_sample") {
      val rnd = new SplittableRandom(seed ^ 0xc4ecL)
      val sample = Seq.fill(2)(Gen.urlOfRank(1 + rnd.nextInt(Gen.CaptureParams().urls))).distinct
      val df = store.of(sample)
      Checks.sameRows("Trend.run vs Trend.runStaged",
        sorted(Trend.run(df, Query).collect().toSeq), sorted(Trend.runStaged(df, Query).collect().toSeq))
    })

  def probes(t: Tracer): Probed = {
    val lookup = new LookupProbe(spark, store, seed).run(t)
    val curation = new CurationProbe(spark, seed, work).run(t)
    val runs = t.spansNamed("operators.Trend").map(t.metrics)
    def med(f: Tracer.SpanMetrics => Double) = if (runs.isEmpty) 0.0 else Stats.median(runs.map(f))
    val own = Map(
      "streaming.fold_ns_per_capture" -> foldNsPerCapture(seed),
      "trend.run_s" -> med(_.wallMs / 1e3),
      "trend.task_ms" -> med(_.taskMs.toDouble),
      "trend.task_skew" -> med(_.taskSkew),
      "trend.shuffle_write_bytes" -> med(_.shuffleWriteBytes.toDouble))
    Probed(own ++ lookup.metrics ++ curation.metrics, lookup.checks ++ curation.checks,
      lookup.latencies ++ curation.latencies)
  }
}

/** `trend_stream`: the captures in event-time order into
  * `Streaming.scoredStream` with a noop sink. The days before [[LiveFrom]]
  * arrive as one backlog batch during warm-up; after that each micro-batch
  * is one archive day, and the producer waits for `processAllAvailable`
  * before sending the next.
  */
final class TrendStream(spark: SparkSession, seed: Long, work: String) extends Workload {
  import spark.implicits._
  val itemUnit = "captures"
  /** every URL's first capture precedes this day, so each live batch
    * touches URLs that already hold state
    */
  val LiveFrom = "20190401"
  val WarmDays = 20
  def params: Map[String, Any] =
    Gen.CaptureParams().asMap ++ Map("query" -> Query.toString, "live_from" -> LiveFrom,
      "batch" -> "one archive day", "warm_days" -> WarmDays)

  private val store = new CaptureStore(spark, seed, work)
  /** set up, fed in warm-up, then dropped */
  private var backlog: Array[Capture] = _
  /** one day's captures per live micro-batch, dropped once fed */
  private var days: Array[Array[Capture]] = _
  private var dayKeys: Array[String] = _
  private var stream: MemoryStream[Capture] = _
  private var query: StreamingQuery = _
  private var next = 0
  private lazy val checkpoints = s"$work/tmp/checkpoints-${System.nanoTime()}"

  /** graft reads the CDX pages; the producer orders what it read by event
    * time and cuts it into the backlog and one batch per day.
    */
  def setup(rep: Int): Unit = {
    backlog = null
    days = null
    val caps = store.cdx(rep).as[Capture].collect()
    java.util.Arrays.sort(caps, (a: Capture, b: Capture) => {
      val k = a.ts.compareTo(b.ts)
      if (k != 0) k else java.lang.Long.compare(a.seq, b.seq)
    })
    val live = caps.indexWhere(_.ts >= LiveFrom)
    backlog = caps.take(live)
    val byDay = caps.drop(live).groupBy(_.ts.substring(0, 8)).toArray.sortBy(_._1)
    dayKeys = byDay.map(_._1)
    days = byDay.map(_._2)
  }

  private def start(sink: String, queryName: String, dir: String): (MemoryStream[Capture], StreamingQuery) = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val s = MemoryStream[Capture]
    val q = Streaming.scoredStream(s.toDS(), Query).writeStream.format(sink).queryName(queryName)
      .option("checkpointLocation", dir).outputMode("append").start()
    (s, q)
  }

  private def feed(s: MemoryStream[Capture], q: StreamingQuery, caps: Seq[Capture]): Unit = {
    s.addData(caps)
    q.processAllAvailable()
  }

  def warmUp(): Unit = {
    val (s, q) = start("noop", s"perfbench_stream_$seed", s"$checkpoints/main")
    stream = s
    query = q
    feed(s, q, backlog.toSeq)
    backlog = null
    (1 to WarmDays).foreach(_ => nextOp().run(NoSpans))
  }

  def nextOp(): Op = {
    if (next >= days.length) throw new IllegalStateException("stream input exhausted")
    val batch = days(next).toSeq
    days(next) = null
    next += 1
    Op("batch", batch.length, s => s("Streaming.scoredStream.batch") {
      feed(stream, query, batch)
    })
  }

  def checks(): Seq[(String, Option[String])] = Seq(
    check("emitted_equals_batch_closed_prefix") {
      // the StreamingSpec contract on a seeded URL sample, regenerated
      // from the seed: the same backlog and the days fed so far, into a
      // memory sink, against Trend.run
      val rnd = new SplittableRandom(seed ^ 0xc4ecL)
      val p = Gen.CaptureParams()
      val sample = Seq.fill(15)(1 + rnd.nextInt(p.urls)).distinct.flatMap(Gen.urlCaptures(seed, _, p))
        .sortBy(c => (c.ts, c.seq))
      val mine = sample.filter(_.ts < LiveFrom)
      val fed = dayKeys.take(next).toSet
      val fedDays = sample.filter(_.ts >= LiveFrom).groupBy(_.ts.substring(0, 8))
        .filter { case (d, _) => fed(d) }.toSeq.sortBy(_._1).map(_._2)
      val (s, q) = start("memory", s"perfbench_check_$seed", s"$checkpoints/check")
      try {
        feed(s, q, mine)
        val half = fedDays.length / 2
        feed(s, q, fedDays.take(half).flatten)
        feed(s, q, fedDays.drop(half).flatten)
      } finally q.stop()
      val streamed = spark.table(s"perfbench_check_$seed").as[ScoredRow].collect().toSeq
      val all = mine ++ fedDays.flatten
      Checks.streamPrefix(streamed, Trend.run(all.toDF(), Query).collect().toSeq)
    })

  def probes(t: Tracer): Probed = {
    t.settle()
    // progress of the micro-batches that ran inside traced batch spans
    val traced = t.spansNamed("Streaming.scoredStream.batch")
    val ps = t.progressEvents.map(_.progress).filter { p =>
      val at = java.time.Instant.parse(p.timestamp).toEpochMilli
      traced.exists(s => s.startMs <= at && at <= s.endMs)
    }
    def med(key: String): Double = {
      val v = ps.flatMap(p => Option(p.durationMs.get(key)).map(_.doubleValue()))
      if (v.isEmpty) 0.0 else Stats.median(v)
    }
    val state = ps.lastOption.flatMap(_.stateOperators.headOption)
    Probed(Map(
      "streaming.fold_ns_per_capture" -> foldNsPerCapture(seed),
      "streaming.state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "streaming.plan_ms" -> med("queryPlanning"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.commit_ms" -> med("commitOffsets")))
  }

  override def close(): Unit = {
    if (query != null) query.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(checkpoints))
  }
}

