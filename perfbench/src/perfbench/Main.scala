package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a workload from a seed (several times, to time
  * set-up), warm up untimed, run its closed loop for the given seconds,
  * check outputs outside the timed region, and print the result.
  *
  * With `--trace 1` every other operation of each kind runs inside a span
  * with this benchmark's listeners recording, the layer probes run after
  * the loop, and the per-layer metrics are printed instead of the
  * end-to-end ones. The untraced half still gives the end-to-end figures
  * (in the report file), and `trace.overhead_pct` compares the two halves.
  */
object Main {
  val SetupReps = 3

  /** name -> unit of the end-to-end metrics. Throughput (`captures_per_s`)
    * is in the report but not here: on `trend_batch` it is the latency's
    * reciprocal times a constant, and on `trend_stream` it follows each
    * seed's per-day capture volume more than the code.
    */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "heap_peak_mb" -> "MiB")

  val PerLayer: Seq[(String, String)] = Seq(
    "sources.rows_read" -> "rows", "sources.rows_read_per_row_returned" -> "ratio",
    "sources.warc_parse_s" -> "s",
    "daily.build_s" -> "s", "daily.jobs" -> "count",
    "gapfill.fill_s" -> "s", "score.score_s" -> "s",
    "trend.run_s" -> "s", "trend.task_ms" -> "ms", "trend.task_skew" -> "ratio",
    "trend.shuffle_write_bytes" -> "bytes",
    "streaming.fold_ns_per_capture" -> "ns/capture", "streaming.state_rows" -> "rows",
    "streaming.state_bytes" -> "bytes", "streaming.plan_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms", "streaming.commit_ms" -> "ms",
    "api.jobs_per_request" -> "count", "api.plan_ms_per_request" -> "ms",
    "textstats.extract_s" -> "s",
    "dedup.shingle_s" -> "s", "dedup.pairs_s" -> "s", "dedup.candidate_pairs" -> "count",
    "dedup.verified_pairs" -> "count", "dedup.verify_yield" -> "ratio",
    "corpus.cc_s" -> "s", "corpus.cc_rounds" -> "count", "corpus.pipeline_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_ms" -> "ms", "spark.cpu_ms" -> "ms", "spark.gc_ms" -> "ms", "spark.plan_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.driver_self_ms" -> "ms", "trace.overhead_pct" -> "%")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, cores: Int,
      heapGib: Int, work: String, gitSha: String, sourceSha: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt, get("trace") == "1",
      get("cores").toInt, get("heap-gib").toInt, get("work"), m.getOrElse("git-sha", ""),
      m.getOrElse("source-sha256", ""))
    require(Workloads.Names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def session(cores: Int, work: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (trace) b.config("spark.sql.queryExecutionListeners", classOf[QeListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.cores, a.work, a.trace)
    val code =
      try run(spark, a)
      finally {
        spark.stop()
        phase("stopped")
      }
    sys.exit(code)
  }

  final case class Sample(kind: String, traced: Boolean, ms: Double, items: Long)

  /** items per second of one operation; throughput is the median of these */
  def rate(s: Sample): Double = s.items / (s.ms / 1e3)

  /** elapsed seconds per run phase, reported on stderr */
  private val phaseStart = System.nanoTime()
  private def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - phaseStart) / 1e9}%7.2f s  $name")

  def run(spark: SparkSession, a: Args): Int = {
    phase("session up")
    val w = Workloads(a.workload, spark, a.seed, a.work)
    val setupS = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    phase("set up")
    w.warmUp()
    phase("warmed up")
    val tracer = if (a.trace) Some(new Tracer(spark, a.workload)) else None
    tracer.foreach(_.start())

    // ---------------------------------------------------- timed region
    val samples = mutable.ArrayBuffer.empty[Sample]
    val errors = mutable.ArrayBuffer.empty[String]
    val perKind = mutable.Map.empty[String, Int]
    var attempted = 0
    var failed = 0
    val minOps = if (a.trace) 4 else 2
    System.gc()
    HeapPeak.begin()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (System.nanoTime() < deadline || attempted < minOps) {
      attempted += 1
      step(w, tracer, perKind) match {
        case Right(sample) => samples += sample
        case Left(err) =>
          failed += 1
          errors += err
      }
    }
    val heapPeakMb = HeapPeak.end()
    phase(s"timed region done: ${samples.size} operations")

    // ------------------------------------------- checks, outside timing
    val checkResults = w.checks()
    attempted += checkResults.size
    failed += checkResults.count(_._2.isDefined)

    val probed: Probed = tracer match {
      case Some(t) =>
        val p = try w.probes(t) catch {
          case NonFatal(e) => Probed(Map.empty, Seq("probes" -> Some(s"threw $e")))
        }
        t.stop()
        p.copy(metrics = p.metrics ++ sparkPerOp(t, samples.toSeq) ++
          Map("trace.overhead_pct" -> overheadPct(samples.toSeq)))
      case None => Probed(Map.empty)
    }
    attempted += probed.checks.size
    failed += probed.checks.count(_._2.isDefined)
    val allChecks = checkResults ++ probed.checks
    val layers = probed.metrics
    w.close()
    phase("checked")

    // ---------------------------------------------------------- report
    val untraced = samples.filterNot(_.traced).toSeq
    val e2e: Map[String, Double] = Map(
      "setup_s" -> Stats.median(setupS),
      "latency_p50_ms" -> (if (untraced.isEmpty) Double.NaN else Stats.median(untraced.map(_.ms))),
      "heap_peak_mb" -> heapPeakMb)
    val correct = failed == 0
    val report = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "envelope" -> envelope(spark, a),
      "generator" -> w.params,
      "setup_s_reps" -> setupS,
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "failed_ratio" -> failed.toDouble / attempted,
      "checks" -> allChecks.map { case (n, r) => Map("name" -> n, "passed" -> r.isEmpty, "detail" -> r) },
      "errors" -> errors.toSeq,
      "end_to_end" -> e2e,
      "latency" -> scala.collection.immutable.ListMap(kindMetrics(w.itemUnit, untraced): _*),
      "samples_ms" -> samples.groupBy(s => s"${s.kind}${if (s.traced) "_traced" else ""}").map {
        case (k, ss) => k -> ss.map(_.ms) },
      "probe_latency_ms" -> probed.latencies.map { case (k, v) => k -> Map("n" -> v.size, "p50" -> Stats.median(v)) },
      "per_layer" -> layers)
    val results = Paths.get(a.work, "results")
    Files.createDirectories(results)
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    Files.write(results.resolve(s"$tag.json"), Json(report).getBytes(UTF_8))
    tracer.foreach(t => Files.write(results.resolve(s"spans-$tag.json"), Json(t.dump()).getBytes(UTF_8)))

    println(s"perfbench ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0}: " +
      s"$attempted attempted, $failed failed; report in ${results.resolve(s"$tag.json")}")
    allChecks.foreach { case (n, r) => println(s"  check $n: ${r.fold("passed")("FAILED: " + _)}") }
    errors.take(5).foreach(e => println(s"  error $e"))
    kindMetrics(w.itemUnit, untraced).foreach { case (k, v) => println(f"  $k%-22s ${Json(v)}") }
    val shown = if (a.trace) PerLayer.map { case (n, u) => n -> (layers.getOrElse(n, 0.0), u) }
      else EndToEnd.map { case (n, u) => n -> (e2e(n), u) }
    println(Json(Map(
      "correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> scala.collection.immutable.ListMap(shown.map { case (n, (v, u)) =>
        n -> Map("value" -> v, "unit" -> u) }: _*))))
    phase("reported")
    if (correct) 0 else 1
  }

  /** One closed-loop step: the next operation, timed. With a tracer, every
    * other operation of each kind runs inside a span. An operation that
    * throws (or cannot be made) is a failure, never a timing.
    */
  def step(w: Workload, tracer: Option[Tracer], perKind: mutable.Map[String, Int]): Either[String, Sample] =
    try {
      val op = w.nextOp()
      val traced = tracer.isDefined && perKind.getOrElse(op.kind, 0) % 2 == 1
      perKind(op.kind) = perKind.getOrElse(op.kind, 0) + 1
      val t0 = System.nanoTime()
      tracer.filter(_ => traced) match {
        case Some(t) => t(s"op.${op.kind}")(op.run(t))
        case None => op.run(NoSpans)
      }
      Right(Sample(op.kind, traced, (System.nanoTime() - t0) / 1e6, op.items))
    } catch {
      case NonFatal(e) => Left(s"op: $e")
    }

  /** Per-workload figures for the report: items per second, and p50 / p90
    * with the sample count for each operation kind (p90 only where at
    * least ten samples lie beyond it).
    */
  def kindMetrics(itemUnit: String, untraced: Seq[Sample]): Seq[(String, Any)] = {
    Seq(s"${itemUnit}_per_s" -> (if (untraced.isEmpty) Double.NaN else Stats.median(untraced.map(rate)))) ++
      untraced.groupBy(_.kind).toSeq.sortBy(_._1).flatMap { case (k, ss) =>
        val s = Stats.summarize(ss.map(_.ms))
        Seq(s"${k}_n" -> s.n, s"${k}_p50_ms" -> s.p50) ++ s.p90.map(p => s"${k}_p90_ms" -> p)
      }
  }

  /** Spark engine figures per traced operation (mean over the op spans). */
  def sparkPerOp(t: Tracer, samples: Seq[Sample]): Map[String, Double] = {
    val ops = samples.filter(_.traced).map(_.kind).distinct.flatMap(k => t.spansNamed(s"op.$k")).map(t.metrics)
    def mean(f: Tracer.SpanMetrics => Double) = if (ops.isEmpty) 0.0 else ops.map(f).sum / ops.size
    Map(
      "spark.jobs" -> mean(_.jobs), "spark.stages" -> mean(_.stages), "spark.tasks" -> mean(_.tasks),
      "spark.task_ms" -> mean(_.taskMs.toDouble), "spark.cpu_ms" -> mean(_.cpuMs),
      "spark.gc_ms" -> mean(_.gcMs.toDouble), "spark.plan_ms" -> mean(_.planMs.toDouble),
      "spark.shuffle_write_bytes" -> mean(_.shuffleWriteBytes.toDouble),
      "spark.spill_bytes" -> mean(_.spillBytes.toDouble), "spark.driver_self_ms" -> mean(_.driverSelfMs))
  }

  /** Median latency of the traced half over the untraced half, minus one,
    * in percent, pooled over operation kinds by per-kind ratio.
    */
  def overheadPct(samples: Seq[Sample]): Double = {
    val ratios = samples.groupBy(_.kind).values.toSeq.flatMap { ss =>
      val (t, u) = ss.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None else Some(Stats.median(t.map(_.ms)) / Stats.median(u.map(_.ms)))
    }
    if (ratios.isEmpty) 0.0 else (Stats.median(ratios) - 1) * 100
  }

  def envelope(spark: SparkSession, a: Args): Map[String, Any] = Map(
    "master" -> spark.sparkContext.master,
    "cores" -> a.cores,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
    "timezone" -> spark.conf.get("spark.sql.session.timeZone"),
    "heap_gib_requested" -> a.heapGib,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
    "spark" -> spark.version,
    "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.runtime.version")}",
    "git_sha" -> a.gitSha,
    "source_sha256" -> a.sourceSha)
}

/** Driver heap in use just after each garbage collection, maximum over the
  * timed region (in local mode the driver JVM also runs the tasks).
  */
object HeapPeak {
  @volatile private var active = false
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private lazy val listening: Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if heapPools(pool) => u.getUsed
            }.sum
            peak.accumulateAndGet(used, math.max(_, _))
          }
        }, null, null)
      case _ => ()
    }
  }

  def begin(): Unit = { listening; peak.set(0L); active = true }

  /** End the region: one explicit collection makes sure the region has at
    * least one after-GC reading.
    */
  def end(): Double = {
    System.gc()
    Thread.sleep(200) // notifications arrive on their own thread
    active = false
    peak.get / 1048576.0
  }
}
