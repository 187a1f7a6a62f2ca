package graft

import graft.model.Capture
import graft.operators.{Ann, Daily, Dedup, Multimodal}
import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** ST1 equivalence: the incremental flatMapGroupsWithState daily table
  * must match the batch window/aggregate pipeline on the closed days,
  * regardless of how the stream is chopped into micro-batches.
  */
class StreamingSpec extends AnyFunSuite {

  private def fixture(url: String, seed: Int, n: Int, days: Int): Seq[Capture] = {
    val rnd = new Random(seed)
    val statuses = Seq("200", "200", "301", "404", "503", "-")
    (0 until n).map { _ =>
      val day = java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(days))
      val ts = f"${day.toString.replace("-", "")}${rnd.nextInt(24)}%02d${rnd.nextInt(60)}%02d${rnd.nextInt(60)}%02d"
      (ts, statuses(rnd.nextInt(statuses.length)), f"SD${rnd.nextInt(7)}%02dYYYYYYY")
    }.sortBy(_._1).zipWithIndex.map { case ((t, s, d), i) => Capture(url, t, s, d, i.toLong) }
  }

  /** A perceptual kernel's banded rows — the input every perceptual face takes. */
  private def mmBanded(
      kernel: Multimodal.Kernel, payloads: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    Multimodal.perceptualBanded(Multimodal.fingerprint(kernel, payloads))

  /** The perceptual exact stream under `kernel`. */
  private def mmStream(kernel: Multimodal.Kernel)(payloads: org.apache.spark.sql.DataFrame) =
    Streaming.nearDupStream(Streaming.perceptualRule(kernel), mmBanded(kernel, payloads))

  /** The perceptual bounded twin under `kernel`. */
  private def mmBatch(kernel: Multimodal.Kernel)(payloads: org.apache.spark.sql.DataFrame) =
    Streaming.batchNearDup(Streaming.perceptualRule(kernel), mmBanded(kernel, payloads))

  /** The perceptual TTL stream under `kernel`. */
  private def mmStreamTtl(kernel: Multimodal.Kernel)(payloads: org.apache.spark.sql.DataFrame) =
    Streaming.nearDupStreamTtl(
      Streaming.perceptualRule(kernel), mmBanded(kernel, payloads),
      watermarkDelay = "0 seconds", ttlSeconds = 60)

  test("streaming daily table equals batch daily table on closed days") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val capsA = fixture("sa", 21, 200, 25)
    val capsB = fixture("sb", 22, 80, 25)
    val all = (capsA ++ capsB).sortBy(c => (c.ts, c.seq))

    val stream = MemoryStream[Capture]
    val query = Streaming.dailyStream(stream.toDS())
      .writeStream.format("memory").queryName("daily_stream")
      .outputMode("append").start()
    // three uneven micro-batches, each time-ordered
    val chunks = Seq(all.take(90), all.slice(90, 201), all.drop(201))
    chunks.foreach { c => stream.addData(c); query.processAllAvailable() }
    query.stop()

    val streamed = spark.table("daily_stream")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.toSeq)
      .toMap

    val batch = Daily.fromCaptures(all.toDF())
      .select("url", "day", "datetime", "c2xx", "c3xx", "c4xx", "c5xx",
        "specimen", "digest", "content", "chaos", "chaosn")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.toSeq)
      .toMap

    // closed days = all batch days except each url's last
    val lastDay = batch.keys.groupBy(_._1).map { case (u, ks) => u -> ks.map(_._2).max }
    val closed = batch.filter { case ((u, d), _) => d != lastDay(u) }
    assert(closed.nonEmpty && streamed.nonEmpty)
    assert(streamed.keySet == closed.keySet,
      s"closed-day sets differ: extra=${streamed.keySet -- closed.keySet} missing=${closed.keySet -- streamed.keySet}")
    closed.foreach { case (k, want) =>
      assert(streamed(k) == want, s"row mismatch at $k:\n  stream ${streamed(k)}\n  batch  $want")
    }
  }

  test("fused fold tolerates junk timestamps like the declarative path") {
    // short / malformed ts must yield the same junk day strings as SQL
    // substring (and the reference's Python slicing), not throw
    val spark = TestSpark.spark
    import spark.implicits._
    val caps = Seq(
      Capture("j", "2024", "200", "DIGA_______", 0L), // day "2024--"
      Capture("j", "20240105", "301", "DIGB_______", 1L), // no HHMMSS
      Capture("j", "20240106120000", "404", "DIGC_______", 2L),
      Capture("j", "troll", "30x", "D", 3L)) // junk everything
    val fused = Streaming.runBatch("j", caps.iterator).toVector
      .map(d => d.day -> d).toMap
    val declarative = Daily.fromCaptures(caps.toDF())
      .select("url", "day", "datetime", "c2xx", "c3xx", "c4xx", "c5xx",
        "specimen", "digest", "content", "chaos", "chaosn")
      .collect()
      .map(r => r.getString(1) -> r.toSeq).toMap
    assert(fused.keySet == declarative.keySet,
      s"day sets differ: ${fused.keySet} vs ${declarative.keySet}")
    fused.foreach { case (day, d) =>
      val want = declarative(day)
      val got = Seq(d.url, d.day, d.datetime, d.c2xx, d.c3xx, d.c4xx, d.c5xx,
        d.specimen, d.digest, d.content, d.chaos, d.chaosn)
      assert(got == want, s"junk-ts divergence at $day:\n  fused $got\n  decl  $want")
    }
  }

  test("the fold's day test agrees with the day string on junk timestamps") {
    // sameDay(ts, d) spares the fold a day string per capture; it must
    // answer exactly dayOf(ts) == d, short and odd timestamps included
    val rnd = new Random(3)
    val alphabet = "2014-x"
    def ts() = Seq.fill(rnd.nextInt(12))(alphabet(rnd.nextInt(alphabet.length))).mkString
    for (_ <- 0 until 20000) {
      val t = ts()
      val d = if (rnd.nextBoolean()) Streaming.dayOf(t) else Streaming.dayOf(ts())
      assert(Streaming.sameDay(t, d) == (Streaming.dayOf(t) == d), s"ts=$t day=$d")
    }
    assert(Streaming.sameDay("20240105120000", "2024-01-05"))
    assert(!Streaming.sameDay("20240105120000", "2024-01-06"))
    assert(Streaming.sameDay("2024", "2024--") && !Streaming.sameDay("20240", "2024--"))
  }

  test("trend stream state encoders keep their checkpoint format") {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types._
    // format v2, the four trend faces' checkpointed state: one binary
    // column, through a bound encoder (nothing left to resolve per
    // micro-batch); a schema change here breaks restore from existing
    // checkpoints
    val v2 = Streaming.TrendStateEncoder
    assert(v2.schema == StructType(Seq(StructField("value", BinaryType, nullable = true))))
    assert(isBound(v2) && !isBound(Encoders.BINARY))
    assert(Streaming.TrendStateVersion == 2)

    // format v1, as the committed v1 checkpoints store it: the struct
    // Streaming.migrateV1 reads
    def f(name: String, t: DataType, nullable: Boolean = true) = StructField(name, t, nullable)
    val str = StringType
    val dayAcc = StructType(Seq(f("day", str), f("datetime", str),
      f("c2xx", LongType, false), f("c3xx", LongType, false),
      f("c4xx", LongType, false), f("c5xx", LongType, false),
      f("specimen", str), f("digest", str), f("content", str), f("cp", IntegerType, false)))
    val urlState = StructType(Seq(
      f("digestStatus", MapType(str, str, valueContainsNull = true)),
      f("sw", ArrayType(str, containsNull = true)),
      f("pc", str), f("ps", str),
      f("rs", LongType, false), f("us", LongType, false), f("uw", LongType, false),
      f("acc", dayAcc)))
    val capture = StructType(Seq(f("url", str), f("ts", str), f("status", str),
      f("digest", str), f("seq", LongType, false)))
    val pending = f("pending", ArrayType(capture, containsNull = true))
    val dim = StructType(Seq(f("prev", str), f("base", DoubleType, false),
      f("scale", DoubleType, false), f("h", DoubleType, false), f("x", LongType, false)))
    val scoreCore = StructType(Seq(f("res", dim), f("fix", dim), f("lastDay", str),
      f("lastSpec", str), f("chaos", DoubleType, false), f("chaosn", DoubleType, false)))
    val dir = java.nio.file.Files.createTempDirectory("graft_v1_schema_")
    try {
      def stored(name: String) = Streaming.v1States(TestSpark.spark.newSession(),
        TrendStateFixture.copyTo(name, dir).toString).schema("state").dataType
      assert(stored("scored") == StructType(Seq(f("core", urlState), f("score", scoreCore))))
      assert(stored("scored_watermarked") ==
        StructType(Seq(pending, f("core", urlState), f("score", scoreCore))))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Whether `enc`'s deserializer is already resolved and bound. */
  private def isBound(enc: org.apache.spark.sql.Encoder[_]): Boolean =
    org.apache.spark.sql.catalyst.encoders.encoderFor(enc).deserializer.resolved

  test("stateful faces compile no new code after warm-up") {
    // Spark re-resolves a state encoder for each micro-batch; an unbound
    // one gets fresh lambda ids, so its deserializer's source changes
    // and one task per batch Janino-compiles it. Bound once, the
    // generated source repeats and the codegen cache serves it.
    import org.apache.spark.metrics.source.CodegenMetrics
    import graft.model.{FillPolicy, TrendQuery}
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val q = TrendQuery(-1, FillPolicy.Forward, "2024-03-15")

    /** Six batches into `face`: three warm up (the late-row watermark
      * trails the eviction watermark by one batch, so a watermarked face
      * settles on its third), three more touch the same keys; returns
      * the compiles each of the last three cost.
      */
    def compilesAfterWarmUp[T](name: String, batches: Seq[Seq[T]])(
        face: MemoryStream[T] => org.apache.spark.sql.Dataset[_])(
        implicit enc: org.apache.spark.sql.Encoder[T]): Seq[Long] = {
      val stream = MemoryStream[T]
      val query = face(stream).writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        def feed(b: Seq[T]): Unit = { stream.addData(b); query.processAllAvailable() }
        batches.take(3).foreach(feed)
        // the compile counter is JVM-wide: another running query's
        // codegen would be charged to this face
        val others = spark.streams.active.filterNot(_.id == query.id)
        assert(others.isEmpty, s"other streaming queries running: ${others.map(_.name).mkString(", ")}")
        batches.drop(3).map { b =>
          val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
          feed(b)
          CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
        }
      } finally query.stop()
    }

    // Four urls, twelve captures each per batch. Spark inlines the
    // watermark into the late-row predicate's generated code, so a batch
    // that moves the watermark is known to compile that predicate anew
    // whatever the state encoder; this test leaves that case out. The
    // watermarked faces get `watermarkHeld` batches, which all lie behind
    // the first batch's newest capture, within the lateness.
    def batch(day: Int, b: Int): Seq[Capture] =
      (0 until 4).flatMap(u => fixture(s"cg$u", 50 + 10 * b + u, 12, 1)).map { c =>
        val d = java.time.LocalDate.of(2024, 1, 1).plusDays(day).toString.replace("-", "")
        c.copy(ts = d + c.ts.drop(8), seq = c.seq + 100L * b)
      }.sortBy(c => (c.ts, c.seq))
    val inOrder = (0 until 6).map(d => batch(d, d))
    val newest = (0 until 4).map(u => Capture(s"cg$u", "20240110235959", "200", "SD00YYYYYYY", 99L))
    val watermarkHeld = (0 until 6).map(b => batch(9, b) ++ (if (b == 0) newest else Nil))
    val trend = Seq[(String, Seq[Seq[Capture]], MemoryStream[Capture] => org.apache.spark.sql.Dataset[_])](
      ("dailyStream", inOrder, s => Streaming.dailyStream(s.toDS())),
      ("dailyStreamWatermarked", watermarkHeld, s => Streaming.dailyStreamWatermarked(s.toDS(), "1 day")),
      ("scoredStream", inOrder, s => Streaming.scoredStream(s.toDS(), q)),
      ("scoredStreamWatermarked", watermarkHeld, s => Streaming.scoredStreamWatermarked(s.toDS(), q, "1 day")))
    val compiles = trend.map { case (name, batches, face) =>
      name -> compilesAfterWarmUp(s"cg_$name", batches)(face)
    }

    // every batch re-hits the same buckets: the same texts under new ids,
    // at one event time, so the TTL face's watermark stays put too
    val at = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    val docs = (0 until 6).map(b => Seq((10L * b + 1, lshDocs.head._2, at), (10L * b + 2, lshDocs.last._2, at)))
    def banded(s: MemoryStream[(Long, String, java.sql.Timestamp)]) =
      Dedup.rowBandSignatures(s.toDS().toDF("doc_id", "text", "event_ts"), passthrough = Seq("event_ts"))
    val nearDup = Seq(
      "nearDupStream" -> compilesAfterWarmUp("cg_nearDupStream", docs)(s =>
        Streaming.nearDupStream(Streaming.TextRule, banded(s))),
      "nearDupStreamTtl" -> compilesAfterWarmUp("cg_nearDupStreamTtl", docs)(s =>
        Streaming.nearDupStreamTtl(Streaming.TextRule, banded(s), "1 minute", 3600)))

    assert((compiles ++ nearDup).forall(_._2.forall(_ == 0)),
      s"compiles per batch after warm-up: ${compiles ++ nearDup}")
  }

  test("watermarked streams drop a junk ts row and keep running") {
    // under ANSI mode a strict to_timestamp ends the query on "2024";
    // rows with no event time are dropped before the stateful stage
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.model.{FillPolicy, TrendQuery}

    val valid = fixture("wj", 41, 120, 20)
    val junk = Seq(Capture("wj", "2024", "200", "JUNK_______", 1000L),
      Capture("wj", "20240230120000", "404", "JUNK_______", 1001L))
    val chunks = Seq(valid.take(50) ++ junk.take(1), valid.slice(50, 90) ++ junk.drop(1), valid.drop(90))
    val q = TrendQuery(-1, FillPolicy.Forward, "2024-03-15")

    val daily = MemoryStream[Capture]
    val scored = MemoryStream[Capture]
    val dq = Streaming.dailyStreamWatermarked(daily.toDS(), "2 days")
      .writeStream.format("memory").queryName("daily_wm_junk").outputMode("append").start()
    val sq = Streaming.scoredStreamWatermarked(scored.toDS(), q, "2 days")
      .writeStream.format("memory").queryName("scored_wm_junk").outputMode("append").start()
    try {
      (chunks :+ Seq.empty[Capture]).foreach { c =>
        daily.addData(c); dq.processAllAvailable()
        scored.addData(c); sq.processAllAvailable()
      }
      assert(dq.isActive && sq.isActive && dq.exception.isEmpty && sq.exception.isEmpty)
    } finally { dq.stop(); sq.stop() }

    val days = spark.table("daily_wm_junk")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq).toMap
    val batchDays = Daily.fromCaptures(valid.toDF())
      .select("url", "day", "datetime", "c2xx", "c3xx", "c4xx", "c5xx",
        "specimen", "digest", "content", "chaos", "chaosn")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq).toMap
    assert(days.nonEmpty)
    days.foreach { case (k, got) => assert(batchDays.get(k).contains(got), s"daily divergence at $k") }

    val rows = spark.table("scored_wm_junk").as[graft.model.ScoredRow]
      .collect().map(r => (r.url, r.day) -> r).toMap
    val batch = operators.Trend.run(valid.toDF(), q).collect().map(r => (r.url, r.day) -> r).toMap
    assert(rows.nonEmpty)
    rows.foreach { case (k, got) => assert(batch.get(k).contains(got), s"scored divergence at $k") }
  }

  test("a junk-day capture cannot poison the scored stream's state") {
    // a url whose FIRST closed day is junk ("2024--") must not wedge the
    // stream: scoring skips unparseable days without storing them, so
    // later well-formed days score normally (against a fresh recurrence)
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.model.{Capture, FillPolicy, TrendQuery}

    val caps = Seq(
      Capture("pz", "2024", "200", "JUNKDAY____", 0L), // day "2024--"
      Capture("pz", "20240110120000", "200", "DIGA_______", 1L),
      Capture("pz", "20240112120000", "404", "DIGB_______", 2L),
      Capture("pz", "20240115120000", "200", "DIGC_______", 3L))
    val q = TrendQuery(-1, FillPolicy.Forward, "2024-01-20")

    val stream = MemoryStream[Capture]
    val query = Streaming.scoredStream(stream.toDS(), q)
      .writeStream.format("memory").queryName("scored_poison")
      .outputMode("append").start()
    // junk day closes in batch 1; later days close across batches 2-3
    Seq(caps.take(2), caps.slice(2, 3), caps.drop(3))
      .foreach { c => stream.addData(c); query.processAllAvailable() }
    query.stop()

    val streamed = spark.table("scored_poison").as[graft.model.ScoredRow]
      .collect().map(r => r.day -> r).toMap
    // 01-15 never closes (no later capture), so its gap days stay held;
    // the junk day is skipped, later days score normally
    assert(streamed.keySet == Set("2024-01-10", "2024-01-11", "2024-01-12"),
      s"got ${streamed.keySet}")
    // batch pipeline drops the junk day identically; the staged
    // Daily -> GapFill -> Score path checks it independently
    val batch = operators.Trend.run(caps.toDF(), q)
      .collect().filter(r => r.day <= "2024-01-12").map(r => r.day -> r).toMap
    val staged = operators.Trend.runStaged(caps.toDF(), q)
      .collect().filter(r => r.day <= "2024-01-12").map(r => r.day -> r).toMap
    assert(batch == staged, "Trend.run != Trend.runStaged")
    batch.foreach { case (k, want) => assert(streamed(k) == want, s"poison divergence at $k") }
  }

  test("scored stream emits exactly the batch scored table's closed prefix") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.model.{FillPolicy, TrendQuery}

    val all = (fixture("p", 51, 260, 35) ++ fixture("q", 52, 60, 35))
      .sortBy(c => (c.ts, c.seq))
    for (policy <- Seq(FillPolicy.Forward, FillPolicy.Closest)) {
      val q = TrendQuery(-1, policy, "2024-03-15")
      val stream = MemoryStream[graft.model.Capture]
      val name = s"scored_${policy.name}"
      val query = Streaming.scoredStream(stream.toDS(), q)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      val chunks = Seq(all.take(100), all.slice(100, 250), all.drop(250))
      chunks.foreach { c => stream.addData(c); query.processAllAvailable() }
      query.stop()

      val streamed = spark.table(name).as[graft.model.ScoredRow]
        .collect().map(r => (r.url, r.day) -> r).toMap
      assert(streamed.nonEmpty, "scored stream emitted nothing")
      // batch over the same captures; restrict to each url's emitted
      // prefix (the open day and trailing densified days aren't closed)
      val lastEmitted = streamed.keys.groupBy(_._1).map { case (u, ks) => u -> ks.map(_._2).max }
      val batch = operators.Trend.run(all.toDF(), q)
        .collect()
        .filter(r => r.day <= lastEmitted(r.url))
        .map(r => (r.url, r.day) -> r).toMap
      val staged = operators.Trend.runStaged(all.toDF(), q)
        .collect()
        .filter(r => r.day <= lastEmitted(r.url))
        .map(r => (r.url, r.day) -> r).toMap
      assert(batch == staged, s"Trend.run != Trend.runStaged for $policy")
      assert(streamed.keySet == batch.keySet,
        s"day sets differ for $policy: extra=${streamed.keySet -- batch.keySet} missing=${batch.keySet -- streamed.keySet}")
      batch.foreach { case (k, want) =>
        assert(streamed(k) == want, s"scored divergence for $policy at $k")
      }
    }
  }

  test("scored stream stops at asOf even when captures continue past it") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.model.{FillPolicy, TrendQuery}

    // 40 days of captures from 2024-01-01; asOf cuts mid-series
    val all = fixture("ao", 71, 200, 40)
    val asOf = "2024-01-20"
    val q = TrendQuery(-1, FillPolicy.Forward, asOf)

    val stream = MemoryStream[graft.model.Capture]
    val query = Streaming.scoredStream(stream.toDS(), q)
      .writeStream.format("memory").queryName("scored_asof")
      .outputMode("append").start()
    Seq(all.take(80), all.drop(80)).foreach { c => stream.addData(c); query.processAllAvailable() }
    query.stop()

    val streamed = spark.table("scored_asof").as[graft.model.ScoredRow]
      .collect().map(r => (r.url, r.day) -> r).toMap
    assert(streamed.nonEmpty)
    assert(streamed.keys.forall(_._2 <= asOf), "no emitted day may exceed asOf")
    val batch = operators.Trend.run(all.toDF(), q)
      .collect().map(r => (r.url, r.day) -> r).toMap
    assert(batch == operators.Trend.runStaged(all.toDF(), q)
      .collect().map(r => (r.url, r.day) -> r).toMap, "Trend.run != Trend.runStaged")
    // every batch day <= the last emitted day must match; with captures
    // continuing past asOf, the gap loop emits the full [.., asOf] span
    assert(streamed.keySet == batch.keySet,
      s"extra=${streamed.keySet -- batch.keySet} missing=${batch.keySet -- streamed.keySet}")
    batch.foreach { case (k, want) => assert(streamed(k) == want, s"asOf divergence at $k") }
  }

  test("watermarked scored stream matches the batch scored table despite disorder") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.model.{FillPolicy, TrendQuery}

    val all = fixture("ws", 61, 180, 30)
    val rnd = new Random(13)
    val chunks = Seq(all.take(70), all.slice(70, 130), all.drop(130)).map(rnd.shuffle(_))
    val q = TrendQuery(-1, FillPolicy.Forward, "2024-03-15")

    val stream = MemoryStream[graft.model.Capture]
    val query = Streaming.scoredStreamWatermarked(stream.toDS(), q, "2 days")
      .writeStream.format("memory").queryName("scored_wm")
      .outputMode("append").start()
    chunks.foreach { c => stream.addData(c); query.processAllAvailable() }
    stream.addData(Seq.empty[graft.model.Capture]); query.processAllAvailable()
    query.stop()

    val streamed = spark.table("scored_wm").as[graft.model.ScoredRow]
      .collect().map(r => (r.url, r.day) -> r).toMap
    assert(streamed.nonEmpty, "watermarked scored stream emitted nothing")
    val batch = operators.Trend.run(all.toDF(), q)
      .collect().map(r => (r.url, r.day) -> r).toMap
    assert(batch == operators.Trend.runStaged(all.toDF(), q)
      .collect().map(r => (r.url, r.day) -> r).toMap, "Trend.run != Trend.runStaged")
    // emitted days are a contiguous closed prefix of the batch table
    streamed.foreach { case (k, got) =>
      assert(batch(k) == got, s"late-data scored divergence at $k")
    }
    val lastEmitted = streamed.keys.map(_._2).max
    val expectedPrefix = batch.keys.filter(_._2 <= lastEmitted).toSet
    assert(streamed.keySet == expectedPrefix, "emitted set must be a gap-free prefix")
  }

  test("watermarked stream absorbs out-of-order arrivals within the bound") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val all = fixture("w", 31, 150, 20)
    // shuffle WITHIN each batch (cross-batch still roughly ordered, as a
    // watermarked source would deliver)
    val rnd = new Random(5)
    val chunks = Seq(all.take(60), all.slice(60, 110), all.drop(110)).map(rnd.shuffle(_))

    val stream = MemoryStream[Capture]
    val query = Streaming.dailyStreamWatermarked(stream.toDS(), "2 days")
      .writeStream.format("memory").queryName("daily_wm")
      .outputMode("append").start()
    chunks.foreach { c => stream.addData(c); query.processAllAvailable() }
    // one empty commit so the final watermark (advanced by the last
    // batch's max event time) releases the last held-back rows
    stream.addData(Seq.empty[Capture]); query.processAllAvailable()
    query.stop()

    val streamed = spark.table("daily_wm")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq).toMap

    val batch = Daily.fromCaptures(all.toDF())
      .select("url", "day", "datetime", "c2xx", "c3xx", "c4xx", "c5xx",
        "specimen", "digest", "content", "chaos", "chaosn")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq).toMap

    // every emitted day must match the batch table exactly (watermark
    // holds back the tail, so emitted is a prefix of the batch table)
    assert(streamed.nonEmpty, "watermarked stream emitted nothing")
    streamed.foreach { case (k, got) =>
      assert(batch(k) == got, s"late-data divergence at $k")
    }
  }

  test("windowed event stream finalizes exactly the batch daily windows") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val rnd = new Random(17)
    val events = (0 until 400).map { i =>
      val day = 1 + rnd.nextInt(12)
      (java.sql.Timestamp.valueOf(f"2024-02-$day%02d ${rnd.nextInt(24)}%02d:00:00"),
        Seq("click", "view", "buy")(rnd.nextInt(3)),
        rnd.nextInt(1000) / 100.0)
    }.sortBy(_._1.getTime)

    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    val query = Streaming.eventDailyWindowStream(
      stream.toDF().toDF("ts", "event_type", "value"), "1 day")
      .writeStream.format("memory").queryName("event_win")
      .outputMode("append").start()
    Seq(events.take(150), events.slice(150, 300), events.drop(300))
      .foreach { c => stream.addData(c); query.processAllAvailable() }
    query.stop()

    val streamed = spark.table("event_win")
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(streamed.nonEmpty, "no windows finalized")
    val batch = events.toDF("ts", "event_type", "value")
      .groupBy(
        date_format(date_trunc("day", col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // every finalized window must equal its batch twin, and all windows
    // strictly before the final watermark must have been emitted
    streamed.foreach { case (k, got) => assert(batch(k) == got, s"window mismatch at $k") }
    val lastDay = streamed.keys.map(_._1).max
    val expected = batch.keys.filter(_._1 <= lastDay).toSet
    assert(streamed.keySet == expected, "finalized windows must be a closed prefix")
  }

  test("watermarked stream is correct under a non-UTC session timezone") {
    // pins the fix for the UTC/session-zone mismatch: the hold-back
    // predicate must use the same zone to_timestamp used
    val spark = TestSpark.spark.newSession()
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val all = fixture("nz", 41, 100, 15)
    val rnd = new Random(7)
    val chunks = Seq(all.take(50), all.drop(50)).map(rnd.shuffle(_))

    val stream = MemoryStream[Capture]
    val query = Streaming.dailyStreamWatermarked(stream.toDS(), "2 days")
      .writeStream.format("memory").queryName("daily_nz")
      .outputMode("append").start()
    chunks.foreach { c => stream.addData(c); query.processAllAvailable() }
    stream.addData(Seq.empty[Capture]); query.processAllAvailable()
    query.stop()

    val streamed = spark.table("daily_nz")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq).toMap
    val batch = Daily.fromCaptures(all.toDF())
      .select("url", "day", "datetime", "c2xx", "c3xx", "c4xx", "c5xx",
        "specimen", "digest", "content", "chaos", "chaosn")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.toSeq).toMap
    assert(streamed.nonEmpty)
    streamed.foreach { case (k, got) => assert(batch(k) == got, s"tz divergence at $k") }
  }

  test("streaming dedup: first arrival claims the hash across micro-batches") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[(Long, String)]
    val docs = stream.toDS().toDF("doc_id", "text")
    val query = Streaming.dedupStream(docs)
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    // batch 1: doc 10 claims "same"; batch 2: doc 3 (smaller id!) and
    // doc 11 arrive with identical content — both must defer to 10,
    // because a stream's canonical is first-ARRIVAL, not global min
    stream.addData(Seq((10L, "same"), (20L, "other")))
    query.processAllAvailable()
    stream.addData(Seq((3L, "same"), (11L, "same"), (21L, "fresh")))
    query.processAllAvailable()
    query.stop()

    val out = spark.table("dedup_stream").collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(10L) == ((10L, false)))
    assert(out(3L) == ((10L, true)), "later-arriving smaller id must still be the dup")
    assert(out(11L) == ((10L, true)))
    assert(out(20L) == ((20L, false)) && out(21L) == ((21L, false)))
  }

  test("streaming dedup over bounded input equals batch min-per-hash dedup") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "aa"), (2L, "bb"), (3L, "aa"), (4L, "cc"), (5L, "bb"), (6L, "aa"))
      .toDF("doc_id", "text")
    val folded = Streaming.batchDedup(docs)
      .collect().map(d => d.doc_id -> ((d.canonical, d.is_dup))).toMap
    val batch = graft.operators.Dedup.exact(docs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(4)))).toMap
    assert(folded == batch)
  }

  /** Near-dup corpus: docs 1-3 share identical text (identical shingle
    * sets collide in every band — collisions guaranteed, unlike a
    * one-word perturbation, which only *probably* collides), doc 7 is
    * unrelated.
    */
  private val lshDocs = {
    val base = (0 until 12).map(w => s"t$w").mkString(" ")
    Seq(1L -> base, 2L -> base, 3L -> base,
      7L -> (0 until 12).map(w => s"z$w").mkString(" "))
  }

  test("per-row band signatures equal the aggregated minhash signatures") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = lshDocs.toDF("doc_id", "text")
    val agg = Dedup.bandSignatures(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val row = Dedup.rowBandSignatures(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(row == agg, "HOF signatures must be bit-identical to the groupBy form")
  }

  test("streaming LSH candidates across micro-batches equal the batch bucket join") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val stream = MemoryStream[(Long, String)]
    val query = Streaming.nearDupStream(
      Streaming.TextRule, Dedup.rowBandSignatures(stream.toDS().toDF("doc_id", "text")))
      .writeStream.format("memory").queryName("lsh_stream")
      .outputMode("append").start()
    // doc 3 arrives two batches after its near-dups — the bucket state
    // must still pair it with both
    stream.addData(lshDocs.take(2))
    query.processAllAvailable()
    stream.addData(Seq(lshDocs(3)))
    query.processAllAvailable()
    stream.addData(Seq(lshDocs(2)))
    query.processAllAvailable()
    query.stop()

    val streamed = spark.table("lsh_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = Streaming.batchNearDup(
      Streaming.TextRule, Dedup.bandSignatures(lshDocs.toDF("doc_id", "text")))
      .collect().map(c => (c.doc_a, c.doc_b, c.band)).toSet
    assert(streamed == batch, "arrival order must not change the candidate set")
    val pairs = streamed.map { case (a, b, _) => (a, b) }
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)),
      "all template variants must collide")
    assert(!pairs.exists { case (a, b) => a == 7L || b == 7L }, "unrelated doc stays out")
  }

  test("HTML extraction streams as-is: the projection over MemoryStream equals batch") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // extractText is a pure per-row expression tree — the ingest-time
    // face IS the batch operator applied to the streaming frame; this
    // pins that it composes with a stream (no aggregation sneaks in)
    // and yields identical rows
    val pages = Seq(
      (1L, "<html><head><script>var x = \"hidden\";</script></head>" +
        "<body><p>alpha &amp; beta</p></body></html>"),
      (2L, "<div class=\"x\">plain <b>bold</b> words</div>"))
    val stream = MemoryStream[(Long, String)]
    val q = graft.operators.TextStats
      .extractText(stream.toDS().toDF("doc_id", "html"))
      .writeStream.format("memory").queryName("html_stream")
      .outputMode("append").start()
    stream.addData(pages)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("html_stream").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val batch = graft.operators.TextStats.extractText(pages.toDF("doc_id", "html"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch)
    assert(batch == Set((1L, "alpha & beta"), (2L, "plain bold words")), s"$batch")
  }

  test("streaming perceptual near-dup across micro-batches equals the batch fold") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // real image bytes through the PIXEL path: a checkerboard photo,
    // its JPEG re-encode (pairs only because the kernel decodes), and
    // a coarser board (a different photo — must not pair)
    def checker(block: Int): java.awt.image.BufferedImage = {
      val img = new java.awt.image.BufferedImage(
        72, 64, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 64; x <- 0 until 72) {
        val v = if (((x / block) + (y / block)) % 2 == 0) 40 else 216
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      img
    }
    def png(img: java.awt.image.BufferedImage): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    def jpeg(img: java.awt.image.BufferedImage): Array[Byte] = {
      val jw = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      val params = jw.getDefaultWriteParam
      params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      params.setCompressionQuality(0.85f)
      val baos = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
      jw.setOutput(ios)
      jw.write(null, new javax.imageio.IIOImage(img, null, null), params)
      jw.dispose(); ios.close()
      baos.toByteArray
    }
    val rows = Seq(
      (1L, "image", 72L, 64L, png(checker(8))),
      (2L, "image", 72L, 64L, jpeg(checker(8))),
      (3L, "image", 72L, 64L, png(checker(16))))
    val cols = Seq("doc_id", "modality", "width", "height", "payload")

    def run(order: Seq[Int], name: String): Set[(Long, Long, Int, Int)] = {
      val stream = MemoryStream[(Long, String, Long, Long, Array[Byte])]
      val q = mmStream(Multimodal.Image)(stream.toDS().toDF(cols: _*))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      // one row per micro-batch, in the given order — the re-encode
      // pair must surface whichever side arrives first
      order.foreach { i =>
        stream.addData(Seq(rows(i)))
        q.processAllAvailable()
      }
      q.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    }
    val fwd = run(Seq(0, 1, 2), "mm_nd_stream_fwd")
    val rev = run(Seq(2, 1, 0), "mm_nd_stream_rev")
    val batch = mmBatch(Multimodal.Image)(rows.toDF(cols: _*))
      .collect().map(c => (c.doc_a, c.doc_b, c.band, c.hamming)).toSet
    assert(fwd == batch, "streamed perceptual candidates diverged from the batch fold")
    assert(rev == batch, "arrival order changed the perceptual candidate set")
    val pairs = batch.map { case (a, b, _, _) => (a, b) }
    assert(pairs == Set((1L, 2L)),
      s"expected exactly the png/jpeg re-encode pair: $pairs")
  }

  test("audio ingest stream: a resample pairs with its original regardless of arrival order") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // a blocky recording, its genuine 2x downsample (must pair), and a
    // different recording (must not)
    def env(n: Int, seed: Int): Array[Short] =
      Array.tabulate(n)(j => (500 +
        ((((j / 25) * 2654435761L + seed * 40503L) & 0x7fffffffL) % 13).toInt * 400).toShort)
    def wav(samples: Array[Short], rate: Int): Array[Byte] = {
      val body = new Array[Byte](samples.length * 2)
      samples.indices.foreach { i =>
        body(2 * i) = samples(i).toByte
        body(2 * i + 1) = (samples(i) >> 8).toByte
      }
      graft.operators.Multimodal.wavHeader(rate, 1, 16, body.length) ++ body
    }
    val a = env(800, 3)
    val rows = Seq(
      (1L, "audio", 0L, 0L, wav(a, 8000)),
      (2L, "audio", 0L, 0L, wav(Array.range(0, a.length, 2).map(a(_)), 4000)),
      (3L, "audio", 0L, 0L, wav(env(800, 9), 8000)))
    val cols = Seq("doc_id", "modality", "width", "height", "payload")

    def run(order: Seq[Int], name: String): Set[(Long, Long, Int, Int)] = {
      val stream = MemoryStream[(Long, String, Long, Long, Array[Byte])]
      val q = mmStream(Multimodal.Audio)(stream.toDS().toDF(cols: _*))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      order.foreach { i =>
        stream.addData(Seq(rows(i)))
        q.processAllAvailable()
      }
      q.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    }
    val fwd = run(Seq(0, 1, 2), "mm_audio_nd_stream_fwd")
    val rev = run(Seq(2, 1, 0), "mm_audio_nd_stream_rev")
    val batch = mmBatch(Multimodal.Audio)(rows.toDF(cols: _*))
      .collect().map(c => (c.doc_a, c.doc_b, c.band, c.hamming)).toSet
    assert(fwd == batch, "streamed audio candidates diverged from the batch fold")
    assert(rev == batch, "arrival order changed the audio candidate set")
    val pairs = batch.map { case (x, y, _, _) => (x, y) }
    assert(pairs == Set((1L, 2L)),
      s"expected exactly the original/resample pair: $pairs")
  }

  test("video ingest stream: a frame-rate downsample pairs with its original regardless of arrival order") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // a blocky clip, its genuine 2x frame-rate downsample (must pair),
    // and a different clip (must not)
    def track(n: Int, seed: Int): Array[Int] =
      Array.tabulate(n)(j => 20 +
        ((((j / 25) * 2654435761L + seed * 40503L) & 0x7fffffffL) % 13).toInt * 15)
    def avi(vals: Array[Int], uspf: Int): Array[Byte] =
      graft.operators.Multimodal.aviContainer(
        uspf, 4, 4, vals.map(v => Array.fill(16)(v.toByte)))
    val a = track(800, 3)
    val rows = Seq(
      (1L, "video", 0L, 0L, avi(a, 40000)),
      (2L, "video", 0L, 0L, avi(Array.range(0, a.length, 2).map(a(_)), 80000)),
      (3L, "video", 0L, 0L, avi(track(800, 9), 40000)))
    val cols = Seq("doc_id", "modality", "width", "height", "payload")

    def run(order: Seq[Int], name: String): Set[(Long, Long, Int, Int)] = {
      val stream = MemoryStream[(Long, String, Long, Long, Array[Byte])]
      val q = mmStream(Multimodal.Video)(stream.toDS().toDF(cols: _*))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      order.foreach { i =>
        stream.addData(Seq(rows(i)))
        q.processAllAvailable()
      }
      q.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    }
    val fwd = run(Seq(0, 1, 2), "mm_video_nd_stream_fwd")
    val rev = run(Seq(2, 1, 0), "mm_video_nd_stream_rev")
    val batch = mmBatch(Multimodal.Video)(rows.toDF(cols: _*))
      .collect().map(c => (c.doc_a, c.doc_b, c.band, c.hamming)).toSet
    assert(fwd == batch, "streamed video candidates diverged from the batch fold")
    assert(rev == batch, "arrival order changed the video candidate set")
    val pairs = batch.map { case (x, y, _, _) => (x, y) }
    assert(pairs == Set((1L, 2L)),
      s"expected exactly the original/downsample pair: $pairs")
  }

  test("spectral ingest streams: the padded stretch/re-edit pairs in-stream, order-insensitive, stream == batch") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // the batch fixtures' planted pairs ARE the transform class the
    // energy/temporal streams provably miss (MultimodalSpec) — drive
    // the same payloads through the ingest faces
    val docs = (0L until 20L).map(i =>
      (i, s"doc $i " + (1 to 40).map(j => s"w${(i * 37 + j * 13) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val cols = Seq("doc_id", "modality", "width", "height", "payload")
    def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long, Long, Array[Byte])] =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getAs[Array[Byte]]("payload"))).toSeq.sortBy(_._1)

    def run(
        face: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[Streaming.MmCandidateOut],
        rows: Seq[(Long, String, Long, Long, Array[Byte])],
        order: Seq[Int], name: String): Set[(Long, Long, Int, Int)] = {
      val stream = MemoryStream[(Long, String, Long, Long, Array[Byte])]
      val q = face(stream.toDS().toDF(cols: _*))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      order.foreach { i =>
        stream.addData(Seq(rows(i)))
        q.processAllAvailable()
      }
      q.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    }

    // audio: orig 0, stretch 0, orig 10 (pairs only with its own cousin)
    val aRows = rowsOf(Multimodal.plantedStretchedAudioPayloads(docs))
    val aIdx = aRows.indices
    val aFwd = run(mmStream(Multimodal.AudioSpectral), aRows, aIdx, "mm_audio_sp_fwd")
    val aRev = run(mmStream(Multimodal.AudioSpectral), aRows, aIdx.reverse, "mm_audio_sp_rev")
    val aBatch = mmBatch(Multimodal.AudioSpectral)(aRows.toDF(cols: _*))
      .collect().map(c => (c.doc_a, c.doc_b, c.band, c.hamming)).toSet
    assert(aFwd == aBatch, "streamed audio spectral candidates diverged from the batch fold")
    assert(aRev == aBatch, "arrival order changed the audio spectral candidate set")
    val aPairs = aBatch.map { case (x, y, _, _) => (x, y) }
    val aExpect = Set(0L, 10L).map(d =>
      (d + Multimodal.AudioStretchOrigIdBase, d + Multimodal.AudioStretchIdBase))
    assert(aPairs == aExpect, s"audio spectral stream pairs: $aPairs")

    // video: same shape on the delta lag bank
    val vRows = rowsOf(Multimodal.plantedStretchedVideoPayloads(docs))
    val vIdx = vRows.indices
    val vFwd = run(mmStream(Multimodal.VideoSpectral), vRows, vIdx, "mm_video_sp_fwd")
    val vRev = run(mmStream(Multimodal.VideoSpectral), vRows, vIdx.reverse, "mm_video_sp_rev")
    val vBatch = mmBatch(Multimodal.VideoSpectral)(vRows.toDF(cols: _*))
      .collect().map(c => (c.doc_a, c.doc_b, c.band, c.hamming)).toSet
    assert(vFwd == vBatch, "streamed video spectral candidates diverged from the batch fold")
    assert(vRev == vBatch, "arrival order changed the video spectral candidate set")
    val vPairs = vBatch.map { case (x, y, _, _) => (x, y) }
    val vExpect = Set(0L, 10L).map(d =>
      (d + Multimodal.VideoStretchOrigIdBase, d + Multimodal.VideoStretchIdBase))
    assert(vPairs == vExpect, s"video spectral stream pairs: $vPairs")
  }

  test("TTL-evicted LSH stream: a closed bucket stops cross-epoch candidates") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val dupText = lshDocs.head._2 // docs sharing it collide in every band
    val noise = (0 until 12).map(w => s"n$w").mkString(" ")
    val noise2 = (0 until 12).map(w => s"m$w").mkString(" ")

    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val query = Streaming.nearDupStreamTtl(
      Streaming.TextRule,
      Dedup.rowBandSignatures(
        stream.toDS().toDF("doc_id", "text", "event_ts"), passthrough = Seq("event_ts")),
      watermarkDelay = "0 seconds", ttlSeconds = 60)
      .writeStream.format("memory").queryName("lsh_ttl")
      .outputMode("append").start()

    def pairs() = spark.table("lsh_ttl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // epoch 1: two dups at 10:00 pair; a third INSIDE the TTL still pairs
    stream.addData(Seq((1L, dupText, ts(0)), (2L, dupText, ts(0))))
    query.processAllAvailable()
    stream.addData(Seq((3L, dupText, ts(1)))) // 10:01 < 10:00 + 60s re-armed to 10:01+TTL
    query.processAllAvailable()
    assert(pairs() == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      "within-TTL arrivals still see the bucket")

    // advance the event clock: watermark reaches 10:05 AFTER this batch
    stream.addData(Seq((50L, noise, ts(5))))
    query.processAllAvailable()
    // next batch runs with watermark 10:05 > 10:02 armed timeout -> evict
    stream.addData(Seq((51L, noise2, ts(6))))
    query.processAllAvailable()

    // epoch 2: a fourth dup arrives after the bucket closed — no pairs
    stream.addData(Seq((4L, dupText, ts(7))))
    query.processAllAvailable()
    query.stop()
    assert(!pairs().exists { case (a, b) => a == 4L || b == 4L },
      "cross-epoch candidates stop once the bucket's state is evicted")
    assert(pairs() == Set((1L, 2L), (1L, 3L), (2L, 3L)), "epoch-1 output unchanged")
  }

  test("embedding ingest stream: a near-copy vector pairs regardless of arrival order") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // a vector, a tiny perturbation of it (cos ~1, same hyperplane
    // signs -> same band keys), and a far-away vector (must not pair)
    val rnd = new scala.util.Random(42)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    val near = base.map(v => v * 1.01f)
    val far = Array.fill(64)(rnd.nextGaussian().toFloat)
    val rows = Seq((1L, base), (2L, near), (7L, far))
    val cols = Seq("vec_id", "embedding")

    def run(order: Seq[Int], name: String): Set[(Long, Long, Int, Double)] = {
      val stream = MemoryStream[(Long, Array[Float])]
      val q = Streaming.nearDupStream(
        Streaming.EmbRule, Ann.nearDupBandedVectors(stream.toDS().toDF(cols: _*)))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      order.foreach { i =>
        stream.addData(Seq(rows(i)))
        q.processAllAvailable()
      }
      q.stop()
      spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    }
    val fwd = run(Seq(0, 1, 2), "emb_nd_stream_fwd")
    val rev = run(Seq(2, 1, 0), "emb_nd_stream_rev")
    val batch = Streaming.batchNearDup(Streaming.EmbRule, Ann.nearDupBandedVectors(rows.toDF(cols: _*)))
      .collect().map(c => (c.vec_a, c.vec_b, c.band, c.cos)).toSet
    assert(fwd == batch, "streamed semantic candidates diverged from the batch fold")
    assert(rev == batch, "arrival order changed the semantic candidate set")
    val pairs = batch.map { case (a, b, _, _) => (a, b) }
    assert(pairs == Set((1L, 2L)), s"expected exactly the near-copy pair: $pairs")
    // a scaled copy keeps every hyperplane sign, so it collides on ALL
    // 4 bands, and the verified cos is exactly 1
    assert(batch.size == 4 && batch.forall(_._4 == 1.0), s"got $batch")

    // and the streamed cos equals the BATCH OPERATOR's verified cosine
    // bit-for-bit (the fold's ascending-double dot == float_dot)
    val op = graft.operators.Ann.embNearDup(
      rows.toDF(cols: _*).withColumn("label", org.apache.spark.sql.functions.lit(0)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(op == Set((1L, 2L, 1.0)), s"batch operator drifted: $op")
    graft.operators.CacheScope.releaseAll()
  }

  test("TTL-evicted embedding stream: a closed or full bucket stops pairing") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val rnd = new scala.util.Random(7)
    val base = Array.fill(64)(rnd.nextGaussian().toFloat)
    def copy(scale: Float) = base.map(_ * scale)
    val far = Array.fill(64)(rnd.nextGaussian().toFloat)
    val far2 = Array.fill(64)(rnd.nextGaussian().toFloat)

    val stream = MemoryStream[(Long, Array[Float], java.sql.Timestamp)]
    val q = Streaming.nearDupStreamTtl(
      Streaming.EmbRule,
      Ann.nearDupBandedVectors(
        stream.toDS().toDF("vec_id", "embedding", "event_ts"), passthrough = Seq("event_ts")),
      watermarkDelay = "0 seconds", ttlSeconds = 60)
      .writeStream.format("memory").queryName("emb_nd_ttl")
      .outputMode("append").start()
    def pairs() = spark.table("emb_nd_ttl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // epoch 1: the copy pairs with the original inside the TTL
    stream.addData(Seq((1L, base, ts(0)), (2L, copy(1.02f), ts(0))))
    q.processAllAvailable()
    assert(pairs() == Set((1L, 2L)), s"in-epoch pair missing: ${pairs()}")

    // advance the event clock past the armed timeout, then a late copy
    // arrives — its bucket closed, it pairs with nothing
    stream.addData(Seq((50L, far, ts(5))))
    q.processAllAvailable()
    stream.addData(Seq((51L, far2, ts(6))))
    q.processAllAvailable()
    stream.addData(Seq((3L, copy(1.04f), ts(7))))
    q.processAllAvailable()
    q.stop()
    assert(!pairs().exists { case (a, b) => a == 3L || b == 3L },
      "cross-epoch semantic candidates must stop once the bucket evicts")
    assert(pairs() == Set((1L, 2L)), "epoch-1 output changed")

    // the member-vector cap: a full bucket drops later arrivals
    import graft.streaming.Streaming.{bucketFold, EmbBandKeyed, EmbRule}
    val arrivals = (0 until 50).map(i => EmbBandKeyed(i.toLong, 0, 9L, base, 1.0))
    val (members, out) = bucketFold(EmbRule, arrivals.iterator, Vector.empty, cap = 4)
    assert(members.size == 4 && out.size == 6, s"${members.size}/${out.size}")
  }

  test("TTL-evicted perceptual stream: a closed bucket stops cross-epoch image pairs") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    // smooth planted signals (the byte-path fixture the mm_near_dup
    // registry row uses): identical payloads collide in every band at
    // hamming 0; distinct block keys keep noise rows unrelated
    def signal(seed: Long): Array[Byte] = {
      val body = new Array[Byte](2000)
      var j = 0
      while (j < 2000) {
        body(j) = graft.operators.Multimodal.plantBlockValue(seed, j * 32L / 2000).toByte
        j += 1
      }
      body
    }
    val dup = signal(7L)
    val stream = MemoryStream[(Long, String, Long, Long, Array[Byte], java.sql.Timestamp)]
    val cols = Seq("doc_id", "modality", "width", "height", "payload", "event_ts")
    val query = mmStreamTtl(Multimodal.Image)(stream.toDS().toDF(cols: _*))
      .writeStream.format("memory").queryName("mm_ttl")
      .outputMode("append").start()
    def pairs() = spark.table("mm_ttl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // epoch 1: two copies at 10:00 pair; within-TTL third still pairs
    stream.addData(Seq(
      (1L, "image", 0L, 0L, dup, ts(0)), (2L, "image", 0L, 0L, dup, ts(0))))
    query.processAllAvailable()
    stream.addData(Seq((3L, "image", 0L, 0L, dup, ts(1))))
    query.processAllAvailable()
    assert(pairs() == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      "within-TTL image arrivals must pair")

    // advance the event clock past the armed timeout, then evict
    stream.addData(Seq((50L, "image", 0L, 0L, signal(100L), ts(5))))
    query.processAllAvailable()
    stream.addData(Seq((51L, "image", 0L, 0L, signal(200L), ts(6))))
    query.processAllAvailable()

    // epoch 2: a copy after the bucket closed pairs with nothing
    stream.addData(Seq((4L, "image", 0L, 0L, dup, ts(7))))
    query.processAllAvailable()
    query.stop()
    assert(!pairs().exists { case (a, b) => a == 4L || b == 4L },
      "cross-epoch image candidates must stop once the bucket evicted")
    assert(pairs() == Set((1L, 2L), (1L, 3L), (2L, 3L)), "epoch-1 output unchanged")
  }

  test("WARC ingest stream: rolling archive files extract exactly the batch rows") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val W = graft.sources.Warc
    val docs = (1L to 25L).map(i => (i, s"warc stream doc $i with <markup> & words"))
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val pages = graft.operators.TextStats.wrapHtml(docs)
    val files = W.withWarcPayload(pages)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))

    val stream = MemoryStream[(Long, Array[Byte])]
    val q = Streaming.warcExtractStream(stream.toDF().toDF("file_id", "payload"))
      .writeStream.format("memory").queryName("warc_stream")
      .outputMode("append").start()
    // two micro-batches: files arrive as a crawler uploads them
    stream.addData(files.take(2).toIndexedSeq)
    q.processAllAvailable()
    stream.addData(files.drop(2).toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val got = spark.table("warc_stream").collect().map(_.toSeq).toSet
    val want = Streaming.warcExtractStream(files.toSeq.toDF("file_id", "payload"))
      .collect().map(_.toSeq).toSet
    assert(got == want, "streamed WARC extraction diverged from the batch kernel")
    assert(got.size == 25, s"every response record must surface: ${got.size}")
  }

  test("TTL-evicted audio stream: a closed bucket stops cross-epoch recording pairs") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    def env(n: Int, seed: Int): Array[Short] =
      Array.tabulate(n)(j => (500 +
        ((((j / 25) * 2654435761L + seed * 40503L) & 0x7fffffffL) % 13).toInt * 400).toShort)
    def wav(samples: Array[Short], rate: Int): Array[Byte] = {
      val body = new Array[Byte](samples.length * 2)
      samples.indices.foreach { i =>
        body(2 * i) = samples(i).toByte
        body(2 * i + 1) = (samples(i) >> 8).toByte
      }
      graft.operators.Multimodal.wavHeader(rate, 1, 16, body.length) ++ body
    }
    val rec = env(800, 3)
    val dup = wav(rec, 8000)
    val resample = wav(Array.range(0, rec.length, 2).map(rec(_)), 4000)
    val stream = MemoryStream[(Long, String, Long, Long, Array[Byte], java.sql.Timestamp)]
    val cols = Seq("doc_id", "modality", "width", "height", "payload", "event_ts")
    val query = mmStreamTtl(Multimodal.Audio)(stream.toDS().toDF(cols: _*))
      .writeStream.format("memory").queryName("mm_audio_ttl")
      .outputMode("append").start()
    def pairs() = spark.table("mm_audio_ttl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // epoch 1: a recording and its 2x resample pair within the TTL
    stream.addData(Seq(
      (1L, "audio", 0L, 0L, dup, ts(0)), (2L, "audio", 0L, 0L, resample, ts(1))))
    query.processAllAvailable()
    assert(pairs() == Set((1L, 2L)), "within-TTL resample must pair")

    // advance event time past the timeout with unrelated recordings
    stream.addData(Seq((50L, "audio", 0L, 0L, wav(env(800, 9), 8000), ts(5))))
    query.processAllAvailable()
    stream.addData(Seq((51L, "audio", 0L, 0L, wav(env(800, 11), 8000), ts(6))))
    query.processAllAvailable()

    // epoch 2: a copy after the bucket evicted pairs with nothing
    stream.addData(Seq((4L, "audio", 0L, 0L, dup, ts(7))))
    query.processAllAvailable()
    query.stop()
    assert(!pairs().exists { case (a, b) => a == 4L || b == 4L },
      "cross-epoch audio candidates must stop once the bucket evicted")
    assert(pairs() == Set((1L, 2L)), "epoch-1 output unchanged")
  }

  test("TTL-evicted video stream: a closed bucket stops cross-epoch clip pairs") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    def track(n: Int, seed: Int): Array[Int] =
      Array.tabulate(n)(j => 20 +
        ((((j / 25) * 2654435761L + seed * 40503L) & 0x7fffffffL) % 13).toInt * 15)
    def avi(vals: Array[Int], uspf: Int): Array[Byte] =
      graft.operators.Multimodal.aviContainer(
        uspf, 4, 4, vals.map(v => Array.fill(16)(v.toByte)))
    val vals = track(800, 3)
    val dup = avi(vals, 40000)
    val downsample = avi(Array.range(0, vals.length, 2).map(vals(_)), 80000)
    val stream = MemoryStream[(Long, String, Long, Long, Array[Byte], java.sql.Timestamp)]
    val cols = Seq("doc_id", "modality", "width", "height", "payload", "event_ts")
    val query = mmStreamTtl(Multimodal.Video)(stream.toDS().toDF(cols: _*))
      .writeStream.format("memory").queryName("mm_video_ttl")
      .outputMode("append").start()
    def pairs() = spark.table("mm_video_ttl").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // epoch 1: a clip and its frame-rate downsample pair within the TTL
    stream.addData(Seq(
      (1L, "video", 0L, 0L, dup, ts(0)), (2L, "video", 0L, 0L, downsample, ts(1))))
    query.processAllAvailable()
    assert(pairs() == Set((1L, 2L)), "within-TTL downsample must pair")

    // advance event time past the timeout with unrelated clips
    stream.addData(Seq((50L, "video", 0L, 0L, avi(track(800, 9), 40000), ts(5))))
    query.processAllAvailable()
    stream.addData(Seq((51L, "video", 0L, 0L, avi(track(800, 11), 40000), ts(6))))
    query.processAllAvailable()

    // epoch 2: a copy after the bucket evicted pairs with nothing
    stream.addData(Seq((4L, "video", 0L, 0L, dup, ts(7))))
    query.processAllAvailable()
    query.stop()
    assert(!pairs().exists { case (a, b) => a == 4L || b == 4L },
      "cross-epoch video candidates must stop once the bucket evicted")
    assert(pairs() == Set((1L, 2L)), "epoch-1 output unchanged")
  }

  test("streaming source gate: a domain's verdict hardens as evidence accrues; final state ≡ batch") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val good = Iterator.continually("the cat is on a mat and the dog is of the house")
      .take(6).mkString(" ")
    val bad = "!!!! ???? %%%% ####"
    val batch1 = Seq(
      (1L, bad, "farm"), (2L, bad, "farm"), (3L, bad, "farm"),
      (4L, good, "clean"), (5L, good, "clean"))
    val batch2 = (6L to 17L).map(i => (i, good, "farm"))

    val stream = MemoryStream[(Long, String, String)]
    val q = Streaming.sourceGateStream(
      stream.toDF().toDF("doc_id", "text", "source"))
      .writeStream.format("memory").queryName("gate_stream")
      .outputMode("update").start()
    def latest() = spark.table("gate_stream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(5)))
      .groupBy(_._1).map { case (s, rows) => s -> rows.maxBy(_._2) }

    stream.addData(batch1)
    q.processAllAvailable()
    val mid = latest()
    assert(!mid("farm")._3 && mid("farm")._2 == 3L, "all-junk domain must start dropped")
    assert(mid("clean")._3, "clean domain keeps from the first batch")

    stream.addData(batch2)
    q.processAllAvailable()
    q.stop()
    val fin = latest()
    assert(fin("farm")._3 && fin("farm")._2 == 15L,
      "12 good pages over 3 junk must flip the domain to keep")

    val batch = Streaming.batchSourceGate(
      (batch1 ++ batch2).toDF("doc_id", "text", "source")).collect()
      .map(o => o.source -> (o.n_docs, o.keep_source)).toMap
    fin.foreach { case (s, (_, n, k)) =>
      assert(batch(s) == ((n, k)), s"stream-final diverged from batch for $s")
    }
  }

  test("TTL-evicted LSH stream: a late in-watermark arrival must not shrink the eviction window") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def at(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val dupText = lshDocs.head._2
    val noise = (0 until 12).map(w => s"p$w").mkString(" ")
    val noise2 = (0 until 12).map(w => s"q$w").mkString(" ")

    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val query = Streaming.nearDupStreamTtl(
      Streaming.TextRule,
      Dedup.rowBandSignatures(
        stream.toDS().toDF("doc_id", "text", "event_ts"), passthrough = Seq("event_ts")),
      watermarkDelay = "5 minutes", ttlSeconds = 60)
      .writeStream.format("memory").queryName("lsh_ttl_late")
      .outputMode("append").start()
    def pairs() = spark.table("lsh_ttl_late").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    // newest member is at 10:00:00 -> armed timeout 10:01:00
    stream.addData(Seq((1L, dupText, at("10:00:00")), (2L, dupText, at("10:00:00"))))
    query.processAllAvailable()
    // a LATE but in-watermark arrival (09:59 > watermark 09:55): pairs,
    // and must NOT re-arm the timeout backward to 09:59+TTL = 10:00:00
    stream.addData(Seq((3L, dupText, at("09:59:00"))))
    query.processAllAvailable()
    assert(pairs() == Set((1L, 2L), (1L, 3L), (2L, 3L)))

    // advance the watermark (max event - 5 min) to 10:00:30 — PAST the
    // backward-armed 10:00:00 a batch-max re-arm would have set, but
    // short of the correct 10:01:00 — then one more batch so a
    // wrongly-armed bucket would fire its timeout
    stream.addData(Seq((50L, noise, at("10:05:30"))))
    query.processAllAvailable()
    stream.addData(Seq((51L, noise2, at("10:05:40"))))
    query.processAllAvailable()

    // the bucket must still be alive: a fourth dup pairs with all three
    stream.addData(Seq((4L, dupText, at("10:06:00"))))
    query.processAllAvailable()
    query.stop()
    assert(pairs().contains((1L, 4L)) && pairs().contains((2L, 4L)) && pairs().contains((3L, 4L)),
      "late arrival shrank the TTL window — bucket evicted before newest-member + TTL")
  }

  test("streaming decontamination over micro-batches equals the batch operator") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    // benchmark = two docs; corpus docs overlap them to varying degrees
    val bench = Seq(
      (1000L, "alpha beta gamma delta epsilon zeta"),
      (1001L, "one two three four")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // full overlap -> 1.0
      (2L, "alpha beta gamma something else here entirely now"), // partial
      (3L, "totally unrelated content with many words inside"), // none
      (4L, "ab"), // under 3 words -> 0 shingles
      (5L, "one two three four five six seven")) // partial
    val expected = graft.streaming.Streaming
      .decontaminateStream(corpus.toDF("doc_id", "text"), bench)
      .collect().map(r => r.doc_id -> r).toMap
    assert(expected(1L).contamination == 1.0 && expected(1L).contaminated)
    assert(expected(3L).n_matched == 0L && !expected(3L).contaminated)
    assert(expected(4L).n_shingles == 0L && expected(4L).contamination == 0.0)

    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.Streaming
      .decontaminateStream(stream.toDS().toDF("doc_id", "text"), bench)
      .writeStream.format("memory").queryName("decont_stream")
      .outputMode("append").start()
    stream.addData(corpus.take(2))
    q.processAllAvailable()
    stream.addData(corpus.drop(2))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("decont_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toSet
    val batch = expected.values
      .map(r => (r.doc_id, r.n_shingles, r.n_matched, r.contamination, r.contaminated))
      .toSet
    assert(streamed == batch, "streamed verdicts diverged from the bounded-batch kernel")
  }

  test("streaming semantic decontamination: micro-batches equal batch, kernel equals operator") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val mod = graft.operators.Corpus.BenchmarkMod
    val bench = emb.filter(col("vec_id") % mod === 0)
    val corpus = emb.filter(col("vec_id") % mod =!= 0)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toSeq

    // the stream's verdicts must equal the batch operator's on the
    // same corpus/benchmark split (same kernel by construction)
    val batch = graft.operators.Ann.embDecontaminate(
      emb.filter(col("vec_id") % mod =!= 0), bench)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toSet

    val stream = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.Streaming
      .embDecontaminateStream(stream.toDS().toDF("vec_id", "embedding"), bench)
      .writeStream.format("memory").queryName("emb_decont_stream")
      .outputMode("append").start()
    stream.addData(corpus.take(corpus.size / 2))
    q.processAllAvailable()
    stream.addData(corpus.drop(corpus.size / 2))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("emb_decont_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toSet
    assert(streamed == batch,
      "streamed semantic verdicts diverged from the batch operator")
  }

  test("streaming real-token stats: frozen vocab, micro-batches equal the batch operator") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val corpus = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq

    // batch operator = the declarative-side truth
    val batch = graft.operators.TextStats.tokenStatsSubword(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet

    // the stream trains its vocab ONCE on the frozen reference corpus
    // (here: the same docs), then tokenizes arriving docs statelessly
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.Streaming
      .tokenStatsSubwordStream(stream.toDS().toDF("doc_id", "text"), docs)
      .writeStream.format("memory").queryName("subword_stream")
      .outputMode("append").start()
    stream.addData(corpus.take(corpus.size / 2))
    q.processAllAvailable()
    stream.addData(corpus.drop(corpus.size / 2))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("subword_stream").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(streamed == batch, "streamed real-token stats diverged from the batch operator")
  }

  test("stored-base dedup stream: arriving docs probe base ∪ segments, equal to the batch probe") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = "stream_dedup_base"
    (spark.sql(s"SHOW TABLES LIKE '${table}__delta*'")
      .select("tableName").collect().map(_.getString(0)).toSeq ++
      Seq(table, s"${table}__old", s"${table}__compact", s"${table}__compacting"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    try {
      graft.sinks.Sinks.writeDedupBase(
        Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"), table, buckets = 4)
      graft.sinks.Sinks.appendDedupDelta(
        Seq((11L, "gamma")).toDF("doc_id", "text"), table)
      val probe = Seq(
        (20L, "alpha"), (21L, "gamma"), (22L, "omega"), (23L, "beta"), (24L, "psi"))

      // batch truth: the SAME expression over a bounded frame, and the
      // dup_of_base face of the full stored verdict
      val batchDf = graft.streaming.Streaming
        .dedupStoredStream(probe.toDF("doc_id", "text"), table)
      val batch = batchDf.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
      val verdict = graft.operators.Dedup
        .incrementalDedupStored(spark, table, probe.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
      assert(batch == verdict,
        "stream-static expression diverged from incrementalDedupStored's dup_of_base face")
      assert(batch.count(_._3) == 3, s"alpha/gamma/beta must flag: $batch")

      // streaming: micro-batched arrivals through the stream-static join
      val stream = MemoryStream[(Long, String)]
      val q = graft.streaming.Streaming
        .dedupStoredStream(stream.toDS().toDF("doc_id", "text"), table)
        .writeStream.format("memory").queryName("dedup_stored_stream")
        .outputMode("append").start()
      stream.addData(probe.take(2))
      q.processAllAvailable()
      stream.addData(probe.drop(2))
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("dedup_stored_stream").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSet
      assert(streamed == batch, "streamed stored-base verdicts diverged from the batch probe")
    } finally
      (spark.sql(s"SHOW TABLES LIKE '${table}__delta*'")
        .select("tableName").collect().map(_.getString(0)).toSeq ++
        Seq(table, s"${table}__old", s"${table}__compact", s"${table}__compacting"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("dedup ingest loop: each batch's novel docs append as a segment the next batch probes") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = "ingest_loop_base"
    (spark.sql(s"SHOW TABLES LIKE '${table}__delta*'")
      .select("tableName").collect().map(_.getString(0)).toSeq ++
      Seq(table, s"${table}__old", s"${table}__compact", s"${table}__compacting"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val ckpt = java.nio.file.Files.createTempDirectory("ingest_loop_ckpt_").toString
    try {
      graft.sinks.Sinks.writeDedupBase(
        Seq((1L, "alpha")).toDF("doc_id", "text"), table, buckets = 4)
      val keptIds = scala.collection.mutable.ArrayBuffer.empty[Long]
      val stream = MemoryStream[(Long, String)]
      val q = graft.streaming.Streaming.dedupIngestLoop(
        stream.toDS().toDF("doc_id", "text"), table, ckpt,
        onKept = (kept, _) =>
          keptIds.synchronized {
            keptIds ++= kept.select("doc_id").collect().map(_.getLong(0))
            ()
          })
      // batch 1: one base dup, one novel, one within-batch dup pair
      stream.addData(Seq((10L, "alpha"), (11L, "beta"), (12L, "beta")))
      q.processAllAvailable()
      // batch 2: "beta" must now read as ALREADY INGESTED (batch 1's
      // segment), "gamma" is novel
      stream.addData(Seq((20L, "beta"), (21L, "gamma")))
      q.processAllAvailable()
      q.stop()
      assert(keptIds.toSet == Set(11L, 21L),
        s"kept set must be first-occurrence novel docs only: $keptIds")
      // one segment per batch that admitted docs
      val segs = spark.sql(s"SHOW TABLES LIKE '${table}__delta*'").count()
      assert(segs == 2, s"each admitting batch appends its own segment, found $segs")
      // the live fingerprint set covers base + both admissions
      assert(graft.sinks.Sinks.readDedupBase(spark, table).count() == 3)
      val v = graft.operators.Dedup.incrementalDedupStored(
        spark, table, Seq((90L, "beta"), (91L, "gamma"), (92L, "delta")).toDF("doc_id", "text"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(v(90L) && v(91L) && !v(92L), s"post-loop probe wrong: $v")
    } finally {
      (spark.sql(s"SHOW TABLES LIKE '${table}__delta*'")
        .select("tableName").collect().map(_.getString(0)).toSeq ++
        Seq(table, s"${table}__old", s"${table}__compact", s"${table}__compacting"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("annIngestWithCadence: micro-batches drive the IVF lifecycle; exactly one mid-stream rebuild+flip") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val S = graft.sinks.Sinks
    // deterministic per-id embeddings so an exact-twin probe retrieves
    // its mid-stream original
    def vecsOf(ids: Seq[Long]): Seq[(Long, Array[Float])] =
      ids.map { i =>
        val rnd = new Random(i)
        (i, Array.fill(64)(rnd.nextGaussian().toFloat))
      }
    val emb = vecsOf(0L until 240L).toDF("vec_id", "embedding")
    val root = java.nio.file.Files.createTempDirectory("cadence_loop_").toString
    val (ivf, hnsw, store, ckpt) =
      (s"$root/ivf", s"$root/hnsw", s"$root/store", s"$root/ckpt")
    S.writeAnnIndex(emb, ivf)
    S.writeHnswIndex(emb, hnsw)
    // the seeding contract: the raw-vector store starts with the
    // corpus the indexes already hold
    emb.withColumn("batch_id", lit(-1L)).write.mode("append").parquet(store)
    def gen: Long = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$hnsw/CURRENT")), "UTF-8").trim.toLong
    assert(gen === 1L)

    val rebuilds = scala.collection.mutable.ArrayBuffer.empty[Long]
    val stream = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.Streaming.annIngestWithCadence(
      stream.toDF().toDF("vec_id", "embedding"), ivf, hnsw, store, ckpt,
      onRebuild = id => rebuilds.synchronized { rebuilds += id; () })
    // batch 0: +10 on 240 served — under the 10% drift threshold (24)
    stream.addData(vecsOf(1000L until 1010L))
    q.processAllAvailable()
    assert(rebuilds.isEmpty && gen === 1L, "sub-threshold ingest must stay quiet")
    // batch 1: +20 more — 270 live vs 240 served ≥ 24: exactly one
    // rebuild + pointer flip, mid-stream
    stream.addData(vecsOf(1010L until 1030L))
    q.processAllAvailable()
    assert(rebuilds.toSeq === Seq(1L),
      s"exactly one rebuild, at the threshold-crossing batch: $rebuilds")
    assert(gen === 2L, "the rebuild must flip the serving generation")
    // batch 2: +5 — the flip re-based the served count; disarmed
    stream.addData(vecsOf(2000L until 2005L))
    q.processAllAvailable()
    // batch 3: an at-least-once redelivery — the SAME vec_id twice in
    // one trigger. The loop must collapse it to one row before the
    // upsert (which rejects duplicate ids loudly); exactly one copy
    // may be live afterwards.
    stream.addData(vecsOf(Seq(3000L)) ++ vecsOf(Seq(3000L)))
    q.processAllAvailable()
    assert(q.exception.isEmpty,
      s"duplicated-id batch must not kill the stream: ${q.exception}")
    assert(graft.sinks.Sinks.readAnnIndexCodes(spark, ivf)
      .filter(col("vec_id") === 3000L).count() === 1L,
      "within-batch duplicate id must leave exactly one live row")
    q.stop()
    assert(rebuilds.toSeq === Seq(1L) && gen === 2L,
      "post-flip sub-threshold ingest must not rebuild again")
    // the flipped generation serves every vector ingested before it
    val servedIds = spark.read.parquet(s"$hnsw/g2/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert((0L until 240L).forall(servedIds.contains) &&
      (1000L until 1030L).forall(servedIds.contains),
      "the rebuilt graph must serve the initial corpus plus the ingested batches")
    // and a post-flip search finds a mid-stream vector by its exact twin
    val probe = vecsOf(Seq(1015L)).map { case (_, e) => (9999999L, e) }
      .toDF("q_id", "embedding")
    val top = S.readHnswIndexTopK(spark, hnsw, probe)
      .filter(col("rn") === 1).collect()
    assert(top.nonEmpty && top.head.getAs[Long]("vec_id") === 1015L,
      s"post-flip search must serve the mid-stream ingested vector: ${top.toSeq}")
  }

  test("streaming decontamination batch harness equals the declarative operator") {
    val spark = TestSpark.spark
    import spark.implicits._
    // on the registry's stand-in split, the kernel must reproduce
    // Corpus.decontaminate exactly — same counts, ratio, and flag
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val kernel = graft.streaming.Streaming.batchDecontaminate(docs)
      .collect().map(r => (r.doc_id, r.n_shingles, r.n_matched, r.contamination, r.contaminated))
      .toSet
    val declarative = graft.operators.Corpus.decontaminate(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
      .toSet
    graft.operators.CacheScope.releaseAll()
    assert(kernel == declarative, "kernel and declarative decontamination diverged")
  }

  test("streaming keep verdict: first arrival keeps, later identical content drops as dup") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    val good = "the quick brown fox jumps over the lazy dog and then rests in the shade"
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.Streaming.keepStream(stream.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("keep_stream")
      .outputMode("append").start()
    stream.addData(Seq((10L, good), (11L, "x y")))
    q.processAllAvailable()
    // batch 2: smaller id with identical content still defers (first arrival won)
    stream.addData(Seq((3L, good), (12L, "@@@ ### $$$ %%% ^^^ &&& *** !!!")))
    q.processAllAvailable()
    q.stop()

    val out = spark.table("keep_stream").collect()
      .map(r => r.getLong(0) -> ((r.getString(4), r.getBoolean(5)))).toMap
    assert(out(10L) == (("keep", true)), s"good doc must keep: $out")
    assert(out(3L) == (("dup", false)), "later-arriving smaller id must be the dup")
    assert(out(11L) == (("too_short", false)))
    assert(out(12L)._1 == "low_quality", s"symbol soup must be low_quality: ${out(12L)}")
  }

  test("streaming keep verdict over bounded input equals the batch keepMask") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val kernel = graft.streaming.Streaming.batchKeep(docs)
      .collect().map(r => (r.doc_id, r.n_tokens, r.quality, r.is_dup, r.reason, r.keep))
      .toSet
    val declarative = graft.operators.TextStats.keepMask(docs)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3), r.getString(4), r.getBoolean(5)))
      .toSet
    assert(kernel == declarative, "ingest keep kernel diverged from batch keepMask")
  }

  test("streaming lang-ID kernel over bounded input equals the declarative doc_lang_id") {
    val spark = TestSpark.spark
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val kernel = graft.streaming.Streaming.langIdStream(docs)
      .collect().map(r => (r.doc_id, r.lang, r.score_en, r.score_de, r.score_es, r.score_fr, r.predicted, r.agrees))
      .toSet
    val declarative = graft.operators.TextStats.langId(docs)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5), r.getString(6), r.getBoolean(7)))
      .toSet
    assert(kernel == declarative, "ingest lang-ID kernel diverged from batch langId")
  }

  test("streaming lang-ID is stateless: per-batch rows identical to per-row kernel calls") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, String)]
    val q = graft.streaming.Streaming.langIdStream(stream.toDS().toDF("doc_id", "lang", "text"))
      .writeStream.format("memory").queryName("langid_stream")
      .outputMode("append").start()
    stream.addData(Seq(
      (1L, "en", "the the der a of"),      // en 4 vs de 1
      (2L, "de", "der die und ist das"),   // pure de
      (3L, "fr", "zzz qqq"),               // no markers -> und
      (4L, "es", "de y de y")))            // "de" the word is an es marker, not a de-language one
    q.processAllAvailable()
    stream.addData(Seq((5L, "en", "the a")))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("langid_stream").collect()
      .map(r => r.getLong(0) -> ((r.getString(6), r.getBoolean(7)))).toMap
    assert(out(2L) == (("de", true)))
    assert(out(3L) == (("und", false)))
    assert(out(5L) == (("en", true)))
    // cross-batch independence: re-scoring doc 1 standalone gives the same verdict
    assert(out(1L)._1 == graft.streaming.Streaming.langIdScore(1L, "en", "the the der a of").predicted)
  }

  test("bucketFold: membership probes stay O(1) on a giant bucket") {
    // 20k-member bucket state, then a batch of arrivals that are ALL
    // already members: pair emission is zero, so the only cost is the
    // membership probe. The inherent O(n^2) pair emission for
    // genuinely-new members is the answer (a giant bucket IS a giant
    // dup cluster), not overhead. An absolute wall-clock bound here is
    // load-sensitive (GC pause / cold JIT on a contended box), so the
    // guard is RELATIVE: the Set-backed fold must beat a deliberately
    // quadratic Vector.contains fold — the pre-fix shape — measured on
    // the same box under the same load, by a wide margin.
    val prior = (1L to 20000L).toVector
    val arrivals = (1L to 20000L by 4).map(i => Streaming.BandKeyed(i, 0, "sig"))
    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e6)
    }
    Streaming.bucketFold(Streaming.TextRule, arrivals.iterator, prior) // JIT warm-up
    val ((members, out), setMs) =
      time(Streaming.bucketFold(Streaming.TextRule, arrivals.iterator, prior))
    assert(out.isEmpty, "re-arrivals of existing members emit no pairs")
    assert(members == prior, "state unchanged by duplicate arrivals")
    def quadraticProbe(): Long = {
      var m = prior; var dup = 0L
      arrivals.sortBy(_.doc_id).foreach { r =>
        if (m.contains(r.doc_id)) dup += 1 else m = m :+ r.doc_id
      }
      dup
    }
    val (dups, quadMs) = time(quadraticProbe())
    assert(dups == arrivals.size.toLong, "baseline probes the same membership")
    assert(setMs * 5 < quadMs,
      s"Set-backed probe ($setMs ms) must stay far below the quadratic baseline ($quadMs ms)")
    // fresh members still pair with everyone already present
    val (m2, o2) = Streaming.bucketFold(
      Streaming.TextRule, Iterator(Streaming.BandKeyed(30000L, 0, "sig")), prior)
    assert(o2.size == prior.size && m2.size == prior.size + 1)
  }

  test("TTL stream: a null event_ts row is dropped; valid rows still pair") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def at(s: String) = java.sql.Timestamp.valueOf(s"2024-01-01 $s")
    val dupText = lshDocs.head._2
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val query = Streaming.nearDupStreamTtl(
      Streaming.TextRule,
      Dedup.rowBandSignatures(
        stream.toDS().toDF("doc_id", "text", "event_ts"), passthrough = Seq("event_ts")),
      watermarkDelay = "0 seconds", ttlSeconds = 60)
      .writeStream.format("memory").queryName("lsh_ttl_null_ts")
      .outputMode("append").start()
    def pairs() = spark.table("lsh_ttl_null_ts").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    try {
      // a row without an event time belongs to no epoch: it must not
      // reach the fold (whose re-arm reads every member's time)
      stream.addData(Seq(
        (1L, dupText, at("10:00:00")), (2L, dupText, null), (3L, dupText, at("10:00:00"))))
      query.processAllAvailable()
      assert(pairs() == Set((1L, 3L)), s"valid rows must pair, the null row must not: ${pairs()}")
      // the query keeps running: a later valid arrival still pairs
      stream.addData(Seq((4L, dupText, at("10:00:30"))))
      query.processAllAvailable()
      assert(query.isActive && query.exception.isEmpty)
      assert(pairs() == Set((1L, 3L), (1L, 4L), (3L, 4L)), s"${pairs()}")
    } finally query.stop()
  }

  test("near-dup state encoders and bucket keys keep their checkpoint format") {
    import org.apache.spark.sql.types._
    // the checkpointed state of every face: exact = the member vector,
    // TTL = members + newest event time; a schema change here breaks
    // restore from existing checkpoints (see guardTtlCheckpoint)
    val mm = StructType(Seq("_1", "_2", "_3").map(StructField(_, LongType, nullable = false)))
    val emb = StructType(Seq(
      StructField("_1", LongType, nullable = false),
      StructField("_2", ArrayType(FloatType, containsNull = false), nullable = true),
      StructField("_3", DoubleType, nullable = false)))
    def exact(members: DataType) = StructType(Seq(StructField("value", members, nullable = true)))
    def ttl(members: DataType) = StructType(Seq(
      StructField("members", members, nullable = true),
      StructField("newestTs", LongType, nullable = false)))

    val text = ArrayType(LongType, containsNull = false)
    assert(Streaming.TextRule.exactState.schema == exact(text))
    assert(Streaming.TextRule.ttlState.schema == ttl(text))
    Seq(Multimodal.Image, Multimodal.Audio, Multimodal.Video,
      Multimodal.AudioSpectral, Multimodal.VideoSpectral).foreach { k =>
      val rule = Streaming.perceptualRule(k)
      assert(rule.exactState.schema == exact(ArrayType(mm, containsNull = true)))
      assert(rule.ttlState.schema == ttl(ArrayType(mm, containsNull = true)))
    }
    assert(Streaming.EmbRule.exactState.schema == exact(ArrayType(emb, containsNull = true)))
    assert(Streaming.EmbRule.ttlState.schema == ttl(ArrayType(emb, containsNull = true)))
    // the faces pass the rules' state encoders, bound once per rule
    val rules = Seq(Streaming.TextRule, Streaming.perceptualRule(Multimodal.Image), Streaming.EmbRule)
    assert(rules.forall(r => isBound(r.exactState) && isBound(r.ttlState)))

    // the grouping key is the state store's key: the "band|key" string
    assert(Streaming.TextRule.bucket(Streaming.BandKeyed(1L, 2, "abc")) == "2|abc")
    assert(Streaming.perceptualRule(Multimodal.Image)
      .bucket(Streaming.MmBandKeyed(1L, 3, 77L, 0L, 0L)) == "3|77")
    assert(Streaming.EmbRule
      .bucket(Streaming.EmbBandKeyed(1L, 1, 5L, Array(1f), 1.0)) == "1|5")
    assert(Streaming.TtlStateVersion == 2)
  }

  test("guardTtlCheckpoint: fresh dirs get a marker; stale/unversioned state fails clearly") {
    val spark = TestSpark.spark
    def tmp() = java.nio.file.Files.createTempDirectory("graft-ttl-ckpt").toString

    // fresh dir: guard writes the marker and passes, idempotently
    val fresh = tmp()
    Streaming.guardTtlCheckpoint(spark, fresh)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(fresh, "graft_ttl_state_version")))
    Streaming.guardTtlCheckpoint(spark, fresh) // marker matches -> no-op

    // a checkpoint with streaming state but NO marker predates
    // versioning (the pre-r8 bare-vector format): the raw
    // state-deserialization crash becomes a clear startup error
    val old = tmp()
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(old, "offsets"))
    val e1 = intercept[IllegalStateException] {
      Streaming.guardTtlCheckpoint(spark, old)
    }
    assert(e1.getMessage.contains("predates state-format versioning"), e1.getMessage)
    assert(e1.getMessage.contains("fresh checkpoint"), e1.getMessage)

    // a marker with a DIFFERENT version is refused with both numbers
    val verd = tmp()
    java.nio.file.Files.write(
      java.nio.file.Paths.get(verd, "graft_ttl_state_version"), "1\n".getBytes("UTF-8"))
    val e2 = intercept[IllegalStateException] {
      Streaming.guardTtlCheckpoint(spark, verd)
    }
    assert(e2.getMessage.contains("v1") &&
      e2.getMessage.contains(s"v${Streaming.TtlStateVersion}"), e2.getMessage)
  }

}
