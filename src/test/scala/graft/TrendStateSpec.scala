package graft

import graft.model.{Capture, ScoredRow}
import graft.streaming.Streaming
import java.nio.file.{Files, Path => JPath}
import org.apache.spark.api.java.Optional
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, StreamingQueryException, TestGroupState}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The trend faces' packed state (format v2): the codec round trip, its
  * refusal of bytes it did not write, and the v1 fixture's refusal and
  * migration.
  */
class TrendStateSpec extends AnyFunSuite {
  private val Q = TrendStateFixture.Query
  private val Utc = java.time.ZoneId.of("UTC")
  private val Wm = java.time.LocalDateTime.of(2024, 1, 5, 12, 0).atZone(Utc).toInstant.toEpochMilli

  private type Step = (String, Iterator[Capture], GroupState[Array[Byte]]) => Iterator[Any]
  /** The four faces' group functions; the watermarked ones see [[Wm]]. */
  private val steps = Seq[(String, Step)](
    ("dailyStream", Streaming.processGroup _),
    ("dailyStreamWatermarked", Streaming.processGroupLate(Utc) _),
    ("scoredStream", Streaming.scoredStep(Q) _),
    ("scoredStreamWatermarked", Streaming.scoredLateStep(Q, Utc) _))

  /** `step` over `rows` from state `from`: what it emitted and the state
    * it stored.
    */
  private def run(step: Step, from: Option[Array[Byte]], rows: Seq[Capture]): (Seq[Any], Array[Byte]) = {
    val state = TestGroupState.create[Array[Byte]](from.fold(Optional.empty[Array[Byte]]())(Optional.of(_)),
      GroupStateTimeout.NoTimeout(), 0L, Optional.of(Wm), false)
    val out = step("u", rows.iterator, state).toVector
    (out, state.get)
  }

  /** A random time-ordered capture stream of url `u`: n up to 3000, over
    * 1-10 days around [[Wm]], with a digest pool from 1 to 4000 (a large
    * digest map), junk statuses sometimes, and sometimes more than 256
    * distinct junk classes (the ring's wide table).
    */
  private def captures(rnd: Random): Seq[Capture] = {
    val n = Seq(0, 1, 5, 40, 1200, 3000)(rnd.nextInt(6))
    val days = 1 + rnd.nextInt(10)
    val pool = Seq(1, 7, 4000)(rnd.nextInt(3))
    val junk = rnd.nextInt(4)
    val statuses = Seq("200", "301", "404", "503", "-", "-") ++
      (if (junk >= 2) Seq("x9", "", "30x", "ü1") else Nil)
    (0 until n).map { i =>
      val day = java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(days)).toString.replace("-", "")
      val ts = f"$day${rnd.nextInt(24)}%02d${rnd.nextInt(60)}%02d${rnd.nextInt(60)}%02d"
      val status = if (junk == 3 && rnd.nextInt(3) == 0) s"j${rnd.nextInt(600)}" else statuses(rnd.nextInt(statuses.length))
      Capture("u", ts, status, f"D${rnd.nextInt(pool)}%05dQQQQQQ", i.toLong)
    }.sortBy(c => (c.ts, c.seq))
  }

  test("the v2 codec round-trips random kernel states bit for bit") {
    val rnd = new Random(61)
    for (round <- 0 until 120; (name, step) <- steps) {
      val all = captures(rnd)
      val k = rnd.nextInt(all.length + 1)
      val (head, tail) = all.splitAt(k)
      val (outAll, bytesAll) = run(step, None, all)
      val (out1, bytes1) = run(step, None, head)
      // load-and-store with nothing new: the same bytes, nothing emitted
      val (out0, bytes0) = run(step, Some(bytes1), Nil)
      assert(out0.isEmpty && bytes0.sameElements(bytes1), s"$name round $round: reload changed the state")
      // a state stored and loaded mid-stream goes on exactly as one that
      // never left memory
      val (out2, bytes2) = run(step, Some(bytes1), tail)
      assert(out1 ++ out2 == outAll, s"$name round $round: split at $k of ${all.length} emits differently")
      assert(bytes2.sameElements(bytesAll), s"$name round $round: split at $k of ${all.length} stores differently")
    }
  }

  test("bytes of another format version, and truncated bytes, are refused naming the version") {
    val rnd = new Random(62)
    val caps = Iterator.continually(captures(rnd)).find(_.length >= 40).get
    for ((name, step) <- steps) {
      val (_, bytes) = run(step, None, caps)
      assert(bytes(0) == Streaming.TrendStateVersion)
      for (v <- Seq(0, 1, 3, 255)) {
        val other = bytes.clone()
        other(0) = v.toByte
        val e = intercept[IllegalStateException](run(step, Some(other), Nil))
        assert(e.getMessage.contains(s"format v$v") && e.getMessage.contains(s"reads v${Streaming.TrendStateVersion}"),
          s"$name: ${e.getMessage}")
      }
      for (len <- 0 until bytes.length) {
        val e = intercept[IllegalStateException](run(step, Some(bytes.take(len)), Nil))
        assert(e.getMessage.contains(s"format v${Streaming.TrendStateVersion}"), s"$name at $len: ${e.getMessage}")
      }
      val e = intercept[IllegalStateException](run(step, Some(bytes :+ 0.toByte), Nil))
      assert(e.getMessage.contains("trailing"), s"$name: ${e.getMessage}")
    }
  }

  private def withDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_v1_")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** The scored face `name` of the fixture (`scored` or
    * `scored_watermarked`) over `ds`, started from `from`.
    */
  private def face(name: String, ds: Dataset[Capture],
      from: Option[org.apache.spark.sql.KeyValueGroupedDataset[String, Array[Byte]]]): Dataset[ScoredRow] =
    if (name == "scored") Streaming.scoredStream(ds, Q, from)
    else Streaming.scoredStreamWatermarked(ds, Q, TrendStateFixture.Lateness, from)

  /** `batches` into face `name` on checkpoint `ckpt`, after `skip` empty
    * batches: the rows its sink received, and how the query ended.
    */
  private def feed(s: SparkSession, name: String, ckpt: JPath, skip: Int, batches: Seq[Seq[Capture]],
      from: Option[org.apache.spark.sql.KeyValueGroupedDataset[String, Array[Byte]]] = None)
      : (Seq[ScoredRow], Option[StreamingQueryException]) = {
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val stream = MemoryStream[Capture]
    (0 until skip).foreach(_ => stream.addData(Seq.empty[Capture]))
    val got = new java.util.concurrent.ConcurrentLinkedQueue[ScoredRow]()
    val query = face(name, stream.toDS(), from).writeStream
      .foreachBatch { (b: Dataset[ScoredRow], _: Long) => b.collect().foreach(got.add); () }
      .option("checkpointLocation", ckpt.toString).outputMode("append").start()
    val failed =
      try { batches.foreach { b => stream.addData(b); query.processAllAvailable() }; None }
      catch { case e: StreamingQueryException => Some(e) }
      finally query.stop()
    (got.toArray(Array.empty[ScoredRow]).toSeq, failed)
  }

  test("a v2 face refuses a v1 checkpoint at start and emits nothing") {
    for (name <- Seq("scored", "scored_watermarked")) withDir { dir =>
      val ckpt = TrendStateFixture.copyTo(name, dir)
      val (rows, failed) = feed(TestSpark.spark.newSession(), name, ckpt, TrendStateFixture.WrittenBatches,
        TrendStateFixture.batches.drop(TrendStateFixture.WrittenBatches))
      assert(failed.isDefined, s"$name: the v2 face resumed v1 state")
      val msg = Iterator.iterate[Throwable](failed.get)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")
      assert(msg.contains("STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"), s"$name: $msg")
      assert(rows.isEmpty, s"$name emitted ${rows.size} rows")
    }
  }

  test("a migrated v1 checkpoint goes on with exactly Trend.run's closed prefix") {
    val spark = TestSpark.spark
    import spark.implicits._
    val all = TrendStateFixture.batches.flatten
    val want = graft.operators.Trend.run(all.toDF(), Q).collect().map(r => (r.url, r.day) -> r).toMap
    // the day each url's last capture falls on: open after the last batch
    val lastCaptured = all.groupBy(_.url).map { case (u, cs) => u -> Streaming.dayOf(cs.map(_.ts).max) }
    for (name <- Seq("scored", "scored_watermarked")) withDir { dir =>
      val s = spark.newSession()
      val v1 = TrendStateFixture.copyTo(name, dir)
      // the last day the v1 query scored, per url, from its own state
      val v1Last = Streaming.v1States(s, v1.toString).selectExpr("url", "state.score.lastDay")
        .as[(String, String)].collect().toMap
      assert(v1Last.keySet == TrendStateFixture.Urls.toSet)
      val (rows, failed) = feed(s, name, dir.resolve("v2"), 0,
        TrendStateFixture.batches.drop(TrendStateFixture.WrittenBatches), Some(Streaming.migrateV1(s, v1.toString)))
      assert(failed.isEmpty, s"$name: $failed")
      val got = rows.map(r => (r.url, r.day) -> r).toMap
      assert(got.size == rows.size, s"$name emitted a day twice")
      val lastEmitted = got.keys.groupBy(_._1).map { case (u, ks) => u -> ks.map(_._2).max }
      assert(lastEmitted.keySet == TrendStateFixture.Urls.toSet, s"$name: urls emitted ${lastEmitted.keySet}")
      lastEmitted.foreach { case (u, d) =>
        assert(d < lastCaptured(u), s"$name: $u emitted its open day $d")
        // the unwatermarked face has closed every captured day but the last
        if (name == "scored")
          assert(d == all.filter(_.url == u).map(c => Streaming.dayOf(c.ts)).filter(_ < lastCaptured(u)).max,
            s"$name: $u stopped at $d")
      }
      val expected = want.filter { case ((u, d), _) => d > v1Last(u) && d <= lastEmitted(u) }
      assert(got == expected, s"$name: migrated rows differ from Trend.run's closed prefix")
    }
  }
}
