package graft

import graft.model.{Capture, FillPolicy, TrendQuery}
import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** The committed state-format v1 checkpoints under
  * `src/test/resources/trend_state_v1` and the captures they were written
  * from. `scored/` is `Streaming.scoredStream`'s checkpoint and
  * `scored_watermarked/` is `Streaming.scoredStreamWatermarked`'s (lateness
  * [[Lateness]]), each after the first [[WrittenBatches]] of [[batches]] went
  * through a noop sink, with 2 shuffle partitions. FIXTURES.md says how
  * they were made.
  *
  * The captures cover the v1 state's corners: `v1-a` passes 1000 captures
  * in the written batches, so its chaos ring has wrapped; `v1-b` carries
  * the junk status `x9`, which lands in its ring and digest map; `v1-c` is
  * captured on one day in three, so the scorer fills gaps. Every url ends
  * the written batches on an open day, and the watermarked checkpoint
  * holds back the captures of its last day and a half.
  */
object TrendStateFixture {
  val Query: TrendQuery = TrendQuery(-1, FillPolicy.Closest, "2024-02-01")
  val Lateness = "1 day"
  val WrittenBatches = 3
  val Urls = Seq("v1-a", "v1-b", "v1-c")

  /** Five batches of three days each, in event-time order. */
  val batches: Seq[Seq[Capture]] = (0 until 5).map { b =>
    val caps = for {
      d <- 0 until 3
      day = java.time.LocalDate.of(2024, 1, 1).plusDays(3L * b + d).toString.replace("-", "")
      (url, n, statuses, digests) <- Seq(
        ("v1-a", 140, Seq("200", "200", "301", "404", "503", "-"), 13),
        ("v1-b", 10, Seq("200", "x9", "-", "301", "x9"), 5),
        ("v1-c", if (d == 0) 4 else 0, Seq("200", "404"), 3))
      j <- 0 until n
    } yield {
      val sec = j * 600 + Urls.indexOf(url)
      val ts = f"$day${sec / 3600}%02d${sec / 60 % 60}%02d${sec % 60}%02d"
      Capture(url, ts, statuses(j % statuses.length), f"$url-D${(j + b) % digests}%02dZZZZZZZZ", 0L)
    }
    caps.sortBy(_.ts).zipWithIndex.map { case (c, i) => c.copy(seq = 10000L * b + i) }
  }

  /** The committed checkpoint `name` (`scored` or `scored_watermarked`). */
  def resource(name: String): JPath =
    Paths.get(getClass.getResource(s"/trend_state_v1/$name").toURI)

  /** A copy of checkpoint `name` under `dir`, so a test never writes into
    * the committed fixture.
    */
  def copyTo(name: String, dir: JPath): JPath = {
    val from = resource(name)
    val to = dir.resolve(name)
    val walk = Files.walk(from)
    try walk.iterator.asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
    to
  }
}
