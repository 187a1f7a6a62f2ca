package perfbench

import java.time.LocalDate
import java.time.temporal.ChronoUnit

import graft.model.ScoredRow

/** Output checks. Each returns None when the output is right, else what is
  * wrong. They take collected outputs so the self-test can hand them
  * corrupted ones.
  */
object Checks {

  /** The scored table has one row per day from each URL's first capture
    * to `asOf`, inclusive.
    */
  def rowCounts(got: Map[String, Long], firstDay: Map[String, String], asOf: String): Option[String] = {
    val end = LocalDate.parse(asOf)
    val wrong = firstDay.toSeq.sorted.flatMap { case (u, d) =>
      val want = ChronoUnit.DAYS.between(LocalDate.parse(d), end) + 1
      val g = got.getOrElse(u, 0L)
      if (g == want) None else Some(s"$u has $g rows, want $want")
    } ++ (got.keySet -- firstDay.keySet).toSeq.sorted.map(u => s"unexpected url $u")
    if (wrong.isEmpty) None else Some(s"${wrong.size} urls wrong, e.g. ${wrong.take(3).mkString("; ")}")
  }

  def sameRows[T](what: String, got: Seq[T], want: Seq[T]): Option[String] =
    if (got == want) None
    else {
      val i = got.zip(want).indexWhere { case (a, b) => a != b } match {
        case -1 => math.min(got.length, want.length)
        case k => k
      }
      Some(s"$what: ${got.length} vs ${want.length} rows, first difference at $i: " +
        s"${got.lift(i).getOrElse("<none>")} vs ${want.lift(i).getOrElse("<none>")}")
    }

  /** Streamed rows equal the batch scored table restricted to each URL's
    * emitted prefix (the StreamingSpec contract).
    */
  def streamPrefix(streamed: Seq[ScoredRow], batch: Seq[ScoredRow]): Option[String] =
    if (streamed.isEmpty) Some("stream emitted nothing")
    else {
      val last = streamed.groupBy(_.url).map { case (u, rs) => u -> rs.map(_.day).max }
      val want = batch.filter(r => last.get(r.url).exists(r.day <= _))
      sameRows("streamed vs batch closed prefix", Workloads.sorted(streamed), Workloads.sorted(want))
    }

  /** Every planted group's docs share one cluster, and no two planted units
    * (a group, or any other document) share a cluster. Benchmark docs are
    * not in the verdict.
    */
  def clusters(label: Map[Long, Long], c: Gen.Corpus): Option[String] = {
    val want = c.docs.filter(_.role != "benchmark").map(_.id).toSet
    if (label.keySet != want)
      return Some(s"verdict covers ${label.size} docs, want the ${want.size} non-benchmark docs")
    c.groups.find(g => g.map(label).distinct.size != 1) match {
      case Some(g) => Some(s"planted group of ${g.size} split into clusters ${g.map(label).distinct.take(5)}")
      case None =>
        val grouped = c.groups.flatten.toSet
        val units = c.groups.map(g => label(g.head)) ++ want.toSeq.filterNot(grouped).map(label)
        val shared = units.groupBy(identity).collect { case (l, xs) if xs.size > 1 => l }
        if (shared.isEmpty) None else Some(s"${shared.size} clusters join unrelated documents, e.g. ${shared.head}")
    }
  }

  def keepCount(kept: Int, c: Gen.Corpus): Option[String] =
    if (kept == c.expectedKeep) None else Some(s"kept $kept docs, the plant implies ${c.expectedKeep}")
}
