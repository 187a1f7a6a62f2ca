package graft.model

/** Core data model for the trend engine.
  *
  * Re-expresses the reference's row shapes (reference: archive.py:4-57,
  * main.py:144-182) as Spark-encodable case classes. Everything is keyed
  * by `url` so one job can score millions of URLs, unlike the reference
  * which processes a single URL per session.
  */

/** One CDX-style capture record (reference: main.py:118,144).
  *
  * `ts` stays a 14-char `yyyyMMddHHmmss` STRING on purpose: the reference
  * compares and truncates timestamps lexicographically (main.py:146-147,
  * samples.py:22) and that behavior on junk input is load-bearing.
  * `seq` is a stable tie-break for same-second captures (stream position).
  */
case class Capture(url: String, ts: String, status: String, digest: String, seq: Long)

/** Per-day aggregate row before scoring (reference: archive.py:4-21).
  * `chaos`/`chaosn` are None for gap-filled / unobserved days (they
  * inherit the previous observed day's value during densification,
  * reference: main.py:202-207).
  */
case class FilledRow(
    url: String,
    day: String,
    datetime: String,
    c2xx: Long,
    c3xx: Long,
    c4xx: Long,
    c5xx: Long,
    specimen: String,
    digest: String,
    content: String,
    chaos: Option[Double],
    chaosn: Option[Double])

/** Fully scored daily record — the engine's central output row
  * (reference: archive.py:4-21 plus scores set at main.py:217,227).
  */
case class ScoredRow(
    url: String,
    day: String,
    datetime: String,
    c2xx: Long,
    c3xx: Long,
    c4xx: Long,
    c5xx: Long,
    call: Long,
    specimen: String,
    filled: Boolean,
    resilience: Double,
    digest: String,
    content: String,
    fixity: Double,
    chaos: Double,
    chaosn: Double)

/** Sigmoid parameter triple (reference: main.py:341-350). */
case class SigParams(shift: Double, slope: Double, spread: Double)

object SigParams {
  /** Default parameter table (reference slider defaults, main.py:292-338). */
  val defaults: Map[String, SigParams] = Map(
    "2xx" -> SigParams(4, 1, 1),
    "3xx" -> SigParams(5, 10, -0.5),
    "4xx" -> SigParams(5, 1, -1),
    "5xx" -> SigParams(5, 1, -1),
    "~" -> SigParams(10, 20, -0.5),
    "Changed" -> SigParams(6, 1, -1),
    "Unchanged" -> SigParams(4, 1, 1),
    "Unknown" -> SigParams(10, 30, -0.5)
  )

  /** spread / (1 + exp(shift - x/slope)) (reference: main.py:45-51). */
  def sigmoid(x: Double, p: SigParams): Double =
    p.spread / (1 + math.exp(p.shift - x / p.slope))
}

/** One scoring dimension's recurrence state (reference main.py:194-227):
  * on a state change the new run re-bases on the score at the boundary
  * (`base = h; scale = base if spread < 0 else 1 - base; x = 0`), then
  * every day advances `x` and re-evaluates the sigmoid. Immutable so it
  * can sit directly in Spark streaming `GroupState`.
  */
case class DimState(prev: String, base: Double, scale: Double, h: Double, x: Long) {
  def step(state: String, p: SigParams): DimState =
    if (state != prev) {
      val sc = if (p.spread < 0) h else 1 - h
      DimState(state, h, sc, h + sc * SigParams.sigmoid(1.0, p), 1L)
    } else DimState(prev, base, scale, base + scale * SigParams.sigmoid((x + 1).toDouble, p), x + 1)
}

object DimState {
  /** init base = h = 0.5, x = 0 (reference main.py:196-198) */
  val resilienceInit: DimState = DimState("~", 0.5, 0.5, 0.5, 0)
  val fixityInit: DimState = DimState("Unknown", 0.5, 0.5, 0.5, 0)
}

/** Gap-fill policy ADT (reference: main.py:81-86). */
sealed abstract class FillPolicy(val name: String)
object FillPolicy {
  case object Identical extends FillPolicy("identical")
  case object Closest extends FillPolicy("closest")
  case object Forward extends FillPolicy("forward")
  case object Backward extends FillPolicy("backward")
  val all: Seq[FillPolicy] = Seq(Identical, Closest, Forward, Backward)
  def apply(name: String): FillPolicy =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(s"unknown fill policy: $name"))
}

/** The engine's declarative query surface — the reference's URL query
  * params (main.py:260-282) plus an injected `asOf` date replacing the
  * wall-clock "today" (main.py:199,387) so results are deterministic.
  */
case class TrendQuery(
    fill: Int = 0,
    policy: FillPolicy = FillPolicy.Forward,
    asOf: String = "2024-03-01",
    params: Map[String, SigParams] = SigParams.defaults)
