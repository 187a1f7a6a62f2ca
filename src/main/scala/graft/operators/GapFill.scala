package graft.operators

import graft.model.FillPolicy
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap filling (G1-G6) and calendar densification (J1).
  *
  * Reference: `filler` + the four policies (main.py:54-102) and the
  * calendar loop to "today" (main.py:199-201). Both are pure DataFrame
  * ops: gaps come from a `lead` window per URL, fill rows from
  * `explode(sequence(...))` — no driver-side iteration, fully
  * distributed and shuffle-free beyond the existing per-URL layout.
  */
object GapFill {

  private val wDay = Window.partitionBy("url").orderBy("day")

  /** G1-G5: generate fill rows for interior gaps between consecutive
    * observed days. `fill == 0` disables (reference main.py:191),
    * `fill == -1` fills any gap, else only gaps of at most `fill` days.
    * Returns observed ∪ filled rows (disjoint union, reference §2.8).
    *
    * Fill-row shape (G6): counts 0, datetime/digest "~", content
    * "Unknown", chaos NULL (inherits during densification).
    */
  def fill(dailyDf: DataFrame, fill: Int, policy: FillPolicy): DataFrame = {
    val observed = dailyDf
    if (fill == 0) return observed

    val gaps = observed
      .select(
        col("url"),
        col("day"),
        col("specimen"),
        lead(col("day"), 1).over(wDay).as("nday"),
        lead(col("specimen"), 1).over(wDay).as("nspec"))
      .withColumn("gap", datediff(to_date(col("nday")), to_date(col("day"))) - 1)
      .filter(col("nday").isNotNull && col("gap") > 0 &&
        (if (fill == -1) lit(true) else col("gap") <= fill))

    // One generated row per interior day; `pos` is the 0-based offset i
    // used by the `closest` policy (reference main.py:62-66).
    val exploded = gaps.select(
      col("url"),
      col("specimen"),
      col("nspec"),
      col("gap"),
      posexplode(sequence(date_add(to_date(col("day")), 1), date_sub(to_date(col("nday")), 1))).as(Seq("pos", "fday")))

    val value = policy match {
      case FillPolicy.Forward  => col("specimen")
      case FillPolicy.Backward => col("nspec")
      // first ceil(gap/2) days take the left value: i < gap/2 with float
      // division (reference main.py:62-66).
      case FillPolicy.Closest =>
        when(col("pos") < col("gap").cast("double") / 2.0, col("specimen")).otherwise(col("nspec"))
      case FillPolicy.Identical => col("specimen")
    }
    val kept = policy match {
      // `identical` fills only when both endpoints agree — silently
      // fills nothing otherwise (reference main.py:54-59).
      case FillPolicy.Identical => exploded.filter(col("specimen") === col("nspec"))
      case _                    => exploded
    }

    val filledRows = kept.select(
      col("url"),
      date_format(col("fday"), "yyyy-MM-dd").as("day"),
      lit("~").as("datetime"),
      lit(0L).as("c2xx"),
      lit(0L).as("c3xx"),
      lit(0L).as("c4xx"),
      lit(0L).as("c5xx"),
      value.as("specimen"),
      lit("~").as("digest"),
      lit(null).cast("double").as("chaos"),
      lit(null).cast("double").as("chaosn"),
      lit("Unknown").as("content"))

    observed.unionByName(filledRows)
  }

  /** G1, G5: whether the in-memory fill covers an interior gap of `gap`
    * days between observed specimens `spec` and `nspec` — the same
    * bound and `identical` rule as [[fill]].
    */
  def fillsGap(gap: Long, spec: String, nspec: String, fill: Int, policy: FillPolicy): Boolean =
    fill != 0 && gap > 0 && (fill == -1 || gap <= fill) &&
      (policy != FillPolicy.Identical || spec == nspec)

  /** G2-G4: the specimen of day `pos` (0-based) of a filled gap. */
  def fillValue(gap: Long, pos: Long, spec: String, nspec: String, policy: FillPolicy): String =
    policy match {
      case FillPolicy.Backward => nspec
      // first ceil(gap/2) days take the left value: pos < gap/2 with
      // float division (reference main.py:62-66)
      case FillPolicy.Closest => if (pos < gap / 2.0) spec else nspec
      case _                  => spec // Forward, Identical (spec == nspec)
    }

  /** G1-G5 as a pure in-memory function over ONE url's sorted observed
    * (day, specimen) list — the same semantics as [[fill]], stated by
    * [[fillsGap]] and [[fillValue]], the rule the per-url trend kernel
    * ([[graft.streaming.Streaming]]) fills with day by day. Returns the
    * generated interior (day, specimen) fill rows only.
    */
  def fillDays(
      observed: IndexedSeq[(String, String)],
      fill: Int,
      policy: FillPolicy): Seq[(String, String)] = {
    if (fill == 0) return Nil
    val out = Seq.newBuilder[(String, String)]
    var i = 0
    while (i < observed.length - 1) {
      val (d, spec) = observed(i)
      val (nd, nspec) = observed(i + 1)
      val ld = java.time.LocalDate.parse(d)
      val gap = java.time.temporal.ChronoUnit.DAYS.between(ld, java.time.LocalDate.parse(nd)) - 1
      if (fillsGap(gap, spec, nspec, fill, policy)) {
        var pos = 0L
        while (pos < gap) {
          out += ((ld.plusDays(pos + 1).toString, fillValue(gap, pos, spec, nspec, policy)))
          pos += 1
        }
      }
      i += 1
    }
    out.result()
  }

  /** J1: left-join a per-URL generated calendar [first observed day,
    * asOf] against the (observed ∪ filled) table; missing days default to
    * specimen "~" / content "Unknown" (reference main.py:199-201). Also
    * applies W3 chaos forward-fill (reference main.py:202-207) and the
    * computed `call` / `filled` columns (reference archive.py:22-49).
    *
    * Scale note: the calendar side is ≤ ~11k rows per URL generated from
    * a tiny per-URL aggregate, and the join key (url, day) matches the
    * daily table's natural partitioning.
    */
  def densify(filledDf: DataFrame, asOf: String): DataFrame = {
    val calendar = filledDf
      .groupBy("url")
      .agg(min("day").as("d0"))
      // Guard d0 <= asOf: Spark's `sequence` would generate a DESCENDING
      // range for d0 > asOf, whereas the reference's pd.date_range
      // (main.py:199) yields an empty calendar. Filter, don't reverse.
      .filter(to_date(col("d0")) <= to_date(lit(asOf)))
      .select(
        col("url"),
        explode(sequence(to_date(col("d0")), to_date(lit(asOf)))).as("dayd"))
      .select(col("url"), date_format(col("dayd"), "yyyy-MM-dd").as("day"))

    val joined = calendar
      .join(filledDf, Seq("url", "day"), "left")
      .select(
        col("url"),
        col("day"),
        coalesce(col("datetime"), lit("~")).as("datetime"),
        coalesce(col("c2xx"), lit(0L)).as("c2xx"),
        coalesce(col("c3xx"), lit(0L)).as("c3xx"),
        coalesce(col("c4xx"), lit(0L)).as("c4xx"),
        coalesce(col("c5xx"), lit(0L)).as("c5xx"),
        coalesce(col("specimen"), lit("~")).as("specimen"),
        coalesce(col("digest"), lit("~")).as("digest"),
        coalesce(col("content"), lit("Unknown")).as("content"),
        col("chaos"),
        col("chaosn"))

    // W3: unobserved/filled days inherit the previous observed day's
    // chaos values. Observed days always have chaos > 0 (the first
    // capture counts one transition), so NULL marks exactly the
    // gap/missing days (reference main.py:202-207).
    val wFfill = wDay.rowsBetween(Window.unboundedPreceding, 0)
    joined
      .withColumn("chaos", coalesce(last(col("chaos"), ignoreNulls = true).over(wFfill), lit(0.0)))
      .withColumn("chaosn", coalesce(last(col("chaosn"), ignoreNulls = true).over(wFfill), lit(0.0)))
      .withColumn("call", col("c2xx") + col("c3xx") + col("c4xx") + col("c5xx"))
      .withColumn("filled", col("specimen") =!= "~" && col("call") === 0)
  }
}
