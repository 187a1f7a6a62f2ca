package graft.streaming

import graft.model.{Capture, DimState, ScoredRow, SigParams, TrendQuery}
import graft.operators.GapFill
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, KeyValueGroupedDataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.{encoderFor, ExpressionEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import scala.reflect.runtime.universe.TypeTag

/** ST1: the per-url trend kernel and its stateful streams.
  *
  * The reference recomputes everything per run behind a 1h cache
  * (main.py:129,186); the streaming engine instead keys the capture
  * stream by url and holds the fused-pass loop state (main.py:131-142)
  * in `GroupState` — digest->status map, 1000-slot chaos ring buffer,
  * current-day accumulator — emitting a finalized [[DailyOut]] row
  * whenever a day closes, exactly like the reference's day flush
  * (main.py:153-159). The scored faces go on through gap fill, densify
  * and the sigmoid recurrence (main.py:193-227) day by day.
  *
  * THE core shared by every batch and streaming variant is one mutable
  * per-url kernel: [[DayFold]] (the daily fold) feeding [[DayScorer]]
  * (fill + densify + recurrence). [[graft.operators.Trend.run]],
  * [[runBatch]], [[runBatchScored]] and the four stream faces all run
  * it. The streams keep it in one binary state column per url (state
  * format [[TrendStateVersion]]): at each group boundary [[TrendCodec]]
  * loads the bytes straight into the kernel's mutable fields and stores
  * them back, so the checkpoint format is that codec's byte layout and
  * nothing else. [[migrateV1]] reads the nested case-class state of
  * format v1.
  *
  * Ordering contract (ST3): rows are sorted by (ts, seq) within each
  * micro-batch; cross-batch order must be non-decreasing (CDX pagination
  * guarantees it at the source). The watermarked faces relax this with a
  * hold-back buffer; the divergence window is documented in SURVEY §2.9.
  *
  * Scale: state per url is the bounded part (the 1000-slot ring at one
  * byte a slot, the open day, the recurrence) plus the digest map, which
  * grows with the distinct digests the url has ever shown, plus, on the
  * watermarked faces, the held-back captures; urls hash-partition across
  * executors, the same layout as the batch pipeline's groupBy(url).
  */
object Streaming {

  /** Route the checkpoints of the streams started on `spark` through
    * [[LocalCheckpointFiles]]: sets
    * `spark.sql.streaming.checkpointFileManagerClass` on this session,
    * and only when the key is unset, then returns `spark`. Every stream
    * face here and every `writeStream` graft starts calls it, so a local
    * checkpoint costs no child process per file; HDFS and object-store
    * checkpoints keep Spark's default manager. Nothing outside the
    * session changes (not the SparkContext's Hadoop configuration, not
    * `fs.file.impl`, not Hadoop's FileSystem cache). To opt out, set the
    * key yourself before building the stream, e.g. to Spark's
    * `org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager`;
    * a value already set is never replaced. A query picks the manager
    * up when it starts.
    */
  private[graft] def localCheckpoints(spark: SparkSession): SparkSession = {
    if (spark.conf.getOption(LocalCheckpointFiles.ManagerClassKey).isEmpty)
      spark.conf.set(LocalCheckpointFiles.ManagerClassKey, classOf[LocalCheckpointFiles].getName)
    spark
  }

  /** `enc` resolved and bound, for use as a stream's state encoder.
    * Every `flatMapGroupsWithState` / `mapGroupsWithState` here passes
    * its state encoder through this once, when the face (or the
    * near-dup rule) is built.
    *
    * Spark re-resolves the state encoder against each micro-batch's new
    * plan (`resolveAndBind` in the stateful operator's state manager).
    * On an unbound encoder that resolution numbers the lambda variables
    * of every collection in the state (e.g. `TtlState.members`) from a
    * JVM-global counter, so the generated state deserializer's
    * Java source differs on every batch, the codegen cache (keyed on
    * that source) misses, and one task per batch Janino-compiles it
    * while the others wait. A bound encoder has nothing left to
    * resolve: its deserializer, and so the generated source, is the
    * same on every batch and the cache serves it. Only the deserializer
    * is bound; the serializer, and with it the state schema and the
    * checkpoint bytes, is the same as the unbound encoder's.
    */
  private[graft] def stateEncoder[S](enc: Encoder[S]): Encoder[S] =
    encoderFor(enc).resolveAndBind()

  /** The four trend faces' state encoder: one binary column, bound once
    * (see stateEncoder); [[TrendCodec]] writes and reads the bytes.
    */
  private[graft] lazy val TrendStateEncoder: Encoder[Array[Byte]] = stateEncoder(Encoders.BINARY)

  /** Finalized per-day row (pre-scoring). */
  case class DailyOut(
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
      chaos: Double,
      chaosn: Double)

  val SWS = 1000

  /** P3 status classes by leading digit; interned so the fold's string
    * compares mostly hit the reference check.
    */
  private val StatusClass = Array("2xx", "3xx", "4xx", "5xx")

  /** Python-slice / SQL-substring tolerant slicing: out-of-range bounds
    * clamp to the string instead of throwing, so a junk short `ts` yields
    * a junk day string — the same tolerance as `Daily.enrich`'s SQL
    * substring and the reference's `ts[:4]` (main.py:146). Junk days
    * still refuse to SCORE (LocalDate.parse, like the reference's
    * pd.date_range) — the tolerance is about matching the daily table.
    */
  private def slice(s: String, from: Int, until: Int): String =
    s.substring(math.min(from, s.length), math.min(until, s.length))

  private[graft] def dayOf(ts: String): String =
    s"${slice(ts, 0, 4)}-${slice(ts, 4, 6)}-${slice(ts, 6, 8)}"

  /** `dayOf(ts) == day` without building the string: the day is `ts`'s
    * first `n = min(len, 8)` chars cut at 4 and 6 by "-", `n + 2` long.
    */
  private[graft] def sameDay(ts: String, day: String): Boolean = {
    val n = math.min(ts.length, 8)
    val a = math.min(n, 4)
    val b = math.min(n, 6)
    day.length == n + 2 &&
      day.regionMatches(0, ts, 0, a) && day.charAt(a) == '-' &&
      day.regionMatches(a + 1, ts, a, b - a) && day.charAt(b + 1) == '-' &&
      day.regionMatches(b + 2, ts, b, n - b)
  }

  private val ByTsSeq: java.util.Comparator[Capture] = (x: Capture, y: Capture) => {
    val c = x.ts.compareTo(y.ts)
    if (c != 0) c else java.lang.Long.compare(x.seq, y.seq)
  }

  /** The rows in (ts, seq) order — a stable sort, as the fold needs. */
  private def timeOrdered(rows: Iterator[Capture]): Array[Capture] = {
    val a = rows.toArray
    java.util.Arrays.sort(a, ByTsSeq)
    a
  }

  /** The daily fold (reference main.py:131-182) over one url's
    * time-ordered captures, in mutable form: digest -> class in a hash
    * map, the chaos ring in an array, the open day in primitive fields,
    * one day string per day. `onFlush` gets each day as it closes.
    */
  private final class DayFold(url: String, onFlush: DailyOut => Unit) {
    private val digestStatus = new java.util.HashMap[String, String]()
    private val sw = Array.fill(SWS)("~")
    private var pc = "~"
    private var ps = "~"
    private var rs = 0L
    private var us = 0L
    private var uw = 0L
    // the open day (reference `dr` + `cp`); `day == null` when none is open
    private var day: String = null
    private var datetime = "~"
    private var c2xx = 0L
    private var c3xx = 0L
    private var c4xx = 0L
    private var c5xx = 0L
    private var specimen = "~"
    private var digest = "~"
    private var content = "Unknown"
    private var cp = -1

    /** Write the fold's state, the layout [[load]] reads: a string table
      * of the classes in the ring and the digest map, the ring as one
      * table index per slot (a byte while the table has at most 256
      * entries, else a varint), the counters, the digest map in digest
      * order with its classes as table indices, then the open day, if
      * any. Equal states write equal bytes, whatever order the map grew
      * in.
      */
    def store(out: StateOut): Unit = {
      val table = new java.util.HashMap[String, Integer]()
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      def index(c: String): Int = {
        val i = table.putIfAbsent(c, names.length)
        if (i == null) { names += c; names.length - 1 } else i
      }
      val ring = new Array[Int](SWS)
      var i = 0
      while (i < SWS) {
        // the ring runs in long stretches of one class
        ring(i) = if (i > 0 && (sw(i) eq sw(i - 1))) ring(i - 1) else index(sw(i))
        i += 1
      }
      val keys = digestStatus.keySet.toArray(new Array[String](0))
      java.util.Arrays.sort(keys, java.util.Comparator.naturalOrder[String]())
      val classes = keys.map(k => index(digestStatus.get(k)))

      out.varint(names.length)
      names.foreach(out.string)
      val narrow = names.length <= 256
      ring.foreach(c => if (narrow) out.byte(c) else out.varint(c))
      out.string(pc); out.string(ps); out.long(rs); out.long(us); out.long(uw)
      out.varint(keys.length)
      i = 0
      while (i < keys.length) { out.string(keys(i)); out.varint(classes(i)); i += 1 }
      out.flag(day != null)
      if (day != null) {
        out.string(day); out.string(datetime)
        out.long(c2xx); out.long(c3xx); out.long(c4xx); out.long(c5xx)
        out.string(specimen); out.string(digest); out.string(content); out.varint(cp + 1)
      }
    }

    /** Read what [[store]] wrote into a fresh fold. */
    def load(in: StateIn): Unit = {
      val names = Array.fill(in.varint())(internClass(in.string()))
      def name(i: Int): String =
        if (i < names.length) names(i) else throw in.corrupt(s"class index $i past a table of ${names.length}")
      val narrow = names.length <= 256
      var i = 0
      while (i < SWS) { sw(i) = name(if (narrow) in.byte() else in.varint()); i += 1 }
      pc = in.string(); ps = internClass(in.string()); rs = in.long(); us = in.long(); uw = in.long()
      i = in.varint()
      while (i > 0) { digestStatus.put(in.string(), name(in.varint())); i -= 1 }
      if (in.flag()) {
        day = in.string(); datetime = in.string()
        c2xx = in.long(); c3xx = in.long(); c4xx = in.long(); c5xx = in.long()
        specimen = internClass(in.string()); digest = in.string(); content = in.string(); cp = in.varint() - 1
      }
    }

    /** Load a format-v1 `UrlState` row (see [[migrateV1]]). */
    def loadV1(core: Row): Unit = {
      core.getAs[scala.collection.Map[String, String]]("digestStatus").foreach { case (k, v) =>
        digestStatus.put(k, v)
      }
      core.getAs[scala.collection.Seq[String]]("sw").copyToArray(sw)
      pc = core.getAs[String]("pc"); ps = core.getAs[String]("ps")
      rs = core.getAs[Long]("rs"); us = core.getAs[Long]("us"); uw = core.getAs[Long]("uw")
      Option(core.getAs[Row]("acc")).foreach { a =>
        day = a.getAs[String]("day"); datetime = a.getAs[String]("datetime")
        c2xx = a.getAs[Long]("c2xx"); c3xx = a.getAs[Long]("c3xx")
        c4xx = a.getAs[Long]("c4xx"); c5xx = a.getAs[Long]("c5xx")
        specimen = a.getAs[String]("specimen"); digest = a.getAs[String]("digest")
        content = a.getAs[String]("content"); cp = a.getAs[Int]("cp")
      }
    }

    def addAll(caps: Array[Capture]): this.type = {
      caps.foreach(add)
      this
    }

    /** One capture through the fused pass. */
    def add(c: Capture): Unit = {
      val cls =
        if ("200" <= c.status && c.status <= "599") StatusClass(c.status.charAt(0) - '2')
        else c.status
      val s =
        if (cls == "-") digestStatus.getOrDefault(c.digest, "~")
        else { digestStatus.put(c.digest, cls); cls }

      // day flush (reference main.py:153-159)
      if (day == null || !sameDay(c.ts, day)) {
        if (day != null) { close(); pc = digest }
        day = dayOf(c.ts); datetime = "~"
        c2xx = 0; c3xx = 0; c4xx = 0; c5xx = 0
        specimen = "~"; digest = "~"; content = "Unknown"; cp = -1
      }

      val pr = s match {
        case "2xx" => c2xx += 1; 4
        case "3xx" => c3xx += 1; 1
        case "4xx" => c4xx += 1; 3
        case "5xx" => c5xx += 1; 2
        case _     => 0
      }
      if (pr > cp) {
        val d8 = c.digest.substring(0, math.min(8, c.digest.length))
        specimen = s; datetime = c.ts; digest = d8
        content = if (d8 == pc) "Unchanged" else "Changed"
        cp = pr
      }

      // chaos counters + ring buffer (reference main.py:170-181)
      val wp = (rs % SWS).toInt
      rs += 1
      if (s != ps) { ps = s; us += 1; uw += 1 }
      if (sw(wp) != sw((wp + 1) % SWS)) uw -= 1
      sw(wp) = s
    }

    /** Emit the open day as closed — a day flush, or the batch faces'
      * end of input. The day stays open in [[state]].
      */
    def close(): Unit =
      if (day != null)
        onFlush(DailyOut(url, day, datetime, c2xx, c3xx, c4xx, c5xx,
          specimen, digest, content, us.toDouble / rs, uw.toDouble / math.min(SWS, rs)))
  }

  /** Gap fill (G1-G6), densify (J1) and the sigmoid recurrence over one
    * url's closed days, one day at a time (reference main.py:193-227):
    * each closed day first scores the interior gap days since the
    * previous one — filled per [[GapFill.fillsGap]] / [[GapFill.fillValue]],
    * unfilled days densify to "~", chaos inherits the previous observed
    * day (main.py:199-207) — then the day itself. The recurrence is
    * forward-only, so a closed prefix never changes and the emitted rows
    * are exactly the batch scored table's rows for those days.
    *
    * Days AFTER `query.asOf` neither emit nor advance the recurrence:
    * the batch calendar ends at asOf (reference main.py:199). The fill
    * endpoints still track the real observed days (the last day may
    * exceed asOf) so gap arithmetic stays correct.
    *
    * Junk days (unparseable as ISO dates — possible because the daily
    * fold deliberately tolerates junk timestamps) are SKIPPED without
    * touching the recurrence state: they exist in the daily stream but
    * have no calendar position to score. Storing one in `lastDay` would
    * poison the checkpoint. Same drop rule as the staged scorer
    * ([[graft.operators.Score]]).
    *
    * The state carried between closed days is the two sigmoid dimensions
    * plus the last scored day's (day, specimen, chaos): all the scorer
    * needs to fill and score the next span.
    */
  private final class DayScorer(url: String, query: TrendQuery) {
    private val asOf = java.time.LocalDate.parse(query.asOf).toEpochDay
    private def p(key: String, dflt: String): SigParams =
      query.params.getOrElse(key, query.params(dflt))

    private var res = DimState.resilienceInit
    private var fix = DimState.fixityInit
    // the last scored closed day; `lastDay == null` before the first
    private var lastDay: String = null
    private var last = 0L
    private var lastSpec = "~"
    private var chaos = 0.0
    private var chaosn = 0.0

    val out = scala.collection.mutable.ArrayBuffer.empty[ScoredRow]

    /** Write the recurrence state, if a day has been scored, the layout
      * [[load]] reads: the two dimensions, then the last day as its
      * string and its epoch day, its specimen and chaos pair.
      */
    def store(out: StateOut): Unit = {
      out.flag(lastDay != null)
      if (lastDay != null) {
        def dim(d: DimState): Unit = {
          out.string(d.prev); out.double(d.base); out.double(d.scale); out.double(d.h); out.long(d.x)
        }
        dim(res); dim(fix)
        out.string(lastDay); out.long(last); out.string(lastSpec); out.double(chaos); out.double(chaosn)
      }
    }

    /** Read what [[store]] wrote into a fresh scorer. */
    def load(in: StateIn): Unit =
      if (in.flag()) {
        def dim() = DimState(internClass(in.string()), in.double(), in.double(), in.double(), in.long())
        res = dim(); fix = dim()
        lastDay = in.string(); last = in.long(); lastSpec = internClass(in.string())
        chaos = in.double(); chaosn = in.double()
      }

    /** Load a format-v1 `ScoreCore` row (see [[migrateV1]]). */
    def loadV1(score: Row): Unit = {
      def dim(r: Row) = DimState(r.getAs[String]("prev"), r.getAs[Double]("base"),
        r.getAs[Double]("scale"), r.getAs[Double]("h"), r.getAs[Long]("x"))
      res = dim(score.getAs[Row]("res")); fix = dim(score.getAs[Row]("fix"))
      lastDay = score.getAs[String]("lastDay")
      last = java.time.LocalDate.parse(lastDay).toEpochDay
      lastSpec = score.getAs[String]("lastSpec")
      chaos = score.getAs[Double]("chaos"); chaosn = score.getAs[Double]("chaosn")
    }

    /** A day with no captures: a fill day (`spec` from the policy) or a
      * densified one (`spec` "~").
      */
    private def blank(e: Long, spec: String): Unit = {
      res = res.step(spec, p(spec, "~"))
      fix = fix.step("Unknown", p("Unknown", "Unknown"))
      out += ScoredRow(url, java.time.LocalDate.ofEpochDay(e).toString, "~", 0, 0, 0, 0, 0,
        spec, spec != "~", res.h, "~", "Unknown", fix.h, chaos, chaosn)
    }

    def day(d: DailyOut): Unit = graft.operators.Score.parseDay(d.day).foreach { ld =>
      val e = ld.toEpochDay
      if (lastDay != null) {
        val gap = e - last - 1
        if (gap > 0) {
          val filled = GapFill.fillsGap(gap, lastSpec, d.specimen, query.fill, query.policy)
          val end = math.min(e - 1, asOf)
          var g = last + 1
          while (g <= end) {
            blank(g,
              if (filled) GapFill.fillValue(gap, g - last - 1, lastSpec, d.specimen, query.policy)
              else "~")
            g += 1
          }
        }
      }
      if (e <= asOf) {
        res = res.step(d.specimen, p(d.specimen, "~"))
        fix = fix.step(d.content, p(d.content, "Unknown"))
        val call = d.c2xx + d.c3xx + d.c4xx + d.c5xx
        out += ScoredRow(url, d.day, d.datetime, d.c2xx, d.c3xx, d.c4xx, d.c5xx, call,
          d.specimen, d.specimen != "~" && call == 0, res.h, d.digest, d.content,
          fix.h, d.chaos, d.chaosn)
      }
      lastDay = d.day; last = e; lastSpec = d.specimen; chaos = d.chaos; chaosn = d.chaosn
    }

    /** Densify past the last closed day to asOf (J1's calendar tail). */
    def densifyToAsOf(): Unit =
      if (lastDay != null) {
        var g = last + 1
        while (g <= asOf) { blank(g, "~"); g += 1 }
      }
  }

  /** One url's bounded capture set through the whole kernel: daily fold,
    * final flush, then scoring — densified to `query.asOf` when `tail`,
    * else ending at the last observed day.
    */
  private[graft] def scoreCaptures(
      url: String,
      rows: Iterator[Capture],
      query: TrendQuery,
      tail: Boolean): Iterator[ScoredRow] = {
    val scorer = new DayScorer(url, query)
    new DayFold(url, scorer.day).addAll(timeOrdered(rows)).close()
    if (tail) scorer.densifyToAsOf()
    scorer.out.iterator
  }

  /** Run the streaming fold over one url's bounded capture set and
    * close the final day — the batch harness for the streaming code
    * path, giving it an oracle-checkable correctness row identical to
    * the batch daily table.
    */
  def runBatch(url: String, rows: Iterator[Capture]): Iterator[DailyOut] = {
    val out = Vector.newBuilder[DailyOut]
    new DayFold(url, out += _).addAll(timeOrdered(rows)).close()
    out.result().iterator
  }

  /** The scored stream's kernel over one url's bounded capture set with a
    * final flush — the batch harness giving the incremental scorer an
    * oracle-checkable row set: the scored table restricted to days no
    * later than each url's last observed day and `query.asOf` (the
    * stream's closed prefix after the last day flushes).
    */
  def runBatchScored(
      url: String,
      rows: Iterator[Capture],
      query: TrendQuery): Iterator[ScoredRow] =
    scoreCaptures(url, rows, query, tail = false)

  // ------------------------------------------------- trend state format
  /** The trend faces' state format. v1 was the encoding of nested case
    * classes (`UrlState`, `LateState`, `ScoredState`, `ScoredLateState`),
    * which Spark turned into a generated (de)serializer over maps,
    * arrays and options in every task; v2 is one binary column written
    * by [[TrendCodec]]. A v2 face refuses a v1 checkpoint at start, in
    * Spark's state schema check; [[migrateV1]] carries v1 state over.
    */
  val TrendStateVersion = 2

  /** A growable byte buffer the trend codec writes into: big-endian
    * longs and doubles (raw bits), unsigned varints, strings as a varint
    * of (UTF-8 length + 1) with 0 for null.
    */
  private[streaming] final class StateOut {
    private var buf = new Array[Byte](4096)
    private var n = 0
    private def room(k: Int): Unit =
      if (n + k > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(2 * buf.length, n + k))
    def byte(b: Int): Unit = { room(1); buf(n) = b.toByte; n += 1 }
    def flag(b: Boolean): Unit = byte(if (b) 1 else 0)
    def varint(v: Int): Unit = {
      var x = v
      while ((x & ~0x7f) != 0) { byte((x & 0x7f) | 0x80); x >>>= 7 }
      byte(x)
    }
    def long(v: Long): Unit = {
      room(8)
      var i = 0
      while (i < 8) { buf(n + i) = (v >>> (56 - 8 * i)).toByte; i += 1 }
      n += 8
    }
    def double(d: Double): Unit = long(java.lang.Double.doubleToRawLongBits(d))
    def string(s: String): Unit =
      if (s == null) varint(0)
      else {
        val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        varint(b.length + 1)
        room(b.length)
        System.arraycopy(b, 0, buf, n, b.length)
        n += b.length
      }
    def result: Array[Byte] = java.util.Arrays.copyOf(buf, n)
  }

  /** Reads what [[StateOut]] wrote, past the version byte; a read past
    * the end or a malformed field is refused with the format version
    * named, never decoded into a wrong state.
    */
  private[streaming] final class StateIn(buf: Array[Byte]) {
    private var i = 1
    def corrupt(what: String): IllegalStateException =
      new IllegalStateException(
        s"trend stream state (format v$TrendStateVersion, ${buf.length} bytes) is corrupt: $what")
    private def need(k: Int): Unit =
      if (k < 0 || k > buf.length - i) throw corrupt(s"truncated at byte $i")
    def byte(): Int = { need(1); val b = buf(i) & 0xff; i += 1; b }
    def flag(): Boolean = byte() match {
      case 0 => false
      case 1 => true
      case b => throw corrupt(s"flag byte $b at byte ${i - 1}")
    }
    def varint(): Int = {
      var v = 0L
      var shift = 0
      var b = 0x80
      while ((b & 0x80) != 0) {
        if (shift > 28) throw corrupt(s"varint too long at byte $i")
        b = byte()
        v |= (b & 0x7fL) << shift
        shift += 7
      }
      if (v > Int.MaxValue) throw corrupt(s"varint out of range before byte $i")
      v.toInt
    }
    def long(): Long = {
      need(8)
      var v = 0L
      var k = 0
      while (k < 8) { v = (v << 8) | (buf(i + k) & 0xffL); k += 1 }
      i += 8
      v
    }
    def double(): Double = java.lang.Double.longBitsToDouble(long())
    def string(): String = {
      val n = varint() - 1
      if (n < 0) null
      else {
        need(n)
        val s = new String(buf, i, n, java.nio.charset.StandardCharsets.UTF_8)
        i += n
        s
      }
    }
    def end(): Unit = if (i != buf.length) throw corrupt(s"${buf.length - i} trailing bytes")
  }

  /** The ring's and the open day's status classes as the fold's own
    * constants, so its string compares keep hitting the reference check.
    */
  private def internClass(c: String): String = {
    val k = StatusClass.indexOf(c)
    if (k >= 0) StatusClass(k) else if (c == "~") "~" else c
  }

  /** The v2 state of one url: the version byte, the fold
    * ([[DayFold.store]]), the recurrence ([[DayScorer.store]], a 0 flag
    * on the daily faces), then the held-back captures without their url
    * (the group key), a count of 0 on the unwatermarked faces.
    */
  private object TrendCodec {
    def store(fold: DayFold, scorer: DayScorer, pending: Seq[Capture]): Array[Byte] = {
      val out = new StateOut
      out.byte(TrendStateVersion)
      fold.store(out)
      if (scorer == null) out.flag(false) else scorer.store(out)
      out.varint(pending.length)
      pending.foreach { c => out.string(c.ts); out.string(c.status); out.string(c.digest); out.long(c.seq) }
      out.result
    }

    /** Load `bytes` into a fresh `fold` and `scorer` (null on the daily
      * faces) and return the held-back captures.
      */
    def load(url: String, bytes: Array[Byte], fold: DayFold, scorer: DayScorer): Array[Capture] = {
      if (bytes.isEmpty)
        throw new IllegalStateException(s"trend stream state (format v$TrendStateVersion) is empty")
      if (bytes(0) != TrendStateVersion)
        throw new IllegalStateException(
          s"trend stream state has format v${bytes(0) & 0xff}, but this build reads " +
            s"v$TrendStateVersion; a v1 checkpoint carries over through Streaming.migrateV1")
      val in = new StateIn(bytes)
      fold.load(in)
      if (scorer != null) scorer.load(in)
      else if (in.flag()) throw in.corrupt("a daily face holds a scored face's recurrence")
      val pending = Array.fill(in.varint())(Capture(url, in.string(), in.string(), in.string(), in.long()))
      in.end()
      pending
    }
  }

  private val NoCaptures = Array.empty[Capture]

  /** Load the group's state, if any, into `fold` and `scorer`; the
    * held-back captures it carried.
    */
  private def restore(url: String, state: GroupState[Array[Byte]], fold: DayFold, scorer: DayScorer): Array[Capture] =
    if (state.exists) TrendCodec.load(url, state.get, fold, scorer) else NoCaptures

  /** Run `step` as a trend face's stateful stage, started from
    * `initialState` when given (see [[migrateV1]]).
    */
  private def trendFace[V, U](
      grouped: KeyValueGroupedDataset[String, V],
      initialState: Option[KeyValueGroupedDataset[String, Array[Byte]]],
      out: Encoder[U])(
      step: (String, Iterator[V], GroupState[Array[Byte]]) => Iterator[U]): Dataset[U] =
    initialState match {
      case None =>
        grouped.flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(step)(
          TrendStateEncoder, out)
      case Some(init) =>
        grouped.flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout(), init)(step)(
          TrendStateEncoder, out)
    }

  /** The state of a format-v1 trend-face checkpoint, one row per url:
    * `url` and `state`, the face's v1 state struct, read with Spark's
    * state data source.
    */
  private[graft] def v1States(spark: SparkSession, checkpoint: String): DataFrame = {
    // the state reader reports to the session's state store coordinator,
    // which the session's streaming query manager sets up
    spark.streams
    spark.read.format("statestore").load(checkpoint)
      .select(col("key.value").as("url"), col("value.groupState").as("state"))
  }

  /** Carry a format-v1 trend-face checkpoint over to v2: its state, per
    * url, re-encoded for a v2 face's `initialState`.
    *
    * Start the same face on a NEW checkpoint location from it, and feed
    * it the captures after the ones the old query's last committed
    * batch processed (the state read is that batch's), e.g.
    * `Streaming.scoredStream(captures, query, Some(Streaming.migrateV1(spark, oldCheckpoint)))`.
    * Spark uses an initial state only when the query starts with no
    * checkpointed state of its own. Read any v1 face's checkpoint: its
    * fold, recurrence and hold-back buffer move over as they are, so the
    * v2 face emits what the v1 face would have.
    */
  def migrateV1(spark: SparkSession, checkpoint: String): KeyValueGroupedDataset[String, Array[Byte]] = {
    import spark.implicits._
    val v1 = v1States(spark, checkpoint)
    val fields = v1.schema("state").dataType match {
      case t: org.apache.spark.sql.types.StructType => t.fieldNames.toSet
      case _ => Set.empty[String]
    }
    if (!fields("sw") && !fields("core"))
      throw new IllegalArgumentException(
        s"$checkpoint does not hold trend-face state of format v1 (state schema ${v1.schema("state").dataType.simpleString})")
    v1.map { r =>
      val url = r.getString(0)
      val st = r.getStruct(1)
      val fold = new DayFold(url, _ => ())
      fold.loadV1(if (fields("core")) st.getAs[Row]("core") else st)
      val scorer = Option(if (fields("score")) st.getAs[Row]("score") else null).map { s =>
        // only the recurrence fields are stored; the query plays no part
        val d = new DayScorer(url, TrendQuery())
        d.loadV1(s)
        d
      }
      val pending = if (fields("pending")) st.getAs[scala.collection.Seq[Row]]("pending").map(c =>
        Capture(url, c.getAs[String]("ts"), c.getAs[String]("status"), c.getAs[String]("digest"), c.getAs[Long]("seq")))
      else Nil
      (url, TrendCodec.store(fold, scorer.orNull, pending.toSeq))
    }.groupByKey(_._1).mapValues(_._2)
  }

  /** flatMapGroupsWithState body: fold the batch's (sorted) captures
    * through the loop state, emit closed days.
    */
  def processGroup(
      url: String,
      rows: Iterator[Capture],
      state: GroupState[Array[Byte]]): Iterator[DailyOut] = {
    val out = Vector.newBuilder[DailyOut]
    val fold = new DayFold(url, out += _)
    val held = restore(url, state, fold, null)
    state.update(TrendCodec.store(fold.addAll(timeOrdered(held.iterator ++ rows)), null, Nil))
    out.result().iterator
  }

  /** Wire a capture stream into the incremental daily table; started
    * from `initialState` when given (see [[migrateV1]]).
    */
  def dailyStream(
      captures: Dataset[Capture],
      initialState: Option[KeyValueGroupedDataset[String, Array[Byte]]] = None): Dataset[DailyOut] = {
    val spark = localCheckpoints(captures.sparkSession)
    import spark.implicits._
    trendFace(captures.groupByKey(_.url), initialState, Encoders.product[DailyOut])(processGroup)
  }

  /** Parse ts in the SAME zone `try_to_timestamp` used to derive the
    * watermark column (the session timezone) — a hard-coded UTC here
    * would release rows up to a zone-offset early on non-UTC sessions,
    * letting in-bound stragglers corrupt the order-sensitive fold.
    */
  private[streaming] def tsMillis(ts: String, zone: java.time.ZoneId): Long =
    java.time.LocalDateTime.parse(ts, TsFormat).atZone(zone).toInstant.toEpochMilli

  /** The capture `ts` format; immutable and thread-safe, so built once. */
  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyyMMddHHmmss")

  /** Split (pending ∪ batch) into the watermark-released prefix and the
    * new hold-back buffer. STRICT <: Spark's late-data filter keeps rows
    * with event time >= watermark, so a row at exactly the watermark can
    * still arrive in a later batch — folding its equal-timestamp peers
    * now would break (ts, seq) order.
    */
  private def release(
      pending: Array[Capture],
      batch: Iterator[Capture],
      zone: java.time.ZoneId,
      wm: Long): (Array[Capture], Array[Capture]) =
    timeOrdered(pending.iterator ++ batch).partition(c => tsMillis(c.ts, zone) < wm)

  /** ST3: late/out-of-order tolerant variant. Incoming rows are held in
    * a per-url buffer and only folded through the (order-sensitive) loop
    * once the event-time watermark has passed them — any row arriving
    * within the lateness bound lands in its correct stream position;
    * rows later than the bound are dropped by the watermark upstream.
    * This defines the semantics the reference leaves undefined (its
    * algorithm silently corrupts on unsorted input, SURVEY §2.9 ST3).
    */
  def processGroupLate(zone: java.time.ZoneId)(
      url: String,
      rows: Iterator[Capture],
      state: GroupState[Array[Byte]]): Iterator[DailyOut] = {
    val out = Vector.newBuilder[DailyOut]
    val fold = new DayFold(url, out += _)
    val (ready, hold) = release(restore(url, state, fold, null), rows, zone, state.getCurrentWatermarkMs())
    state.update(TrendCodec.store(fold.addAll(ready), null, hold))
    out.result().iterator
  }

  /** The watermark scaffold shared by both late-data variants: resolve
    * the session zone (the hold-back predicate MUST use the same zone
    * `try_to_timestamp` derives event time in — see [[tsMillis]]) and
    * attach the watermark. Rows whose `ts` does not parse as
    * `yyyyMMddHHmmss` have no event time, so they are dropped before the
    * stateful stage (a strict `to_timestamp` would end the query under
    * ANSI mode instead). Keeping this in one place keeps the zone and
    * event-time contract in one place.
    */
  private def withEventTimeWatermark(
      captures: Dataset[Capture],
      lateness: String): (java.time.ZoneId, Dataset[CaptureWithTime]) = {
    val spark = captures.sparkSession
    import spark.implicits._
    val zone = java.time.ZoneId.of(
      spark.conf.get("spark.sql.session.timeZone", java.util.TimeZone.getDefault.getID))
    val ds = captures
      .withColumn("event_time", try_to_timestamp(col("ts"), lit("yyyyMMddHHmmss")))
      .filter(col("event_time").isNotNull)
      .withWatermark("event_time", lateness)
      .as[CaptureWithTime]
    (zone, ds)
  }

  /** Watermarked stream: tolerate up to `lateness` of event-time
    * disorder. The watermark both bounds the hold-back buffer and drops
    * too-late rows before they can corrupt the order-sensitive fold.
    * Rows with an unparseable `ts` are dropped (see
    * [[withEventTimeWatermark]]), so their junk days never appear here.
    */
  def dailyStreamWatermarked(
      captures: Dataset[Capture],
      lateness: String,
      initialState: Option[KeyValueGroupedDataset[String, Array[Byte]]] = None): Dataset[DailyOut] = {
    val spark = localCheckpoints(captures.sparkSession)
    import spark.implicits._
    val (zone, ds) = withEventTimeWatermark(captures, lateness)
    val process = processGroupLate(zone) _
    trendFace(ds.groupByKey(_.url), initialState, Encoders.product[DailyOut]) {
      (url: String, rows: Iterator[CaptureWithTime], state: GroupState[Array[Byte]]) =>
        process(url, rows.map(_.toCapture), state)
    }
  }

  case class CaptureWithTime(
      url: String,
      ts: String,
      status: String,
      digest: String,
      seq: Long,
      event_time: java.sql.Timestamp) {
    def toCapture: Capture = Capture(url, ts, status, digest, seq)
  }

  // ------------------------------------------------------------ ST1 full
  /** ST1 in full: captures stream in, SCORED daily rows stream out — the
    * whole reference pipeline (daily fold + gap fill + densify + sigmoid
    * recurrence) as one stateful stage. A day's scores emit the moment
    * the day closes; the batch pipeline over the same captures produces
    * an identical prefix (see StreamingSpec), so consumers can switch
    * between the two freely. Same ordering contract as [[dailyStream]];
    * started from `initialState` when given (see [[migrateV1]]).
    */
  def scoredStream(
      captures: Dataset[Capture],
      query: TrendQuery,
      initialState: Option[KeyValueGroupedDataset[String, Array[Byte]]] = None): Dataset[ScoredRow] = {
    val spark = localCheckpoints(captures.sparkSession)
    import spark.implicits._
    trendFace(captures.groupByKey(_.url), initialState, Encoders.product[ScoredRow])(scoredStep(query))
  }

  /** [[scoredStream]]'s group function: fold the batch's (sorted)
    * captures through the daily fold and the scorer, emit scored closed
    * days.
    */
  private[graft] def scoredStep(query: TrendQuery)(
      url: String,
      rows: Iterator[Capture],
      state: GroupState[Array[Byte]]): Iterator[ScoredRow] = {
    val scorer = new DayScorer(url, query)
    val fold = new DayFold(url, scorer.day)
    val held = restore(url, state, fold, scorer)
    state.update(TrendCodec.store(fold.addAll(timeOrdered(held.iterator ++ rows)), scorer, Nil))
    scorer.out.iterator
  }

  /** ST1 + ST3 combined: the full incremental pipeline under an
    * event-time watermark. Rows within the lateness bound are buffered
    * per url and folded in correct (ts, seq) position once the watermark
    * passes them; rows beyond the bound, and rows with an unparseable
    * `ts`, are dropped upstream — the same hold-back contract as
    * [[dailyStreamWatermarked]], extended through scoring.
    */
  def scoredStreamWatermarked(
      captures: Dataset[Capture],
      query: TrendQuery,
      lateness: String,
      initialState: Option[KeyValueGroupedDataset[String, Array[Byte]]] = None): Dataset[ScoredRow] = {
    val spark = localCheckpoints(captures.sparkSession)
    import spark.implicits._
    val (zone, ds) = withEventTimeWatermark(captures, lateness)
    val step = scoredLateStep(query, zone) _
    trendFace(ds.groupByKey(_.url), initialState, Encoders.product[ScoredRow]) {
      (url: String, rows: Iterator[CaptureWithTime], state: GroupState[Array[Byte]]) =>
        step(url, rows.map(_.toCapture), state)
    }
  }

  /** [[scoredStreamWatermarked]]'s group function: release what the
    * watermark has passed from the hold-back buffer and the batch, fold
    * it through the daily fold and the scorer, emit scored closed days.
    */
  private[graft] def scoredLateStep(query: TrendQuery, zone: java.time.ZoneId)(
      url: String,
      rows: Iterator[Capture],
      state: GroupState[Array[Byte]]): Iterator[ScoredRow] = {
    val scorer = new DayScorer(url, query)
    val fold = new DayFold(url, scorer.day)
    val (ready, hold) = release(restore(url, state, fold, scorer), rows, zone, state.getCurrentWatermarkMs())
    state.update(TrendCodec.store(fold.addAll(ready), scorer, hold))
    scorer.out.iterator
  }

  /** ST2 as a true stream: event-time tumbling 1-day windows with a
    * watermark (the batch analog is Queries.eventDailyWindows — same
    * output shape). Append mode emits a window only once the watermark
    * passes its end, so every emitted row is final — a windowed
    * aggregation needs no custom state at all, exactly why it stays a
    * declarative groupBy(window(...)) and not flatMapGroupsWithState.
    * Input: (ts TIMESTAMP, event_type STRING, value DOUBLE).
    *
    * Day-bucket contract: `window()` aligns to the epoch (UTC), while
    * the batch analog's `date_trunc` follows the session timezone — the
    * two agree under a UTC session, which is the engine default (set in
    * every entry point); non-UTC sessions shift which wall-clock day an
    * event lands in.
    */
  def eventDailyWindowStream(
      events: org.apache.spark.sql.DataFrame,
      lateness: String): org.apache.spark.sql.DataFrame = {
    localCheckpoints(events.sparkSession)
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"), col("sum_value"))
  }

  // ----------------------------------------------------- streaming dedup
  /** (doc_id, content-hash) pair entering the dedup stream. */
  case class DocKeyed(doc_id: Long, h: String)

  /** Dedup verdict: `canonical` is the hash group's keeper. */
  case class DedupOut(doc_id: Long, h: String, canonical: Long, is_dup: Boolean)

  /** The per-hash dedup fold shared by the stream and its batch
    * harness: the first arrival claims the hash, everything after is a
    * duplicate. `prior` is the already-claimed canonical, if any.
    */
  private def dedupFold(rows: Iterator[DocKeyed], prior: Option[Long]): (Long, Vector[DedupOut]) = {
    val sorted = rows.toSeq.sortBy(_.doc_id)
    val canonical = prior.getOrElse(sorted.head.doc_id)
    (canonical, sorted.iterator.map(d =>
      DedupOut(d.doc_id, d.h, canonical, d.doc_id != canonical)).toVector)
  }

  /** Streaming exact dedup — the ingest-pipeline stage that drops
    * already-seen content as documents arrive: stream keyed by
    * `md5(text)`, first-seen doc claims the hash, later arrivals emit
    * as duplicates of it. State per hash is ONE long (the canonical
    * id), hash-partitioned across executors — the smallest possible
    * state for exact dedup, and the reason this scales to an unbounded
    * crawl where a batch groupBy cannot even start until the scan ends.
    *
    * Ordering: within a micro-batch, rows fold in doc_id order (so a
    * batch containing a whole group picks the same canonical as the
    * batch operator [[graft.operators.Dedup.exact]]); across batches,
    * first-ARRIVAL wins — the streaming-native semantics, since a
    * stream cannot know a smaller id arrives tomorrow. The batch
    * harness [[runBatchDedup]] closes over a bounded input, where the
    * two definitions coincide.
    */
  def dedupStream(docs: org.apache.spark.sql.DataFrame): Dataset[DedupOut] = {
    val spark = localCheckpoints(docs.sparkSession)
    import spark.implicits._
    docs.select(col("doc_id"), md5(col("text")).as("h")).as[DocKeyed]
      .groupByKey(_.h)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (h: String, rows: Iterator[DocKeyed], state: GroupState[Long]) =>
          val (canonical, out) = dedupFold(rows, state.getOption)
          state.update(canonical)
          out.iterator
      }(CanonicalEncoder, Encoders.product[DedupOut])
  }

  /** The state of [[dedupStream]] and [[keepStream]], one canonical id
    * per hash, bound once (see [[stateEncoder]]).
    */
  private lazy val CanonicalEncoder: Encoder[Long] = stateEncoder(Encoders.scalaLong)

  /** Ingest-time dedup against the PERSISTED corpus: each arriving
    * document's fingerprint probes the bucketed base table AND its
    * delta segments ([[graft.sinks.Sinks.appendDedupDelta]]) via a
    * stream-static join — the production front door of incremental
    * dedup, where "have we ever crawled this?" must answer against
    * the full historical corpus, not just this stream's state
    * ([[dedupStream]] covers the within-stream face; compose both
    * for the complete ingest verdict).
    *
    * Scale shape: the stream side is batch-sized per trigger and
    * hashes into the static side's bucketing (the base never
    * re-shuffles); the segment probe is a broadcast of
    * batch-sized fingerprints. Crash states of an interrupted
    * compaction read correctly ([[graft.sinks.Sinks.dedupBaseState]]).
    *
    * OPERATIONAL CONTRACT — the base view is resolved ONCE at stream
    * start: a [[graft.sinks.Sinks.compactDedupBase]] (or a writer's
    * crash repair) that runs while this stream is live renames/drops
    * the resolved base and segment tables out from under the running
    * plan, failing subsequent micro-batches. Run compactions between
    * ingest sessions, exactly the
    * [[graft.sinks.Sinks.appendAnnIndex]] discipline; construction
    * fails fast with a named error when the base is already missing
    * (rather than an opaque mid-stream AnalysisException), and a
    * mid-stream disappearance surfaces as the micro-batch error
    * naming the vanished table.
    *
    * The expression tree is input-agnostic: over a bounded batch frame
    * it IS the dup_of_base face of
    * [[graft.operators.Dedup.incrementalDedupStored]] (spec-pinned),
    * which is what gives the stream an oracle-checkable twin.
    */
  def dedupStoredStream(
      docs: org.apache.spark.sql.DataFrame, table: String): org.apache.spark.sql.DataFrame = {
    val spark = localCheckpoints(docs.sparkSession)
    val (baseTable, _) = graft.sinks.Sinks.dedupBaseState(spark, table)
    val baseFps = spark.table(baseTable)
      .select("fp").distinct().withColumn("in_base", lit(true))
    val probed = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      .join(baseFps, Seq("fp"), "left")
    val withSeg = graft.sinks.Sinks.dedupSegmentFps(spark, table) match {
      case Some(segFps) => probed.join(broadcast(segFps), Seq("fp"), "left")
      case None => probed.withColumn("in_seg", lit(null).cast("boolean"))
    }
    withSeg.select(
      col("doc_id"),
      col("fp"),
      (coalesce(col("in_base"), lit(false)) || coalesce(col("in_seg"), lit(false)))
        .as("dup_of_base"))
  }

  /** The COMPLETE ingest loop [[dedupStoredStream]] only reads for:
    * each micro-batch verdicts against base ∪ segments
    * ([[graft.operators.Dedup.incrementalDedupStored]]), hands the
    * NOVEL documents to `onKept` (the pipeline's corpus write), and
    * appends their fingerprints as the batch's own delta segment
    * ([[graft.sinks.Sinks.appendDedupDelta]]) — so the NEXT batch
    * dedups against everything this one admitted, without waiting
    * for a compaction. The segment-stamped delta layout is what makes
    * this safe to run while a compaction folds older segments.
    *
    * Delivery semantics: foreachBatch is at-least-once — a crashed
    * batch re-runs, and its re-appended fingerprints land as a
    * SECOND segment holding the same fps. That is harmless by
    * construction (the probe reads DISTINCT fps; the fold unions),
    * but `onKept` sees the batch again — give it an idempotent write
    * (overwrite-by-batch-id, the usual foreachBatch discipline).
    * Run [[graft.sinks.Sinks.compactDedupBase]] between ingest
    * sessions, as [[dedupStoredStream]] documents.
    */
  def dedupIngestLoop(
      docs: org.apache.spark.sql.DataFrame,
      table: String,
      checkpoint: String,
      onKept: (org.apache.spark.sql.DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    localCheckpoints(docs.sparkSession)
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val verdict = graft.operators.Dedup
          .incrementalDedupStored(spark, table, batch)
          .filter(col("is_new"))
          .select("doc_id")
        val kept = batch.join(verdict, "doc_id")
        // persist: kept feeds BOTH the pipeline write and the segment
        // append — without it the verdict joins run twice per batch
        val k = kept.persist()
        try {
          onKept(k, batchId)
          if (!k.isEmpty) graft.sinks.Sinks.appendDedupDelta(k, table)
        } finally {
          k.unpersist(blocking = false)
          ()
        }
      }
      .outputMode("update")
      .start()
  }

  /** The END-TO-END continuous-ingest loop for the VECTOR serving
    * stack — [[dedupIngestLoop]]'s shape on the ANN tier: each vector
    * micro-batch (1) lands in the raw-vector store (rebuilds need raw
    * embeddings — quantized codes are not invertible), (2) enters the
    * IVF index's delta lifecycle via
    * [[graft.sinks.Sinks.upsertAnnIndex]] (encoded against the frozen
    * geometry; latest copy wins), and (3) runs the graph tier's
    * cadence check ([[graft.sinks.Sinks.maybeRebuildHnswIndex]]) — so
    * the rebuild-only HNSW index follows the stream automatically:
    * quiet below the drift threshold (the check is metadata + delta
    * reads, never an index scan), exactly one rebuild+flip when
    * ingest pushes live-vs-served drift past it, self-disarming after
    * the flip.
    *
    * Delivery semantics: foreachBatch is at-least-once, and every
    * step tolerates a re-run — the upsert is idempotent on the live
    * set (the re-run's tombstone + same-segment rows reproduce the
    * same live copies), the store append lands duplicate rows that
    * the latest-wins resolution below collapses, and a duplicate
    * cadence check is a no-op once the flip disarmed it. The raw
    * store stamps each row with its micro-batch id; the canonical
    * vector set handed to a rebuild is the per-id argmax over
    * batch_id — latest-wins, so a re-ingested id rebuilds with its
    * newest embedding. That resolution shuffles the store ONLY when a
    * rebuild actually fires (the frame is lazy; the no-op path never
    * executes it).
    *
    * Run [[graft.sinks.Sinks.compactAnnIndex]] between ingest
    * sessions (each micro-batch adds a delta segment — the
    * [[graft.sinks.Sinks.appendAnnIndex]] discipline); `onRebuild`
    * fires with the triggering batch id, the observability hook the
    * spec pins exactly-one on.
    *
    * SEEDING CONTRACT: `vecStorePath` must start with the raw vectors
    * of everything the IVF index already holds (stamp them
    * `batch_id = -1`) — a rebuild serves exactly the canonical store,
    * so a store missing the initial corpus would silently shrink the
    * graph at the first flip ([[graft.sinks.Sinks.writeHnswIndex]]
    * has no id-coverage guard; it builds what it is given).
    */
  def annIngestWithCadence(
      vecs: org.apache.spark.sql.DataFrame,
      ivfPath: String,
      hnswPath: String,
      vecStorePath: String,
      checkpoint: String,
      driftFraction: Double = graft.sinks.Sinks.HnswRebuildDriftFraction,
      onRebuild: Long => Unit = _ => ())
      : org.apache.spark.sql.streaming.StreamingQuery = {
    localCheckpoints(vecs.sparkSession)
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        // At-least-once inputs can repeat a vec_id WITHIN one trigger;
        // the upsert contract is one row per id (duplicates would land
        // at the SAME delta segment, where the tombstone hides neither
        // copy — both would stay live). Collapse deterministically:
        // identical redeliveries (the common case) coalesce to their
        // single row, and a genuine same-trigger double update resolves
        // by embedding-hash order, not partition luck.
        val dupW = org.apache.spark.sql.expressions.Window
          .partitionBy("vec_id").orderBy(xxhash64(col("embedding")).desc)
        val b = batch.select(col("vec_id"), col("embedding"))
          .withColumn("__rn", row_number().over(dupW))
          .filter(col("__rn") === 1).drop("__rn")
          .persist()
        try {
          if (!b.isEmpty) {
            b.withColumn("batch_id", lit(batchId))
              .write.mode("append").parquet(vecStorePath)
            graft.sinks.Sinks.upsertAnnIndex(spark, ivfPath, b)
          }
          val fs = new org.apache.hadoop.fs.Path(vecStorePath)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (fs.exists(new org.apache.hadoop.fs.Path(vecStorePath))) {
            // same-batch_id ties (a retried batch re-appending its rows)
            // break on the embedding hash — the same determinism rule as
            // the in-batch collapse above
            val w = org.apache.spark.sql.expressions.Window
              .partitionBy("vec_id")
              .orderBy(col("batch_id").desc, xxhash64(col("embedding")).desc)
            val canonical = spark.read.parquet(vecStorePath)
              .withColumn("rn", row_number().over(w))
              .filter(col("rn") === 1)
              .select("vec_id", "embedding")
            if (graft.sinks.Sinks.maybeRebuildHnswIndex(
                spark, ivfPath, hnswPath, canonical, driftFraction))
              onRebuild(batchId)
          }
        } finally {
          b.unpersist(blocking = false)
          ()
        }
      }
      .outputMode("update")
      .start()
  }

  /** The dedup stream's fold over one bounded hash group — the batch
    * harness giving the streaming code path an oracle-checkable twin
    * (equals min-per-hash on bounded input).
    */
  def runBatchDedup(h: String, rows: Iterator[DocKeyed]): Iterator[DedupOut] =
    dedupFold(rows, None)._2.iterator

  /** [[runBatchDedup]] wired over a whole documents table — the one
    * batch-harness pipeline shared by the registered query and the
    * equivalence spec, so both always exercise the same keying + fold.
    */
  def batchDedup(docs: org.apache.spark.sql.DataFrame): Dataset[DedupOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), md5(col("text")).as("h")).as[DocKeyed]
      .groupByKey(_.h)
      .flatMapGroups((h: String, rows: Iterator[DocKeyed]) => runBatchDedup(h, rows))
  }

  // --------------------------------------- streaming near-dup candidates
  // Every near-dup kind — text shingles, the perceptual kernels
  // ([[graft.operators.Multimodal.Kernel]]), embeddings — runs the same
  // band-bucket fold: rows key into `band|key` buckets, and a newcomer
  // pairs with every member already there. A [[BucketRule]] says what
  // one kind's rows and members are and how a pair verifies; three
  // faces run the fold over already-banded rows: [[nearDupStream]]
  // (exact state), [[nearDupStreamTtl]] (event-time eviction, capped
  // members) and [[batchNearDup]] (the bounded, oracle-checkable twin).

  /** One (doc, band, signature) bucket row entering the LSH stream. */
  case class BandKeyed(doc_id: Long, band: Int, sig: String)

  /** A band-bucket collision: doc_a < doc_b share `sig` in `band`. A
    * pair colliding in several bands emits once per band (state is
    * per-bucket; global dedup is the downstream verify join's first
    * step, exactly as in the batch pipeline).
    */
  case class CandidateOut(doc_a: Long, doc_b: Long, band: Int)

  /** One perceptual band-bucket row: a 16-bit slice key plus the full
    * hash halves (the within-bucket Hamming verify needs them).
    */
  case class MmBandKeyed(doc_id: Long, band: Int, key: Long, ph_hi: Long, ph_lo: Long)

  /** A verified perceptual collision: doc_a < doc_b share band `band`
    * and sit within their kernel's Hamming gate.
    */
  case class MmCandidateOut(doc_a: Long, doc_b: Long, band: Int, hamming: Int)

  /** A hyperplane band-bucket row carrying the vector + norm the
    * verify step needs — the embedding modality's [[BandKeyed]].
    */
  case class EmbBandKeyed(
      vec_id: Long, band: Int, key: Long, embedding: Array[Float], norm: Double)

  /** One verified semantic candidate pair, kept per band. */
  case class EmbCandidateOut(vec_a: Long, vec_b: Long, band: Int, cos: Double)

  /** TTL-bucket state: arrival-ordered members plus the newest member
    * event time ever observed. The timeout re-arms from `newestTs`, NOT
    * from the current batch's max — a valid late-but-in-watermark
    * arrival older than the bucket's newest member must extend nothing
    * but also shrink nothing (re-arming from the batch max would move
    * the armed timestamp BACKWARD and evict early).
    */
  case class TtlState[M](members: Vector[M], newestTs: Long)

  /** How one near-dup kind folds: the `band|key` bucket a banded row
    * `R` keys into, the state member `M` it leaves behind, that
    * member's id, and the check a newcomer runs against each member
    * (None = no candidate). The encoders are the kind's row, state and
    * output formats; the state encoders ARE the checkpoint format
    * (StreamingSpec pins their schemas).
    */
  final case class BucketRule[R, M, O](
      bucket: R => String,
      member: R => M,
      id: M => Long,
      pair: (M, R) => Option[O])(
      val rows: Encoder[R],
      val exactState: Encoder[Vector[M]],
      val ttlState: Encoder[TtlState[M]],
      val out: Encoder[O])

  private def rule[R <: Product : TypeTag, M : TypeTag, O <: Product : TypeTag](
      bucket: R => String, member: R => M, id: M => Long)(
      pair: (M, R) => Option[O]): BucketRule[R, M, O] =
    BucketRule(bucket, member, id, pair)(
      Encoders.product[R], stateEncoder(ExpressionEncoder[Vector[M]]()),
      stateEncoder(Encoders.product[TtlState[M]]), Encoders.product[O])

  // The rules are lazy: the trend faces load this object too, and
  // should not pay for deriving the near-dup encoders.

  /** Text shingles: members are doc ids, and every collision is a
    * candidate — the Jaccard verify is the downstream join's job.
    */
  lazy val TextRule: BucketRule[BandKeyed, Long, CandidateOut] =
    rule[BandKeyed, Long, CandidateOut](r => s"${r.band}|${r.sig}", _.doc_id, m => m) {
      (m, r) => Some(CandidateOut(math.min(m, r.doc_id), math.max(m, r.doc_id), r.band))
    }

  /** A perceptual kernel: members carry their hash halves, so a
    * collision verifies at the kernel's Hamming gate inside the bucket
    * instead of in a downstream join.
    */
  def perceptualRule(kernel: graft.operators.Multimodal.Kernel)
      : BucketRule[MmBandKeyed, (Long, Long, Long), MmCandidateOut] = {
    val gate = kernel.gate
    rule[MmBandKeyed, (Long, Long, Long), MmCandidateOut](
      r => s"${r.band}|${r.key}", r => (r.doc_id, r.ph_hi, r.ph_lo), _._1) {
      case ((m, hi, lo), r) =>
        val ham = java.lang.Long.bitCount(hi ^ r.ph_hi) + java.lang.Long.bitCount(lo ^ r.ph_lo)
        if (ham <= gate)
          Some(MmCandidateOut(math.min(m, r.doc_id), math.max(m, r.doc_id), r.band, ham))
        else None
    }
  }

  /** Embeddings: each arriving vector exact-cosine-verifies against
    * the bucket's members (threshold [[graft.operators.Ann.NearDupCos]]).
    * The dot product is the strict index-ascending widen-to-double fold
    * `float_dot` runs, and the rounding is Spark's HALF_UP at 6 — so
    * the emitted cos is bit-identical to the batch operator's and to
    * the DuckDB twin's.
    */
  lazy val EmbRule: BucketRule[EmbBandKeyed, (Long, Array[Float], Double), EmbCandidateOut] =
    rule[EmbBandKeyed, (Long, Array[Float], Double), EmbCandidateOut](
      r => s"${r.band}|${r.key}", r => (r.vec_id, r.embedding, r.norm), _._1) {
      case ((m, me, mn), r) =>
        var d = 0.0
        var i = 0
        val n = math.min(me.length, r.embedding.length)
        while (i < n) {
          d += me(i).toDouble * r.embedding(i).toDouble
          i += 1
        }
        val cos = d / (mn * r.norm)
        if (cos >= graft.operators.Ann.NearDupCos)
          Some(EmbCandidateOut(
            math.min(m, r.vec_id), math.max(m, r.vec_id), r.band,
            BigDecimal(cos).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
        else None
    }

  /** The per-bucket fold every face runs: each row joining the bucket
    * runs `rule.pair` against every member already there, then joins
    * the members. State is the member list — the honest cost of
    * streaming LSH (the batch self-join holds the same bucket in
    * memory); a pathological bucket is a giant duplicate cluster,
    * whose pair list is the answer, not overhead.
    */
  private[graft] def bucketFold[R, M, O](
      rule: BucketRule[R, M, O],
      rows: Iterator[R],
      prior: Vector[M],
      cap: Int = Int.MaxValue): (Vector[M], Vector[O]) = {
    // membership probes go through a Set (O(1)); the Vector stays the
    // arrival-ordered state representation. Without the Set, a giant
    // bucket pays O(n) per arrival ON TOP of the inherent O(n²) pair
    // emission — the avoidable half of the quadratic.
    //
    // `cap` bounds the member vector (the streaming face of
    // [[graft.operators.BandCap]]): once a bucket holds `cap` members,
    // later arrivals are dropped — no state growth AND no pair
    // emission, so a boilerplate mega-bucket costs at most cap²/2
    // pairs per epoch instead of n² (arrival order decides the
    // survivors here where the batch cap hash-samples; a streaming
    // fold cannot replay the coin — it would need the bucket's final
    // size). The exact faces pass no cap: their oracle twins replay
    // every pair.
    var members = prior
    val seen = scala.collection.mutable.HashSet.from(prior.iterator.map(rule.id))
    val out = Vector.newBuilder[O]
    rows.map(r => (rule.member(r), r)).toSeq.sortBy(mr => rule.id(mr._1)).foreach {
      case (m, r) =>
        if (members.size < cap && seen.add(rule.id(m))) {
          members.foreach(prev => rule.pair(prev, r).foreach(out += _))
          members = members :+ m
        }
    }
    (members, out.result())
  }

  /** `banded` typed as the rule's rows: its columns by name, with the
    * band cast to the rows' int (the hyperplane banding emits bigint).
    */
  private def typedRows[R](rule: BucketRule[R, _, _], banded: DataFrame): Dataset[R] =
    banded.select(rowColumns(rule.rows): _*).as(rule.rows)

  private def rowColumns(enc: Encoder[_]): Seq[Column] =
    enc.schema.fieldNames.toSeq.map(n => if (n == "band") col(n).cast("int").as(n) else col(n))

  /** Streaming near-dup candidates over already-banded rows: each
    * bucket's GroupState emits `rule`-verified pairs as later members
    * arrive, so candidates surface while the crawl is still running
    * instead of after a full-corpus scan. Feed it scalar projections
    * only — [[graft.operators.Dedup.rowBandSignatures]] (text),
    * [[graft.operators.Multimodal.perceptualBanded]] over
    * [[graft.operators.Multimodal.fingerprint]] (a perceptual kernel),
    * [[graft.operators.Ann.nearDupBandedVectors]] (embeddings) — so no
    * aggregation precedes the stateful stage.
    *
    * State bound: exact candidates require remembering every bucket
    * member for the stream's lifetime (one member per (band, doc) —
    * small per doc, unbounded over an endless crawl).
    * [[nearDupStreamTtl]] is the bounded-state production face; this
    * exact one is the oracle-checkable semantics.
    */
  def nearDupStream[R, M, O](rule: BucketRule[R, M, O], banded: DataFrame): Dataset[O] = {
    localCheckpoints(banded.sparkSession)
    typedRows(rule, banded)
      .groupByKey(rule.bucket)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (_: String, rows: Iterator[R], state: GroupState[Vector[M]]) =>
          val (members, out) = bucketFold(rule, rows, state.getOption.getOrElse(Vector.empty))
          state.update(members)
          out.iterator
      }(rule.exactState, rule.out)
  }

  /** [[nearDupStream]] with a REAL state bound: each band bucket lives
    * `ttlSeconds` of EVENT time past its newest member, then its state
    * is evicted, so total state is proportional to one TTL window of
    * the stream, not its lifetime; members stop at
    * [[graft.operators.BandCap.DefaultCap]] per bucket epoch. The trade
    * is explicit: a duplicate arriving after its bucket closed or
    * filled pairs with nothing — cross-epoch dup detection is what
    * bounded state costs.
    *
    * The clock is deterministic by construction: eviction is driven by
    * the event-time WATERMARK (data decides when time advances), not the
    * wall clock — a ProcessingTimeTimeout variant cannot even be tested
    * under `processAllAvailable`, which never lets processing time
    * settle. `banded` needs an `event_ts` timestamp column (the banding
    * projections pass it through); `watermarkDelay` is the usual
    * out-of-order bound (rows later than watermark − delay are dropped
    * by the engine before the state ever sees them). Rows whose
    * `event_ts` is null belong to no epoch and are dropped before the
    * stateful stage (the engine's late-row filter would let them
    * through).
    *
    * Timeout bookkeeping: every batch that touches a bucket re-arms its
    * timeout to (newest member event time ever seen) + TTL, so an
    * active bucket keeps living (sliding idle-timeout semantics —
    * matching state-store TTL retention) and a late-but-in-watermark
    * arrival can never move the armed timestamp backward; when the
    * watermark passes the armed timestamp the group fires with
    * `hasTimedOut` and the state is removed.
    *
    * State-schema note: the state type is [[TtlState]] (members +
    * newest event time, format version [[TtlStateVersion]]); a
    * checkpoint written by a pre-v2 build (bare member vector) cannot
    * be restored by this version — restart such a stream from a fresh
    * checkpoint. Call [[guardTtlCheckpoint]] with the checkpoint
    * location BEFORE `start()` to turn the raw state-deserialization
    * failure a stale checkpoint would produce into a clear versioned
    * error at startup.
    */
  def nearDupStreamTtl[R, M, O](
      rule: BucketRule[R, M, O],
      banded: DataFrame,
      watermarkDelay: String,
      ttlSeconds: Long): Dataset[O] = {
    localCheckpoints(banded.sparkSession)
    ttlKeyed(rule, banded, watermarkDelay)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        ttlStep(rule, ttlSeconds))(rule.ttlState, rule.out)
  }

  /** [[nearDupStreamTtl]]'s input: the rows with an event time, under
    * the watermark, keyed by bucket.
    */
  private[graft] def ttlKeyed[R](
      rule: BucketRule[R, _, _],
      banded: DataFrame,
      watermarkDelay: String): KeyValueGroupedDataset[String, (R, java.sql.Timestamp)] =
    banded
      .where(col("event_ts").isNotNull)
      .withWatermark("event_ts", watermarkDelay)
      .select(struct(rowColumns(rule.rows): _*).as("_1"), col("event_ts").as("_2"))
      .as(Encoders.tuple(rule.rows, Encoders.TIMESTAMP))
      .groupByKey((r: (R, java.sql.Timestamp)) => rule.bucket(r._1))(Encoders.STRING)

  /** [[nearDupStreamTtl]]'s group function: evict a timed-out bucket,
    * else fold the batch in and re-arm the timeout from the newest
    * member event time.
    */
  private[graft] def ttlStep[R, M, O](rule: BucketRule[R, M, O], ttlSeconds: Long)(
      bucket: String,
      rows: Iterator[(R, java.sql.Timestamp)],
      state: GroupState[TtlState[M]]): Iterator[O] =
    if (state.hasTimedOut) {
      state.remove() // the bucket's epoch is over; a later arrival starts a fresh one
      Iterator.empty
    } else {
      val batch = rows.toVector
      val prior = state.getOption.getOrElse(TtlState(Vector.empty[M], Long.MinValue))
      val (members, out) = bucketFold(
        rule, batch.iterator.map(_._1), prior.members, graft.operators.BandCap.DefaultCap)
      val newest = math.max(prior.newestTs, batch.iterator.map(_._2.getTime).max)
      state.update(TtlState(members, newest))
      state.setTimeoutTimestamp(newest + ttlSeconds * 1000L)
      out.iterator
    }

  /** [[nearDupStream]]'s fold over bounded input — the oracle-checkable
    * batch twin (equals the band-bucket self-join with the rule's
    * verify, kept per band). Bounded text input can feed it the
    * AGGREGATED [[graft.operators.Dedup.bandSignatures]]: the
    * shuffle-combined minhash beats 16x per-row HOF evaluation, and
    * StreamingSpec pins the two signature forms bit-equal, so the fold
    * under test is identical to the stream's.
    */
  def batchNearDup[R, M, O](rule: BucketRule[R, M, O], banded: DataFrame): Dataset[O] =
    typedRows(rule, banded)
      .groupByKey(rule.bucket)(Encoders.STRING)
      .flatMapGroups((_: String, rows: Iterator[R]) =>
        bucketFold(rule, rows, Vector.empty)._2.iterator)(rule.out)

  /** Format version of the TTL stream's state encoding. History:
    * v1 = bare `Vector[Long]` member list (no marker file written);
    * v2 = [[TtlState]] (members + newestTs; the format the guard's
    * messages call TtlBucket).
    */
  val TtlStateVersion = 2

  private val TtlVersionMarker = "graft_ttl_state_version"

  /** Startup guard for [[nearDupStreamTtl]] checkpoints: call
    * with the `checkpointLocation` BEFORE `start()`. A state-schema
    * change (v1's bare member vector → v2's [[TtlState]]) makes Spark
    * fail checkpoint restore deep inside state deserialization with an
    * error that names neither the cause nor the fix; this check fails
    * FAST with both instead.
    *
    * Protocol: a fresh checkpoint dir gets a version marker file; a
    * dir that already carries streaming state but no marker predates
    * versioning (v1 or an unmarked v2) and is refused — restart from a
    * fresh checkpoint, or create the marker manually if the checkpoint
    * is known to be TtlBucket-format; a marker with a different version
    * is refused with both numbers.
    */
  def guardTtlCheckpoint(spark: SparkSession, checkpointDir: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(checkpointDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(dir, TtlVersionMarker)
    if (fs.exists(marker)) {
      val in = fs.open(marker)
      val found = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      if (found != TtlStateVersion.toString)
        throw new IllegalStateException(
          s"TTL near-dup checkpoint at $checkpointDir holds state format v$found, " +
            s"but this build reads v$TtlStateVersion (TtlBucket). Restoring would fail " +
            "inside state deserialization — restart the stream from a fresh checkpoint.")
    } else {
      val hasState = Seq("offsets", "state")
        .exists(d => fs.exists(new org.apache.hadoop.fs.Path(dir, d)))
      if (hasState)
        throw new IllegalStateException(
          s"TTL near-dup checkpoint at $checkpointDir predates state-format versioning " +
            s"(pre-v$TtlStateVersion, likely the bare member-vector format). Restoring " +
            "would fail inside state deserialization — restart the stream from a fresh " +
            s"checkpoint, or create $TtlVersionMarker containing '$TtlStateVersion' in " +
            "the checkpoint dir if it is known to be TtlBucket-format.")
      // Two streams starting concurrently against the same fresh dir
      // race on the create — the loser re-reads the winner's marker and
      // treats a matching version as success rather than surfacing a
      // raw FileAlreadyExistsException.
      try {
        val out = fs.create(marker, false)
        try out.write(s"$TtlStateVersion\n".getBytes("UTF-8"))
        finally out.close()
      } catch {
        case _: java.io.IOException if fs.exists(marker) =>
          // the winner may have created the file but not yet written
          // its version bytes — retry briefly before judging, and
          // treat a still-empty marker as the I/O problem it is, not
          // as a format mismatch
          def readMarker(): String = {
            val in = fs.open(marker)
            try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
            finally in.close()
          }
          var found = readMarker()
          var tries = 0
          while (found.isEmpty && tries < 20) {
            Thread.sleep(50)
            found = readMarker()
            tries += 1
          }
          if (found.isEmpty)
            throw new java.io.IOException(
              s"TTL near-dup checkpoint marker at $checkpointDir exists but stayed " +
                "empty — a concurrent writer died mid-write or the filesystem lost " +
                "the content; inspect the checkpoint dir.")
          if (found != TtlStateVersion.toString)
            throw new IllegalStateException(
              s"TTL near-dup checkpoint at $checkpointDir holds state format v$found, " +
                s"but this build reads v$TtlStateVersion (TtlBucket). Restoring would " +
                "fail inside state deserialization — restart the stream from a fresh " +
                "checkpoint.")
      }
    }
  }

  /** Ingest-time WARC extraction: arriving archive FILES (one binary
    * payload per file, the shape a crawler's rolling uploads have)
    * record-scan, HTTP-parse, and text-extract inside the stream —
    * the [[graft.sources.Warc.parseWarcRecords]] kernel is a
    * stateless typed flatMap, so the streaming face IS the batch
    * kernel on an unbounded frame; no state, no watermark, exactly
    * the lang-ID/keep-mask stateless-ingest discipline.
    */
  def warcExtractStream(files: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    localCheckpoints(files.sparkSession)
    val ex = graft.operators.TextStats.extractedTextCol("html")
    graft.sources.Warc.parseWarcRecords(files).toDF()
      .select(
        col("doc_id"), col("url"), col("warc_date"), col("status"),
        col("n_block_bytes"), ex.as("text"),
        length(col("html")).as("n_chars_raw"), length(ex).as("n_chars_text"))
  }

  // ---------------------------------------------- streaming decontamination
  /** One decontamination verdict per arriving document. */
  case class DecontOut(
      doc_id: Long,
      n_shingles: Long,
      n_matched: Long,
      contamination: Double,
      contaminated: Boolean)

  /** The per-document overlap kernel shared by the stream and its
    * batch harness: distinct word 3-shingles (the exact
    * [[graft.operators.Dedup.shingles]] construction — `split(text,
    * ' ')` keeps empty tokens, docs under 3 words shingle to nothing),
    * membership-counted against the benchmark set, ratio rounded
    * HALF_UP at 6 like the batch operator's `round(..., 6)`.
    */
  def decontScore(id: Long, text: String, bench: Set[String]): DecontOut = {
    val w = text.split(" ", -1)
    var total = 0L
    var matched = 0L
    if (w.length >= 3) {
      val seen = scala.collection.mutable.HashSet.empty[String]
      var i = 0
      while (i <= w.length - 3) {
        val sh = w(i) + " " + w(i + 1) + " " + w(i + 2)
        if (seen.add(sh)) {
          total += 1
          if (bench(sh)) matched += 1
        }
        i += 1
      }
    }
    val frac = BigDecimal(matched.toDouble / math.max(total, 1L).toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    DecontOut(id, total, matched, frac, frac >= graft.operators.Corpus.ContaminationThreshold)
  }

  /** Decontamination AT INGEST: each arriving document scores its
    * benchmark overlap against a FROZEN benchmark shingle set — the
    * [[graft.sinks.Sinks.appendAnnIndex]] pattern on the text side
    * (eval suites are megabytes, frozen for a crawl; the set collects
    * once at stream start and ships in a broadcast). Stateless
    * per-row kernel, so the stream needs no watermark, no state store,
    * and scales with the scan; bit-equal to the batch
    * [[graft.operators.Corpus.decontaminate]] because both count the
    * same distinct-shingle set and divide the same integers
    * (StreamingSpec pins MemoryStream == batch).
    */
  def decontaminateStream(
      docs: org.apache.spark.sql.DataFrame,
      benchDocs: org.apache.spark.sql.DataFrame): Dataset[DecontOut] = {
    val spark = localCheckpoints(docs.sparkSession)
    import spark.implicits._
    val bench = spark.sparkContext.broadcast(
      graft.operators.Dedup.shingles(benchDocs)
        .select("shingle").distinct().as[String].collect().toSet)
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => decontScore(id, t, bench.value) })
  }

  /** The stream kernel over bounded input with the registry's stand-in
    * `% BenchmarkMod` split — must equal `doc_decontaminate` row for
    * row (shared oracle twin).
    */
  def batchDecontaminate(docs: org.apache.spark.sql.DataFrame): Dataset[DecontOut] =
    decontaminateStream(
      docs.filter(col("doc_id") % graft.operators.Corpus.BenchmarkMod =!= 0),
      docs.filter(col("doc_id") % graft.operators.Corpus.BenchmarkMod === 0))

  // ------------------------------- streaming semantic decontamination
  /** One semantic-decontamination verdict per arriving vector — the
    * embedding-space face of [[DecontOut]].
    */
  case class EmbDecontOut(
      vec_id: Long,
      n_bench: Long,
      max_cos_fp: Long,
      max_cos: Double,
      contaminated: Boolean)

  /** Semantic decontamination AT INGEST: each arriving embedding
    * scores its max cosine against a FROZEN benchmark embedding set —
    * [[decontaminateStream]]'s shape in embedding space. The benchmark
    * vectors collect once at stream start (eval suites are megabytes,
    * frozen for a crawl) and ship in a broadcast; the per-row kernel
    * is [[graft.operators.Ann.embContamFp]] VERBATIM, so stream and
    * batch verdicts are bit-equal by construction (StreamingSpec pins
    * MemoryStream == batch). Stateless — no watermark, no state store;
    * the stream scales with the scan exactly like the batch operator's
    * one-pass map.
    */
  def embDecontaminateStream(
      vecs: org.apache.spark.sql.DataFrame,
      benchVecs: org.apache.spark.sql.DataFrame): Dataset[EmbDecontOut] = {
    val spark = localCheckpoints(vecs.sparkSession)
    import spark.implicits._
    val (benchRows, bnorm) = graft.operators.Ann.collectBench(benchVecs)
    val bc = spark.sparkContext.broadcast((benchRows, bnorm))
    val nb = benchRows.length.toLong
    vecs.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        val (br, bn) = bc.value
        val fp = graft.operators.Ann.embContamFp(v, br, bn)
        val cos = BigDecimal(fp.toDouble / 1e9)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        EmbDecontOut(id, nb, fp, cos, fp >= graft.operators.Ann.EmbContamCosFp)
      })
  }

  /** The stream kernel over bounded input with the registry's stand-in
    * `% BenchmarkMod` split — must equal the `emb_decontaminate` row
    * set exactly (shared oracle twin).
    */
  def batchEmbDecontaminate(emb: org.apache.spark.sql.DataFrame): Dataset[EmbDecontOut] =
    embDecontaminateStream(
      emb.filter(col("vec_id") % graft.operators.Corpus.BenchmarkMod =!= 0),
      emb.filter(col("vec_id") % graft.operators.Corpus.BenchmarkMod === 0))

  // ---------------------------------------- streaming real-token stats
  /** One real-token statistic row per arriving document. */
  case class SubwordOut(
      doc_id: Long,
      n_tokens_ws: Long,
      n_tokens_bpe: Long,
      bpe_per_ws: Double)

  /** Real-token counting AT INGEST: each arriving document tokenizes
    * through a subword vocab TRAINED ON A FROZEN REFERENCE CORPUS at
    * stream start (a tokenizer must never refit per micro-batch, or
    * token counts stop being comparable across the stream — the
    * [[graft.sinks.Sinks.appendAnnIndex]] frozen-metadata rule on the
    * text side). The greedy longest-match kernel is
    * [[graft.operators.TextStats.greedyTokenCount]] verbatim;
    * stateless, no watermark, scales with the scan.
    */
  def tokenStatsSubwordStream(
      docs: org.apache.spark.sql.DataFrame,
      vocabCorpus: org.apache.spark.sql.DataFrame): Dataset[SubwordOut] =
    tokenStatsSubwordStreamWith(
      docs, graft.operators.TextStats.subwordVocab(vocabCorpus))

  /** [[tokenStatsSubwordStream]] through a SUPPLIED vocab frame — the
    * apply half of the tokenizer split: a persisted artifact
    * ([[graft.operators.TextStats.loadSubwordVocab]]) freezes at
    * stream start, so every micro-batch across every RESTART of the
    * stream counts tokens identically (re-training on a reference
    * corpus at each start is only stable while that corpus is).
    */
  def tokenStatsSubwordStreamWith(
      docs: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame): Dataset[SubwordOut] = {
    val spark = localCheckpoints(docs.sparkSession)
    import spark.implicits._
    val byLen = graft.operators.TextStats.vocabByLenFrom(vocab)
    val bc = spark.sparkContext.broadcast(byLen)
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val vocab = bc.value
        val ws = text.split(" ", -1)
        var bpe = 0L
        var i = 0
        while (i < ws.length) {
          if (ws(i).nonEmpty)
            bpe += graft.operators.TextStats.greedyTokenCount(ws(i), vocab).toLong
          i += 1
        }
        val ratio = BigDecimal(bpe.toDouble / ws.length)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        SubwordOut(id, ws.length.toLong, bpe, ratio)
      })
  }

  /** The stream kernel over bounded input, vocab trained on the same
    * corpus — must equal `doc_token_stats_bpe` row for row (shared
    * oracle twin).
    */
  def batchTokenStatsSubword(docs: org.apache.spark.sql.DataFrame): Dataset[SubwordOut] =
    tokenStatsSubwordStream(docs, docs)

  // ------------------------------------------------ streaming keep verdict
  /** One ingest-time keep decision per arriving document. */
  case class KeepOut(
      doc_id: Long,
      n_tokens: Int,
      quality: Double,
      is_dup: Boolean,
      reason: String,
      keep: Boolean)

  /** (doc, content hash, per-row quality signals) entering the keep
    * stream.
    */
  case class QKeyed(doc_id: Long, h: String, n_tokens: Int, quality: Double)

  private val StopSet: Set[String] = graft.operators.TextStats.StopWords.toSet

  /** The per-row half of [[graft.operators.TextStats.quality]] as a
    * kernel — byte-identical semantics: ASCII-only char classes (the
    * batch regexes are `[A-Za-z0-9 ]`, NOT Unicode classes), all-
    * occurrence stopword counts over `split(text, ' ')` tokens (empty
    * tokens kept), the same left-associated double arithmetic, HALF_UP
    * rounding at 6 (Spark's `round`). StreamingSpec pins kernel ==
    * declarative on real data.
    */
  def qualityScore(text: String): (Int, Double) = {
    val w = text.split(" ", -1)
    val nTokens = w.length
    var nStop = 0
    var i = 0
    while (i < w.length) {
      if (StopSet.contains(w(i))) nStop += 1
      i += 1
    }
    var punct = 0
    var j = 0
    while (j < text.length) {
      val c = text.charAt(j)
      val clean =
        (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == ' '
      if (!clean) punct += 1
      j += 1
    }
    if (text.isEmpty) (nTokens, Double.NaN)
    else {
      val q = math.min(1.0, nTokens.toDouble / 50) *
        (1.0 - punct.toDouble / text.length) *
        math.min(1.0, nStop.toDouble / nTokens * 5 + 0.5)
      (nTokens, BigDecimal(q).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  private def qKeyed(docs: org.apache.spark.sql.DataFrame): Dataset[QKeyed] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), md5(col("text")).as("h"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, h, t) =>
        val (n, q) = qualityScore(t)
        QKeyed(id, h, n, q)
      })
  }

  /** The keep fold over one hash group: canonical = prior state or the
    * group minimum (bounded == [[graft.operators.TextStats.keepMask]]'s
    * min-per-hash is_dup), reason precedence dup > too_short >
    * low_quality, identical to the batch verdict.
    */
  private def keepFold(rows: Iterator[QKeyed], prior: Option[Long]): (Long, Vector[KeepOut]) = {
    val sorted = rows.toSeq.sortBy(_.doc_id)
    val canonical = prior.getOrElse(sorted.head.doc_id)
    (canonical, sorted.iterator.map { d =>
      val isDup = d.doc_id != canonical
      val reason =
        if (isDup) "dup"
        else if (d.n_tokens < graft.operators.TextStats.MinTokens) "too_short"
        else if (d.quality < graft.operators.TextStats.QualityMin) "low_quality"
        else "keep"
      KeepOut(d.doc_id, d.n_tokens, d.quality, isDup, reason, reason == "keep")
    }.toVector)
  }

  /** The COMPLETE per-document keep verdict AT INGEST — what a crawler
    * actually runs online: per-row quality + length signals computed in
    * a stateless kernel, composed with the [[dedupStream]] hash state
    * (ONE long per seen hash) for the duplicate reason. Dup semantics
    * are first-ARRIVAL across batches (the streaming-native canonical,
    * as in [[dedupStream]]) and min-per-hash within a bounded input,
    * where the verdict equals the batch [[graft.operators.TextStats
    * .keepMask]] row for row — the registered bounded run shares
    * doc_keep_mask's oracle twin.
    */
  def keepStream(docs: org.apache.spark.sql.DataFrame): Dataset[KeepOut] = {
    val spark = localCheckpoints(docs.sparkSession)
    import spark.implicits._
    qKeyed(docs)
      .groupByKey(_.h)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (h: String, rows: Iterator[QKeyed], state: GroupState[Long]) =>
          val (canonical, out) = keepFold(rows, state.getOption)
          state.update(canonical)
          out.iterator
      }(CanonicalEncoder, Encoders.product[KeepOut])
  }

  /** [[keepStream]]'s fold over bounded input — the oracle-checkable
    * batch harness (equals keepMask).
    */
  def batchKeep(docs: org.apache.spark.sql.DataFrame): Dataset[KeepOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    qKeyed(docs)
      .groupByKey(_.h)
      .flatMapGroups((h: String, rows: Iterator[QKeyed]) => keepFold(rows, None)._2.iterator)
  }

  case class LangOut(
      doc_id: Long,
      lang: String,
      score_en: Int,
      score_de: Int,
      score_es: Int,
      score_fr: Int,
      predicted: String,
      agrees: Boolean)

  private val LangNames: IndexedSeq[String] =
    graft.operators.TextStats.Markers.map(_._1).toIndexedSeq
  private val MarkerGroup: Map[String, Int] =
    graft.operators.TextStats.Markers.zipWithIndex
      .flatMap { case ((_, ws), i) => ws.map(_ -> i) }.toMap

  /** The per-row half of [[graft.operators.TextStats.langId]] as a
    * compiled kernel: all-occurrence marker counts over `split(text,
    * ' ')` tokens (note: a marker in two groups would double-count in
    * the batch broadcast join — the marker table is disjoint by
    * construction) and the identical first-wins argmax (first language
    * in [[graft.operators.TextStats.Markers]] order whose score is
    * positive and >= every LATER score; all-zero -> "und").
    */
  def langIdScore(doc_id: Long, lang: String, text: String): LangOut = {
    val s = new Array[Int](LangNames.length)
    val w = text.split(" ", -1)
    var i = 0
    while (i < w.length) {
      MarkerGroup.get(w(i)) match {
        case Some(g) => s(g) += 1
        case None    =>
      }
      i += 1
    }
    var predicted = "und"
    var k = 0
    var done = false
    while (k < s.length && !done) {
      if (s(k) > 0 && (k + 1 until s.length).forall(j => s(k) >= s(j))) {
        predicted = LangNames(k); done = true
      }
      k += 1
    }
    LangOut(doc_id, lang, s(0), s(1), s(2), s(3), predicted, predicted == lang)
  }

  /** Ingest-time language ID: [[langIdScore]] as a STATELESS streaming
    * map — language identification needs no corpus state, so the
    * operator is a pure per-row kernel that composes into any ingest
    * stream (the [[keepStream]] verdict chain) without adding a
    * stateful stage or a shuffle. Works identically on a streaming or
    * batch frame; the registered bounded run shares doc_lang_id's
    * oracle twin (StreamingSpec pins kernel == declarative).
    */
  def langIdStream(docs: org.apache.spark.sql.DataFrame): Dataset[LangOut] = {
    val spark = localCheckpoints(docs.sparkSession)
    import spark.implicits._
    docs.select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)]
      .mapPartitions(_.map { case (id, lang, t) => langIdScore(id, lang, t) })
  }

  /** LM-perplexity filtering AT INGEST: each arriving document prices
    * its bigrams against a FROZEN stored LM (the
    * [[decontaminateStream]] contract — the pruned artifact is
    * kilobytes–megabytes by construction and ships in a broadcast).
    * The kernel is [[graft.operators.TextStats.lmScoreKernel]], the
    * very function the batch stored face runs, so stream ≡ batch by
    * construction: stateless per-row scoring, no watermark, no state
    * store, no shuffle — the filter scales with the scan.
    */
  def lmScoreStream(
      docs: org.apache.spark.sql.DataFrame,
      bi: Map[(String, String), Long],
      uni: Map[String, Long],
      v: Long): org.apache.spark.sql.DataFrame = {
    localCheckpoints(docs.sparkSession)
    graft.operators.TextStats.lmScoreStored(docs, bi, uni, v)
  }

  /** Per-source running evidence for the streaming domain gate. */
  case class SourceGateState(nDocs: Long, qMicroSum: Long, nLow: Long)

  /** A source's CURRENT verdict — schema-identical to the batch
    * [[graft.operators.Corpus.sourceQualityGate]] row.
    */
  case class SourceGateOut(
      source: String,
      n_docs: Long,
      n_low: Long,
      mean_quality: Double,
      low_share: Double,
      keep_source: Boolean)

  /** Fold a batch of (quality_micro, is_low) evidence into a source's
    * state and emit its current verdict — the ONE function behind the
    * streaming face and its bounded batch harness. Evidence
    * accumulates as exact integers (each doc's rounded quality
    * quantized to micro — the batch operator's own sum terms), so the
    * running aggregates are order-free and the final verdict over
    * bounded input equals the batch gate bit-for-bit.
    */
  def sourceGateFold(
      source: String,
      rows: Iterator[(Long, Long)],
      prior: SourceGateState): (SourceGateState, SourceGateOut) = {
    var n = prior.nDocs
    var qs = prior.qMicroSum
    var low = prior.nLow
    rows.foreach { case (qm, isLow) => n += 1L; qs += qm; low += isLow }
    val st = SourceGateState(n, qs, low)
    val mean = qs.toDouble / 1e6 / n
    val lowShare = low.toDouble / n
    val out = SourceGateOut(
      source, n, low,
      BigDecimal(mean).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      BigDecimal(lowShare).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble,
      mean >= graft.operators.Corpus.SourceMeanQualityMin &&
        lowShare <= graft.operators.Corpus.SourceLowShareMax)
    (st, out)
  }

  /** Per-row gate evidence: the spec-pinned [[qualityScore]] kernel,
    * quantized exactly like the batch sum term
    * `round(quality * 1000000)`.
    */
  private def gateEvidence(docs: org.apache.spark.sql.DataFrame): Dataset[(String, Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("source"), col("text")).as[(String, String)]
      .mapPartitions(_.map { case (src, t) =>
        val (_, q) = qualityScore(t)
        val qm = BigDecimal(q * 1000000d)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        (src, qm, if (q < graft.operators.TextStats.QualityMin) 1L else 0L)
      })
  }

  /** The domain gate AT INGEST: per-source evidence accumulates in
    * mapGroupsWithState and every micro-batch re-emits the source's
    * current verdict (update mode — a domain's keep/drop hardens as
    * its pages accrue; a spam farm flips to drop and STAYS visible as
    * drop in the sink). State is three longs per source —
    * domain-cardinality, the smallest state any face here carries;
    * no timeout because a domain's reputation has no event-time
    * expiry. Stream-final ≡ batch gate is StreamingSpec-pinned; the
    * registered bounded run shares source_quality_gate's twin.
    */
  def sourceGateStream(docs: org.apache.spark.sql.DataFrame): Dataset[SourceGateOut] = {
    val spark = localCheckpoints(docs.sparkSession)
    import spark.implicits._
    gateEvidence(docs)
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (src: String, rows: Iterator[(String, Long, Long)], state: GroupState[SourceGateState]) =>
          val (st, out) = sourceGateFold(
            src, rows.map(r => (r._2, r._3)),
            state.getOption.getOrElse(SourceGateState(0L, 0L, 0L)))
          state.update(st)
          out
      }(stateEncoder(Encoders.product[SourceGateState]), Encoders.product[SourceGateOut])
  }

  /** The gate fold over bounded input — the oracle-checkable batch
    * harness (equals the declarative batch gate; the shared-twin
    * discipline of [[Queries.streamingDaily]]).
    */
  def batchSourceGate(docs: org.apache.spark.sql.DataFrame): Dataset[SourceGateOut] = {
    val spark = docs.sparkSession
    import spark.implicits._
    gateEvidence(docs)
      .groupByKey(_._1)
      .mapGroups { (src, rows) =>
        sourceGateFold(src, rows.map(r => (r._2, r._3)), SourceGateState(0L, 0L, 0L))._2
      }
  }
}
