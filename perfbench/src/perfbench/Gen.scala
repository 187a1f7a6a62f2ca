package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.LocalDate
import java.util.SplittableRandom

import graft.model.Capture

/** Seeded input generators. graft sees only their output: captures as CDX
  * page files, the corpus as WARC bytes.
  *
  * The seed varies content (capture days, statuses, digests, words, URIs)
  * but not the volume layout: per-URL capture counts follow a fixed Zipf
  * law by rank and URL names are fixed by rank, so every seed puts the same
  * load on the same shuffle partitions and the cross-seed spread measures
  * the code rather than hash luck.
  */
object Gen {

  // ------------------------------------------------------------ captures

  /** Volume: 500k captures over 200 URLs, half the scale of the prototype
    * the benchmark was specified from (`Trend.run` over 1M captures of 200
    * URLs on local[4]), so that a run stays near 50 s on 4 cores. The shape
    * parameters are assumptions, not measured CDX statistics: Zipf(0.8) per-URL counts, first captures in early 2019
    * and last ones near `asOf` (multi-year spans), active / idle runs of
    * mean 25 / 40 days (gaps for the fill to bridge), 5% burst days at 8x,
    * a 5% digest change per capture, and [[StatusMix]].
    */
  final case class CaptureParams(
      urls: Int = 200,
      captures: Int = 500000,
      zipfS: Double = 0.8,
      firstFrom: String = "2019-01-01",
      firstSpreadDays: Int = 90,
      endSlackDays: Int = 30,
      activeMeanDays: Int = 25,
      idleMeanDays: Int = 40,
      burstShare: Double = 0.05,
      burstWeight: Int = 8,
      digestChange: Double = 0.05,
      asOf: String = "2024-03-01") {
    def asMap: Map[String, Any] = Map(
      "urls" -> urls, "captures" -> captures, "zipf_s" -> zipfS,
      "first_from" -> firstFrom, "first_spread_days" -> firstSpreadDays,
      "end_slack_days" -> endSlackDays, "active_mean_days" -> activeMeanDays,
      "idle_mean_days" -> idleMeanDays, "burst_share" -> burstShare,
      "burst_weight" -> burstWeight, "digest_change" -> digestChange,
      "as_of" -> asOf, "status_mix" -> StatusMix.map { case (s, w) => s"$s:$w" })
  }

  /** Status draw weights: codes of every class, `-` revisits (which
    * inherit their digest's status) and junk codes graft must tolerate.
    */
  val StatusMix: Seq[(String, Double)] = Seq(
    "200" -> 0.58, "301" -> 0.06, "302" -> 0.05, "404" -> 0.08,
    "500" -> 0.02, "503" -> 0.03, "-" -> 0.15,
    "30x" -> 0.01, "abc" -> 0.01, "0" -> 0.005, "999" -> 0.005)

  /** Captures sorted by (url, ts, seq), as a CDX index stores them. */
  final case class CaptureSet(params: CaptureParams, caps: Array[Capture]) {
    /** url -> [from, until) slice of `caps` */
    lazy val ranges: Map[String, (Int, Int)] = {
      val b = Map.newBuilder[String, (Int, Int)]
      var i = 0
      while (i < caps.length) {
        val u = caps(i).url
        var j = i
        while (j < caps.length && caps(j).url == u) j += 1
        b += u -> ((i, j))
        i = j
      }
      b.result()
    }
    def urls: Seq[String] = ranges.keys.toSeq.sorted
    def of(url: String): Array[Capture] = {
      val (a, b) = ranges(url)
      caps.slice(a, b)
    }
    def firstDay(url: String): String = dayOf(caps(ranges(url)._1).ts)
  }

  def urlOfRank(rank: Int): String = f"https://site$rank%04d.example.org/"

  /** Capture count of each URL rank (1-based): Zipf by rank, at least 20. */
  def rankCounts(p: CaptureParams): Array[Int] = {
    val w = (1 to p.urls).map(k => math.pow(k.toDouble, -p.zipfS))
    val total = w.sum
    w.map(x => math.max(20, math.round(p.captures * x / total).toInt)).toArray
  }

  /** One CDX index line as graft's CDX source reads page files:
    * `url ts status digest`.
    */
  def cdxLine(c: Capture): String = s"${c.url} ${c.ts} ${c.status} ${c.digest}"

  def dayOf(ts: String): String = s"${ts.substring(0, 4)}-${ts.substring(4, 6)}-${ts.substring(6, 8)}"

  /** One URL's captures, sorted by ts; a function of (seed, rank) alone,
    * so executors can make their share of the file in parallel. `seq` is
    * rank * 10^7 + position, a stable same-second tie-break.
    */
  def urlCaptures(seed: Long, rank: Int, p: CaptureParams): Array[Capture] = {
    val base = LocalDate.parse(p.firstFrom)
    val nDays = java.time.temporal.ChronoUnit.DAYS.between(base, LocalDate.parse(p.asOf)).toInt
    val rnd = new SplittableRandom(seed * 1000003L + rank)
    val url = urlOfRank(rank)
    val first = rnd.nextInt(p.firstSpreadDays + 1)
    val last = nDays - 1 - rnd.nextInt(p.endSlackDays + 1)
    // alternating active / idle runs with geometric lengths leave
    // multi-week gaps; a few burst days take several times the captures
    val days = Array.newBuilder[Int]
    val weights = Array.newBuilder[Int]
    var d = first
    var active = true
    while (d <= last) {
      val mean = if (active) p.activeMeanDays else p.idleMeanDays
      val len = 1 + (math.log(1 - rnd.nextDouble()) / math.log(1 - 1.0 / mean)).toInt
      if (active) {
        var i = 0
        while (i < len && d + i <= last) {
          days += d + i
          weights += (if (rnd.nextDouble() < p.burstShare) p.burstWeight else 1)
          i += 1
        }
      }
      d += len
      active = !active
    }
    val ds = days.result()
    val ws = weights.result().scanLeft(0)(_ + _).tail
    val dayStr = scala.collection.mutable.HashMap.empty[Int, String]
    val stamps = Array.tabulate(rankCounts(p)(rank - 1)) { _ =>
      val di =
        if (ds.isEmpty) first
        else ds(java.util.Arrays.binarySearch(ws, rnd.nextInt(ws.last) + 1) match {
          case k if k >= 0 => k
          case k => -k - 1
        })
      val s = rnd.nextInt(86400)
      dayStr.getOrElseUpdate(di, base.plusDays(di.toLong).toString.replace("-", "")) +
        Pad2(s / 3600) + Pad2(s / 60 % 60) + Pad2(s % 60)
    }
    var version = 0
    var digest = md5Hex(s"$seed|$url|0")
    stamps.sorted.zipWithIndex.map { case (ts, i) =>
      val status = drawStatus(rnd.nextDouble())
      if (status != "-" && rnd.nextDouble() < p.digestChange) {
        version += 1
        digest = md5Hex(s"$seed|$url|$version")
      }
      Capture(url, ts, status, digest, rank * 10000000L + i)
    }
  }

  private val StatusCum = StatusMix.scanLeft(0.0)(_ + _._2).tail.toArray

  private def drawStatus(x: Double): String = {
    var k = 0
    while (k < StatusCum.length - 1 && x >= StatusCum(k)) k += 1
    StatusMix(k)._1
  }

  /** Every URL's captures, in URL order (zero-padded rank order). */
  def captures(seed: Long, p: CaptureParams = CaptureParams()): CaptureSet =
    CaptureSet(p, (1 to p.urls).toArray.flatMap(r => urlCaptures(seed, r, p)))

  private val Pad2 = Array.tabulate(60)(i => f"$i%02d")

  /** Zipf draw over ranks 1..n (popularity of a URL by its rank). */
  final class Zipf(n: Int, s: Double, rnd: SplittableRandom) {
    private val cum = (1 to n).map(k => math.pow(k.toDouble, -s)).scanLeft(0.0)(_ + _).tail.toArray
    def next(): Int = {
      val x = rnd.nextDouble() * cum.last
      java.util.Arrays.binarySearch(cum, x) match {
        case k if k >= 0 => k + 1
        case k => -k
      }
    }
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8)).map("%02x".format(_)).mkString

  // -------------------------------------------------------------- corpus

  final case class CorpusParams(
      singletons: Int = 300,
      benchmark: Int = 20,
      contaminated: Int = 12,
      exactGroups: Seq[Int] = Seq(2, 3, 4),
      stars: Seq[Int] = Seq(3, 5),
      chains: Seq[Int] = Seq(5, 15, 30),
      words: Int = 200,
      copiedWords: Int = 80,
      docsPerFile: Int = 10) {
    def asMap: Map[String, Any] = Map(
      "singletons" -> singletons, "benchmark" -> benchmark, "contaminated" -> contaminated,
      "exact_groups" -> exactGroups, "stars" -> stars, "chains" -> chains,
      "words" -> words, "copied_words" -> copiedWords, "docs_per_file" -> docsPerFile)
  }

  /** graft's benchmark carve-out: docs with `doc_id % BenchmarkMod == 0`
    * are the stand-in evaluation set.
    */
  val BenchmarkMod: Long = graft.operators.Corpus.BenchmarkMod.toLong

  /** A planted document: its Target-URI, the doc id graft derives from
    * it, its words, and its role.
    */
  final case class Doc(uri: String, id: Long, text: String, role: String)

  /** `groups` lists the planted clusters (exact dups, near-dup stars and
    * chains) as doc-id lists; all other non-benchmark docs are singletons.
    */
  final case class Corpus(params: CorpusParams, docs: Array[Doc], groups: Seq[Seq[Long]]) {
    def nonBenchmark: Int = docs.count(_.role != "benchmark")
    /** Kept = non-benchmark docs that are their cluster's canonical and
      * not contaminated: one survivor per planted group.
      */
    def expectedKeep: Int = nonBenchmark - groups.map(_.size - 1).sum - docs.count(_.role == "contaminated")
  }

  /** doc id of a Target-URI: the first 64 bits of md5(uri), sign bit
    * masked — the id graft's WARC reader assigns.
    */
  def uriDocId(uri: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(uri.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong & Long.MaxValue
  }

  def corpus(seed: Long, p: CorpusParams = CorpusParams()): Corpus = {
    val rnd = new SplittableRandom(seed)
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    def word(): String = {
      val c = new Array[Char](6)
      var i = 0
      while (i < 6) { c(i) = alphabet.charAt(rnd.nextInt(26)); i += 1 }
      new String(c)
    }
    def fresh(n: Int): Array[String] = Array.fill(n)(word())
    def mutate(ws: Array[String], k: Int): Array[String] = {
      val out = ws.clone()
      (0 until k).foreach(_ => out(rnd.nextInt(out.length)) = word())
      out
    }
    var serial = 0
    // URIs are searched until the derived id lands on the intended side of
    // the benchmark carve-out
    def uriFor(benchmark: Boolean): (String, Long) = {
      var attempt = 0
      while (true) {
        val uri = s"https://corpus$seed.example.net/doc/$serial-$attempt"
        val id = uriDocId(uri)
        if ((id % BenchmarkMod == 0) == benchmark) { serial += 1; return (uri, id) }
        attempt += 1
      }
      throw new IllegalStateException("unreachable")
    }
    val docs = Array.newBuilder[Doc]
    val groups = Seq.newBuilder[Seq[Long]]
    def add(ws: Array[String], role: String): Unit = {
      val (uri, id) = uriFor(role == "benchmark")
      docs += Doc(uri, id, ws.mkString(" "), role)
    }
    // ids ascend along a group's members, so the canonical (min id) sits at
    // a chain's end for every seed and the label propagation always needs
    // the chain's full diameter in rounds
    def plant(texts: Seq[Array[String]], role: String): Unit = {
      val ids = texts.map(_ => uriFor(false)).sortBy(_._2)
      ids.zip(texts).foreach { case ((uri, id), t) => docs += Doc(uri, id, t.mkString(" "), role) }
      groups += ids.map(_._2)
    }
    p.exactGroups.foreach { n => val t = fresh(p.words); plant(Seq.fill(n)(t), "exact") }
    // Planted near-dups must be found by graft's 4x4 MinHash LSH on every
    // seed, so each carries few new shingles: a star member's only new
    // shingles are one word's, so all four of its bands differ from the
    // base with probability ~1e-5 at 200 words.
    p.stars.foreach { n => val b = fresh(p.words); plant(Seq(b) ++ (1 until n).map(_ => mutate(b, 1)), "star") }
    // chain: each member two words away from the previous; members more
    // than ~5 steps apart are rarely LSH candidates, so the diameter (and
    // the CC loop's rounds) grows with length, while the many overlapping
    // short links keep the chain connected
    p.chains.foreach { n => plant(Iterator.iterate(fresh(p.words))(mutate(_, 2)).take(n).toSeq, "chain") }
    val bench = (0 until p.benchmark).map(_ => fresh(p.words))
    bench.foreach(add(_, "benchmark"))
    (0 until p.contaminated).foreach { i =>
      val src = bench(i % bench.length)
      val at = rnd.nextInt(p.words - p.copiedWords + 1)
      add(src.slice(at, at + p.copiedWords) ++ fresh(p.words - p.copiedWords), "contaminated")
    }
    (0 until p.singletons).foreach(_ => add(fresh(p.words), "singleton"))
    // interleave roles across files the way a crawl does
    val all = docs.result()
    val order = all.indices.toArray
    var i = order.length - 1
    while (i > 0) { val j = rnd.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t; i -= 1 }
    Corpus(p, order.map(all), groups.result())
  }

  private val Crlf = "\r\n"

  def html(text: String): String = {
    val paras = text.split(" ").grouped(20).map(ws => s"<p>${ws.mkString(" ")}</p>").mkString("\n")
    s"<!doctype html><html><head><meta charset=\"utf-8\"><style>p { margin: 0 }</style></head>" +
      s"<body><div class=\"c\">\n$paras\n</div><script>var t = 1 < 2;</script></body></html>"
  }

  private def record(kind: String, headers: Seq[(String, String)], block: Array[Byte]): Array[Byte] = {
    val head = (Seq("WARC/1.0", s"WARC-Type: $kind") ++ headers.map { case (k, v) => s"$k: $v" } ++
      Seq(s"Content-Length: ${block.length}", "", "")).mkString(Crlf)
    head.getBytes(UTF_8) ++ block ++ (Crlf + Crlf).getBytes(UTF_8)
  }

  /** One WARC file per `docsPerFile` docs: a warcinfo head, then per doc a
    * response record (HTTP 200 or, for every 13th doc, 404 with a body)
    * and, after every 4th doc, a request record the reader must skip.
    */
  def warcFiles(c: Corpus): Array[(Long, Array[Byte])] =
    c.docs.grouped(c.params.docsPerFile).zipWithIndex.map { case (docs, f) =>
      val out = new java.io.ByteArrayOutputStream()
      out.write(record("warcinfo", Seq("WARC-Record-ID" -> s"<urn:uuid:info-$f>",
        "Content-Type" -> "application/warc-fields"), s"software: perfbench$Crlf".getBytes(UTF_8)))
      docs.zipWithIndex.foreach { case (d, k) =>
        val status = if ((f * c.params.docsPerFile + k) % 13 == 0) "404 Not Found" else "200 OK"
        val block = (s"HTTP/1.1 $status${Crlf}Content-Type: text/html; charset=utf-8$Crlf$Crlf" + html(d.text))
          .getBytes(UTF_8)
        out.write(record("response", Seq(
          "WARC-Record-ID" -> s"<urn:uuid:r-$f-$k>", "WARC-Date" -> "2024-01-15T00:00:00Z",
          "WARC-Target-URI" -> d.uri, "Content-Type" -> "application/http;msgtype=response"), block))
        if (k % 4 == 3)
          out.write(record("request", Seq("WARC-Record-ID" -> s"<urn:uuid:q-$f-$k>",
            "WARC-Target-URI" -> d.uri, "Content-Type" -> "application/http;msgtype=request"),
            s"GET / HTTP/1.1${Crlf}Host: example.net$Crlf$Crlf".getBytes(UTF_8)))
      }
      (f.toLong, out.toByteArray)
    }.toArray
}
