package graft

import graft.operators.{Multimodal, TextStats}

/** DuckDB SQL twins for every SQL-expressible query in [[Queries.all]].
  *
  * The driver runs each SQL against the same parquet tables (registered
  * by basename: events, lineitem, ...) and hash-compares with the Spark
  * result, sorting columns by name first — so every column alias here is
  * lexically identical to the Spark side, and every float that could
  * differ in the last ulp is rounded identically on both sides.
  *
  * Layout mirrors the Spark pipeline stage-for-stage:
  * [[capturesCte]] == [[graft.sources.Cdx.fromEventsDf]],
  * [[enrichedCte]] == [[graft.operators.Daily.enrich]],
  * [[dailyCte]] == [[graft.operators.Daily.daily]],
  * [[filledCte]] == [[graft.operators.GapFill.fill]],
  * [[densifiedCte]] == [[graft.operators.GapFill.densify]].
  */
object Oracle {

  /** Single source of truth — any drift from the Spark side's injected
    * "today" silently shifts every densified twin's calendar endpoint.
    */
  val AsOf: String = Queries.AsOf

  /** Must stay EXACTLY in sync with Cdx.fromEventsDf — same adapter
    * expressions over events.parquet (see Cdx.scala doc).
    */
  val capturesCte: String =
    """captures AS (
      |  SELECT 'u' || CAST(user_id % 20 AS VARCHAR) AS url,
      |         strftime(ts, '%Y%m%d%H%M%S') AS ts,
      |         CASE WHEN event_id % 13 = 0 THEN '-'
      |              WHEN event_id % 7 = 0 THEN '404'
      |              WHEN event_id % 5 = 0 THEN '503'
      |              WHEN event_id % 3 = 0 THEN '301'
      |              ELSE '200' END AS status,
      |         md5('d' || CAST(user_id % 20 AS VARCHAR) || CAST(event_id % 6 AS VARCHAR)) AS digest,
      |         event_id AS seq
      |  FROM events
      |)""".stripMargin

  /** Daily.enrich twin: status-class bucketing (P3, lexicographic),
    * order-sensitive digest imputation (A4), day key (P2), digest prefix
    * (P4), chaos running/sliding windows (W1/W2), specimen priority (A2).
    */
  val enrichedCte: String =
    """e0 AS (
      |  SELECT *, CASE WHEN status BETWEEN '200' AND '599'
      |                 THEN substr(status, 1, 1) || 'xx' ELSE status END AS cls
      |  FROM captures
      |),
      |e1 AS (
      |  SELECT *,
      |    CASE WHEN cls = '-' THEN coalesce(
      |      last_value(CASE WHEN cls <> '-' THEN cls END IGNORE NULLS) OVER (
      |        PARTITION BY url, digest ORDER BY ts, seq
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), '~')
      |    ELSE cls END AS s,
      |    substr(ts, 1, 4) || '-' || substr(ts, 5, 2) || '-' || substr(ts, 7, 2) AS day,
      |    substr(digest, 1, 8) AS d8
      |  FROM e0
      |),
      |e2 AS (
      |  SELECT *,
      |    CASE WHEN s <> coalesce(lag(s) OVER we, '~') THEN 1 ELSE 0 END AS chg,
      |    CASE WHEN s = '2xx' THEN 4 WHEN s = '4xx' THEN 3
      |         WHEN s = '5xx' THEN 2 WHEN s = '3xx' THEN 1 ELSE 0 END AS priority
      |  FROM e1 WINDOW we AS (PARTITION BY url ORDER BY ts, seq)
      |),
      |enriched AS (
      |  SELECT *,
      |    CAST(sum(chg) OVER wr AS DOUBLE) / count(*) OVER wr AS chaos,
      |    CAST(sum(chg) OVER ws AS DOUBLE)
      |      / least(1000, count(*) OVER wr) AS chaosn
      |  FROM e2 WINDOW
      |    wr AS (PARTITION BY url ORDER BY ts, seq
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    ws AS (PARTITION BY url ORDER BY ts, seq
      |           ROWS BETWEEN 998 PRECEDING AND CURRENT ROW)
      |)""".stripMargin

  /** Daily.daily twin: per-(url,day) counts (A1), specimen argmax with
    * first-wins tie-break (A2), chaos snapshot at the day's last capture,
    * content change flag vs previous observed day (A3).
    */
  val dailyCte: String =
    """d0 AS (
      |  SELECT *,
      |    row_number() OVER (PARTITION BY url, day ORDER BY -priority, ts, seq) AS rn_spec,
      |    row_number() OVER (PARTITION BY url, day ORDER BY ts DESC, seq DESC) AS rn_last
      |  FROM enriched
      |),
      |d1 AS (
      |  SELECT url, day,
      |    CAST(sum(CASE WHEN s = '2xx' THEN 1 ELSE 0 END) AS BIGINT) AS c2xx,
      |    CAST(sum(CASE WHEN s = '3xx' THEN 1 ELSE 0 END) AS BIGINT) AS c3xx,
      |    CAST(sum(CASE WHEN s = '4xx' THEN 1 ELSE 0 END) AS BIGINT) AS c4xx,
      |    CAST(sum(CASE WHEN s = '5xx' THEN 1 ELSE 0 END) AS BIGINT) AS c5xx,
      |    max(CASE WHEN rn_spec = 1 THEN ts END) AS datetime,
      |    max(CASE WHEN rn_spec = 1 THEN s END) AS specimen,
      |    max(CASE WHEN rn_spec = 1 THEN d8 END) AS digest,
      |    max(CASE WHEN rn_last = 1 THEN chaos END) AS chaos,
      |    max(CASE WHEN rn_last = 1 THEN chaosn END) AS chaosn
      |  FROM d0 GROUP BY url, day
      |),
      |daily AS (
      |  SELECT *,
      |    CASE WHEN digest = coalesce(lag(digest) OVER (PARTITION BY url ORDER BY day), '~')
      |         THEN 'Unchanged' ELSE 'Changed' END AS content
      |  FROM d1
      |)""".stripMargin

  /** GapFill.fill twin for one policy at fill=-1 (any gap size). */
  def filledCte(policy: String): String = {
    val value = policy match {
      case "forward"   => "specimen"
      case "backward"  => "nspec"
      case "closest"   => "CASE WHEN pos < CAST(gap AS DOUBLE) / 2.0 THEN specimen ELSE nspec END"
      case "identical" => "specimen"
    }
    val keep = if (policy == "identical") " AND specimen = nspec" else ""
    s"""g0 AS (
       |  SELECT url, day, specimen,
       |    lead(day) OVER wg AS nday, lead(specimen) OVER wg AS nspec
       |  FROM daily WINDOW wg AS (PARTITION BY url ORDER BY day)
       |),
       |g1 AS (
       |  SELECT *, datediff('day', CAST(day AS DATE), CAST(nday AS DATE)) - 1 AS gap
       |  FROM g0 WHERE nday IS NOT NULL
       |),
       |g2 AS (
       |  SELECT *, unnest(range(0, gap)) AS pos
       |  FROM g1 WHERE gap > 0$keep
       |),
       |gfill AS (
       |  SELECT url,
       |    strftime(CAST(day AS DATE) + CAST(pos + 1 AS INTEGER), '%Y-%m-%d') AS day,
       |    '~' AS datetime,
       |    CAST(0 AS BIGINT) AS c2xx, CAST(0 AS BIGINT) AS c3xx,
       |    CAST(0 AS BIGINT) AS c4xx, CAST(0 AS BIGINT) AS c5xx,
       |    $value AS specimen, '~' AS digest,
       |    CAST(NULL AS DOUBLE) AS chaos, CAST(NULL AS DOUBLE) AS chaosn,
       |    'Unknown' AS content
       |  FROM g2
       |),
       |filled AS (
       |  SELECT url, day, datetime, c2xx, c3xx, c4xx, c5xx, specimen, digest,
       |         chaos, chaosn, content
       |  FROM daily
       |  UNION ALL SELECT * FROM gfill
       |)""".stripMargin
  }

  /** Passthrough "filled" stage when no gap-filling is applied. */
  val unfilledCte: String =
    """filled AS (
      |  SELECT url, day, datetime, c2xx, c3xx, c4xx, c5xx, specimen, digest,
      |         chaos, chaosn, content
      |  FROM daily
      |)""".stripMargin

  /** GapFill.densify twin: per-url calendar [min(day), asOf] left-joined
    * against `filled`, defaults coalesced, chaos forward-filled (W3),
    * computed `call`/`filled` flags. Empty calendar when min(day) > asOf
    * (reference pd.date_range semantics).
    */
  val densifiedCte: String = densifiedCteAt(AsOf)

  def densifiedCteAt(asOf: String): String =
    s"""cal AS (
       |  SELECT url,
       |    strftime(unnest(generate_series(CAST(d0 AS DATE), DATE '$asOf',
       |                                    INTERVAL 1 DAY)), '%Y-%m-%d') AS day
       |  FROM (SELECT url, min(day) AS d0 FROM filled GROUP BY url)
       |),
       |z0 AS (
       |  SELECT cal.url, cal.day,
       |    coalesce(f.datetime, '~') AS datetime,
       |    coalesce(f.c2xx, 0) AS c2xx, coalesce(f.c3xx, 0) AS c3xx,
       |    coalesce(f.c4xx, 0) AS c4xx, coalesce(f.c5xx, 0) AS c5xx,
       |    coalesce(f.specimen, '~') AS specimen,
       |    coalesce(f.digest, '~') AS digest,
       |    coalesce(f.content, 'Unknown') AS content,
       |    f.chaos AS chaos0, f.chaosn AS chaosn0
       |  FROM cal LEFT JOIN filled f ON cal.url = f.url AND cal.day = f.day
       |),
       |densified AS (
       |  SELECT url, day, datetime, c2xx, c3xx, c4xx, c5xx, specimen, digest,
       |    content,
       |    coalesce(last_value(chaos0 IGNORE NULLS) OVER wd, 0.0) AS chaos,
       |    coalesce(last_value(chaosn0 IGNORE NULLS) OVER wd, 0.0) AS chaosn,
       |    c2xx + c3xx + c4xx + c5xx AS call,
       |    specimen <> '~' AND c2xx + c3xx + c4xx + c5xx = 0 AS filled
       |  FROM z0 WINDOW wd AS (PARTITION BY url ORDER BY day
       |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |)""".stripMargin

  private def withCaptures(body: String): String =
    s"WITH $capturesCte\n$body"

  private def withDaily(body: String): String =
    s"WITH $capturesCte,\n$enrichedCte,\n$dailyCte\n$body"

  private def withDensified(body: String, fillPolicy: Option[String] = None): String = {
    val fill = fillPolicy.map(filledCte).getOrElse(unfilledCte)
    s"WITH $capturesCte,\n$enrichedCte,\n$dailyCte,\n$fill,\n$densifiedCte\n$body"
  }

  private def fillSql(policy: String): String =
    s"""WITH $capturesCte,
       |$enrichedCte,
       |$dailyCte,
       |${filledCte(policy)}
       |SELECT url, day, specimen,
       |  specimen <> '~' AND c2xx + c3xx + c4xx + c5xx = 0 AS filled
       |FROM filled ORDER BY url, day""".stripMargin

  /** Word 3-shingles CTE, twin of [[graft.operators.Dedup.shingles]]. */
  /** Word-k-gram CTE — SQL twin of [[graft.operators.Dedup.ngramRows]],
    * k-parameterized so every n-gram consumer (shingles, bigrams) reads
    * the one construction.
    */
  def ngramCte(k: Int, alias: String, outCol: String, distinct: Boolean): String =
    ngramCteOver("documents", k, alias, outCol, distinct)

  val shinglesCte: String = ngramCte(3, "sh", "shingle", distinct = true)

  /** Capped band-bucket CTE pair — twin of [[graft.operators.BandCap
    * .capBuckets]]: `out` keeps a member of `src` iff its md5 coin
    * modulo the (keyCols) bucket size lands under the cap (which is
    * everything, when the bucket is at or under the cap — the modulo
    * is then always below it). Deterministic on both engines, so the
    * sampled survivor set is bit-identical.
    */
  def capCte(
      src: String,
      out: String,
      keyCols: Seq[String],
      memberCol: String,
      cap: Int = graft.operators.BandCap.DefaultCap): String = {
    val keys = keyCols.mkString(", ")
    val on = keyCols.map(c => s"s.$c = n.$c").mkString(" AND ")
    val coin = (keyCols :+ memberCol).map(c => s"CAST(s.$c AS VARCHAR)").mkString(" || '|' || ")
    s"""${out}_n AS (
       |  SELECT $keys, CAST(count(*) AS BIGINT) AS bucket_n FROM $src GROUP BY $keys
       |),
       |$out AS (
       |  SELECT s.* FROM $src s JOIN ${out}_n n ON $on
       |  WHERE CAST(('0x' || substr(md5($coin), 1, 8)) AS BIGINT) % n.bucket_n < $cap
       |)""".stripMargin
  }

  /** MinHash CTEs twin of [[graft.operators.Dedup.minhash]]/
    * [[graft.operators.Dedup.bandSignatures]] — same wide 16-min
    * aggregation, generated to stay column-for-column in sync. Ends in
    * `bs0` (raw band signatures) and `bs` (band-bucket-capped, the
    * relation every candidate join consumes — [[graft.operators
    * .BandCap]]'s twin).
    */
  def minhashCtesCap(cap: Int): String = minhashCtesOver("sh", "", cap)

  /** [[minhashCtesCap]] with the shingle relation NAMED and every CTE
    * name suffixed — lets one query run two independent chains (a
    * diff's old-corpus side and its new-probe side) without name
    * collisions. Ends in `bs$sfx` (capped band signatures).
    */
  def minhashCtesOver(shRel: String, sfx: String, cap: Int): String = {
    val mins = (0 until 16)
      .map(p => s"min(substr(md5('$p|' || shingle), 1, 8)) AS mh$p")
      .mkString(",\n    ")
    val bands = (0 until 4).map { b =>
      val cols = (b * 4 until b * 4 + 4).map(p => s"mh$p").mkString(" || '_' || ")
      s"SELECT doc_id, $b AS band, $cols AS sig FROM mh$sfx"
    }.mkString("\n  UNION ALL ")
    s"""mh$sfx AS (
       |  SELECT doc_id,
       |    $mins
       |  FROM $shRel GROUP BY doc_id
       |),
       |bs0$sfx AS (
       |  $bands
       |),
       |${capCte(s"bs0$sfx", s"bs$sfx", Seq("band", "sig"), "doc_id", cap)}""".stripMargin
  }

  /** [[ngramCte]] over an arbitrary `(doc_id, text)` relation instead
    * of the documents table — for queries whose shingle source is a
    * derived snapshot.
    */
  def ngramCteOver(
      src: String, k: Int, alias: String, outCol: String, distinct: Boolean): String = {
    val gram = (1 to k).map(j => s"words[i+$j]").mkString(" || ' ' || ")
    s"""$alias AS (
       |  SELECT ${if (distinct) "DISTINCT " else ""}doc_id,
       |    $gram AS $outCol
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM $src),
       |       unnest(range(len(words) - ${k - 1})) t(i)
       |)""".stripMargin
  }

  val minhashCtes: String = minhashCtesCap(graft.operators.BandCap.DefaultCap)

  /** SimHash CTEs twin of [[graft.operators.Dedup.simhash]] — same wide
    * 64-vote aggregation, fingerprint as two 32-bit halves.
    */
  val simhashCtes: String = {
    val votes = (
      (0 until 32).map(b => s"sum(cnt * (((whl >> $b) & 1) * 2 - 1)) AS vl$b") ++
        (0 until 32).map(b => s"sum(cnt * (((whh >> $b) & 1) * 2 - 1)) AS vh$b"))
      .mkString(",\n    ")
    def fp(prefix: String) = (0 until 32)
      .map(b => s"(CASE WHEN $prefix$b > 0 THEN ${1L << b} ELSE 0 END)")
      .mkString(" + ")
    s"""wc AS (
       |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS cnt
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
       |  GROUP BY doc_id, word
       |),
       |vs AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM (SELECT *,
       |          CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) AS whl,
       |          CAST(('0x' || substr(md5(word), 9, 8)) AS BIGINT) AS whh
       |        FROM wc)
       |  GROUP BY doc_id
       |),
       |sim AS (
       |  SELECT doc_id, CAST(${fp("vh")} AS BIGINT) AS sim_hi,
       |    CAST(${fp("vl")} AS BIGINT) AS sim_lo
       |  FROM vs
       |)""".stripMargin
  }

  /** The HTML page-wrap + extraction CTE pair, ending in
    * `ex(doc_id, html, text)` — shared by the extraction row and the
    * html-in curation composite.
    */
  // NOTE: no line here may START with '|' (a containing template
  // applies stripMargin AFTER interpolating this string — a leading
  // '||' would lose its first pipe), so the concatenation operators
  // sit at line ends
  private val htmlPageCtes: String =
    """page AS (
      |  SELECT doc_id,
      |    '<html><head><title></title><style type="text/css">body { color: #333; } /* doc ' ||
      |    CAST(doc_id AS VARCHAR) ||
      |    ' */</style><script>var n = ' || CAST(doc_id AS VARCHAR) ||
      |    '; if (n < 9 && n > 0) { n = "skip me"; }</script></head><body><!-- crawl ' ||
      |    CAST(doc_id AS VARCHAR) || ' --><p class="main">' ||
      |    replace(replace(replace(text, '&', '&amp;'), '<', '&lt;'), '>', '&gt;') ||
      |    '</p></body></html>' AS html
      |  FROM documents
      |),
      |ex AS (
      |  SELECT doc_id, html,
      |    trim(regexp_replace(
      |      replace(replace(replace(replace(replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(
      |              regexp_replace(html, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
      |              '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
      |            '(?s)<!--.*?-->', ' ', 'g'),
      |          '<[^>]*>', ' ', 'g'),
      |        '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&'),
      |      '[ \t\n\r\f]+', ' ', 'g')) AS text
      |  FROM page
      |)""".stripMargin

  /** Near-dup CTE chain ending in `nd(doc_a, doc_b, jaccard)` — the
    * [[graft.operators.Dedup.nearDupPairs]] pipeline (LSH candidates +
    * exact-Jaccard verify) as consumed by the cluster twin.
    */
  def nearDupCtesCap(cap: Int): String =
    s"""$shinglesCte,
       |${minhashCtesCap(cap)},
       |pr AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bs a JOIN bs b ON a.band = b.band AND a.sig = b.sig
       |                     AND a.doc_id < b.doc_id
       |),
       |cnts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
       |com AS (
       |  SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS n_common
       |  FROM pr
       |  JOIN sh sa ON pr.doc_a = sa.doc_id
       |  JOIN sh sb ON pr.doc_b = sb.doc_id AND sa.shingle = sb.shingle
       |  GROUP BY doc_a, doc_b
       |),
       |nd AS (
       |  SELECT doc_a, doc_b, ca.n AS n_a, cb.n AS n_b,
       |    coalesce(com.n_common, 0) AS n_common,
       |    round(CAST(coalesce(com.n_common, 0) AS DOUBLE)
       |          / (ca.n + cb.n - coalesce(com.n_common, 0)), 6) AS jaccard
       |  FROM pr
       |  LEFT JOIN com USING (doc_a, doc_b)
       |  JOIN cnts ca ON pr.doc_a = ca.doc_id
       |  JOIN cnts cb ON pr.doc_b = cb.doc_id
       |)""".stripMargin

  val nearDupCtes: String = nearDupCtesCap(graft.operators.BandCap.DefaultCap)

  /** Connected-component label CTEs over `nd` (the [[nearDupCtes]]
    * chain): transitive closure + min-over-component — equivalent to
    * the engine's iterative min-propagation fixpoint. Requires `WITH
    * RECURSIVE`. Shared by the cluster twin and the `doc_pipeline`
    * composite so the two can never disagree on a label.
    */
  val clusterLabelCtes: String =
    s"""e AS (
       |  SELECT doc_a AS a, doc_b AS b FROM nd WHERE jaccard >= ${graft.operators.Corpus.ClusterJaccard}
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM nd WHERE jaccard >= ${graft.operators.Corpus.ClusterJaccard}
       |),
       |reach(src, dst) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
       |),
       |lab AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src),
       |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
       |       FROM lab GROUP BY cluster)""".stripMargin

  /** Decontamination CTEs over `sh` ([[shinglesCte]]) ending in
    * `dec(doc_id, n_shingles, n_matched, contamination, contaminated)` —
    * shared by `doc_decontaminate` and the `doc_pipeline` composite.
    */
  val decontCtes: String =
    s"""bsh AS (SELECT DISTINCT shingle FROM sh
       |        WHERE doc_id % ${graft.operators.Corpus.BenchmarkMod} = 0),
       |csh AS (SELECT doc_id, shingle FROM sh
       |        WHERE doc_id % ${graft.operators.Corpus.BenchmarkMod} <> 0),
       |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
       |      FROM csh GROUP BY doc_id),
       |mt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched
       |       FROM csh JOIN bsh USING (shingle) GROUP BY doc_id),
       |dec AS (
       |  SELECT doc_id, n_shingles, n_matched,
       |    round(CAST(n_matched AS DOUBLE) / greatest(n_shingles, 1), 6) AS contamination,
       |    round(CAST(n_matched AS DOUBLE) / greatest(n_shingles, 1), 6)
       |      >= ${graft.operators.Corpus.ContaminationThreshold} AS contaminated
       |  FROM (
       |    SELECT d.doc_id, coalesce(c.n_shingles, 0) AS n_shingles,
       |           coalesce(mt.n_matched, 0) AS n_matched
       |    FROM documents d
       |    LEFT JOIN c USING (doc_id)
       |    LEFT JOIN mt USING (doc_id)
       |    WHERE d.doc_id % ${graft.operators.Corpus.BenchmarkMod} <> 0
       |  )
       |)""".stripMargin

  /** A11/A12/J4 CTEs twin of [[graft.operators.Report.transitions]]:
    * consecutive-valid pairs with the first-row-deadlock guard, then the
    * static 4x4 grid completion.
    */
  val transitionsCtes: String =
    """t0 AS (
      |  SELECT url, day, specimen,
      |    first_value(specimen) OVER (PARTITION BY url ORDER BY day) AS first_spec
      |  FROM densified
      |),
      |t1 AS (
      |  SELECT url, lag(specimen) OVER (PARTITION BY url ORDER BY day) AS src,
      |         specimen AS tgt
      |  FROM t0
      |  WHERE specimen IN ('2xx', '3xx', '4xx', '5xx')
      |    AND first_spec IN ('2xx', '3xx', '4xx', '5xx')
      |),
      |t2 AS (
      |  SELECT url, src, tgt, count(*) AS n FROM t1
      |  WHERE src IS NOT NULL GROUP BY url, src, tgt
      |),
      |grid AS (
      |  SELECT u.url, s.src, t.tgt
      |  FROM (SELECT DISTINCT url FROM densified) u
      |  CROSS JOIN (VALUES ('2xx'), ('3xx'), ('4xx'), ('5xx')) s(src)
      |  CROSS JOIN (VALUES ('2xx'), ('3xx'), ('4xx'), ('5xx')) t(tgt)
      |)""".stripMargin

  /** Quality-scoring twin of [[graft.operators.TextStats.quality]] —
    * shared by `doc_quality` and the `doc_keep_mask` composite so the
    * two can never disagree on a document's score.
    */
  private val qualitySelect: String = {
    // stopword counts generated from the SAME vocabulary the Spark
    // operator broadcasts, so the two sides cannot drift
    val nstop = TextStats.StopWords
      .map(w => s"len(list_filter(string_split(text, ' '), x -> x = '$w'))")
      .mkString("\n    + ")
    s"""SELECT doc_id, n_chars,
      |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
      |  round(CAST(nstop AS DOUBLE) / ntok, 6) AS stopword_ratio,
      |  round(CAST(punct AS DOUBLE) / length(text), 6) AS punct_ratio,
      |  round(CAST(digits AS DOUBLE) / length(text), 6) AS digit_ratio,
      |  round(least(1.0, CAST(ntok AS DOUBLE) / 50)
      |        * (1.0 - CAST(punct AS DOUBLE) / length(text))
      |        * least(1.0, CAST(nstop AS DOUBLE) / ntok * 5 + 0.5), 6) AS quality
      |FROM (
      |  SELECT *, len(string_split(text, ' ')) AS ntok,
      |    $nstop AS nstop,
      |    length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS punct,
      |    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits
      |  FROM documents
      |)""".stripMargin
  }

  /** Language-ID twin generated from the SAME marker table the Spark
    * operator uses, so the two sides cannot drift.
    */
  private def langScoresSql: String = {
    def occ(w: String) = s"len(list_filter(string_split(text, ' '), x -> x = '$w'))"
    TextStats.Markers.map { case (lang, ms) =>
      s"CAST(${ms.map(occ).mkString(" + ")} AS INTEGER) AS score_$lang"
    }.mkString(",\n    ")
  }

  private def langPredictCaseSql: String = {
    val langs = TextStats.Markers.map(_._1)
    val branches = langs.zipWithIndex.map { case (lang, i) =>
      val beats = langs.drop(i + 1).map(o => s"score_$lang >= score_$o")
      val cond = (s"score_$lang > 0" +: beats).mkString(" AND ")
      s"WHEN $cond THEN '$lang'"
    }.mkString("\n      ")
    s"""CASE
       |      $branches
       |      ELSE 'und' END""".stripMargin
  }

  /** `plang(doc_id, predicted)` — the langId prediction as a reusable
    * CTE (the v4 pipeline's language-gate leg).
    */
  private lazy val langPredictCte: String =
    s"""plang AS (
       |  SELECT doc_id, $langPredictCaseSql AS predicted
       |  FROM (SELECT doc_id,
       |    $langScoresSql
       |  FROM documents)
       |)""".stripMargin

  private def langIdSql: String = {
    val scores = langScoresSql
    val langs = TextStats.Markers.map(_._1)
    val branches = langs.zipWithIndex.map { case (lang, i) =>
      val beats = langs.drop(i + 1).map(o => s"score_$lang >= score_$o")
      val cond = (s"score_$lang > 0" +: beats).mkString(" AND ")
      s"WHEN $cond THEN '$lang'"
    }.mkString("\n      ")
    s"""WITH scored AS (
       |  SELECT doc_id, lang,
       |    $scores
       |  FROM documents
       |)
       |SELECT doc_id, lang, ${langs.map(l => s"score_$l").mkString(", ")},
       |  predicted, predicted = lang AS agrees
       |FROM (
       |  SELECT *,
       |    CASE
       |      $branches
       |      ELSE 'und' END AS predicted
       |  FROM scored
       |) ORDER BY doc_id""".stripMargin
  }

  /** Embedding corpus with per-vector L2 norm (left-fold in index order,
    * matching Spark's `aggregate`). `src` lets a twin run the same CTEs
    * over an augmented corpus relation.
    */
  def vecNormCteFrom(src: String): String =
    s"""vn AS (
       |  SELECT vec_id, label, embedding,
       |    sqrt(list_sum(list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm
       |  FROM $src
       |)""".stripMargin

  val vecNormCte: String = vecNormCteFrom("embeddings")

  /** One 16-bit band key of the near-dup hyperplane signature — twin of
    * [[graft.operators.Ann.nearDupSignature]]'s key b: sign bits of the
    * md5-derived planes [16b, 16b+16), same strict d-ascending
    * widen-to-double fold as `float_dot`, so signs agree bit-for-bit.
    */
  private def nearDupKeySql(b: Int): String = {
    val planes = graft.operators.Ann.NearDupBandPlanes
    (0 until planes).map { p =>
      val i = b * planes + p
      s"""(CASE WHEN list_sum(list_transform(range(64), d ->
         |    (CASE WHEN CAST(('0x' || substr(md5('${i}_' || CAST(d AS VARCHAR)), 1, 1)) AS INTEGER) % 2 = 0
         |          THEN 1.0 ELSE -1.0 END)
         |    * CAST(embedding[d + 1] AS DOUBLE))) >= 0 THEN ${1L << p} ELSE 0 END)""".stripMargin
    }.mkString("\n  + ")
  }

  /** Banded near-dup candidate CTEs ending in `cand(vec_a, vec_b,
    * cos_raw)` — shared by the pair twin and the semantic-cluster twin
    * so the two can never disagree on an edge.
    */
  private def embNearDupCtesFrom(src: String): String = {
    val bands = graft.operators.Ann.NearDupBands
    val keyCols = (0 until bands)
      .map(b => s"${nearDupKeySql(b)} AS k$b").mkString(",\n  ")
    val keyCase = "CASE band " +
      (0 until bands - 1).map(b => s"WHEN $b THEN k$b").mkString(" ") +
      s" ELSE k${bands - 1} END"
    s"""${vecNormCteFrom(src)},
       |sig AS (SELECT vec_id, embedding, norm,
       |  $keyCols
       |  FROM vn),
       |banded0 AS (
       |  SELECT vec_id, embedding, norm, band, $keyCase AS key
       |  FROM sig, unnest(range($bands)) t(band)
       |),
       |${capCte("banded0", "banded", Seq("band", "key"), "vec_id")},
       |cand AS (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    ${cosSql("a.embedding", "b.embedding", "a.norm", "b.norm")} AS cos_raw
       |  FROM banded a JOIN banded b
       |    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
       |)""".stripMargin
  }

  private val embNearDupCtes: String = embNearDupCtesFrom("embeddings")

  /** Twin of [[graft.operators.Ann.hnswTopK]]: the whole graph build
    * (banded kNN short links from `cand`, md5-ring skip long links)
    * plus the T-round beam search, unrolled — every rank tie-broken
    * by id, every hash md5, so the search path is bit-identical.
    */
  private lazy val annHnswSql: String = {
    val A = graft.operators.Ann
    val B = A.HnswBeam
    def beamCte(src: String, out: String) =
      s"""$out AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT f.q_id, f.c_id,
         |      CAST(row_number() OVER (PARTITION BY f.q_id
         |        ORDER BY ${cosSql("q.qe", "v.embedding", "q.qnorm", "v.norm")} DESC, f.c_id)
         |        AS INTEGER) AS rn
         |    FROM $src f JOIN qn q ON f.q_id = q.q_id JOIN vn v ON f.c_id = v.vec_id
         |  ) WHERE rn <= $B
         |)""".stripMargin
    val rounds = (1 to A.HnswHops).map { t =>
      s"""c$t AS (
         |  SELECT DISTINCT q_id, c_id FROM (
         |    SELECT f.q_id, g.dst AS c_id FROM f${t - 1} f JOIN g ON f.c_id = g.src
         |    UNION ALL SELECT q_id, c_id FROM f${t - 1}
         |  )
         |),
         |${beamCte(s"c$t", s"f$t")}""".stripMargin
    }.mkString(",\n")
    val skips = (1 to A.HnswSkips).map(j => s"(${1L << j})").mkString(", ")
    s"""WITH $embNearDupCtes,
       |qn AS (
       |  SELECT vec_id AS q_id, embedding AS qe, norm AS qnorm FROM vn
       |  WHERE vec_id % ${A.QueryMod} = 0),
       |ord AS (
       |  SELECT vec_id, CAST(row_number() OVER (
       |    ORDER BY md5('hnsw' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS BIGINT) AS r
       |  FROM embeddings),
       |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       |ring AS (
       |  SELECT a.vec_id AS src, b.vec_id AS dst
       |  FROM ord a CROSS JOIN cnt CROSS JOIN (VALUES $skips) s(p)
       |  JOIN ord b ON b.r = (a.r + greatest(1, n // s.p)) % n
       |),
       |undk AS (SELECT DISTINCT vec_a, vec_b, cos_raw FROM cand),
       |dirk AS (
       |  SELECT vec_a AS vec_id, vec_b AS nn, cos_raw FROM undk
       |  UNION ALL SELECT vec_b AS vec_id, vec_a AS nn, cos_raw FROM undk),
       |gshort AS (
       |  SELECT vec_id AS src, nn AS dst FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos_raw DESC, nn) AS rn
       |    FROM dirk) WHERE rn <= ${A.KnnJoinK}),
       |g AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src, dst FROM gshort UNION ALL SELECT src, dst FROM ring)
       |  WHERE src <> dst),
       |qb AS (
       |  SELECT vec_id AS q_id, band, key FROM banded0
       |  WHERE vec_id % ${A.QueryMod} = 0),
       |seed AS (
       |  SELECT DISTINCT q_id, c_id FROM (
       |    SELECT qb.q_id, a.vec_id AS c_id FROM banded a
       |      JOIN qb ON a.band = qb.band AND a.key = qb.key
       |    UNION ALL
       |    SELECT q.q_id, e.vec_id AS c_id FROM qn q
       |      CROSS JOIN (SELECT vec_id FROM ord WHERE r < ${A.HnswEntries}) e
       |  )
       |),
       |${beamCte("seed", "f0")},
       |$rounds
       |SELECT q_id, rn, c_id AS vec_id, round(cos_raw, 6) AS cos FROM (
       |  SELECT f.q_id, f.c_id AS c_id,
       |    ${cosSql("q.qe", "v.embedding", "q.qnorm", "v.norm")} AS cos_raw,
       |    CAST(row_number() OVER (PARTITION BY f.q_id
       |      ORDER BY ${cosSql("q.qe", "v.embedding", "q.qnorm", "v.norm")} DESC, f.c_id)
       |      AS INTEGER) AS rn
       |  FROM f${A.HnswHops} f JOIN qn q ON f.q_id = q.q_id JOIN vn v ON f.c_id = v.vec_id
       |  WHERE f.c_id <> f.q_id
       |) WHERE rn <= ${A.K}
       |ORDER BY q_id, rn""".stripMargin
  }

  /** md5-derived LSH bucket twin of [[graft.operators.Ann.withBucket]]. */
  val bucketExpr: String =
    """CAST(list_sum(list_transform(range(8), p ->
      |  CASE WHEN list_sum(list_transform(range(64), d ->
      |    (CASE WHEN CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 1)) AS INTEGER) % 2 = 0
      |          THEN 1.0 ELSE -1.0 END)
      |    * CAST(embedding[d + 1] AS DOUBLE))) >= 0
      |  THEN (CAST(1 AS BIGINT) << p) ELSE 0 END)) AS BIGINT)""".stripMargin

  private val cosExpr =
    """list_sum(list_transform(list_zip(q.qe, v.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / (q.qnorm * v.norm)""".stripMargin

  /** Subspace squared-L2 for the PQ twins: `m.m` is the subspace index
    * in scope, `c` the codebook row — a strict j-ascending left fold
    * matching the Spark side's `aggregate` bit-for-bit (the
    * [[cosSql]] precedent). DuckDB lists are 1-based: note the +1.
    */
  private def pqD2Sql(v: String): String = {
    val s = graft.operators.Ann.PqSub
    s"""list_sum(list_transform(range($s), j ->
       |      (CAST($v[m.m * $s + j + 1] AS DOUBLE) - CAST(c.ce[m.m * $s + j + 1] AS DOUBLE))
       |      * (CAST($v[m.m * $s + j + 1] AS DOUBLE) - CAST(c.ce[m.m * $s + j + 1] AS DOUBLE))))""".stripMargin
  }

  /** Subspace dot product for the PQ encode twin — the same strict
    * j-ascending widen-to-double fold as the Spark side's codegen'd
    * `float_dot` over a subvector slice (the cosSql precedent).
    */
  private def pqDotSql(a: String, b: String): String = {
    val s = graft.operators.Ann.PqSub
    s"""list_sum(list_transform(range($s), j ->
       |      CAST($a[m.m * $s + j + 1] AS DOUBLE) * CAST($b[m.m * $s + j + 1] AS DOUBLE)))""".stripMargin
  }

  /** Subspace squared-L2 between two named lists (the residual-PQ
    * dtable twin) — same fold shape as [[pqD2Sql]].
    */
  private def pqD2Sql2(a: String, b: String): String = {
    val s = graft.operators.Ann.PqSub
    s"""list_sum(list_transform(range($s), j ->
       |      (CAST($a[m.m * $s + j + 1] AS DOUBLE) - CAST($b[m.m * $s + j + 1] AS DOUBLE))
       |      * (CAST($a[m.m * $s + j + 1] AS DOUBLE) - CAST($b[m.m * $s + j + 1] AS DOUBLE))))""".stripMargin
  }

  /** PQ codebook + per-vector codes, twin of [[graft.operators.Ann
    * .pqCodebook]]/[[graft.operators.Ann.pqEncode]]: ends in
    * `pq_codes(vec_id, m, code)`. The argmin key mirrors the engine's
    * `c.c - 2 v.c` formulation exactly (same dots, same subtraction
    * order) so near-tie argmins cannot diverge between engines.
    */
  // c_id is the centroid's POSITION in the vec_id-sorted set, not its
  // vec_id: the Spark kernel emits argmin positions into the sorted
  // centroid array, so on a filtered corpus whose surviving vec_ids
  // are non-contiguous the labels still agree between engines
  private def pqcStandInFrom(src: String): String =
    s"""pqc AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c_id, embedding AS ce
       |        FROM $src WHERE vec_id < ${graft.operators.Ann.PqK})""".stripMargin

  private val pqcStandIn: String = pqcStandInFrom("embeddings")

  /** The vec_id the `ann_pq_codes_gap` fixture removes — inside the
    * stand-in codebook range, so the surviving ids are non-contiguous.
    */
  val PqGapId = 3L

  /** Twin of [[graft.operators.Dedup.substringDedup]] at a given
    * minimum merged-span length: identical positional grams, identical
    * running-max island merge, the span floor applied to the merged
    * island exactly where the Spark side filters.
    */
  /** The shared span-finding CTE chain: words, doc lengths, positional
    * grams, cross-doc dup grams, running-max island merge, and the
    * floored merged spans `ms(doc_id, ss, ee)`.
    */
  private def substringSpanCtes(
      minSpanWords: Int,
      gramN: Int = graft.operators.Dedup.SubstrGramN): String = {
    val n = gramN
    // the positional gram as an explicit word concat, at ANY width —
    // no slice-semantics ambiguity, same text Spark's concat_ws builds
    val gramExpr = (1 to n).map(k => s"w[i+$k]").mkString(" || ' ' || ")
    s"""w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       |nw AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words FROM w),
       |g AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |    $gramExpr AS gram
       |  FROM w, unnest(range(0, len(w) - ${n - 1})) t(i)
       |  WHERE len(w) >= $n
       |),
       |d AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1),
       |sp AS (
       |  SELECT doc_id, pos AS s, pos + $n AS e
       |  FROM g JOIN d USING (gram)
       |),
       |m AS (
       |  SELECT *, max(e) OVER (PARTITION BY doc_id ORDER BY s
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
       |  FROM sp
       |),
       |b AS (SELECT *, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END AS brk FROM m),
       |isl AS (
       |  SELECT *, sum(brk) OVER (PARTITION BY doc_id ORDER BY s
       |              ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM b
       |),
       |ms AS (
       |  SELECT doc_id, grp, min(s) AS ss, max(e) AS ee FROM isl GROUP BY doc_id, grp
       |  HAVING max(e) - min(s) >= $minSpanWords
       |)""".stripMargin
  }

  private def substringDedupSql(
      minSpanWords: Int,
      gramN: Int = graft.operators.Dedup.SubstrGramN): String =
    s"""WITH ${substringSpanCtes(minSpanWords, gramN)},
       |pd AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
       |    CAST(sum(ee - ss) AS BIGINT) AS dup_words
       |  FROM ms GROUP BY doc_id
       |)
       |SELECT nw.doc_id, nw.n_words,
       |  COALESCE(pd.n_spans, 0) AS n_spans,
       |  COALESCE(pd.dup_words, 0) AS dup_words,
       |  nw.n_words - COALESCE(pd.dup_words, 0) AS kept_words
       |FROM nw LEFT JOIN pd USING (doc_id) ORDER BY nw.doc_id""".stripMargin

  /** The pipeline composites' shared per-doc evidence faces — quality,
    * PII counts, bigram repetition — as one CTE bundle (q/pii/bg/bgc/
    * rep), so the v1 and v2 keep-decision twins can never disagree on
    * a face they both consult.
    */
  private lazy val pipelineFaceCtes: String = {
    val email = TextStats.EmailRe
    val num = TextStats.LongNumRe
    s"""q AS ($qualitySelect),
       |pii AS (
       |  SELECT doc_id,
       |    CAST(len(regexp_extract_all(text, '$email')) AS INTEGER) AS n_emails,
       |    CAST(len(regexp_extract_all(regexp_replace(text, '$email', '<EMAIL>', 'g'), '$num')) AS INTEGER) AS n_longnums
       |  FROM documents
       |),
       |${ngramCte(2, "bg", "bigram", distinct = false)},
       |bgc AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS cnt
       |        FROM bg GROUP BY doc_id, bigram),
       |rep AS (
       |  SELECT d.doc_id,
       |    round(CAST(coalesce(a.top, 0) AS DOUBLE)
       |          / greatest(coalesce(a.nb, 0), 1), 6) AS top_bigram_frac
       |  FROM documents d LEFT JOIN (
       |    SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS nb, CAST(max(cnt) AS BIGINT) AS top
       |    FROM bgc GROUP BY doc_id) a USING (doc_id)
       |)""".stripMargin
  }

  /** Stored-LM CTE chain shared by the standalone stored twin and the
    * v3 pipeline twin: fit on the md5 train split, prune the bigram
    * tier to the top 4096 by (count desc, w1, w2), keep the unigram
    * tier whole, score ALL documents — ends in `lmdoc` (doc_id,
    * n_bigrams, nll_micro, avg_nll, ppl).
    */
  private lazy val lmStoredCtes: String =
    """lmtr AS (
      |  SELECT doc_id, text FROM documents
      |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 < 8
      |),
      |lmtws AS (SELECT doc_id, string_split(text, ' ') AS w FROM lmtr),
      |lmtbg AS (
      |  SELECT w[CAST(g.i + 1 AS INTEGER)] AS w1,
      |    w[CAST(g.i + 2 AS INTEGER)] AS w2
      |  FROM lmtws, LATERAL (SELECT unnest(range(len(w) - 1)) AS i) g
      |  WHERE len(w) >= 2
      |),
      |lmuni AS (
      |  SELECT word AS w, CAST(count(*) AS BIGINT) AS c1
      |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM lmtr)
      |  GROUP BY word
      |),
      |lmbi0 AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM lmtbg GROUP BY w1, w2),
      |lmbi AS (SELECT * FROM lmbi0 ORDER BY c12 DESC, w1, w2 LIMIT 4096),
      |lmv AS (SELECT CAST(count(*) AS BIGINT) AS v_size FROM lmuni),
      |lmws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |lmbg AS (
      |  SELECT doc_id,
      |    w[CAST(g.i + 1 AS INTEGER)] AS w1,
      |    w[CAST(g.i + 2 AS INTEGER)] AS w2
      |  FROM lmws, LATERAL (SELECT unnest(range(len(w) - 1)) AS i) g
      |  WHERE len(w) >= 2
      |),
      |lmlp AS (
      |  SELECT lmbg.doc_id,
      |    CAST(round(-ln(CAST(coalesce(lmbi.c12, 0) + 1 AS DOUBLE)
      |        / CAST(coalesce(lmuni.c1, 0) + lmv.v_size AS DOUBLE)) * 1000000) AS BIGINT) AS lp_micro
      |  FROM lmbg LEFT JOIN lmbi USING (w1, w2) LEFT JOIN lmuni ON lmuni.w = lmbg.w1 CROSS JOIN lmv
      |),
      |lmagg AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |    CAST(sum(lp_micro) AS BIGINT) AS nll_micro
      |  FROM lmlp GROUP BY doc_id
      |),
      |lmdoc AS (
      |  SELECT d.doc_id,
      |    coalesce(lmagg.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
      |    coalesce(lmagg.nll_micro, CAST(0 AS BIGINT)) AS nll_micro,
      |    round(CAST(lmagg.nll_micro AS DOUBLE) / 1e6 / lmagg.n_bigrams, 6) AS avg_nll,
      |    round(exp(CAST(lmagg.nll_micro AS DOUBLE) / 1e6 / lmagg.n_bigrams), 6) AS ppl
      |  FROM documents d LEFT JOIN lmagg USING (doc_id)
      |)""".stripMargin

  /** Domain-gate CTE chain (reuses the `q` quality CTE from
    * [[pipelineFaceCtes]]): per-source evidence rollup `gs` and the
    * surviving-source verdict `gg`.
    */
  private lazy val gateCtes: String =
    s"""gs AS (
       |  SELECT d.source,
       |    CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CAST(round(q.quality * 1000000) AS BIGINT)) AS BIGINT) AS q_micro_sum,
       |    CAST(sum(CASE WHEN q.quality < ${TextStats.QualityMin} THEN 1 ELSE 0 END) AS BIGINT) AS n_low
       |  FROM documents d JOIN q ON d.doc_id = q.doc_id
       |  GROUP BY d.source
       |),
       |gg AS (
       |  SELECT source,
       |    (CAST(q_micro_sum AS DOUBLE) / 1e6 / n_docs >= 35E-2
       |      AND CAST(n_low AS DOUBLE) / n_docs <= 5E-1) AS keep_source
       |  FROM gs
       |)""".stripMargin

  /** Shared stored-dedup twin: the fixture's two md5 coins replayed in
    * place (base = inc-coin 0; segment = inc 1/seg 0; probe = inc
    * 1/seg 1), parameterized by the verdict projection so the full
    * row and the streaming dup_of_base face cannot diverge.
    */
  private def storedDedupSql(select: String): String =
    s"""WITH t AS (
       |  SELECT doc_id, md5(text) AS fp,
       |    CAST(('0x' || substr(md5('inc' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS b,
       |    CAST(('0x' || substr(md5('seg' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS sc
       |  FROM documents
       |),
       |base AS (SELECT DISTINCT fp FROM t WHERE b = 0),
       |seg AS (SELECT DISTINCT fp FROM t WHERE b = 1 AND sc = 0),
       |probe AS (SELECT doc_id, fp FROM t WHERE b = 1 AND sc = 1),
       |fd AS (SELECT fp, min(doc_id) AS first_delta FROM probe GROUP BY fp)
       |SELECT $select
       |FROM probe p LEFT JOIN base ON p.fp = base.fp
       |LEFT JOIN seg ON p.fp = seg.fp JOIN fd ON p.fp = fd.fp
       |ORDER BY p.doc_id""".stripMargin

  /** A float literal DuckDB narrows to the IDENTICAL float bits.
    * `Float.toString` is shortest-round-trip, but a bare decimal
    * literal in DuckDB parses as DECIMAL, and DECIMAL→FLOAT can land
    * ONE ULP off the Java parse (measured: `0.021892939::FLOAT` ≠
    * `'0.021892939'::FLOAT`). The `E0` suffix forces the DOUBLE
    * parse, whose FLOAT narrowing reproduces Java's `parseFloat`
    * exactly — without it, every materialized-literal twin (rotation
    * matrices, codebooks, centroids) carries ulp-level input skew
    * that surfaces as a hash mismatch whenever a quantized distance
    * lands on a rounding boundary.
    */
  private def floatLit(x: Float): String = {
    val s = x.toString
    if (s.contains("E") || s.contains("e")) s else s + "E0"
  }

  /** [[pqcStandIn]]'s shape over a literal (trained) codebook. */
  private def pqcValues(centers: Array[(Long, Array[Float])]): String = {
    val values = centers.map { case (id, ce) =>
      ce.map(floatLit).mkString(s"($id, [", ", ", "]::FLOAT[])")
    }.mkString(",\n    ")
    s"""pqc AS (SELECT c_id, ce FROM (VALUES
       |    $values) t(c_id, ce))""".stripMargin
  }

  private def pqCtesWith(pqc: String, src: String = "embeddings"): String = {
    val m = graft.operators.Ann.PqM
    s"""$pqc,
       |pq_d AS (
       |  SELECT e.vec_id, m.m AS m, c.c_id AS k,
       |    ${pqDotSql("c.ce", "c.ce")}
       |      - CAST(2 AS DOUBLE) * ${pqDotSql("e.embedding", "c.ce")} AS d
       |  FROM $src e, range($m) m(m), pqc c
       |),
       |pq_codes AS (
       |  SELECT vec_id, CAST(m AS INT) AS m, CAST(k AS INT) AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn FROM pq_d)
       |  WHERE rn = 1
       |)""".stripMargin
  }

  private val pqCtes: String = pqCtesWith(pqcStandIn)

  /** [[pqCtes]] extended with the query side: distance tables in 1e-9
    * fixed point (exact, order-free sums — the labelCentroids pattern)
    * and the full ADC distance relation `pq_dist(q_id, vec_id, dist_q)`.
    */
  private def pqAdcCtesWith(
      pqc: String,
      src: String = "embeddings",
      qsrc: String = "embeddings"): String =
    s"""${pqCtesWith(pqc, src)},
       |pq_q AS (SELECT vec_id AS q_id, embedding AS qe FROM $qsrc
       |         WHERE vec_id % ${graft.operators.Ann.QueryMod} = 0),
       |pq_qdt AS (
       |  SELECT q.q_id, m.m AS m, c.c_id AS k,
       |    CAST(round(${pqD2Sql("q.qe")} * 1000000000) AS BIGINT) AS dq
       |  FROM pq_q q, range(${graft.operators.Ann.PqM}) m(m), pqc c
       |),
       |pq_dist AS (
       |  SELECT pq_qdt.q_id, pq_codes.vec_id, CAST(sum(pq_qdt.dq) AS BIGINT) AS dist_q
       |  FROM pq_codes JOIN pq_qdt ON pq_qdt.m = pq_codes.m AND pq_qdt.k = pq_codes.code
       |  WHERE pq_qdt.q_id <> pq_codes.vec_id
       |  GROUP BY pq_qdt.q_id, pq_codes.vec_id
       |)""".stripMargin

  private val pqAdcCtes: String = pqAdcCtesWith(pqcStandIn)

  /** The ann_pq_topk twin over a literal TRAINED codebook (packed
    * per-subspace k-means centers — [[graft.operators.Ann
    * .pqTrainedCodebook]]); float literals via Float.toString, the
    * round-trip-exact serialization [[annIvfKmeansSql]] uses.
    */
  def annPqTrainedSql(centers: Array[(Long, Array[Float])]): String =
    s"""WITH ${pqAdcCtesWith(pqcValues(centers))},
       |pq_rk AS (
       |  SELECT q_id, vec_id, dist_q,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY dist_q, vec_id) AS INTEGER) AS rn
       |  FROM pq_dist
       |)
       |SELECT q_id, rn, vec_id,
       |  round(CAST(dist_q AS DOUBLE) / 1000000000, 6) AS dist
       |FROM pq_rk WHERE rn <= ${graft.operators.Ann.K} ORDER BY q_id, rn""".stripMargin

  /** The ann_pq_trained twin in ROTATED space: the trained rotation as
    * one literal FLOAT[][] (row i = the direction coordinate i
    * projects onto), corpus AND query vectors rotated by an ordered
    * `list_sum` matvec with a REAL cast — bit-identical to the Spark
    * kernel's j-ascending double fold + toFloat — then the identical
    * encode/ADC/rank CTEs over the rotated-space trained codebook.
    */
  def annPqRotatedSql(
      rot: Array[Array[Float]],
      centers: Array[(Long, Array[Float])]): String = {
    val d = rot.length
    val rm = rot
      .map(r => r.map(floatLit).mkString("[", ", ", "]::FLOAT[]"))
      .mkString("[\n    ", ",\n    ", "]")
    s"""WITH rotm AS (SELECT $rm AS rm),
       |rote AS (
       |  SELECT e.vec_id, list_transform(range($d), ri ->
       |    CAST(list_sum(list_transform(range($d), rj ->
       |      CAST(r.rm[CAST(ri AS INTEGER) + 1][CAST(rj AS INTEGER) + 1] AS DOUBLE)
       |        * CAST(e.embedding[CAST(rj AS INTEGER) + 1] AS DOUBLE))) AS REAL)) AS embedding
       |  FROM embeddings e, rotm r
       |),
       |${pqAdcCtesWith(pqcValues(centers), src = "rote", qsrc = "rote")},
       |pq_rk AS (
       |  SELECT q_id, vec_id, dist_q,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY dist_q, vec_id) AS INTEGER) AS rn
       |  FROM pq_dist
       |)
       |SELECT q_id, rn, vec_id,
       |  round(CAST(dist_q AS DOUBLE) / 1000000000, 6) AS dist
       |FROM pq_rk WHERE rn <= ${graft.operators.Ann.K} ORDER BY q_id, rn""".stripMargin
  }

  /** The residual IVF-PQ twin over a pluggable per-list codebook CTE
    * `rcb(c_id, k, cb)` — the deterministic stand-in (each list's first
    * PqK members' residuals) and the distributed-Lloyd-trained books
    * ([[annIvfPqResidualTrainedSql]]) replay through identical
    * encode/ADC/rank CTEs.
    */
  private def annIvfPqResidualSqlWith(
      rcb: String, pre: Option[String] = None): String = {
    val m = graft.operators.Ann.PqM
    s"""WITH ${pre.getOrElse(vecNormCte)},
       |${ivfCtes()},
       |res AS (
       |  SELECT a.vec_id, a.c_id,
       |    list_transform(range(64), j -> a.embedding[j + 1] - c.ce[j + 1]) AS rv
       |  FROM asg a JOIN cent c USING (c_id)
       |),
       |$rcb,
       |rd AS (
       |  SELECT r.vec_id, r.c_id, m.m AS m, b.k,
       |    ${pqDotSql("b.cb", "b.cb")}
       |      - CAST(2 AS DOUBLE) * ${pqDotSql("r.rv", "b.cb")} AS d
       |  FROM res r JOIN rcb b USING (c_id), range($m) m(m)
       |),
       |rcodes AS (
       |  SELECT vec_id, c_id, m, k AS code FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, m ORDER BY d, k) AS rn FROM rd)
       |  WHERE rn = 1
       |),
       |qres AS (
       |  SELECT p.q_id, p.c_id,
       |    list_transform(range(64), j -> p.qe[j + 1] - c.ce[j + 1]) AS qr
       |  FROM probes p JOIN cent c USING (c_id)
       |),
       |qdt AS (
       |  SELECT q.q_id, q.c_id, m.m AS m, b.k,
       |    CAST(round(${pqD2Sql2("q.qr", "b.cb")} * 1000000000) AS BIGINT) AS dq
       |  FROM qres q JOIN rcb b USING (c_id), range($m) m(m)
       |),
       |rdist AS (
       |  SELECT qdt.q_id, rcodes.vec_id, CAST(sum(qdt.dq) AS BIGINT) AS dist_q
       |  FROM rcodes
       |  JOIN qdt ON qdt.c_id = rcodes.c_id AND qdt.m = rcodes.m AND qdt.k = rcodes.code
       |  WHERE qdt.q_id <> rcodes.vec_id
       |  GROUP BY qdt.q_id, rcodes.vec_id
       |)
       |SELECT q_id, rn, vec_id,
       |  round(CAST(dist_q AS DOUBLE) / 1000000000, 6) AS dist
       |FROM (
       |  SELECT q_id, vec_id, dist_q,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY dist_q, vec_id) AS INTEGER) AS rn
       |  FROM rdist)
       |WHERE rn <= ${graft.operators.Ann.K} ORDER BY q_id, rn""".stripMargin
  }

  /** [[annIvfPqResidualSqlWith]] over LITERAL trained per-list books
    * (c_id, k, cb) — 256 rows of 64 floats, Float.toString round-trip
    * serialization as in [[annIvfKmeansSql]].
    */
  private def residualBooksCte(books: Array[(Long, Int, Array[Float])]): String = {
    val values = books.sortBy(b => (b._1, b._2)).map { case (c, k, cb) =>
      cb.map(floatLit).mkString(s"($c, $k, [", ", ", "]::FLOAT[])")
    }.mkString(",\n    ")
    s"""rcb AS (SELECT c_id, CAST(k AS INT) AS k, cb FROM (VALUES
       |    $values) t(c_id, k, cb))""".stripMargin
  }

  def annIvfPqResidualTrainedSql(books: Array[(Long, Int, Array[Float])]): String =
    annIvfPqResidualSqlWith(residualBooksCte(books))

  /** The rotated-residual twin — [[annPqRotatedSql]]'s literal-matrix
    * rotation of the corpus (queries and the firstK coarse centroids
    * ride `vn`, so the whole index geometry rotates exactly as the
    * Spark side's does), then the IDENTICAL residual encode/ADC/rank
    * CTEs over the rotated-space trained per-list books.
    */
  def annIvfPqResidualRotatedSql(
      rot: Array[Array[Float]],
      books: Array[(Long, Int, Array[Float])]): String = {
    val d = rot.length
    val rm = rot
      .map(r => r.map(floatLit).mkString("[", ", ", "]::FLOAT[]"))
      .mkString("[\n    ", ",\n    ", "]")
    val pre =
      s"""rotm AS (SELECT $rm AS rm),
         |rote AS (
         |  SELECT e.vec_id, e.label, list_transform(range($d), ri ->
         |    CAST(list_sum(list_transform(range($d), rj ->
         |      CAST(r.rm[CAST(ri AS INTEGER) + 1][CAST(rj AS INTEGER) + 1] AS DOUBLE)
         |        * CAST(e.embedding[CAST(rj AS INTEGER) + 1] AS DOUBLE))) AS REAL)) AS embedding
         |  FROM embeddings e, rotm r
         |),
         |${vecNormCteFrom("rote")}""".stripMargin
    annIvfPqResidualSqlWith(residualBooksCte(books), Some(pre))
  }

  /** IVF-PQ twin: coarse-quantizer CTEs (cent/asg/probes) prune to
    * NProbe lists per query, ADC tables score only those lists' codes
    * (pq_dist from pqAdcCtes goes unreferenced and is pruned by the
    * optimizer). Shared by the in-memory query and the serving-layout
    * path, which must compute the identical result.
    */
  // lazy: references CTE vals declared further down the object — an
  // eager init would interpolate their still-null values into the SQL.
  // `src` = the corpus relation the PQ CODES encode (the upsert twin
  // encodes the UPDATED corpus; the codebook and query CTEs stay on
  // `embeddings`, whose relevant rows the upsert rule never touches —
  // exactly the frozen-metadata contract).
  // cbsrc: where the stand-in PQ codebook's low-id rows come from —
  // "embeddings" is correct even for the upsert twin (ids < PqK are
  // never upserted), but a ROTATED twin must draw codebook vectors
  // from the rotated source or its geometry is a different index's
  private def annIvfPqBodyFrom(
      src: String,
      qsrc: String = "embeddings",
      cbsrc: String = "embeddings"): String =
    s"""${ivfCtes()},
       |${pqAdcCtesWith(pqcStandInFrom(cbsrc), src, qsrc)},
       |ivfpq AS (
       |  SELECT p.q_id, a.vec_id, CAST(sum(qd.dq) AS BIGINT) AS dist_q
       |  FROM probes p
       |  JOIN asg a USING (c_id)
       |  JOIN pq_codes pc ON pc.vec_id = a.vec_id
       |  JOIN pq_qdt qd ON qd.q_id = p.q_id AND qd.m = pc.m AND qd.k = pc.code
       |  WHERE p.q_id <> a.vec_id
       |  GROUP BY p.q_id, a.vec_id
       |)
       |SELECT q_id, rn, vec_id,
       |  round(CAST(dist_q AS DOUBLE) / 1000000000, 6) AS dist
       |FROM (
       |  SELECT q_id, vec_id, dist_q,
       |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY dist_q, vec_id) AS INTEGER) AS rn
       |  FROM ivfpq)
       |WHERE rn <= ${graft.operators.Ann.K} ORDER BY q_id, rn""".stripMargin

  private lazy val annIvfPqSql: String =
    s"WITH $vecNormCte,\n${annIvfPqBodyFrom("embeddings")}"

  /** Twin of the ROTATED serving layout: corpus and queries rotated by
    * the literal matrix (the same floats the Spark side persisted),
    * then the IDENTICAL stand-in IVF-PQ CTEs over the rotated source —
    * the firstK/PqK codebook CTEs read from `vn`, so rotating `vn`'s
    * source rotates the index geometry exactly as the builder does.
    */
  def annIndexRotatedSql(rot: Array[Array[Float]]): String = {
    val d = rot.length
    val rm = rot
      .map(r => r.map(floatLit).mkString("[", ", ", "]::FLOAT[]"))
      .mkString("[\n    ", ",\n    ", "]")
    s"""WITH rotm AS (SELECT $rm AS rm),
       |rote AS (
       |  SELECT e.vec_id, e.label, list_transform(range($d), ri ->
       |    CAST(list_sum(list_transform(range($d), rj ->
       |      CAST(r.rm[CAST(ri AS INTEGER) + 1][CAST(rj AS INTEGER) + 1] AS DOUBLE)
       |        * CAST(e.embedding[CAST(rj AS INTEGER) + 1] AS DOUBLE))) AS REAL)) AS embedding
       |  FROM embeddings e, rotm r
       |),
       |${vecNormCteFrom("rote")},
       |${annIvfPqBodyFrom("rote", qsrc = "rote", cbsrc = "rote")}""".stripMargin
  }

  /** Twin of the serving index's UPSERT path: the logically-updated
    * corpus — the ids the Spark side re-ingests carry the NEXT id's
    * embedding — fed through the IDENTICAL frozen-metadata IVF-PQ
    * CTEs. The upsert id set is derived by a data-only rule (never a
    * literal list): ids >= 100 keep them out of the stand-in
    * coarse/PQ codebook ranges (< IvfK/PqK), % QueryMod <> 0 keeps
    * them off the query side, and the self-join keeps vec_id+1 in
    * range. Because the codebook CTEs read only those low-id rows,
    * "trained on the original corpus" and "trained on the updated
    * corpus" coincide — exactly the frozen-metadata semantics the
    * index enforces physically.
    */
  private lazy val annIndexUpsertSql: String =
    s"""WITH emb_up AS (
       |  SELECT v.vec_id, v.label,
       |    CASE WHEN u.vec_id IS NOT NULL THEN w.embedding ELSE v.embedding END AS embedding
       |  FROM embeddings v
       |  LEFT JOIN (
       |    SELECT a.vec_id FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
       |    WHERE a.vec_id >= 100 AND a.vec_id % ${graft.operators.Ann.QueryMod} <> 0
       |      AND a.vec_id % 13 = 7
       |  ) u ON u.vec_id = v.vec_id
       |  LEFT JOIN embeddings w ON w.vec_id = v.vec_id + 1
       |),
       |${vecNormCteFrom("emb_up")},
       |${annIvfPqBodyFrom("emb_up")}""".stripMargin

  /** Rebuild twin: the post-upsert corpus piped through the FULL
    * from-scratch index derivation — unlike [[annIndexUpsertSql]]
    * (whose upserts avoid ids < 100 so the frozen geometry survives),
    * the rebuild fixture's upserts MOVE geometry seeds (3 and 10 are
    * inside both the firstK coarse set and the PQ codebook stand-in),
    * so this twin re-derives centroids AND codebook from `emb_rb`.
    * Matching hashes prove [[graft.sinks.Sinks.rebuildAnnIndex]]
    * refit rather than recycled.
    */
  private lazy val annIndexRebuildSql: String =
    s"""WITH emb_rb AS (
       |  SELECT v.vec_id, v.label,
       |    CASE WHEN u.vec_id IS NOT NULL THEN w.embedding ELSE v.embedding END AS embedding
       |  FROM embeddings v
       |  LEFT JOIN (
       |    SELECT a.vec_id FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
       |    WHERE a.vec_id % ${graft.operators.Ann.QueryMod} <> 0 AND a.vec_id % 7 = 3
       |  ) u ON u.vec_id = v.vec_id
       |  LEFT JOIN embeddings w ON w.vec_id = v.vec_id + 1
       |),
       |${vecNormCteFrom("emb_rb")},
       |${annIvfPqBodyFrom("emb_rb", cbsrc = "emb_rb")}""".stripMargin

  private def annTopkSql(bucketed: Boolean): String = {
    val corpus =
      if (bucketed)
        s"vb AS (SELECT vn.*, $bucketExpr AS bucket FROM vn)"
      else "vb AS (SELECT vn.*, 0 AS bucket FROM vn)"
    val joinCond =
      if (bucketed) "q.bucket = v.bucket AND q.q_id <> v.vec_id"
      else "q.q_id <> v.vec_id"
    s"""WITH $vecNormCte,
       |$corpus,
       |q AS (SELECT vec_id AS q_id, embedding AS qe, norm AS qnorm, bucket
       |      FROM vb WHERE vec_id % ${graft.operators.Ann.QueryMod} = 0),
       |scored AS (
       |  SELECT q.q_id, v.vec_id,
       |    $cosExpr AS cos_raw
       |  FROM q JOIN vb v ON $joinCond
       |),
       |rk AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |              ORDER BY cos_raw DESC, vec_id) AS INTEGER) AS rn
       |  FROM scored
       |)""".stripMargin
  }

  /** P7 ymd twin of [[graft.operators.Metrics.ymd]] — fully inlined. */
  def ymdSql(v: String): String = {
    val y0 = s"CAST(floor(($v) / 365.0) AS BIGINT)"
    val m0 = s"CAST(floor((($v) % 365) / 30.0) AS BIGINT)"
    val d0 = s"((($v) % 365) % 30)"
    val cond1 = s"($y0 > 0 OR $m0 > 6)"
    val m1 = s"(CASE WHEN $cond1 AND $d0 > 15 THEN $m0 + 1 ELSE $m0 END)"
    val d1 = s"(CASE WHEN $cond1 THEN 0 ELSE $d0 END)"
    val y2 = s"(CASE WHEN $m1 = 12 THEN $y0 + 1 ELSE $y0 END)"
    val m2 = s"(CASE WHEN $m1 = 12 THEN 0 ELSE $m1 END)"
    s"concat(CASE WHEN $y2 > 0 THEN CAST($y2 AS VARCHAR) || 'y' ELSE '' END, " +
      s"CASE WHEN $m2 > 0 THEN CAST($m2 AS VARCHAR) || 'm' ELSE '' END, " +
      s"CASE WHEN $d1 > 0 THEN CAST($d1 AS VARCHAR) || 'd' ELSE '' END)"
  }

  private def spanMetricsSql: String = {
    val agg =
      """agg AS (
        |  SELECT url,
        |    CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(CASE WHEN call > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
        |    CAST(sum(CASE WHEN filled THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
        |    min(day) AS first_day,
        |    max(CASE WHEN call > 0 THEN day END) AS last_active_day,
        |    CAST(sum(call) AS BIGINT) AS captures,
        |    round(CAST(sum(c2xx) AS DOUBLE) / CAST(sum(call) AS DOUBLE) * 100, 6) AS ok_pct,
        |    max_by(datetime, CASE WHEN call > 0 THEN day END) AS last_dt
        |  FROM densified GROUP BY url
        |)""".stripMargin
    s""", $agg
       |SELECT url, n_days, n_active, n_filled,
       |  n_days - n_active AS n_gaps,
       |  first_day, last_active_day,
       |  CAST(datediff('day', CAST(last_active_day AS DATE), DATE '$AsOf') AS BIGINT) AS inactive,
       |  ${ymdSql("n_days")} AS span_ymd,
       |  CASE WHEN datediff('day', CAST(last_active_day AS DATE), DATE '$AsOf') = 0
       |       THEN 'Today'
       |       ELSE ${ymdSql(s"datediff('day', CAST(last_active_day AS DATE), DATE '$AsOf')")}
       |  END AS last_ymd,
       |  captures, ok_pct,
       |  CASE WHEN last_dt <> '~'
       |       THEN 'https://web.archive.org/web' || '/' || last_dt || '/' || url
       |       ELSE '#' END AS last_urim
       |FROM agg ORDER BY url""".stripMargin
  }

  /** S1 twin: the stateful sigmoid recurrence replayed as a RECURSIVE
    * CTE — one step per (url, day index), carrying the exact loop state
    * (prev specimen/content, x, base, scale, h for both dimensions).
    * The parameter VALUES table and every expression are generated from
    * the same SigParams.defaults the Spark side uses. Mirrors
    * Score.scoreSeries / reference main.py:194-227 including the
    * re-basing on state change and the junk-specimen '~' fallback.
    */
  private def scoredRecCtes(
      fillPolicy: String,
      asOf: String,
      capturesSrc: String = capturesCte): String = {
    val params = graft.model.SigParams.defaults.toSeq.sortBy(_._1)
      .map { case (k, p) => s"('$k', ${p.shift}, ${p.slope}, ${p.spread})" }
      .mkString(",\n    ")
    val chgS = "d.specimen <> r.ps"
    val chgC = "d.content <> r.pcc"
    val nx = s"(CASE WHEN $chgS THEN 1 ELSE r.x + 1 END)"
    val nbase = s"(CASE WHEN $chgS THEN r.h ELSE r.base END)"
    val nscale =
      s"(CASE WHEN $chgS THEN (CASE WHEN d.s_spread < 0 THEN r.h ELSE 1 - r.h END) ELSE r.scale END)"
    val nh = s"$nbase + $nscale * (d.s_spread / (1 + exp(d.s_shift - CAST($nx AS DOUBLE) / d.s_slope)))"
    val nxc = s"(CASE WHEN $chgC THEN 1 ELSE r.xc + 1 END)"
    val nbasec = s"(CASE WHEN $chgC THEN r.hc ELSE r.basec END)"
    val nscalec =
      s"(CASE WHEN $chgC THEN (CASE WHEN d.c_spread < 0 THEN r.hc ELSE 1 - r.hc END) ELSE r.scalec END)"
    val nhc = s"$nbasec + $nscalec * (d.c_spread / (1 + exp(d.c_shift - CAST($nxc AS DOUBLE) / d.c_slope)))"
    s"""WITH RECURSIVE $capturesSrc,
       |$enrichedCte,
       |$dailyCte,
       |${filledCte(fillPolicy)},
       |${densifiedCteAt(asOf)},
       |pt(key, shift, slope, spread) AS (VALUES
       |    $params),
       |days AS MATERIALIZED (
       |  SELECT d0.*,
       |    coalesce(ps_.shift, tld.shift) AS s_shift,
       |    coalesce(ps_.slope, tld.slope) AS s_slope,
       |    coalesce(ps_.spread, tld.spread) AS s_spread,
       |    pc_.shift AS c_shift, pc_.slope AS c_slope, pc_.spread AS c_spread
       |  FROM (
       |    SELECT url, day, datetime, specimen, content, digest,
       |      c2xx, c3xx, c4xx, c5xx, call, filled, chaos, chaosn,
       |      row_number() OVER (PARTITION BY url ORDER BY day) AS i
       |    FROM densified
       |  ) d0
       |  LEFT JOIN pt ps_ ON ps_.key = d0.specimen
       |  LEFT JOIN pt pc_ ON pc_.key = d0.content
       |  CROSS JOIN (SELECT shift, slope, spread FROM pt WHERE key = '~') tld
       |),
       |rec AS (
       |  SELECT url, CAST(0 AS BIGINT) AS i,
       |    CAST(NULL AS VARCHAR) AS day, CAST(NULL AS VARCHAR) AS specimen,
       |    CAST(NULL AS VARCHAR) AS content,
       |    CAST(NULL AS DOUBLE) AS chaos, CAST(NULL AS DOUBLE) AS chaosn,
       |    '~' AS ps, CAST(0 AS BIGINT) AS x,
       |    CAST(0.5 AS DOUBLE) AS base, CAST(0.5 AS DOUBLE) AS scale,
       |    CAST(0.5 AS DOUBLE) AS h,
       |    'Unknown' AS pcc, CAST(0 AS BIGINT) AS xc,
       |    CAST(0.5 AS DOUBLE) AS basec, CAST(0.5 AS DOUBLE) AS scalec,
       |    CAST(0.5 AS DOUBLE) AS hc
       |  FROM (SELECT DISTINCT url FROM days)
       |  UNION ALL
       |  SELECT d.url, d.i, d.day, d.specimen, d.content, d.chaos, d.chaosn,
       |    d.specimen AS ps, $nx AS x, $nbase AS base, $nscale AS scale,
       |    $nh AS h,
       |    d.content AS pcc, $nxc AS xc, $nbasec AS basec, $nscalec AS scalec,
       |    $nhc AS hc
       |  FROM rec r JOIN days d ON d.url = r.url AND d.i = r.i + 1
       |)""".stripMargin
  }

  /** Full scored-table final select over the recursive scaffold. */
  private def scoredSelect: String =
    """SELECT r.url, r.day, d2.datetime, d2.c2xx, d2.c3xx, d2.c4xx, d2.c5xx,
      |  d2.call, r.specimen, d2.filled,
      |  round(r.h, 6) AS resilience, d2.digest, r.content,
      |  round(r.hc, 6) AS fixity, r.chaos, r.chaosn
      |FROM rec r JOIN days d2 ON d2.url = r.url AND d2.i = r.i
      |WHERE r.i > 0 ORDER BY r.url, r.day""".stripMargin

  private def scoreSeriesSql: String =
    s"""${scoredRecCtes("forward", AsOf)}
       |SELECT url, day, specimen, content,
       |  round(h, 6) AS resilience, round(hc, 6) AS fixity, chaos, chaosn
       |FROM rec WHERE i > 0 ORDER BY url, day""".stripMargin

  private def scoredSql: String =
    s"""${scoredRecCtes("forward", AsOf)}
       |$scoredSelect""".stripMargin

  /** Twin of Queries.streamingScored: the scored table restricted to
    * each url's observed-day prefix (the incremental scorer emits a day
    * only once it closes — trailing densified days never stream out).
    */
  private def streamingScoredSql: String =
    s"""${scoredRecCtes("forward", AsOf)}
       |SELECT r.url, r.day, d2.datetime, d2.c2xx, d2.c3xx, d2.c4xx, d2.c5xx,
       |  d2.call, r.specimen, d2.filled,
       |  round(r.h, 6) AS resilience, d2.digest, r.content,
       |  round(r.hc, 6) AS fixity, r.chaos, r.chaosn
       |FROM rec r JOIN days d2 ON d2.url = r.url AND d2.i = r.i
       |WHERE r.i > 0
       |  AND r.day <= (SELECT max(m.day) FROM daily m WHERE m.url = r.url)
       |ORDER BY r.url, r.day""".stripMargin

  /** Synthetic 1M-capture generator twin of Queries.scoredScale. */
  private def scaleCapturesCte: String =
    """captures AS (
      |  SELECT 'u' || CAST(id % 200 AS VARCHAR) AS url,
      |    strftime(to_timestamp(1704067200 + (id // 200) % 45 * 86400
      |                          + (id * 7919) % 86400), '%Y%m%d%H%M%S') AS ts,
      |    CASE WHEN id % 13 = 0 THEN '-'
      |         WHEN id % 7 = 0 THEN '404'
      |         WHEN id % 5 = 0 THEN '503'
      |         WHEN id % 3 = 0 THEN '301'
      |         ELSE '200' END AS status,
      |    md5('g' || CAST(id % 200 AS VARCHAR) || CAST(id % 9 AS VARCHAR)) AS digest,
      |    id AS seq
      |  FROM range(1000000) t(id)
      |)""".stripMargin

  private def scoredScaleSql: String =
    s"""${scoredRecCtes("forward", "2024-04-01", scaleCapturesCte)}
       |$scoredSelect""".stripMargin

  /** Headline metrics twin over the recursive scaffold (main.py:393-405
    * semantics as implemented in Metrics.headline).
    */
  private def metricsSql: String =
    s"""${scoredRecCtes("forward", AsOf)},
       |agg AS (
       |  SELECT url, CAST(count(*) AS BIGINT) AS n_days,
       |    CAST(sum(CASE WHEN call > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_active,
       |    CAST(sum(CASE WHEN filled THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
       |    CAST(sum(CASE WHEN content = 'Changed' THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       |    CAST(sum(call) AS BIGINT) AS captures,
       |    CAST(sum(c2xx) AS BIGINT) AS ok,
       |    max(i) AS mi
       |  FROM days GROUP BY url
       |)
       |SELECT a.url, lastd.day AS last_day, a.captures,
       |  round(CAST(a.ok AS DOUBLE) / a.captures * 100, 6) AS ok_pct,
       |  ${ymdSql("a.n_days")} AS span_ymd,
       |  a.n_days - a.n_active AS n_gaps, a.n_filled,
       |  round(lastr.h, 6) AS resilience,
       |  round(round(lastr.h, 6) - round(prevr.h, 6), 6) AS res_delta,
       |  round(lastr.hc, 6) AS fixity,
       |  round(CAST(a.n_changed AS DOUBLE) / a.n_active * 100, 6) AS changed_pct,
       |  round(lastr.chaos, 6) AS chaos, round(lastr.chaosn, 6) AS chaosn,
       |  CASE WHEN lastd.datetime <> '~'
       |       THEN 'https://web.archive.org/web' || '/' || lastd.datetime || '/' || a.url
       |       ELSE '#' END AS urim
       |FROM agg a
       |JOIN rec lastr ON lastr.url = a.url AND lastr.i = a.mi
       |JOIN rec prevr ON prevr.url = a.url AND prevr.i = a.mi - 1
       |JOIN days lastd ON lastd.url = a.url AND lastd.i = a.mi
       |ORDER BY a.url""".stripMargin

  /** Twin of [[graft.operators.Ann.embDecontaminate]] AND the
    * ingest-time stream over bounded input (`streaming_emb_
    * decontaminate`) — both run [[graft.operators.Ann.embContamFp]],
    * so one SQL covers both rows.
    */
  /** Semantic-decontamination CTE chain (sem_-prefixed so it composes
    * into the pipeline twin without name collisions), ending in
    * `semdec(vec_id, n_bench, max_cos_fp, max_cos, contaminated)`.
    * Callers must include [[vecNormCte]] first.
    */
  private lazy val embDecontCtes: String =
    s"""sem_bench AS (
       |  SELECT vec_id AS b_id, embedding AS be, norm AS bnorm
       |  FROM vn WHERE vec_id % ${graft.operators.Corpus.BenchmarkMod} = 0
       |),
       |sem_corp AS (
       |  SELECT vec_id, embedding, norm FROM vn
       |  WHERE vec_id % ${graft.operators.Corpus.BenchmarkMod} <> 0
       |),
       |sem_p AS (
       |  SELECT c.vec_id,
       |    CASE WHEN c.norm = 0 THEN CAST(0 AS BIGINT)
       |      ELSE CAST(round(${cosSql("b.be", "c.embedding", "b.bnorm", "c.norm")} * 1000000000) AS BIGINT)
       |    END AS cos_fp
       |  FROM sem_corp c CROSS JOIN sem_bench b
       |),
       |sem_agg AS (
       |  SELECT vec_id, CAST(count(*) AS BIGINT) AS n_bench,
       |    CAST(max(cos_fp) AS BIGINT) AS max_cos_fp
       |  FROM sem_p GROUP BY vec_id
       |),
       |semdec AS (
       |  SELECT vec_id, n_bench, max_cos_fp,
       |    round(CAST(max_cos_fp AS DOUBLE) / 1e9, 6) AS max_cos,
       |    max_cos_fp >= ${graft.operators.Ann.EmbContamCosFp} AS contaminated
       |  FROM sem_agg
       |)""".stripMargin

  private lazy val embDecontSql: String =
    s"""WITH $vecNormCte,
       |$embDecontCtes
       |SELECT vec_id, n_bench, max_cos_fp, max_cos, contaminated
       |FROM semdec ORDER BY vec_id""".stripMargin

  private def cosSql(a: String, b: String, na: String, nb: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / ($na * $nb)""".stripMargin

  /** A perceptual pair twin: the `banded` CTE's self-join, Hamming
    * verified at `kernel`'s gate — DISTINCT (doc_a, doc_b, hamming)
    * for the batch operator, or one row per colliding band
    * (`perBand`) for the ingest-time fold over bounded input (each doc
    * holds one key per band, so a pair appears at most once per band
    * on both sides). `joinPad` indents the join's continuation line
    * as each twin has always printed it, keeping the emitted SQL text
    * stable across builds.
    */
  private def hammingPairsSql(
      ctes: String, banded: String, kernel: Multimodal.Kernel,
      perBand: Boolean, joinPad: Int): String = {
    val (select, order) =
      if (perBand)
        ("SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(a.band AS INTEGER) AS band,",
          "ORDER BY doc_a, doc_b, band")
      else ("SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,", "ORDER BY doc_a, doc_b")
    s"""WITH $ctes
       |$select
       |  CAST(bit_count(xor(a.ph_lo, b.ph_lo))
       |     + bit_count(xor(a.ph_hi, b.ph_hi)) AS INTEGER) AS hamming
       |FROM $banded a JOIN $banded b ON a.band = b.band AND a.key = b.key
       |${" " * joinPad}AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.ph_lo, b.ph_lo))
       |    + bit_count(xor(a.ph_hi, b.ph_hi)) <= ${kernel.gate}
       |$order""".stripMargin
  }

  /** dHash twin CTEs ([[graft.operators.Multimodal.Image]] kernel):
    * the ASCII-projected payload replayed char-by-char — bucket index
    * by integer division, adjacent-average compare by integer
    * cross-multiplication, exactly the kernel's arithmetic (no float
    * anywhere). Ends in `ph(doc_id, ph_hi, ph_lo)`; docs with zero set
    * bits are absent — callers LEFT JOIN and coalesce to 0. An empty
    * bucket (short doc) forms no adjacent pair here and compares false
    * in the kernel — same bit either way.
    */
  private val docPaySql: String =
    // RE2 matches the negated class once per CODEPOINT — and so does
    // Spark's Java regex (Pattern is codepoint-aware since Java 5), so
    // a supplementary character becomes ONE '_' on both engines;
    // MultimodalSpec pins the Spark side. Payload lengths agree on any
    // input, BMP or astral.
    "SELECT doc_id, regexp_replace(text, '[^\\x20-\\x7e]', '_', 'g') AS s FROM documents"

  /** Text payloads plus the planted smooth signals and their strided
    * copies ([[graft.operators.Multimodal.plantedResampledPayloads]]):
    * md5-keyed level blocks rendered with chr(), resample by substr —
    * the same bytes the Spark generator emits.
    */
  private val plantedPaySql: String = {
    val every = graft.operators.Multimodal.PlantEvery
    val minLen = graft.operators.Multimodal.PlantMinLen
    val blocks = graft.operators.Multimodal.PlantBlocks
    val stride = graft.operators.Multimodal.ResizeStride
    val genSelect =
      s"""SELECT doc_id + ${graft.operators.Multimodal.PlantIdBase} AS doc_id,
         |      list_aggregate(list_transform(range($minLen + doc_id), j ->
         |        chr(CAST(32 + CAST(('0x' || substr(md5(doc_id || ':' || ((j * $blocks) // ($minLen + doc_id))), 1, 2)) AS INTEGER) % 64 AS INTEGER))),
         |        'string_agg', '') AS s
         |    FROM documents WHERE doc_id % $every = 0""".stripMargin
    s"""$docPaySql
       |  UNION ALL
       |  $genSelect
       |  UNION ALL
       |  SELECT p.doc_id
       |      + ${graft.operators.Multimodal.PlantStrideIdBase - graft.operators.Multimodal.PlantIdBase} AS doc_id,
       |    list_aggregate(list_transform(range((length(p.s) + ${stride - 1}) // $stride), i ->
       |      substr(p.s, CAST(i * $stride + 1 AS INTEGER), 1)), 'string_agg', '') AS s
       |  FROM ($genSelect) p""".stripMargin
  }

  /** The perceptual-hash band relation over the planted payload set —
    * shared by the near-dup pair twin and the cluster twin.
    */
  private lazy val mmBandedCtes: String =
    s"""${phashCtes(plantedPaySql)},
       |banded0 AS (
       |  SELECT doc_id, ph_hi, ph_lo, band,
       |    CASE WHEN band < 2 THEN (ph_lo >> (band * 16)) & 65535
       |         ELSE (ph_hi >> ((band - 2) * 16)) & 65535 END AS key
       |  FROM full_ph, unnest(range(4)) t(band)
       |),
       |${capCte("banded0", "banded", Seq("band", "key"), "doc_id")}""".stripMargin

  /** The audio fingerprint relation, replayed with NO byte-level
    * container at all ([[graft.operators.Multimodal.audioDHash]]):
    * PCM frames come straight from the synth formulas — the text-
    * audio negatives decode ASCII pairs as little-endian 16-bit words
    * summed across channels (stereo for odd doc_ids, the
    * `withAudioPayload` parameters), the planted rows replay md5
    * amplitude blocks, the strided rows sample every 2nd position of
    * the same formula — then bucket by `(k·65)//n`, energy-sum, and
    * sign-of-delta pack exactly as the Spark kernel does over REAL
    * WAV bytes. Equality is the proof the container scan + PCM decode
    * is real. Clips under 65 frames drop on both sides (the
    * sub-signature-length gate). Ends in `full_aph(doc_id, ph_hi,
    * ph_lo)` and `abanded(doc_id, ph_hi, ph_lo, band, key)`.
    */
  /** The audio PCM frame relation (doc_id, k, n, v) over all three
    * synth sources, replayed with no container bytes — shared by the
    * fingerprint chain (which gates clips under the bucket grid) and
    * the resample twin (which takes every decodable clip, so
    * `minFrames` = 1 there).
    */
  private def audioFrameCtes(minFrames: Int): String = {
    val every = graft.operators.Multimodal.PlantEvery
    val minLen = graft.operators.Multimodal.AudioPlantMinLen
    val blocks = graft.operators.Multimodal.AudioPlantBlocks
    val idBase = graft.operators.Multimodal.AudioPlantIdBase
    val strideBase = graft.operators.Multimodal.AudioStrideIdBase
    val stride = graft.operators.Multimodal.AudioStride
    s"""atxt AS (
       |  SELECT doc_id, s, 1 + doc_id % 2 AS ch,
       |         length(s) // (2 * (1 + doc_id % 2)) AS n
       |  FROM ($docPaySql)
       |  WHERE length(s) // (2 * (1 + doc_id % 2)) >= $minFrames
       |),
       |atf AS (
       |  SELECT t.doc_id, k.k AS k, t.n,
       |    CAST(sum(ord(substr(t.s, CAST(t.ch * 2 * k.k + 2 * c.c + 1 AS INTEGER), 1))
       |       + 256 * ord(substr(t.s, CAST(t.ch * 2 * k.k + 2 * c.c + 2 AS INTEGER), 1))) AS BIGINT) AS v
       |  FROM atxt t,
       |    LATERAL unnest(range(t.n)) k(k),
       |    LATERAL unnest(range(t.ch)) c(c)
       |  GROUP BY t.doc_id, k.k, t.n
       |),
       |apl AS (
       |  SELECT doc_id, $minLen + doc_id AS n FROM documents WHERE doc_id % $every = 0
       |),
       |apf AS (
       |  SELECT doc_id + $idBase AS doc_id, j.j AS k, n,
       |    CAST(1000 + (CAST(('0x' || substr(md5('a' || doc_id || ':' ||
       |      ((j.j * $blocks) // n)), 1, 2)) AS INTEGER) % 64) * 100 AS BIGINT) AS v
       |  FROM apl, LATERAL unnest(range(n)) j(j)
       |),
       |asf AS (
       |  SELECT doc_id + $strideBase AS doc_id, i.i AS k, (n + ${stride - 1}) // $stride AS n,
       |    CAST(1000 + (CAST(('0x' || substr(md5('a' || doc_id || ':' ||
       |      ((i.i * $stride * $blocks) // n)), 1, 2)) AS INTEGER) % 64) * 100 AS BIGINT) AS v
       |  FROM apl, LATERAL unnest(range((n + ${stride - 1}) // $stride)) i(i)
       |),
       |afr AS (
       |  SELECT * FROM atf UNION ALL SELECT * FROM apf UNION ALL SELECT * FROM asf
       |),
       |aids AS (
       |  SELECT doc_id FROM atxt
       |  UNION ALL SELECT doc_id + $idBase FROM apl
       |  UNION ALL SELECT doc_id + $strideBase FROM apl
       |),
       |arate AS (
       |  SELECT d.doc_id, CAST(8000 + (d.n_chars % 3) * 4000 AS BIGINT) AS rate
       |  FROM documents d JOIN atxt USING (doc_id)
       |  UNION ALL SELECT doc_id + $idBase, CAST(8000 AS BIGINT) FROM apl
       |  UNION ALL SELECT doc_id + $strideBase, CAST(${8000 / stride} AS BIGINT) FROM apl
       |)""".stripMargin
  }

  private lazy val audioBandedCtes: String = {
    val nb = graft.operators.Multimodal.PhashBuckets
    s"""${audioFrameCtes(nb)},
       |abk AS (
       |  SELECT doc_id, (k * $nb) // n AS b,
       |    CAST(sum(abs(v)) AS BIGINT) AS sv, CAST(count(*) AS BIGINT) AS cnt
       |  FROM afr GROUP BY doc_id, b
       |),
       |abits AS (
       |  SELECT b0.doc_id, b0.b AS bit
       |  FROM abk b0 JOIN abk b1 ON b1.doc_id = b0.doc_id AND b1.b = b0.b + 1
       |  WHERE b1.sv * b0.cnt > b0.sv * b1.cnt
       |),
       |aph AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN bit >= 32 THEN (1::BIGINT << CAST(bit - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS ph_hi,
       |    CAST(sum(CASE WHEN bit < 32 THEN (1::BIGINT << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS ph_lo
       |  FROM abits GROUP BY doc_id
       |),
       |full_aph AS (
       |  SELECT i.doc_id,
       |    CAST(COALESCE(h.ph_hi, 0) AS BIGINT) AS ph_hi,
       |    CAST(COALESCE(h.ph_lo, 0) AS BIGINT) AS ph_lo
       |  FROM aids i LEFT JOIN aph h USING (doc_id)
       |),
       |abanded0 AS (
       |  SELECT doc_id, ph_hi, ph_lo, band,
       |    CASE WHEN band < 2 THEN (ph_lo >> (band * 16)) & 65535
       |         ELSE (ph_hi >> ((band - 2) * 16)) & 65535 END AS key
       |  FROM full_aph, unnest(range(4)) t(band)
       |),
       |${capCte("abanded0", "abanded", Seq("band", "key"), "doc_id")}""".stripMargin
  }

  /** The SPECTRAL (autocorrelation-bank) audio twins' CTEs, ending in
    * `full_sph(doc_id, ph_hi, ph_lo)` and the capped `sbanded`. The
    * payload set is text-synth WAVs (min [[graft.operators.Multimodal
    * .SpectralMinFrames]] frames) plus the planted recording +
    * padded-constant-pitch-stretch pairs — all replayed from synth
    * FORMULAS (square-wave tones at md5 periods × md5 envelope
    * blocks; silence pads are simply absent rows, contributing zero
    * to every lag product exactly as zero samples do), then the
    * integer lag products Σ v(k)·v(k+L) for L in [2, 66] and 64
    * count-normalized adjacent-delta bits (HUGEINT cross-mults — the
    * Spark side compares in BigInt).
    */
  private lazy val audioSpectralCtes: String = {
    val M = graft.operators.Multimodal
    val every = M.PlantEvery
    val minLen = M.AudioPlantMinLen
    val minF = M.SpectralMinFrames
    val lag0 = M.SpectralLagBase
    val step = M.SpectralLagStep
    val nl = M.SpectralLagCount
    val maxLag = lag0 + step * (nl - 1)
    val tones = M.AudioStretchTones
    val envB = M.AudioStretchEnvBlocks
    val origBase = M.AudioStretchOrigIdBase
    val strBase = M.AudioStretchIdBase
    s"""satxt AS (
       |  SELECT doc_id, s, 1 + doc_id % 2 AS ch,
       |         length(s) // (2 * (1 + doc_id % 2)) AS n
       |  FROM ($docPaySql)
       |  WHERE length(s) // (2 * (1 + doc_id % 2)) >= $minF
       |),
       |satf AS (
       |  SELECT t.doc_id, k.k AS k, t.n AS nf,
       |    CAST(sum(ord(substr(t.s, CAST(t.ch * 2 * k.k + 2 * c.c + 1 AS INTEGER), 1))
       |       + 256 * ord(substr(t.s, CAST(t.ch * 2 * k.k + 2 * c.c + 2 AS INTEGER), 1))) AS BIGINT) AS v
       |  FROM satxt t,
       |    LATERAL unnest(range(t.n)) k(k),
       |    LATERAL unnest(range(t.ch)) c(c)
       |  GROUP BY t.doc_id, k.k, t.n
       |),
       |spl AS (
       |  SELECT doc_id, $minLen + doc_id AS n FROM documents WHERE doc_id % $every = 0
       |),
       |sper AS (
       |  SELECT doc_id, m.m AS m,
       |    40 + CAST(('0x' || substr(md5('sp' || doc_id || ':' || m.m), 1, 2)) AS INTEGER) % 91 AS p,
       |    1 + CAST(('0x' || substr(md5('sp' || doc_id || ':' || m.m), 3, 2)) AS INTEGER) % 3 AS a,
       |    CAST(('0x' || substr(md5('sp' || doc_id || ':' || m.m), 5, 4)) AS INTEGER)
       |      % (40 + CAST(('0x' || substr(md5('sp' || doc_id || ':' || m.m), 1, 2)) AS INTEGER) % 91) AS ph
       |  FROM spl, LATERAL unnest(range($tones)) m(m)
       |),
       |stone_o AS (
       |  SELECT s.doc_id, j.j AS k,
       |    CAST(sum(CASE WHEN ((j.j + p.ph) % p.p) * 2 < p.p THEN p.a ELSE -p.a END) AS BIGINT) AS tone
       |  FROM spl s JOIN sper p USING (doc_id), LATERAL unnest(range(s.n)) j(j)
       |  GROUP BY s.doc_id, j.j
       |),
       |sso AS (
       |  SELECT t.doc_id + $origBase AS doc_id, t.k AS k, s.n AS nf,
       |    CAST((1200 + CAST(('0x' || substr(md5('se' || t.doc_id || ':' ||
       |      ((t.k * $envB) // s.n)), 1, 2)) AS INTEGER) % 64 * 8) * t.tone AS BIGINT) AS v
       |  FROM stone_o t JOIN spl s USING (doc_id)
       |),
       |stone_s AS (
       |  SELECT s.doc_id, i.i AS i,
       |    CAST(sum(CASE WHEN ((i.i + p.ph) % p.p) * 2 < p.p THEN p.a ELSE -p.a END) AS BIGINT) AS tone
       |  FROM spl s JOIN sper p USING (doc_id),
       |    LATERAL unnest(range((s.n * 11) // 10)) i(i)
       |  GROUP BY s.doc_id, i.i
       |),
       |sss AS (
       |  SELECT t.doc_id + $strBase AS doc_id,
       |    (3 * s.n) // 20 + t.i AS k,
       |    (3 * s.n) // 20 + (s.n * 11) // 10 + s.n // 20 AS nf,
       |    CAST((1200 + CAST(('0x' || substr(md5('se' || t.doc_id || ':' ||
       |      ((t.i * $envB) // ((s.n * 11) // 10))), 1, 2)) AS INTEGER) % 64 * 8) * t.tone AS BIGINT) AS v
       |  FROM stone_s t JOIN spl s USING (doc_id)
       |),
       |sfr AS (
       |  SELECT doc_id, k, nf, v FROM satf
       |  UNION ALL SELECT doc_id, k, nf, v FROM sso
       |  UNION ALL SELECT doc_id, k, nf, v FROM sss
       |),
       |sids AS (SELECT DISTINCT doc_id, nf FROM sfr),
       |sac AS (
       |  SELECT a.doc_id, b.k - a.k AS lag, CAST(sum(a.v * b.v) AS BIGINT) AS ac
       |  FROM sfr a JOIN sfr b
       |    ON b.doc_id = a.doc_id AND b.k >= a.k + $lag0 AND b.k <= a.k + $maxLag
       |   AND (b.k - a.k - $lag0) % $step = 0
       |  GROUP BY a.doc_id, b.k - a.k
       |),
       |sbits AS (
       |  SELECT a0.doc_id, CAST((a0.lag - $lag0) // $step AS INTEGER) AS bit
       |  FROM sac a0
       |  JOIN sac a1 ON a1.doc_id = a0.doc_id AND a1.lag = a0.lag + $step
       |  JOIN sids d ON d.doc_id = a0.doc_id
       |  WHERE CAST(a1.ac AS HUGEINT) * (d.nf - a0.lag)
       |      > CAST(a0.ac AS HUGEINT) * (d.nf - a1.lag)
       |),
       |sph AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN bit >= 32 THEN (1::BIGINT << CAST(bit - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS ph_hi,
       |    CAST(sum(CASE WHEN bit < 32 THEN (1::BIGINT << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS ph_lo
       |  FROM sbits GROUP BY doc_id
       |),
       |full_sph AS (
       |  SELECT i.doc_id,
       |    CAST(COALESCE(h.ph_hi, 0) AS BIGINT) AS ph_hi,
       |    CAST(COALESCE(h.ph_lo, 0) AS BIGINT) AS ph_lo
       |  FROM sids i LEFT JOIN sph h USING (doc_id)
       |),
       |sbanded0 AS (
       |  SELECT doc_id, ph_hi, ph_lo, band,
       |    CASE WHEN band < 2 THEN (ph_lo >> (band * 16)) & 65535
       |         ELSE (ph_hi >> ((band - 2) * 16)) & 65535 END AS key
       |  FROM full_sph, unnest(range(4)) t(band)
       |),
       |${capCte("sbanded0", "sbanded", Seq("band", "key"), "doc_id")}""".stripMargin
  }

  /** The video spectral twin: the [[audioSpectralCtes]] lag algebra
    * over per-frame luma-sum DELTAS. Value series replayed from
    * formulas (flicker negatives: one 2×2 constant-luma frame per
    * payload byte, luma sum 4·ord(char k); plants: the md5-seeded
    * periodic pseudo-noise luma loop at ODD period p = 41 + 2·(md5
    * ("vs"‖id) % 11) — per residue class j0 the level is the pinned
    * splice floor when j0 ∈ {0, p−1} and floor + md5("vn"‖id‖":"‖j0)
    * % 981 otherwise, exactly [[graft.operators.Multimodal
    * .videoPlantPeriod]] / `videoPlantLevel`; each frame k replays
    * level(k % p). The stretched cut replays a whole number of loops
    * over 1.1× the length, and its black pads enter as two
    * zero-value sentinel rows so the consecutive-row delta join
    * emits exactly the boundary spikes — every other pad delta is
    * zero and zero products drop from the lag sums identically on
    * both engines. Normalization counts are content-independent
    * (nd − lag), carried per doc. Ends in `full_vsph` + capped
    * `vsbanded`.
    */
  /** Shared CTEs for the tiled-image rows, ending in `th` (doc_id,
    * tile_x, tile_y, th_hi, th_lo): the planted grid AND its
    * tile-aligned crop replayed from [[graft.operators.Multimodal
    * .pxPlantValue]]'s md5 formula (grayscale ⇒ BT.601 luma is the
    * identity), box-summed per 12×8 tile into the 9×8 grid, bits by
    * integer cross-multiplication — the per-tile mirror of the
    * mm_phash_px replay.
    */
  private lazy val tileHashCtes: String = {
    val M = graft.operators.Multimodal
    val pe = M.PxPlantEvery
    val (w, h) = (M.PxImgW, M.PxImgH)
    val (cw, ch) = (M.PxCropW, M.PxCropH)
    val (ox, oy) = (M.PxCropX, M.PxCropY)
    val cb = M.PxCropIdBase
    val (tw, tileH) = (M.TileW, M.TileH)
    val (gw, gh) = (M.PxGridW, M.PxGridH)
    s"""timgs AS (
       |  SELECT doc_id, doc_id AS src, $w AS w, $h AS h, 0 AS ox, 0 AS oy
       |  FROM documents WHERE doc_id % $pe = 0
       |  UNION ALL
       |  SELECT doc_id + $cb, doc_id, $cw, $ch, $ox, $oy
       |  FROM documents WHERE doc_id % $pe = 0
       |),
       |tpx AS (
       |  SELECT i.doc_id, x.x AS x, y.y AS y,
       |    CAST(('0x' || substr(md5(CAST(i.src AS VARCHAR) || '_' ||
       |      CAST(x.x + i.ox AS VARCHAR) || '_' ||
       |      CAST(y.y + i.oy AS VARCHAR)), 1, 2)) AS BIGINT) AS v
       |  FROM timgs i,
       |       LATERAL unnest(range(i.w)) x(x),
       |       LATERAL unnest(range(i.h)) y(y)
       |),
       |tcell AS (
       |  SELECT doc_id, CAST(x // $tw AS INT) AS tx, CAST(y // $tileH AS INT) AS ty,
       |    CAST(((x % $tw) * $gw) // $tw AS INT) AS bx,
       |    CAST(((y % $tileH) * $gh) // $tileH AS INT) AS by,
       |    v
       |  FROM tpx
       |),
       |tblk AS (
       |  SELECT doc_id, tx, ty, by, bx,
       |    CAST(sum(v) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
       |  FROM tcell GROUP BY 1, 2, 3, 4, 5
       |),
       |tbits AS (
       |  SELECT a.doc_id, a.tx, a.ty, a.by * ${gw - 1} + a.bx AS bi
       |  FROM tblk a JOIN tblk n ON n.doc_id = a.doc_id AND n.tx = a.tx
       |    AND n.ty = a.ty AND n.by = a.by AND n.bx = a.bx + 1
       |  WHERE a.bx < ${gw - 1} AND n.s * a.c > a.s * n.c
       |),
       |th AS (
       |  SELECT t.doc_id, t.tx AS tile_x, t.ty AS tile_y,
       |    CAST(coalesce(sum(CASE WHEN b.bi >= 32
       |      THEN CAST(1 AS BIGINT) << CAST(b.bi - 32 AS INTEGER) END), 0) AS BIGINT) AS th_hi,
       |    CAST(coalesce(sum(CASE WHEN b.bi < 32
       |      THEN CAST(1 AS BIGINT) << CAST(b.bi AS INTEGER) END), 0) AS BIGINT) AS th_lo
       |  FROM (SELECT DISTINCT doc_id, tx, ty FROM tblk) t
       |  LEFT JOIN tbits b ON b.doc_id = t.doc_id AND b.tx = t.tx AND b.ty = t.ty
       |  GROUP BY 1, 2, 3
       |)""".stripMargin
  }

  /** Shared CTEs for the HALF-STRIDE overlap rows, ending in `ovth`:
    * tiles at every (TileW/2, TileH/2) lattice position of the
    * planted PNGs and their (PxCrop2X, PxCrop2Y)-offset crops,
    * replayed from the md5 formula — generated as positions × tile
    * pixels rather than a per-pixel tx derivation, because lattice
    * tiles OVERLAP (each pixel belongs to up to four tiles).
    */
  private lazy val tileOverlapCtes: String = {
    val M = graft.operators.Multimodal
    val pe = M.PxPlantEvery
    val (w, h) = (M.PxImgW, M.PxImgH)
    val (cw, ch) = (M.PxCropW, M.PxCropH)
    val (ox, oy) = (M.PxCrop2X, M.PxCrop2Y)
    val cb = M.PxCrop2IdBase
    val (tw, tileH) = (M.TileW, M.TileH)
    val (sx, sy) = (M.TileW / 2, M.TileH / 2)
    val (gw, gh) = (M.PxGridW, M.PxGridH)
    s"""ovimgs AS (
       |  SELECT doc_id, doc_id AS src, $w AS w, $h AS h, 0 AS ox, 0 AS oy
       |  FROM documents WHERE doc_id % $pe = 0
       |  UNION ALL
       |  SELECT doc_id + $cb, doc_id, $cw, $ch, $ox, $oy
       |  FROM documents WHERE doc_id % $pe = 0
       |),
       |ovpos AS (
       |  SELECT i.doc_id, i.src, i.ox, i.oy, tx.tx AS tx, ty.ty AS ty
       |  FROM ovimgs i,
       |       LATERAL unnest(range((i.w - $tw) // $sx + 1)) tx(tx),
       |       LATERAL unnest(range((i.h - $tileH) // $sy + 1)) ty(ty)
       |),
       |ovpx AS (
       |  SELECT p.doc_id, p.tx, p.ty,
       |    CAST((u.u * $gw) // $tw AS INT) AS bx,
       |    CAST((v.v * $gh) // $tileH AS INT) AS by,
       |    CAST(('0x' || substr(md5(CAST(p.src AS VARCHAR) || '_' ||
       |      CAST(p.tx * $sx + u.u + p.ox AS VARCHAR) || '_' ||
       |      CAST(p.ty * $sy + v.v + p.oy AS VARCHAR)), 1, 2)) AS BIGINT) AS val
       |  FROM ovpos p,
       |       LATERAL unnest(range($tw)) u(u),
       |       LATERAL unnest(range($tileH)) v(v)
       |),
       |ovblk AS (
       |  SELECT doc_id, tx, ty, by, bx,
       |    CAST(sum(val) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
       |  FROM ovpx GROUP BY 1, 2, 3, 4, 5
       |),
       |ovbits AS (
       |  SELECT a.doc_id, a.tx, a.ty, a.by * ${gw - 1} + a.bx AS bi
       |  FROM ovblk a JOIN ovblk n ON n.doc_id = a.doc_id AND n.tx = a.tx
       |    AND n.ty = a.ty AND n.by = a.by AND n.bx = a.bx + 1
       |  WHERE a.bx < ${gw - 1} AND n.s * a.c > a.s * n.c
       |),
       |ovth AS (
       |  SELECT t.doc_id, t.tx AS tile_x, t.ty AS tile_y,
       |    CAST(coalesce(sum(CASE WHEN b.bi >= 32
       |      THEN CAST(1 AS BIGINT) << CAST(b.bi - 32 AS INTEGER) END), 0) AS BIGINT) AS th_hi,
       |    CAST(coalesce(sum(CASE WHEN b.bi < 32
       |      THEN CAST(1 AS BIGINT) << CAST(b.bi AS INTEGER) END), 0) AS BIGINT) AS th_lo
       |  FROM (SELECT DISTINCT doc_id, tx, ty FROM ovblk) t
       |  LEFT JOIN ovbits b ON b.doc_id = t.doc_id AND b.tx = t.tx AND b.ty = t.ty
       |  GROUP BY 1, 2, 3
       |)""".stripMargin
  }

  /** Shared CTEs for the CONTENT-ANCHORED rows, ending in `anc`
    * (doc_id, anchor_x, anchor_y, ah_hi, ah_lo): the planted grid and
    * its (7,3) OFF-LATTICE crop replayed from the md5 formula, the
    * integer gradient score (|right−left| + |down−up| on luma, which
    * is the identity for the grayscale plants), strict 3×3 local
    * maxima gated at AnchorMinScore on the margin-eligible interior,
    * the deterministic AnchorCap (score DESC, row-major tiebreak —
    * a no-op at plant size, replayed anyway for fidelity), and the
    * same 12×8-window 9×8-grid cross-multiplied bit math as the tile
    * twins, keyed by anchor instead of tile.
    */
  private lazy val anchoredCtes: String = {
    val M = graft.operators.Multimodal
    val pe = M.PxPlantEvery
    val (w, h) = (M.PxImgW, M.PxImgH)
    val (cw, ch) = (M.PxCropW, M.PxCropH)
    val (ox, oy) = (M.PxCrop3X, M.PxCrop3Y)
    val cb = M.PxCrop3IdBase
    val (tw, tileH) = (M.TileW, M.TileH)
    val (gw, gh) = (M.PxGridW, M.PxGridH)
    val (mx, my) = (M.TileW / 2, M.TileH / 2)
    val r = M.AnchorR
    s"""aimgs AS (
       |  SELECT doc_id, doc_id AS src, $w AS w, $h AS h, 0 AS ox, 0 AS oy
       |  FROM documents WHERE doc_id % $pe = 0
       |  UNION ALL
       |  SELECT doc_id + $cb, doc_id, $cw, $ch, $ox, $oy
       |  FROM documents WHERE doc_id % $pe = 0
       |),
       |apx AS (
       |  SELECT i.doc_id, x.x AS x, y.y AS y,
       |    CAST(('0x' || substr(md5(CAST(i.src AS VARCHAR) || '_' ||
       |      CAST(x.x + i.ox AS VARCHAR) || '_' ||
       |      CAST(y.y + i.oy AS VARCHAR)), 1, 2)) AS BIGINT) AS v
       |  FROM aimgs i,
       |       LATERAL unnest(range(i.w)) x(x),
       |       LATERAL unnest(range(i.h)) y(y)
       |),
       |ascore AS (
       |  SELECT p.doc_id, p.x, p.y,
       |    abs(pr.v - pl.v) + abs(pd.v - pu.v) AS s
       |  FROM apx p
       |  JOIN apx pl ON pl.doc_id = p.doc_id AND pl.x = p.x - 1 AND pl.y = p.y
       |  JOIN apx pr ON pr.doc_id = p.doc_id AND pr.x = p.x + 1 AND pr.y = p.y
       |  JOIN apx pu ON pu.doc_id = p.doc_id AND pu.x = p.x AND pu.y = p.y - 1
       |  JOIN apx pd ON pd.doc_id = p.doc_id AND pd.x = p.x AND pd.y = p.y + 1
       |),
       |acand AS (
       |  SELECT a.doc_id, a.x, a.y, a.s
       |  FROM ascore a JOIN aimgs i ON i.doc_id = a.doc_id
       |  WHERE a.x BETWEEN $mx AND i.w - $mx
       |    AND a.y BETWEEN $my AND i.h - $my
       |    AND a.s >= ${M.AnchorMinScore}
       |),
       |aanch0 AS (
       |  SELECT c.doc_id, c.x, c.y, c.s
       |  FROM acand c JOIN ascore n ON n.doc_id = c.doc_id
       |    AND n.x BETWEEN c.x - $r AND c.x + $r
       |    AND n.y BETWEEN c.y - $r AND c.y + $r
       |    AND NOT (n.x = c.x AND n.y = c.y)
       |  GROUP BY 1, 2, 3, 4
       |  HAVING count(*) FILTER (WHERE n.s >= c.s) = 0
       |),
       |aanch AS (
       |  SELECT doc_id, x, y FROM (
       |    SELECT doc_id, x, y,
       |      row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, y, x) AS rn
       |    FROM aanch0)
       |  WHERE rn <= ${M.AnchorCap}
       |),
       |adpx AS (
       |  SELECT a.doc_id, a.x AS ax, a.y AS ay,
       |    CAST((u.u * $gw) // $tw AS INT) AS bx,
       |    CAST((v.v * $gh) // $tileH AS INT) AS by,
       |    p.v AS val
       |  FROM aanch a,
       |       LATERAL unnest(range($tw)) u(u),
       |       LATERAL unnest(range($tileH)) v(v),
       |       apx p
       |  WHERE p.doc_id = a.doc_id
       |    AND p.x = a.x - $mx + u.u AND p.y = a.y - $my + v.v
       |),
       |ablk AS (
       |  SELECT doc_id, ax, ay, by, bx,
       |    CAST(sum(val) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
       |  FROM adpx GROUP BY 1, 2, 3, 4, 5
       |),
       |abits AS (
       |  SELECT a.doc_id, a.ax, a.ay, a.by * ${gw - 1} + a.bx AS bi
       |  FROM ablk a JOIN ablk n ON n.doc_id = a.doc_id AND n.ax = a.ax
       |    AND n.ay = a.ay AND n.by = a.by AND n.bx = a.bx + 1
       |  WHERE a.bx < ${gw - 1} AND n.s * a.c > a.s * n.c
       |),
       |anc AS (
       |  SELECT t.doc_id, CAST(t.ax AS INT) AS anchor_x,
       |    CAST(t.ay AS INT) AS anchor_y,
       |    CAST(coalesce(sum(CASE WHEN b.bi >= 32
       |      THEN CAST(1 AS BIGINT) << CAST(b.bi - 32 AS INTEGER) END), 0) AS BIGINT) AS ah_hi,
       |    CAST(coalesce(sum(CASE WHEN b.bi < 32
       |      THEN CAST(1 AS BIGINT) << CAST(b.bi AS INTEGER) END), 0) AS BIGINT) AS ah_lo
       |  FROM (SELECT DISTINCT doc_id, ax, ay FROM ablk) t
       |  LEFT JOIN abits b ON b.doc_id = t.doc_id AND b.ax = t.ax AND b.ay = t.ay
       |  GROUP BY 1, 2, 3
       |)""".stripMargin
  }

  private lazy val videoSpectralCtes: String = {
    val M = graft.operators.Multimodal
    val every = M.PlantEvery
    val minFrames = M.VideoSpectralMinFrames
    val minF = M.VideoStretchMinFrames
    val lag0 = M.SpectralLagBase
    val step = M.SpectralLagStep
    val nl = M.SpectralLagCount
    val maxLag = lag0 + step * (nl - 1)
    val floor = M.VideoStretchFloor
    val origBase = M.VideoStretchOrigIdBase
    val strBase = M.VideoStretchIdBase
    s"""vstxt AS (
       |  SELECT doc_id, s, length(s) AS n
       |  FROM ($docPaySql)
       |  WHERE length(s) >= $minFrames
       |),
       |vsneg AS (
       |  SELECT t.doc_id, k.k AS k, t.n AS nf,
       |    CAST(4 * ord(substr(t.s, CAST(k.k + 1 AS INTEGER), 1)) AS BIGINT) AS v
       |  FROM vstxt t, LATERAL unnest(range(t.n)) k(k)
       |),
       |vspl AS (
       |  SELECT doc_id, $minF + doc_id % 1000 AS n FROM documents WHERE doc_id % $every = 0
       |),
       |vsper AS (
       |  SELECT doc_id, n,
       |    41 + 2 * (CAST(('0x' || substr(md5('vs' || doc_id), 1, 2)) AS INTEGER) % 11) AS p
       |  FROM vspl
       |),
       |vsnz AS (
       |  SELECT doc_id, j.j AS j0,
       |    CASE WHEN j.j = 0 OR j.j = p - 1 THEN CAST($floor AS BIGINT)
       |         ELSE CAST($floor + CAST(('0x' || substr(md5('vn' || doc_id || ':' || j.j), 1, 4)) AS INTEGER) % 981 AS BIGINT)
       |    END AS nv
       |  FROM vsper, LATERAL unnest(range(p)) j(j)
       |),
       |vso AS (
       |  SELECT q.doc_id + $origBase AS doc_id, q.k AS k, q.n AS nf, z.nv AS v
       |  FROM (SELECT s.doc_id, s.n, k.k AS k, k.k % s.p AS j0
       |        FROM vsper s, LATERAL unnest(range(s.n)) k(k)) q
       |  JOIN vsnz z ON z.doc_id = q.doc_id AND z.j0 = q.j0
       |),
       |vss AS (
       |  SELECT q.doc_id + $strBase AS doc_id,
       |    (3 * q.n) // 20 + q.i AS k,
       |    (3 * q.n) // 20 + q.ns + q.n // 20 AS nf,
       |    z.nv AS v
       |  FROM (SELECT s.doc_id, s.n, ((s.n * 11) // 10 // s.p) * s.p AS ns,
       |               i.i AS i, i.i % s.p AS j0
       |        FROM vsper s, LATERAL unnest(range(((s.n * 11) // 10 // s.p) * s.p)) i(i)) q
       |  JOIN vsnz z ON z.doc_id = q.doc_id AND z.j0 = q.j0
       |  UNION ALL
       |  SELECT doc_id + $strBase, (3 * n) // 20 - 1,
       |    (3 * n) // 20 + ((n * 11) // 10 // p) * p + n // 20, CAST(0 AS BIGINT)
       |  FROM vsper
       |  UNION ALL
       |  SELECT doc_id + $strBase, (3 * n) // 20 + ((n * 11) // 10 // p) * p,
       |    (3 * n) // 20 + ((n * 11) // 10 // p) * p + n // 20, CAST(0 AS BIGINT)
       |  FROM vsper
       |),
       |vsval AS (
       |  SELECT doc_id, k, nf, v FROM vsneg
       |  UNION ALL SELECT doc_id, k, nf, v FROM vso
       |  UNION ALL SELECT doc_id, k, nf, v FROM vss
       |),
       |vsd AS (
       |  SELECT a.doc_id, a.k AS k, a.nf - 1 AS nd,
       |    CAST(b.v - a.v AS BIGINT) AS m
       |  FROM vsval a JOIN vsval b ON b.doc_id = a.doc_id AND b.k = a.k + 1
       |),
       |vsids AS (SELECT DISTINCT doc_id, nd FROM vsd),
       |vsac AS (
       |  SELECT a.doc_id, b.k - a.k AS lag, CAST(sum(a.m * b.m) AS BIGINT) AS ac
       |  FROM vsd a JOIN vsd b
       |    ON b.doc_id = a.doc_id AND b.k >= a.k + $lag0 AND b.k <= a.k + $maxLag
       |   AND (b.k - a.k - $lag0) % $step = 0
       |  GROUP BY a.doc_id, b.k - a.k
       |),
       |vsbits AS (
       |  SELECT a0.doc_id, CAST((a0.lag - $lag0) // $step AS INTEGER) AS bit
       |  FROM vsac a0
       |  JOIN vsac a1 ON a1.doc_id = a0.doc_id AND a1.lag = a0.lag + $step
       |  JOIN vsids d ON d.doc_id = a0.doc_id
       |  WHERE CAST(a1.ac AS HUGEINT) * (d.nd - a0.lag)
       |      > CAST(a0.ac AS HUGEINT) * (d.nd - a1.lag)
       |),
       |vsph AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN bit >= 32 THEN (1::BIGINT << CAST(bit - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS ph_hi,
       |    CAST(sum(CASE WHEN bit < 32 THEN (1::BIGINT << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS ph_lo
       |  FROM vsbits GROUP BY doc_id
       |),
       |full_vsph AS (
       |  SELECT i.doc_id,
       |    CAST(COALESCE(h.ph_hi, 0) AS BIGINT) AS ph_hi,
       |    CAST(COALESCE(h.ph_lo, 0) AS BIGINT) AS ph_lo
       |  FROM vsids i LEFT JOIN vsph h USING (doc_id)
       |),
       |vsbanded0 AS (
       |  SELECT doc_id, ph_hi, ph_lo, band,
       |    CASE WHEN band < 2 THEN (ph_lo >> (band * 16)) & 65535
       |         ELSE (ph_hi >> ((band - 2) * 16)) & 65535 END AS key
       |  FROM full_vsph, unnest(range(4)) t(band)
       |),
       |${capCte("vsbanded0", "vsbanded", Seq("band", "key"), "doc_id")}""".stripMargin
  }

  /** Per-frame luma-sum CTEs for the video twins, ending in
    * `vfr(doc_id, k, n, v)` (v = frame k's luma sum) + `vids` — the
    * [[audioFrameCtes]] discipline on the fifth container: text rows
    * replay the w·h-byte frame slicing of the ASCII projection,
    * planted rows replay the constant-luma md5 block formula (frame
    * sum = value · w·h), stride rows replay the every-2nd-frame copy.
    * No container bytes anywhere — equality with the Spark side is
    * the proof the AVI chunk walk and frame decode are real.
    */
  private def videoFrameCtes(minFrames: Int): String = {
    val every = graft.operators.Multimodal.PlantEvery
    val minF = graft.operators.Multimodal.VideoPlantMinFrames
    val blocks = graft.operators.Multimodal.VideoPlantBlocks
    val idBase = graft.operators.Multimodal.VideoPlantIdBase
    val strideBase = graft.operators.Multimodal.VideoStrideIdBase
    val stride = graft.operators.Multimodal.VideoStride
    val fb = graft.operators.Multimodal.VideoPlantW * graft.operators.Multimodal.VideoPlantH
    s"""vtxt AS (
       |  SELECT p.doc_id, p.s,
       |    (2 + p.doc_id % 3) * (2 + d.n_chars % 3) AS fb,
       |    length(p.s) // ((2 + p.doc_id % 3) * (2 + d.n_chars % 3)) AS n
       |  FROM ($docPaySql) p JOIN documents d USING (doc_id)
       |  WHERE length(p.s) // ((2 + p.doc_id % 3) * (2 + d.n_chars % 3)) >= $minFrames
       |),
       |vtf AS (
       |  SELECT t.doc_id, k.k AS k, t.n,
       |    CAST(sum(ord(substr(t.s, CAST(k.k * t.fb + c.c + 1 AS INTEGER), 1))) AS BIGINT) AS v
       |  FROM vtxt t,
       |    LATERAL unnest(range(t.n)) k(k),
       |    LATERAL unnest(range(t.fb)) c(c)
       |  GROUP BY t.doc_id, k.k, t.n
       |),
       |vpl AS (
       |  SELECT doc_id, $minF + doc_id % 1000 AS n FROM documents WHERE doc_id % $every = 0
       |),
       |vpf AS (
       |  SELECT doc_id + $idBase AS doc_id, j.j AS k, n,
       |    CAST((20 + CAST(('0x' || substr(md5('v' || doc_id || ':' ||
       |      ((j.j * $blocks) // n)), 1, 2)) AS INTEGER) % 200) * $fb AS BIGINT) AS v
       |  FROM vpl, LATERAL unnest(range(n)) j(j)
       |),
       |vsf AS (
       |  SELECT doc_id + $strideBase AS doc_id, i.i AS k, (n + ${stride - 1}) // $stride AS n,
       |    CAST((20 + CAST(('0x' || substr(md5('v' || doc_id || ':' ||
       |      ((i.i * $stride * $blocks) // n)), 1, 2)) AS INTEGER) % 200) * $fb AS BIGINT) AS v
       |  FROM vpl, LATERAL unnest(range((n + ${stride - 1}) // $stride)) i(i)
       |),
       |vfr AS (
       |  SELECT * FROM vtf UNION ALL SELECT * FROM vpf UNION ALL SELECT * FROM vsf
       |),
       |vids AS (
       |  SELECT doc_id FROM vtxt
       |  UNION ALL SELECT doc_id + $idBase FROM vpl
       |  UNION ALL SELECT doc_id + $strideBase FROM vpl
       |)""".stripMargin
  }

  private lazy val videoBandedCtes: String = {
    val nb = graft.operators.Multimodal.PhashBuckets
    s"""${videoFrameCtes(nb)},
       |vbk AS (
       |  SELECT doc_id, (k * $nb) // n AS b,
       |    CAST(sum(v) AS BIGINT) AS sv, CAST(count(*) AS BIGINT) AS cnt
       |  FROM vfr GROUP BY doc_id, b
       |),
       |vbits AS (
       |  SELECT b0.doc_id, b0.b AS bit
       |  FROM vbk b0 JOIN vbk b1 ON b1.doc_id = b0.doc_id AND b1.b = b0.b + 1
       |  WHERE b1.sv * b0.cnt > b0.sv * b1.cnt
       |),
       |vph AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN bit >= 32 THEN (1::BIGINT << CAST(bit - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS ph_hi,
       |    CAST(sum(CASE WHEN bit < 32 THEN (1::BIGINT << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS ph_lo
       |  FROM vbits GROUP BY doc_id
       |),
       |full_vph AS (
       |  SELECT i.doc_id,
       |    CAST(COALESCE(h.ph_hi, 0) AS BIGINT) AS ph_hi,
       |    CAST(COALESCE(h.ph_lo, 0) AS BIGINT) AS ph_lo
       |  FROM vids i LEFT JOIN vph h USING (doc_id)
       |),
       |vbanded0 AS (
       |  SELECT doc_id, ph_hi, ph_lo, band,
       |    CASE WHEN band < 2 THEN (ph_lo >> (band * 16)) & 65535
       |         ELSE (ph_hi >> ((band - 2) * 16)) & 65535 END AS key
       |  FROM full_vph, unnest(range(4)) t(band)
       |),
       |${capCte("vbanded0", "vbanded", Seq("band", "key"), "doc_id")}""".stripMargin
  }

  /** Spatial-video twin CTEs ending in `pxh(doc_id, slot, ph_hi,
    * ph_lo)` — the planted md5 cell grids pushed through CLOSED-FORM
    * block/cell overlap sums instead of per-pixel replay: both
    * geometries' grids divide exactly (the [[graft.operators
    * .Multimodal.PxVideoEvery]] scaladoc derivation), so each block
    * sum is Σ rows(by, cy) · cellWidth · cell(cy, bx), with the
    * overlap row counts computed HERE by the same integer boundary
    * arithmetic the Spark kernel walks pixel-by-pixel — equality is
    * the proof the frame decode and grid accumulation are real.
    */
  private lazy val pxVideoCtes: String = {
    val M = graft.operators.Multimodal
    val gridH = M.PxGridH
    val cellRows = M.PxVideoH / M.PxVideoCellH
    val cellCols = M.PxVideoW / M.PxVideoCellW
    // overlap row counts per (variant, block-row, cell-row)
    def overlaps(h: Int, pad: Int, variant: Int): Seq[(Int, Int, Int, Int)] =
      for {
        by <- 0 until gridH
        cy <- 0 until cellRows
        rows = (0 until h).count(y =>
          (y.toLong * gridH) / h == by && (y + pad) / M.PxVideoCellH == cy)
        if rows > 0
      } yield (variant, by, cy, rows)
    val cropH = M.PxVideoH - 2 * M.PxVideoCropPad
    val ov = (overlaps(M.PxVideoH, 0, 0) ++ overlaps(cropH, M.PxVideoCropPad, 1))
      .map { case (v, by, cy, r) => s"($v, $by, $cy, $r)" }
      .mkString(",\n    ")
    s"""pxd AS (SELECT doc_id AS d FROM documents WHERE doc_id % ${M.PxVideoEvery} = 0),
       |pxov(variant, by, cy, rows) AS (VALUES
       |    $ov),
       |pxcell AS (
       |  SELECT d, k.k AS k, cy.cy AS cy, cx.cx AS cx,
       |    16 + CAST(('0x' || substr(md5('pv' || CAST(d AS VARCHAR) || ':' ||
       |      CAST(k.k AS VARCHAR) || ':' || CAST(cy.cy AS VARCHAR) || ':' ||
       |      CAST(cx.cx AS VARCHAR)), 1, 2)) AS INTEGER) % 200 AS val
       |  FROM pxd,
       |    unnest(range(${M.PxVideoFrames})) k(k),
       |    unnest(range($cellRows)) cy(cy),
       |    unnest(range($cellCols)) cx(cx)
       |),
       |pxsum AS (
       |  SELECT c.d, o.variant, c.k, o.by, c.cx AS bx,
       |    CAST(sum(o.rows * ${M.PxVideoCellW} * c.val) AS BIGINT) AS s
       |  FROM pxcell c JOIN pxov o ON o.cy = c.cy
       |  GROUP BY c.d, o.variant, c.k, o.by, c.cx
       |),
       |pxbit AS (
       |  SELECT d, variant, k, by, bx,
       |    CASE WHEN lead(s) OVER (PARTITION BY d, variant, k, by ORDER BY bx) > s
       |         THEN 1 ELSE 0 END AS bit
       |  FROM pxsum
       |),
       |pxhash AS (
       |  SELECT d, variant, k,
       |    CAST(sum(CASE WHEN by*8+bx < 32 AND bit = 1
       |      THEN (1::BIGINT << CAST(by*8+bx AS INTEGER)) ELSE 0 END) AS BIGINT) AS ph_lo,
       |    CAST(sum(CASE WHEN by*8+bx >= 32 AND bit = 1
       |      THEN (1::BIGINT << CAST(by*8+bx - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS ph_hi
       |  FROM pxbit WHERE bx < ${M.PxGridW - 1}
       |  GROUP BY d, variant, k
       |),
       |pxh AS (
       |  SELECT d + CASE WHEN variant = 0 THEN ${M.PxVideoIdBase}
       |             ELSE ${M.PxVideoCropIdBase} END AS doc_id,
       |    CAST(k AS INTEGER) AS slot, ph_hi, ph_lo
       |  FROM pxhash
       |)""".stripMargin
  }

  private def phashCtes(paySql: String): String =
    s"""pay AS (
       |  $paySql
       |),
       |ch AS (
       |  SELECT doc_id, unnest(range(length(s))) AS i, s FROM pay
       |),
       |bk AS (
       |  SELECT doc_id,
       |    (i * ${graft.operators.Multimodal.PhashBuckets}) // length(s) AS b,
       |    CAST(sum(ord(substr(s, CAST(i + 1 AS INTEGER), 1))) AS BIGINT) AS sv,
       |    CAST(count(*) AS BIGINT) AS cnt
       |  FROM ch GROUP BY doc_id, b
       |),
       |bits AS (
       |  SELECT b0.doc_id, b0.b AS bit
       |  FROM bk b0 JOIN bk b1 ON b1.doc_id = b0.doc_id AND b1.b = b0.b + 1
       |  WHERE b1.sv * b0.cnt > b0.sv * b1.cnt
       |),
       |ph AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN bit >= 32 THEN (1::BIGINT << CAST(bit - 32 AS INTEGER)) ELSE 0 END) AS BIGINT) AS ph_hi,
       |    CAST(sum(CASE WHEN bit < 32 THEN (1::BIGINT << CAST(bit AS INTEGER)) ELSE 0 END) AS BIGINT) AS ph_lo
       |  FROM bits GROUP BY doc_id
       |),
       |full_ph AS (
       |  SELECT p.doc_id,
       |    CAST(COALESCE(h.ph_hi, 0) AS BIGINT) AS ph_hi,
       |    CAST(COALESCE(h.ph_lo, 0) AS BIGINT) AS ph_lo
       |  FROM pay p LEFT JOIN ph h USING (doc_id)
       |)""".stripMargin

  /** Subword-vocab TRAINING twin
    * ([[graft.operators.TextStats.subwordVocab]]): word frequencies,
    * the bounded substring explode, and the deterministic top-k. Ends
    * in `sw_vocab(rank, subword, freq)`. Where the Spark side collects
    * this table and closes over it (the materialized-metadata
    * pattern), the twin derives it in place — training AND use replay
    * in one statement.
    */
  private def subwordVocabCtes(where: String = ""): String = {
    val lo = graft.operators.TextStats.SubwordMinLen
    val hi = graft.operators.TextStats.SubwordMaxLen
    s"""sw_words AS (
       |  SELECT unnest(string_split(text, ' ')) AS word FROM documents$where
       |),
       |sw_wf AS (
       |  SELECT word, CAST(count(*) AS BIGINT) AS wcnt FROM sw_words
       |  WHERE length(word) > 0 GROUP BY word
       |),
       |sw_subs AS (
       |  SELECT substr(word, CAST(p + 1 AS INTEGER), CAST(l AS INTEGER)) AS subword, wcnt
       |  FROM sw_wf,
       |    LATERAL unnest(range($lo, ${hi + 1})) tl(l),
       |    LATERAL unnest(range(0, greatest(length(word) - l + 1, 0))) tp(p)
       |),
       |sw_freq AS (
       |  SELECT subword, CAST(sum(wcnt) AS BIGINT) AS freq FROM sw_subs GROUP BY subword
       |),
       |sw_vocab AS (
       |  SELECT CAST(row_number() OVER (ORDER BY freq DESC, subword) AS INTEGER) AS rank,
       |    subword, freq
       |  FROM sw_freq ORDER BY freq DESC, subword
       |  LIMIT ${graft.operators.TextStats.SubwordVocabK}
       |)""".stripMargin
  }

  /** Twin of the trained-subword token stats AND the ingest-time
    * stream over bounded input (`streaming_token_stats_bpe`) — both
    * run [[graft.operators.TextStats.greedyTokenCount]], so one SQL
    * covers both rows.
    */
  private lazy val subwordStatsSql: String = subwordStatsSqlWith("")

  /** [[subwordStatsSql]] with the vocab-training corpus FILTERED —
    * the stored-artifact row's twin trains on batch 1 (doc_id % 3 = 0)
    * and tokenizes everything, replaying the persisted-vocab apply
    * path in one statement.
    */
  private def subwordStatsSqlWith(vocabWhere: String): String =
    s"""WITH RECURSIVE ${subwordVocabCtes(vocabWhere)},
       |$subwordTokenCtes
       |SELECT d.doc_id,
       |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens_ws,
       |  a.n_tokens_bpe,
       |  round(CAST(a.n_tokens_bpe AS DOUBLE)
       |        / len(string_split(d.text, ' ')), 6) AS bpe_per_ws
       |FROM documents d JOIN sw_doctok a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Greedy longest-match tokenization twin
    * ([[graft.operators.TextStats.greedyTokenCount]]) as a RECURSIVE
    * CTE: each distinct word walks position→position, each step
    * consuming the longest `sw_vocab` entry matching the prefix (max
    * over prefix-equal rows) or one character. Callers must open with
    * `WITH RECURSIVE` and include [[subwordVocabCtes]] first. Ends in
    * `sw_doctok(doc_id, n_tokens_bpe)`.
    */
  private val subwordTokenCtes: String =
    s"""sw_docw AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
       |),
       |sw_dw AS (SELECT DISTINCT w FROM sw_docw WHERE length(w) > 0),
       |sw_step(w, pos, ntok) AS (
       |  SELECT w, 1, 0 FROM sw_dw
       |  UNION ALL
       |  SELECT s.w,
       |    CAST(s.pos + coalesce(
       |      (SELECT max(length(v.subword)) FROM sw_vocab v
       |       WHERE substr(s.w, s.pos, length(v.subword)) = v.subword), 1) AS INTEGER),
       |    s.ntok + 1
       |  FROM sw_step s WHERE s.pos <= length(s.w)
       |),
       |sw_wtok AS (SELECT w, ntok FROM sw_step WHERE pos > length(w)),
       |sw_doctok AS (
       |  SELECT dw.doc_id, CAST(sum(coalesce(t.ntok, 0)) AS BIGINT) AS n_tokens_bpe
       |  FROM sw_docw dw LEFT JOIN sw_wtok t ON dw.w = t.w
       |  GROUP BY dw.doc_id
       |)""".stripMargin

  /** The deterministic stand-in codebook CTE (first IvfK corpus
    * vectors) — twin of [[graft.operators.Ann.firstKCentroids]].
    */
  private val firstKCentCte: String =
    s"""cent AS (
       |  SELECT vec_id AS c_id, embedding AS ce, norm AS cnorm
       |  FROM vn WHERE vec_id < ${graft.operators.Ann.IvfK}
       |)""".stripMargin

  /** IVF CTEs twin of [[graft.operators.Ann.ivfAssign]]/ivfTopK,
    * parameterized by the codebook CTE so the trained-codebook twin
    * ([[annIvfKmeansSql]]) shares the assignment/probe logic.
    */
  private def ivfCtes(centCte: String = firstKCentCte): String =
    s"""$centCte,
       |asg AS (
       |  SELECT vec_id, embedding, norm, c_id FROM (
       |    SELECT vn.vec_id, vn.embedding, vn.norm, c.c_id,
       |      row_number() OVER (PARTITION BY vn.vec_id ORDER BY
       |        ${cosSql("vn.embedding", "c.ce", "vn.norm", "c.cnorm")} DESC, c.c_id) AS arn
       |    FROM vn CROSS JOIN cent c
       |  ) WHERE arn = 1
       |),
       |probes AS (
       |  SELECT q_id, qe, qnorm, c_id FROM (
       |    SELECT vn.vec_id AS q_id, vn.embedding AS qe, vn.norm AS qnorm, c.c_id,
       |      row_number() OVER (PARTITION BY vn.vec_id ORDER BY
       |        ${cosSql("vn.embedding", "c.ce", "vn.norm", "c.cnorm")} DESC, c.c_id) AS qrn
       |    FROM vn CROSS JOIN cent c WHERE vn.vec_id % ${graft.operators.Ann.QueryMod} = 0
       |  ) WHERE qrn <= ${graft.operators.Ann.NProbe}
       |)""".stripMargin

  val all: Map[String, String] = allBase +
    // the ingest-time keep verdict over bounded input computes the
    // batch keepMask verdict exactly (min-per-hash dup, same quality
    // kernel) — shared twin
    ("streaming_keep_mask" -> allBase("doc_keep_mask")) +
    // the stateless ingest-time lang-ID kernel over bounded input
    // computes the batch doc_lang_id rows exactly — shared twin
    ("streaming_lang_id" -> allBase("doc_lang_id")) +
    // ingest-time WARC extraction is the stateless batch kernel on an
    // unbounded frame — shared twin
    ("streaming_warc_extract" -> allBase("warc_extract")) +
    // the stateless ingest-time LM kernel over bounded input computes
    // the batch stored rows exactly — shared twin
    ("streaming_lm_score" -> allBase("doc_lm_score_stored")) +
    // the stateful domain-gate fold over bounded input equals the
    // declarative batch gate (integer evidence is order-free) —
    // shared twin
    ("streaming_source_gate" -> allBase("source_quality_gate")) +
    // index health: the recall and drift twins reduced to one-row
    // aggregates (nested WITH subqueries are self-contained), one
    // exact integer division, E-notated thresholds. IS NULL terms
    // mirror the Spark verdict exactly: a NULL leg (empty corpus — no
    // queries or no vectors) is unhealth the flag must report as TRUE,
    // never a NULL that reads as "not recommended"
    ("ann_index_health" ->
      s"""SELECT r.n_queries, r.recall_overall, d.n_dims, d.max_shift,
         |  (r.recall_overall IS NULL OR d.max_shift IS NULL OR
         |   r.recall_overall < 9E-1 OR d.max_shift >= 5E-2) AS rebuild_recommended
         |FROM
         |  (SELECT CAST(count(*) AS BIGINT) AS n_queries,
         |     round(CAST(sum(n_hit) AS DOUBLE) / sum(n_exact), 6) AS recall_overall
         |   FROM (${allBase("ann_recall_report")})) r,
         |  (SELECT CAST(count(*) AS BIGINT) AS n_dims, max(mean_shift) AS max_shift
         |   FROM (${allBase("emb_drift_report")})) d""".stripMargin) +
    // media release card: the three modality cluster twins reduced to
    // one-row aggregates (nested WITH-scoped subqueries are
    // self-contained), exact integer counts, one rounded division
    ("mm_dedup_report" -> {
      def leg(name: String, inner: String) =
        s"""SELECT '$name' AS modality, CAST(count(*) AS BIGINT) AS n_items,
           |  CAST(sum(CASE WHEN doc_id <> cluster THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
           |  CAST(max(cluster_size) AS BIGINT) AS max_cluster,
           |  round(CAST(sum(CASE WHEN doc_id <> cluster THEN 1 ELSE 0 END) AS DOUBLE)
           |        / count(*), 6) AS dup_rate
           |FROM ($inner)""".stripMargin
      s"""SELECT * FROM (
         |${leg("audio", allBase("mm_audio_dedup_clusters"))}
         |UNION ALL
         |${leg("image", allBase("mm_dedup_clusters"))}
         |UNION ALL
         |${leg("video", allBase("mm_video_dedup_clusters"))}
         |) ORDER BY modality""".stripMargin
    }) +
    // the residual serving layout encodes and ranks the in-memory
    // residual path's exact geometry (stand-in books, firstK coarse;
    // parquet round-trips codes exactly) — shared twin
    ("ann_index_residual_topk" -> allBase("ann_ivfpq_residual")) +
    // html-in curation: the doc_pipeline twin rewired to read the
    // extracted pages — every FROM documents becomes FROM html_docs,
    // the extraction CTE pair prepended (string surgery is safe: the
    // construction asserts the rewrite took and nothing was missed)
    ("doc_pipeline_html" -> htmlDocPipelineSql) +
    // WARC-in curation: the container round-trip is lossless (pinned
    // by warc_extract + CorpusSpec), so the post-scan pipeline twin is
    // the HTML pipeline twin verbatim
    ("warc_pipeline" -> warcDocPipelineSql) +
    ("corpus_manifest" -> corpusManifestSql) +
    // residual-tier recall: the full residual twin nested as the
    // approx leg (its own WITH scope), the exact leg shared with
    // ann_recall_report
    ("ann_recall_report_residual" -> annRecallResidualSql)

  private lazy val annRecallResidualSql: String = {
    val k = graft.operators.Ann.K
    val tpl =
      s"""WITH $vecNormCte,
         |q AS (SELECT vec_id AS q_id, embedding AS qe, norm AS qnorm FROM vn
         |      WHERE vec_id % ${graft.operators.Ann.QueryMod} = 0),
         |exact AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q.q_id, v.vec_id,
         |      row_number() OVER (PARTITION BY q.q_id ORDER BY
         |        ${cosSql("q.qe", "v.embedding", "q.qnorm", "v.norm")} DESC, v.vec_id) AS rn
         |    FROM q JOIN vn v ON q.q_id <> v.vec_id)
         |  WHERE rn <= $k
         |),
         |approx AS (SELECT q_id, vec_id FROM (GRAFT_RESIDUAL_BODY))
         |SELECT e.q_id,
         |  CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS recall
         |FROM exact e LEFT JOIN approx a ON a.q_id = e.q_id AND a.vec_id = e.vec_id
         |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin
    tpl.replace("GRAFT_RESIDUAL_BODY", allBase("ann_ivfpq_residual"))
  }

  /** The dataset-card twin: one-row scalar legs (corpus composition,
    * exact-dup window, the keep-mask and decontamination bodies
    * reused verbatim as subqueries) CROSS JOINed — placeholders
    * substituted AFTER stripMargin so the nested bodies' lines can
    * never collide with margin processing.
    */
  private lazy val corpusManifestSql: String = {
    val tpl =
      """WITH base AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |    CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        |  FROM documents),
        |dup AS (
        |  SELECT CAST(sum(CASE WHEN doc_id <> canonical THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact_dups
        |  FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical
        |        FROM documents)),
        |keep AS (
        |  SELECT CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |  FROM (GRAFT_KEEP_BODY)),
        |cont AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_checked,
        |    CAST(sum(CASE WHEN contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
        |  FROM (GRAFT_DECONT_BODY))
        |SELECT n_docs, n_langs, n_sources, total_chars, total_tokens,
        |  n_exact_dups, round(CAST(n_exact_dups AS DOUBLE) / n_docs, 6) AS exact_dup_rate,
        |  n_kept, round(CAST(n_kept AS DOUBLE) / n_docs, 6) AS keep_rate,
        |  n_checked, n_contaminated,
        |  round(CAST(n_contaminated AS DOUBLE) / n_checked, 6) AS contamination_rate
        |FROM base CROSS JOIN dup CROSS JOIN keep CROSS JOIN cont""".stripMargin
    tpl
      .replace("GRAFT_KEEP_BODY", allBase("doc_keep_mask"))
      .replace("GRAFT_DECONT_BODY", allBase("doc_decontaminate"))
  }

  /** The WARC reader's URI-keyed doc id, replayed over the fixture's
    * URL formula — twin of [[graft.sources.Warc.uriDocId]]: the first
    * 64 bits of md5(Target-URI) sign-masked to 63, assembled as
    * (hex[1] & 7) · 2^60 + hex[2..16] so DuckDB's checked BIGINT
    * arithmetic never sees the sign bit.
    */
  private def warcIdSql(docIdCol: String): String = {
    val u = s"'https://example.org/doc/' || CAST($docIdCol AS VARCHAR)"
    s"((CAST(('0x' || substr(md5($u), 1, 1)) AS BIGINT) % 8) * 1152921504606846976 + " +
      s"CAST(('0x' || substr(md5($u), 2, 15)) AS BIGINT))"
  }

  private lazy val warcExtractSql: String = {
    val len200 = graft.sources.Warc.httpHead(200).getBytes("UTF-8").length
    val len404 = graft.sources.Warc.httpHead(404).getBytes("UTF-8").length
    s"""WITH $htmlPageCtes
       |SELECT ${warcIdSql("e.doc_id")} AS doc_id,
       |  'https://example.org/doc/' || CAST(e.doc_id AS VARCHAR) AS url,
       |  '2024-01-' || lpad(CAST(e.doc_id % 28 + 1 AS VARCHAR), 2, '0')
       |    || 'T00:00:00Z' AS warc_date,
       |  CAST(CASE WHEN e.doc_id % 17 = 0 THEN 404 ELSE 200 END AS INTEGER) AS status,
       |  CAST(CASE WHEN e.doc_id % 17 = 0 THEN $len404 ELSE $len200 END
       |    + strlen(e.html) AS BIGINT) AS n_block_bytes,
       |  e.text,
       |  CAST(length(e.html) AS INTEGER) AS n_chars_raw,
       |  CAST(length(e.text) AS INTEGER) AS n_chars_text
       |FROM ex e ORDER BY 1""".stripMargin
  }

  /** Twin of the CDX↔WARC join: the fixture's CDX index replayed as
    * pure string-length arithmetic — record length = fixed envelope +
    * the id's digits (twice: record-id and URI) + the Content-Length
    * value's digits + the block itself; offset = the file's warcinfo
    * head + the running sum of earlier records (files group
    * [[graft.sources.Warc.DocsPerFile]] docs, id-ordered). The fixed
    * envelope constants are MEASURED from the real writers at
    * twin-build time, not hand-counted. Hash equality on the offset
    * column proves the engine's synthesized index points at true byte
    * positions and the ranged read fetched exactly the selected
    * records. `withOffset=false` is the `.warc.gz` face: member
    * offsets depend on gzip's output bytes (not SQL-computable), so
    * that row shares this twin minus the offset column.
    */
  private def cdxWarcJoinSql(withOffset: Boolean): String = {
    val len200 = graft.sources.Warc.httpHead(200).getBytes("UTF-8").length
    val len404 = graft.sources.Warc.httpHead(404).getBytes("UTF-8").length
    // measured envelope constants (id 1: one digit, status 200)
    val cInfo = graft.sources.Warc.warcinfo(0L).length - 1
    val cResp = graft.sources.Warc.warcResponse(1L, "").length -
      2 * 1 - len200.toString.length - len200
    val offsetCol = if (withOffset) "\n  o.off AS offset," else ""
    s"""WITH $htmlPageCtes,
       |cw_base AS (
       |  SELECT e.doc_id, e.html, e.text,
       |    e.doc_id // ${graft.sources.Warc.DocsPerFile} AS f,
       |    CASE WHEN e.doc_id % 17 = 0 THEN 404 ELSE 200 END AS status,
       |    CAST(CASE WHEN e.doc_id % 17 = 0 THEN $len404 ELSE $len200 END
       |      + strlen(e.html) AS BIGINT) AS block_len
       |  FROM ex e),
       |cw_lens AS (
       |  SELECT *, CAST($cResp + 2 * strlen(CAST(doc_id AS VARCHAR))
       |    + strlen(CAST(block_len AS VARCHAR)) + block_len AS BIGINT) AS rec_len
       |  FROM cw_base),
       |cw_offs AS (
       |  SELECT *, CAST($cInfo + strlen(CAST(f AS VARCHAR))
       |    + COALESCE(sum(rec_len) OVER (PARTITION BY f ORDER BY doc_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
       |  FROM cw_lens)
       |SELECT ${warcIdSql("o.doc_id")} AS doc_id,
       |  'https://example.org/doc/' || CAST(o.doc_id AS VARCHAR) AS url,
       |  '2024-01-' || lpad(CAST(o.doc_id % 28 + 1 AS VARCHAR), 2, '0')
       |    || 'T00:00:00Z' AS warc_date,
       |  CAST(o.status AS INTEGER) AS status,$offsetCol
       |  o.block_len AS n_block_bytes,
       |  o.text,
       |  CAST(length(o.html) AS INTEGER) AS n_chars_raw,
       |  CAST(length(o.text) AS INTEGER) AS n_chars_text
       |FROM cw_offs o
       |WHERE o.status = 200
       |  AND CAST(('0x' || substr(md5('cdx' || 'https://example.org/doc/'
       |    || CAST(o.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 3 = 0
       |ORDER BY 1""".stripMargin
  }

  private def htmlDocPipelineSqlOver(htmlDocsCte: String): String = {
    val body = allBase("doc_pipeline")
    require(body.startsWith("WITH RECURSIVE "), "doc_pipeline twin shape changed")
    val rewired = body.replace("FROM documents", "FROM html_docs")
    require(!rewired.contains("FROM documents") && rewired != body,
      "doc_pipeline twin no longer reads FROM documents as expected")
    s"""WITH RECURSIVE $htmlPageCtes,
       |$htmlDocsCte,
       |${rewired.stripPrefix("WITH RECURSIVE ")}""".stripMargin
  }

  private lazy val htmlDocPipelineSql: String =
    htmlDocPipelineSqlOver("html_docs AS (SELECT doc_id, text FROM ex)")

  /** v4 funnel twin — shared by the `doc_pipeline_full_v4` row and
    * the per-reason release card that nests it.
    */
  private lazy val docPipelineFullV4Sql: String = {
    val target = graft.operators.Corpus.TargetLangs.toSeq.sorted
      .map(l => s"'$l'").mkString(", ")
      val reason =
        s"""CASE WHEN l.doc_id <> l.cluster THEN 'dup'
           |       WHEN dec.contaminated THEN 'contaminated'
           |       WHEN sem.contaminated THEN 'semantic_contaminated'
           |       WHEN NOT gg.keep_source THEN 'bad_source'
           |       WHEN pl.predicted NOT IN ($target) THEN 'wrong_language'
           |       WHEN q.n_tokens < ${TextStats.MinTokens} THEN 'too_short'
           |       WHEN q.quality < ${TextStats.QualityMin} THEN 'low_quality'
           |       WHEN lm.ppl >= ${graft.operators.Corpus.LmPplMax}E0 THEN 'high_perplexity'
           |       WHEN rep.top_bigram_frac >= ${graft.operators.Corpus.RepetitionMax} THEN 'repetitive'
           |       WHEN sd.n_dup_spans > 0 THEN 'dup_spans'
           |       ELSE 'keep' END""".stripMargin
      s"""WITH RECURSIVE $nearDupCtes,
         |$clusterLabelCtes,
         |$decontCtes,
         |$vecNormCte,
         |$embDecontCtes,
         |${substringSpanCtes(
            graft.operators.Dedup.SubstrMinSpanWordsWide,
            graft.operators.Dedup.SubstrGramNWide)},
         |sd AS (
         |  SELECT nw.doc_id,
         |    CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_dup_spans,
         |    CAST(coalesce(a.dup_words, 0) AS BIGINT) AS dup_words
         |  FROM nw LEFT JOIN (
         |    SELECT doc_id, count(*) AS n_spans, sum(ee - ss) AS dup_words
         |    FROM ms GROUP BY doc_id) a USING (doc_id)
         |),
         |$pipelineFaceCtes,
         |$lmStoredCtes,
         |$gateCtes,
         |$langPredictCte
         |SELECT l.doc_id, l.cluster, sz.cluster_size,
         |  l.doc_id = l.cluster AS is_canonical,
         |  dec.contamination, dec.contaminated,
         |  sem.max_cos, sem.contaminated AS sem_contaminated,
         |  q.n_tokens, q.quality, pii.n_emails, pii.n_longnums,
         |  rep.top_bigram_frac, sd.n_dup_spans, sd.dup_words,
         |  lm.ppl, gg.keep_source, pl.predicted AS predicted_lang,
         |  $reason AS reason,
         |  ($reason) = 'keep' AS keep
         |FROM lab l JOIN sz USING (cluster) JOIN dec USING (doc_id)
         |JOIN semdec sem ON sem.vec_id = l.doc_id
         |JOIN q USING (doc_id) JOIN pii USING (doc_id) JOIN rep USING (doc_id)
         |JOIN sd USING (doc_id)
         |JOIN lmdoc lm ON lm.doc_id = l.doc_id
         |JOIN plang pl ON pl.doc_id = l.doc_id
         |JOIN documents dsrc ON dsrc.doc_id = l.doc_id
         |JOIN gg ON gg.source = dsrc.source
         |ORDER BY doc_id""".stripMargin
  }

  /** `warc_pipeline`'s twin: the html pipeline over the WARC reader's
    * URI-keyed ids — the scan emits md5-60bit(Target-URI) for every
    * record, so the whole curation pipeline downstream runs on those.
    */
  private lazy val warcDocPipelineSql: String =
    htmlDocPipelineSqlOver(
      s"html_docs AS (SELECT ${warcIdSql("doc_id")} AS doc_id, text FROM ex)")

  private lazy val allBase: Map[String, String] = Map(
    "span_metrics" -> withDensified(spanMetricsSql, fillPolicy = Some("forward")),

    "score_series" -> scoreSeriesSql,
    "scored" -> scoredSql,
    "streaming_scored" -> streamingScoredSql,
    "scored_scale" -> scoredScaleSql,
    "metrics" -> metricsSql,

    "ann_ivf" ->
      s"""WITH $vecNormCte,
         |${ivfCtes()},
         |scored AS (
         |  SELECT p.q_id, a.vec_id,
         |    ${cosSql("p.qe", "a.embedding", "p.qnorm", "a.norm")} AS cos_raw
         |  FROM probes p JOIN asg a ON p.c_id = a.c_id AND p.q_id <> a.vec_id
         |),
         |rk AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |              ORDER BY cos_raw DESC, vec_id) AS INTEGER) AS rn
         |  FROM scored
         |)
         |SELECT q_id, rn, vec_id, round(cos_raw, 6) AS cos
         |FROM rk WHERE rn <= ${graft.operators.Ann.K} ORDER BY q_id, rn""".stripMargin,

    "ann_ivf_lists" ->
      s"""WITH $vecNormCte,
         |${ivfCtes()}
         |SELECT c_id, CAST(count(*) AS BIGINT) AS n_vecs
         |FROM asg GROUP BY c_id ORDER BY c_id""".stripMargin,

    // PQ twin: same stand-in codebook (first PqK corpus vectors), same
    // strict j-ascending subspace L2 fold (list_sum = Spark's aggregate
    // left fold, the cosSql precedent), same argmin/rank tie-breaks,
    // same 1e-9 fixed-point ADC sums (exact integers, order-free).
    // DuckDB lists are 1-based, hence the +1 on every subvector index.
    // Semantic decontamination twin: same cosine fold as the ann_topk
    // twin (cosSql ≡ float_dot's strict index-ascending widen-to-double
    // fold), quantized to 1e-9 fixed point BEFORE the per-vector max so
    // the aggregate is order-free on both engines.
    "emb_decontaminate" -> embDecontSql,

    // ingest-time kernel over bounded input == the batch operator row
    // for row (the stream maps Ann.embContamFp verbatim) — shared twin
    "streaming_emb_decontaminate" -> embDecontSql,

    "ann_pq_codes" ->
      s"""WITH $pqCtes
         |SELECT vec_id, m, code FROM pq_codes ORDER BY vec_id, m""".stripMargin,

    // the non-contiguous-id edge: drop one vec_id < PqK from the
    // corpus so the surviving codebook ids are 0,1,2,4..15 — codes are
    // POSITIONS into the vec_id-sorted survivor set on both engines,
    // so labels must agree even though position != vec_id from slot 3
    // on (pins the pqEncode/pqcStandIn label contract)
    "ann_pq_codes_gap" ->
      s"""WITH eg AS (SELECT * FROM embeddings WHERE vec_id <> ${PqGapId}),
         |${pqCtesWith(pqcStandInFrom("eg"), "eg")}
         |SELECT vec_id, m, code FROM pq_codes ORDER BY vec_id, m""".stripMargin,

    "ann_pq_topk" ->
      s"""WITH $pqAdcCtes,
         |pq_rk AS (
         |  SELECT q_id, vec_id, dist_q,
         |    CAST(row_number() OVER (PARTITION BY q_id ORDER BY dist_q, vec_id) AS INTEGER) AS rn
         |  FROM pq_dist
         |)
         |SELECT q_id, rn, vec_id,
         |  round(CAST(dist_q AS DOUBLE) / 1000000000, 6) AS dist
         |FROM pq_rk WHERE rn <= ${graft.operators.Ann.K} ORDER BY q_id, rn""".stripMargin,

    // shortlist-by-ADC + exact-L2 rerank: the production PQ pipeline
    // (coarse codes collapse tight neighborhoods onto one ADC plateau;
    // the exact pass over |queries| x shortlist rows recovers the true
    // order without corpus-sized float math)
    "ann_pq_rerank" -> {
      val dims = graft.operators.Ann.PqM * graft.operators.Ann.PqSub
      s"""WITH $pqAdcCtes,
         |pq_sl AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY dist_q, vec_id) AS srn
         |    FROM pq_dist)
         |  WHERE srn <= ${graft.operators.Ann.PqShortlist}
         |),
         |pq_ex AS (
         |  SELECT sl.q_id, sl.vec_id,
         |    list_sum(list_transform(range($dims), j ->
         |      (CAST(q.qe[j + 1] AS DOUBLE) - CAST(e.embedding[j + 1] AS DOUBLE))
         |      * (CAST(q.qe[j + 1] AS DOUBLE) - CAST(e.embedding[j + 1] AS DOUBLE)))) AS l2_raw
         |  FROM pq_sl sl
         |  JOIN embeddings e ON e.vec_id = sl.vec_id
         |  JOIN pq_q q ON q.q_id = sl.q_id
         |)
         |SELECT q_id, rn, vec_id, round(l2_raw, 6) AS l2 FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY l2_raw, vec_id) AS INTEGER) AS rn
         |  FROM pq_ex)
         |WHERE rn <= ${graft.operators.Ann.K} ORDER BY q_id, rn""".stripMargin
    },

    // IVF-PQ composition: the coarse-quantizer CTEs (cent/asg/probes)
    // prune to NProbe lists per query, the ADC tables score only those
    // lists' codes (pq_dist from pqAdcCtes goes unreferenced and is
    // pruned by the optimizer)
    "ann_ivfpq" -> annIvfPqSql,

    // the SERVING-layout path computes the identical IVF-PQ result —
    // parquet round-trips the codes/centroids exactly, so the on-disk
    // index shares the in-memory twin verbatim
    "ann_index_topk" -> annIvfPqSql,

    // the residual serving layout encodes and ranks exactly the
    // in-memory residual path's geometry (stand-in books, firstK
    // coarse) — shared twin, assigned below via allBase

    // recall@K of the IVF-PQ tier vs brute force: both legs are the
    // registry's own verified CTEs (cosSql exact ranking, the
    // pruned-scan ivfpq body), joined per query — n_exact/n_hit are
    // integers, recall a single rounded division
    "ann_recall_report" -> {
      val k = graft.operators.Ann.K
      s"""WITH $vecNormCte,
         |${ivfCtes()},
         |${pqAdcCtesWith(pqcStandIn)},
         |ivfpq AS (
         |  SELECT p.q_id, a.vec_id, CAST(sum(qd.dq) AS BIGINT) AS dist_q
         |  FROM probes p
         |  JOIN asg a USING (c_id)
         |  JOIN pq_codes pc ON pc.vec_id = a.vec_id
         |  JOIN pq_qdt qd ON qd.q_id = p.q_id AND qd.m = pc.m AND qd.k = pc.code
         |  WHERE p.q_id <> a.vec_id
         |  GROUP BY p.q_id, a.vec_id
         |),
         |approx AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT q_id, vec_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY dist_q, vec_id) AS rn
         |    FROM ivfpq)
         |  WHERE rn <= $k
         |),
         |exact AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT p.q_id, v.vec_id,
         |      row_number() OVER (PARTITION BY p.q_id ORDER BY
         |        ${cosSql("p.qe", "v.embedding", "p.qnorm", "v.norm")} DESC, v.vec_id) AS rn
         |    FROM (SELECT vec_id AS q_id, embedding AS qe, norm AS qnorm FROM vn
         |          WHERE vec_id % ${graft.operators.Ann.QueryMod} = 0) p
         |    JOIN vn v ON p.q_id <> v.vec_id)
         |  WHERE rn <= $k
         |)
         |SELECT e.q_id,
         |  CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  round(CAST(sum(CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / count(*), 6) AS recall
         |FROM exact e LEFT JOIN approx a ON a.q_id = e.q_id AND a.vec_id = e.vec_id
         |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin
    },

    // upsert path: tombstone+re-append must equal the in-memory IVF-PQ
    // over the logically-updated corpus under frozen index metadata
    "ann_index_upsert_topk" -> annIndexUpsertSql,
    "ann_index_rebuild_topk" -> annIndexRebuildSql,

    // residual IVF-PQ: per-list codebooks over v - centroid (stand-in:
    // each list's first PqK members' residuals, code = rank), corpus
    // codes argmin'd against their OWN list's codebook, per-(query,
    // probed list) dtables over the query residual — every stage
    // mirrors ivfPqResidualTopK with the same folds and tie-breaks
    "ann_ivfpq_residual" -> annIvfPqResidualSqlWith(
      s"""rcb AS (
         |  SELECT c_id, CAST(rn - 1 AS INT) AS k, rv AS cb FROM (
         |    SELECT c_id, rv, row_number() OVER (PARTITION BY c_id ORDER BY vec_id) AS rn
         |    FROM res)
         |  WHERE rn <= ${graft.operators.Ann.PqK}
         |)""".stripMargin),

    // banded hyperplane LSH: same 4x16-plane signature, band-keyed
    // self-join, exact-cosine verify, DISTINCT over multi-band
    // collisions — mirrors embNearDup stage for stage
    "emb_near_dup" ->
      s"""WITH $embNearDupCtes
         |SELECT DISTINCT vec_a, vec_b, round(cos_raw, 6) AS cos
         |FROM cand WHERE cos_raw >= ${graft.operators.Ann.NearDupCos}
         |ORDER BY vec_a, vec_b""".stripMargin,

    // k-NN graph twin: the SAME banded candidate CTEs (cand), distinct
    // undirected pairs flipped to directed, rank per vector
    // Graph-ANN twin: deterministic small-world build (banded kNN
    // short links + md5-ring skip long links) and the fixed-round
    // beam as unrolled CTEs — same seeds, same tie-breaks, so build
    // AND search replay bit-for-bit.
    "ann_hnsw_topk" -> annHnswSql,
    // the serving-layout face: the build is deterministic, so the
    // frozen artifacts equal the per-invocation build and ONE twin
    // replays both (the ann_index_topk/ann_ivfpq precedent)
    "ann_index_hnsw_topk" -> annHnswSql,

    "ann_knn_join" ->
      s"""WITH $embNearDupCtes,
         |und AS (SELECT DISTINCT vec_a, vec_b, cos_raw FROM cand),
         |dir AS (
         |  SELECT vec_a AS vec_id, vec_b AS nn, cos_raw FROM und
         |  UNION ALL
         |  SELECT vec_b AS vec_id, vec_a AS nn, cos_raw FROM und
         |),
         |rk AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
         |              ORDER BY cos_raw DESC, nn) AS INTEGER) AS rn
         |  FROM dir
         |)
         |SELECT vec_id, rn, nn, round(cos_raw, 6) AS cos
         |FROM rk WHERE rn <= ${graft.operators.Ann.KnnJoinK}
         |ORDER BY vec_id, rn""".stripMargin,

    // multi-probe banded query top-K twin: corpus augmented with exact
    // twins of the query vectors (vec_id + 100000 — the registry query
    // must demonstrably RETRIEVE: on the isotropic sf corpora a 16-bit
    // band key almost never collides, so the unaugmented row would be
    // a vacuous 0-row hash match); probe rows are the banded signature
    // filtered to the original query ids, candidates = band-key
    // collisions across all 4 bands (DISTINCT over multi-band hits),
    // exact-cosine rank (cand goes unreferenced and is pruned)
    "ann_topk_banded" ->
      s"""WITH embx AS (
         |  SELECT vec_id, label, embedding FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + ${graft.Queries.BandedTwinOffset}, label, embedding
         |  FROM embeddings WHERE vec_id % ${graft.operators.Ann.QueryMod} = 0
         |),
         |${embNearDupCtesFrom("embx")},
         |qb AS (
         |  SELECT vec_id AS q_id, embedding AS qe, norm AS qnorm, band, key
         |  FROM banded0
         |  WHERE vec_id % ${graft.operators.Ann.QueryMod} = 0
         |    AND vec_id < ${graft.Queries.BandedTwinOffset}
         |),
         |sc AS (
         |  SELECT DISTINCT qb.q_id, a.vec_id,
         |    ${cosSql("qb.qe", "a.embedding", "qb.qnorm", "a.norm")} AS cos_raw
         |  FROM banded a JOIN qb
         |    ON a.band = qb.band AND a.key = qb.key AND qb.q_id <> a.vec_id
         |),
         |rk AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |              ORDER BY cos_raw DESC, vec_id) AS INTEGER) AS rn
         |  FROM sc
         |)
         |SELECT q_id, rn, vec_id, round(cos_raw, 6) AS cos
         |FROM rk WHERE rn <= ${graft.operators.Ann.K} ORDER BY q_id, rn""".stripMargin,

    // the semantic ingest-time fold over bounded input equals the
    // hyperplane banded self-join with the exact-cosine verify, kept
    // per band (each vector holds one key per band, so a pair appears
    // at most once per band on both sides); banded0 — the exact
    // stream is uncapped, like every exact streaming twin
    "streaming_emb_near_dup" ->
      s"""WITH $embNearDupCtes
         |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, CAST(a.band AS INTEGER) AS band,
         |  round(${cosSql("a.embedding", "b.embedding", "a.norm", "b.norm")}, 6) AS cos
         |FROM banded0 a JOIN banded0 b ON a.band = b.band AND a.key = b.key
         |                             AND a.vec_id < b.vec_id
         |WHERE ${cosSql("a.embedding", "b.embedding", "a.norm", "b.norm")}
         |   >= ${graft.operators.Ann.NearDupCos}
         |ORDER BY vec_a, vec_b, band""".stripMargin,

    // semantic dup-cluster twin: the same transitive-closure fixpoint
    // as doc_dedup_clusters, over the banded embedding pair graph
    "emb_dedup_clusters" ->
      s"""WITH RECURSIVE $embNearDupCtes,
         |prs AS (
         |  SELECT DISTINCT vec_a, vec_b FROM cand
         |  WHERE cos_raw >= ${graft.operators.Ann.NearDupCos}
         |),
         |e AS (
         |  SELECT vec_a AS a, vec_b AS b FROM prs
         |  UNION ALL
         |  SELECT vec_b AS a, vec_a AS b FROM prs
         |),
         |reach(src, dst) AS (
         |  SELECT vec_id, vec_id FROM embeddings
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
         |),
         |lab AS (SELECT src AS vec_id, min(dst) AS cluster FROM reach GROUP BY src),
         |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM lab GROUP BY cluster)
         |SELECT l.vec_id, l.cluster, sz.cluster_size,
         |       l.vec_id = l.cluster AS is_canonical
         |FROM lab l JOIN sz USING (cluster)
         |ORDER BY vec_id""".stripMargin,

    "ann_topk" ->
      s"""${annTopkSql(bucketed = false)}
         |SELECT q_id, rn, vec_id, round(cos_raw, 6) AS cos
         |FROM rk WHERE rn <= ${graft.operators.Ann.K} ORDER BY q_id, rn""".stripMargin,

    // Range twin: the same scored stream, thresholded on the RAW cosine
    // (both engines compute it bit-identically) — no rank window.
    "ann_range_search" ->
      s"""${annTopkSql(bucketed = false)}
         |SELECT q_id, vec_id, round(cos_raw, 6) AS cos
         |FROM scored WHERE cos_raw >= ${graft.operators.Ann.RangeTau}
         |ORDER BY q_id, vec_id""".stripMargin,

    "ann_lsh" ->
      s"""${annTopkSql(bucketed = true)}
         |SELECT q_id, rn, vec_id, round(cos_raw, 6) AS cos
         |FROM rk WHERE rn <= ${graft.operators.Ann.K} ORDER BY q_id, rn""".stripMargin,

    // Twin of Ann.cosineTopKFiltered: the brute chain with the label
    // equality folded into the join condition.
    "ann_filtered_topk" ->
      s"""WITH $vecNormCte,
         |q AS (SELECT vec_id AS q_id, embedding AS qe, norm AS qnorm, label AS q_label
         |      FROM vn WHERE vec_id % ${graft.operators.Ann.QueryMod} = 0),
         |scored AS (
         |  SELECT q.q_id, v.vec_id,
         |    $cosExpr AS cos_raw
         |  FROM q JOIN vn v ON q.q_id <> v.vec_id AND v.label = q.q_label
         |),
         |rk AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |              ORDER BY cos_raw DESC, vec_id) AS INTEGER) AS rn
         |  FROM scored
         |)
         |SELECT q_id, rn, vec_id, round(cos_raw, 6) AS cos
         |FROM rk WHERE rn <= ${graft.operators.Ann.K} ORDER BY q_id, rn""".stripMargin,

    "ann_buckets" ->
      s"""WITH b AS (SELECT vec_id, $bucketExpr AS bucket FROM embeddings)
         |SELECT bucket, CAST(count(*) AS BIGINT) AS n_vecs
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "ann_classify" ->
      s"""${annTopkSql(bucketed = false)},
         |nb AS (
         |  SELECT rk.q_id, e.label FROM rk
         |  JOIN embeddings e ON rk.vec_id = e.vec_id
         |  WHERE rk.rn <= ${graft.operators.Ann.K}
         |),
         |votes AS (
         |  SELECT q_id, label, CAST(count(*) AS BIGINT) AS votes
         |  FROM nb GROUP BY q_id, label
         |),
         |best AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |                               ORDER BY votes DESC, label) AS vr
         |  FROM votes
         |)
         |SELECT b.q_id, b.label AS predicted, b.votes, e.label AS true_label,
         |       b.label = e.label AS correct
         |FROM best b JOIN embeddings e ON b.q_id = e.vec_id
         |WHERE b.vr = 1 ORDER BY q_id""".stripMargin,

    // DuckDB cannot assemble binary container headers, so the twin
    // recomputes what a CORRECT header parse must return from the same
    // source fields the synth encoded: format from the doc_id parity
    // that picked the container, decoded dims equal to the metadata
    // dims the synth wrote into IHDR/SOF0, n_bytes = body + header size
    // (33-byte PNG sig+IHDR, 21-byte JPEG SOI+SOF0). A parse reading
    // the wrong bytes diverges from this and fails the hash.
    "mm_features" ->
      """SELECT doc_id, 'image' AS modality,
        |  n_chars % 64 + 16 AS width,
        |  n_chars * 7 % 64 + 16 AS height,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |  n_chars % 64 + 16 AS decoded_w,
        |  n_chars * 7 % 64 + 16 AS decoded_h,
        |  CAST(length(p) + CASE WHEN doc_id % 2 = 0 THEN 33 ELSE 21 END AS BIGINT) AS n_bytes,
        |  round(CAST(n_chars % 64 + 16 AS DOUBLE) / (n_chars * 7 % 64 + 16), 6) AS aspect
        |FROM (SELECT *, regexp_replace(text, '[^\x20-\x7e]', '_', 'g') AS p
        |      FROM documents) ORDER BY doc_id""".stripMargin,
    "mm_frames" ->
      s"""WITH p AS (SELECT doc_id, regexp_replace(text, '[^\\x20-\\x7e]', '_', 'g') AS p
         |           FROM documents)
         |SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
         |  CAST(length(substr(p, CAST(i*${graft.operators.Multimodal.FrameBytes}+1 AS INTEGER), ${graft.operators.Multimodal.FrameBytes})) AS BIGINT) AS n_bytes,
         |  md5(substr(p, CAST(i*${graft.operators.Multimodal.FrameBytes}+1 AS INTEGER), ${graft.operators.Multimodal.FrameBytes})) AS frame_md5
         |FROM p, LATERAL (SELECT unnest(range(CAST(ceil(length(p)/${graft.operators.Multimodal.FrameBytes}.0) AS BIGINT))) AS i)
         |WHERE i % ${graft.operators.Multimodal.SampleEvery} = 0
         |ORDER BY doc_id, frame_idx""".stripMargin,

    "mm_resize" ->
      s"""WITH p AS (SELECT doc_id, regexp_replace(text, '[^\\x20-\\x7e]', '_', 'g') AS p
         |           FROM documents)
         |SELECT doc_id, CAST(length(s) AS BIGINT) AS n_bytes_resized, md5(s) AS resized_md5
         |FROM (SELECT doc_id,
         |  -- coalesce: string_agg over an empty list is NULL in DuckDB,
         |  -- but the Spark side hashes an empty byte array for an empty
         |  -- payload -- both must yield md5('')
         |  coalesce(list_aggregate(list_transform(range(CAST(ceil(length(p)/${graft.operators.Multimodal.ResizeStride}.0) AS BIGINT)),
         |    i -> substr(p, CAST(i*${graft.operators.Multimodal.ResizeStride}+1 AS INTEGER), 1)), 'string_agg', ''), '') AS s
         |  FROM p)
         |ORDER BY doc_id""".stripMargin,

    "mm_phash" ->
      s"""WITH ${phashCtes(docPaySql)}
         |SELECT doc_id, ph_hi, ph_lo FROM full_ph
         |ORDER BY doc_id""".stripMargin,

    // The pixel-true twin replays the planted grid from its md5
    // FORMULA (Multimodal.pxPlantValue) — no codec: grayscale pixels
    // make BT.601 integer luma the identity ((299+587+114)v/1000 = v),
    // the 36x32 canvas divides the 9x8 grid exactly so block counts
    // are equal and plain integer block sums compare, and bit y*8+x
    // packs into the same hi/lo halves the Spark kernel fills. The
    // Spark side decodes REAL ImageIO-written PNG bytes; hash equality
    // against this codec-free replay is the decode proof.
    "mm_phash_px" -> {
      val (pe, w, h) = (
        graft.operators.Multimodal.PxPlantEvery,
        graft.operators.Multimodal.PxImgW,
        graft.operators.Multimodal.PxImgH)
      s"""WITH g AS (
         |  SELECT d.doc_id, x.x, y.y,
         |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '_' ||
         |      CAST(x.x AS VARCHAR) || '_' || CAST(y.y AS VARCHAR)), 1, 2)) AS BIGINT) AS v
         |  FROM (SELECT doc_id FROM documents WHERE doc_id % $pe = 0) d,
         |       range($w) x(x), range($h) y(y)
         |),
         |blk AS (
         |  SELECT doc_id, CAST(y // ${h / 8} AS INT) AS by, CAST(x // ${w / 9} AS INT) AS bx,
         |    CAST(sum(v) AS BIGINT) AS s
         |  FROM g GROUP BY 1, 2, 3
         |),
         |bits AS (
         |  SELECT a.doc_id, a.by * 8 + a.bx AS bi,
         |    CASE WHEN n.s > a.s THEN 1 ELSE 0 END AS bit
         |  FROM blk a JOIN blk n ON n.doc_id = a.doc_id AND n.by = a.by AND n.bx = a.bx + 1
         |  WHERE a.bx < 8
         |)
         |SELECT doc_id,
         |  CAST(sum(CASE WHEN bi >= 32 THEN bit * (CAST(1 AS BIGINT) << (bi - 32)) ELSE 0 END) AS BIGINT) AS ph_hi,
         |  CAST(sum(CASE WHEN bi < 32 THEN bit * (CAST(1 AS BIGINT) << bi) ELSE 0 END) AS BIGINT) AS ph_lo
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // Tiled twin: same md5 grid replay as mm_phash_px, but hashed per
    // fixed 12x8 tile in absolute coordinates — the crop rows replay
    // pixel (x, y) as formula value (x + PxCropX, y + PxCropY) of the
    // SOURCE doc, so a surviving tile's sums equal the original's
    // bit-for-bit. Plant dims divide the tile grid exactly (36=3·12,
    // 32=4·8, 24=2·12=3·8), so every pixel belongs to a full tile on
    // both engines.
    "mm_phash_tiles" ->
      s"""WITH $tileHashCtes
         |SELECT doc_id, tile_x, tile_y, th_hi, th_lo FROM th
         |ORDER BY doc_id, tile_y, tile_x""".stripMargin,

    // position-free tile vote: distinct hash values per doc, the
    // BandCap census over (th_hi, th_lo) buckets, equality self-join,
    // >= TileMinVotes shared values = a pair
    "mm_image_near_dup_tiles" ->
      s"""WITH $tileHashCtes,
         |tdh AS (SELECT DISTINCT doc_id, th_hi, th_lo FROM th),
         |${capCte("tdh", "tdhc", Seq("th_hi", "th_lo"), "doc_id")}
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(*) AS BIGINT) AS votes
         |FROM tdhc a JOIN tdhc b
         |  ON b.th_hi = a.th_hi AND b.th_lo = a.th_lo AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= ${graft.operators.Multimodal.TileMinVotes}
         |ORDER BY doc_a, doc_b""".stripMargin,

    // the half-stride lattice twin + its vote — same grid math as the
    // aligned rows over overlapping positions; the crop replays pixel
    // (x, y) as formula value (x + 6, y + 4) of the source doc
    "mm_phash_tiles_overlap" ->
      s"""WITH $tileOverlapCtes
         |SELECT doc_id, tile_x, tile_y, th_hi, th_lo FROM ovth
         |ORDER BY doc_id, tile_y, tile_x""".stripMargin,

    "mm_image_near_dup_tiles_overlap" ->
      s"""WITH $tileOverlapCtes,
         |ovdh AS (SELECT DISTINCT doc_id, th_hi, th_lo FROM ovth),
         |${capCte("ovdh", "ovdhc", Seq("th_hi", "th_lo"), "doc_id")}
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(*) AS BIGINT) AS votes
         |FROM ovdhc a JOIN ovdhc b
         |  ON b.th_hi = a.th_hi AND b.th_lo = a.th_lo AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= ${graft.operators.Multimodal.TileMinVotes}
         |ORDER BY doc_a, doc_b""".stripMargin,

    // content-anchored twin: gradient-local-max anchors + the tile
    // bit math keyed per anchor, over the originals and the (7,3)
    // off-lattice crops — the crop rows replay pixel (x, y) as
    // formula value (x + 7, y + 3) of the source doc, so every
    // shared anchor's descriptor equals the original's bit-for-bit
    "mm_anchor_hashes" ->
      s"""WITH $anchoredCtes
         |SELECT doc_id, anchor_x, anchor_y, ah_hi, ah_lo FROM anc
         |ORDER BY doc_id, anchor_y, anchor_x""".stripMargin,

    // the anchored vote: distinct descriptor values per doc, the same
    // capped census, equality self-join, >= AnchorMinVotes
    "mm_image_near_dup_anchored" ->
      s"""WITH $anchoredCtes,
         |adh AS (SELECT DISTINCT doc_id, ah_hi, ah_lo FROM anc),
         |${capCte("adh", "adhc", Seq("ah_hi", "ah_lo"), "doc_id")}
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(count(*) AS BIGINT) AS votes
         |FROM adhc a JOIN adhc b
         |  ON b.ah_hi = a.ah_hi AND b.ah_lo = a.ah_lo AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= ${graft.operators.Multimodal.AnchorMinVotes}
         |ORDER BY doc_a, doc_b""".stripMargin,

    // the stored-base twin reuses the aligned tile CTEs and splits by
    // id span: base = the originals (capped over their own write-time
    // census — flag+filter ≡ cap), batch = the crops (capped over
    // their own census), then the batch-vs-base vote
    "mm_image_tiles_incremental_stored" -> {
      val cb = graft.operators.Multimodal.PxCropIdBase
      val mv = graft.operators.Multimodal.TileMinVotes
      s"""WITH $tileHashCtes,
         |sbase0 AS (SELECT DISTINCT doc_id, th_hi, th_lo FROM th WHERE doc_id < $cb),
         |${capCte("sbase0", "sbase", Seq("th_hi", "th_lo"), "doc_id")},
         |sbatch0 AS (SELECT DISTINCT doc_id, th_hi, th_lo FROM th WHERE doc_id >= $cb),
         |${capCte("sbatch0", "sbatch", Seq("th_hi", "th_lo"), "doc_id")}
         |SELECT b.doc_id AS doc_batch, c.doc_id AS doc_corpus,
         |  CAST(count(*) AS BIGINT) AS votes
         |FROM sbatch b JOIN sbase c
         |  ON c.th_hi = b.th_hi AND c.th_lo = b.th_lo
         |GROUP BY 1, 2
         |HAVING count(*) >= $mv
         |ORDER BY doc_batch, doc_corpus""".stripMargin
    },

    // anchored dup clusters: the anchored vote's pair stream through
    // the recursive min-label CC twin (the video/audio cluster twins'
    // shape); universe = docs that anchor
    "mm_image_anchored_clusters" -> {
      val mv = graft.operators.Multimodal.AnchorMinVotes
      s"""WITH RECURSIVE $anchoredCtes,
         |adh AS (SELECT DISTINCT doc_id, ah_hi, ah_lo FROM anc),
         |${capCte("adh", "adhc", Seq("ah_hi", "ah_lo"), "doc_id")},
         |aprs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM adhc a JOIN adhc b
         |    ON b.ah_hi = a.ah_hi AND b.ah_lo = a.ah_lo AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |  HAVING count(*) >= $mv
         |),
         |ae AS (
         |  SELECT doc_a AS a, doc_b AS b FROM aprs
         |  UNION ALL
         |  SELECT doc_b AS a, doc_a AS b FROM aprs
         |),
         |auniv AS (SELECT DISTINCT doc_id FROM anc),
         |areach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM auniv
         |  UNION
         |  SELECT r.src, ae.b FROM areach r JOIN ae ON r.dst = ae.a
         |),
         |alab AS (SELECT src AS doc_id, min(dst) AS cluster FROM areach GROUP BY src),
         |asz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
         |        FROM alab GROUP BY cluster)
         |SELECT l.doc_id, l.cluster, sz.cluster_size,
         |       l.doc_id = l.cluster AS is_canonical
         |FROM alab l JOIN asz sz USING (cluster)
         |ORDER BY doc_id""".stripMargin
    },

    // the stored-anchor twin mirrors the stored-tile one over the
    // anchored CTEs: split by id span, per-side capCte, batch-vs-base
    // vote at the anchored bar
    "mm_image_anchored_incremental_stored" -> {
      val cb = graft.operators.Multimodal.PxCrop3IdBase
      val mv = graft.operators.Multimodal.AnchorMinVotes
      s"""WITH $anchoredCtes,
         |asbase0 AS (SELECT DISTINCT doc_id, ah_hi, ah_lo FROM anc WHERE doc_id < $cb),
         |${capCte("asbase0", "asbase", Seq("ah_hi", "ah_lo"), "doc_id")},
         |asbatch0 AS (SELECT DISTINCT doc_id, ah_hi, ah_lo FROM anc WHERE doc_id >= $cb),
         |${capCte("asbatch0", "asbatch", Seq("ah_hi", "ah_lo"), "doc_id")}
         |SELECT b.doc_id AS doc_batch, c.doc_id AS doc_corpus,
         |  CAST(count(*) AS BIGINT) AS votes
         |FROM asbatch b JOIN asbase c
         |  ON c.ah_hi = b.ah_hi AND c.ah_lo = b.ah_lo
         |GROUP BY 1, 2
         |HAVING count(*) >= $mv
         |ORDER BY doc_batch, doc_corpus""".stripMargin
    },

    // the WAV twin replays the synth parameters and the exact integer
    // duration math; data_bytes = ASCII-projected length (codepoint
    // semantics pinned by the docPaySql note)
    "mm_audio_features" ->
      """SELECT doc_id, 'wav' AS format,
        |  CAST(8000 + (n_chars % 3) * 4000 AS BIGINT) AS sample_rate,
        |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
        |  CAST(16 AS BIGINT) AS bits,
        |  CAST(length(regexp_replace(text, '[^\x20-\x7e]', '_', 'g')) AS BIGINT) AS data_bytes,
        |  CAST(length(regexp_replace(text, '[^\x20-\x7e]', '_', 'g')) * 1000
        |       // ((8000 + (n_chars % 3) * 4000) * (1 + doc_id % 2) * 2) AS BIGINT) AS duration_ms
        |FROM documents ORDER BY doc_id""".stripMargin,

    // pixel-true resize replay: the planted grid's 2x2 integer box
    // floors (36x32 -> 18x16, exact division both steps since gray
    // luma is the identity), summed and md5'd in row-major order —
    // the codec-free mirror of the real decode/downscale/re-encode
    "mm_resize_px" -> {
      val (pe, w, h, ow, oh) = (
        graft.operators.Multimodal.PxPlantEvery,
        graft.operators.Multimodal.PxImgW,
        graft.operators.Multimodal.PxImgH,
        graft.operators.Multimodal.ResizeOutW,
        graft.operators.Multimodal.ResizeOutH)
      s"""WITH g AS (
         |  SELECT d.doc_id, x.x, y.y,
         |    CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '_' ||
         |      CAST(x.x AS VARCHAR) || '_' || CAST(y.y AS VARCHAR)), 1, 2)) AS BIGINT) AS v
         |  FROM (SELECT doc_id FROM documents WHERE doc_id % $pe = 0) d,
         |       range($w) x(x), range($h) y(y)
         |),
         |cell AS (
         |  SELECT doc_id, CAST(y // ${h / oh} AS INT) AS by, CAST(x // ${w / ow} AS INT) AS bx,
         |    CAST(sum(v) // count(*) AS BIGINT) AS val
         |  FROM g GROUP BY 1, 2, 3
         |),
         |per AS (
         |  SELECT doc_id,
         |    CAST(sum(val) AS BIGINT) AS luma_sum,
         |    md5(string_agg(CAST(val AS VARCHAR), '_' ORDER BY by, bx)) AS luma_md5
         |  FROM cell GROUP BY doc_id
         |)
         |SELECT doc_id, CAST($ow AS INT) AS out_w, CAST($oh AS INT) AS out_h,
         |  luma_sum, luma_md5
         |FROM per ORDER BY doc_id""".stripMargin
    },

    // sample-true resample replay: the synth-formula frames box-average
    // in groups of AudioResampleFactor (floor division, 16-bit clamp),
    // then energy-sum and md5 in frame order — the codec-free mirror
    // of the real decode/decimate/re-encode; the re-encoded WAV rides
    // the Spark row but never the hash
    "mm_audio_resample" -> {
      val f = graft.operators.Multimodal.AudioResampleFactor
      s"""WITH ${audioFrameCtes(1)},
         |ars AS (
         |  SELECT doc_id, k // $f AS g,
         |    CAST(greatest(-32768, least(32767, sum(v) // count(*))) AS BIGINT) AS val
         |  FROM afr GROUP BY doc_id, k // $f
         |),
         |aper AS (
         |  SELECT doc_id,
         |    CAST(count(*) AS BIGINT) AS n_frames,
         |    CAST(sum(abs(val)) AS BIGINT) AS energy_sum,
         |    md5(string_agg(CAST(val AS VARCHAR), '_' ORDER BY g)) AS pcm_md5
         |  FROM ars GROUP BY doc_id
         |)
         |SELECT p.doc_id, CAST(r.rate // $f AS BIGINT) AS out_rate,
         |  p.n_frames, p.energy_sum, p.pcm_md5
         |FROM aper p JOIN arate r USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin
    },

    "mm_audio_phash" ->
      s"""WITH $audioBandedCtes
         |SELECT doc_id, ph_hi, ph_lo FROM full_aph
         |ORDER BY doc_id""".stripMargin,

    "mm_audio_phash_spectral" ->
      s"""WITH $audioSpectralCtes
         |SELECT doc_id, ph_hi, ph_lo FROM full_sph
         |ORDER BY doc_id""".stripMargin,

    "mm_audio_near_dup_spectral" ->
      hammingPairsSql(
        audioSpectralCtes, "sbanded", Multimodal.AudioSpectral, perBand = false, joinPad = 29),

    "mm_video_phash_spectral" ->
      s"""WITH $videoSpectralCtes
         |SELECT doc_id, ph_hi, ph_lo FROM full_vsph
         |ORDER BY doc_id""".stripMargin,

    "mm_video_near_dup_spectral" ->
      hammingPairsSql(
        videoSpectralCtes, "vsbanded", Multimodal.VideoSpectral, perBand = false, joinPad = 31),

    "mm_audio_near_dup" ->
      hammingPairsSql(
        audioBandedCtes, "abanded", Multimodal.Audio, perBand = false, joinPad = 29),

    // the spectral ingest-time folds over bounded input equal the
    // per-band banded0 self-joins at their kernels' gates
    "streaming_mm_audio_near_dup_spectral" ->
      hammingPairsSql(
        audioSpectralCtes, "sbanded0", Multimodal.AudioSpectral, perBand = true, joinPad = 31),

    "streaming_mm_video_near_dup_spectral" ->
      hammingPairsSql(
        videoSpectralCtes, "vsbanded0", Multimodal.VideoSpectral, perBand = true, joinPad = 33),

    // the audio ingest-time fold over bounded input equals the banded
    // self-join with the Hamming verify, kept per band
    "streaming_mm_audio_near_dup" ->
      hammingPairsSql(
        audioBandedCtes, "abanded0", Multimodal.Audio, perBand = true, joinPad = 29),

    // audio pairs through the same recursive transitive closure the
    // text, embedding, and image cluster twins replay
    "mm_audio_dedup_clusters" ->
      s"""WITH RECURSIVE $audioBandedCtes,
         |aprs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM abanded a JOIN abanded b ON a.band = b.band AND a.key = b.key
         |                               AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.ph_lo, b.ph_lo))
         |      + bit_count(xor(a.ph_hi, b.ph_hi)) <= ${graft.operators.Multimodal.MmHammingMax}
         |),
         |ae AS (
         |  SELECT doc_a AS a, doc_b AS b FROM aprs
         |  UNION ALL
         |  SELECT doc_b AS a, doc_a AS b FROM aprs
         |),
         |areach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM full_aph
         |  UNION
         |  SELECT r.src, ae.b FROM areach r JOIN ae ON r.dst = ae.a
         |),
         |alab AS (SELECT src AS doc_id, min(dst) AS cluster FROM areach GROUP BY src),
         |asz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
         |        FROM alab GROUP BY cluster)
         |SELECT l.doc_id, l.cluster, sz.cluster_size,
         |       l.doc_id = l.cluster AS is_canonical
         |FROM alab l JOIN asz sz USING (cluster)
         |ORDER BY doc_id""".stripMargin,

    // the AVI twin replays the synth geometry/timing formulas and the
    // exact integer frame-count and duration math — no container bytes
    "mm_video_features" -> {
      val every = graft.operators.Multimodal.PlantEvery
      val minF = graft.operators.Multimodal.VideoPlantMinFrames
      val idBase = graft.operators.Multimodal.VideoPlantIdBase
      val strideBase = graft.operators.Multimodal.VideoStrideIdBase
      val stride = graft.operators.Multimodal.VideoStride
      val pw = graft.operators.Multimodal.VideoPlantW
      val ph = graft.operators.Multimodal.VideoPlantH
      val uspf = graft.operators.Multimodal.VideoPlantUsPerFrame
      s"""WITH f AS (
         |  SELECT p.doc_id,
         |    CAST(2 + p.doc_id % 3 AS BIGINT) AS width,
         |    CAST(2 + d.n_chars % 3 AS BIGINT) AS height,
         |    CAST(length(p.s) // ((2 + p.doc_id % 3) * (2 + d.n_chars % 3)) AS BIGINT) AS n_frames,
         |    CAST(40000 + (d.n_chars % 3) * 20000 AS BIGINT) AS us_per_frame
         |  FROM ($docPaySql) p JOIN documents d USING (doc_id)
         |  UNION ALL
         |  SELECT doc_id + $idBase, $pw, $ph,
         |    CAST($minF + doc_id % 1000 AS BIGINT), $uspf
         |  FROM documents WHERE doc_id % $every = 0
         |  UNION ALL
         |  SELECT doc_id + $strideBase, $pw, $ph,
         |    CAST(($minF + doc_id % 1000 + ${stride - 1}) // $stride AS BIGINT), ${uspf * stride}
         |  FROM documents WHERE doc_id % $every = 0
         |)
         |SELECT doc_id, 'avi' AS format, width, height, n_frames, us_per_frame,
         |  CAST(n_frames * us_per_frame // 1000 AS BIGINT) AS duration_ms
         |FROM f WHERE n_frames >= 1
         |ORDER BY doc_id""".stripMargin
    },

    "mm_video_phash_px" ->
      s"""WITH $pxVideoCtes
         |SELECT doc_id, slot, ph_hi, ph_lo FROM pxh
         |ORDER BY doc_id, slot""".stripMargin,

    // spatial near-dup twin: per-slot 16-bit banding over the replayed
    // frame hashes, frame-vote verify — each planted clip pairs with
    // its cropped copy (the re-encode the temporal hash cannot catch)
    "mm_video_near_dup_px" ->
      s"""WITH $pxVideoCtes,
         |pxband AS (
         |  SELECT doc_id, slot, ph_hi, ph_lo, band,
         |    CASE WHEN band < 2 THEN (ph_lo >> (band * 16)) & 65535
         |         ELSE (ph_hi >> ((band - 2) * 16)) & 65535 END AS key
         |  FROM pxh, unnest(range(4)) t(band)
         |),
         |pxcand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM pxband a JOIN pxband b
         |    ON a.slot = b.slot AND a.band = b.band AND a.key = b.key
         |   AND a.doc_id < b.doc_id
         |),
         |pxvote AS (
         |  SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_slots,
         |    CAST(sum(CASE WHEN bit_count(xor(ha.ph_lo, hb.ph_lo))
         |                     + bit_count(xor(ha.ph_hi, hb.ph_hi))
         |                     <= ${graft.operators.Multimodal.MmHammingMax}
         |             THEN 1 ELSE 0 END) AS BIGINT) AS votes
         |  FROM pxcand c
         |  JOIN pxh ha ON ha.doc_id = c.doc_a
         |  JOIN pxh hb ON hb.doc_id = c.doc_b AND hb.slot = ha.slot
         |  GROUP BY c.doc_a, c.doc_b
         |)
         |SELECT doc_a, doc_b, n_slots, votes FROM pxvote
         |WHERE votes * 2 > n_slots
         |ORDER BY doc_a, doc_b""".stripMargin,

    "mm_video_phash" ->
      s"""WITH $videoBandedCtes
         |SELECT doc_id, ph_hi, ph_lo FROM full_vph
         |ORDER BY doc_id""".stripMargin,

    // frame-true resample replay: keep every factor-th of the
    // synth-formula per-frame luma sums, count/sum/md5 them in time
    // order — the codec-free mirror of the real walk/decimate/
    // re-encode; the re-encoded AVI rides the Spark row, never the
    // hash
    "mm_video_resample" -> {
      val f = graft.operators.Multimodal.VideoResampleFactor
      val idBase = graft.operators.Multimodal.VideoPlantIdBase
      val strideBase = graft.operators.Multimodal.VideoStrideIdBase
      val uspf = graft.operators.Multimodal.VideoPlantUsPerFrame
      val stride = graft.operators.Multimodal.VideoStride
      s"""WITH ${videoFrameCtes(1)},
         |vrs AS (SELECT doc_id, k, v FROM vfr WHERE k % $f = 0),
         |vper AS (
         |  SELECT doc_id,
         |    CAST(count(*) AS BIGINT) AS n_frames,
         |    CAST(sum(v) AS BIGINT) AS luma_sum,
         |    md5(string_agg(CAST(v AS VARCHAR), '_' ORDER BY k)) AS frames_md5
         |  FROM vrs GROUP BY doc_id
         |),
         |vuspf AS (
         |  SELECT d.doc_id, CAST(40000 + (d.n_chars % 3) * 20000 AS BIGINT) AS uspf
         |  FROM documents d JOIN vtxt USING (doc_id)
         |  UNION ALL SELECT doc_id + $idBase, CAST($uspf AS BIGINT) FROM vpl
         |  UNION ALL SELECT doc_id + $strideBase, CAST(${uspf * stride} AS BIGINT) FROM vpl
         |)
         |SELECT p.doc_id, CAST(u.uspf * $f AS BIGINT) AS out_us_per_frame,
         |  p.n_frames, p.luma_sum, p.frames_md5
         |FROM vper p JOIN vuspf u USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin
    },

    "mm_video_near_dup" ->
      hammingPairsSql(
        videoBandedCtes, "vbanded", Multimodal.Video, perBand = false, joinPad = 29),

    // the video ingest-time fold over bounded input equals the banded
    // self-join with the Hamming verify, kept per band
    "streaming_mm_video_near_dup" ->
      hammingPairsSql(
        videoBandedCtes, "vbanded0", Multimodal.Video, perBand = true, joinPad = 29),

    // video pairs through the same recursive transitive closure the
    // text, embedding, image, and audio cluster twins replay
    "mm_video_dedup_clusters" ->
      s"""WITH RECURSIVE $videoBandedCtes,
         |vprs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM vbanded a JOIN vbanded b ON a.band = b.band AND a.key = b.key
         |                               AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.ph_lo, b.ph_lo))
         |      + bit_count(xor(a.ph_hi, b.ph_hi)) <= ${graft.operators.Multimodal.MmHammingMax}
         |),
         |ve AS (
         |  SELECT doc_a AS a, doc_b AS b FROM vprs
         |  UNION ALL
         |  SELECT doc_b AS a, doc_a AS b FROM vprs
         |),
         |vreach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM full_vph
         |  UNION
         |  SELECT r.src, ve.b FROM vreach r JOIN ve ON r.dst = ve.a
         |),
         |vlab AS (SELECT src AS doc_id, min(dst) AS cluster FROM vreach GROUP BY src),
         |vsz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
         |        FROM vlab GROUP BY cluster)
         |SELECT l.doc_id, l.cluster, sz.cluster_size,
         |       l.doc_id = l.cluster AS is_canonical
         |FROM vlab l JOIN vsz sz USING (cluster)
         |ORDER BY doc_id""".stripMargin,

    "mm_near_dup" ->
      hammingPairsSql(
        mmBandedCtes, "banded", Multimodal.Image, perBand = false, joinPad = 27),

    // the ingest-time perceptual fold over bounded input equals the
    // banded self-join with the Hamming verify, kept per band
    "streaming_mm_near_dup" ->
      hammingPairsSql(
        mmBandedCtes, "banded0", Multimodal.Image, perBand = true, joinPad = 27),

    // perceptual pairs through the same recursive transitive closure
    // the text and embedding cluster twins replay
    "mm_dedup_clusters" ->
      s"""WITH RECURSIVE $mmBandedCtes,
         |prs AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
         |                             AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.ph_lo, b.ph_lo))
         |      + bit_count(xor(a.ph_hi, b.ph_hi)) <= ${graft.operators.Multimodal.MmHammingMax}
         |),
         |e AS (
         |  SELECT doc_a AS a, doc_b AS b FROM prs
         |  UNION ALL
         |  SELECT doc_b AS a, doc_a AS b FROM prs
         |),
         |reach(src, dst) AS (
         |  SELECT doc_id, doc_id FROM pay
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN e ON r.dst = e.a
         |),
         |lab AS (SELECT src AS doc_id, min(dst) AS cluster FROM reach GROUP BY src),
         |sz AS (SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
         |       FROM lab GROUP BY cluster)
         |SELECT l.doc_id, l.cluster, sz.cluster_size,
         |       l.doc_id = l.cluster AS is_canonical
         |FROM lab l JOIN sz USING (cluster)
         |ORDER BY doc_id""".stripMargin,

    "doc_exact_dedup" ->
      """WITH g AS (
        |  SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS group_size,
        |         min(doc_id) AS canonical
        |  FROM documents GROUP BY h
        |)
        |SELECT d.doc_id, g.h, g.canonical, g.group_size,
        |       d.doc_id <> g.canonical AS is_dup
        |FROM (SELECT doc_id, md5(text) AS h FROM documents) d
        |JOIN g USING (h) ORDER BY doc_id""".stripMargin,

    "doc_near_dup" ->
      s"""WITH $nearDupCtes
         |SELECT doc_a, doc_b, n_a, n_b, n_common, jaccard
         |FROM nd ORDER BY doc_a, doc_b""".stripMargin,

    // cap=2 forces the band-bucket sampling coin to fire on every
    // bucket of 3+ (the sf corpora have several): the hash-identical
    // result is the proof both engines replay the SAME deterministic
    // survivor set, not merely "a cap was applied"
    "doc_near_dup_capped" ->
      s"""WITH ${nearDupCtesCap(2)}
         |SELECT doc_a, doc_b, n_a, n_b, n_common, jaccard
         |FROM nd ORDER BY doc_a, doc_b""".stripMargin,

    // the overflow census: which (band, sig) buckets a cap=2 run
    // would sample, and their true sizes — the report that makes a
    // capped run a documented trade instead of a silent truncation
    "doc_band_overflow" ->
      s"""WITH $shinglesCte,
         |${minhashCtesCap(2)}
         |SELECT band, sig, CAST(count(*) AS BIGINT) AS bucket_n
         |FROM bs0 GROUP BY band, sig HAVING count(*) > 2
         |ORDER BY band, sig""".stripMargin,

    "doc_simhash" ->
      s"""WITH $simhashCtes
         |SELECT doc_id, sim_hi, sim_lo FROM sim ORDER BY doc_id""".stripMargin,

    // cross-corpus near-dup: the inc-coin batch side banded against
    // the corpus side (no self-join, no doc_a < doc_b constraint —
    // the two sides are disjoint id sets), verified with the same
    // exact shingle Jaccard
    "doc_near_dup_incremental" ->
      s"""WITH $shinglesCte,
         |$minhashCtes,
         |cn AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5('inc' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS b
         |  FROM documents),
         |bb0 AS (SELECT bs0.* FROM bs0 JOIN cn USING (doc_id) WHERE cn.b = 1),
         |bc0 AS (SELECT bs0.* FROM bs0 JOIN cn USING (doc_id) WHERE cn.b = 0),
         |${capCte("bb0", "bb", Seq("band", "sig"), "doc_id")},
         |${capCte("bc0", "bc", Seq("band", "sig"), "doc_id")},
         |pr AS (
         |  SELECT DISTINCT a.doc_id AS doc_batch, b.doc_id AS doc_corpus
         |  FROM bb a JOIN bc b ON a.band = b.band AND a.sig = b.sig),
         |cnts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
         |com AS (
         |  SELECT doc_batch, doc_corpus, CAST(count(*) AS BIGINT) AS n_common
         |  FROM pr
         |  JOIN sh sa ON pr.doc_batch = sa.doc_id
         |  JOIN sh sb ON pr.doc_corpus = sb.doc_id AND sa.shingle = sb.shingle
         |  GROUP BY doc_batch, doc_corpus)
         |SELECT pr.doc_batch, pr.doc_corpus,
         |  ca.n AS n_batch, cb.n AS n_corpus,
         |  coalesce(com.n_common, 0) AS n_common,
         |  round(CAST(coalesce(com.n_common, 0) AS DOUBLE) /
         |        (ca.n + cb.n - coalesce(com.n_common, 0)), 6) AS jaccard
         |FROM pr
         |LEFT JOIN com USING (doc_batch, doc_corpus)
         |JOIN cnts ca ON ca.doc_id = pr.doc_batch
         |JOIN cnts cb ON cb.doc_id = pr.doc_corpus
         |ORDER BY doc_batch, doc_corpus""".stripMargin,

    // Twin of Dedup.nearDupAgainstStored over the materialized base:
    // the stored fixture's three-way split replayed in place — the
    // BASE side capped over its own (write-time) census, the delta
    // SEGMENT riding uncapped, the probing batch capped over its own
    // census — exactly the capping state the storage layout holds
    // between compactions.
    "doc_near_dup_incremental_stored" ->
      s"""WITH $shinglesCte,
         |$minhashCtes,
         |cn AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5('inc' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS b,
         |    CAST(('0x' || substr(md5('seg' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS sc
         |  FROM documents),
         |bb0 AS (SELECT bs0.* FROM bs0 JOIN cn USING (doc_id) WHERE cn.b = 1 AND cn.sc = 1),
         |sb0 AS (SELECT bs0.* FROM bs0 JOIN cn USING (doc_id) WHERE cn.b = 0),
         |sg AS (SELECT bs0.* FROM bs0 JOIN cn USING (doc_id) WHERE cn.b = 1 AND cn.sc = 0),
         |${capCte("bb0", "bb", Seq("band", "sig"), "doc_id")},
         |${capCte("sb0", "sb", Seq("band", "sig"), "doc_id")},
         |corp AS (SELECT * FROM sb UNION ALL SELECT * FROM sg),
         |pr AS (
         |  SELECT DISTINCT a.doc_id AS doc_batch, c.doc_id AS doc_corpus
         |  FROM bb a JOIN corp c ON a.band = c.band AND a.sig = c.sig),
         |cnts AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY doc_id),
         |com AS (
         |  SELECT doc_batch, doc_corpus, CAST(count(*) AS BIGINT) AS n_common
         |  FROM pr
         |  JOIN sh sa ON pr.doc_batch = sa.doc_id
         |  JOIN sh sb2 ON pr.doc_corpus = sb2.doc_id AND sa.shingle = sb2.shingle
         |  GROUP BY doc_batch, doc_corpus)
         |SELECT pr.doc_batch, pr.doc_corpus,
         |  ca.n AS n_batch, cb.n AS n_corpus,
         |  coalesce(com.n_common, 0) AS n_common,
         |  round(CAST(coalesce(com.n_common, 0) AS DOUBLE) /
         |        (ca.n + cb.n - coalesce(com.n_common, 0)), 6) AS jaccard
         |FROM pr
         |LEFT JOIN com USING (doc_batch, doc_corpus)
         |JOIN cnts ca ON ca.doc_id = pr.doc_batch
         |JOIN cnts cb ON cb.doc_id = pr.doc_corpus
         |ORDER BY doc_batch, doc_corpus""".stripMargin,

    // Twin of Dedup.containmentPairs: the nd chain plus two ratio
    // projections over the same integers.
    "doc_containment" ->
      s"""WITH $nearDupCtes
         |SELECT doc_a, doc_b, n_a, n_b, n_common, jaccard,
         |  round(CAST(n_common AS DOUBLE) / n_a, 6) AS containment_a,
         |  round(CAST(n_common AS DOUBLE) / n_b, 6) AS containment_b,
         |  greatest(round(CAST(n_common AS DOUBLE) / n_a, 6),
         |           round(CAST(n_common AS DOUBLE) / n_b, 6)) >= ${graft.operators.Dedup.ContainmentMin}
         |    AND jaccard < ${graft.operators.Corpus.ClusterJaccard} AS subset_only_dup
         |FROM nd ORDER BY doc_a, doc_b""".stripMargin,

    "doc_simhash_pairs" ->
      s"""WITH $simhashCtes,
         |banded0 AS (
        |  SELECT doc_id, sim_hi, sim_lo, band,
        |    CASE WHEN band < 2 THEN (sim_lo >> (band * 16)) & 65535
        |         ELSE (sim_hi >> ((band - 2) * 16)) & 65535 END AS key
        |  FROM sim, unnest(range(4)) t(band)
        |),
        |${capCte("banded0", "banded", Seq("band", "key"), "doc_id")}
        |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.sim_lo, b.sim_lo))
        |     + bit_count(xor(a.sim_hi, b.sim_hi)) AS INTEGER) AS hamming
        |FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
        |                           AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.sim_lo, b.sim_lo))
        |    + bit_count(xor(a.sim_hi, b.sim_hi)) <= ${graft.operators.Dedup.SimhashHammingMax}
        |ORDER BY doc_a, doc_b""".stripMargin,

    "doc_token_stats" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_types,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_subtokens,
        |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |        / len(string_split(text, ' ')), 6) AS avg_token_len,
        |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |        / len(string_split(text, ' ')), 6) AS ttr
        |FROM documents ORDER BY doc_id""".stripMargin,

    "doc_subword_vocab" ->
      s"""WITH ${subwordVocabCtes()}
         |SELECT rank, subword, freq FROM sw_vocab ORDER BY rank""".stripMargin,

    "doc_token_stats_bpe" -> subwordStatsSql,

    // the stored-vocab apply path: train on every third doc, persist,
    // tokenize the full corpus through the loaded artifact
    "doc_token_stats_bpe_stored" -> subwordStatsSqlWith(" WHERE doc_id % 3 = 0"),

    // ingest-time kernel over bounded input, vocab trained on the same
    // corpus == the batch operator row for row — shared twin
    "streaming_token_stats_bpe" -> subwordStatsSql,

    "doc_pack_bpe" ->
      s"""WITH RECURSIVE ${subwordVocabCtes()},
         |$subwordTokenCtes,
         |t AS (
         |  SELECT doc_id, n_tokens_bpe AS n_tokens,
         |    md5('pack' || CAST(doc_id AS VARCHAR)) AS ord
         |  FROM sw_doctok
         |),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY ord, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_excl
         |  FROM t
         |)
         |SELECT doc_id, n_tokens,
         |  CAST(cum_excl // ${graft.operators.Corpus.PackBudgetBpe} AS BIGINT) AS seq_id,
         |  CAST(cum_excl % ${graft.operators.Corpus.PackBudgetBpe} AS BIGINT) AS seq_offset
         |FROM c ORDER BY doc_id""".stripMargin,

    "doc_budget_select_bpe" ->
      s"""WITH RECURSIVE ${subwordVocabCtes()},
         |$subwordTokenCtes,
         |q AS ($qualitySelect),
         |s AS (
         |  SELECT q.doc_id, d.source,
         |    CAST(round(q.quality * 1e6) AS BIGINT) AS q_micro,
         |    a.n_tokens_bpe AS n_tokens
         |  FROM q JOIN documents d ON q.doc_id = d.doc_id
         |         JOIN sw_doctok a ON a.doc_id = q.doc_id
         |),
         |c AS (
         |  SELECT doc_id, source, q_micro, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY q_micro DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_excl
         |  FROM s
         |)
         |SELECT doc_id, source, q_micro, n_tokens,
         |  CAST(cum_excl AS BIGINT) AS cum_excl,
         |  cum_excl + n_tokens <= ${graft.operators.Corpus.BudgetTokensBpe} AS selected
         |FROM c ORDER BY doc_id""".stripMargin,

    "doc_split" ->
      """SELECT doc_id, bucket,
        |  CASE WHEN bucket < 8 THEN 'train'
        |       WHEN bucket = 8 THEN 'valid' ELSE 'test' END AS split
        |FROM (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS bucket
        |  FROM documents
        |) ORDER BY doc_id""".stripMargin,

    // leakage audit: the verified near-dup pair chain joined to the
    // hash split on both endpoints, rolled up by unordered split pair
    "doc_split_leakage" ->
      s"""WITH $nearDupCtes,
         |sp AS (
         |  SELECT doc_id,
         |    CASE WHEN bucket < 8 THEN 'train'
         |         WHEN bucket = 8 THEN 'valid' ELSE 'test' END AS split
         |  FROM (
         |    SELECT doc_id,
         |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS bucket
         |    FROM documents)
         |),
         |j AS (
         |  SELECT least(sa.split, sb.split) AS split_a,
         |         greatest(sa.split, sb.split) AS split_b
         |  FROM nd
         |  JOIN sp sa ON nd.doc_a = sa.doc_id
         |  JOIN sp sb ON nd.doc_b = sb.doc_id
         |  WHERE nd.jaccard >= ${graft.operators.Corpus.ClusterJaccard}
         |)
         |SELECT split_a, split_b, CAST(count(*) AS BIGINT) AS n_pairs,
         |  split_a <> split_b AS leaky
         |FROM j GROUP BY split_a, split_b
         |ORDER BY split_a, split_b""".stripMargin,

    "doc_normalize" ->
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |                      ' +', ' ', 'g')) AS norm_text,
        |  CAST(length(text) AS INTEGER) AS n_chars_raw,
        |  CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |                                  ' +', ' ', 'g'))) AS INTEGER) AS n_chars_norm
        |FROM documents ORDER BY doc_id""".stripMargin,

    // wrap + extract replayed with the same RE2-compatible patterns
    // (script/style bodies die whole, comments die, tags -> space,
    // named entities decode with &amp; LAST, whitespace collapses via
    // the explicit class both engines read identically)
    "doc_extract_html" ->
      s"""WITH $htmlPageCtes
        |SELECT doc_id, text,
        |  CAST(length(html) AS INTEGER) AS n_chars_raw,
        |  CAST(length(text) AS INTEGER) AS n_chars_text
        |FROM ex ORDER BY doc_id""".stripMargin,

    // WARC round-trip: the twin replays the record synth formulas
    // (url/date/status by id, block bytes = the literal HTTP head
    // length + the page's octet length) and the shared extraction
    // chain — no container bytes anywhere; the Spark side had to
    // byte-scan real records to produce the same rows
    "warc_extract" -> warcExtractSql,

    "cdx_warc_join" -> cdxWarcJoinSql(withOffset = true),
    "cdx_warc_join_gz" -> cdxWarcJoinSql(withOffset = false),
    // per-record gzip members are a lossless container change, so the
    // gz row shares the plain row's twin verbatim — equality proves
    // the member walk inflates to the identical record stream
    "warc_extract_gz" -> warcExtractSql,

    "doc_lang_id" -> langIdSql,

    "doc_repetition" ->
      s"""WITH ${ngramCte(2, "bg", "bigram", distinct = false)},
        |bc AS (SELECT doc_id, bigram, CAST(count(*) AS BIGINT) AS cnt
        |       FROM bg GROUP BY doc_id, bigram),
        |agg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |               CAST(max(cnt) AS BIGINT) AS top_bigram_cnt,
        |               CAST(count(*) AS BIGINT) AS n_distinct
        |        FROM bc GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(agg.n_bigrams, 0) AS n_bigrams,
        |  coalesce(agg.top_bigram_cnt, 0) AS top_bigram_cnt,
        |  round(CAST(coalesce(agg.top_bigram_cnt, 0) AS DOUBLE)
        |        / greatest(coalesce(agg.n_bigrams, 0), 1), 6) AS top_bigram_frac,
        |  round(CAST(coalesce(agg.n_distinct, 0) AS DOUBLE)
        |        / greatest(coalesce(agg.n_bigrams, 0), 1), 6) AS distinct_bigram_frac
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // fuller Gopher battery twin: one (doc, n, gram) count per n,
    // identical integer ratios rounded at 6
    "doc_ngram_repetition" -> {
      val aggs = (2 to 4).map { n =>
        s"""a$n AS (
           |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS total,
           |         CAST(max(cnt) AS BIGINT) AS topc,
           |         CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dupc
           |  FROM (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt
           |        FROM g$n GROUP BY doc_id, gram)
           |  GROUP BY doc_id
           |)""".stripMargin
      }
      val cols = (2 to 4).map { n =>
        s"""  round(CAST(coalesce(a$n.topc, 0) AS DOUBLE)
           |        / greatest(coalesce(a$n.total, 0), 1), 6) AS top${n}_frac,
           |  round(CAST(coalesce(a$n.dupc, 0) AS DOUBLE)
           |        / greatest(coalesce(a$n.total, 0), 1), 6) AS dup${n}_frac""".stripMargin
      }
      s"""WITH ${ngramCte(2, "g2", "gram", distinct = false)},
         |${ngramCte(3, "g3", "gram", distinct = false)},
         |${ngramCte(4, "g4", "gram", distinct = false)},
         |${aggs.mkString(",\n")}
         |SELECT d.doc_id,
         |${cols.mkString(",\n")}
         |FROM documents d
         |LEFT JOIN a2 USING (doc_id)
         |LEFT JOIN a3 USING (doc_id)
         |LEFT JOIN a4 USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    },

    // Twin of Corpus.sourceQualityGate: quality from the shared
    // qualitySelect, each doc's rounded quality quantized to integer
    // micro before the per-source sum; thresholds E-notated so DuckDB
    // parses doubles, not narrowing decimals.
    "source_quality_gate" ->
      s"""WITH q AS ($qualitySelect),
         |s AS (
         |  SELECT d.source,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CAST(round(q.quality * 1000000) AS BIGINT)) AS BIGINT) AS q_micro_sum,
         |    CAST(sum(CASE WHEN q.quality < ${TextStats.QualityMin} THEN 1 ELSE 0 END) AS BIGINT) AS n_low
         |  FROM documents d JOIN q ON d.doc_id = q.doc_id
         |  GROUP BY d.source
         |)
         |SELECT source, n_docs, n_low,
         |  round(CAST(q_micro_sum AS DOUBLE) / 1e6 / n_docs, 6) AS mean_quality,
         |  round(CAST(n_low AS DOUBLE) / n_docs, 6) AS low_share,
         |  (CAST(q_micro_sum AS DOUBLE) / 1e6 / n_docs >= 35E-2
         |    AND CAST(n_low AS DOUBLE) / n_docs <= 5E-1) AS keep_source
         |FROM s ORDER BY source""".stripMargin,

    // Twin of Corpus.sourceFiltered: the gate's surviving sources
    // joined back onto the corpus.
    "doc_source_filtered" ->
      s"""WITH q AS ($qualitySelect),
         |s AS (
         |  SELECT d.source,
         |    CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CAST(round(q.quality * 1000000) AS BIGINT)) AS BIGINT) AS q_micro_sum,
         |    CAST(sum(CASE WHEN q.quality < ${TextStats.QualityMin} THEN 1 ELSE 0 END) AS BIGINT) AS n_low
         |  FROM documents d JOIN q ON d.doc_id = q.doc_id
         |  GROUP BY d.source
         |),
         |g AS (
         |  SELECT source, round(CAST(q_micro_sum AS DOUBLE) / 1e6 / n_docs, 6) AS mean_quality
         |  FROM s
         |  WHERE CAST(q_micro_sum AS DOUBLE) / 1e6 / n_docs >= 35E-2
         |    AND CAST(n_low AS DOUBLE) / n_docs <= 5E-1
         |)
         |SELECT d.doc_id, d.source, d.n_chars, g.mean_quality
         |FROM documents d JOIN g ON d.source = g.source
         |ORDER BY d.doc_id""".stripMargin,

    // keep-mask twin: quality from the shared qualitySelect; is_dup via
    // the window-min formulation, provably equal to doc_exact_dedup's
    // group-min canonical (same per-hash minimum)
    "doc_keep_mask" -> {
      val reason =
        s"""CASE WHEN is_dup THEN 'dup'
           |       WHEN n_tokens < ${TextStats.MinTokens} THEN 'too_short'
           |       WHEN quality < ${TextStats.QualityMin} THEN 'low_quality'
           |       ELSE 'keep' END""".stripMargin
      s"""WITH q AS ($qualitySelect),
         |d AS (SELECT doc_id,
         |        doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
         |      FROM documents)
         |SELECT q.doc_id, q.n_tokens, q.quality, d.is_dup,
         |  $reason AS reason,
         |  ($reason) = 'keep' AS keep
         |FROM q JOIN d USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    "doc_pii_scrub" -> {
      val email = TextStats.EmailRe
      val num = TextStats.LongNumRe
      s"""SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$email')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(regexp_replace(text, '$email', '<EMAIL>', 'g'), '$num')) AS INTEGER) AS n_longnums,
         |  regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'), '$num', '<NUM>', 'g') AS scrubbed,
         |  len(regexp_extract_all(text, '$email')) = 0
         |    AND len(regexp_extract_all(regexp_replace(text, '$email', '<EMAIL>', 'g'), '$num')) = 0 AS is_clean
         |FROM documents ORDER BY doc_id""".stripMargin
    },

    // Duplicate-cluster twin: DuckDB has no iterative min-propagation,
    // so the oracle computes the SAME fixpoint by transitive closure —
    // a recursive CTE reaching every node of each component, then
    // min(reachable) as the label. Equivalent because min-propagation
    // converges exactly to min-over-component.
    "doc_dedup_clusters" ->
      s"""WITH RECURSIVE $nearDupCtes,
         |$clusterLabelCtes
         |SELECT l.doc_id, l.cluster, sz.cluster_size,
         |       l.doc_id = l.cluster AS is_canonical
         |FROM lab l JOIN sz USING (cluster)
         |ORDER BY doc_id""".stripMargin,

    // Export twin: same label fixpoint; the provenance string caps at
    // ProvenanceCap members (rank before aggregation, ORDER BY inside
    // string_agg for the deterministic join order).
    "doc_dedup_export" ->
      s"""WITH RECURSIVE $nearDupCtes,
         |$clusterLabelCtes,
         |m AS (
         |  SELECT cluster, doc_id,
         |    row_number() OVER (PARTITION BY cluster ORDER BY doc_id) AS rn
         |  FROM lab
         |),
         |g AS (
         |  SELECT cluster,
         |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS members
         |  FROM m WHERE rn <= ${graft.operators.Corpus.ProvenanceCap}
         |  GROUP BY cluster
         |)
         |SELECT g.cluster AS doc_id, d.lang, d.source, d.n_chars,
         |  sz.cluster_size AS n_members, g.members
         |FROM g JOIN sz USING (cluster)
         |JOIN documents d ON d.doc_id = g.cluster
         |ORDER BY doc_id""".stripMargin,

    // Quality-aware survivor twin: same label fixpoint, quality from
    // the shared qualitySelect (so the ordering key cannot drift from
    // `doc_quality`), argmax via the identical (quality DESC, doc_id)
    // row_number cut.
    "doc_dedup_export_best" ->
      s"""WITH RECURSIVE $nearDupCtes,
         |$clusterLabelCtes,
         |q AS ($qualitySelect),
         |r AS (
         |  SELECT l.doc_id, l.cluster, sz.cluster_size, q.quality,
         |    row_number() OVER (
         |      PARTITION BY l.cluster ORDER BY q.quality DESC, l.doc_id) AS rn
         |  FROM lab l JOIN sz USING (cluster) JOIN q USING (doc_id)
         |)
         |SELECT doc_id, cluster, cluster_size AS n_members, quality,
         |  doc_id <> cluster AS displaced
         |FROM r WHERE rn = 1
         |ORDER BY cluster""".stripMargin,

    "doc_decontaminate" ->
      s"""WITH $shinglesCte,
         |$decontCtes
         |SELECT doc_id, n_shingles, n_matched, contamination, contaminated
         |FROM dec
         |ORDER BY doc_id""".stripMargin,

    // the ingest-time kernel computes the identical verdict per doc
    // (same distinct-shingle counts, same integer ratio), so the
    // streaming path shares the batch twin verbatim
    "streaming_decontaminate" ->
      s"""WITH $shinglesCte,
         |$decontCtes
         |SELECT doc_id, n_shingles, n_matched, contamination, contaminated
         |FROM dec
         |ORDER BY doc_id""".stripMargin,

    // external-benchmark variant: the benchmark is its own frame (the
    // `% ExtBenchMod` slice stands in for an eval-suite table; slicing
    // the per-doc shingles == shingling the slice), and the corpus is
    // the FULL documents table — benchmark members score 1.0
    "doc_decontaminate_ext" ->
      s"""WITH $shinglesCte,
         |bsh AS (SELECT DISTINCT shingle FROM sh
         |        WHERE doc_id % ${Queries.ExtBenchMod} = 0),
         |c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
         |      FROM sh GROUP BY doc_id),
         |mt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matched
         |       FROM sh JOIN bsh USING (shingle) GROUP BY doc_id)
         |SELECT doc_id, n_shingles, n_matched,
         |  round(CAST(n_matched AS DOUBLE) / greatest(n_shingles, 1), 6) AS contamination,
         |  round(CAST(n_matched AS DOUBLE) / greatest(n_shingles, 1), 6)
         |    >= ${graft.operators.Corpus.ContaminationThreshold} AS contaminated
         |FROM (
         |  SELECT d.doc_id, coalesce(c.n_shingles, 0) AS n_shingles,
         |         coalesce(mt.n_matched, 0) AS n_matched
         |  FROM documents d
         |  LEFT JOIN c USING (doc_id)
         |  LEFT JOIN mt USING (doc_id)
         |)
         |ORDER BY doc_id""".stripMargin,

    // the one-job curation composite: same label and contamination CTEs
    // as the standalone twins, joined — the Spark side shares one
    // shingle explode across both operators
    "doc_pipeline" ->
      s"""WITH RECURSIVE $nearDupCtes,
         |$clusterLabelCtes,
         |$decontCtes
         |SELECT l.doc_id, l.cluster, sz.cluster_size,
         |       l.doc_id = l.cluster AS is_canonical,
         |       dec.n_shingles, dec.n_matched, dec.contamination, dec.contaminated,
         |       (l.doc_id = l.cluster AND NOT dec.contaminated) AS keep
         |FROM lab l JOIN sz USING (cluster) JOIN dec USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // the complete curation verdict: label/contamination CTEs shared
    // with the standalone twins, quality from qualitySelect, PII and
    // repetition inlined — reason precedence mirrored branch for branch
    "doc_pipeline_full" -> {
      val reason =
        s"""CASE WHEN l.doc_id <> l.cluster THEN 'dup'
           |       WHEN dec.contaminated THEN 'contaminated'
           |       WHEN q.n_tokens < ${TextStats.MinTokens} THEN 'too_short'
           |       WHEN q.quality < ${TextStats.QualityMin} THEN 'low_quality'
           |       WHEN rep.top_bigram_frac >= ${graft.operators.Corpus.RepetitionMax} THEN 'repetitive'
           |       ELSE 'keep' END""".stripMargin
      s"""WITH RECURSIVE $nearDupCtes,
         |$clusterLabelCtes,
         |$decontCtes,
         |$pipelineFaceCtes
         |SELECT l.doc_id, l.cluster, sz.cluster_size,
         |  l.doc_id = l.cluster AS is_canonical,
         |  dec.contamination, dec.contaminated,
         |  q.n_tokens, q.quality, pii.n_emails, pii.n_longnums,
         |  rep.top_bigram_frac,
         |  $reason AS reason,
         |  ($reason) = 'keep' AS keep
         |FROM lab l JOIN sz USING (cluster) JOIN dec USING (doc_id)
         |JOIN q USING (doc_id) JOIN pii USING (doc_id) JOIN rep USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // the v2 composite: v1's label/contamination/quality/PII/
    // repetition faces plus the SEMANTIC decontamination CTEs (vn +
    // sem_*) and the production-width duplicated-span CTEs — reason
    // precedence mirrored branch for branch, two new codes
    "doc_pipeline_full_v2" -> {
      val reason =
        s"""CASE WHEN l.doc_id <> l.cluster THEN 'dup'
           |       WHEN dec.contaminated THEN 'contaminated'
           |       WHEN sem.contaminated THEN 'semantic_contaminated'
           |       WHEN q.n_tokens < ${TextStats.MinTokens} THEN 'too_short'
           |       WHEN q.quality < ${TextStats.QualityMin} THEN 'low_quality'
           |       WHEN rep.top_bigram_frac >= ${graft.operators.Corpus.RepetitionMax} THEN 'repetitive'
           |       WHEN sd.n_dup_spans > 0 THEN 'dup_spans'
           |       ELSE 'keep' END""".stripMargin
      s"""WITH RECURSIVE $nearDupCtes,
         |$clusterLabelCtes,
         |$decontCtes,
         |$vecNormCte,
         |$embDecontCtes,
         |${substringSpanCtes(
            graft.operators.Dedup.SubstrMinSpanWordsWide,
            graft.operators.Dedup.SubstrGramNWide)},
         |sd AS (
         |  SELECT nw.doc_id,
         |    CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_dup_spans,
         |    CAST(coalesce(a.dup_words, 0) AS BIGINT) AS dup_words
         |  FROM nw LEFT JOIN (
         |    SELECT doc_id, count(*) AS n_spans, sum(ee - ss) AS dup_words
         |    FROM ms GROUP BY doc_id) a USING (doc_id)
         |),
         |$pipelineFaceCtes
         |SELECT l.doc_id, l.cluster, sz.cluster_size,
         |  l.doc_id = l.cluster AS is_canonical,
         |  dec.contamination, dec.contaminated,
         |  sem.max_cos, sem.contaminated AS sem_contaminated,
         |  q.n_tokens, q.quality, pii.n_emails, pii.n_longnums,
         |  rep.top_bigram_frac, sd.n_dup_spans, sd.dup_words,
         |  $reason AS reason,
         |  ($reason) = 'keep' AS keep
         |FROM lab l JOIN sz USING (cluster) JOIN dec USING (doc_id)
         |JOIN semdec sem ON sem.vec_id = l.doc_id
         |JOIN q USING (doc_id) JOIN pii USING (doc_id) JOIN rep USING (doc_id)
         |JOIN sd USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // v3 = the v2 funnel + the frozen-LM perplexity leg (shared
    // lmStoredCtes — the Spark side scores through the broadcast
    // kernel; hash equality here re-proves kernel ≡ join INSIDE the
    // composite) + the domain gate (gateCtes over the shared q CTE).
    // Reason precedence inserts bad_source after the contamination
    // group and high_perplexity after low_quality.
    "doc_pipeline_full_v3" -> {
      val reason =
        s"""CASE WHEN l.doc_id <> l.cluster THEN 'dup'
           |       WHEN dec.contaminated THEN 'contaminated'
           |       WHEN sem.contaminated THEN 'semantic_contaminated'
           |       WHEN NOT gg.keep_source THEN 'bad_source'
           |       WHEN q.n_tokens < ${TextStats.MinTokens} THEN 'too_short'
           |       WHEN q.quality < ${TextStats.QualityMin} THEN 'low_quality'
           |       WHEN lm.ppl >= ${graft.operators.Corpus.LmPplMax}E0 THEN 'high_perplexity'
           |       WHEN rep.top_bigram_frac >= ${graft.operators.Corpus.RepetitionMax} THEN 'repetitive'
           |       WHEN sd.n_dup_spans > 0 THEN 'dup_spans'
           |       ELSE 'keep' END""".stripMargin
      s"""WITH RECURSIVE $nearDupCtes,
         |$clusterLabelCtes,
         |$decontCtes,
         |$vecNormCte,
         |$embDecontCtes,
         |${substringSpanCtes(
            graft.operators.Dedup.SubstrMinSpanWordsWide,
            graft.operators.Dedup.SubstrGramNWide)},
         |sd AS (
         |  SELECT nw.doc_id,
         |    CAST(coalesce(a.n_spans, 0) AS BIGINT) AS n_dup_spans,
         |    CAST(coalesce(a.dup_words, 0) AS BIGINT) AS dup_words
         |  FROM nw LEFT JOIN (
         |    SELECT doc_id, count(*) AS n_spans, sum(ee - ss) AS dup_words
         |    FROM ms GROUP BY doc_id) a USING (doc_id)
         |),
         |$pipelineFaceCtes,
         |$lmStoredCtes,
         |$gateCtes
         |SELECT l.doc_id, l.cluster, sz.cluster_size,
         |  l.doc_id = l.cluster AS is_canonical,
         |  dec.contamination, dec.contaminated,
         |  sem.max_cos, sem.contaminated AS sem_contaminated,
         |  q.n_tokens, q.quality, pii.n_emails, pii.n_longnums,
         |  rep.top_bigram_frac, sd.n_dup_spans, sd.dup_words,
         |  lm.ppl, gg.keep_source,
         |  $reason AS reason,
         |  ($reason) = 'keep' AS keep
         |FROM lab l JOIN sz USING (cluster) JOIN dec USING (doc_id)
         |JOIN semdec sem ON sem.vec_id = l.doc_id
         |JOIN q USING (doc_id) JOIN pii USING (doc_id) JOIN rep USING (doc_id)
         |JOIN sd USING (doc_id)
         |JOIN lmdoc lm ON lm.doc_id = l.doc_id
         |JOIN documents dsrc ON dsrc.doc_id = l.doc_id
         |JOIN gg ON gg.source = dsrc.source
         |ORDER BY doc_id""".stripMargin
    },

    // v4 = the v3 funnel + the language gate: wrong_language between
    // bad_source and too_short, predicted via the shared plang CTE
    "doc_pipeline_full_v4" -> docPipelineFullV4Sql,

    // the funnel release card: per-reason counts + shares over the v4
    // verdict, nested as a self-contained subquery (the tokenizer-card
    // discipline) — the share denominator is a window over the ~11
    // grouped rows
    // Twin of the funnel export's proof read: the v4 verdict's keep
    // rows pushed through the deterministic shard coin and the shard
    // rollup — what the files written under path/data/shard=N/ must
    // aggregate back to.
    "doc_pipeline_export" ->
      s"""WITH v4k AS (
         |  SELECT CAST(('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |      % ${graft.operators.Corpus.ExportShards} AS shard,
         |    doc_id, CAST(n_tokens AS BIGINT) AS n_tokens
         |  FROM ($docPipelineFullV4Sql) WHERE keep
         |),
         |s AS (
         |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |    min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |  FROM v4k GROUP BY shard
         |),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_total FROM s)
         |SELECT shard, n_docs, n_tokens, min_doc_id, max_doc_id,
         |  round(CAST(n_tokens AS DOUBLE) / t_total, 6) AS token_share
         |FROM s, tot ORDER BY shard""".stripMargin,

    "doc_pipeline_reasons" ->
      s"""SELECT reason, CAST(count(*) AS BIGINT) AS n_docs,
         |  round(CAST(count(*) AS DOUBLE) / sum(count(*)) OVER (), 6) AS share
         |FROM ($docPipelineFullV4Sql)
         |GROUP BY reason ORDER BY reason""".stripMargin,


    "doc_boilerplate" ->
      s"""WITH w AS (
         |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
         |),
         |segs AS (
         |  SELECT doc_id, i AS seg_idx,
         |    array_to_string(words[(i*${graft.operators.Corpus.SegmentWords}+1):(i*${graft.operators.Corpus.SegmentWords}+${graft.operators.Corpus.SegmentWords})], ' ') AS seg
         |  FROM w, unnest(range((len(words) - 1) // ${graft.operators.Corpus.SegmentWords} + 1)) t(i)
         |),
         |dfreq AS (
         |  SELECT seg, count(*) AS seg_df
         |  FROM (SELECT DISTINCT seg, doc_id FROM segs) GROUP BY seg
         |)
         |SELECT s.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_segments,
         |  CAST(sum(CASE WHEN seg_df >= ${graft.operators.Corpus.BoilerplateDf} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
         |  coalesce(string_agg(CASE WHEN seg_df < ${graft.operators.Corpus.BoilerplateDf} THEN s.seg END, ' ' ORDER BY s.seg_idx), '') AS clean_text,
         |  sum(CASE WHEN seg_df >= ${graft.operators.Corpus.BoilerplateDf} THEN 1 ELSE 0 END) > 0 AS is_modified
         |FROM segs s JOIN dfreq USING (seg)
         |GROUP BY s.doc_id
         |ORDER BY s.doc_id""".stripMargin,

    "doc_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    md5('pack' || CAST(doc_id AS VARCHAR)) AS ord
         |  FROM documents
         |),
         |c AS (
         |  SELECT doc_id, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY ord, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_excl
         |  FROM t
         |)
         |SELECT doc_id, n_tokens,
         |  CAST(cum_excl // ${graft.operators.Corpus.PackBudget} AS BIGINT) AS seq_id,
         |  CAST(cum_excl % ${graft.operators.Corpus.PackBudget} AS BIGINT) AS seq_offset
         |FROM c ORDER BY doc_id""".stripMargin,

    "doc_pack_nosplit" ->
      packNoSplitSql(graft.operators.Corpus.PackBudget),
    "doc_pack_nosplit_tiny" -> packNoSplitSql(16L),

    "doc_chunk" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
         |SELECT doc_id, CAST(t.i AS INTEGER) AS chunk_idx,
         |  CAST(least(${TextStats.ChunkWords}, len(words) - t.i * ${TextStats.ChunkStride}) AS BIGINT) AS n_chunk_words,
         |  array_to_string(words[(t.i*${TextStats.ChunkStride}+1):(t.i*${TextStats.ChunkStride}+${TextStats.ChunkWords})], ' ') AS chunk_text
         |FROM w, unnest(range((greatest(len(words) - ${TextStats.ChunkWords}, 0) + ${TextStats.ChunkStride - 1}) // ${TextStats.ChunkStride} + 1)) t(i)
         |ORDER BY doc_id, chunk_idx""".stripMargin,

    "doc_logprob" ->
      """WITH wrd AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        |),
        |freq AS (SELECT word, CAST(count(*) AS BIGINT) AS wf FROM wrd GROUP BY word),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS wtotal FROM wrd),
        |lp AS (
        |  SELECT doc_id,
        |    CAST(round(ln(CAST(wf AS DOUBLE) / CAST(wtotal AS DOUBLE)) * 1000000) AS BIGINT) AS lp
        |  FROM wrd JOIN freq USING (word) CROSS JOIN tot
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  round(CAST(sum(lp) AS DOUBLE) / (count(*) * 1000000.0), 6) AS mean_logprob
        |FROM lp GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "corpus_vocab" ->
      s"""WITH pd AS (
         |  SELECT word, doc_id, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |  GROUP BY word, doc_id
         |),
         |st AS (SELECT word, CAST(count(*) AS BIGINT) AS df,
         |              CAST(sum(cnt) AS BIGINT) AS tf
         |       FROM pd GROUP BY word),
         |top AS (SELECT * FROM st
         |        ORDER BY df DESC, tf DESC, word ASC
         |        LIMIT ${graft.operators.Corpus.VocabTopK})
         |SELECT CAST(row_number() OVER (ORDER BY df DESC, tf DESC, word ASC) AS INTEGER) AS rank,
         |       word, df, tf
         |FROM top ORDER BY rank""".stripMargin,

    // Twin of Corpus.pmiTop: identical integer counts, identical
    // fixed-shape double expression for PMI, rounded before ranking.
    "corpus_pmi" ->
      s"""WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
         |uni AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS c
         |  FROM (SELECT unnest(w) AS word FROM w) GROUP BY word
         |),
         |nw AS (SELECT CAST(sum(c) AS BIGINT) AS nw FROM uni),
         |bi AS (
         |  SELECT w[i] AS a, w[i+1] AS b
         |  FROM w, unnest(range(1, len(w))) t(i)
         |  WHERE len(w) >= 2
         |),
         |bcnt AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM bi GROUP BY a, b),
         |nb AS (SELECT CAST(sum(cab) AS BIGINT) AS nb FROM bcnt),
         |scored AS (
         |  SELECT bcnt.a, bcnt.b, cab, ua.c AS ca, ub.c AS cb,
         |    round(ln(CAST(cab AS DOUBLE) * CAST(nw AS DOUBLE) * CAST(nw AS DOUBLE)
         |             / (CAST(nb AS DOUBLE) * CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE))), 6) AS pmi
         |  FROM bcnt
         |  JOIN uni ua ON bcnt.a = ua.word
         |  JOIN uni ub ON bcnt.b = ub.word
         |  CROSS JOIN nw CROSS JOIN nb
         |  WHERE cab >= ${graft.operators.Corpus.PmiMinCount}
         |),
         |top AS (SELECT * FROM scored
         |        ORDER BY pmi DESC, a ASC, b ASC
         |        LIMIT ${graft.operators.Corpus.PmiTopK})
         |SELECT CAST(row_number() OVER (ORDER BY pmi DESC, a ASC, b ASC) AS INTEGER) AS rank,
         |       a, b, cab, ca, cb, pmi
         |FROM top ORDER BY rank""".stripMargin,

    "doc_tfidf" ->
      s"""WITH pd AS (
         |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |  GROUP BY doc_id, word
         |),
         |dfs AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM pd GROUP BY word),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |sc AS (
         |  SELECT pd.doc_id, pd.word, pd.tf, dfs.df,
         |    round(pd.tf * ln(CAST(n.n_docs AS DOUBLE) / dfs.df), 6) AS tfidf
         |  FROM pd JOIN dfs USING (word) CROSS JOIN n
         |),
         |rk AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |              ORDER BY tfidf DESC, word ASC) AS INTEGER) AS rn
         |  FROM sc
         |)
         |SELECT doc_id, word, tf, df, tfidf, rn FROM rk
         |WHERE rn <= ${graft.operators.Corpus.TfidfTopK}
         |ORDER BY doc_id, rn""".stripMargin,

    // BM25 twin: constants written as the same ARITHMETIC as the Spark
    // side ((1.2 + 1.0), not 2.2 — the computed sum and the literal can
    // differ in the last ulp), casts and association mirrored term by
    // term so the rounded score is bit-identical.
    "doc_bm25" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |pd AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY doc_id, word),
         |l AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM pd GROUP BY doc_id),
         |d AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM pd GROUP BY word),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM l),
         |s AS (
         |  SELECT pd.doc_id, pd.word, pd.tf, d.df,
         |    round(
         |      ln((CAST(t.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
         |         / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
         |      * (CAST(pd.tf AS DOUBLE) * (${graft.operators.Corpus.Bm25K1} + 1.0))
         |      / (CAST(pd.tf AS DOUBLE) + ${graft.operators.Corpus.Bm25K1}
         |         * (1.0 - ${graft.operators.Corpus.Bm25B} + ${graft.operators.Corpus.Bm25B}
         |            * CAST(l.dl AS DOUBLE) * CAST(t.n_docs AS DOUBLE) / CAST(t.total_dl AS DOUBLE))),
         |      6) AS bm25
         |  FROM pd JOIN l USING (doc_id) JOIN d USING (word) CROSS JOIN t
         |)
         |SELECT doc_id, word, tf, df, bm25, rn FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
         |              ORDER BY bm25 DESC, word ASC) AS INTEGER) AS rn
         |  FROM s)
         |WHERE rn <= ${graft.operators.Corpus.Bm25TopK}
         |ORDER BY doc_id, rn""".stripMargin,

    // Sparse-retrieval twin: the doc_tfidf weight formula quantized to
    // 1e6 fixed point at birth; dot products and norms are exact
    // integer sums (order-free); the cosine is one fixed-shape double
    // expression of three integers, rounded before ranking.
    "doc_tfidf_topk" ->
      s"""WITH pd AS (
         |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |  GROUP BY doc_id, word
         |),
         |dfs AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM pd GROUP BY word),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
         |w AS (
         |  SELECT pd.doc_id, pd.word,
         |    CAST(round(round(pd.tf * ln(CAST(n.n_docs AS DOUBLE) / dfs.df), 6) * 1000000) AS BIGINT) AS w_micro
         |  FROM pd JOIN dfs USING (word) CROSS JOIN n
         |),
         |nrm AS (SELECT doc_id, CAST(sum(w_micro * w_micro) AS BIGINT) AS norm2 FROM w GROUP BY doc_id),
         |q AS (
         |  SELECT doc_id AS doc_a, word, w_micro AS wa,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY w_micro DESC, word ASC) AS qrn
         |  FROM w WHERE doc_id % ${graft.operators.Corpus.SimQueryMod} = 0
         |),
         |c AS (
         |  SELECT q.doc_a, w.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_shared,
         |    CAST(sum(q.wa * w.w_micro) AS BIGINT) AS dot_fp
         |  FROM q JOIN w USING (word)
         |  WHERE q.qrn <= ${graft.operators.Corpus.SimQueryTerms} AND q.doc_a <> w.doc_id
         |  GROUP BY q.doc_a, doc_b
         |),
         |s AS (
         |  SELECT c.doc_a, c.doc_b, c.n_shared,
         |    round(CAST(c.dot_fp AS DOUBLE)
         |          / (sqrt(CAST(a.norm2 AS DOUBLE)) * sqrt(CAST(b.norm2 AS DOUBLE))), 6) AS cos
         |  FROM c JOIN nrm a ON c.doc_a = a.doc_id JOIN nrm b ON c.doc_b = b.doc_id
         |)
         |SELECT doc_a, doc_b, n_shared, cos, rn FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_a
         |              ORDER BY cos DESC, doc_b ASC) AS INTEGER) AS rn
         |  FROM s)
         |WHERE rn <= ${graft.operators.Corpus.SimTopK}
         |ORDER BY doc_a, rn""".stripMargin,

    // Retrieval twin: the doc_bm25 weight pipeline verbatim, then the
    // same 1e6 fixed-point per-doc sum (exact integer, order-free) and
    // the same top-k cut. Term list interpolated from the one constant.
    "corpus_search" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |pd AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY doc_id, word),
         |l AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM pd GROUP BY doc_id),
         |d AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM pd GROUP BY word),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM l),
         |s AS (
         |  SELECT pd.doc_id, pd.word,
         |    round(
         |      ln((CAST(t.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
         |         / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
         |      * (CAST(pd.tf AS DOUBLE) * (${graft.operators.Corpus.Bm25K1} + 1.0))
         |      / (CAST(pd.tf AS DOUBLE) + ${graft.operators.Corpus.Bm25K1}
         |         * (1.0 - ${graft.operators.Corpus.Bm25B} + ${graft.operators.Corpus.Bm25B}
         |            * CAST(l.dl AS DOUBLE) * CAST(t.n_docs AS DOUBLE) / CAST(t.total_dl AS DOUBLE))),
         |      6) AS bm25
         |  FROM pd JOIN l USING (doc_id) JOIN d USING (word) CROSS JOIN t
         |  WHERE pd.word IN (${graft.operators.Corpus.SearchTerms.mkString("'", "', '", "'")})
         |),
         |g AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         |    CAST(sum(CAST(round(bm25 * 1000000) AS BIGINT)) AS BIGINT) AS score_micro
         |  FROM s GROUP BY doc_id
         |),
         |top AS (
         |  SELECT doc_id, n_terms,
         |    round(CAST(score_micro AS DOUBLE) / 1000000.0, 6) AS score
         |  FROM g ORDER BY score DESC, doc_id ASC
         |  LIMIT ${graft.operators.Corpus.SearchTopK})
         |SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank,
         |       doc_id, n_terms, score
         |FROM top ORDER BY rank""".stripMargin,

    // Hybrid-retrieval twin: the corpus_search lexical chain and the
    // ann_topk cosine chain for the one fixed query vector, fused by
    // reciprocal rank — each leg's 1/(k+rank) contribution rounds to
    // integer micro units before the sum (small exact integers in, so
    // the double division is bit-identical across engines).
    "corpus_hybrid_search" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |pd AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY doc_id, word),
         |l AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM pd GROUP BY doc_id),
         |d AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM pd GROUP BY word),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM l),
         |s AS (
         |  SELECT pd.doc_id, pd.word,
         |    round(
         |      ln((CAST(t.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
         |         / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
         |      * (CAST(pd.tf AS DOUBLE) * (${graft.operators.Corpus.Bm25K1} + 1.0))
         |      / (CAST(pd.tf AS DOUBLE) + ${graft.operators.Corpus.Bm25K1}
         |         * (1.0 - ${graft.operators.Corpus.Bm25B} + ${graft.operators.Corpus.Bm25B}
         |            * CAST(l.dl AS DOUBLE) * CAST(t.n_docs AS DOUBLE) / CAST(t.total_dl AS DOUBLE))),
         |      6) AS bm25
         |  FROM pd JOIN l USING (doc_id) JOIN d USING (word) CROSS JOIN t
         |  WHERE pd.word IN (${graft.operators.Corpus.SearchTerms.mkString("'", "', '", "'")})
         |),
         |g AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         |    CAST(sum(CAST(round(bm25 * 1000000) AS BIGINT)) AS BIGINT) AS score_micro
         |  FROM s GROUP BY doc_id
         |),
         |ltop AS (
         |  SELECT doc_id,
         |    round(CAST(score_micro AS DOUBLE) / 1000000.0, 6) AS score
         |  FROM g ORDER BY score DESC, doc_id ASC
         |  LIMIT ${graft.operators.Corpus.SearchTopK}),
         |lex AS (
         |  SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INTEGER) AS lex_rank,
         |         doc_id
         |  FROM ltop),
         |$vecNormCte,
         |q AS (SELECT vec_id AS q_id, embedding AS qe, norm AS qnorm
         |      FROM vn WHERE vec_id = ${graft.operators.Corpus.HybridQueryVec}),
         |sc AS (
         |  SELECT v.vec_id,
         |    $cosExpr AS cos_raw
         |  FROM q JOIN vn v ON q.q_id <> v.vec_id
         |),
         |vrk AS (
         |  SELECT vec_id AS doc_id,
         |    CAST(row_number() OVER (ORDER BY cos_raw DESC, vec_id) AS INTEGER) AS vec_rank
         |  FROM sc
         |),
         |vtop AS (SELECT * FROM vrk WHERE vec_rank <= ${graft.operators.Ann.K}),
         |f AS (
         |  SELECT coalesce(lex.doc_id, vtop.doc_id) AS doc_id,
         |    CAST(coalesce(lex.lex_rank, 0) AS INTEGER) AS lex_rank,
         |    CAST(coalesce(vtop.vec_rank, 0) AS INTEGER) AS vec_rank,
         |    coalesce(CAST(round(1000000.0 / (${graft.operators.Corpus.RrfK} + lex.lex_rank)) AS BIGINT), CAST(0 AS BIGINT))
         |    + coalesce(CAST(round(1000000.0 / (${graft.operators.Corpus.RrfK} + vtop.vec_rank)) AS BIGINT), CAST(0 AS BIGINT))
         |      AS rrf_micro
         |  FROM lex FULL OUTER JOIN vtop ON lex.doc_id = vtop.doc_id
         |),
         |ftop AS (
         |  SELECT * FROM f ORDER BY rrf_micro DESC, doc_id ASC
         |  LIMIT ${graft.operators.Corpus.HybridTopK})
         |SELECT CAST(row_number() OVER (ORDER BY rrf_micro DESC, doc_id ASC) AS INTEGER) AS rank,
         |       doc_id, lex_rank, vec_rank, rrf_micro
         |FROM ftop ORDER BY rank""".stripMargin,

    // Inverted-index twin: same weights, same impact cut (w_micro desc,
    // doc asc), postings assembled with string_agg ORDER BY rn — the
    // deterministic order the Spark side reproduces via sort_array on
    // (rn, posting) structs.
    "corpus_inverted_index" ->
      s"""WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
         |pd AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY doc_id, word),
         |l AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM pd GROUP BY doc_id),
         |d AS (SELECT word, CAST(count(*) AS BIGINT) AS df FROM pd GROUP BY word),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_dl FROM l),
         |s AS (
         |  SELECT pd.doc_id, pd.word, d.df,
         |    CAST(round(round(
         |      ln((CAST(t.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
         |         / (CAST(d.df AS DOUBLE) + 0.5) + 1.0)
         |      * (CAST(pd.tf AS DOUBLE) * (${graft.operators.Corpus.Bm25K1} + 1.0))
         |      / (CAST(pd.tf AS DOUBLE) + ${graft.operators.Corpus.Bm25K1}
         |         * (1.0 - ${graft.operators.Corpus.Bm25B} + ${graft.operators.Corpus.Bm25B}
         |            * CAST(l.dl AS DOUBLE) * CAST(t.n_docs AS DOUBLE) / CAST(t.total_dl AS DOUBLE))),
         |      6) * 1000000) AS BIGINT) AS w_micro
         |  FROM pd JOIN l USING (doc_id) JOIN d USING (word) CROSS JOIN t
         |),
         |rk AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY word
         |              ORDER BY w_micro DESC, doc_id ASC) AS INTEGER) AS rn
         |  FROM s
         |)
         |SELECT word, max(df) AS df, CAST(count(*) AS BIGINT) AS n_postings,
         |  string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(w_micro AS VARCHAR), ',' ORDER BY rn) AS postings
         |FROM rk WHERE rn <= ${graft.operators.Corpus.IndexTopPostings}
         |GROUP BY word ORDER BY word""".stripMargin,

    // Duplicated-span twin: identical positional grams (explicit word
    // concat, no slice-semantics ambiguity), identical running-max
    // island merge. Touching spans (s = prev max e) merge on both
    // sides. The unfloored row pins the span algebra; the _min row
    // pins the Lee-et-al minimum-span floor.
    "doc_substring_dedup" ->
      substringDedupSql(graft.operators.Dedup.SubstrGramN),

    "doc_substring_dedup_min" ->
      substringDedupSql(graft.operators.Dedup.SubstrMinSpanWords),

    // the production-width twin: 20-word grams, 50-word island floor —
    // the same span algebra at Lee-et-al scale parameters
    "doc_substring_dedup_wide" ->
      substringDedupSql(
        graft.operators.Dedup.SubstrMinSpanWordsWide,
        graft.operators.Dedup.SubstrGramNWide),

    // The removal twin: kept positions = all positions minus the
    // merged floored spans (a range LEFT JOIN; ms spans are disjoint
    // per doc so no kept position matches twice), text rebuilt with a
    // pos-ordered string_agg. Empty survivors coalesce to '' exactly
    // like Spark's concat_ws over an empty array.
    "doc_substring_scrub" -> {
      val floor = graft.operators.Dedup.SubstrMinSpanWords
      s"""WITH ${substringSpanCtes(floor)},
         |pos AS (
         |  SELECT doc_id, CAST(i AS BIGINT) AS pos, w[i + 1] AS word
         |  FROM w, unnest(range(0, len(w))) t(i)
         |),
         |kept AS (
         |  SELECT p.doc_id, p.pos, p.word
         |  FROM pos p LEFT JOIN ms
         |    ON ms.doc_id = p.doc_id AND p.pos >= ms.ss AND p.pos < ms.ee
         |  WHERE ms.doc_id IS NULL
         |),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_words,
         |    string_agg(word, ' ' ORDER BY pos) AS scrubbed
         |  FROM kept GROUP BY doc_id
         |)
         |SELECT nw.doc_id, nw.n_words,
         |  COALESCE(agg.kept_words, 0) AS kept_words,
         |  COALESCE(agg.scrubbed, '') AS scrubbed
         |FROM nw LEFT JOIN agg USING (doc_id) ORDER BY nw.doc_id""".stripMargin
    },

    "doc_sample" ->
      s"""WITH s AS (
         |  SELECT doc_id, lang, md5('s' || CAST(doc_id AS VARCHAR)) AS skey
         |  FROM documents
         |),
         |r AS (
         |  SELECT doc_id, lang,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY skey, doc_id) AS INTEGER) AS rn,
         |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
         |  FROM s
         |)
         |SELECT doc_id, lang, rn, n_lang FROM r
         |WHERE rn <= (n_lang + ${graft.operators.Corpus.SampleDenom - 1}) // ${graft.operators.Corpus.SampleDenom}
         |ORDER BY doc_id""".stripMargin,

    // source-mixture resampling twin: same integer-only allocation
    // (K = min_s(n_s*W // w_s), k_s = K*w_s // W) and md5('m'||id) rank
    // Twin of Dedup.incrementalDedup: same md5 coin flip for base vs
    // delta, same fp-keyed probes.
    // Stored-layout twins: the SAME verdict algebra as
    // doc_dedup_incremental, with the fixture's second coin carving an
    // already-appended delta segment out of the delta half — base ∪
    // segment is "seen before", only the probing batch gets verdicts.
    "doc_dedup_incremental_stored" -> storedDedupSql(
      "p.doc_id, p.fp, " +
        "(base.fp IS NOT NULL OR seg.fp IS NOT NULL) AS dup_of_base, " +
        "p.doc_id > fd.first_delta AS dup_in_delta, " +
        "(base.fp IS NULL AND seg.fp IS NULL AND p.doc_id = fd.first_delta) AS is_new"),

    // the ingest-time stream-static probe over bounded input: the
    // dup_of_base face only
    "streaming_dedup_stored" -> storedDedupSql(
      "p.doc_id, p.fp, " +
        "(base.fp IS NOT NULL OR seg.fp IS NOT NULL) AS dup_of_base"),

    "doc_dedup_incremental" ->
      """WITH t AS (
        |  SELECT doc_id, md5(text) AS fp,
        |    CAST(('0x' || substr(md5('inc' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS b
        |  FROM documents
        |),
        |base AS (SELECT DISTINCT fp FROM t WHERE b = 0),
        |delta AS (SELECT doc_id, fp FROM t WHERE b = 1),
        |fd AS (SELECT fp, min(doc_id) AS first_delta FROM delta GROUP BY fp)
        |SELECT d.doc_id, d.fp,
        |  (base.fp IS NOT NULL) AS dup_of_base,
        |  d.doc_id > fd.first_delta AS dup_in_delta,
        |  (base.fp IS NULL AND d.doc_id = fd.first_delta) AS is_new
        |FROM delta d LEFT JOIN base ON d.fp = base.fp JOIN fd ON d.fp = fd.fp
        |ORDER BY d.doc_id""".stripMargin,

    // Twin of Corpus.budgetSelect: the single per-source window the
    // Spark side deliberately decomposes into banded partial cumsums —
    // hash equality proves the decomposition exact.
    "doc_budget_select" ->
      s"""WITH q AS ($qualitySelect),
         |s AS (
         |  SELECT q.doc_id, d.source,
         |    CAST(round(q.quality * 1e6) AS BIGINT) AS q_micro,
         |    CAST(q.n_tokens AS BIGINT) AS n_tokens
         |  FROM q JOIN documents d ON q.doc_id = d.doc_id
         |),
         |c AS (
         |  SELECT doc_id, source, q_micro, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY q_micro DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS cum_excl
         |  FROM s
         |)
         |SELECT doc_id, source, q_micro, n_tokens,
         |  CAST(cum_excl AS BIGINT) AS cum_excl,
         |  cum_excl + n_tokens <= ${graft.operators.Corpus.BudgetTokens} AS selected
         |FROM c ORDER BY doc_id""".stripMargin,

    "doc_mixture_sample" ->
      """WITH w AS (
        |  SELECT source, CAST(CAST(substr(source, 4) AS INTEGER) % 3 + 1 AS BIGINT) AS weight
        |  FROM (SELECT DISTINCT source FROM documents)
        |),
        |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src FROM documents GROUP BY source),
        |wt AS (SELECT CAST(sum(weight) AS BIGINT) AS w_total FROM w WHERE weight > 0),
        |caps AS (
        |  SELECT n.source, w.weight, n.n_src, n.n_src * wt.w_total // w.weight AS cap
        |  FROM n JOIN w ON n.source = w.source AND w.weight > 0, wt
        |),
        |kt AS (SELECT min(cap) AS k_mix FROM caps),
        |quota AS (
        |  SELECT caps.source, caps.weight, caps.n_src,
        |    kt.k_mix * caps.weight // wt.w_total AS k_src
        |  FROM caps, kt, wt
        |),
        |r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5('m' || CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rn
        |  FROM documents
        |)
        |SELECT r.doc_id, r.source, q.weight, r.rn, q.n_src, q.k_src
        |FROM r JOIN quota q ON r.source = q.source
        |WHERE r.rn <= q.k_src
        |ORDER BY r.doc_id""".stripMargin,

    // Twin of Corpus.mixtureSampleTemperature: identical quota
    // machinery, weights from sqrt(n_src) quantized to integer micro
    // (same sqrt on both sides, one round) instead of the name-derived
    // default spec.
    "doc_mixture_temperature" ->
      """WITH w AS (
        |  SELECT source,
        |    CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * 1000000) AS BIGINT) AS weight
        |  FROM documents GROUP BY source
        |),
        |n AS (SELECT source, CAST(count(*) AS BIGINT) AS n_src FROM documents GROUP BY source),
        |wt AS (SELECT CAST(sum(weight) AS BIGINT) AS w_total FROM w WHERE weight > 0),
        |caps AS (
        |  SELECT n.source, w.weight, n.n_src, n.n_src * wt.w_total // w.weight AS cap
        |  FROM n JOIN w ON n.source = w.source AND w.weight > 0, wt
        |),
        |kt AS (SELECT min(cap) AS k_mix FROM caps),
        |quota AS (
        |  SELECT caps.source, caps.weight, caps.n_src,
        |    kt.k_mix * caps.weight // wt.w_total AS k_src
        |  FROM caps, kt, wt
        |),
        |r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY md5('m' || CAST(doc_id AS VARCHAR)), doc_id) AS INTEGER) AS rn
        |  FROM documents
        |)
        |SELECT r.doc_id, r.source, q.weight, r.rn, q.n_src, q.k_src
        |FROM r JOIN quota q ON r.source = q.source
        |WHERE r.rn <= q.k_src
        |ORDER BY r.doc_id""".stripMargin,

    // Twin of TextStats.nfcPlant + nfcNormalize: replay the planted
    // decomposed suffixes (chr(769)=U+0301, chr(776)=U+0308,
    // chr(778)=U+030A) and normalize with DuckDB's OWN nfc_normalize —
    // hash equality is the two-engines-one-UAX#15 proof; char counts
    // are codepoints on both sides.
    "doc_nfc" ->
      """WITH raw AS (
        |  SELECT doc_id, text ||
        |    CASE CAST(('0x' || substr(md5('nfc' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4
        |      WHEN 0 THEN ' cafe' || chr(769)
        |      WHEN 1 THEN ' Zu' || chr(776) || 'rich'
        |      WHEN 2 THEN ' A' || chr(778)
        |      ELSE '' END AS raw
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CAST(length(raw) AS INTEGER) AS n_chars_raw,
        |  nfc_normalize(raw) AS text_nfc,
        |  CAST(length(nfc_normalize(raw)) AS INTEGER) AS n_chars_nfc,
        |  raw != nfc_normalize(raw) AS changed
        |FROM raw ORDER BY doc_id""".stripMargin,

    "emb_centroids" ->
      """SELECT label, CAST(pos AS INTEGER) AS pos,
        |  CAST(count(*) AS BIGINT) AS n_vecs,
        |  round(CAST(sum(q) AS DOUBLE) / (count(*) * 1000000.0), 6) AS centroid
        |FROM (
        |  SELECT label, g.i AS pos,
        |    CAST(round(CAST(embedding[CAST(g.i + 1 AS INTEGER)] AS DOUBLE) * 1000000, 0) AS BIGINT) AS q
        |  FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS i) g
        |)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    // Twin of Ann.embOutliers: same rounded centroids, same
    // quantize-before-sum distance terms, exact median over integers.
    // drift twin: identical md5 window coin, identical micro
    // quantize-before-sum, one double division per mean on each side
    "emb_drift_report" ->
      """WITH q AS (
        |  SELECT CAST(('0x' || substr(md5('drift' || CAST(vec_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 AS w,
        |    g.i AS pos,
        |    CAST(round(CAST(embedding[CAST(g.i + 1 AS INTEGER)] AS DOUBLE) * 1000000, 0) AS BIGINT) AS q
        |  FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS i) g
        |),
        |a AS (
        |  SELECT pos,
        |    CAST(sum(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
        |    CAST(sum(CASE WHEN w = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cur,
        |    CAST(sum(CASE WHEN w = 0 THEN q ELSE 0 END) AS BIGINT) AS s_ref,
        |    CAST(sum(CASE WHEN w = 1 THEN q ELSE 0 END) AS BIGINT) AS s_cur
        |  FROM q GROUP BY pos
        |)
        |SELECT CAST(pos AS INTEGER) AS pos, n_ref, n_cur,
        |  round(CAST(s_ref AS DOUBLE) / (CAST(n_ref AS DOUBLE) * 1000000.0), 6) AS mean_ref,
        |  round(CAST(s_cur AS DOUBLE) / (CAST(n_cur AS DOUBLE) * 1000000.0), 6) AS mean_cur,
        |  round(abs(CAST(s_cur AS DOUBLE) / (CAST(n_cur AS DOUBLE) * 1000000.0)
        |      - CAST(s_ref AS DOUBLE) / (CAST(n_ref AS DOUBLE) * 1000000.0)), 6) AS mean_shift
        |FROM a ORDER BY pos""".stripMargin,

    "emb_outliers" ->
      s"""WITH cent AS (
         |  SELECT label, pos,
         |    round(CAST(sum(q) AS DOUBLE) / (count(*) * 1000000.0), 6) AS centroid
         |  FROM (
         |    SELECT label, g.i AS pos,
         |      CAST(round(CAST(embedding[CAST(g.i + 1 AS INTEGER)] AS DOUBLE) * 1000000, 0) AS BIGINT) AS q
         |    FROM embeddings, LATERAL (SELECT unnest(range(len(embedding))) AS i) g
         |  )
         |  GROUP BY label, pos
         |),
         |terms AS (
         |  SELECT e.vec_id, e.label,
         |    CAST(round(pow(CAST(e.embedding[CAST(g.i + 1 AS INTEGER)] AS DOUBLE) - c.centroid, 2) * 1000000, 0) AS BIGINT) AS term_micro
         |  FROM embeddings e, LATERAL (SELECT unnest(range(len(embedding))) AS i) g
         |  JOIN cent c ON c.label = e.label AND c.pos = g.i
         |),
         |d2 AS (
         |  SELECT vec_id, label, CAST(sum(term_micro) AS BIGINT) AS d2_micro
         |  FROM terms GROUP BY vec_id, label
         |),
         |med AS (SELECT label, quantile_cont(d2_micro, 0.5) AS med_micro FROM d2 GROUP BY label)
         |SELECT vec_id, d2.label, d2_micro,
         |  round(CAST(d2_micro AS DOUBLE) / 1e6, 6) AS d2,
         |  round(CAST(d2_micro AS DOUBLE) / med_micro, 6) AS dist_ratio,
         |  d2_micro > med_micro * ${graft.operators.Ann.OutlierRatio} AS is_outlier
         |FROM d2 JOIN med ON d2.label = med.label
         |ORDER BY vec_id""".stripMargin,

    // J-L projection twin: same md5 ±1 derivation as the Spark matrix
    // (seed proj_<j>_<d>), same strict d-ascending fold as float_dot.
    "emb_project" ->
      s"""SELECT vec_id, CAST(t.j AS INTEGER) AS j,
         |  round(list_sum(list_transform(range(64), d ->
         |    (CASE WHEN CAST(('0x' || substr(md5('proj_' || CAST(t.j AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 1)) AS INTEGER) % 2 = 0
         |          THEN 1.0 ELSE -1.0 END)
         |    * CAST(embedding[d + 1] AS DOUBLE))) / sqrt(${graft.operators.Ann.ProjDims}), 6) AS v
         |FROM embeddings, unnest(range(${graft.operators.Ann.ProjDims})) t(j)
         |ORDER BY vec_id, j""".stripMargin,

    "emb_quantize" ->
      """SELECT vec_id, CAST(g.i AS INTEGER) AS pos,
        |  CASE WHEN scale = 0 THEN 0
        |       ELSE least(127, greatest(-127,
        |         CAST(round(CAST(embedding[CAST(g.i + 1 AS INTEGER)] AS DOUBLE) / scale, 0) AS BIGINT)))
        |  END AS code,
        |  scale
        |FROM (
        |  SELECT vec_id, embedding,
        |    round(list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) / 127.0, 9) AS scale
        |  FROM embeddings
        |), LATERAL (SELECT unnest(range(len(embedding))) AS i) g
        |ORDER BY vec_id, pos""".stripMargin,

    "streaming_dedup" ->
      """SELECT doc_id, md5(text) AS h,
        |  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical,
        |  doc_id <> min(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
        |FROM documents ORDER BY doc_id""".stripMargin,

    "streaming_near_dup" ->
      s"""WITH $shinglesCte,
         |$minhashCtes
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(a.band AS INTEGER) AS band
         |FROM bs0 a JOIN bs0 b ON a.band = b.band AND a.sig = b.sig
         |                     AND a.doc_id < b.doc_id
         |ORDER BY doc_a, doc_b, band""".stripMargin,

    "corpus_stats" ->
      """SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  round(avg(n_chars), 6) AS avg_chars,
        |  quantile_cont(n_chars, 0.5) AS median_chars
        |FROM documents GROUP BY lang, source
        |ORDER BY lang, source""".stripMargin,

    "doc_quality" -> s"$qualitySelect\nORDER BY doc_id",

    // Curriculum-order twin: the naive single global window over
    // (band DESC, key, doc_id). The engine runs the banded two-level
    // decomposition — hash equality IS the decomposition proof (the
    // budget_select precedent).
    "doc_epoch_order" ->
      s"""WITH q AS ($qualitySelect),
         |t AS (
         |  SELECT doc_id,
         |    CAST(least(floor(quality * ${graft.operators.Corpus.EpochBands}),
         |               ${graft.operators.Corpus.EpochBands - 1}) AS INTEGER) AS band,
         |    md5('epoch' || CAST(doc_id AS VARCHAR)) AS shuffle_key
         |  FROM q
         |)
         |SELECT doc_id, band, shuffle_key,
         |  CAST(row_number() OVER (ORDER BY band DESC, shuffle_key, doc_id) - 1 AS BIGINT) AS order_idx
         |FROM t ORDER BY doc_id""".stripMargin,

    // Twin of TextStats.entropy: identical quantize-before-sum — each
    // (doc, word) term rounds to integer micro-units before the per-doc
    // sum, so summation order can never move the hash.
    // Twin of TextStats.lmScore: same bigram construction (split
    // keeps empties, docs under 2 words carry no bigram), same
    // add-one smoothing expression, per-bigram ln quantized to
    // integer micro BEFORE the doc sum (the entropy discipline), one
    // double division per mean and one exp, rounded at 6.
    "doc_lm_score" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    w[CAST(g.i + 1 AS INTEGER)] AS w1,
        |    w[CAST(g.i + 2 AS INTEGER)] AS w2
        |  FROM ws, LATERAL (SELECT unnest(range(len(w) - 1)) AS i) g
        |  WHERE len(w) >= 2
        |),
        |uni AS (
        |  SELECT word AS w, CAST(count(*) AS BIGINT) AS c1
        |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        |  GROUP BY word
        |),
        |bi AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM bg GROUP BY w1, w2),
        |v AS (SELECT CAST(count(*) AS BIGINT) AS v_size FROM uni),
        |lp AS (
        |  SELECT bg.doc_id,
        |    CAST(round(-ln(CAST(coalesce(bi.c12, 0) + 1 AS DOUBLE)
        |        / CAST(coalesce(uni.c1, 0) + v.v_size AS DOUBLE)) * 1000000) AS BIGINT) AS lp_micro
        |  FROM bg LEFT JOIN bi USING (w1, w2) LEFT JOIN uni ON uni.w = bg.w1 CROSS JOIN v
        |),
        |agg AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |    CAST(sum(lp_micro) AS BIGINT) AS nll_micro
        |  FROM lp GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  coalesce(agg.n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
        |  coalesce(agg.nll_micro, CAST(0 AS BIGINT)) AS nll_micro,
        |  round(CAST(agg.nll_micro AS DOUBLE) / 1e6 / agg.n_bigrams, 6) AS avg_nll,
        |  round(exp(CAST(agg.nll_micro AS DOUBLE) / 1e6 / agg.n_bigrams), 6) AS ppl
        |FROM documents d LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin,

    // Twin of TextStats.lmScoreStored: fit on the md5 train split
    // (the doc_split expression), prune the bigram tier to the top
    // 4096 by (count desc, w1, w2) — the Spark side's
    // TakeOrderedAndProject is the same total order — keep the
    // unigram tier whole, score ALL documents with unseen mass
    // coalesced to 0 under the identical smoothing expression. The
    // Spark side runs the broadcast KERNEL; hash equality here is the
    // kernel ≡ join proof on the full corpus.
    "doc_lm_score_stored" ->
      s"""WITH $lmStoredCtes
         |SELECT doc_id, n_bigrams, nll_micro, avg_nll, ppl
         |FROM lmdoc ORDER BY doc_id""".stripMargin,

    // Snapshot-diff twin: replays the two planted releases from the
    // same md5 classes and compares text directly — equality of texts
    // is equality of the engine's xxhash64 content keys (modulo the
    // documented collision trade).
    "corpus_diff" ->
      s"""WITH b AS (
         |  SELECT doc_id, source, text,
         |    CAST(('0x' || substr(md5('diff' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |      % ${Queries.DiffMod} AS b
         |  FROM documents
         |),
         |old AS (SELECT doc_id, source, text FROM b WHERE b <> 0),
         |nw AS (
         |  SELECT doc_id, source,
         |    CASE WHEN b = 2 THEN text || ' v2' ELSE text END AS text
         |  FROM b WHERE b <> 1
         |),
         |j AS (
         |  SELECT coalesce(o.source, n.source) AS source,
         |    CASE WHEN o.doc_id IS NULL THEN 'added'
         |         WHEN n.doc_id IS NULL THEN 'removed'
         |         WHEN o.text <> n.text THEN 'changed'
         |         ELSE 'unchanged' END AS status
         |  FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id
         |)
         |SELECT source, status, CAST(count(*) AS BIGINT) AS n_docs
         |FROM j GROUP BY source, status
         |ORDER BY source, status""".stripMargin,

    // Twin of Corpus.snapshotDiffNear over Queries.corpusDiffNear's
    // planted snapshots: the exact diff's id-keyed full-outer join,
    // plus the near tier — the probe side (added ∪ changed new docs)
    // and the corpus side (old snapshot; stored ≡ fresh, the
    // nearDupAgainstStored equivalence the stored-tier specs pin) each
    // run the banded minhash chain, pairs verify by exact Jaccard at
    // ClusterJaccard, and a same-id pair (re-render in place) or an
    // added×removed cross pair (re-render under a new id) reclassifies
    // its rows as near_changed.
    "corpus_diff_near" -> {
      val cap = graft.operators.BandCap.DefaultCap
      s"""WITH bse AS (
         |  SELECT doc_id, source, text,
         |    CAST(('0x' || substr(md5('ndiff' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |      % ${Queries.DiffNearMod} AS b
         |  FROM documents
         |),
         |old AS (SELECT doc_id, source, text FROM bse WHERE b <> 0),
         |nw AS (
         |  SELECT CASE WHEN b = 4 THEN doc_id + ${Queries.DiffNearIdOffset} ELSE doc_id END AS doc_id,
         |    source,
         |    CASE WHEN b = 2 THEN 'rewritten ' || md5(text)
         |         WHEN b IN (3, 4) THEN text || ' v2'
         |         ELSE text END AS text
         |  FROM bse WHERE b <> 1
         |),
         |ex AS (
         |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         |    coalesce(o.source, n.source) AS source,
         |    CASE WHEN o.doc_id IS NULL THEN 'added'
         |         WHEN n.doc_id IS NULL THEN 'removed'
         |         WHEN o.text <> n.text THEN 'changed'
         |         ELSE 'unchanged' END AS status
         |  FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id
         |),
         |probe AS (
         |  SELECT n.doc_id, n.text FROM nw n
         |  JOIN ex ON n.doc_id = ex.doc_id
         |  WHERE ex.status IN ('added', 'changed')
         |),
         |${ngramCteOver("old", 3, "shc", "shingle", distinct = true)},
         |${ngramCteOver("probe", 3, "shb", "shingle", distinct = true)},
         |${minhashCtesOver("shc", "c", cap)},
         |${minhashCtesOver("shb", "p", cap)},
         |pr AS (
         |  SELECT DISTINCT a.doc_id AS doc_batch, c.doc_id AS doc_corpus
         |  FROM bsp a JOIN bsc c ON a.band = c.band AND a.sig = c.sig),
         |cntb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shb GROUP BY doc_id),
         |cntc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shc GROUP BY doc_id),
         |com AS (
         |  SELECT doc_batch, doc_corpus, CAST(count(*) AS BIGINT) AS n_common
         |  FROM pr
         |  JOIN shb sa ON pr.doc_batch = sa.doc_id
         |  JOIN shc sc2 ON pr.doc_corpus = sc2.doc_id AND sa.shingle = sc2.shingle
         |  GROUP BY doc_batch, doc_corpus),
         |near_pairs AS (
         |  SELECT pr.doc_batch, pr.doc_corpus
         |  FROM pr
         |  LEFT JOIN com USING (doc_batch, doc_corpus)
         |  JOIN cntb ca ON ca.doc_id = pr.doc_batch
         |  JOIN cntc cb ON cb.doc_id = pr.doc_corpus
         |  WHERE round(CAST(coalesce(com.n_common, 0) AS DOUBLE) /
         |        (ca.n + cb.n - coalesce(com.n_common, 0)), 6)
         |      >= ${graft.operators.Corpus.ClusterJaccard}),
         |cross_pairs AS (
         |  SELECT p.doc_batch, p.doc_corpus FROM near_pairs p
         |  JOIN ex a ON a.doc_id = p.doc_batch AND a.status = 'added'
         |  JOIN ex r ON r.doc_id = p.doc_corpus AND r.status = 'removed'
         |  WHERE p.doc_batch <> p.doc_corpus),
         |near_ids AS (
         |  SELECT doc_batch AS doc_id FROM near_pairs WHERE doc_batch = doc_corpus
         |  UNION
         |  SELECT doc_batch AS doc_id FROM cross_pairs
         |  UNION
         |  SELECT doc_corpus AS doc_id FROM cross_pairs
         |)
         |SELECT ex.source,
         |  CASE WHEN ni.doc_id IS NOT NULL
         |            AND ex.status IN ('added', 'removed', 'changed')
         |       THEN 'near_changed' ELSE ex.status END AS status,
         |  CAST(count(*) AS BIGINT) AS n_docs
         |FROM ex LEFT JOIN near_ids ni ON ex.doc_id = ni.doc_id
         |GROUP BY 1, 2
         |ORDER BY source, status""".stripMargin
    },

    // Twin of Corpus.shardManifest: same md5 shard hash, same integer
    // rollup, one exact-integer share division.
    "doc_shard_manifest" ->
      s"""WITH t AS (
         |  SELECT CAST(('0x' || substr(md5('shard' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |      % ${graft.operators.Corpus.ExportShards} AS shard,
         |    doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents
         |),
         |s AS (
         |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |    min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
         |  FROM t GROUP BY shard
         |),
         |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS t_total FROM s)
         |SELECT shard, n_docs, n_tokens, min_doc_id, max_doc_id,
         |  round(CAST(n_tokens AS DOUBLE) / t_total, 6) AS token_share
         |FROM s, tot ORDER BY shard""".stripMargin,

    "doc_entropy" ->
      """WITH wrd AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
        |),
        |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM wrd GROUP BY doc_id),
        |c AS (
        |  SELECT doc_id, word, CAST(count(*) AS BIGINT) AS c
        |  FROM wrd GROUP BY doc_id, word
        |),
        |t AS (
        |  SELECT c.doc_id, n.n_tokens,
        |    CAST(round(-(CAST(c AS DOUBLE) / n_tokens) * ln(CAST(c AS DOUBLE) / n_tokens) * 1000000) AS BIGINT) AS term_micro
        |  FROM c JOIN n USING (doc_id)
        |)
        |SELECT doc_id,
        |  max(n_tokens) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(term_micro) AS BIGINT) AS entropy_micro,
        |  round(CAST(sum(term_micro) AS DOUBLE) / 1e6, 6) AS entropy,
        |  CASE WHEN count(*) > 1
        |       THEN round(CAST(sum(term_micro) AS DOUBLE) / 1e6 / ln(count(*)), 6)
        |       ELSE 0.0 END AS norm_entropy
        |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // Twin of TextStats.qualityModel: the stand-in weight table
    // regenerates from each bucket's own md5, weights stay integer
    // milli-units through the per-doc sum, and only the final logit /
    // sigmoid touch doubles.
    "doc_quality_model" ->
      s"""WITH wt AS (
         |  SELECT CAST(i AS BIGINT) AS bucket,
         |    CAST(('0x' || substr(md5('qm' || CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 2001 - 1000 AS weight_milli
         |  FROM unnest(range(${graft.operators.TextStats.ModelBuckets})) t(i)
         |),
         |wrd AS (
         |  SELECT doc_id,
         |    CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % ${graft.operators.TextStats.ModelBuckets} AS bucket
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
         |),
         |agg AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |    CAST(sum(weight_milli) AS BIGINT) AS feat_milli
         |  FROM wrd JOIN wt USING (bucket) GROUP BY doc_id
         |),
         |lg AS (
         |  SELECT doc_id, n_tokens, feat_milli,
         |    CAST(round(CAST(feat_milli AS DOUBLE) * 1000.0 / n_tokens) AS BIGINT)
         |      + ${graft.operators.TextStats.ModelBiasMilli * 1000L} AS logit_micro
         |  FROM agg
         |)
         |SELECT doc_id, n_tokens, feat_milli, logit_micro,
         |  round(1.0 / (1.0 + exp(-(CAST(logit_micro AS DOUBLE) / 1e6))), 6) AS model_score,
         |  logit_micro >= 0 AS keep
         |FROM lg ORDER BY doc_id""".stripMargin,

    "doc_fingerprint" ->
      s"""WITH $shinglesCte,
         |bt AS (
         |  SELECT doc_id,
         |    array_to_string(list_slice(list_sort(list(DISTINCT md5(shingle))), 1, 3), '_') AS bottom3
         |  FROM sh GROUP BY doc_id
         |)
         |SELECT d.doc_id, md5(norm) AS fp_md5, substr(md5(norm), 1, 8) AS fp_prefix,
         |  CAST(length(norm) AS INTEGER) AS n_norm_chars,
         |  coalesce(bt.bottom3, '') AS bottom3
         |FROM (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS norm
         |      FROM documents) d
         |LEFT JOIN bt USING (doc_id) ORDER BY doc_id""".stripMargin,
    "cdx_parse" -> withCaptures(
      """SELECT url, seq, ts,
        |  substr(ts, 1, 4) || '-' || substr(ts, 5, 2) || '-' || substr(ts, 7, 2) AS day,
        |  CASE WHEN status BETWEEN '200' AND '599'
        |       THEN substr(status, 1, 1) || 'xx' ELSE status END AS status_class,
        |  substr(digest, 1, 8) AS digest8
        |FROM captures ORDER BY url, seq""".stripMargin),

    "cdx_source_scan" -> withCaptures(
      """SELECT url, ts, status, digest FROM captures
        |ORDER BY url, ts, status, digest""".stripMargin),

    "digest_impute" -> s"""WITH $capturesCte,\n$enrichedCte
      |SELECT url, seq, s AS status_imputed FROM enriched ORDER BY url, seq""".stripMargin,

    "daily_counts" -> withDaily(
      """SELECT url, day, c2xx, c3xx, c4xx, c5xx,
        |  c2xx + c3xx + c4xx + c5xx AS call
        |FROM daily ORDER BY url, day""".stripMargin),

    "streaming_daily" -> withDaily(
      """SELECT url, day, datetime, c2xx, c3xx, c4xx, c5xx, specimen,
        |  digest, content, chaos, chaosn
        |FROM daily ORDER BY url, day""".stripMargin),

    "daily_specimen" -> withDaily(
      """SELECT url, day, specimen, datetime, digest AS digest8
        |FROM daily ORDER BY url, day""".stripMargin),

    "daily_content" -> withDaily(
      "SELECT url, day, content FROM daily ORDER BY url, day"),

    "chaos_daily" -> withDaily(
      "SELECT url, day, chaos, chaosn FROM daily ORDER BY url, day"),

    // Anomaly twin: the flag is pure integer arithmetic (dev² > k²·varnum
    // over exact window sums), so engines can never disagree on it; the
    // reported mean/z are single IEEE divisions of those integers.
    "daily_anomalies" -> withDaily(
      s""", t AS (SELECT url, day, c2xx + c3xx + c4xx + c5xx AS call FROM daily),
         |w AS (
         |  SELECT url, day, call,
         |    CAST(count(*) OVER win AS BIGINT) AS win_n,
         |    CAST(coalesce(sum(call) OVER win, 0) AS BIGINT) AS win_sum,
         |    CAST(coalesce(sum(call * call) OVER win, 0) AS BIGINT) AS win_sumsq
         |  FROM t
         |  WINDOW win AS (PARTITION BY url ORDER BY day
         |                 ROWS BETWEEN ${graft.operators.Metrics.AnomalyWin} PRECEDING
         |                 AND 1 PRECEDING)),
         |f AS (
         |  SELECT url, day, call, win_n, win_sum,
         |    call * win_n - win_sum AS dev,
         |    win_n * win_sumsq - win_sum * win_sum AS varnum
         |  FROM w)
         |SELECT url, day, call, win_n,
         |  CASE WHEN win_n > 0
         |       THEN round(CAST(win_sum AS DOUBLE) / win_n, 6) ELSE 0.0 END AS win_mean,
         |  CASE WHEN varnum > 0
         |       THEN round(CAST(dev AS DOUBLE) / sqrt(CAST(varnum AS DOUBLE)), 6)
         |       ELSE 0.0 END AS z,
         |  win_n >= ${graft.operators.Metrics.AnomalyMinWin}
         |    AND dev * dev > ${graft.operators.Metrics.AnomalyZ * graft.operators.Metrics.AnomalyZ} * varnum
         |    AS is_anomaly
         |FROM f ORDER BY url, day""".stripMargin),

    "periodic_samples" -> withCaptures(
      """SELECT url,
        |  count(DISTINCT substr(ts, 1, 14)) AS n_second,
        |  count(DISTINCT substr(ts, 1, 12)) AS n_minute,
        |  count(DISTINCT substr(ts, 1, 10)) AS n_hour,
        |  count(DISTINCT substr(ts, 1, 8)) AS n_day,
        |  count(DISTINCT substr(ts, 1, 6)) AS n_month,
        |  count(DISTINCT substr(ts, 1, 4)) AS n_year
        |FROM captures GROUP BY url ORDER BY url""".stripMargin),

    "monthly_rollup" -> withDaily(
      """SELECT url, substr(day, 1, 8) || '15' AS month,
        |  CAST(sum(c2xx) AS BIGINT) AS c2xx, CAST(sum(c3xx) AS BIGINT) AS c3xx,
        |  CAST(sum(c4xx) AS BIGINT) AS c4xx, CAST(sum(c5xx) AS BIGINT) AS c5xx,
        |  CAST(sum(c2xx + c3xx + c4xx + c5xx) AS BIGINT) AS call
        |FROM daily GROUP BY url, month ORDER BY url, month""".stripMargin),

    "totals_unpivot" -> withDaily(
      """SELECT url, status, CAST(sum(v) AS BIGINT) AS total FROM (
        |  SELECT url, 'c2xx' AS status, c2xx AS v FROM daily
        |  UNION ALL SELECT url, 'c3xx', c3xx FROM daily
        |  UNION ALL SELECT url, 'c4xx', c4xx FROM daily
        |  UNION ALL SELECT url, 'c5xx', c5xx FROM daily
        |  UNION ALL SELECT url, 'call', c2xx + c3xx + c4xx + c5xx FROM daily
        |) GROUP BY url, status ORDER BY url, status""".stripMargin),

    "summary_stats" -> withDaily(
      """SELECT url, status,
        |  count(cnt) AS n,
        |  coalesce(avg(cnt), 0.0) AS mean,
        |  round(coalesce(stddev_samp(cnt), 0.0), 6) AS std,
        |  coalesce(min(cnt), 0) AS min,
        |  coalesce(quantile_cont(cnt, 0.25), 0.0) AS q1,
        |  coalesce(quantile_cont(cnt, 0.5), 0.0) AS median,
        |  coalesce(quantile_cont(cnt, 0.75), 0.0) AS q3,
        |  coalesce(max(cnt), 0) AS max
        |FROM (
        |  SELECT url, status, CASE WHEN v = 0 THEN NULL ELSE v END AS cnt FROM (
        |    SELECT url, 'c2xx' AS status, c2xx AS v FROM daily
        |    UNION ALL SELECT url, 'c3xx', c3xx FROM daily
        |    UNION ALL SELECT url, 'c4xx', c4xx FROM daily
        |    UNION ALL SELECT url, 'c5xx', c5xx FROM daily
        |    UNION ALL SELECT url, 'call', c2xx + c3xx + c4xx + c5xx FROM daily
        |  )
        |) GROUP BY url, status ORDER BY url, status""".stripMargin),

    "densify_calendar" -> withDensified(
      """SELECT url, day, specimen, content, filled, call
        |FROM densified ORDER BY url, day""".stripMargin),

    "fill_forward" -> fillSql("forward"),
    "fill_backward" -> fillSql("backward"),
    "fill_closest" -> fillSql("closest"),
    "fill_identical" -> fillSql("identical"),

    "transitions_chart" -> withDensified(
      s""", $transitionsCtes
         |SELECT g.url, g.src, g.tgt, CAST(coalesce(t2.n, 0) AS BIGINT) AS cnt,
         |       CAST(coalesce(t2.n, 0) + 1 AS BIGINT) AS cnt_plus
         |FROM grid g LEFT JOIN t2 ON g.url = t2.url AND g.src = t2.src AND g.tgt = t2.tgt
         |ORDER BY g.url, g.src, g.tgt""".stripMargin),

    "asof_join" -> withDaily(
      """, chg AS (
        |  SELECT url, day AS rday, day AS chg_day, digest AS chg_digest
        |  FROM daily WHERE content = 'Changed'
        |)
        |SELECT l.url, l.day, l.specimen, r.chg_day, r.chg_digest
        |FROM daily l ASOF LEFT JOIN chg r
        |  ON l.url = r.url AND l.day >= r.rday
        |ORDER BY l.url, l.day""".stripMargin),

    "asof_join_strict" -> withDaily(
      """, chg AS (
        |  SELECT url, day AS rday, day AS chg_day, digest AS chg_digest
        |  FROM daily WHERE content = 'Changed'
        |)
        |SELECT l.url, l.day, l.specimen, r.chg_day, r.chg_digest
        |FROM daily l ASOF LEFT JOIN chg r
        |  ON l.url = r.url AND l.day > r.rday
        |ORDER BY l.url, l.day""".stripMargin),

    "transitions" -> withDensified(
      s""", $transitionsCtes
         |SELECT g.url, g.src, g.tgt, CAST(coalesce(t2.n, 0) AS BIGINT) AS cnt
         |FROM grid g LEFT JOIN t2 ON g.url = t2.url AND g.src = t2.src AND g.tgt = t2.tgt
         |ORDER BY g.url, g.src, g.tgt""".stripMargin),

    "report_daily" -> withDensified(
      """SELECT url, day AS Day, datetime AS Datetime,
        |  c2xx AS "2xx", c3xx AS "3xx", c4xx AS "4xx", c5xx AS "5xx",
        |  call AS "All", specimen AS Specimen, filled AS Filled,
        |  digest AS Digest, content AS Content,
        |  CASE WHEN datetime <> '~'
        |       THEN 'https://web.archive.org/web' || '/' || datetime || '/' || url
        |       ELSE '#' END AS URIM
        |FROM densified ORDER BY url, Day""".stripMargin),

    "normalize_urls" -> withCaptures(
      """SELECT url,
        |  CASE WHEN url LIKE 'http://%' OR url LIKE 'https://%'
        |       THEN url ELSE 'https://' || url END AS normalized
        |FROM (SELECT DISTINCT url FROM captures) ORDER BY url""".stripMargin),

    "run_segments" -> withDensified(
      """, r0 AS (
        |  SELECT url, day, specimen,
        |    CASE WHEN specimen <> coalesce(lag(specimen) OVER w, ' ')
        |         THEN 1 ELSE 0 END AS changed
        |  FROM densified WINDOW w AS (PARTITION BY url ORDER BY day)
        |),
        |r1 AS (
        |  SELECT *, CAST(sum(changed) OVER (PARTITION BY url ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_id
        |  FROM r0
        |)
        |SELECT url, run_id, min(specimen) AS specimen, min(day) AS start_day,
        |       max(day) AS end_day, count(*) AS days
        |FROM r1 GROUP BY url, run_id ORDER BY url, run_id""".stripMargin),

    "fixity_counts" -> withDensified(
      """SELECT url, content, count(*) AS cnt
        |FROM densified GROUP BY url, content ORDER BY url, content""".stripMargin),

    "specimen_breakdown" -> withDensified(
      """SELECT url,
        |  CAST(sum(CASE WHEN call > 0 THEN 1 ELSE 0 END) AS BIGINT) AS active,
        |  CAST(sum(CASE WHEN filled THEN 1 ELSE 0 END) AS BIGINT) AS filled,
        |  CAST(sum(CASE WHEN call = 0 AND NOT filled THEN 1 ELSE 0 END) AS BIGINT) AS missing,
        |  CAST(sum(call) AS BIGINT) AS captures,
        |  round(CAST(sum(c2xx) AS DOUBLE) / CAST(sum(call) AS DOUBLE) * 100, 6) AS ok_pct
        |FROM densified GROUP BY url ORDER BY url""".stripMargin,
      fillPolicy = Some("forward")),

    "sigmoid_shape" ->
      """WITH params(key, shift, slope, spread) AS (VALUES
        |  ('2xx', 4.0, 1.0, 1.0), ('3xx', 5.0, 10.0, -0.5),
        |  ('4xx', 5.0, 1.0, -1.0), ('5xx', 5.0, 1.0, -1.0),
        |  ('~', 10.0, 20.0, -0.5), ('Changed', 6.0, 1.0, -1.0),
        |  ('Unchanged', 4.0, 1.0, 1.0), ('Unknown', 10.0, 30.0, -0.5)),
        |xs AS (SELECT unnest(range(0, 101)) AS x)
        |SELECT key, x,
        |  round(CASE WHEN spread < 0 THEN 1.0 ELSE 0.0 END
        |        + spread / (1.0 + exp(shift - CAST(x AS DOUBLE) / slope)), 6) AS h
        |FROM xs CROSS JOIN params ORDER BY key, x""".stripMargin,

    "tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "revenue_by_nation" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "top_orders_per_cust" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders
        |) WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "event_daily_windows" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,

    // Sessionization twin: session_window's merge semantics re-expressed
    // as gap islands — a break where the inter-event gap EXCEEDS the
    // gap (diff == gap still merges: Spark closes the window at
    // last+gap inclusive of a touching next event — pinned in
    // SessionsSpec). Bounds in epoch micros (exact integers); value
    // sum through DECIMAL(18,2).
    "event_sessions" ->
      s"""WITH e AS (
         |  SELECT user_id, epoch_us(ts) AS us, CAST(value AS DECIMAL(18,2)) AS v
         |  FROM events
         |),
         |d AS (
         |  SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
         |                   > ${graft.operators.Sessions.SessionGapHours}::BIGINT * 3600 * 1000000
         |            THEN 1 ELSE 0 END AS brk
         |  FROM e
         |),
         |s AS (
         |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY us
         |              ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM d
         |),
         |g AS (
         |  SELECT user_id, sid,
         |    CAST(min(us) AS BIGINT) AS start_us, CAST(max(us) AS BIGINT) AS end_us,
         |    CAST(count(*) AS BIGINT) AS n_events, CAST(sum(v) AS DOUBLE) AS sum_value
         |  FROM s GROUP BY user_id, sid
         |)
         |SELECT user_id,
         |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY start_us) AS INTEGER) AS session_seq,
         |  start_us, end_us, n_events, sum_value
         |FROM g ORDER BY user_id, session_seq""".stripMargin,

    // Funnel twin: the same two running-min window passes — strict
    // (run < us) step qualification makes timestamp ties irrelevant on
    // both engines.
    "event_funnel" ->
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events
         |),
         |s1 AS (
         |  SELECT *, min(CASE WHEN event_type = '${operators.Sessions.FunnelSteps(0)}' THEN us END)
         |    OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS run_v
         |  FROM e
         |),
         |s2 AS (
         |  SELECT *, CASE WHEN event_type = '${operators.Sessions.FunnelSteps(1)}' AND run_v < us
         |                 THEN us END AS q_click
         |  FROM s1
         |),
         |s3 AS (
         |  SELECT *, min(q_click)
         |    OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS run_c
         |  FROM s2
         |),
         |s4 AS (
         |  SELECT *, CASE WHEN event_type = '${operators.Sessions.FunnelSteps(2)}' AND run_c < us
         |                 THEN us END AS q_pur
         |  FROM s3
         |),
         |g AS (
         |  SELECT user_id,
         |    min(CASE WHEN event_type = '${operators.Sessions.FunnelSteps(0)}' THEN us END) AS step1_us,
         |    min(q_click) AS step2_us,
         |    min(q_pur) AS step3_us
         |  FROM s4 GROUP BY user_id
         |)
         |SELECT user_id,
         |  CAST(CASE WHEN step3_us IS NOT NULL THEN 3
         |            WHEN step2_us IS NOT NULL THEN 2
         |            WHEN step1_us IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS steps_completed,
         |  step1_us, step2_us, step3_us
         |FROM g ORDER BY user_id""".stripMargin,

    // Markov twin: lag per user, count per (prev, cur), row totals as a
    // window over the transition rows.
    "event_markov" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events
        |),
        |t AS (
        |  SELECT event_type AS cur_type,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev_type
        |  FROM e
        |),
        |c AS (
        |  SELECT prev_type, cur_type, CAST(count(*) AS BIGINT) AS n
        |  FROM t WHERE prev_type IS NOT NULL GROUP BY prev_type, cur_type
        |)
        |SELECT prev_type, cur_type, n,
        |  CAST(sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS n_prev,
        |  round(CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type), 6) AS p
        |FROM c ORDER BY prev_type, cur_type""".stripMargin,

    // Retention twin: distinct user-days make count(*) the distinct-user
    // count per cell; cohort sizes are the offset-0 cells.
    "event_retention" ->
      """WITH a AS (
        |  SELECT DISTINCT user_id,
        |    strftime(date_trunc('day', ts), '%Y-%m-%d') AS day
        |  FROM events
        |),
        |c AS (SELECT *, min(day) OVER (PARTITION BY user_id) AS cohort_day FROM a),
        |o AS (
        |  SELECT user_id, cohort_day,
        |    CAST(date_diff('day', CAST(cohort_day AS DATE), CAST(day AS DATE)) AS BIGINT)
        |      AS day_offset
        |  FROM c
        |),
        |r AS (
        |  SELECT cohort_day, day_offset, CAST(count(*) AS BIGINT) AS n_users
        |  FROM o GROUP BY cohort_day, day_offset
        |),
        |sz AS (SELECT cohort_day, n_users AS n_cohort FROM r WHERE day_offset = 0)
        |SELECT r.cohort_day, r.day_offset, r.n_users, sz.n_cohort,
        |  round(CAST(r.n_users AS DOUBLE) * 100 / sz.n_cohort, 6) AS pct
        |FROM r JOIN sz USING (cohort_day)
        |ORDER BY cohort_day, day_offset""".stripMargin
  )

  /** Twins that depend on RUNTIME artifacts — today the trained KMeans
    * codebook, which no static SQL can reproduce. Verify merges these
    * over [[all]] when dumping oracle_sql.json: the trained centers are
    * collected once per (session, dir) ([[Queries.kmeansCenters]]) and
    * the SAME literal floats reach the Spark plan and the VALUES table
    * here, so even the trained path gets a real hash row.
    */
  /** SQL string literal with quotes doubled — merge symbols come from
    * corpus words and may carry apostrophes.
    */
  private def strLit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Twin of [[graft.operators.Corpus.packSequencesNoSplit]] at a
    * given budget: same hash order, harmonic class `budget // n`,
    * in-class rank → sequence `rank // class`, within-sequence token
    * prefix; class sequence counts prefix into global ids; oversize
    * docs tile dedicated runs after every class sequence, `split`
    * flagged. Where the Spark side two-levels every rank through 256
    * hash buckets, the twin runs the single global windows a
    * one-machine engine can afford — identical arithmetic.
    */
  private def packNoSplitSql(budget: Long): String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    md5('pack' || CAST(doc_id AS VARCHAR)) AS ord
       |  FROM documents
       |),
       |sm AS (
       |  SELECT *, $budget // n_tokens AS cls FROM t
       |  WHERE n_tokens <= $budget AND n_tokens > 0
       |),
       |r AS (
       |  SELECT *,
       |    row_number() OVER (PARTITION BY cls ORDER BY ord, doc_id) - 1 AS rn
       |  FROM sm
       |),
       |sq AS (SELECT *, rn // cls AS seq_in_cls FROM r),
       |o AS (
       |  SELECT *,
       |    sum(n_tokens) OVER (PARTITION BY cls, seq_in_cls ORDER BY rn
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens AS seq_offset
       |  FROM sq
       |),
       |ct AS (
       |  SELECT cls, (count(*) + cls - 1) // cls AS n_seqs FROM sm GROUP BY cls
       |),
       |cofs AS (
       |  SELECT cls,
       |    sum(n_seqs) OVER (ORDER BY cls
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_seqs AS cls_off
       |  FROM ct
       |),
       |tot AS (SELECT CAST(coalesce(sum(n_seqs), 0) AS BIGINT) AS tseqs FROM ct),
       |smf AS (
       |  SELECT o.doc_id, o.n_tokens,
       |    CAST(cofs.cls_off + o.seq_in_cls AS BIGINT) AS seq_id,
       |    CAST(o.seq_offset AS BIGINT) AS seq_offset,
       |    false AS split
       |  FROM o JOIN cofs USING (cls)
       |),
       |bg AS (
       |  SELECT *, (n_tokens + $budget - 1) // $budget AS nseq FROM t
       |  WHERE n_tokens > $budget
       |),
       |bgo AS (
       |  SELECT *,
       |    sum(nseq) OVER (ORDER BY ord, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nseq AS boff
       |  FROM bg
       |),
       |bgf AS (
       |  SELECT bgo.doc_id, bgo.n_tokens,
       |    CAST(tot.tseqs + bgo.boff AS BIGINT) AS seq_id,
       |    CAST(0 AS BIGINT) AS seq_offset,
       |    true AS split
       |  FROM bgo, tot
       |)
       |SELECT * FROM (SELECT * FROM smf UNION ALL SELECT * FROM bgf)
       |ORDER BY doc_id""".stripMargin

  /** The trained TRUE-BPE merge table as a VALUES relation — the
    * [[qualityModelTrainedSql]] materialization pattern; rank order is
    * apply order. Empty training (no multi-codepoint words) yields a
    * rank-0 sentinel whose pattern (three consecutive spaces) can
    * never occur in a single-space-separated symbol string.
    */
  private def bpeMergesValues(merges: Array[graft.operators.TextStats.BpeMerge]): String =
    if (merges.isEmpty) "(VALUES (0, ' ', ' ')) AS t(rank, l, r)"
    else merges
      .map(m => s"(${m.rank}, ${strLit(m.left)}, ${strLit(m.right)})")
      .mkString("(VALUES ", ", ", ") AS t(rank, l, r)")

  /** Twin of the trained merge-table row: the literals round-tripped
    * through parquet and the driver's hash — plus freq/merged, which
    * the apply twin doesn't need.
    */
  private def bpeVocabSql(merges: Array[graft.operators.TextStats.BpeMerge]): String =
    if (merges.isEmpty)
      """SELECT CAST(0 AS INTEGER) AS rank, '' AS "left", '' AS "right",
        |  '' AS merged, CAST(0 AS BIGINT) AS freq WHERE FALSE""".stripMargin
    else merges
      .map(m => s"(CAST(${m.rank} AS INTEGER), ${strLit(m.left)}, ${strLit(m.right)}, " +
        s"${strLit(m.merged)}, CAST(${m.freq} AS BIGINT))")
      .mkString(
        "SELECT * FROM (VALUES ", ", ",
        ") AS t(rank, \"left\", \"right\", merged, freq) ORDER BY rank")

  /** Twin of [[graft.operators.TextStats.tokenStatsBpeTrue]]: each
    * distinct word becomes a space-delimited CODEPOINT symbol string
    * (' w o r d '), then a recursive walk applies the trained merges
    * in rank order, one FIRST-occurrence replacement per step (staying
    * on a rank until its pair no longer occurs = the left-to-right
    * sweep; boundary spaces ride the pattern so symbols never match
    * inside one another). Token count = spaces − 1 of the final
    * string; per-doc sums mirror the whitespace/ratio shape of the
    * greedy twin.
    */
  private def bpeTrueStatsSql(merges: Array[graft.operators.TextStats.BpeMerge]): String = {
    val m = merges.length
    s"""WITH RECURSIVE bm AS (SELECT * FROM ${bpeMergesValues(merges)}),
       |bp_docw AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
       |),
       |bp_dw AS (SELECT DISTINCT w FROM bp_docw WHERE length(w) > 0),
       |bp_step(w, s, mi) AS (
       |  SELECT w, regexp_replace(w, '(?s)(.)', ' \\1', 'g') || ' ', 1 FROM bp_dw
       |  UNION ALL
       |  SELECT st.w,
       |    CASE WHEN strpos(st.s, ' ' || bm.l || ' ' || bm.r || ' ') > 0
       |         THEN substr(st.s, 1, strpos(st.s, ' ' || bm.l || ' ' || bm.r || ' ') - 1)
       |              || ' ' || bm.l || bm.r || ' '
       |              || substr(st.s, strpos(st.s, ' ' || bm.l || ' ' || bm.r || ' ')
       |                   + length(bm.l) + length(bm.r) + 3)
       |         ELSE st.s END,
       |    CASE WHEN strpos(st.s, ' ' || bm.l || ' ' || bm.r || ' ') > 0
       |         THEN st.mi ELSE st.mi + 1 END
       |  FROM bp_step st JOIN bm ON bm.rank = st.mi
       |  WHERE st.mi <= $m
       |),
       |bp_fin AS (SELECT w, s FROM bp_step WHERE mi = $m + 1),
       |bp_wtok AS (
       |  SELECT w, CAST(length(s) - length(replace(s, ' ', '')) - 1 AS BIGINT) AS ntok
       |  FROM bp_fin
       |),
       |bp_doctok AS (
       |  SELECT dw.doc_id, CAST(sum(coalesce(t.ntok, 0)) AS BIGINT) AS n_tokens_bpe
       |  FROM bp_docw dw LEFT JOIN bp_wtok t ON dw.w = t.w
       |  GROUP BY dw.doc_id
       |)
       |SELECT d.doc_id,
       |  CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens_ws,
       |  a.n_tokens_bpe,
       |  round(CAST(a.n_tokens_bpe AS DOUBLE)
       |        / len(string_split(d.text, ' ')), 6) AS bpe_per_ws
       |FROM documents d JOIN bp_doctok a ON d.doc_id = a.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** The trained unigram piece table as a VALUES relation — the
    * [[bpeVocabSql]] materialization pattern; EngineProps pins the
    * EM training itself against an independent local implementation.
    */
  private def unigramVocabSql(pieces: Array[graft.operators.TextStats.UnigramPiece]): String =
    pieces
      .map(p => s"(${strLit(p.piece)}, CAST(${p.cnt_micro} AS BIGINT), " +
        s"CAST(${p.score_micro} AS BIGINT))")
      .mkString(
        "SELECT * FROM (VALUES ", ", ",
        ") AS t(piece, cnt_micro, score_micro) ORDER BY cnt_micro DESC, piece")

  /** Twin of [[graft.operators.TextStats.tokenStatsUnigram]]: a
    * DERIVED integer Viterbi over the materialized piece scores. The
    * DP value at each codepoint position encodes (best score, token
    * count) in ONE BIGINT — e = s·65536 + (65535 − t) — so "max score,
    * then min tokens" is a plain `greatest`, and the transition
    * (append piece of score m) is the linear e + m·65536 − 1. The
    * recursion advances one position per step carrying a 4-position
    * window (pieces span ≤ 4 codepoints); unknown single codepoints
    * price at the shared [[graft.operators.TextStats.UnigramUnkMicro]]
    * floor, longer pieces must exist or the candidate drops.
    */
  private def unigramStatsSql(pieces: Array[graft.operators.TextStats.UnigramPiece]): String = {
    val unk = graft.operators.TextStats.UnigramUnkMicro
    val values = pieces
      .map(p => s"(${strLit(p.piece)}, CAST(${p.score_micro} AS BIGINT))")
      .mkString(",\n    ")
    val neg = "CAST(-4611686018427387904 AS BIGINT)"
    val c1 = s"st.e1 + coalesce(p1.score_micro, CAST($unk AS BIGINT)) * 65536 - 1"
    def cl(l: Int) =
      s"CASE WHEN st.e$l IS NOT NULL AND p$l.score_micro IS NOT NULL " +
        s"THEN st.e$l + p$l.score_micro * 65536 - 1 ELSE NULL END"
    s"""WITH RECURSIVE uni_up AS (SELECT * FROM (VALUES
       |    $values) t(piece, score_micro)),
       |u_docw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
       |u_dw AS (SELECT DISTINCT w, length(w) AS n FROM u_docw WHERE length(w) > 0),
       |ust(w, n, pos, e1, e2, e3, e4) AS (
       |  SELECT w, n, 0, CAST(65535 AS BIGINT), CAST(NULL AS BIGINT),
       |    CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
       |  FROM u_dw
       |  UNION ALL
       |  SELECT st.w, st.n, st.pos + 1,
       |    greatest(
       |      coalesce($c1, $neg),
       |      coalesce(${cl(2)}, $neg),
       |      coalesce(${cl(3)}, $neg),
       |      coalesce(${cl(4)}, $neg)),
       |    st.e1, st.e2, st.e3
       |  FROM ust st
       |  LEFT JOIN uni_up p1 ON p1.piece = substr(st.w, CAST(st.pos + 1 AS INTEGER), 1)
       |  LEFT JOIN uni_up p2 ON st.pos >= 1 AND p2.piece = substr(st.w, CAST(st.pos AS INTEGER), 2)
       |  LEFT JOIN uni_up p3 ON st.pos >= 2 AND p3.piece = substr(st.w, CAST(st.pos - 1 AS INTEGER), 3)
       |  LEFT JOIN uni_up p4 ON st.pos >= 3 AND p4.piece = substr(st.w, CAST(st.pos - 2 AS INTEGER), 4)
       |  WHERE st.pos < st.n
       |),
       |u_fin AS (
       |  SELECT w,
       |    CAST(65535 - ((e1 % 65536) + 65536) % 65536 AS BIGINT) AS ntok,
       |    CAST((e1 - (((e1 % 65536) + 65536) % 65536)) // 65536 AS BIGINT) AS score
       |  FROM ust WHERE pos = n
       |),
       |u_doctok AS (
       |  SELECT d.doc_id,
       |    CAST(sum(f.ntok) AS BIGINT) AS n_tokens_uni,
       |    CAST(sum(f.score) AS BIGINT) AS score_micro
       |  FROM u_docw d JOIN u_fin f ON d.w = f.w
       |  GROUP BY d.doc_id
       |)
       |SELECT doc.doc_id,
       |  CAST(len(string_split(doc.text, ' ')) AS BIGINT) AS n_tokens_ws,
       |  coalesce(a.n_tokens_uni, 0) AS n_tokens_uni,
       |  coalesce(a.score_micro, 0) AS score_micro,
       |  round(CAST(coalesce(a.n_tokens_uni, 0) AS DOUBLE)
       |        / len(string_split(doc.text, ' ')), 6) AS uni_per_ws
       |FROM documents doc LEFT JOIN u_doctok a USING (doc_id)
       |ORDER BY doc.doc_id""".stripMargin
  }

  /** Tokenizer-selection twin: the greedy static twin plus the two
    * trained-artifact twins, each reduced to a one-row aggregate in
    * its own WITH scope.
    */
  private def tokenizerCompareSql(
      merges: Array[graft.operators.TextStats.BpeMerge],
      pieces: Array[graft.operators.TextStats.UnigramPiece]): String = {
    // placeholder substitution AFTER stripMargin: the BPE twin's `||`
    // concatenation lines would lose a pipe if they rode through an
    // outer stripMargin (the known fragment-interpolation trap)
    def leg(name: String, inner: String, tokCol: String) =
      s"""SELECT '$name' AS tokenizer,
         |  CAST(sum(n_tokens_ws) AS BIGINT) AS n_tokens_ws,
         |  CAST(sum($tokCol) AS BIGINT) AS n_tokens,
         |  round(CAST(sum($tokCol) AS DOUBLE) / sum(n_tokens_ws), 6) AS tokens_per_ws
         |FROM (__INNER__)""".stripMargin.replace("__INNER__", inner)
    Seq(
      "SELECT * FROM (",
      leg("bpe_true", bpeTrueStatsSql(merges), "n_tokens_bpe"),
      "UNION ALL",
      leg("greedy", subwordStatsSql, "n_tokens_bpe"),
      "UNION ALL",
      leg("unigram", unigramStatsSql(pieces), "n_tokens_uni"),
      ") ORDER BY tokenizer").mkString("\n")
  }

  def dynamic(spark: org.apache.spark.sql.SparkSession, dir: String): Map[String, String] =
    Map(
      "doc_subword_vocab_unigram" ->
        unigramVocabSql(Queries.unigramTrainedPieces(spark, dir)),
      "doc_token_stats_unigram" ->
        unigramStatsSql(Queries.unigramTrainedPieces(spark, dir)),
      "doc_tokenizer_compare" ->
        tokenizerCompareSql(
          Queries.bpeTrainedMerges(spark, dir),
          Queries.unigramTrainedPieces(spark, dir)),
      "doc_subword_vocab_bpe" ->
        bpeVocabSql(Queries.bpeTrainedMerges(spark, dir)),
      "doc_token_stats_bpe_true" ->
        bpeTrueStatsSql(Queries.bpeTrainedMerges(spark, dir)),
      "ann_ivf_kmeans" -> annIvfKmeansSql(Queries.kmeansCenters(spark, dir)),
      "ann_pq_trained" -> annPqTrainedSql(Queries.pqTrainedCents(spark, dir)),
      "ann_pq_rotated" -> {
        val (rot, centers) = Queries.rotatedPqMeta(spark, dir)
        annPqRotatedSql(rot, centers)
      },
      "ann_index_rotated_topk" ->
        annIndexRotatedSql(Queries.rotatedPqMeta(spark, dir)._1),
      "ann_ivfpq_residual_trained" ->
        annIvfPqResidualTrainedSql(Queries.residualTrainedBooks(spark, dir)),
      "ann_ivfpq_residual_rotated" -> {
        val (rot, _) = Queries.rotatedPqMeta(spark, dir)
        annIvfPqResidualRotatedSql(rot, Queries.residualRotatedBooks(spark, dir))
      },
      // the rotated-residual SERVING layout queries the identical
      // geometry (same rotation literal, same trained books; parquet
      // round-trips codes exactly) — shared dynamic twin
      "ann_index_residual_rotated_topk" -> {
        val (rot, _) = Queries.rotatedPqMeta(spark, dir)
        annIvfPqResidualRotatedSql(rot, Queries.residualRotatedBooks(spark, dir))
      },
      "doc_quality_model_trained" -> {
        val (w, bias) = Queries.qualityModelWeights(spark, dir)
        qualityModelTrainedSql(w, bias)
      },
      "doc_quality_model_stored" -> {
        // the artifact round-trip happened on the Spark side; the twin
        // scores with the loaded literals — batch-1-trained weights
        // applied to the full corpus
        val (w, bias) = Queries.qualityModelWeightsStored(spark, dir)
        qualityModelTrainedSql(w, bias)
      },
      "doc_quality_eval" -> {
        val (w, bias) = Queries.qualityModelWeights(spark, dir)
        qualityEvalSql(w, bias)
      },
      // health twin: ONE conditional aggregate over the eval rows —
      // the same always-one-row shape as the Spark verdict, so a
      // missing split (empty/degenerate corpus) reads as n=0 /
      // accuracy NULL / retrain_recommended TRUE on BOTH engines
      // instead of the row silently vanishing from the twin.
      // E-notated thresholds so the literals parse as DOUBLE, not
      // DECIMAL
      "doc_quality_health" -> {
        val (w, bias) = Queries.qualityModelWeights(spark, dir)
        val ev = qualityEvalSql(w, bias)
        Seq(
          "SELECT n_train, acc_train, n_test, acc_test,",
          "  round(acc_train - acc_test, 6) AS gap,",
          s"  (acc_train IS NULL OR acc_test IS NULL" +
            s" OR acc_test < ${graft.operators.TextStats.QualityAccMin * 10}E-1" +
            s" OR round(acc_train - acc_test, 6) >= ${(graft.operators.TextStats.QualityGapMax * 100).toLong}E-2)" +
            " AS retrain_recommended",
          "FROM (SELECT",
          "    CAST(coalesce(max(CASE WHEN split = 'train' THEN n_docs END), 0) AS BIGINT) AS n_train,",
          "    max(CASE WHEN split = 'train' THEN accuracy END) AS acc_train,",
          "    CAST(coalesce(max(CASE WHEN split = 'test' THEN n_docs END), 0) AS BIGINT) AS n_test,",
          "    max(CASE WHEN split = 'test' THEN accuracy END) AS acc_test",
          "  FROM (__EV__))")
          .mkString("\n").replace("__EV__", ev)
      })

  /** The doc_quality_model twin over a literal TRAINED weight table —
    * same hashed buckets, same integer milli/micro pipeline, the
    * weights as a VALUES relation (1024 integer rows, the
    * [[annIvfKmeansSql]] materialization pattern).
    */
  /** The wt→wrd→agg→lg CTE chain scoring a literal trained weight
    * table — shared by the trained/stored scoring twins and the
    * evaluation twin so they cannot disagree on a verdict.
    */
  private def qualityModelCtes(weights: Array[(Long, Long)], biasMilli: Long): String = {
    val values = weights.map { case (b, w) => s"($b, $w)" }.mkString(",\n    ")
    s"""wt AS (SELECT bucket, weight_milli FROM (VALUES
       |    $values) t(bucket, weight_milli)),
       |wrd AS (
       |  SELECT doc_id,
       |    CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) % ${graft.operators.TextStats.ModelBuckets} AS bucket
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
       |),
       |agg AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(weight_milli) AS BIGINT) AS feat_milli
       |  FROM wrd JOIN wt USING (bucket) GROUP BY doc_id
       |),
       |lg AS (
       |  SELECT doc_id, n_tokens, feat_milli,
       |    CAST(round(CAST(feat_milli AS DOUBLE) * 1000.0 / n_tokens) AS BIGINT)
       |      + ${biasMilli * 1000L} AS logit_micro
       |  FROM agg
       |)""".stripMargin
  }

  private def qualityModelTrainedSql(weights: Array[(Long, Long)], biasMilli: Long): String =
    s"""WITH ${qualityModelCtes(weights, biasMilli)}
       |SELECT doc_id, n_tokens, feat_milli, logit_micro,
       |  round(1.0 / (1.0 + exp(-(CAST(logit_micro AS DOUBLE) / 1e6))), 6) AS model_score,
       |  logit_micro >= 0 AS keep
       |FROM lg ORDER BY doc_id""".stripMargin

  /** Evaluation twin: the shared scoring chain's keep verdict joined
    * to the shared qualitySelect label and the md5 split, confusion
    * counts per split — exact integers, three rounded divisions.
    */
  private def qualityEvalSql(weights: Array[(Long, Long)], biasMilli: Long): String =
    s"""WITH ${qualityModelCtes(weights, biasMilli)},
       |q AS ($qualitySelect),
       |sp AS (
       |  SELECT doc_id,
       |    CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'valid' ELSE 'test' END AS split
       |  FROM (
       |    SELECT doc_id,
       |      CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10 AS b
       |    FROM documents
       |  )
       |),
       |j AS (
       |  SELECT sp.split, lg.logit_micro >= 0 AS keep,
       |    q.quality >= ${graft.operators.TextStats.QualityMin} AS label
       |  FROM lg JOIN q USING (doc_id) JOIN sp USING (doc_id)
       |),
       |c AS (
       |  SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(CASE WHEN keep AND label THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN keep AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN NOT keep AND label THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |    CAST(sum(CASE WHEN NOT keep AND NOT label THEN 1 ELSE 0 END) AS BIGINT) AS tn
       |  FROM j GROUP BY split
       |)
       |SELECT split, n_docs, tp, fp, fn, tn,
       |  round(CAST(tp + tn AS DOUBLE) / n_docs, 6) AS accuracy,
       |  round(CAST(tp AS DOUBLE) / greatest(tp + fp, 1), 6) AS prec,
       |  round(CAST(tp AS DOUBLE) / greatest(tp + fn, 1), 6) AS recall
       |FROM c ORDER BY split""".stripMargin

  /** The ann_ivf twin over a literal trained codebook. Center floats
    * are serialized with Float.toString (shortest decimal that
    * round-trips to the identical float, which DuckDB's DOUBLE-parse +
    * FLOAT-cast reproduces); cnorm is recomputed with the same strict
    * left fold as the Spark side's `sqrt(float_dot(ce, ce))`.
    */
  private def annIvfKmeansSql(centers: Array[(Long, Array[Float])]): String = {
    val values = centers.map { case (id, ce) =>
      ce.map(floatLit).mkString(s"($id, [", ", ", "]::FLOAT[])")
    }.mkString(",\n    ")
    val cent =
      s"""cent AS (
         |  SELECT c_id, ce,
         |    sqrt(list_sum(list_transform(ce,
         |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS cnorm
         |  FROM (VALUES
         |    $values) t(c_id, ce)
         |)""".stripMargin
    s"""WITH $vecNormCte,
       |${ivfCtes(cent)},
       |scored AS (
       |  SELECT p.q_id, a.vec_id,
       |    ${cosSql("p.qe", "a.embedding", "p.qnorm", "a.norm")} AS cos_raw
       |  FROM probes p JOIN asg a ON p.c_id = a.c_id AND p.q_id <> a.vec_id
       |),
       |rk AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
       |              ORDER BY cos_raw DESC, vec_id) AS INTEGER) AS rn
       |  FROM scored
       |)
       |SELECT q_id, rn, vec_id, round(cos_raw, 6) AS cos
       |FROM rk WHERE rn <= ${graft.operators.Ann.K} ORDER BY q_id, rn""".stripMargin
  }
}
