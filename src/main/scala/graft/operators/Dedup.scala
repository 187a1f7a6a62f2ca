package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH banded near-dup, and SimHash.
  *
  * Scale design (the whole point): near-dup NEVER does an all-pairs
  * crossJoin. Candidate generation is a self-equi-join on LSH band
  * buckets — at 100 TB the shuffle is keyed by (band, signature), bucket
  * sizes stay small for non-pathological corpora (and a pathological
  * bucket is exactly a giant duplicate cluster, which is the answer, not
  * an accident), and the verify step touches only candidate pairs.
  * Every hash is md5-derived so the DuckDB oracle reproduces results
  * bit-for-bit.
  */
object Dedup {

  /** Exact dedup: one row per document with its content-hash group.
    * `canonical` is the group's smallest doc_id (the survivor); `is_dup`
    * marks rows a dedup pass would drop.
    */
  def exact(docs: DataFrame): DataFrame = {
    val groups = docs
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("group_size"), min("doc_id").as("canonical"))
    docs
      .select(col("doc_id"), md5(col("text")).as("h"))
      .join(groups, "h")
      .select(
        col("doc_id"),
        col("h"),
        col("canonical"),
        col("group_size"),
        (col("doc_id") =!= col("canonical")).as("is_dup"))
  }

  /** The k-gram ARRAY expression over a `w` (split words) column — the
    * single construction [[ngramRows]], [[shingles]], and
    * [[rowBandSignatures]] all derive from, so tokenization/joining can
    * never drift between consumers (or from [[graft.Oracle.ngramCte]],
    * its SQL twin).
    */
  private def ngramArrayExpr(k: Int): String = {
    val gram = (0 until k).map(j => s"w[i+$j]").mkString("concat(", ", ' ', ", ")")
    s"""CASE WHEN size(w) >= $k
       |THEN transform(sequence(0, size(w) - $k), i -> $gram)
       |ELSE CAST(array() AS ARRAY<STRING>) END""".stripMargin
  }

  /** (doc_id, k-gram) rows — the ONE word-n-gram construction every
    * n-gram consumer derives from (shingles k=3, repetition bigrams
    * k=2; [[graft.Oracle.ngramCte]] is its SQL twin). Multiset: no
    * dedup here, callers decide. Short docs (<k words) contribute no
    * rows. The words array is materialized ONCE per row before the
    * lambda — splitting inside the transform would re-tokenize per
    * element (O(tokens^2) per doc).
    */
  def ngramRows(docs: DataFrame, k: Int, outCol: String): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(ngramArrayExpr(k))).as(outCol))

  /** Distinct word 3-shingles per document — deduped with a per-row
    * `array_distinct` BEFORE the explode, not a `.distinct()` after it.
    * Every shingle row carries its doc_id, so global distinct equals
    * per-document distinct, and the per-row form replaces a full
    * hash-exchange + aggregate of the engine's largest intermediate
    * (|corpus| x ~tokens rows) with free per-row work. Same
    * construction as [[rowBandSignatures]]' inline shingling, which is
    * spec-pinned equal to the aggregated form.
    *
    * The ONE shuffle kept is an explicit doc_id repartition — and it is
    * a strict improvement over the `.distinct()` it replaces, whose
    * (doc_id, shingle) hash aligned nothing: every consumer of the
    * (persisted) shingle frame keys by doc_id (minhash aggregation,
    * Jaccard-verify joins, per-doc counts, fingerprint sketch), so they
    * all reuse this partitioning instead of each re-exchanging. It also
    * sets the CACHED frame's parallelism: without it the persist
    * inherits the scan's file partitioning, and on a corpus packed into
    * few files every downstream stage reads a near-serial cache.
    *
    * The partition COUNT is pinned to spark.sql.shuffle.partitions:
    * a bare `repartition(col)` is REPARTITION_BY_COL, which AQE may
    * coalesce toward the 64 MB advisory size — correct for a frame
    * that is written out, wrong for one that is CACHED and then
    * CPU-crunched (a 17-function minhash aggregate over 2-3 coalesced
    * partitions leaves the rest of the cluster idle).
    */
  def shingles(docs: DataFrame): DataFrame = {
    val n = scala.util.Try(
      docs.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(200)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(
        col("doc_id"),
        explode(expr(s"array_distinct(${ngramArrayExpr(3)})")).as("shingle"))
      .repartition(n, col("doc_id"))
  }

  /** MinHash signatures: PERMS md5-derived hash functions; the per-doc
    * minimum of `substr(md5(perm || '|' || shingle), 1, 8)` per perm.
    * Lexicographic min over fixed-width hex == numeric min, and md5
    * keeps the oracle SQL bit-identical.
    *
    * One WIDE aggregation (16 min columns) instead of a perm-explode:
    * the shuffle carries |shingles| rows with map-side combine, not
    * 16x|shingles| — the shape that survives a 100x scale-up.
    */
  val Perms = 16
  val Bands = 4 // 4 rows per band

  def minhash(docs: DataFrame): DataFrame = minhashFromShingles(shingles(docs))

  /** Minhash over an already-materialized (doc_id, shingle) frame — lets
    * pipelines that need the shingles anyway (near-dup verify) compute
    * the explode once and feed both consumers from the same (persisted)
    * intermediate.
    *
    * The per-doc shingle count `n` rides in the SAME aggregation — the
    * Jaccard denominator would otherwise cost a second full shuffle
    * over the shingle rows for a value this groupBy already has in hand.
    */
  def minhashFromShingles(sh: DataFrame): DataFrame =
    sh
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n"),
        (0 until Perms).map(p =>
          min(substring(md5(concat(lit(s"$p|"), col("shingle"))), 1, 8)).as(s"mh$p")): _*)

  /** LSH band signatures: Perms/Bands minima per band concatenated in
    * perm order. Docs sharing any (band, sig) bucket become candidates.
    */
  def bandSignatures(docs: DataFrame): DataFrame =
    bandSignaturesFromShingles(shingles(docs))

  def bandSignaturesFromShingles(sh: DataFrame): DataFrame =
    bandStack(minhashFromShingles(sh))

  /** (doc_id, n, band, sig) — band signatures with the doc's distinct
    * shingle count riding each row. The stored signature base
    * ([[graft.sinks.Sinks.writeNearDupBase]]) persists THIS shape so a
    * batch probe gets its Jaccard denominators from the candidate rows
    * themselves: the 8-byte `n` repeated per band row buys back an
    * entire corpus-side count aggregation (plus its shuffle) per probe.
    */
  def bandSignaturesWithCounts(sh: DataFrame): DataFrame =
    bandStack(minhashFromShingles(sh), Seq("n"))

  /** Band stack over a minhash frame — a narrow projection, so callers
    * holding a persisted minhash pay no extra shuffle per read.
    * `passthrough` columns ride along unchanged (e.g. the event-time
    * column a watermarked stream needs beside each signature row).
    */
  private def bandStack(mh: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    val stack = (0 until Bands).map { b =>
      val cols = (b * Perms / Bands until (b + 1) * Perms / Bands).map(p => s"mh$p")
      s"$b, concat_ws('_', ${cols.mkString(", ")})"
    }.mkString(", ")
    mh.selectExpr(("doc_id" +: passthrough) :+ s"stack($Bands, $stack) as (band, sig)": _*)
  }

  /** [[bandSignatures]] computed with scalar HOFs only — per-row
    * shingling, per-perm `array_min`, no aggregation. Bit-identical to
    * the aggregated form (lexicographic `array_min` over fixed-width
    * hex == the groupBy `min`; spec-pinned), but usable where a
    * pre-stateful-stage aggregation is impossible: Structured Streaming
    * feeds each arriving document straight into the band-bucket state
    * ([[graft.streaming.Streaming.nearDupStream]]). Batch
    * pipelines keep the aggregated form — one shuffle of shingle rows
    * with map-side combine beats per-row 16x HOF evaluation when the
    * shingle explode is shared with the verify step anyway.
    */
  def rowBandSignatures(docs: DataFrame, passthrough: Seq[String] = Nil): DataFrame = {
    val mhCols = (0 until Perms).map(p =>
      expr(s"array_min(transform(sh, s -> substring(md5(concat('$p|', s)), 1, 8)))").as(s"mh$p"))
    val withMh = docs
      .select(col("doc_id") +: passthrough.map(col) :+ split(col("text"), " ").as("w"): _*)
      .withColumn("sh", expr(s"array_distinct(${ngramArrayExpr(3)})"))
      .filter(size(col("sh")) > 0) // shingle-less docs have no signature rows in the aggregated form either
      .select(col("doc_id") +: passthrough.map(col) :++ mhCols: _*)
    bandStack(withMh, passthrough)
  }

  /** Near-dup candidate pairs via LSH bucket self-join, verified with
    * exact shingle-set Jaccard. Output is every candidate pair with its
    * true similarity — thresholding is the caller's policy decision.
    *
    * The shingle explode is persisted via CacheScope: scoped to the
    * operator invocation, so a multi-query harness can release it
    * between queries instead of letting 60+ queries' intermediates pile
    * up in storage memory. Pipelines running several shingle consumers
    * in one job (dedup + decontamination + clustering — [[graft
    * .operators.Corpus.docPipeline]]) call [[nearDupPairsFromShingles]]
    * with their own persisted frame so the corpus-wide explode is paid
    * ONCE for the whole pipeline, not once per operator.
    */
  def nearDupPairs(docs: DataFrame): DataFrame =
    nearDupPairsFromShingles(CacheScope.persist(shingles(docs)))

  /** [[nearDupPairs]] over an already-persisted (doc_id, shingle)
    * frame — the shared-explode entry point.
    */
  def nearDupPairsFromShingles(sh: DataFrame): DataFrame =
    nearDupPairsFromShingles(sh, BandCap.DefaultCap)

  /** [[nearDupPairsFromShingles]] with an explicit band-bucket cap —
    * see [[BandCap.capBuckets]] for the mega-bucket rationale; the
    * default keeps every honest bucket intact.
    */
  def nearDupPairsFromShingles(sh: DataFrame, cap: Int): DataFrame = {
    // Persist the self-joined intermediate: without it the whole
    // 16-perm minhash pipeline runs once per join side (and the shingle
    // explode three times). At warehouse scale these would be bucketed
    // intermediate tables; persist is the single-job equivalent.
    // the minhash aggregate reads the PERSISTED shingles — the explode
    // runs once — and is itself persisted: the band stack (narrow) reads
    // it twice for the self-join, and the Jaccard denominators are its
    // free `n` column instead of a second shuffle over the shingle rows
    val mh = CacheScope.persist(minhashFromShingles(sh))
    // band-bucket cap BEFORE the self-join: a boilerplate mega-bucket
    // contributes O(cap²) candidate pairs instead of O(n²); on an
    // honest corpus capBuckets' plan-time census hands back the
    // original narrow band stack (self-join sides pipeline off the
    // persisted minhash), and when skew exists the sampling join reads
    // the PERSISTED census — probe and join share one aggregation
    val sigs = BandCap.capBuckets(bandStack(mh), Seq("band", "sig"), "doc_id", cap)
    val pairs = sigs.as("a")
      .join(sigs.as("b"), expr("a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

    val counts = mh.select(col("doc_id"), col("n"))
    val common = pairs
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"), col("doc_b") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_common"))

    // The verified pair set is tiny (it IS the duplicate list) and
    // every consumer — thresholding, clustering ([[Corpus
    // .dedupClusters]] scans it once per propagation round) — rereads
    // it; persist so the 5-join verify pipeline runs once per input.
    CacheScope.persist(pairs
      .join(common, Seq("doc_a", "doc_b"), "left")
      .join(counts.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a"), "doc_a")
      .join(counts.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b"), "doc_b")
      .select(
        col("doc_a"),
        col("doc_b"),
        col("n_a"),
        col("n_b"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(
          coalesce(col("n_common"), lit(0L)).cast("double") /
            (col("n_a") + col("n_b") - coalesce(col("n_common"), lit(0L))),
          6).as("jaccard")))
  }

  /** CROSS-CORPUS near-dup: an arriving batch against a stored
    * corpus — the near-dup face of incremental dedup (the exact-fp
    * base catches verbatim recrawls; this catches the re-rendered
    * page, the boilerplate variant, the near-copy that md5 misses).
    * Same banded candidate discipline as [[nearDupPairsFromShingles]]
    * with the self-join replaced by the batch×corpus band equi-join:
    * candidate volume is still collisions-only, and the batch side is
    * small by construction, so at 100 TB the corpus side shuffles its
    * signatures once while the batch's signature set broadcasts or
    * co-partitions — never corpus×corpus.
    *
    * SMALL-CORPUS / ONE-SHOT FORM, by contract. Each call re-pays the
    * corpus side in full — shingle explode, 16-perm minhash, and the
    * band-cap census (the frozen-decision probe, [[BandCap
    * .capBuckets]]) — costs that are irreducible when the corpus
    * arrives as a transient DataFrame: a one-shot comparison has no
    * prior signatures to reuse, and routing through a temp-written
    * base would pay the same census PLUS the table writes. Any
    * corpus probed more than once belongs on the PRODUCTION path:
    * [[graft.sinks.Sinks.writeNearDupBase]] once, then
    * [[nearDupAgainstStored]] per batch — measured corpus-FLAT
    * (SCALE_r15 `nd_stored`: 6.7 s → 7.0 s from a 100k to a 400k
    * corpus, while this form grows 8.0 s → 18.1 s).
    */
  def incrementalNearDup(batch: DataFrame, corpus: DataFrame): DataFrame =
    nearDupPairsAgainst(
      CacheScope.persist(shingles(batch)), CacheScope.persist(shingles(corpus)))

  /** [[incrementalNearDup]] over already-persisted shingle frames —
    * the shared-explode entry point.
    */
  def nearDupPairsAgainst(batchSh: DataFrame, corpusSh: DataFrame): DataFrame = {
    val mhB = CacheScope.persist(minhashFromShingles(batchSh))
    val mhC = CacheScope.persist(minhashFromShingles(corpusSh))
    // each side capped independently: the cross-bucket blowup is
    // |batch bucket| × |corpus bucket|, bounded here at cap²
    val sigsB = BandCap.capBuckets(bandStack(mhB), Seq("band", "sig"), "doc_id")
    val sigsC = BandCap.capBuckets(bandStack(mhC), Seq("band", "sig"), "doc_id")
    val pairs = sigsB.as("a")
      .join(sigsC.as("b"), expr("a.band = b.band AND a.sig = b.sig"))
      .select(col("a.doc_id").as("doc_batch"), col("b.doc_id").as("doc_corpus"))
      .distinct()
    val common = pairs
      .join(batchSh.as("sa"), col("doc_batch") === col("sa.doc_id"))
      .join(
        corpusSh.as("sb"),
        col("doc_corpus") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy("doc_batch", "doc_corpus")
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(common, Seq("doc_batch", "doc_corpus"), "left")
      .join(
        mhB.select(col("doc_id").as("doc_batch"), col("n").as("n_batch")), "doc_batch")
      .join(
        mhC.select(col("doc_id").as("doc_corpus"), col("n").as("n_corpus")), "doc_corpus")
      .select(
        col("doc_batch"),
        col("doc_corpus"),
        col("n_batch"),
        col("n_corpus"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(
          coalesce(col("n_common"), lit(0L)).cast("double") /
            (col("n_batch") + col("n_corpus") - coalesce(col("n_common"), lit(0L))),
          6).as("jaccard"))
  }

  /** [[incrementalNearDup]] against a PERSISTED signature base — the
    * production shape, mirroring [[incrementalDedupStored]] on the
    * near-dup tier: the corpus side comes from
    * [[graft.sinks.Sinks.writeNearDupBase]]'s tables (capped band
    * signatures with per-doc counts, plus the shingle store), so a
    * daily ingest batch pays ZERO corpus-side minhash compute, ZERO
    * corpus-side shuffle, and ZERO corpus census per probe — all three
    * were paid once at write time. The in-memory
    * [[nearDupPairsAgainst]] re-shingles, re-minhashes, and
    * re-censuses the whole corpus every invocation; at 100 TB that is
    * the difference between a probe that reads a 1%-of-corpus
    * signature table and one that recomputes 16 md5 minima per corpus
    * document per batch.
    *
    * Probe shape: the batch's capped signatures broadcast into the
    * band equi-join against the bucketed signature scan (no corpus
    * exchange; the (band, sig) bucketing additionally satisfies the
    * join distribution if a giant batch ever demotes the broadcast);
    * the verify join reads the doc_id-bucketed shingle store the same
    * way. Remaining linear cost per probe is the COLUMNAR SCAN of the
    * two stored tables — the signature table is ~1% of corpus bytes;
    * the shingle scan is the price of exact Jaccard verify (a serving
    * layer with keyed point reads would replace it; Spark's scan+
    * broadcast-semi is the plan shape that needs no such engine).
    *
    * Cap semantics: the BASE is capped by its write/compaction-time
    * census (`kept` flag); delta segments appended since ride uncapped
    * (they are batch-sized — the cross-bucket blowup stays ≤
    * |batch bucket| × |segment|); the arriving batch caps over its own
    * census, exactly as [[nearDupPairsAgainst]] does. Output schema is
    * identical to [[nearDupPairsAgainst]].
    */
  def nearDupAgainstStored(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      batch: DataFrame,
      cap: Int = BandCap.DefaultCap): DataFrame = {
    val batchSh = CacheScope.persist(shingles(batch))
    val mhB = CacheScope.persist(minhashFromShingles(batchSh))
    val sigsB = BandCap.capBuckets(bandStack(mhB, Seq("n")), Seq("band", "sig"), "doc_id", cap)
    val sigsC = graft.sinks.Sinks.readNearDupSigs(spark, table)
    // n rides the signature rows on BOTH sides, so the pair set leaves
    // this join carrying its own Jaccard denominators — no count
    // aggregation, no join back to corpus state
    // persist the (tiny) candidate list: it feeds the verify join AND
    // the final projection — unpersisted, the whole candidate join
    // (with its corpus signature scan) would execute once per consumer
    val pairs = CacheScope.persist(sigsB.as("a")
      .join(sigsC.as("b"), expr("a.band = b.band AND a.sig = b.sig"))
      .select(
        col("a.doc_id").as("doc_batch"),
        col("b.doc_id").as("doc_corpus"),
        col("a.n").as("n_batch"),
        col("b.n").as("n_corpus"))
      .distinct())
    val corpusSh = graft.sinks.Sinks.readNearDupShingles(spark, table)
    val common = pairs
      .join(batchSh.as("sa"), col("doc_batch") === col("sa.doc_id"))
      .join(
        corpusSh.as("sb"),
        col("doc_corpus") === col("sb.doc_id") && col("sa.shingle") === col("sb.shingle"))
      .groupBy("doc_batch", "doc_corpus")
      .agg(count(lit(1)).as("n_common"))
    pairs
      .join(common, Seq("doc_batch", "doc_corpus"), "left")
      .select(
        col("doc_batch"),
        col("doc_corpus"),
        col("n_batch"),
        col("n_corpus"),
        coalesce(col("n_common"), lit(0L)).as("n_common"),
        round(
          coalesce(col("n_common"), lit(0L)).cast("double") /
            (col("n_batch") + col("n_corpus") - coalesce(col("n_common"), lit(0L))),
          6).as("jaccard"))
  }

  /** 64-bit SimHash over the document's word multiset: each word votes
    * its md5-derived 64-bit pattern weighted by its count; bit b of the
    * fingerprint is 1 iff the summed vote is positive (tie -> 0).
    *
    * Same wide-aggregation shape as [[minhash]]: 64 vote sums in one
    * pass instead of a 64x bit-explode — the shuffle carries one row per
    * (doc, word), combined map-side.
    *
    * The fingerprint ships as two 32-bit halves (`sim_hi` = md5 chars
    * 9-16, `sim_lo` = chars 1-8): a single 64-bit value with the sign
    * bit in play would overflow DuckDB's checked BIGINT arithmetic in
    * the oracle twin, and the halves band/XOR just as cheaply.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val votes =
      (0 until 32).map(b =>
        sum(col("cnt") * (expr(s"shiftright(whl, $b) & 1") * 2 - 1)).as(s"vl$b")) ++
        (0 until 32).map(b =>
          sum(col("cnt") * (expr(s"shiftright(whh, $b) & 1") * 2 - 1)).as(s"vh$b"))
    def fingerprint(prefix: String) = (0 until 32)
      .map(b => when(col(s"$prefix$b") > 0, lit(1L << b)).otherwise(0L))
      .reduce(_ + _)
    docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("whl", expr("CAST(conv(substr(md5(word), 1, 8), 16, 10) AS BIGINT)"))
      .withColumn("whh", expr("CAST(conv(substr(md5(word), 9, 8), 16, 10) AS BIGINT)"))
      .groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), fingerprint("vh").as("sim_hi"), fingerprint("vl").as("sim_lo"))
  }

  /** Pairs at or under this Hamming distance (of 64 bits) are SimHash
    * near-dups — the 6-of-32 threshold scaled to the wider fingerprint.
    */
  val SimhashHammingMax = 12

  /** SimHash near-dup candidates: docs agreeing on any of the four
    * 16-bit bands join into a bucket (same no-all-pairs shape as MinHash
    * LSH); pairs at Hamming distance <= [[SimhashHammingMax]] are
    * near-dups.
    *
    * Band width is the scale lever: 16-bit keys give 65,536 buckets per
    * band, so the per-band keyspace keeps growing past any realistic
    * bucket skew (8-bit keys cap at 256 buckets TOTAL per band — the
    * within-bucket self-join would go quadratic in corpus size; a spec
    * pins the cardinality so that shape cannot return).
    */
  def simhashPairs(docs: DataFrame): DataFrame = {
    val banded = BandCap.capBuckets(
      simhashBanded(CacheScope.persist(simhash(docs))), Seq("band", "key"), "doc_id")
    banded.as("a")
      .join(banded.as("b"), expr("a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        (expr("bit_count(a.sim_lo ^ b.sim_lo)") + expr("bit_count(a.sim_hi ^ b.sim_hi)"))
          .as("hamming"))
      // hamming is a pure function of the pair, so filtering BEFORE the
      // dedup shuffle is equivalent — and ships only the near-dup pairs
      .filter(col("hamming") <= SimhashHammingMax)
      .distinct()
  }

  /** (doc_id, band, key) bucket rows: four 16-bit slices of the 64-bit
    * fingerprint (bands 0-1 from `sim_lo`, 2-3 from `sim_hi`).
    */
  def simhashBanded(sim: DataFrame): DataFrame =
    sim.select(
      col("doc_id"),
      col("sim_hi"),
      col("sim_lo"),
      explode(expr("sequence(0, 3)")).as("band"))
      .withColumn("key", expr(
        """CASE WHEN band < 2 THEN shiftright(sim_lo, band * 16) & 65535
          |ELSE shiftright(sim_hi, (band - 2) * 16) & 65535 END""".stripMargin))

  /** Containment flag threshold for [[containmentPairs]]. */
  val ContainmentMin = 0.9

  /** Containment similarity over the SAME LSH candidate pairs as
    * [[nearDupPairs]]: |A∩B| / |A| and |A∩B| / |B| alongside Jaccard.
    * Jaccard-threshold dedup misses subset/superset duplication — a
    * short doc pasted whole into a much longer one has Jaccard
    * n_common / (n_a + n_b - n_common) ≈ n_a/n_b (small) but
    * containment_a ≈ 1. `subset_only_dup` marks exactly those pairs:
    * containment evidence ([[ContainmentMin]]) without Jaccard
    * evidence ([[Corpus.ClusterJaccard]]).
    *
    * Scale shape: everything rides the banded candidate join — the
    * containment ratios are two extra projections over the integer
    * counts the near-dup verify already computed; no new shuffle.
    */
  def containmentPairs(docs: DataFrame): DataFrame = {
    val ca = round(col("n_common").cast("double") / col("n_a"), 6)
    val cb = round(col("n_common").cast("double") / col("n_b"), 6)
    nearDupPairs(docs).select(
      col("doc_a"),
      col("doc_b"),
      col("n_a"),
      col("n_b"),
      col("n_common"),
      col("jaccard"),
      ca.as("containment_a"),
      cb.as("containment_b"),
      (greatest(ca, cb) >= ContainmentMin &&
        col("jaccard") < graft.operators.Corpus.ClusterJaccard).as("subset_only_dup"))
  }

  /** Incremental (cross-snapshot) exact dedup: a new crawl batch
    * arrives against an already-deduped base corpus, and each delta
    * document is flagged as a duplicate OF THE BASE, a duplicate of an
    * earlier document WITHIN the delta, or genuinely new — the verdict
    * an append-only ingest needs (re-running global dedup over base +
    * delta re-shuffles the whole corpus per batch).
    *
    * The base/delta split here is a deterministic md5 coin flip on
    * doc_id so the oracle can replay it; production passes its own two
    * frames through [[incrementalDedupAgainst]]. Scale shape: both
    * probes are fp-keyed — a semi-style left join against the base's
    * distinct fingerprints and a min-aggregate within the delta (map-
    * side combine), never base×delta pairs. A base persisted bucketed
    * by fp (Sinks.writeBucketed) makes the base side shuffle-free per
    * batch.
    */
  def incrementalDedup(docs: DataFrame): DataFrame = {
    val tagged = docs.select(
      col("doc_id"),
      md5(col("text")).as("fp"),
      expr("CAST(conv(substr(md5(concat('inc', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2")
        .as("b"))
    incrementalDedupAgainst(
      tagged.filter(col("b") === 0).select("doc_id", "fp"),
      tagged.filter(col("b") === 1).select("doc_id", "fp"))
  }

  /** [[incrementalDedupAgainst]] against a PERSISTED base — the
    * production shape: `table` was written by
    * [[graft.sinks.Sinks.writeDedupBase]] (bucketed by fp), so the
    * base-side distinct and the probe join consume the bucketing
    * in-place and only the delta batch shuffles (PlanSpec pins the
    * bucketed read and the exchange count).
    *
    * Segment-aware: fingerprints appended since the last compaction
    * ([[graft.sinks.Sinks.appendDedupDelta]]) count as base content
    * too — probed by a BROADCAST join layered over the bucketed
    * verdict, so the exchange-free base probe is untouched and the
    * segment cost is one kilobyte-to-megabyte broadcast (segments are
    * batch-sized until compaction folds them; unioning them into the
    * base side instead would discard the bucketing and shuffle the
    * corpus per batch). Crash states of an interrupted
    * [[graft.sinks.Sinks.compactDedupBase]] read correctly without
    * mutating ([[graft.sinks.Sinks.dedupBaseState]]).
    */
  def incrementalDedupStored(
      spark: org.apache.spark.sql.SparkSession,
      table: String,
      deltaDocs: DataFrame): DataFrame = {
    val (baseTable, _) = graft.sinks.Sinks.dedupBaseState(spark, table)
    val batch = deltaDocs.select(col("doc_id"), md5(col("text")).as("fp"))
    val verdict = incrementalDedupAgainst(spark.table(baseTable), batch)
    graft.sinks.Sinks.dedupSegmentFps(spark, table) match {
      case None => verdict
      case Some(segFps) =>
        verdict
          .join(broadcast(segFps), Seq("fp"), "left")
          .select(
            col("doc_id"),
            col("fp"),
            (col("dup_of_base") || coalesce(col("in_seg"), lit(false))).as("dup_of_base"),
            col("dup_in_delta"),
            (col("is_new") && !coalesce(col("in_seg"), lit(false))).as("is_new"))
    }
  }

  /** Word-gram width for [[substringDedup]]: spans of [[SubstrGramN]]
    * consecutive words that appear verbatim in more than one document
    * count as cross-document duplicated text. (Production exact-
    * substring dedup uses 50-token windows — Lee et al.'s suffix-array
    * formulation; 3 fits this corpus's ~30-word vocabulary while
    * exercising the identical span algebra.)
    */
  val SubstrGramN = 3

  /** Default minimum merged-span length (in words) for
    * [[substringDedup]]: only islands at least this long count as
    * duplicated text. Lee et al. key exact substring dedup on ~50-token
    * spans precisely because short spans saturate on idiom-frequency
    * n-grams ("of the and" is cross-doc everywhere at web scale) —
    * the cost stays linear either way, but without a span floor the
    * SIGNAL degrades until every doc reports dup spans. 8 is the
    * proportional floor for this corpus's gram width.
    */
  val SubstrMinSpanWords = 8

  /** Production-scale gram width + span floor for the `_wide` row:
    * Lee-et-al exact-substring dedup keys on ~50-token minimum matches
    * found via wide windows; 20-word grams with a 50-word island floor
    * exercise the identical span algebra at realistic width (the
    * synthetic corpus's planted near-dup docs share verbatim spans
    * long enough to survive both).
    */
  val SubstrGramNWide = 20
  val SubstrMinSpanWordsWide = 50

  /** The merged, floored duplicated spans per doc — the shared core of
    * [[substringDedup]] (the report) and [[substringScrub]] (the
    * removal): (doc_id, ss, ee) with ss inclusive, ee exclusive, spans
    * disjoint per doc by construction of the island merge.
    */
  def substringSpans(
      docs: DataFrame,
      minSpanWords: Int = SubstrMinSpanWords,
      gramN: Int = SubstrGramN): DataFrame = {
    val w = docs.select(col("doc_id"), split(col("text"), " ").as("w"))
    // Per-position gram keys WITHOUT materializing gram text (round-19
    // reshape): each word is xxhash64'd ONCE per document, and the
    // gram key is xxhash64 over the length-N slice of that hash array
    // — where the previous form concat_ws'd ~N words into a fresh
    // string per position and hashed its bytes, re-touching every
    // word's characters N times (20x at production width). Equal grams
    // still map to equal keys (equal word slices ⇔ equal grams — words
    // are space-split so the space-join is injective); UNequal grams
    // colliding on the 64-bit key was already possible in the string
    // form and is exactly what the level-2 exact confirm below
    // removes, so the final spans are bit-identical (the driver-side
    // reference pin in DedupSpec holds unchanged).
    def positions = w
      .filter(size(col("w")) >= gramN)
      .withColumn("wh", expr("transform(w, x -> xxhash64(x))"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(wh) - $gramN), " +
          s"i -> struct(CAST(i AS BIGINT) AS pos, xxhash64(slice(wh, i + 1, $gramN)) AS gh))")).as("g"))
    // Level 1: candidate duplicated grams, keyed on the 64-bit hash.
    // This is the one corpus-sized shuffle in the operator — (gh,
    // doc_id) per position — and it ships no gram text (and now never
    // even BUILDS it: level-1 rows are three longs). "Appears in >1
    // distinct doc" is computed as min(doc_id) != max(doc_id):
    // identical truth value to countDistinct > 1, but min/max are
    // plain partial aggregates where countDistinct needs a map-side
    // dedup pass.
    val candHashes = positions
      .select(col("g.gh").as("gh"), col("doc_id"))
      .groupBy("gh")
      .agg(min("doc_id").as("mn"), max("doc_id").as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select("gh")
    // Candidate positions: the duplicated subset, small relative to
    // the corpus by construction — the only rows whose gram CONTENT
    // (the word slice) travels past the semi join. The second pass
    // re-derives positions rather than caching them (the positions
    // frame is token-sized, far too large to persist at corpus scale)
    // and emits the word slice per position pre-join — the semi join
    // is a broadcast of the tiny candidate-hash set, so non-candidate
    // slices die in the same stage that builds them.
    val cand = w
      .filter(size(col("w")) >= gramN)
      .withColumn("wh", expr("transform(w, x -> xxhash64(x))"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(wh) - $gramN), " +
          s"i -> struct(CAST(i AS BIGINT) AS pos, xxhash64(slice(wh, i + 1, $gramN)) AS gh, " +
          s"slice(w, i + 1, $gramN) AS gw))")).as("g"))
      .select(col("doc_id"), col("g.pos").as("pos"), col("g.gh").as("gh"), col("g.gw").as("gw"))
      .join(candHashes, Seq("gh"), "left_semi")
    // Level 2: exact gram confirmation over survivors only, as a
    // single (gh, gram-words)-keyed window — a candidate gram whose
    // rows all sit in one doc can only have passed level 1 via a
    // 64-bit collision with a DIFFERENT gram sharing its hash, and
    // such rows drop here. The confirm key is the word slice itself,
    // equality-equivalent to the joined gram string. One shuffle of
    // the candidate subset, no self-join, no persist; spans stay
    // bit-identical to the string-keyed single-level formulation
    // (spec-pinned against a driver-side reference).
    val candW = Window.partitionBy("gh", "gw")
    val docW = Window.partitionBy("doc_id").orderBy("s")
    cand
      .withColumn("cmn", min("doc_id").over(candW))
      .withColumn("cmx", max("doc_id").over(candW))
      .filter(col("cmn") =!= col("cmx"))
      .select(col("doc_id"), col("pos").as("s"), (col("pos") + gramN).as("e"))
      .withColumn("pme", max("e").over(docW.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk", when(col("pme").isNull || col("s") > col("pme"), 1L).otherwise(0L))
      .withColumn("grp", sum("brk").over(docW.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "grp")
      .agg(min("s").as("ss"), max("e").as("ee"))
      .filter(col("ee") - col("ss") >= minSpanWords)
      .select("doc_id", "ss", "ee")
  }

  /** Cross-document duplicated-span report — the aggregate-level
    * equivalent of exact substring deduplication: every positional
    * [[SubstrGramN]]-word gram that occurs in >1 distinct document
    * marks its span duplicated; overlapping/touching spans merge;
    * merged islands shorter than `minSpanWords` are discarded (the
    * Lee-et-al minimum-match length — see [[SubstrMinSpanWords]]); the
    * report is per-doc span count, duplicated word count, and what
    * survives. (A remove step is `slice` over the kept ranges; the
    * expensive, scale-critical part — finding and merging the spans —
    * is all here.)
    *
    * Scale shape: positional grams are a per-row explode (no shuffle);
    * duplicated-gram detection is TWO-LEVEL so the engine's dominant
    * shuffle never carries gram text: level 1 aggregates distinct-doc
    * counts keyed on `xxhash64(gram)` — 8 bytes per key instead of the
    * ~20-30-byte gram string — and semi-joins positions on that hash;
    * level 2 re-confirms on the actual string over the SURVIVING
    * candidate subset only, so a 64-bit hash collision between
    * same-doc-count-1 grams can never fabricate a duplicated span
    * (bit-identical to the single-level string-keyed form, spec-pinned).
    * Marking is the level-1 semi join back on the hash. Span merging
    * is the classic
    * running-max island scan — two doc-keyed windows over DUPLICATED
    * positions only (not all positions), bounded by doc length, fully
    * parallel across docs; the span floor is a post-merge filter on
    * the island row, adding nothing to any shuffle. No pairwise doc
    * comparison anywhere: cost is linear in total grams + duplicated
    * grams, never docs².
    */
  def substringDedup(
      docs: DataFrame,
      minSpanWords: Int = SubstrMinSpanWords,
      gramN: Int = SubstrGramN): DataFrame = {
    val nWords = docs.select(
      col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_words"))
    val perDoc = substringSpans(docs, minSpanWords, gramN)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"), sum(col("ee") - col("ss")).as("dup_words"))
    nWords
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_words"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"),
        (col("n_words") - coalesce(col("dup_words"), lit(0L))).as("kept_words"))
  }

  /** The REMOVAL step [[substringDedup]] only reports: rebuild each
    * document with its duplicated spans sliced out. Kept positions are
    * computed per row with HOFs over the doc's own (tiny, usually
    * empty) span array — no positional explode, no extra shuffle
    * beyond collecting each doc's spans; cost is words × spans per
    * doc, linear in the corpus. Docs whose every word is duplicated
    * scrub to the empty string (they are exact-dedup's kill, not
    * scrub's).
    */
  def substringScrub(
      docs: DataFrame,
      minSpanWords: Int = SubstrMinSpanWords,
      gramN: Int = SubstrGramN): DataFrame = {
    val spans = substringSpans(docs, minSpanWords, gramN)
      .groupBy("doc_id")
      .agg(expr("array_sort(collect_list(struct(ss, ee)))").as("spans"))
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("sp",
        coalesce(col("spans"), expr("CAST(array() AS ARRAY<STRUCT<ss: BIGINT, ee: BIGINT>>)")))
      // Codegen note: transform/filter/exists lambdas evaluate
      // INTERPRETED (Spark has no codegen for higher-order functions),
      // unlike the unrolled expressions used on hot numeric paths
      // (e.g. graft.operators.Ann's dot-product unrolling). Acceptable
      // here by measurement, not oversight: `sp` is empty for the vast
      // majority of docs (only docs with >= minSpanWords duplicated
      // islands carry spans), so the exists() scan is O(words x ~0);
      // the ScaleBench substring probe stays linear through 400k docs.
      // If span density ever grows (tiny minSpanWords), revisit with a
      // sorted-span two-pointer rewrite before unrolling.
      .withColumn("kept", expr(
        """transform(
          |  filter(
          |    transform(w, (x, i) -> struct(x AS x, CAST(i AS BIGINT) AS i)),
          |    p -> NOT exists(sp, s -> p.i >= s.ss AND p.i < s.ee)),
          |  p -> p.x)""".stripMargin))
      .select(
        col("doc_id"),
        size(col("w")).cast("long").as("n_words"),
        size(col("kept")).cast("long").as("kept_words"),
        concat_ws(" ", col("kept")).as("scrubbed"))
  }

  /** The general form of [[incrementalDedup]]: `base` and `delta` are
    * (doc_id, fp) frames; returns one row per delta doc with its
    * dup-of-base / dup-in-delta / is_new verdict.
    */
  def incrementalDedupAgainst(base: DataFrame, delta: DataFrame): DataFrame = {
    val baseFps = base.select("fp").distinct().withColumn("in_base", lit(true))
    val firstDelta = delta.groupBy("fp").agg(min("doc_id").as("first_delta"))
    delta
      .join(baseFps, Seq("fp"), "left")
      .join(firstDelta, "fp")
      .select(
        col("doc_id"),
        col("fp"),
        coalesce(col("in_base"), lit(false)).as("dup_of_base"),
        (col("doc_id") > col("first_delta")).as("dup_in_delta"),
        (coalesce(col("in_base"), lit(false)) === false &&
          col("doc_id") === col("first_delta")).as("is_new"))
  }
}
