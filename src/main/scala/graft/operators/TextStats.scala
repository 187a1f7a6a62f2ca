package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token statistics,
  * marker-based language ID, quality scoring, and content
  * fingerprinting. Everything is built-in-expression arithmetic (no
  * UDFs) chosen so every operator has a bit-identical DuckDB twin:
  * whitespace splits, regex token counts, occurrence counting via
  * list filters, md5 fingerprints.
  */
object TextStats {

  private val words = split(col("text"), " ")

  /** Per-document token statistics: whitespace tokens, distinct types,
    * BPE-ish regex tokens (letter runs / digit runs / single symbols),
    * mean token length, type-token ratio.
    */
  def tokenStats(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), words.as("w")).select(
      col("doc_id"),
      size(col("w")).as("n_tokens"),
      size(array_distinct(col("w"))).as("n_types"),
      size(expr("""regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]', 0)""")).as("n_subtokens"),
      round(length(regexp_replace(col("text"), " ", "")).cast("double") / size(col("w")), 6).as("avg_token_len"),
      round(size(array_distinct(col("w"))).cast("double") / size(col("w")), 6).as("ttr"))

  /** Marker words per language for the n-gram-heuristic language ID.
    * Tiny by design: the operator shape (score -> argmax) is what
    * matters; swap in real frequency tables for production corpora.
    */
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "und", "ist", "das"),
    "es" -> Seq("el", "los", "de", "y", "es"),
    "fr" -> Seq("le", "la", "et", "les", "des"))

  /** Per-doc occurrence counts of a marker vocabulary, as one
    * words-explode + BROADCAST marker join + doc-keyed pivot — the
    * [[Corpus.unigramLogProb]] shape. A per-row HOF `filter(w, x -> x =
    * marker)` per marker evaluates interpreted lambdas outside
    * whole-stage codegen, and its cost multiplies by the marker count —
    * 20 lambdas/row at this toy table, hundreds at a production
    * frequency table. Here the text tokenizes once, the join is a
    * broadcast hash probe per word, and the aggregate combines
    * map-side, so the marker-table size costs nothing per row.
    *
    * Returns one row per doc that contains >= 1 marker: (doc_id,
    * cnt_<group> for each marker group). Docs with no markers are
    * absent — callers left-join and coalesce to 0.
    */
  private def markerCounts(docs: DataFrame, groups: Seq[(String, Seq[String])]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val markers = groups.flatMap { case (g, ws) => ws.map(w => (w, g)) }.toDF("word", "mgroup")
    val aggs = groups.map { case (g, _) =>
      sum(when(col("mgroup") === g, 1).otherwise(0)).cast("int").as(s"cnt_$g")
    }
    docs.select(col("doc_id"), explode(words).as("word"))
      .join(broadcast(markers), "word")
      .groupBy("doc_id")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Language ID: per-language marker-occurrence scores and the argmax
    * (ties resolve in Markers order; all-zero -> "und" = undetermined).
    */
  def langId(docs: DataFrame): DataFrame = {
    val langs = Markers.map(_._1)
    val counts = markerCounts(docs, Markers)
    val scored = docs.select(col("doc_id"), col("lang"))
      .join(counts, Seq("doc_id"), "left")
      .select(
        Seq(col("doc_id"), col("lang")) ++
          langs.map(l => coalesce(col(s"cnt_$l"), lit(0)).as(s"score_$l")): _*)
    val predicted = langs.zipWithIndex.foldRight(lit("und")) { case ((lang, i), acc) =>
      val beatsLater = langs.drop(i + 1).map(o => col(s"score_$lang") >= col(s"score_$o"))
      val cond = (col(s"score_$lang") > 0) && beatsLater.foldLeft(lit(true))(_ && _)
      when(cond, lang).otherwise(acc)
    }
    scored
      .withColumn("predicted", predicted)
      .select(
        Seq(col("doc_id"), col("lang")) ++ langs.map(l => col(s"score_$l")) :+
          col("predicted") :+ (col("predicted") === col("lang")).as("agrees"): _*)
  }

  // -------------------------------------------------- subword tokenizer
  /** Substring lengths a subword may span and the trained vocab size.
    * Single characters are the implicit fallback alphabet (any char
    * not opening a vocab match is its own token), so tokenization
    * never fails on OOV text.
    */
  val SubwordMinLen = 2
  val SubwordMaxLen = 6
  val SubwordVocabK = 200

  /** TRAIN a subword vocabulary: the top-[[SubwordVocabK]] most
    * frequent word substrings of length [[SubwordMinLen]]..
    * [[SubwordMaxLen]], frequency = occurrences across all word
    * positions weighted by word count — the "top-k frequent
    * substrings" flavor of subword training (one pass, deterministic;
    * iterative BPE merges converge to a similar vocab but need a
    * training loop). Ties break on the substring itself, so the vocab
    * is a pure function of the corpus.
    *
    * Scale shape: the substring explode is bounded by
    * [[SubwordMaxLen]] positions per character (linear in corpus
    * bytes); frequencies combine map-side into a words-distinct-sized
    * table; the top-k is a TakeOrdered (distributed heap), never a
    * global sort of the frequency table.
    */
  def subwordVocab(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wordFreq = docs
      .select(explode(words).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("wcnt"))
    wordFreq
      .select(col("wcnt"), explode(expr(
        s"""flatten(transform(sequence($SubwordMinLen, $SubwordMaxLen), l ->
           |  CASE WHEN length(word) >= l
           |    THEN transform(sequence(0, length(word) - l), p -> substring(word, p + 1, l))
           |    ELSE array() END))""".stripMargin)).as("subword"))
      .groupBy("subword").agg(sum("wcnt").as("freq"))
      .orderBy(col("freq").desc, col("subword"))
      .limit(SubwordVocabK)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("freq").desc, col("subword"))))
      .select("rank", "subword", "freq")
  }

  /** Persist a trained vocab as a reusable ARTIFACT — the train/apply
    * split a production tokenizer needs (train once on a reference
    * corpus, tokenize every subsequent corpus and stream batch with
    * the SAME vocab, or token budgets stop being comparable across
    * batches). The artifact is the (rank, subword, freq) frame as one
    * parquet file — kilobytes by construction ([[SubwordVocabK]]
    * rows), the [[graft.sinks.Sinks.writeAnnIndex]] codebook pattern
    * on the text side.
    */
  def saveSubwordVocab(vocab: DataFrame, path: String): Unit =
    vocab.coalesce(1).write.mode("overwrite").parquet(path)

  /** Load a vocab artifact written by [[saveSubwordVocab]]. */
  def loadSubwordVocab(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** A vocab frame (trained in-session or loaded from an artifact) as
    * per-length hash sets — collected index metadata (K strings,
    * kilobytes; the [[Ann]] codebook pattern) the tokenizer kernel
    * closes over.
    */
  private[graft] def vocabByLenFrom(vocab: DataFrame): Array[Set[String]] = {
    val entries = vocab.select("subword").collect().map(_.getString(0))
    // the greedy kernel only probes lengths SubwordMinLen..MaxLen; an
    // artifact trained under different bounds would silently never
    // match its out-of-range entries — fail loudly instead
    entries.find(e => e.length < SubwordMinLen || e.length > SubwordMaxLen).foreach(e =>
      throw new IllegalArgumentException(
        s"vocab entry '$e' (len ${e.length}) outside [$SubwordMinLen, $SubwordMaxLen]"))
    val byLen = Array.fill(SubwordMaxLen + 1)(Set.newBuilder[String])
    entries.foreach(e => byLen(e.length) += e)
    byLen.map(_.result())
  }

  private[graft] def vocabByLen(docs: DataFrame): Array[Set[String]] =
    vocabByLenFrom(subwordVocab(docs))

  /** Greedy longest-match token count for one word: at each position
    * take the longest vocab entry matching the prefix, else one
    * character. The DuckDB twin replays this exact walk as a recursive
    * CTE (longest match = max(length) over prefix-equal vocab rows).
    */
  private[graft] def greedyTokenCount(w: String, byLen: Array[Set[String]]): Int = {
    var pos = 0
    var n = 0
    while (pos < w.length) {
      var took = 1
      var l = math.min(SubwordMaxLen, w.length - pos)
      while (took == 1 && l >= SubwordMinLen) {
        if (byLen(l).contains(w.substring(pos, pos + l))) took = l
        l -= 1
      }
      pos += took
      n += 1
    }
    n
  }

  /** Per-doc REAL-token statistics through a TRAINED subword vocab:
    * whitespace count vs greedy-subword count and their ratio — the
    * difference is exactly what whitespace budgets get wrong (a doc of
    * rare long words costs far more model tokens than its word count
    * suggests). Kernel shape: the vocab rides the closure (broadcast
    * literal), each doc tokenizes in one map pass — no join, no
    * shuffle beyond the input scan.
    *
    * This is the APPLY half of the train/apply split: `vocab` is a
    * [[subwordVocab]] frame — trained in-session on any corpus, or
    * [[loadSubwordVocab]]'d from a persisted artifact — so batch 2
    * tokenizes with batch 1's vocab, the operation a real mixture
    * pipeline runs daily. [[tokenStatsSubword]] is the train-on-self
    * convenience.
    */
  def tokenStatsWith(docs: DataFrame, vocab: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val byLen = vocabByLenFrom(vocab)
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val ws = text.split(" ", -1) // -1: keep trailing empties, = Spark split()
        var bpe = 0L
        var i = 0
        while (i < ws.length) {
          if (ws(i).nonEmpty) bpe += greedyTokenCount(ws(i), byLen).toLong
          i += 1
        }
        (id, ws.length.toLong, bpe)
      })
      .toDF("doc_id", "n_tokens_ws", "n_tokens_bpe")
      .select(
        col("doc_id"),
        col("n_tokens_ws"),
        col("n_tokens_bpe"),
        round(col("n_tokens_bpe").cast("double") / col("n_tokens_ws"), 6)
          .as("bpe_per_ws"))
  }

  /** [[tokenStatsWith]] with the vocab trained on the input corpus
    * itself — the self-contained form; cross-corpus/batch use trains
    * once ([[subwordVocab]] → [[saveSubwordVocab]]) and applies via
    * [[tokenStatsWith]].
    */
  def tokenStatsSubword(docs: DataFrame): DataFrame =
    tokenStatsWith(docs, subwordVocab(docs))

  // ------------------------------------------------------------ true BPE
  /** Merge rounds for [[bpeMerges]] — the vocab-size knob. */
  val BpeNumMerges = 40

  /** One trained BPE merge: at `rank`, the adjacent symbol pair
    * (`left`, `right`) had the highest corpus frequency (`freq`,
    * occurrences × word count) and fused into `merged`.
    */
  case class BpeMerge(rank: Int, left: String, right: String, merged: String, freq: Long)

  /** A word as CODEPOINT symbols — not UTF-16 chars: a supplementary
    * character is ONE symbol on both engines (DuckDB strings are
    * codepoint-indexed; splitting surrogate halves would diverge).
    */
  private[graft] def codepointSyms(w: String): IndexedSeq[String] =
    w.codePoints().toArray.map(cp => new String(Character.toChars(cp))).toIndexedSeq

  /** One left-to-right merge sweep: fuse every non-overlapping
    * adjacent (l, r) occurrence — the original byte-pair-encoding
    * replace step (Sennrich et al. 2016, public), shared verbatim by
    * the trainer and the tokenizer so train and apply can never
    * disagree on merge semantics.
    */
  private[graft] def applyMerge(
      syms: IndexedSeq[String], l: String, r: String): IndexedSeq[String] = {
    val out = IndexedSeq.newBuilder[String]
    val n = syms.length
    var i = 0
    while (i < n) {
      if (i + 1 < n && syms(i) == l && syms(i + 1) == r) { out += l + r; i += 2 }
      else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** TRUE iterative BPE training — the merge loop [[subwordVocab]]'s
    * one-pass frequent-substring ranking approximates: per round, ONE
    * distributed aggregate counts every adjacent symbol-pair frequency
    * over the word table (all positions, weighted by word count), the
    * argmax pair (ties: count desc, then left, then right — a pure
    * function of the corpus) merges everywhere, repeat to `numMerges`.
    * The [[graft.operators.Ann]] Lloyd-loop discipline on text: state
    * that moves per round is one collected row (the winning pair);
    * the symbol table stays distributed and re-persists per round
    * (lineage truncated every 10 rounds). Word-DISTINCT scale: the
    * loop runs over the word-frequency table, never the corpus — at
    * 100 TB the corpus scan happens once, the M rounds touch only the
    * vocabulary-sized frame.
    */
  def bpeMerges(docs: DataFrame, numMerges: Int = BpeNumMerges): Array[BpeMerge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // The merge loop iterates over the word-FREQUENCY table (vocab-
    // sized, orders of magnitude under the corpus) ~2·numMerges times;
    // through Catalyst each round pays full analysis/optimization of a
    // GROWING typed plan plus |shuffle.partitions| near-empty tasks —
    // profiled cold: 25 s wall against 9.5 s of stage time, the gap
    // all driver-side planning. The loop therefore runs on a plain RDD
    // (no per-round planning, plain JVM objects instead of encoder
    // round-trips) at a width derived from the measured word count
    // (~64k rows per partition, capped at the caller's parallelism —
    // the [[graft.operators.Corpus]] cluster-loop sizing discipline).
    // The corpus-sized explode + groupBy below still runs at the
    // caller's full width; only the vocab-sized loop frames narrow.
    // Results are bit-identical: the pair-count aggregate is an
    // order-free long sum, the argmax tie-break a total order (count
    // desc, then left, then right in UTF-8 BINARY order — exactly the
    // UTF8String comparison the previous DataFrame orderBy used), and
    // applyMerge is per-row.
    val wordFreq = docs
      .select(explode(words).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("wcnt"))
      .as[(String, Long)]
      .persist()
    val nWords = wordFreq.count()
    val parentParts = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(200)
    val loopParts = math.max(1L, math.min(parentParts.toLong, nWords / 65536L + 1L)).toInt
    // Round frames persist MEMORY_AND_DISK, so memory pressure spills
    // them rather than dropping them into a recompute.
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    var cur: org.apache.spark.rdd.RDD[(IndexedSeq[String], Long)] = wordFreq.rdd
      .coalesce(loopParts)
      .map { case (w, c) => (codepointSyms(w), c) }
      .persist(level)
    cur.count()
    wordFreq.unpersist(blocking = false)
    // (count desc, left, right) — left/right compared as UTF-8 bytes
    // unsigned, matching Spark SQL's binary string ordering
    val bestOrd: Ordering[((String, String), Long)] =
      new Ordering[((String, String), Long)] {
        def compare(a: ((String, String), Long), b: ((String, String), Long)): Int = {
          val byCnt = java.lang.Long.compare(b._2, a._2)
          if (byCnt != 0) byCnt
          else {
            val byL = utf8Compare(a._1._1, b._1._1)
            if (byL != 0) byL else utf8Compare(a._1._2, b._1._2)
          }
        }
      }
    val merges = Array.newBuilder[BpeMerge]
    var prev: Option[org.apache.spark.rdd.RDD[(IndexedSeq[String], Long)]] = None
    // the local checkpoints later rounds' lineage ends at: a recompute of
    // an evicted round reads them, so they stay until the loop ends
    val checkpoints = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
    var r = 1
    var done = false
    while (r <= numMerges && !done) {
      val top = cur
        .flatMap { case (syms, c) =>
          if (syms.length < 2) Iterator.empty
          else (0 until syms.length - 1).iterator.map(i => ((syms(i), syms(i + 1)), c))
        }
        .reduceByKey(_ + _)
        .takeOrdered(1)(bestOrd)
      // the takeOrdered materialized `cur`'s (lazy) persist — the
      // frame that fed it can release its cache now, unless it is a
      // checkpoint
      prev.filterNot(checkpoints.contains).foreach(_.unpersist(blocking = false))
      prev = Some(cur)
      if (top.isEmpty) done = true
      else {
        val ((l, rr), cnt) = top(0)
        merges += BpeMerge(r, l, rr, l + rr, cnt)
        val mapped = cur.map { case (syms, c) => (applyMerge(syms, l, rr), c) }
        cur = mapped.persist(level)
        // periodic lineage truncation, lazily — materialized by the
        // next round's takeOrdered like every other round frame
        // (localCheckpoint after persist: it keeps the disk-backed
        // storage level; the reverse order throws)
        if (r % 10 == 0) checkpoints += cur.localCheckpoint()
        r += 1
      }
    }
    (prev.toSeq :+ cur).filterNot(checkpoints.contains).foreach(_.unpersist(blocking = false))
    checkpoints.foreach(_.unpersist(blocking = false))
    merges.result()
  }

  /** UTF-8 binary string comparison — byte-wise unsigned, the ordering
    * Spark SQL's UTF8String gives a string sort key (equal to
    * codepoint order; differs from java.lang.String's UTF-16 char
    * order only above the BMP).
    */
  private[graft] def utf8Compare(a: String, b: String): Int = {
    val ab = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val bb = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(ab.length, bb.length)
    var i = 0
    while (i < n) {
      val d = (ab(i) & 0xff) - (bb(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    ab.length - bb.length
  }

  /** Tokenize one word by applying the trained merges in rank order
    * (each a full left-to-right sweep) — the standard BPE apply; the
    * DuckDB twin replays the identical walk as a recursive CTE over
    * space-separated symbol strings.
    */
  private[graft] def bpeTokenize(w: String, merges: Array[BpeMerge]): IndexedSeq[String] = {
    var syms: IndexedSeq[String] = codepointSyms(w)
    var i = 0
    while (i < merges.length && syms.length >= 2) {
      syms = applyMerge(syms, merges(i).left, merges(i).right)
      i += 1
    }
    syms
  }

  /** Per-doc token statistics under a TRUE-BPE vocabulary: whitespace
    * count vs merge-applied symbol count — [[tokenStatsWith]]'s shape
    * with the iterative-merge tokenizer. The merge table rides the
    * closure (kilobytes); per-partition memoization keys on the word,
    * so each distinct word tokenizes once per partition.
    */
  def tokenStatsBpeTrue(docs: DataFrame, merges: Array[BpeMerge]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        val memo = scala.collection.mutable.HashMap.empty[String, Long]
        rows.map { case (id, text) =>
          val ws = text.split(" ", -1)
          var bpe = 0L
          var i = 0
          while (i < ws.length) {
            if (ws(i).nonEmpty)
              bpe += memo.getOrElseUpdate(ws(i), bpeTokenize(ws(i), merges).length.toLong)
            i += 1
          }
          (id, ws.length.toLong, bpe)
        }
      }
      .toDF("doc_id", "n_tokens_ws", "n_tokens_bpe")
      .select(
        col("doc_id"),
        col("n_tokens_ws"),
        col("n_tokens_bpe"),
        round(col("n_tokens_bpe").cast("double") / col("n_tokens_ws"), 6)
          .as("bpe_per_ws"))
  }

  /** Persist a trained merge table as a reusable artifact — the
    * [[saveSubwordVocab]] contract for the true-BPE flavor: train once
    * on a reference corpus, tokenize every later batch with the SAME
    * merges.
    */
  def saveBpeMerges(spark: SparkSession, merges: Array[BpeMerge], path: String): Unit = {
    import spark.implicits._
    merges.toSeq.toDS().toDF().coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a merge artifact written by [[saveBpeMerges]] — rank order
    * restored (apply order IS the trained order).
    */
  def loadBpeMerges(spark: SparkSession, path: String): Array[BpeMerge] = {
    import spark.implicits._
    spark.read.parquet(path).as[BpeMerge].collect().sortBy(_.rank)
  }

  // --------------------------------------------- unigram-LM tokenizer
  /** Unigram-LM (SentencePiece-style, Kudo 2018, public) tokenizer:
    * the OTHER public subword algorithm, completing the family next to
    * greedy frequent-substring and true BPE. Training is
    * expectation-maximization over a piece vocabulary — each word is
    * modeled as an independent mixture over its segmentations; the
    * E-step computes each piece's expected count by forward-backward
    * over the word lattice, the M-step re-scores pieces by their
    * normalized counts, and pruning keeps the top pieces (all single
    * codepoints always survive, the coverage guarantee).
    *
    * Determinism contract (the repo's integer-quantize discipline):
    * per-(word, piece) expected counts quantize to integer MICRO
    * before the freq multiply and the cross-word sum, so aggregation
    * is order-free exact; scores are add-one-smoothed micro-nat logs
    * of those integer counts — one double `ln` per piece per round
    * from identical integer inputs. The only unquantized doubles live
    * inside one word's forward-backward, which both the engine and
    * the EngineProps reference compute from the same score integers.
    *
    * Scale shape: training runs over the word-FREQUENCY table, never
    * the corpus; per EM round ONE distributed aggregate (words ×
    * broadcast kilobyte score map → per-piece integer count sums) —
    * the Lloyd-loop discipline [[bpeMerges]] uses. Apply is a
    * shuffle-free broadcast kernel with per-partition word
    * memoization.
    */
  val UnigramMaxPieceLen = 4
  val UnigramSeedK = 300
  val UnigramVocabK = 120
  val UnigramEmRounds = 3

  /** Viterbi score for a single codepoint absent from the vocabulary
    * (an apply-time character never seen in training) — a fixed
    * deterministic floor shared verbatim with the DuckDB twin.
    */
  val UnigramUnkMicro: Long = -25000000L

  /** One trained unigram piece: expected corpus count (integer micro)
    * and its add-one-smoothed log probability (integer micro-nats).
    */
  case class UnigramPiece(piece: String, cnt_micro: Long, score_micro: Long)

  private def unigramRescore(
      counts: Seq[(String, Long)]): Array[UnigramPiece] = {
    val total = counts.map(_._2).sum
    val v = counts.length.toLong
    counts.map { case (p, c) =>
      val lp = math.log((c + 1000000L).toDouble / (total + v * 1000000L).toDouble)
      UnigramPiece(
        p, c,
        BigDecimal(lp * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }.toArray
  }

  /** Deterministic prune: every single-codepoint piece survives
    * (coverage); multi-codepoint pieces keep the top
    * [[UnigramVocabK]] by (count desc, piece asc).
    */
  private def unigramPrune(
      counts: Seq[(String, Long)], keepMulti: Int): Seq[(String, Long)] = {
    val (single, multi) =
      counts.partition { case (p, _) => p.codePointCount(0, p.length) == 1 }
    single.sortBy(_._1) ++
      multi.sortBy { case (p, c) => (-c, p) }.take(keepMulti)
  }

  /** Expected piece counts for ONE word by forward-backward over the
    * segmentation lattice, quantized to integer micro per piece —
    * shared verbatim by the trainer and the EngineProps reference.
    * Returns empty when the lattice has no path (cannot happen while
    * training singles cover the corpus) or underflows.
    */
  private[graft] def unigramExpectedMicro(
      w: String, scores: collection.Map[String, Long]): Seq[(String, Long)] = {
    val cps = codepointSyms(w)
    val n = cps.length
    if (n == 0) return Seq.empty
    def piece(i: Int, j: Int): String = cps.slice(i, j).mkString
    def p(s: String): Option[Double] =
      scores.get(s).map(m => math.exp(m.toDouble / 1e6))
    val alpha = new Array[Double](n + 1)
    alpha(0) = 1.0
    var j = 1
    while (j <= n) {
      var l = 1
      while (l <= UnigramMaxPieceLen && l <= j) {
        p(piece(j - l, j)).foreach(pp => alpha(j) += alpha(j - l) * pp)
        l += 1
      }
      j += 1
    }
    val z = alpha(n)
    if (z <= 0.0 || z.isNaN || z.isInfinite) return Seq.empty
    val beta = new Array[Double](n + 1)
    beta(n) = 1.0
    var i = n - 1
    while (i >= 0) {
      var l = 1
      while (l <= UnigramMaxPieceLen && i + l <= n) {
        p(piece(i, i + l)).foreach(pp => beta(i) += pp * beta(i + l))
        l += 1
      }
      i -= 1
    }
    val acc = scala.collection.mutable.HashMap.empty[String, Double]
    i = 0
    while (i < n) {
      var l = 1
      while (l <= UnigramMaxPieceLen && i + l <= n) {
        val s = piece(i, i + l)
        p(s).foreach { pp =>
          acc.updateWith(s) {
            case Some(e) => Some(e + alpha(i) * pp * beta(i + l) / z)
            case None => Some(alpha(i) * pp * beta(i + l) / z)
          }
        }
        l += 1
      }
      i += 1
    }
    acc.toSeq.sortBy(_._1).map { case (s, e) =>
      (s, BigDecimal(e * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    }
  }

  /** TRAIN the unigram vocabulary: seed from substring-span counts
    * (all positions × word freq; every single codepoint plus the top
    * [[UnigramSeedK]] multis), then [[UnigramEmRounds]] EM rounds —
    * each ONE distributed integer aggregate — pruning to
    * [[UnigramVocabK]] multis after every round.
    */
  def unigramPieces(docs: DataFrame): Array[UnigramPiece] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wordFreq = docs
      .select(explode(words).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("wcnt"))
      .as[(String, Long)]
      .persist()
    wordFreq.count()
    // seed: substring-span counts in micro units. The span table is
    // corpus-vocabulary-sized, so the cut happens DISTRIBUTED: singles
    // collect whole (alphabet-bounded), multis go through a
    // TakeOrderedAndProject top-K — the driver never sees the full
    // substring table.
    val spanCounts = wordFreq
      .flatMap { case (w, c) =>
        val cps = codepointSyms(w)
        for {
          i <- cps.indices
          l <- 1 to math.min(UnigramMaxPieceLen, cps.length - i)
        } yield (cps.slice(i, i + l).mkString, c * 1000000L)
      }
      .groupByKey(_._1)
      .mapValues(_._2)
      .reduceGroups(_ + _)
      .toDF("piece", "cnt")
      .persist()
    val singles = spanCounts
      .filter(expr("length(piece) = 1"))
      .as[(String, Long)].collect()
    val multis = spanCounts
      .filter(expr("length(piece) > 1"))
      .orderBy(col("cnt").desc, col("piece"))
      .limit(UnigramSeedK)
      .as[(String, Long)].collect()
    spanCounts.unpersist(blocking = false)
    val seeded = singles.toSeq.sortBy(_._1) ++
      multis.toSeq.sortBy { case (p, c) => (-c, p) }
    var pieces = unigramRescore(seeded)
    var r = 0
    while (r < UnigramEmRounds) {
      val scoreMap = pieces.map(p => p.piece -> p.score_micro).toMap
      val bc = spark.sparkContext.broadcast(scoreMap)
      val counts = wordFreq
        .flatMap { case (w, c) =>
          unigramExpectedMicro(w, bc.value).map { case (s, e) => (s, e * c) }
        }
        .groupByKey(_._1)
        .mapValues(_._2)
        .reduceGroups(_ + _)
        .collect()
      pieces = unigramRescore(
        unigramPrune(counts.toSeq.map { case (p, c) => (p, c) }, UnigramVocabK))
      r += 1
    }
    wordFreq.unpersist(blocking = false)
    pieces.sortBy(p => (-p.cnt_micro, p.piece))
  }

  /** Viterbi tokenization of one word under trained piece scores:
    * maximize the integer score sum; among equal scores minimize the
    * token count — both DP values are pure integers, so the verdict
    * is engine-stable and the DuckDB twin replays the identical
    * recurrence. Unknown single codepoints price at
    * [[UnigramUnkMicro]]. Returns (n_tokens, score_micro_sum).
    */
  private[graft] def unigramTokenize(
      w: String, scores: collection.Map[String, Long]): (Long, Long) = {
    val cps = codepointSyms(w)
    val n = cps.length
    if (n == 0) return (0L, 0L)
    val bestS = new Array[Long](n + 1)
    val bestT = new Array[Long](n + 1)
    var j = 1
    while (j <= n) {
      var s = Long.MinValue
      var t = Long.MaxValue
      var l = 1
      while (l <= UnigramMaxPieceLen && l <= j) {
        val piece = cps.slice(j - l, j).mkString
        val sc =
          if (l == 1) Some(scores.getOrElse(piece, UnigramUnkMicro))
          else scores.get(piece)
        sc.foreach { m =>
          val cs = bestS(j - l) + m
          val ct = bestT(j - l) + 1
          if (cs > s || (cs == s && ct < t)) { s = cs; t = ct }
        }
        l += 1
      }
      bestS(j) = s
      bestT(j) = t
      j += 1
    }
    (bestT(n), bestS(n))
  }

  /** Per-doc token statistics under the unigram tokenizer —
    * [[tokenStatsBpeTrue]]'s broadcast-kernel shape: whitespace count
    * vs Viterbi piece count plus the exact integer corpus score.
    */
  def tokenStatsUnigram(docs: DataFrame, pieces: Array[UnigramPiece]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val scores = pieces.map(p => p.piece -> p.score_micro).toMap
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        val memo = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
        rows.map { case (id, text) =>
          val ws = text.split(" ", -1)
          var tok = 0L
          var sc = 0L
          var i = 0
          while (i < ws.length) {
            if (ws(i).nonEmpty) {
              val (t, s) = memo.getOrElseUpdate(ws(i), unigramTokenize(ws(i), scores))
              tok += t
              sc += s
            }
            i += 1
          }
          (id, ws.length.toLong, tok, sc)
        }
      }
      .toDF("doc_id", "n_tokens_ws", "n_tokens_uni", "score_micro")
      .select(
        col("doc_id"),
        col("n_tokens_ws"),
        col("n_tokens_uni"),
        col("score_micro"),
        round(col("n_tokens_uni").cast("double") / col("n_tokens_ws"), 6)
          .as("uni_per_ws"))
  }

  /** Persist trained unigram pieces — the [[saveBpeMerges]] artifact
    * contract for the EM tokenizer.
    */
  def saveUnigramPieces(
      spark: SparkSession, pieces: Array[UnigramPiece], path: String): Unit = {
    import spark.implicits._
    pieces.toSeq.toDS().toDF().coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a piece artifact written by [[saveUnigramPieces]], restored
    * to the deterministic (count desc, piece) order.
    */
  def loadUnigramPieces(spark: SparkSession, path: String): Array[UnigramPiece] = {
    import spark.implicits._
    spark.read.parquet(path).as[UnigramPiece].collect()
      .sortBy(p => (-p.cnt_micro, p.piece))
  }

  /** Stopword vocabulary for [[quality]]'s stopword ratio. */
  val StopWords: Seq[String] = Seq("the", "a", "of", "and", "is", "to", "in")

  /** Quality scoring: length, punctuation/digit/stopword ratios, and a
    * composite [0,1] score (longer, cleaner, stopword-bearing text
    * scores higher — the usual pretraining heuristics). The stopword
    * count rides the same compiled [[markerCounts]] shape as [[langId]]
    * (one explode + broadcast join), not 7 interpreted HOF filters per
    * row; the char-class ratios stay pure per-row regex projections.
    */
  /** The ASCII clean-character set `quality` counts against. */
  private val AlnumSpace: String =
    (('A' to 'Z') ++ ('a' to 'z') ++ ('0' to '9')).mkString + " "

  def quality(docs: DataFrame): DataFrame = {
    val nTokens = size(col("w"))
    val nStop = coalesce(col("cnt_stop"), lit(0))
    // char-class counts via translate's plain char map, NOT
    // regexp_replace: measured 10.5s -> 0.34s over 200k docs (Spark's
    // regexp_replace runs the negated class at ~7 MB/s), with
    // identical values on every string — both count the chars outside
    // the same explicit 63-char set, so the DuckDB twin and the
    // streaming kernel stay bit-equal
    val punct = length(translate(col("text"), AlnumSpace, ""))
    val digits = length(col("text")) - length(translate(col("text"), "0123456789", ""))
    docs.select(col("doc_id"), col("n_chars"), col("text"), words.as("w"))
      .join(markerCounts(docs, Seq("stop" -> StopWords)), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_chars"),
        nTokens.as("n_tokens"),
        round(nStop.cast("double") / nTokens, 6).as("stopword_ratio"),
        round(punct.cast("double") / length(col("text")), 6).as("punct_ratio"),
        round(digits.cast("double") / length(col("text")), 6).as("digit_ratio"),
        round(
          least(lit(1.0), nTokens.cast("double") / 50) *
            (lit(1.0) - punct.cast("double") / length(col("text"))) *
            least(lit(1.0), nStop.cast("double") / nTokens * 5 + 0.5),
          6).as("quality"))
  }

  /** Deterministic dataset splitting: hash-bucket each document by
    * md5(doc_id) into 10 buckets -> 8 train / 1 valid / 1 test. The
    * split is a pure function of the id — stable across runs, machines,
    * and data order, which is what keeps eval sets uncontaminated.
    */
  def trainSplit(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"))
      .withColumn(
        "bucket",
        expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT) % 10"))
      .withColumn(
        "split",
        when(col("bucket") < 8, "train").when(col("bucket") === 8, "valid").otherwise("test"))

  /** Text normalization: lowercase, strip non-alphanumeric (keeping
    * spaces), collapse whitespace — the standard pre-tokenization
    * cleanup, with before/after lengths for shrinkage auditing.
    */
  def normalize(docs: DataFrame): DataFrame = {
    val cleaned = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    docs.select(
      col("doc_id"),
      cleaned.as("norm_text"),
      length(col("text")).as("n_chars_raw"),
      length(cleaned).as("n_chars_norm"))
  }

  /** The FULLER Gopher n-gram repetition battery extending
    * [[repetition]]'s bigram signal: for n ∈ {2, 3, 4}, the dominant
    * n-gram's share of all n-gram occurrences (`top{n}_frac` — catches
    * a single looping phrase) and the share of occurrences belonging
    * to any REPEATED n-gram (`dup{n}_frac` — catches diffuse
    * boilerplate that no single n-gram dominates). Curation filters
    * threshold these per n (longer n-grams repeat less naturally, so
    * their thresholds sit lower).
    *
    * Shape: the three explodes union into ONE (doc, n, gram) aggregate
    * with map-side combine, one per-(doc, n) rollup, and a per-doc
    * conditional-pivot — everything keyed by doc, no corpus windows.
    * Fractions are integer-count ratios rounded at 6, so the twin
    * divides the identical integers.
    */
  def ngramRepetition(docs: DataFrame): DataFrame = {
    val grams = (2 to 4)
      .map(n => Dedup.ngramRows(docs, n, "gram").withColumn("n", lit(n)))
      .reduce(_ unionByName _)
    val per = grams
      .groupBy("doc_id", "n", "gram")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id", "n")
      .agg(
        sum("cnt").as("total"),
        max("cnt").as("topc"),
        sum(when(col("cnt") >= 2, col("cnt")).otherwise(0L)).as("dupc"))
    val fracs = (2 to 4).flatMap { n =>
      Seq(
        round(
          max(when(col("n") === n, col("topc"))).cast("double") /
            greatest(max(when(col("n") === n, col("total"))), lit(1L)).cast("double"),
          6).as(s"top${n}_frac"),
        round(
          max(when(col("n") === n, col("dupc"))).cast("double") /
            greatest(max(when(col("n") === n, col("total"))), lit(1L)).cast("double"),
          6).as(s"dup${n}_frac"))
    }
    val wide = per.groupBy("doc_id").agg(fracs.head, fracs.tail: _*)
    docs.select(col("doc_id"))
      .join(wide, Seq("doc_id"), "left")
      .na.fill(0.0)
  }

  /** Within-document repetition (the Gopher-style quality signal):
    * bigram counts per doc, the dominant bigram's share of all bigrams,
    * and the distinct-bigram ratio. Highly repetitive docs (boilerplate,
    * keyword stuffing, generation loops) show a high top share and a
    * low distinct ratio. Shape: explode + (doc, bigram) aggregate with
    * map-side combine, then a per-doc rollup — two shuffles keyed by
    * doc, no windows over the corpus.
    */
  def repetition(docs: DataFrame): DataFrame = {
    val bigrams = Dedup.ngramRows(docs, 2, "bigram")
      .groupBy("doc_id", "bigram")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(
        sum("cnt").as("n_bigrams"),
        max("cnt").as("top_bigram_cnt"),
        count(lit(1)).as("n_distinct_bigrams"))
    docs.select(col("doc_id"))
      .join(bigrams, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_bigram_cnt"), lit(0L)).as("top_bigram_cnt"),
        round(
          coalesce(col("top_bigram_cnt"), lit(0L)).cast("double") /
            greatest(coalesce(col("n_bigrams"), lit(0L)), lit(1L)),
          6).as("top_bigram_frac"),
        round(
          coalesce(col("n_distinct_bigrams"), lit(0L)).cast("double") /
            greatest(coalesce(col("n_bigrams"), lit(0L)), lit(1L)),
          6).as("distinct_bigram_frac"))
  }

  /** Keep/drop thresholds for [[keepMask]]. */
  val QualityMin = 0.3
  val MinTokens = 5

  /** The composite filter decision every pretraining pipeline ends
    * with: exact-dup? too short? low quality? One row per document with
    * the verdict and the FIRST failing reason (precedence: dup >
    * too_short > low_quality), composed from [[Dedup.exact]] and
    * [[quality]] — operators compose as plans, so Catalyst fuses the
    * three scans and the filter into one job.
    */
  def keepMask(docs: DataFrame): DataFrame = {
    val q = quality(docs).select("doc_id", "n_tokens", "quality")
    val d = Dedup.exact(docs).select("doc_id", "is_dup")
    val reason = when(col("is_dup"), "dup")
      .when(col("n_tokens") < MinTokens, "too_short")
      .when(col("quality") < QualityMin, "low_quality")
      .otherwise("keep")
    q.join(d, "doc_id")
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("quality"),
        col("is_dup"),
        reason.as("reason"),
        (reason === "keep").as("keep"))
  }

  /** Email-address shape, written without backslash escapes so the
    * Spark (Java regex) and DuckDB (RE2) patterns are byte-identical.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"

  /** 7+ digit runs — phone numbers, SSN-ish ids, account numbers. */
  val LongNumRe = "[0-9]{7,}"

  /** PII scrubbing: redact email addresses and long digit runs (the
    * pretraining-pipeline privacy pass), with per-doc redaction counts
    * for auditing. Emails first — a digit run inside an address must
    * count once, as an email. Pure per-row projection: no shuffle, scans
    * stay pruned, codegen keeps it in one stage at any corpus size.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val afterEmail = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    docs.select(
      col("doc_id"),
      size(expr(s"regexp_extract_all(text, '$EmailRe', 0)")).as("n_emails"),
      size(expr(s"regexp_extract_all(regexp_replace(text, '$EmailRe', '<EMAIL>'), '$LongNumRe', 0)"))
        .as("n_longnums"),
      regexp_replace(afterEmail, LongNumRe, "<NUM>").as("scrubbed"))
      .withColumn("is_clean", col("n_emails") === 0 && col("n_longnums") === 0)
  }

  /** The keep-verdict's per-doc signal battery — [[quality]]'s
    * n_tokens + quality, [[piiScrub]]'s redaction counts, and
    * [[repetition]]'s top_bigram_frac — fused into ONE scan of the
    * documents table. The standalone operators each scan `docs`; a
    * composite verdict ([[Corpus.docPipelineFullV2]]) that joined all
    * three paid three corpus scans for signals that share every
    * input. Here one persisted projection (per-row counts + the split
    * words array — the [[Corpus.docPipeline]] shared-explode
    * discipline) feeds a single tagged explode emitting each word
    * (t=0, for the stopword count) and each bigram (t=1, for the
    * repetition stats), aggregated once by doc; the PII and
    * punctuation counts ride the projection as per-row columns.
    *
    * Values are BIT-EQUAL to the standalone operators: the quality
    * formula is copied term-for-term (same literal order, same
    * double casts, same round), the stopword total equals
    * markerCounts' occurrence sum, and the bigram keys use
    * [[Dedup.ngramRows]]' exact `concat(w[i], ' ', w[i+1])` gram.
    */
  def verdictSignals(docs: DataFrame): DataFrame = {
    val base = CacheScope.persist(docs.select(
      col("doc_id"),
      length(col("text")).as("len"),
      length(translate(col("text"), AlnumSpace, "")).as("punct"),
      size(expr(s"regexp_extract_all(text, '$EmailRe', 0)")).as("n_emails"),
      size(expr(
        s"regexp_extract_all(regexp_replace(text, '$EmailRe', '<EMAIL>'), '$LongNumRe', 0)"))
        .as("n_longnums"),
      words.as("w")))
    val tagged = base.select(
      col("doc_id"),
      explode(expr(
        """concat(
          |  transform(w, x -> named_struct('t', 0, 'g', x)),
          |  CASE WHEN size(w) >= 2
          |  THEN transform(sequence(0, size(w) - 2),
          |                 i -> named_struct('t', 1, 'g', concat(w[i], ' ', w[i+1])))
          |  ELSE CAST(array() AS ARRAY<STRUCT<t: INT, g: STRING>>) END)""".stripMargin))
        .as("tg"))
      .select(col("doc_id"), col("tg.t").as("t"), col("tg.g").as("g"))
      // non-stopword word rows die HERE, before any aggregation state:
      // the stop count only ever consults the 7-entry list (the same
      // volume cut markerCounts' broadcast inner join makes), while
      // every bigram row survives for the repetition stats — without
      // this filter the fused pass aggregates the whole word stream
      // and loses to the three separate scans it replaces
      .filter(col("t") === 1 || col("g").isin(StopWords: _*))
    val agg = tagged
      .groupBy("doc_id", "t", "g")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(
        sum(when(col("t") === 0 && col("g").isin(StopWords: _*), col("cnt")))
          .cast("int").as("cnt_stop"),
        sum(when(col("t") === 1, col("cnt"))).as("n_bigrams"),
        max(when(col("t") === 1, col("cnt"))).as("top_bigram_cnt"))
    val nTokens = size(col("w"))
    val nStop = coalesce(col("cnt_stop"), lit(0))
    val punct = col("punct")
    base.join(agg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        nTokens.as("n_tokens"),
        round(
          least(lit(1.0), nTokens.cast("double") / 50) *
            (lit(1.0) - punct.cast("double") / col("len")) *
            least(lit(1.0), nStop.cast("double") / nTokens * 5 + 0.5),
          6).as("quality"),
        col("n_emails"),
        col("n_longnums"),
        round(
          coalesce(col("top_bigram_cnt"), lit(0L)).cast("double") /
            greatest(coalesce(col("n_bigrams"), lit(0L)), lit(1L)),
          6).as("top_bigram_frac"))
  }

  /** Deterministic HTML page fixture for [[extractText]]'s registry
    * row: each document's text entity-escaped into a page whose
    * chrome exercises every strip rule — a style block with a CSS
    * comment, a script whose body contains `<`, `&&`, and a quoted
    * string (tag-stripping alone would leak it), an HTML comment, and
    * tags carrying attributes — while contributing ZERO visible
    * words, so the extracted text is exactly the original modulo
    * whitespace collapse (CorpusSpec pins shingle equality on that).
    * Built from the same expressions on the Spark side and the DuckDB
    * twin, so the row verifies extraction end-to-end by hash.
    */
  def wrapHtml(docs: DataFrame): DataFrame = {
    val escaped = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
    docs.select(
      col("doc_id"),
      concat(
        lit("<html><head><title></title><style type=\"text/css\">body { color: #333; } /* doc "),
        col("doc_id"),
        lit(" */</style><script>var n = "),
        col("doc_id"),
        lit("; if (n < 9 && n > 0) { n = \"skip me\"; }</script></head><body><!-- crawl "),
        col("doc_id"),
        lit(" --><p class=\"main\">"),
        escaped,
        lit("</p></body></html>")).as("html"))
  }

  /** HTML text extraction — the FIRST transform a web-archive
    * training corpus runs (the reference's entire domain serves HTML;
    * shingling or quality-scoring raw markup measures the chrome, not
    * the content). Strip order matters and is the standard one:
    * script/style blocks WITH their contents (their bodies are code,
    * and contain literal `<`/quotes that would corrupt a naive tag
    * pass), HTML comments, then remaining tags (attributes included)
    * to a space so block boundaries stay word boundaries, then the
    * named-entity decode with `&amp;` LAST (decoding it first would
    * double-decode `&amp;lt;`), then whitespace collapse. Every rule
    * is a per-row regexp projection — no shuffle, codegen'd, the same
    * RE2-compatible patterns replay in the twin. The extracted column
    * is named `text`, so the result feeds the whole existing
    * shingle/quality/dedup pipeline unchanged.
    */
  def extractText(pages: DataFrame, htmlCol: String = "html"): DataFrame =
    pages.select(
      col("doc_id"),
      extractedTextCol(htmlCol).as("text"),
      length(col(htmlCol)).as("n_chars_raw"),
      length(extractedTextCol(htmlCol)).as("n_chars_text"))

  /** The extraction as a COLUMN — shared by [[extractText]] and faces
    * that must keep sibling columns in one projection (a stream
    * cannot join back to itself to re-attach them).
    */
  private[graft] def extractedTextCol(htmlCol: String): Column = {
    val noScript = regexp_replace(col(htmlCol), "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]*>", " ")
    val decoded = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(noTags, "&nbsp;", " "),
            "&lt;", "<"),
          "&gt;", ">"),
        "&quot;", "\""),
      "&amp;", "&")
    // explicit class, not \s: Java's \s includes \x0B, RE2's does not
    trim(regexp_replace(decoded, "[ \\t\\n\\r\\f]+", " "))
  }

  /** Content fingerprint: md5 of the whitespace-normalized lowercase
    * text, its 8-char prefix, and a bottom-3 sketch of shingle hashes
    * (a deterministic min-hash-style document signature usable for
    * containment checks).
    */
  def fingerprint(docs: DataFrame): DataFrame = {
    val norm = lower(regexp_replace(col("text"), "\\s+", " "))
    val fps = docs.select(
      col("doc_id"),
      md5(norm).as("fp_md5"),
      substring(md5(norm), 1, 8).as("fp_prefix"),
      length(norm).as("n_norm_chars"))
    val sketch = Dedup.shingles(docs)
      .groupBy("doc_id")
      .agg(expr("array_join(slice(array_sort(collect_set(md5(shingle))), 1, 3), '_')").as("bottom3"))
    fps.join(sketch, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("fp_md5"),
        col("fp_prefix"),
        col("n_norm_chars"),
        coalesce(col("bottom3"), lit("")).as("bottom3"))
  }

  /** [[chunk]] window (words per chunk) and stride (stride < window =
    * overlapping chunks, the RAG-retrieval default).
    */
  val ChunkWords = 8
  val ChunkStride = 6

  /** Overlapping fixed-window chunking: split each document into
    * [[ChunkWords]]-word windows every [[ChunkStride]] words — the
    * context-window chunker every retrieval / pretraining-sequence
    * pipeline runs before embedding. Enough windows are generated to
    * cover the tail (the last chunk may be short); a doc at or under
    * one window is a single chunk. Pure per-row `posexplode` — no
    * shuffle, scales with the scan.
    */
  def chunk(docs: DataFrame): DataFrame = {
    val (k, s) = (ChunkWords, ChunkStride)
    docs
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"), posexplode(expr(
        s"""transform(
           |  sequence(0, (greatest(size(w) - $k, 0) + $s - 1) div $s),
           |  i -> concat_ws(' ', slice(w, i * $s + 1, $k)))""".stripMargin))
        .as(Seq("chunk_idx", "chunk_text")))
      .select(
        col("doc_id"),
        col("chunk_idx"),
        least(lit(k), size(col("w")) - col("chunk_idx") * s).cast("long").as("n_chunk_words"),
        col("chunk_text"))
  }

  /** Per-document word-distribution entropy — the gibberish /
    * keyboard-mash detector quality heuristics miss: natural text has
    * mid-range entropy, a single repeated token scores ~0, random
    * unique tokens score ln(n). `norm_entropy` = H / ln(n_types)
    * rescales to [0,1] so thresholds survive varying doc lengths.
    *
    * Determinism: each (doc, word) term -(c/n)·ln(c/n) is quantized to
    * an integer (×1e6, HALF_UP) BEFORE the per-doc sum — integer sums
    * are order-free, so partitioning cannot change the hash (the
    * [[Corpus.unigramLogProb]] recipe). Shape: one explode, one
    * (doc, word) agg with map-side combine, one doc-keyed agg; the
    * token-count join is keyed by doc_id — no corpus windows.
    */
  def entropy(docs: DataFrame): DataFrame = {
    val wrd = docs.select(col("doc_id"), explode(words).as("word"))
    val n = docs.select(col("doc_id"), size(words).cast("long").as("n_tokens"))
    wrd
      .groupBy("doc_id", "word")
      .agg(count(lit(1)).as("c"))
      .join(n, "doc_id")
      .withColumn(
        "term_micro",
        round(-(col("c") / col("n_tokens")) * log(col("c") / col("n_tokens")) * 1000000)
          .cast("long"))
      .groupBy("doc_id")
      .agg(
        max(col("n_tokens")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum("term_micro").as("entropy_micro"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("n_types"),
        col("entropy_micro"),
        round(col("entropy_micro") / 1e6, 6).as("entropy"),
        when(col("n_types") > 1,
          round(col("entropy_micro") / 1e6 / log(col("n_types")), 6))
          .otherwise(lit(0.0)).as("norm_entropy"))
  }

  /** [[qualityModel]] hashing-trick dimensionality and logit bias
    * (milli-units: all weights are exact multiples of 1/1000).
    */
  val ModelBuckets = 1024
  val ModelBiasMilli = -200L

  /** Fasttext-style linear quality classifier: every word hashes into
    * one of [[ModelBuckets]] feature buckets, the doc's logit is the
    * mean bucket weight plus a bias, and the score is its sigmoid —
    * the model-based filter (as opposed to [[quality]]'s heuristics)
    * production curation runs at the front of the funnel.
    *
    * The weight table here is a deterministic stand-in (weight derived
    * from the bucket's own md5, so the DuckDB twin regenerates it
    * exactly); a trained model drops in as the same (bucket,
    * weight_milli) frame. Scale shape: the table is kilobytes and
    * BROADCAST — scoring is one explode, a broadcast hash probe per
    * word, and a doc-keyed integer sum with map-side combine; per-doc
    * cost is independent of model size, and milli-weight integer sums
    * are order-free exact.
    */
  def qualityModel(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    val weights = spark.range(ModelBuckets.toLong).toDF("bucket").select(
      col("bucket"),
      (expr("CAST(conv(substr(md5(concat('qm', CAST(bucket AS STRING))), 1, 8), 16, 10) AS BIGINT)") % 2001 - 1000)
        .as("weight_milli"))
    qualityModelWith(docs, weights, ModelBiasMilli)
  }

  /** [[qualityModel]]'s scoring pipeline over an ARBITRARY weight
    * table — the drop-in point for trained weights. `weights` must
    * cover every bucket (zeros included): the inner join defines
    * `n_tokens`, so a sparse table would silently shrink the mean's
    * denominator.
    */
  def qualityModelWith(docs: DataFrame, weights: DataFrame, biasMilli: Long): DataFrame = {
    val wrd = docs
      .select(col("doc_id"), explode(words).as("word"))
      .withColumn(
        "bucket",
        expr(s"CAST(conv(substr(md5(word), 1, 8), 16, 10) AS BIGINT) % $ModelBuckets"))
    // Integer micro-unit logit: the mean weight rounds to integer
    // micro BEFORE the bias add, so the only double math is the final
    // sigmoid of an identical integer — a round(…, 6) of feat/n
    // directly lands on half-boundaries (observed: -0.4536375) where
    // engines' binary representations disagree.
    val logitMicro =
      round(col("feat_milli") * 1000.0 / col("n_tokens")).cast("long") +
        lit(biasMilli * 1000L)
    val logit = col("logit_micro") / 1e6
    wrd
      .join(broadcast(weights), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("weight_milli").as("feat_milli"))
      .withColumn("logit_micro", logitMicro)
      .select(
        col("doc_id"),
        col("n_tokens"),
        col("feat_milli"),
        col("logit_micro"),
        round(lit(1.0) / (lit(1.0) + exp(-logit)), 6).as("model_score"),
        (col("logit_micro") >= 0L).as("keep"))
  }

  /** Classifier evaluation — the quality-model analogue of
    * `ann_recall_report`, closing the train → store → score →
    * EVALUATE lifecycle: per hash-split confusion counts of the
    * model's keep verdict against the heuristic label it was distilled
    * from (`quality` >= [[QualityMin]]), with accuracy / precision /
    * recall. The `test` row is the number an ops dashboard watches —
    * the train row only confirms the fit converged; a test-row drop
    * with a healthy train row is the distribution-shift signal that
    * triggers a retrain, exactly as `ann_index_health` hands off to
    * the index rebuild.
    *
    * Scale shape: both legs are the already-verified doc-keyed scans
    * ([[qualityModelWith]], [[quality]]), joined on doc_id; the rollup
    * is 3 rows. Counts are exact integers; the only doubles are three
    * final rounded divisions.
    */
  def qualityEval(docs: DataFrame, weights: DataFrame, biasMilli: Long): DataFrame = {
    val pred = qualityModelWith(docs, weights, biasMilli)
      .select(col("doc_id"), col("keep"))
    val lab = quality(docs)
      .select(col("doc_id"), (col("quality") >= QualityMin).as("label"))
    val split = trainSplit(docs).select("doc_id", "split")
    def cnt(p: Column) = sum(when(p, 1L).otherwise(0L)).cast("long")
    pred
      .join(lab, "doc_id")
      .join(split, "doc_id")
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        cnt(col("keep") && col("label")).as("tp"),
        cnt(col("keep") && !col("label")).as("fp"),
        cnt(!col("keep") && col("label")).as("fn"),
        cnt(!col("keep") && !col("label")).as("tn"))
      .select(
        col("split"),
        col("n_docs"),
        col("tp"),
        col("fp"),
        col("fn"),
        col("tn"),
        round((col("tp") + col("tn")).cast("double") / col("n_docs"), 6)
          .as("accuracy"),
        round(
          col("tp").cast("double") / greatest(col("tp") + col("fp"), lit(1L)),
          6).as("prec"),
        round(
          col("tp").cast("double") / greatest(col("tp") + col("fn"), lit(1L)),
          6).as("recall"))
  }

  /** [[qualityHealth]] thresholds: the test-split accuracy floor and
    * the train−test gap ceiling that trigger a retrain.
    */
  val QualityAccMin = 0.85
  val QualityGapMax = 0.05

  /** Classifier health verdict — the quality-model analogue of
    * `ann_index_health`, closing the monitoring loop the same way:
    * one row reading [[qualityEval]]'s train and test splits together
    * and emitting `retrain_recommended` — the hand-off to
    * [[trainQualityWeights]], exactly as the index health row hands
    * off to the ANN rebuild. A healthy train row with a failing test
    * row is the distribution-shift signature; both failing means the
    * fit itself went bad.
    *
    * Scale shape: one conditional aggregation over the 3-row eval —
    * a global agg, so EXACTLY one verdict row emerges even when a
    * split is empty (a small or skewed corpus). A missing split is an
    * unhealthy state the row must REPORT, not a reason for the row to
    * vanish — the earlier crossJoin-of-filters shape disappeared
    * precisely when monitoring mattered most; here the missing
    * split's counts read 0, its accuracy NULL, and
    * `retrain_recommended` forces true.
    */
  def qualityHealth(docs: DataFrame, weights: DataFrame, biasMilli: Long): DataFrame = {
    val ev = qualityEval(docs, weights, biasMilli)
    def pick(split: String, c: Column) = max(when(col("split") === split, c))
    ev
      .agg(
        coalesce(pick("train", col("n_docs")), lit(0L)).as("n_train"),
        pick("train", col("accuracy")).as("acc_train"),
        coalesce(pick("test", col("n_docs")), lit(0L)).as("n_test"),
        pick("test", col("accuracy")).as("acc_test"))
      .select(
        col("n_train"),
        col("acc_train"),
        col("n_test"),
        col("acc_test"),
        round(col("acc_train") - col("acc_test"), 6).as("gap"),
        (col("acc_train").isNull || col("acc_test").isNull ||
          col("acc_test") < QualityAccMin ||
          round(col("acc_train") - col("acc_test"), 6) >= QualityGapMax)
          .as("retrain_recommended"))
  }

  /** TRAIN the quality classifier: MLlib LogisticRegression over the
    * hashed bucket features (x = per-bucket word count / n_tokens —
    * exactly the mean-weight formulation [[qualityModelWith]] scores),
    * labels distilled from the HEURISTIC verdict (`quality` >=
    * [[QualityMin]]) on the deterministic md5 `train` split
    * ([[trainSplit]] — the eval splits never leak into the fit).
    * Returns the full [[ModelBuckets]]-row (bucket, weight_milli)
    * table — zeros included, the join-denominator contract — plus the
    * fitted bias, both quantized to milli.
    *
    * Like [[graft.operators.Ann.kmeansCentroids]], the fitted weights
    * are index-metadata-sized (1024 longs): callers materialize them
    * once and feed the identical literals to the Spark plan and the
    * DuckDB twin. At corpus scale the training input is a SAMPLE of
    * the train split (a linear model needs thousands of rows, not the
    * corpus) — the fit cost does not scale with the data.
    */
  /** Persist trained quality weights as a reusable ARTIFACT — the
    * [[saveSubwordVocab]] discipline for the classifier: train once on
    * a reference corpus, score every subsequent batch with the SAME
    * weights. One parquet file of (bucket, weight_milli) rows; the
    * bias rides as the reserved bucket −1 (real buckets are
    * 0..[[ModelBuckets]]−1).
    */
  def saveQualityWeights(
      spark: SparkSession,
      path: String,
      weights: Array[(Long, Long)],
      biasMilli: Long): Unit = {
    import spark.implicits._
    (weights.toSeq :+ ((-1L, biasMilli)))
      .toDF("bucket", "weight_milli")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a weights artifact written by [[saveQualityWeights]]. Fails
    * loudly when a [[retrainQualityModel]] swap is in flight (`_STAGED`
    * marker or `_old` leftover present) — the [[graft.sinks.Sinks]]
    * readAnnIndex discipline: readers never mutate, a half-swapped
    * artifact could score one batch with old weights and the next with
    * new, and the next retrain (or [[healQualityWeights]]) repairs.
    */
  def loadQualityWeights(spark: SparkSession, path: String): (Array[(Long, Long)], Long) = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = fs.exists(new org.apache.hadoop.fs.Path(s"${path}_staged/_STAGED"))
    val old = fs.exists(new org.apache.hadoop.fs.Path(s"${path}_old"))
    if (staged || old)
      throw new IllegalStateException(
        s"quality-weights artifact at $path has an unfinished retrain swap (" +
          (if (staged) s"${path}_staged/_STAGED present" else s"${path}_old present") +
          "): run retrainQualityModel or healQualityWeights to finish or roll " +
          "back the swap, then retry the load.")
    val rows = spark.read.parquet(path).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bias = rows.collectFirst { case (-1L, b) => b }.getOrElse(
      throw new IllegalArgumentException(
        s"quality-weights artifact at $path carries no bias row (bucket -1)"))
    (rows.filter(_._1 >= 0L).sortBy(_._1), bias)
  }

  /** Finish (marker present) or abandon (marker absent) a crashed
    * [[retrainQualityModel]] swap — idempotent, the
    * [[graft.sinks.Sinks.finishRebuildSwap]] discipline on the weights
    * artifact: `_STAGED` is the commit point; every crash state rolls
    * forward to the staged weights or back to the live ones.
    */
  def healQualityWeights(spark: SparkSession, path: String): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new Path(path)
    val staged = new Path(s"${path}_staged")
    val marker = new Path(s"${path}_staged/_STAGED")
    val old = new Path(s"${path}_old")
    if (fs.exists(marker)) {
      // committed: roll FORWARD (re-entrant across every crash point)
      if (fs.exists(live)) {
        fs.delete(old, true)
        if (!fs.rename(live, old))
          throw new java.io.IOException(s"weights swap rename $live -> $old failed")
      }
      if (!fs.rename(staged, live))
        throw new java.io.IOException(s"weights swap rename $staged -> $live failed")
      fs.delete(new Path(live, "_STAGED"), false)
      fs.delete(old, true)
    } else {
      // uncommitted staging is a crashed BUILD: garbage
      if (fs.exists(staged)) fs.delete(staged, true)
      if (!fs.exists(live) && fs.exists(old)) {
        // crash between the two live renames of an EARLIER roll-forward
        // whose staged copy already moved: old IS the last good artifact
        if (!fs.rename(old, live))
          throw new java.io.IOException(s"weights rollback rename $old -> $live failed")
      } else fs.delete(old, true)
      // a crash between staged→live and the marker cleanup leaves the
      // marker file INSIDE the live dir — stray metadata, drop it
      if (fs.exists(live)) fs.delete(new Path(live, "_STAGED"), false)
    }
    ()
  }

  /** RETRAIN the quality classifier and swap the weights artifact in
    * atomically — the remediation path [[qualityHealth]]'s
    * `retrain_recommended` hands off to, closing the monitoring loop
    * exactly as `ann_index_health` hands off to
    * [[graft.sinks.Sinks.rebuildAnnIndex]]: heal any crashed earlier
    * swap, fit fresh weights on `docs`' train split, stage them beside
    * the live artifact, commit with the `_STAGED` marker, and roll the
    * rename swap forward. Readers between a mid-swap crash and the
    * next heal fail loudly ([[loadQualityWeights]]) — never score with
    * mixed artifacts. Returns the post-retrain [[qualityEval]] so the
    * caller sees the recovered accuracy in the same call.
    */
  def retrainQualityModel(spark: SparkSession, path: String, docs: DataFrame): DataFrame = {
    import org.apache.hadoop.fs.Path
    import spark.implicits._
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    healQualityWeights(spark, path)
    val (w, bias) = CacheScope.withScope { trainQualityWeights(docs) }
    saveQualityWeights(spark, s"${path}_staged", w, bias)
    fs.create(new Path(s"${path}_staged/_STAGED"), true).close()
    healQualityWeights(spark, path) // roll the committed swap forward
    val (lw, lb) = loadQualityWeights(spark, path)
    qualityEval(docs, lw.toSeq.toDF("bucket", "weight_milli"), lb)
  }

  def trainQualityWeights(docs: DataFrame): (Array[(Long, Long)], Long) = {
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.linalg.Vectors
    val spark = docs.sparkSession
    import spark.implicits._
    val labeled = quality(docs)
      .select(col("doc_id"), (col("quality") >= QualityMin).cast("double").as("label"))
    val split = trainSplit(docs).filter(col("split") === "train").select("doc_id")
    val feats = docs
      .select(col("doc_id"), explode(words).as("word"))
      .withColumn(
        "bucket",
        expr(s"CAST(conv(substr(md5(word), 1, 8), 16, 10) AS BIGINT) % $ModelBuckets"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        collect_list(struct(col("bucket"), col("c"))).as("bc"),
        sum("c").as("n"))
    val nb = ModelBuckets
    val train = feats
      .join(split, Seq("doc_id"))
      .join(labeled, Seq("doc_id"))
      .select(col("label"), col("bc"), col("n"))
      .as[(Double, Seq[(Long, Long)], Long)]
      .map { case (label, bc, n) =>
        val sorted = bc.sortBy(_._1)
        (label, Vectors.sparse(
          nb,
          sorted.map(_._1.toInt).toArray,
          sorted.map(_._2.toDouble / n).toArray))
      }
      .toDF("label", "features")
    val model = new LogisticRegression()
      .setMaxIter(100)
      .setRegParam(1e-4)
      .setStandardization(false)
      .fit(train)
    val w = Array.tabulate(ModelBuckets)(i =>
      (i.toLong, math.round(model.coefficients(i) * 1000)))
    (w, math.round(model.intercept * 1000))
  }

  // ---------------------------------------------------------------
  // Unicode NFC normalization
  // ---------------------------------------------------------------

  /** Plant deterministic DECOMPOSED suffixes on md5-selected docs.
    * The synthetic corpus is pure ASCII (NFC = identity there), so the
    * registered query manufactures the thing the operator exists for —
    * visually-identical strings whose accents arrive decomposed (e +
    * U+0301 vs é) — the planted-fixture discipline: the twin replays
    * the planting and normalizes with ITS OWN engine.
    */
  def nfcPlant(docs: DataFrame): DataFrame = {
    val cn = expr(
      "CAST(conv(substr(md5(concat('nfc', CAST(doc_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 4")
    val suffix = when(cn === 0, lit(" cafe\u0301"))
      .when(cn === 1, lit(" Zu\u0308rich"))
      .when(cn === 2, lit(" A\u030A"))
      .otherwise(lit(""))
    docs.select(col("doc_id"), concat(col("text"), suffix).as("raw"))
  }

  /** Unicode NFC normalization — the canonical-composition cleanup a
    * dedup pipeline runs BEFORE hashing (decomposed and precomposed
    * accents are byte-distinct but the same text; unnormalized they
    * defeat exact dedup and split near-dup clusters). Spark ships no
    * NFC expression, so the kernel is the JDK's `java.text.Normalizer`
    * — an implementation of the same public UAX #15 algorithm DuckDB's
    * `nfc_normalize` implements, which is exactly what makes the twin
    * hash-exact. Stateless per-row kernel: no shuffle, scales with the
    * scan; char counts are CODEPOINTS on both sides.
    */
  def nfcNormalize(withRaw: DataFrame): DataFrame = {
    val spark = withRaw.sparkSession
    import spark.implicits._
    withRaw.select(col("doc_id"), col("raw")).as[(Long, String)]
      .mapPartitions(_.map { case (id, raw) =>
        val nfc = java.text.Normalizer.normalize(raw, java.text.Normalizer.Form.NFC)
        (id, raw.codePointCount(0, raw.length), nfc,
          nfc.codePointCount(0, nfc.length), raw != nfc)
      })
      .toDF("doc_id", "n_chars_raw", "text_nfc", "n_chars_nfc", "changed")
  }

  // ---------------------------------------------------------------
  // Bigram language-model perplexity (the CCNet-style LM filter)
  // ---------------------------------------------------------------

  /** Stored-LM bigram budget: the pruning tier keeps the top
    * `LmTopBigrams` bigrams by (count desc, w1, w2) — the KenLM-
    * pruning analogue that makes the persisted artifact bounded BY
    * CONSTRUCTION regardless of corpus size, so scoring against a
    * stored model is a broadcast probe, never a join. The unigram
    * tier is NOT pruned: it is the vocabulary, bounded by the
    * language, and keeping it whole preserves the c12 <= c1 invariant
    * that makes every per-bigram logprob non-negative.
    */
  val LmTopBigrams = 4096

  /** LM "fit": bigram counts, unigram counts, and the vocabulary size
    * over `train`. All three stay DataFrames — at 100 TB the
    * self-trained LM is unbounded and scoring JOINS on it (shuffles
    * keyed on the bigram/unigram with map-side combine); only the
    * pruned stored artifact ever reaches the driver. Tokenization is
    * the registry's `split(text, ' ')` (empties kept), so every text
    * face shares one vocabulary convention.
    */
  def lmCounts(train: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val uni = train.select(explode(words).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val bi = train
      .select(words.as("w")).where(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i + 1] AS w2))")).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    (bi, uni, uni.agg(count(lit(1)).as("v_size")))
  }

  /** Top-k bigram pruning — `orderBy.limit` so Spark plans a
    * TakeOrderedAndProject (per-partition top-k + driver merge of k
    * rows), NOT a global sort; ties break on (w1, w2) so the kept set
    * is a pure function of the counts.
    */
  def lmPrune(bi: DataFrame, k: Int = LmTopBigrams): DataFrame =
    bi.orderBy(col("c12").desc, col("w1"), col("w2")).limit(k)

  /** Per-document negative log-likelihood under an add-one-smoothed
    * bigram LM — the CCNet-style perplexity filter (Wenzek et al.
    * 2020, public): lp(w1 w2) = -ln((c12 + 1) / (c1 + V)), quantized
    * to integer micro PER BIGRAM before the doc sum (order-free exact
    * — the [[entropy]] discipline), then one division for the mean
    * and one exp for the perplexity, rounded at 6. Unseen bigrams and
    * unseen context words coalesce to count 0, which is exactly what
    * add-one smoothing is for — so the same expression scores a
    * corpus against ITSELF (every bigram present) or against a model
    * trained on a different window (unseen mass priced by V).
    * Sub-2-word documents carry no bigram evidence: n_bigrams = 0,
    * scores null.
    */
  def lmScoreWith(docs: DataFrame, bi: DataFrame, uni: DataFrame, v: DataFrame): DataFrame = {
    val bg = docs
      .select(col("doc_id"), words.as("w")).where(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS w1, w[i + 1] AS w2))")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val agg = bg
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c1", "c1_u"), Seq("w1"), "left")
      .crossJoin(broadcast(v))
      .select(
        col("doc_id"),
        round(-log(
          (coalesce(col("c12"), lit(0L)) + lit(1L)).cast("double") /
            (coalesce(col("c1_u"), lit(0L)) + col("v_size")).cast("double")) * 1000000)
          .cast("long").as("lp_micro"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        sum("lp_micro").as("nll_micro"))
    docs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("nll_micro"), lit(0L)).as("nll_micro"),
        round(col("nll_micro") / 1e6 / col("n_bigrams"), 6).as("avg_nll"),
        round(exp(col("nll_micro") / 1e6 / col("n_bigrams")), 6).as("ppl"))
  }

  /** Self-trained LM score: the corpus priced under its own bigram
    * distribution — the gibberish/boilerplate read (a doc of globally
    * rare transitions scores high-perplexity even when every WORD is
    * common).
    */
  def lmScore(docs: DataFrame): DataFrame = {
    val (bi, uni, v) = lmCounts(docs)
    lmScoreWith(docs, bi, uni, v)
  }

  /** Persist an LM artifact: pruned bigram tier, full unigram tier,
    * one meta row carrying the TRAINING vocabulary size (V must be
    * the trained vocabulary, not the pruned table's row count — the
    * smoothing denominator is a property of the fit).
    */
  def saveLm(
      spark: SparkSession,
      path: String,
      bi: DataFrame,
      uni: DataFrame,
      v: Long): Unit = {
    import spark.implicits._
    lmPrune(bi).coalesce(1).write.mode("overwrite").parquet(s"$path/bigrams")
    uni.coalesce(1).write.mode("overwrite").parquet(s"$path/unigrams")
    Seq(v).toDF("v_size").coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Load an LM artifact into broadcast-ready maps. The collect here
    * is the artifact contract: bigrams capped at [[LmTopBigrams]] by
    * [[saveLm]], unigrams vocabulary-bounded — kilobytes to megabytes
    * by construction, never corpus-sized.
    */
  def loadLm(spark: SparkSession, path: String): (Map[(String, String), Long], Map[String, Long], Long) = {
    val bi = spark.read.parquet(s"$path/bigrams").collect()
      .map(r => ((r.getAs[String]("w1"), r.getAs[String]("w2")), r.getAs[Long]("c12"))).toMap
    val uni = spark.read.parquet(s"$path/unigrams").collect()
      .map(r => ((r.getAs[String]("w"), r.getAs[Long]("c1")))).toMap
    val v = spark.read.parquet(s"$path/meta").collect().head.getAs[Long]("v_size")
    (bi, uni, v)
  }

  /** The per-document scoring kernel shared by the stored-model batch
    * face and the streaming face: same split (empties kept), same
    * per-bigram micro quantization (BigDecimal HALF_UP — Spark
    * `round`'s rule), same coalesce-to-zero smoothing probes as the
    * join path, so kernel ≡ join bit-for-bit (LmSpec pins it).
    */
  def lmScoreKernel(
      text: String,
      bi: Map[(String, String), Long],
      uni: Map[String, Long],
      v: Long): (Long, Long) = {
    val w = text.split(" ", -1)
    var n = 0L
    var nll = 0L
    var i = 0
    while (i < w.length - 1) {
      val c12 = bi.getOrElse((w(i), w(i + 1)), 0L)
      val c1 = uni.getOrElse(w(i), 0L)
      val lp = -math.log((c12 + 1L).toDouble / (c1 + v).toDouble) * 1000000d
      nll += BigDecimal(lp).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
      n += 1L
      i += 1
    }
    (n, nll)
  }

  /** Score `docs` against a LOADED (pruned, frozen) LM artifact — the
    * production filter shape: the model ships in a broadcast, scoring
    * is one stateless partition-parallel pass with ZERO shuffles
    * (compare the self-trained path's two count shuffles + two probe
    * joins), and per-doc cost is independent of corpus size.
    */
  def lmScoreStored(
      docs: DataFrame,
      bi: Map[(String, String), Long],
      uni: Map[String, Long],
      v: Long): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val biB = spark.sparkContext.broadcast(bi)
    val uniB = spark.sparkContext.broadcast(uni)
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val (n, nll) = lmScoreKernel(text, biB.value, uniB.value, v)
        val avg =
          if (n == 0L) None
          else Some(BigDecimal(nll.toDouble / 1e6 / n.toDouble)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        val ppl =
          if (n == 0L) None
          else Some(BigDecimal(math.exp(nll.toDouble / 1e6 / n.toDouble))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        (id, n, nll, avg, ppl)
      })
      .toDF("doc_id", "n_bigrams", "nll_micro", "avg_nll", "ppl")
  }
}
