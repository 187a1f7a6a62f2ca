package graft

import graft.operators.{Corpus, Dedup}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-level operators: dedup clustering, decontamination,
  * vocabulary, TF-IDF, stratified sampling.
  */
class CorpusSpec extends AnyFunSuite {

  private def docsDf(rows: Seq[(Long, String, String, String)]) = {
    val spark = TestSpark.spark
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
  }

  // Three near-identical docs (one token differs out of 12 — Jaccard
  // well above 0.5 pairwise), one unrelated doc, one short doc.
  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda"
  private val clusterFixture = Seq(
    (1L, s"$base mu", "en", "web"),
    (2L, s"$base nu", "en", "web"),
    (3L, s"$base xi", "en", "web"),
    (7L, "one two three four five six seven eight nine ten eleven twelve", "en", "web"),
    (9L, "tiny", "en", "web"))

  test("dedupClusters: transitive near-dups collapse to min-id cluster; singletons stay") {
    val out = Corpus.dedupClusters(docsDf(clusterFixture))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((1L, 3L, true)))
    assert(out(2L) == ((1L, 3L, false)))
    assert(out(3L) == ((1L, 3L, false)))
    assert(out(7L) == ((7L, 1L, true)))
    assert(out(9L) == ((9L, 1L, true)))
  }

  test("dedupExport: one row per canonical with exact size and sorted provenance") {
    val out = Corpus.dedupExport(docsDf(clusterFixture)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(4), r.getString(5)))).toMap
    assert(out.keySet == Set(1L, 7L, 9L), "only canonicals survive the export")
    assert(out(1L) == ((3L, "1,2,3")), "near-dup trio exports under min-id with full provenance")
    assert(out(7L) == ((1L, "7")) && out(9L) == ((1L, "9")), "singletons export themselves")
  }

  test("dedupExportBest: the quality argmax survives, not the min id; singletons stay") {
    // doc 3 is doc 1 plus the stopword "the" (shingle superset,
    // Jaccard 10/12): its stopword factor (1/13*5+0.5) beats siblings
    // 1 and 2 (0 stopwords, floor 0.5), so the quality argmax of the
    // {1,2,3} cluster is 3 — an id-ordered export would wrongly ship
    // doc 1.
    val fixture = Seq(
      (1L, s"$base mu", "en", "web"),
      (2L, s"$base nu", "en", "web"),
      (3L, s"$base mu the", "en", "web"),
      (7L, "one two three four five six seven eight nine ten eleven twelve", "en", "web"),
      (9L, "tiny", "en", "web"))
    val out = Corpus.dedupExportBest(docsDf(fixture)).collect()
      .map(r => r.getLong(1) -> ((r.getLong(0), r.getLong(2), r.getBoolean(4))))
      .toMap
    assert(out.keySet == Set(1L, 7L, 9L), "one survivor per cluster, keyed by label")
    assert(out(1L) == ((3L, 3L, true)), "quality argmax survives and is flagged displaced")
    assert(out(7L) == ((7L, 1L, false)) && out(9L) == ((9L, 1L, false)),
      "singletons survive themselves, undisplaced")
  }

  test("qualityEval: zero-weight classifier reduces to the bias verdict; exact confusion counts") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = docsDf(clusterFixture)
    val zeros = spark.range(graft.operators.TextStats.ModelBuckets.toLong)
      .toDF("bucket").withColumn("weight_milli", lit(0L))
    // expected labels and splits from the already-verified operators
    val label = graft.operators.TextStats.quality(df)
      .select(col("doc_id"), (col("quality") >= graft.operators.TextStats.QualityMin).as("l"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val split = graft.operators.TextStats.trainSplit(df)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    def expect(keepAll: Boolean) =
      split.groupBy(_._2).map { case (s, m) =>
        val labs = m.keys.toSeq.map(label)
        val (t, f) = (labs.count(identity).toLong, labs.count(!_).toLong)
        s -> (if (keepAll) (m.size.toLong, t, f, 0L, 0L)
              else (m.size.toLong, 0L, 0L, t, f))
      }
    def got(biasMilli: Long) =
      graft.operators.TextStats.qualityEval(df, zeros, biasMilli).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        .toMap
    assert(got(1L) == expect(keepAll = true), "positive bias keeps everything: fp = false labels")
    assert(got(-1L) == expect(keepAll = false), "negative bias drops everything: fn = true labels")
  }

  test("qualityHealth: one verdict row ALWAYS emerges; a missing split forces retrain") {
    val spark = TestSpark.spark
    import spark.implicits._
    val zeros = spark.range(graft.operators.TextStats.ModelBuckets.toLong)
      .toDF("bucket").withColumn("weight_milli", lit(0L))
    // a corpus with NO test-split docs — the small/skewed-corpus state
    // where the old crossJoin-of-filters verdict silently vanished
    // (60 docs so the md5 decile split reliably populates every split
    // before the test-ids are carved out)
    val full = docsDf((0 until 60).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon word$i tail", "en", "web")))
    val testIds = graft.operators.TextStats.trainSplit(full)
      .filter(col("split") === "test")
      .collect().map(_.getLong(0)).toSet
    val noTest = full.filter(!col("doc_id").isin(testIds.toSeq: _*))
    val rows = graft.operators.TextStats.qualityHealth(noTest, zeros, 1L).collect()
    assert(rows.length === 1, "the monitoring row must never disappear")
    val r = rows(0)
    assert(r.getLong(r.fieldIndex("n_test")) === 0L)
    assert(r.isNullAt(r.fieldIndex("acc_test")))
    assert(r.getBoolean(r.fieldIndex("retrain_recommended")),
      "a missing eval split is an unhealthy state and must recommend retrain")
    // and on the full corpus the row reports both splits
    val ok = graft.operators.TextStats.qualityHealth(full, zeros, 1L).collect()
    assert(ok.length === 1 && ok(0).getLong(ok(0).fieldIndex("n_test")) > 0L)
  }

  test("snapshotDiff: added/removed/changed/unchanged classified per source") {
    val old = docsDf(Seq(
      (1L, "a b", "en", "web"),
      (2L, "c d", "en", "web"),
      (3L, "e f", "en", "news")))
    val nw = docsDf(Seq(
      (2L, "c d", "en", "web"),
      (3L, "e f CHANGED", "en", "news"),
      (4L, "g h", "en", "web")))
    val out = Corpus.snapshotDiff(old, nw).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("web", "removed") -> 1L,
      ("web", "unchanged") -> 1L,
      ("web", "added") -> 1L,
      ("news", "changed") -> 1L))
  }

  test("snapshotDiffNear: re-renders the exact diff misclassifies reclassify as near_changed") {
    val spark = TestSpark.spark
    // six 30-word docs with disjoint vocabularies — cross-doc Jaccard
    // ~0, so only a planted re-render can pair
    def words(tag: String) = (0 until 30).map(i => s"$tag$i").mkString(" ")
    val old = docsDf(Seq(
      (1L, words("keep"), "en", "web"),
      (2L, words("render"), "en", "web"),
      (3L, words("rewrite"), "en", "web"),
      (4L, words("moved"), "en", "web"),
      (5L, words("gone"), "en", "web"),
      (6L, words("also"), "en", "web")))
    val nw = docsDf(Seq(
      (1L, words("keep"), "en", "web"),
      (2L, words("render") + " v2", "en", "web"), // re-render in place
      (3L, words("totally"), "en", "web"), // real rewrite
      (6L, words("also"), "en", "web"),
      (100L, words("moved") + " v2", "en", "web"), // re-render, NEW id
      (200L, words("novel"), "en", "web"))) // genuinely new
    // THE MISS, pinned: the exact diff reads the in-place re-render as
    // `changed` and the new-id re-render as `removed` + `added` —
    // indistinguishable from real churn
    val exact = Corpus.snapshotDiff(old, nw).collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(exact === Map(
      "unchanged" -> 2L, "changed" -> 2L, "removed" -> 2L, "added" -> 2L),
      s"exact diff fixture drifted: $exact")
    // THE CATCH: probing the old release's stored signature base
    // reclassifies doc 2 (changed→near), docs 4 and 100 (the
    // removed+added rename pair→near); the real rewrite, real
    // removal, and real addition keep their classes
    val t = s"diffnear_spec_${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"
    graft.sinks.Sinks.writeNearDupBase(old.select("doc_id", "text"), t)
    try {
      val near = Corpus.snapshotDiffNear(spark, t, old, nw).collect()
        .map(r => r.getString(1) -> r.getLong(2)).toMap
      assert(near === Map(
        "unchanged" -> 2L, "near_changed" -> 3L,
        "changed" -> 1L, "removed" -> 1L, "added" -> 1L),
        s"near diff wrong: $near")
    } finally spark.sql(s"DROP TABLE IF EXISTS $t")
    graft.operators.CacheScope.releaseAll()
  }

  test("dedupClusters: every cluster label is a member doc_id and the component min") {
    val rows = Corpus.dedupClusters(docsDf(clusterFixture)).collect()
    val ids = rows.map(_.getLong(0)).toSet
    rows.foreach { r =>
      assert(ids.contains(r.getLong(1)), "label must be a real doc_id")
      assert(r.getLong(1) <= r.getLong(0), "label must be the component min")
    }
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (label, members) =>
      assert(members.map(_.getLong(0)).min == label)
      assert(members.forall(_.getLong(2) == members.length))
      assert(members.count(_.getBoolean(3)) == 1)
    }
  }

  test("dedupClusters: the loop's AQE override never touches the caller's session conf") {
    val spark = TestSpark.spark
    val pfKey = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    assert(!spark.conf.getAll.contains(pfKey), "fixture: key must start unset")
    // poll the CALLER's conf from another thread for the whole run: the
    // propagation loop plans on a child session, so no mid-loop moment
    // may show the flipped value here (the leak the old set/restore
    // pattern had between its set and its finally)
    @volatile var done = false
    @volatile var observed = Option.empty[String]
    val watcher = new Thread(() => {
      while (!done) {
        spark.conf.getAll.get(pfKey).foreach(v => observed = Some(v))
        Thread.sleep(5)
      }
    })
    watcher.start()
    try {
      val out = Corpus.dedupClusters(docsDf(clusterFixture)).collect()
      assert(out.length == 5)
    } finally { done = true; watcher.join() }
    assert(observed.isEmpty, s"caller-session conf observed mid-loop: $observed")
    assert(!spark.conf.getAll.contains(pfKey), "key must end unset")
    // and an explicitly-set caller value survives the run untouched
    spark.conf.set(pfKey, "true")
    try {
      Corpus.dedupClusters(docsDf(clusterFixture)).collect()
      assert(spark.conf.get(pfKey) == "true", "explicit caller value clobbered")
    } finally spark.conf.unset(pfKey)
  }

  test("dedupClusters: a configured checkpoint dir routes lineage truncation to reliable storage") {
    val spark = TestSpark.spark
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    assert(sc.getCheckpointDir.isEmpty, "no other test may leave a checkpoint dir set")
    sc.setCheckpointDir(dir.toString)
    try {
      val out = Corpus.dedupClusters(docsDf(clusterFixture)).collect()
      assert(out.length == 5, "results unchanged under reliable checkpointing")
      val written = java.nio.file.Files.walk(dir).filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(written > 0, "reliable checkpoint files written under the configured dir")
      // superseded per-round label checkpoints are deleted as the loop
      // advances (cleanCheckpoints is off by default, so without this
      // every clustering query would leak O(rounds) dirs for the life
      // of the session): only the edge list and the final labels remain
      val rddDirs = java.nio.file.Files.list(dir).iterator()
      val remaining = Iterator.continually(rddDirs)
        .takeWhile(_.hasNext).map(_.next())
        .flatMap(d => {
          val it = java.nio.file.Files.list(d).iterator()
          Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        })
        .count(p => p.getFileName.toString.startsWith("rdd-"))
      assert(remaining <= 2, s"superseded round checkpoints must be deleted (found $remaining rdd-* dirs)")
    } finally {
      // restore the shared session: SparkContext has no public unset,
      // and every later dedupClusters test should run on localCheckpoint
      val f = classOf[org.apache.spark.SparkContext].getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(sc, None)
    }
  }

  test("CacheScope.withScope: scoped persists release on exit, outer persists survive") {
    import graft.operators.CacheScope
    import org.apache.spark.storage.StorageLevel
    val spark = TestSpark.spark
    import spark.implicits._
    val outer = CacheScope.persist(Seq(1, 2).toDF("x"))
    outer.count()
    val inner = CacheScope.withScope {
      val df = CacheScope.persist(Seq(3, 4).toDF("y"))
      df.count()
      assert(df.storageLevel != StorageLevel.NONE, "persisted inside the scope")
      df
    }
    assert(inner.storageLevel == StorageLevel.NONE, "scope exit unpersists its frames")
    assert(outer.storageLevel != StorageLevel.NONE, "outer registration untouched by the scope")
    CacheScope.releaseAll()
    assert(outer.storageLevel == StorageLevel.NONE)
  }

  test("CacheScope.withScope: a plan-equal frame registered elsewhere survives scope exit") {
    import graft.operators.CacheScope
    import org.apache.spark.storage.StorageLevel
    val spark = TestSpark.spark
    import spark.implicits._
    // The decontaminate/nearDupPairs sharing scenario: a globally
    // registered persist and a scoped persist over the SAME plan share
    // one CacheManager entry (unpersist evicts by plan equality, not
    // Dataset identity) — scope exit must not evict the shared entry.
    val base = Seq(1, 2, 3).toDF("x")
    val global = CacheScope.persist(base.select((col("x") * 2).as("y")))
    global.count()
    CacheScope.withScope {
      val scoped = CacheScope.persist(base.select((col("x") * 2).as("y")))
      scoped.count()
      assert(scoped.storageLevel != StorageLevel.NONE)
    }
    assert(global.storageLevel != StorageLevel.NONE,
      "scope exit must not evict a plan-equal globally-registered entry")
    CacheScope.releaseAll()
    assert(global.storageLevel == StorageLevel.NONE)
  }

  test("CacheScope: a pre-existing RAW caller persist survives scope exit and releaseAll") {
    import graft.operators.CacheScope
    import org.apache.spark.storage.StorageLevel
    val spark = TestSpark.spark
    import spark.implicits._
    // The residual gap the scaladoc used to only document: the caller
    // persists a frame OUTSIDE CacheScope, then a scoped operator
    // persists a plan-equal frame. persist() must consult the
    // CacheManager, dedupe onto the caller's entry WITHOUT registering
    // it, and leave it alone at scope exit and releaseAll.
    val mine = Seq(5, 6, 7).toDF("x").select((col("x") + 1).as("y"))
    mine.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      mine.count()
      CacheScope.withScope {
        val scoped = CacheScope.persist(Seq(5, 6, 7).toDF("x").select((col("x") + 1).as("y")))
        scoped.count()
        assert(scoped.storageLevel != StorageLevel.NONE, "reuses the caller's cache entry")
      }
      assert(mine.storageLevel != StorageLevel.NONE,
        "scope exit evicted the caller's raw persist")
      CacheScope.releaseAll()
      assert(mine.storageLevel != StorageLevel.NONE,
        "releaseAll evicted the caller's raw persist")
    } finally mine.unpersist(blocking = true)
  }

  test("decontaminate: an exact copy of a benchmark doc is fully contaminated") {
    // doc 29 is benchmark (29 % 29 == 0); doc 30 copies it verbatim,
    // doc 31 shares nothing, doc 32 is too short to shingle.
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val out = Corpus.decontaminate(docsDf(Seq(
      (29L, txt, "en", "web"),
      (30L, txt, "en", "web"),
      (31L, "completely different words with zero overlap whatsoever here now", "en", "web"),
      (32L, "to short", "en", "web"))))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(29L), "benchmark docs are excluded from the output")
    assert(out(30L).getDouble(3) == 1.0 && out(30L).getBoolean(4))
    assert(out(31L).getLong(2) == 0L && !out(31L).getBoolean(4))
    assert(out(32L).getLong(1) == 0L && out(32L).getDouble(3) == 0.0 && !out(32L).getBoolean(4))
  }

  test("decontaminate(docs, benchDocs): external path agrees with the corpus-derived stand-in") {
    // Splitting the same fixture by `% BenchmarkMod` and feeding the
    // two halves through the external-table overload must reproduce the
    // stand-in path exactly — the overlap math is shared, only the
    // benchmark's origin differs.
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val all = docsDf(Seq(
      (29L, txt, "en", "web"),
      (30L, txt, "en", "web"),
      (31L, "completely different words with zero overlap whatsoever here now", "en", "web"),
      (32L, "to short", "en", "web")))
    val mod = Corpus.BenchmarkMod
    val standIn = Corpus.decontaminate(all)
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    val external = Corpus.decontaminate(
      all.filter(col("doc_id") % mod =!= 0),
      all.filter(col("doc_id") % mod === 0))
      .collect().map(r => r.getLong(0) -> r.toSeq).toMap
    assert(external == standIn)
  }

  test("decontaminate(docs, benchDocs): a corpus doc that IS a benchmark doc scores 1.0") {
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val docs = docsDf(Seq(
      (1L, txt, "en", "web"),
      (2L, "completely different words with zero overlap whatsoever here now", "en", "web")))
    val bench = docsDf(Seq((100L, txt, "en", "web")))
    val out = Corpus.decontaminate(docs, bench)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getDouble(3) == 1.0 && out(1L).getBoolean(4))
    assert(out(2L).getLong(2) == 0L && !out(2L).getBoolean(4))
  }

  test("docPipeline: one shared explode yields cluster labels, contamination, and keep verdict") {
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val out = Corpus.docPipeline(docsDf(clusterFixture ++ Seq(
      (29L, txt, "en", "web"), // benchmark doc (29 % 29 == 0)
      (30L, txt, "en", "web")))) // verbatim copy -> contaminated AND clustered with 29
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(29L), "benchmark docs are excluded from the verdict")
    // cluster side agrees with the standalone operator
    assert(out(1L).getLong(1) == 1L && out(1L).getBoolean(3))
    assert(out(2L).getLong(1) == 1L && !out(2L).getBoolean(3))
    assert(out(3L).getLong(1) == 1L)
    assert(out(30L).getLong(1) == 29L && !out(30L).getBoolean(3),
      "the benchmark doc still participates in clustering even though it is excluded from output")
    // contamination side agrees with the standalone operator
    assert(out(30L).getBoolean(7), "verbatim benchmark copy flagged contaminated")
    assert(!out(1L).getBoolean(7))
    // combined verdict: canonical AND clean
    assert(out(1L).getBoolean(8) && out(7L).getBoolean(8) && out(9L).getBoolean(8))
    assert(!out(2L).getBoolean(8) && !out(3L).getBoolean(8) && !out(30L).getBoolean(8))
  }

  test("extractText: shingles of extracted HTML match the plain-text equivalent") {
    val spark = TestSpark.spark
    import graft.operators.TextStats
    // entity-bearing prose: the wrap escapes it, the extraction must
    // decode it back — and the page chrome (script with '<' and a
    // quoted string, style with a CSS comment, HTML comment,
    // attribute-bearing tags) must contribute no words at all
    val docs = docsDf(Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", "en", "web"),
      (2L, "profit & loss < revenue > cost said the report", "en", "web"),
      (3L, "one two three four five six seven", "en", "web")))
    val extracted = TextStats.extractText(TextStats.wrapHtml(docs))
      .withColumn("n_chars", length(col("text")))
    val exRows = extracted.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(exRows(1L) == "alpha beta gamma delta epsilon zeta eta theta")
    assert(exRows(2L) == "profit & loss < revenue > cost said the report",
      s"entities must decode back: '${exRows(2L)}'")
    assert(!exRows.values.exists(t => t.contains("skip me") || t.contains("color")),
      "script/style bodies leaked into extracted text")
    val shEx = Dedup.shingles(extracted)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val shPlain = Dedup.shingles(docs)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(shEx == shPlain,
      "shingles of extracted pages must equal the plain-text shingles")
  }

  test("verdictSignals: fused single-scan signals bit-equal the three standalone operators") {
    val spark = TestSpark.spark
    // fixture spanning the edge cases: stopword-rich prose, zero
    // stopwords, planted PII, a repetitive doc, a single-word doc
    // (no bigrams), and punctuation-heavy text
    val docs = docsDf(clusterFixture ++ Seq(
      (41L, "the cat and the dog and the cat sat", "en", "web"),
      (42L, "contact me at bob@example.com or call 12345678 now", "en", "web"),
      (43L, "spam spam spam spam spam spam spam spam", "en", "web"),
      (44L, "word", "en", "web"),
      (45L, "!!! ??? ### $$$ %%% madness... 42!", "en", "web")))
    import graft.operators.TextStats
    val fused = TextStats.verdictSignals(docs)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val expected = TextStats.quality(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality"))
      .join(TextStats.piiScrub(docs).select(col("doc_id"), col("n_emails"), col("n_longnums")), "doc_id")
      .join(TextStats.repetition(docs).select(col("doc_id"), col("top_bigram_frac")), "doc_id")
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(fused.keySet == expected.keySet)
    for ((id, exp) <- expected)
      assert(fused(id) == exp, s"doc $id: fused ${fused(id)} != standalone $exp")
    graft.operators.CacheScope.releaseAll()
  }

  test("docPipelineFull: the complete verdict applies reason precedence per document") {
    val txt = "the quick brown fox jumps over the lazy dog again and again"
    val out = Corpus.docPipelineFull(docsDf(clusterFixture ++ Seq(
      (29L, txt, "en", "web"), // benchmark doc (29 % 29 == 0)
      (30L, txt, "en", "web")))) // verbatim copy: dup AND contaminated -> dup wins
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(!out.contains(29L), "benchmark docs are excluded from the verdict")
    def reason(id: Long) = out(id).getString(out(id).fieldIndex("reason"))
    def keep(id: Long) = out(id).getBoolean(out(id).fieldIndex("keep"))
    assert(reason(2L) == "dup" && !keep(2L))
    assert(reason(3L) == "dup")
    assert(reason(30L) == "dup", "dup precedes contaminated in the precedence order")
    assert(out(30L).getBoolean(out(30L).fieldIndex("contaminated")))
    assert(reason(9L) == "too_short", "'tiny' is 1 token")
    // canonical, clean, long-enough docs with no stopwords fail quality
    // (the composite runs every signal, not just the shingle-fed ones)
    assert(reason(1L) == "low_quality" && !keep(1L))
    assert(out.values.forall(r =>
      r.getBoolean(r.fieldIndex("keep")) == (r.getString(r.fieldIndex("reason")) == "keep")))
  }

  test("funnel variants agree as leg subsets: a shared gate codes alike, an added one only outranks") {
    import graft.operators.CacheScope
    val (bi, uni, v) = FunnelFixture.lm
    val docs = FunnelFixture.docs
    val emb = FunnelFixture.emb
    def reasons(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
      df.select("doc_id", "reason").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val full = Set("dup", "contaminated", "too_short", "low_quality", "repetitive")
    val v2 = full ++ Set("semantic_contaminated", "dup_spans")
    val v3 = v2 ++ Set("bad_source", "high_perplexity")
    val v4 = v3 + "wrong_language"
    val variants = Seq(
      full -> reasons(Corpus.docPipelineFull(docs)),
      v2 -> reasons(Corpus.docPipelineFullV2(docs, emb)),
      v3 -> reasons(Corpus.docPipelineFullV3(docs, emb, bi, uni, v)),
      v4 -> reasons(Corpus.docPipelineFullV4(docs, emb, bi, uni, v)))
    CacheScope.releaseAll()
    def rank(code: String) = Corpus.Precedence.indexOf(code)
    for (((codesA, a), (codesB, b)) <- variants.zip(variants.tail)) {
      assert(a.keySet == b.keySet, "every variant codes the same documents")
      for ((id, rb) <- b) {
        val ra = a(id)
        if (rb == "keep" || codesA(rb))
          assert(ra == rb, s"doc $id: '$rb' is a gate both variants run, yet the smaller one says '$ra'")
        else
          assert(ra == "keep" || rank(ra) > rank(rb),
            s"doc $id: the added gate '$rb' must outrank the smaller variant's '$ra'")
      }
      for (g <- codesB -- codesA)
        assert(b.exists { case (id, rb) => rb == g && a(id) != g },
          s"the added gate '$g' changes no document's reason: $b")
    }
  }

  test("funnel legs persist into the caller's cache scope, not the session-global registry") {
    import graft.operators.CacheScope
    CacheScope.releaseAll()
    val before = CacheScope.registeredCount
    val docs = docsDf(clusterFixture)
    CacheScope.withScope { Corpus.docPipelineFull(docs).count() }
    assert(CacheScope.registeredCount === before,
      "docPipelineFull's legs leaked persists into the session-global registry")
    val (bi, uni, v) = FunnelFixture.lm
    val path = java.nio.file.Files.createTempDirectory("export_scope_").toString
    Corpus.pipelineExport(FunnelFixture.docs, FunnelFixture.emb, bi, uni, v, path)
    assert(CacheScope.registeredCount === before,
      "pipelineExport leaked funnel persists into the session-global registry")
  }

  test("every job of one v4 funnel call is described by its leg or the cluster stage") {
    val sc = TestSpark.spark.sparkContext
    val (bi, uni, v) = FunnelFixture.lm
    val docs = FunnelFixture.docs
    val emb = FunnelFixture.emb
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((
          e.properties.getProperty("spark.job.description"),
          e.properties.getProperty("spark.jobGroup.id")))
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup("funnel-spec", "caller's group")
    try Corpus.docPipelineFullV4(docs, emb, bi, uni, v)
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerDrain(sc)
      sc.removeSparkListener(listener)
      graft.operators.CacheScope.releaseAll()
    }
    import scala.jdk.CollectionConverters._
    val seen = jobs.asScala.toSeq
    val legs = Seq("decontaminate", "semantic", "signals", "spans", "lm", "source", "lang")
    val expected = ("doc_pipeline_full_v4 clusters" +: legs.map(l => s"doc_pipeline_full_v4 leg $l")).toSet
    assert(seen.nonEmpty)
    assert(seen.forall { case (desc, _) => expected(desc) },
      s"undescribed jobs: ${seen.map(_._1).filterNot(expected).distinct}")
    assert(seen.map(_._1).toSet == expected, "every leg and the cluster stage run jobs")
    assert(seen.forall { case (_, group) => group == "funnel-spec" }, "the caller's job group stays")
  }

  test("vocab: rank 1 is the highest-document-frequency word; ranks are dense") {
    val out = Corpus.vocab(docsDf(Seq(
      (1L, "apple banana", "en", "web"),
      (2L, "apple cherry", "en", "web"),
      (3L, "apple banana", "en", "web"))))
      .orderBy("rank").collect()
    assert(out.head.getString(1) == "apple")
    assert(out.head.getLong(2) == 3L)
    assert(out.map(_.getInt(0)).toSeq == (1 to out.length))
    // banana (df 2) before cherry (df 1)
    assert(out.map(_.getString(1)).indexOf("banana") < out.map(_.getString(1)).indexOf("cherry"))
  }

  test("tfidf: a word unique to one doc outranks corpus-wide words") {
    val out = Corpus.tfidf(docsDf(Seq(
      (1L, "shared shared unique", "en", "web"),
      (2L, "shared shared common", "en", "web"),
      (3L, "shared shared common", "en", "web"))))
      .filter(col("doc_id") === 1L).orderBy("rn").collect()
    assert(out.head.getString(1) == "unique", s"got ${out.head}")
    // 'shared' appears in every doc: idf = ln(1) = 0
    val shared = out.find(_.getString(1) == "shared").get
    assert(shared.getDouble(4) == 0.0)
  }

  test("bm25Top: rare terms outrank ubiquitous ones; longer docs are length-penalized") {
    val out = Corpus.bm25Top(docsDf(Seq(
      (1L, "shared shared unique", "en", "web"),
      (2L, "shared shared common", "en", "web"),
      (3L, "shared shared common", "en", "web"))))
      .collect().map(r => (r.getLong(0), r.getInt(5)) -> (r.getString(1), r.getDouble(4))).toMap
    assert(out((1L, 1))._1 == "unique", "the hapax must top its document")
    assert(out((1L, 1))._2 > out((1L, 2))._2)
    // df=3-of-3 'shared' gets the smallest (but still positive) idf
    val shared = out((1L, 2))
    assert(shared._1 == "shared" && shared._2 > 0.0, s"got $shared")

    // length normalization: same term, same tf, longer doc -> lower
    // score (3 distinct words keep 'term' inside the top-3 cut)
    val ln = Corpus.bm25Top(docsDf(Seq(
      (1L, "term alpha", "en", "web"),
      (2L, "term beta beta beta gamma gamma", "en", "web"))))
      .collect().filter(_.getString(1) == "term").map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(ln(1L) > ln(2L), s"length penalty missing: $ln")
  }

  test("substringDedup: overlapping spans merge, touching spans merge, within-doc repeats don't count") {
    // minSpanWords = gram width: the UNFLOORED span algebra under test
    val out = Dedup.substringDedup(minSpanWords = Dedup.SubstrGramN, docs = docsDf(Seq(
      (1L, "a b c d e f", "en", "web"), //        dup grams abc,bcd -> [0,4)
      (2L, "a b c d x y", "en", "web"), //        same -> [0,4)
      (3L, "z z z q r s", "en", "web"), //        nothing shared -> clean
      (4L, "a b c q q q b c d", "en", "web"), //  abc@0, bcd@6 -> two spans
      (5L, "m n o p q r", "en", "web"), //        mno@0, pqr@3 touch -> one span [0,6)
      (6L, "m n o x x x p q r", "en", "web"))))//mno@0, pqr@6 -> two spans
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == ((6L, 1L, 4L, 2L)), s"doc1: ${out(1L)}")
    assert(out(2L) == ((6L, 1L, 4L, 2L)))
    assert(out(3L) == ((6L, 0L, 0L, 6L)), "unshared grams (incl. within-doc repeats) must not mark")
    assert(out(4L) == ((9L, 2L, 6L, 3L)))
    assert(out(5L) == ((6L, 1L, 6L, 0L)), "touching spans [0,3)+[3,6) must merge to one")
    assert(out(6L) == ((9L, 2L, 6L, 3L)))
  }

  test("substringDedup: the span floor drops idiom-length islands, keeps a planted 10-word copy") {
    val idiom = "of the and" // cross-doc 3-gram — web-scale noise
    val passage = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10" // a real copied passage
    val fixture = docsDf(Seq(
      (1L, s"$idiom aaa bbb ccc ddd eee", "en", "web"),
      (2L, s"fff ggg $idiom hhh iii jjj", "en", "web"),
      (3L, s"intro $passage outro1 outro2", "en", "web"),
      (4L, s"$passage tail1 tail2 tail3", "en", "web"),
      (5L, "kkk lll mmm nnn ooo ppp", "en", "web")))
    // unfloored: both the idiom island (3 words) and the copy (10) flag
    val raw = Dedup.substringDedup(fixture, minSpanWords = Dedup.SubstrGramN)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(raw(1L) == 1L && raw(2L) == 1L && raw(3L) == 1L && raw(4L) == 1L)
    // floored (default 8): the idiom no longer flags, the copy still does
    val floored = Dedup.substringDedup(fixture)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(floored(1L) == ((0L, 0L, 8L)), s"idiom flagged: ${floored(1L)}")
    assert(floored(2L) == ((0L, 0L, 8L)), s"idiom flagged: ${floored(2L)}")
    assert(floored(3L) == ((1L, 10L, 3L)), s"copy missed: ${floored(3L)}")
    assert(floored(4L) == ((1L, 10L, 3L)), s"copy missed: ${floored(4L)}")
    assert(floored(5L) == ((0L, 0L, 6L)))
  }

  test("substringSpans: two-level gram-hash filter matches a driver-side reference on a dense corpus") {
    // 40 docs over an 8-word vocabulary — nearly every 3-gram is
    // cross-doc duplicated, so the hash-candidate level is saturated
    // and every code path (candidate semi-join, string confirmation,
    // island merge, floor) is exercised against an INDEPENDENT
    // driver-side implementation.
    val vocab = Array("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    val rnd = new scala.util.Random(42)
    val texts = (0 until 40).map(i => i.toLong ->
      (0 until (6 + rnd.nextInt(20))).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    val n = Dedup.SubstrGramN
    val floor = Dedup.SubstrMinSpanWords
    val allGrams = texts.flatMap { case (id, t) =>
      val w = t.split(" ")
      if (w.length < n) Nil
      else w.sliding(n).zipWithIndex.map { case (g, i) => (id, i, g.mkString(" ")) }.toSeq
    }
    val dup = allGrams.groupBy(_._3).filter(_._2.map(_._1).distinct.size > 1).keySet
    val expected = texts.flatMap { case (id, t) =>
      val marks = allGrams.collect { case (d, p, g) if d == id && dup(g) => (p.toLong, p.toLong + n) }
        .sortBy(_._1)
      val merged = marks.foldLeft(List.empty[(Long, Long)]) {
        case ((s, e) :: rest, (ms, me)) if ms <= e => (s, math.max(e, me)) :: rest
        case (acc, span) => span :: acc
      }.reverse
      merged.filter { case (s, e) => e - s >= floor }.map { case (s, e) => (id, s, e) }
    }.toSet
    val got = Dedup.substringSpans(docsDf(texts.map { case (id, t) => (id, t, "en", "web") }))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expected,
      s"two-level spans diverge from reference: extra=${got -- expected} missing=${expected -- got}")
  }

  test("substringDedup at production width: 20-word grams find a planted 60-word copy in 200-word docs") {
    // long-document fixture at realistic Lee-et-al parameters: ~200
    // unique-word docs, a 60-word passage copied between docs 1 and 2
    // (at different offsets), a 30-word passage shared by docs 3 and 4
    // that the 50-word floor must drop, and a clean doc 5. Filler
    // words are doc-unique, so the planted passages are the ONLY
    // cross-doc grams at any width.
    val copy60 = (1 to 60).map(i => s"copy$i").mkString(" ")
    val copy30 = (1 to 30).map(i => s"short$i").mkString(" ")
    def filler(doc: Int, a: Int, b: Int) = (a until b).map(i => s"d${doc}w$i").mkString(" ")
    val fixture = docsDf(Seq(
      (1L, s"${filler(1, 0, 50)} $copy60 ${filler(1, 50, 140)}", "en", "web"),
      (2L, s"${filler(2, 0, 100)} $copy60 ${filler(2, 100, 140)}", "en", "web"),
      (3L, s"${filler(3, 0, 80)} $copy30 ${filler(3, 80, 170)}", "en", "web"),
      (4L, s"$copy30 ${filler(4, 0, 170)}", "en", "web"),
      (5L, filler(5, 0, 200), "en", "web")))
    val wide = Dedup.substringSpans(
      fixture,
      minSpanWords = Dedup.SubstrMinSpanWordsWide,
      gramN = Dedup.SubstrGramNWide)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the 60-word copy's grams sit at positions p..p+40, merging to
    // exactly the planted [offset, offset+60) island; the 30-word
    // passage never forms a 50-word island and the floor drops it
    assert(wide == Set((1L, 50L, 110L), (2L, 100L, 160L)),
      s"wide spans diverge from the planted copies: $wide")
    // unfloored at the same width, the 30-word passage IS found — the
    // width finds it, the floor (not the gram) was what dropped it
    val unfloored = Dedup.substringSpans(
      fixture,
      minSpanWords = Dedup.SubstrGramNWide,
      gramN = Dedup.SubstrGramNWide)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(unfloored.contains((3L, 80L, 110L)) && unfloored.contains((4L, 0L, 30L)),
      s"30-word passage missed at width 20 unfloored: $unfloored")
    // and the report/scrub plumbing carries the parameters through
    val report = Dedup.substringDedup(
      fixture, Dedup.SubstrMinSpanWordsWide, Dedup.SubstrGramNWide)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(report(1L) == ((1L, 60L)) && report(2L) == ((1L, 60L)))
    assert(report(3L) == ((0L, 0L)) && report(5L) == ((0L, 0L)))
    val scrub = Dedup.substringScrub(
      fixture, Dedup.SubstrMinSpanWordsWide, Dedup.SubstrGramNWide)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(scrub(1L) == s"${filler(1, 0, 50)} ${filler(1, 50, 140)}",
      "wide scrub must slice exactly the planted copy")
    assert(scrub(3L).contains("short1"), "floored span must survive the scrub")
  }

  test("substringScrub: duplicated spans slice out; kept_words equals the report; floor respected") {
    val passage = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val fixture = docsDf(Seq(
      (1L, s"intro $passage outro1 outro2", "en", "web"),
      (2L, s"$passage tail1 tail2 tail3", "en", "web"),
      (3L, "of the and aaa bbb ccc ddd eee", "en", "web"),
      (4L, "fff ggg of the and hhh iii jjj", "en", "web"),
      (5L, "kkk lll mmm nnn ooo ppp", "en", "web")))
    val out = Dedup.substringScrub(fixture)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, "intro outro1 outro2")), s"got ${out(1L)}")
    assert(out(2L) == ((3L, "tail1 tail2 tail3")), s"got ${out(2L)}")
    // idiom-length islands stay under the floor: text untouched
    assert(out(3L)._2 == "of the and aaa bbb ccc ddd eee")
    assert(out(4L)._2 == "fff ggg of the and hhh iii jjj")
    assert(out(5L)._2 == "kkk lll mmm nnn ooo ppp")
    // kept_words agrees with the report for every doc
    val report = Dedup.substringDedup(fixture)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    out.foreach { case (id, (kept, _)) =>
      assert(kept == report(id), s"scrub/report kept_words disagree at doc $id")
    }
  }

  test("epochOrder: a permutation, curriculum-banded, epoch-stable, banded == naive order") {
    val good = ("the cat sat on the mat and it was a fine day here " * 5).trim
    val mid = "one two three four five six seven eight nine ten"
    val spam = ("$$$ ### !!! %% @@ ## " * 6).trim
    val fixture = docsDf((0 until 30).map { i =>
      (i.toLong, i % 3 match { case 0 => good; case 1 => mid; case _ => spam }, "en", "web")
    })
    val out = Corpus.epochOrder(fixture).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
    // order_idx is a permutation of 0..n-1
    assert(out.map(_._4).sorted.toSeq == (0L until 30L), "not a permutation")
    // curriculum: every higher-band doc orders before every lower-band doc
    out.foreach { a => out.foreach { b =>
      if (a._2 > b._2) assert(a._4 < b._4, s"band ${a._2} doc after band ${b._2} doc")
    }}
    // within a band the order is exactly (md5 key, doc_id) — the
    // banded two-level construction equals the naive global sort
    val naive = out.sortBy(r => (-r._2, r._3, r._1)).map(_._1).toSeq
    assert(out.sortBy(_._4).map(_._1).toSeq == naive, "banded != naive order")
    // epoch-stable: a rerun reproduces the identical assignment
    val again = Corpus.epochOrder(fixture).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    out.foreach { r => assert(again(r._1) == r._4, s"order moved for doc ${r._1}") }
  }

  test("trained quality weights separate planted good/garbage docs at least as well as the stand-in") {
    import graft.operators.TextStats
    val spark = TestSpark.spark
    import spark.implicits._
    // planted corpus: natural stopword-rich prose (heuristic quality
    // ~1) vs punctuation/digit spam (heuristic quality < QualityMin) —
    // ids interleaved so the md5 train split holds both classes
    val goodText = ("the cat sat on the mat and it was a fine day " * 5).trim
    val spamText = ("$$$ ### 12345 !!! %% 678 @@ " * 6).trim
    val fixture = docsDf((0 until 80).map { i =>
      (i.toLong, if (i % 2 == 0) goodText else spamText, "en", "web")
    })
    val (w, bias) = TextStats.trainQualityWeights(fixture)
    assert(w.length == TextStats.ModelBuckets, "weight table must cover every bucket")
    def separation(scored: org.apache.spark.sql.DataFrame): Double = {
      val s = scored.collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
      val good = (0 until 80 by 2).map(i => s(i.toLong)).sum / 40
      val spam = (1 until 80 by 2).map(i => s(i.toLong)).sum / 40
      good - spam
    }
    val trained = separation(
      TextStats.qualityModelWith(fixture, w.toSeq.toDF("bucket", "weight_milli"), bias))
    val standIn = separation(TextStats.qualityModel(fixture))
    assert(trained >= standIn,
      f"trained separation $trained%.4f < stand-in $standIn%.4f")
    // and the trained model must actually separate, not just tie a
    // random-weight stand-in near zero
    assert(trained > 0.5, f"trained separation $trained%.4f is not a real margin")
  }

  test("tfidfTopK: identical small docs hit at cos 1; disjoint docs absent; only query docs rank") {
    val out = Corpus.tfidfTopK(docsDf(Seq(
      (0L, "alpha beta gamma delta", "en", "web"),
      (1L, "alpha beta gamma delta", "en", "web"),
      (2L, "alpha beta epsilon zeta", "en", "web"),
      (3L, "one two three four", "en", "web"))))
      .collect()
    assert(out.map(_.getLong(0)).distinct.toSeq == Seq(0L), "only doc 0 is a query (0 % 97)")
    assert(!out.map(_.getLong(1)).contains(3L), "no shared words -> no candidate")
    val top = out.find(_.getInt(4) == 1).get
    assert(top.getLong(1) == 1L && top.getLong(2) == 4L && top.getDouble(3) == 1.0,
      s"identical doc must top at cos 1, got $top")
    val second = out.find(_.getInt(4) == 2).get
    assert(second.getLong(1) == 2L && second.getDouble(3) > 0 && second.getDouble(3) < 1)
  }

  test("searchBm25: no-match docs absent; rank order; score is the exact fixed-point term sum") {
    val fixture = Seq(
      (1L, "hash join merge window", "en", "web"),
      (2L, "hash hash hash other other", "en", "web"),
      (3L, "alpha beta gamma delta", "en", "web"),
      (4L, "join window filler filler filler", "en", "web"))
    val out = Corpus.searchBm25(docsDf(fixture)).orderBy("rank").collect()
    assert(!out.map(_.getLong(1)).contains(3L), "doc without query terms must not hit")
    val scores = out.map(_.getDouble(3))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b }, "rank must follow score")
    val d1 = out.find(_.getLong(1) == 1L).get
    assert(d1.getLong(2) == 4L, "doc 1 matches all four query terms")
    // the reported score is exactly the 1e6 fixed-point sum of the
    // per-term index weights — retrieval reads the same numbers the
    // index stores
    val micro = Corpus.bm25Weights(docsDf(fixture))
      .filter(col("word").isin(Corpus.SearchTerms: _*))
      .collect().filter(_.getLong(0) == 1L)
      .map(r => math.round(r.getDouble(4) * 1e6)).sum
    assert(d1.getDouble(3) == micro / 1e6)
  }

  test("hybridSearch: both-list docs fuse ahead of single-list leaders; absent legs add zero") {
    val spark = TestSpark.spark
    import spark.implicits._
    // lexical leg: 10 matches all four SearchTerms (lex rank 1), 20 one
    // term (lex rank 2), 30 none (absent from the lexical list)
    val docs = docsDf(Seq(
      (10L, "hash join merge window hash join", "en", "web"),
      (20L, "hash filler filler filler filler filler", "en", "web"),
      (30L, "nothing relevant here at all okay", "en", "web")))
    // vector leg for query vec 0: 20 near-parallel (vec rank 1),
    // 30 at 45° (rank 2), 10 orthogonal (rank 3)
    val emb = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0),
      (10L, Array(0f, 1f, 0f, 0f), 0),
      (20L, Array(0.99f, 0.1f, 0f, 0f), 0),
      (30L, Array(0.5f, 0.5f, 0f, 0f), 0)).toDF("vec_id", "embedding", "label")
    val out = Corpus.hybridSearch(docs, emb).orderBy("rank").collect()
      .map(r => r.getLong(1) -> ((r.getInt(2), r.getInt(3), r.getLong(4)))).toMap
    // micro contributions: round(1e6/61)=16393, /62=16129, /63=15873
    assert(out(20L) == ((2, 1, 16129L + 16393L)), "lex#2+vec#1 fuses highest")
    assert(out(10L) == ((1, 3, 16393L + 15873L)), "lex#1+vec#3 second")
    assert(out(30L) == ((0, 2, 16129L)), "absent lexical leg reports rank 0 and adds nothing")
    val fusedOrder = Corpus.hybridSearch(docs, emb).orderBy("rank")
      .collect().map(_.getLong(1)).toSeq
    assert(fusedOrder.take(2) == Seq(20L, 10L))
  }

  test("invertedIndex: impact-ordered truncated postings; df counts past the cut") {
    val docs = docsDf((1L to 8L).map(i =>
      (i, (Seq.fill(i.toInt)("common") :+ s"word$i").mkString(" "), "en", "web")))
    val out = Corpus.invertedIndex(docs).collect().map(r => r.getString(0) -> r).toMap
    val c = out("common")
    assert(c.getLong(1) == 8L, "df must count all matching docs, not just kept postings")
    assert(c.getLong(2) == Corpus.IndexTopPostings.toLong, "postings truncated at the cut")
    val postings = c.getString(3).split(",")
    assert(postings.length == Corpus.IndexTopPostings)
    val ws = postings.map(_.split(":")(1).toLong)
    assert(ws.zip(ws.tail).forall { case (a, b) => a >= b }, s"impact order violated: ${c.getString(3)}")
    val h = out("word3")
    assert(h.getLong(1) == 1L && h.getString(3).startsWith("3:"))
  }

  test("stratifiedSample: deterministic, per-stratum ceil(n/5), subset of input") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = docsDf((1L to 57L).map(i =>
      (i, s"text body number $i", if (i % 3 == 0) "de" else "en", "web")))
    val a = Corpus.stratifiedSample(docs).collect()
    val b = Corpus.stratifiedSample(docs.repartition(7)).collect()
    assert(a.map(_.getLong(0)).sorted.toSeq == b.map(_.getLong(0)).sorted.toSeq,
      "sample must not depend on partitioning")
    val byLang = a.groupBy(_.getString(1))
    assert(byLang("de").length == (19 + 4) / 5)
    assert(byLang("en").length == (38 + 4) / 5)
    a.foreach(r => assert(r.getInt(2) <= (r.getLong(3) + 4) / 5))
  }

  test("mixtureSample: kept counts hit the integer-weight allocation; partition-invariant") {
    val spark = TestSpark.spark
    import spark.implicits._
    // a=30, b=60, c=10 docs; target weights a=1, b=2, c=1 (W=4).
    // caps: a 30*4/1=120, b 60*4/2=120, c 10*4/1=40 -> K=40;
    // quotas: a 40*1/4=10, b 40*2/4=20, c 40*1/4=10.
    val docs = docsDf((1L to 100L).map { i =>
      val src = if (i <= 30) "a" else if (i <= 90) "b" else "c"
      (i, s"text body number $i", "en", src)
    })
    val weights = Seq(("a", 1L), ("b", 2L), ("c", 1L)).toDF("source", "weight")
    val out = Corpus.mixtureSample(docs, weights).collect()
    val bySrc = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(bySrc == Map("a" -> 10, "b" -> 20, "c" -> 10), s"allocation off: $bySrc")
    val again = Corpus.mixtureSample(docs.repartition(7), weights).collect()
    assert(out.map(_.getLong(0)).sorted.toSeq == again.map(_.getLong(0)).sorted.toSeq,
      "mixture must not depend on partitioning")
    // zero-weight and spec-absent sources take no part
    val w2 = Seq(("a", 1L), ("b", 0L)).toDF("source", "weight")
    val out2 = Corpus.mixtureSample(docs, w2).collect()
    assert(out2.forall(_.getString(1) == "a"), "only weighted sources may be sampled")
  }

  test("piiScrub: planted emails and digit runs are redacted and counted") {
    import graft.operators.TextStats
    val out = TextStats.piiScrub(docsDf(Seq(
      (1L, "contact me at jane.doe+x@example.co.uk or call 5551234567 now", "en", "web"),
      (2L, "short num 123456 stays but 1234567 goes", "en", "web"),
      (3L, "nothing sensitive here at all", "en", "web"))))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getInt(1) == 1 && out(1L).getInt(2) == 1)
    assert(out(1L).getString(3) == "contact me at <EMAIL> or call <NUM> now")
    assert(!out(1L).getBoolean(4))
    assert(out(2L).getInt(2) == 1)
    assert(out(2L).getString(3) == "short num 123456 stays but <NUM> goes")
    assert(out(3L).getBoolean(4) && out(3L).getString(3) == "nothing sensitive here at all")
  }

  test("ngramRepetition: loops dominate at every n; clean and short docs are zero") {
    import graft.operators.TextStats
    val out = TextStats.ngramRepetition(docsDf(Seq(
      // "spam spam ..." x 8: every n-gram is the same -> top = dup = 1 at n=2..4
      (1L, Seq.fill(8)("spam").mkString(" "), "en", "web"),
      // all distinct words: no repeated n-gram at any n
      (2L, "one two three four five six seven eight", "en", "web"),
      // an 8-word doc repeated twice: bigrams repeat (the seam bigram
      // differs) but dup4 also fires on the repeated 4-gram windows
      (3L, ("alpha beta gamma delta " * 2).trim, "en", "web"),
      // shorter than n=4: that column must be zero, not null/NaN
      (9L, "tiny doc here", "en", "web"))))
      .collect().map(r => r.getLong(0) -> r).toMap
    val loop = out(1L)
    assert(loop.getDouble(1) == 1.0 && loop.getDouble(2) == 1.0, s"n=2 loop: $loop")
    assert(loop.getDouble(5) == 1.0 && loop.getDouble(6) == 1.0, s"n=4 loop: $loop")
    val clean = out(2L)
    // all-distinct doc: every DUP fraction is 0; TOP fractions are
    // 1/total (a single occurrence is still the max), so just small
    Seq(2, 4, 6).foreach(i => assert(clean.getDouble(i) == 0.0, s"clean doc col $i: $clean"))
    Seq(1, 3, 5).foreach(i => assert(clean.getDouble(i) < 0.3, s"clean doc col $i: $clean"))
    val rep = out(3L)
    assert(rep.getDouble(2) > 0.5, s"repeated doc dup2_frac: $rep")
    assert(rep.getDouble(6) > 0.0, s"repeated doc dup4_frac: $rep")
    val short = out(9L)
    assert(short.getDouble(5) == 0.0 && short.getDouble(6) == 0.0, s"short doc n=4: $short")
    assert(short.getDouble(2) == 0.0, s"short doc has no repeated bigram: $short")
  }

  test("repetition: a looping doc shows bigram dominance; short docs are zero") {
    import graft.operators.TextStats
    val out = TextStats.repetition(docsDf(Seq(
      (1L, "spam spam spam spam spam spam", "en", "web"), // 5 bigrams, all "spam spam"
      (2L, "all words here are different ones", "en", "web"),
      (3L, "solo", "en", "web"))))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 5L && out(1L).getLong(2) == 5L)
    assert(out(1L).getDouble(3) == 1.0 && out(1L).getDouble(4) == 0.2)
    assert(out(2L).getDouble(3) == 0.2 && out(2L).getDouble(4) == 1.0)
    assert(out(3L).getLong(1) == 0L && out(3L).getDouble(3) == 0.0)
  }

  test("keepMask: reason precedence dup > too_short > low_quality") {
    import graft.operators.TextStats
    val good = "the cat sat on the mat and it is a fine day for all of us to be here now"
    val out = TextStats.keepMask(docsDf(Seq(
      (1L, good, "en", "web"),
      (2L, good, "en", "web"),            // exact dup of 1 -> dup
      (3L, "too few", "en", "web"),       // 2 tokens -> too_short
      (4L, "%%% ### @@@ !!! ??? &&& ***", "en", "web")))) // punct-only -> low_quality
      .collect().map(r => r.getLong(0) -> ((r.getString(4), r.getBoolean(5)))).toMap
    assert(out(1L) == (("keep", true)))
    assert(out(2L) == (("dup", false)))
    assert(out(3L) == (("too_short", false)))
    assert(out(4L) == (("low_quality", false)))
  }

  test("stripBoilerplate: a shared header segment is scrubbed, unique tails survive in order") {
    // 8-word header shared by 4 docs (= BoilerplateDf) + a unique
    // 8-word tail per doc; one doc with no shared content at all.
    val header = "terms of service apply all rights reserved inc"
    def tail(i: Int) = s"unique$i body$i words$i here$i stay$i put$i ok$i fine$i"
    val docs = docsDf(
      (1 to 4).map(i => (i.toLong, s"$header ${tail(i)}", "en", "web")) :+
        (9L, "nothing shared in this entirely singular document text", "en", "web"))
    val out = Corpus.stripBoilerplate(docs)
      .collect().map(r => r.getLong(0) -> r).toMap
    (1 to 4).foreach { i =>
      val r = out(i.toLong)
      assert(r.getLong(1) == 2L && r.getLong(2) == 1L, s"doc $i: header segment dropped")
      assert(r.getString(3) == tail(i), s"doc $i keeps its unique tail")
      assert(r.getBoolean(4))
    }
    val solo = out(9L)
    assert(solo.getLong(2) == 0L && !solo.getBoolean(4))
    assert(solo.getString(3) == "nothing shared in this entirely singular document text")
  }

  test("packSequences: positions tile the token stream with no gaps or overlaps") {
    val docs = docsDf((1L to 40L).map(i =>
      (i, (0 until (i % 7 + 1).toInt * 3).map(w => s"d${i}w$w").mkString(" "), "en", "web")))
    val out = Corpus.packSequences(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length == 40)
    assert(out.forall { case (_, _, _, off) => off >= 0 && off < Corpus.PackBudget })
    // global positions reconstruct a contiguous tiling: sorted by
    // position, each doc starts exactly where the previous one ended
    val positions = out
      .map { case (_, n, seq, off) => (seq * Corpus.PackBudget + off, n) }
      .sortBy(_._1)
    assert(positions.head._1 == 0L, "stream starts at position 0")
    positions.sliding(2).foreach {
      case Array((p1, n1), (p2, _)) => assert(p2 == p1 + n1, s"gap/overlap at $p2")
      case _ => ()
    }
  }

  test("WARC round-trip: unknown headers and warcinfo skip; malformed tails drop the file, not the job") {
    val spark = TestSpark.spark
    import spark.implicits._
    val W = graft.sources.Warc
    val docs = docsDf(Seq(
      (1L, "plain words here", "en", "web"),
      (17L, "a four-oh-four page body <with markup> & entities", "en", "web"),
      (23L, "unicode page é中 body", "en", "web")))
    val pages = graft.operators.TextStats.wrapHtml(docs)
    val parsed = W.parseWarcRecords(W.withWarcPayload(pages))
      .collect().map(d => d.doc_id -> d).toMap

    // records key by md5-60bit(Target-URI) — the id a real archive's
    // reader derives, not the fixture's numeric id
    def uid(i: Long) = W.uriDocId(W.urlOf(i))
    // every response record survives the scan; warcinfo heads don't leak
    assert(parsed.keySet == Set(uid(1L), uid(17L), uid(23L)))
    // the status line was READ, not assumed
    assert(parsed(uid(17L)).status == 404 && parsed(uid(1L)).status == 200)
    // the html round-trips byte-exactly through the container
    val htmls = pages.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    Seq(1L, 17L, 23L).foreach { i =>
      val d = parsed(uid(i))
      assert(d.html == htmls(i), s"doc $i html mutated in the container")
      assert(d.url == s"https://example.org/doc/$i")
      assert(d.n_block_bytes ==
        W.httpHead(d.status).getBytes("UTF-8").length + htmls(i).getBytes("UTF-8").length)
    }

    // hand-mangled containers: a record with a corrupt Content-Length
    // ends the FILE scan after the records before it; junk prefixes
    // fail the version check and drop the file — data, never a throw
    val good = W.warcResponse(5L, "<html><body>ok</body></html>")
    val broken = ("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999999\r\n\r\n" +
      "short").getBytes("UTF-8")
    val after = W.warcResponse(6L, "<html><body>late</body></html>")
    val mangled = Seq(
      (100L, good ++ broken ++ after), // good record, then corrupt length
      (101L, "not a warc at all".getBytes("UTF-8")),
      (102L, good.dropRight(3))) // separator truncated at EOF
      .toDF("file_id", "payload")
    val got = W.parseWarcRecords(mangled).collect().map(_.doc_id).toSeq.sorted
    // file 100 yields doc 5 then halts (doc 6 is unreachable past the
    // corrupt record — there is no resynchronization point in WARC);
    // file 101 fails the version check and yields nothing; file 102's
    // record is COMPLETE (block intact) so it emits even though the
    // trailing separator is cut at EOF — then the scan halts
    val id5 = W.uriDocId(W.urlOf(5L))
    assert(got == Seq(id5, id5), s"mangled files must yield exactly the intact records: $got")
  }

  test("WARC gz: per-record gzip members round-trip; a mangled member halts the file, not the job") {
    val spark = TestSpark.spark
    import spark.implicits._
    val W = graft.sources.Warc
    val docs = docsDf(Seq(
      (1L, "plain words here", "en", "web"),
      (17L, "a four-oh-four page body <with markup> & entities", "en", "web"),
      (23L, "unicode page \u00e9\u4e2d body", "en", "web")))
    val pages = graft.operators.TextStats.wrapHtml(docs)
    // gz form extracts EXACTLY what the plain form extracts
    val plain = W.parseWarcRecords(W.withWarcPayload(pages))
      .collect().map(d => (d.doc_id, d.url, d.warc_date, d.status, d.n_block_bytes, d.html)).toSet
    val gz = W.parseWarcRecords(W.withWarcPayloadGz(pages))
      .collect().map(d => (d.doc_id, d.url, d.warc_date, d.status, d.n_block_bytes, d.html)).toSet
    assert(gz == plain, "gz member walk must inflate to the identical record stream")

    // mangle the SECOND member's deflate body: the first record's
    // member decompresses, the corruption halts that file, other
    // files are untouched
    val m1 = W.gzipMember(W.warcResponse(5L, "<html><body>ok</body></html>"))
    val m2 = W.gzipMember(W.warcResponse(6L, "<html><body>late</body></html>"))
    val corrupt2 = m1 ++ m2.take(12) ++ m2.drop(12).map(b => (b ^ 0x5a).toByte)
    val files = Seq(
      (200L, corrupt2),
      (201L, W.gzipMember(W.warcResponse(7L, "<html><body>other file</body></html>")))
    ).toDF("file_id", "payload")
    val got = W.parseWarcRecords(files).collect().map(_.doc_id).toSet
    assert(got == Set(W.uriDocId(W.urlOf(5L)), W.uriDocId(W.urlOf(7L))),
      s"mangled member must halt its file after the intact records: $got")
  }

  test("WARC foreign-URI records extract, keyed by their URI hash") {
    val spark = TestSpark.spark
    import spark.implicits._
    val W = graft.sources.Warc
    // a record whose Target-URI carries no fixture prefix at all —
    // the pre-URI-keying reader silently dropped these
    val html = "<html><body>foreign archive page</body></html>"
    val block = (W.httpHead(200) + html).getBytes("UTF-8")
    val uri = "https://news.example.net/2024/story?id=9#frag"
    val rec = (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
      s"WARC-Date: 2024-02-02T00:00:00Z\r\nContent-Length: ${block.length}\r\n\r\n")
      .getBytes("UTF-8") ++ block ++ "\r\n\r\n".getBytes("UTF-8")
    val out = W.parseWarcRecords(Seq((300L, rec)).toDF("file_id", "payload")).collect()
    assert(out.length == 1)
    assert(out(0).doc_id == W.uriDocId(uri) && out(0).doc_id >= 0L)
    assert(out(0).url == uri && out(0).html == html)
    // and the same record through a gzip member
    val outGz = W.parseWarcRecords(
      Seq((301L, W.gzipMember(rec))).toDF("file_id", "payload")).collect()
    assert(outGz.length == 1 && outGz(0).doc_id == W.uriDocId(uri))
  }

  test("WARC uriDocId: full 63 bits, sign-safe, collision policy = shared id, never a drop") {
    val spark = TestSpark.spark
    import spark.implicits._
    val W = graft.sources.Warc
    // the id IS the first 64 md5 bits sign-masked — pin against an
    // independent assembly from the hex split the oracle twin uses:
    // (hex[1] & 7) << 60 | hex[2..16]
    for (uri <- Seq(
        "https://example.org/doc/1", "http://a.example/x",
        "https://news.example.net/2024/story?id=9#frag")) {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(uri.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val expect = (java.lang.Long.parseLong(hex.substring(0, 1), 16) & 7L) *
        1152921504606846976L + java.lang.Long.parseLong(hex.substring(1, 16), 16)
      assert(W.uriDocId(uri) == expect, s"id split mismatch for $uri")
      assert(W.uriDocId(uri) >= 0L)
    }
    // some URI must exercise the high bits the 60-bit id never set
    assert(Seq("https://example.org/doc/1", "http://a.example/x",
      "https://news.example.net/2024/story?id=9#frag",
      "https://example.org/doc/2", "https://example.org/doc/3")
      .exists(u => W.uriDocId(u) >= (1L << 60)),
      "63-bit ids must populate above the old 60-bit ceiling")
    // collision policy: two records whose URIs hash to the same id (a
    // recapture IS that case) both emit — the scan never drops; dedup
    // downstream decides the survivor
    val html1 = "<html><body>first capture</body></html>"
    val html2 = "<html><body>second capture</body></html>"
    val uri = "https://example.org/recaptured"
    def rec(html: String, date: String) = {
      val block = (W.httpHead(200) + html).getBytes("UTF-8")
      (s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: $uri\r\n" +
        s"WARC-Date: $date\r\nContent-Length: ${block.length}\r\n\r\n")
        .getBytes("UTF-8") ++ block ++ "\r\n\r\n".getBytes("UTF-8")
    }
    val payload = rec(html1, "2024-03-01T00:00:00Z") ++ rec(html2, "2024-03-02T00:00:00Z")
    val out = W.parseWarcRecords(Seq((400L, payload)).toDF("file_id", "payload"))
      .collect().sortBy(_.warc_date)
    assert(out.length == 2, "colliding ids must both emit")
    assert(out(0).doc_id == out(1).doc_id && out(0).doc_id == W.uriDocId(uri))
    assert(out(0).html == html1 && out(1).html == html2)
  }

  test("WARC gz: a decompression bomb halts at the inflation budget; prior records survive") {
    val spark = TestSpark.spark
    import spark.implicits._
    val W = graft.sources.Warc
    val good = W.warcResponse(5L, "<html><body>ok</body></html>")
    // a crafted member: 4 MB of zeros compresses ~4000:1 — at the test
    // ratio of 4 its budget is crossed mid-member
    val bombBody = new Array[Byte](4 << 20)
    val head = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: https://bomb.example/x\r\n" +
      s"Content-Length: ${bombBody.length}\r\n\r\n").getBytes("UTF-8")
    val bombRec = head ++ bombBody ++ "\r\n\r\n".getBytes("UTF-8")
    val gz = W.gzipMember(good) ++ W.gzipMember(bombRec)
    assert(gz.length < (64 << 10), s"fixture must be small on disk: ${gz.length}")
    // ratio 4: budget = 4 * compressed ≈ tens of KB — the good record
    // inflates fully, the bomb truncates, the scan halts at the cut
    val inflated = W.gunzipMembers(gz, maxRatio = 4L)
    assert(inflated.length <= math.max(4L * gz.length, 1L << 20),
      s"inflation must stop at the budget: ${inflated.length}")
    val docs = W.scanFile(inflated).toSeq
    assert(docs.map(_.doc_id) == Seq(W.uriDocId(W.urlOf(5L))),
      "records before the bomb must survive; the bomb must not")
    // the production default budget leaves honest archives untouched:
    // the same good-members file round-trips identically
    val honest = W.gzipMember(good)
    assert(W.gunzipMembers(honest).toSeq == good.toSeq)
  }

  test("CDX-indexed WARC: ranged reads fetch exactly the addressed records; unselected files never parse") {
    val spark = TestSpark.spark
    import spark.implicits._
    val W = graft.sources.Warc
    val docs = docsDf(Seq(
      (1L, "plain words here", "en", "web"),
      (2L, "second page body", "en", "web"),
      (17L, "a four-oh-four page", "en", "web"),
      (23L, "unicode page é中 body", "en", "web")))
    val pages = graft.operators.TextStats.wrapHtml(docs)
    for (gz <- Seq(false, true)) {
      val fx = W.withWarcPayloadIndexed(pages, gz)
      val locs = fx.select(org.apache.spark.sql.functions.explode(col("locators")).as("l"))
        .select("l.*")
      // every locator range fetches exactly its record — the full index
      // through the ranged read equals the whole-file scan
      val viaIndex = W.readRecordsAt(fx.select("filename", "payload"), locs)
        .collect().map(f => (f.doc_id, f.url, f.status, f.n_block_bytes, f.html)).toSet
      val viaScan = W.parseWarcRecords(
        fx.select(org.apache.spark.sql.functions.lit(0L).as("file_id"), col("payload")))
        .collect().map(d => (d.doc_id, d.url, d.status, d.n_block_bytes, d.html)).toSet
      assert(viaIndex == viaScan, s"gz=$gz: ranged reads must equal the full scan")
      // the index carries real CDX metadata
      val meta = locs.collect()
      assert(meta.forall(_.getAs[String]("mime") == "text/html"))
      assert(meta.map(_.getAs[Int]("status")).toSet == Set(200, 404))
      // PRUNING: select only doc 1's locator — doc 2 lives in the SAME
      // file (same range discipline), docs 17/23 in other files; a
      // selected set naming one file must parse nothing from the others
      val one = locs.filter(col("url") === W.urlOf(1L))
      val got = W.readRecordsAt(fx.select("filename", "payload"), one).collect()
      assert(got.map(_.doc_id).toSeq == Seq(W.uriDocId(W.urlOf(1L))),
        s"gz=$gz: only the addressed record may return")
    }
  }

  test("CDX offset jump reads an intact record a corrupt earlier record shadows from the walk") {
    val spark = TestSpark.spark
    import spark.implicits._
    val W = graft.sources.Warc
    val good5 = W.warcResponse(5L, "<html><body>five</body></html>")
    val corrupt = ("WARC/1.0\r\nWARC-Type: response\r\nContent-Length: 999999\r\n\r\n" +
      "short").getBytes("UTF-8")
    val good6 = W.warcResponse(6L, "<html><body>six</body></html>")
    val payload = good5 ++ corrupt ++ good6
    val off6 = (good5.length + corrupt.length).toLong
    // the whole-file walk halts at the corrupt record — doc 6 is
    // unreachable without the index
    val walked = W.scanFile(payload).map(_.doc_id).toSeq
    assert(walked == Seq(W.uriDocId(W.urlOf(5L))), s"fixture: walk must halt: $walked")
    // the CDX pointer jumps straight to doc 6's bytes
    val files = Seq(("f.warc", payload)).toDF("filename", "payload")
    val locs = Seq(("f.warc", off6, good6.length.toLong)).toDF("filename", "offset", "length")
    val fetched = W.readRecordsAt(files, locs).collect()
    assert(fetched.map(_.doc_id).toSeq == Seq(W.uriDocId(W.urlOf(6L))),
      "the ranged read must fetch the record the walk cannot reach")
    assert(fetched.head.html == "<html><body>six</body></html>")
    // a locator into garbage yields nothing — dropped data, no throw
    val badLoc = Seq(("f.warc", off6 + 7L, 25L)).toDF("filename", "offset", "length")
    assert(W.readRecordsAt(files, badLoc).collect().isEmpty)
  }

  test("seek-based ranged fetch reads Σ selected lengths, not Σ file sizes; records equal the payload face") {
    val spark = TestSpark.spark
    import spark.implicits._
    val W = graft.sources.Warc
    // 40 docs → 4 archive files of 10 records each
    val docs = docsDf((0L until 40L).map(i =>
      (i, s"body words for document $i with enough padding text to matter", "en", "web")))
    val pages = graft.operators.TextStats.wrapHtml(docs)
    for (gz <- Seq(false, true)) {
      val fx = W.withWarcPayloadIndexed(pages, gz)
      val dir = java.nio.file.Files.createTempDirectory("graft_warc_seek_").toString
      W.writeArchiveFiles(fx, dir)
      val locs = fx.select(org.apache.spark.sql.functions.explode(col("locators")).as("l"))
        .select("l.*")
      // sparse selection: one record per file — selected ≪ total
      val sel = locs.filter(col("url").isin((3L until 40L by 10L).map(W.urlOf): _*))
      val acc = spark.sparkContext.longAccumulator(s"warc_seek_bytes_gz_$gz")
      val got = W.readRecordsFromFiles(dir, sel, Some(acc)).collect()
        .map(f => (f.doc_id, f.url, f.status, f.n_block_bytes, f.html)).toSet
      val want = W.readRecordsAt(fx.select("filename", "payload"), sel).collect()
        .map(f => (f.doc_id, f.url, f.status, f.n_block_bytes, f.html)).toSet
      assert(got.size === 4, s"gz=$gz: one record per file expected")
      assert(got === want, s"gz=$gz: seek face diverged from the payload face")
      // the I/O contract: exactly the selected ranges came off storage
      val selBytes = sel.agg(org.apache.spark.sql.functions.sum("length"))
        .collect().head.getLong(0)
      val totalBytes = fx
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.length(col("payload"))))
        .collect().head.getLong(0)
      assert(acc.value === selBytes,
        s"gz=$gz: bytes read (${acc.value}) must equal Σ selected lengths ($selBytes)")
      assert(selBytes * 5 < totalBytes,
        s"gz=$gz: fixture must keep selected ($selBytes) ≪ total ($totalBytes)")
      // a locator naming a missing file drops ITS records, no throw
      val ghost = Seq(("no-such.warc", 0L, 64L)).toDF("filename", "offset", "length")
      assert(W.readRecordsFromFiles(dir, ghost).collect().isEmpty)
    }
  }

  test("adjacent ranged slices coalesce into one read: fewer requests, bytes bounded by Σ lengths + gaps") {
    val spark = TestSpark.spark
    import spark.implicits._
    val W = graft.sources.Warc
    val docs = docsDf((0L until 40L).map(i =>
      (i, s"body words for document $i with enough padding text to matter", "en", "web")))
    val pages = graft.operators.TextStats.wrapHtml(docs)
    val fx = W.withWarcPayloadIndexed(pages, false)
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_coal_").toString
    W.writeArchiveFiles(fx, dir)
    val locs = fx.select(org.apache.spark.sql.functions.explode(col("locators")).as("l"))
      .select("l.*")
    val nFiles = fx.select("filename").distinct().count()
    // adjacent-heavy: EVERY other record of every file — gaps are one
    // small record wide, far under the threshold, so each file's
    // slices must fuse into a single positioned read
    val sel = locs.filter(col("url").isin((0L until 40L by 2L).map(W.urlOf): _*))
    val nSlices = sel.count()
    assert(nSlices > nFiles, "fixture must select several records per file")
    val bytes = spark.sparkContext.longAccumulator("warc_coal_bytes")
    val reqs = spark.sparkContext.longAccumulator("warc_coal_reqs")
    val got = W.readRecordsFromFiles(dir, sel, Some(bytes), Some(reqs)).collect()
      .map(f => (f.doc_id, f.url, f.status, f.n_block_bytes, f.html)).toSet
    val want = W.readRecordsAt(fx.select("filename", "payload"), sel).collect()
      .map(f => (f.doc_id, f.url, f.status, f.n_block_bytes, f.html)).toSet
    assert(got === want, "coalesced reads must parse exactly the selected records")
    // the request economy: one fused read per file, not one per slice
    assert(reqs.value === nFiles,
      s"adjacent slices must coalesce to one read per file: ${reqs.value} reads for $nSlices slices")
    // the bytes bound: Σ selected lengths + at most (slices − 1) gaps
    val selBytes = sel.agg(org.apache.spark.sql.functions.sum("length"))
      .collect().head.getLong(0)
    assert(bytes.value >= selBytes, "a fused read covers every selected byte")
    assert(bytes.value <= selBytes + (nSlices - 1) * W.RangedReadCoalesceGap,
      s"bytes read (${bytes.value}) exceeded Σ lengths ($selBytes) + gaps bound")
    // with coalescing off (gap 0 merges only zero-gap neighbors), the
    // same selection pays a request per slice and exactly Σ lengths —
    // the seam proves the merge, not the fixture
    val bytes0 = spark.sparkContext.longAccumulator("warc_coal_bytes0")
    val reqs0 = spark.sparkContext.longAccumulator("warc_coal_reqs0")
    val got0 = W.readRecordsFromFiles(dir, sel, Some(bytes0), Some(reqs0), coalesceGap = -1L)
      .collect().map(f => (f.doc_id, f.url, f.status, f.n_block_bytes, f.html)).toSet
    assert(got0 === want)
    assert(reqs0.value === nSlices, "gap −1 must issue one read per slice")
    assert(bytes0.value === selBytes, "uncoalesced reads pay exactly Σ lengths")
  }

  test("a truncated archive degrades the fused read to per-slice: records before the cut survive") {
    val spark = TestSpark.spark
    import spark.implicits._
    val W = graft.sources.Warc
    // one file of three adjacent records; truncate it mid-record-3
    val recs = Seq(5L, 6L, 7L).map(i =>
      W.warcResponse(i, s"<html><body>doc number $i</body></html>"))
    val full = recs.flatten.toArray
    val cut = full.length - recs(2).length / 2
    val dir = java.nio.file.Files.createTempDirectory("graft_warc_trunc_").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/t.warc"), full.take(cut))
    val offs = recs.scanLeft(0L)((a, r) => a + r.length)
    val locs = Seq(
      ("t.warc", offs(0), recs(0).length.toLong),
      ("t.warc", offs(1), recs(1).length.toLong),
      ("t.warc", offs(2), recs(2).length.toLong)) // past EOF
      .toDF("filename", "offset", "length")
    // the three adjacent slices fuse into ONE range whose read crosses
    // the truncation point — the fallback must still return records 5
    // and 6, dropping only the cut record
    val reqs = spark.sparkContext.longAccumulator("warc_trunc_reqs")
    val got = W.readRecordsFromFiles(dir, locs, None, Some(reqs)).collect()
      .map(_.doc_id).toSet
    assert(got === Set(W.uriDocId(W.urlOf(5L)), W.uriDocId(W.urlOf(6L))),
      s"records before the truncation must survive the fused-read failure: $got")
    // the seam counts ISSUED round trips, not successful ones: the
    // failed fused attempt (1) plus one per-slice retry per member (3)
    assert(reqs.value === 4L,
      s"a degraded range must count its failed fused attempt and every retry: ${reqs.value}")
  }

  test("retrain loop: health flags, retrainQualityModel swaps atomically, health recovers") {
    val spark = TestSpark.spark
    import spark.implicits._
    val T = graft.operators.TextStats
    // separable corpus: clean 50+-token prose (quality ~1) vs
    // punctuation noise (quality ~0) — a linear model over word
    // buckets fits the heuristic labels essentially perfectly
    val stop = "the of and to in is it that for on"
    val goodBody = (0 until 5).map(_ => stop).mkString(" ")
    val fixture = (0 until 120).map { i =>
      if (i % 2 == 0) (i.toLong, s"$goodBody topic$i subject matter words", "en", "web")
      else (i.toLong, (0 until 40).map(_ => "!!@@##").mkString(" "), "en", "web")
    }
    val docs = docsDf(fixture)
    val dir = java.nio.file.Files.createTempDirectory("graft_qw_swap_").toString
    val path = s"$dir/weights"

    // a stale/garbage artifact (bias −1000, zero weights): keeps
    // nothing, so accuracy == the negative-label share and the health
    // row must demand a retrain
    T.saveQualityWeights(spark, path, Array.tabulate(T.ModelBuckets)(b => (b.toLong, 0L)), -1000L)
    def healthOf(p: String) = {
      val (w, b) = T.loadQualityWeights(spark, p)
      T.qualityHealth(docs, w.toSeq.toDF("bucket", "weight_milli"), b).head()
    }
    val sick = healthOf(path)
    assert(sick.getBoolean(sick.fieldIndex("retrain_recommended")),
      s"garbage weights must flag a retrain: $sick")

    // retrain: stage → commit → atomic swap; the returned eval is the
    // POST-swap read, and health recovers
    val eval = T.retrainQualityModel(spark, path, docs).collect()
    assert(eval.nonEmpty)
    val healed = healthOf(path)
    assert(!healed.getBoolean(healed.fieldIndex("retrain_recommended")),
      s"retrained classifier must pass the health gate: $healed")
    val (w1, b1) = T.loadQualityWeights(spark, path)

    // mid-swap crash: a fresh staging is committed (marker present)
    // but the live rename never ran — loads fail LOUDLY, the next
    // retrain heals forward first, and scoring equals a clean train
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    T.saveQualityWeights(spark, s"${path}_staged",
      Array.tabulate(T.ModelBuckets)(b => (b.toLong, 0L)), 1000L)
    fs.create(new org.apache.hadoop.fs.Path(s"${path}_staged/_STAGED"), true).close()
    val e = intercept[IllegalStateException] { T.loadQualityWeights(spark, path) }
    assert(e.getMessage.contains("unfinished retrain swap"))
    T.retrainQualityModel(spark, path, docs)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"${path}_staged")) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"${path}_old")), "swap debris left behind")
    val (w2, b2) = T.loadQualityWeights(spark, path)
    // deterministic trainer + same corpus → the healed artifact equals
    // the pre-crash one, so stored scoring is stable across the crash
    assert(w2.toSeq == w1.toSeq && b2 == b1,
      "post-crash retrain must reproduce the same stored weights")
    val after = healthOf(path)
    assert(!after.getBoolean(after.fieldIndex("retrain_recommended")))

    // crash BETWEEN the two live renames (live moved away, staged not
    // yet moved): loads refuse on the _old leftover; heal rolls the
    // committed staging forward
    T.saveQualityWeights(spark, s"${path}_staged",
      Array.tabulate(T.ModelBuckets)(b => (b.toLong, 0L)), 1000L)
    fs.create(new org.apache.hadoop.fs.Path(s"${path}_staged/_STAGED"), true).close()
    assert(fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(s"${path}_old")))
    intercept[IllegalStateException] { T.loadQualityWeights(spark, path) }
    T.healQualityWeights(spark, path)
    val (w3, b3) = T.loadQualityWeights(spark, path)
    assert(b3 == 1000L && w3.forall(_._2 == 0L),
      "a committed staging must roll FORWARD to the staged weights")
  }

  test("packSequencesNoSplit: no doc straddles a boundary; sequences are dense prefixes; oversize flagged") {
    // word counts 3..36 at budget 16: classes 1..5 populated AND
    // oversize docs (17+ words) exercising the tiled split path
    val docs = docsDf((1L to 60L).map(i =>
      (i, (0 until (i % 12 + 1).toInt * 3).map(w => s"d${i}w$w").mkString(" "), "en", "web")))
    val budget = 16L
    val out = Corpus.packSequencesNoSplit(docs, budget).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(out.length == 60)
    val (split, whole) = out.partition(_._5)
    assert(split.nonEmpty && whole.nonEmpty, "fixture must exercise both paths")
    assert(split.forall(_._2 > budget) && whole.forall(_._2 <= budget),
      "split flag must equal n_tokens > budget")

    // THE property: no whole doc crosses its sequence's token boundary
    whole.foreach { case (id, n, _, off, _) =>
      assert(off >= 0 && off + n <= budget, s"doc $id straddles: off=$off n=$n")
    }
    // within each sequence, docs tile a dense prefix (no overlap/hole)
    whole.groupBy(_._3).foreach { case (seq, members) =>
      val sorted = members.sortBy(_._4)
      var cursor = 0L
      sorted.foreach { case (id, n, _, off, _) =>
        assert(off == cursor, s"seq $seq: doc $id at $off, expected $cursor")
        cursor += n
      }
    }
    // oversize docs own DISJOINT dedicated runs of ceil(n/budget) seqs,
    // disjoint from every whole-doc sequence
    val wholeSeqs = whole.map(_._3).toSet
    val runs = split.map { case (id, n, seq, off, _) =>
      assert(off == 0L, s"split doc $id must start its run")
      (id, seq, seq + (n + budget - 1) / budget - 1)
    }
    runs.foreach { case (id, lo, hi) =>
      assert((lo to hi).forall(!wholeSeqs.contains(_)), s"split doc $id run collides")
      runs.foreach { case (id2, lo2, hi2) =>
        if (id != id2) assert(hi < lo2 || hi2 < lo, s"split runs $id/$id2 overlap")
      }
    }
    // utilization: report vs the tiling packer (tiling fills 100% by
    // construction but splits docs; no-split must stay >= 1/2 — the
    // harmonic-class guarantee — and in practice much better)
    val usedSeqs = wholeSeqs.size + runs.map { case (_, lo, hi) => hi - lo + 1 }.sum
    val tokens = out.map(_._2).sum
    val util = tokens.toDouble / (usedSeqs * budget)
    val tilingSeqs = math.ceil(tokens.toDouble / budget).toLong
    info(f"no-split utilization $util%.3f over $usedSeqs seqs (tiling packer: $tilingSeqs seqs at 1.000)")
    assert(util >= 0.5, f"utilization $util%.3f below the harmonic floor")
  }

  test("chunk: overlapping windows cover every word; short docs are one chunk") {
    val out = graft.operators.TextStats.chunk(docsDf(Seq(
      (1L, (1 to 9).map(i => s"w$i").mkString(" "), "en", "web"),
      (2L, "a b c", "en", "web"),
      (3L, (1 to 15).map(i => s"v$i").mkString(" "), "en", "web"))))
      .collect()
      .groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getString(3))).toSeq)
      .toMap
    assert(out(2L) == Seq((3L, "a b c")), "doc under one window is a single chunk")
    assert(out(1L) == Seq(
      (8L, (1 to 8).map(i => s"w$i").mkString(" ")),
      (3L, (7 to 9).map(i => s"w$i").mkString(" "))),
      "9 words -> full window + overlapping 3-word tail")
    assert(out(3L).map(_._1) == Seq(8L, 8L, 3L), "15 words -> windows at 0, 6, 12")
    // stride-6 windows of width 8: chunk i starts at word 6i+1, so
    // every word index is inside some window (coverage, no holes)
    val covered = out(3L).zipWithIndex.flatMap { case ((n, _), i) => (6 * i + 1) to (6 * i + n.toInt) }
    assert(covered.toSet == (1 to 15).toSet)
  }

  test("unigramLogProb: rare words drag the mean log-prob down; common-only docs rank higher") {
    val out = Corpus.unigramLogProb(docsDf(Seq(
      (1L, "the quick the quick the quick", "en", "web"),
      (2L, "the quick the quick the zzzzz", "en", "web"),
      (3L, "the the the the the the", "en", "web"))))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out.values.forall(_._1 == 6L))
    assert(out.values.forall(_._2 < 0.0), "log-probs are negative")
    assert(out(3L)._2 > out(1L)._2, "all-modal doc scores highest")
    assert(out(1L)._2 > out(2L)._2, "a hapax drags the mean down")
  }

  test("budgetSelect: banded distributed cumsum equals the naive per-source window") {
    val spark = TestSpark.spark
    import spark.implicits._
    // 60 docs, 3 sources, adversarial quality ties across band borders
    val rows = (1L to 60L).map { i =>
      val words = Seq.fill((i % 7 + 2).toInt)("w" + (i % 5)) :+ ("the a of and is".split(" ")(i.toInt % 5))
      (i, words.mkString(" "), "en", s"s${i % 3}")
    }
    val df = docsDf(rows)
    val out = Corpus.budgetSelect(df)
    // naive form: one window per source over the same ordering
    import org.apache.spark.sql.expressions.Window
    val naive = graft.operators.TextStats.quality(df)
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        round(col("quality") * 1e6).cast("long").as("q_micro"))
      .join(df.select("doc_id", "source"), "doc_id")
      .withColumn("cum_excl",
        sum("n_tokens").over(Window.partitionBy("source")
          .orderBy(col("q_micro").desc, col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - col("n_tokens"))
    val got = out.select("doc_id", "cum_excl").as[(Long, Long)].collect().toMap
    val want = naive.select("doc_id", "cum_excl").as[(Long, Long)].collect().toMap
    assert(got == want, "banded decomposition diverged from the single-window cumsum")
    // greedy semantics: within a source the selected set is a prefix of the quality order
    val bySrc = out.select("source", "q_micro", "doc_id", "selected")
      .as[(String, Long, Long, Boolean)].collect()
      .groupBy(_._1).values
    bySrc.foreach { docs =>
      val ordered = docs.sortBy(d => (-d._2, d._3)).map(_._4)
      assert(!ordered.dropWhile(identity).contains(true), "selected set is not a quality-prefix")
    }
  }

  test("subword tokenizer: whitespace and real-token budgets admit different sets") {
    val spark = TestSpark.spark
    import spark.implicits._
    // one source, every doc EXACTLY 100 whitespace tokens and quality
    // pinned to 1.0 (>=50 tokens, zero punctuation, stopword term
    // saturated by 10+ "the"s) so both budgets admit a doc_id-prefix.
    // Docs 1-6 are EXPENSIVE in model tokens (90 unique digit-gibberish
    // words that no trained subword covers); docs 7-20 are CHEAP (all
    // repeated stopwords the vocab absorbs into 1-token words).
    val mkExpensive = (i: Long) =>
      (Seq.fill(10)("the") ++ (1 to 90).map { j =>
        // md5-hex words: no shared prefixes, 2-grams spread over 256
        // values — the vocab cannot compress these much below
        // ~len/2 tokens, unlike any patterned generator
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"$i/$j".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(16)
      }).mkString(" ")
    val mkCheap = (_: Long) => Seq.fill(100)("the").mkString(" ")
    val rows = (1L to 20L).map(i =>
      (i, if (i <= 6) mkExpensive(i) else mkCheap(i), "en", "s0"))
    val df = docsDf(rows)

    // real-token accounting: the cheap doc is ~100 subword tokens, the
    // expensive one several times that, at IDENTICAL whitespace counts
    val stats = graft.operators.TextStats.tokenStatsSubword(df)
      .select("doc_id", "n_tokens_ws", "n_tokens_bpe")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(stats.values.forall(_._1 == 100L), "whitespace counts must not differ")
    val exp = stats(1L)._2
    val cheap = stats(7L)._2
    assert(cheap <= 110L, s"vocab failed to absorb repeated stopwords: $cheap")
    assert(exp >= 3 * cheap, s"rare-word doc must cost several times more: $exp vs $cheap")

    // whitespace budget (800) admits docs 1-8 regardless of content;
    // the real-token budget runs out inside the expensive prefix — the
    // two contracts select DIFFERENT sets on identical quality order
    val wsSel = Corpus.budgetSelect(df).filter(col("selected"))
      .select("doc_id").as[Long].collect().toSet
    val bpeSel = Corpus.budgetSelectSubword(df).filter(col("selected"))
      .select("doc_id").as[Long].collect().toSet
    assert(wsSel == (1L to 8L).toSet, s"whitespace budget: $wsSel")
    assert(wsSel != bpeSel, "budgets in different token units must diverge here")
    assert(bpeSel.size < wsSel.size,
      s"expensive docs must exhaust the real-token budget sooner: $bpeSel")
    assert(bpeSel.nonEmpty && bpeSel.forall(_ <= bpeSel.max) &&
      (1L to bpeSel.max).forall(bpeSel.contains),
      s"real-token selection must still be a quality-prefix: $bpeSel")
  }

  test("tokenizer split: a persisted vocab artifact applies exactly like the in-memory frame") {
    val spark = TestSpark.spark
    import spark.implicits._
    // batch 1: the reference corpus the vocab trains on; batch 2
    // introduces words batch 1 never saw (the artifact must not refit)
    val batch1 = docsDf((1L to 8L).map(i =>
      (i, Seq.fill(5)(s"shared${i % 3}xx common tokenizer").mkString(" "), "en", "s0")))
    val batch2 = docsDf((100L to 110L).map(i =>
      (i, s"common tokenizer unseen${i}vocabulary zzqqjjxx shared${i % 3}xx", "en", "s0")))

    val vocab = graft.operators.TextStats.subwordVocab(batch1)
    val dir = java.nio.file.Files.createTempDirectory("vocab_artifact_").toString
    graft.operators.TextStats.saveSubwordVocab(vocab, dir)
    val loaded = graft.operators.TextStats.loadSubwordVocab(spark, dir)

    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").collect().map(_.toSeq).toSeq
    // stored ≡ in-memory: the artifact round-trip changes nothing
    assert(
      rows(graft.operators.TextStats.tokenStatsWith(batch2, loaded)) ==
        rows(graft.operators.TextStats.tokenStatsWith(batch2, vocab)),
      "parquet round-trip of the vocab changed tokenization")
    // train-on-self convenience ≡ explicit train+apply
    assert(
      rows(graft.operators.TextStats.tokenStatsSubword(batch1)) ==
        rows(graft.operators.TextStats.tokenStatsWith(batch1, vocab)),
      "tokenStatsSubword must be tokenStatsWith over its own vocab")
    // the split is observable: batch 2 under ITS OWN vocab compresses
    // its novel words, under batch 1's frozen vocab it cannot
    val frozen = graft.operators.TextStats.tokenStatsWith(batch2, loaded)
      .agg(sum("n_tokens_bpe")).head().getLong(0)
    val refit = graft.operators.TextStats.tokenStatsSubword(batch2)
      .agg(sum("n_tokens_bpe")).head().getLong(0)
    assert(frozen > refit,
      s"batch 2's novel words must cost more under the frozen vocab ($frozen vs $refit)")
    // an artifact trained under different length bounds fails loudly
    val bad = Seq((1, "a-subword-way-past-max-len", 1L)).toDF("rank", "subword", "freq")
    intercept[IllegalArgumentException] {
      graft.operators.TextStats.vocabByLenFrom(bad)
    }
  }

  test("quality-weights artifact round-trips exactly; a bias-less artifact fails loudly") {
    val spark = TestSpark.spark
    val w = Array.tabulate(graft.operators.TextStats.ModelBuckets)(i =>
      (i.toLong, (i * 37 % 2001 - 1000).toLong))
    val dir = java.nio.file.Files.createTempDirectory("qweights_artifact_").toString
    graft.operators.TextStats.saveQualityWeights(spark, dir, w, -123L)
    val (lw, lb) = graft.operators.TextStats.loadQualityWeights(spark, dir)
    assert(lb == -123L && lw.sameElements(w),
      "parquet round-trip changed the trained weights")
    // an artifact missing its bias row must not score with a silent 0
    import spark.implicits._
    val bad = java.nio.file.Files.createTempDirectory("qweights_bad_").toString
    w.toSeq.toDF("bucket", "weight_milli")
      .coalesce(1).write.mode("overwrite").parquet(bad)
    intercept[IllegalArgumentException] {
      graft.operators.TextStats.loadQualityWeights(spark, bad)
    }
  }

  test("incrementalDedupAgainst: verdict partition and first-wins within delta") {
    val spark = TestSpark.spark
    import spark.implicits._
    val baseF = Seq((1L, "A"), (2L, "B")).toDF("doc_id", "fp")
    val delta = Seq((10L, "B"), (11L, "C"), (12L, "C"), (13L, "D")).toDF("doc_id", "fp")
    val out = graft.operators.Dedup.incrementalDedupAgainst(baseF, delta)
      .as[(Long, String, Boolean, Boolean, Boolean)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    assert(out(10L) == ((true, false, false)), "dup of base")
    assert(out(11L) == ((false, false, true)), "first C is new")
    assert(out(12L) == ((false, true, false)), "second C dups within delta")
    assert(out(13L) == ((false, false, false)) || out(13L) == ((false, false, true)))
    assert(out(13L)._3, "D is new")
    // is_new iff neither dup flag
    out.values.foreach { case (b, d, n) => assert(n == (!b && !d)) }
  }

  test("stats: per-(lang,source) counts and exact median") {
    val out = Corpus.stats(docsDf(Seq(
      (1L, "aa", "en", "web"),      // 2 chars
      (2L, "aaaa", "en", "web"),    // 4
      (3L, "aaaaaa", "en", "web"),  // 6
      (4L, "a", "de", "book"))))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val en = out(("en", "web"))
    assert(en.getLong(2) == 3L && en.getLong(3) == 12L)
    assert(en.getDouble(4) == 4.0 && en.getDouble(5) == 4.0)
    val de = out(("de", "book"))
    assert(de.getLong(2) == 1L && de.getDouble(5) == 1.0)
  }
}
