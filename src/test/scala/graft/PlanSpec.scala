package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan guardrails: the properties that make these queries
  * survive a 100x scale-up, asserted so a refactor can't silently
  * regress them.
  */
class PlanSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"
  private def plan(name: String): String =
    Queries.all(name)(TestSpark.spark, dir).queryExecution.executedPlan.toString

  test("tpch_q1: shipdate filter and column pruning reach the parquet scan") {
    val p = plan("tpch_q1")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n${p.take(2000)}")
    assert(!p.contains("l_comment"), "unused columns must be pruned from the scan")
  }

  test("revenue_by_nation: all three dimension joins broadcast") {
    val p = plan("revenue_by_nation")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, s"expected 3 broadcast joins:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"), "no dim join may degrade to sort-merge")
  }

  test("near-dup and ANN queries plan no cartesian products") {
    for (q <- Seq(
        "doc_near_dup", "doc_simhash_pairs", "ann_lsh", "emb_near_dup",
        "doc_boilerplate", "doc_pipeline", "doc_pipeline_full",
        "doc_pipeline_full_v2", "doc_pipeline_full_v3",
        "doc_pipeline_full_v4",
        "doc_pipeline_html", "doc_split_leakage",
        "doc_substring_dedup_wide", "streaming_mm_near_dup",
        "mm_audio_near_dup", "streaming_mm_audio_near_dup",
        "mm_audio_near_dup_spectral", "streaming_mm_audio_near_dup_spectral",
        "mm_video_near_dup", "streaming_mm_video_near_dup",
        "mm_video_near_dup_spectral", "streaming_mm_video_near_dup_spectral",
        "mm_video_near_dup_px", "mm_image_near_dup_tiles",
        "mm_image_near_dup_tiles_overlap", "mm_image_tiles_incremental_stored",
        "mm_image_near_dup_anchored", "mm_image_anchored_incremental_stored",
        "doc_near_dup_incremental", "doc_near_dup_incremental_stored",
        "corpus_diff_near",
        "ann_knn_join", "ann_topk_banded")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
    }
  }

  test("stored near-dup base: bucketed scans, pushed kept filter, corpus side never exchanges") {
    val p = plan("doc_near_dup_incremental_stored")
    // both stored tables (signatures + shingles) read through their
    // bucketing, and the write-time cap verdict prunes AT THE SCAN
    assert(p.contains("Bucketed: true"),
      s"stored base must read as bucketed scans:\n${p.take(3000)}")
    assert(p.contains("EqualTo(kept,true)"),
      s"the kept flag must push down to the signature scan:\n${p.take(3000)}")
    // the live delta segment unions in through its array explode
    assert(p.contains("__delta_"), "the delta segment must join the live set")
    // (band, sig) exchanges belong to the BATCH side only (its census +
    // candidate distinct); the corpus side consumes its bucketing —
    // re-minhashing or re-shuffling the corpus would add more
    val bandExchanges = "Exchange hashpartitioning\\(band".r.findAllIn(p).size
    assert(bandExchanges <= 2,
      s"corpus side must not exchange on (band, sig) (<=2 batch-side, found $bandExchanges):\n${p.take(4000)}")
  }

  test("band cap: honest buckets keep the pre-cap plan; an active cap joins the PERSISTED census") {
    // sf0.001's text band buckets all sit under the default cap, so the
    // plan-time census must hand back the ORIGINAL narrow plan — no
    // census join, no __bucket_n anywhere in the executed plan. (The
    // always-join alternative was measured at ~25-30% per banded leg of
    // AQE stage latency on honest corpora — the eager probe plus its
    // documented frozen-decision contract is the deliberate choice.)
    assert(!plan("doc_near_dup").contains("__bucket_n"),
      "an honest corpus must not pay the sampling join")
    // forcing the cap down to 2 makes buckets of 3+ oversize — the
    // sampling join must now be IN the plan, and it must read the
    // census from CACHE (the probe already materialized it; a second
    // aggregation of the signature frame would be the double-census
    // round 14 paid)
    val capped = plan("doc_near_dup_capped")
    assert(capped.contains("__bucket_n"),
      "an active cap must insert the sampling join")
    assert(!capped.contains("CartesianProduct") &&
      !capped.contains("BroadcastNestedLoopJoin"),
      "the sampling join must stay an equi-join")
    val censusScans = "InMemoryTableScan \\[band[^\\]]*__bucket_n".r.findAllIn(capped).size
    val censusAggs = "HashAggregate[^\\n]*__bucket_n[^\\n]*count".r.findAllIn(capped).size
    assert(censusScans >= 1 || censusAggs == 0,
      s"the sampling join must read the persisted census, not re-aggregate:\n${capped.take(3000)}")
    graft.operators.CacheScope.releaseAll()
  }

  test("verdict signals: quality + PII + repetition legs scan docs once") {
    // the fused verdict input (TextStats.verdictSignals): one persisted
    // projection feeds the per-row counts AND the tagged word+bigram
    // explode — three standalone operators would scan the documents
    // parquet three times
    val spark = TestSpark.spark
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.operators.TextStats.verdictSignals(docs)
      .queryExecution.executedPlan.toString
    // every documents FileScan in the rendering must be the CACHED
    // projection's child (printed once per InMemoryTableScan leaf) —
    // a direct second scan would print a FileScan with no
    // InMemoryRelation wrapper
    val fileScans = "FileScan parquet".r.findAllIn(p).size
    val cachedRels = "InMemoryRelation".r.findAllIn(p).size
    assert(fileScans == cachedRels,
      s"fused verdict signals must scan documents only through the shared cache " +
        s"($fileScans FileScans vs $cachedRels cached relations):\n${p.take(3000)}")
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2,
      s"both legs must consume the shared projection:\n${p.take(2000)}")
    graft.operators.CacheScope.releaseAll()
  }

  test("doc_mixture_sample: quota joins broadcast; the corpus pays one rank window") {
    val p = plan("doc_mixture_sample")
    // the corpus-sized side: exactly one source-keyed window exchange
    assert(p.contains("Window"), "mixture rank window missing")
    // the mixture arithmetic (weights, W, K, quotas) must reach the
    // corpus by broadcast — never a shuffled join against doc rows
    assert(!p.contains("SortMergeJoin"),
      s"mixture quota join degraded to sort-merge:\n${p.take(2000)}")
  }

  test("serving index: the probes join prunes the codes scan to the probed c_id lists") {
    // the disk layout's point: a query must NOT read every list
    // directory. The broadcast probes join on the partition column
    // plants a dynamic pruning subquery in the codes scan.
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val centers = Array.fill(16, 64)(rnd.nextGaussian().toFloat)
    val emb = (0 until 400).map { i =>
      val c = centers(i % 16)
      (i.toLong, c.map(x => x + 0.15f * rnd.nextGaussian().toFloat), (i % 16).toLong)
    }.toDF("vec_id", "embedding", "label")
    val idx = java.nio.file.Files.createTempDirectory("plan_ann_idx_").toString
    graft.sinks.Sinks.writeAnnIndex(emb, idx)
    val p = graft.sinks.Sinks
      .readAnnIndexTopK(spark, idx, graft.operators.Ann.defaultQueries(emb))
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"codes scan lacks a dynamic partition-pruning subquery on c_id:\n${p.take(3000)}")
  }

  test("serving index with tombstones: anti-join broadcasts; DPP on the codes scan survives") {
    // deletes must stay kilobyte-scale at query time: the tombstone
    // set rides a broadcast LEFT ANTI join, and its presence must not
    // knock the dynamic partition pruning out of the codes scan — a
    // takedown must never turn probes into full-index reads
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val centers = Array.fill(16, 64)(rnd.nextGaussian().toFloat)
    val emb = (0 until 400).map { i =>
      val c = centers(i % 16)
      (i.toLong, c.map(x => x + 0.15f * rnd.nextGaussian().toFloat), (i % 16).toLong)
    }.toDF("vec_id", "embedding", "label")
    val idx = java.nio.file.Files.createTempDirectory("plan_ann_del_").toString
    graft.sinks.Sinks.writeAnnIndex(emb, idx)
    graft.sinks.Sinks.deleteFromAnnIndex(spark, idx, Seq(5L, 17L))
    val p = graft.sinks.Sinks
      .readAnnIndexTopK(spark, idx, graft.operators.Ann.defaultQueries(emb))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"tombstones must anti-join by broadcast:\n${p.take(3000)}")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"tombstone anti-join knocked DPP out of the codes scan:\n${p.take(3000)}")
    // (the probe side's BroadcastNestedLoopJoin crosses against the
    // kilobyte centroid/codebook frames — deliberate, same as the
    // base serving-index pin)
    assert(!p.contains("CartesianProduct"))
  }

  test("doc_quality_model_trained: fitted weights probe by broadcast, no corpus reshuffle") {
    val p = plan("doc_quality_model_trained")
    assert(p.contains("BroadcastHashJoin"),
      s"trained weight table must broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("doc_epoch_order: rank windows run per (band, bucket); offsets broadcast") {
    val p = plan("doc_epoch_order")
    // the corpus-sized window must partition by (band, bucket) — a
    // band-only (let alone global) window would funnel the corpus
    // through EpochBands partitions
    val winSpecs = p.linesIterator.filter(_.contains("windowspecdefinition")).mkString("\n")
    assert(winSpecs.contains("band") && winSpecs.contains("bucket"),
      s"corpus window not keyed by (band, bucket):\n$winSpecs")
    assert(p.contains("BroadcastHashJoin"),
      s"offset table must broadcast:\n${p.take(2000)}")
  }

  test("doc_substring_dedup: the corpus-sized duplicated-gram aggregate keys on xxhash64, not gram text") {
    // Two-level filter (Dedup.substringSpans): the only corpus-sized
    // shuffle may carry the 8-byte hash; the string-keyed confirmation
    // aggregate must exist but run over the candidate subset only.
    val p = plan("doc_substring_dedup")
    assert(p.contains("xxhash64"), s"level-1 hash aggregate missing:\n${p.take(2000)}")
  }

  test("doc_substring_dedup_min: span floor adds no shuffle over the unfloored plan") {
    def exchanges(s: String) = s.sliding("Exchange".length).count(_ == "Exchange")
    val floored = plan("doc_substring_dedup_min")
    val raw = plan("doc_substring_dedup")
    assert(exchanges(floored) == exchanges(raw),
      s"the island filter must be a post-merge projection, not a new shuffle " +
        s"(${exchanges(raw)} -> ${exchanges(floored)})")
  }

  test("shingle frame pins an explicit-width doc_id repartition (AQE must not coalesce the cache narrow)") {
    // REPARTITION_BY_COL lets AQE coalesce toward the 64 MB advisory
    // size — correct for written output, wrong for a cached frame that
    // the minhash aggregate and verify joins then CPU-crunch on 2-3
    // partitions. The explicit count compiles to REPARTITION_BY_NUM,
    // which AQE leaves alone.
    val p = plan("doc_near_dup")
    assert(p.contains("REPARTITION_BY_NUM"),
      "shingles must pin an explicit doc_id repartition width")
  }

  test("simhash band keys grow with the corpus (no degenerate bucket keyspace)") {
    // The round-4 scale-killer: 8-bit band keys cap at 4x256 = 1,024
    // distinct (band, key) values TOTAL, independent of corpus size, so
    // the within-bucket self-join degenerates to all-pairs/1024. With
    // 16-bit bands of a 64-bit fingerprint the keyspace is 4x65,536 and
    // 500 docs (of which the planted near-dups rightly SHARE keys —
    // that is the bucketing working) must still spread past the 8-bit
    // scheme's mathematical ceiling of 1,024.
    val docs = TestSpark.spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val distinctKeys = graft.operators.Dedup
      .simhashBanded(graft.operators.Dedup.simhash(docs))
      .select("band", "key").distinct().count()
    assert(distinctKeys > 1200, s"band keyspace degenerate: $distinctKeys distinct (band, key)")
  }

  test("emb near-dup band keys grow with the corpus (no 256-bucket ceiling)") {
    // The same scale-killer class as the round-4 simhash fix: a single
    // 8-plane bucket caps at 256 buckets TOTAL, independent of corpus
    // size, so the within-bucket self-join goes quadratic past ~10^6
    // vectors. Four 16-plane bands give 65,536 keys per band; 500
    // vectors must spread past any 8-bit scheme's mathematical ceiling
    // of 4 x 256 = 1,024 (band, key) values.
    val emb = TestSpark.spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val distinctKeys = graft.operators.Ann.nearDupBanded(emb)
      .select("band", "key").distinct().count()
    assert(distinctKeys > 1024, s"band keyspace degenerate: $distinctKeys distinct (band, key)")
  }

  test("ann_ivfpq_residual: codes scan only probed lists; no corpus-sized cartesian") {
    // the only nested-loop join allowed is the deliberate 16-row
    // centroid broadcast cross (the ann_topk pattern); the codes join
    // must be a c_id-keyed broadcast hash join, never all-pairs
    val p = plan("ann_ivfpq_residual")
    assert(!p.contains("CartesianProduct"), "no cartesian product")
    assert(p.contains("BroadcastHashJoin"), s"probe dtables must broadcast:\n${p.take(2000)}")
  }

  test("doc_pack: corpus cumsum partitions by bucket; offsets broadcast") {
    val p = plan("doc_pack")
    assert(p.contains("hashpartitioning(bucket"),
      s"per-bucket window must hash-partition, not single-partition, the corpus:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"), "the 256-row offset table must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("ann_topk broadcasts the query side (small x big, never shuffle)") {
    val p = plan("ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("fused Trend.run plans exactly one shuffle (url hash partitioning)") {
    import graft.model.{FillPolicy, TrendQuery}
    val caps = Queries.captures(TestSpark.spark, dir)
    val p = graft.operators.Trend
      .run(caps, TrendQuery(-1, FillPolicy.Forward, "2024-03-01"))
      .queryExecution.executedPlan.toString
    val shuffles = "ShuffleExchange|Exchange hashpartitioning|Exchange rangepartitioning".r
      .findAllIn(p).size
    assert(shuffles == 1, s"fused pipeline must shuffle exactly once, saw $shuffles:\n${p.take(3000)}")
    // the one exchange hash-partitions on the url column itself: no
    // map-side AppendColumns deserializes each capture to compute a key
    assert(p.contains("MapGroups") && p.contains("Exchange hashpartitioning(url"),
      s"expected MapGroups over a single url-keyed exchange:\n${p.take(1500)}")
    assert(!p.contains("AppendColumns"),
      s"the fused pipeline must group on the url column, not a typed key:\n${p.take(1500)}")
  }

  test("daily-derived queries reuse the persisted daily table") {
    assert(plan("chaos_daily").contains("InMemoryTableScan"),
      "chaos_daily must read the cached daily table, not recompute it")
  }

  test("corpus_vocab: top-k is a distributed heap take, not a global sort") {
    val p = plan("corpus_vocab")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject for the top-k:\n${p.take(2000)}")
  }

  test("doc_decontaminate: benchmark shingle set broadcasts, corpus side never shuffles for the probe") {
    val p = plan("doc_decontaminate")
    assert(p.contains("BroadcastHashJoin"),
      s"benchmark set must broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("doc_tfidf: corpus size N arrives by broadcast, not a driver collect baked as a literal") {
    val p = plan("doc_tfidf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"N must join in by broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"))
  }

  test("doc_lm_score: V broadcasts; bigram/unigram probes hash-join, no cartesian") {
    val p = plan("doc_lm_score")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the one-row V total must arrive by broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), "LM scoring must never plan a cartesian")
  }

  test("doc_lm_score_stored: frozen-model scoring is one shuffle-free map pass") {
    val p = plan("doc_lm_score_stored")
    // everything before the registry's presentation orderBy must be a
    // single partition-parallel pass: no aggregation or join exchanges
    assert(!"Exchange hashpartitioning".r.findFirstIn(p).isDefined,
      s"stored LM scoring must not shuffle:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "stored LM scoring must probe the broadcast maps in the kernel, not join")
  }

  test("doc_token_stats_unigram: Viterbi apply is one shuffle-free map pass") {
    val p = plan("doc_token_stats_unigram")
    // the trained piece table rides the closure (kilobytes): scoring a
    // batch must be partition-parallel with no aggregation or join
    // exchange before the presentation orderBy
    assert(!"Exchange hashpartitioning".r.findFirstIn(p).isDefined,
      s"unigram apply must not shuffle:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      "unigram apply must probe the broadcast scores in the kernel, not join")
  }

  test("doc_shard_manifest: one shard-keyed shuffle; the share denominator broadcasts") {
    val p = plan("doc_shard_manifest")
    // the rollup is persisted and read twice (manifest side + total
    // side); every hash-shuffle rendering must sit inside that shared
    // cache — a direct second aggregation would print an exchange
    // with no InMemoryRelation wrapper (the verdictSignals pin style)
    val hashExchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    val cachedRels = "InMemoryRelation".r.findAllIn(p).size
    assert(hashExchanges == cachedRels && cachedRels >= 1,
      s"shard rollup must be the one cached hash shuffle " +
        s"($hashExchanges exchanges, $cachedRels cached):\n${p.take(2000)}")
    assert(p.contains("BroadcastExchange"),
      "the one-row token total must broadcast, never shuffle the manifest")
  }

  test("doc_quality_model: the weight table probes by broadcast hash join") {
    val p = plan("doc_quality_model")
    // model size must cost a broadcast, not a corpus shuffle: the
    // word->bucket explode joins a kilobyte weight table
    assert(p.contains("BroadcastHashJoin"),
      s"weight table must broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("doc_budget_select: windows run per (source, band), never per source alone") {
    val p = plan("doc_budget_select")
    // the corpus-sized window must carry the band in its partition
    // spec — a source-only window is the skew funnel the banding exists
    // to avoid. The tiny band-offset window IS source-only; it runs
    // over |sources|x|bands| rows, after an aggregate.
    val windowSpecs = "Window .*windowspecdefinition\\(([^)]*)\\)".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(windowSpecs.nonEmpty, s"no window in plan:\n${p.take(2000)}")
    val corpusWindows = windowSpecs.filter(s => !s.contains("band_tokens"))
    assert(corpusWindows.forall(s => s.contains("band")),
      s"corpus window lost its band key:\n$windowSpecs")
  }

  test("ann_filtered_topk: label predicate rides the broadcast join, no cartesian") {
    val p = plan("ann_filtered_topk")
    assert(p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "filtered ANN must never degrade to all-pairs")
  }

  test("doc_containment: rides the banded candidate join, no cartesian") {
    val p = plan("doc_containment")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("mm_near_dup: perceptual pairs come from the band equi-join, no cartesian") {
    val p = plan("mm_near_dup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"perceptual near-dup must never go all-pairs:\n${p.take(3000)}")
  }

  test("doc_subword_vocab: top-k is a distributed heap take, not a global sort") {
    val spark = TestSpark.spark
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val p = graft.operators.TextStats.subwordVocab(docs)
      .queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab top-k must be a per-partition heap:\n${p.take(2000)}")
  }

  test("doc_token_stats_bpe: tokenization is one shuffle-free map pass") {
    val spark = TestSpark.spark
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // the operator itself (registry adds an orderBy for determinism):
    // vocab is closure metadata, so the scoring plan must be scan ->
    // kernel with NO Exchange anywhere
    val p = graft.operators.TextStats.tokenStatsSubword(docs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"real-token counting must not shuffle:\n${p.take(2000)}")
  }

  test("incremental dedup vs a stored base: bucketed scan, base side never re-shuffles") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val table = "plan_dedup_base"
    try {
      graft.sinks.Sinks.writeDedupBase(docs.filter(col("doc_id") % 2 === 0), table, buckets = 8)
      // disable AQE broadcast demotion noise: we want the static shape
      val delta = docs.filter(col("doc_id") % 2 === 1)
      val p = graft.operators.Dedup.incrementalDedupStored(spark, table, delta)
        .queryExecution.executedPlan.toString
      assert(p.contains("SelectedBucketsCount") || p.contains("Bucketed: true"),
        s"base must read as a bucketed scan:\n${p.take(3000)}")
      // the base table's fp bucketing satisfies the join distribution:
      // every Exchange in the plan belongs to the delta/output path.
      // The base subtree is the one reading from the table — assert no
      // Exchange sits between the table scan and its first join/agg.
      val baseScanIdx = p.indexOf(table)
      assert(baseScanIdx >= 0, s"stored base table absent from plan:\n${p.take(3000)}")
      val exchanges = "Exchange hashpartitioning\\(fp".r.findAllIn(p).size
      assert(exchanges <= 2,
        s"expected only delta-side fp exchanges (<=2), found $exchanges:\n${p.take(4000)}")
      // and the stored-base path returns the same verdicts as in-memory
      val stored = graft.operators.Dedup.incrementalDedupStored(spark, table, delta)
        .collect().map(_.toSeq).toSet
      val mem = graft.operators.Dedup.incrementalDedupAgainst(
        docs.filter(col("doc_id") % 2 === 0)
          .select(col("doc_id"), org.apache.spark.sql.functions.md5(col("text")).as("fp")),
        delta.select(col("doc_id"), org.apache.spark.sql.functions.md5(col("text")).as("fp")))
        .collect().map(_.toSeq).toSet
      assert(stored == mem, "stored-base verdicts diverged from in-memory")
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("corpus_pmi: totals broadcast and top-k is a distributed heap take") {
    val p = plan("corpus_pmi")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject for the top-k:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), "totals must arrive by broadcast nested-loop (1 row), not cartesian")
  }
}
