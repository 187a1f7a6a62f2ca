package graft

import graft.operators.{Ann, CacheScope}
import graft.sinks.Sinks
import org.scalatest.funsuite.AnyFunSuite

/** The HNSW SERVING layout — the graph-ANN family's build-once/
  * search-many discipline: [[graft.sinks.Sinks.writeHnswIndex]]
  * freezes edges/entries/bands/vectors as parquet artifacts, the
  * search face runs only the beam kernel against them. Pins: disk ≡
  * in-memory bit-for-bit (both faces share the kernel verbatim), the
  * search plans carry zero build stages and read no storage outside
  * the index path, the rebuild-only mutation contract, and the
  * zero-registry-leak property of the scoped eager kernel.
  */
class HnswIndexSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  /** 120 gaussian vectors + a planted near-copy twin for each — the
    * IvfRecallSpec fixture shape, small enough for exact comparison.
    */
  private def fixture(seed: Int = 31) = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(seed)
    val base = Array.fill(120, 64)(rnd.nextGaussian().toFloat)
    val rows = (0 until 120).map(i => (i.toLong, base(i), 0L)) ++
      (0 until 120).map { i =>
        val copy = base(i).map(x => x + 0.02f * rnd.nextGaussian().toFloat)
        ((1000 + i).toLong, copy, 0L)
      }
    rows.toDF("vec_id", "embedding", "label")
  }

  private def tmpDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_hnsw_spec_").toFile
    d.deleteOnExit()
    d.getPath
  }

  test("a session-memoized build searched later equals the one-shot build+search face") {
    import org.apache.spark.sql.functions.col
    val emb = fixture()
    // the one-shot face: build + search in one invocation — the
    // correctness witness the rerouted registry row stands on
    val want = Ann.hnswTopK(emb).collect().map(_.toSeq).toSet
    // the serving-shape fixture: the SAME deterministic build,
    // materialized once (localCheckpoint outlives the scope), searched
    // separately — what the registry's ann_hnsw_topk row now measures
    val (corpus, bands, entries, graph) = CacheScope.withScope {
      val (g, ord) = Ann.hnswGraphParts(emb)
      (Ann.hnswCorpusVectors(emb).localCheckpoint(true),
        Ann.hnswCorpusBands(emb).localCheckpoint(true),
        ord.filter(col("r") < Ann.HnswEntries).select("vec_id").localCheckpoint(true),
        g.localCheckpoint(true))
    }
    def search() = Ann
      .hnswSearch(corpus, bands, entries, graph, Ann.defaultQueries(emb))
      .collect().map(_.toSeq).toSet
    assert(search() === want,
      "the fixture search must be bit-identical to the one-shot build+search")
    // a REPEATED search against the same materialized build — the
    // amortized path — stays identical
    assert(search() === want)
  }

  test("frozen-index search equals the in-memory face bit-for-bit") {
    val emb = fixture()
    val p = tmpDir()
    Sinks.writeHnswIndex(emb, p)
    val queries = Ann.defaultQueries(emb)
    val mem = Ann.hnswTopK(emb, queries).collect().map(_.toSeq).toSet
    val disk = Sinks.readHnswIndexTopK(spark, p, queries).collect().map(_.toSeq).toSet
    assert(mem.nonEmpty, "fixture must produce results")
    assert(disk === mem, "frozen-graph search diverged from the per-invocation build")
  }

  test("search plans carry no build stages and read only the index artifacts") {
    val emb = fixture()
    val p = tmpDir()
    Sinks.writeHnswIndex(emb, p)
    // literal query rows (LocalRelation): any file scan in a round's
    // plan can only be an index artifact
    val s = spark
    import s.implicits._
    val queries = emb.collect().take(3)
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
      .toSeq.toDF("q_id", "embedding")
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val res = Sinks.readHnswIndexTopK(spark, p, queries, plans += _)
    assert(res.count() > 0)
    assert(plans.size === Ann.HnswHops + 1, "one materialized plan per beam round")
    plans.foreach { pl =>
      // the ring build (md5 'hord' sort) and the corpus band/signature
      // build must never appear in a frozen-index search
      assert(!pl.contains("hord"), s"ring-build stage leaked into a search round:\n${pl.take(1500)}")
      // every file location the round touches lives under the index path
      pl.linesIterator.filter(_.contains("file:")).foreach { line =>
        assert(line.contains(p), s"search round read outside the index: $line")
      }
      assert(pl.contains("float_dot"), "beam round must score exact cosines")
    }
    // expansion rounds read the PREVIOUS round's persisted frontier
    // from cache, never recompute it (the textual plan includes cached
    // lineage, so the pin is the InMemoryTableScan itself)
    plans.drop(1).foreach { pl =>
      assert(pl.contains("InMemoryTableScan") || pl.contains("InMemoryRelation"),
        s"expansion round must read the cached frontier:\n${pl.take(1500)}")
    }
  }

  test("both faces leave zero frames in the session-global cache registry") {
    CacheScope.releaseAll()
    val emb = fixture()
    val before = CacheScope.registeredCount
    assert(Ann.hnswTopK(emb).count() > 0)
    assert(CacheScope.registeredCount === before,
      "hnswTopK leaked persists into the session-global registry")
    val p = tmpDir()
    Sinks.writeHnswIndex(emb, p)
    assert(CacheScope.registeredCount === before,
      "writeHnswIndex leaked persists into the session-global registry")
    assert(Sinks.readHnswIndexTopK(spark, p, Ann.defaultQueries(emb)).count() > 0)
    assert(CacheScope.registeredCount === before,
      "readHnswIndexTopK leaked persists into the session-global registry")
  }

  test("one index write reads its corpus for the shared build once, not per artifact") {
    // the build's persists (minhash signature, ring ordering) must serve
    // all four artifact writes; released before them, each write redoes
    // its share of the build from the corpus
    val rows = fixture().count()
    val src = tmpDir() + "/emb"
    fixture().write.parquet(src)
    val emb = spark.read.parquet(src)
    val read = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        read.addAndGet(e.stageInfo.taskMetrics.inputMetrics.recordsRead)
    }
    org.apache.spark.ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try Sinks.writeHnswIndex(emb, tmpDir())
    finally {
      org.apache.spark.ListenerDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    // four corpus scans (seven when the persists are released before the
    // writes); reads of cached batches add a few records
    assert(read.get >= 4 * rows && read.get < 5 * rows,
      s"${read.get} records read for a $rows-row corpus: ${read.get.toDouble / rows} scans")
  }

  test("rebuild-only contract: a rewrite atomically supersedes the whole index") {
    val p = tmpDir()
    val embA = fixture(seed = 31)
    Sinks.writeHnswIndex(embA, p)
    val embB = fixture(seed = 47)
    Sinks.writeHnswIndex(embB, p)
    val queries = Ann.defaultQueries(embB)
    val rebuilt = Sinks.readHnswIndexTopK(spark, p, queries).collect().map(_.toSeq).toSet
    val direct = Ann.hnswTopK(embB, queries).collect().map(_.toSeq).toSet
    assert(rebuilt === direct, "rewritten index must serve exactly the new corpus")
    // RETENTION CONTRACT: the superseded generation survives the flip
    // (so in-flight readers finish) and is reclaimed by the NEXT write
    val gens = new java.io.File(p).listFiles().map(_.getName)
      .filter(_.matches("g\\d+")).sorted
    assert(gens.toSeq === Seq("g1", "g2"),
      s"expected current + retained superseded generation: ${gens.toSeq}")
    Sinks.writeHnswIndex(embB, p)
    val gens2 = new java.io.File(p).listFiles().map(_.getName)
      .filter(_.matches("g\\d+")).sorted
    assert(gens2.toSeq === Seq("g2", "g3"),
      s"the third write must reclaim g1 and retain g2: ${gens2.toSeq}")
  }

  test("an in-flight search that resolved CURRENT before a rebuild+flip completes against the retained generation") {
    val p = tmpDir()
    val embA = fixture(seed = 31)
    Sinks.writeHnswIndex(embA, p)
    val queries = Ann.defaultQueries(embA)
    val expected = Ann.hnswTopK(embA, queries).collect().map(_.toSeq).toSet
    // resolve CURRENT now, exactly as a reader's resolve-once step does
    val preFlipGen = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$p/CURRENT")), "UTF-8").trim
    val gdir = s"$p/g$preFlipGen"
    // a rebuild supersedes that generation and flips the pointer
    Sinks.writeHnswIndex(fixture(seed = 47), p)
    // the reader's remaining work — scanning the resolved generation's
    // four artifacts and running the beam — happens AFTER the flip.
    // Pre-retention, these files were deleted at the flip and this scan
    // died with FileNotFoundException mid-query.
    val got = Ann.hnswSearch(
      spark.read.parquet(s"$gdir/vectors"),
      spark.read.parquet(s"$gdir/bands"),
      spark.read.parquet(s"$gdir/entries"),
      spark.read.parquet(s"$gdir/edges"),
      queries).collect().map(_.toSeq).toSet
    assert(got === expected,
      "a search that resolved the pre-flip generation must finish against intact files")
  }

  test("continuous ingest: IVF delta drift past the threshold triggers exactly one graph rebuild + flip") {
    val s = spark
    import s.implicits._
    val emb = fixture() // 240 vectors → 10% drift threshold = 24
    val ivf = tmpDir()
    val hnsw = tmpDir()
    Sinks.writeAnnIndex(emb, ivf)
    def gen: Long = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$hnsw/CURRENT")), "UTF-8").trim.toLong
    def newVecs(base: Long, n: Int): org.apache.spark.sql.DataFrame = {
      val rnd = new scala.util.Random(base.toInt)
      (0 until n).map(i =>
        (base + i, Array.fill(64)(rnd.nextGaussian().toFloat).toSeq, 0L))
        .toDF("vec_id", "embedding", "label")
    }
    // no committed generation: the first check always builds
    assert(Sinks.maybeRebuildHnswIndex(s, ivf, hnsw, emb), "missing index must be due")
    assert(gen === 1L)
    // 10 new vectors on 240 served — under the 10% drift threshold
    val add1 = newVecs(2000L, 10)
    Sinks.upsertAnnIndex(s, ivf, add1.select("vec_id", "embedding"))
    val after1 = emb.unionByName(add1)
    assert(!Sinks.maybeRebuildHnswIndex(s, ivf, hnsw, after1),
      "sub-threshold drift must not rebuild")
    assert(gen === 1L, "no flip below the threshold")
    // +20 more → 30 live-vs-served ≥ 24: exactly one rebuild + flip
    val add2 = newVecs(3000L, 20)
    Sinks.upsertAnnIndex(s, ivf, add2.select("vec_id", "embedding"))
    val after2 = after1.unionByName(add2)
    assert(Sinks.maybeRebuildHnswIndex(s, ivf, hnsw, after2),
      "threshold drift must rebuild")
    assert(gen === 2L, "exactly one pointer flip for the rebuild")
    // self-normalizing: the rebuild served the live set, so an
    // immediate re-check is quiet
    assert(!Sinks.maybeRebuildHnswIndex(s, ivf, hnsw, after2),
      "a fresh rebuild must disarm the trigger")
    assert(gen === 2L)
    // the rebuilt generation serves the ingested vectors
    val servedIds = s.read.parquet(s"$hnsw/g2/vectors")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(servedIds.contains(3005L), "ingested vectors must reach the rebuilt graph")
  }

  test("a corrupt CURRENT pointer fails loudly, never parses as missing") {
    val p = tmpDir()
    Sinks.writeHnswIndex(fixture(), p)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$p/CURRENT"), "not-a-gen".getBytes("UTF-8"))
    // drop the checksum sidecar so the corruption reaches the parser
    // rather than the local FS's CRC check
    new java.io.File(s"$p/.CURRENT.crc").delete()
    val ex = intercept[IllegalStateException] {
      Sinks.readHnswIndexTopK(spark, p, Ann.defaultQueries(fixture())).count()
    }
    assert(ex.getMessage.contains("unreadable"))
  }

  test("a missing/mid-flip CURRENT pointer fails loudly instead of serving a mixed geometry") {
    val p = tmpDir()
    val ex0 = intercept[IllegalStateException] {
      Sinks.readHnswIndexTopK(spark, p, Ann.defaultQueries(fixture())).count()
    }
    assert(ex0.getMessage.contains("no committed CURRENT generation"))
    val emb = fixture()
    Sinks.writeHnswIndex(emb, p)
    // simulate a crash inside the two-op flip window: pointer deleted,
    // rename never happened
    assert(new java.io.File(s"$p/CURRENT").delete())
    val ex = intercept[IllegalStateException] {
      Sinks.readHnswIndexTopK(spark, p, Ann.defaultQueries(emb)).count()
    }
    assert(ex.getMessage.contains("no committed CURRENT generation"))
    // the next write heals: a fresh commit serves normally
    Sinks.writeHnswIndex(emb, p)
    assert(Sinks.readHnswIndexTopK(spark, p, Ann.defaultQueries(emb)).count() > 0)
  }

  test("a crashed rebuild leaves the serving generation intact; the next write reclaims its orphan") {
    val p = tmpDir()
    val emb = fixture()
    Sinks.writeHnswIndex(emb, p)
    val queries = Ann.defaultQueries(emb)
    val before = Sinks.readHnswIndexTopK(spark, p, queries).collect().map(_.toSeq).toSet
    // a rebuild that died after writing artifacts but before the flip:
    // a partial orphan generation on disk, pointer untouched
    val orphan = new java.io.File(s"$p/g99/edges")
    assert(orphan.mkdirs())
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$p/g99/edges/part-junk.parquet"), Array[Byte](1, 2, 3))
    val during = Sinks.readHnswIndexTopK(spark, p, queries).collect().map(_.toSeq).toSet
    assert(during === before, "an uncommitted generation must be invisible to readers")
    Sinks.writeHnswIndex(emb, p)
    assert(!new java.io.File(s"$p/g99").exists(),
      "the next write must reclaim the crashed rebuild's orphan generation")
    val after = Sinks.readHnswIndexTopK(spark, p, queries).collect().map(_.toSeq).toSet
    assert(after === before, "the recommitted index must serve the same corpus")
  }
}
