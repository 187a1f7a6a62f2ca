package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import graft.model.ScoredRow
import graft.operators.{CacheScope, Corpus, TextStats, Trend}
import graft.sources.Warc
import org.apache.spark.sql.SparkSession

/** The benchmark's own tests: `python3 perfbench/run.py --selftest`.
  * Each output check must pass on a right output and fail on a corrupted
  * one; the percentile rule, generator determinism and failure counting
  * are pinned too.
  */
object SelfTest {
  private val results = mutable.ArrayBuffer.empty[(String, Option[String])]

  private def test(name: String)(body: => Unit): Unit = {
    val r = try { body; None } catch { case e: AssertionError => Some(e.getMessage); case NonFatal(e) => Some(e.toString) }
    results += name -> r
    println(s"${if (r.isEmpty) "ok  " else "FAIL"} $name${r.fold("")(": " + _)}")
  }

  private def passes(r: Option[String]): Unit = assert(r.isEmpty, s"check failed on a right output: ${r.get}")
  private def fails(r: Option[String]): Unit = assert(r.isDefined, "check passed on a corrupted output")

  def main(argv: Array[String]): Unit = {
    val work = argv.sliding(2).collectFirst { case Array("--work", w) => w }.getOrElse(".bench_build")
    val spark = Main.session(2, work, trace = false)
    try run(spark, work) finally spark.stop()
    val failed = results.count(_._2.isDefined)
    println(s"${results.size - failed} passed, $failed failed")
    sys.exit(if (failed == 0) 0 else 1)
  }

  def run(spark: SparkSession, work: String): Unit = {
    import spark.implicits._

    test("percentile is nearest-rank") {
      val xs = (1 to 100).map(_.toDouble)
      assert(Stats.percentile(xs, 90) == 90.0)
      assert(Stats.percentile(xs, 50) == 50.0)
      assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
    }
    test("p90 needs ten samples beyond it") {
      assert(Stats.beyond(100, 90) == 10 && Stats.supports(100, 90))
      assert(!Stats.supports(99, 90))
      assert(Stats.summarize((1 to 99).map(_.toDouble)).p90.isEmpty)
      assert(Stats.summarize((1 to 100).map(_.toDouble)).p90.contains(90.0))
      assert(Stats.summarize(Seq(5.0)).p50.contains(5.0))
    }

    val small = Gen.CaptureParams(urls = 6, captures = 3000)
    test("capture generator is deterministic per seed") {
      assert(Gen.captures(7, small).caps.toSeq == Gen.captures(7, small).caps.toSeq)
      assert(Gen.captures(7, small).caps.toSeq != Gen.captures(8, small).caps.toSeq)
      val cs = Gen.captures(7, small)
      assert(cs.caps.toSeq == cs.caps.toSeq.sortBy(c => (c.url, c.ts, c.seq)), "not sorted by (url, ts)")
      assert(cs.urls.map(u => cs.of(u).length) == cs.urls.map(u => cs.of(u).length).sorted.reverse,
        "capture counts do not fall with Zipf rank")
    }
    test("graft reads the CDX pages back as the generator's captures, in order") {
      // pages of 700 lines cut inside URLs
      val got = new CaptureStore(spark, 7, s"$work/selftest", small, pageLines = 700).cdx(1)
        .select("url", "ts", "status", "digest", "seq").as[(String, String, String, String, Long)].collect()
      assert(got.map(_._5).toSeq == got.map(_._5).sorted.toSeq, "seq does not follow page order")
      assert(got.map(r => (r._1, r._2, r._3, r._4)).toSeq ==
        Gen.captures(7, small).caps.toSeq.map(c => (c.url, c.ts, c.status, c.digest)))
    }
    val smallCorpus = Gen.CorpusParams(singletons = 60, benchmark = 8, contaminated = 6,
      exactGroups = Seq(2, 3), stars = Seq(3), chains = Seq(12))
    test("corpus generator is deterministic per seed") {
      assert(Gen.corpus(7, smallCorpus).docs.toSeq == Gen.corpus(7, smallCorpus).docs.toSeq)
      assert(Gen.corpus(7, smallCorpus).docs.toSeq != Gen.corpus(8, smallCorpus).docs.toSeq)
      val c = Gen.corpus(7, smallCorpus)
      assert(c.docs.forall(d => (d.id % Gen.BenchmarkMod == 0) == (d.role == "benchmark")))
      assert(Gen.warcFiles(c).map(_._2.toSeq).toSeq == Gen.warcFiles(Gen.corpus(7, smallCorpus)).map(_._2.toSeq).toSeq)
    }

    val cs = Gen.captures(3, small)
    val q = Workloads.Query
    val scored = Workloads.sorted(Trend.run(cs.caps.toSeq.toDF(), q).collect().toSeq)
    def flip(rows: Seq[ScoredRow], i: Int) = rows.updated(i, rows(i).copy(resilience = rows(i).resilience + 1e-9))

    test("row-count check fails on a dropped row") {
      val firstDay = cs.urls.map(u => u -> cs.firstDay(u)).toMap
      def counts(rows: Seq[ScoredRow]) = rows.groupBy(_.url).map { case (u, rs) => u -> rs.size.toLong }
      passes(Checks.rowCounts(counts(scored), firstDay, q.asOf))
      fails(Checks.rowCounts(counts(scored.tail), firstDay, q.asOf))
    }
    test("row-equality check fails on one flipped score") {
      passes(Checks.sameRows("scored", scored, scored))
      fails(Checks.sameRows("scored", scored, flip(scored, scored.length / 2)))
    }
    test("stream-prefix check fails on a flipped or missing row") {
      val cut = scored.map(_.day).sorted.apply(scored.length * 3 / 4)
      val prefix = scored.filter(_.day <= cut)
      passes(Checks.streamPrefix(prefix, scored))
      fails(Checks.streamPrefix(flip(prefix, 0), scored))
      fails(Checks.streamPrefix(prefix.filterNot(_ == prefix(prefix.length / 2)), scored))
    }

    val corpus = Gen.corpus(5, smallCorpus)
    val truth: Map[Long, Long] = {
      val inGroup = corpus.groups.flatMap(g => g.map(_ -> g.min)).toMap
      corpus.docs.filter(_.role != "benchmark").map(d => d.id -> inGroup.getOrElse(d.id, d.id)).toMap
    }
    test("cluster check fails on a dropped planted pair or a joined unrelated pair") {
      passes(Checks.clusters(truth, corpus))
      val g = corpus.groups.find(_.size > 1).get
      fails(Checks.clusters(truth.updated(g.last, g.last), corpus))
      val singles = corpus.docs.filter(_.role == "singleton").map(_.id)
      fails(Checks.clusters(truth.updated(singles(0), singles(1)), corpus))
    }
    test("keep-count check fails when one survivor too many is kept") {
      passes(Checks.keepCount(corpus.expectedKeep, corpus))
      fails(Checks.keepCount(corpus.expectedKeep + 1, corpus))
    }
    test("graft's curation pipeline meets the planted corpus") {
      val path = s"$work/selftest/warc"
      spark.sparkContext.parallelize(Gen.warcFiles(corpus).toIndexedSeq, 2).toDF("file_id", "payload")
        .write.mode("overwrite").parquet(path)
      val docs = TextStats.extractText(Warc.parseWarcRecords(spark.read.parquet(path)).toDF())
      val out = Corpus.docPipeline(docs).select("doc_id", "cluster", "keep").as[(Long, Long, Boolean)].collect()
      CacheScope.releaseAll()
      passes(Checks.clusters(out.map(r => r._1 -> r._2).toMap, corpus))
      passes(Checks.keepCount(out.count(_._3), corpus))
    }

    test("the tracer keeps only jobs inside a span") {
      val t = new Tracer(spark, "selftest")
      t.start()
      try {
        spark.range(1000).count()
        t("inside")(spark.range(1000).count())
        spark.range(1000).count()
        t.settle()
        val jobs = t.metrics(t.spansNamed("inside").head).jobs
        assert(jobs >= 1 && t.jobsRecorded == jobs, s"span has $jobs jobs, tracer kept ${t.jobsRecorded}")
      } finally t.stop()
    }
    test("a thrown operation counts as failed, not as a timing") {
      val w = new Workload {
        val itemUnit = "items"
        def params = Map.empty[String, Any]
        def setup(rep: Int): Unit = ()
        def warmUp(): Unit = ()
        def nextOp(): Op = Op("op", 1, _ => throw new IllegalStateException("boom"))
        def checks() = Nil
        def probes(t: Tracer) = Probed(Map.empty)
      }
      val r = Main.step(w, None, mutable.Map.empty)
      assert(r.isLeft && r.left.exists(_.contains("boom")), s"got $r")
    }
  }
}
