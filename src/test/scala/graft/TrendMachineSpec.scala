package graft

import graft.model.{Capture, FillPolicy, TrendQuery}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The public facade produces a consistent bundle. */
class TrendMachineSpec extends AnyFunSuite {

  test("run returns consistent frames for a multi-url capture set") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new Random(77)
    val caps = (0 until 120).map { i =>
      val day = java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(20))
      val ts = f"${day.toString.replace("-", "")}${rnd.nextInt(86400)}%06d"
      Capture(s"u${i % 3}", ts, Seq("200", "404", "301")(rnd.nextInt(3)), f"D${rnd.nextInt(4)}%02dXXXXXXX", i.toLong)
    }.sortBy(c => (c.ts, c.seq)).zipWithIndex.map { case (c, i) => c.copy(seq = i.toLong) }

    val r = TrendMachine.run(caps.toDF(), TrendQuery(-1, FillPolicy.Forward, "2024-02-01"))
    val scored = r.scored.collect()
    assert(scored.nonEmpty)
    assert(r.daily.count() > 0)
    assert(r.transitions.count() == 3 * 16, "16 grid cells per url")
    val head = r.headline.collect()
    assert(head.length == 3, "one headline row per url")
    // headline last_day equals the scored series' max day per url
    val lastByUrl = scored.groupBy(_.url).map { case (u, rs) => u -> rs.map(_.day).max }
    head.foreach { h =>
      assert(h.getAs[String]("last_day") == lastByUrl(h.getAs[String]("url")))
    }
  }

  private def fixture(n: Int, urls: Int): Seq[Capture] = {
    val rnd = new Random(88)
    (0 until n).map { i =>
      val day = java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(20))
      val ts = f"${day.toString.replace("-", "")}${rnd.nextInt(86400)}%06d"
      Capture(s"s${i % urls}", ts, Seq("200", "404", "301")(rnd.nextInt(3)), f"E${rnd.nextInt(4)}%02dXXXXXXX", i.toLong)
    }.sortBy(c => (c.ts, c.seq)).zipWithIndex.map { case (c, i) => c.copy(seq = i.toLong) }
  }

  test("parquet sink roundtrips the scored table and prunes url lookups") {
    val spark = TestSpark.spark
    import spark.implicits._
    val q = TrendQuery(-1, FillPolicy.Forward, "2024-02-01")
    val scored = TrendMachine.run(fixture(150, 4).toDF(), q).scored.toDF()
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_").toString
    try {
      graft.sinks.Sinks.writeScored(scored, dir, buckets = 8)
      val back = graft.sinks.Sinks.readScored(spark, dir)
      val want = scored.collect().map(_.toSeq.toVector).sortBy(_.toString).toSeq
      val got = back.drop("url_bucket")
        .select(scored.columns.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq.toVector).sortBy(_.toString).toSeq
      assert(got == want, "sink roundtrip must preserve every row")
      // the per-url read prunes to one bucket partition — the bucket
      // count comes from the persisted marker, not the caller
      val one = graft.sinks.Sinks.forUrl(spark, dir, "s1")
      assert(one.count() == scored.filter($"url" === "s1").count())
      val scan = one.queryExecution.executedPlan.toString
      assert(scan.contains("PartitionFilters: [isnotnull(url_bucket"),
        s"url lookup must prune on the bucket partition:\n${scan.take(1200)}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("TTL cache: fresh entries are read back without recompute; expiry recomputes") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_ttl_").toString
    var clock = 1000L
    var computes = 0
    def produce(): org.apache.spark.sql.DataFrame = {
      computes += 1
      Seq((1L, s"v$computes")).toDF("id", "v")
    }
    try {
      val first = graft.sinks.Sinks.cached(spark, dir, "daily", ttlSeconds = 3600,
        now = () => clock)(produce _)
      assert(first.head().getString(1) == "v1" && computes == 1)
      // within TTL: served from disk, produce not called
      clock += 3599
      val second = graft.sinks.Sinks.cached(spark, dir, "daily", ttlSeconds = 3600,
        now = () => clock)(produce _)
      assert(second.head().getString(1) == "v1" && computes == 1,
        "fresh cache must not recompute")
      // past TTL: recomputed and restamped
      clock += 2
      val third = graft.sinks.Sinks.cached(spark, dir, "daily", ttlSeconds = 3600,
        now = () => clock)(produce _)
      assert(third.head().getString(1) == "v2" && computes == 2,
        "expired cache must recompute")
      // a torn (empty) stamp reads as stale: the entry recomputes
      // instead of failing every later call with a parse error
      val stamp = new org.apache.hadoop.fs.Path(s"$dir/daily/_graft_fresh_at")
      stamp.getFileSystem(spark.sparkContext.hadoopConfiguration).create(stamp, true).close()
      val fourth = graft.sinks.Sinks.cached(spark, dir, "daily", ttlSeconds = 3600,
        now = () => clock)(produce _)
      assert(fourth.head().getString(1) == "v3" && computes == 3,
        "a torn stamp must recompute")
      // the refresh wrote a whole stamp through a temp file it renamed away
      val fifth = graft.sinks.Sinks.cached(spark, dir, "daily", ttlSeconds = 3600,
        now = () => clock)(produce _)
      assert(fifth.head().getString(1) == "v3" && computes == 3,
        "the re-stamped entry must be fresh")
      assert(!new java.io.File(s"$dir/daily").list().exists(_.contains(".tmp_")),
        "a temp stamp was left behind")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("streaming scored sink lands closed days durably in parquet") {
    val spark = TestSpark.spark
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val q = TrendQuery(-1, FillPolicy.Forward, "2024-02-01")
    val all = fixture(150, 2)
    val dir = java.nio.file.Files.createTempDirectory("graft_ssink_").toString
    try {
      val stream = MemoryStream[Capture]
      val sink = graft.sinks.Sinks.scoredStreamSink(
        graft.streaming.Streaming.scoredStream(stream.toDS(), q),
        s"$dir/data", s"$dir/ckpt")
      Seq(all.take(70), all.drop(70)).foreach { c => stream.addData(c); sink.processAllAvailable() }
      sink.stop()
      val landed = spark.read.parquet(s"$dir/data").as[graft.model.ScoredRow]
        .collect().map(r => (r.url, r.day) -> r).toMap
      assert(landed.nonEmpty, "no rows landed")
      val batch = operators.Trend.run(all.toDF(), q)
        .collect().map(r => (r.url, r.day) -> r).toMap
      assert(batch == operators.Trend.runStaged(all.toDF(), q)
        .collect().map(r => (r.url, r.day) -> r).toMap, "Trend.run != Trend.runStaged")
      landed.foreach { case (k, got) => assert(batch(k) == got, s"sink divergence at $k") }
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("registerViews exposes the engine to spark.sql with pushdown") {
    val spark = TestSpark.spark
    import spark.implicits._
    val q = TrendQuery(-1, FillPolicy.Forward, "2024-02-01")
    val r = TrendMachine.registerViews(fixture(120, 3).toDF(), q, prefix = "tv")
    val viaSql = spark.sql(
      "SELECT url, count(*) AS n FROM tv_scored WHERE url = 's2' GROUP BY url")
      .collect()
    assert(viaSql.length == 1 && viaSql.head.getString(0) == "s2")
    assert(viaSql.head.getLong(1) == r.scored.filter(_.url == "s2").count())
    assert(spark.sql("SELECT * FROM tv_headline").count() == 3)
    assert(spark.sql("SELECT * FROM tv_transitions").count() == 3 * 16)
  }

  test("registerCorpusViews exposes the training-pipeline operators to spark.sql") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon", "en", "web"),
      (2L, "alpha beta gamma delta epsilon", "en", "web"),
      (3L, "totally different content here now", "de", "web"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", org.apache.spark.sql.functions.length($"text"))
    TrendMachine.registerCorpusViews(docs, prefix = "cv")
    // exact copies land in one cluster, queryable from SQL
    val dups = spark.sql("SELECT doc_id FROM cv_dedup WHERE is_dup").collect()
    assert(dups.map(_.getLong(0)).toSeq == Seq(2L))
    assert(spark.sql("SELECT max(cluster_size) FROM cv_clusters").head().getLong(0) == 2L)
    assert(spark.sql("SELECT count(*) FROM cv_vocab").head().getLong(0) > 0)
    assert(spark.sql(
      "SELECT count(*) FROM cv_stats WHERE lang = 'en'").head().getLong(0) == 1L)
    assert(spark.sql("SELECT count(*) FROM cv_boilerplate WHERE NOT is_modified")
      .head().getLong(0) == 3L, "no segment reaches df>=4 in a 3-doc corpus")
    assert(spark.sql("SELECT count(*) FROM cv_decontaminated").head().getLong(0) > 0)
  }
}
