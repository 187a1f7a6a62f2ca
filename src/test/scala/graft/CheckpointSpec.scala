package graft

import graft.model.{Capture, FillPolicy, ScoredRow, TrendQuery}
import graft.streaming.{LocalCheckpointFiles, Streaming}
import java.net.URI
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Random

/** A raw local filesystem under a scheme of its own: a stand-in for a
  * checkpoint store that is not `file:`.
  */
class OtherSchemeFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftother:///")
}

/** The contract of [[LocalCheckpointFiles]]: the files of Spark's
  * default checkpoint manager, for `file:` only, never over a user's
  * choice, and a checkpoint that moves between the two managers.
  */
class CheckpointSpec extends AnyFunSuite {

  private val Key = LocalCheckpointFiles.ManagerClassKey

  private def withDir(body: JPath => Unit): Unit = {
    val dir = Files.createTempDirectory("graft_ckpt_")
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  /** Every file and directory under `dir`, relative to it. */
  private def names(dir: JPath): Set[String] = {
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_ != dir).map(p => dir.relativize(p).toString).toSet
    finally walk.close()
  }

  private def write(m: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(StandardCharsets.UTF_8))
    out.close()
  }

  private def read(m: CheckpointFileManager, p: Path): String = {
    val in = m.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  test("createAtomic leaves the file and its .crc, with stock LocalFileSystem mode bits") {
    withDir { dir =>
      // a umask unlike the process's, so bits left unset would show
      val conf = new Configuration()
      conf.set("fs.permissions.umask-mode", "027")
      val root = new Path(dir.toUri)
      val m = new LocalCheckpointFiles(root, conf)
      write(m, new Path(root, "1.delta"), "state", overwrite = false)
      assert(names(dir) == Set("1.delta", ".1.delta.crc"))
      assert(read(m, new Path(root, "1.delta")) == "state")

      val stock = new LocalFileSystem()
      stock.setConf(conf)
      stock.initialize(URI.create("file:///"), conf)
      try {
        stock.create(new Path(root, "stock")).close()
        stock.mkdirs(new Path(root, "stockdir"))
      } finally stock.close()
      m.mkdirs(new Path(root, "dir"))
      def mode(name: String) = Files.getPosixFilePermissions(dir.resolve(name))
      assert(mode("1.delta") == mode("stock"))
      assert(mode(".1.delta.crc") == mode(".stock.crc"))
      assert(mode("dir") == mode("stockdir"))
      assert(!mode("1.delta").contains(java.nio.file.attribute.PosixFilePermission.OTHERS_READ),
        s"umask 027 not applied: ${mode("1.delta")}")
    }
  }

  test("cancel leaves nothing; overwriteIfPossible=false keeps an existing file") {
    withDir { dir =>
      val root = new Path(dir.toUri)
      val m = new LocalCheckpointFiles(root, new Configuration())
      val cancelled = m.createAtomic(new Path(root, "2.delta"), overwriteIfPossible = false)
      cancelled.write(1)
      cancelled.cancel()
      assert(names(dir).isEmpty, s"cancel left ${names(dir)}")

      val p = new Path(root, "3.delta")
      write(m, p, "first", overwrite = false)
      intercept[FileAlreadyExistsException](write(m, p, "second", overwrite = false))
      assert(read(m, p) == "first")
      write(m, p, "third", overwrite = true)
      assert(read(m, p) == "third")
      assert(names(dir).filter(!_.contains(".tmp")) == Set("3.delta", ".3.delta.crc"))
    }
  }

  test("only a file: checkpoint leaves Spark's default manager") {
    def spark(path: Path, conf: Configuration) = {
      val c = new Configuration(conf)
      c.unset(Key)
      CheckpointFileManager.create(path, c).getClass
    }
    val conf = new Configuration()
    conf.set(Key, classOf[LocalCheckpointFiles].getName)
    conf.set("fs.graftother.impl", classOf[OtherSchemeFs].getName)
    conf.setBoolean("fs.graftother.impl.disable.cache", true)
    val other = new Path("graftother:///tmp/graft_ckpt_other")
    assert(new LocalCheckpointFiles(other, conf).delegate.getClass == spark(other, conf))
    assert(spark(other, conf) == classOf[FileSystemBasedCheckpointFileManager])

    val local = new Path("file:///tmp/graft_ckpt_local")
    assert(spark(local, conf) == classOf[FileContextBasedCheckpointFileManager])
    val mine = new LocalCheckpointFiles(local, conf).delegate
    assert(mine.isInstanceOf[FileSystemBasedCheckpointFileManager] && mine.isLocal)
    // a path without a scheme is a `file:` path under the default filesystem
    assert(new LocalCheckpointFiles(new Path("/tmp/graft_ckpt_local"), conf).delegate.getClass == mine.getClass)
  }

  test("stream faces set graft's manager on their session only when the key is unset") {
    val q = TrendQuery(-1, FillPolicy.Forward, "2024-02-01")
    def build(s: org.apache.spark.sql.SparkSession): Unit = {
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      Streaming.scoredStream(MemoryStream[Capture].toDS(), q)
    }
    val fresh = TestSpark.spark.newSession()
    assert(fresh.conf.getOption(Key).isEmpty)
    build(fresh)
    assert(fresh.conf.get(Key) == classOf[LocalCheckpointFiles].getName)

    val user = TestSpark.spark.newSession()
    val chosen = classOf[FileContextBasedCheckpointFileManager].getName
    user.conf.set(Key, chosen)
    build(user)
    assert(user.conf.get(Key) == chosen)
    // nothing reaches the SparkContext's Hadoop configuration
    assert(TestSpark.spark.sparkContext.hadoopConfiguration.get(Key) == null)
  }

  private def fixture(n: Int, urls: Int): Seq[Capture] = {
    val rnd = new Random(41)
    (0 until n).map { i =>
      val day = java.time.LocalDate.of(2024, 1, 1).plusDays(rnd.nextInt(24))
      val ts = f"${day.toString.replace("-", "")}${rnd.nextInt(86400)}%06d"
      Capture(s"m${i % urls}", ts, Seq("200", "404", "301", "-")(rnd.nextInt(4)),
        f"C${rnd.nextInt(5)}%02dXXXXXXX", i.toLong)
    }.sortBy(c => (c.ts, c.seq)).zipWithIndex.map { case (c, i) => c.copy(seq = i.toLong) }
  }

  /** A scored stream of `chunks` run in two halves over one checkpoint
    * into `Sinks.scoredStreamSink`, each half's query built by its own
    * face (which may set the session up first): the rows the sink holds
    * and the checkpoint's file names.
    */
  private def resumeScored(
      dir: JPath,
      chunks: Seq[Seq[Capture]],
      first: (SparkSession, Dataset[Capture]) => Dataset[ScoredRow],
      second: (SparkSession, Dataset[Capture]) => Dataset[ScoredRow])
      : (Map[(String, String), ScoredRow], Set[String]) = {
    val s = TestSpark.spark.newSession()
    implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
    import s.implicits._
    val stream = MemoryStream[Capture]
    def half(face: (SparkSession, Dataset[Capture]) => Dataset[ScoredRow], part: Seq[Seq[Capture]]): Unit = {
      val query = graft.sinks.Sinks.scoredStreamSink(face(s, stream.toDS()), s"$dir/data", s"$dir/ckpt")
      try part.foreach { c => stream.addData(c); query.processAllAvailable() }
      finally query.stop()
    }
    half(first, chunks.take(2))
    half(second, chunks.drop(2))
    val rows = s.read.parquet(s"$dir/data").as[ScoredRow].collect().map(r => (r.url, r.day) -> r).toMap
    (rows, names(dir.resolve("ckpt")))
  }

  /** `rows` is exactly `Trend.run`'s closed prefix of `all`: every url
    * emitted, each up to its last emitted day.
    */
  private def assertClosedPrefix(rows: Map[(String, String), ScoredRow], all: Seq[Capture], q: TrendQuery): Unit = {
    val spark = TestSpark.spark
    import spark.implicits._
    val lastEmitted = rows.keys.groupBy(_._1).map { case (u, ks) => u -> ks.map(_._2).max }
    assert(lastEmitted.keySet == all.map(_.url).toSet, s"urls emitted: ${lastEmitted.keySet}")
    val batch = operators.Trend.run(all.toDF(), q).collect()
      .filter(r => lastEmitted.get(r.url).exists(r.day <= _))
      .map(r => (r.url, r.day) -> r).toMap
    assert(rows == batch, s"resumed rows differ from Trend.run's closed prefix")
  }

  test("a scored-stream checkpoint resumes across Spark's default manager and graft's, both ways") {
    val q = TrendQuery(-1, FillPolicy.Closest, "2024-02-01")
    val all = fixture(240, 3)
    val chunks = all.grouped(60).toSeq
    val sparkDefault = Some(classOf[FileContextBasedCheckpointFileManager].getName)

    /** The scored face under `key` (None: left unset, so the face
      * installs graft's manager).
      */
    def under(key: Option[String])(s: SparkSession, ds: Dataset[Capture]): Dataset[ScoredRow] = {
      key.fold(s.conf.unset(Key))(s.conf.set(Key, _))
      val scored = Streaming.scoredStream(ds, q)
      assert(s.conf.get(Key) == key.getOrElse(classOf[LocalCheckpointFiles].getName))
      scored
    }

    withDir { a =>
      withDir { b =>
        val (toGraft, filesA) = resumeScored(a, chunks, under(sparkDefault), under(None))
        val (toSpark, filesB) = resumeScored(b, chunks, under(None), under(sparkDefault))
        assert(filesA == filesB,
          s"checkpoint files differ: ${filesA -- filesB} vs ${filesB -- filesA}")
        assert(filesA.contains("offsets/3"))
        // a state delta, its Hadoop sidecar and Spark's state checksum file
        for (suffix <- Seq("/1.delta", "/.1.delta.crc", "/1.delta.crc"))
          assert(filesA.exists(f => f.startsWith("state/") && f.endsWith(suffix)), s"no state file *$suffix")
        assertClosedPrefix(toGraft, all, q)
        assertClosedPrefix(toSpark, all, q)
      }
    }
  }

  test("a scored-stream checkpoint resumes across the unbound and the bound state encoder, both ways") {
    // binding the state encoder must not move the checkpoint format: a
    // state-format v2 checkpoint (one binary column) written through
    // Spark's implicit byte-array encoder resumes under the face's bound
    // one, and the other way round, each resume run in two halves
    val q = TrendQuery(-1, FillPolicy.Closest, "2024-02-01")
    val all = fixture(240, 3)
    val chunks = all.grouped(60).toSeq
    def bound(s: SparkSession, ds: Dataset[Capture]) = Streaming.scoredStream(ds, q)
    def unbound(s: SparkSession, ds: Dataset[Capture]) = {
      import s.implicits._
      ds.groupByKey(_.url)
        .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(Streaming.scoredStep(q))
    }
    withDir { a =>
      withDir { b =>
        assertClosedPrefix(resumeScored(a, chunks, unbound, bound)._1, all, q)
        assertClosedPrefix(resumeScored(b, chunks, bound, unbound)._1, all, q)
      }
    }
  }

  test("a near-dup TTL checkpoint resumes across the unbound and the bound state encoder, both ways") {
    val ttl = 86400L // nothing evicts, so the pairs are the batch fold's
    val rnd = new Random(43)
    val texts = (0 until 4).map(t => (0 until 12).map(w => s"d$t-w$w").mkString(" "))
    val docs = (0 until 40).map { i =>
      (i.toLong, texts(rnd.nextInt(texts.size)),
        java.sql.Timestamp.valueOf(f"2024-01-01 10:${i / 2}%02d:00"))
    }
    val spark = TestSpark.spark
    import spark.implicits._
    val want = Streaming.batchNearDup(Streaming.TextRule,
      operators.Dedup.rowBandSignatures(docs.toDF("doc_id", "text", "event_ts")))
      .collect().toSeq.sortBy(c => (c.doc_a, c.doc_b, c.band))

    type Face = DataFrame => Dataset[Streaming.CandidateOut]
    val bound: Face = banded => Streaming.nearDupStreamTtl(Streaming.TextRule, banded, "1 hour", ttl)
    val unbound: Face = banded => Streaming.ttlKeyed(Streaming.TextRule, banded, "1 hour")
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        Streaming.ttlStep(Streaming.TextRule, ttl))(
        Encoders.product[Streaming.TtlState[Long]], Streaming.TextRule.out)

    def run(dir: JPath, first: Face, second: Face): Seq[Streaming.CandidateOut] = {
      val s = TestSpark.spark.newSession()
      implicit val ctx: org.apache.spark.sql.SQLContext = s.sqlContext
      import s.implicits._
      val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
      val banded = operators.Dedup.rowBandSignatures(
        stream.toDS().toDF("doc_id", "text", "event_ts"), passthrough = Seq("event_ts"))
      def half(face: Face, part: Seq[Seq[(Long, String, java.sql.Timestamp)]]): Unit = {
        val query = face(banded).writeStream.format("parquet")
          .option("checkpointLocation", s"$dir/ckpt").outputMode("append").start(s"$dir/data")
        try part.foreach { c => stream.addData(c); query.processAllAvailable() }
        finally query.stop()
      }
      val chunks = docs.grouped(10).toSeq
      half(first, chunks.take(2))
      half(second, chunks.drop(2))
      s.read.parquet(s"$dir/data").as[Streaming.CandidateOut].collect().toSeq
        .sortBy(c => (c.doc_a, c.doc_b, c.band))
    }

    // some pair joins a doc of the second half to one of the first, so
    // the second half reads the state the first one wrote
    assert(want.exists(c => c.doc_a < 20 && c.doc_b >= 20))
    withDir { a =>
      withDir { b =>
        assert(run(a, unbound, bound) == want, "unbound then bound")
        assert(run(b, bound, unbound) == want, "bound then unbound")
      }
    }
  }
}
