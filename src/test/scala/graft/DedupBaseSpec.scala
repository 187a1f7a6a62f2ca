package graft

import graft.operators.Dedup
import graft.sinks.Sinks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The dedup base table's segment + compaction layout — the ANN
  * index's base/delta/fold discipline on the text side: each verified
  * batch appends its fingerprints as its OWN delta segment table, the
  * stored probe reads base ∪ segments (bucketed + broadcast),
  * compaction snapshots its read-set into a manifest and folds exactly
  * that set into the bucketed base behind a rename swap — so a segment
  * appended mid-compaction survives, and every crash point stays
  * readable.
  */
class DedupBaseSpec extends AnyFunSuite {

  private def docs(rows: Seq[(Long, String)]) = {
    val spark = TestSpark.spark
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  private def verdicts(table: String, batch: Seq[(Long, String)]) =
    Dedup.incrementalDedupStored(TestSpark.spark, table, docs(batch))
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))))
      .toMap

  /** Every delta segment table currently live in the catalog. */
  private def segTables(table: String): Seq[String] =
    TestSpark.spark.sql(s"SHOW TABLES LIKE '${table}__delta*'")
      .select("tableName").collect().map(_.getString(0)).toSeq.sorted

  private def dropAll(table: String): Unit =
    (segTables(table) ++
      Seq(table, s"${table}__old", s"${table}__compact", s"${table}__compacting",
        s"${table}__swaplock"))
      .foreach(t => TestSpark.spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def stampLock(table: String, startedAt: Long): Unit = {
    val spark = TestSpark.spark
    import spark.implicits._
    Seq(startedAt).toDF("started_at").coalesce(1)
      .write.mode("overwrite").format("parquet").saveAsTable(s"${table}__swaplock")
  }

  test("delta segments: a batch dedups against appended fingerprints, then compaction folds them") {
    val spark = TestSpark.spark
    val table = "dedup_base_seg"
    dropAll(table)
    try {
      Sinks.writeDedupBase(docs(Seq((1L, "alpha"), (2L, "beta"))), table, buckets = 4)

      // batch 1: one dup of base, one novel doc — then its verified
      // fingerprints append as a delta segment
      val batch1 = Seq((10L, "alpha"), (11L, "gamma"))
      assert(verdicts(table, batch1) ==
        Map(10L -> ((true, false, false)), 11L -> ((false, false, true))))
      Sinks.appendDedupDelta(docs(Seq((11L, "gamma"))), table)
      assert(segTables(table).size == 1, "each append is its own segment table")

      // batch 2: "gamma" now dups the SEGMENT (not the base table),
      // and must read as dup_of_base, not is_new — the whole point
      val batch2 = Seq((20L, "gamma"), (21L, "delta"), (22L, "alpha"))
      val v2 = verdicts(table, batch2)
      assert(v2(20L) == ((true, false, false)), s"segment fp must dedup: $v2")
      assert(v2(21L) == ((false, false, true)))
      assert(v2(22L) == ((true, false, false)))

      // a second segment accumulates as its own table
      Sinks.appendDedupDelta(docs(Seq((21L, "delta"))), table)
      assert(segTables(table).size == 2)
      assert(verdicts(table, Seq((30L, "delta")))(30L) == ((true, false, false)))
      assert(Sinks.readDedupBase(spark, table).count() == 4)

      // compaction folds both segments into the bucketed base: same
      // verdicts, segment tables gone, base reads bucketed again
      val before = verdicts(table, batch2)
      Sinks.compactDedupBase(spark, table, buckets = 4)
      assert(segTables(table).isEmpty, "folded segments must retire")
      assert(!spark.catalog.tableExists(s"${table}__old"))
      assert(!spark.catalog.tableExists(s"${table}__compacting"))
      assert(verdicts(table, batch2) == before, "compaction changed the verdicts")
      assert(spark.table(table).count() == 4)
      val plan = Dedup.incrementalDedupStored(spark, table, docs(batch2))
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"compacted base must still read as a bucketed scan:\n${plan.take(2000)}")

      // compacting with no delta is a no-op
      Sinks.compactDedupBase(spark, table, buckets = 4)
      assert(spark.table(table).count() == 4)
    } finally dropAll(table)
  }

  test("a segment appended after the compaction's read-set snapshot survives the fold") {
    val spark = TestSpark.spark
    val table = "dedup_base_race"
    dropAll(table)
    try {
      Sinks.writeDedupBase(docs(Seq((1L, "alpha"), (2L, "beta"))), table, buckets = 4)
      Sinks.appendDedupDelta(docs(Seq((11L, "gamma"))), table)
      // the race the manifest closes: a writer lands a fresh segment
      // between the compaction's read-set snapshot and its cleanup —
      // pre-manifest, the blanket delta drop silently re-admitted
      // "omega" as a never-seen document
      Sinks.compactHooked(spark, Sinks.dedupBase(table), buckets = 4,
        afterSnapshot =
          () => Sinks.appendDedupDelta(docs(Seq((12L, "omega"))), table))
      assert(segTables(table).size == 1,
        s"the mid-compaction segment must survive: ${segTables(table)}")
      assert(spark.table(table).count() == 3, "base folded exactly the snapshot")
      val v = verdicts(table, Seq((90L, "gamma"), (91L, "omega"), (92L, "psi")))
      assert(v(90L) == ((true, false, false)), "folded fp must still flag")
      assert(v(91L) == ((true, false, false)),
        s"the mid-compaction append was lost from the live set: $v")
      assert(v(92L) == ((false, false, true)))
      assert(Sinks.readDedupBase(spark, table).count() == 4)
      // the next compaction folds the survivor in
      Sinks.compactDedupBase(spark, table, buckets = 4)
      assert(segTables(table).isEmpty)
      assert(spark.table(table).count() == 4)
      assert(verdicts(table, Seq((93L, "omega")))(93L) == ((true, false, false)))
    } finally dropAll(table)
  }

  test("stored probe with live segments keeps the base exchange-free and broadcasts the segment") {
    val spark = TestSpark.spark
    val table = "dedup_base_plan"
    dropAll(table)
    try {
      Sinks.writeDedupBase(docs((1L to 40L).map(i => (i, s"text $i"))), table, buckets = 8)
      Sinks.appendDedupDelta(docs(Seq((50L, "text 50"))), table)
      Sinks.appendDedupDelta(docs(Seq((51L, "text 51"))), table)
      val p = Dedup.incrementalDedupStored(
        spark, table, docs((100L to 120L).map(i => (i, s"text ${i % 60}"))))
        .queryExecution.executedPlan.toString
      // the base side still consumes its bucketing: only delta-side fp
      // exchanges (same bound PlanSpec pins for the segment-free path)
      val exchanges = "Exchange hashpartitioning\\(fp".r.findAllIn(p).size
      assert(exchanges <= 2,
        s"segments must not add fp exchanges (<=2), found $exchanges:\n${p.take(4000)}")
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
        s"segment probe must ride a broadcast:\n${p.take(2000)}")
    } finally dropAll(table)
  }

  test("rebuilding the base retires the previous corpus's segments — no ghost fingerprints") {
    val spark = TestSpark.spark
    val table = "dedup_base_rebuild"
    dropAll(table)
    try {
      Sinks.writeDedupBase(docs(Seq((1L, "alpha"))), table, buckets = 4)
      Sinks.appendDedupDelta(docs(Seq((2L, "ghost"))), table)
      assert(verdicts(table, Seq((50L, "ghost")))(50L)._1, "fixture: segment must flag")
      // REBUILD with a new corpus: the old segment describes a corpus
      // that no longer exists — left live, "ghost" would read as
      // dup_of_base against a base that never contained it
      Sinks.writeDedupBase(docs(Seq((3L, "beta"))), table, buckets = 4)
      assert(segTables(table).isEmpty,
        "rebuild left the previous corpus's delta segments live")
      val v = verdicts(table, Seq((60L, "ghost"), (61L, "beta")))
      assert(v(60L) == ((false, false, true)), s"ghost fp survived the rebuild: $v")
      assert(v(61L) == ((true, false, false)))
      assert(Sinks.readDedupBase(spark, table).count() == 1)
    } finally dropAll(table)
  }

  test("a legacy unstamped __delta table reads and folds as a segment") {
    val spark = TestSpark.spark
    val table = "dedup_base_legacy"
    dropAll(table)
    try {
      Sinks.writeDedupBase(docs(Seq((1L, "alpha"))), table, buckets = 4)
      // a pre-segment-layout delta: one shared append table
      docs(Seq((2L, "gamma"))).select(col("doc_id"), md5(col("text")).as("fp"))
        .write.format("parquet").saveAsTable(s"${table}__delta")
      assert(verdicts(table, Seq((70L, "gamma")))(70L) == ((true, false, false)),
        "legacy delta must probe as a live segment")
      // stamped appends coexist with it
      Sinks.appendDedupDelta(docs(Seq((3L, "delta"))), table)
      assert(Sinks.readDedupBase(spark, table).count() == 3)
      Sinks.compactDedupBase(spark, table, buckets = 4)
      assert(segTables(table).isEmpty, "legacy delta must fold and retire")
      assert(spark.table(table).count() == 3)
      assert(verdicts(table, Seq((71L, "gamma")))(71L) == ((true, false, false)))
    } finally dropAll(table)
  }

  test("compaction crash states: reads stay correct, writers repair before appending") {
    val spark = TestSpark.spark
    val table = "dedup_base_crash"
    dropAll(table)
    try {
      Sinks.writeDedupBase(docs(Seq((1L, "alpha"), (2L, "beta"))), table, buckets = 4)
      Sinks.appendDedupDelta(docs(Seq((11L, "gamma"))), table)
      val probe = Seq((90L, "alpha"), (91L, "gamma"), (92L, "omega"))
      val expected = verdicts(table, probe)

      // MID-SWAP crash: base renamed away, merge never landed — reads
      // fall back to __old and the segments still apply
      spark.sql(s"ALTER TABLE $table RENAME TO ${table}__old")
      assert(verdicts(table, probe) == expected,
        "mid-swap crash state must read __old ∪ segments")
      assert(Sinks.readDedupBase(spark, table).count() == 3)
      // the next compaction rolls back the rename and folds normally
      Sinks.compactDedupBase(spark, table, buckets = 4)
      assert(spark.catalog.tableExists(table) &&
        !spark.catalog.tableExists(s"${table}__old") &&
        segTables(table).isEmpty)
      assert(verdicts(table, probe) == expected)

      // POST-SWAP crash: merged base live, the manifest's segments +
      // old base left behind, PLUS a segment appended after the
      // snapshot — rebuild that state by hand
      Sinks.appendDedupDelta(docs(Seq((12L, "omega"))), table)
      val expected2 = verdicts(table, probe)
      val folded = segTables(table)
      import spark.implicits._
      folded.toDF("seg_table").coalesce(1)
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${table}__compacting")
      folded.foldLeft(spark.table(table))((a, t) => a.unionByName(spark.table(t)))
        .write.format("parquet").bucketBy(4, "fp").sortBy("fp")
        .saveAsTable(s"${table}__compact")
      spark.sql(s"ALTER TABLE $table RENAME TO ${table}__old")
      spark.sql(s"ALTER TABLE ${table}__compact RENAME TO $table")
      // a writer arriving NOW repairs first — its append must land in
      // a FRESH segment, not one the cleanup destroys (the crash-state
      // READ itself is pinned by the next test)
      Sinks.appendDedupDelta(docs(Seq((13L, "sigma"))), table)
      assert(!spark.catalog.tableExists(s"${table}__old"),
        "writer must finish the crashed swap before appending")
      assert(!spark.catalog.tableExists(s"${table}__compacting"))
      assert(verdicts(table, Seq((95L, "sigma")))(95L) == ((true, false, false)),
        "the post-repair append was lost")
      assert(verdicts(table, probe) == expected2)
      // and the next compact folds the fresh segment in
      Sinks.compactDedupBase(spark, table, buckets = 4)
      assert(spark.table(table).count() == 5)
      assert(verdicts(table, Seq((96L, "sigma")))(96L) == ((true, false, false)))
    } finally dropAll(table)
  }

  test("post-swap crash: stale manifest segments excluded, later segments still live") {
    val spark = TestSpark.spark
    val table = "dedup_base_crash2"
    dropAll(table)
    try {
      Sinks.writeDedupBase(docs(Seq((1L, "alpha"))), table, buckets = 4)
      Sinks.appendDedupDelta(docs(Seq((11L, "gamma"))), table)
      val folded = segTables(table)
      // a segment appended AFTER the compaction's snapshot — the crash
      // repair and the crash-state READ must both keep it live
      Sinks.appendDedupDelta(docs(Seq((12L, "omega"))), table)
      import spark.implicits._
      folded.toDF("seg_table").coalesce(1)
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"${table}__compacting")
      folded.foldLeft(spark.table(table))((a, t) => a.unionByName(spark.table(t)))
        .write.format("parquet").bucketBy(4, "fp").sortBy("fp")
        .saveAsTable(s"${table}__compact")
      spark.sql(s"ALTER TABLE $table RENAME TO ${table}__old")
      spark.sql(s"ALTER TABLE ${table}__compact RENAME TO $table")
      // crash HERE: reads must see folded base (alpha+gamma) ∪ the
      // post-snapshot segment (omega), excluding the stale gamma seg
      val v = verdicts(table, Seq((80L, "gamma"), (81L, "omega"), (82L, "psi")))
      assert(v(80L) == ((true, false, false)))
      assert(v(81L) == ((true, false, false)),
        s"post-snapshot segment must stay live through the crash state: $v")
      assert(v(82L) == ((false, false, true)))
      assert(Sinks.readDedupBase(spark, table).count() == 3)
      // repair (via a writer) drops exactly the manifest's segments
      Sinks.appendDedupDelta(docs(Seq((13L, "sigma"))), table)
      assert(segTables(table).size == 2,
        s"repair must keep the post-snapshot segment: ${segTables(table)}")
      val v2 = verdicts(table, Seq((83L, "omega"), (84L, "sigma")))
      assert(v2(83L) == ((true, false, false)) && v2(84L) == ((true, false, false)))
      Sinks.compactDedupBase(spark, table, buckets = 4)
      assert(spark.table(table).count() == 4)
    } finally dropAll(table)
  }

  test("rebuild reclaims a dead JVM's orphaned warehouse locations (catalog-invisible dirs)") {
    val spark = TestSpark.spark
    val table = "dedup_base_orphan"
    dropAll(table)
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      // a previous JVM's base + delta segment: directories exist, no
      // catalog entries — exactly what an in-memory catalog leaves
      Seq(table, s"${table}__delta_00000001").foreach { t =>
        val d = new org.apache.hadoop.fs.Path(wh, t)
        fs.mkdirs(d)
        val out = fs.create(new org.apache.hadoop.fs.Path(d, "junk.parquet"), true)
        out.write(Array[Byte](1, 2, 3)); out.close()
      }
      assert(!spark.catalog.tableExists(table), "fixture: orphan must be catalog-invisible")
      // the rebuild must succeed (LOCATION_ALREADY_EXISTS is the bug)
      Sinks.writeDedupBase(docs(Seq((1L, "alpha"))), table, buckets = 4)
      assert(verdicts(table, Seq((80L, "alpha")))(80L) == ((true, false, false)))
      // and an append claims a number past any orphaned segment dir
      Sinks.appendDedupDelta(docs(Seq((2L, "beta"))), table)
      assert(verdicts(table, Seq((81L, "beta")))(81L) == ((true, false, false)))
    } finally {
      dropAll(table)
      Seq(table, s"${table}__delta_00000001", s"${table}__delta_00000002").foreach { t =>
        val d = new org.apache.hadoop.fs.Path(wh, t)
        if (fs.exists(d)) fs.delete(d, true)
      }
    }
  }

  test("a base that was never written fails every stored probe with a named error") {
    val spark = TestSpark.spark
    val table = "dedup_base_absent"
    dropAll(table)
    assert(!spark.catalog.tableExists(table) && !spark.catalog.tableExists(s"${table}__old"),
      "fixture: the base must be absent")
    // each probe must name the base and its writer, not fail on a
    // `__old` table nobody made
    def named(writer: String)(probe: => Any): Unit = {
      val e = intercept[IllegalStateException](probe)
      assert(e.getMessage.contains(s"'$table'") && e.getMessage.contains(writer),
        s"unnamed missing-base error: ${e.getMessage}")
    }
    val batch = docs(Seq((1L, "alpha"), (2L, "beta")))
    try {
      named("writeDedupBase")(Dedup.incrementalDedupStored(spark, table, batch))
      named("writeDedupBase")(graft.streaming.Streaming.dedupStoredStream(batch, table))
      named("writeNearDupBase")(Dedup.nearDupAgainstStored(spark, table, batch))
    } finally graft.operators.CacheScope.releaseAll()
  }

  test("append-side repair stands down inside a LIVE swap window (fresh __swaplock)") {
    val spark = TestSpark.spark
    val table = "dedup_base_lock"
    dropAll(table)
    try {
      Sinks.writeDedupBase(docs(Seq((1L, "alpha"))), table, buckets = 4)
      // a compaction mid-swap: base renamed away, liveness stamp fresh
      spark.sql(s"ALTER TABLE $table RENAME TO ${table}__old")
      stampLock(table, System.currentTimeMillis() / 1000)
      // an append must NOT repair (rolling the rename back would land
      // under the live owner's next ALTER) — just claim its segment
      Sinks.appendDedupDelta(docs(Seq((2L, "beta"))), table)
      assert(!spark.catalog.tableExists(table) &&
        spark.catalog.tableExists(s"${table}__old"),
        "fresh lock: the live swap window must stay untouched")
      assert(segTables(table).size == 1, "the gated append still lands its segment")
      // reads stay correct through the window (fall back to __old)
      val v = verdicts(table, Seq((80L, "alpha"), (81L, "beta")))
      assert(v(80L) == ((true, false, false)) && v(81L) == ((true, false, false)))
      // the owner dies: the lock goes stale, the next append repairs
      stampLock(table, 0L)
      Sinks.appendDedupDelta(docs(Seq((3L, "gamma"))), table)
      assert(spark.catalog.tableExists(table), "stale lock: repair rolls the swap back")
      assert(!spark.catalog.tableExists(s"${table}__swaplock"), "repair retires the stamp")
      val v2 = verdicts(table, Seq((82L, "alpha"), (83L, "gamma")))
      assert(v2(82L) == ((true, false, false)) && v2(83L) == ((true, false, false)))
      // a COMPACTION repairs even under a fresh lock — the at-most-one-
      // compaction contract makes any swap evidence it sees a crash
      spark.sql(s"ALTER TABLE $table RENAME TO ${table}__old")
      stampLock(table, System.currentTimeMillis() / 1000)
      Sinks.compactDedupBase(spark, table, buckets = 4)
      assert(spark.catalog.tableExists(table) &&
        !spark.catalog.tableExists(s"${table}__old") &&
        !spark.catalog.tableExists(s"${table}__swaplock"))
      assert(segTables(table).isEmpty)
      assert(verdicts(table, Seq((84L, "gamma")))(84L) == ((true, false, false)))
    } finally dropAll(table)
  }
}
