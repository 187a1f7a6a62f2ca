package graft

import graft.operators.Dedup
import graft.sinks.Sinks
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The NEAR-DUP signature base — [[DedupBaseSpec]]'s storage
  * discipline on the minhash tier: the corpus's band signatures (full
  * set + write-time cap census as a `kept` flag, per-doc counts
  * denormalized) and its shingle store persisted as bucketed tables;
  * batches probe with joins only; appends land as per-batch array
  * segments; compaction folds both tables behind a two-swap rename
  * choreography whose every crash point stays readable.
  */
class NearDupBaseSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private def docs(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  // 12-word texts: ta/tc unrelated; identical copies guarantee band
  // agreement (near-identical texts agree only probabilistically per
  // band — presence assertions stay deterministic on exact copies)
  private def words(tag: String) = (0 until 12).map(w => s"$tag$w").mkString(" ")
  private val ta = words("a")
  private val tb = words("b")
  private val tc = words("c")
  private val td = words("d")

  private def pairsOf(table: String, batch: Seq[(Long, String)]): Set[(Long, Long, Double)] = {
    val out = Dedup.nearDupAgainstStored(spark, table, docs(batch))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5))).toSet
    graft.operators.CacheScope.releaseAll()
    out
  }

  private def segTables(table: String): Seq[String] =
    spark.sql(s"SHOW TABLES LIKE '${table}__delta*'")
      .select("tableName").collect().map(_.getString(0)).toSeq.sorted

  private def dropAll(table: String): Unit =
    (segTables(table) ++ Seq(table, s"${table}__sh").flatMap(t =>
      Seq(t, s"${t}__old", s"${t}__compact")) ++
      Seq(s"${table}__compacting", s"${table}__swaplock"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def stampLock(table: String, startedAt: Long): Unit = {
    val s = spark
    import s.implicits._
    Seq(startedAt).toDF("started_at").coalesce(1)
      .write.mode("overwrite").format("parquet").saveAsTable(s"${table}__swaplock")
  }

  test("write → probe → append → compact: pairs stable, tables bucketed, segments retire") {
    val table = "nd_base_seg"
    dropAll(table)
    try {
      Sinks.writeNearDupBase(docs(Seq((1L, ta), (2L, tb))), table, buckets = 4)
      // base layout: full sig rows with kept + n, 4 band rows per doc
      assert(spark.table(table).count() === 8)
      assert(spark.table(table).filter(col("kept")).count() === 8, "honest corpus keeps all")
      assert(spark.table(s"${table}__sh").count() === 20) // 10 distinct shingles per doc

      // probe: 100 duplicates base doc 1; 101 is novel
      val p1 = pairsOf(table, Seq((100L, ta), (101L, tc)))
      assert(p1 === Set((100L, 1L, 1.0)), s"unexpected pairs: $p1")

      // append a segment carrying tc — the next probe must near-dup it
      Sinks.appendNearDupDelta(docs(Seq((3L, tc))), table)
      assert(segTables(table).size === 1, "each append is its own segment table")
      val p2 = pairsOf(table, Seq((100L, ta), (101L, tc)))
      assert(p2 === Set((100L, 1L, 1.0), (101L, 3L, 1.0)), s"segment must probe: $p2")

      // a second segment accumulates as its own table
      Sinks.appendNearDupDelta(docs(Seq((4L, td))), table)
      assert(segTables(table).size === 2)
      assert(Sinks.readNearDupSigs(spark, table).count() === 16)
      assert(Sinks.readNearDupShingles(spark, table).count() === 40)

      // compaction folds both segments into both bucketed bases
      val probe = Seq((100L, ta), (101L, tc), (102L, td))
      val before = pairsOf(table, probe)
      Sinks.compactNearDupBase(spark, table, buckets = 4)
      assert(segTables(table).isEmpty, "folded segments must retire")
      assert(!spark.catalog.tableExists(s"${table}__old"))
      assert(!spark.catalog.tableExists(s"${table}__sh__old"))
      assert(!spark.catalog.tableExists(s"${table}__compacting"))
      assert(pairsOf(table, probe) === before, "compaction changed the pairs")
      assert(spark.table(table).count() === 16)
      assert(spark.table(s"${table}__sh").count() === 40)
      val plan = Dedup.nearDupAgainstStored(spark, table, docs(probe))
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"compacted base must still read as a bucketed scan:\n${plan.take(2000)}")
      graft.operators.CacheScope.releaseAll()

      // compacting with no delta is a no-op
      Sinks.compactNearDupBase(spark, table, buckets = 4)
      assert(spark.table(table).count() === 16)
    } finally dropAll(table)
  }

  test("stored probe ≡ in-memory nearDupPairsAgainst on an honest corpus") {
    val table = "nd_base_parity"
    dropAll(table)
    try {
      val baseDocs = Seq((1L, ta), (2L, tb))
      val segDocs = Seq((3L, tc))
      val batch = Seq((100L, ta), (101L, tc), (102L, td))
      Sinks.writeNearDupBase(docs(baseDocs), table, buckets = 4)
      Sinks.appendNearDupDelta(docs(segDocs), table)
      val stored = Dedup.nearDupAgainstStored(spark, table, docs(batch))
        .collect().map(_.toSeq).toSet
      val mem = Dedup.nearDupPairsAgainst(
        graft.operators.CacheScope.persist(Dedup.shingles(docs(batch))),
        graft.operators.CacheScope.persist(Dedup.shingles(docs(baseDocs ++ segDocs))))
        .collect().map(_.toSeq).toSet
      assert(stored === mem, "stored-base pairs diverged from in-memory")
      graft.operators.CacheScope.releaseAll()
    } finally dropAll(table)
  }

  test("write-time cap bounds a mega-bucket; kept flags replay the capBuckets coin") {
    val table = "nd_base_cap"
    dropAll(table)
    try {
      // 12 identical docs: every (band, sig) bucket holds 12 members
      val clones = (0L until 12L).map(i => (i, ta))
      Sinks.writeNearDupBase(docs(clones), table, buckets = 4, cap = 4)
      val full = spark.table(table)
      assert(full.count() === 48, "the FULL row set must stay on disk")
      val kept = full.filter(col("kept")).count()
      assert(kept < 48 && kept > 0, s"cap=4 over 12-member buckets must sample: kept=$kept")
      // kept ≡ what capBuckets itself would keep over the same rows
      val capped = graft.operators.BandCap.capBuckets(
        full.select("doc_id", "n", "band", "sig"), Seq("band", "sig"), "doc_id", 4)
        .select("doc_id", "band", "sig").collect().map(_.toSeq).toSet
      val flagged = full.filter(col("kept"))
        .select("doc_id", "band", "sig").collect().map(_.toSeq).toSet
      assert(flagged === capped, "flagBuckets must replay capBuckets bit-for-bit")
      // a probe against the capped base stays bounded but still finds dups
      val p = pairsOf(table, Seq((100L, ta)))
      assert(p.nonEmpty, "capped mega-bucket must still surface representative pairs")
      assert(p.forall { case (_, _, j) => j == 1.0 })
      assert(p.size <= 12)
    } finally dropAll(table)
  }

  test("a segment appended after the compaction's read-set snapshot survives the fold") {
    val table = "nd_base_race"
    dropAll(table)
    try {
      Sinks.writeNearDupBase(docs(Seq((1L, ta))), table, buckets = 4)
      Sinks.appendNearDupDelta(docs(Seq((2L, tb))), table)
      Sinks.compactHooked(spark, Sinks.nearDupBase(table), buckets = 4,
        afterSnapshot =
          () => Sinks.appendNearDupDelta(docs(Seq((3L, tc))), table))
      assert(segTables(table).size === 1,
        s"the mid-compaction segment must survive: ${segTables(table)}")
      assert(spark.table(table).count() === 8, "base folded exactly the snapshot")
      val p = pairsOf(table, Seq((100L, tb), (101L, tc)))
      assert(p === Set((100L, 2L, 1.0), (101L, 3L, 1.0)),
        s"mid-compaction append lost from the live set: $p")
      // the next compaction folds the survivor in
      Sinks.compactNearDupBase(spark, table, buckets = 4)
      assert(segTables(table).isEmpty)
      assert(spark.table(table).count() === 12)
      assert(spark.table(s"${table}__sh").count() === 30)
    } finally dropAll(table)
  }

  test("rebuilding the base retires the previous corpus's segments") {
    val table = "nd_base_rebuild"
    dropAll(table)
    try {
      Sinks.writeNearDupBase(docs(Seq((1L, ta))), table, buckets = 4)
      Sinks.appendNearDupDelta(docs(Seq((2L, tb))), table)
      assert(pairsOf(table, Seq((100L, tb))).nonEmpty, "fixture: segment must probe")
      Sinks.writeNearDupBase(docs(Seq((3L, tc))), table, buckets = 4)
      assert(segTables(table).isEmpty,
        "rebuild left the previous corpus's delta segments live")
      val p = pairsOf(table, Seq((100L, tb), (101L, tc)))
      assert(p === Set((101L, 3L, 1.0)), s"ghost signatures survived the rebuild: $p")
    } finally dropAll(table)
  }

  test("rebuild reclaims a dead JVM's orphaned warehouse locations (catalog-invisible dirs)") {
    val table = "nd_base_orphan"
    dropAll(table)
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphans = Seq(table, s"${table}__sh", s"${table}__delta_00000001")
    try {
      // a previous JVM's signature base, shingle store and delta
      // segment: directories exist, no catalog entries
      orphans.foreach { t =>
        val d = new org.apache.hadoop.fs.Path(wh, t)
        fs.mkdirs(d)
        val out = fs.create(new org.apache.hadoop.fs.Path(d, "junk.parquet"), true)
        out.write(Array[Byte](1, 2, 3)); out.close()
      }
      assert(orphans.forall(t => !spark.catalog.tableExists(t)),
        "fixture: orphans must be catalog-invisible")
      // the rebuild must succeed (LOCATION_ALREADY_EXISTS is the bug)
      Sinks.writeNearDupBase(docs(Seq((1L, ta))), table, buckets = 4)
      assert(pairsOf(table, Seq((100L, ta))) === Set((100L, 1L, 1.0)))
      // and an append claims a segment past any orphaned segment dir
      Sinks.appendNearDupDelta(docs(Seq((2L, tb))), table)
      assert(segTables(table).size === 1)
      assert(pairsOf(table, Seq((101L, tb))) === Set((101L, 2L, 1.0)))
    } finally {
      dropAll(table)
      (orphans :+ s"${table}__delta_00000002").foreach { t =>
        val d = new org.apache.hadoop.fs.Path(wh, t)
        if (fs.exists(d)) fs.delete(d, true)
      }
    }
  }

  test("compaction crash states: every point reads correctly; writers repair") {
    val table = "nd_base_crash"
    val sh = s"${table}__sh"
    dropAll(table)
    try {
      Sinks.writeNearDupBase(docs(Seq((1L, ta), (2L, tb))), table, buckets = 4)
      Sinks.appendNearDupDelta(docs(Seq((3L, tc))), table)
      val probe = Seq((100L, ta), (101L, tc), (102L, td))
      val expected = pairsOf(table, probe)
      assert(expected === Set((100L, 1L, 1.0), (101L, 3L, 1.0)))

      // --- MID-SIGNATURE-SWAP crash: base renamed away, merge never
      // landed — reads fall back to __old, segments still apply
      spark.sql(s"ALTER TABLE $table RENAME TO ${table}__old")
      assert(pairsOf(table, probe) === expected,
        "mid-sig-swap crash state must read __old ∪ segments")
      // the next compaction repairs (rolls back) and folds normally
      Sinks.compactNearDupBase(spark, table, buckets = 4)
      assert(spark.catalog.tableExists(table) &&
        !spark.catalog.tableExists(s"${table}__old") && segTables(table).isEmpty)
      assert(pairsOf(table, probe) === expected)

      // --- BETWEEN-SWAPS crash: signature table swapped (its segments
      // folded), shingle table not yet — rebuild that state by hand,
      // exactly as the compaction choreography produces it
      Sinks.appendNearDupDelta(docs(Seq((4L, td))), table)
      val expected2 = pairsOf(table, probe)
      assert(expected2 === expected + ((102L, 4L, 1.0)))
      val folded = segTables(table)
      locally {
        val sp = spark; import sp.implicits._
        folded.toDF("seg_table").coalesce(1)
          .write.mode("overwrite").format("parquet")
          .saveAsTable(s"${table}__compacting")
      }
      val mergedSigs = folded.foldLeft(
        spark.table(table).select("doc_id", "n", "band", "sig")) { (a, t) =>
        a.unionByName(spark.table(t)
          .select(col("doc_id"), col("n"), explode(col("sigs")).as("s"))
          .select(col("doc_id"), col("n"), col("s.band").as("band"), col("s.sig").as("sig")))
      }
      graft.operators.BandCap.flagBuckets(mergedSigs, Seq("band", "sig"), "doc_id")
        .write.format("parquet").bucketBy(4, "band", "sig").sortBy("band", "sig")
        .saveAsTable(s"${table}__compact")
      val mergedSh = folded.foldLeft(spark.table(sh).select("doc_id", "shingle")) { (a, t) =>
        a.unionByName(
          spark.table(t).select(col("doc_id"), explode(col("shingles")).as("shingle")))
      }
      mergedSh.write.format("parquet").bucketBy(4, "doc_id").sortBy("doc_id", "shingle")
        .saveAsTable(s"${sh}__compact")
      spark.sql(s"ALTER TABLE $table RENAME TO ${table}__old")
      spark.sql(s"ALTER TABLE ${table}__compact RENAME TO $table")
      // CRASHED here: sig side folded, shingle side not. Reads must
      // still agree — each side unions its OWN live-segment view.
      assert(pairsOf(table, probe) === expected2,
        "between-swaps crash state must read consistently")
      // a writer's repair drives the shingle swap FORWARD and cleans up
      Sinks.appendNearDupDelta(docs(Seq((5L, words("e")))), table)
      assert(!spark.catalog.tableExists(s"${table}__old") &&
        !spark.catalog.tableExists(s"${sh}__old") &&
        !spark.catalog.tableExists(s"${table}__compacting"),
        "repair must finish the crashed swap")
      assert(segTables(table).size === 1, "repair must keep only the post-repair append")
      assert(pairsOf(table, probe) === expected2)
      assert(pairsOf(table, Seq((103L, words("e")))).nonEmpty,
        "the post-repair segment must probe")

      // --- POST-BOTH-SWAPS crash (before cleanup): manifest + __old
      // pair + folded segments left behind — reads fold both sides
      Sinks.compactNearDupBase(spark, table, buckets = 4)
      val expected3 = pairsOf(table, probe)
      Sinks.appendNearDupDelta(docs(Seq((6L, words("f")))), table)
      val folded2 = segTables(table)
      locally {
        val sp = spark; import sp.implicits._
        folded2.toDF("seg_table").coalesce(1)
          .write.mode("overwrite").format("parquet")
          .saveAsTable(s"${table}__compacting")
      }
      val mergedSigs2 = folded2.foldLeft(
        spark.table(table).select("doc_id", "n", "band", "sig")) { (a, t) =>
        a.unionByName(spark.table(t)
          .select(col("doc_id"), col("n"), explode(col("sigs")).as("s"))
          .select(col("doc_id"), col("n"), col("s.band").as("band"), col("s.sig").as("sig")))
      }
      graft.operators.BandCap.flagBuckets(mergedSigs2, Seq("band", "sig"), "doc_id")
        .write.format("parquet").bucketBy(4, "band", "sig").sortBy("band", "sig")
        .saveAsTable(s"${table}__compact")
      val mergedSh2 = folded2.foldLeft(spark.table(sh).select("doc_id", "shingle")) { (a, t) =>
        a.unionByName(
          spark.table(t).select(col("doc_id"), explode(col("shingles")).as("shingle")))
      }
      mergedSh2.write.format("parquet").bucketBy(4, "doc_id").sortBy("doc_id", "shingle")
        .saveAsTable(s"${sh}__compact")
      spark.sql(s"ALTER TABLE $table RENAME TO ${table}__old")
      spark.sql(s"ALTER TABLE ${table}__compact RENAME TO $table")
      spark.sql(s"ALTER TABLE $sh RENAME TO ${sh}__old")
      spark.sql(s"ALTER TABLE ${sh}__compact RENAME TO $sh")
      // CRASHED here: both swapped, nothing cleaned. Both sides see
      // their segments as folded; verdicts unchanged.
      assert(pairsOf(table, Seq((103L, words("f")))) === Set((103L, 6L, 1.0)),
        "post-swap crash state must read the folded segment through the base")
      assert(pairsOf(table, probe) === expected3,
        "post-swap crash state must read the folded base only")
      // writer repair finishes the cleanup
      Sinks.appendNearDupDelta(docs(Seq((7L, words("g")))), table)
      assert(!spark.catalog.tableExists(s"${table}__old") &&
        !spark.catalog.tableExists(s"${sh}__old") &&
        !spark.catalog.tableExists(s"${table}__compacting"))
      assert(segTables(table).size === 1)
      assert(pairsOf(table, probe) === expected3)
    } finally dropAll(table)
  }

  test("append-side repair stands down inside a LIVE two-swap window (fresh __swaplock)") {
    val table = "nd_base_lock"
    dropAll(table)
    try {
      Sinks.writeNearDupBase(docs(Seq((1L, ta))), table, buckets = 4)
      // a compaction mid-signature-swap, liveness stamp fresh: an
      // append must neither roll the swap back nor drive it forward
      spark.sql(s"ALTER TABLE $table RENAME TO ${table}__old")
      stampLock(table, System.currentTimeMillis() / 1000)
      Sinks.appendNearDupDelta(docs(Seq((2L, tb))), table)
      assert(!spark.catalog.tableExists(table) &&
        spark.catalog.tableExists(s"${table}__old"),
        "fresh lock: the live swap window must stay untouched")
      assert(segTables(table).size === 1, "the gated append still lands its segment")
      assert(pairsOf(table, Seq((100L, ta), (101L, tb))) ===
        Set((100L, 1L, 1.0), (101L, 2L, 1.0)),
        "reads stay consistent through the gated window")
      // the owner dies: stale lock, next append repairs (rolls back)
      stampLock(table, 0L)
      Sinks.appendNearDupDelta(docs(Seq((3L, tc))), table)
      assert(spark.catalog.tableExists(table), "stale lock: repair rolls the swap back")
      assert(!spark.catalog.tableExists(s"${table}__swaplock"), "repair retires the stamp")
      assert(pairsOf(table, Seq((100L, ta), (102L, tc))) ===
        Set((100L, 1L, 1.0), (102L, 3L, 1.0)))
      // a compaction under a fresh lock still repairs + folds (the
      // at-most-one-compaction contract owns that call)
      spark.sql(s"ALTER TABLE $table RENAME TO ${table}__old")
      stampLock(table, System.currentTimeMillis() / 1000)
      Sinks.compactNearDupBase(spark, table, buckets = 4)
      assert(spark.catalog.tableExists(table) &&
        !spark.catalog.tableExists(s"${table}__old") &&
        !spark.catalog.tableExists(s"${table}__swaplock"))
      assert(segTables(table).isEmpty)
      assert(pairsOf(table, Seq((100L, ta), (101L, tb), (102L, tc))) ===
        Set((100L, 1L, 1.0), (101L, 2L, 1.0), (102L, 3L, 1.0)))
    } finally dropAll(table)
  }
}
