package graft.sinks

import java.nio.charset.StandardCharsets

import graft.model.ScoredRow
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Result materialization (SNK1/SNK2 made concrete): the reference
  * renders frames to a UI and disk-caches load_cdx results
  * (main.py:129,393-571); the engine's equivalent is a partitioned
  * parquet dataset a serving layer reads directly.
  *
  * Layout: hash-bucketed by url so (a) one url's whole series lands in
  * one partition directory (the dashboard's point-lookup), (b) writes
  * spread evenly however skewed the url population, (c) bucket count —
  * not url count — bounds the file count, the thing that kills object
  * stores at 100 TB. Rows are sorted (url, day) within partitions so
  * per-url scans are contiguous and parquet min/max statistics prune
  * day ranges.
  */
object Sinks {

  val DefaultBuckets = 64

  private def bucketed(df: DataFrame, buckets: Int): DataFrame =
    df.withColumn("url_bucket", pmod(xxhash64(col("url")), lit(buckets)))

  /** Write a scored (or daily) table for serving. The bucket count is
    * persisted alongside the data (`_graft_buckets`) so readers never
    * have to know it — a mismatched count would hash lookups into the
    * wrong partition and silently return nothing.
    */
  def writeScored(scored: DataFrame, path: String, buckets: Int = DefaultBuckets): Unit = {
    bucketed(scored, buckets)
      .repartition(col("url_bucket"))
      // url_bucket leads the sort: the V1 write path requires child
      // ordering on the partition column and would otherwise insert its
      // OWN Sort(url_bucket) above this one — paying two sorts and
      // keeping (url, day) contiguity only by spill-order accident
      .sortWithinPartitions("url_bucket", "url", "day")
      .write
      .partitionBy("url_bucket")
      .mode("overwrite")
      .parquet(path)
    val fs = new Path(path).getFileSystem(
      scored.sparkSession.sparkContext.hadoopConfiguration)
    val out = fs.create(new Path(path, "_graft_buckets"), true)
    out.write(buckets.toString.getBytes(StandardCharsets.UTF_8))
    out.close()
  }

  /** The managed location a default-database table of this name
    * occupies in the session warehouse.
    */
  private def managedLocation(spark: SparkSession, table: String): Path =
    new Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase(java.util.Locale.ROOT))

  /** DROP TABLE IF EXISTS plus reclaim of an ORPHANED managed
    * location: an in-memory catalog dies with its JVM while the
    * warehouse directory survives, so a table name absent from this
    * session's catalog can still occupy its location — and the next
    * `saveAsTable` then fails with LOCATION_ALREADY_EXISTS. Rebuild
    * paths treat such a directory as the dead catalog's garbage and
    * delete it. Scope: the engine's internal base tables, which are
    * always default-database managed tables (an external table's
    * custom location never lives at the warehouse path this computes).
    */
  private def dropTableAndLocation(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val p = managedLocation(spark, table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  private def managedLocationExists(spark: SparkSession, table: String): Boolean = {
    val p = managedLocation(spark, table)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Retire every warehouse DIRECTORY whose name starts with `prefix`
    * (catalog-dropping any that are still registered) — the orphaned-
    * segment face of [[dropTableAndLocation]]: a dead JVM's delta
    * segment tables are invisible to SHOW TABLES in the next session,
    * so a rebuild must reclaim them from the filesystem listing or the
    * next append's create-claim hits their leftover locations.
    */
  private def retirePrefixedLocations(spark: SparkSession, prefix: String): Unit = {
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val lower = prefix.toLowerCase(java.util.Locale.ROOT)
    if (fs.exists(wh)) {
      fs.listStatus(wh).filter(_.getPath.getName.startsWith(lower)).foreach { st =>
        spark.sql(s"DROP TABLE IF EXISTS ${st.getPath.getName}")
        if (fs.exists(st.getPath)) fs.delete(st.getPath, true)
      }
    }
  }

  // ------------------------------------------------- segmented dedup bases
  /** A SEGMENTED BASE: the bucketed tables a dedup tier persists for
    * its stored probes, plus the per-batch delta segments that
    * accumulate beside them until a compaction folds them back. It is
    * the ANN index's base + delta + compaction layout in metastore-
    * table terms, because every side MUST stay a bucketed table for
    * the exchange-free probes
    * ([[graft.operators.Dedup.incrementalDedupStored]],
    * [[graft.operators.Dedup.nearDupAgainstStored]]). Two tiers
    * declare one — [[dedupBase]] (fingerprints) and [[nearDupBase]]
    * (band signatures, then shingles) — and differ only in their
    * sides; the lifecycle below is written once.
    *
    * Catalog layout of base `t` with side tables `s`: each live `s`;
    * `s__compact` (a merge) and `s__old` (a swap in flight); delta
    * segments `t__delta_<n>` (`%08d`; a legacy unstamped `t__delta`
    * reads as one more segment); the `t__compacting` manifest, the
    * segment read-set a compaction snapshotted; the `t__swaplock`
    * liveness stamp.
    *
    * Segments: every append is its OWN table, claimed by an
    * error-if-exists create (the [[allocSeg]] discipline; the
    * metastore's create is the atomic claim), so two concurrent
    * appends never share a segment and a compaction drops exactly the
    * segments its manifest recorded. Rows are add-only (no tombstones,
    * no upserts), so segment NUMBERS carry no ordering semantics: they
    * exist only so each append gets its own table.
    *
    * Compaction: snapshot the segments into the manifest, write EVERY
    * side's merge to `s__compact`, stamp the lock, then side by side
    * rename `s` → `s__old` and `s__compact` → `s`, then drop the read
    * segments, every `s__old`, the manifest and the lock. All merges
    * are written before the first rename, so once the lead side has
    * swapped, repair can always roll the later sides FORWARD; before
    * that it rolls the lead back. Between two sides' swaps reads stay
    * consistent because [[sideStates]] judges each side on its own: a
    * swapped side stops unioning the manifest's segments, an unswapped
    * one keeps them.
    *
    * WRITER-CONCURRENCY CONTRACT: appends are safe to interleave with
    * each other AND with a running compaction, which folds only the
    * read-set it snapshotted. At most ONE compaction may run at a time
    * — two would race the rename swap itself. An append cannot mistake
    * a live compaction's swap window for a crash: the compaction stamps
    * the `__swaplock` just before its first rename and drops it after
    * cleanup, and append-side repair stands down while the stamp is
    * fresh ([[SwapLockGraceSeconds]]) — the append just claims its
    * segment, which never touches the swapped tables. A STALE lock (a
    * crashed compaction) expires and repair proceeds; a compaction
    * repairs unconditionally at start, because under the one-
    * compaction contract any swap evidence it sees is a crash.
    */
  private[graft] final case class SegmentedBase(table: String, writer: String, sides: Seq[Side])

  /** One bucketed table of a [[SegmentedBase]]: its row columns, the
    * rows a delta segment table holds for it, the census that turns
    * rows into the stored table (identity, or the band cap's `kept`
    * flag) and its bucketing. A compaction's merge is
    * `census(base rows ∪ segment rows)`.
    */
  private[graft] final case class Side(
      table: String,
      cols: Seq[String],
      segRows: DataFrame => DataFrame,
      census: DataFrame => DataFrame,
      bucketCols: Seq[String],
      sortCols: Seq[String]) {
    def save(rows: DataFrame, to: String, buckets: Int): Unit =
      census(rows).write.mode("overwrite").format("parquet")
        .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
        .sortBy(sortCols.head, sortCols.tail: _*)
        .saveAsTable(to)
  }

  /** The exact tier: one side of `(doc_id, fp)` bucketed by fp; a
    * segment holds the same rows.
    */
  private[graft] def dedupBase(table: String): SegmentedBase =
    SegmentedBase(table, "writeDedupBase", Seq(
      Side(table, Seq("doc_id", "fp"), identity, identity, Seq("fp"), Seq("fp"))))

  /** The near-dup tier. The signature side leads: the FULL
    * `(doc_id, n, band, sig)` rows with the write-time cap census as a
    * `kept` flag, bucketed by (band, sig) — storing every row is what
    * lets a compaction recompute the census over the merged set. The
    * shingle store follows, bucketed by doc_id, for exact Jaccard
    * verify. A segment is one UNCAPPED per-doc row of `sigs` and
    * `shingles` arrays, exploded back to rows here.
    */
  private[graft] def nearDupBase(
      table: String, cap: Int = graft.operators.BandCap.DefaultCap): SegmentedBase =
    SegmentedBase(table, "writeNearDupBase", Seq(
      Side(
        table,
        Seq("doc_id", "n", "band", "sig"),
        _.select(col("doc_id"), col("n"), explode(col("sigs")).as("s"))
          .select(col("doc_id"), col("n"), col("s.band").as("band"), col("s.sig").as("sig")),
        graft.operators.BandCap.flagBuckets(_, Seq("band", "sig"), "doc_id", cap),
        Seq("band", "sig"),
        Seq("band", "sig")),
      Side(
        s"${table}__sh",
        Seq("doc_id", "shingle"),
        _.select(col("doc_id"), explode(col("shingles")).as("shingle")),
        identity,
        Seq("doc_id"),
        Seq("doc_id", "shingle"))))

  /** How long a `__swaplock` stamp counts as a LIVE compaction. The
    * lock covers only the metadata swap window (renames + drops —
    * bounded, data-size-independent), not the merge writes, so minutes
    * of grace is orders of magnitude above any honest swap; past it
    * the owner is presumed dead and writers repair.
    */
  val SwapLockGraceSeconds = 900L

  private def oldOf(t: String) = s"${t}__old"
  private def compactOf(t: String) = s"${t}__compact"
  private def manifestOf(table: String) = s"${table}__compacting"
  private def swapLock(table: String) = s"${table}__swaplock"
  private def segTable(table: String, n: Long) = f"${table}__delta_$n%08d"

  /** Stamp the swap-liveness lock — one row, epoch seconds. Overwrite
    * is safe: at most one compaction may run.
    */
  private def writeSwapLock(spark: SparkSession, table: String): Unit = {
    import spark.implicits._
    Seq(System.currentTimeMillis() / 1000).toDF("started_at").coalesce(1)
      .write.mode("overwrite").format("parquet").saveAsTable(swapLock(table))
  }

  private def swapLockFresh(spark: SparkSession, table: String): Boolean =
    spark.catalog.tableExists(swapLock(table)) && {
      val at = spark.table(swapLock(table)).collect()
        .headOption.map(_.getLong(0)).getOrElse(0L)
      System.currentTimeMillis() / 1000 - at < SwapLockGraceSeconds
    }

  /** Every delta segment table of a base in the catalog (a legacy
    * unstamped `__delta` included), name-sorted. Metadata-scale: one
    * metastore LIKE listing, pattern-pushed.
    */
  private def segments(spark: SparkSession, table: String): Seq[String] =
    spark.sql(s"SHOW TABLES LIKE '${table}__delta*'")
      .select("tableName").collect().map(_.getString(0)).toSeq.sorted

  /** The `__compacting` manifest's segment list, or None when no
    * manifest exists (a healthy base, or a LEGACY pre-manifest crash
    * where the compaction had read every segment).
    */
  private def manifestSegs(spark: SparkSession, table: String): Option[Seq[String]] =
    if (!spark.catalog.tableExists(manifestOf(table))) None
    else Some(spark.table(manifestOf(table)).collect().map(_.getString(0)).toSeq)

  /** Retire a base's whole lifecycle before a REBUILD: every side's
    * live, `__old` and `__compact` table, the manifest, the lock and
    * every segment. Stale segments describe the OLD corpus — left
    * live, a rebuilt base would inherit ghost rows and report never-
    * seen documents as duplicates. Retiring BEFORE the write means a
    * crash between the two fail-opens (the half-rebuilt base under-
    * dedups until re-run) instead of fail-closing with ghost dups that
    * a later compaction would fold in for good. Retirement reclaims
    * LOCATIONS, not just catalog entries — a previous JVM's tables are
    * catalog-invisible here but still occupy their warehouse
    * directories.
    */
  private def retire(spark: SparkSession, base: SegmentedBase): Unit = {
    retirePrefixedLocations(spark, s"${base.table}__delta")
    (segments(spark, base.table) ++
      base.sides.flatMap(s => Seq(s.table, oldOf(s.table), compactOf(s.table))) ++
      Seq(manifestOf(base.table), swapLock(base.table)))
      .foreach(t => dropTableAndLocation(spark, t))
  }

  /** Repair any crashed swap, then claim the next free segment number
    * for `seg` by an error-if-exists create — losing the race to a
    * live writer (catalog) or to a dead JVM's orphaned segment
    * location takes the next number.
    */
  private def appendSegment(base: SegmentedBase, seg: DataFrame): Unit = {
    val spark = seg.sparkSession
    repair(spark, base, gateOnLock = true)
    var n = segments(spark, base.table)
      .flatMap(t => t.stripPrefix(s"${base.table}__delta").stripPrefix("_").toLongOption)
      .foldLeft(0L)(math.max) + 1L
    var claimed = false
    while (!claimed) {
      try {
        seg.write.mode("errorifexists").format("parquet")
          .saveAsTable(segTable(base.table, n))
        claimed = true
      } catch {
        case _: org.apache.spark.sql.AnalysisException
            if spark.catalog.tableExists(segTable(base.table, n)) ||
              managedLocationExists(spark, segTable(base.table, n)) =>
          n += 1L
      }
    }
  }

  /** The crash-state view, per side: which table IS the side right
    * now, and which segments it must still union. Mirrors
    * [[readAnnIndexCodes]]' reasoning:
    *  - `__old` WITHOUT the side → crash mid-rename; `__old` is the
    *    pre-compact table and every segment still applies.
    *  - `__old` WITH the side → the side swapped but cleanup did not
    *    finish; it already folded the segments the compaction READ —
    *    exactly the manifest's list — so those are stale (double-
    *    apply), while segments appended after the snapshot stay live.
    *    A missing manifest is the legacy pre-manifest state: everything
    *    was read.
    *  - neither → the base was never written, or was retired: a named
    *    error, not a read of a table nobody made.
    * Reads never mutate the catalog; writers and the next compaction
    * repair.
    */
  private def sideStates(
      spark: SparkSession, base: SegmentedBase): Seq[(String, Seq[String])] = {
    val segs = segments(spark, base.table)
    lazy val folded = manifestSegs(spark, base.table).getOrElse(segs).toSet
    base.sides.map { s =>
      val oldExists = spark.catalog.tableExists(oldOf(s.table))
      val live = spark.catalog.tableExists(s.table)
      if (live && oldExists) (s.table, segs.filterNot(folded))
      else if (live) (s.table, segs)
      else if (oldExists) (oldOf(s.table), segs)
      else
        throw new IllegalStateException(
          s"dedup base '${base.table}' does not exist (neither '${s.table}' nor " +
            s"'${oldOf(s.table)}' is in the catalog) — write it with Sinks.${base.writer} first")
    }
  }

  /** A side's rows with the given segments' rows unioned in. */
  private def withSegments(
      spark: SparkSession, side: Side, rows: DataFrame, segs: Seq[String]): DataFrame =
    segs.foldLeft(rows)((acc, t) => acc.unionByName(side.segRows(spark.table(t))))

  /** Finish or roll back a compaction swap that crashed — run by every
    * writer before it touches the segments, so a post-crash base never
    * accumulates segments the cleanup would destroy. Idempotent; a
    * no-op on a healthy base. The lead side's state decides the
    * direction: mid-lead-swap rolls BACK (nothing folded yet); any
    * later state rolls the remaining sides FORWARD and finishes the
    * cleanup in the compaction's own order — segments, each `__old` in
    * side order, manifest — so a crash mid-repair resumes precisely.
    * An orphaned merge or manifest with no `__old` anywhere is left
    * alone: that state is indistinguishable from a compaction STILL
    * RUNNING its merge writes, a read never consults either, and the
    * next compaction overwrites both.
    *
    * `gateOnLock`: appends pass true — swap evidence under a FRESH
    * `__swaplock` is a live compaction mid-swap, not a crash, and
    * repairing it would rip the rename out from under the owner (whose
    * next ALTER then throws). Compactions pass false.
    */
  private def repair(spark: SparkSession, base: SegmentedBase, gateOnLock: Boolean): Unit = {
    def exists(t: String) = spark.catalog.tableExists(t)
    def rename(from: String, to: String) = spark.sql(s"ALTER TABLE $from RENAME TO $to")
    val lead = base.sides.head.table
    val olds = base.sides.map(s => exists(oldOf(s.table)))
    if (!olds.contains(true) || (gateOnLock && swapLockFresh(spark, base.table))) ()
    else if (olds.head && !exists(lead)) {
      rename(oldOf(lead), lead)
      (base.sides.map(s => compactOf(s.table)) ++
        Seq(manifestOf(base.table), swapLock(base.table)))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    } else {
      base.sides.tail.foreach { s =>
        // the lead's __old still present means cleanup has not begun,
        // so a later side without its own __old has not started its swap
        if (olds.head && !exists(oldOf(s.table)) && exists(s.table))
          rename(s.table, oldOf(s.table))
        if (!exists(s.table)) {
          require(
            exists(compactOf(s.table)),
            s"base ${base.table}: merge ${compactOf(s.table)} missing mid-swap")
          rename(compactOf(s.table), s.table)
        }
      }
      cleanup(spark, base, manifestSegs(spark, base.table).getOrElse(segments(spark, base.table)))
    }
  }

  /** The post-swap cleanup, in the order repair resumes from: the
    * folded segments, every `__old`, the manifest, the lock.
    */
  private def cleanup(spark: SparkSession, base: SegmentedBase, folded: Seq[String]): Unit =
    (folded ++ base.sides.map(s => oldOf(s.table)) ++
      Seq(manifestOf(base.table), swapLock(base.table)))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  /** The compaction choreography of a [[SegmentedBase]], with a test
    * seam: `afterSnapshot` runs after the read-set manifest commits and
    * before the merge writes — the window where a concurrent append
    * must survive the fold. Production callers use
    * [[compactDedupBase]] / [[compactNearDupBase]].
    */
  private[graft] def compactHooked(
      spark: SparkSession,
      base: SegmentedBase,
      buckets: Int,
      afterSnapshot: () => Unit): Unit = {
    repair(spark, base, gateOnLock = false)
    val segs = segments(spark, base.table)
    if (segs.nonEmpty) {
      import spark.implicits._
      segs.toDF("seg_table").coalesce(1)
        .write.mode("overwrite").format("parquet").saveAsTable(manifestOf(base.table))
      afterSnapshot()
      base.sides.foreach { s =>
        val rows = spark.table(s.table).select(s.cols.map(col): _*)
        s.save(withSegments(spark, s, rows, segs), compactOf(s.table), buckets)
      }
      writeSwapLock(spark, base.table)
      base.sides.foreach { s =>
        spark.sql(s"ALTER TABLE ${s.table} RENAME TO ${oldOf(s.table)}")
        spark.sql(s"ALTER TABLE ${compactOf(s.table)} RENAME TO ${s.table}")
      }
      cleanup(spark, base, segs)
    }
  }

  private def fingerprints(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(col("text")).as("fp"))

  /** Persist a dedup base corpus as a Spark BUCKETED TABLE clustered
    * by content fingerprint — the layout that makes
    * [[graft.operators.Dedup.incrementalDedupStored]]'s per-batch
    * probes shuffle-free on the base side: bucketing by fp already
    * satisfies the join's hash distribution, so only the (small) delta
    * exchanges. At 100 TB the base is the corpus — re-shuffling it per
    * arriving batch is the cost this sink exists to delete. A rebuild
    * retires the previous corpus's whole lifecycle first.
    */
  def writeDedupBase(docs: DataFrame, table: String, buckets: Int = DefaultBuckets): Unit = {
    val base = dedupBase(table)
    retire(docs.sparkSession, base)
    base.sides.head.save(fingerprints(docs), table, buckets)
  }

  /** Append a batch's fingerprints as a DELTA SEGMENT next to the
    * base — the write a pipeline issues after
    * [[graft.operators.Dedup.incrementalDedupStored]] verified the
    * batch, so the next batch dedups against these docs too without
    * rewriting the corpus-sized base. Segments accumulate until
    * [[compactDedupBase]] folds them in; between compactions the probe
    * reads them via BROADCAST, so keep the compaction cadence ahead of
    * the delta outgrowing broadcast size (it is batch-sized, the base
    * is corpus-sized — the same small/large split the ANN delta has).
    */
  def appendDedupDelta(docs: DataFrame, table: String): Unit =
    appendSegment(dedupBase(table), fingerprints(docs))

  /** The exact tier's crash-state view: the base table and its live
    * segments ([[sideStates]]).
    */
  private[graft] def dedupBaseState(
      spark: SparkSession, table: String): (String, Seq[String]) =
    sideStates(spark, dedupBase(table)).head

  /** The live fingerprint set (base ∪ delta segments), crash-state
    * aware — what a full-corpus consumer (an exporter, a stats job)
    * reads between compactions.
    */
  def readDedupBase(spark: SparkSession, table: String): DataFrame = {
    val (t, segs) = dedupBaseState(spark, table)
    withSegments(spark, dedupBase(table).sides.head, spark.table(t), segs)
  }

  /** The live delta segments' DISTINCT fingerprints flagged `in_seg`,
    * ready for the broadcast probe — None when no live segments. The
    * ONE place that knows the segment tables' names and probe shape;
    * [[graft.operators.Dedup.incrementalDedupStored]] and
    * [[graft.streaming.Streaming.dedupStoredStream]] both ride it, so
    * a layout change lands once.
    */
  def dedupSegmentFps(spark: SparkSession, table: String): Option[DataFrame] = {
    val (_, liveSegs) = dedupBaseState(spark, table)
    liveSegs match {
      case Seq() => None
      case head +: tail =>
        Some(
          tail.foldLeft(spark.table(head))((acc, t) => acc.unionByName(spark.table(t)))
            .select("fp").distinct().withColumn("in_seg", lit(true)))
    }
  }

  /** Fold the delta segments back into the bucketed base — the
    * periodic compaction that keeps the broadcast-probed delta small
    * and the file count bounded by bucket count.
    */
  def compactDedupBase(
      spark: SparkSession, table: String, buckets: Int = DefaultBuckets): Unit =
    compactHooked(spark, dedupBase(table), buckets, () => ())

  /** Persist a near-dup signature base for `docs` — shingle explode,
    * minhash, band stack, and cap census all paid ONCE here so
    * [[graft.operators.Dedup.nearDupAgainstStored]] probes never pay
    * them again. A rebuild retires the previous corpus's whole
    * lifecycle first.
    */
  def writeNearDupBase(
      docs: DataFrame,
      table: String,
      buckets: Int = DefaultBuckets,
      cap: Int = graft.operators.BandCap.DefaultCap): Unit = {
    val base = nearDupBase(table, cap)
    retire(docs.sparkSession, base)
    val Seq(sigs, shs) = base.sides
    graft.operators.CacheScope.withScope {
      val sh = graft.operators.CacheScope.persist(graft.operators.Dedup.shingles(docs))
      sigs.save(graft.operators.Dedup.bandSignaturesWithCounts(sh), sigs.table, buckets)
      shs.save(sh.select(col("doc_id"), col("shingle")), shs.table, buckets)
    }
  }

  /** Append a verified batch's signatures + shingles as a DELTA
    * SEGMENT: one per-doc row of (doc_id, n, sigs[], shingles[]).
    * Segments ride UNCAPPED (batch-sized) until [[compactNearDupBase]]
    * folds them under the merged census.
    */
  def appendNearDupDelta(docs: DataFrame, table: String): Unit =
    graft.operators.CacheScope.withScope {
      val sh = graft.operators.CacheScope.persist(graft.operators.Dedup.shingles(docs))
      appendSegment(
        nearDupBase(table),
        graft.operators.Dedup.bandSignaturesWithCounts(sh)
          .groupBy("doc_id", "n")
          .agg(expr("array_sort(collect_list(struct(band, sig)))").as("sigs"))
          .join(
            sh.groupBy("doc_id").agg(expr("array_sort(collect_list(shingle))").as("shingles")),
            "doc_id"))
    }

  /** The near-dup tier's crash-state view, per side ([[sideStates]]):
    * (signature table, shingle table, signature segments, shingle
    * segments).
    */
  private[graft] def nearDupBaseState(
      spark: SparkSession, table: String): (String, String, Seq[String], Seq[String]) = {
    val Seq((sigT, sigSegs), (shT, shSegs)) = sideStates(spark, nearDupBase(table))
    (sigT, shT, sigSegs, shSegs)
  }

  /** The live corpus signature rows — base rows surviving the
    * write-time cap (`WHERE kept`) plus the live segments' exploded,
    * uncapped signature arrays. (doc_id, n, band, sig).
    */
  def readNearDupSigs(spark: SparkSession, table: String): DataFrame = {
    val (sigT, _, sigSegs, _) = nearDupBaseState(spark, table)
    withSegments(
      spark, nearDupBase(table).sides.head,
      spark.table(sigT).filter(col("kept")).select("doc_id", "n", "band", "sig"), sigSegs)
  }

  /** The live corpus shingle rows — base store plus the live segments'
    * exploded shingle arrays. (doc_id, shingle).
    */
  def readNearDupShingles(spark: SparkSession, table: String): DataFrame = {
    val (_, shT, _, shSegs) = nearDupBaseState(spark, table)
    withSegments(
      spark, nearDupBase(table).sides(1), spark.table(shT).select("doc_id", "shingle"), shSegs)
  }

  /** Fold the delta segments into both base tables, recomputing the
    * cap census over the merged signature set — possible precisely
    * because the base stores the FULL row set with `kept` as a flag,
    * never dropping sampled rows.
    */
  def compactNearDupBase(
      spark: SparkSession,
      table: String,
      buckets: Int = DefaultBuckets,
      cap: Int = graft.operators.BandCap.DefaultCap): Unit =
    compactHooked(spark, nearDupBase(table, cap), buckets, () => ())

  /** Read the materialization back; `forUrl` prunes to the one bucket
    * partition the url hashes into (partition pruning does the work —
    * check PushedFilters/PartitionFilters in the scan). Without the
    * bucket marker it falls back to an unpruned url filter — correct,
    * just a full scan.
    */
  def readScored(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  private def writtenBuckets(spark: SparkSession, path: String): Option[Int] = {
    val p = new Path(path, "_graft_buckets")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(
        org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8).trim.toInt)
      finally in.close()
    }
  }

  def forUrl(spark: SparkSession, path: String, url: String): DataFrame = {
    val base = readScored(spark, path).filter(col("url") === url)
    writtenBuckets(spark, path) match {
      case Some(b) => base.filter(col("url_bucket") === pmod(xxhash64(lit(url)), lit(b)))
      case None    => base
    }
  }

  /** Cross-job TTL result cache — the reference's
    * `st.cache_data(ttl=3600, persist=True)` on load_cdx (main.py:129):
    * a keyed materialization that survives the session. If `path/key`
    * holds a materialization younger than `ttlSeconds`, read it;
    * otherwise compute `produce`, write it (atomically: write to a
    * `.tmp_<nonce>` directory, then rename — readers never see a half
    * cache), stamp `_graft_fresh_at`, and read that. The stamp is
    * written AFTER the data commits, so a crash mid-write leaves a
    * stale-but-complete previous entry or an unstamped (= never fresh)
    * partial, never a fresh-looking torn one. The stamp itself is
    * written to a temp file and renamed into place, and a stamp that
    * does not parse (torn by a crash or by hand) reads as stale, so the
    * entry recomputes instead of failing every later call.
    *
    * `now` is injected for the same reason the engine's "today" is
    * (SURVEY §7.4-4): freshness must be testable without wall-clock
    * races.
    */
  def cached(
      spark: SparkSession,
      path: String,
      key: String,
      ttlSeconds: Long,
      now: () => Long = () => System.currentTimeMillis() / 1000)(
      produce: () => DataFrame): DataFrame = {
    val dir = new Path(path, key)
    val stamp = new Path(dir, "_graft_fresh_at")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh = fs.exists(stamp) && {
      val in = fs.open(stamp)
      val at =
        try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8).trim.toLongOption
        finally in.close()
      at.exists(now() - _ < ttlSeconds)
    }
    if (!fresh) {
      val tmp = new Path(path, s"$key.tmp_${java.util.UUID.randomUUID()}")
      // the tmp dir must never outlive a failed refresh (orphaned
      // tmp_<uuid> dirs accumulate forever), and a failed rename must
      // never be followed by the stamp (a dir holding only
      // _graft_fresh_at reads as fresh but fails spark.read.parquet)
      try {
        produce().write.mode("overwrite").parquet(tmp.toString)
        fs.delete(dir, true)
        if (!fs.rename(tmp, dir))
          throw new java.io.IOException(s"cache refresh rename $tmp -> $dir failed")
      } catch {
        case e: Throwable =>
          try fs.delete(tmp, true) catch { case _: Throwable => () }
          throw e
      }
      // `_`-prefixed, so a leftover temp stamp is hidden from the parquet read
      val tmpStamp = new Path(dir, s"_graft_fresh_at.tmp_${java.util.UUID.randomUUID()}")
      val out = fs.create(tmpStamp, true)
      try out.write(now().toString.getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmpStamp, stamp)) {
        fs.delete(tmpStamp, false)
        throw new java.io.IOException(s"cache stamp rename $tmpStamp -> $stamp failed")
      }
    }
    spark.read.parquet(dir.toString)
  }

  /** Wire the incremental scorer into an append-only parquet dataset
    * with exactly-once checkpointing — the streaming serving path: each
    * closed day's scores land durably as they finalize.
    */
  def scoredStreamSink(
      scored: Dataset[ScoredRow],
      path: String,
      checkpoint: String): StreamingQuery = {
    graft.streaming.Streaming.localCheckpoints(scored.sparkSession)
    scored.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()
  }

  // ------------------------------------------------------- ANN index layout
  /** Persist an IVF-PQ index for serving: the codes table lands
    * PARTITIONED BY c_id — one directory per inverted list, which is
    * the disk analog of the probes join (a query touching NProbe of
    * IvfK lists reads NProbe/IvfK of the directories; partition
    * pruning does at the storage layer what list pruning does in
    * memory). Centroids and the packed codebook ride alongside as
    * metadata parquet — kilobytes that reconstruct approximate
    * distances for any corpus size. List count — not corpus size —
    * bounds the directory count.
    */
  def writeAnnIndex(emb: DataFrame, path: String): Unit = {
    import graft.operators.Ann
    val cents = Ann.firstKCentroids(emb)
    val codebook = Ann.pqCodebook(emb)
    Ann.pqEncode(emb, codebook)
      .join(Ann.ivfAssign(emb, cents).select("vec_id", "c_id"), "vec_id")
      .repartition(col("c_id"))
      .write.partitionBy("c_id").mode("overwrite").parquet(s"$path/codes")
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    codebook.write.mode("overwrite").parquet(s"$path/codebook")
    refreshLiveCountMeta(emb.sparkSession, path)
    ()
  }

  /** [[writeAnnIndex]] with RESIDUAL per-list encoding — the
    * best-recall disk layout: codes quantize v − centroid against the
    * OWN list's book ([[graft.operators.Ann.pqResidualCodebooks]]'
    * deterministic stand-in; a trained book frame slots into the same
    * shape via the `books` overload), so the 4-bit budget spends on
    * within-list detail instead of list offsets. The per-list books
    * persist under `books_residual/` — their presence IS the layout
    * marker: queries ([[readAnnIndexTopK]]), streamed appends and
    * upserts all detect it and encode/rank residually, so a caller
    * never has to know which layout a path holds. Delta segments,
    * tombstones, and [[compactAnnIndex]] are layout-agnostic (codes
    * are (vec_id, codes, c_id) rows either way) and work unchanged.
    */
  def writeAnnIndexResidual(emb: DataFrame, path: String): Unit = {
    import graft.operators.Ann
    val cents = Ann.firstKCentroids(emb)
    val lists = Ann.ivfAssign(emb, cents)
    writeAnnIndexResidual(emb, path, Ann.pqResidualCodebooks(lists, cents))
  }

  /** [[writeAnnIndexResidual]] over an explicit (c_id, k, cb) book
    * frame — the entry point for TRAINED books.
    */
  def writeAnnIndexResidual(emb: DataFrame, path: String, books: DataFrame): Unit = {
    import graft.operators.Ann
    val cents = Ann.firstKCentroids(emb)
    val lists = Ann.ivfAssign(emb, cents)
    Ann.pqEncodeResidual(lists, cents, books)
      .select("vec_id", "codes", "c_id")
      .repartition(col("c_id"))
      .write.partitionBy("c_id").mode("overwrite").parquet(s"$path/codes")
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    books.write.mode("overwrite").parquet(s"$path/books_residual")
    refreshLiveCountMeta(emb.sparkSession, path)
    ()
  }

  /** The FULL best-recall disk configuration: trained rotation +
    * per-list residual books (fit in rotated space) + the serving
    * layout. Both artifacts persist (`rotation/`, `books_residual/`)
    * and every face composes them automatically — queries rotate then
    * rank residually, streamed appends and upserts rotate then
    * residual-encode against the frozen books.
    */
  def writeAnnIndexResidualRotated(
      emb: DataFrame,
      path: String,
      rot: Array[Array[Float]],
      books: DataFrame): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    rot.zipWithIndex.toSeq.map { case (r, i) => (i, r) }.toDF("i", "r")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/rotation")
    writeAnnIndexResidual(graft.operators.Ann.rotate(emb, rot), path, books)
  }

  // ------------------------------------------- image tile signature base
  /** The shared image-signature base writer behind [[writeTileBase]]
    * and [[writeAnchorBase]]: distinct per-doc signature rows, the
    * write-time census flag, one hash-bucketed sorted table — the
    * retire-then-write contract lives HERE, once.
    */
  private def writeImageSigBase(
      sigs: DataFrame,
      table: String,
      keyCols: Seq[String],
      buckets: Int,
      cap: Int): Unit = {
    val s = sigs.sparkSession
    dropTableAndLocation(s, table)
    graft.operators.CacheScope.withScope {
      val d = graft.operators.CacheScope.persist(sigs.distinct())
      graft.operators.BandCap.flagBuckets(d, keyCols, "doc_id", cap)
        .write.mode("overwrite").format("parquet")
        .bucketBy(buckets, keyCols.head, keyCols.tail: _*)
        .sortBy(keyCols.head, keyCols.tail: _*)
        .saveAsTable(table)
    }
  }

  /** Persist the crop-robust TILE-SIGNATURE BASE for an image corpus:
    * the decode + per-tile grid hashes + the cap census
    * ([[graft.operators.Multimodal.pixelTileHashes]] +
    * [[graft.operators.BandCap.flagBuckets]]) are all paid ONCE here,
    * and the rows land bucketed by the 64-bit tile hash — so
    * [[graft.operators.Multimodal.tilesAgainstStored]] probes a
    * recrawl batch with ZERO corpus-side decoding and no corpus
    * exchange. The image-modality mirror of [[writeNearDupBase]]'s
    * fingerprint-once/probe-many contract.
    *
    * Rebuild-only, like the HNSW tier and unlike the text base's
    * delta segments, deliberately: image corpora in this engine are
    * release artifacts (a recrawl PROBES, a new release REWRITES);
    * when ingest-time appends are ever needed, declaring it as a
    * [[SegmentedBase]] is the named extension. A rewrite retires the
    * previous table first, and a crash between retire and write leaves NO base
    * — the probe fails loudly on the missing table (fail-open:
    * under-dedup until the write re-runs, never a stale-corpus ghost).
    */
  def writeTileBase(
      images: DataFrame,
      table: String,
      buckets: Int = DefaultBuckets,
      cap: Int = graft.operators.BandCap.DefaultCap): Unit =
    writeImageSigBase(
      graft.operators.Multimodal.pixelTileHashes(images).toDF()
        .select("doc_id", "th_hi", "th_lo"),
      table, Seq("th_hi", "th_lo"), buckets, cap)

  /** The stored tile base's live (census-kept) rows. */
  def readTileSigs(spark: SparkSession, table: String): DataFrame =
    spark.table(table).filter(col("kept")).select("doc_id", "th_hi", "th_lo")

  /** [[writeTileBase]]'s content-anchored sibling: the corpus's
    * anchor-descriptor signatures ([[graft.operators.Multimodal
    * .anchorHashes]] — detection + descriptor paid ONCE), distinct
    * per doc, flagged by the write-time census, hash-bucketed. Same
    * contract as the tile base in every other respect: rebuild-only,
    * retire-then-write fail-open, probes broadcast into the bucketed
    * scan with zero corpus decode. This is the base a recrawl probes
    * when re-uploads are re-CROPPED at arbitrary offsets — the class
    * the tile base's lattice provably misses.
    */
  def writeAnchorBase(
      images: DataFrame,
      table: String,
      buckets: Int = DefaultBuckets,
      cap: Int = graft.operators.BandCap.DefaultCap): Unit =
    writeImageSigBase(
      graft.operators.Multimodal.anchorHashes(images).toDF()
        .select("doc_id", "ah_hi", "ah_lo"),
      table, Seq("ah_hi", "ah_lo"), buckets, cap)

  /** The stored anchor base's live (census-kept) rows. */
  def readAnchorSigs(spark: SparkSession, table: String): DataFrame =
    spark.table(table).filter(col("kept")).select("doc_id", "ah_hi", "ah_lo")

  // ------------------------------------------------ HNSW serving layout
  /** Persist the graph-ANN family's serving index: build once
    * ([[graft.operators.Ann.hnswGraphParts]] — the per-invocation
    * cost that made the in-memory face the registry's slowest query),
    * search many against the frozen artifacts. Four parquet dirs:
    *
    *  - `edges/`    — the (src, dst) neighbor graph, repartitioned +
    *                  sorted by src (one columnar scan per beam round,
    *                  joined to a broadcast frontier).
    *  - `entries/`  — the [[graft.operators.Ann.HnswEntries]] global
    *                  entry-point vec_ids (bytes; broadcast).
    *  - `bands/`    — the capped corpus band buckets (band, key,
    *                  vec_id), sorted by (band, key): the seed join's
    *                  corpus side, cap census paid HERE, never per
    *                  query.
    *  - `vectors/`  — (vec_id, embedding, norm): the exact-scoring
    *                  rows. Vectors live IN a serving graph index —
    *                  the beam's cosines never touch the source table.
    *
    * MUTATION CONTRACT: rebuild-only, deliberately. The IVF tier's
    * append/tombstone segments work because codes are independent
    * rows; a small-world graph's navigability lives in its EDGES —
    * an appended vector with no inbound links is unreachable, and
    * relational edge surgery per insert would pay the knnJoin anyway.
    * Public practice matches (HNSW serving stacks rebuild or rely on
    * in-memory insert-time surgery no columnar layout expresses).
    *
    * SWAP DISCIPLINE: the four artifacts must flip as ONE — a reader
    * mixing new edges with old entry points searches a geometry that
    * never existed (the silent-wrong-results class the IVF tier's
    * read guard exists to prevent). Each rebuild writes a fresh
    * GENERATION directory (`g<n>/edges …`) and then atomically flips
    * the kilobyte `CURRENT` pointer file (write-temp → delete →
    * rename); readers resolve `CURRENT` once and read only that
    * generation, so they see whole-old or whole-new, never a mix. A
    * missing/mid-flip pointer fails LOUDLY (the guardReadable
    * discipline) — the flip window is two metadata ops, and a crash
    * inside it is healed by the next write. Crash anywhere before the
    * flip leaves the serving generation untouched; orphaned
    * generations (a crashed write's partial artifacts) are reclaimed
    * at the start of the next write.
    *
    * RETENTION CONTRACT: the superseded generation is NOT deleted at
    * the flip — it is retained on disk until the NEXT write's orphan
    * sweep reclaims it. A search that resolved `CURRENT` before the
    * flip therefore finishes against intact files; deleting g at the
    * flip would fail an in-flight reader of g mid-job (loudly — the
    * pointer discipline rules out mixed geometry either way — but a
    * serving index whose rebuild kills concurrent searches breaks the
    * build-once/search-many contract at face value). At most two
    * generations exist at a time: the current one and the one it
    * superseded. The window a retired generation survives is one full
    * rebuild cadence — far longer than any single search; a reader
    * that somehow outlives TWO rebuilds fails loudly, never wrongly.
    */
  def writeHnswIndex(emb: DataFrame, path: String): Unit = {
    import graft.operators.Ann
    writeHnswIndexFromParts(emb.sparkSession, path) { () =>
      val (graph, ord) = Ann.hnswGraphParts(emb)
      (graph,
        ord.filter(col("r") < Ann.HnswEntries).select("vec_id"),
        Ann.hnswCorpusBands(emb),
        Ann.hnswCorpusVectors(emb))
    }
  }

  /** [[writeHnswIndex]]'s generation/flip discipline over
    * ALREADY-BUILT artifacts — the entry point for callers that hold
    * the deterministic build's four frames (graph, entries, bands,
    * vectors) materialized (e.g. a session that built the in-memory
    * serving fixture and now freezes the IDENTICAL geometry to disk —
    * [[Ann.hnswGraphParts]] is deterministic, so parts-in equals
    * build-here bit-for-bit). `parts` is invoked AFTER the orphan
    * sweep so a build crash still leaves the serving generation
    * untouched; everything else (generation dir, atomic pointer flip,
    * retention) is the contract documented above. `parts` and the four
    * writes run inside one [[graft.operators.CacheScope]], so what the
    * build persists (the ring ordering, the minhash signature the graph
    * and the bands share) serves every write and is released after the
    * last one.
    */
  private[graft] def writeHnswIndexFromParts(
      spark: org.apache.spark.sql.SparkSession,
      path: String)(
      parts: () => (DataFrame, DataFrame, DataFrame, DataFrame)): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = currentHnswGen(fs, path)
    // reclaim crashed writes' orphans AND the generation the previous
    // write superseded (the retention contract above): anything that
    // is neither current nor about to be written
    val next = cur.getOrElse(0L) + 1
    if (fs.exists(new Path(path))) {
      fs.listStatus(new Path(path)).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("g") && n.drop(1).forall(_.isDigit) &&
            !cur.contains(n.drop(1).toLong))
          fs.delete(st.getPath, true)
      }
    }
    val gdir = s"$path/g$next"
    graft.operators.CacheScope.withScope {
      val (graph, entries, bands, vectors) = parts()
      writeHnswGenArtifacts(gdir, graph, entries, bands, vectors)
    }
    // the atomic flip: stage the new pointer, drop the old, rename in
    val tmp = new Path(s"$path/CURRENT_tmp")
    val ptr = new Path(s"$path/CURRENT")
    val out = fs.create(tmp, true)
    out.write(next.toString.getBytes("UTF-8"))
    out.close()
    fs.delete(ptr, false)
    if (!fs.rename(tmp, ptr))
      throw new IllegalStateException(s"HNSW index pointer flip failed at $path")
    // the superseded generation is deliberately left in place (see
    // RETENTION CONTRACT): the next write's sweep reclaims it.
  }

  /** One generation directory's four parquet artifacts, laid out for
    * the read path: edges clustered by src, bands by (band, key), the
    * (tiny) entry list in one file.
    */
  private def writeHnswGenArtifacts(
      gdir: String,
      graph: DataFrame,
      entries: DataFrame,
      bands: DataFrame,
      vectors: DataFrame): Unit = {
    graph
      .repartition(col("src")).sortWithinPartitions("src")
      .write.mode("overwrite").parquet(s"$gdir/edges")
    entries
      .coalesce(1).write.mode("overwrite").parquet(s"$gdir/entries")
    bands
      .repartition(col("band"), col("key")).sortWithinPartitions("band", "key")
      .write.mode("overwrite").parquet(s"$gdir/bands")
    vectors
      .write.mode("overwrite").parquet(s"$gdir/vectors")
  }

  /** The committed generation `CURRENT` points at, if any. The file
    * is drained fully (`readFully` — a single `read` may legally
    * return short for an `FSDataInputStream`) and a pointer that
    * exists but doesn't parse as a generation number fails with the
    * same loud [[IllegalStateException]] class as the mid-flip path:
    * an unreadable pointer must never be mistaken for "no index".
    */
  private def currentHnswGen(fs: FileSystem, path: String): Option[Long] = {
    val ptr = new Path(s"$path/CURRENT")
    if (!fs.exists(ptr)) None
    else {
      val len = fs.getFileStatus(ptr).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(ptr)
      try in.readFully(0, buf)
      finally in.close()
      val txt = new String(buf, "UTF-8").trim
      try Some(txt.toLong)
      catch {
        case _: NumberFormatException =>
          throw new IllegalStateException(
            s"HNSW index pointer at $ptr is unreadable (content: '$txt'): " +
              "a corrupt CURRENT file, not a missing index. Run " +
              "writeHnswIndex to recommit.")
      }
    }
  }

  /** Default drift fraction for [[maybeRebuildHnswIndex]]: rebuild
    * once the IVF-side live set has drifted 10% from what the graph
    * serves. Rebuilds are the graph tier's whole mutation budget, so
    * the threshold trades staleness (unreachable new vectors, ghost
    * deleted ones — the brute/IVF tiers still see them correctly)
    * against paying the knnJoin build.
    */
  val HnswRebuildDriftFraction: Double = 0.1

  /** CONTINUOUS-INGEST CADENCE for the rebuild-only graph tier: the
    * streaming/batch ingest faces ([[appendAnnIndex]],
    * [[upsertAnnIndex]], [[deleteFromAnnIndex]]) mutate the IVF
    * index's delta lifecycle — the graph index, rebuild-only by
    * contract, would silently fall behind. This face closes the loop:
    * it reads the IVF side's LIVE distinct-id count
    * ([[annIndexLiveCount]] — the maintained metadata plus the
    * streaming delta's read-time contribution; ZERO codes-base scans
    * on the no-rebuild path) and the vector count the HNSW `CURRENT`
    * generation serves (a parquet metadata count), and when the
    * absolute drift reaches `driftFraction` of the served count — or
    * no committed generation exists — runs exactly one
    * [[writeHnswIndex]] over `vecs` (the caller's canonical live
    * vector set, typically the same frame the streams ingest from:
    * the graph needs raw embeddings, which the IVF codes deliberately
    * do not carry). Returns whether a rebuild ran.
    *
    * Self-normalizing, no extra state: a rebuild serves exactly
    * `vecs`, so when `vecs` tracks the IVF live set the drift returns
    * to ~0 and the trigger disarms until real ingest re-arms it —
    * call it after every micro-batch or compaction; the no-op path
    * costs the kilobyte metadata file, the tombstone set, and one
    * read of the (small-between-compactions) streaming delta — never
    * the index. Limitation, documented: in-place UPSERTS of existing
    * ids leave counts unchanged and do not trip the count-drift
    * trigger — an upsert-heavy pipeline should pair this with a
    * periodic unconditional rebuild. The end-to-end continuous-ingest
    * recipe lives at
    * [[graft.streaming.Streaming.annIngestWithCadence]].
    */
  def maybeRebuildHnswIndex(
      spark: SparkSession,
      ivfPath: String,
      hnswPath: String,
      vecs: DataFrame,
      driftFraction: Double = HnswRebuildDriftFraction): Boolean = {
    val fs = new Path(hnswPath).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val due = currentHnswGen(fs, hnswPath) match {
      case None => true
      case Some(g) =>
        val served = spark.read.parquet(s"$hnswPath/g$g/vectors").count()
        val live = annIndexLiveCount(spark, ivfPath)
        math.abs(live - served) >= driftFraction * math.max(served, 1L)
    }
    if (due) writeHnswIndex(vecs, hnswPath)
    due
  }

  /** Search the frozen HNSW index: banded seeds + entry points from
    * the stored artifacts, the eager beam kernel
    * ([[graft.operators.Ann.hnswSearch]] — shared verbatim with the
    * in-memory face, so disk ≡ in-memory bit-for-bit), zero build
    * stages — no knnJoin, no ring sort, no cap census appears in any
    * round's plan (spec-pinned via the kernel's plan probe). The
    * `CURRENT` pointer resolves ONCE, so the whole search reads one
    * committed generation; a missing pointer (no committed index, or
    * a crash inside the two-op flip window) fails loudly.
    */
  def readHnswIndexTopK(
      spark: SparkSession, path: String, queries: DataFrame): DataFrame =
    readHnswIndexTopK(spark, path, queries, _ => ())

  private[graft] def readHnswIndexTopK(
      spark: SparkSession,
      path: String,
      queries: DataFrame,
      planProbe: String => Unit): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = currentHnswGen(fs, path).getOrElse(
      throw new IllegalStateException(
        s"HNSW index at $path has no committed CURRENT generation: either " +
          "nothing was written here, or a rebuild crashed inside the pointer " +
          "flip. Run writeHnswIndex to (re)commit."))
    val gdir = s"$path/g$gen"
    graft.operators.Ann.hnswSearch(
      spark.read.parquet(s"$gdir/vectors"),
      spark.read.parquet(s"$gdir/bands"),
      spark.read.parquet(s"$gdir/entries"),
      spark.read.parquet(s"$gdir/edges"),
      queries,
      planProbe)
  }

  /** The index's per-list residual books, if it carries them —
    * kilobytes (IvfK × PqK × d floats), the layout marker for every
    * read/ingest face.
    */
  private def loadResidualBooks(
      spark: SparkSession, path: String): Option[Map[Long, Array[Array[Float]]]] = {
    val p = new Path(s"$path/books_residual")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(
      spark.read.parquet(p.toString).select("c_id", "k", "cb").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
        .groupBy(_._1)
        .map { case (c, rows) => c -> rows.sortBy(_._2).map(_._3) })
  }

  /** [[writeAnnIndex]] with an OPQ-style TRAINED ROTATION
    * ([[graft.operators.Ann.pcaRotation]]) in front of the encode —
    * the recall lever at a fixed code budget, as index metadata: the
    * d×d matrix persists under `rotation/` alongside the centroids
    * and codebook, the corpus encodes in rotated space, and every
    * OTHER face of the index applies the artifact automatically —
    * queries rotate inside [[readAnnIndexTopK]], streamed and
    * upserted vectors rotate before [[graft.operators.Ann
    * .encodeForIndex]]. A vector that skipped the rotation would
    * encode against geometry it doesn't live in, so the artifact
    * rides the index, not the call sites.
    */
  def writeAnnIndexRotated(emb: DataFrame, path: String): Unit =
    writeAnnIndexRotated(emb, path, graft.operators.Ann.pcaRotation(emb))

  /** [[writeAnnIndexRotated]] over an already-fitted rotation — the
    * entry point when the matrix is shared with other consumers (a
    * registry query and its oracle twin must see the SAME literals).
    */
  def writeAnnIndexRotated(
      emb: DataFrame, path: String, rot: Array[Array[Float]]): Unit = {
    import graft.operators.Ann
    val spark = emb.sparkSession
    import spark.implicits._
    rot.zipWithIndex.toSeq.map { case (r, i) => (i, r) }.toDF("i", "r")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/rotation")
    writeAnnIndex(Ann.rotate(emb, rot), path)
  }

  /** The index's rotation artifact, if it carries one. Kilobytes
    * (d×d floats) — collected like the centroids/codebook metadata.
    */
  private def loadRotation(
      spark: SparkSession, path: String): Option[Array[Array[Float]]] = {
    val p = new Path(s"$path/rotation")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(
      spark.read.parquet(p.toString).collect()
        .sortBy(_.getInt(0)).map(_.getSeq[Float](1).toArray))
  }

  /** Rotate an arbitrary (idCol, embedding) frame into the index's
    * space — shared by the query, streaming-append and upsert paths.
    */
  private def rotateFor(
      df: DataFrame, idCol: String, rot: Array[Array[Float]]): DataFrame =
    graft.operators.Ann.rotate(
      df.select(col(idCol).as("vec_id"), col("embedding")), rot)
      .withColumnRenamed("vec_id", idCol)

  /** Loud-fail guard for reads against an index whose REBUILD swap is
    * in flight: `rebuild_staging/_STAGED` present means the swap MUST
    * roll forward (some artifacts may already be new-geometry), and a
    * stray `<artifact>_rb_old` means a swap or rollback was interrupted
    * mid-rename — in either state a read could pair NEW metadata with
    * OLD codes (or vice versa) and silently serve mixed geometry.
    * Readers never mutate storage (the compaction crash-awareness
    * contract above), so this fails loudly instead of healing; any
    * writer ([[rebuildAnnIndex]], [[compactAnnIndex]], an ingest
    * append via [[allocSeg]]) repairs the state first. A staging dir
    * WITHOUT the marker is a crashed BUILD — no swap ever started, the
    * live artifacts are consistent, and reads proceed.
    */
  private def guardRebuildState(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val staged = fs.exists(new Path(s"$path/rebuild_staging/_STAGED"))
    val olds = RebuildArtifacts.filter(a => fs.exists(new Path(s"$path/${a}_rb_old")))
    if (staged || olds.nonEmpty) {
      val why =
        (if (staged) Seq("rebuild_staging/_STAGED present") else Nil) ++
          (if (olds.nonEmpty) Seq(olds.map(_ + "_rb_old").mkString(", ") + " present")
           else Nil)
      throw new IllegalStateException(
        s"ANN index at $path has an unfinished rebuild swap (${why.mkString("; ")}): " +
          "reading now could mix old and new geometry. Run rebuildAnnIndex, " +
          "compactAnnIndex, or any ingest writer against this path to finish " +
          "or roll back the swap, then retry the read.")
    }
  }

  /** All code rows of the index: the batch-built base segment plus, if
    * a stream has appended one, the `codes_delta` segment ([[
    * appendAnnIndex]] — a separate directory because the streaming
    * parquet sink's `_spark_metadata` log would otherwise shadow every
    * batch-written file in the same path; base + delta segments with
    * periodic compaction is the layout disk indexes use anyway). The
    * c_id partition value parses back as INT — normalized to the
    * index's LONG list ids here, once, so no consumer joins across a
    * type coercion. Tombstoned ids ([[deleteFromAnnIndex]]) are
    * excluded via a BROADCAST anti-join — the tombstone set is
    * `(vec_id, seg)` pairs and stays kilobytes until compaction drops
    * the rows physically; the probes join's partition pruning on the
    * scan is untouched.
    */
  def readAnnIndexCodes(spark: SparkSession, path: String): DataFrame =
    readAnnIndexCodesTiers(spark, path, includeStreamingDelta = true)

  /** [[readAnnIndexCodes]] with the STREAMING delta tier optional:
    * the live-count metadata ([[annIndexLiveCount]]) maintains an
    * exact count over the batch-writer tiers (base ∪ batch delta −
    * tombstones) and adds the streaming tier's contribution at read
    * time — the streaming sink can't update metadata per micro-batch
    * (the parquet sink owns its commit log), so the count's stored
    * half deliberately excludes `codes_delta`.
    */
  private def readAnnIndexCodesTiers(
      spark: SparkSession, path: String, includeStreamingDelta: Boolean): DataFrame = {
    val basePath = new Path(s"$path/codes")
    val oldPath = new Path(s"$path/codes_old")
    // TWO delta dirs, one per writer kind: `codes_delta` belongs to the
    // streaming sink (whose `_spark_metadata` log is the source of
    // truth for that dir — a batch file appended there would be
    // silently invisible to every read), `codes_delta_batch` to batch
    // upserts. Keeping them separate is what lets the two writer kinds
    // interleave without one shadowing the other's rows.
    val deltaPaths =
      (if (includeStreamingDelta) Seq(new Path(s"$path/codes_delta")) else Nil) :+
        new Path(s"$path/codes_delta_batch")
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    guardRebuildState(fs, path)
    // Crash-state awareness for [[compactAnnIndex]]'s rename swap:
    //  - `codes_old` present WITHOUT `codes`  → crash between the two
    //    renames; `codes_old` IS the pre-compact base (delta+tombstones
    //    still apply).
    //  - `codes_old` present WITH `codes`     → crash after the swap
    //    but before cleanup; `codes` already folded delta−tombstones,
    //    so reading the stale delta/tombstone segments would double-
    //    count — ignore both.
    // Reads never mutate storage; the next compactAnnIndex call
    // finishes or rolls back the interrupted swap.
    val baseExists = fs.exists(basePath)
    val oldExists = fs.exists(oldPath)
    val postSwapCrash = baseExists && oldExists
    // Rows carry a SEGMENT number for append-wins upserts: base rows
    // are segment 0, delta rows the segment they were appended at
    // (absent column — a pre-segment delta — reads as 0). A tombstone
    // at segment s hides only rows with a STRICTLY smaller segment, so
    // [[upsertAnnIndex]]'s same-segment rows outlive their own
    // tombstone while every older copy dies.
    val base = spark.read.parquet(
      (if (baseExists) basePath else oldPath).toString)
      .withColumn("rseg", lit(0L))
    val liveDeltas = if (postSwapCrash) Seq.empty else deltaPaths.filter(fs.exists)
    val all = liveDeltas.foldLeft(base) { (acc, deltaPath) =>
      // mergeSchema: a delta dir can mix pre-segment files (no `seg`
      // column) with segment-stamped ones; the merge costs footer
      // reads of the DELTA only (small by construction), and null
      // seg values read as segment 0.
      val delta = spark.read.option("mergeSchema", "true").parquet(deltaPath.toString)
      val withSeg =
        if (delta.columns.contains("seg"))
          delta.withColumn("rseg", coalesce(col("seg"), lit(0L))).drop("seg")
        else delta.withColumn("rseg", lit(0L))
      acc.unionByName(withSeg)
    }
    val live =
      if (postSwapCrash) all
      else readAnnTombstones(spark, path) match {
        case Some(dead) =>
          val t = dead.select(col("vec_id").as("t_vec_id"), col("tseg"))
          all.join(
            broadcast(t),
            all("vec_id") === t("t_vec_id") && t("tseg") > all("rseg"),
            "left_anti")
        case None => all
      }
    live.drop("rseg").withColumn("c_id", col("c_id").cast("long"))
  }

  /** The live tombstone set as `(vec_id, tseg)`. A pre-segment
    * tombstone file (no `seg` column) reads as `Long.MaxValue` — the
    * legacy semantics where a tombstone hides every copy of the id,
    * appended before or after, until compaction.
    */
  private def readAnnTombstones(spark: SparkSession, path: String): Option[DataFrame] = {
    val tombPath = new Path(s"$path/tombstones")
    val fs = tombPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(tombPath)) None
    else {
      // mergeSchema: a dir mixing pre-segment files (vec_id only) with
      // seg-stamped ones must not let one legacy footer hide the seg
      // column — that would read EVERY tombstone as MaxValue and kill
      // same-segment upsert rows
      val t = spark.read.option("mergeSchema", "true").parquet(tombPath.toString)
      val seg =
        if (t.columns.contains("seg")) coalesce(col("seg"), lit(Long.MaxValue))
        else lit(Long.MaxValue)
      Some(t.select(col("vec_id"), seg.as("tseg")))
    }
  }

  // ------------------------------------------- ANN index live count
  /** The maintained live-count metadata file: one line,
    * `<count> <validUptoSeg>`, written atomically (tmp → rename, the
    * `CURRENT` pointer discipline). `count` is the exact number of
    * distinct live vec_ids in the BATCH tiers (base ∪ batch delta
    * through the tombstone anti-join — everything except the
    * streaming `codes_delta`); `validUptoSeg` is the highest segment
    * number stamped on any tombstone or batch-delta file the count
    * accounts for. A reader trusts the count iff that high-water mark
    * still matches the dirs — any mutation the metadata missed (a
    * writer that crashed between its data write and its metadata
    * update) allocated a HIGHER segment, so staleness is always
    * detectable and heals by one recount. Unlike the HNSW `CURRENT`
    * pointer, a corrupt file here is NOT loud: the count is derived
    * data with an exact recompute path, so corruption degrades to a
    * recount, never to wrong results.
    */
  private def liveCountMetaPath(path: String) = new Path(s"$path/livecount")

  private def readLiveCountMeta(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Option[(Long, Long)] = {
    val p = liveCountMetaPath(path)
    if (!fs.exists(p)) None
    else
      try {
        val len = fs.getFileStatus(p).getLen.toInt
        val buf = new Array[Byte](len)
        val in = fs.open(p)
        try in.readFully(0, buf)
        finally in.close()
        new String(buf, "UTF-8").trim.split("\\s+") match {
          case Array(c, u) => (c.toLongOption, u.toLongOption) match {
            case (Some(count), Some(upto)) if count >= 0 => Some((count, upto))
            case _ => None
          }
          case _ => None
        }
      } catch {
        // an unreadable file (truncated write, checksum mismatch) is
        // CORRUPT metadata — degrade to the recount heal, exactly like
        // unparseable content; derived data must never fail a read
        case _: java.io.IOException => None
      }
  }

  private def writeLiveCountMeta(
      fs: org.apache.hadoop.fs.FileSystem, path: String, count: Long, upto: Long): Unit = {
    val tmp = new Path(s"$path/livecount_tmp")
    val out = fs.create(tmp, true)
    out.write(s"$count $upto".getBytes("UTF-8"))
    out.close()
    fs.delete(liveCountMetaPath(path), false)
    if (!fs.rename(tmp, liveCountMetaPath(path)))
      throw new java.io.IOException(s"live-count metadata rename failed at $path")
  }

  /** Highest `seg` stamped on any file of `p` (0 when the dir is
    * absent or pre-segment). A kilobyte-to-delta-scale read — these
    * dirs are tombstones and batch deltas, never the base.
    */
  private def maxSegIn(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem, p: Path): Long =
    if (!fs.exists(p)) 0L
    else {
      val df = spark.read.option("mergeSchema", "true").parquet(p.toString)
      if (!df.columns.contains("seg")) 0L
      else df.agg(max(col("seg"))).head() match {
        case r if r.isNullAt(0) => 0L
        case r => r.getLong(0)
      }
    }

  /** The mutation high-water mark the live-count metadata validates
    * against: max segment across the tombstone and batch-delta dirs —
    * exactly the writers that change the stored half of the count.
    * The streaming delta is deliberately absent (its contribution is
    * computed at read time), so a running ingest session never
    * invalidates the metadata.
    */
  private def liveCountToken(
      spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem, path: String): Long =
    math.max(
      maxSegIn(spark, fs, new Path(s"$path/tombstones")),
      maxSegIn(spark, fs, new Path(s"$path/codes_delta_batch")))

  /** Distinct vec_ids live ONLY via the streaming delta tier: rows in
    * `codes_delta` that survive the tombstone anti-join. Reads the
    * DELTA dir and the kilobyte tombstone set — never the base. Exact
    * under the streaming append face's documented contract (appended
    * ids are NEW to the index): an id that later moves to the batch
    * tiers via [[upsertAnnIndex]] is hidden here by the upsert's
    * higher-segment tombstone, so it is never double-counted.
    */
  private def streamingDeltaLiveCount(spark: SparkSession, path: String): Long = {
    val deltaPath = new Path(s"$path/codes_delta")
    val fs = deltaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(deltaPath)) 0L
    else {
      val delta = spark.read.option("mergeSchema", "true").parquet(deltaPath.toString)
      val rows =
        (if (delta.columns.contains("seg"))
           delta.withColumn("rseg", coalesce(col("seg"), lit(0L))).drop("seg")
         else delta.withColumn("rseg", lit(0L)))
          .select("vec_id", "rseg")
      val live = readAnnTombstones(spark, path) match {
        case Some(dead) =>
          val t = dead.select(col("vec_id").as("t_vec_id"), col("tseg"))
          rows.join(
            broadcast(t),
            rows("vec_id") === t("t_vec_id") && t("tseg") > rows("rseg"),
            "left_anti")
        case None => rows
      }
      live.select("vec_id").distinct().count()
    }
  }

  /** Recount the stored half of the live count from the batch tiers
    * and commit it with the current mutation token — the heal path
    * for absent/stale/corrupt metadata (a legacy index, or a writer
    * that crashed between its data write and its metadata update).
    * Skipped (count returned, nothing written) in the post-swap-crash
    * state, where readers ignore the delta/tombstone dirs that the
    * token summarizes — the next [[compactAnnIndex]] heals the swap
    * first.
    */
  private def refreshLiveCountMeta(spark: SparkSession, path: String): Long = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val postSwapCrash =
      fs.exists(new Path(s"$path/codes")) && fs.exists(new Path(s"$path/codes_old"))
    val token = liveCountToken(spark, fs, path)
    val c = readAnnIndexCodesTiers(spark, path, includeStreamingDelta = false)
      .select("vec_id").distinct().count()
    if (!postSwapCrash) writeLiveCountMeta(fs, path, c, token)
    c
  }

  /** EXACT number of distinct live vec_ids the IVF index serves —
    * [[readAnnIndexCodes]]`.select("vec_id").distinct().count()`
    * without the index scan: the stored metadata covers the batch
    * tiers (maintained by [[upsertAnnIndex]], [[deleteFromAnnIndex]],
    * [[compactAnnIndex]], [[rebuildAnnIndex]], and the write faces),
    * and the streaming tier's contribution is computed from the
    * delta dir at read time (small by construction between
    * compactions). On the trusted path the only reads are the
    * kilobyte metadata file, the tombstone set, and the delta dirs —
    * ZERO jobs touch the codes base (spec-pinned by hiding the base
    * dir). Absent, stale, or corrupt metadata degrades to one exact
    * recount that writes the metadata back — the legacy-index and
    * crashed-writer heal.
    *
    * Exactness contract: equal to the full recount on every
    * append/upsert/delete/compact/rebuild/crash state, PROVIDED the
    * streaming append face carries ids new to the index — its
    * documented semantics (a repeated-id streaming append is a data
    * bug first: two live copies of one id — before it is a counting
    * bug).
    */
  def annIndexLiveCount(spark: SparkSession, path: String): Long =
    annIndexLiveCount(spark, path, () => ())

  /** `onRecount` is a test seam: fires only when the stored metadata
    * could not be trusted and the batch tiers were recounted.
    */
  private[graft] def annIndexLiveCount(
      spark: SparkSession, path: String, onRecount: () => Unit): Long = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    guardRebuildState(fs, path)
    val postSwapCrash =
      fs.exists(new Path(s"$path/codes")) && fs.exists(new Path(s"$path/codes_old"))
    if (postSwapCrash) {
      // readers ignore the delta/tombstone dirs in this state, so the
      // token can't validate the metadata — count what readers see and
      // leave the heal to the next compact
      onRecount()
      readAnnIndexCodes(spark, path).select("vec_id").distinct().count()
    } else {
      val token = liveCountToken(spark, fs, path)
      val stored = readLiveCountMeta(fs, path) match {
        case Some((count, upto)) if upto == token => count
        case _ =>
          onRecount()
          refreshLiveCountMeta(spark, path)
      }
      stored + streamingDeltaLiveCount(spark, path)
    }
  }

  /** Finish or roll back a [[compactAnnIndex]] swap that crashed —
    * called by EVERY writer before it touches the delta/tombstone
    * dirs, so a post-crash index never accumulates new segments that
    * the post-swap read fallback (and the next compact's cleanup)
    * would treat as stale. Idempotent; a no-op on a healthy index.
    */
  private def repairCrashState(fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val base = new Path(s"$path/codes")
    val baseOld = new Path(s"$path/codes_old")
    if (fs.exists(baseOld)) {
      if (fs.exists(base)) {
        // post-swap crash: `codes` already folded delta−tombstones —
        // finish the cleanup the crashed run never reached (safe
        // because writers repair BEFORE appending, so these dirs can
        // only hold pre-crash segments)
        fs.delete(new Path(s"$path/codes_delta"), true)
        fs.delete(new Path(s"$path/codes_delta_batch"), true)
        fs.delete(new Path(s"$path/tombstones"), true)
        fs.delete(new Path(s"$path/segments"), true)
        fs.delete(baseOld, true)
      } else if (!fs.rename(baseOld, base))
        throw new java.io.IOException(s"recovery rename $baseOld -> $base failed")
    }
    ()
  }

  /** Allocate a fresh segment number: one past the largest segment any
    * tombstone/delta row OR allocation marker carries, claimed by an
    * atomic marker-file create under `segments/` so two concurrent
    * allocators (a delete racing a stream start, two upserts) can
    * never share a segment — shared segments would break the
    * strictly-greater anti-join's append-wins ordering. Metadata-scale
    * work: the data maxes are parquet-statistics aggregates, the
    * markers empty files.
    *
    * STORAGE CONTRACT: the uniqueness claim rests on
    * `fs.create(path, overwrite=false)` being an atomic
    * compare-and-create, which HDFS and local filesystems guarantee
    * but raw object stores (S3A without a metadata layer) do NOT —
    * S3A's create is not atomic and listings can lag, so two racing
    * allocators there could both "win" the same marker. Host the
    * index on a filesystem with atomic create-exclusive (HDFS, local,
    * ADLS Gen2, GCS with preconditions, or S3 behind a consistency
    * layer), or serialize writers externally. Single-writer
    * deployments are unaffected — the markers then only defend
    * against re-allocation after partial failures.
    */
  private def allocSeg(spark: SparkSession, path: String): Long = {
    val deltaPath = new Path(s"$path/codes_delta")
    val fs = deltaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    repairCrashState(fs, path)
    finishRebuildSwap(fs, path) // a crashed rebuild heals before any append
    val markers = new Path(s"$path/segments")
    val markerMax =
      if (!fs.exists(markers)) 0L
      else Option(fs.listStatus(markers)).getOrElse(Array.empty)
        .flatMap(s => s.getPath.getName.toLongOption).foldLeft(0L)(math.max)
    var seg = math.max(
      math.max(
        math.max(
          maxSegIn(spark, fs, deltaPath),
          maxSegIn(spark, fs, new Path(s"$path/codes_delta_batch"))),
        maxSegIn(spark, fs, new Path(s"$path/tombstones"))),
      markerMax) + 1L
    var claimed = false
    while (!claimed) {
      try {
        fs.create(new Path(markers, seg.toString), false).close()
        claimed = true
      } catch {
        case _: java.io.IOException if fs.exists(new Path(markers, seg.toString)) =>
          seg += 1L // lost the race — take the next number
      }
    }
    seg
  }

  /** The index's frozen encode metadata (centroids + packed codebook),
    * collected once — shared by the streaming append and the upsert
    * path, which must encode against identical geometry.
    */
  private def loadCentroids(
      spark: SparkSession, path: String): Array[(Long, Array[Float])] =
    spark.read.parquet(s"$path/centroids")
      .select("c_id", "ce").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  private def loadIndexMeta(
      spark: SparkSession,
      path: String): (Array[(Long, Array[Float])], Array[Array[Float]]) = {
    val cents = loadCentroids(spark, path)
    val cb = spark.read.parquet(s"$path/codebook").head()
      .getSeq[org.apache.spark.sql.Row](0)
      .sortBy(_.getLong(0)).map(_.getSeq[Float](1).toArray).toArray
    (cents, cb)
  }

  /** The index's encode kernel, layout-resolved: residual per-list
    * argmin when `books_residual/` is present, plain IVF-PQ
    * otherwise — metadata collected once, closed over; every ingest
    * face (stream append, upsert) encodes through this so a path's
    * layout decides, never the caller.
    */
  private def indexEncoder(
      spark: SparkSession, path: String): DataFrame => DataFrame =
    loadResidualBooks(spark, path) match {
      case Some(books) =>
        val cents = loadCentroids(spark, path)
        v => graft.operators.Ann.encodeResidualForIndex(v, cents, books)
      case None =>
        val (cents, cb) = loadIndexMeta(spark, path)
        v => graft.operators.Ann.encodeForIndex(v, cents, cb)
    }

  /** Delete vectors from the serving index by id — the takedown path
    * (a deduped or redacted document whose embedding must leave the
    * index). Deletes are TOMBSTONES: an append-only `(vec_id, seg)`
    * segment that every read anti-joins (broadcast — ids only), so a
    * delete is one kilobyte-scale write with no index rewrite;
    * [[compactAnnIndex]] physically drops tombstoned codes and retires
    * the segment. The tombstone's segment number is one past every
    * live row's, so it hides every EXISTING copy of the id — while
    * rows appended later at a higher segment ([[upsertAnnIndex]])
    * survive it, giving delete→re-ingest the intuitive append-wins
    * outcome without waiting for compaction.
    */
  def deleteFromAnnIndex(spark: SparkSession, path: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    deleteFromAnnIndex(spark, path, ids.toDF("vec_id"))
  }

  /** Bulk-delete overload: the id set stays a DISTRIBUTED frame (one
    * `vec_id` column), so a purge of millions of ids — a GDPR-scale
    * takedown — never funnels through driver memory the way the Seq
    * overload's argument does. Same tombstone mechanics; the write is
    * still a single compacted file because tombstones are read via
    * broadcast anti-join and must stay metadata-scale — a purge so
    * large that its ID SET doesn't fit one file should be a compaction
    * (rewrite the base minus the ids), not a tombstone.
    *
    * LIVE-COUNT MAINTENANCE: when the stored metadata is valid, the
    * delete pays one membership probe — the broadcast id set
    * semi-joined against the batch tiers' vec_id column (a
    * column-pruned scan, no shuffle of the base) — so
    * [[annIndexLiveCount]] stays exact without ever scanning on the
    * check path. The metadata write is LAST: a crash after the
    * tombstone but before it leaves a detectably-stale token that
    * heals by one recount.
    */
  def deleteFromAnnIndex(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    val seg = allocSeg(spark, path)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tokenBefore = liveCountToken(spark, fs, path)
    val metaBefore = readLiveCountMeta(fs, path)
    val idSet = ids.select(col("vec_id").cast("long").as("vec_id")).distinct()
    // how many of the ids are live in the batch tiers RIGHT NOW —
    // resolved before the tombstone lands (afterwards they all read
    // dead); None = stale/absent metadata, heal by recount below
    val gone = metaBefore match {
      case Some((_, upto)) if upto == tokenBefore =>
        Some(idSet.join(
          readAnnIndexCodesTiers(spark, path, includeStreamingDelta = false)
            .select("vec_id"),
          Seq("vec_id"), "left_semi").count())
      case _ => None
    }
    idSet
      .withColumn("seg", lit(seg))
      .coalesce(1)
      .write.mode("append").parquet(s"$path/tombstones")
    gone match {
      case Some(g) => writeLiveCountMeta(fs, path, metaBefore.get._1 - g, seg)
      case None => refreshLiveCountMeta(spark, path); ()
    }
  }

  /** UPSERT into the serving index: re-encode `vecs` against the
    * index's frozen metadata and make them the LIVE copy of their ids,
    * whether or not an older copy (base, delta, or tombstoned) exists.
    * Mechanics: one new segment number s; a tombstone at s (hides
    * every copy with segment < s) plus the re-encoded rows appended AT
    * s (strictly-greater anti-join lets same-segment rows through).
    * Crash order matters: the tombstone lands FIRST, so an interrupted
    * upsert degrades to a delete — re-running it completes the upsert;
    * the reverse order would leave two live copies answering queries.
    * Cost: two kilobyte-scale metadata reads (segment allocation), one
    * tombstone file, one delta append — no index rewrite, no shuffle
    * beyond the append's c_id partitioning — plus one live-count
    * membership probe (broadcast batch ids against the batch tiers'
    * vec_id column, column-pruned, no base shuffle), the price that
    * keeps [[annIndexLiveCount]] exact and the per-micro-batch cadence
    * check scan-free.
    *
    * Batch rows land in `codes_delta_batch`, NEVER in the streaming
    * sink's `codes_delta`: once a stream has written there, its
    * `_spark_metadata` log is the source of truth for that directory
    * and batch-appended files are silently invisible to reads — the
    * upserted rows would vanish while their tombstone still applied,
    * turning the upsert into a delete. Separate dirs let batch and
    * streaming writers interleave safely; compaction folds both.
    */
  def upsertAnnIndex(spark: SparkSession, path: String, vecs: DataFrame): Unit = {
    // ids stay DISTRIBUTED: a large re-ingest must not funnel its id
    // set through driver memory just to write a tombstone file
    val ids = vecs.select("vec_id").distinct()
    // one row per vec_id is the contract: duplicates within one call
    // land at the SAME segment, where the tombstone hides neither copy
    // — both would stay live forever, silently double-serving the id.
    // ONE batch-sized pass (count + count_distinct in a single
    // aggregate — this guard sits on the streaming cadence loop's
    // per-micro-batch hot path, where the previous two separate jobs
    // doubled the scan) buys a loud failure instead.
    val guard = vecs.agg(
      count(lit(1)).as("rows"),
      count_distinct(col("vec_id")).as("ids")).head()
    val nRows = guard.getLong(0)
    val nIds = guard.getLong(1)
    if (nRows != nIds)
      throw new IllegalArgumentException(
        s"upsert batch carries duplicate vec_ids ($nRows rows, $nIds distinct) — " +
          "collapse to one row per id before upserting")
    if (nIds == 0) return
    // allocSeg FIRST: it heals any crashed compaction/rebuild swap, so
    // the metadata loads below can never see half-swapped geometry and
    // encode against artifacts the heal is about to replace. The cost
    // of a later validation failure is one unused segment marker.
    val seg = allocSeg(spark, path)
    val cents = loadCentroids(spark, path)
    val encode = indexEncoder(spark, path)
    val rotation = loadRotation(spark, path)
    // VALIDATE BEFORE THE TOMBSTONE: the tombstone-first crash ordering
    // assumes a failed upsert is re-runnable to completion, but a batch
    // whose vectors don't fit the index geometry (wrong dimension vs
    // the rotation / centroids) fails the encode DETERMINISTICALLY —
    // re-running can never complete, so the tombstone would be a
    // permanent silent delete. One cheap pass over the (batch-sized)
    // upsert closes that window.
    val expectDim = rotation.map(_.length).getOrElse(cents.head._2.length)
    val badDims = vecs.select(size(col("embedding")).as("d")).distinct()
      .collect().map(_.getInt(0)).filter(_ != expectDim)
    if (badDims.nonEmpty)
      throw new IllegalArgumentException(
        s"upsert batch carries ${badDims.mkString(",")}-dim vectors; index expects $expectDim")
    // live-count maintenance: with valid metadata, one membership
    // probe (broadcast batch ids anti-joined against the batch tiers'
    // vec_id column — column-pruned, no base shuffle) resolves how
    // many ids are NEW before the tombstone hides their history; the
    // metadata write is last, so any crash in between heals by recount
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tokenBefore = liveCountToken(spark, fs, path)
    val metaBefore = readLiveCountMeta(fs, path)
    val newIds = metaBefore match {
      case Some((_, upto)) if upto == tokenBefore =>
        Some(ids.join(
          readAnnIndexCodesTiers(spark, path, includeStreamingDelta = false)
            .select("vec_id"),
          Seq("vec_id"), "left_anti").count())
      case _ => None
    }
    ids
      .withColumn("seg", lit(seg))
      .coalesce(1)
      .write.mode("append").parquet(s"$path/tombstones")
    val inSpace = rotation match {
      case Some(rot) => rotateFor(vecs, "vec_id", rot)
      case None => vecs
    }
    encode(inSpace)
      .withColumn("seg", lit(seg))
      .repartition(col("c_id"))
      .write.partitionBy("c_id").mode("append").parquet(s"$path/codes_delta_batch")
    newIds match {
      case Some(nw) => writeLiveCountMeta(fs, path, metaBefore.get._1 + nw, seg)
      case None => refreshLiveCountMeta(spark, path); ()
    }
  }

  /** Query the on-disk index: same probe/ADC/rank tail as the
    * in-memory [[graft.operators.Ann.ivfPqTopK]] (bit-identical
    * results — parquet round-trips floats and ints exactly), with the
    * broadcast probes join on the c_id PARTITION column so the codes
    * scan prunes to the probed lists' directories.
    */
  def readAnnIndexTopK(spark: SparkSession, path: String, queries: DataFrame): DataFrame = {
    // fail BEFORE touching any metadata artifact: a mid-rebuild index
    // could otherwise rotate queries through NEW geometry and rank
    // against OLD codes
    guardRebuildState(
      new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration), path)
    // a rotated index's geometry lives in rotated space: queries must
    // rotate through the SAME artifact the corpus encoded under
    val q = loadRotation(spark, path) match {
      case Some(rot) => rotateFor(queries, "q_id", rot)
      case None => queries
    }
    val booksPath = new Path(s"$path/books_residual")
    val fs = booksPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(booksPath))
      // residual layout: per-(query, probed list) dtables over the
      // query residual against that list's book — bit-identical to the
      // in-memory ivfPqResidualRank over the same geometry
      graft.operators.Ann.ivfPqResidualRankCodes(
        readAnnIndexCodes(spark, path),
        spark.read.parquet(s"$path/centroids"),
        spark.read.parquet(booksPath.toString),
        q)
    else
      graft.operators.Ann.ivfPqRank(
        readAnnIndexCodes(spark, path),
        spark.read.parquet(s"$path/centroids"),
        spark.read.parquet(s"$path/codebook"),
        q)
  }

  /** The probed lists' code rows, pruned by a literal c_id filter —
    * PartitionFilters in the scan, no other directory is opened.
    */
  def readAnnIndexLists(spark: SparkSession, path: String, cIds: Seq[Long]): DataFrame =
    readAnnIndexCodes(spark, path).filter(col("c_id").isin(cIds: _*))

  /** STREAMING index ingestion: new vectors append into the index's
    * delta segment in the same c_id-partitioned layout, encoded
    * against the index's FROZEN metadata (centroids + codebook
    * collected once at stream start and closed over in the stateless
    * [[graft.operators.Ann.encodeForIndex]] kernel — an ingest path
    * must never refit the geometry per batch, or codes stop being
    * comparable across the corpus). Exactly-once via the parquet sink
    * checkpoint; each micro-batch's rows land in their list's
    * directory.
    */
  def appendAnnIndex(
      vecs: DataFrame,
      path: String,
      checkpoint: String): StreamingQuery = {
    val spark = vecs.sparkSession
    // One segment number per ingest SESSION, allocated at stream
    // start: every row this stream appends outlives tombstones written
    // before the stream started, and dies to tombstones written after.
    // (Deletes issued WHILE the stream runs use a higher segment and
    // so also hide rows this stream appends later — a delete-during-
    // ingest is a takedown, and takedowns win.) Allocated BEFORE the
    // encoder closes over the frozen metadata: allocSeg heals any
    // crashed swap first, so the stream never freezes half-swapped
    // geometry.
    val seg = allocSeg(spark, path)
    val encode = indexEncoder(spark, path)
    graft.streaming.Streaming.localCheckpoints(spark)
    // the rotation artifact freezes with the rest of the metadata at
    // stream start; Ann.rotate is a stateless typed map, so it
    // composes with the streaming frame like the encode kernel does
    val inSpace = loadRotation(spark, path) match {
      case Some(rot) => rotateFor(vecs, "vec_id", rot)
      case None => vecs
    }
    encode(inSpace)
      .withColumn("seg", lit(seg))
      .writeStream
      .format("parquet")
      .option("path", s"$path/codes_delta")
      .option("checkpointLocation", checkpoint)
      .partitionBy("c_id")
      .outputMode("append")
      .start()
  }

  /** Fold the delta segment back into the base — the periodic
    * compaction every base+delta layout needs (each micro-batch adds a
    * file per touched list; left alone, file count grows with batch
    * count, the thing that kills object stores). The merged codes are
    * rewritten list-partitioned into a temp dir, then swapped in by
    * RENAME, never delete-then-rename: `codes`→`codes_old`,
    * `tmp`→`codes`, cleanup. Every crash point leaves a readable
    * index — before the first rename the old base+delta+tombstones are
    * untouched; between the renames `codes_old` is the base (and
    * [[readAnnIndexCodes]] falls back to it); after the second rename
    * the new base is live and the stale delta/tombstone segments are
    * ignored by readers until the next compact call finishes the
    * cleanup. The only non-atomicity left is the pair of metadata-only
    * rename ops — there is no window where data must be rewritten to
    * recover. Tombstoned rows are physically dropped by the rewrite
    * (the merge reads through [[readAnnIndexCodes]]' anti-join). Run
    * BETWEEN ingest sessions, and start the next ingest with a FRESH
    * checkpoint — the old checkpoint's sink metadata describes the
    * deleted delta files.
    */
  def compactAnnIndex(spark: SparkSession, path: String): Unit = {
    val base = new Path(s"$path/codes")
    val baseOld = new Path(s"$path/codes_old")
    val delta = new Path(s"$path/codes_delta")
    val deltaBatch = new Path(s"$path/codes_delta_batch")
    val tomb = new Path(s"$path/tombstones")
    val fs = delta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Finish or roll back a previous compaction that crashed mid-swap
    // (the same repair every writer runs before appending), then any
    // crashed REBUILD swap — compaction must fold into the geometry
    // that is actually current.
    repairCrashState(fs, path)
    finishRebuildSwap(fs, path)
    // Orphaned temp dirs from crashed runs are dead weight — drop them.
    Option(fs.globStatus(new Path(s"$path/codes_compact_*")))
      .getOrElse(Array.empty).foreach(s => fs.delete(s.getPath, true))
    if (!fs.exists(delta) && !fs.exists(deltaBatch) && !fs.exists(tomb)) return
    // the live-count metadata cannot describe both the pre- and
    // post-compact layouts (the fold moves streaming rows into the
    // stored half): retire it FIRST — any crash below leaves no
    // metadata, and the next count heals by one exact recount
    fs.delete(liveCountMetaPath(path), false)
    val tmp = new Path(s"$path/codes_compact_${java.util.UUID.randomUUID()}")
    try {
      readAnnIndexCodes(spark, path)
        .repartition(col("c_id"))
        .write.partitionBy("c_id").mode("overwrite").parquet(tmp.toString)
      if (!fs.rename(base, baseOld))
        throw new java.io.IOException(s"compaction rename $base -> $baseOld failed")
      if (!fs.rename(tmp, base))
        throw new java.io.IOException(s"compaction rename $tmp -> $base failed")
      fs.delete(delta, true)
      fs.delete(deltaBatch, true)
      fs.delete(tomb, true)
      fs.delete(new Path(s"$path/segments"), true)
      fs.delete(baseOld, true)
      // recommit the live count over the folded base (one column scan
      // of data this compact just rewrote — within its cost class)
      refreshLiveCountMeta(spark, path)
      ()
    } catch {
      case e: Throwable =>
        // Roll the swap back if it half-happened, then drop the temp.
        try {
          if (!fs.exists(base) && fs.exists(baseOld)) fs.rename(baseOld, base)
        } catch { case _: Throwable => () }
        try fs.delete(tmp, true) catch { case _: Throwable => () }
        throw e
    }
  }

  // ------------------------------------------------- ANN index rebuild
  /** Every artifact directory a rebuild may replace, in swap order —
    * metadata first, codes last, so the largest rename (and therefore
    * the widest crash window) carries the artifact whose absence
    * fails LOUDLY (a missing codes dir errors every read; mismatched
    * kilobyte metadata would fail silently).
    */
  private val RebuildArtifacts =
    Seq("centroids", "codebook", "books_residual", "rotation", "codes")

  /** Finish (roll forward) or abandon (roll back) a rebuild swap —
    * idempotent, called by [[rebuildAnnIndex]] itself and by every
    * ingest writer via [[allocSeg]], so a crashed rebuild never
    * strands the index. The `_STAGED` marker is the commit point:
    * present → the staged build is complete and the swap MUST finish
    * (each artifact's rename triple is re-entrant: live→old,
    * staged→live, drop old); absent → the staging is garbage and is
    * dropped, restoring any half-renamed artifact from its `_rb_old`.
    * Returns true when a staged rebuild was applied.
    */
  private[graft] def finishRebuildSwap(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Boolean = {
    val staging = new Path(s"$path/rebuild_staging")
    val marker = new Path(s"$path/rebuild_staging/_STAGED")
    def restoreOld(): Unit = RebuildArtifacts.foreach { a =>
      val live = new Path(s"$path/$a")
      val old = new Path(s"$path/${a}_rb_old")
      if (fs.exists(old)) {
        if (fs.exists(live)) fs.delete(old, true)
        else if (!fs.rename(old, live))
          throw new java.io.IOException(s"rebuild rollback rename $old -> $live failed")
      }
    }
    if (!fs.exists(staging)) {
      // no staging: only stale `_rb_old` leftovers can remain (a crash
      // right after an artifact swapped) — the live artifact exists,
      // so this just drops the dead copy
      restoreOld()
      false
    } else if (!fs.exists(marker)) {
      // incomplete staging = garbage from a crashed BUILD (no swap has
      // started; the marker is written strictly after every artifact)
      fs.delete(staging, true)
      restoreOld()
      false
    } else {
      RebuildArtifacts.foreach { a =>
        val live = new Path(s"$path/$a")
        val old = new Path(s"$path/${a}_rb_old")
        val staged = new Path(staging, a)
        if (fs.exists(staged)) {
          if (fs.exists(live)) {
            fs.delete(old, true) // stale old from an earlier crash point
            if (!fs.rename(live, old))
              throw new java.io.IOException(s"rebuild rename $live -> $old failed")
          }
          if (!fs.rename(staged, live))
            throw new java.io.IOException(s"rebuild rename $staged -> $live failed")
          fs.delete(old, true)
        } // staged absent: this artifact already swapped on a prior attempt
      }
      // the rebuild's input was base ∪ delta − tombstones, so every
      // delta/tombstone row is folded into the new base — and they
      // encode against the RETIRED geometry anyway
      Seq("codes_delta", "codes_delta_batch", "tombstones", "segments")
        .foreach(d => fs.delete(new Path(s"$path/$d"), true))
      // the staged write produced its own live-count metadata (count
      // over exactly the staged codes, token 0 — the post-swap state):
      // install it; if a pre-metadata staged build lacks one, retire
      // the live file instead (it describes the retired layout) and
      // the next count heals by recount
      val stagedLc = new Path(staging, "livecount")
      fs.delete(liveCountMetaPath(path), false)
      if (fs.exists(stagedLc)) {
        if (!fs.rename(stagedLc, liveCountMetaPath(path)))
          throw new java.io.IOException(s"rebuild livecount rename failed at $path")
      }
      fs.delete(staging, true)
      true
    }
  }

  /** Build the replacement index into `rebuild_staging/` WITHOUT
    * touching the live index: live vectors resolve through
    * [[readAnnIndexCodes]] (base ∪ delta − tombstones), geometry
    * refits from scratch in the layout the path already has
    * (rotation and/or residual books re-derive; their presence is the
    * layout marker), and the `_STAGED` commit marker lands strictly
    * after every artifact. Split from the swap so a crash between the
    * two is an explicitly tested state.
    */
  private[graft] def stageRebuild(
      spark: SparkSession, path: String, vecs: DataFrame): Unit = {
    import graft.operators.Ann
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staging = s"$path/rebuild_staging"
    fs.delete(new Path(staging), true)
    val liveIds = readAnnIndexCodes(spark, path).select("vec_id").distinct()
    val lv = graft.operators.CacheScope.persist(
      vecs.select(col("vec_id"), col("embedding")).join(liveIds, "vec_id"))
    // fail fast BEFORE any write: a vector source missing ids the
    // index holds would silently shrink the corpus on swap. Counted on
    // DISTINCT ids, with duplicates rejected separately — a raw row
    // count would let one duplicated id mask one missing id and pass
    // exactly the corruption this guard exists to stop.
    val nLive = liveIds.count()
    val nSrcRows = lv.count()
    val nSrc = lv.select("vec_id").distinct().count()
    if (nSrcRows != nSrc)
      throw new IllegalArgumentException(
        s"rebuildAnnIndex: vector source carries duplicate vec_ids " +
          s"($nSrcRows rows over $nSrc distinct live ids) — dedup the vector " +
          "table first; a rebuild must encode each id exactly once")
    if (nSrc != nLive)
      throw new IllegalArgumentException(
        s"rebuildAnnIndex: vector source covers $nSrc of $nLive live index ids — " +
          "pass the full current vector table (rebuild refits geometry from " +
          "raw vectors; codes are not invertible)")
    val hasRot = fs.exists(new Path(s"$path/rotation"))
    val hasRes = fs.exists(new Path(s"$path/books_residual"))
    (hasRot, hasRes) match {
      case (false, false) => writeAnnIndex(lv, staging)
      case (true, false) => writeAnnIndexRotated(lv, staging, Ann.pcaRotation(lv))
      case (false, true) => writeAnnIndexResidual(lv, staging)
      case (true, true) =>
        val rot = Ann.pcaRotation(lv)
        val rotated = Ann.rotate(lv, rot)
        val cents = Ann.firstKCentroids(rotated)
        val books = Ann.pqResidualCodebooks(Ann.ivfAssign(rotated, cents), cents)
        writeAnnIndexResidualRotated(lv, staging, rot, books)
    }
    fs.create(new Path(s"$staging/_STAGED"), true).close()
  }

  /** REBUILD the serving index: refit centroids / codebooks / rotation
    * on the CURRENT live vector set and swap the result in atomically
    * — the remediation path when [[graft.operators.Ann.recallReport]]
    * shows the frozen geometry has drifted from the corpus it now
    * serves. [[compactAnnIndex]] deliberately never refits (ingest
    * must encode against frozen geometry); rebuild is the lifecycle
    * step that un-freezes it.
    *
    * `vecs` is the source-of-truth vector table (`vec_id, embedding`)
    * — quantized codes are not invertible, so a rebuild needs the raw
    * vectors; ids the index doesn't hold are ignored, ids it holds
    * but `vecs` lacks fail fast before any mutation. The swap is the
    * rename discipline [[compactDedupBase]] established: stage →
    * commit marker → per-artifact rename triples, each crash point
    * either rolled forward (marker present) or rolled back (absent)
    * by the NEXT writer touching the index ([[allocSeg]] repairs, so
    * appends/upserts/deletes self-heal; readers between a crash and
    * the repair detect the in-flight swap — the `_STAGED` marker or
    * any `_rb_old` leftover — and fail loudly via `guardRebuildState`,
    * never silently serving mixed geometry). Run between ingest
    * sessions, like
    * compaction: a stream appending DURING the swap would encode
    * against retired geometry.
    */
  def rebuildAnnIndex(spark: SparkSession, path: String, vecs: DataFrame): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    repairCrashState(fs, path)
    // a crashed earlier rebuild first completes or rolls back — THEN
    // this rebuild runs on the repaired index, so the caller always
    // gets a rebuild against the state they observed
    finishRebuildSwap(fs, path)
    stageRebuild(spark, path, vecs)
    finishRebuildSwap(fs, path)
    ()
  }
}
