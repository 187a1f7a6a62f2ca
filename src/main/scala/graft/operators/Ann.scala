package graft.operators

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`).
  *
  * Two paths, as a 100 TB pipeline needs:
  *
  *   - [[cosineTopK]]: brute-force baseline — a SMALL query set
  *     (broadcast) against the full corpus. Never corpus × corpus: the
  *     broadcast join streams the big side once, no shuffle.
  *   - [[lshTopK]]: the scale path — random-hyperplane LSH buckets the
  *     corpus (one shuffle by bucket id), and each query only scores its
  *     own bucket. Hyperplane weights are md5-derived (±1 per (plane,
  *     dim)), so the DuckDB oracle regenerates the identical planes.
  *
  * All float math is widened to double and folded left in array-index
  * order — both Spark's `aggregate` and DuckDB's `list_sum` are strict
  * left folds, so cosines match bit-for-bit.
  */
object Ann {

  /** Queries = every 50th vector (10 at sf0.01) — stands in for the
    * "small probe set vs big corpus" shape.
    */
  val QueryMod = 50
  val K = 5
  val Planes = 8

  /** Dot products run through [[graft.functions.FloatDot]] — a native
    * codegen'd expression, bit-identical to the built-in
    * `aggregate(zip_with(...))` left fold it replaced (same widen-to-
    * double, same accumulation order, same null semantics) but compiled
    * to a tight loop instead of per-element lambda interpretation.
    */
  private val dotExpr = "float_dot(qe, embedding)"

  private val normExpr = "sqrt(float_dot(embedding, embedding))"

  private def withNorm(emb: DataFrame): DataFrame = {
    graft.functions.FloatDot.register(emb.sparkSession)
    emb.withColumn("norm", expr(normExpr))
  }

  private def topK(scoredPairs: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("cos_raw").desc, col("vec_id"))
    scoredPairs
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select(col("q_id"), col("rn"), col("vec_id"), round(col("cos_raw"), 6).as("cos"))
  }

  /** The fixture query set: every QueryMod-th corpus vector, as a
    * (q_id, embedding) frame. Registry/oracle queries use this (the
    * DuckDB twin replays the same `% 50`); production callers pass
    * their own query table to the two-argument overloads — a fixture
    * derived from the corpus would otherwise grow linearly with it.
    */
  def defaultQueries(emb: DataFrame): DataFrame =
    emb
      .filter(col("vec_id") % QueryMod === 0)
      .select(col("vec_id").as("q_id"), col("embedding"))

  /** (q_id, embedding) -> (q_id, qe, qnorm) probe side. */
  private def probeSide(queries: DataFrame): DataFrame =
    withNorm(queries.select(col("q_id"), col("embedding")))
      .select(col("q_id"), col("embedding").as("qe"), col("norm").as("qnorm"))

  /** Brute-force cosine top-K: broadcast query set vs full corpus.
    * `queries` must carry (q_id, embedding); self-matches (a corpus row
    * with vec_id == q_id) are excluded.
    */
  def cosineTopK(emb: DataFrame): DataFrame = cosineTopK(emb, defaultQueries(emb))

  def cosineTopK(emb: DataFrame, queries: DataFrame): DataFrame = {
    val corpus = withNorm(emb)
    val scored = corpus
      .join(broadcast(probeSide(queries)), col("q_id") =!= col("vec_id"))
      .withColumn("cos_raw", expr(dotExpr) / (col("qnorm") * col("norm")))
    topK(scored)
  }

  /** Label-filtered vector search: each query retrieves its top-K
    * among corpus vectors sharing its label — the "filtered ANN" every
    * serving stack needs (metadata predicate AND vector similarity in
    * one query). The filter rides the broadcast-join CONDITION, so
    * non-matching corpus rows drop before any distance math, and a
    * label-partitioned corpus layout would prune at the scan; the
    * general predicate form is a caller-side `emb.filter(...)` into
    * [[cosineTopK]] — this entry pins the per-query (label equality)
    * shape, which no pre-filter can express.
    */
  def cosineTopKFiltered(emb: DataFrame): DataFrame = {
    val q = withNorm(emb.filter(col("vec_id") % QueryMod === 0))
      .select(
        col("vec_id").as("q_id"),
        col("embedding").as("qe"),
        col("norm").as("qnorm"),
        col("label").as("q_label"))
    val scored = withNorm(emb)
      .join(broadcast(q), col("q_id") =!= col("vec_id") && col("label") === col("q_label"))
      .withColumn("cos_raw", expr(dotExpr) / (col("qnorm") * col("norm")))
    topK(scored)
  }

  /** Cosine threshold for [[rangeSearch]] (≈2σ above isotropic noise
    * at 64 dims, so matches are sparse but non-vacuous on the sf
    * corpora).
    */
  val RangeTau = 0.25

  /** Range search — the threshold companion to top-K: every corpus
    * vector with cosine ≥ [[RangeTau]] of each query, however many
    * there are (the "all sufficiently similar" read a near-dup audit
    * or a recall sweep wants, where a fixed K would truncate). Cheaper
    * than top-K at the plan level: the threshold filters the scored
    * stream directly — no per-query rank window at all.
    *
    * Scale shape: identical to the brute top-K spine (broadcast query
    * set, never corpus×corpus); the banded signature path bounds
    * candidates the same way when the query set grows.
    */
  def rangeSearch(emb: DataFrame): DataFrame = rangeSearch(emb, defaultQueries(emb))

  def rangeSearch(emb: DataFrame, queries: DataFrame): DataFrame =
    withNorm(emb)
      .join(broadcast(probeSide(queries)), col("q_id") =!= col("vec_id"))
      .withColumn("cos_raw", expr(dotExpr) / (col("qnorm") * col("norm")))
      .filter(col("cos_raw") >= RangeTau)
      .select(col("q_id"), col("vec_id"), round(col("cos_raw"), 6).as("cos"))

  /** Cosine at or above which a training vector counts as a semantic
    * copy of a benchmark item.
    */
  val EmbContamCosFp = 900000000L // 0.9 in 1e-9 fixed point

  /** SEMANTIC decontamination — the embedding-space face of
    * [[graft.operators.Corpus.decontaminate]]'s n-gram overlap check:
    * flag training vectors whose max cosine against ANY benchmark
    * vector reaches [[EmbContamCosFp]] (paraphrases and translations
    * that shingle overlap misses). The stand-in benchmark set is every
    * [[graft.operators.Corpus.BenchmarkMod]]-th vec_id, mirroring the
    * text-side stand-in; a real eval suite joins in as its own frame
    * via the second overload.
    *
    * Determinism: each pairwise cosine quantizes to a 1e-9 fixed-point
    * BIGINT before the per-vector max — integer max is order-free, so
    * partitioning cannot change the hash. Scale shape: the benchmark
    * side is small BY NATURE (eval suites, not corpora) and
    * broadcasts, exactly like decontaminate's shingle set; the corpus
    * pays one scan and a vec_id-keyed max with map-side combine — no
    * corpus shuffle, no corpus×corpus pair. If the benchmark set ever
    * grows past broadcast size, the banded-LSH screen ([[embNearDup]]'s
    * machinery) prunes candidates first.
    */
  def embDecontaminate(emb: DataFrame): DataFrame = {
    val bench = emb.filter(col("vec_id") % graft.operators.Corpus.BenchmarkMod === 0)
    embDecontaminate(emb.filter(col("vec_id") % graft.operators.Corpus.BenchmarkMod =!= 0), bench)
  }

  /** Collect the benchmark side as kernel metadata: id-sorted vectors
    * and their norms — the [[pqEncode]] broadcast-constant pattern.
    * A zero-norm BENCHMARK vector is a curation bug (cosine against
    * it is undefined for every corpus row) — fail fast with the id,
    * not a NaN-induced NumberFormatException deep inside an executor.
    */
  private[graft] def collectBench(bench: DataFrame): (Array[Array[Float]], Array[Double]) = {
    val benchCollected = bench.select(col("vec_id"), col("embedding"))
      .collect().sortBy(_.getLong(0))
    val benchRows = benchCollected.map(_.getSeq[Float](1).toArray)
    require(benchRows.nonEmpty, "benchmark set is empty")
    val bnorm: Array[Double] = benchRows.map { be =>
      var acc = 0.0; var j = 0
      while (j < be.length) { acc += be(j).toDouble * be(j).toDouble; j += 1 }
      math.sqrt(acc)
    }
    bnorm.indices.find(bnorm(_) == 0.0).foreach { i =>
      throw new IllegalArgumentException(
        s"benchmark vec_id ${benchCollected(i).getLong(0)} has zero norm; " +
          "cosine against it is undefined")
    }
    (benchRows, bnorm)
  }

  /** The per-vector semantic-contamination kernel: max fixed-point
    * cosine of `v` against the benchmark set. Each cosine replays the
    * declarative form exactly — strict index-ascending widen-to-double
    * dot (float_dot's fold), /(bnorm · norm), ×1e9, then Spark
    * round()'s BigDecimal HALF_UP — so the DuckDB twin hash-matches
    * either formulation; cosine against a zero-norm CORPUS vector is
    * defined as 0 (no direction, no similarity), the same CASE the
    * twin carries. Shared verbatim by the batch operator and the
    * ingest-time stream ([[graft.streaming.Streaming
    * .embDecontaminateStream]]).
    */
  private[graft] def embContamFp(
      v: Array[Float],
      benchRows: Array[Array[Float]],
      bnorm: Array[Double]): Long = {
    var vn = 0.0
    var j = 0
    while (j < v.length) { vn += v(j).toDouble * v(j).toDouble; j += 1 }
    val norm = math.sqrt(vn)
    var best = Long.MinValue
    var k = 0
    while (k < benchRows.length) {
      val fp =
        if (norm == 0.0) 0L
        else {
          val be = benchRows(k)
          var dot = 0.0
          var j2 = 0
          while (j2 < v.length) { dot += be(j2).toDouble * v(j2).toDouble; j2 += 1 }
          java.math.BigDecimal.valueOf(dot / (bnorm(k) * norm) * 1000000000.0)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
        }
      if (fp > best) best = fp
      k += 1
    }
    best
  }

  def embDecontaminate(corpus: DataFrame, bench: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // The benchmark set is INDEX METADATA (an eval suite, kilobytes to
    // megabytes — not a corpus): collect and close over it. The
    // per-row kernel runs |bench| tight compiled dot loops instead of
    // materializing |corpus| × |bench| joined rows through a broadcast
    // nested-loop join — measured ~20× on the 50k × 1000 scale probe.
    val (benchRows, bnorm) = collectBench(bench)
    val nb = benchRows.length
    corpus.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        (id, nb.toLong, embContamFp(v, benchRows, bnorm))
      })
      .toDF("vec_id", "n_bench", "max_cos_fp")
      .select(
        col("vec_id"),
        col("n_bench"),
        col("max_cos_fp"),
        round(col("max_cos_fp").cast("double") / 1e9, 6).as("max_cos"),
        (col("max_cos_fp") >= EmbContamCosFp).as("contaminated"))
  }

  /** Deterministic ±1 hyperplane weights: +1 iff the first hex digit of
    * md5(s"$plane_$dim") is even — identical derivation in the oracle
    * SQL, so buckets agree bit-for-bit.
    */
  def planeWeights: Seq[Seq[Double]] = planeWeightsN(Planes)

  /** [[planeWeights]] for the first `n` plane indices — the near-dup
    * banding draws 64 planes from the same md5 stream, so plane p is
    * identical wherever it appears.
    */
  def planeWeightsN(n: Int): Seq[Seq[Double]] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until n).map { p =>
      (0 until 64).map { d =>
        md.reset()
        val hex = md.digest(s"${p}_$d".getBytes(StandardCharsets.UTF_8))
        val firstNibble = (hex(0) >> 4) & 0xf
        if (firstNibble % 2 == 0) 1.0 else -1.0
      }
    }
  }

  /** Bucket id = 8 sign bits of the plane dot products. Planes carry
    * ±1.0 weights — exact in float — so storing them as ARRAY<FLOAT> and
    * dotting with the native [[graft.functions.FloatDot]] is bit-equal
    * to the old double-weight zip_with fold, with only the 8-iteration
    * outer loop left to the interpreted HOF.
    */
  def withBucket(emb: DataFrame): DataFrame = {
    graft.functions.FloatDot.register(emb.sparkSession)
    val planes = typedLit(planeWeights.map(_.map(_.toFloat)))
    emb
      .withColumn("planes", planes)
      .withColumn(
        "bucket",
        expr(
          """aggregate(sequence(0, 7), CAST(0 AS BIGINT), (acc, p) ->
            |  acc + CASE WHEN float_dot(element_at(planes, p + 1), embedding) >= 0
            |  THEN shiftleft(CAST(1 AS BIGINT), p) ELSE CAST(0 AS BIGINT) END)""".stripMargin))
      .drop("planes")
  }

  /** LSH-bucketed cosine top-K: queries only score vectors in their own
    * bucket — the join is keyed by bucket id, never all-pairs.
    */
  def lshTopK(emb: DataFrame): DataFrame = lshTopK(emb, defaultQueries(emb))

  def lshTopK(emb: DataFrame, queries: DataFrame): DataFrame = {
    val corpus = withBucket(withNorm(emb))
    val probes = withBucket(probeSide(queries).withColumnRenamed("qe", "embedding"))
      .withColumnRenamed("embedding", "qe")
    val scored = corpus
      .join(probes, Seq("bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos_raw", expr(dotExpr) / (col("qnorm") * col("norm")))
    topK(scored)
  }

  /** IVF: coarse-quantize the corpus into K inverted lists, probe the
    * NProbe nearest lists per query. The third scale path — what disk
    * vector indexes do. Centroids are the first K corpus vectors (a
    * deterministic stand-in for a trained k-means codebook: swapping in
    * learned centroids changes only the `centroids` frame).
    */
  val IvfK = 16
  val NProbe = 2

  private def dot(a: String, b: String): String = s"float_dot($a, $b)"

  /** Deterministic stand-in codebook: the first K corpus vectors as
    * (c_id, ce, cnorm) — replayable by the DuckDB oracle. A trained
    * codebook ([[kmeansCentroids]]) slots into the same overloads.
    */
  def firstKCentroids(emb: DataFrame): DataFrame =
    withNorm(emb)
      .filter(col("vec_id") < IvfK)
      .select(col("vec_id").as("c_id"), col("embedding").as("ce"), col("norm").as("cnorm"))

  /** MLlib-trained codebook: k-means cluster centers over the corpus
    * embeddings (fixed seed), shaped like [[firstKCentroids]]. The
    * model fit is one MLlib job; the K centers come back to the driver
    * (K vectors, not data) and broadcast into the assignment join.
    */
  def kmeansCentroids(emb: DataFrame, k: Int = IvfK): DataFrame = {
    graft.functions.FloatDot.register(emb.sparkSession)
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val feats = emb.select(
      col("vec_id"),
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    // cosine k-means: the index assigns vectors to lists by cosine
    // ([[ivfAssign]]), so the codebook must be trained under the same
    // geometry — Euclidean centers over unnormalized vectors put a
    // query's true cosine neighbors in other lists and crater recall
    val model = new KMeans()
      .setK(k).setSeed(42L).setMaxIter(20).setDistanceMeasure("cosine")
      .fit(feats)
    val spark = emb.sparkSession
    import spark.implicits._
    model.clusterCenters.toSeq.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toArray.map(_.toFloat)) }
      .toDF("c_id", "ce")
      .withColumn("cnorm", expr("sqrt(float_dot(ce, ce))"))
  }

  /** Nearest-centroid assignment (ties -> smaller centroid id). */
  def ivfAssign(emb: DataFrame): DataFrame = ivfAssign(emb, firstKCentroids(emb))

  def ivfAssign(emb: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("ccos").desc, col("c_id"))
    withNorm(emb)
      .crossJoin(broadcast(cents))
      .withColumn("ccos", expr(dot("embedding", "ce")) / (col("norm") * col("cnorm")))
      .withColumn("arn", row_number().over(w))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("embedding"), col("norm"), col("c_id"))
  }

  /** IVF top-K: queries probe their NProbe nearest lists only. */
  def ivfTopK(emb: DataFrame): DataFrame =
    ivfTopK(emb, defaultQueries(emb), firstKCentroids(emb))

  def ivfTopK(emb: DataFrame, queries: DataFrame, cents: DataFrame): DataFrame = {
    val lists = ivfAssign(emb, cents)
    val wq = Window.partitionBy("q_id").orderBy(col("ccos").desc, col("c_id"))
    val probes = probeSide(queries)
      .crossJoin(broadcast(cents))
      .withColumn("ccos", expr(dot("qe", "ce")) / (col("qnorm") * col("cnorm")))
      .withColumn("qrn", row_number().over(wq))
      .filter(col("qrn") <= NProbe)
      .select(col("q_id"), col("qe"), col("qnorm"), col("c_id"))
    val scored = probes
      .join(lists, Seq("c_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("cos_raw", expr(dot("qe", "embedding")) / (col("qnorm") * col("norm")))
    topK(scored)
  }

  /** IVF-PQ top-K: the two scale mechanisms composed the way a disk
    * vector index lays them out — the coarse quantizer prunes the
    * candidate set to the NProbe nearest inverted lists, and the ADC
    * table-lookup scan ranks ONLY those lists' codes. Per query the
    * scan touches ~NProbe/IvfK of the corpus codes and does no float
    * math against it; the rerank pattern ([[pqRerankTopKIndexed]])
    * composes on top the same way when exact order matters.
    * (Codes are over raw vectors, not list residuals — residual
    * encoding sharpens distances but needs a per-list codebook; the
    * stand-in keeps one oracle-replayable codebook.)
    */
  def ivfPqTopK(emb: DataFrame): DataFrame = ivfPqTopK(emb, defaultQueries(emb))

  def ivfPqTopK(emb: DataFrame, queries: DataFrame): DataFrame = {
    val codebook = pqCodebook(emb)
    val cents = firstKCentroids(emb)
    val codes = pqEncode(emb, codebook)
      .join(ivfAssign(emb, cents).select("vec_id", "c_id"), "vec_id")
    ivfPqRank(codes, cents, codebook, queries)
  }

  /** The IVF-PQ probe/ADC/rank tail over an already-built index —
    * (vec_id, codes, c_id) rows plus centroid and codebook metadata.
    * [[ivfPqTopK]] feeds it in-memory frames;
    * [[graft.sinks.Sinks.readAnnIndexTopK]] feeds it the parquet
    * serving layout, where the same broadcast join on c_id lets the
    * scan prune to the probed lists' partition directories.
    */
  def ivfPqRank(
      codes: DataFrame,
      cents: DataFrame,
      codebook: DataFrame,
      queries: DataFrame): DataFrame = {
    val wq = Window.partitionBy("q_id").orderBy(col("ccos").desc, col("c_id"))
    val probeLists = probeSide(queries)
      .crossJoin(broadcast(cents))
      .withColumn("ccos", expr(dot("qe", "ce")) / (col("qnorm") * col("cnorm")))
      .withColumn("qrn", row_number().over(wq))
      .filter(col("qrn") <= NProbe)
      .select(col("q_id"), col("c_id"))
    val probes = probeLists.join(pqProbes(codebook, queries), "q_id")
    val w = Window.partitionBy("q_id").orderBy(col("dist_q").asc, col("vec_id"))
    codes
      .join(broadcast(probes), Seq("c_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("dist_q", expr(
        (0 until PqM).map(m => s"dtable[$m][codes[$m]]").mkString(" + ")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select(
        col("q_id"),
        col("rn"),
        col("vec_id"),
        round(col("dist_q").cast("double") / PqFix, 6).as("dist"))
  }

  /** Assign + encode against FROZEN index metadata (centroids +
    * codebook closed over as driver-side arrays) — one stateless
    * compiled kernel per row, usable on a STREAMING Dataset (windows
    * and aggregates are not; and an ingest path must encode against
    * the index's frozen geometry anyway, not refit it per batch).
    * Assignment replays [[ivfAssign]] bit-for-bit: the cosine is the
    * same strict index-order widen-to-double fold as `float_dot`, ties
    * to the smaller c_id; codes replay [[pqEncode]]'s `c.c − 2 v.c`
    * argmin.
    */
  def encodeForIndex(
      vecs: DataFrame,
      cents: Array[(Long, Array[Float])],
      cb: Array[Array[Float]]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    require(cents.nonEmpty && cb.nonEmpty, "index metadata must be non-empty")
    val (pm, pk, ps) = (PqM, cb.length, PqSub)
    val sorted = cents.sortBy(_._1)
    vecs.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cnorm = sorted.map { case (_, ce) =>
          var acc = 0.0; var j = 0
          while (j < ce.length) { acc += ce(j).toDouble * ce(j).toDouble; j += 1 }
          math.sqrt(acc)
        }
        val cc = Array.tabulate(pm, pk) { (m, k) =>
          var acc = 0.0; var j = 0
          while (j < ps) { val x = cb(k)(m * ps + j).toDouble; acc += x * x; j += 1 }
          acc
        }
        rows.map { case (id, v) =>
          var vn = 0.0
          var j = 0
          while (j < v.length) { vn += v(j).toDouble * v(j).toDouble; j += 1 }
          val norm = math.sqrt(vn)
          var bestC = 0
          var bestCos = Double.NegativeInfinity
          var ci = 0
          while (ci < sorted.length) {
            val ce = sorted(ci)._2
            var d = 0.0; var j2 = 0
            while (j2 < v.length) { d += v(j2).toDouble * ce(j2).toDouble; j2 += 1 }
            val cos = d / (norm * cnorm(ci))
            if (cos > bestCos) { bestCos = cos; bestC = ci } // strict >: ties keep smaller c_id
            ci += 1
          }
          val codes = new Array[Int](pm)
          var m = 0
          while (m < pm) {
            var best = 0
            var bestD = Double.PositiveInfinity
            var k = 0
            while (k < pk) {
              var dot2 = 0.0; var j3 = 0
              while (j3 < ps) { dot2 += v(m * ps + j3).toDouble * cb(k)(m * ps + j3).toDouble; j3 += 1 }
              val d = cc(m)(k) - 2.0 * dot2
              if (d < bestD) { bestD = d; best = k }
              k += 1
            }
            codes(m) = best
            m += 1
          }
          (id, codes, sorted(bestC)._1)
        }
      }
      .toDF("vec_id", "codes", "c_id")
  }

  /** [[encodeForIndex]] for a RESIDUAL index: assign each vector to
    * its nearest coarse centroid (cosine argmax, ties to the smaller
    * c_id — identical to [[encodeForIndex]] and [[ivfAssign]]), then
    * argmin-code the residual v − centroid against the OWN list's
    * book ([[pqEncodeResidual]]'s `c.c − 2 v.c` key, ties to the
    * smaller k). The ingest kernel of a residual serving index:
    * streamed appends and upserts must encode against the index's
    * frozen per-list geometry exactly as the build did.
    */
  def encodeResidualForIndex(
      vecs: DataFrame,
      cents: Array[(Long, Array[Float])],
      books: Map[Long, Array[Array[Float]]]): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    require(cents.nonEmpty && books.nonEmpty, "index metadata must be non-empty")
    val (pm, ps) = (PqM, PqSub)
    // Assign only among centroids that HAVE a residual codebook: a list
    // empty at build time (e.g. duplicate seed vectors) has no book, and
    // an upsert landing there must fall back to the nearest book-holding
    // centroid rather than fail the whole ingest job on a missing key.
    val sorted = cents.sortBy(_._1).filter { case (cId, _) => books.contains(cId) }
    require(sorted.nonEmpty, "no centroid has a residual codebook")
    vecs.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val cnorm = sorted.map { case (_, ce) =>
          var acc = 0.0; var j = 0
          while (j < ce.length) { acc += ce(j).toDouble * ce(j).toDouble; j += 1 }
          math.sqrt(acc)
        }
        // per-list centroid self-dots are constant: hoist per partition
        val cc: Map[Long, Array[Array[Double]]] = books.map { case (c, cb) =>
          c -> Array.tabulate(pm, cb.length) { (m, k) =>
            var acc = 0.0; var j = 0
            while (j < ps) { val x = cb(k)(m * ps + j).toDouble; acc += x * x; j += 1 }
            acc
          }
        }
        rows.map { case (id, v) =>
          var vn = 0.0
          var j = 0
          while (j < v.length) { vn += v(j).toDouble * v(j).toDouble; j += 1 }
          val norm = math.sqrt(vn)
          var bestC = 0
          var bestCos = Double.NegativeInfinity
          var ci = 0
          while (ci < sorted.length) {
            val ce = sorted(ci)._2
            var d = 0.0; var j2 = 0
            while (j2 < v.length) { d += v(j2).toDouble * ce(j2).toDouble; j2 += 1 }
            val cos = d / (norm * cnorm(ci))
            if (cos > bestCos) { bestCos = cos; bestC = ci } // strict >: ties keep smaller c_id
            ci += 1
          }
          val cId = sorted(bestC)._1
          val ce = sorted(bestC)._2
          val cb = books(cId)
          val ccm = cc(cId)
          val r = new Array[Float](v.length)
          var jr = 0
          while (jr < v.length) { r(jr) = v(jr) - ce(jr); jr += 1 }
          val codes = new Array[Int](pm)
          var m = 0
          while (m < pm) {
            var best = 0
            var bestD = Double.PositiveInfinity
            var k = 0
            while (k < cb.length) {
              var vc = 0.0; var j3 = 0
              while (j3 < ps) { vc += r(m * ps + j3).toDouble * cb(k)(m * ps + j3).toDouble; j3 += 1 }
              val d = ccm(m)(k) - 2.0 * vc
              if (d < bestD) { bestD = d; best = k } // strict <: ties keep the smaller k
              k += 1
            }
            codes(m) = best
            m += 1
          }
          (id, codes, cId)
        }
      }
      .toDF("vec_id", "codes", "c_id")
  }

  // --------------------------------------------- residual (per-list) PQ
  /** Per-list RESIDUAL codebooks: each inverted list quantizes v −
    * centroid instead of the raw vector. Residuals are what make IVF-PQ
    * distances sharp at high compression — the coarse quantizer already
    * explains the between-list variance, so the 4-bit codes spend their
    * budget on the within-list detail a shared raw codebook wastes on
    * list offsets. Stand-in derivation (the [[firstKCentroids]]
    * pattern): each list's codebook is the residuals of its first
    * [[PqK]] members by vec_id, code = rank position — deterministic,
    * so the DuckDB twin replays it and the row hash-matches; a trained
    * per-list KMeans slots into the same (c_id, k, cb) shape.
    *
    * Residual elements are FLOAT subtraction (`x - y` on float is IEEE
    * on both engines), so the residual arrays are bit-identical across
    * engines before any double math starts.
    */
  def pqResidualCodebooks(lists: DataFrame, cents: DataFrame): DataFrame = {
    val w = Window.partitionBy("c_id").orderBy("vec_id")
    lists
      .join(broadcast(cents.select(col("c_id"), col("ce"))), "c_id")
      .withColumn("rv", expr("zip_with(embedding, ce, (x, y) -> x - y)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= PqK)
      .select(col("c_id"), (col("rn") - 1).cast("int").as("k"), col("rv").as("cb"))
  }

  /** Lloyd rounds for [[pqResidualCodebooksTrained]]. */
  val ResidualTrainIters = 5

  /** TRAINED per-list residual codebooks — all IvfK × PqM books fit
    * SIMULTANEOUSLY by distributed Lloyd iterations (where a
    * driver-side trainer would run 128 separate k-means jobs, this
    * runs `iters` Spark jobs total, each assigning every residual
    * subvector to its (list, subspace) book's nearest centroid and
    * re-averaging — the shape that trains any number of lists on any
    * corpus size in bounded passes).
    *
    * Init is the deterministic stand-in ([[pqResidualCodebooks]]), so
    * every Lloyd round can only LOWER each book's SSE — trained ≤
    * stand-in distortion by construction (spec-pinned). Centroid
    * updates are 1e-6 fixed-point means (exact, order-free integer
    * sums — the [[labelCentroids]] pattern) and argmin ties break to
    * the smaller k, so the whole fit is bit-deterministic across runs
    * and partitionings. Empty cells keep their previous centroid.
    * Per round the state that moves is (IvfK · PqM · k) centroids —
    * index metadata collected to the driver and re-broadcast, never
    * corpus-sized.
    */
  /** Residual subvectors exploded once per subspace (row count =
    * N·PqM) — the shared training frame for [[pqResidualCodebooksTrained]]
    * and [[pqResidualTrainCurve]].
    */
  private def residualSubvectors(lists: DataFrame, cents: DataFrame): DataFrame =
    CacheScope.persist(
      lists
        .join(broadcast(cents.select(col("c_id"), col("ce"))), "c_id")
        .withColumn("rv", expr("zip_with(embedding, ce, (x, y) -> x - y)"))
        .select(
          col("vec_id"),
          col("c_id"),
          posexplode(expr(
            s"transform(sequence(0, ${PqM - 1}), m -> slice(rv, m * $PqSub + 1, $PqSub))"))
            .as(Seq("m", "rvm"))))

  // unrolled 8-term squared L2 — stays inside whole-stage codegen
  // (an aggregate() fold would interpret 16 lambdas per candidate)
  // lazy: PqSub is declared later in this object — an eager val here
  // would initialize from PqSub=0 and build an empty expression
  private lazy val ResidualD2 = (0 until PqSub)
    .map(j => s"pow(CAST(rvm[$j] AS DOUBLE) - CAST(cb[$j] AS DOUBLE), 2)")
    .mkString(" + ")

  /** Stand-in books as the (list, subspace, k) -> 8-dim centroid map
    * Lloyd iterates over.
    */
  private def residualInitCenters(
      lists: DataFrame,
      cents: DataFrame): Map[(Long, Int, Int), Array[Float]] =
    pqResidualCodebooks(lists, cents).collect().flatMap { r =>
      val c = r.getLong(0); val k = r.getInt(1)
      val cb = r.getSeq[Float](2).toArray
      (0 until PqM).map(m => ((c, m, k), cb.slice(m * PqSub, (m + 1) * PqSub)))
    }.toMap

  /** Every residual subvector joined to its book's candidate centroids
    * with the unrolled distance — the per-round assignment frame.
    */
  private def residualAssign(
      resSub: DataFrame,
      centers: Map[(Long, Int, Int), Array[Float]]): DataFrame = {
    val spark = resSub.sparkSession
    import spark.implicits._
    val cdf = centers.toSeq.map { case ((c, m, k), cb) => (c, m, k, cb) }
      .toDF("c_id", "m", "k", "cb")
    resSub
      .join(broadcast(cdf), Seq("c_id", "m"))
      .withColumn("d", expr(ResidualD2))
  }

  /** One distributed Lloyd round: nearest-centroid assignment (ties ->
    * smaller k) and 1e-6 fixed-point mean re-centering. Empty cells
    * keep their previous centroid.
    */
  private def lloydRound(
      resSub: DataFrame,
      centers: Map[(Long, Int, Int), Array[Float]]): Map[(Long, Int, Int), Array[Float]] = {
    val updated = residualAssign(resSub, centers)
      .groupBy("vec_id", "c_id", "m")
      // lexicographic struct min: nearest centroid, ties -> smaller k
      .agg(min(struct(col("d"), col("k"))).getField("k").as("k"), first("rvm").as("rvm"))
      .select(col("c_id"), col("m"), col("k"), posexplode(col("rvm")).as(Seq("pos", "v")))
      .groupBy("c_id", "m", "k", "pos")
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("v").cast("double") * 1000000).cast("long")).as("sq"))
      .withColumn("cv",
        (col("sq").cast("double") / (col("n").cast("double") * 1000000.0)).cast("float"))
      .groupBy("c_id", "m", "k")
      .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)").as("cb"))
      .collect()
      .map(r => ((r.getLong(0), r.getInt(1), r.getInt(2)), r.getSeq[Float](3).toArray))
      .toMap
    centers.map { case (key, old) => key -> updated.getOrElse(key, old) }
  }

  /** Total assignment SSE under `centers`, in exact 1e-6 fixed-point:
    * each subvector's min distance quantizes to an integer BEFORE the
    * global sum, so the figure is bit-stable across partitionings.
    */
  private def residualSseMicro(
      resSub: DataFrame,
      centers: Map[(Long, Int, Int), Array[Float]]): Long =
    residualAssign(resSub, centers)
      .groupBy("vec_id", "c_id", "m")
      .agg(min("d").as("dmin"))
      .agg(sum(round(col("dmin") * 1000000).cast("long")))
      .head().getLong(0)

  def pqResidualCodebooksTrained(
      lists: DataFrame,
      cents: DataFrame,
      iters: Int = ResidualTrainIters): DataFrame = {
    val spark = lists.sparkSession
    import spark.implicits._
    val resSub = residualSubvectors(lists, cents)
    // (c_id, m, k) -> 8-dim centroid, seeded from the stand-in books
    var centers = residualInitCenters(lists, cents)
    for (_ <- 0 until iters) centers = lloydRound(resSub, centers)
    // pack back to the (c_id, k, cb64) shape pqEncodeResidual consumes:
    // full-vector centroid (c, k) = concat over m of the (c, m, k) book
    centers.keys.map { case (c, _, k) => (c, k) }.toSeq.distinct
      .map { case (c, k) =>
        (c, k, (0 until PqM).flatMap(m => centers((c, m, k))).toArray)
      }
      .toDF("c_id", "k", "cb")
  }

  /** Training convergence curve: total fixed-point SSE after each Lloyd
    * round, iter 0 = the stand-in init. The monotone non-increase is
    * k-means' contract — a broken descent means the assignment and the
    * re-centering disagree on the metric (spec-pinned in
    * IvfRecallSpec); ops dashboards use the curve's plateau to pick
    * [[ResidualTrainIters]].
    */
  def pqResidualTrainCurve(
      lists: DataFrame,
      cents: DataFrame,
      iters: Int = ResidualTrainIters): DataFrame = {
    val spark = lists.sparkSession
    import spark.implicits._
    val resSub = residualSubvectors(lists, cents)
    var centers = residualInitCenters(lists, cents)
    val curve = Seq.newBuilder[(Int, Long)]
    curve += ((0, residualSseMicro(resSub, centers)))
    for (i <- 1 to iters) {
      centers = lloydRound(resSub, centers)
      curve += ((i, residualSseMicro(resSub, centers)))
    }
    curve.result().toDF("iter", "sse_micro")
  }

  /** Residual-PQ encode: each vector's residual against its OWN list's
    * centroid, argmin-coded against its OWN list's codebook (ties ->
    * smaller k, the `c.c - 2 v.c` key of [[pqEncode]]). Same compiled
    * `mapPartitions` kernel rationale as [[pqEncode]]; the per-list
    * codebooks (IvfK x PqK x dims floats) and centroids are index
    * METADATA closed over like a broadcast constant.
    */
  def pqEncodeResidual(lists: DataFrame, cents: DataFrame, codebooks: DataFrame): DataFrame = {
    val spark = lists.sparkSession
    import spark.implicits._
    val centMap: Map[Long, Array[Float]] = cents.select("c_id", "ce").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val cbMap: Map[Long, Array[Array[Float]]] = codebooks.select("c_id", "k", "cb").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
      .groupBy(_._1)
      .map { case (c, rows) => c -> rows.sortBy(_._2).map(_._3) }
    require(centMap.nonEmpty, "residual PQ needs a non-empty coarse codebook")
    val (pm, ps) = (PqM, PqSub)
    lists.select(col("vec_id"), col("embedding"), col("c_id"))
      .as[(Long, Array[Float], Long)]
      .mapPartitions { rows =>
        // per-list centroid self-dots are constant: hoist per partition
        val cc: Map[Long, Array[Array[Double]]] = cbMap.map { case (c, cb) =>
          c -> Array.tabulate(pm, cb.length) { (m, k) =>
            var acc = 0.0; var j = 0
            while (j < ps) { val x = cb(k)(m * ps + j).toDouble; acc += x * x; j += 1 }
            acc
          }
        }
        rows.map { case (id, v, c) =>
          val ce = centMap(c)
          val cb = cbMap(c)
          val ccm = cc(c)
          val r = new Array[Float](v.length)
          var j = 0
          while (j < v.length) { r(j) = v(j) - ce(j); j += 1 }
          val codes = new Array[Int](pm)
          var m = 0
          while (m < pm) {
            var best = 0
            var bestD = Double.PositiveInfinity
            var k = 0
            while (k < cb.length) {
              var vc = 0.0; var j2 = 0
              while (j2 < ps) { vc += r(m * ps + j2).toDouble * cb(k)(m * ps + j2).toDouble; j2 += 1 }
              val d = ccm(m)(k) - 2.0 * vc
              if (d < bestD) { bestD = d; best = k } // strict <: ties keep the smaller k
              k += 1
            }
            codes(m) = best
            m += 1
          }
          (id, c, codes)
        }
      }
      .toDF("vec_id", "c_id", "codes")
  }

  /** IVF-PQ with residual encoding — the sharp disk-index layout:
    * coarse lists prune candidates ([[ivfPqTopK]]'s shape), and the ADC
    * tables are built per (query, probed list) over the QUERY RESIDUAL
    * against that list's codebook, so the approximate distance is
    * ||q − centroid − code(v − centroid)||² instead of the raw-space
    * version. Per query the scan still touches ~NProbe/IvfK of the
    * corpus codes with zero float math against it. IvfRecallSpec pins
    * residual >= raw neighborhood agreement at equal NProbe.
    */
  def ivfPqResidualTopK(emb: DataFrame): DataFrame =
    ivfPqResidualTopK(emb, defaultQueries(emb))

  def ivfPqResidualTopK(emb: DataFrame, queries: DataFrame): DataFrame = {
    val cents = firstKCentroids(emb)
    val lists = ivfAssign(emb, cents)
    ivfPqResidualRank(lists, cents, pqResidualCodebooks(lists, cents), queries)
  }

  /** [[ivfPqResidualTopK]] over an explicit per-list codebook frame
    * (c_id, k, cb) — the stand-in and the [[pqResidualCodebooksTrained]]
    * trained books rank through the same path.
    */
  def ivfPqResidualRank(
      lists: DataFrame,
      cents: DataFrame,
      codebooks: DataFrame,
      queries: DataFrame): DataFrame =
    ivfPqResidualRankCodes(
      pqEncodeResidual(lists, cents, codebooks), cents, codebooks, queries)

  /** [[ivfPqResidualRank]] over ALREADY-ENCODED codes — the face a
    * residual SERVING index queries through (codes come off disk,
    * not a fresh encode; parquet round-trips ints exactly, so the
    * two faces are bit-identical).
    */
  def ivfPqResidualRankCodes(
      codes: DataFrame,
      cents: DataFrame,
      codebooks: DataFrame,
      queries: DataFrame): DataFrame = {
    // one packed codebook row per list (the pqCodebook trick), so the
    // per-(query, list) dtable builds inside one expression
    val packed = codebooks
      .groupBy("c_id")
      .agg(expr("array_sort(collect_list(struct(k, cb)))").as("cents"))
    val wq = Window.partitionBy("q_id").orderBy(col("ccos").desc, col("c_id"))
    val probeLists = probeSide(queries)
      .crossJoin(broadcast(cents))
      .withColumn("ccos", expr(dot("qe", "ce")) / (col("qnorm") * col("cnorm")))
      .withColumn("qrn", row_number().over(wq))
      .filter(col("qrn") <= NProbe)
      .select(col("q_id"), col("qe"), col("c_id"), col("ce"))
      .withColumn("qr", expr("zip_with(qe, ce, (x, y) -> x - y)"))
    val rd2 =
      s"""aggregate(sequence(0, ${PqSub - 1}), CAST(0 AS DOUBLE), (acc, j) ->
         |  acc + (CAST(qr[m * $PqSub + j] AS DOUBLE) - CAST(cents[k].cb[m * $PqSub + j] AS DOUBLE))
         |      * (CAST(qr[m * $PqSub + j] AS DOUBLE) - CAST(cents[k].cb[m * $PqSub + j] AS DOUBLE)))""".stripMargin
    val probes = probeLists
      .join(broadcast(packed), "c_id")
      .select(col("q_id"), col("c_id"), expr(
        s"""transform(sequence(0, ${PqM - 1}), m ->
           |  transform(sequence(0, size(cents) - 1), k ->
           |    CAST(round($rd2 * $PqFix) AS BIGINT)))""".stripMargin).as("dtable"))
    val w = Window.partitionBy("q_id").orderBy(col("dist_q").asc, col("vec_id"))
    codes
      .join(broadcast(probes), Seq("c_id"))
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("dist_q", expr(
        (0 until PqM).map(m => s"dtable[$m][codes[$m]]").mkString(" + ")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select(
        col("q_id"),
        col("rn"),
        col("vec_id"),
        round(col("dist_q").cast("double") / PqFix, 6).as("dist"))
  }

  /** Per-query recall@K of the IVF-PQ tier against brute-force cosine
    * — the evaluation read a pipeline runs BEFORE trusting an index
    * (at 100 TB nobody re-checks answers by hand; the recall report
    * is how an ops dashboard knows NProbe/code-budget settings still
    * hold as the corpus drifts). Exact top-K is the already-shaped
    * broadcast brute force; the approximate tier is the already-
    * shaped pruned scan; the report joins two K-row-per-query lists —
    * all the cost is in the two retrieval legs, both of which the
    * registry verifies independently.
    */
  def recallReport(emb: DataFrame): DataFrame =
    recallAgainstExact(emb, ivfPqTopK(emb))

  /** [[recallReport]] for the RESIDUAL tier — the best-recall
    * configuration's own evaluation row.
    */
  def recallReportResidual(emb: DataFrame): DataFrame =
    recallAgainstExact(emb, ivfPqResidualTopK(emb))

  private def recallAgainstExact(emb: DataFrame, approxTopK: DataFrame): DataFrame = {
    val exact = cosineTopK(emb).select(col("q_id"), col("vec_id"))
    val approx = approxTopK.select(col("q_id"), col("vec_id"))
      .withColumn("hit", lit(1))
    exact.join(approx, Seq("q_id", "vec_id"), "left")
      .groupBy("q_id")
      .agg(
        count(lit(1)).as("n_exact"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hit"))
      .withColumn(
        "recall", round(col("n_hit").cast("double") / col("n_exact"), 6))
  }

  /** Embedding-cosine near-duplicate pairs: BANDED hyperplane-LSH
    * self-join (same no-all-pairs shape as text MinHash / SimHash),
    * exact cosine verify. The fifth dedup modality — catches semantic
    * near-dups that text shingles miss.
    *
    * Band width is the SCALE lever (the [[Dedup.simhashPairs]]
    * lesson): [[NearDupBands]] independent bands of
    * [[NearDupBandPlanes]] planes give 65,536 keys PER BAND, so the
    * per-band keyspace keeps growing with the corpus — where a single
    * 8-plane bucket caps at 256 buckets TOTAL and the within-bucket
    * self-join goes quadratic past ~10⁶ vectors (a spec pins the
    * cardinality so that shape cannot return). Bands count is the
    * RECALL lever: a pair at cosine c collides on one 16-plane band
    * with probability (1 − θ/π)¹⁶, so near-identical vectors
    * (cos ≥ 0.99) are found with ≥99% probability at 4 bands while
    * unrelated vectors almost never collide — the candidate set stays
    * linear in the corpus. AnnSpec pins the planted-dup recall.
    */
  val NearDupCos = 0.3
  val NearDupBands = 4
  val NearDupBandPlanes = 16

  /** (vec_id, embedding, norm, k0..k3): one 16-bit key per band, key b
    * = sign bits of planes [16b, 16b+16). The 64 CASE/float_dot terms
    * are UNROLLED (no higher-order functions): `float_dot` is a
    * codegen'd expression, so the whole signature stays inside
    * whole-stage codegen — an `aggregate()` fold here would run 64
    * interpreted lambda steps per row.
    */
  def nearDupSignature(emb: DataFrame): DataFrame = nearDupSignature(emb, Nil)

  /** [[nearDupSignature]] with `passthrough` columns riding untouched
    * (an event_ts beside each signature row — the watermarked-stream
    * shape). Pure projections, so the same code serves batch frames
    * and streaming ones.
    */
  def nearDupSignature(emb: DataFrame, passthrough: Seq[String]): DataFrame = {
    graft.functions.FloatDot.register(emb.sparkSession)
    val planes = typedLit(
      planeWeightsN(NearDupBands * NearDupBandPlanes).map(_.map(_.toFloat)))
    val keys = (0 until NearDupBands).map { b =>
      val terms = (0 until NearDupBandPlanes).map { p =>
        val i = b * NearDupBandPlanes + p
        s"(CASE WHEN float_dot(element_at(planes, ${i + 1}), embedding) >= 0 " +
          s"THEN CAST(${1L << p} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
      }.mkString(" + ")
      expr(terms).as(s"k$b")
    }
    emb
      .withColumn("planes", planes)
      .select(
        Seq(col("vec_id"), col("embedding"), col("norm")) ++
          passthrough.map(col) ++ keys: _*)
  }

  /** (vec_id, band, key) bucket rows of [[nearDupSignature]] — the
    * spec pins that the (band, key) cardinality grows with the corpus.
    */
  def nearDupBanded(emb: DataFrame): DataFrame =
    nearDupSignature(withNorm(emb)).select(
      col("vec_id"),
      posexplode(array((0 until NearDupBands).map(b => col(s"k$b")): _*))
        .as(Seq("band", "key")))

  /** [[nearDupSignature]] rows exploded to one (band, key) bucket row
    * per band, carrying the vector + norm for the verify stage.
    */
  private def explodeBands(sig: DataFrame): DataFrame = explodeBands(sig, Nil)

  private def explodeBands(sig: DataFrame, passthrough: Seq[String]): DataFrame =
    sig.select(
      Seq(col("vec_id"), col("embedding"), col("norm")) ++ passthrough.map(col) :+
        posexplode(array((0 until NearDupBands).map(b => col(s"k$b")): _*))
          .as(Seq("band", "key")): _*)

  /** (vec_id, embedding, norm[, passthrough...], band, key) bucket rows
    * of the hyperplane signature — the streaming-visible face of
    * [[nearDupSignature]]+band explode (pure projections end to end,
    * so [[graft.streaming.Streaming.nearDupStream]] feeds each
    * arriving vector straight into its band buckets).
    */
  def nearDupBandedVectors(emb: DataFrame, passthrough: Seq[String] = Nil): DataFrame =
    explodeBands(nearDupSignature(withNorm(emb), passthrough), passthrough)

  def embNearDup(emb: DataFrame): DataFrame = {
    val sig = CacheScope.persist(nearDupSignature(withNorm(emb)))
    val banded = BandCap.capBuckets(explodeBands(sig), Seq("band", "key"), "vec_id")
    banded.as("a")
      .join(banded.as("b"), expr("a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id"))
      .withColumn(
        "cos_raw",
        expr("float_dot(a.embedding, b.embedding)") / (col("a.norm") * col("b.norm")))
      // cos is a pure function of the pair, so filtering BEFORE the
      // dedup shuffle is equivalent — and ships only the near-dup pairs
      .filter(col("cos_raw") >= NearDupCos)
      .select(
        col("a.vec_id").as("vec_a"),
        col("b.vec_id").as("vec_b"),
        round(col("cos_raw"), 6).as("cos"))
      .distinct()
  }

  /** Neighbors kept per vector in the [[knnJoin]] k-NN graph. */
  val KnnJoinK = 3

  /** Corpus-wide approximate k-NN GRAPH (self-join): every vector's
    * top-k cosine neighbors among its banded-LSH candidates — the
    * building block semantic clustering, diversity filtering, and
    * graph-based curation (SemDeDup-family methods) consume. Where
    * [[embNearDup]] emits the pairs above a threshold, this ranks each
    * vector's neighborhood, threshold-free.
    *
    * Scale shape: candidates come ONLY from band-key collisions (the
    * 4×16-plane signature — per-band keyspace grows with the corpus,
    * never all-pairs); cosines are computed once per undirected pair
    * and flipped, so the ranking window sees 2·|candidate pairs| rows
    * partitioned by vector — the same per-key bound as every window in
    * the engine. Recall follows the banding contract: near-identical
    * vectors collide on ≥1 band with ≥98% probability; distant ones
    * rarely produce candidates at all (their true rank is meaningless
    * for a near-neighbor graph anyway).
    */
  def knnJoin(emb: DataFrame): DataFrame = knnJoin(emb, KnnJoinK)

  def knnJoin(emb: DataFrame, k: Int): DataFrame = {
    val sig = CacheScope.persist(nearDupSignature(withNorm(emb)))
    val banded = BandCap.capBuckets(explodeBands(sig), Seq("band", "key"), "vec_id")
    val und = banded.as("a")
      .join(banded.as("b"), expr("a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id"))
      .withColumn(
        "cos_raw",
        expr("float_dot(a.embedding, b.embedding)") / (col("a.norm") * col("b.norm")))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cos_raw"))
      // cos is a pure function of the pair: distinct collapses
      // multi-band collisions before the pair count doubles
      .distinct()
    val dir = und.select(col("vec_a").as("vec_id"), col("vec_b").as("nn"), col("cos_raw"))
      .unionAll(und.select(col("vec_b").as("vec_id"), col("vec_a").as("nn"), col("cos_raw")))
    val w = Window.partitionBy("vec_id").orderBy(col("cos_raw").desc, col("nn"))
    dir
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("vec_id"), col("rn"), col("nn"), round(col("cos_raw"), 6).as("cos"))
  }

  /** Multi-probe BANDED query top-K — [[lshTopK]]'s scale successor:
    * queries take the union of candidates across [[NearDupBands]]
    * 16-plane bands instead of one 8-plane bucket, then exact-cosine
    * rank. Two structural wins over the single-bucket path: the
    * per-band keyspace (65,536 keys) grows with the corpus where the
    * 8-plane bucket caps at 256 total, and a near-identical neighbor
    * colliding on ANY of the 4 bands is found (≥98% for cos ≥ 0.99 vs
    * ~80% for one 8-plane bucket) — multi-probe recall at bounded
    * candidate cost.
    */
  def bandedTopK(emb: DataFrame): DataFrame = bandedTopK(emb, defaultQueries(emb))

  def bandedTopK(emb: DataFrame, queries: DataFrame): DataFrame = {
    // corpus side capped only: the probe side is queries (small by
    // construction), so the worst bucket costs |queries| × cap. The
    // signature persists because the cap's census + join-back read it
    // twice — recomputing the 64-plane signatures doubled this query
    val corpus = BandCap.capBuckets(
      explodeBands(CacheScope.persist(nearDupSignature(withNorm(emb)))),
      Seq("band", "key"), "vec_id")
    val probes = explodeBands(nearDupSignature(withNorm(
      queries.select(col("q_id").as("vec_id"), col("embedding")))))
      .select(
        col("vec_id").as("q_id"),
        col("embedding").as("qe"),
        col("norm").as("qnorm"),
        col("band"),
        col("key"))
    val scored = corpus
      .join(probes, Seq("band", "key"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(
        col("q_id"),
        col("vec_id"),
        (expr("float_dot(qe, embedding)") / (col("qnorm") * col("norm"))).as("cos_raw"))
      .distinct()
    topK(scored)
  }

  // ----------------------------- graph ANN (small-world, HNSW family)

  /** Beam width kept per query per hop of [[hnswTopK]]. */
  val HnswBeam = 8

  /** Graph-expansion hops after the seed round. */
  val HnswHops = 3

  /** Global entry points (the first ranks of the md5 ring order). */
  val HnswEntries = 4

  /** Long-link skip scales: each node links ahead by ~n/2^j on the
    * md5 ring for j = 1..HnswSkips.
    */
  val HnswSkips = 4

  /** Graph ANN serving — the navigable-small-world family (Malkov &
    * Yashunin 2018, public) re-expressed as bounded relational
    * algebra: a NEIGHBOR GRAPH of short links (each vector's
    * [[knnJoin]] top-k among banded-LSH candidates — the similarity
    * edges) plus deterministic LONG links (a ring over md5(vec_id)
    * order with skips at n/2, n/4, n/8, n/16 — the Kleinberg
    * small-world construction, giving the graph the navigability
    * random insertion order gives HNSW), searched by a fixed-round
    * BEAM: seed each query with its banded band-key collisions (the
    * LSH tier's candidate set) plus the global entry points, then
    * [[HnswHops]] rounds of expand-along-edges → exact-cosine rank →
    * keep [[HnswBeam]]. Recall does not trail the banded tier: a
    * banded candidate can be pruned between rounds (with
    * [[HnswEntries]] entry seeds, a banded top-5 candidate can rank
    * below [[HnswBeam]] in the seed beam), but every pruned candidate
    * is displaced only by strictly-closer survivors, so recall
    * against exact ground truth cannot drop — the cosine-dominance
    * property the planted-cluster spec pins.
    *
    * Everything is deterministic (md5 ring, id tie-breaks), so the
    * DuckDB twin replays build + search bit-for-bit — a fixed-round
    * beam is exactly T unrolled CTEs. Scale shape: the graph is
    * O(n·(k + skips)) edges built from capped banded candidates and
    * one distributed sort (ring ranks via range-partitioned
    * sort + zipWithIndex — never a single-partition window); each
    * search round scores ≤ |Q|·beam·(degree+1) candidate rows
    * against a broadcast query table; no corpus self-join beyond the
    * capped candidate generation the near-dup tier already pays.
    *
    * This face builds the graph PER INVOCATION — the one-shot /
    * exploratory form. The serving path is
    * [[graft.sinks.Sinks.writeHnswIndex]] +
    * [[graft.sinks.Sinks.readHnswIndexTopK]]: build once, persist
    * edges/entries/bands/vectors as frozen artifacts, search many.
    * Both faces run the identical eager [[hnswSearch]] kernel, so
    * disk ≡ in-memory bit-for-bit (spec-pinned). Every build and
    * search intermediate is scoped — a call leaves nothing in the
    * session cache registry.
    */
  def hnswTopK(emb: DataFrame): DataFrame = hnswTopK(emb, defaultQueries(emb))

  def hnswTopK(emb: DataFrame, queries: DataFrame): DataFrame =
    CacheScope.withScope {
      val corpus = CacheScope.persist(
        withNorm(emb).select(col("vec_id"), col("embedding"), col("norm")))
      val (graph, ord) = hnswGraphParts(emb)
      val entries = ord.filter(col("r") < HnswEntries).select("vec_id")
      hnswSearch(corpus, hnswCorpusBands(emb), entries, graph, queries)
    }

  /** The graph-build halves of the HNSW family, shared by the
    * in-memory face and [[graft.sinks.Sinks.writeHnswIndex]]:
    * `(graph, ord)` where `graph` is the deduped short ∪ long edge
    * set and `ord` the (vec_id, r) md5-ring ranks (rank <
    * [[HnswEntries]] = the global entry points). Both frames are
    * persisted into the CALLER's active [[CacheScope]] — callers wrap
    * in `withScope` and consume eagerly.
    */
  private[graft] def hnswGraphParts(emb: DataFrame): (DataFrame, DataFrame) = {
    val spark = emb.sparkSession
    import spark.implicits._
    // short similarity links
    val short = knnJoin(emb, KnnJoinK)
      .select(col("vec_id").as("src"), col("nn").as("dst"))
    // ring ranks: total md5 order via distributed sort + zipWithIndex
    // (the scalable global-rank construction — a global row_number
    // window would funnel the corpus through one partition)
    val ord = CacheScope.persist(
      emb.select(col("vec_id"))
        .withColumn("hord", md5(concat(lit("hnsw"), col("vec_id").cast("string"))))
        .orderBy("hord", "vec_id")
        .select("vec_id").as[Long].rdd.zipWithIndex()
        .toDF("vec_id", "r"))
    val cnt = ord.agg(count(lit(1)).as("n"))
    val long = ord
      .crossJoin(broadcast(cnt))
      .select(
        col("vec_id").as("src"),
        col("r"),
        col("n"),
        explode(array((1 to HnswSkips).map(j => lit(1L << j)): _*)).as("p"))
      .withColumn(
        "dst_r", (col("r") + greatest(lit(1L), floor(col("n") / col("p")).cast("long"))) % col("n"))
      .join(ord.select(col("vec_id").as("dst"), col("r").as("dst_r")), "dst_r")
      .select("src", "dst")
    val graph = CacheScope.persist(
      short.unionByName(long).filter(col("src") =!= col("dst")).distinct())
    (graph, ord)
  }

  /** The capped corpus band buckets as the HNSW seed artifact shape —
    * (band, key, vec_id). [[graft.sinks.Sinks.writeHnswIndex]]
    * persists this; [[hnswTopK]] derives the identical frame inline.
    */
  private[graft] def hnswCorpusBands(emb: DataFrame): DataFrame =
    BandCap.capBuckets(
      explodeBands(CacheScope.persist(nearDupSignature(withNorm(emb)))),
      Seq("band", "key"), "vec_id")
      .select("band", "key", "vec_id")

  /** (vec_id, embedding, norm) — the exact-scoring corpus rows the
    * HNSW index stores beside its graph (vectors live IN a serving
    * graph index; the beam's exact cosines read them, never the
    * source table).
    */
  private[graft] def hnswCorpusVectors(emb: DataFrame): DataFrame =
    withNorm(emb).select(col("vec_id"), col("embedding"), col("norm"))

  /** The SEARCH kernel both HNSW faces run: banded seeds ∪ broadcast
    * entry points, then [[HnswHops]] eager beam rounds against the
    * given edge set, exact-cosine top-K at the end.
    *
    * Lazy rounds, ONE eager materialization: each beam round persists
    * into the enclosing scope LAZILY (the final action computes every
    * frontier once and the cache serves its two consumers in the next
    * round — plan doubling never runs), and the final (|Q|·K)-row
    * result localCheckpoints at the end, truncating lineage to the
    * materialized rows so scope exit reclaims every intermediate and
    * the caller holds a self-contained frame. This is the round-15
    * execution profile (one job DAG, build and probe stages free to
    * overlap across cores) WITHOUT its persist leak — an earlier
    * eager-per-round variant was measured 37% slower at sf0.1 (four
    * serialized barriers where one job overlapped everything).
    *
    * `planProbe` is a test seam: each round's planned execution, for
    * pinning that a frozen-index search contains no build stages.
    */
  private[graft] def hnswSearch(
      corpus: DataFrame,
      corpusBands: DataFrame,
      entries: DataFrame,
      graph: DataFrame,
      queries: DataFrame,
      planProbe: String => Unit = _ => ()): DataFrame = {
    graft.functions.FloatDot.register(corpus.sparkSession)
    CacheScope.withScope {
      val qn = CacheScope.persist(probeSide(queries))
      val probeBands = explodeBands(nearDupSignature(withNorm(
        queries.select(col("q_id").as("vec_id"), col("embedding")))))
        .select(col("vec_id").as("q_id"), col("band"), col("key"))
      val bandSeeds = corpusBands
        .join(broadcast(probeBands), Seq("band", "key"))
        .select(col("q_id"), col("vec_id").as("c_id"))
      val entrySeeds = qn.select("q_id")
        .crossJoin(broadcast(entries.select(col("vec_id").as("c_id"))))
      val seeds = bandSeeds.unionByName(entrySeeds).distinct()

      def score(frontier: DataFrame): DataFrame =
        frontier
          .join(broadcast(qn), "q_id")
          .join(corpus.withColumnRenamed("vec_id", "c_id"), "c_id")
          .select(
            col("q_id"),
            col("c_id"),
            (expr("float_dot(qe, embedding)") / (col("qnorm") * col("norm"))).as("cos_raw"))
      def beam(scored: DataFrame): DataFrame = {
        val w = Window.partitionBy("q_id").orderBy(col("cos_raw").desc, col("c_id"))
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= HnswBeam)
          .select("q_id", "c_id")
      }
      def round(df: DataFrame): DataFrame = {
        val f = CacheScope.persist(df)
        planProbe(f.queryExecution.executedPlan.toString)
        f
      }

      var frontier = round(beam(score(seeds)))
      for (_ <- 1 to HnswHops) {
        val expanded = frontier
          .join(graph, col("c_id") === col("src"))
          .select(col("q_id"), col("dst").as("c_id"))
          .unionByName(frontier)
          .distinct()
        frontier = round(beam(score(expanded)))
      }
      topK(
        score(frontier)
          .filter(col("q_id") =!= col("c_id"))
          .withColumnRenamed("c_id", "vec_id"))
        .localCheckpoint(true)
    }
  }

  /** Semantic duplicate-cluster resolution (the SemDeDup shape):
    * connected components over the banded embedding near-dup pair
    * graph, min-vec_id label per component, canonical survivor = the
    * member equal to the label. Rides [[Corpus.clustersFromEdges]] —
    * the same min-propagation loop (edge-subgraph iteration, lineage
    * truncation, AQE-sized rounds) the text modality uses, so every
    * similarity modality resolves clusters identically.
    */
  def embDedupClusters(emb: DataFrame): DataFrame =
    Corpus.clustersFromEdges(
      emb.select(col("vec_id").as("doc_id")),
      embNearDup(emb).select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(
        col("doc_id").as("vec_id"),
        col("cluster"),
        col("cluster_size"),
        col("is_canonical"))

  /** k-NN label vote on the brute-force neighbors: majority label of the
    * top-K (ties -> smaller label), compared against the query's own
    * label.
    */
  def knnClassify(emb: DataFrame): DataFrame = {
    val neighbors = cosineTopK(emb)
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
    val votes = neighbors
      .groupBy("q_id", "label")
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy("q_id").orderBy(col("votes").desc, col("label"))
    votes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("q_id"), col("label").as("predicted"), col("votes"))
      .join(
        emb.select(col("vec_id").as("q_id"), col("label").as("true_label")),
        "q_id")
      .withColumn("correct", col("predicted") === col("true_label"))
  }

  // ------------------------------------------------- product quantization
  /** PQ geometry: 64-dim vectors split into [[PqM]] subspaces of
    * [[PqSub]] dims, [[PqK]] centroids per subspace — so a vector
    * compresses to 8 small codes (32 KB of codebook reconstructs
    * approximate distances for any corpus size). PQ is the third leg of
    * the disk-index stack next to IVF (candidate pruning) and int8
    * (exact-dot compression): at 100 TB the codes table is ~1/32 the
    * corpus and queries scan it with table LOOKUPS instead of float
    * multiplies.
    */
  val PqM = 8
  val PqK = 16
  val PqSub = 8
  private val PqFix = 1000000000L // 1e-9 fixed point for order-free distance sums

  /** Stand-in PQ codebook: the first [[PqK]] corpus vectors, packed
    * into ONE row as a c_id-sorted (c_id, ce) array so encode/query can
    * broadcast it and index subvectors inside a per-row expression —
    * the same deterministic-codebook trick as [[firstKCentroids]]
    * (replayable by the DuckDB oracle; a trained codebook slots into
    * the same overloads).
    */
  def pqCodebook(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < PqK)
      .agg(expr("array_sort(collect_list(struct(vec_id AS c_id, embedding AS ce)))").as("cents"))

  /** TRAINED PQ codebook: per-subspace k-means (the real PQ training —
    * each of the [[PqM]] subspaces gets its own k centroids over that
    * subspace's subvectors, Euclidean geometry because ADC ranks by
    * squared L2). The per-subspace centers pack COLUMN-WISE into PqK
    * synthetic full vectors (synthetic centroid j = concat over m of
    * subspace-m centroid j): [[pqEncode]]/[[pqProbes]] only ever slice
    * subvector m of centroid k, so the packed frame expresses fully
    * independent per-subspace codebooks through the unchanged stand-in
    * surface. M·[[PqTrainRestarts]] small fits whose centers come back
    * to the driver (M·k·PqSub floats — index metadata, the
    * [[kmeansCentroids]] broadcast-constant pattern). At corpus scale
    * the training input is a SAMPLE (as every production PQ trainer
    * does) — k·PqSub-dim centroids need thousands of rows, not the
    * corpus.
    */
  val PqTrainRestarts = 5

  def pqTrainedCodebook(emb: DataFrame, k: Int = PqK): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = emb.sparkSession
    import spark.implicits._
    // One subspace at a time, so one subspace frame is cached at once:
    // persist it, run its PqTrainRestarts fits CONCURRENTLY (guide §2.6:
    // they are independent small jobs whose wall-clock is driver
    // round-trip latency, so later fits back-fill the executor slots
    // earlier fits leave idle), keep the winner, release it. Each fit is
    // internally deterministic (fixed per-(m, r) seed, isolated input
    // frame), and the winner is still `minBy(trainingCost)` over the
    // restart models IN RESTART ORDER (futures indexed by r, not
    // completion order), so the selected centers are bit-identical to
    // the sequential loop's.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(PqTrainRestarts)
    val subCenters: Array[Array[Array[Float]]] =
      try (0 until PqM).toArray.map { m =>
        val sub = emb.select(
          array_to_vector(
            expr(s"CAST(slice(embedding, ${m * PqSub + 1}, $PqSub) AS ARRAY<DOUBLE>)"))
            .as("features"))
          .persist()
        try {
          // k tight clusters + k centers is the k-means init trap (one
          // kmeans|| draw can land 2 centers in one cluster, 0 in another,
          // and Lloyd cannot escape — measured 2x the achievable SSE on
          // planted clusters): best-of-R restarts by training cost
          val futs = (0 until PqTrainRestarts).map { r =>
            pool.submit(new java.util.concurrent.Callable[
              org.apache.spark.ml.clustering.KMeansModel] {
              def call(): org.apache.spark.ml.clustering.KMeansModel =
                new KMeans()
                  .setK(k).setSeed(42L + 997L * (m * PqTrainRestarts + r)).setMaxIter(20)
                  .fit(sub)
            })
          }
          futs.map(f =>
            try f.get()
            catch {
              case ee: java.util.concurrent.ExecutionException =>
                futs.foreach(_.cancel(true))
                throw Option(ee.getCause).getOrElse(ee)
            })
            .minBy(_.summary.trainingCost)
            .clusterCenters.map(_.toArray.map(_.toFloat))
        } finally { sub.unpersist(); () }
      } finally pool.shutdown()
    // a degenerate subspace (fewer distinct points than k) can come
    // back with fewer centers; the packed codebook is as deep as the
    // shallowest subspace so every code indexes a real centroid
    val kEff = subCenters.map(_.length).min
    (0 until kEff)
      .map(j => (j.toLong, subCenters.flatMap(_(j))))
      .toDF("c_id", "ce")
      .agg(expr("array_sort(collect_list(struct(c_id, ce)))").as("cents"))
  }

  // ------------------------------------- trained rotation (OPQ-style)
  /** TRAINED rotation in front of PQ — the standard recall lever at a
    * fixed code budget: distances are invariant under any orthogonal
    * rotation, but the ENCODE error is not, because PQ quantizes each
    * [[PqSub]]-dim subspace independently and raw axes correlate.
    * This is OPQ's non-parametric form (Ge et al., CVPR 2013):
    * principal directions from a distributed SVD, then EIGENVALUE
    * ALLOCATION — directions assigned greedily (descending variance)
    * to the subspace with the smallest accumulated log-variance, so
    * the per-subspace variance PRODUCTS balance. Plain PCA ordering
    * would do the opposite (pile all variance into subspace 0, whose
    * [[PqK]] centroids can't absorb it).
    *
    * The returned d×d matrix (row i = the direction rotated
    * coordinate i projects onto) is index METADATA — 4096 floats,
    * materialized as literals into the Spark plan and the oracle twin
    * (the [[kmeansCentroids]] pattern). At corpus scale the SVD input
    * is a SAMPLE: d×d covariance needs thousands of rows, not the
    * corpus.
    */
  def pcaRotation(emb: DataFrame): Array[Array[Float]] = {
    import org.apache.spark.mllib.linalg.{Vectors => OldVectors}
    import org.apache.spark.mllib.linalg.distributed.RowMatrix
    val d = PqM * PqSub
    val rows = emb.select("embedding").rdd
      .map(r => OldVectors.dense(r.getSeq[Float](0).toArray.map(_.toDouble)))
    val svd = new RowMatrix(rows).computeSVD(d, computeU = false)
    require(svd.V.numCols == d,
      s"rotation needs a full-rank direction basis: got ${svd.V.numCols} of $d")
    val ev = svd.s.toArray.map(s => s * s)
    val perm = eigenvalueAllocation(ev)
    Array.tabulate(d)(i => Array.tabulate(d)(j => svd.V(j, perm(i)).toFloat))
  }

  /** Eigenvalue allocation: the permutation placing direction
    * `perm(i)` at rotated coordinate i, so subspace m holds
    * `perm(m·PqSub … m·PqSub+PqSub−1)` with balanced variance
    * products. Greedy balance needs NON-NEGATIVE item weights: raw
    * log(eigenvalue) goes negative below 1, and a negative first
    * assignment makes min-load pick the SAME subspace for the next
    * direction — the permutation degenerates to identity (plain PCA
    * blocks, the pathology this allocation exists to prevent) on any
    * corpus whose variances sit under 1. Shifting by the smallest log
    * makes every weight >= 0 without changing which allocation
    * minimizes the max log-product (every full subspace gains the
    * same constant PqSub·shift).
    */
  private[graft] def eigenvalueAllocation(ev: Array[Double]): Array[Int] = {
    val perSub = Array.fill(PqM)(List.empty[Int])
    val load = Array.fill(PqM)(0.0)
    val logs = ev.map(e => math.log(math.max(e, 1e-12)))
    val shift = logs.min
    // directions arrive variance-descending from the SVD; ties in the
    // subspace pick resolve to the lowest index (minBy is stable)
    logs.indices.foreach { i =>
      val open = (0 until PqM).filter(perSub(_).length < PqSub)
      val m = open.minBy(load)
      perSub(m) = perSub(m) :+ i
      load(m) += logs(i) - shift
    }
    perSub.flatMap(identity)
  }

  /** Apply a trained rotation: rotated coordinate i is the strict
    * j-ascending double fold of row i against the vector, cast back to
    * float — the [[pqEncode]] compiled-kernel shape (d² multiplies per
    * row; every HOF formulation leaves this interpreted), bit-matched
    * by the twin's ordered `list_sum` + REAL cast. One map pass, no
    * shuffle; the matrix rides the closure.
    */
  def rotate(emb: DataFrame, rot: Array[Array[Float]]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val d = rot.length
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions(_.map { case (id, v) =>
        val out = new Array[Float](d)
        var i = 0
        while (i < d) {
          var acc = 0.0
          var j = 0
          while (j < d) { acc += rot(i)(j).toDouble * v(j).toDouble; j += 1 }
          out(i) = acc.toFloat
          i += 1
        }
        (id, out)
      })
      .toDF("vec_id", "embedding")
  }

  /** Squared L2 between subvector m of `v` and centroid k's subvector —
    * a strict j-ascending left fold in double, so DuckDB's `list_sum`
    * twin reproduces it bit-for-bit.
    */
  private def pqD2(v: String): String =
    s"""aggregate(sequence(0, ${PqSub - 1}), CAST(0 AS DOUBLE), (acc, j) ->
       |  acc + (CAST($v[m * $PqSub + j] AS DOUBLE) - CAST(cents[k].ce[m * $PqSub + j] AS DOUBLE))
       |      * (CAST($v[m * $PqSub + j] AS DOUBLE) - CAST(cents[k].ce[m * $PqSub + j] AS DOUBLE)))""".stripMargin

  /** PQ encode: per subspace, the argmin-L2 centroid id (ties -> smaller
    * id). The comparison key is `c.c - 2 v.c`, not the full squared L2:
    * the `v.v` term is constant across k, so the argmin is identical.
    *
    * This is a typed `mapPartitions` kernel, not an expression: the
    * encode is 8 x 16 dot products of PER-ROW numeric loops, and every
    * declarative formulation leaves the hot path interpreted — a
    * nested-HOF `aggregate` costs ~1024 interpreted lambda steps per
    * row, HOF-wrapped `float_dot` calls ~25M interpreted invocations
    * per 200k rows (both measured; 8-35 s at 200k, vs ~1 s compiled).
    * The codebook (16 x 64 floats) is index METADATA: collecting it to
    * the driver and closing over it is the broadcast-constant pattern
    * [[kmeansCentroids]] already uses for trained centers. The dot is
    * a strict j-ascending widen-to-double fold — bit-identical to
    * `float_dot` and to the twin's `list_sum`, so near-tie argmins
    * cannot diverge.
    */
  def pqEncode(emb: DataFrame): DataFrame = pqEncode(emb, pqCodebook(emb))

  def pqEncode(emb: DataFrame, codebook: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cents: Array[Array[Float]] = codebook.head().getSeq[org.apache.spark.sql.Row](0)
      .sortBy(_.getLong(0)).map(_.getSeq[Float](1).toArray).toArray
    // the codebook holds whatever centroid vectors the corpus actually
    // provides (a filtered/re-keyed table can carry fewer than PqK):
    // iterate the REAL count instead of indexing past the array. Codes
    // are POSITIONS into the c_id-sorted centroid array on both
    // engines (the oracle twin ranks its centroid set the same way),
    // so labels agree even when the surviving c_ids are non-contiguous
    require(cents.nonEmpty,
      s"PQ codebook is empty: the corpus has no vectors with vec_id < $PqK to serve as centroids")
    val (pm, pk, ps) = (PqM, cents.length, PqSub)
    emb.select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .mapPartitions { rows =>
        // centroid self-dots are constant across rows: hoist per partition
        val cc = Array.tabulate(pm, pk) { (m, k) =>
          var acc = 0.0; var j = 0
          while (j < ps) { val x = cents(k)(m * ps + j).toDouble; acc += x * x; j += 1 }
          acc
        }
        rows.map { case (id, v) =>
          val codes = new Array[Int](pm)
          var m = 0
          while (m < pm) {
            var best = 0
            var bestD = Double.PositiveInfinity
            var k = 0
            while (k < pk) {
              var dot = 0.0; var j = 0
              while (j < ps) { dot += v(m * ps + j).toDouble * cents(k)(m * ps + j).toDouble; j += 1 }
              val d = cc(m)(k) - 2.0 * dot
              if (d < bestD) { bestD = d; best = k } // strict <: ties keep the smaller k
              k += 1
            }
            codes(m) = best
            m += 1
          }
          (id, codes)
        }
      }
      .toDF("vec_id", "codes")
  }

  /** PQ top-K by asymmetric distance computation (ADC): each query
    * precomputes an 8x16 table of subspace distances to every centroid,
    * and a corpus vector's approximate distance is 8 table LOOKUPS —
    * no float math against the corpus at all. Table entries are 1e-9
    * fixed-point BIGINTs so the 8-term sum is exact and order-free
    * (the [[labelCentroids]] determinism pattern), and ranking uses the
    * exact integer distance (ties -> smaller vec_id).
    */
  def pqTopK(emb: DataFrame): DataFrame = pqTopK(emb, defaultQueries(emb))

  def pqTopK(emb: DataFrame, queries: DataFrame): DataFrame = {
    val codebook = pqCodebook(emb)
    pqTopKIndexed(pqEncode(emb, codebook), codebook, queries)
  }

  /** [[pqTopK]] over an already-built index (codes + codebook) — the
    * amortized entry point: encode once, query many times.
    */
  def pqTopKIndexed(codes: DataFrame, codebook: DataFrame, queries: DataFrame): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("dist_q").asc, col("vec_id"))
    pqAdc(codes, pqProbes(codebook, queries))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K)
      .select(
        col("q_id"),
        col("rn"),
        col("vec_id"),
        round(col("dist_q").cast("double") / PqFix, 6).as("dist"))
  }

  /** Per-query ADC distance tables: dtable[m][k] = fixed-point squared
    * L2 between the query's subvector m and centroid k.
    */
  private def pqProbes(codebook: DataFrame, queries: DataFrame): DataFrame =
    queries.select(col("q_id"), col("embedding").as("qe"))
      .crossJoin(broadcast(codebook))
      // size(cents), not the PqK constant: a filtered/re-keyed corpus
      // can carry fewer centroids, and the dtable must stay positional
      // over the REAL array (codes index it) — never past its end
      .select(col("q_id"), expr(
        s"""transform(sequence(0, ${PqM - 1}), m ->
           |  transform(sequence(0, size(cents) - 1), k ->
           |    CAST(round(${pqD2("qe")} * $PqFix) AS BIGINT)))""".stripMargin).as("dtable"))

  /** The ADC scan: (q_id, vec_id, dist_q) for every query x corpus
    * pair. The 8-term lookup sum is UNROLLED (dtable[0][codes[0]] +
    * ...) rather than folded with aggregate(): higher-order functions
    * evaluate through interpreted lambdas per row, which would put the
    * one expression the ADC scan exists for outside whole-stage
    * codegen. Plain nested GetArrayItem stays in the generated code.
    * Integer adds, so associativity is a non-issue.
    */
  private def pqAdc(codes: DataFrame, probes: DataFrame): DataFrame =
    codes
      .join(broadcast(probes), col("q_id") =!= col("vec_id"))
      .withColumn("dist_q", expr(
        (0 until PqM).map(m => s"dtable[$m][codes[$m]]").mkString(" + ")))
      .select("q_id", "vec_id", "dist_q")

  /** ADC shortlist size for the rerank stage — comfortably larger than
    * any code-collision plateau a query's neighborhood produces.
    */
  val PqShortlist = 64

  /** The production PQ pipeline: ADC SHORTLIST + exact rerank. Coarse
    * codes collapse near-identical vectors onto one distance plateau
    * (same codes -> same ADC distance), so rank-5-by-ADC alone is
    * arbitrary within a tight neighborhood; taking a [[PqShortlist]]
    * shortlist by ADC and reranking just those rows with the exact
    * squared L2 recovers the true top-K while still never computing
    * exact distances against the full corpus. The rerank join touches
    * |queries| x shortlist rows — nothing corpus-sized.
    */
  def pqRerankTopK(emb: DataFrame): DataFrame = pqRerankTopK(emb, defaultQueries(emb))

  def pqRerankTopK(emb: DataFrame, queries: DataFrame): DataFrame = {
    val codebook = pqCodebook(emb)
    pqRerankTopKIndexed(pqEncode(emb, codebook), codebook, emb, queries)
  }

  /** [[pqRerankTopK]] over an already-built index. */
  def pqRerankTopKIndexed(
      codes: DataFrame,
      codebook: DataFrame,
      emb: DataFrame,
      queries: DataFrame): DataFrame = {
    val ws = Window.partitionBy("q_id").orderBy(col("dist_q").asc, col("vec_id"))
    val shortlist = pqAdc(codes, pqProbes(codebook, queries))
      .withColumn("srn", row_number().over(ws))
      .filter(col("srn") <= PqShortlist)
      .select("q_id", "vec_id")
    val l2 =
      s"""aggregate(sequence(0, ${PqM * PqSub - 1}), CAST(0 AS DOUBLE), (acc, j) ->
         |  acc + (CAST(qe[j] AS DOUBLE) - CAST(embedding[j] AS DOUBLE))
         |      * (CAST(qe[j] AS DOUBLE) - CAST(embedding[j] AS DOUBLE)))""".stripMargin
    val wr = Window.partitionBy("q_id").orderBy(col("l2_raw").asc, col("vec_id"))
    shortlist
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(queries.select(col("q_id"), col("embedding").as("qe"))), "q_id")
      .withColumn("l2_raw", expr(l2))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= K)
      .select(col("q_id"), col("rn"), col("vec_id"), round(col("l2_raw"), 6).as("l2"))
  }

  /** Target dimensionality of [[project]]. */
  val ProjDims = 8

  /** Deterministic ±1 Johnson–Lindenstrauss rows, drawn from their own
    * md5 stream (seed `proj_<j>_<d>`) so they are independent of the
    * LSH planes that share the construction.
    */
  def projWeights: Seq[Seq[Double]] = {
    val md = MessageDigest.getInstance("MD5")
    (0 until ProjDims).map { j =>
      (0 until 64).map { d =>
        md.reset()
        val hex = md.digest(s"proj_${j}_$d".getBytes(StandardCharsets.UTF_8))
        if (((hex(0) >> 4) & 0xf) % 2 == 0) 1.0 else -1.0
      }
    }
  }

  /** Random-projection dimensionality reduction (the J-L sketch):
    * 64-dim embeddings down to [[ProjDims]] via the signed ±1 matrix,
    * scaled 1/√k so squared norms are preserved in expectation — the
    * cheap first stage before indexing when the raw dimensionality is
    * the cost driver. Long format (vec_id, j, v) for scalar hashing.
    *
    * Determinism: the ±1 rows are exact in float, each output is ONE
    * [[graft.functions.FloatDot]] fold (strict d-ascending, bit-equal
    * to the twin's list_sum fold) scaled and rounded at birth.
    *
    * Scale shape: pure per-row projection — no shuffle, scales with
    * the scan; the k×64 matrix is a plan literal (kilobytes). A
    * TRAINED matrix (PCA/OPQ rotation) slots into the same shape as a
    * broadcast literal without changing the plan.
    */
  def project(emb: DataFrame): DataFrame = {
    graft.functions.FloatDot.register(emb.sparkSession)
    val rows = typedLit(projWeights.map(_.map(_.toFloat)))
    emb
      .withColumn("proj_rows", rows)
      .select(
        col("vec_id"),
        col("embedding"),
        posexplode(col("proj_rows")).as(Seq("j", "r")))
      .select(
        col("vec_id"),
        col("j"),
        round(expr("float_dot(r, embedding)") / math.sqrt(ProjDims), 6).as("v"))
  }

  /** Symmetric int8 quantization of the embedding column: per-vector
    * scale = max|v|/127, codes = round(v/scale) — the memory-side half
    * of a disk ANN index (4x smaller vectors; recall preserved,
    * IvfRecallSpec-style spec pins it). Long format (vec_id, pos, code,
    * scale) so the oracle hash-compares scalars, not nested arrays.
    * Pure per-row projection + posexplode: no shuffle, scales with the
    * scan.
    */
  def quantizeInt8(emb: DataFrame): DataFrame =
    emb
      .select(
        col("vec_id"),
        col("embedding"),
        expr("aggregate(embedding, CAST(0.0 AS DOUBLE), (m, v) -> greatest(m, abs(CAST(v AS DOUBLE))))")
          .as("maxabs"))
      .withColumn("scale", col("maxabs") / 127.0)
      .select(
        col("vec_id"),
        round(col("scale"), 9).as("scale"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .withColumn(
        "code",
        // clamp to [-127, 127]: scale is rounded to 9 decimals BEFORE the
        // division, so for tiny-magnitude vectors (max|v| < ~1.6e-5) the
        // rounding can shrink scale enough that round(v/scale) = ±128 —
        // legal in this long-format BIGINT column but an overflow for any
        // consumer that stores codes as a true int8
        when(col("scale") === 0.0, 0L)
          .otherwise(least(lit(127L), greatest(lit(-127L),
            round(col("v").cast("double") / col("scale")).cast("long")))))
      .select("vec_id", "pos", "code", "scale")

  /** Dequantized view of [[quantizeInt8]] — reconstructs Array[Float]
    * vectors for recall checks and downstream scoring.
    */
  def dequantize(codes: DataFrame): DataFrame =
    codes
      .groupBy("vec_id")
      .agg(expr(
        """transform(
          |  array_sort(collect_list(struct(pos, CAST(code * scale AS FLOAT) AS v))),
          |  s -> s.v)""".stripMargin).as("embedding"))

  /** Per-label centroid embeddings in long format (label, pos, n_vecs,
    * centroid) — the class-prototype / k-means-step building block.
    *
    * Shape: `posexplode` then an aggregate keyed by (label, pos) — one
    * shuffle carrying (corpus × dims) rows with map-side combine, the
    * layout that survives any corpus size (a per-label typed fold would
    * pin each label's vectors in one task).
    *
    * Determinism contract: floating-point addition is order-sensitive
    * and shuffle-reduce order is not deterministic, so elements are
    * quantized to 1e-6 fixed-point BIGINTs first — integer sums are
    * exact and order-free, making the centroid reproducible across
    * runs, partitionings, and engines (the DuckDB twin quantizes
    * identically). Quantization error (<=5e-7 per element, averaged
    * down further) is far below any embedding's meaningful precision.
    */
  /** Embedding DRIFT report: per-dimension mean shift between a
    * reference window and the current window (deterministic md5
    * halves standing in for "the corpus the index was built on" vs
    * "the corpus it serves now") — the leading indicator an ops
    * dashboard reads BEFORE recall decays: when the per-dimension
    * means move, the frozen centroids/books/rotation describe a
    * corpus that no longer exists, [[recallReport]] confirms the
    * damage, and [[graft.sinks.Sinks.rebuildAnnIndex]] remediates.
    * Determinism: per-(vec, dim) values quantize to integer micro
    * BEFORE the sums (order-free exact — the [[labelCentroids]]
    * pattern); each mean is one double division of exact integers.
    */
  def embDriftReport(emb: DataFrame): DataFrame = {
    val coin = expr(
      "CAST(conv(substr(md5(concat('drift', CAST(vec_id AS STRING))), 1, 8), 16, 10) AS BIGINT) % 2")
    val micro = round(col("v").cast("double") * 1000000).cast("long")
    val meanRef = col("s_ref").cast("double") / (col("n_ref").cast("double") * 1000000.0)
    val meanCur = col("s_cur").cast("double") / (col("n_cur").cast("double") * 1000000.0)
    emb
      .select(coin.as("w"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(
        sum(when(col("w") === 0, 1L).otherwise(0L)).as("n_ref"),
        sum(when(col("w") === 1, 1L).otherwise(0L)).as("n_cur"),
        sum(when(col("w") === 0, micro).otherwise(0L)).as("s_ref"),
        sum(when(col("w") === 1, micro).otherwise(0L)).as("s_cur"))
      .select(
        col("pos").cast("int").as("pos"),
        col("n_ref"),
        col("n_cur"),
        round(meanRef, 6).as("mean_ref"),
        round(meanCur, 6).as("mean_cur"),
        round(abs(meanCur - meanRef), 6).as("mean_shift"))
  }

  /** Index-health verdict thresholds: the recall@K floor under which
    * an index should be rebuilt, and the per-dimension mean-shift
    * ceiling past which the frozen geometry is suspect even before
    * recall visibly decays.
    */
  val HealthRecallFloor = 0.9
  val HealthDriftMax = 0.05

  /** One-row index health read — the ops dashboard row that closes
    * the monitoring loop: overall recall@K of the IVF-PQ tier
    * ([[recallReport]] reduced to sum(hit)/sum(exact) — one exact
    * integer division) joined with the drift summary
    * ([[embDriftReport]] reduced to its max shift), and the
    * `rebuild_recommended` verdict that hands off to
    * [[graft.sinks.Sinks.rebuildAnnIndex]]. Both legs are
    * already-verified faces reduced to one-row aggregates; the join
    * is a broadcast one-row crossJoin.
    */
  def indexHealth(emb: DataFrame): DataFrame = {
    val rec = recallReport(emb).agg(
      count(lit(1)).as("n_queries"),
      round(sum("n_hit").cast("double") / sum("n_exact"), 6).as("recall_overall"))
    val drift = embDriftReport(emb).agg(
      count(lit(1)).as("n_dims"),
      max("mean_shift").as("max_shift"))
    rec.crossJoin(broadcast(drift))
      .select(
        col("n_queries"),
        col("recall_overall"),
        col("n_dims"),
        col("max_shift"),
        // NULL legs (no queries / no vectors) are unhealth the verdict
        // must REPORT — a null flag on an empty corpus would read as
        // "not recommended" to any `WHERE rebuild_recommended` consumer
        (col("recall_overall").isNull || col("max_shift").isNull ||
          col("recall_overall") < lit(HealthRecallFloor) ||
          col("max_shift") >= lit(HealthDriftMax)).as("rebuild_recommended"))
  }

  def labelCentroids(emb: DataFrame): DataFrame =
    emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(round(col("v").cast("double") * 1000000).cast("long")).as("sq"))
      .select(
        col("label"),
        col("pos"),
        col("n_vecs"),
        round(col("sq").cast("double") / (col("n_vecs").cast("double") * 1000000.0), 6)
          .as("centroid"))

  /** [[embOutliers]] flag threshold: a vector is an outlier when its
    * squared distance to its label's centroid exceeds this multiple of
    * the label's median squared distance.
    */
  val OutlierRatio = 4L

  /** Embedding sanity filter: distance of every vector to its OWN
    * label's centroid, flagged against the label's median distance —
    * the "is this embedding garbage" check (zeroed rows, corrupt
    * encodes, mislabeled points) a pipeline runs before letting vectors
    * into an index. Median-ratio rather than z-score: distances are
    * heavy-tailed and the median is robust to the very outliers being
    * hunted.
    *
    * Determinism: per-(vec, dim) squared-diff terms against the ROUNDED
    * [[labelCentroids]] centroid quantize to integer micro BEFORE the
    * per-vec sum (order-free exact); the per-label median is an exact
    * percentile over those integers. Scale shape: centroids are
    * |labels|·dims rows (kilobytes, broadcast), the explode joins them
    * per (label, pos), and everything else is vec- or label-keyed aggs
    * with map-side combine — no corpus windows, no all-pairs.
    */
  def embOutliers(emb: DataFrame): DataFrame = {
    val cent = labelCentroids(emb).select(col("label"), col("pos"), col("centroid"))
    val d2 = emb
      .select(col("vec_id"), col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .join(broadcast(cent), Seq("label", "pos"))
      .withColumn(
        "term_micro",
        round(pow(col("v").cast("double") - col("centroid"), 2) * 1000000).cast("long"))
      .groupBy("vec_id", "label")
      .agg(sum("term_micro").as("d2_micro"))
    val med = d2.groupBy("label")
      .agg(expr("percentile(d2_micro, 0.5)").as("med_micro"))
    d2
      .join(broadcast(med), "label")
      .select(
        col("vec_id"),
        col("label"),
        col("d2_micro"),
        round(col("d2_micro") / 1e6, 6).as("d2"),
        round(col("d2_micro") / col("med_micro"), 6).as("dist_ratio"),
        (col("d2_micro") > col("med_micro") * OutlierRatio).as("is_outlier"))
  }
}
