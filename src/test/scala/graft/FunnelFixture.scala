package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TextStats

/** A small corpus on which every gate of the curation funnel fires on
  * a document that passes every earlier gate, with its doc-aligned
  * embeddings and a stored LM fit on the clean documents.
  *
  *  - 1-12: clean English docs, each one period of a 40-word shared
  *    vocabulary in its own order (dense LM counts, low shingle
  *    Jaccard); doc 5's embedding equals the benchmark vector
  *    (`semantic_contaminated`).
  *  - 20: 60 novel words, so it passes quality but prices over the LM
  *    ceiling (`high_perplexity`) and carries no language marker.
  *  - 31-38: junk pages of source `farm`; 40: a clean page on that
  *    farm (`bad_source`).
  *  - 50: a German-led doc on the shared vocabulary (`wrong_language`).
  *  - 60, 61: four vocabulary periods each, the first two shared: an
  *    80-word copied span (`dup_spans`) at a shingle Jaccard far under
  *    the near-dup threshold.
  */
object FunnelFixture {
  private val vocab = Vector("the", "is", "of", "and", "a") ++ (0 until 35).map(i => s"w$i")

  /** One period of the vocabulary in a seed-determined order
    * (xor-then-multiply mixing: 40 elements are too few for a plain LCG
    * to decorrelate permutations across seeds).
    */
  def cleanText(seed: Int): String =
    vocab.indices.sortBy { j =>
      (((j * 2654435761L) ^ (seed * 0x9E3779B9L)) * 2654435761L) & 0x7fffffffL
    }.map(vocab(_)).mkString(" ")

  private val rows: Seq[(Long, String, String, String)] =
    (1L to 12L).map(i => (i, cleanText(i.toInt), "en", "clean")) ++ Seq(
      (20L, (0 until 60).map(i => s"novel$i").mkString(" "), "en", "clean")) ++
      (31L to 38L).map(i => (i, "!!!! ???? %%%% ####", "en", "farm")) ++ Seq(
      (40L, cleanText(40), "en", "farm"),
      (50L, Seq.fill(6)("der die und ist das").mkString(" ") + " " + cleanText(50), "de", "clean"),
      (60L, Seq(101, 102, 103, 104).map(cleanText).mkString(" "), "en", "clean"),
      (61L, Seq(101, 102, 105, 106).map(cleanText).mkString(" "), "en", "clean"))

  def docs: DataFrame = {
    val spark = TestSpark.spark
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source").withColumn("n_chars", length(col("text")))
  }

  /** Vector 0 is the benchmark (0 % BenchmarkMod == 0). */
  def emb: DataFrame = {
    val spark = TestSpark.spark
    import spark.implicits._
    ((0L, Seq(1.0f, 0.0f), 0) +: rows.map { case (id, _, _, _) =>
      (id, if (id == 5L) Seq(1.0f, 0.0f) else Seq(0.0f, 1.0f), 1)
    }).toDF("vec_id", "embedding", "label")
  }

  /** The stored LM (bigram counts, unigram counts, vocabulary size). */
  lazy val lm: (Map[(String, String), Long], Map[String, Long], Long) = {
    val (bi, uni, v) = TextStats.lmCounts(docs.filter(col("doc_id") <= 12))
    (bi.collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap,
      uni.collect().map(r => (r.getString(0), r.getLong(1))).toMap,
      v.collect().head.getLong(0))
  }
}
