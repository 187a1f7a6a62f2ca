package graft

import graft.operators.{BandCap, Dedup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The band-bucket cap — the engine's defense against the mega-bucket
  * quadratic: a boilerplate signature shared by the whole corpus must
  * yield O(cap²) candidate pairs, not O(n²), while honest buckets pass
  * untouched and the sampling stays oracle-deterministic.
  */
class BandCapSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  test("buckets at or under the cap pass through untouched") {
    val s = spark
    import s.implicits._
    val rows = (0 until 40).map(i => (i.toLong, i % 4, s"sig${i % 10}"))
      .toDF("doc_id", "band", "sig")
    // every (band, sig) bucket has exactly 1 member — far under any cap
    val kept = BandCap.capBuckets(rows, Seq("band", "sig"), "doc_id", 4)
    assert(kept.count() === 40)
    assert(
      kept.select("doc_id").as[Long].collect().sorted.toSeq === (0L until 40L))
  }

  test("an oversize bucket keeps ~cap hash-sampled members, deterministically") {
    val s = spark
    import s.implicits._
    val n = 5000
    val cap = 16
    val rows = (0 until n).map(i => (i.toLong, 0, "megasig"))
      .toDF("doc_id", "band", "sig")
    val kept = BandCap.capBuckets(rows, Seq("band", "sig"), "doc_id", cap)
      .select("doc_id").as[Long].collect().sorted.toSeq
    // the modulo coin keeps each member with probability cap/n: the
    // expectation is cap, and for n=5000/cap=16 the binomial tail puts
    // the count inside [4, 48] with overwhelming probability (this is
    // deterministic given the fixture, so no flake risk)
    assert(kept.size >= 4 && kept.size <= 3 * cap, s"kept ${kept.size}")
    // determinism: a second evaluation keeps the identical survivor set
    val again = BandCap.capBuckets(rows, Seq("band", "sig"), "doc_id", cap)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === again)
  }

  test("planted mega-bucket: near-dup candidate volume is bounded, job completes") {
    val s = spark
    import s.implicits._
    // 2000 IDENTICAL documents — every band bucket is one 2000-member
    // mega-bucket. Uncapped, the candidate join would emit
    // 4 * (2000 choose 2) ≈ 8M pair rows before the distinct; capped,
    // the per-band bucket keeps ~cap members, so verified pairs are
    // bounded by ~(3*cap choose 2) whatever the corpus size.
    val text = (0 until 12).map(w => s"boiler$w").mkString(" ")
    val docs = (0 until 2000).map(i => (i.toLong, text)).toDF("doc_id", "text")
    val cap = 16
    val pairs = Dedup.nearDupPairsFromShingles(
      graft.operators.CacheScope.persist(Dedup.shingles(docs)), cap)
    val nPairs = pairs.count()
    val bound = (3L * cap) * (3L * cap - 1) / 2
    assert(nPairs > 0, "the mega-bucket must still surface representative pairs")
    assert(nPairs <= bound, s"$nPairs candidate pairs > bound $bound")
    // the surviving pairs are true duplicates: identical docs, jaccard 1
    assert(pairs.filter(col("jaccard") =!= 1.0).count() === 0)
    graft.operators.CacheScope.releaseAll()
  }

  test("capped equals uncapped on a corpus with no oversize buckets") {
    val s = spark
    import s.implicits._
    val docs = (0 until 30).map { i =>
      val words = (0 until 12).map(w => if (w == i % 12) s"v${i}w$w" else s"g${i / 3}w$w")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    def run(cap: Int) = Dedup.nearDupPairsFromShingles(
      graft.operators.CacheScope.persist(Dedup.shingles(docs)), cap)
      .orderBy("doc_a", "doc_b").collect().toSeq
    val capped = run(BandCap.DefaultCap)
    val loose = run(Int.MaxValue)
    assert(capped === loose)
    graft.operators.CacheScope.releaseAll()
  }

  test("overflow census reports exactly the oversize buckets") {
    val s = spark
    import s.implicits._
    val rows = ((0 until 9).map(i => (i.toLong, 0, "big")) ++
      Seq((100L, 0, "small"), (101L, 0, "small")))
      .toDF("doc_id", "band", "sig")
    val over = BandCap.overflowBuckets(rows, Seq("band", "sig"), 2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(over === Seq((0, "big", 9L)))
  }

  test("streaming TTL fold: member vector stops at the cap, emission stays bounded") {
    import graft.streaming.Streaming.{bucketFold, BandKeyed, TextRule}
    val cap = 8
    val arrivals = (0 until 500).map(i => BandKeyed(i.toLong, 0, "sig"))
    val (members, out) = bucketFold(TextRule, arrivals.iterator, Vector.empty, cap)
    assert(members.size === cap)
    assert(members === (0L until cap.toLong).toVector)
    // first cap arrivals pair among themselves; the rest are dropped
    assert(out.size === cap * (cap - 1) / 2)
    // a later batch against the full bucket adds nothing
    val (m2, out2) = bucketFold(
      TextRule, Iterator(BandKeyed(999L, 0, "sig")), members, cap)
    assert(m2 === members && out2.isEmpty)
  }

  test("streaming TTL fold (mm): same bound on the perceptual member tuple") {
    import graft.streaming.Streaming.{bucketFold, perceptualRule, MmBandKeyed}
    val cap = 4
    val arrivals = (0 until 100).map(i => MmBandKeyed(i.toLong, 0, 7L, 0L, 0L))
    val (members, out) = bucketFold(
      perceptualRule(graft.operators.Multimodal.Image), arrivals.iterator, Vector.empty, cap)
    assert(members.size === cap)
    assert(out.size === cap * (cap - 1) / 2) // all Hamming 0, all emitted
  }
}
