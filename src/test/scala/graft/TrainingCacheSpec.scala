package graft

import graft.operators.{Ann, TextStats}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite

/** The iterative trainers under cache pressure: BPE merges survive
  * evicted round frames, and PQ training caches one subspace frame at a
  * time.
  */
class TrainingCacheSpec extends AnyFunSuite {

  /** Run `body` with `listener` on the shared context, drained before it
    * is removed.
    */
  private def listening[T](listener: SparkListener)(body: => T): T = {
    val sc = TestSpark.spark.sparkContext
    sc.addSparkListener(listener)
    try body
    finally { org.apache.spark.ListenerDrain(sc); sc.removeSparkListener(listener) }
  }

  test("BPE training gives the same merges when every round frame is evicted at each job") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val docs = (0 until 60).map { i =>
      (i.toLong, Seq.fill(30)(Seq.fill(3 + rnd.nextInt(6))(('a' + rnd.nextInt(7)).toChar).mkString).mkString(" "))
    }.toDF("doc_id", "text")
    val merges = 25
    val want = TextStats.bpeMerges(docs, merges).toSeq
    assert(want.length == merges)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // eviction: at each job start, drop every cached frame of this call
    // except the local checkpoints, which the block manager keeps on disk
    val evict = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sc.getPersistentRDDs.values
          .filter(r => !before(r.id) && !org.apache.spark.RddMarks.locallyCheckpointed(r))
          .foreach(_.unpersist(blocking = true))
    }
    val got = listening(evict)(TextStats.bpeMerges(docs, merges).toSeq)
    assert(got == want)
  }

  test("PQ training holds at most one subspace frame in the cache") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val emb = (0 until 400).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val sc = spark.sparkContext
    // a cached Dataset's RDD is named after its plan; the k-means fits'
    // own short-lived caches are not named
    def frames = sc.getPersistentRDDs.values.count(_.name != null)
    val baseline = frames
    @volatile var peak = baseline
    val count = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = peak = math.max(peak, frames)
    }
    listening(count)(Ann.pqTrainedCodebook(emb).collect())
    assert(peak - baseline <= 1, s"${peak - baseline} frames cached at once")
    assert(frames == baseline)
  }
}
