package org.apache.spark

import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}

/** Test access to an RDD's checkpoint mark. */
object RddMarks {
  /** Whether `rdd` is marked for a local checkpoint (done or pending). */
  def locallyCheckpointed(rdd: RDD[_]): Boolean =
    rdd.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])
}
