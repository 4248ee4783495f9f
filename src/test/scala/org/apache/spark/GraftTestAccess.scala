package org.apache.spark

/** Test access to `SparkContext` state Spark keeps `private[spark]`. */
object GraftTestAccess {

  /** Unsets the checkpoint directory; Spark has no public call for it, and
    * a suite sharing the context must not keep pointing at a deleted dir. */
  def clearCheckpointDir(sc: SparkContext): Unit = sc.checkpointDir = None
}
