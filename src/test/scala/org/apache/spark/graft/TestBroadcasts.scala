package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** test access to the broadcasts held by the driver's block manager, which
  * is private to Spark: every live broadcast keeps its value there */
object TestBroadcasts {
  /** the ids of the broadcasts the driver holds, except the serialized
    * task binaries (byte arrays) Spark broadcasts for every job stage */
  def ids(): Set[Long] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, field) => field.isEmpty
      case _ => false
    }.filter { id =>
      bm.getLocalValues(id).exists { r =>
        try !r.data.next().isInstanceOf[Array[Byte]] finally bm.releaseLock(id)
      }
    }.collect { case BroadcastBlockId(id, _) => id }.toSet
  }
}
