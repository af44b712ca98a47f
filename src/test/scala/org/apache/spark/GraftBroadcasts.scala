package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** The broadcast variables the driver's block manager holds (Spark keeps
  * them in its own package): each one's id and value. A destroyed
  * broadcast is no longer held. */
object GraftBroadcasts {
  def held(sc: SparkContext): Map[Long, Any] = {
    val blocks = sc.env.blockManager
    blocks.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.flatMap { case id @ BroadcastBlockId(n, _) =>
      blocks.getLocalValues(id).map { r =>
        try n -> r.data.next() finally blocks.releaseLock(id)
      }
    }.toMap
  }
}
