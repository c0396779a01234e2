package org.apache.spark.graftprobe

import org.apache.spark.SparkContext
import org.apache.spark.storage.BroadcastBlockId

/** Test-side view of driver state Spark keeps `private[spark]`. */
object DriverProbe {
  /** The values of the broadcast variables whose blocks the driver
    * still holds (destroyed ones are gone once their removal lands). */
  def liveBroadcastValues(sc: SparkContext): Seq[Any] = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds {
      case b: BroadcastBlockId => b.field.isEmpty
      case _ => false
    }.flatMap(id => bm.getLocalValues(id).toSeq.flatMap(_.data.toList))
  }
}
