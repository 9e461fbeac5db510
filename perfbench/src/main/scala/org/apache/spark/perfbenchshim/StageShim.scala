package org.apache.spark.perfbenchshim

import org.apache.spark.scheduler.StageInfo

/** Reads the Spark-private shuffle id of a stage: a shuffle map stage
  * carries the id of the shuffle (exchange) it writes. */
object StageShim {
  def shuffleDepId(si: StageInfo): Option[Int] = si.shuffleDepId
}
