package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Reads the binary relations' unaligned-range guard the way a user
  * sees it: the named accumulator each scan registers
  * (`graft.bcf.unaligned.ranges` / `graft.bam.unaligned.ranges`), as
  * reported in the completed stages' `StageInfo.accumulables`.
  */
object UnalignedRanges {

  /** The total the accumulator `name` reached over the stages `body`
    * runs. Listener events arrive asynchronously, so this waits (up to
    * 30 s) for a stage to report it; 0 when none ever does.
    */
  def during(spark: SparkSession, name: String)(body: => Unit): Long = {
    val totals = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        e.stageInfo.accumulables.values
          .filter(_.name.contains(name))
          .foreach(a => a.value.foreach(v =>
            totals.put(a.id, v.toString.toLong)))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (totals.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally spark.sparkContext.removeSparkListener(listener)
    totals.values().asScala.sum
  }
}
