package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The jobs one block of Spark driver code runs, and the bytes their tasks
  * read, for specs that pin how much work an operation does. */
final case class JobCount(jobs: Int, inputBytes: Long)

object JobProbe {
  private final class GroupListener(group: String) extends SparkListener {
    private val stages = mutable.Set[Int]()
    var jobs = 0
    var bytes = 0L
    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
        jobs += 1
        stages ++= js.stageIds
      }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      if (stages(te.stageId)) Option(te.taskMetrics).foreach(m => bytes += m.inputMetrics.bytesRead)
  }

  def apply[T](spark: SparkSession)(body: => T): (T, JobCount) = {
    val sc = spark.sparkContext
    val group = s"jobprobe-${java.util.UUID.randomUUID()}"
    val listener = new GroupListener(group)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job probe")
      val out = try body finally sc.clearJobGroup()
      // listener delivery is async; drain before reading the counters
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      (out, JobCount(listener.jobs, listener.bytes))
    } finally sc.removeSparkListener(listener)
  }
}
