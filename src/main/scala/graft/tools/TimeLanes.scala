package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

import graft.{Lanes, Sessions, SparkEntry}

/** Lane timing (dev tool): each named lane, several cold passes, on the
  * bench's session config and per-lane release (`Lanes.time`). Each
  * pass appends one line per lane to /tmp/graft_scale.txt (and stdout);
  * the last pass also prints the lane's slowest stages. Pairs of runs
  * at one SF with different core counts give the core-scaling ratio:
  * at sf0.1 every lane is overhead-bound, so parallelism claims need an
  * SF where compute dominates.
  *
  * Usage: runMain graft.tools.TimeLanes <sfDir> <cpus> <q1,q2,...|all> [passes]
  */
object TimeLanes {
  private final case class Stage(id: Int, name: String, ms: Long, tasks: Int, execMs: Long, gcMs: Long)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = args(1).toInt
    val names =
      if (args(2) == "all") SparkEntry.queries.keys.toSeq.sorted else args(2).split(",").toSeq
    val passes = args.lift(3).map(_.toInt).getOrElse(3)
    val spark = Sessions.local(cpus, Sessions.SparkDefaultCodegenCache)
    val stages = new ConcurrentLinkedQueue[Stage]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val ms = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
        stages.add(Stage(si.stageId, si.name.takeWhile(_ != '\n').take(60), ms, si.numTasks,
          si.taskMetrics.executorRunTime, si.taskMetrics.jvmGCTime))
      }
    })
    val out = new java.io.PrintWriter(new java.io.FileWriter("/tmp/graft_scale.txt", true), true)
    def log(line: String): Unit = { out.println(line); println(line) }
    log(s"[scale] session sfDir=$sfDir cpus=$cpus passes=$passes")
    (1 to passes).foreach { p =>
      names.foreach { name =>
        stages.clear()
        val res =
          try f"${Lanes.time(spark, name, sfDir)}%8.2f s"
          catch { case e: Throwable => s"FAILED ${String.valueOf(e.getMessage).take(100)}" }
        log(f"[scale] sf=$sfDir cpus=$cpus pass=$p $name%-22s $res")
        if (p == passes) {
          val all = stages.asScala.toSeq
          log(f"[prof]   stages=${all.size} sum=${all.map(_.ms).sum / 1e3}%.2f s " +
            f"exec=${all.map(_.execMs).sum / 1e3}%.2f s gc=${all.map(_.gcMs).sum / 1e3}%.2f s")
          all.sortBy(-_.ms).take(12).foreach { s =>
            log(f"[prof]   stage ${s.id}%4d ${s.ms}%6d ms exec=${s.execMs}%6d gc=${s.gcMs}%5d tasks=${s.tasks}%3d  ${s.name}")
          }
        }
      }
    }
    out.close()
    spark.stop()
  }
}
