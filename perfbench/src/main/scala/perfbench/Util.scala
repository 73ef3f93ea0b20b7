package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

object Util {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Total bytes of the regular files under `p` that are data, not
    * Spark's `.crc` / `_SUCCESS` side files. */
  def dataBytes(p: Path): Long = {
    val s = Files.walk(p)
    try
      s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
          !f.getFileName.toString.startsWith("_"))
        .map(Files.size).sum
    finally s.close()
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** CPU seconds this JVM has used, all threads. Stolen time is not
    * charged to the process, so this stays put when the host is busy. */
  def processCpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def timeS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e9)
  }

}
