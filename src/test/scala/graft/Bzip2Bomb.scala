package graft

import java.lang.management.ManagementFactory

import graft.sources.Bzip2

/** A bzip2 decompression bomb for the declared-size caps: 128
  * concatenated copies of one stream over 16 MiB of zeros, 2 GiB
  * decoded from a few KB of input. */
object Bzip2Bomb {

  /** One stream over 16 MiB of zeros. */
  lazy val stream: Array[Byte] = Bzip2.encode(new Array[Byte](1 << 24))

  lazy val payload: Array[Byte] = Array.fill(128)(stream).flatten

  /** Bytes the calling thread allocates while `f` runs. */
  def allocated(f: => Any): Long = {
    val mx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]
    val before = mx.getCurrentThreadAllocatedBytes
    f
    mx.getCurrentThreadAllocatedBytes - before
  }
}
