package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Staged

/** The one lane runner: run a lane, then drop every block it staged,
  * so cached intermediates never accumulate across a many-lane session
  * (the bench, the oracle dump, the timing tool, the audit specs). */
object Lanes {

  /** Run `body`, then release, failure or not: the lane's `Staged`
    * tables and checkpointed results, the SQL cache, and (backstop)
    * any RDD persisted outside the `Staged` contract. `localCheckpoint`
    * blocks live in the block manager as persistent RDDs, not in the
    * SQL cache, so `clearCache` alone would leave them evicting and
    * GC-pressuring later lanes. */
  def released[T](spark: SparkSession)(body: => T): T =
    try body
    finally {
      Staged.releaseAll()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

  /** Full evaluation through the no-op sink: every output column is
    * computed and discarded. `count()` would let the optimizer prune
    * an expensive final-projection UDF out of the measurement. */
  def evaluate(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Seconds to construct lane `name` on `sfDir` and [[evaluate]] it;
    * the release after it is not timed. A failure propagates. */
  def time(spark: SparkSession, name: String, sfDir: String): Double = released(spark) {
    val lane = SparkEntry.queries(name)
    val t0 = System.nanoTime()
    evaluate(lane(spark, sfDir))
    (System.nanoTime() - t0) / 1e9
  }
}
