package graft

import graft.operators.Staged

/** `Lanes.released` leaves nothing staged behind a lane, whether the
  * lane finishes or throws. */
class LanesSpec extends SparkSuite {

  private def assertDrained(): Unit = {
    assert(spark.sparkContext.getPersistentRDDs.isEmpty, "persistent RDDs left behind")
    assert(Staged.pending === 0, "Staged registry not drained")
  }

  test("a lane that stages through Staged.persist and Staged.checkpoint leaves nothing persisted") {
    val rows = Lanes.released(spark) {
      val before = Staged.pending
      val persisted = Staged.persist(spark.range(1000).toDF("x"))
      val checkpointed = Staged.checkpoint(persisted.selectExpr("x % 7 AS k").groupBy("k").count())
      val n = checkpointed.join(persisted, persisted("x") === checkpointed("k")).count()
      assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
      assert(Staged.pending === before + 2)
      n
    }
    assert(rows === 7L)
    assertDrained()
  }

  test("a lane that throws still releases, and its exception propagates") {
    val e = intercept[IllegalStateException] {
      Lanes.released(spark) {
        val before = Staged.pending
        Staged.persist(spark.range(100).toDF("x")).count()
        Staged.checkpoint(spark.range(10).toDF("y"))
        assert(Staged.pending === before + 2)
        throw new IllegalStateException("lane failed")
      }
    }
    assert(e.getMessage === "lane failed")
    assertDrained()
  }

  test("Lanes.time evaluates a named lane, releases it, and rethrows an unknown lane") {
    assert(Lanes.time(spark, "q1_agg", sf0001) > 0)
    assertDrained()
    intercept[NoSuchElementException](Lanes.time(spark, "no_such_lane", sf0001))
    assertDrained()
  }
}
