package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Driver-collect audit over the ENTIRE query registry — the invariant
  * the plan lint cannot see: bytes returned to the DRIVER by any
  * single job while a query is CONSTRUCTED (codebooks, centroids,
  * vocab, partition metadata) must be a bounded dimension, never row
  * data. Measured by summing task result sizes PER JOB for jobs
  * triggered during construction at two scale factors: a collect whose
  * single-job size tracks the data (sf0.01 ≈ 10× sf0.001) is a
  * row-growing driver collect and fails here with the query named —
  * before a verdict has to find it. (Per-JOB, not cumulative:
  * iterative algorithms legitimately run MORE bounded-metadata rounds
  * on more data; what must never grow is one job's result.) */
class CollectAuditSpec extends SparkSuite {

  /** max single-job task-result bytes per job group (the group name is
    * set thread-locally around each query's construction, so
    * concurrent suites sharing the session don't pollute it) */
  private final class MaxJobBytesByGroup(prefix: String) extends SparkListener {
    private val stageToJob = TrieMap.empty[Int, (String, Int)]
    private val jobBytes = TrieMap.empty[(String, Int), Long]
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val props = Option(js.properties)
      val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      // Broadcast-exchange builds and subquery executions DO collect a
      // relation to the driver, but the PLANNER bounds them
      // (autoBroadcastJoinThreshold, 10 MB default — past it the join
      // becomes a shuffle join; scalar subqueries return one row), so
      // their growth self-corrects at scale and is not a query defect.
      // They are recognizable as jobs submitted from the SQLExecution
      // future (every stage callsite is withThreadLocalCaptured).
      val planner = js.stageInfos.nonEmpty &&
        js.stageInfos.forall(_.name.contains("withThreadLocalCaptured"))
      if (g.startsWith(prefix) && !planner)
        js.stageIds.foreach(id => stageToJob.put(id, (g, js.jobId)))
    }
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      for (k <- stageToJob.get(te.stageId); m <- Option(te.taskMetrics))
        jobBytes.updateWith(k) { v => Some(v.getOrElse(0L) + m.resultSize) }
    def maxJob(group: String): Long =
      jobBytes.iterator.collect { case ((g, _), b) if g == group => b }.maxOption.getOrElse(0L)
  }

  /** listener delivery is async; drain before reading the counters */
  private def waitUntilListenerEmpty(): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    try bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    catch {
      case _: NoSuchMethodException =>
        bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(30000L))
    }
  }

  test("construction-time driver bytes are bounded dimensions, not row data (sf0.001 vs sf0.01)") {
    // Queries whose driver traffic legitimately tracks the data:
    //  - q_stamp_checksum: the reference's ordered whole-index digest
    //    (sync.cpp stamp) REQUIRES a global order; rows stream through
    //    the driver one partition at a time via sorted toLocalIterator
    //    (memory bounded by one partition, bytes necessarily linear).
    val whitelist = Set("q_stamp_checksum")
    val listener = new MaxJobBytesByGroup("collectaudit:")
    spark.sparkContext.addSparkListener(listener)
    try {
      for ((tag, dir) <- Seq("a" -> sf0001, "b" -> sf001); (name, fn) <- SparkEntry.queries) {
        spark.sparkContext.setJobGroup(s"collectaudit:$tag:$name", s"collect audit $name")
        // construction alone stages blocks (eager persists, checkpoints):
        // release them per lane so they never pile up in the shared JVM
        try Lanes.released(spark)(fn(spark, dir))
        finally spark.sparkContext.clearJobGroup()
      }
      waitUntilListenerEmpty()
      // growth gate: flagged when the largest single job's result at
      // sf0.01 is >4× its sf0.001 counterpart over a 64 KiB floor
      // (task-result overhead ≈ KBs/task and stays flat across SF;
      // bounded collects — k centroids, a codebook, a vocab — are
      // SF-invariant by design)
      val bad = SparkEntry.queries.keys.toSeq.sorted.collect {
        case n
            if !whitelist(n) && {
              val a = listener.maxJob(s"collectaudit:a:$n")
              val b = listener.maxJob(s"collectaudit:b:$n")
              b > 4 * math.max(a, 64L << 10)
            } =>
          val a = listener.maxJob(s"collectaudit:a:$n")
          val b = listener.maxJob(s"collectaudit:b:$n")
          s"$n: max single-job driver bytes grew $a B (sf0.001) -> $b B (sf0.01)"
      }
      assert(bad.isEmpty, "row-growing driver collect during construction:\n" + bad.mkString("\n"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("action-time driver bytes (full evaluation through the no-op sink) are bounded too") {
    // The construction-time audit's blind spot (r16 verdict): a
    // row-growing driver transfer that fires only when the SINK
    // evaluates would slip past it. This gate runs every registered
    // query end to end through the bench's no-op sink at both SFs
    // under the same per-job listener, same 4×-over-floor rule. The
    // realistic action-time channel is TASK RESULTS (accumulator
    // payloads ride them — see the planted offender below); planner
    // jobs stay excluded as threshold-bounded.
    val whitelist = Set("q_stamp_checksum")
    val listener = new MaxJobBytesByGroup("evalaudit:")
    spark.sparkContext.addSparkListener(listener)
    try {
      for ((tag, dir) <- Seq("a" -> sf0001, "b" -> sf001); (name, fn) <- SparkEntry.queries) {
        spark.sparkContext.setJobGroup(s"evalaudit:$tag:$name", s"eval audit $name")
        try Lanes.released(spark)(Lanes.evaluate(fn(spark, dir)))
        finally spark.sparkContext.clearJobGroup()
      }
      waitUntilListenerEmpty()
      val bad = SparkEntry.queries.keys.toSeq.sorted.collect {
        case n
            if !whitelist(n) && {
              val a = listener.maxJob(s"evalaudit:a:$n")
              val b = listener.maxJob(s"evalaudit:b:$n")
              b > 4 * math.max(a, 64L << 10)
            } =>
          val a = listener.maxJob(s"evalaudit:a:$n")
          val b = listener.maxJob(s"evalaudit:b:$n")
          s"$n: max single-job driver bytes grew $a B (sf0.001) -> $b B (sf0.01) at action time"
      }
      assert(bad.isEmpty, "row-growing driver transfer during evaluation:\n" + bad.mkString("\n"))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("self-check: a planted action-time offender (row-data accumulator) trips the gate") {
    import org.apache.spark.sql.functions.{col, concat, lit, lpad, udf}
    val listener = new MaxJobBytesByGroup("evalplant:")
    spark.sparkContext.addSparkListener(listener)
    try {
      // the offender: a UDF shipping every row's payload back to the
      // driver via a collection accumulator — nothing collects at
      // construction (the gate the OTHER test runs would pass it), but
      // evaluation's task results grow with the data
      // events grows 10× across the decade (documents does NOT at
      // these SFs — the generator holds it at 500 docs until sf0.1)
      for ((tag, dir) <- Seq("a" -> sf0001, "b" -> sf001)) {
        val acc = spark.sparkContext.collectionAccumulator[String](s"plant-$tag")
        val leak = udf { s: String => acc.add(s); if (s == null) 0 else s.length }
        spark.sparkContext.setJobGroup(s"evalplant:$tag:offender", "planted eval offender")
        try graft.Tables.eventsRaw(spark, dir)
          .select(leak(concat(col("event_id").cast("string"), lit(":"), lpad(col("event_type"), 64, "x"))).as("n"))
          .write.format("noop").mode("overwrite").save()
        finally spark.sparkContext.clearJobGroup()
      }
      waitUntilListenerEmpty()
      val a = listener.maxJob("evalplant:a:offender")
      val b = listener.maxJob("evalplant:b:offender")
      assert(b > 4 * math.max(a, 64L << 10),
        s"planted action-time offender must trip the gate ($a B -> $b B)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
