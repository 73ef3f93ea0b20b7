package perfbench

import java.nio.file.{Files, Path}

import scala.util.Try

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM, driven by `perfbench/run.py`:
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <out json> <lanes>
  *
  * Generates the seeded inputs, sets up `Setups` times (a fresh
  * `Sessions.local` plus the workload's preparation; the last one is
  * kept), runs one untimed warm-up round, then measured rounds of a
  * closed loop with one client: as many as take about `seconds` at the
  * workload's nominal round time. With tracing, untraced and traced
  * rounds alternate (U T U … T U), so the run measures its own tracing
  * overhead against the untraced rounds on either side. Writes raw
  * samples, trace and provenance as JSON; `run.py` turns them into
  * metrics.
  */
object Main {
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, outS, lanesS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val work = Path.of(workS).toAbsolutePath
    Files.createDirectories(work)
    val cpus = Runtime.getRuntime.availableProcessors()
    val lanes = lanesS.split(",").toSeq.filter(_.nonEmpty).map { s => val Array(l, m) = s.split(":"); (l, m) }

    val wl: Workload = workload match {
      case "dataset" =>
        new DatasetWorkload(new IngestWorkload(work, seed, nFiles = 1000, avgBytes = 40000),
          new CatalogWorkload(work, seed, nFiles = 12000))
      case "analytics" => new AnalyticsWorkload(work, seed, lanes, nEvents = 5000, nDocs = 250)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val (_, genS) = Util.timeS(wl.generate())

    var spark: SparkSession = null
    val setupS = (1 to Setups).map { _ =>
      if (spark != null) spark.stop()
      val (s, secs) = Util.timeS { val s = graft.Sessions.local(cpus); wl.prepare(s); s }
      spark = s
      secs
    }

    // The dataset workload models a long-lived session: one untimed
    // warm-up round first. Analytics models a batch job, so its
    // measured pass is the first in the JVM, unless the run is traced
    // (traced and untraced passes must then compare warm to warm).
    val warmFailures =
      if (wl.isInstanceOf[AnalyticsWorkload] && !trace) Seq.empty
      else {
        val t = new Tracer(spark)
        wl.round(spark, t, 0)
        t.ops.filterNot(_.ok).map(o => s"warm-up ${o.kind}: ${o.error}").toSeq
      }

    // A fixed number of rounds, sized so that they take about `seconds`
    // at the reference speed: two builds under comparison measure the
    // same work, and a faster one does not earn extra, warmer rounds.
    val measured = math.max(1, math.round(seconds / wl.nominalRoundS).toInt)
    val t = new Tracer(spark)
    val rounds = (1 to (if (trace) 2 * measured + 1 else measured)).map { r =>
      t.setTracing(trace && r % 2 == 0)
      val first = t.ops.size
      val (_, s) = Util.timeS(wl.round(spark, t, r))
      Json.obj("first" -> first.toString, "last" -> (t.ops.size - 1).toString,
        "traced" -> t.isTracing.toString, "wall_s" -> Json.num(s))
    }

    wl match { case a: AnalyticsWorkload => a.writeOracleSql(); case _ => () }
    val conf = spark.conf.getAll.toSeq.sorted ++
      Seq("spark.sql.codegen.cache.maxEntries" ->
        Try(spark.conf.get("spark.sql.codegen.cache.maxEntries")).getOrElse("unset"))
    val traceJson = t.json
    val out = Json.obj(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "seconds" -> Json.num(seconds),
      "trace" -> trace.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "cpus" -> cpus.toString,
      "spark_version" -> Json.str(spark.version),
      "conf" -> Json.obj(conf.distinctBy(_._1).map { case (k, v) => k -> Json.str(v) }: _*),
      "inputs" -> Json.obj(wl.inputs: _*),
      "generate_s" -> Json.num(genS),
      "setup_s" -> Json.arr(setupS.map(Json.num)),
      "warm_failures" -> Json.strs(warmFailures),
      "rounds" -> Json.arr(rounds),
      "extra" -> Json.obj(wl.extra: _*),
      "peak_rss_mb" -> Json.num(Util.peakRssMb()),
      "trace_data" -> traceJson
    )
    Files.writeString(Path.of(outS), out)
    spark.stop()
  }
}
