package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.io.Source

import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** One benchmark run in one JVM:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out FILE --launched-ms EPOCH_MS`.
  *
  * Builds the workload's fixture (setup_s runs from `--launched-ms`, when
  * the JVM was started, to the first timed operation), then runs its closed
  * loop for S seconds and at least [[MinOps]] operations, and writes the
  * metrics plus everything the output checks need to FILE. Untraced, the
  * metrics are the end-to-end ones; traced, every call into a layer is a
  * span and the metrics are the per-layer ones plus the tracing overhead. */
object Main {
  /** operations a run makes at least, however long they take */
  val MinOps = 1

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val work = Path.of(a("work"))
    val launched = a("launched-ms").toLong
    val spark = graft.LocalSession.create()
    val launchS = (System.currentTimeMillis() - launched) / 1e3
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val b = new Bench(spark, seed, tracer)
    val w = Workloads(a("workload"), b)

    w.setup(work)
    val setupS = (System.currentTimeMillis() - launched) / 1e3
    // requests made while setting up are checked and counted, not timed
    val setupServes = b.serves.size

    val limitNs = (a("seconds").toDouble * 1e9).toLong
    val t0 = System.nanoTime()
    var i = 0
    while (System.nanoTime() - t0 < limitNs || i < MinOps) {
      w.prepare(i)
      b.guarded(w.step(i))
      i += 1
    }
    tracer.foreach(_.close())
    val serveMs = b.serves.drop(setupServes).map(_ / 1e6)

    val metrics =
      if (trace) Layers.metrics(tracer.get.spans.toSeq, w.storeFacts)
      else Map(
        "setup_s" -> Stats.v(setupS, "s"),
        "op_p50_ms" -> Stats.v(Stats.median(b.ops.map(_._1 / 1e6)), "ms"),
        "op_cpu_ms" -> Stats.v(Stats.median(b.ops.map(_._2 / 1e6)), "ms"),
        // requests per second of serving time for the one closed-loop
        // client, i.e. over the mean latency: a median of release_day's
        // mix of five request kinds jumps between kinds from run to run
        "serve_qps" -> Stats.v(serveMs.size / (serveMs.sum / 1e3), "req/s"))
    val record = Map(
      "ops" -> b.ops.size, "serves" -> serveMs.size,
      "op_ms" -> b.ops.map(_._1 / 1e6), "serve_ms" -> serveMs,
      "launch_s" -> launchS, "rss_peak_mb" -> rssPeakMb,
      "measured_s" -> (System.nanoTime() - t0) / 1e9) ++ w.record ++
      tracer.map(t => "spans" -> t.spans.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent.map(_.id), "tag" -> s.tag, "start_ms" -> (s.start - t0) / 1e6,
        "dur_ms" -> s.durNs / 1e6, "self_ms" -> s.selfNs / 1e6, "jobs" -> s.jobs,
        "task_cpu_ms" -> s.cpuNs / 1e6, "overhead_ms" -> s.overheadNs / 1e6)))
    val out = Map(
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "attempted" -> b.attempted, "failed" -> b.failed, "record" -> record,
      "checks" -> w.checkFacts,
      "responses" -> b.responses.values.map { case (r, rows) => Map("req" -> r, "rows" -> rows) })
    Files.write(Path.of(a("out")),
      Serialization.write(out)(DefaultFormats).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  private def rssPeakMb: Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }
}

object Stats {
  /** a metric value with its unit */
  def v(value: Double, unit: String): (Double, String) = (value, unit)

  def median(xs: collection.Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
}
