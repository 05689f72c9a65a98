package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.pipeline.EavStore

/** The client side of one run: times operations and serving requests,
  * records spans when the operation in progress is traced, keeps each
  * distinct serving response for the output checks, and counts failures. */
final class Bench(val spark: SparkSession, val seed: Long,
                  val tracer: Option[Tracer]) {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs: Long = os.getProcessCpuTime

  /** (wall ns, process CPU ns) per timed operation */
  val ops = mutable.ArrayBuffer.empty[(Long, Long)]
  /** wall ns per serving request */
  val serves = mutable.ArrayBuffer.empty[Long]
  /** first response of each distinct request, with its rows */
  val responses = mutable.LinkedHashMap.empty[String, (Map[String, Any], Seq[Seq[Any]])]
  /** operations that threw, and responses that disagreed with an earlier one */
  var errors, mismatches = 0L
  def failed: Long = errors + mismatches
  def attempted: Long = ops.size + serves.size + errors

  def traced: Boolean = tracer.isDefined

  def span[T](name: String, tag: String)(body: => T): T =
    tracer.fold(body)(_.span(name, tag)(body))

  /** Attach a client-measured fact to the innermost open span. */
  def fact(k: String, v: Double): Unit =
    if (traced) tracer.flatMap(_.open).foreach(_.facts(k) += v)

  /** One timed unit of work of the workload. */
  def timeOp[T](name: String, tag: String)(body: => T): T = {
    val (w0, c0) = (System.nanoTime(), cpuNs)
    val out = span(name, tag)(body)
    ops += ((System.nanoTime() - w0, cpuNs - c0))
    out
  }

  /** One timed serving request: `body` runs the request and returns its rows. */
  def request(spanName: String, tag: String)(body: => Array[Row]): Array[Row] = {
    val t0 = System.nanoTime()
    val rows = span(spanName, tag) {
      val rows = body
      fact("rows_out", rows.length)
      rows
    }
    serves += System.nanoTime() - t0
    rows
  }

  /** A store serving request. The first response of each distinct
    * request is kept for the checks; a repeat that answers differently
    * counts as a failure. */
  def serve(store: String, r: Req): Array[Row] = {
    val rows = request(s"operators.serving.${r.kind}", r.key)(Serve.run(spark, store, r))
    val json = Serve.rowsJson(rows)
    responses.get(r.key) match {
      case Some((_, first)) => if (first.toSet != json.toSet) mismatches += 1
      case None => responses(r.key) = (r.toJson, json)
    }
    rows
  }

  /** A lazy layer's boundary in the traced run: materialize its output to a
    * cut file inside the layer's span and hand the next layer the file.
    * Reopening the file is tracing overhead; the write runs the layer's own
    * work and is its self time. Untraced, the plan passes through unchanged. */
  def cut(name: String, tag: String, dir: Path)(df: => DataFrame): DataFrame =
    tracer.fold(df) { t =>
      val path = dir.resolve(s"$name-$tag").toString
      span(name, tag)(df.write.parquet(path))
      t.overhead(spark.read.parquet(path))
    }

  /** `EavStore.upsert` under its span. Traced, it also records the incoming
    * parquet path (to count the queries that scan it) and the bytes the
    * write added under the store path. */
  def upsert(df: DataFrame, store: String, input: String, inputBytes: Double,
             inputRows: Double, first: Boolean): Unit =
    span("pipeline.eav.upsert", input) {
      val before = if (traced) Disk.files(Path.of(store)) else Map.empty[String, Long]
      tracer.flatMap(_.open).foreach(_.input = input)
      EavStore.upsert(spark, df, store)
      if (traced) {
        val after = Disk.files(Path.of(store))
        fact("fs_bytes_written", after.collect { case (f, n) if !before.contains(f) => n }.sum)
        fact("incoming_bytes", inputBytes)
        fact("incoming_rows", inputRows)
        fact("first", if (first) 1 else 0)
      }
    }

  /** Run `body`, counting an exception as one failed operation. */
  def guarded(body: => Unit): Unit =
    try body
    catch {
      case e: Exception =>
        errors += 1
        System.err.println(s"[perfbench] operation failed: $e")
        e.printStackTrace()
    }
}

/** Filesystem facts about a store directory. */
object Disk {
  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toList

  private def data(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  /** data file → size */
  def files(root: Path): Map[String, Long] =
    walk(root).filter(data).map(f => f.toString -> Files.size(f)).toMap

  def bytes(root: Path): Long = files(root).values.sum

  /** most parquet files in any `partition_id=` directory */
  def maxFilesPerPartition(root: Path): Int =
    if (!Files.exists(root)) 0
    else Files.list(root).iterator().asScala
      .filter(d => Files.isDirectory(d) && d.getFileName.toString.startsWith("partition_id="))
      .map(d => Files.list(d).iterator().asScala.count(f => data(f) &&
        f.getFileName.toString.endsWith(".parquet")))
      .maxOption.getOrElse(0)

  def delete(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toList.reverse.foreach(Files.delete)

  def copy(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    }
}
