package perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a layer: its wall interval, the span that caused it, the
  * request/release it served, and the Spark work attributed to it while it
  * was the innermost open span. */
final class Span(val id: Int, val name: String, val parent: Option[Span],
                 val tag: String, val start: Long) {
  var end = 0L
  val children = mutable.ArrayBuffer.empty[Span]
  var jobs, stages, tasks, cpuNs, gcMs, shuffleBytes, spillBytes = 0L
  var rowsWritten, bytesWritten, filesWritten, pinnedBytes = 0L
  var queries, exchanges = 0L
  /** client-thread time the recorder spent in this span (bus drains,
    * reopening cut files) */
  var overheadNs = 0L
  var scanFiles, scanPartitions, scanBytes, scanRows = 0L
  var taskSkew = 0.0
  /** root paths of the file scans of each executed query, in order */
  val queryScans = mutable.ArrayBuffer.empty[Seq[String]]
  /** the parquet path the layer consumes, where it has one */
  var input = ""
  /** facts the client measured around the call (rows out, bytes on disk) */
  val facts = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def durNs: Long = end - start
  /** Duration minus the part its children cover (children run on the one
    * client thread, so they never overlap). */
  def selfNs: Long = durNs - children.map(_.durNs).sum

  /** This span and all its descendants. */
  def subtree: Seq[Span] = this +: children.toSeq.flatMap(_.subtree)
}

/** The traced run's recorder: spans kept in memory, plus a SparkListener
  * and a QueryExecutionListener that attribute Spark work to the active
  * span. Jobs carry the span id as a local property, so stage and task
  * metrics land on the span that submitted them; query-level facts
  * (plans, scans, writes) and block updates land on the innermost open
  * span, which is exact because every span boundary drains the bus.
  *
  * Created only for `--trace 1`; an untraced run registers nothing. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with AdaptiveSparkPlanHelper {
  private val sc = spark.sparkContext
  private val Key = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[Int, Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  @volatile private var current: Option[Span] = None

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  /** The innermost open span, for the client to attach facts to. */
  def open: Option[Span] = current

  def span[T](name: String, tag: String)(body: => T): T = {
    val t0 = System.nanoTime()
    BusDrain(sc)
    val s = synchronized {
      val s = new Span(spans.size, name, current, tag, System.nanoTime())
      spans += s; byId(s.id) = s; current.foreach(_.children += s)
      current = Some(s); s
    }
    s.overheadNs += s.start - t0
    sc.setLocalProperty(Key, s.id.toString)
    try body
    finally {
      val t1 = System.nanoTime()
      BusDrain(sc)
      s.end = System.nanoTime()
      s.overheadNs += s.end - t1
      synchronized { current = s.parent }
      sc.setLocalProperty(Key, s.parent.map(_.id.toString).orNull)
    }
  }

  /** Runs `body` as recorder overhead of the innermost open span. */
  def overhead[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally current.foreach(_.overheadNs += System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    for {
      props <- Option(e.properties)
      id <- Option(props.getProperty(Key))
      s <- byId.get(id.toInt)
    } {
      s.jobs += 1
      e.stageInfos.foreach(si => stageSpan(si.stageId) = s)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      s.tasks += 1
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        s.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.diskBytesSpilled
        s.rowsWritten += m.outputMetrics.recordsWritten
        s.bytesWritten += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val id = e.stageInfo.stageId
      stageSpan.get(id).foreach { s =>
        s.stages += 1
        stageTasks.remove(id).filter(_.size >= 2).foreach { d =>
          val sorted = d.sorted
          val median = math.max(sorted(sorted.size / 2), 1L)
          s.taskSkew = math.max(s.taskSkew, sorted.last.toDouble / median)
        }
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid)
      synchronized(current.foreach(_.pinnedBytes += info.memSize + info.diskSize))
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    current.foreach { s =>
      val plan = qe.executedPlan
      s.queries += 1
      s.exchanges += collect(plan) { case x: ShuffleExchangeLike => x }.size
      val scans = collectWithSubqueries(plan) { case x: FileSourceScanExec => x }
      def metric(x: org.apache.spark.sql.execution.SparkPlan, k: String) =
        x.metrics.get(k).map(_.value).getOrElse(0L)
      scans.foreach { x =>
        s.scanFiles += metric(x, "numFiles")
        s.scanPartitions += metric(x, "numPartitions")
        s.scanBytes += metric(x, "filesSize")
        s.scanRows += metric(x, "numOutputRows")
      }
      s.queryScans += scans.flatMap(_.relation.location.rootPaths.map(_.toString))
      collect(plan) { case w: DataWritingCommandExec => w }
        .foreach(w => s.filesWritten += metric(w, "numFiles"))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  /** Waits for every pending event, then stops listening. */
  def close(): Unit = {
    BusDrain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}
