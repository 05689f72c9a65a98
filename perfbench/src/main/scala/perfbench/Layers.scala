package perfbench

/** Per-layer metrics from the traced operations' spans. Every name is
  * reported on every workload (0 where the workload does not exercise the
  * layer). Unless stated otherwise a value is the mean per call of its
  * layer: per release, per request, per upsert, per night. */
object Layers {
  private val Parse = "sources.parse"
  private val Pivot = "operators.pivot"
  private val Transform = "operators.transform"
  private val MeltHash = "operators.melt_hash"
  private val Upsert = "pipeline.eav.upsert"
  private val Serving = "operators.serving"
  private val Curation = Seq("pipeline.release_build.takedown",
    "pipeline.release_build.roll_forward", "pipeline.index_store.delete",
    "pipeline.index_store.query", "pipeline.vector_release.maintain")

  def metrics(all: Seq[Span],
              storeFacts: Map[String, Double]): Map[String, (Double, String)] = {
    val opSpans = all.filter(s => s.parent.isEmpty && s.name.startsWith("op."))
    val inOps = opSpans.flatMap(_.subtree)
    def named(n: String) = inOps.filter(_.name == n)
    def mean(ss: Seq[Span])(f: Span => Double): Double =
      if (ss.isEmpty) 0.0 else ss.map(f).sum / ss.size
    def per(n: String)(f: Span => Double): Double = mean(named(n))(f)
    def maxOf(n: String)(f: Span => Double): Double = named(n).map(f).maxOption.getOrElse(0.0)
    val selfS = (s: Span) => s.selfNs / 1e9
    val cpuS = (s: Span) => s.cpuNs / 1e9
    /** queries of an upsert span that scanned its incoming parquet */
    def inputEvals(s: Span): Double =
      if (s.input.isEmpty) 0 else s.queryScans.count(_.exists(_.contains(s.input))).toDouble

    val upserts = named(Upsert)
    // the first upsert into an empty store runs in setup (release_day's
    // warm release), outside every op span
    val firstUpserts = all.filter(s => s.name == Upsert && s.facts("first") == 1)
    val serving = inOps.filter(_.name.startsWith(Serving + "."))
    val incomingBytes = upserts.map(_.facts("incoming_bytes")).sum

    val m = Map[String, (Double, String)](
      s"$Parse.self_s" -> Stats.v(per(Parse)(selfS), "s"),
      s"$Parse.cpu_s" -> Stats.v(per(Parse)(cpuS), "s"),
      s"$Parse.tasks" -> Stats.v(per(Parse)(_.tasks), "count"),
      s"$Parse.rows_out" -> Stats.v(per(Parse)(_.rowsWritten), "rows"),
      s"$Pivot.self_s" -> Stats.v(per(Pivot)(selfS), "s"),
      s"$Pivot.shuffle_bytes" -> Stats.v(per(Pivot)(_.shuffleBytes), "B"),
      s"$Transform.self_s" -> Stats.v(per(Transform)(selfS), "s"),
      s"$Transform.cpu_s" -> Stats.v(per(Transform)(cpuS), "s"),
      s"$Transform.gc_s" -> Stats.v(per(Transform)(_.gcMs / 1e3), "s"),
      s"$Transform.shuffle_bytes" -> Stats.v(per(Transform)(_.shuffleBytes), "B"),
      s"$Transform.spill_bytes" -> Stats.v(per(Transform)(_.spillBytes), "B"),
      s"$Transform.exchanges" -> Stats.v(per(Transform)(_.exchanges), "count"),
      s"$Transform.task_skew" -> Stats.v(maxOf(Transform)(_.taskSkew), "ratio"),
      s"$Transform.rows_out" -> Stats.v(per(Transform)(_.rowsWritten), "rows"),
      s"$MeltHash.self_s" -> Stats.v(per(MeltHash)(selfS), "s"),
      s"$MeltHash.cpu_s" -> Stats.v(per(MeltHash)(cpuS), "s"),
      s"$MeltHash.rows_out" -> Stats.v(per(MeltHash)(_.rowsWritten), "rows"),
      s"$Upsert.self_s" -> Stats.v(per(Upsert)(selfS), "s"),
      s"$Upsert.cpu_s" -> Stats.v(per(Upsert)(cpuS), "s"),
      s"$Upsert.jobs" -> Stats.v(per(Upsert)(_.jobs), "count"),
      s"$Upsert.input_evals" -> Stats.v(per(Upsert)(inputEvals), "count"),
      s"$Upsert.input_evals_first" -> Stats.v(mean(firstUpserts)(inputEvals), "count"),
      s"$Upsert.rows_written" -> Stats.v(per(Upsert)(_.rowsWritten), "rows"),
      s"$Upsert.old_rows_rewritten" ->
        Stats.v(per(Upsert)(s => s.rowsWritten - s.facts("incoming_rows")), "rows"),
      s"$Upsert.bytes_written" -> Stats.v(per(Upsert)(_.facts("fs_bytes_written")), "B"),
      s"$Upsert.files_written" -> Stats.v(per(Upsert)(_.filesWritten), "count"),
      s"$Upsert.shuffle_bytes" -> Stats.v(per(Upsert)(_.shuffleBytes), "B"),
      "pipeline.eav.write_amp" -> Stats.v(if (incomingBytes == 0) 0.0
        else upserts.map(_.facts("fs_bytes_written")).sum / incomingBytes, "ratio"),
      "pipeline.eav.files_per_partition_max" ->
        Stats.v(storeFacts.getOrElse("pipeline.eav.files_per_partition_max", 0.0), "count"),
      "pipeline.eav.store_bytes_per_row" ->
        Stats.v(storeFacts.getOrElse("pipeline.eav.store_bytes_per_row", 0.0), "B/row"),
      s"$Serving.files_read" -> Stats.v(mean(serving)(_.scanFiles), "count"),
      s"$Serving.partitions_read" -> Stats.v(mean(serving)(_.scanPartitions), "count"),
      s"$Serving.bytes_read" -> Stats.v(mean(serving)(_.scanBytes), "B"),
      s"$Serving.rows_scanned_per_row_out" -> Stats.v(serving.map(_.scanRows).sum.toDouble /
        math.max(serving.map(_.facts("rows_out")).sum, 1.0), "ratio"),
      s"$Serving.jobs" -> Stats.v(mean(serving)(_.jobs), "count"),
      "pipeline.pinned_bytes" -> Stats.v(mean(opSpans)(_.subtree.map(_.pinnedBytes).sum), "B"),
      "spark.jobs" -> Stats.v(mean(opSpans)(_.subtree.map(_.jobs).sum), "count"),
      "spark.stages" -> Stats.v(mean(opSpans)(_.subtree.map(_.stages).sum), "count"),
      "spark.tasks" -> Stats.v(mean(opSpans)(_.subtree.map(_.tasks).sum), "count"),
      "spark.gc_s" -> Stats.v(mean(opSpans)(_.subtree.map(_.gcMs).sum / 1e3), "s"),
      "spark.task_skew_max" -> Stats.v(inOps.map(_.taskSkew).maxOption.getOrElse(0.0), "ratio"),
      "trace.overhead_ms" -> Stats.v(mean(opSpans)(_.subtree.map(_.overheadNs).sum / 1e6), "ms"))

    val kinds = Serve.Kinds.map(k => s"$Serving.$k.self_s" -> Stats.v(per(s"$Serving.$k")(selfS), "s"))
    val curation = Curation.flatMap { n =>
      Seq(s"$n.self_s" -> Stats.v(per(n)(selfS), "s"), s"$n.jobs" -> Stats.v(per(n)(_.jobs), "count"),
        s"$n.shuffle_bytes" -> Stats.v(per(n)(_.shuffleBytes), "B"))
    }
    m ++ kinds ++ curation
  }
}
