package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Serving
import graft.pipeline.EavStore

/** One serving request, pruned to one release × areaType partition and
  * one metric. `areaCode` is used by `blob` only. */
final case class Req(kind: String, release: Int, areaType: String,
                     metric: String, areaCode: String) {
  def key: String = s"$kind|$release|$areaType|$metric|$areaCode"
  def toJson: Map[String, Any] = Map("kind" -> kind, "release" -> release,
    "areaType" -> areaType, "metric" -> metric, "areaCode" -> areaCode,
    "partition_id" -> ReleasePath.partitionId(release, areaType))
}

/** The serving path over the EAV store, through the program's `Serving`
  * operators. */
object Serve {
  val Kinds = Seq("percentile", "latest", "top_n", "delta", "blob")
  val Percentiles = Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p90" -> 0.9)

  /** The non-null observations of one metric in one partition. */
  private def base(spark: SparkSession, store: String, release: Int,
                   areaType: String, metric: String): DataFrame =
    EavStore.read(spark, store)
      .where(col("partition_id") === ReleasePath.partitionId(release, areaType) &&
        col("metric") === metric)
      .select(col("areaType"), col("areaCode"), col("date"),
        get_json_object(col("payload"), "$.value").cast("double").as("value"))
      .where(col("value").isNotNull)

  private def latestPerArea(d: DataFrame): DataFrame =
    Serving.topNPerGroup(d, Seq("areaCode"), Seq(col("date").desc), 1)

  private def plan(spark: SparkSession, store: String, r: Req): DataFrame = {
    val b = base(spark, store, r.release, r.areaType, r.metric)
    r.kind match {
      case "percentile" =>
        val latest = Serving.atLatestDate(b, "date")
        Serving.percentileDisc(latest, Seq("areaType"), "value", Percentiles)
          .join(Serving.percentileCont(latest, Seq("areaType"), "value",
            Percentiles.map { case (n, p) => (s"c$n", p) }), Seq("areaType"))
      case "latest" =>
        latestPerArea(b).select("areaCode", "date", "value")
      case "top_n" =>
        Serving.topNPerGroup(Serving.atLatestDate(b, "date"), Seq("areaType"),
          Seq(col("value").desc, col("areaCode")), 10, useRowNumber = true)
          .select("areaCode", "date", "value")
      case "delta" =>
        val prev = base(spark, store, r.release - 1, r.areaType, r.metric)
        Serving.releaseDelta(latestPerArea(b).select("areaCode", "value"),
          latestPerArea(prev).select("areaCode", "value"),
          Seq("areaCode"), "value", "delta")
      case "blob" =>
        Serving.jsonAgg(b.where(col("areaCode") === r.areaCode), Seq("areaCode"),
          "date", Seq("value"), "blob")
    }
  }

  def run(spark: SparkSession, store: String, r: Req): Array[Row] =
    plan(spark, store, r).collect()

  /** Rows as JSON-ready lists (dates as ISO strings). */
  def rowsJson(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(_.toSeq.map {
      case d: java.sql.Date => d.toString
      case d: java.time.LocalDate => d.toString
      case v => v
    })
}
