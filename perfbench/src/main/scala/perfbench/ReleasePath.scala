package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.HashFunctions
import graft.operators.{Fill, Reshape, Rolling, Trim}
import graft.pipeline.MainPipeline
import graft.sources.NestedJson

/** The paper's daily path composed from the program's public layer calls:
  * parse → pivot → densify/fill → rolling family → rates → trim →
  * melt + keyed BLAKE2s, ready for `EavStore.upsert`. Each step is lazy;
  * the traced run cuts between them (see [[Cut]]). */
object ReleasePath {
  val Keys = Seq("areaType", "areaCode", "areaName")
  private val Seq(cases, deaths, admissions) = ReleaseDoc.Metrics
  /** base metrics whose trailing days are incomplete */
  private val Trimmed = Seq(cases, s"${cases}RollingSum", s"${cases}RollingRate")
  private def family(m: String) =
    Seq(m, s"${m}RollingSum", s"${m}Change", s"${m}Direction", s"${m}ChangePercentage")
  /** the metrics one release writes per (area, date) */
  val OutMetrics: Seq[String] =
    family(cases) ++ Seq(s"${cases}RollingRate", deaths) ++ family(admissions)
  /** the numeric ones, which serving requests may ask for */
  val ServedMetrics: Seq[String] = OutMetrics.filterNot(_.endsWith("Direction"))

  def partitionId(release: Int, areaType: String): String =
    s"${MainPipeline.releaseDate(release)}|$areaType"

  def parse(spark: SparkSession, docDir: String): DataFrame =
    NestedJson.parseRelease(spark, docDir)

  def pivot(long: DataFrame): DataFrame =
    Reshape.pivotWide(long, Keys :+ "date", "category", "value", ReleaseDoc.Metrics)

  def transform(wide: DataFrame, population: DataFrame): DataFrame = {
    val dense = Reshape.densifyDates(wide, Keys, "date")
    val filled = Seq(cases, deaths).foldLeft(dense)((d, m) =>
      Fill.zeroFillBounded(d, Keys, "date", m))
    val rolled = Seq(cases, admissions).foldLeft(filled)((d, m) =>
      Rolling.changeBySum(d, Keys, "date", m))
    val rated = Rolling.ratePer(
      rolled.join(broadcast(population), Seq("areaCode"), "left"),
      s"${cases}RollingSum", "population", s"${cases}RollingRate").drop("population")
    Trim.trimEnd(rated, "date", Trimmed, daysToTrim = 5, cutoffFrom = Some(wide))
  }

  /** Wide → EAV rows with JSON payloads, partition ids and the keyed row
    * hash, in the store's column order. */
  def meltHash(derived: DataFrame, release: Int): DataFrame = {
    val wrapped = OutMetrics.foldLeft(derived)((d, m) => d.withColumn(m,
      to_json(struct(col(m).as("value")), Map("ignoreNullFields" -> "false"))))
    Reshape.melt(wrapped.select((Seq("areaType", "areaCode", "date") ++ OutMetrics).map(col): _*),
        ids = Seq("areaType", "areaCode", "date"), metrics = OutMetrics)
      .withColumn("release_id", lit(release))
      .withColumn("partition_id",
        concat(lit(MainPipeline.releaseDate(release) + "|"), col("areaType")))
      .transform(withHash)
      .select("hash", "release_id", "areaType", "areaCode", "metric",
        "partition_id", "date", "payload")
  }

  /** The reference's row identity: keyed BLAKE2s over date, area, metric
    * and release. */
  def withHash(eav: DataFrame): DataFrame =
    eav.withColumn("hash", HashFunctions.blake2sHex(
      concat(date_format(col("date"), "yyyy-MM-dd"), col("areaType"),
        col("areaCode"), col("metric"), col("release_id").cast("string")),
      MainPipeline.RecordKey, 12))

  def population(spark: SparkSession, file: String): DataFrame =
    spark.read.schema("areaCode STRING, population DOUBLE")
      .option("header", "true").csv(file)
}
