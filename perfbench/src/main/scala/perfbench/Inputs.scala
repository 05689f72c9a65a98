package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

/** Seeded input generators. Every value is a pure function of the seed
  * and its coordinates (a splitmix64 hash), so the same seed always gives
  * the same inputs, and a release can be regenerated without replaying the
  * ones before it. */
object Gen {
  private def smix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(xs: Long*): Long = xs.foldLeft(0x5DEECE66DL)((h, x) => smix(h ^ x))
  /** uniform in [0, 1) */
  def unit(xs: Long*): Double = (hash(xs: _*) >>> 11) * (1.0 / (1L << 53))
  def pick(n: Int, xs: Long*): Int = (unit(xs: _*) * n).toInt
}

final case class Area(areaType: String, code: String, name: String,
                      population: Int, idx: Int)

/** The release document in the reference's nested shape
  * (`{areaType: {areaCode: {metric: [{date, value}], name: {value}}}}`),
  * written one file per area type. Release r covers days 0 ..
  * [[ReleaseDoc.lastDay]](r); each release revises its last three days,
  * some areas start reporting late, and a few % of (area, metric, day)
  * observations are missing. */
final class ReleaseDoc(seed: Long, sizes: Seq[(String, Int)], baseDays: Int) {
  import ReleaseDoc._

  val areas: Seq[Area] = {
    var i = 0
    sizes.flatMap { case (t, n) =>
      (0 until n).map { j =>
        i += 1
        val code = f"${Prefix(t)}$j%06d"
        Area(t, code, s"$t area $j",
          20000 + Gen.pick(400000, seed, i, 11), i)
      }
    }
  }
  def areasOf(t: String): Seq[Area] = areas.filter(_.areaType == t)

  def lastDay(release: Int): Int = baseDays + release

  /** The raw observation, or None where the release omits it. */
  def value(a: Area, m: Int, day: Int, release: Int): Option[Long] = {
    val startDay =
      if (Gen.unit(seed, a.idx, 1) < 0.15) Gen.pick(60, seed, a.idx, 2) else 0
    if (day < startDay || day > lastDay(release) ||
        Gen.unit(seed, a.idx, m, day, 3) < 0.03) None
    else {
      val level = a.population / 4000.0 * MetricScale(m)
      val phase = Gen.unit(seed, a.idx, 4) * 70
      val wave = 1.1 + math.sin(2 * math.Pi * (day + phase) / 70)
      val noise = 0.6 + 0.8 * Gen.unit(seed, a.idx, m, day, 5)
      val revision =
        if (day > lastDay(release) - 3) 0.85 + 0.3 * Gen.unit(seed, a.idx, m, day, release, 6)
        else 1.0
      Some(math.round(level * wave * noise * revision))
    }
  }

  /** Writes release `release` as one `<areaType>.json` per area type. */
  def write(release: Int, dir: Path): Unit = {
    Files.createDirectories(dir)
    sizes.foreach { case (t, _) =>
      val sb = new java.lang.StringBuilder(1 << 20)
      sb.append("{\"").append(t).append("\":{")
      areasOf(t).zipWithIndex.foreach { case (a, i) =>
        if (i > 0) sb.append(',')
        sb.append('"').append(a.code).append("\":{\"name\":{\"value\":\"")
          .append(a.name).append("\"}")
        Metrics.indices.foreach { m =>
          sb.append(",\"").append(Metrics(m)).append("\":[")
          var first = true
          (0 to lastDay(release)).foreach { d =>
            value(a, m, d, release).foreach { v =>
              if (!first) sb.append(',')
              first = false
              sb.append("{\"date\":\"").append(Start.plusDays(d))
                .append("\",\"value\":").append(v).append('}')
            }
          }
          sb.append(']')
        }
        sb.append('}')
      }
      sb.append("}}")
      Files.write(dir.resolve(s"$t.json"),
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** The population lookup the rate metrics divide by. */
  def writePopulation(file: Path): Unit =
    Files.write(file, areas.map(a => s"${a.code},${a.population}")
      .mkString("areaCode,population\n", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8))
}

object ReleaseDoc {
  val Start: LocalDate = LocalDate.of(2020, 3, 1)
  /** one base metric from each of the zero-fill, rolling-rate and
    * change/direction families */
  val Metrics = Seq("newCasesBySpecimenDate", "newDeathsByDeathDate",
    "newAdmissions")
  private val MetricScale = Seq(1.0, 0.05, 0.2)
  private val Prefix = Map("overview" -> "K02", "nation" -> "E92",
    "region" -> "E12", "nhsRegion" -> "E40", "nhsTrust" -> "RTR",
    "utla" -> "E10", "ltla" -> "E07")
}
