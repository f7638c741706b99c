package wxbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import scala.collection.mutable
import scala.util.Random

/** Seeded OpenWeatherMap traffic in the shape of `WeatherModel.owmSchema`,
  * plus the table the pipeline must produce from it, computed without
  * Spark.
  *
  * Every anomaly the pipeline handles is mixed in: exact duplicate
  * documents (dedup), temperatures outside [-5, 50] and humidity above 100
  * (range filters), documents missing a required path (error isolation),
  * documents without a `rain` subtree, null `visibility` and `wind.deg`,
  * and, in daily batches, a late re-delivery of the previous day's reading
  * with a different temperature (keyed upsert, last writer wins).
  *
  * No two documents with the same key differ within one pipeline call:
  * the call stamps one extraction time on the whole batch, so dedup could
  * not choose between them deterministically.
  */
object Inputs {
  val regions: IndexedSeq[String] =
    graft.model.WeatherModel.regions.map(_._1).toIndexedSeq

  /** Days since 1970-01-01 of 2024-01-01, the first generated day. */
  val firstDay: Long = 19723L

  /** Natural key of the weather table: region and `data_timestamp` in
    * epoch seconds.
    */
  type Key = (String, Long)

  /** One JSON-lines document and the row it must become (None when the
    * pipeline must drop it).
    */
  final case class Doc(json: String, row: Option[(Key, Double)])

  private val skies = IndexedSeq(
    "Clear" -> "clear sky", "Clouds" -> "scattered clouds",
    "Clouds" -> "overcast clouds", "Rain" -> "light rain",
    "Rain" -> "moderate rain", "Thunderstorm" -> "thunderstorm")

  private def r2(x: Double): Double = math.round(x * 100) / 100.0

  /** A whole document. `missing` names a required path to leave out;
    * `hot` puts temperature and humidity out of range.
    */
  private def doc(rng: Random, region: Int, dt: Long,
      missing: Option[String] = None, hot: Boolean = false): Doc = {
    val day = Math.floorDiv(dt, 86400L)
    val hour = (dt % 86400L) / 3600
    val seasonal = 3.0 * math.sin(2 * math.Pi * (day % 365) / 365.0)
    val diurnal = 5.0 * math.sin(math.Pi * (hour - 6) / 12.0)
    val normal = 14.0 + region * 0.9 + seasonal + diurnal + rng.nextGaussian()
    val temp = r2(if (hot) (if (rng.nextBoolean()) 52.5 else -7.25)
      else math.max(-4.0, math.min(49.0, normal)))
    val humidity = if (hot) 104L else 30L + rng.nextInt(70)
    val (sky, desc) = skies(rng.nextInt(skies.size))
    val b = new StringBuilder(420)
    b ++= "{\"region\":\"" ++= regions(region) ++= "\",\"dt\":" ++= dt.toString
    b ++= ",\"visibility\":"
    b ++= (if (rng.nextInt(20) == 0) "null" else (8000 + rng.nextInt(2001)).toString)
    if (!missing.contains("main")) {
      b ++= ",\"main\":{"
      if (!missing.contains("main.temp")) b ++= "\"temp\":" ++= temp.toString ++= ","
      b ++= "\"feels_like\":" ++= r2(temp + rng.nextDouble() - 0.5).toString
      b ++= ",\"temp_min\":" ++= r2(temp - 1.5).toString
      b ++= ",\"temp_max\":" ++= r2(temp + 1.5).toString
      b ++= ",\"pressure\":" ++= (1000 + rng.nextInt(30)).toString
      b ++= ",\"humidity\":" ++= humidity.toString ++= "}"
    }
    b ++= ",\"wind\":{\"speed\":" ++= r2(rng.nextDouble() * 9).toString
    b ++= ",\"deg\":"
    b ++= (if (rng.nextInt(20) == 0) "null" else rng.nextInt(360).toString) ++= "}"
    b ++= ",\"clouds\":{\"all\":" ++= rng.nextInt(101).toString ++= "}"
    b ++= ",\"weather\":"
    if (missing.contains("weather")) b ++= "[]"
    else b ++= "[{\"main\":\"" ++= sky ++= "\",\"description\":\"" ++= desc ++= "\"}]"
    if (rng.nextInt(3) > 0) {
      b ++= ",\"rain\":{\"1h\":" ++= r2(rng.nextDouble() * 12).toString
      if (rng.nextBoolean()) b ++= ",\"3h\":" ++= r2(rng.nextDouble() * 30).toString
      b ++= "}"
    }
    if (!missing.contains("sys")) {
      b ++= ",\"sys\":{\"sunrise\":" ++= (day * 86400 + 3 * 3600 + 600).toString
      b ++= ",\"sunset\":" ++= (day * 86400 + 15 * 3600 + 900).toString ++= "}"
    }
    b ++= "}"
    val kept = missing.isEmpty && !hot
    Doc(b.result(), if (kept) Some(((regions(region), dt), temp)) else None)
  }

  private val requiredPaths = IndexedSeq("main", "main.temp", "weather", "sys")

  private def dayRng(seed: Long, day: Long, salt: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L + day * 1000003L + salt)

  /** The reference's own daily traffic for `day`: one 09:00 reading per
    * region, plus (each with its own chance) an exact duplicate, an
    * out-of-range reading, a malformed document and, when
    * `redeliver`, a corrected re-delivery of yesterday's reading for one
    * region.
    */
  def dailyDocs(seed: Long, day: Long, redeliver: Boolean): Seq[Doc] = {
    val rng = dayRng(seed, day, 1)
    val base = regions.indices.map(r =>
      doc(rng, r, day * 86400 + 9 * 3600 + r * 60))
    val extra = Seq.newBuilder[Doc]
    if (rng.nextInt(10) < 3) extra += base(rng.nextInt(base.size))
    if (rng.nextInt(10) < 2)
      extra += doc(rng, rng.nextInt(regions.size), day * 86400 + 15 * 3600 + 7,
        hot = true)
    if (rng.nextInt(10) < 2)
      extra += doc(rng, rng.nextInt(regions.size), day * 86400 + 18 * 3600 + 11,
        missing = Some(requiredPaths(rng.nextInt(requiredPaths.size))))
    if (redeliver && rng.nextInt(10) < 2) {
      val r = rng.nextInt(regions.size)
      extra += doc(rng, r, (day - 1) * 86400 + 9 * 3600 + r * 60)
    }
    base ++ extra.result()
  }

  /** `days` days of daily traffic starting at [[firstDay]], as one
    * history load (no re-deliveries: a single call cannot order them).
    */
  def history(seed: Long, days: Int): Seq[Doc] =
    (0 until days).flatMap(d => dailyDocs(seed, firstDay + d, redeliver = false))

  /** Hourly readings for every region over `days` days from
    * [[firstDay]]. About 2% of readings are sent twice, 1.5% are out of
    * range and 1.5% are malformed; the noon reading is always clean so
    * every day keeps all regions.
    */
  def hourly(seed: Long, days: Int): Seq[Doc] = {
    val out = new mutable.ArrayBuffer[Doc](days * 24 * regions.size * 21 / 20)
    for (d <- 0 until days) {
      val day = firstDay + d
      val rng = dayRng(seed, day, 2)
      for (h <- 0 until 24; r <- regions.indices) {
        val dt = day * 86400 + h * 3600 + r * 60
        val roll = if (h == 12) 999 else rng.nextInt(1000)
        if (roll < 15) out += doc(rng, r, dt, hot = true)
        else if (roll < 30)
          out += doc(rng, r, dt,
            missing = Some(requiredPaths(rng.nextInt(requiredPaths.size))))
        else {
          val d0 = doc(rng, r, dt)
          out += d0
          if (roll < 50) out += d0
        }
      }
    }
    out.toSeq
  }

  def write(docs: Seq[Doc], file: File): Unit = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 20)
    try docs.foreach { d => w.write(d.json); w.write('\n') }
    finally w.close()
  }

  /** Rows and a checksum of each key's winning temperature, per date. */
  final case class DateDigest(rows: Long, checksum: Long,
      minTemp: Double, maxTemp: Double)

  def mix(key: Key, temp: Double): Long = {
    var h = key._1.hashCode.toLong * 0x9E3779B97F4A7C15L
    h ^= key._2 * 0xC2B2AE3D27D4EB4FL
    h ^= java.lang.Double.doubleToLongBits(temp) * 0x165667B19E3779F9L
    h ^ (h >>> 29)
  }

  /** Digest of any keyed temperature set, on the generator side or read
    * back from the table.
    */
  def digest(rows: Iterable[(Key, Double)]): Map[Long, DateDigest] =
    rows.groupBy { case ((_, dt), _) => Math.floorDiv(dt, 86400L) }.map {
      case (day, rs) =>
        val temps = rs.map(_._2)
        day -> DateDigest(rs.size.toLong, rs.iterator.map { case (k, t) =>
          mix(k, t) }.sum, temps.min, temps.max)
    }

  /** The weather table as the generator expects it: keyed upsert in call
    * order, last call wins.
    */
  final class ExpectedTable {
    private val rows = mutable.HashMap.empty[Key, Double]

    def load(call: Seq[Doc]): Unit =
      call.foreach(_.row.foreach { case (k, t) => rows(k) = t })

    def clear(): Unit = rows.clear()
    def size: Int = rows.size
    def digest: Map[Long, DateDigest] = Inputs.digest(rows)
  }
}
