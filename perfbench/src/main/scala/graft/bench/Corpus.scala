package graft.bench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.{CRC32, Deflater, ZipEntry, ZipOutputStream}
import scala.collection.mutable.ArrayBuffer
import graft.ingest.AirQualitySchema

/** One archive layout of a corpus: `archives` zips of `entriesPerArchive`
  * CSV entries each, every entry with its own header line. */
final case class Shape(name: String, archives: Int, entriesPerArchive: Int) {
  def entries: Int = archives * entriesPerArchive
}

/** A generated ingest corpus: the same rows in every requested shape, and
  * the checksum of every projected column. */
final case class Corpus(dir: File, rows: Long, zips: Map[String, Seq[File]],
                        csvBytes: Map[String, Long], checksums: Map[String, Long]) {
  def glob(shape: String): String = s"${dir.getAbsolutePath}/$shape/*.zip"
}

/** Seeded air-quality corpus in the reference's 19-column layout.
  *
  * Rows go out in order, each into every requested [[Shape]], split evenly
  * over its entries. Archives use the fastest deflate level, which keeps
  * generation short; inflate cost barely depends on the level.
  * Values are fixed-point (cents, or 1e-4 degrees for coordinates), so a
  * checksum over the parsed doubles is exact: the generator sums the
  * integers it printed, and [[Corpus.checksumColumns]] recomputes the same
  * sums from the Parquet output. Formatting is hand-rolled into one byte
  * buffer per row: `String.format` would cost tens of seconds per corpus. */
object Corpus {

  private val Stations = 64
  private val Cities = Array("Lisboa", "Porto", "Braga", "Coimbra", "Faro",
    "Aveiro", "Evora", "Leiria")
  private val BaseEpoch = java.time.LocalDateTime.of(2021, 1, 1, 0, 0)
    .toEpochSecond(java.time.ZoneOffset.UTC)

  private def stationName(s: Int) = f"Station $s%02d ${Cities(s % Cities.length)}"
  private def lat4(s: Int): Int = 370000 + (s * 977) % 50000       // 37.0..42.0
  private def lon4(s: Int): Int = -(60000 + (s * 1231) % 35000)    // -6.0..-9.5

  /** The checksum Spark computes for each projected column, keyed like
    * [[AirQualitySchema.projectedColumns]]; the generator's sums match these
    * expressions exactly. */
  def checksumColumns: Seq[(String, String)] = {
    def q(c: String) = s"`$c`"
    Seq("Date" -> s"sum(unix_timestamp(${q("Date")}))") ++
      Seq("NO2", "O3", "PM10", "PM2.5").map(c =>
        c -> s"sum(cast(round(${q(c)} * 100) as bigint))") ++
      Seq("Latitude", "Longitude").map(c =>
        c -> s"sum(cast(round(${q(c)} * 10000) as bigint))") :+
      ("station_name" -> s"sum(crc32(cast(${q("station_name")} as binary)))")
  }

  private final class Line {
    val buf = new Array[Byte](512)
    var n = 0
    def byte(b: Int): Unit = { buf(n) = b.toByte; n += 1 }
    def bytes(a: Array[Byte]): Unit = { System.arraycopy(a, 0, buf, n, a.length); n += a.length }
    def long(v: Long): Unit = {
      if (v < 0) { byte('-'); long(-v) }
      else { if (v >= 10) long(v / 10); byte('0' + (v % 10).toInt) }
    }
    /** `v / 10^scale`, always printed with `scale` decimals. */
    def fixed(v: Long, scale: Int, pow: Long): Unit = {
      if (v < 0) byte('-')
      val a = math.abs(v)
      long(a / pow)
      byte('.')
      var frac = a % pow
      var p = pow / 10
      while (p > 0) { byte('0' + (frac / p).toInt); frac %= p; p /= 10 }
    }
    def comma(): Unit = byte(',')
  }

  /** Writes rows into one shape, opening entries and archives as the
    * even row split crosses their boundaries. */
  private final class ShapeWriter(dir: File, shape: Shape, rows: Int, header: Array[Byte]) {
    dir.mkdirs()
    val zips = ArrayBuffer.empty[File]
    var bytes = 0L
    private var zos: ZipOutputStream = _
    private var entry = -1
    private var end = 0L
    private def open(): Unit = {
      entry += 1
      if (entry % shape.entriesPerArchive == 0) {
        if (zos != null) zos.close()
        val zf = new File(dir, f"air_quality_${entry / shape.entriesPerArchive}%03d.zip")
        zips += zf
        zos = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(zf), 1 << 20))
        zos.setLevel(Deflater.BEST_SPEED)
      } else zos.closeEntry()
      zos.putNextEntry(new ZipEntry(
        if (shape.entries == 1) "air_quality.csv" else f"air_quality_$entry%04d.csv"))
      zos.write(header); bytes += header.length
      end = (entry + 1).toLong * rows / shape.entries
    }
    def write(row: Int, buf: Array[Byte], n: Int): Unit = {
      while (row >= end) open()
      zos.write(buf, 0, n); bytes += n
    }
    def close(): Unit = {
      while (entry < shape.entries - 1) open() // entries left empty by a tiny corpus
      zos.close()
    }
  }

  def generate(dir: File, seed: Long, rows: Int, shapes: Seq[Shape]): Corpus = {
    val rnd = new SplittableRandom(seed)
    val header = (AirQualitySchema.expectedColumns.mkString(",") + "\n").getBytes(UTF_8)
    val names = Array.tabulate(Stations)(s => stationName(s).getBytes(UTF_8))
    val nameCrc = names.map { b => val c = new CRC32; c.update(b); c.getValue }
    val lat = Array.tabulate(Stations)(lat4)
    val lon = Array.tabulate(Stations)(lon4)
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    val dates = Array.tabulate(rows / Stations + 1)(h =>
      java.time.LocalDateTime.ofEpochSecond(BaseEpoch + h * 3600L, 0,
        java.time.ZoneOffset.UTC).format(fmt).getBytes(UTF_8))

    val sums = scala.collection.mutable.Map(AirQualitySchema.projectedColumns.map(_ -> 0L): _*)
    def add(c: String, v: Long): Unit = sums(c) += v
    val pollutants = Seq("NO2", "O3", "PM10", "PM2.5")
    val writers = shapes.map(sh => sh.name -> new ShapeWriter(new File(dir, sh.name), sh, rows, header))
    val line = new Line
    try for (row <- 0 until rows) {
      val s = row % Stations
      val h = row / Stations
      line.n = 0
      line.bytes(dates(h)); add("Date", BaseEpoch + h * 3600L)
      pollutants.foreach { c =>
        val v = rnd.nextLong(100, 30000)
        line.comma(); line.fixed(v, 2, 100); add(c, v)
      }
      line.comma(); line.fixed(lat(s), 4, 10000); add("Latitude", lat(s))
      line.comma(); line.fixed(lon(s), 4, 10000); add("Longitude", lon(s))
      line.comma(); line.bytes(names(s)); add("station_name", nameCrc(s))
      // the eleven columns the projection drops
      line.comma(); line.fixed(rnd.nextLong(-2000, 2000), 2, 100)     // Wind-Speed (U)
      line.comma(); line.fixed(rnd.nextLong(-2000, 2000), 2, 100)     // Wind-Speed (V)
      line.comma(); line.fixed(rnd.nextLong(25000, 30000), 2, 100)    // Dewpoint Temp
      line.comma(); line.fixed(rnd.nextLong(26000, 31000), 2, 100)    // Soil Temp
      line.comma(); line.fixed(rnd.nextLong(0, 500), 2, 100)          // Total Percipitation
      line.comma(); line.fixed(rnd.nextLong(0, 100), 2, 100)          // Vegitation (High)
      line.comma(); line.fixed(rnd.nextLong(0, 100), 2, 100)          // Vegitation (Low)
      line.comma(); line.fixed(rnd.nextLong(26000, 31000), 2, 100)    // Temp
      line.comma(); line.fixed(rnd.nextLong(1000, 10000), 2, 100)     // Relative Humidity
      line.comma(); line.byte('P'); line.byte('T'); line.long(1000 + s) // code
      line.comma(); line.long(row.toLong)                             // id
      line.byte('\n')
      writers.foreach(_._2.write(row, line.buf, line.n))
    } finally writers.foreach(_._2.close())
    Corpus(dir, rows.toLong, writers.map { case (n, w) => n -> w.zips.toSeq }.toMap,
      writers.map { case (n, w) => n -> w.bytes }.toMap, sums.toMap)
  }
}
