package graft.wxbench

import java.io.File
import java.nio.file.Files
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.grib.Grib2Writer
import graft.sources.hdf5.Hdf5Writer
import graft.sources.zarr.{Zstd, ZarrWriter}

/** Seeded input generators. Every input of every workload comes from here and
  * from the workload seed alone: the same seed gives byte-identical inputs. */
object Gen {
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ salt)

  val Epoch2020: Long = 1577836800L // 2020-01-01T00:00:00Z

  // ------------------------------------------------------------ xql stores

  /** A lineitem-shaped table of `rows` rows (sf0.1 has 600k) mapped onto the
    * weather-grid row model by the engine's own `Queries.gridCols`:
    * 0.05-degree coordinates, `time` from the ship date. */
  def gridFrame(spark: SparkSession, seed: Long, rows: Long): DataFrame = {
    val keyShift = math.floorMod(seed, 997L) * rows
    val h = (salt: Int) => pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1L << 30))
    spark.range(0, rows, 1, 4)
      .select(
        (col("id") / 4).cast("long") + lit(keyShift + 1) as "l_orderkey",
        (col("id") % 4 + 1).cast("int") as "l_linenumber",
        (h(0) % 50 + 1).cast("double") as "l_quantity",
        ((h(1) % 11).cast("double") / 100.0) as "l_discount",
        date_add(lit(java.sql.Date.valueOf("1992-01-02")), (h(2) % 2526).cast("int"))
          .cast("timestamp_ntz") as "l_shipdate")
      .selectExpr(graft.Queries.gridCols: _*)
  }

  /** ERA5-shaped store: 12 six-hourly steps on a 2-degree global grid, two
    * f8 variables. */
  final case class Era5(times: Array[Long], lats: Array[Double], lons: Array[Double],
      t2m: Array[Double], u10: Array[Double]) {
    def cells: Int = times.length * lats.length * lons.length
  }

  def era5(seed: Long): Era5 = {
    val r = rng(seed, 11)
    val times = Array.tabulate(12)(t => Epoch2020 + 21600L * t + 86400L * math.floorMod(seed, 300L))
    val lats = Array.tabulate(91)(j => -90.0 + 2 * j)
    val lons = Array.tabulate(180)(i => -180.0 + 2 * i)
    val n = times.length * lats.length * lons.length
    val t2m = new Array[Double](n)
    val u10 = new Array[Double](n)
    var k = 0
    for (t <- times.indices; j <- lats.indices; i <- lons.indices) {
      t2m(k) = 273.15 + 30 * math.cos(math.toRadians(lats(j))) +
        4 * math.sin(math.toRadians(lons(i)) + t) + r.nextDouble() * 2
      u10(k) = 8 * math.sin(math.toRadians(lats(j) * 3)) + r.nextDouble() * 6 - 3
      k += 1
    }
    Era5(times, lats, lons, t2m, u10)
  }

  /** Zarr v2, blosc-lz4 with byte shuffle (the numcodecs default profile). */
  def writeEra5Zarr(e: Era5, path: String): Unit = {
    val (nt, ny, nx) = (e.times.length, e.lats.length, e.lons.length)
    ZarrWriter.write(path, Seq(
      ZarrWriter.VarSpec("time", Seq("time"), Seq(nt), Seq(nt), "<i8", e.times.map(_.toDouble).toSeq,
        units = Some("seconds since 1970-01-01")),
      ZarrWriter.VarSpec("latitude", Seq("latitude"), Seq(ny), Seq(ny), "<f8", e.lats.toSeq),
      ZarrWriter.VarSpec("longitude", Seq("longitude"), Seq(nx), Seq(nx), "<f8", e.lons.toSeq),
      ZarrWriter.VarSpec("t2m", Seq("time", "latitude", "longitude"), Seq(nt, ny, nx),
        Seq(4, ny, nx), "<f8", e.t2m.toSeq, compressor = Some("blosc")),
      ZarrWriter.VarSpec("u10", Seq("time", "latitude", "longitude"), Seq(nt, ny, nx),
        Seq(4, ny, nx), "<f8", e.u10.toSeq, compressor = Some("blosc"))))
  }

  /** The generator's own values as parquet, for the DuckDB oracle. */
  def era5Frame(spark: SparkSession, e: Era5): DataFrame = {
    val rows = new java.util.ArrayList[Row](e.cells)
    var k = 0
    for (t <- e.times.indices; j <- e.lats.indices; i <- e.lons.indices) {
      rows.add(Row(java.time.LocalDateTime.ofEpochSecond(e.times(t), 0, java.time.ZoneOffset.UTC),
        e.lats(j), e.lons(i), e.t2m(k), e.u10(k)))
      k += 1
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("time", TimestampNTZType), StructField("latitude", DoubleType),
      StructField("longitude", DoubleType), StructField("t2m", DoubleType),
      StructField("u10", DoubleType))))
  }

  // ------------------------------------------------------------ xql statements

  /** One seeded xql statement, its desugared ANSI SQL (DuckDB dialect), the
    * alias it reads and the payload it scans (cells x value columns x 8 B). */
  final case class Stmt(template: Int, xql: String, ansi: String, alias: String,
      reset: Boolean, payloadBytes: Long)

  private val Countries = Seq(
    "india" -> (6.5546079, 35.4940095078, 68.1766451354, 97.4025614766),
    "canada" -> (41.6751050889, 83.23324, -140.99778, -52.6480987209),
    "japan" -> (31.0295791692, 45.5514834662, 129.408463169, 145.543137242),
    "united kingdom" -> (49.959999905, 58.6350001085, -7.57216793459, 1.68153079591),
    "south africa" -> (-34.8191663551, -22.0913127581, 16.3449768409, 32.830120477),
    "australia" -> (-44.0, -10.0, 113.0, 154.0),
    "united states" -> (24.396308, 49.384358, -125.0, -66.93457))
  private val Cities = Seq(
    "delhi" -> (28.404, 28.883, 76.838, 77.348),
    "new york" -> (40.4774, 40.9176, -74.2591, -73.7002),
    "san francisco" -> (37.6398, 37.9298, -122.5975, -122.3210),
    "los angeles" -> (33.7036, 34.3373, -118.6682, -118.1553),
    "london" -> (51.3849, 51.6724, -0.3515, 0.1482))

  private def box(b: (Double, Double, Double, Double)): String =
    s"(latitude >= CAST(${b._1} AS DOUBLE) AND latitude <= CAST(${b._2} AS DOUBLE) " +
      s"AND longitude >= CAST(${b._3} AS DOUBLE) AND longitude <= CAST(${b._4} AS DOUBLE))"

  def statements(seed: Long, n: Int, gridRows: Long, era5Cells: Long): IndexedSeq[Stmt] = {
    val r = rng(seed, 21)
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.size))
    // templates round-robin, so every seed times the same mix
    (0 until n).map { k =>
      val reset = k % 8 == 7
      k % 6 match {
        case 0 =>
          val (c, b) = pick(Countries)
          val (lim, off) = (3 + r.nextInt(12), r.nextInt(6))
          Stmt(k % 6, s"SELECT time_month, AVG(temperature), COUNT(*) AS n FROM grid " +
            s"WHERE country = '$c' GROUP BY time_month ORDER BY time_month LIMIT $lim OFFSET $off",
            s"SELECT date_trunc('month', time) AS time_month, avg(temperature) AS avg_temperature, " +
              s"count(*) AS n FROM grid WHERE ${box(b)} GROUP BY time_month ORDER BY time_month " +
              s"LIMIT $lim OFFSET $off",
            "grid", reset, gridRows * 4 * 8)
        case 1 =>
          val (c, cb) = pick(Countries)
          val (city, yb) = pick(Cities)
          val t = 5 + r.nextInt(40)
          Stmt(k % 6, s"SELECT time_year, SUM(humidity), COUNT(*) AS n FROM grid " +
            s"WHERE country = '$c' OR (city = '$city' AND temperature > $t) " +
            "GROUP BY time_year ORDER BY time_year",
            s"SELECT date_trunc('year', time) AS time_year, sum(humidity) AS sum_humidity, " +
              s"count(*) AS n FROM grid WHERE ${box(cb)} OR (${box(yb)} AND temperature > $t) " +
              "GROUP BY time_year ORDER BY time_year",
            "grid", reset, gridRows * 5 * 8)
        case 2 =>
          val a = -60 + r.nextInt(120) + 0.5
          val hum = 1 + r.nextInt(9)
          val lo = -170 + r.nextInt(340) + 0.25
          val t = 10 + r.nextInt(35)
          val (lim, off) = (5 + r.nextInt(20), r.nextInt(10))
          val where = s"(latitude > $a AND humidity < $hum) OR (longitude < $lo AND temperature > $t)"
          val sel = "SELECT l_orderkey, l_linenumber, temperature, humidity FROM grid"
          val tail = s"ORDER BY temperature DESC, humidity, l_orderkey, l_linenumber LIMIT $lim OFFSET $off"
          Stmt(k % 6, s"$sel WHERE $where $tail", s"$sel WHERE $where $tail", "grid", reset, gridRows * 6 * 8)
        case 3 =>
          val (c, b) = pick(Countries)
          Stmt(k % 6, s"SELECT time_date, AVG(t2m), MIN(u10) FROM era5 WHERE country = '$c' " +
            "GROUP BY time_date ORDER BY time_date",
            s"SELECT date_trunc('day', time) AS time_date, avg(t2m) AS avg_t2m, min(u10) AS min_u10 " +
              s"FROM era5 WHERE ${box(b)} GROUP BY time_date ORDER BY time_date",
            "era5", reset, era5Cells * 5 * 8)
        case 4 =>
          val a = -80 + 2 * r.nextInt(80)
          val t = 280 + r.nextInt(20)
          val lo = -170 + 2 * r.nextInt(170)
          val u = -4 + r.nextInt(8)
          val (lim, off) = (5 + r.nextInt(20), r.nextInt(10))
          val q = "SELECT time, latitude, longitude, t2m FROM era5 " +
            s"WHERE (latitude >= $a AND t2m > $t) OR (longitude <= $lo AND u10 < $u) " +
            s"ORDER BY t2m DESC, time, latitude, longitude LIMIT $lim OFFSET $off"
          Stmt(k % 6, q, q, "era5", reset, era5Cells * 5 * 8)
        case _ =>
          val (city, b) = pick(Cities)
          val (c, cb) = pick(Countries)
          val (lim, off) = (5 + r.nextInt(10), r.nextInt(4))
          Stmt(k % 6, s"SELECT time_month, MAX(humidity), MIN(temperature), COUNT(*) AS n FROM grid " +
            s"WHERE city = '$city' OR country = '$c' GROUP BY time_month " +
            s"ORDER BY n DESC, time_month LIMIT $lim OFFSET $off",
            s"SELECT date_trunc('month', time) AS time_month, max(humidity) AS max_humidity, " +
              s"min(temperature) AS min_temperature, count(*) AS n FROM grid " +
              s"WHERE ${box(b)} OR ${box(cb)} GROUP BY time_month " +
              s"ORDER BY n DESC, time_month LIMIT $lim OFFSET $off",
            "grid", reset, gridRows * 5 * 8)
      }
    }
  }

  // ------------------------------------------------------------ grid_etl corpus

  /** One weather file of the ETL corpus: `values` is (time, lat, lon)
    * C-order on a 1-degree global grid, quantized to 0.1 so every packing can
    * carry it; `tol` is the packing's stated precision. */
  final case class WxFile(kind: String, path: String, times: Array[Long],
      values: Array[Double], tol: Double) {
    def payloadBytes: Long = values.length * 8L
  }

  val Ni = 360
  val Nj = 181
  def lat(j: Int): Double = 90.0 - j
  def lon(i: Int): Double = i.toDouble

  /** (kind, file extension): four GRIB2 packings, NetCDF-4 deflate+shuffle,
    * Zarr v2 blosc-lz4 and Zarr v2 zstd. */
  val Kinds: Seq[(String, String)] = Seq(
    "grib_simple" -> "grib2", "grib_complex" -> "grib2", "grib_jpeg2000" -> "grib2",
    "grib_ccsds" -> "grib2", "nc_deflate_shuffle" -> "nc", "zarr_blosc_lz4" -> "zarr",
    "zarr_zstd" -> "zarr")

  def field(seed: Long, f: Int, nt: Int): Array[Double] = {
    val r = rng(seed, 1000 + f)
    val phase = r.nextDouble() * 6
    val out = new Array[Double](nt * Nj * Ni)
    var k = 0
    for (t <- 0 until nt; j <- 0 until Nj; i <- 0 until Ni) {
      val v = 250 + 40 * math.cos(math.toRadians(lat(j))) +
        5 * math.sin(math.toRadians(lon(i)) * 3 + t + phase) + r.nextDouble() * 4
      out(k) = math.rint(v * 10) / 10
      k += 1
    }
    out
  }

  /** Writes `filesPerKind` files of every kind into `dir`, interleaved so
    * the op order alternates formats. */
  def writeCorpus(seed: Long, dir: String, filesPerKind: Int, nt: Int): IndexedSeq[WxFile] = {
    new File(dir).mkdirs()
    for (c <- 0 until filesPerKind; ((kind, ext), ki) <- Kinds.zipWithIndex) yield {
      val f = c * Kinds.size + ki
      val times = Array.tabulate(nt)(t => Epoch2020 + 86400L * (f + math.floorMod(seed, 1000L)) + 21600L * t)
      val values = field(seed, f, nt)
      val path = s"$dir/f${f}_$kind.$ext"
      val tol = if (kind.startsWith("grib")) 0.05 + 1e-6 else 1e-9
      writeFile(kind, path, times, values)
      WxFile(kind, path, times, values, tol)
    }
  }

  private def writeFile(kind: String, path: String, times: Array[Long], values: Array[Double]): Unit = {
    val nt = times.length
    val plane = Nj * Ni
    kind match {
      case k if k.startsWith("grib") =>
        val packing = k match {
          case "grib_simple" => 0
          case "grib_complex" => 3
          case "grib_jpeg2000" => 40
          case _ => 42
        }
        val fields = (0 until nt).map { t =>
          Grib2Writer.FieldSpec(0, 0, 0, 103, 2,
            java.time.LocalDateTime.ofEpochSecond(times(t), 0, java.time.ZoneOffset.UTC),
            values.slice(t * plane, (t + 1) * plane).toSeq, Ni, Nj,
            la1 = lat(0), lo1 = lon(0), la2 = lat(Nj - 1), lo2 = lon(Ni - 1),
            decimalScale = 1, bitsPerValue = 16, packing = packing)
        }
        Grib2Writer.write(path, fields)
      case "nc_deflate_shuffle" =>
        Hdf5Writer.write(path, Seq(
          Hdf5Writer.VarSpec("time", Seq("time"), Seq(nt), times.map(_.toDouble).toSeq,
            dtype = "f8", units = Some("seconds since 1970-01-01")),
          Hdf5Writer.VarSpec("latitude", Seq("latitude"), Seq(Nj), (0 until Nj).map(lat), dtype = "f8"),
          Hdf5Writer.VarSpec("longitude", Seq("longitude"), Seq(Ni), (0 until Ni).map(lon), dtype = "f8"),
          Hdf5Writer.VarSpec("t2m", Seq("time", "latitude", "longitude"), Seq(nt, Nj, Ni),
            values.toSeq, dtype = "f8", chunks = Some(Seq(1, Nj, Ni)),
            deflate = true, shuffle = true)))
      case zarr =>
        val zstd = zarr == "zarr_zstd"
        ZarrWriter.write(path, Seq(
          ZarrWriter.VarSpec("time", Seq("time"), Seq(nt), Seq(nt), "<i8", times.map(_.toDouble).toSeq,
            units = Some("seconds since 1970-01-01")),
          ZarrWriter.VarSpec("latitude", Seq("latitude"), Seq(Nj), Seq(Nj), "<f8", (0 until Nj).map(lat)),
          ZarrWriter.VarSpec("longitude", Seq("longitude"), Seq(Ni), Seq(Ni), "<f8", (0 until Ni).map(lon)),
          ZarrWriter.VarSpec("t2m", Seq("time", "latitude", "longitude"), Seq(nt, Nj, Ni),
            Seq(1, Nj, Ni), "<f8", values.toSeq,
            compressor = Some(if (zstd) "zstd" else "blosc"))))
        // the in-repo zstd writer emits raw blocks only; re-encode every
        // chunk as a real compressed zstd frame so decoding does real work
        if (zstd) chunkFiles(s"$path/t2m").foreach { f =>
          val p = f.toPath
          val framed = Files.readAllBytes(p)
          val raw = Zstd.decompress(framed, 0, framed.length)
          Files.write(p, com.github.luben.zstd.Zstd.compress(raw, 3))
        }
    }
  }

  def chunkFiles(varDir: String): Seq[File] =
    Option(new File(varDir).listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isFile && !f.getName.startsWith(".")).sortBy(_.getName)

  // ------------------------------------------------------------ corpus_dedup

  /** The 1x documents/embeddings corpus (sf0.1 has 5000 docs and 2000
    * 64-float vectors). Its shape is the same for every seed, only the
    * content varies: of each three docs the second is an exact or one-word
    * edited copy of the first (3-shingle Jaccard >= 0.9); every fifth title
    * is one edit from the title before it; every tenth vector is a
    * near-copy of the one before it. */
  final case class Corpus(ids: Array[Long], texts: Array[String], titles: Array[String],
      scores: Array[Int], vecIds: Array[Long], vecs: Array[Array[Float]])

  def corpus(seed: Long, nDocs: Int, nVecs: Int, dim: Int = 64): Corpus = {
    val r = rng(seed, 31)
    val syll = Seq("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "be", "do", "fu", "gi", "ha", "je", "ko", "pu")
    val vocab = (0 until 400).map(_ => (0 until 2 + r.nextInt(2)).map(_ => syll(r.nextInt(syll.size))).mkString).distinct
    val texts = new Array[String](nDocs)
    val titles = new Array[String](nDocs)
    for (d <- 0 until nDocs) {
      texts(d) =
        if (d % 3 == 1) {
          val words = texts(d - 1).split(' ')
          if (r.nextBoolean()) words(r.nextInt(words.length)) = vocab(r.nextInt(vocab.size))
          words.mkString(" ")
        } else (0 until 60 + r.nextInt(61)).map(_ => vocab(r.nextInt(vocab.size))).mkString(" ")
      titles(d) =
        if (d % 5 == 4) {
          val t = titles(d - 1).toCharArray
          t(r.nextInt(t.length)) = ('a' + r.nextInt(26)).toChar
          new String(t)
        } else (0 until 12).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }
    val centers = Array.fill(20, dim)(r.nextDouble() * 2 - 1)
    val vecs = new Array[Array[Float]](nVecs)
    for (v <- 0 until nVecs) {
      vecs(v) =
        if (v % 10 == 9) vecs(v - 1).map(x => (x + (r.nextDouble() - 0.5) * 0.01).toFloat)
        else {
          val c = centers(r.nextInt(centers.length))
          Array.tabulate(dim)(i => (c(i) + (r.nextDouble() - 0.5) * 1.2).toFloat)
        }
    }
    Corpus(Array.tabulate(nDocs)(_.toLong), texts, titles, Array.fill(nDocs)(r.nextInt(1000)),
      Array.tabulate(nVecs)(_.toLong), vecs)
  }

  /** Copy `c` of a document under the ScaleStress perturbation: every word
    * gets a `_c<c>` suffix (intra-copy shingle relations are kept exactly,
    * cross-copy shingles never collide). Titles get a per-copy digit tag, so
    * cross-copy titles are at least three edits apart. */
  def copyText(t: String, c: Int): String =
    if (c == 0) t else t.split(' ').map(w => s"${w}_c$c").mkString(" ")
  def copyTitle(t: String, c: Int): String = s"${(c % 10).toString * 3}$t"
  /** ScaleStress's embedding perturbation: deterministic per-(copy, element)
    * noise large enough to decorrelate copies under cosine. */
  def copyVec(v: Array[Float], id: Long, c: Int): Array[Float] =
    if (c == 0) v else Array.tabulate(v.length)(i => (v(i) + 0.35 * math.sin(id * 131 + i * 17 + c * 31)).toFloat)

  def docsFrame(spark: SparkSession, cp: Corpus, k: Int): DataFrame = {
    val n = cp.ids.length
    val rows = new java.util.ArrayList[Row](n * k)
    for (c <- 0 until k; d <- 0 until n)
      rows.add(Row(cp.ids(d) + c.toLong * n, copyText(cp.texts(d), c), copyTitle(cp.titles(d), c), cp.scores(d)))
    spark.createDataFrame(rows, StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("title", StringType), StructField("score", IntegerType))))
  }

  def embFrame(spark: SparkSession, cp: Corpus, k: Int): DataFrame = {
    val n = cp.vecIds.length
    val rows = new java.util.ArrayList[Row](n * k)
    for (c <- 0 until k; v <- 0 until n) {
      rows.add(Row(cp.vecIds(v) + c.toLong * n, copyVec(cp.vecs(v), cp.vecIds(v), c).toSeq))
    }
    spark.createDataFrame(rows, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)))))
  }

  /** Seeded random hyperplanes for the cosine LSH. */
  def planes(seed: Long, count: Int, dim: Int = 64): Seq[Seq[Float]] = {
    val r = rng(seed, 41)
    Seq.fill(count)(Seq.fill(dim)((r.nextDouble() * 2 - 1).toFloat))
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()
}
