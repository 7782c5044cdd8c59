package graft.wxbench

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Mover, Splitter}
import graft.sources.FormatRegistry
import graft.sources.zarr.ZarrDistributedWriter

/** grid_etl: the mover/splitter path over a seeded corpus of distinct
  * weather files (GRIB2 simple/complex/JPEG2000/CCSDS, NetCDF-4
  * deflate+shuffle, Zarr blosc-lz4 and zstd). Ingest and write ops
  * alternate: ingest opens a file, extracts its rows and aggregates them
  * (which forces a full decode into the cached rows); write sends those
  * rows to the splitter or the distributed Zarr writer. */
final class GridEtl extends Workload {
  val name = "grid_etl"
  val FilesPerKind = 2
  val Steps = 1
  private val Meta = Set("time", "latitude", "longitude", "data_uri", "data_import_time",
    "data_first_step", "geo_point", "geo_polygon")
  private val opts = Mover.Options(importTime = Some("2020-01-01 00:00:00"),
    latRes = Some(0.5), lonRes = Some(0.5))

  private var files: IndexedSeq[Gen.WxFile] = IndexedSeq.empty
  private var warm: IndexedSeq[Gen.WxFile] = IndexedSeq.empty
  private var outDir = ""
  private var rows: DataFrame = _
  private var rowsOf = -1

  /** Whole cycles only: every run times the same mix of kinds and formats. */
  override def enough(samples: Seq[Sample]): Boolean =
    samples.nonEmpty && samples.size % (2 * Gen.Kinds.size) == 0
  def traceOps: Int = 2 * Gen.Kinds.size

  def setup(ctx: Ctx, dir: String): Unit = {
    rows = null // cached on the previous round's session
    outDir = s"$dir/out"
    // the warm-up reads a corpus of its own, so every timed op opens a new file
    warm = Gen.writeCorpus(ctx.seed ^ 0x5eedL, s"$dir/warm", 1, 1)
    files = Gen.writeCorpus(ctx.seed, s"$dir/corpus", FilesPerKind, Steps)
  }

  /** One ingest per format, and one write of each kind. */
  def warmUp(ctx: Ctx): Unit = {
    val keep = files
    files = warm
    Seq(0, 1, 2, 4, 6, 8, 10, 11, 12).foreach(i => run(ctx, i))
    files = keep
    rowsOf = -1
  }

  def run(ctx: Ctx, i: Int): Done = {
    val f = (i / 2) % files.size
    if (i % 2 == 0) ingest(ctx, f) else write(ctx, f, i)
  }

  private def valueCols(df: DataFrame): Seq[String] = df.columns.filterNot(Meta.contains).toSeq

  private def ingest(ctx: Ctx, fi: Int): Done = {
    val f = files(fi)
    if (rows != null) rows.unpersist(blocking = true)
    rows = null
    ctx.tr.span("operators.mover.extract", "Mover.extractRows") {
      val ds = ctx.tr.span("sources.open", "FormatRegistry.open")(FormatRegistry.open(ctx.spark, f.path))
      val r = ctx.builder("Mover.extractRows")(Mover.extractRows(ds, f.path, opts))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val agg = r.agg(count(lit(1)), valueCols(r).map(c => sum(col(c))): _*)
      ctx.action("aggregate", agg)(_.collect())
      rows = r
      rowsOf = fi
    }
    Done(s"ingest.${f.kind}", f.payloadBytes, () => checkDecoded(f))
  }

  /** Decoded values must equal the generator's within the packing's
    * precision, one row per grid cell and time step. */
  private def checkDecoded(f: Gen.WxFile): Boolean = {
    val vc = valueCols(rows)
    if (vc.size != 1) return false
    val got = rows.select(col("time"), col("latitude"), col("longitude"), col(vc.head)).collect()
    val plane = Gen.Nj * Gen.Ni
    val seen = new java.util.BitSet(f.values.length)
    val ok = got.length == f.values.length && got.forall { r =>
      val t = f.times.indexOf(epochSeconds(r.get(0)))
      val j = math.rint(90.0 - r.getDouble(1)).toInt
      val i = math.floorMod(math.rint(r.getDouble(2)).toInt, 360)
      val k = t * plane + j * Gen.Ni + i
      t >= 0 && j >= 0 && j < Gen.Nj && !r.isNullAt(3) && !seen.get(k) && {
        seen.set(k)
        math.abs(r.getDouble(3) - f.values(k)) <= f.tol
      }
    }
    ok && seen.cardinality() == f.values.length
  }

  private def epochSeconds(v: Any): Long = v match {
    case t: java.time.LocalDateTime => t.toEpochSecond(java.time.ZoneOffset.UTC)
    case t: java.sql.Timestamp => t.getTime / 1000
    case other => throw new IllegalStateException(s"time cell $other")
  }

  private def write(ctx: Ctx, fi: Int, i: Int): Done = {
    require(rowsOf == fi && rows != null, s"no extracted rows for file $fi")
    val f = files(fi)
    val n = f.values.length.toLong
    if (fi % 2 == 0) {
      val out = s"$outDir/split-$i"
      ctx.tr.span("operators.splitter.split", "Splitter.split")(
        Splitter.split(rows, Seq("time"), out, force = true))
      Done("write.split", f.payloadBytes, () => {
        val parts = filesUnder(new File(out)).count(_.getName.endsWith(".parquet"))
        ctx.tr.add("operators.splitter.files_written", parts)
        val ok = ctx.spark.read.parquet(out).count() == n
        Gen.deleteRecursively(new File(out))
        ok
      })
    } else {
      val store = s"$outDir/zarr-$i.zarr"
      val cells = rows.select((Seq("time", "latitude", "longitude") ++ valueCols(rows)).map(col): _*)
      ctx.tr.span("sources.zarr.write", "ZarrDistributedWriter.write")(
        ZarrDistributedWriter.write(cells, store, Seq("time", "latitude", "longitude"),
          Seq(1, Gen.Nj, Gen.Ni)))
      Done("write.zarr", f.payloadBytes, () => {
        ctx.tr.add("sources.zarr.bytes_written_mb", Gen.dirBytes(new File(store)) / 1e6)
        val ok = FormatRegistry.open(ctx.spark, store).count() == n
        Gen.deleteRecursively(new File(store))
        ok
      })
    }
  }

  private def filesUnder(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).map(_.toSeq.flatMap(filesUnder)).getOrElse(Nil)
    else Seq(f)

  override def traceExtras(ctx: Ctx): Unit = Codecs.measure(files, ctx.tr)

  def report(samples: Seq[Sample]): Seq[(String, (Double, String))] = {
    def rate(kind: String): Double = {
      val s = samples.filter(_.kind.startsWith(kind))
      s.map(_.payloadBytes).sum / 1e6 / s.map(_.seconds).sum
    }
    Seq("ingest_mb_per_s" -> ((rate("ingest"), "MB/s")),
      "write_mb_per_s" -> ((rate("write"), "MB/s")),
      "ingest_ops" -> ((samples.count(_.kind.startsWith("ingest")).toDouble, "count")),
      "write_ops" -> ((samples.count(_.kind.startsWith("write")).toDouble, "count")))
  }
}
