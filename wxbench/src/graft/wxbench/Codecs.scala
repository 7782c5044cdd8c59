package graft.wxbench

import java.nio.file.{Files, Paths}

import org.apache.hadoop.conf.Configuration

import graft.sources.grib.{Ccsds, Grib2, Grib2Reader, Jpeg2000}
import graft.sources.hdf5.Hdf5
import graft.sources.zarr.{Blosc, Zstd}

/** Codec micro-timings for the traced grid_etl run: each decoder is called
  * directly on the chunks the corpus holds, and reports MB/s over
  * decompressed bytes (decoded values x 8 B for the GRIB decoders) plus the
  * bytes in and out. */
object Codecs {
  /** Decode passes over all chunks: one untimed warm-up, then these. */
  val Passes = 3

  private def time[A](tr: Tracer, metric: String, chunks: Seq[A], bytesIn: A => Long)(decode: A => Long): Unit = {
    if (chunks.isEmpty) return
    chunks.foreach(decode)
    val in = chunks.map(bytesIn).sum
    var out = 0L
    val t0 = System.nanoTime()
    tr.span(metric, "decode") {
      for (_ <- 0 until Passes; c <- chunks) out += decode(c)
    }
    val s = (System.nanoTime() - t0) / 1e9
    tr.add(s"${metric}_mb_per_s", out / 1e6 / s)
    tr.add(s"${metric}_in_mb", in / 1e6)
    tr.add(s"${metric}_out_mb", out / Passes / 1e6)
  }

  private def of(files: Seq[Gen.WxFile], kind: String): Seq[Gen.WxFile] = files.filter(_.kind == kind)

  /** The data sections of every GRIB2 message in `files`, with their fields. */
  private def gribSections(files: Seq[Gen.WxFile]): Seq[(Grib2.Field, Array[Byte])] =
    files.flatMap { f =>
      val bytes = Files.readAllBytes(Paths.get(f.path))
      Grib2Reader.indexFields(new Configuration(), f.path).map { g =>
        g -> java.util.Arrays.copyOfRange(bytes, g.dataOffset.toInt, g.dataOffset.toInt + g.dataBytes)
      }
    }

  def measure(files: Seq[Gen.WxFile], tr: Tracer): Unit = {
    def chunks(kind: String): Seq[Array[Byte]] =
      of(files, kind).flatMap(f => Gen.chunkFiles(s"${f.path}/t2m")).map(c => Files.readAllBytes(c.toPath))
    val raw = (c: Array[Byte]) => c.length.toLong
    val section = (s: (Grib2.Field, Array[Byte])) => s._2.length.toLong

    time(tr, "sources.zarr.blosc", chunks("zarr_blosc_lz4"), raw)(c => Blosc.decompress(c).length.toLong)
    time(tr, "sources.zarr.zstd", chunks("zarr_zstd"), raw)(c => Zstd.decompress(c, 0, c.length).length.toLong)
    time(tr, "sources.grib.jpeg2000", gribSections(of(files, "grib_jpeg2000")), section)(
      s => Jpeg2000.decode(s._2).samples.length * 8L)
    time(tr, "sources.grib.ccsds", gribSections(of(files, "grib_ccsds")), section) { case (g, c) =>
      val (flags, block, rsi) = g.ccsds.get
      Ccsds.decode(c, Ccsds.Params(g.bitsPerValue, block, rsi, preprocess = (flags & 8) != 0), g.nPoints)
        .length * 8L
    }
    time(tr, "sources.grib.complex", gribSections(of(files, "grib_complex")), section) { case (g, c) =>
      Grib2.decodeValues(g, c, null).length * 8L
    }

    // HDF5: the raw filtered chunks of the t2m variable, then the filter
    // pipeline reversed (inflate, then unshuffle)
    val h5 = of(files, "nc_deflate_shuffle").flatMap { f =>
      val bytes = Files.readAllBytes(Paths.get(f.path))
      val read = (off: Long, n: Int) => java.util.Arrays.copyOfRange(bytes, off.toInt, off.toInt + n)
      val ds = Hdf5.parse(read, bytes.length.toLong).byPath("/t2m")
      Hdf5.chunkRefs(read, ds).map(r => (ds, r.filterMask, read(r.addr, r.nBytes.toInt)))
    }
    time(tr, "sources.hdf5.deflate_shuffle", h5, (h: (Hdf5.DatasetMeta, Int, Array[Byte])) => h._3.length.toLong) {
      case (ds, mask, c) => Hdf5.defilter(c, ds.filters, mask, 8, Gen.Nj * Gen.Ni * 8).length.toLong
    }
  }
}
