package graft.wxbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.operators.WxSql

/** xql_interactive: a closed loop of seeded xql statements through
  * `WxSql.set` / `WxSql.sql`, each collected, over a lineitem-shaped grid
  * parquet and an ERA5-shaped blosc Zarr store. The ANSI twin of every
  * statement is checked in DuckDB by the caller after the run. */
final class Xql extends Workload {
  val name = "xql_interactive"
  val GridRows = 300000L
  /** p90 needs ten samples beyond it. */
  val MinSamples = 100

  private var wx: WxSql = _
  private var stmts: IndexedSeq[Gen.Stmt] = IndexedSeq.empty
  private var paths = Map.empty[String, String]
  private var era5: Gen.Era5 = _
  private var dir = ""
  // first result of each statement, and how often it ran / disagreed
  private val results = mutable.LinkedHashMap.empty[Int, (Seq[String], Array[Row])]
  private val execs = mutable.Map.empty[Int, Int].withDefaultValue(0)
  private val bad = mutable.Map.empty[Int, Int].withDefaultValue(0)

  def traceOps: Int = 20

  def setup(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    val grid = s"$dir/grid.parquet"
    Gen.gridFrame(spark, ctx.seed, GridRows).write.parquet(grid)
    era5 = Gen.era5(ctx.seed)
    val store = s"$dir/era5.zarr"
    Gen.writeEra5Zarr(era5, store)
    this.dir = dir
    paths = Map("grid" -> grid, "era5" -> store)
    stmts = Gen.statements(ctx.seed, 2000, GridRows, era5.cells)
    results.clear(); execs.clear(); bad.clear()
    wx = WxSql(spark)
    paths.foreach { case (alias, p) => wx.set(alias, p) }
  }

  /** A statement list of its own, so the timed loop starts cold on its
    * statements' results. */
  def warmUp(ctx: Ctx): Unit =
    Gen.statements(ctx.seed ^ 0x5eedL, 6, GridRows, era5.cells).foreach(s => wx.sql(s.xql).collect())

  def run(ctx: Ctx, i: Int): Done = {
    val k = i % stmts.size
    val st = stmts(k)
    if (st.reset) ctx.tr.span("sources.open", "WxSql.set")(wx.set(st.alias, paths(st.alias)))
    val df = ctx.builder("WxSql.sql")(wx.sql(st.xql))
    val rows = ctx.action("collect", df)(_.collect())
    Done(s"template${st.template}", st.payloadBytes, () => record(k, df.columns.toSeq, rows))
  }

  /** A statement's repeated runs must agree with its first run; the first
    * run is checked against DuckDB afterwards. */
  private def record(k: Int, cols: Seq[String], rows: Array[Row]): Boolean = {
    execs(k) += 1
    results.get(k) match {
      case None => results(k) = (cols, rows); true
      case Some((c0, r0)) =>
        val same = c0 == cols && r0.length == rows.length &&
          r0.zip(rows).forall { case (a, b) => a.toSeq.zip(b.toSeq).forall { case (x, y) => close(x, y) } }
        if (!same) bad(k) += 1
        same
    }
  }

  private def close(x: Any, y: Any): Boolean = (x, y) match {
    case (a: Double, b: Double) => a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(a).max(math.abs(b)))
    case _ => x == y
  }

  def report(samples: Seq[Sample]): Seq[(String, (Double, String))] = {
    val lat = samples.map(_.seconds)
    Seq("query_p50_s" -> ((Main.median(lat), "s")),
      "query_p90_s" -> ((Main.percentile(lat, 0.9), "s")),
      "query_samples" -> ((lat.size.toDouble, "count")))
  }

  override def enough(samples: Seq[Sample]): Boolean = samples.size >= MinSamples

  /** One line per distinct statement that ran: its ANSI twin, the columns
    * and rows of its first run, and how many runs it had; and the Zarr
    * store's values as the generator made them, as parquet, for DuckDB. */
  override def outputs(ctx: Ctx, runDir: String): Seq[(String, String)] = {
    val era5Dump = s"$dir/era5_values.parquet"
    Gen.era5Frame(ctx.spark, era5).coalesce(1).write.parquet(era5Dump)
    val path = s"$runDir/xql_results.jsonl"
    val out = new PrintWriter(new File(path))
    try results.foreach { case (k, (cols, rows)) =>
      out.println(s"""{"stmt": $k, "xql": ${Json.str(stmts(k).xql)}, "ansi": ${Json.str(stmts(k).ansi)}, """ +
        s""""execs": ${execs(k)}, "bad_execs": ${bad(k)}, """ +
        s""""cols": ${cols.map(Json.str).mkString("[", ", ", "]")}, """ +
        s""""rows": ${rows.map(r => r.toSeq.map(Json.cell).mkString("[", ", ", "]")).mkString("[", ", ", "]")}}""")
    }
    finally out.close()
    Seq("xql_results" -> path, "grid" -> paths("grid"), "era5_values" -> era5Dump)
  }
}
