package graft.grid

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.geom.st

/** The long-form grid data model (SURVEY §1.3): the engine's analogue of
  * the reference's xarray `Dataset` — one row per (time, y, x) cell,
  * dims as key columns, coordinate variables as value columns. Name
  * mapping is carried by [[GridConfig]], the analogue of the
  * reference's per-dataset config dicts (`delphine/regrid.py:31-44`,
  * `haduk_voronoi.py:22-29`) that make one pipeline serve WRF, HadUK
  * and tas grids without code changes.
  */
final case class GridConfig(
    xCol: String,
    yCol: String,
    lonCol: String,
    latCol: String,
    timeCol: String,
    varCol: String,
    crs: Int = 4326)

object Grid {

  /** G11 rectilinear fast path as an API: cell-center spacing → boxes,
    * "we already know exactly what the Voronoi tesselation is"
    * (`delphine/regrid.py:182-203`). Adds a `geom` box column of
    * half-spacing w/h around each center. */
  def rectilinearCells(df: DataFrame, cfg: GridConfig,
      dx: Double, dy: Double): DataFrame =
    df.withColumn("geom", st.makeBox(
      col(cfg.lonCol) - dx / 2, col(cfg.latCol) - dy / 2,
      col(cfg.lonCol) + dx / 2, col(cfg.latCol) + dy / 2))

  /** P6 `isel(time=i)`: positional index on the time dim → value, via
    * distinct-sort-limit (a tiny driver-side two-step, same shape as the
    * reference's data-dependent bbox constants; `delphine/regrid.py:208`,
    * `haduk_voronoi.py:74`). */
  def iselTime(df: DataFrame, cfg: GridConfig, i: Int): DataFrame = {
    val t = df.select(col(cfg.timeCol)).distinct()
      .orderBy(cfg.timeCol).limit(i + 1)
      .collect().last.get(0)
    df.filter(col(cfg.timeCol) === lit(t))
  }

  /** P7 row-count guard (`haduk_voronoi.py:72`). */
  def underRowLimit(df: DataFrame, limit: Long): Boolean = df.count() < limit
}
