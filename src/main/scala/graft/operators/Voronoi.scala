package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

import org.locationtech.jts.geom.{Coordinate, Envelope, Geometry}
import org.locationtech.jts.triangulate.VoronoiDiagramBuilder

import graft.geom.Wkb

/** Voronoi tessellation of seed points into cell polygons — the
  * reference's signature capability (`voronoi_finite_polygons_2d`,
  * wrf_voronoi.py:19-103, duplicated delphine/regrid.py:47-131).
  *
  * The reference reconstructs scipy's infinite border regions by hand
  * and clips to a bbox; JTS `VoronoiDiagramBuilder` with a clip
  * envelope produces the same output semantics (finite cells that
  * partition the clip box) in one robust library call.
  *
  * Execution model: ONE plan for every domain size. Each seed is keyed
  * by (domain, tx, ty) and one `groupByKey` → `flatMapGroups` builds
  * one JTS diagram per key. A domain of at most `autoTileAbove` seeds
  * is a single tile with no halo. A larger domain is cut into tiles
  * with a halo, sized from its spacing estimate s̄ = √(clipArea / n),
  * and each tile keeps its own seeds' cells under a verified
  * halo-sufficiency guard (see [[tessellateTiled]]). `tessellate` and
  * `tessellateTiled` run the plan over one constant domain,
  * `tessellateByDomain` over one domain per `domainCol` value.
  */
object Voronoi {

  case class Seed(id: Long, x: Double, y: Double)
  case class DomainSeed(domain: Long, id: Long, x: Double, y: Double)
  case class TileSeed(domain: Long, tx: Long, ty: Long, own: Boolean,
      id: Long, x: Double, y: Double)
  /** `ok` = false: the halo guard fired on this cell (tiled domains) */
  case class Cell(domain: Long, id: Long, geom: Array[Byte], ok: Boolean)

  /** How one domain is cut: its clip box, and the tile side and halo
    * (`tile` = 0: the whole domain is one tile). */
  private case class Cut(clip: Envelope, tile: Double, halo: Double)

  private def cellsOf(ss: Array[Seed], clip: Envelope): Iterator[(Long, Geometry)] = {
    if (ss.isEmpty) return Iterator.empty
    val builder = new VoronoiDiagramBuilder()
    builder.setSites(ss.map(s => new Coordinate(s.x, s.y)).toSeq.asJava)
    builder.setClipEnvelope(clip)
    // the clip envelope IS the diagram envelope (bundled JTS 1.20):
    // getDiagram keeps the cells inside it and intersects the ones
    // crossing it, so every cell comes back already clipped — no second
    // intersection
    val diagram = builder.getDiagram(Wkb.factory)
    // seed ids keyed by exact coordinate — sites pass through JTS
    // unperturbed and distinct (duplicate seeds are the caller's error)
    val byCoord = ss.map(s => (s.x, s.y) -> s.id).toMap
    (0 until diagram.getNumGeometries).iterator.map { i =>
      val cell = diagram.getGeometryN(i)
      val site = cell.getUserData.asInstanceOf[Coordinate]
      val id = byCoord.getOrElse((site.x, site.y),
        // robustness fallback: locate the seed the cell contains
        ss.find(s => cell.contains(Wkb.point(s.x, s.y)))
          .map(_.id)
          .getOrElse(throw new IllegalStateException(
            s"voronoi cell $i matches no seed")))
      (id, cell)
    }
  }

  private def seedsOf(points: DataFrame, domain: Column, idCol: String,
      xCol: String, yCol: String): Dataset[DomainSeed] = {
    import points.sparkSession.implicits._
    points.select(domain.cast("long").as("domain"),
      col(idCol).cast("long").as("id"),
      col(xCol).cast("double").as("x"),
      col(yCol).cast("double").as("y")).as[DomainSeed]
  }

  /** The one plan. A domain absent from `cuts` is one tile clipped to
    * its seeds' extent expanded by `margin`. A tiled domain's seeds are
    * REPLICATED into every tile within `halo` of them (bucket-explode,
    * as in the spatial join); each tile tessellates seeds+halo over
    * tile+halo ∩ clip and emits only its own seeds' cells, flagged by
    * the halo guard. */
  private def plan(ds: Dataset[DomainSeed], cuts: Map[Long, Cut],
      margin: Double): Dataset[Cell] = {
    import ds.sparkSession.implicits._
    ds.flatMap { s =>
        cuts.get(s.domain).filter(_.tile > 0) match {
          case None => Seq(TileSeed(s.domain, 0L, 0L, true, s.id, s.x, s.y))
          case Some(c) =>
            def t(v: Double) = math.floor(v / c.tile).toLong
            val (ox, oy) = (t(s.x), t(s.y))
            for (tx <- t(s.x - c.halo) to t(s.x + c.halo);
                 ty <- t(s.y - c.halo) to t(s.y + c.halo))
              yield TileSeed(s.domain, tx, ty, tx == ox && ty == oy,
                s.id, s.x, s.y)
        }
      }
      .groupByKey(t => (t.domain, t.tx, t.ty))
      .flatMapGroups { (key: (Long, Long, Long), it: Iterator[TileSeed]) =>
        val (dom, tx, ty) = key
        val rows = it.toArray
        val seeds = rows.map(r => Seed(r.id, r.x, r.y))
        cuts.get(dom) match {
          case Some(Cut(clip, tile, halo)) if tile > 0 =>
            val interior = rows.iterator.filter(_.own).map(_.id).toSet
            // under halo sufficiency every interior seed's cell is
            // bounded by bisectors with seeds inside this envelope, so
            // it is the GLOBAL cell — emitted whole by its owning tile
            val (lx, hx) = (tx * tile - halo, (tx + 1) * tile + halo)
            val (ly, hy) = (ty * tile - halo, (ty + 1) * tile + halo)
            val env = new Envelope(math.max(lx, clip.getMinX),
              math.min(hx, clip.getMaxX), math.max(ly, clip.getMinY),
              math.min(hy, clip.getMaxY))
            val eps = 1e-9 * math.max(tile, halo)
            if (interior.isEmpty) Iterator.empty
            else cellsOf(seeds, env)
              .filter { case (id, _) => interior.contains(id) }
              .map { case (id, g) =>
                // halo-sufficiency guard: a cell cut by a HALO side (not
                // a clip side, which cells legitimately touch) would be
                // shaped in the global diagram by seeds this tile never
                // saw
                val e = g.getEnvelopeInternal
                val cut =
                  (lx > clip.getMinX && e.getMinX <= env.getMinX + eps) ||
                  (hx < clip.getMaxX && e.getMaxX >= env.getMaxX - eps) ||
                  (ly > clip.getMinY && e.getMinY <= env.getMinY + eps) ||
                  (hy < clip.getMaxY && e.getMaxY >= env.getMaxY - eps)
                Cell(dom, id, Wkb.write(g), !cut)
              }
          case fixed =>
            val clip = fixed.map(_.clip).getOrElse {
              val env = new Envelope()
              seeds.foreach(s => env.expandToInclude(s.x, s.y))
              env.expandBy(margin)
              env
            }
            cellsOf(seeds, clip).map { case (id, g) =>
              Cell(dom, id, Wkb.write(g), ok = true) }
        }
      }
  }

  /** Runs [[plan]] with every domain above `autoTileAbove` seeds tiled:
    * tile = 64·s̄ and halo = 4·s̄, with s̄ = √(clipArea / n) the
    * near-uniform spacing estimate (halo 4·s̄ is the `VoronoiTiledSpec`
    * a-priori bound 2(1+2a)·s + ε at jitter a < 0.45, with margin;
    * tiles of ≈4,096 seeds replicate (1 + 2·4/64)² ≈ 1.13× of them).
    * The estimate is never trusted blindly: when any domain is tiled
    * the result is materialized once, and only the domains whose guard
    * fired rerun, first with a doubled halo and then as one tile. Wrong
    * output is impossible, only retry cost; a non-uniform seed cloud
    * degrades to its single-tile diagram instead of failing. `clip`
    * fixes every domain's clip box; without it a domain is clipped to
    * its seeds' extent expanded by `margin`. `autoTileAbove =
    * Long.MaxValue` (the caller KNOWS every domain is small) skips the
    * per-domain stats pass: an isolated A/B measured it at ~0.2 s of job
    * scheduling even on a 360-row lattice. */
  private def autoTiled(ds: Dataset[DomainSeed], autoTileAbove: Long,
      clip: Option[Envelope], margin: Double): Dataset[Cell] = {
    import ds.sparkSession.implicits._
    val fixed = clip.map(c => Map(0L -> Cut(c, 0, 0))).getOrElse(Map.empty)
    // one aggregate pass finds the domains too big for one tile, with
    // the extent their clip needs; ≤ totalSeeds/autoTileAbove rows
    // ever reach the driver
    val big: Map[Long, (Envelope, Double)] =
      if (autoTileAbove == Long.MaxValue) Map.empty
      else ds.groupBy($"domain")
        .agg(count(lit(1)).as("n"),
          min($"x"), max($"x"), min($"y"), max($"y"))
        .filter($"n" > autoTileAbove)
        .collect().map { r =>
          val env = clip.getOrElse(new Envelope(r.getDouble(2) - margin,
            r.getDouble(3) + margin, r.getDouble(4) - margin,
            r.getDouble(5) + margin))
          r.getLong(0) -> (env, math.sqrt(env.getArea / r.getLong(1)))
        }.toMap
    def run(in: Dataset[DomainSeed], doms: Seq[Long],
        halos: List[Double]): Dataset[Cell] = halos match {
      case Nil => plan(in, fixed, margin)
      case h :: more =>
        val cuts = fixed ++ doms.map { d =>
          val (env, s) = big(d)
          d -> Cut(env, 64 * s, h * s)
        }
        val out = plan(in, cuts, margin).localCheckpoint()
        val failed = out.filter(!$"ok").select($"domain").distinct()
          .as[Long].collect().toSeq
        if (failed.isEmpty) out
        else out.filter(!$"domain".isin(failed: _*)).union(
          run(ds.filter($"domain".isin(failed: _*)), failed, more))
    }
    // one constant domain in one tile: one input partition, so the
    // grouping adds no exchange and the cells stay one partition, which
    // a downstream global aggregate consumes without another shuffle
    if (big.isEmpty)
      plan(if (clip.isDefined) ds.repartition(1) else ds, fixed, margin)
    else run(ds, big.keys.toSeq, List(4.0, 8.0))
  }

  /** Tessellate one domain of seeds, clipped to `clip`. Seeds must be
    * distinct points. Output: (idCol, geom WKB). Up to `autoTileAbove`
    * seeds the domain is one diagram on one task (the reference's
    * all-in-RAM profile); above it the domain is tiled with a verified
    * halo and the exact single-tile fallback, as described at
    * [[autoTiled]]. */
  def tessellate(points: DataFrame, idCol: String, xCol: String, yCol: String,
      clip: (Double, Double, Double, Double),
      autoTileAbove: Long = 65536L): DataFrame = {
    val (x0, y0, x1, y1) = clip
    autoTiled(seedsOf(points, lit(0L), idCol, xCol, yCol), autoTileAbove,
        Some(new Envelope(x0, x1, y0, y1)), 0.0)
      .select(col("id").as(idCol), col("geom"))
  }

  /** Tile-with-halo tessellation of a SINGLE huge domain with a
    * caller-chosen `tileSize` and `halo` (SURVEY §7 hard part #1).
    *
    * Each seed is assigned to a `tileSize` grid tile and REPLICATED into
    * every tile within `halo` distance of its position. Each tile then
    * tessellates its seeds+halo independently (one diagram per tile)
    * and keeps only cells of its interior seeds, clipped to tile ∩ clip
    * box. Interior cells match the global diagram whenever every
    * Voronoi neighbor of an interior seed lies within `halo` of the
    * tile — the standard halo-sufficiency condition (halo ≳ 2× the
    * largest seed-spacing gap). Callers pick `halo` from known grid
    * spacing (the reference's grids are near-uniform) — and the
    * condition is VERIFIED per tile, not trusted: any interior seed
    * whose cell touches the tile's halo-inflated envelope on a non-clip
    * side proves the halo too small (the true cell could extend
    * further, bounded by unseen seeds), and the query fails loudly with
    * the offending seed instead of silently returning a wrong geometry.
    */
  def tessellateTiled(points: DataFrame, idCol: String, xCol: String,
      yCol: String, clip: (Double, Double, Double, Double),
      tileSize: Double, halo: Double): DataFrame = {
    import points.sparkSession.implicits._
    require(tileSize > 0 && !tileSize.isInfinite && halo >= 0,
      s"tessellateTiled: tileSize=$tileSize and halo=$halo")
    val (x0, y0, x1, y1) = clip
    val cut = Cut(new Envelope(x0, x1, y0, y1), tileSize, halo)
    plan(seedsOf(points, lit(0L), idCol, xCol, yCol), Map(0L -> cut), 0.0)
      .map { c =>
        if (!c.ok) throw new IllegalStateException(
          s"tessellateTiled: halo=$halo is insufficient — interior seed " +
            s"${c.id}'s cell touches its tile's halo boundary; its true " +
            "Voronoi cell may be bounded by seeds outside the halo. Re-run " +
            "with a larger halo (>= 2x the largest seed-spacing gap).")
        (c.id, c.geom)
      }
      .toDF(idCol, "geom")
  }

  /** Domain-parallel tessellation: one Voronoi diagram per `domainCol`
    * value — how many independent grids (model runs, tiles, regions)
    * tessellate concurrently on a cluster. Clip envelope is per-domain:
    * the seeds' extent expanded by `margin`. All domains run in the one
    * plan: a domain of at most `autoTileAbove` seeds is one tile
    * (domains hashed across tasks), a larger one is tiled within the
    * domain with the verified halo and per-domain fallback described
    * at [[autoTiled]], so no domain funnels a huge diagram into one
    * task and no task is stuck with a handful of whole large domains.
    * Output: (domainCol, idCol, geom WKB). */
  def tessellateByDomain(points: DataFrame, domainCol: String, idCol: String,
      xCol: String, yCol: String, margin: Double,
      autoTileAbove: Long = 65536L): DataFrame =
    autoTiled(seedsOf(points, col(domainCol), idCol, xCol, yCol),
        autoTileAbove, None, margin)
      .select(col("domain").as(domainCol), col("id").as(idCol), col("geom"))
}
