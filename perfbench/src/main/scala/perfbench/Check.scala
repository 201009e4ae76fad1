package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._

import graft.etl.{DictScanner, Extract}
import graft.geo.Geo
import graft.model.{AdminPolygon, GazetteerRow}

/** One geocoded hit as the output check compares it. */
final case class Hit(url: String, surface: String, verb: String, refId: Long,
                     lon: Double, lat: Double, tileX: Long, tileY: Long)

/**
 * Brute-force reference for the pipeline's hits, computed on the driver
 * without Spark: mentions from `Extract.extractAll`, forward by a linear
 * scan of the gazetteer rows keeping the max of (weight, importance,
 * -place_id), reverse by `Geo.rayCast` over every polygon keeping the most
 * specific admin_level, then the lowest polygon_id.
 */
final class Reference(gazetteer: Seq[GazetteerRow], polygons: Seq[AdminPolygon],
                      scanner: DictScanner, tileZ: Int) {

  private final case class Poly(id: Long, level: Int, offsets: Array[Int],
                                lons: Array[Double], lats: Array[Double])
  private val polys = polygons.map(p => Poly(p.polygon_id, p.admin_level,
    p.ring_offsets.toArray, p.ring_lons.toArray, p.ring_lats.toArray)).toArray

  private def better(a: GazetteerRow, b: GazetteerRow): Boolean =
    if (a.weight != b.weight) a.weight > b.weight
    else if (a.importance != b.importance) a.importance > b.importance
    else a.place_id < b.place_id

  def reverseOf(lon: Double, lat: Double): Option[Long] = {
    var best: Poly = null
    var i = 0
    while (i < polys.length) {
      val p = polys(i)
      if (Geo.rayCast(lon, lat, p.offsets, p.lons, p.lats) &&
          (best == null || p.level > best.level ||
            (p.level == best.level && p.id < best.id))) best = p
      i += 1
    }
    Option(best).map(_.id)
  }

  /** Expected hits of the given (url, text) pages. */
  def hits(pages: Seq[(String, String)]): Seq[Hit] = {
    val mentions = pages.map { case (url, text) => url -> Extract.extractAll(text, scanner) }
    val needed = mentions.flatMap(_._2).filter(_.kind == "name").map(_.norm).toSet
    val best = mutable.HashMap.empty[String, GazetteerRow]
    gazetteer.foreach { r =>
      r.norm_keys.foreach { k =>
        if (needed.contains(k) && best.get(k).forall(b => better(r, b))) best(k) = r
      }
    }
    mentions.flatMap { case (url, ms) =>
      ms.toSeq.flatMap { m =>
        if (m.kind == "name")
          best.get(m.norm).map(r => Hit(url, m.surface, "forward", r.place_id, r.lon, r.lat,
            Geo.tileX(r.lon, tileZ), Geo.tileY(r.lat, tileZ)))
        else
          reverseOf(m.lon, m.lat).map(id => Hit(url, m.surface, "reverse", id, m.lon, m.lat,
            Geo.tileX(m.lon, tileZ), Geo.tileY(m.lat, tileZ)))
      }
    }
  }
}

object Check {
  /** Output columns an observation collects for the sampled pages. */
  def sampledHits(urls: Seq[String]): Column =
    collect_list(when(col("url").isin(urls: _*),
      struct(col("url"), col("surface"), col("verb"), col("ref_id"), col("lon"),
        col("lat"), col("tile_x"), col("tile_y"))))

  def fromRows(rows: Seq[Row]): Seq[Hit] = rows.map(r => Hit(r.getString(0), r.getString(1),
    r.getString(2), r.getLong(3), r.getDouble(4), r.getDouble(5), r.getLong(6), r.getLong(7)))

  /** Hits present on one side only, as a multiset difference both ways;
    * empty when the pipeline matched the reference exactly. */
  def diff(expected: Seq[Hit], actual: Seq[Hit]): Seq[String] = {
    def counts(h: Seq[Hit]) = h.groupBy(identity).view.mapValues(_.size).toMap
    val e = counts(expected)
    val a = counts(actual)
    (e.keySet ++ a.keySet).toSeq.flatMap { h =>
      val d = e.getOrElse(h, 0) - a.getOrElse(h, 0)
      if (d > 0) Seq(s"missing x$d: $h")
      else if (d < 0) Seq(s"unexpected x${-d}: $h")
      else Nil
    }
  }
}
