package perfbench

import graft.etl.{DictScanner, Extract}
import graft.geo.{CellIndex, Geo}
import graft.model.{AdminPolygon, GazetteerRow}

/**
 * JVM kernel timers, run on the driver without Spark (and without JMH: the
 * build is offline). Each kernel is fed the workload's own generated text
 * and polygons, runs for a fixed slice of wall time per round after a
 * warm-up round, and reports the median round.
 */
object Kernels {
  private val RoundNs = 100L * 1000000L
  private val Rounds = 5

  @volatile private var sink = 0L

  /** Median over rounds of (work units done / seconds), each round running
    * `step` repeatedly for RoundNs; `step` returns the work units it did. */
  private def rate(step: () => Long): Double = {
    def round(): Double = {
      var units = 0L
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < RoundNs) { units += step(); t = System.nanoTime() }
      units / ((t - t0) / 1e9)
    }
    round()
    Stats.median((0 until Rounds).map(_ => round()))
  }

  final case class Result(asciiMbPerS: Double, slowMbPerS: Double, cellEncodeNs: Double,
                          raycastNsPerEdge: Double, trieBuildMs: Double)

  def run(texts: Seq[String], points: Seq[(Double, Double)], polygons: Seq[AdminPolygon],
          gazetteer: Seq[GazetteerRow], scanner: DictScanner): Result = {
    val (slow, ascii) = texts.partition(_.exists(_ > 0x7f))
    val asciiBytes = ascii.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toArray
    var ai = 0
    val asciiRate = if (asciiBytes.isEmpty) 0.0 else rate { () =>
      val b = asciiBytes(ai % asciiBytes.length); ai += 1
      sink += Extract.extractAllBytes(b, scanner).length
      b.length.toLong
    } / 1e6
    val slowTexts = slow.toArray
    var si = 0
    val slowRate = if (slowTexts.isEmpty) 0.0 else rate { () =>
      val t = slowTexts(si % slowTexts.length); si += 1
      sink += Extract.extractAll(t, scanner).length
      t.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
    } / 1e6

    val pts = points.toArray
    var pi = 0
    val encodePerS = rate { () =>
      var k = 0
      while (k < 256) {
        val (lon, lat) = pts(pi % pts.length); pi += 1
        sink += CellIndex.encode(lon, lat, CellIndex.FineLevel)
        k += 1
      }
      256L
    }

    // ray casts against the polygons whose bbox holds the point: the
    // candidates the cell join hands to Reverse.bestPolygon
    val polys = polygons.map(p => (p, p.ring_offsets.toArray, p.ring_lons.toArray,
      p.ring_lats.toArray)).toArray
    val pairs = pts.flatMap { case (lon, lat) =>
      polys.filter { case (p, _, _, _) =>
        lon >= p.min_lon && lon <= p.max_lon && lat >= p.min_lat && lat <= p.max_lat
      }.map(p => (lon, lat, p))
    }
    var ri = 0
    val edgesPerS = if (pairs.isEmpty) 0.0 else rate { () =>
      val (lon, lat, (_, off, lons, lats)) = pairs(ri % pairs.length); ri += 1
      if (Geo.rayCast(lon, lat, off, lons, lats)) sink += 1
      lons.length.toLong
    }

    val trieMs = Stats.median((0 until 3).map { _ =>
      val t0 = System.nanoTime()
      val s = graft.engine.Gazetteer.scanner(gazetteer)
      sink += s.scanTokens(Array("warm")).length
      (System.nanoTime() - t0) / 1e6
    })
    Result(asciiRate, slowRate, 1e9 / encodePerS,
      if (edgesPerS == 0.0) 0.0 else 1e9 / edgesPerS, trieMs)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples above it, and
    * its value; None when there are fewer than eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    if (n < 11) None
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      Some(p -> quantile(xs, p / 100.0))
    }
  }
}
