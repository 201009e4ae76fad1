package perfbench

import java.sql.Timestamp

import graft.fixtures.World
import graft.model.{AdminPolygon, GazetteerRow, Page}

/**
 * Seeded input generators. Every value is a pure function of (seed, row id,
 * draw index), so a table is identical whatever its partitioning.
 *
 * Crawl pages keep the shape of `graft.fixtures.Synth.pageFor` (4-11
 * sentence blocks of 12-25 filler words; a block carries a place name with
 * probability 1/4 and a decimal lat/lon literal near a fixture anchor with
 * probability 1/8) with two changes: names are drawn with a Zipf skew over
 * every name key of the gazetteer, and a fixed share of pages carries one
 * non-ASCII word, which sends them down extraction's string slow path.
 *
 * Dense pages carry a coordinate literal in most blocks and few names; the
 * points fall on the nested admin world of [[NestedWorld]].
 */
object Gen {

  val GazetteerFiller = 50000
  val CrawlPolygonFiller = 200
  val ZipfExponent = 0.9
  val NonAsciiShare = 0.25
  val TileZ = 12

  def mix(seed: Long, id: Long, k: Long): Long = {
    var z = id * 0x9E3779B97F4A7C15L + k * 0xC2B2AE3D27D4EB4FL + seed * 0x632BE59BD9B4E019L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def unit(seed: Long, id: Long, k: Long): Double =
    (mix(seed, id, k) >>> 11).toDouble / (1L << 53).toDouble

  def pick(seed: Long, id: Long, k: Long, n: Int): Int =
    java.lang.Long.remainderUnsigned(mix(seed, id, k), n.toLong).toInt

  private val words = Array("the", "quick", "analysis", "page", "crawl", "web",
    "data", "spatial", "join", "index", "cell", "tile", "batch", "report",
    "street", "city", "map", "river", "route", "survey")
  private val slowWords = Array("München", "Zürich", "Köln", "Straße", "café")
  private val langs = Array("de", "es", "en", "fr", "it")
  private val anchors = Array((2.12870, 41.40139), (7.451352119445801, 46.92793655395508),
    (11.5884858, 48.1700887), (13.34, 52.53), (-0.1361, 51.5215))

  /** Zipf(s) over ranks 0..n-1 by inverse-CDF lookup. */
  final class Zipf(n: Int, s: Double) extends Serializable {
    private val cdf: Array[Double] = {
      val c = new Array[Double](n)
      var acc = 0.0
      var r = 0
      while (r < n) { acc += 1.0 / math.pow(r + 1.0, s); c(r) = acc; r += 1 }
      r = 0
      while (r < n) { c(r) /= acc; r += 1 }
      c
    }
    def sample(u: Double): Int = {
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** The gazetteer name keys in a seed-dependent popularity order, so the
    * hot keys differ from seed to seed. */
  def rankedKeys(gaz: Seq[GazetteerRow], seed: Long): Array[String] =
    gaz.flatMap(_.norm_keys).distinct.sorted.toArray
      .sortBy(k => mix(seed, graft.text.TextCore.fnv64(k), 91))

  /** How a key is written on a page: each token capitalised. */
  def surfaceOf(key: String): String =
    key.split(' ').map(t => t.head.toUpper.toString + t.tail).mkString(" ")

  /** "%.5f" of v, as Synth writes literals. */
  def fmt5(v: Double): String = {
    val neg = v < 0
    val scaled = math.round(math.abs(v) * 100000.0)
    val fp = (scaled % 100000L).toInt
    val sb = new java.lang.StringBuilder(12)
    if (neg) sb.append('-')
    sb.append(scaled / 100000L).append('.')
    val f = fp.toString
    var pad = 5 - f.length
    while (pad > 0) { sb.append('0'); pad -= 1 }
    sb.append(f).toString
  }

  private def fillerWords(sb: java.lang.StringBuilder, seed: Long, i: Long, k: Long,
                          n: Int): Unit = {
    var w = 0
    while (w < n) {
      sb.append(words(pick(seed, i, k + 10 + w, words.length))).append(' ')
      w += 1
    }
  }

  def url(kind: String, seed: Long, i: Long): String = s"https://example.org/$kind/$seed/$i"

  def page(kind: String, seed: Long, i: Long, text: String): Page = {
    val html = ("<html><body>" + text + "</body></html>")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Page(url(kind, seed, i), new Timestamp(1767225600000L + i * 1000L),
      html, text, langs(pick(seed, i, 8, langs.length)))
  }

  def isSlowPage(seed: Long, i: Long): Boolean = unit(seed, i, 77) < NonAsciiShare

  /** Crawl-shaped page text (see the object comment). */
  def crawlText(seed: Long, i: Long, keys: Array[String], zipf: Zipf): String = {
    val sb = new java.lang.StringBuilder(1200)
    val nBlocks = 4 + pick(seed, i, 1, 8)
    val slowBlock = if (isSlowPage(seed, i)) pick(seed, i, 78, nBlocks) else -1
    var blk = 0
    while (blk < nBlocks) {
      val k = blk * 100L
      fillerWords(sb, seed, i, k, 12 + pick(seed, i, k + 9, 14))
      if (blk == slowBlock) sb.append(slowWords(pick(seed, i, 79, slowWords.length))).append(' ')
      val r = pick(seed, i, k + 2, 8)
      if (r < 2) {
        sb.append("near ").append(surfaceOf(keys(zipf.sample(unit(seed, i, k + 4)))))
      } else if (r < 3) {
        val (alon, alat) = anchors(pick(seed, i, k + 5, anchors.length))
        val jLon = (pick(seed, i, k + 6, 2001) - 1000) / 1000.0 * 0.002
        val jLat = (pick(seed, i, k + 7, 2001) - 1000) / 1000.0 * 0.002
        sb.append("at ").append(fmt5(alat + jLat)).append(", ")
          .append(fmt5(alon + jLon)).append(" exactly")
      }
      sb.append(". ")
      blk += 1
    }
    sb.append("end.").toString
  }

  /** Coordinate-dense page text: 3/4 of the blocks carry a lat/lon literal
    * on the nested world, 1/20 a place name. */
  def denseText(seed: Long, i: Long, keys: Array[String], zipf: Zipf): String = {
    val sb = new java.lang.StringBuilder(800)
    val nBlocks = 4 + pick(seed, i, 1, 8)
    val slowBlock = if (isSlowPage(seed, i)) pick(seed, i, 78, nBlocks) else -1
    var blk = 0
    while (blk < nBlocks) {
      val k = blk * 100L
      fillerWords(sb, seed, i, k, 6 + pick(seed, i, k + 9, 8))
      if (blk == slowBlock) sb.append(slowWords(pick(seed, i, 79, slowWords.length))).append(' ')
      val u = unit(seed, i, k + 2)
      if (u < 0.75) {
        val (lon, lat) = NestedWorld.point(seed, i, k)
        sb.append("at ").append(fmt5(lat)).append(", ").append(fmt5(lon)).append(" exactly")
      } else if (u < 0.80) {
        sb.append("near ").append(surfaceOf(keys(zipf.sample(unit(seed, i, k + 4)))))
      }
      sb.append(". ")
      blk += 1
    }
    sb.append("end.").toString
  }

  def gazetteer(): Seq[GazetteerRow] = World.gazetteer(filler = GazetteerFiller)
}

/**
 * Nested admin polygons for the reverse-dense workload, built with
 * `World.ringsPoly`: countries (level 2) contain states (level 4) contain
 * cities (level 8). Every third state and every second city has a hole.
 * Rings are jittered regular polygons; nesting holds by construction
 * (radii and offsets below keep every child inside its parent's ring and
 * out of its parent's hole). The world is fixed; only the points depend on
 * the seed.
 */
object NestedWorld {
  val Countries = 24
  val StatesPerCountry = 6
  val CitiesPerState = 5
  val CountryRadius = 0.25
  val CountryVertices = 160
  val StateVertices = 64
  val CityVertices = 24

  private val stateRadius = 0.2 * CountryRadius
  private val cityRadius = 0.2 * stateRadius

  private def countryCentre(c: Int): (Double, Double) =
    (-100.0 + 4.0 * (c % 8), 12.0 + 6.0 * (c / 8))
  private def stateCentre(c: Int, s: Int): (Double, Double) = {
    val (lon, lat) = countryCentre(c)
    val a = 2 * math.Pi * s / StatesPerCountry
    (lon + 0.5 * CountryRadius * math.cos(a), lat + 0.5 * CountryRadius * math.sin(a))
  }
  private def cityCentre(c: Int, s: Int, t: Int): (Double, Double) = {
    val (lon, lat) = stateCentre(c, s)
    val a = 2 * math.Pi * t / CitiesPerState + 0.3
    (lon + 0.6 * stateRadius * math.cos(a), lat + 0.6 * stateRadius * math.sin(a))
  }

  /** CCW ring of n vertices, radius r jittered into [0.85r, 1.15r] unless `exact`. */
  private def ring(id: Long, lon: Double, lat: Double, r: Double, n: Int,
                   exact: Boolean): (Seq[Double], Seq[Double]) = {
    val pts = (0 until n).map { j =>
      val a = 2 * math.Pi * j / n
      val rj = if (exact) r else r * (0.85 + 0.3 * Gen.unit(7L, id, j))
      (lon + rj * math.cos(a), lat + rj * math.sin(a))
    }
    (pts.map(_._1), pts.map(_._2))
  }

  def polygons(): Seq[AdminPolygon] = (0 until Countries).flatMap { c =>
    val cid = 100000L + c * 1000L
    val (clon, clat) = countryCentre(c)
    val country = graft.fixtures.World.ringsPoly(cid, s"Country $c", 2, "us",
      Seq(ring(cid, clon, clat, CountryRadius, CountryVertices, exact = false)),
      country = s"Country $c")
    val states = (0 until StatesPerCountry).flatMap { s =>
      val sid = cid + 1 + s * 10L
      val (slon, slat) = stateCentre(c, s)
      val outer = ring(sid, slon, slat, stateRadius, StateVertices, exact = false)
      val rings = if (s % 3 == 0)
        Seq(outer, ring(sid, slon, slat, 0.25 * stateRadius, StateVertices, exact = true))
      else Seq(outer)
      val state = graft.fixtures.World.ringsPoly(sid, s"State $c.$s", 4, "us", rings,
        country = s"Country $c")
      val cities = (0 until CitiesPerState).map { t =>
        val tid = sid + 1 + t
        val (tlon, tlat) = cityCentre(c, s, t)
        val outerT = ring(tid, tlon, tlat, cityRadius, CityVertices, exact = false)
        val ringsT = if (t % 2 == 0)
          Seq(outerT, ring(tid, tlon, tlat, 0.3 * cityRadius, CityVertices, exact = true))
        else Seq(outerT)
        graft.fixtures.World.ringsPoly(tid, s"City $c.$s.$t", 8, "us", ringsT,
          city = s"City $c.$s.$t", country = s"Country $c")
      }
      state +: cities
    }
    country +: states
  }

  /** A point for draw (i, k): half land in a city's bbox, 3/10 in a state's
    * bbox, 1/5 in a country's bbox widened by 30% (so some fall outside
    * every polygon). Holes and bbox corners give the rest of the misses. */
  def point(seed: Long, i: Long, k: Long): (Double, Double) = {
    val c = Gen.pick(seed, i, k + 20, Countries)
    val s = Gen.pick(seed, i, k + 21, StatesPerCountry)
    val t = Gen.pick(seed, i, k + 22, CitiesPerState)
    val u = Gen.unit(seed, i, k + 23)
    val ((lon, lat), half) =
      if (u < 0.5) (cityCentre(c, s, t), 1.15 * cityRadius)
      else if (u < 0.8) (stateCentre(c, s), 1.15 * stateRadius)
      else (countryCentre(c), 1.3 * 1.15 * CountryRadius)
    (lon + (2 * Gen.unit(seed, i, k + 24) - 1) * half,
     lat + (2 * Gen.unit(seed, i, k + 25) - 1) * half)
  }
}
