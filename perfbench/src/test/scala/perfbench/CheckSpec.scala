package perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Gazetteer
import graft.fixtures.World

/** The output check must pass the reference's own hits and catch any
  * perturbed, dropped or extra hit. */
class CheckSpec extends AnyFunSuite {
  private val gaz = World.gazetteer(filler = 200)
  private val polys = World.polygons(filler = 20) ++ NestedWorld.polygons().take(50)
  private val scanner = Gazetteer.scanner(gaz)
  private val ref = new Reference(gaz, polys, scanner, Gen.TileZ)
  private val keys = Gen.rankedKeys(gaz, 3L)
  private val zipf = new Gen.Zipf(keys.length, Gen.ZipfExponent)
  private val pages = (0L until 300L).map { i =>
    val text = if (i % 2 == 0) Gen.crawlText(3L, i, keys, zipf) else Gen.denseText(3L, i, keys, zipf)
    Gen.url("test", 3L, i) -> text
  }
  private val expected = ref.hits(pages)

  test("generated pages yield both forward and reverse hits") {
    assert(expected.exists(_.verb == "forward"))
    assert(expected.exists(_.verb == "reverse"))
    assert(pages.exists(_._2.exists(_ > 0x7f)), "some pages take the non-ASCII path")
  }

  test("identical hits in another order pass") {
    assert(Check.diff(expected, expected.reverse).isEmpty)
  }

  test("one swapped ref_id is caught") {
    val i = expected.indexWhere(_.verb == "reverse")
    val bad = expected.updated(i, expected(i).copy(refId = expected(i).refId + 1))
    assert(Check.diff(expected, bad).size == 2)
  }

  test("a dropped, a duplicated or a moved hit is caught") {
    assert(Check.diff(expected, expected.tail).nonEmpty)
    assert(Check.diff(expected, expected :+ expected.head).nonEmpty)
    val moved = expected.updated(0, expected.head.copy(tileX = expected.head.tileX + 1))
    assert(Check.diff(expected, moved).nonEmpty)
  }

  test("reverse picks the most specific enclosing polygon") {
    // the centre of a city without a hole lies in city, state and country
    val c = NestedWorld.polygons().find(p => p.admin_level == 8 && p.ring_offsets.size == 2).get
    assert(ref.reverseOf((c.min_lon + c.max_lon) / 2, (c.min_lat + c.max_lat) / 2)
      .contains(c.polygon_id))
  }

  test("tail is the highest percentile with ten samples beyond it") {
    assert(Stats.tail((1 to 10).map(_.toDouble)).isEmpty)
    assert(Stats.tail((1 to 100).map(_.toDouble)).map(_._1).contains(90))
  }
}
