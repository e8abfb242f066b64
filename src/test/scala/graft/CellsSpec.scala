package graft

import graft.core.{Cells, GeoOps}
import org.scalatest.funsuite.AnyFunSuite

class CellsSpec extends AnyFunSuite {

  /** True if `anc` is `cell` or an ancestor of it. */
  private def contains(anc: Long, cell: Long): Boolean = {
    val la = Cells.level(anc); val lc = Cells.level(cell)
    la <= lc && Cells.parentAt(cell, la) == anc
  }

  private def parent(cell: Long): Long = Cells.parentAt(cell, Cells.level(cell) - 1)

  // deterministic property sampling (seeded; no external generator lib)
  private def samples(n: Int = 500): Seq[(Double, Double, Int)] = {
    val rnd = new scala.util.Random(42)
    (0 until n).map { _ =>
      (rnd.nextDouble() * 179.8 - 89.9,
       rnd.nextDouble() * 359.8 - 179.9,
       rnd.nextInt(Cells.MaxLevel + 1))
    }
  }

  test("level is encoded and recovered") {
    samples().foreach { case (lat, lng, l) =>
      assert(Cells.level(Cells.cellOf(lat, lng, l)) == l)
    }
  }

  test("parent hierarchy is consistent with direct computation") {
    samples(100).foreach { case (lat, lng, l) =>
      val c = Cells.cellOf(lat, lng, l)
      (0 to l).foreach { pl =>
        assert(Cells.parentAt(c, pl) == Cells.cellOf(lat, lng, pl),
          s"ancestor at $pl of level-$l cell must equal direct cellOf")
      }
    }
  }

  test("cell bounds contain the generating point") {
    samples().foreach { case (lat, lng, l) =>
      val c = Cells.cellOf(lat, lng, l)
      assert(lat >= Cells.latLo(c) && lat <= Cells.latHi(c))
      assert(lng >= Cells.lngLo(c) && lng <= Cells.lngHi(c))
    }
  }

  test("contains relation matches parentAt") {
    samples().foreach { case (lat, lng, l) =>
      val la = l / 2; val lc = math.max(l, la + 1)
      val anc = Cells.cellOf(lat, lng, la)
      val cell = Cells.cellOf(lat, lng, lc)
      assert(contains(anc, cell))
    }
  }

  test("children partition the parent") {
    val c = Cells.cellOf(51.53, -0.12, 10)
    val kids = Cells.children(c)
    assert(kids.length == 4 && kids.distinct.length == 4)
    kids.foreach(k => assert(parent(k) == c))
  }

  test("neighbor ring has 8r cells in the grid interior") {
    val c = Cells.cellOf(51.53, -0.12, 12)
    assert(Cells.neighborRing(c, 1).length == 8)
    assert(Cells.neighborRing(c, 2).length == 16)
    assert(Cells.neighborDisk(c, 2).length == 25)
  }

  test("covering is disjoint and contains every interior point's cell") {
    val wkts = graft.model.Fixtures.convexPolygons.map { case (_, _, ring) =>
      val closed = ring :+ ring.head
      closed.map { case (x, y) => s"$x $y" }.mkString("POLYGON ((", ", ", "))")
    } ++ graft.model.Fixtures.concaveWkts.map(_._2)
    wkts.foreach { wkt =>
      val g = GeoOps.fromWkt(wkt)
      val cover = GeoOps.covering(g, 16, 5)
      assert(cover.nonEmpty && cover.length <= 5)
      // pairwise disjoint
      for (a <- cover; b <- cover if a != b)
        assert(!contains(a, b) && !contains(b, a), s"cells $a,$b overlap")
      // superset: sampled interior points must land under some covering cell
      val env = g.getEnvelopeInternal
      val rnd = new scala.util.Random(42)
      (0 until 200).foreach { _ =>
        val lng = env.getMinX + rnd.nextDouble() * env.getWidth
        val lat = env.getMinY + rnd.nextDouble() * env.getHeight
        if (g.covers(GeoOps.point(lat, lng))) {
          val pc = Cells.cellOf(lat, lng, Cells.MaxLevel)
          assert(cover.exists(c => contains(c, pc)),
            s"point ($lat,$lng) inside geometry but outside covering of $wkt")
        }
      }
    }
  }

  test("tile cover of a bbox includes all corner tiles") {
    val tiles = GeoOps.tileCoverBBox(51.46, -0.21, 51.63, -0.052, 14)
    assert(tiles.nonEmpty)
    val x0 = GeoOps.tileX(-0.21, 14); val x1 = GeoOps.tileX(-0.052, 14)
    val y0 = GeoOps.tileY(51.63, 14); val y1 = GeoOps.tileY(51.46, 14)
    assert(tiles.length == ((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
  }

  test("haversine matches a known value with b6 earth radius") {
    // London (51.5074, -0.1278) to Cambridge (52.2053, 0.1218) ~ 79.6 km
    val d = GeoOps.haversineMeters(51.5074, -0.1278, 52.2053, 0.1218)
    assert(math.abs(d - 79600) < 1000, s"got $d")
  }
}
