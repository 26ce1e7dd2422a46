package graft.geo

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Property tests the reference suite lacked (SURVEY §5.3): WKB
  * round-trip totality, predicate symmetry, distance/intersects
  * consistency, envelope containment of centroids, filter-refine
  * soundness. Deterministic seeded generation (no external
  * property-test framework needed in the offline build).
  */
class GeoPropertySpec extends AnyFunSuite {

  private val N = 300

  private def forSeeds(f: Random => Unit): Unit =
    (0 until N).foreach { i => f(new Random(42L + i)) }

  private def coord(r: Random): Double = math.rint((r.nextDouble() * 360 - 180) * 16) / 16

  private def genPoint(r: Random): Point = Point(Pt(coord(r), coord(r)))

  private def genLine(r: Random): LineString = {
    val n = 2 + r.nextInt(5)
    LineString(IndexedSeq.fill(n)(Pt(coord(r), coord(r))))
  }

  /** Convex polygon: points sorted by angle around a center. */
  private def genPolygon(r: Random): Polygon = {
    val cx = coord(r); val cy = coord(r)
    val n = 3 + r.nextInt(6)
    val radius = 0.1 + r.nextDouble() * 5
    val pts = Seq.fill(n)(r.nextDouble() * 2 * math.Pi).distinct.sorted.map { a =>
      Pt(math.rint((cx + radius * math.cos(a)) * 16) / 16,
         math.rint((cy + radius * math.sin(a)) * 16) / 16)
    }.toIndexedSeq
    val ring =
      if (pts.length >= 3) pts :+ pts.head
      else IndexedSeq(Pt(cx, cy), Pt(cx + 1, cy), Pt(cx, cy + 1), Pt(cx, cy))
    Polygon(IndexedSeq(ring))
  }

  private def genGeom(r: Random): Geometry = r.nextInt(3) match {
    case 0 => genPoint(r)
    case 1 => genLine(r)
    case _ => genPolygon(r)
  }

  test("WKB round-trips every generated geometry") {
    forSeeds { r => val g = genGeom(r); assert(Wkb.read(Wkb.write(g)) == g) }
  }

  test("WKT round-trips every generated geometry") {
    forSeeds { r => val g = genGeom(r); assert(GeoOps.fromWkt(GeoOps.toWkt(g)) == g) }
  }

  test("intersects is symmetric") {
    forSeeds { r =>
      val a = genGeom(r); val b = genGeom(r)
      assert(GeoOps.intersects(a, b) == GeoOps.intersects(b, a))
    }
  }

  test("distance is symmetric and zero iff intersecting") {
    forSeeds { r =>
      val a = genGeom(r); val b = genGeom(r)
      val d1 = GeoOps.distance(a, b); val d2 = GeoOps.distance(b, a)
      assert(d1 == d2)
      if (GeoOps.intersects(a, b)) assert(d1 == 0.0, s"$a ∩ $b but d=$d1")
      else assert(d1 > 0.0, s"$a ∉ $b but d=0")
    }
  }

  test("every geometry intersects itself at distance zero") {
    forSeeds { r =>
      val g = genGeom(r)
      assert(GeoOps.intersects(g, g))
      assert(GeoOps.distance(g, g) == 0.0)
    }
  }

  test("centroid lies within the envelope") {
    forSeeds { r =>
      val g = genGeom(r)
      val c = GeoOps.centroid(g); val e = g.envelope
      assert(c.x >= e.xmin - 1e-9 && c.x <= e.xmax + 1e-9, s"centroid $c outside $e of $g")
      assert(c.y >= e.ymin - 1e-9 && c.y <= e.ymax + 1e-9)
    }
  }

  test("envelope bbox-overlap is implied by intersection (filter-refine soundness)") {
    forSeeds { r =>
      val a = genGeom(r); val b = genGeom(r)
      if (GeoOps.intersects(a, b)) assert(a.envelope.intersects(b.envelope))
    }
  }

  test("polygon area is non-negative and bounded by its envelope") {
    forSeeds { r =>
      val p = genPolygon(r)
      val a = GeoOps.area(p); val e = p.envelope
      assert(a >= 0.0)
      assert(a <= (e.xmax - e.xmin) * (e.ymax - e.ymin) + 1e-9)
    }
  }

  test("intersection area never exceeds either input; empty when disjoint") {
    forSeeds { r =>
      val a = genPolygon(r); val b = genPolygon(r)
      val inter = GeoOps.intersection(a, b)
      val ia = GeoOps.area(inter)
      assert(ia <= GeoOps.area(a) + 1e-6)
      assert(ia <= GeoOps.area(b) + 1e-6)
      if (!GeoOps.intersects(a, b)) assert(inter.isEmpty)
    }
  }

  test("grid-cell neighborhood covers the 0.2-degree pre-filter window") {
    // soundness of the GridJoinRule rewrite: |Δ| < cell ⇒ cell
    // indexes differ by at most 1
    val cell = graft.plans.GridJoinRule.CellDeg
    forSeeds { r =>
      val x1 = coord(r)
      val x2 = x1 + (r.nextDouble() * 2 * cell - cell)
      if (math.abs(x1 - x2) < cell) {
        val c1 = math.floor(x1 / cell).toLong
        val c2 = math.floor(x2 / cell).toLong
        assert(math.abs(c1 - c2) <= 1, s"$x1 vs $x2: cells $c1/$c2")
      }
    }
  }
}
