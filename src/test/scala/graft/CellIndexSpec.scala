package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.cell.CellIndex

class CellIndexSpec extends AnyFunSuite with PropHelper {
  val lonGen: Gen[Double] = Gen.chooseNum(-179.999, 179.999)
  val latGen: Gen[Double] = Gen.chooseNum(-89.999, 89.999)
  val resGen: Gen[Int] = Gen.chooseNum(0, CellIndex.MaxRes)

  test("spread/compact roundtrip") {
    forAllP(Gen.chooseNum(0L, (1L << 26) - 1), Gen.const(0)) { (v, _) =>
      CellIndex.compact(CellIndex.spread(v)) == v
    }
  }

  test("encode embeds resolution and decodes to same grid coords") {
    forAllP(lonGen, latGen, resGen) { (lon, lat, r) =>
      val c = CellIndex.encode(lon, lat, r)
      CellIndex.resolution(c) == r &&
        CellIndex.xOf(c) == CellIndex.lonToX(lon, r) &&
        CellIndex.yOf(c) == CellIndex.latToY(lat, r) &&
        c >= 0L // packed ids stay non-negative (sortable as longs)
    }
  }

  test("cell ids are unique per (xi, yi, res) — Morton is injective") {
    val g = Gen.chooseNum(0L, 4095L)
    checkProp(org.scalacheck.Prop.forAll(g, g, g, g) { (x1, y1, x2, y2) =>
      val a = CellIndex.fromXY(x1, y1, 12)
      val b = CellIndex.fromXY(x2, y2, 12)
      (a == b) == (x1 == x2 && y1 == y2)
    })
  }

  test("point is always inside its cell bounds; center inside too") {
    forAllP(lonGen, latGen, Gen.chooseNum(1, 20)) { (lon, lat, r) =>
      val c = CellIndex.encode(lon, lat, r)
      val (x0, y0, x1, y1) = CellIndex.bounds(c)
      lon >= x0 && lon <= x1 && lat >= y0 && lat <= y1 &&
        CellIndex.centerLon(c) > x0 && CellIndex.centerLon(c) < x1 &&
        CellIndex.centerLat(c) > y0 && CellIndex.centerLat(c) < y1
    }
  }

  test("parent-child closure: every child's parent is the cell") {
    forAllP(lonGen, latGen, Gen.chooseNum(0, CellIndex.MaxRes - 1)) { (lon, lat, r) =>
      val c = CellIndex.encode(lon, lat, r)
      val kids = CellIndex.children(c)
      kids.length == 4 && kids.distinct.length == 4 &&
        kids.forall(k => CellIndex.parent(k) == c) &&
        kids.contains(CellIndex.encode(lon, lat, r + 1))
    }
  }

  test("multi-step parent equals iterated parent") {
    forAllP(lonGen, latGen) { (lon, lat) =>
      val c = CellIndex.encode(lon, lat, 12)
      CellIndex.parent(c, 6) ==
        (0 until 6).foldLeft(c)((acc, _) => CellIndex.parent(acc))
    }
  }
  test("disk: contains center, expected sizes, sorted output") {
    val c = CellIndex.encode(10.0, 45.0, 12)
    val d1 = CellIndex.disk(c, 1)
    assert(d1.length == 9 && d1.contains(c))
    val d2 = CellIndex.disk(c, 2)
    assert(d2.length == 25)
    assert(d1.forall(d2.contains))
    assert(d2.sorted.sameElements(d2))
  }

  test("ring k = disk k minus disk k-1") {
    forAllP(lonGen, latGen, Gen.chooseNum(1, 3)) { (lon, lat, k) =>
      val c = CellIndex.encode(lon, lat, 10)
      val ring = CellIndex.ring(c, k).toSet
      ring == CellIndex.disk(c, k).toSet -- CellIndex.disk(c, k - 1).toSet
    }
  }

  test("disk wraps longitude and clamps latitude at poles") {
    val nearPole = CellIndex.encode(0.0, 89.99, 8)
    assert(CellIndex.disk(nearPole, 1).length == 6) // top row clipped
    val nearAnti = CellIndex.encode(-179.99, 0.0, 8)
    val d2 = CellIndex.disk(nearAnti, 1)
    assert(d2.length == 9) // wrapped, not clipped
    assert(d2.exists(c => CellIndex.xOf(c) == (1L << 8) - 1))
    // a disk wider than the grid (8 x 8 cells at res 3) holds each cell once
    val whole = CellIndex.disk(CellIndex.encode(0.0, 0.0, 3), 16)
    assert(whole.length == 64 && whole.distinct.length == 64)
  }

  test("coverRect covers exactly the index ranges") {
    val cover = CellIndex.coverRect(-1.0, -1.0, 1.0, 1.0, 10)
    val x0 = CellIndex.lonToX(-1.0, 10); val x1 = CellIndex.lonToX(1.0, 10)
    val y0 = CellIndex.latToY(-1.0, 10); val y1 = CellIndex.latToY(1.0, 10)
    assert(cover.length == ((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
    assert(cover.distinct.length == cover.length)
    cover.foreach { c =>
      assert(CellIndex.xOf(c) >= x0 && CellIndex.xOf(c) <= x1)
      assert(CellIndex.yOf(c) >= y0 && CellIndex.yOf(c) <= y1)
    }
  }

  test("descendantRange brackets exactly the descendants") {
    forAllP(lonGen, latGen) { (lon, lat) =>
      val coarse = CellIndex.encode(lon, lat, 6)
      val (lo, hi) = CellIndex.descendantRange(coarse, 12)
      val fine = CellIndex.encode(lon, lat, 12)
      fine >= lo && fine <= hi &&
        CellIndex.parent(lo, 6) == coarse && CellIndex.parent(hi, 6) == coarse
    }
  }

  test("inRanges(coverRanges) == membership in some descendant range") {
    forAllP(lonGen, latGen) { (lon, lat) =>
      val cover = CellIndex.coverRect(40.0, -20.0, 150.0, 60.0, 6)
      val flat = CellIndex.coverRanges(cover, 12)
      // flat is sorted, disjoint, even length
      assert(flat.length % 2 == 0)
      assert(flat.sliding(2).forall(p => p(0) <= p(1)))
      val cell = CellIndex.encode(lon, lat, 12)
      val brute = cover.exists { c =>
        val (lo, hi) = CellIndex.descendantRange(c, 12)
        cell >= lo && cell <= hi
      }
      CellIndex.inRanges(cell, flat) == brute
    }
  }

  test("mergeRanges coalesces adjacent and overlapping ranges") {
    val flat = CellIndex.mergeRanges(Array((5L, 9L), (0L, 4L), (12L, 20L), (15L, 18L)))
    assert(flat.toSeq == Seq(0L, 9L, 12L, 20L))
    assert(CellIndex.inRanges(9L, flat) && !CellIndex.inRanges(10L, flat))
    assert(CellIndex.inRanges(12L, flat) && CellIndex.inRanges(20L, flat))
    assert(!CellIndex.inRanges(21L, flat) && !CellIndex.inRanges(-1L, flat))
  }

  test("tileXY matches parent cell coords") {
    forAllP(lonGen, latGen) { (lon, lat) =>
      val c = CellIndex.encode(lon, lat, 12)
      val (tx, ty) = CellIndex.tileXY(c, 6)
      val p = CellIndex.parent(c, 6)
      tx == CellIndex.xOf(p) && ty == CellIndex.yOf(p)
    }
  }
}
