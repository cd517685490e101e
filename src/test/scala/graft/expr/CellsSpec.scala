package graft.expr

import graft.SparkSpec

class CellsSpec extends SparkSpec {

  test("morton roundtrip: ix/iy recoverable, res in header (property, seeded)") {
    val rnd = new scala.util.Random(42)
    (0 until 2000).foreach { _ =>
      val ix = rnd.nextLong((1L << 20)); val iy = rnd.nextLong((1L << 20))
      val c = Morton.encode(ix, iy, 20)
      assert(Morton.ix(c) === ix)
      assert(Morton.iy(c) === iy)
      assert(Morton.res(c) === 20)
    }
  }

  test("morton parent: 2-bit shift per level") {
    val c = Morton.encode(1023, 511, 10)
    val p = Morton.parent(c, 4)
    assert(Morton.res(p) === 4)
    assert(Morton.ix(p) === (1023L >> 6))
    assert(Morton.iy(p) === (511L >> 6))
  }

  test("morton preserves Z-order locality: adjacent cells share prefixes") {
    // sibling cells at res r share the parent at r-1
    val a = Morton.encode(10, 20, 8)
    val b = Morton.encode(11, 21, 8)
    assert(Morton.parent(a, 7) === Morton.parent(b, 7))
  }

  test("expression equals scala impl") {
    import spark.implicits._
    val df = Seq((3L, 5L), (0L, 0L), (63L, 63L)).toDF("ix", "iy")
      .select(Cells.mortonCell($"ix", $"iy", 6).as("c"), $"ix", $"iy")
    df.as[(Long, Long, Long)].collect().foreach { case (c, ix, iy) =>
      assert(c === Morton.encode(ix, iy, 6))
    }
  }

  test("neighbour ring: shell sizes and edge clamping (fixed_radius_search.rs:180-204)") {
    import spark.implicits._
    val center = Morton.encode(10, 10, 6)
    val corner = Morton.encode(0, 0, 6)
    val df = Seq((center, 0), (center, 1), (center, 2), (corner, 1))
      .toDF("cell", "shell")
      .select($"cell", $"shell", Cells.neighbourRing($"cell", $"shell").as("ring"))
    val rows = df.as[(Long, Int, Seq[Long])].collect()
      .map { case (c, s, r) => (c, s) -> r }.toMap
    // interior shells: 1, 8, 16 cells
    assert(rows((center, 0)) === Seq(center))
    assert(rows((center, 1)).size === 8)
    assert(rows((center, 2)).size === 16)
    // corner cell shell-1 clamps to 3 in-grid neighbours
    assert(rows((corner, 1)).size === 3)
    // every ring member is at Chebyshev distance == shell
    rows.foreach { case ((c, s), ring) =>
      ring.foreach { n =>
        val d = math.max(math.abs(Morton.ix(n) - Morton.ix(c)),
                         math.abs(Morton.iy(n) - Morton.iy(c)))
        assert(d === s)
      }
    }
  }
}
