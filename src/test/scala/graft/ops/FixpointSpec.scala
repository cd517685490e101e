package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** The shared fixpoint loop (`Dem.converge`) and its pointer-jumping
  * step (`Dem.jump`, run to the roots by `Dem.roots`): a fixpoint that
  * does not settle within its cap must fail loudly and name itself,
  * never hand back its last state. */
class FixpointSpec extends SparkSpec {

  /** (ix, iy) → (rx, ry) pointers: a 100-cell chain (i, 0) → (i + 1, 0)
    * rooted at (99, 0), plus a branching tree rooted at (0, 5). */
  private val forest: Map[(Long, Long), (Long, Long)] = {
    val chain = (0L until 100L).map(i => (i, 0L) -> (math.min(i + 1, 99L), 0L))
    val tree = Seq(
      (0L, 5L) -> (0L, 5L), (1L, 5L) -> (0L, 5L), (2L, 5L) -> (0L, 5L),
      (3L, 5L) -> (1L, 5L), (4L, 5L) -> (3L, 5L), (5L, 5L) -> (3L, 5L),
      (6L, 5L) -> (5L, 5L), (7L, 5L) -> (2L, 5L))
    (chain ++ tree).toMap
  }

  private def pointers: DataFrame = {
    import spark.implicits._
    forest.toSeq.map { case ((ix, iy), (rx, ry)) => (ix, iy, rx, ry) }
      .toDF("ix", "iy", "rx", "ry")
  }

  /** scalar walk from a cell to the terminal that points at itself */
  private def terminal(c: (Long, Long)): (Long, Long) =
    if (forest(c) == c) c else terminal(forest(c))

  test("converge throws, naming the fixpoint, when the step never settles") {
    import spark.implicits._
    val init = Seq((0L, 0L, 0L), (1L, 0L, 0L)).toDF("ix", "iy", "v")
    val e = intercept[IllegalArgumentException] {
      Dem.converge(init, 5, 1, "never_settles")(_.selectExpr("ix", "iy", "v + 1 AS v"))
    }
    assert(e.getMessage.contains("never_settles"))
    assert(e.getMessage.contains("5 rounds"))
  }

  test("roots over a pointer forest equals a scalar walk to each terminal") {
    val got = Dem.roots(pointers, "forest_roots").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3))).toMap
    assert(got == forest.keys.map(c => c -> terminal(c)).toMap)
    assert(got((0L, 0L)) == ((99L, 0L)))
    assert(got((6L, 5L)) == ((0L, 5L)))
  }

  test("roots' jumping with a too-small cap throws instead of returning partial labels") {
    // the 100-cell chain needs 7 doubling rounds plus one unchanged round
    val e = intercept[IllegalArgumentException] {
      Dem.converge(pointers, 3, 1, "short_roots")(Dem.jump)
    }
    assert(e.getMessage.contains("short_roots"))
  }
}
