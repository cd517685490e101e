package graft.ops

import graft.SparkSpec

/** Cross-parameter invariants of the ParamSweeps gates — properties that
  * relate DIFFERENT parameter values of one tool, which the per-gate
  * DuckDB twins cannot express (each twin checks one parameter point).
  * All run at sf0.001.
  */
class ParamSweepsSpec extends SparkSpec {

  private val dir = sf("sf0.001")

  private def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)

  test("wider mean-filter windows contract the value range (more smoothing)") {
    def range(name: String): Double = {
      val r = q(name).agg(
        org.apache.spark.sql.functions.expr("max(f_mean) - min(f_mean)")).first().getDouble(0)
      r
    }
    val r7 = range("mean_filter_win7")
    val r11 = range("mean_filter_win11")
    assert(r7 > 0.0 && r11 > 0.0, "filtered surfaces must not be flat")
    assert(r11 < r7, s"11x11 must smooth at least as hard as 7x7 (r7=$r7, r11=$r11)")
  }

  test("mean filter preserves the global sum-weighted mean direction") {
    // box means of a positive surface stay within the surface's min/max
    val demMM = Dem.dem(spark, dir)
      .agg(org.apache.spark.sql.functions.expr("min(z)"),
        org.apache.spark.sql.functions.expr("max(z)")).first()
    val (lo, hi) = (demMM.getLong(0).toDouble, demMM.getLong(1).toDouble)
    val out = q("mean_filter_win11").agg(
      org.apache.spark.sql.functions.expr("min(f_mean)"),
      org.apache.spark.sql.functions.expr("max(f_mean)")).first()
    assert(out.getDouble(0) >= lo && out.getDouble(1) <= hi,
      "clamped box means must stay inside the input range")
  }

  test("idw weight exponent orders the interpolant's tightness to the nearest point") {
    // higher exponent -> nearer points dominate -> per-cell |v - v_w3|
    // vs the exact-hit/nearest structure: compare the three weights'
    // surfaces cell-by-cell; they agree on exact hits and differ elsewhere
    import org.apache.spark.sql.functions._
    val w1 = q("idw_interpolation_w1").select(col("ix"), col("iy"), col("v").as("v1"))
    val w2 = q("idw_interpolation").select(col("ix"), col("iy"), col("v").as("v2"))
    val w3 = q("idw_interpolation_w3").select(col("ix"), col("iy"), col("v").as("v3"))
    val j = w1.join(w2, Seq("ix", "iy")).join(w3, Seq("ix", "iy"))
    assert(j.count() > 0, "weight variants must cover the same cells")
    val diff = j.filter(col("v1") =!= col("v3")).count()
    assert(diff > 0, "w=1 and w=3 must disagree somewhere (else the sweep is vacuous)")
  }

  test("higher extract threshold yields a strict sub-network") {
    import org.apache.spark.sql.functions._
    val t5 = Dem.fa(spark, dir).filter(col("fa") > Dem.streamT)
      .select("ix", "iy")
    val t20 = q("extract_streams_t20").filter(col("stream") === 1).select("ix", "iy")
    val n5 = t5.count(); val n20 = t20.count()
    assert(n20 > 0, "t20 network must be non-empty (vacuity guard)")
    assert(n20 < n5, s"t20 must be sparser than t5 ($n20 vs $n5)")
    assert(t20.except(t5).count() == 0, "t20 cells must be a subset of the t5 network")
  }

  test("smaller buffer distance yields a subset of the larger buffer") {
    val d05 = q("buffer_raster_d05").select("ix", "iy")
    val d1 = graft.SparkEntry.queries("buffer_raster")(spark, dir).select("ix", "iy")
    assert(d05.count() > 0, "0.5-degree buffer must be non-empty")
    assert(d05.except(d1).count() == 0, "buffer(0.5) must be contained in buffer(1.0)")
  }

  test("aggregate factors compose: f4 cell sums equal re-aggregated f2 sums") {
    import org.apache.spark.sql.functions._
    val f2 = q("aggregate_raster_f2")
      .groupBy(expr("ax div 2").as("ax"), expr("ay div 2").as("ay"))
      .agg(sum("v_sum").as("s2"))
    val f4 = graft.SparkEntry.queries("aggregate_raster")(spark, dir)
      .select(col("ax"), col("ay"), col("v_sum").as("s4"))
    val bad = f2.join(f4, Seq("ax", "ay"), "full")
      .filter(col("s2").isNull || col("s4").isNull || col("s2") =!= col("s4"))
      .count()
    assert(bad == 0, "factor-2 aggregation re-aggregated by 2 must equal factor-4 exactly")
  }

  test("hillshade azimuth variant illuminates differently from the default") {
    import org.apache.spark.sql.functions._
    val a = graft.SparkEntry.queries("hillshade")(spark, dir)
      .select(col("ix"), col("iy"), col("hillshade").as("h0"))
    val b = q("hillshade_az135_alt60")
      .select(col("ix"), col("iy"), col("hillshade").as("h1"))
    val j = a.join(b, Seq("ix", "iy"))
    assert(j.filter(col("h0") =!= col("h1")).count() > 0,
      "a different sun position must change some cells")
  }
}
