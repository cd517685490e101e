package graft.ops

import graft.core.Gates
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-network analysis tail over the shared DEM frame (Dem.scala) —
  * the round-3 trio (Strahler / Shreve / StreamLinkId) rewired onto a
  * genuinely dendritic network plus the labelling tools that consume the
  * same link/tributary forest:
  *
  *   - StrahlerStreamOrder (strahler_order.rs), ShreveMagnitude
  *     (shreve_magnitude.rs), StreamLinkIdentifier (stream_link_id.rs);
  *   - HortonStreamOrder (horton_order.rs:230-460): tributary ownership by
  *     longest upstream channel (trib_length), each tributary painted with
  *     the max Strahler order over the cells it owns;
  *   - HackStreamOrder (hack_order.rs): outlet tributaries = 1, a
  *     tributary joining one of order h gets h + 1;
  *   - TopologicalStreamOrder (topological_stream_order.rs): outlet = 1,
  *     +1 passing upstream through each ≥2-inflow junction;
  *   - TributaryId (tributary_id.rs), DistanceToOutlet (dist_to_outlet.rs),
  *     FarthestChannelHead (farthest_channel_head.rs), FindMainStem
  *     (find_main_stem.rs), StreamLinkLength / StreamLinkSlope
  *     (stream_link_length.rs, stream_link_slope.rs), RemoveShortStreams
  *     (remove_short_streams.rs), TotalLengthOfChannels
  *     (total_length_channels.rs).
  *
  * Spark side: asserted-convergent Jacobi fixpoints / pointer jumping on
  * the memoized frames; DuckDB twins re-derive every value independently
  * by recursive walks over the same bit-identical pointer field. Lengths
  * are carried as (cardinal, diagonal) INTEGER step counts to the final
  * `nc + nd·√2` expression, so no double chains cross rounds.
  */
object Streams2 extends Gates {

  import Dem.lenOf

  private val minLinkLen = "3.0e0" // RemoveShortStreams --min_length

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "strahler_stream_order" -> ((s, dir) =>
      Dem.strahler(s, dir).orderBy("ix", "iy")),

    // junction-sum Jacobi; convergence asserted (ADVICE r3: no fixed-round
    // stop against the oracle's exact head-path counting)
    "shreve_magnitude" -> ((s, dir) => {
      val st = Dem.streams(s, dir); val se = Dem.sedges(s, dir)
      Dem.converge(st.selectExpr("ix", "iy", "cast(1 as bigint) AS mag"),
          96, 4, "shreve") { m =>
        val inflow = se.join(m, Seq("ix", "iy"))
          .groupBy(col("tx").as("ix"), col("ty").as("iy"))
          .agg(expr("cast(sum(mag) as bigint)").as("msum"))
        st.join(inflow, Seq("ix", "iy"), "left")
          .selectExpr("ix", "iy", "coalesce(msum, 1) AS mag")
      }.orderBy("ix", "iy")
    }),

    "stream_link_id" -> ((s, dir) =>
      Dem.links(s, dir).orderBy("ix", "iy")),

    "tributary_id" -> ((s, dir) =>
      Dem.trib(s, dir).orderBy("ix", "iy")),

    "horton_stream_order" -> ((s, dir) => {
      val t = Dem.trib(s, dir)
      val hmax = t.join(Dem.strahler(s, dir), Seq("ix", "iy"))
        .groupBy("trib").agg(max("ord").as("horton"))
      t.join(hmax, Seq("trib"))
        .select("ix", "iy", "horton").orderBy("ix", "iy")
    }),

    "hack_stream_order" -> ((s, dir) => {
      val t = Dem.trib(s, dir)
      // tributary forest: each non-outlet tributary's tail edge joins its
      // parent tributary (exactly one such edge per tributary — ownership
      // chains are maximal main-inflow paths)
      val tedge = Dem.sedges(s, dir)
        .join(t.selectExpr("ix", "iy", "trib AS t"), Seq("ix", "iy"))
        .join(t.selectExpr("ix AS tx", "iy AS ty", "trib AS pt"), Seq("tx", "ty"))
        .filter(col("t") =!= col("pt"))
        .select("t", "pt")
      val roots = t.join(Dem.outlets(s, dir), Seq("ix", "iy"), "left_semi")
        .select("trib").distinct()
      val tribs = t.select("trib").distinct()
      val init = tribs.join(roots.withColumn("is_root", lit(1)), Seq("trib"), "left")
        .selectExpr("trib", "CASE WHEN is_root = 1 THEN cast(1 as bigint) END AS hack")
      val h = Dem.converge(init, 64, 2, "hack") { cur =>
        val fromParent = tedge.join(cur.selectExpr("trib AS pt", "hack AS ph"), Seq("pt"))
          .selectExpr("t AS trib", "ph + 1 AS ch")
        cur.join(fromParent, Seq("trib"), "left")
          .selectExpr("trib", "coalesce(hack, ch) AS hack")
      }
      t.join(h, Seq("trib")).select("ix", "iy", "hack").orderBy("ix", "iy")
    }),

    "topological_stream_order" -> ((s, dir) =>
      Dem.downAgg(s, dir).select("ix", "iy", "topo").orderBy("ix", "iy")),

    "dist_to_outlet" -> ((s, dir) =>
      Dem.downAgg(s, dir)
        .selectExpr("ix", "iy", s"${lenOf("nc", "nd")} AS dist")
        .orderBy("ix", "iy")),

    "farthest_channel_head" -> ((s, dir) =>
      Dem.triblen(s, dir)
        .selectExpr("ix", "iy", s"${lenOf("nc", "nd")} AS dist")
        .orderBy("ix", "iy")),

    "find_main_stem" -> ((s, dir) => {
      val t = Dem.trib(s, dir)
      val mains = t.join(Dem.outlets(s, dir), Seq("ix", "iy"), "left_semi")
        .select("trib").distinct()
      t.join(mains, Seq("trib")).select("ix", "iy").orderBy("ix", "iy")
    }),

    "stream_link_length" -> ((s, dir) => {
      val lk = Dem.links(s, dir)
      lk.join(linkLen(s, dir), Seq("link_id"), "left")
        .selectExpr("ix", "iy", "coalesce(link_len, 0.0e0) AS link_len")
        .orderBy("ix", "iy")
    }),

    "stream_link_slope" -> ((s, dir) => {
      val lk = Dem.links(s, dir)
      val dem = Dem.dem(s, dir)
      val internal = Dem.sedges(s, dir)
        .join(lk.selectExpr("ix", "iy", "link_id AS la"), Seq("ix", "iy"))
        .join(lk.selectExpr("ix AS tx", "iy AS ty", "link_id AS lb"), Seq("tx", "ty"))
        .filter(col("la") === col("lb"))
      // link top = the unique link cell with no same-link inflow
      val tops = lk.join(internal.selectExpr("tx AS ix", "ty AS iy"), Seq("ix", "iy"), "left_anti")
        .join(dem, Seq("ix", "iy"))
        .selectExpr("link_id", "z AS ztop")
      val tails = lk.filter(expr("ix * 1000 + iy = link_id"))
        .join(dem, Seq("ix", "iy"))
        .selectExpr("link_id", "z AS ztail")
      val slope = tops.join(tails, Seq("link_id"))
        .join(linkLen(s, dir), Seq("link_id"), "left")
        .selectExpr("link_id",
          "CASE WHEN coalesce(link_len, 0.0e0) > 0.0e0 " +
            "THEN cast(ztop - ztail as double) / link_len ELSE 0.0e0 END AS link_slope")
      lk.join(slope, Seq("link_id"))
        .select("ix", "iy", "link_slope").orderBy("ix", "iy")
    }),

    // exterior (head-bearing) links shorter than min_length are pruned
    "remove_short_streams" -> ((s, dir) => {
      val lk = Dem.links(s, dir)
      val ext = lk.join(Dem.heads(s, dir), Seq("ix", "iy"), "left_semi")
        .select("link_id").distinct()
      val short = ext.join(linkLen(s, dir), Seq("link_id"), "left")
        .filter(expr(s"coalesce(link_len, 0.0e0) < $minLinkLen"))
        .select("link_id")
      lk.join(short, Seq("link_id"), "left_anti")
        .select("ix", "iy").orderBy("ix", "iy")
    }),

    // StreamLinkClass (stream_link_class.rs:245-365): 3 = channel head,
    // 4 = junction, 5 = outlet (overrides), 1 = exterior-link cell (its
    // link contains a head), 2 = interior-link cell.
    "stream_link_class" -> ((s, dir) => {
      val lk = Dem.links(s, dir)
      val ext = lk.join(Dem.heads(s, dir), Seq("ix", "iy"), "left_semi")
        .select("link_id").distinct().withColumn("is_ext", lit(1))
      Dem.streams(s, dir)
        .join(Dem.outlets(s, dir).withColumn("is_out", lit(1)), Seq("ix", "iy"), "left")
        .join(Dem.heads(s, dir).withColumn("is_h", lit(1)), Seq("ix", "iy"), "left")
        .join(Dem.indeg(s, dir), Seq("ix", "iy"), "left")
        .join(lk, Seq("ix", "iy"))
        .join(ext, Seq("link_id"), "left")
        .selectExpr("ix", "iy",
          "CASE WHEN is_out = 1 THEN 5 WHEN coalesce(n_in, 0) >= 2 THEN 4 " +
            "WHEN is_h = 1 THEN 3 WHEN is_ext = 1 THEN 1 ELSE 2 END AS link_class")
        .orderBy("ix", "iy")
    }),

    "total_length_channels" -> ((s, dir) =>
      Dem.sedges(s, dir)
        .agg(expr("cast(sum(ec) as bigint)").as("sc"), expr("cast(sum(ed) as bigint)").as("sd"))
        .selectExpr(s"${lenOf("sc", "sd")} AS total_len"))
  )

  /** within-link channel length per link (sum of same-link edge steps). */
  private[ops] def linkLen(s: SparkSession, dir: String): DataFrame =
    Dem.memo(s, dir, "link_len") {
      val lk = Dem.links(s, dir)
      Dem.sedges(s, dir)
        .join(lk.selectExpr("ix", "iy", "link_id AS la"), Seq("ix", "iy"))
        .join(lk.selectExpr("ix AS tx", "iy AS ty", "link_id AS lb"), Seq("tx", "ty"))
        .filter(col("la") === col("lb"))
        .groupBy(col("la").as("link_id"))
        .agg(expr("cast(sum(ec) as bigint)").as("sc"), expr("cast(sum(ed) as bigint)").as("sd"))
        .selectExpr("link_id", s"${lenOf("sc", "sd")} AS link_len")
    }

  // ---- DuckDB twins ----------------------------------------------------

  private def W(extra: String*): String =
    (Seq(Dem.duckStreamCtes) ++ extra).mkString("WITH RECURSIVE ", ", ", " ")

  /** same-link edge pairs + per-link length (shared fragment). */
  private val duckLinkLen: String =
    "ie AS (SELECT a.link_id, se.ec, se.ed FROM se " +
      "JOIN lk a ON a.ix = se.ix AND a.iy = se.iy " +
      "JOIN lk b ON b.ix = se.tx AND b.iy = se.ty WHERE a.link_id = b.link_id), " +
      "ll AS MATERIALIZED (SELECT link_id, " +
      s"${Dem.lenOf("cast(sum(ec) as bigint)", "cast(sum(ed) as bigint)")} AS link_len " +
      "FROM ie GROUP BY 1)"

  def oracles: Map[String, String] = Map(

    "strahler_stream_order" -> (W(Dem.duckStrahlerCtes) +
      s"SELECT ix, iy, ord FROM o${Dem.strahlerRounds} ORDER BY ix, iy"),

    // magnitude(c) = number of stream heads whose path visits c
    "shreve_magnitude" -> (W(
      "hw AS (SELECT ix, iy, ix AS cx, iy AS cy FROM heads " +
        "UNION ALL SELECT w.ix, w.iy, se.tx, se.ty FROM hw w " +
        "JOIN se ON se.ix = w.cx AND se.iy = w.cy)") +
      "SELECT cx AS ix, cy AS iy, count(*) AS mag FROM hw GROUP BY 1, 2 ORDER BY ix, iy"),

    "stream_link_id" -> (W(Dem.duckLinkCtes) +
      "SELECT ix, iy, link_id FROM lk ORDER BY ix, iy"),

    "tributary_id" -> (W(Dem.duckTribCtes) +
      "SELECT ix, iy, trib FROM tw ORDER BY ix, iy"),

    "horton_stream_order" -> (W(Dem.duckTribCtes, Dem.duckStrahlerCtes,
      "hmax AS (SELECT tw.trib, max(o.ord) AS horton FROM tw " +
        s"JOIN o${Dem.strahlerRounds} o ON o.ix = tw.ix AND o.iy = tw.iy GROUP BY 1)") +
      "SELECT tw.ix, tw.iy, h.horton FROM tw JOIN hmax h ON h.trib = tw.trib ORDER BY ix, iy"),

    "hack_stream_order" -> (W(Dem.duckTribCtes,
      "otr AS (SELECT DISTINCT tw.trib FROM tw JOIN outlets o ON o.ix = tw.ix AND o.iy = tw.iy)",
      "tedge AS (SELECT a.trib AS t, b.trib AS pt FROM se " +
        "JOIN tw a ON a.ix = se.ix AND a.iy = se.iy " +
        "JOIN tw b ON b.ix = se.tx AND b.iy = se.ty WHERE a.trib <> b.trib)",
      "hwalk AS (SELECT trib, cast(1 as bigint) AS hack FROM otr " +
        "UNION ALL SELECT te.t, w.hack + 1 FROM hwalk w JOIN tedge te ON te.pt = w.trib)") +
      "SELECT tw.ix, tw.iy, h.hack FROM tw JOIN hwalk h ON h.trib = tw.trib ORDER BY ix, iy"),

    "topological_stream_order" -> (W(
      "twalk AS (SELECT ix, iy, cast(1 as bigint) AS topo FROM outlets " +
        "UNION ALL SELECT se.ix, se.iy, " +
        "w.topo + CASE WHEN coalesce(ind.n_in, 0) >= 2 THEN 1 ELSE 0 END " +
        "FROM twalk w JOIN se ON se.tx = w.ix AND se.ty = w.iy " +
        "LEFT JOIN indeg ind ON ind.ix = w.ix AND ind.iy = w.iy)") +
      "SELECT ix, iy, topo FROM twalk ORDER BY ix, iy"),

    "dist_to_outlet" -> (W(
      "dwalk AS (SELECT ix, iy, cast(0 as bigint) AS nc, cast(0 as bigint) AS nd FROM outlets " +
        "UNION ALL SELECT se.ix, se.iy, w.nc + se.ec, w.nd + se.ed " +
        "FROM dwalk w JOIN se ON se.tx = w.ix AND se.ty = w.iy)") +
      s"SELECT ix, iy, ${lenOf("nc", "nd")} AS dist FROM dwalk ORDER BY ix, iy"),

    "farthest_channel_head" -> (W(Dem.duckTribCtes) +
      s"SELECT ix, iy, ${lenOf("nc", "nd")} AS dist FROM tl ORDER BY ix, iy"),

    "find_main_stem" -> (W(Dem.duckTribCtes,
      "otr AS (SELECT DISTINCT tw.trib FROM tw JOIN outlets o ON o.ix = tw.ix AND o.iy = tw.iy)") +
      "SELECT tw.ix, tw.iy FROM tw JOIN otr ON otr.trib = tw.trib ORDER BY ix, iy"),

    "stream_link_length" -> (W(Dem.duckLinkCtes, duckLinkLen) +
      "SELECT lk.ix, lk.iy, coalesce(ll.link_len, 0.0e0) AS link_len " +
      "FROM lk LEFT JOIN ll ON ll.link_id = lk.link_id ORDER BY ix, iy"),

    "stream_link_slope" -> (W(Dem.duckLinkCtes, duckLinkLen,
      "tops AS (SELECT lk.link_id, d.z AS ztop FROM lk " +
        "JOIN dem d ON d.ix = lk.ix AND d.iy = lk.iy " +
        "LEFT JOIN (SELECT DISTINCT b.ix, b.iy FROM se " +
        "JOIN lk a ON a.ix = se.ix AND a.iy = se.iy " +
        "JOIN lk b ON b.ix = se.tx AND b.iy = se.ty WHERE a.link_id = b.link_id) t " +
        "ON t.ix = lk.ix AND t.iy = lk.iy WHERE t.ix IS NULL)",
      "tails AS (SELECT lk.link_id, d.z AS ztail FROM lk " +
        "JOIN dem d ON d.ix = lk.ix AND d.iy = lk.iy WHERE lk.ix * 1000 + lk.iy = lk.link_id)",
      "lsl AS (SELECT tp.link_id, CASE WHEN coalesce(ll.link_len, 0.0e0) > 0.0e0 " +
        "THEN cast(tp.ztop - ta.ztail as double) / ll.link_len ELSE 0.0e0 END AS link_slope " +
        "FROM tops tp JOIN tails ta ON ta.link_id = tp.link_id " +
        "LEFT JOIN ll ON ll.link_id = tp.link_id)") +
      "SELECT lk.ix, lk.iy, l.link_slope FROM lk JOIN lsl l ON l.link_id = lk.link_id " +
      "ORDER BY ix, iy"),

    "remove_short_streams" -> (W(Dem.duckLinkCtes, duckLinkLen,
      "ext AS (SELECT DISTINCT lk.link_id FROM lk " +
        "JOIN heads h ON h.ix = lk.ix AND h.iy = lk.iy)",
      "shrt AS (SELECT ext.link_id FROM ext " +
        "LEFT JOIN ll ON ll.link_id = ext.link_id " +
        s"WHERE coalesce(ll.link_len, 0.0e0) < $minLinkLen)") +
      "SELECT lk.ix, lk.iy FROM lk LEFT JOIN shrt sh ON sh.link_id = lk.link_id " +
      "WHERE sh.link_id IS NULL ORDER BY ix, iy"),

    "stream_link_class" -> (W(Dem.duckLinkCtes,
      "ext AS (SELECT DISTINCT lk.link_id FROM lk JOIN heads h ON h.ix = lk.ix AND h.iy = lk.iy)") +
      "SELECT st.ix, st.iy, CASE WHEN o.ix IS NOT NULL THEN 5 " +
      "WHEN coalesce(ind.n_in, 0) >= 2 THEN 4 WHEN h.ix IS NOT NULL THEN 3 " +
      "WHEN ext.link_id IS NOT NULL THEN 1 ELSE 2 END AS link_class FROM st " +
      "LEFT JOIN outlets o ON o.ix = st.ix AND o.iy = st.iy " +
      "LEFT JOIN heads h ON h.ix = st.ix AND h.iy = st.iy " +
      "LEFT JOIN indeg ind ON ind.ix = st.ix AND ind.iy = st.iy " +
      "JOIN lk ON lk.ix = st.ix AND lk.iy = st.iy " +
      "LEFT JOIN ext ON ext.link_id = lk.link_id ORDER BY 1, 2"),

    "total_length_channels" -> (W() +
      s"SELECT ${lenOf("cast(sum(ec) as bigint)", "cast(sum(ed) as bigint)")} AS total_len FROM se")
  )
}
