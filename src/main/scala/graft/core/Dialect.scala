package graft.core

/** Twin-SQL builders: one source of truth for every derived value that must
  * be bit-identical between the Spark plan and the DuckDB oracle.
  *
  * Each builder emits a SQL expression string for a target dialect. The
  * arithmetic (IEEE-754 double ops, integer mod) is written in exactly the
  * same operation order for both dialects, so results match to the last ulp.
  * Only the hex-string→int64 primitive differs per engine.
  */
sealed trait Dialect {
  /** 8-hex-char substring of md5(text) starting at 1-based `pos`, as int64
    * in [0, 2^32). */
  def md5Bits(textCol: String, pos: Int): String
  /** integer division */
  def idiv(a: String, b: String): String
  /** cast to the dialect's string type */
  def toStr(e: String): String
  /** bit shifts on int64 */
  def shl(e: String, n: Int): String
  def shr(e: String, n: Int): String
  /** value of `v` on the row where `by` is max/min within the group */
  def argMax(v: String, by: String): String
  def argMin(v: String, by: String): String
  /** bitwise xor on int64 */
  def bitXor(a: String, b: String): String
  /** char 8-gram shingles of `text` as an array (≥1 shingle, short texts
    * yield the whole text) */
  def shingles(t: String): String
  /** whitespace tokens of `text` as an array */
  def tokens(t: String): String
  /** element i (1-based) of a float array, as double */
  def elemD(arr: String, i: Int): String
  /** element at a dynamic 1-based index expression */
  def elemE(arr: String, i: String): String
  /** array length */
  def alen(arr: String): String
  /** ascending sort of an array-typed aggregate of `e` */
  def sortedList(e: String): String
}

/** Spark SQL (Catalyst) dialect. `conv` parses hex → decimal string. */
case object SparkD extends Dialect {
  def md5Bits(textCol: String, pos: Int): String =
    s"cast(conv(substring(md5(cast($textCol as binary)), $pos, 8), 16, 10) as bigint)"
  def idiv(a: String, b: String): String = s"($a div $b)"
  def toStr(e: String): String = s"cast($e as string)"
  def shl(e: String, n: Int): String = s"shiftleft($e, $n)"
  def shr(e: String, n: Int): String = s"shiftright($e, $n)"
  def argMax(v: String, by: String): String = s"max_by($v, $by)"
  def argMin(v: String, by: String): String = s"min_by($v, $by)"
  def bitXor(a: String, b: String): String = s"($a ^ $b)"
  def shingles(t: String): String =
    s"transform(sequence(1, greatest(length($t) - 7, 1)), i -> substring($t, i, 8))"
  def tokens(t: String): String = s"split($t, '\\\\s+')"
  def elemD(arr: String, i: Int): String = s"cast(element_at($arr, $i) as double)"
  def elemE(arr: String, i: String): String = s"element_at($arr, cast(($i) as int))"
  def alen(arr: String): String = s"size($arr)"
  def sortedList(e: String): String = s"sort_array(collect_list($e))"
}

/** DuckDB dialect (the driver's oracle engine). */
case object DuckD extends Dialect {
  def md5Bits(textCol: String, pos: Int): String =
    s"(('0x' || substring(md5($textCol), $pos, 8))::bigint)"
  def idiv(a: String, b: String): String = s"($a // $b)"
  def toStr(e: String): String = s"cast($e as varchar)"
  def shl(e: String, n: Int): String = s"(($e) << $n)"
  def shr(e: String, n: Int): String = s"(($e) >> $n)"
  def argMax(v: String, by: String): String = s"arg_max($v, $by)"
  def argMin(v: String, by: String): String = s"arg_min($v, $by)"
  def bitXor(a: String, b: String): String = s"xor($a, $b)"
  def shingles(t: String): String =
    s"list_transform(range(1, greatest(length($t) - 7, 1) + 1), i -> substring($t, i, 8))"
  def tokens(t: String): String = s"regexp_split_to_array($t, '\\s+')"
  def elemD(arr: String, i: Int): String = s"(($arr)[$i]::double)"
  def elemE(arr: String, i: String): String = s"($arr)[$i]"
  def alen(arr: String): String = s"len($arr)"
  def sortedList(e: String): String = s"list_sort(list($e))"
}

/** SQL double literals. Bare fractional literals parse as DECIMAL in both
  * Spark and DuckDB (with different precision rules — a parity trap);
  * scientific notation parses as DOUBLE in both. */
object Lit {
  def d(v: Double): String = {
    val s = v.toString
    if (s.contains("E") || s.contains("e")) s else s + "e0"
  }
}

/** Deterministic geocoding of Common-Crawl-style pages from their extracted
  * `text` (BASELINE.json: "each page is deterministically geocoded from its
  * extracted text"). Pure function of the text bytes; 20% of pages collapse
  * into 3 dense "urban" cells to exercise hot-cell salting (FIXTURES.md §1).
  *
  * h1,h2,h3 are three independent 32-bit values from the md5 digest.
  */
object Geo {
  import Lit.d
  val LatMin = -60.0; val LatSpan = 132.0 // lat in [-60, 72)
  val LonMin = -180.0; val LonSpan = 360.0
  val Two32 = "4294967296.0e0"

  def h1(d: Dialect, t: String = "text"): String = d.md5Bits(t, 1)
  def h2(d: Dialect, t: String = "text"): String = d.md5Bits(t, 9)
  def h3(d: Dialect, t: String = "text"): String = d.md5Bits(t, 17)

  /** Urban skew knob: h1 % 10 < 2 → one of 3 city anchors (~20% of rows). */
  def isUrban(d: Dialect, t: String = "text"): String = s"((${h1(d, t)} % 10) < 2)"

  // (lat, lon) anchors: New York, London, Tokyo.
  private val cities = Seq((40.7, -74.0), (51.5, -0.1), (35.68, 139.76))

  def lat(dl: Dialect, t: String = "text"): String = {
    val a = h1(dl, t); val b = h2(dl, t)
    val cityLat = s"(CASE ($a % 3) WHEN 0 THEN 40.7e0 WHEN 1 THEN 51.5e0 ELSE 35.68e0 END)"
    s"(CASE WHEN ${isUrban(dl, t)} THEN $cityLat + (($b % 1000) / 1000.0e0) * 0.1e0 " +
      s"ELSE ${d(LatMin)} + ($a / $Two32) * ${d(LatSpan)} END)"
  }

  def lon(dl: Dialect, t: String = "text"): String = {
    val a = h1(dl, t); val b = h2(dl, t); val c = h3(dl, t)
    val cityLon = s"(CASE ($a % 3) WHEN 0 THEN -74.0e0 WHEN 1 THEN -0.1e0 ELSE 139.76e0 END)"
    s"(CASE WHEN ${isUrban(dl, t)} THEN $cityLon + (($c % 1000) / 1000.0e0) * 0.1e0 " +
      s"ELSE ${d(LonMin)} + ($b / $Two32) * ${d(LonSpan)} END)"
  }

  /** Discrete cell coords at resolution `res` (2^res × 2^res world grid).
    * Mirrors the reference's spatial-hash bucketing
    * (fixed_radius_search.rs:83-130: floor(x * inv_r)). */
  def ix(dl: Dialect, lonE: String, res: Int): String = {
    val n = 1L << res
    s"cast(floor((($lonE) - ${d(LonMin)}) / ${d(LonSpan)} * ${d(n.toDouble)}) as bigint)"
  }
  def iy(dl: Dialect, latE: String, res: Int): String = {
    val n = 1L << res
    s"cast(floor((($latE) - (-90.0e0)) / 180.0e0 * ${d(n.toDouble)}) as bigint)"
  }
  /** Flat row-major cell id: iy * 2^res + ix. */
  def cellId(d: Dialect, latE: String, lonE: String, res: Int): String =
    s"(${iy(d, latE, res)} * ${1L << res} + ${ix(d, lonE, res)})"

  /** The pages view derived from the `documents` table (FIXTURES.md §1):
    * url from doc_id, text carried byte-identically, lat/lon geocoded. */
  def pagesCte(dl: Dialect): String =
    s"""SELECT doc_id,
       |  'https://site-' || ${dl.toStr("doc_id % 997")} || '.example/p/' || ${dl.toStr("doc_id")} AS url,
       |  text, lang, source, n_chars,
       |  ${lat(dl)} AS lat,
       |  ${lon(dl)} AS lon
       |FROM documents""".stripMargin.replace("\n", " ")

  /** `WITH pages AS (…)`: the head of every non-recursive oracle query. */
  def pagesWith(dl: Dialect): String = s"WITH pages AS (${pagesCte(dl)})"

  /** `g`: the page-count density grid at resolution `res`, the twin of
    * ops.Raster.density. */
  def densityCte(dl: Dialect, res: Int): String =
    s"g AS (SELECT ${ix(dl, "lon", res)} AS ix, ${iy(dl, "lat", res)} AS iy, " +
      "count(*) AS v FROM pages GROUP BY 1, 2)"
}
