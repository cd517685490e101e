package perfbench

import graft.core.Zones
import graft.expr.{Geocode, Md5Kernel, MinHash, Morton, PipAny, PointInPolygon}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Single-thread ns/row of the per-row kernels behind the custom Catalyst
  * expressions, on a fixed in-memory batch made from the seed. Each kernel
  * is warmed up, then timed over several passes of the batch; the median
  * pass is reported. */
object Micro {
  private val rows = 50000
  private val minhashRows = 2000 // ~50 us a row: one md5 per 8-char shingle
  private val passes = 7
  @volatile private var blackhole = 0L // keeps the kernels' results live

  /** Single-thread host speed, recorded with every run so that runs made in
    * a slow phase of a shared host can be told apart: ns per 48-byte MD5. */
  def hostProbe(): Double = {
    val msgs = Array.tabulate(20000)(i => f"host probe $i%08d ................................".getBytes("UTF-8"))
    nsPerRow(msgs.length) { () =>
      var s = 0L; var i = 0
      while (i < msgs.length) { s ^= Md5Kernel.firstWord(msgs(i), 0, 48); i += 1 }; s
    }
  }

  /** Median ns per row over timed passes of `body` across `n` rows. */
  private def nsPerRow(n: Int)(body: () => Long): Double = {
    (0 until 3).foreach(_ => blackhole += body())
    val times = (0 until passes).map { _ =>
      val t0 = System.nanoTime()
      blackhole += body()
      (System.nanoTime() - t0).toDouble / n
    }
    Stats.median(times)
  }

  def run(seed: Long): Seq[(String, Double)] = {
    val rnd = new scala.util.Random(seed)
    val texts = Array.tabulate(rows) { i =>
      UTF8String.fromString(s"doc $i " + Seq.fill(24)(rnd.alphanumeric.take(5).mkString).mkString(" ") + " größe")
    }
    val bytes = texts.map(_.getBytes)
    val cells = Array.tabulate(rows)(i => (rnd.nextInt(64).toLong, rnd.nextInt(64).toLong))
    val hulls = Zones.worldZones.filter(r => r.fid == 3 && !r.isHole)
    val ring = hulls.head
    val xss = new GenericArrayData(hulls.map(r => new GenericArrayData(r.xs)).toArray[Any])
    val yss = new GenericArrayData(hulls.map(r => new GenericArrayData(r.ys)).toArray[Any])
    // points spread over the zone's bounding box, so both branches run
    val pts = Array.tabulate(rows)(_ =>
      (ring.minX - 5 + rnd.nextDouble() * (ring.maxX - ring.minX + 10),
        ring.minY - 5 + rnd.nextDouble() * (ring.maxY - ring.minY + 10)))
    Seq(
      "expr.geocode_ns_per_row" -> nsPerRow(rows) { () =>
        var s = 0L; var i = 0
        while (i < rows) { s += Geocode.eval(texts(i)).numElements(); i += 1 }; s
      },
      "expr.morton_ns_per_row" -> nsPerRow(rows) { () =>
        var s = 0L; var i = 0
        while (i < rows) { s ^= Morton.encode(cells(i)._1, cells(i)._2, 6); i += 1 }; s
      },
      "expr.pip_any_ns_per_row" -> nsPerRow(rows) { () =>
        var s = 0L; var i = 0
        while (i < rows) { if (PipAny.anyInside(pts(i)._1, pts(i)._2, xss, yss)) s += 1; i += 1 }; s
      },
      "expr.point_in_polygon_ns_per_row" -> nsPerRow(rows) { () =>
        var s = 0L; var i = 0
        while (i < rows) { if (PointInPolygon.pointInPoly(pts(i)._1, pts(i)._2, ring.xs, ring.ys)) s += 1; i += 1 }; s
      },
      "expr.minhash_ns_per_row" -> nsPerRow(minhashRows) { () =>
        var s = 0L; var i = 0
        while (i < minhashRows) { s ^= MinHash.eval(texts(i)).getLong(0); i += 1 }; s
      },
      "expr.md5_ns_per_row" -> nsPerRow(rows) { () =>
        var s = 0L; var i = 0
        while (i < rows) { s ^= Md5Kernel.firstWord(bytes(i), 0, math.min(48, bytes(i).length)); i += 1 }; s
      }
    )
  }
}
