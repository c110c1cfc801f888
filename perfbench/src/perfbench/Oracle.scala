package perfbench

/** Expected answers computed from the generator alone: window stats of
  * any pyramid level, in the consumer verbs' fixed-point convention
  * (`round(v * scale)` as a long, NaN cells counted, never summed). */
object Oracle {

  val scale = 10000L

  case class Stat(nValid: Long, nNan: Long, sum: Long,
      min: Option[Long], max: Option[Long])

  /** One raster level, row-major. */
  case class Grid(w: Int, h: Int, px: Array[Float])

  /** Level 0 plus the writer's AVERAGE overviews, halving until
    * max(w, h) <= blockSize. */
  def pyramid(w: Int, h: Int, px: Array[Float],
      blockSize: Int): IndexedSeq[Grid] = {
    var lv = Vector(Grid(w, h, px))
    while (math.max(lv.last.w, lv.last.h) > blockSize) {
      val (nw, nh, npx) = Gen.average2x2(lv.last.w, lv.last.h, lv.last.px)
      lv :+= Grid(nw, nh, npx)
    }
    lv
  }

  /** Stats over the half-open window [x0, x1) x [y0, y1), clamped to the
    * grid. */
  def stats(g: Grid, x0: Int, y0: Int, x1: Int, y1: Int): Stat = {
    var nValid = 0L; var nNan = 0L; var sum = 0L
    var mn = Long.MaxValue; var mx = Long.MinValue
    var y = math.max(0, y0)
    while (y < math.min(g.h, y1)) {
      var x = math.max(0, x0)
      while (x < math.min(g.w, x1)) {
        val v = g.px(y * g.w + x)
        if (v.isNaN) nNan += 1
        else {
          val vs = Math.round(v.toDouble * scale)
          nValid += 1; sum += vs
          if (vs < mn) mn = vs
          if (vs > mx) mx = vs
        }
        x += 1
      }
      y += 1
    }
    Stat(nValid, nNan, sum,
      if (nValid == 0) None else Some(mn), if (nValid == 0) None else Some(mx))
  }

  /** Tiles of a `bs`-tiled grid that the clamped window touches. */
  def tilesTouched(g: Grid, bs: Int, x0: Int, y0: Int, x1: Int,
      y1: Int): Long = {
    val xl = math.max(0, x0); val xh = math.min(g.w, x1)
    val yl = math.max(0, y0); val yh = math.min(g.h, y1)
    if (xl >= xh || yl >= yh) 0L
    else ((xh - 1) / bs - xl / bs + 1).toLong * ((yh - 1) / bs - yl / bs + 1)
  }

  /** None when `got` equals `want`, else a message naming the field. */
  def diff(what: String, want: Stat, got: Stat): Option[String] =
    if (want == got) None else Some(s"$what: expected $want, got $got")

  /** CRS box whose floor/ceil pixel-is-area mapping onto level `lv`'s
    * grid is exactly [x0, x1) x [y0, y1): edges sit on cell centres. */
  def box(level0: Grid, g: Grid, x0: Int, y0: Int, x1: Int,
      y1: Int): (Double, Double, Double, Double) = {
    val rx = Gen.geo.resX * level0.w / g.w
    val ry = Gen.geo.resY * level0.h / g.h
    (Gen.geo.xmin + (x0 + 0.5) * rx, Gen.geo.ymax - (y1 - 0.5) * ry,
      Gen.geo.xmin + (x1 - 0.5) * rx, Gen.geo.ymax - (y0 + 0.5) * ry)
  }
}
