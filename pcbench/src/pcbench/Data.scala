package pcbench

import java.util.SplittableRandom

/** The generated cloud on its integer grid: point i sits at world
  * (Data.OffX + qx(i) * Data.Scale, Data.OffY + qy(i) * Data.Scale) with
  * height qz(i) centimetres. Everything the oracle knows comes from
  * these arrays, never from the program. */
final class Cloud(val qx: Array[Int], val qy: Array[Int], val qz: Array[Int]) {
  def size: Int = qx.length
}

/** AHN-like synthetic tile set, a pure function of the seed.
  *
  * Shape chosen to make the layout work: coordinates sit far from the
  * origin (Dutch RD New), so import offsets and quantization matter;
  * density runs from dense vegetation/building clusters through a
  * smoothly varying ground density to empty water bodies, so blocks are
  * skewed and some queries land in voids; vegetation clusters carry
  * second returns at the same (x, y), so nn ties on distance occur.
  *
  * Grid rules that keep every oracle check off a rounding boundary:
  * x/y/z never end in digit 5 on the centimetre grid, so the 0.1 m LAS
  * export grid never rounds a tie, and query edges sit on half-grid
  * coordinates (see [[Specs]]). Transcendentals use StrictMath so the
  * same seed gives the same bytes on any JVM. */
object Data {
  val Scale = 0.01
  val OffX = 85000.0
  val OffY = 446000.0
  /** Extent side in grid units (500 m). */
  val Side = 50000
  val TilesPerSide = 3
  val TileSide: Int = (Side + TilesPerSide - 1) / TilesPerSide
  val LasTiles = 2

  private final case class Blob(cx: Double, cy: Double, sigma: Double,
      height: Double, returns2: Boolean)
  private final case class Void(cx: Double, cy: Double, rx: Double, ry: Double, disk: Boolean) {
    def covers(x: Double, y: Double): Boolean =
      if (disk) { val dx = (x - cx) / rx; val dy = (y - cy) / ry; dx * dx + dy * dy <= 1 }
      else math.abs(x - cx) <= rx && math.abs(y - cy) <= ry
  }

  /** Box–Muller on StrictMath: the JDK's nextGaussian is not pinned
    * across releases. */
  def gauss(r: SplittableRandom): Double = {
    val u = 1.0 - r.nextDouble()
    StrictMath.sqrt(-2 * StrictMath.log(u)) * StrictMath.cos(2 * math.Pi * r.nextDouble())
  }

  /** Ground height in metres at grid (x, y). */
  private def terrain(x: Double, y: Double): Double =
    2.0 + 3.0 * StrictMath.sin(x / 7000) * StrictMath.cos(y / 5500) +
      1.5 * StrictMath.sin((x + 2 * y) / 2300) - 4.0 * StrictMath.exp(-((x - 30000) * (x - 30000)) / 4e7)

  /** Relative ground density in (0.15, 1]. */
  private def groundDensity(x: Double, y: Double): Double =
    0.15 + 0.85 * (0.5 + 0.5 * StrictMath.sin(x / 6100 + 1.3) * StrictMath.sin(y / 4700 + 0.4))

  /** Move a grid coordinate off the x5 residue (see the object doc). */
  def offTie(q: Int): Int = if (Math.floorMod(q, 10) == 5) q + 1 else q

  def generate(seed: Long, n: Int): Cloud = {
    val r = new SplittableRandom(seed)
    // clusters on a jittered 7 x 7 grid and voids in 7 of the 9 cells of
    // a 3 x 3 grid: skewed everywhere, but with the same large-scale mix
    // for every seed, so runs of different seeds stay comparable
    def jitter(cell: Int, cells: Int) = (cell + 0.2 + 0.6 * r.nextDouble()) / cells * Side
    val blobs = Array.tabulate(49) { b =>
      Blob(jitter(b % 7, 7), jitter(b / 7, 7), 300 + r.nextDouble() * 1700,
        3 + r.nextDouble() * 22, r.nextBoolean())
    }
    val cells = scala.collection.mutable.ArrayBuffer.range(0, 9)
    val voids = Array.fill(7) {
      val c = cells.remove(r.nextInt(cells.length))
      Void(jitter(c % 3, 3), jitter(c / 3, 3),
        1500 + r.nextDouble() * 4500, 1500 + r.nextDouble() * 4500, r.nextBoolean())
    }
    val qx = new Array[Int](n); val qy = new Array[Int](n); val qz = new Array[Int](n)
    var i = 0
    def emit(x: Int, y: Int, zm: Double): Unit = {
      qx(i) = offTie(x); qy(i) = offTie(y)
      qz(i) = offTie(math.round(zm * 100).toInt)
      i += 1
    }
    while (i < n) {
      val clustered = r.nextDouble() < 0.4
      val b = if (clustered) blobs(r.nextInt(blobs.length)) else null
      val (x, y) =
        if (clustered) (b.cx + b.sigma * gauss(r), b.cy + b.sigma * gauss(r))
        else (r.nextDouble() * Side, r.nextDouble() * Side)
      val keep = x >= 0 && y >= 0 && x < Side - 1 && y < Side - 1 &&
        !voids.exists(_.covers(x, y)) &&
        (clustered || r.nextDouble() < groundDensity(x, y))
      if (keep) {
        val gx = x.toInt; val gy = y.toInt
        val ground = terrain(gx, gy) + 0.05 * gauss(r)
        if (clustered) {
          val top = ground + b.height * r.nextDouble()
          emit(gx, gy, top)
          // a second (lower) return at the same (x, y)
          if (b.returns2 && i < n && r.nextDouble() < 0.3)
            emit(gx, gy, ground + (top - ground) * r.nextDouble())
        } else emit(gx, gy, ground)
      }
    }
    new Cloud(qx, qy, qz)
  }

  /** Tile index of each point, row-major over the TilesPerSide grid. */
  def tileOf(c: Cloud, i: Int): Int =
    (c.qy(i) / TileSide) * TilesPerSide + c.qx(i) / TileSide

  /** Tiles written as plain LAS; the rest are LAZ. */
  def lasTiles(seed: Long): Set[Int] = {
    val r = new SplittableRandom(seed ^ 0x7A11E5L)
    val all = scala.collection.mutable.ArrayBuffer.range(0, TilesPerSide * TilesPerSide)
    (0 until LasTiles).map(_ => all.remove(r.nextInt(all.length))).toSet
  }
}
