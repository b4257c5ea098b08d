package pcbench

import java.util.SplittableRandom

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Deterministic query streams in the reference's JSON spec format.
  *
  * `small`: bbox, circle, polygon with one hole and nn (k = 100) in
  * turn, each covering 10⁻⁵–10⁻³ of the extent (log scale), some of
  * the first three with z limits; every other round is centred on data
  * points, the rest are placed uniformly, so some land in voids. `large`: bbox, polygon with two
  * holes and circle in turn, with and without a z band in turn, each
  * sized to hold 1–20 % of the points (within [[Specs.Tolerance]], by
  * the oracle's count), so it covers about 1–20 % of the extent. The
  * point counts follow the same sequence for every seed, so the points
  * a run exports do not depend on the seed.
  *
  * A spec that would put a point exactly on a polygon edge, or put a
  * distance tie across the k-th nn neighbour, is redrawn from the same
  * generator, so the stream stays a function of the seed alone. */
final class Specs(seed: Long, large: Boolean, oracle: Oracle) extends Iterator[Spec] {
  private val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + (if (large) 2 else 1))
  private val cloud = oracle.cloud
  private val classes =
    if (large) IndexedSeq("bbox", "polygon", "circle") else IndexedSeq("bbox", "circle", "polygon", "nn")
  private var drawn = 0
  private val area = Data.Side.toDouble * Data.Side

  def hasNext: Boolean = true

  def next(): Spec = {
    val id = drawn
    drawn += 1
    val cls = classes(id % classes.length)
    val round = id / classes.length
    // sizes and uniform placements follow fixed low-discrepancy
    // sequences (golden ratio; R2), the same for every seed, so a run
    // spreads them evenly and runs differ by the seeded cloud and shapes
    val u = (0.5 + round * 0.6180339887498949) % 1.0
    if (large) region(id, cls, round, u)
    else {
      val centred = round % 2 == 0
      // nn keeps exactly k points, so its points per second is steady
      val zLimited = cls != "nn" && r.nextDouble() < 0.3
      val a = StrictMath.pow(10.0, -5 + 2 * u) * area
      var shape: Shape = null
      while (shape == null) shape = draw(cls, centred, round)(a)
      val (maxz, minz) = if (!zLimited) (None, None) else {
        def level() = 2L * cloud.qz(r.nextInt(cloud.size)) + 1
        r.nextInt(3) match {
          case 0 => (Some(level()), None)
          case 1 => (None, Some(level()))
          case _ =>
            val (a, b) = (level(), level())
            (Some(math.max(a, b)), Some(math.min(a, b)))
        }
      }
      Spec(id, cls, shape, maxz, minz)
    }
  }

  private lazy val zSorted = cloud.qz.sorted

  /** A `large` spec holding 1–20 % of the points: the z band (odd
    * rounds) keeps 50–90 % of the heights, then the shape's area is
    * rescaled until the oracle's count is within [[Specs.Tolerance]] of
    * the target, on a new shape when one does not get there. */
  private def region(id: Int, cls: String, round: Int, u: Double): Spec = {
    val target = cloud.size * 0.01 * StrictMath.pow(20.0, u)
    val (maxz, minz) = if (round % 2 == 0) (None, None) else {
      def level(q: Double) = 2L * zSorted(math.min(cloud.size - 1, (q * cloud.size).toInt)) + 1
      val keep = 0.5 + 0.4 * r.nextDouble()
      r.nextInt(3) match {
        case 0 => (Some(level(keep)), None)
        case 1 => (None, Some(level(1 - keep)))
        case _ => val lo = r.nextDouble() * (1 - keep); (Some(level(lo + keep)), Some(level(lo)))
      }
    }
    var best: Spec = null
    var bestErr = Double.PositiveInfinity
    var tries = 0
    while (best == null || (bestErr > Specs.Tolerance && tries < 5)) {
      val shapeOf = draw(cls, centred = false, round)
      // areas known to hold too few / too many points, and their counts
      var (lo, nLo, hi, nHi) = (0.0, 0.0, Double.PositiveInfinity, 0.0)
      var a = target / cloud.size * area
      var step = 0
      while (step < 16 && bestErr > Specs.Tolerance) {
        val shape = shapeOf(a)
        // a polygon with a point on an edge: nudge its size
        if (shape == null) a *= 1.001 else {
          val s = Spec(id, cls, shape, maxz, minz)
          val n = oracle.select(s).length.toDouble
          val err = math.abs(n - target) / target
          if (err < bestErr) { best = s; bestErr = err }
          if (n < target) { lo = a; nLo = n } else { hi = a; nHi = n }
          // grow until bracketed (8 extents' area holds the whole extent
          // wherever the centre is), then interpolate, bisecting when
          // the interpolation lands near an end of the bracket
          a =
            if (hi.isInfinite) math.min(8 * area, a * target / math.max(n, target / 4))
            else {
              val w = hi - lo
              val x = lo + (target - nLo) / (nHi - nLo) * w
              if (x > lo + 0.1 * w && x < hi - 0.1 * w) x else lo + w / 2
            }
        }
        step += 1
      }
      tries += 1
    }
    best
  }

  /** Odd h coordinate nearest below grid position `g`. */
  private def oddH(g: Double): Long = 2L * math.floor(g).toLong + 1

  /** One candidate shape of `cls` around a centre drawn now, as a
    * function of its area in grid units²; the function gives null when
    * the shape must be redrawn. */
  private def draw(cls: String, centred: Boolean, round: Int): Double => Shape = {
    // the sub-grid jitter makes a redraw move the centre
    val (gx, gy) =
      if (centred) { val i = r.nextInt(cloud.size); (cloud.qx(i) + r.nextDouble(), cloud.qy(i) + r.nextDouble()) }
      else (((0.5 + round * 0.7548776662466927) % 1.0) * (Data.Side - 1) + r.nextDouble(),
        ((0.5 + round * 0.5698402909980532) % 1.0) * (Data.Side - 1) + r.nextDouble())
    cls match {
      case "bbox" =>
        val aspect = StrictMath.pow(2.0, 2 * r.nextDouble() - 1)
        a => {
          val w = math.sqrt(a * aspect); val h = a / w
          BoxShape(oddH(gx - w / 2), oddH(gx + w / 2), oddH(gy - h / 2), oddH(gy + h / 2))
        }
      case "circle" =>
        a => CircleShape(oddH(gx), oddH(gy), 4 * math.max(1L, math.round(a / math.Pi)))
      case "nn" =>
        val (cx, cy) = (oddH(gx), oddH(gy))
        val shape = if (oracle.nnTieAtK(cx, cy, Specs.K)) null else NnShape(cx, cy, Specs.K)
        _ => shape
      case "polygon" =>
        val polyOf = polygon(gx, gy, holes = if (large) 2 else 1)
        a => { val p = polyOf(a); if (oracle.touchesEdge(p)) null else p }
    }
  }

  /** Star-shaped shell around (gx, gy) with `holes` star-shaped holes
    * inside the shell's inscribed disk, as a function of its area. */
  private def polygon(gx: Double, gy: Double, holes: Int): Double => PolyShape = {
    val n = 6 + r.nextInt(7)
    val rot = r.nextDouble() * 2 * math.Pi
    // radii relative to the mean radius
    val radii = Array.fill(n)(0.7 + 0.3 * r.nextDouble())
    val angles = Array.tabulate(n)(j => rot + 2 * math.Pi * (j + 0.4 * r.nextDouble()) / n)
    // widest angular gap is below 1.4 * 2π/n, so the shell holds this disk
    val inscribed = radii.min * StrictMath.cos(math.Pi * 1.4 / n)
    def ring(cx: Double, cy: Double, rs: Array[Double], as: Array[Double]): Array[Long] = {
      val pts = rs.indices.flatMap(j => Seq(oddH(cx + rs(j) * StrictMath.cos(as(j))), oddH(cy + rs(j) * StrictMath.sin(as(j)))))
      (pts ++ pts.take(2)).toArray
    }
    val holeCentres =
      if (holes == 1) Seq((0.0, 0.0))
      else Seq((-0.45 * inscribed, 0.0), (0.45 * inscribed, 0.0))
    val holeR = if (holes == 1) 0.4 * inscribed else 0.35 * inscribed
    val holeShapes = holeCentres.map { case (hx, hy) =>
      val m = 5 + r.nextInt(4)
      (hx, hy, Array.fill(m)(holeR * (0.7 + 0.3 * r.nextDouble())),
        Array.tabulate(m)(j => 2 * math.Pi * (j + 0.4 * r.nextDouble()) / m))
    }
    a => {
      val rMean = math.sqrt(a / (math.Pi * 0.72))
      val shell = ring(gx, gy, radii.map(_ * rMean), angles)
      val holeRings = holeShapes.map { case (hx, hy, rs, as) =>
        ring(gx + hx * rMean, gy + hy * rMean, rs.map(_ * rMean), as)
      }
      PolyShape((shell +: holeRings).toArray)
    }
  }
}

object Specs {
  val K = 100
  /** Largest relative miss of a `large` spec's point count. */
  val Tolerance = 0.02
  private val mapper = new ObjectMapper()

  private def world(h: Long, off: Double): Double = off + h * (Data.Scale / 2)

  /** The spec in the reference's query JSON format. */
  def json(s: Spec): ObjectNode = {
    val o = mapper.createObjectNode()
    o.put("source_dataset", "bench")
    s.shape match {
      case BoxShape(x0, x1, y0, y1) =>
        o.put("mode", "bbox")
        val g = o.putArray("geometry")
        g.add(world(x0, Data.OffX)); g.add(world(x1, Data.OffX))
        g.add(world(y0, Data.OffY)); g.add(world(y1, Data.OffY))
      case CircleShape(cx, cy, r2) =>
        o.put("mode", "circle")
        val g = o.putArray("geometry")
        val c = g.addArray()
        c.add(world(cx, Data.OffX)); c.add(world(cy, Data.OffY))
        g.add(math.sqrt(r2.toDouble) * (Data.Scale / 2))
      case PolyShape(rings) =>
        o.put("mode", "polygon")
        o.put("geometry", rings.map { ring =>
          ring.grouped(2).map(p => s"${world(p(0), Data.OffX)} ${world(p(1), Data.OffY)}")
            .mkString("(", ", ", ")")
        }.mkString("POLYGON (", ", ", ")"))
      case NnShape(cx, cy, k) =>
        o.put("mode", "nn")
        val g = o.putArray("geometry")
        g.add(world(cx, Data.OffX)); g.add(world(cy, Data.OffY))
        o.put("k", k)
    }
    // z limits are odd half-centimetres: world z = h / 200
    s.maxzH.foreach(z => o.put("maxz", z / 200.0))
    s.minzH.foreach(z => o.put("minz", z / 200.0))
    o
  }
}
