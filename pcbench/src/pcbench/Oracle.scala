package pcbench

/** Query shapes in half-grid units ("h", 0.005 m, relative to the data
  * origin). Points sit on even h coordinates and every query edge,
  * vertex and centre on odd ones, so no point is ever on a boundary and
  * every containment test below is exact integer arithmetic. */
sealed trait Shape {
  /** Bounding box (x0, x1, y0, y1) in h units. */
  def bbox: (Long, Long, Long, Long)
}
final case class BoxShape(x0: Long, x1: Long, y0: Long, y1: Long) extends Shape {
  def bbox: (Long, Long, Long, Long) = (x0, x1, y0, y1)
  def contains(px: Long, py: Long): Boolean = px > x0 && px < x1 && py > y0 && py < y1
}
/** Circle of squared radius `r2` (h²). `r2` is a multiple of 4 while a
  * squared distance from an odd centre to an even point is 2 mod 8, so
  * the two are never equal. */
final case class CircleShape(cx: Long, cy: Long, r2: Long) extends Shape {
  private val r = math.ceil(math.sqrt(r2.toDouble)).toLong
  def bbox: (Long, Long, Long, Long) = (cx - r, cx + r, cy - r, cy + r)
  def contains(px: Long, py: Long): Boolean =
    (px - cx) * (px - cx) + (py - cy) * (py - cy) <= r2
}
/** Polygon with holes: rings of packed (x, y), each closed by repeating
  * its first vertex, even-odd rule over all rings. */
final case class PolyShape(rings: Array[Array[Long]]) extends Shape {
  def bbox: (Long, Long, Long, Long) = {
    val s = rings(0)
    val xs = s.indices.filter(_ % 2 == 0).map(s(_))
    val ys = s.indices.filter(_ % 2 == 1).map(s(_))
    (xs.min, xs.max, ys.min, ys.max)
  }
  /** Crossing parity; `None` when the point lies exactly on an edge. */
  def containsExact(px: Long, py: Long): Option[Boolean] = {
    var inside = false
    var onEdge = false
    for (ring <- rings) {
      var j = 0
      while (j + 3 < ring.length) {
        val xi = ring(j); val yi = ring(j + 1); val xj = ring(j + 2); val yj = ring(j + 3)
        if ((yi > py) != (yj > py)) {
          // px < xi + (xj - xi) * (py - yi) / (yj - yi), cleared of the division
          val lhs = (px - xi) * (yj - yi)
          val rhs = (xj - xi) * (py - yi)
          if (lhs == rhs) onEdge = true
          else if ((yj > yi && lhs < rhs) || (yj < yi && lhs > rhs)) inside = !inside
        }
        j += 2
      }
    }
    if (onEdge) None else Some(inside)
  }
}
final case class NnShape(cx: Long, cy: Long, k: Int) extends Shape {
  def bbox: (Long, Long, Long, Long) = (cx, cx, cy, cy)
}

/** One query: `cls` is bbox, circle, polygon or nn; z limits are in
  * half-centimetres and odd, so they never equal a point's height. */
final case class Spec(id: Int, cls: String, shape: Shape,
    maxzH: Option[Long], minzH: Option[Long])

/** Count plus an order-independent hash of integer point triples. */
final case class Digest(count: Long, hash: Long)

object Digest {
  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def key(a: Long, b: Long, c: Long): Long = mix(mix(mix(a) ^ b) + c)

  final class Builder {
    private var n = 0L
    private var h = 0L
    def add(a: Long, b: Long, c: Long): Unit = { n += 1; h += key(a, b, c) }
    def result: Digest = Digest(n, h)
  }
}

/** Brute-force-correct answers over a cell index of the generated
  * cloud. Independent of the program: it sees only [[Cloud]]. */
final class Oracle(val cloud: Cloud) {
  private val Cell = 500
  private val nc = (Data.Side + Cell - 1) / Cell
  private val (start, order) = {
    val n = cloud.size
    val cellOf = Array.tabulate(n)(i => (cloud.qy(i) / Cell) * nc + cloud.qx(i) / Cell)
    val start = new Array[Int](nc * nc + 1)
    cellOf.foreach(c => start(c + 1) += 1)
    for (c <- 0 until nc * nc) start(c + 1) += start(c)
    val fill = start.clone()
    val order = new Array[Int](n)
    for (i <- 0 until n) { order(fill(cellOf(i))) = i; fill(cellOf(i)) += 1 }
    (start, order)
  }

  /** Calls `f` on every point whose grid coordinates fall in the
    * (inclusive, clipped) grid box. */
  private def forBox(gx0: Long, gx1: Long, gy0: Long, gy1: Long)(f: Int => Unit): Unit = {
    def cell(g: Long) = math.max(0L, math.min(nc - 1L, g / Cell)).toInt
    if (gx1 < 0 || gy1 < 0 || gx0 >= Data.Side || gy0 >= Data.Side) return
    for (cy <- cell(gy0) to cell(gy1); cx <- cell(gx0) to cell(gx1)) {
      val c = cy * nc + cx
      var k = start(c)
      while (k < start(c + 1)) { f(order(k)); k += 1 }
    }
  }

  /** h-unit box to the grid box of the even points inside it. */
  private def forH(b: (Long, Long, Long, Long))(f: Int => Unit): Unit =
    forBox(Math.floorDiv(b._1, 2L), Math.floorDiv(b._2, 2L) + 1,
      Math.floorDiv(b._3, 2L), Math.floorDiv(b._4, 2L) + 1)(f)

  /** True when some point lies exactly on an edge of `p`. */
  def touchesEdge(p: PolyShape): Boolean = {
    var hit = false
    forH(p.bbox)(i => if (p.containsExact(2L * cloud.qx(i), 2L * cloud.qy(i)).isEmpty) hit = true)
    hit
  }

  /** The k+1 nearest points to (cx, cy) by (d², x, y, z), like `knn`. */
  private def nearest(cx: Long, cy: Long, k: Int): Array[Int] = {
    val want = math.min(k + 1, cloud.size)
    val (gx, gy) = (Math.floorDiv(cx, 2L), Math.floorDiv(cy, 2L))
    var w = Cell.toLong
    var found = 0
    while (found < want && w < 4L * Data.Side) {
      found = 0
      forBox(gx - w, gx + w, gy - w, gy + w)(_ => found += 1)
      if (found < want) w *= 2
    }
    // every point in the window is a candidate; the want-th smallest
    // distance among them bounds the true want-th nearest
    val inWindow = scala.collection.mutable.ArrayBuffer.empty[Long]
    forBox(gx - w, gx + w, gy - w, gy + w)(i => inWindow += d2(i, cx, cy))
    val bound = inWindow.sorted.apply(want - 1)
    val rh = math.ceil(math.sqrt(bound.toDouble)).toLong + 2
    val cand = scala.collection.mutable.ArrayBuffer.empty[Int]
    forH((cx - rh, cx + rh, cy - rh, cy + rh))(i => if (d2(i, cx, cy) <= bound) cand += i)
    cand.sortBy(i => (d2(i, cx, cy), cloud.qx(i), cloud.qy(i), cloud.qz(i))).take(want).toArray
  }

  private def d2(i: Int, cx: Long, cy: Long): Long = {
    val dx = 2L * cloud.qx(i) - cx; val dy = 2L * cloud.qy(i) - cy
    dx * dx + dy * dy
  }

  /** True when the k-th and (k+1)-th nearest differ in (x, y) but not
    * in exact distance: which one a floating-point engine returns would
    * then depend on rounding. */
  def nnTieAtK(cx: Long, cy: Long, k: Int): Boolean = {
    val nb = nearest(cx, cy, k)
    nb.length > k && {
      val (a, b) = (nb(k - 1), nb(k))
      d2(a, cx, cy) == d2(b, cx, cy) &&
        (cloud.qx(a) != cloud.qx(b) || cloud.qy(a) != cloud.qy(b))
    }
  }

  /** Indices of the points `s` selects. */
  def select(s: Spec): Array[Int] = {
    val zOk = (i: Int) => s.maxzH.forall(2L * cloud.qz(i) < _) && s.minzH.forall(2L * cloud.qz(i) > _)
    val out = scala.collection.mutable.ArrayBuilder.make[Int]
    s.shape match {
      case NnShape(cx, cy, k) =>
        nearest(cx, cy, k).take(k).filter(zOk).foreach(out += _)
      case shape =>
        val inside: (Long, Long) => Boolean = shape match {
          case b: BoxShape => b.contains
          case c: CircleShape => c.contains
          case p: PolyShape => (x, y) => p.containsExact(x, y).getOrElse(
            throw new IllegalStateException(s"spec ${s.id}: point on a polygon edge"))
          case other => throw new IllegalArgumentException(other.toString)
        }
        forH(shape.bbox) { i =>
          if (inside(2L * cloud.qx(i), 2L * cloud.qy(i)) && zOk(i)) out += i
        }
    }
    out.result()
  }

  def gridDigest(idx: Array[Int]): Digest = {
    val b = new Digest.Builder
    idx.foreach(i => b.add(cloud.qx(i), cloud.qy(i), cloud.qz(i)))
    b.result
  }

  /** Digest of the points on the LAS export grid: 0.1 m, zero offset.
    * No coordinate ends in 5 on the centimetre grid, so rounding to the
    * export grid never meets a tie. */
  def exportDigest(idx: Array[Int]): Digest = {
    val b = new Digest.Builder
    idx.foreach(i => b.add(Oracle.toExport(cloud.qx(i), Data.OffX),
      Oracle.toExport(cloud.qy(i), Data.OffY), Math.floorDiv(cloud.qz(i) + 5L, 10L)))
    b.result
  }

  /** (xMin, xMax, yMin, yMax) of the selection, in grid units. */
  def extents(idx: Array[Int]): (Int, Int, Int, Int) =
    (idx.map(cloud.qx).min, idx.map(cloud.qx).max, idx.map(cloud.qy).min, idx.map(cloud.qy).max)
}

object Oracle {
  /** Centimetre grid offset from `off` to the 0.1 m export grid. */
  def toExport(q: Int, off: Double): Long =
    Math.floorDiv(math.round(off / Data.Scale) + q + 5L, 10L)
}
