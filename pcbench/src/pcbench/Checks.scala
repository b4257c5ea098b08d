package pcbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, size, sum}

import graft.operators.PointCloud
import graft.sources.Las

/** Compares what the program stored, returned or exported with the
  * [[Oracle]]. Every check returns an error message, never throws on a
  * wrong answer. */
final class Checks(spark: SparkSession, oracle: Oracle) {
  private val cloud = oracle.cloud
  private lazy val allExtents = oracle.extents(Array.range(0, cloud.size))

  /** A stored cloud: point count, sum of block sizes and extents.
    * Returns the blocks stored. */
  def store(dir: Path): Either[String, Long] = {
    val c = PointCloud.read(spark, dir.toString)
    val m = c.meta
    val r = c.blocks.agg(count(lit(1)), sum(size(col("sfc_tail")))).head()
    def g(v: Double, off: Double) = math.round((v - off) / Data.Scale).toInt
    val got = (g(m.xMin, Data.OffX), g(m.xMax, Data.OffX), g(m.yMin, Data.OffY), g(m.yMax, Data.OffY))
    if (m.pointCount != cloud.size) Left(s"meta count ${m.pointCount} != ${cloud.size}")
    else if (r.getLong(1) != cloud.size) Left(s"block sizes sum to ${r.getLong(1)} != ${cloud.size}")
    else if (got != allExtents) Left(s"extents $got != $allExtents")
    else Right(r.getLong(0))
  }

  private def gridOf(v: Double, off: Double, what: String): Either[String, Long] = {
    val q = math.round((v - off) / Data.Scale)
    if (math.abs(off + q * Data.Scale - v) < 1e-6) Right(q) else Left(s"$what=$v is off the grid")
  }

  /** Collected (x, y, z) rows against the oracle's selection `idx`. */
  def rows(rows: Array[Row], idx: Array[Int]): Option[String] = {
    val b = new Digest.Builder
    for (r <- rows) {
      val q = for {
        x <- gridOf(r.getDouble(0), Data.OffX, "x")
        y <- gridOf(r.getDouble(1), Data.OffY, "y")
        z <- gridOf(r.getDouble(2), 0.0, "z")
      } yield b.add(x, y, z)
      if (q.isLeft) return q.left.toOption
    }
    val want = oracle.gridDigest(idx)
    if (b.result == want) None else Some(s"result ${b.result} != oracle $want")
  }

  /** LAS exports against the oracle's selections: each file is read
    * back with Las.readPoints (all in one job) and its point count,
    * hash on the 0.1 m export grid and header bbox compared. */
  def exports(items: Seq[(Path, Array[Int])]): Seq[Option[String]] = if (items.isEmpty) Nil else {
    val rdds = items.zipWithIndex.map { case ((p, _), i) =>
      Las.readPoints(spark, p.toString).rdd.map(r => i -> Digest.key(math.round(r.getDouble(0) / 0.1),
        math.round(r.getDouble(1) / 0.1), math.round(r.getDouble(2) / 0.1)))
    }
    // one task per file part: sum per part, merge on the driver
    val got = spark.sparkContext.union(rdds).mapPartitions { it =>
      val m = mutable.HashMap.empty[Int, (Long, Long)]
      it.foreach { case (i, h) => val (n, s) = m.getOrElse(i, (0L, 0L)); m(i) = (n + 1, s + h) }
      m.iterator
    }.collect().groupMapReduce(_._1)(_._2)((a, b) => (a._1 + b._1, a._2 + b._2))
    items.zipWithIndex.map { case ((p, idx), i) =>
      val h = Las.readHeader(p.toString)
      val (n, hash) = got.getOrElse(i, (0L, 0L))
      val want = oracle.exportDigest(idx)
      def w(q: Int, off: Double) = off + q * Data.Scale
      lazy val (x0, x1, y0, y1) = oracle.extents(idx)
      val boxOk = idx.isEmpty || Seq(h.xMin - w(x0, Data.OffX), h.xMax - w(x1, Data.OffX),
        h.yMin - w(y0, Data.OffY), h.yMax - w(y1, Data.OffY)).forall(d => math.abs(d) < 1e-6)
      if (h.pointCount != idx.length) Some(s"header count ${h.pointCount} != ${idx.length}")
      else if (Digest(n, hash) != want) Some(s"export ${Digest(n, hash)} != oracle $want")
      else if (!boxOk) Some(s"header bbox (${h.xMin}, ${h.xMax}, ${h.yMin}, ${h.yMax}) != oracle")
      else None
    }
  }
}
