package graft.operators

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Bbox, Circle, Geometry}
import graft.functions.sfc
import graft.plans.DropImpliedCover

/** Selects that differ only in their constants share compiled classes:
  * per-query values reach generated code through the query-constant
  * expression, and [[DropImpliedCover]] keeps the pushed head cover's
  * literals out of the filter above the scan. */
class CompileOnceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private type P = (Double, Double, Double)

  /** 6000 distinct points spread over an 8192 x 8192 grid, z at 2 decimals. */
  private val raw: Seq[P] = (0 until 6000).map { i =>
    ((i * 1237L % 8192).toDouble, ((i * 3571L + 17) % 8192).toDouble, (i * 31 % 4000) / 100.0)
  }

  /** A stored cloud, so selects plan as parquet scans with pushed filters. */
  private lazy val cloud: BlockedCloud = {
    val dir = Files.createTempDirectory("graft_compile_once").toString
    PointCloud.write(PointCloud.importPoints(spark.createDataFrame(raw).toDF("x", "y", "z"),
      ImportSpec(name = "c")), dir)
    PointCloud.read(spark, dir)
  }

  private def collected(df: DataFrame): Seq[P] =
    df.select(col("x").cast("double"), col("y").cast("double"), col("z"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2))).toSeq.sorted

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def segD2(x: Double, y: Double, l: Array[Double], s: Int): Double = {
    val (ax, ay, bx, by) = (l(2 * s), l(2 * s + 1), l(2 * s + 2), l(2 * s + 3))
    val dxc = bx - ax; val dyc = by - ay
    val t = math.max(0.0, math.min(1.0, ((x - ax) * dxc + (y - ay) * dyc) / (dxc * dxc + dyc * dyc)))
    val fx = x - (t * dxc + ax); val fy = y - (t * dyc + ay)
    fx * fx + fy * fy
  }

  private def knnNaive(px: Double, py: Double, k: Int): Seq[P] = {
    def d2(p: P) = (p._1 - px) * (p._1 - px) + (p._2 - py) * (p._2 - py)
    raw.sortBy(p => (d2(p), p._1, p._2, p._3)).take(k).sorted
  }

  /** One select class: the query for a constant set and its naive answer. */
  private final case class Cls(name: String, query: Int => DataFrame, naive: Int => Seq[P])

  private def holed(i: Int): String = {
    val (x, y) = (1000.5 + 1500 * i, 1200.5 + 900 * i)
    s"POLYGON (($x $y, ${x + 3000} $y, ${x + 3000} ${y + 3000}, $x ${y + 3000}, $x $y), " +
      s"(${x + 1000} ${y + 1000}, ${x + 2000} ${y + 1000}, ${x + 2000} ${y + 2000}, " +
      s"${x + 1000} ${y + 2000}, ${x + 1000} ${y + 1000}))"
  }

  private val bboxes = Seq(Bbox(1000.5, 1600.5, 2000.5, 2600.5), Bbox(3000.25, 3700.75, 500.5, 1200.5))
  private val circles = Seq(Circle(3000.5, 3000.5, 400.3), Circle(5000.25, 2000.75, 510.5))
  private val lines = Seq(Array(500.5, 3500.5, 2000.5, 2000.5, 3500.5, 3000.5),
    Array(4100.25, 700.5, 5200.5, 2900.75, 6900.5, 2500.5))
  private val radii = Seq(150.25, 201.5)
  private val nnPoints = Seq((3000.5, 3000.5), (1500.25, 6000.75))
  private val zBands = Seq((10.0, 25.0), (5.5, 40.25))

  private lazy val classes: Seq[Cls] = Seq(
    Cls("bbox", i => cloud.bboxQuery(bboxes(i)),
      i => raw.filter(p => bboxes(i).contains(p._1, p._2))),
    Cls("circle", i => cloud.circleQuery(circles(i)),
      i => raw.filter(p => circles(i).contains(p._1, p._2))),
    Cls("polygon", i => cloud.polygonQuery(holed(i)), { i =>
      val poly = Geometry.parseWktPolygon(holed(i))
      raw.filter(p => poly.contains(p._1, p._2))
    }),
    Cls("polyline", i => cloud.polylineBufferQuery(lines(i), radii(i)),
      i => raw.filter(p => (0 until lines(i).length / 2 - 1)
        .exists(s => segD2(p._1, p._2, lines(i), s) <= radii(i) * radii(i)))),
    Cls("nn", i => cloud.knn(nnPoints(i)._1, nnPoints(i)._2, 100),
      i => knnNaive(nnPoints(i)._1, nnPoints(i)._2, 100)),
    Cls("bbox+z", i => cloud.withMaxZ(cloud.withMinZ(cloud.bboxQuery(bboxes(i)),
      zBands(i)._1), zBands(i)._2), { i =>
      val (lo, hi) = zBands(i)
      raw.filter(p => bboxes(i).contains(p._1, p._2) && p._3 >= lo && p._3 <= hi)
    }))

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p.collectWithSubqueries { case n => n }

  /** The filters right above a scan (no block explode in between). */
  private def headFilters(p: SparkPlan): Seq[FilterExec] = nodes(p).collect {
    case f: FilterExec if f.child.exists(_.isInstanceOf[FileSourceScanExec]) &&
        !f.child.exists(_.isInstanceOf[GenerateExec]) => f
  }

  private def literalHeadBounds(p: SparkPlan): Int =
    headFilters(p).map(_.condition.collect { case l: Literal => l }.size).sum

  test("a second select per class with new constants compiles nothing") {
    classes.foreach { c =>
      val warm = collected(c.query(0))
      assert(warm == c.naive(0).sorted, s"${c.name} warm-up")
      assert(warm.nonEmpty, s"${c.name} fixture should be non-empty")
    }
    classes.foreach { c =>
      val before = compiles
      val df = c.query(1)
      val got = collected(df)
      assert(compiles - before == 0, s"${c.name}: a constants-only change recompiled")
      assert(got == c.naive(1).sorted, s"${c.name} second query")
      assert(got.nonEmpty, s"${c.name} fixture should be non-empty")
      val plan = df.queryExecution.executedPlan
      val scans = nodes(plan).collect { case s: FileSourceScanExec => s }
      assert(scans.nonEmpty && scans.forall(_.metadata("PushedFilters").contains("sfc_head")),
        s"${c.name}: the head cover must stay pushed\n$plan")
      assert(headFilters(plan).nonEmpty && literalHeadBounds(plan) == 0,
        s"${c.name}: literal head bounds left in the filter above the scan\n$plan")
    }
  }

  test("a hand-written head bound narrower than the exact ranges stays in the filter") {
    val heads = cloud.blocks.select(col("sfc_head")).collect().map(_.getLong(0)).sorted
    val (a, b) = (heads(heads.length / 4), heads(heads.length / 2))
    // exact ranges reach past [a, b] on both sides: the bound is not implied
    val los = Array(heads.head, heads(heads.length / 3))
    val his = Array(heads(heads.length / 5), heads.last)
    def inRanges(h: Long) = los.indices.exists(i => los(i) <= h && h <= his(i))
    val narrow = cloud.blocks.filter(col("sfc_head").between(a, b) &&
      sfc.in_sorted_ranges(col("sfc_head"), los, his)).select(col("sfc_head"))
    assert(narrow.collect().map(_.getLong(0)).sorted.toSeq ==
      heads.filter(h => h >= a && h <= b && inRanges(h)).toSeq)
    assert(literalHeadBounds(narrow.queryExecution.executedPlan) == 2,
      narrow.queryExecution.executedPlan.toString)
    // the same bound widened to imply the ranges is dropped
    val wide = cloud.blocks.filter(col("sfc_head").between(heads.head, heads.last) &&
      sfc.in_sorted_ranges(col("sfc_head"), los, his)).select(col("sfc_head"))
    assert(wide.collect().map(_.getLong(0)).sorted.toSeq == heads.filter(inRanges).toSeq)
    assert(literalHeadBounds(wide.queryExecution.executedPlan) == 0,
      wide.queryExecution.executedPlan.toString)
  }

  test("every select returns identical rows without the strategy") {
    def hashes: Seq[Int] = classes.flatMap(c => Seq(0, 1).map(i => collected(c.query(i)).hashCode))
    val on = hashes
    spark.experimental.extraStrategies = spark.experimental.extraStrategies.filterNot(_ == DropImpliedCover)
    try {
      // the strategy is really off: the cover's literals are back in the filter
      assert(literalHeadBounds(cloud.bboxQuery(bboxes(0)).queryExecution.executedPlan) > 0)
      assert(hashes == on)
    } finally DropImpliedCover.install(spark)
  }
}
