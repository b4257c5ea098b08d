package pcbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{Calibration, QueryRunner}
import graft.operators.{BlockedCloud, ImportSpec, PointCloud}
import graft.sources.{Las, Laz}

/** The point-cloud pipeline benchmark: one workload per run, against
  * the program's public API, every result checked against [[Oracle]].
  *
  * Usage: pcbench.Main --workload <select_small|select_large>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  *
  * Prints one `{"labels": ...}` line, then the result line
  * `{"ok": ..., "attempted": ..., "failed": ..., "metrics": {...}}`
  * (metric values only; the runner attaches units). A metric that does
  * not apply to the workload, such as an nn class metric of
  * select_large, is null. Exits 1 when any op
  * failed or returned a wrong answer. `--work` is scratch space for the
  * tiles and stores of this run and is deleted at exit. */
object Main {
  val Workloads = Seq("select_small", "select_large")
  val Classes = Seq("bbox", "circle", "polygon", "nn")
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  /** Setups per run; setup_s is their median. */
  val Setups = 3
  /** Specs run before the timed phase, so that most of the JIT warm-up
    * of planning and codegen is over when timing starts: after only 6,
    * latency still fell ~20 % through the timed ops, at a pace that
    * followed the host's load. */
  val WarmupSpecs = 30
  /** Ops a run carries at least: six samples lie past p90. More would
    * not fit 48 runs of two workloads in the benchmark's time budget
    * when the host is loaded. */
  val MinOps = 60
  val Points = 120000
  /** The heap is sampled after every HeapEvery of the first MinOps ops,
    * so heap_peak_mb covers the same work however fast the ops run. */
  val HeapEvery = 15

  val importSpec: ImportSpec = ImportSpec(name = "bench",
    scaleX = Data.Scale, scaleY = Data.Scale, scaleZ = Data.Scale,
    offX = Data.OffX, offY = Data.OffY, targetPointsPerBlock = Some(256))

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, out: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val a = Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("work")), Paths.get(m("out")))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    a
  }

  /** A session configured like graft.Bench: local[nproc], nproc shuffle
    * partitions, UI off, UTC; scratch space under `work`. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.iterator.asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally all.close()
  }

  def treeBytes(p: Path): Long = {
    val all = Files.walk(p)
    try all.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally all.close()
  }

  /** Writes the cloud as AHN-style tiles: LAZ point format 0 except
    * [[Data.lasTiles]], which are plain LAS. Each tile is one partition,
    * so its bytes do not depend on the core count. */
  def writeTiles(spark: SparkSession, c: Cloud, seed: Long, dir: Path): Unit = {
    Files.createDirectories(dir)
    val las = Data.lasTiles(seed)
    val tiles = Array.fill(Data.TilesPerSide * Data.TilesPerSide)(mutable.ArrayBuilder.make[Int])
    for (i <- 0 until c.size) tiles(Data.tileOf(c, i)) += i
    val (bx, by) = (math.round(Data.OffX / Data.Scale), math.round(Data.OffY / Data.Scale))
    // tiles are independent single-partition jobs: write them concurrently
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nproc)
    try {
      tiles.zipWithIndex.map { case (b, t) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val idx = b.result()
            if (idx.nonEmpty) {
              val rows = idx.map(i => Row((bx + c.qx(i)) * Data.Scale, (by + c.qy(i)) * Data.Scale, c.qz(i) / 100.0))
              val df = spark.createDataFrame(spark.sparkContext.parallelize(rows.toSeq, 1), Las.pointSchema)
              val name = s"tile_${t % Data.TilesPerSide}_${t / Data.TilesPerSide}"
              if (las(t)) Las.writePoints(df, dir.resolve(s"$name.las").toString, scale = Data.Scale)
              else Laz.writePoints(df, dir.resolve(s"$name.laz").toString, scale = Data.Scale)
            }
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
  }

  def sha256Tree(dir: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    Files.list(dir).iterator.asScala.toSeq.sortBy(_.getFileName.toString).foreach { f =>
      md.update(f.getFileName.toString.getBytes("UTF-8"))
      md.update(Files.readAllBytes(f))
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val ok = try new Run(a).apply() finally deleteTree(a.work)
    sys.exit(if (ok) 0 else 1)
  }
}

/** What one op did: its latency (None when it failed or answered
  * wrongly), points it returned, and when traced its layer fields. */
final case class OpResult(cls: String, latencyMs: Option[Double], points: Long,
    error: Option[String], fields: Map[String, Double], traced: Boolean)

final class Run(a: Main.Args) {
  import Main._

  private val tilesDir = a.work.resolve("tiles")
  private val storeDir = a.work.resolve("store")
  private val large = a.workload == "select_large"
  private val cloud = Data.generate(a.seed, Points)
  private val oracle = new Oracle(cloud)
  private val tracer = new Tracer
  private val counters = new SparkCounters
  private var spark: SparkSession = _
  private lazy val checks = new Checks(spark, oracle)

  private def sc = spark.sparkContext

  /** Turns spans, job groups and the listeners on or off. */
  private def tracing: Boolean = tracer.on
  private def tracing_=(on: Boolean): Unit = if (on != tracer.on) {
    tracer.on = on
    if (on) { sc.addSparkListener(counters); spark.listenerManager.register(counters) }
    else { sc.removeSparkListener(counters); spark.listenerManager.unregister(counters) }
  }

  private def group(g: String): Unit = if (tracing) sc.setJobGroup(g, g, interruptOnCancel = false)

  private def drain(): Unit = if (tracing) BusDrain(sc)

  private def codegen: (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"

  /** Listener counts and plan metrics of job group `g`. In a select, the
    * `rdd` executions are skipped: they are the export's plan, whose
    * scans the noop twin repeats with live metrics. */
  private def sparkFields(g: String, wallMs: Double, select: Boolean): (Map[String, Double], PlanStats) = {
    drain()
    val jc = counters.takeGroup(g)
    val stats = counters.takeExecutions().collect { case (f, qe) if !(select && f == "rdd") => PlanStats.of(qe) }
      .foldLeft(PlanStats.zero)(_ + _)
    (Map("spark.jobs" -> jc.jobs.toDouble, "spark.tasks" -> jc.tasks.toDouble,
      "task_ms" -> jc.taskMs.toDouble, "busy_den" -> wallMs * nproc,
      "spark.exec_ms" -> jc.jobMs.toDouble,
      "spark.shuffle_write_bytes" -> jc.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> jc.spillBytes.toDouble), stats)
  }

  /** Session start plus select-store import; in a traced run the last
    * one also yields the import layers' fields. The first writes the
    * input tiles in between, untimed. */
  private def setup(first: Boolean, last: Boolean): (Double, Map[String, Double]) = {
    val t = System.nanoTime()
    spark = session(a.work)
    val untimed = if (!first) 0L else {
      val tt = System.nanoTime()
      writeTiles(spark, cloud, a.seed, tilesDir)
      System.nanoTime() - tt
    }
    if (last) tracing = a.trace
    group("setup")
    val (si, sw) = tracer.inOp("setup") {
      val (c, si) = tracer.timed("operators.importLas")(PointCloud.importLas(spark, tilesDir.toString, importSpec))
      (si, tracer.timed("operators.write")(PointCloud.write(c, storeDir.toString))._2)
    }
    val secs = (System.nanoTime() - t - untimed) / 1e9
    val fields = if (!tracing) Map.empty[String, Double] else {
      val (sf, stats) = sparkFields("setup", secs * 1000, select = false)
      group("decode")
      val (_, sd) = tracer.inOp("setup")(tracer.timed("sources.decode_noop") {
        Las.readDir(spark, tilesDir.toString).write.format("noop").mode("overwrite").save()
      })
      drain()
      counters.takeGroup("decode")
      counters.takeExecutions()
      // under their own names: spark.* is the selects'
      Map("operators.import_ms" -> si.ms, "operators.write_ms" -> sw.ms, "sources.decode_ms" -> sd.ms,
        "rdd_rows" -> stats.rddScanRows.toDouble, "input_points" -> cloud.size.toDouble,
        "import.shuffle_write_bytes" -> sf("spark.shuffle_write_bytes"),
        "import.spill_bytes" -> sf("spark.spill_bytes"),
        "import.jobs" -> sf("spark.jobs"), "import.tasks" -> sf("spark.tasks"),
        "import.task_ms" -> sf("task_ms"), "import.busy_den" -> sf("busy_den"))
    }
    tracing = false
    (secs, fields)
  }

  private def selectOp(store: BlockedCloud, blocksStored: Long, spec: Spec, i: Int,
      exports: mutable.Buffer[(Int, Path, Spec)]): OpResult = {
    val opId = s"${a.workload}-$i"
    val js = Specs.json(spec)
    val path = a.work.resolve(s"export-$i.las")
    try {
      val cg0 = codegen
      val t0 = System.nanoTime()
      val (lat, rows, f) = tracer.inOp(opId) {
        group(s"$opId/build")
        val (df, sb) = tracer.timed("runner.runOne")(QueryRunner.runOne(store, js))
        group(opId)
        val (_, sp) = if (tracing) tracer.timed("spark.plan")(df.queryExecution.executedPlan) else (null, null)
        val (rows, sa) =
          if (large) tracer.timed("operators.exportLas") { store.exportLas(df, path.toString); Array.empty[Row] }
          else tracer.timed("spark.collect")(df.collect())
        val lat = (System.nanoTime() - t0) / 1e6
        val f = if (!tracing) Map.empty[String, Double] else {
          val cg1 = codegen
          val twin = if (!large) Map.empty[String, Double] else {
            group(s"$opId/twin")
            val (_, st) = tracer.timed("spark.noop_twin")(df.write.format("noop").mode("overwrite").save())
            Map("sources.export_ms" -> (sa.ms - st.ms))
          }
          Map("runner.build_ms" -> sb.ms, "spark.plan_ms" -> sp.ms,
            "spark.codegen_compiles" -> (cg1._1 - cg0._1).toDouble,
            "spark.codegen_ms" -> (cg1._2 - cg0._2) / 1e6) ++ twin
        }
        (lat, rows, f)
      }
      val expect = oracle.select(spec)
      val fields = if (!tracing) f else {
        val (sf, stats) = sparkFields(opId, lat, select = true)
        val build = counters.takeGroup(s"$opId/build")
        counters.takeGroup(s"$opId/twin")
        f ++ sf ++ Map(
          "spark.jobs" -> (sf("spark.jobs") + build.jobs), "spark.tasks" -> (sf("spark.tasks") + build.tasks),
          "task_ms" -> (sf("task_ms") + build.taskMs), "spark.exec_ms" -> (sf("spark.exec_ms") + build.jobMs),
          "operators.pushed_ranges" -> stats.pushedRanges.toDouble,
          "operators.files_read" -> stats.filesRead.toDouble,
          "scan_rows" -> stats.scanRows.toDouble, "blocks_den" -> blocksStored.toDouble,
          "operators.points_decoded" -> stats.generatedRows.toDouble,
          "returned" -> expect.length.toDouble, "latency_ms" -> lat,
          "build_plan_codegen_ms" -> (f("runner.build_ms") + f("spark.plan_ms") + f("spark.codegen_ms"))) ++
          (if (spec.cls == "nn") Map("operators.nn_probe_jobs" -> build.jobs.toDouble) else Map.empty)
      }
      // exports are read back together after the timed phase; the
      // oracle's answer is recomputed then, so the timed phase holds no
      // buffer that grows with the op count
      val err = if (large) { exports += ((i, path, spec)); None } else checks.rows(rows, expect)
      OpResult(spec.cls, if (err.isEmpty) Some(lat) else None, expect.length, err, fields, tracing)
    } catch { case e: Exception => OpResult(spec.cls, None, 0, Some(message(e)), Map.empty, tracing) }
  }

  /** Runs ops until their summed latency reaches `seconds` and at least
    * `minOps` ran, bounded in wall time. The heap is sampled after every
    * [[HeapEvery]] of the first `minOps` ops, outside op latencies. */
  private def loop(seconds: Double, minOps: Int)(op: Int => OpResult): Seq[OpResult] = {
    val out = mutable.ArrayBuffer.empty[OpResult]
    val wall0 = System.nanoTime()
    var used = 0.0
    def wall = (System.nanoTime() - wall0) / 1e9
    while ((used < seconds * 1000 || out.size < minOps) && wall < 3 * seconds + 60) {
      val t0 = System.nanoTime()
      val r = op(out.size)
      used += r.latencyMs.getOrElse((System.nanoTime() - t0) / 1e6)
      out += r
      if (out.size % HeapEvery == 0 && out.size <= minOps) HeapPeak.sample()
    }
    out.toSeq
  }

  def apply(): Boolean = {
    val t0 = System.nanoTime()
    val setups = (1 to Setups).map { s =>
      if (s > 1) { spark.stop(); deleteTree(storeDir) }
      setup(first = s == 1, last = s == Setups)
    }
    val tilesSha = sha256Tree(tilesDir)
    val inputBytes = treeBytes(tilesDir)
    val storeBlocks = checks.store(storeDir).fold(e => throw new IllegalStateException(s"select store: $e"), identity)
    val store = PointCloud.read(spark, storeDir.toString)
    val storeBytes = treeBytes(storeDir)
    val storeFiles = Files.list(storeDir.resolve("blocks")).iterator.asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    val tSetup = System.nanoTime()

    // warm-up specs come from another stream than the timed ones
    val warm = new Specs(a.seed + 7919, large, oracle)
    (0 until WarmupSpecs).foreach(i => selectOp(store, storeBlocks, warm.next(), -1 - i, mutable.Buffer.empty))
    val specs = new Specs(a.seed, large, oracle)
    val exports = mutable.ArrayBuffer.empty[(Int, Path, Spec)]

    HeapPeak.reset()
    // a traced run alternates untraced and traced blocks of two spec
    // rounds, so both see the same classes, sizes and JIT state; the gap
    // between them is the tracing overhead
    val block = 2 * (if (large) 3 else Classes.size)
    val ops0 = loop(a.seconds, MinOps) { i =>
      tracing = a.trace && (i / block) % 2 == 1
      selectOp(store, storeBlocks, specs.next(), i, exports)
    }
    tracing = false
    val heapMb = HeapPeak.peakMb
    val tTimed = System.nanoTime()

    val exportErrs = exports.map(_._1).zip(checks.exports(exports.map(e => (e._2, oracle.select(e._3))).toSeq))
      .collect { case (i, Some(e)) => i -> e }.toMap
    exports.foreach(e => Files.deleteIfExists(e._2))
    val ops = ops0.zipWithIndex.map { case (o, i) =>
      exportErrs.get(i).fold(o)(e => o.copy(latencyMs = None, error = Some(e)))
    }
    val (traced, plain) = ops.partition(_.traced)
    val failed = ops.filter(_.latencyMs.isEmpty)
    failed.take(5).foreach(o => System.err.println(s"[pcbench] FAILED ${o.cls}: ${o.error.getOrElse("")}"))

    // a failed op counts as infinitely slow; a percentile landing on one reads -1
    val lat = ops.map(_.latencyMs.getOrElse(Double.PositiveInfinity))
    def finite(v: Double) = if (v.isInfinite) -1.0 else v
    // a small window's result size swings with local density; only nn
    // returns a fixed count (k), so select_small's throughput is nn's
    val tput = ops.filter(o => o.latencyMs.nonEmpty && (large || o.cls == "nn"))
    val metrics: Seq[(String, Double)] =
      if (!a.trace) Seq(
        "setup_s" -> median(setups.map(_._1)),
        "heap_peak_mb" -> heapMb,
        "points_per_s" -> tput.map(_.points).sum / math.max(tput.flatMap(_.latencyMs).sum, 1e-9) * 1000,
        "store_bytes_per_point" -> storeBytes.toDouble / cloud.size,
        "p50_ms" -> finite(percentile(lat, 0.5)),
        "p90_ms" -> finite(percentile(lat, 0.9)))
      else {
        val perClass = Classes.flatMap { c =>
          val cs = traced.filter(_.cls == c)
          Layers.aggregate(cs.map(_.fields)).collect { case (k, v) if Layers.perClass(k) => s"$k.$c" -> v } ++
            Seq(s"latency_p50_ms.$c" -> median(cs.flatMap(_.latencyMs)))
        }
        (Layers.aggregate(traced.map(_.fields) :+ setups.last._2) ++ perClass ++ Layers.fit(plain) ++ Seq(
          "operators.store_files" -> storeFiles.toDouble,
          "operators.blocks_stored" -> storeBlocks.toDouble,
          "operators.points_per_block" -> cloud.size.toDouble / storeBlocks,
          "sources.input_bytes" -> inputBytes.toDouble,
          "trace.overhead_ratio" ->
            median(traced.flatMap(_.latencyMs)) / math.max(median(plain.flatMap(_.latencyMs)), 1e-9))).toSeq
      }

    val (spinSt, spinMt) = (Calibration.spinSingle(), Calibration.spinMulti())
    System.err.println(f"[pcbench] setup ${(tSetup - t0) / 1e9}%.1fs, " +
      f"timed ${(tTimed - tSetup) / 1e9}%.1fs, checks+calibration ${(System.nanoTime() - tTimed) / 1e9}%.1fs")
    val ram = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getTotalMemorySize
    val labels = Map[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> nproc, "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version, "input_points" -> cloud.size, "input_bytes" -> inputBytes,
      "tiles_sha256" -> tilesSha, "store_bytes" -> storeBytes, "ram_bytes" -> ram,
      "store_over_ram" -> storeBytes.toDouble / ram, "setup_s_all" -> setups.map(_._1),
      "ops_untraced" -> plain.size, "ops_traced" -> traced.size,
      "ops_by_class" -> ops.groupBy(_.cls).map { case (k, v) => k -> v.size },
      "failures" -> failed.flatMap(_.error).take(20),
      "calibration_spin_single_s" -> spinSt, "calibration_spin_multi_s" -> spinMt)
    Report.write(a, labels, metrics, ops, tracer.spans.toSeq)
    println(Report.json(Map("labels" -> labels)))
    println(Report.json(Map("ok" -> failed.isEmpty, "attempted" -> ops.size, "failed" -> failed.size,
      "metrics" -> metrics.toMap)))
    spark.stop()
    failed.isEmpty
  }
}

/** Per-layer aggregation of traced op fields. Times are medians over
  * ops, counts are means per op, ratios are ratios of sums. Fields
  * without a layer prefix only feed the ratios. A metric with no
  * samples is NaN: it does not apply to the workload. */
object Layers {
  private val medians = Set("runner.build_ms", "spark.plan_ms", "spark.exec_ms", "spark.codegen_ms",
    "sources.export_ms", "operators.import_ms", "operators.write_ms", "sources.decode_ms")
  private val means = Set("spark.jobs", "spark.tasks", "spark.codegen_compiles", "operators.pushed_ranges",
    "operators.files_read", "operators.points_decoded", "operators.nn_probe_jobs",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "import.shuffle_write_bytes", "import.spill_bytes",
    "import.jobs", "import.tasks")
  private val ratios = Map(
    "spark.busy_ratio" -> ("task_ms", "busy_den"),
    "import.busy_ratio" -> ("import.task_ms", "import.busy_den"),
    "operators.blocks_read_ratio" -> ("scan_rows", "blocks_den"),
    "operators.refine_kept_ratio" -> ("returned", "operators.points_decoded"),
    "sources.decode_amplification" -> ("rdd_rows", "input_points"),
    "op.build_plan_codegen_share" -> ("build_plan_codegen_ms", "latency_ms"),
    "op.jobs_share" -> ("spark.exec_ms", "latency_ms"))

  /** Metrics reported per query class as well as per workload. */
  val perClass: Set[String] = Set("runner.build_ms", "spark.plan_ms", "spark.exec_ms", "spark.codegen_ms",
    "spark.codegen_compiles", "spark.jobs", "spark.tasks", "spark.busy_ratio", "operators.pushed_ranges",
    "operators.files_read", "operators.blocks_read_ratio", "operators.points_decoded",
    "operators.refine_kept_ratio", "sources.export_ms")

  def aggregate(ops: Seq[Map[String, Double]]): Map[String, Double] = {
    def vals(k: String) = ops.flatMap(_.get(k))
    medians.map(k => k -> Main.median(vals(k))).toMap ++
      means.map(k => k -> { val v = vals(k); if (v.isEmpty) Double.NaN else v.sum / v.size }) ++
      ratios.map { case (k, (n, d)) => k -> { val den = vals(d).sum; if (den == 0) Double.NaN else vals(n).sum / den } }
  }

  /** Least-squares fit of op latency on points returned, over the
    * successful `ops`: `op.fixed_ms` is the latency at zero points and
    * `op.per_point_share` the share of the mean latency that the slope
    * accounts for at the mean point count. */
  def fit(ops: Seq[OpResult]): Map[String, Double] = {
    val xy = ops.flatMap(o => o.latencyMs.map(o.points.toDouble -> _))
    val (mx, my) = (xy.map(_._1).sum / xy.size, xy.map(_._2).sum / xy.size)
    val sxx = xy.map { case (x, _) => (x - mx) * (x - mx) }.sum
    val slope = xy.map { case (x, y) => (x - mx) * (y - my) }.sum / sxx
    Map("op.fixed_ms" -> (my - slope * mx), "op.per_point_share" -> slope * mx / my)
  }
}

/** The run's report and, for a traced run, its span file, under --out. */
object Report {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Scala values as the Java values Jackson writes; NaN and infinities
    * become null. */
  private def toJava(v: Any): Any = v match {
    case d: Double if d.isNaN || d.isInfinite => null
    case m: Map[_, _] => new java.util.TreeMap[String, Any](m.map { case (k, x) => k.toString -> toJava(x) }.asJava)
    case xs: Iterable[_] => xs.map(toJava).toSeq.asJava
    case other => other
  }

  def json(v: Any): String = mapper.writeValueAsString(toJava(v))

  def write(a: Main.Args, labels: Map[String, Any], metrics: Seq[(String, Double)],
      ops: Seq[OpResult], spans: Seq[Span]): Unit = {
    Files.createDirectories(a.out)
    val tag = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    Files.write(a.out.resolve(s"report-$tag.json"),
      json(Map("labels" -> labels, "metrics" -> metrics.toMap, "ops" -> ops.map(o =>
        Map("class" -> o.cls, "latency_ms" -> o.latencyMs.getOrElse(-1.0), "points" -> o.points)))).getBytes("UTF-8"))
    if (a.trace)
      Files.write(a.out.resolve(s"spans-$tag.jsonl"), spans.filter(_ != null).map(s => json(Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))).mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
