package pcbench

import java.nio.file.{Files, Paths}
import java.util.Arrays

import graft.QueryRunner
import graft.operators.PointCloud

/** The benchmark's own test, on a tiny seed:
  *  - the same seed gives the same cloud, byte-identical tiles and the
  *    same spec streams; another seed gives other tiles;
  *  - the program's answers to both spec streams pass the oracle;
  *  - planted wrong answers (a dropped point, a moved point, a wrong
  *    export) fail it.
  *
  * Usage: pcbench.SelfTest <workDir>. Prints "selftest ok" and exits 0,
  * or names the first failed assertion and exits 1. */
object SelfTest {
  private def check(cond: Boolean, what: String): Unit =
    if (!cond) { System.err.println(s"selftest FAILED: $what"); sys.exit(1) }

  def main(argv: Array[String]): Unit = {
    val work = Paths.get(argv(0))
    try run(work) finally Main.deleteTree(work)
    println("selftest ok")
    sys.exit(0)
  }

  private def run(work: java.nio.file.Path): Unit = {
    val (seed, n) = (11L, 30000)
    val c1 = Data.generate(seed, n)
    val c2 = Data.generate(seed, n)
    check(Arrays.equals(c1.qx, c2.qx) && Arrays.equals(c1.qy, c2.qy) && Arrays.equals(c1.qz, c2.qz),
      "same seed, same cloud")
    val oracle = new Oracle(c1)
    for (large <- Seq(false, true)) {
      val (s1, s2) = (new Specs(seed, large, oracle), new Specs(seed, large, new Oracle(c2)))
      check(Seq.fill(40)(Specs.json(s1.next()).toString) == Seq.fill(40)(Specs.json(s2.next()).toString),
        s"same seed, same spec stream (large=$large)")
    }

    val spark = Main.session(work)
    try {
      Main.writeTiles(spark, c1, seed, work.resolve("a"))
      Main.writeTiles(spark, c2, seed, work.resolve("b"))
      Main.writeTiles(spark, Data.generate(seed + 1, n), seed + 1, work.resolve("c"))
      val sha = Main.sha256Tree(work.resolve("a"))
      check(sha == Main.sha256Tree(work.resolve("b")), "same seed, byte-identical tiles")
      check(sha != Main.sha256Tree(work.resolve("c")), "another seed, other tiles")

      val storeDir = work.resolve("store")
      PointCloud.write(PointCloud.importLas(spark, work.resolve("a").toString, Main.importSpec), storeDir.toString)
      val checks = new Checks(spark, oracle)
      check(checks.store(storeDir).isRight, s"store check: ${checks.store(storeDir)}")
      val store = PointCloud.read(spark, storeDir.toString)

      val small = new Specs(seed, large = false, oracle)
      val answers = Seq.fill(16)(small.next()).map { s =>
        val rows = QueryRunner.runOne(store, Specs.json(s)).collect()
        val idx = oracle.select(s)
        check(checks.rows(rows, idx).isEmpty, s"spec ${s.id} (${s.cls}): ${checks.rows(rows, idx)}")
        (rows, idx)
      }
      val (rows, idx) = answers.find(_._1.length > 1).get
      check(checks.rows(rows.tail, idx).nonEmpty, "a dropped point fails")
      val moved = org.apache.spark.sql.Row(rows(0).getDouble(0), rows(0).getDouble(1), rows(0).getDouble(2) + 0.01)
      check(checks.rows(moved +: rows.tail, idx).nonEmpty, "a moved point fails")

      val large = new Specs(seed, large = true, oracle)
      val exports = Seq.fill(6)(large.next()).zipWithIndex.map { case (s, i) =>
        val path = work.resolve(s"export-$i.las")
        store.exportLas(QueryRunner.runOne(store, Specs.json(s)), path.toString)
        (path, oracle.select(s))
      }
      val errs = checks.exports(exports)
      check(errs.forall(_.isEmpty), s"exports: ${errs.flatten.mkString("; ")}")
      val (p, expect) = exports.find(_._2.length > 1).get
      check(checks.exports(Seq((p, expect.tail))).head.nonEmpty, "a wrong export fails")
      check(Files.size(p) > 0, "export written")
    } finally spark.stop()
  }
}
