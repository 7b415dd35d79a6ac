package perfbench

import java.io.File
import java.nio.file.Files

/** Tests of the benchmark's own machinery. Run with
  * `python3 perfbench/run.py --selftest`; exits non-zero on a failure. */
object SelfTest {
  private var failed = 0

  private def check(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch { case e: Throwable => failed += 1; println(s"FAIL $name: $e") }

  private def assertEq[T](got: T, want: T, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = new File(m("work"))
    val root = new File(m("root"))

    check("median of odd and even samples") {
      assertEq(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0, "odd")
      assertEq(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)), 2.5, "even")
      assertEq(Stats.median(Seq(7.0)), 7.0, "single")
    }

    check("p50 uses successful ops only") {
      def s(wall: Double, fail: Option[String]) = Sample(wall, wall, 0.0, 0.0, false, fail, 0L, Map.empty)
      val xs = Seq(s(1.0, None), s(100.0, Some("bad")), s(3.0, None), s(2.0, None))
      assertEq(Loop.p50(xs, _.wallS), 2.0, "p50")
      assert(Loop.p50(Seq(s(1.0, Some("bad"))), _.wallS).isNaN, "no successes gives NaN")
    }

    check("union length of overlapping intervals") {
      assertEq(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L), (22L, 25L))), 25L, "union")
      assertEq(Stats.unionLength(Seq((3L, 3L), (5L, 4L))), 0L, "empty intervals")
    }

    check("self time subtracts the part children cover") {
      val spans = Seq(
        Span(0, "op", -1, 0, 0L, 100L),
        Span(1, "a", 0, 0, 10L, 40L),
        Span(2, "a.child", 1, 0, 20L, 30L),
        Span(3, "b", 0, 0, 35L, 60L), // overlaps a: counted once for op
        Span(4, "c", 0, 0, 90L, 120L)) // runs past op: clipped
      val self = Tracer.selfTimesNs(spans)
      assertEq(self(0), 100L - (50L + 10L), "op")
      assertEq(self(1), 20L, "a")
      assertEq(self(2), 10L, "a.child")
      assertEq(self(3), 25L, "b")
    }

    check("tracer records nesting and does nothing when off") {
      val t = new Tracer(true)
      t.beginOp(7)
      t.span("outer")(t.span("inner")(()))
      val Seq(inner, outer) = t.all
      assertEq(inner.parent, outer.id, "parent")
      assertEq(outer.parent, -1, "root")
      assertEq(inner.op, 7, "op id")
      val off = new Tracer(false)
      off.span("x")(())
      off.add("n", 1)
      assert(off.all.isEmpty && off.opCounters.isEmpty, "disabled tracer recorded")
    }

    check("corrupted op output is counted as failed and not timed") {
      // op 1 returns a wrong count, op 3 throws; the rest are correct
      def op(i: Int): OpResult = {
        if (i == 3) throw new IllegalStateException("boom")
        val rows = if (i == 1) 41L else 42L
        OpResult(10L, Workload.expect((rows == 42L) -> s"appended $rows, expected 42"))
      }
      val samples = Loop.run(0.0, 5, i => Loop.timeOp(false, () => op(i)))
      assertEq(samples.size, 5, "attempted")
      assertEq(samples.count(!_.ok), 2, "failed")
      assert(samples(1).failure.exists(_.contains("expected 42")), "check message")
      assert(samples(3).failure.exists(_.contains("boom")), "throw message")
      val okWalls = samples.filter(_.ok).map(_.wallS)
      assertEq(Loop.p50(samples, _.wallS), Stats.median(okWalls), "p50 over successes")
    }

    check("state reset restores a byte-identical copy") {
      val pristine = new File(work, "selftest/pristine")
      val target = new File(work, "selftest/target")
      FileState.wipe(new File(work, "selftest"))
      new File(pristine, "t/ingestion_date=x").mkdirs()
      Files.write(new File(pristine, "t/part-0.parquet").toPath, "data0".getBytes)
      Files.write(new File(pristine, "t/ingestion_date=x/part-1.parquet").toPath, "d1".getBytes)
      Files.write(new File(pristine, "t/_SUCCESS").toPath, Array.emptyByteArray)
      val before = FileState.treeDigest(pristine)
      FileState.restore(pristine, target)
      assertEq(FileState.treeDigest(target), before, "first restore")
      // what an op does: append files, rewrite a marker in place, delete
      Files.write(new File(target, "t/part-2.parquet").toPath, "new".getBytes)
      Files.write(new File(target, "t/_SUCCESS").toPath, "rewritten".getBytes)
      new File(target, "t/ingestion_date=x/part-1.parquet").delete()
      assertEq(FileState.addedSince(pristine, target), (2L, 12L), "added files")
      FileState.restore(pristine, target)
      assertEq(FileState.treeDigest(target), before, "restore after changes")
      assertEq(FileState.treeDigest(pristine), before, "pristine untouched")
      FileState.restore(new File(work, "selftest/absent"), target)
      assertEq(FileState.usage(target), (0L, 0L), "restore from nothing empties")
    }

    check("BENCHMARK.json lists the metrics a run prints") {
      val text = new String(Files.readAllBytes(new File(root, "BENCHMARK.json").toPath), "UTF-8")
      val names = "\"name\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(text).map(_.group(1)).toSet
      val printed = (Main.endToEnd ++ Main.perLayer).map(_._1).toSet ++ Workload.names
      assertEq(names -- printed, Set.empty[String], "listed but not printed")
      assertEq(printed -- names, Set.empty[String], "printed but not listed")
    }

    check("a workload's reset makes every changed directory its pristine copy again") {
      val spark = Main.session(Main.Opts("etl_daily", 7L, 0, trace = false,
        new File(work, "selftest_spark"), slots = 2, heap = "", record = None))
      try {
        val wl = Workload("etl_daily", spark, new File(work, "selftest_etl"), 7L)
        wl.setup()
        wl.restore()
        val pristine = wl.mutableDirs.map { case (p, _) => FileState.treeDigest(p) }
        val r = wl.op(new Tracer(false))
        assert(r.failure.isEmpty, s"op failed: ${r.failure}")
        assert(r.storedBytes > 0, "the op wrote nothing")
        wl.restore()
        wl.mutableDirs.zip(pristine).foreach { case ((p, d), digest) =>
          assertEq(FileState.treeDigest(d), digest, s"$d after reset")
          assertEq(FileState.treeDigest(p), digest, s"$p after the op")
        }
      } finally spark.stop()
    }

    if (failed > 0) { println(s"$failed failed"); sys.exit(1) }
    println("all passed")
  }
}
