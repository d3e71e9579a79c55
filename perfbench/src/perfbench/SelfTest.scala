package perfbench

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Self-tests of the harness itself: span self-time arithmetic and job
  * attribution, failure accounting, the bijection check, and cleanup.
  * `SelfTest --out <dir>`; exits non-zero on the first failed check. */
object SelfTest {
  private var passed = 0

  private def check(cond: Boolean, what: String): Unit = {
    if (!cond) throw new AssertionError(s"self-test failed: $what")
    passed += 1
  }

  def main(args: Array[String]): Unit = {
    val out = new File(args.sliding(2).collectFirst { case Array("--out", v) => v }.get)
    selfTime()
    failureAccounting()
    bijection()
    val work = new File(out, s"selftest-${ProcessHandle.current.pid}")
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      attribution(spark)
      cleanup(spark, work)
    } finally {
      spark.stop()
      Cleanup.deleteTree(work)
    }
    println(s"perfbench self-test: $passed checks passed")
  }

  private def selfTime(): Unit = {
    val parent = Span(0, "p", -1, 0L, 100L)
    check(Trace.selfNs(parent, Nil) == 100L, "a span without children is all self time")
    // overlapping children count once; a child running past the parent is clipped
    val kids = Seq(Span(1, "a", 0, 10L, 30L), Span(2, "b", 0, 20L, 50L), Span(3, "c", 0, 90L, 120L))
    check(Trace.selfNs(parent, kids) == 50L, s"self = 100 - |[10,50] + [90,100]| = 50, got ${Trace.selfNs(parent, kids)}")
    // a child nested inside another child is covered once
    val nested = Seq(Span(1, "a", 0, 10L, 60L), Span(2, "b", 0, 20L, 30L))
    check(Trace.selfNs(parent, nested) == 50L, "a child inside another child is not subtracted twice")
  }

  private def failureAccounting(): Unit = {
    val loop = new Loop
    loop.run(0, traced = false)(_ => Outcome(5L))
    loop.run(1, traced = false)(_ => Outcome(7L, () => Some("injected bad output")))
    loop.run(2, traced = false)(_ => throw new IllegalStateException("injected throw"))
    loop.run(3, traced = false)(_ => Outcome(9L, () => throw new RuntimeException("check threw")))
    loop.run(4, traced = true)(_ => Outcome(11L))
    check(loop.attempted == 5, s"5 operations attempted, got ${loop.attempted}")
    check(loop.failed == 3, s"bad output, a throw and a throwing check are 3 failures, got ${loop.failed}")
    check(loop.times.size == 1 && loop.tracedTimes.size == 1, "failed operations record no time")
    check(loop.cells == 5L, s"only the good untraced operation's cells count, got ${loop.cells}")
    check(loop.failures.exists(_.contains("injected bad output")) &&
      loop.failures.exists(_.contains("injected throw")), "failure messages name the cause")
  }

  private def bijection(): Unit = {
    val a = Map((0, 0) -> 1L, (0, 1) -> 1L, (1, 0) -> 2L)
    check(Bijection.check(a, Map((0, 0) -> 7L, (0, 1) -> 7L, (1, 0) -> 3L)).isEmpty,
      "a relabeling is a bijection")
    check(Bijection.check(a, Map((0, 0) -> 7L, (0, 1) -> 8L, (1, 0) -> 3L)).nonEmpty,
      "a split event is not a bijection")
    check(Bijection.check(a, Map((0, 0) -> 7L, (0, 1) -> 7L, (1, 0) -> 7L)).nonEmpty,
      "a merged event is not a bijection")
    check(Bijection.check(a, a - ((1, 0))).nonEmpty, "different cell sets disagree")
  }

  /** Jobs land on the innermost open span; counters are inclusive; the
    * parent's self time excludes the child's interval. */
  private def attribution(spark: SparkSession): Unit = {
    val tr = new Tracer(spark.sparkContext, enabled = true)
    tr.span("outer") {
      val sc = spark.sparkContext
      sc.parallelize(1 to 100, 2).count()
      tr.span("inner") { sc.parallelize(1 to 10, 2).count(); sc.parallelize(1 to 20, 3).count() }
    }
    val recs = tr.finish().map(r => r.span.name -> r).toMap
    val outer = recs("outer")
    val inner = recs("inner")
    check(inner.c.jobs == 2L && outer.c.jobs == 3L,
      s"inner ran 2 jobs, outer 3 inclusive; got ${inner.c.jobs}, ${outer.c.jobs}")
    check(inner.c.tasks == 5L && outer.c.tasks == 7L && inner.c.stages == 2L,
      s"tasks and stages are attributed: inner 5 tasks in 2 stages, outer 7 tasks; got " +
        s"${inner.c.tasks}, ${inner.c.stages}, ${outer.c.tasks}")
    check(outer.selfNs == outer.span.wallNs - inner.span.wallNs, "outer self = wall - inner wall")
    val off = new Tracer(spark.sparkContext, enabled = false)
    check(off.span("x")(42) == 42 && off.finish().isEmpty, "a disabled tracer records nothing")
  }

  private def cleanup(spark: SparkSession, work: File): Unit = {
    val store = new File(work, "store")
    Files.createDirectories(store.toPath)
    Files.write(new File(store, "chunk").toPath, Array[Byte](1, 2, 3))
    val kept = spark.range(1000).toDF("v").localCheckpoint()
    val (mb, rdds) = Cleanup.held(spark)
    check(rdds >= 1 && mb > 0, s"a referenced checkpoint is held, got $rdds RDDs, $mb MB")
    Cleanup.release(spark, work)
    check(spark.sparkContext.getRDDStorageInfo.isEmpty, "release unpersists every RDD")
    check(!store.exists, "release deletes the run's stores")
    check(kept.columns.sameElements(Array("v")), "frames stay usable as plans after release")
  }
}
