package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Disposition

/** Unit taxonomy for the queue consumer's reject/requeue classification —
  * the reference rejects only ITS OWN NonRetryable exception family
  * (`exceptions/Exceptions.py:16-42`); everything else requeues. The IAE
  * clause must therefore be scoped to graft-raised errors: a transient
  * library IllegalArgumentException (JVM/Spark internals raise IAE for
  * racy-config edge cases) must NOT permanently dead-letter a granule. */
class DispositionSpec extends SparkSpec {

  private def withFrames(e: Throwable, cls: String): e.type = {
    e.setStackTrace(Array(
      new StackTraceElement(cls, "apply", "X.scala", 42),
      new StackTraceElement("org.apache.spark.scheduler.Task", "run", "Task.scala", 139)))
    e
  }

  test("graft-raised IllegalArgumentException is non-retryable (reject)") {
    val guard = withFrames(
      new IllegalArgumentException("spark.graft.global.maxRegionPixels: invalid long value 'x'"),
      "graft.domain.GlobalPipeline")
    assert(Disposition.nonRetryable(guard))
    // also when wrapped in a driver/executor envelope
    assert(Disposition.nonRetryable(new RuntimeException("job aborted", guard)))
  }

  test("library IllegalArgumentException from a non-graft frame requeues (retryable)") {
    val lib = withFrames(
      new IllegalArgumentException("Self-suppression not permitted"),
      "org.apache.spark.network.util.TransportConf")
    assert(!Disposition.nonRetryable(lib))
    assert(!Disposition.nonRetryable(new RuntimeException("stage failed", lib)))
  }

  test("classification is by THROW SITE: a library IAE with graft frames below it requeues") {
    // a third-party (Spark-internal) IAE thrown from inside a graft
    // kernel's call tree — graft frames appear BELOW the throw site (most
    // executor work runs under graft lambdas). Whole-stack matching would
    // dead-letter this; throw-site matching requeues it.
    val lib = new IllegalArgumentException("Self-suppression not permitted")
    lib.setStackTrace(Array(
      new StackTraceElement("org.apache.spark.network.util.TransportConf", "get", "TransportConf.java", 61),
      new StackTraceElement("org.apache.spark.storage.BlockManager", "fetch", "BlockManager.scala", 900),
      new StackTraceElement("graft.functions.Delaunay$", "triangulate", "Delaunay.scala", 200),
      new StackTraceElement("org.apache.spark.scheduler.Task", "run", "Task.scala", 139)))
    assert(!Disposition.nonRetryable(lib))
    assert(!Disposition.nonRetryable(new RuntimeException("stage failed", lib)))
  }

  test("a JDK-raised IAE fed by graft arguments attributes to graft (deterministic -> reject)") {
    // NumberFormatException IS an IllegalArgumentException: graft parsing
    // malformed granule metadata via parseLong throws from java.lang
    // frames with the graft caller directly below. Replaying the same
    // bytes fails the same way — classifying it transient would wedge the
    // queue in a crash loop, where a dead-letter stays recoverable via
    // redrive. JDK frames are attributed to their first library caller.
    val nfe = new NumberFormatException("""For input string: "not-a-sounding-id"""")
    nfe.setStackTrace(Array(
      new StackTraceElement("java.lang.NumberFormatException", "forInputString", "NumberFormatException.java", 67),
      new StackTraceElement("java.lang.Long", "parseLong", "Long.java", 711),
      new StackTraceElement("graft.sources.netcdf.NetCDFGranules$", "toGranule", "NetCDFGranules.scala", 82),
      new StackTraceElement("org.apache.spark.scheduler.Task", "run", "Task.scala", 139)))
    assert(Disposition.nonRetryable(nfe))
    // same shape for a graft comparator violating TimSort's contract
    val tim = new IllegalArgumentException("Comparison method violates its general contract!")
    tim.setStackTrace(Array(
      new StackTraceElement("java.util.TimSort", "mergeLo", "TimSort.java", 777),
      new StackTraceElement("java.util.Arrays", "sort", "Arrays.java", 1441),
      new StackTraceElement("graft.functions.Delaunay$", "triangulate", "Delaunay.scala", 200)))
    assert(Disposition.nonRetryable(tim))
    // but the SAME JDK throw site over a non-graft caller stays transient
    val libTim = new IllegalArgumentException("Comparison method violates its general contract!")
    libTim.setStackTrace(Array(
      new StackTraceElement("java.util.TimSort", "mergeLo", "TimSort.java", 777),
      new StackTraceElement("org.apache.spark.util.collection.Sorter", "sort", "Sorter.scala", 37)))
    assert(!Disposition.nonRetryable(libTim))
  }

  test("a scala.Predef.require-raised graft guard still rejects (scala plumbing is skipped)") {
    val guard = new IllegalArgumentException("requirement failed: mesh must be non-empty")
    guard.setStackTrace(Array(
      new StackTraceElement("scala.Predef$", "require", "Predef.scala", 337),
      new StackTraceElement("graft.operators.Grid$", "generate", "Grid.scala", 55),
      new StackTraceElement("org.apache.spark.scheduler.Task", "run", "Task.scala", 139)))
    assert(Disposition.nonRetryable(guard))
    // and a REAL require with genuine JVM frames: thrown here, the top
    // frames are scala.Predef plumbing over a graft.* caller — the skip
    // must land on the graft frame, not bail at scala.Predef
    val real = intercept[IllegalArgumentException] { require(false, "guard tripped") }
    assert(real.getStackTrace.head.getClassName.startsWith("scala."))
    assert(Disposition.nonRetryable(real))
  }

  test("a REAL graft conf guard classifies non-retryable end-to-end") {
    import graft.sources.SyntheticGranule
    spark.conf.set(graft.domain.GlobalPipeline.MaxRegionPixelsConfKey, "not-a-long")
    try {
      val granule = SyntheticGranule.toDF(spark,
        Seq(SyntheticGranule.sounding(0, 41.0, 11.0, mode = 4, target = "fossil0001")))
      val e = intercept[IllegalArgumentException] {
        graft.domain.GlobalPipeline.process(granule).count()
      }
      assert(e.getMessage.contains(graft.domain.GlobalPipeline.MaxRegionPixelsConfKey))
      assert(Disposition.nonRetryable(e))
    } finally spark.conf.unset(graft.domain.GlobalPipeline.MaxRegionPixelsConfKey)
  }

  test("empty-stack IAE (OmitStackTraceInFastThrow) attributes via the cause chain") {
    // the JVM's fast-throw optimization strips stacks from repeatedly-
    // thrown exceptions — precisely during a replay crash loop of a
    // deterministic guard. Attribution falls back to the nearest CAUSE
    // that kept a stack. The causes are deliberately NOT IAEs themselves,
    // so only the fallback can classify them.
    val graftCause = withFrames(new RuntimeException("guard state"), "graft.domain.Pipeline")
    val stripped   = new IllegalArgumentException("requirement failed", graftCause)
    stripped.setStackTrace(Array.empty)
    assert(Disposition.nonRetryable(stripped))
    val libCause    = withFrames(new RuntimeException("lib state"),
      "org.apache.spark.network.util.TransportConf")
    val strippedLib = new IllegalArgumentException("requirement failed", libCause)
    strippedLib.setStackTrace(Array.empty)
    assert(!Disposition.nonRetryable(strippedLib))
    // nothing in the chain kept a stack → transient; the bounded-
    // redelivery breaker stops the replay loop instead of this guess
    val bare = new IllegalArgumentException("stripped")
    bare.setStackTrace(Array.empty)
    assert(!Disposition.nonRetryable(bare))
  }

  test("transient failures stay retryable; FileNotFound and raise_error guards reject") {
    assert(!Disposition.nonRetryable(new RuntimeException("executor lost")))
    assert(!Disposition.nonRetryable(new java.io.IOException("connection reset")))
    assert(Disposition.nonRetryable(new java.io.FileNotFoundException("/gone.nc4")))
    val guard = intercept[Exception] {
      spark.sql("SELECT raise_error('region too large')").collect()
    }
    assert(Disposition.nonRetryable(guard))
    val analysis = intercept[Exception] { spark.sql("SELECT no_such_col FROM range(1)").collect() }
    assert(Disposition.nonRetryable(analysis))
  }
}
