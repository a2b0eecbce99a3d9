package graftbench

import java.io.File
import java.nio.file.Files

/** Tests of the benchmark's own arithmetic: the tail-percentile rule,
  * tie-aware recall, self time, write/space accounting and the seeded
  * generator. Exits non-zero if any test fails.
  *
  * Run: python3 perfbench/run.py --self-test */
object SelfTest {
  private var failures = 0

  private def eq(name: String, got: Any, want: Any): Unit =
    if (got != want) {
      failures += 1
      System.err.println(s"FAIL $name: got $got, want $want")
    } else println(s"ok   $name")

  private def close(name: String, got: Double, want: Double): Unit =
    eq(name, math.abs(got - want) < 1e-9, true)

  def main(args: Array[String]): Unit = {
    tail()
    recall()
    selfTime()
    accounting()
    inputs()
    if (failures > 0) { System.err.println(s"$failures failures"); sys.exit(1) }
    println("all passed")
  }

  private def tail(): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    // p90 of 1..100 is 90 with 10 samples above it; p95 has only 5
    eq("tail of 100 samples is p90", Stats.tail(xs), Stats.Tail(90.0, 90.0, 10, 100))
    val ys = (1 to 1000).map(_.toDouble)
    eq("tail of 1000 samples is p99", Stats.tail(ys), Stats.Tail(990.0, 99.0, 10, 1000))
    eq("tail of 20 samples is p50", Stats.tail((1 to 20).map(_.toDouble)),
      Stats.Tail(10.0, 50.0, 10, 20))
    // too few samples: the median, with the short count recorded
    eq("tail of 5 samples falls back to p50", Stats.tail(Seq(5.0, 1, 4, 2, 3)),
      Stats.Tail(3.0, 50.0, 2, 5))
    eq("order does not matter", Stats.tail(xs.reverse), Stats.tail(xs))
    close("median of even count", Stats.median(Seq(4.0, 1, 3, 2)), 2.5)
  }

  private def recall(): Unit = {
    val exact = Seq(0.9, 0.8, 0.8, 0.8, 0.5, 0.1)
    close("all top-2 returned", Stats.tieAwareRecall(exact, Seq(0.9, 0.8), 2), 1.0)
    // any member of the tie at the cut counts
    close("tie member stands in", Stats.tieAwareRecall(exact, Seq(0.8, 0.8), 2), 1.0)
    close("below the cut misses", Stats.tieAwareRecall(exact, Seq(0.9, 0.5), 2), 0.5)
    close("extra tied answers never exceed 1",
      Stats.tieAwareRecall(exact, Seq(0.9, 0.8, 0.8, 0.8), 2), 1.0)
    close("short corpus asks for what exists", Stats.tieAwareRecall(Seq(0.3, 0.2), Seq(0.3), 10), 0.5)
    close("cosine of parallel vectors", Stats.cosine6(Array(1f, 2f), Array(2f, 4f)), 1.0)
    close("cosine rounds to 6 places", Stats.cosine6(Array(1f, 0f), Array(1f, 3f)), 0.316228)
  }

  private def selfTime(): Unit = {
    val s = 1000000000L
    // root [0,10] with children [1,3] and [2,5] (overlapping) and [6,7];
    // grandchild [1,2] inside the first child must not count for root
    val spans = Seq((0, -1, 0L, 10 * s), (1, 0, 1 * s, 3 * s), (2, 0, 2 * s, 5 * s),
      (3, 0, 6 * s, 7 * s), (4, 1, 1 * s, 2 * s))
    val self = Stats.selfTimes(spans)
    close("root self excludes the union of its children", self(0), 10.0 - 4.0 - 1.0)
    close("child self excludes its own child", self(1), 1.0)
    close("leaf self is its duration", self(4), 1.0)
  }

  private def inputs(): Unit = {
    def draw(seed: Long) = Inputs.docs(new java.util.Random(seed), 100L, 200)
    eq("same seed, same documents", draw(5), draw(5))
    eq("another seed, other documents", draw(5) == draw(6), false)
    eq("ids run from the first id", draw(5).map(_.id), (100L until 300L).toVector)
    val rng = new java.util.Random(1)
    val q = Inputs.question(rng, "a b c d e f g h i j")
    eq("a question is an 8-word window", q.split(' ').length, 8)
    eq("a question comes from its text", "a b c d e f g h i j".contains(q), true)
  }

  private def accounting(): Unit = {
    val before = Map("a" -> (10L, 1L), "b" -> (20L, 1L), "gone" -> (5L, 1L))
    val after = Map("a" -> (10L, 1L), "b" -> (25L, 2L), "new" -> (7L, 3L))
    eq("written counts new and changed files", Stats.bytesWritten(before, after), 32L)
    eq("nothing written between equal listings", Stats.bytesWritten(after, after), 0L)
    eq("bytes on disk", Stats.bytesOnDisk(after), 42L)
    val root = Files.createTempDirectory("graftbench-selftest").toFile
    try {
      new File(root, "t/_delta_log").mkdirs()
      Files.write(new File(root, "t/x.parquet").toPath, Array.fill[Byte](100)(1))
      val l0 = Stats.listing(root)
      eq("listing sees nested files", l0.keySet, Set("t/x.parquet"))
      Files.write(new File(root, "t/y.parquet").toPath, Array.fill[Byte](40)(1))
      eq("a new file is written bytes", Stats.bytesWritten(l0, Stats.listing(root)), 40L)
      val log = new File(root, "t/_delta_log")
      Files.write(new File(log, "00000000000000000000.json").toPath,
        "{\"commitInfo\":{}}\n{\"add\":{\"path\":\"x\"}}\n".getBytes)
      Files.write(new File(log, "00000000000000000001.json").toPath,
        "{\"remove\":{\"path\":\"x\"}}\n{\"add\":{\"path\":\"y\"}}\n{\"add\":{\"path\":\"z\"}}\n".getBytes)
      eq("log actions from the start", DeltaLog.actions(new File(root, "t").getPath, -1L), (3L, 1L))
      eq("log actions after version 0", DeltaLog.actions(new File(root, "t").getPath, 0L), (2L, 1L))
    } finally {
      val s = Files.walk(root.toPath)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally s.close()
    }
  }
}
