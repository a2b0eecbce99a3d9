package graftbench

import java.io.File

/** The benchmark's arithmetic, kept free of Spark so `SelfTest` can
  * pin it. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentiles tried for the tail, highest first. */
  val TailLadder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)

  final case class Tail(value: Double, percentile: Double, beyond: Int, samples: Int)

  /** The highest percentile of `xs` that has at least `minBeyond`
    * samples above its rank (nearest-rank definition: the p-th
    * percentile is the ceil(p/100·n)-th smallest sample). With too few
    * samples for even the median to qualify, the median is returned
    * and `beyond` says how few samples it rests on. */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    def at(p: Double): Tail = {
      val rank = math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt)
      Tail(s(rank - 1), p, n - rank, n)
    }
    TailLadder.iterator.map(at).find(_.beyond >= minBeyond).getOrElse(at(50.0))
  }

  /** Cosine similarity rounded to 6 decimals, the rounding the index
    * ranks by. */
  def cosine6(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i)
      na += a(i).toDouble * a(i)
      nb += b(i).toDouble * b(i)
      i += 1
    }
    val c = if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    BigDecimal(c).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Tie-aware recall@k of one answer: `exact` holds the exact score of
    * every corpus vector, `returned` the exact scores of the ids the
    * index answered. A returned id counts as a hit when its score
    * reaches the k-th best exact score, so any member of a tie at the
    * cut may stand in for another. */
  def tieAwareRecall(exact: Seq[Double], returned: Seq[Double], k: Int): Double = {
    val want = math.min(k, exact.length)
    if (want == 0) return 1.0
    val kth = exact.sorted(Ordering[Double].reverse)(want - 1)
    math.min(want, returned.count(_ >= kth)).toDouble / want
  }

  /** Self time of every span: its duration minus the part of it that
    * its direct children cover. Input rows are (id, parent, startNs,
    * endNs); the result is keyed by id, in seconds. */
  def selfTimes(spans: Seq[(Int, Int, Long, Long)]): Map[Int, Double] = {
    val children = spans.groupBy(_._2)
    spans.map { case (id, _, start, end) =>
      val kids = children.getOrElse(id, Nil)
        .map { case (_, _, s, e) => (math.max(s, start), math.min(e, end)) }
        .filter { case (s, e) => e > s }
        .sortBy(_._1)
      // length of the union of the children's intervals
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      kids.foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) covered += curE - curS
          curS = s
          curE = e
        } else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      id -> (end - start - covered) / 1e9
    }.toMap
  }

  /** Every regular file under `root`: relative path → (bytes, mtime). */
  def listing(root: File): Map[String, (Long, Long)] = {
    val base = root.toPath
    if (!root.exists()) Map.empty
    else {
      val files = java.nio.file.Files.walk(base)
      try {
        val out = Map.newBuilder[String, (Long, Long)]
        files.filter(p => java.nio.file.Files.isRegularFile(p)).forEach { p =>
          val f = p.toFile
          out += base.relativize(p).toString -> (f.length(), f.lastModified())
        }
        out.result()
      } finally files.close()
    }
  }

  /** Bytes written between two listings: the size of every file that is
    * new in `after` or whose size or mtime changed. Files deleted in
    * between write nothing that stays, so they are not counted. */
  def bytesWritten(before: Map[String, (Long, Long)],
                   after: Map[String, (Long, Long)]): Long =
    after.iterator.collect {
      case (p, st @ (len, _)) if !before.get(p).contains(st) => len
    }.sum

  def bytesOnDisk(l: Map[String, (Long, Long)]): Long = l.valuesIterator.map(_._1).sum
}
