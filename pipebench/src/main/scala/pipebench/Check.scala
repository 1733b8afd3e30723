package pipebench

/** Output checking against the reference. */
object Check {

  /** Outcome of comparing delivered records with the expected ones. */
  final case class Verdict(attempted: Long, wrong: Long, missing: Long,
                           duplicated: Long) {
    def failed: Long = wrong + missing + duplicated
    def +(o: Verdict): Verdict = Verdict(attempted + o.attempted,
      wrong + o.wrong, missing + o.missing, duplicated + o.duplicated)
  }
  val Empty: Verdict = Verdict(0, 0, 0, 0)

  /** Compare delivered `(id, canonical value)` records with the expected
    * `id -> canonical value` map. Each failure counts once:
    *   - an expected id never delivered is missing, and so is one
    *     delivered correctly but listed in `uncovered` (a stream message
    *     no micro-batch's offset range held: its latency is unknown);
    *   - an id delivered with no copy equal to the expected value, or an
    *     id that was never expected, is wrong (each such record);
    *   - every copy of an id beyond the first is duplicated.
    */
  def compare(expected: collection.Map[String, String],
              delivered: Iterable[(String, String)],
              uncovered: collection.Set[String] = Set.empty): Verdict = {
    val byId = delivered.groupBy(_._1)
    var wrong, missing, dup = 0L
    expected.foreach { case (id, want) =>
      byId.get(id) match {
        case None => missing += 1
        case Some(got) =>
          if (!got.exists(_._2 == want)) wrong += 1
          else if (uncovered(id)) missing += 1
          dup += got.size - 1
      }
    }
    byId.foreach { case (id, got) =>
      if (!expected.contains(id)) wrong += got.size
    }
    Verdict(expected.size.toLong, wrong, missing, dup)
  }
}

/** Order statistics used by every workload. */
object Stats {

  /** Nearest-rank percentile, `q` in (0, 1]. */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(q * s.size).toInt
    s(math.min(s.size, math.max(1, rank)) - 1)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Tail percentiles tried, highest first. */
  val TailLadder: Seq[Double] = Seq(0.999, 0.99, 0.95, 0.9)

  /** The highest percentile of [[TailLadder]] with at least ten samples
    * strictly beyond its nearest rank, or None when `n` is too small
    * for any of them (fewer than 100 samples).
    */
  def tailQuantile(n: Int): Option[Double] =
    TailLadder.find(q => n - math.ceil(q * n).toInt >= 10)

  /** A latency tail: the rule's percentile, or the maximum (q = 1) when
    * the sample is too small for one. Returns (q, value).
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    tailQuantile(xs.size) match {
      case Some(q) => (q, percentile(xs, q))
      case None => (1.0, xs.max)
    }
}

/** Message latency in a micro-batch stream: a message completes when the
  * micro-batch whose offset range holds it completes.
  */
object Attribution {

  /** One completed micro-batch: per partition, offsets [from, until). */
  final case class Batch(from: Map[Int, Long], until: Map[Int, Long],
                         completedMs: Double)

  /** A produced message and when it was due. */
  final case class Sent(partition: Int, offset: Long, dueMs: Double)

  /** Latency (completion − due) of each message, aligned with `sent`;
    * NaN where no batch covered the message.
    */
  def latencies(batches: Seq[Batch], sent: Seq[Sent]): Array[Double] = {
    // per partition: batch ranges sorted by start, for binary search
    val ranges: Map[Int, Array[(Long, Long, Double)]] = batches
      .flatMap(b => b.until.toSeq.collect {
        case (p, u) if u > b.from.getOrElse(p, 0L) =>
          (p, (b.from.getOrElse(p, 0L), u, b.completedMs))
      })
      .groupBy(_._1).map { case (p, rs) => p -> rs.map(_._2).sortBy(_._1).toArray }
    val out = new Array[Double](sent.size)
    sent.zipWithIndex.foreach { case (s, i) =>
      val hit = ranges.get(s.partition).flatMap { rs =>
        // last range starting at or before the offset
        var lo = 0
        var hi = rs.length - 1
        var found = -1
        while (lo <= hi) {
          val mid = (lo + hi) >>> 1
          if (rs(mid)._1 <= s.offset) { found = mid; lo = mid + 1 }
          else hi = mid - 1
        }
        if (found >= 0 && s.offset < rs(found)._2) Some(rs(found)._3) else None
      }
      out(i) = hit.fold(Double.NaN)(_ - s.dueMs)
    }
    out
  }
}
