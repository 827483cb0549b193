package perfbench

/** One row of `CrawlJob.scheduleTable`, as the checks read it. */
final case class Sched(wave: Int, rank: Long, priority: Int, seq: Long, host: String, url: String)

/** A named correctness verdict; `detail` says what broke. */
final case class Verdict(name: String, ok: Boolean, detail: String = "")

/**
 * Correctness checks on the program's outputs. Each is a pure function of
 * collected rows, so the benchmark's tests can feed it corrupted outputs.
 */
object Checks {

  private def verdict(name: String, bad: Seq[String]): Verdict =
    Verdict(name, bad.isEmpty, bad.take(3).mkString("; "))

  /** per-(wave, host) count ≤ host budget, per-wave count ≤ wave cap */
  def budgets(s: Seq[Sched], hostBudget: Int, waveCap: Long): Seq[Verdict] = Seq(
    verdict("host_budget", s.groupBy(r => (r.wave, r.host)).collect {
      case ((w, h), rs) if rs.size > hostBudget => s"wave $w host $h: ${rs.size} > $hostBudget"
    }.toSeq),
    verdict("wave_cap", s.groupBy(_.wave).collect {
      case (w, rs) if rs.size > waveCap => s"wave $w: ${rs.size} > $waveCap"
    }.toSeq))

  /** ranks are 0..n-1 per wave and follow (priority, seq) order */
  def denseRanks(s: Seq[Sched]): Verdict =
    verdict("dense_ranks", s.groupBy(_.wave).toSeq.flatMap { case (w, rs) =>
      val byRank = rs.sortBy(_.rank)
      val byKey = rs.sortBy(r => (r.priority, r.seq))
      if (byRank.map(_.rank) != byRank.indices.map(_.toLong)) Seq(s"wave $w ranks not dense")
      else if (byRank != byKey) Seq(s"wave $w ranks not in (priority, seq) order")
      else Nil
    })

  /** schedule ⊆ seen, and seen holds each url once */
  def seen(s: Seq[Sched], seenUrls: Seq[String]): Seq[Verdict] = {
    val set = seenUrls.toSet
    Seq(
      verdict("schedule_in_seen", s.map(_.url).filterNot(set).map(u => s"$u not seen")),
      verdict("seen_unique",
        if (set.size == seenUrls.size) Nil else Seq(s"${seenUrls.size - set.size} duplicate seen urls")))
  }

  /** the manifests' per-wave scheduled counts add up to the schedule table */
  def metricsSum(scheduledPerWave: Seq[Long], scheduleRows: Long): Verdict =
    verdict("metrics_sum",
      if (scheduledPerWave.sum == scheduleRows) Nil
      else Seq(s"metricsTable.scheduled sums to ${scheduledPerWave.sum}, scheduleTable has $scheduleRows"))

  /** stored text equals a fresh extraction of the same page bytes */
  def extractText(samples: Seq[(String, String, String)]): Verdict =
    verdict("extract_text", samples.collect {
      case (url, stored, fresh) if stored != fresh => s"$url: stored text differs from extractText"
    } ++ (if (samples.isEmpty) Seq("no results sampled") else Nil))

  /** the kernel's scheduled (count, digest) equals the plain-window reference */
  def kernel(got: (Long, Long), reference: (Long, Long)): Verdict =
    verdict("kernel_reference",
      if (got == reference) Nil else Seq(s"scheduled (count, digest) $got != reference $reference"))

  def sha256(lines: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString.take(16)
  }
}
