package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.Extract
import graft.plans.{CrawlJob, CrawlSettings}

/** One CrawlJob.run: its job (for the table readers), checkpoint dir, run
 *  wall time as the benchmark clocks it, and the URLs scheduled, waves run
 *  and the program's own per-wave seconds (metricsTable.secs, info only) of
 *  this run alone. */
final case class CrawlRep(job: CrawlJob, dir: Path, wall: Double, scheduled: Long, waves: Int,
    programSecs: Seq[Double])

/** A crawl workload: corpus shape and crawl settings. */
final case class CrawlConfig(spec: CorpusSpec, settings: CrawlSettings)

object Crawl {
  /** Page links only (P1): nav links to "/" and "/about" are dropped. */
  val UrlPattern = "^https?://[^/]+/p/[0-9]+(#.*)?$"

  val Small = CrawlConfig(
    CorpusSpec(pages = 10000, hosts = 400, megaShare = 0.3, minLinks = 3, maxLinks = 8,
      missingShare = 0.02, serverShare = 0.02, seeds = 1000),
    CrawlSettings(nPriorities = 3, hostBudget = 40, waveCap = 300, networkRetries = 1,
      serverRetries = 1, urlPattern = UrlPattern, salts = 4, numBuckets = 4,
      useBloom = true, bloomCapacity = 1L << 16, extract = true))

  /** Waves of the untimed warm-up run, after it admits the seeds: the first
   *  wave of a JVM pays class loading and JIT, so it is never timed. */
  val WarmWaves = 1

  val Readers: Seq[(String, CrawlJob => DataFrame)] = Seq(
    "schedule" -> (_.scheduleTable), "results" -> (_.resultsTable), "dead" -> (_.deadTable),
    "lineage" -> (_.lineageTable), "metrics" -> (_.metricsTable))

  def scheduledTotal(job: CrawlJob): Long =
    job.metricsTable.collect().map(_.getAs[Long]("scheduled")).sum

  private def pageId(url: String): Long = url.substring(url.lastIndexOf('/') + 1).toLong
}

final class Crawl(spark: SparkSession, cfg: CrawlConfig, seed: Long, work: Path) {
  import Crawl._

  private val seeds = Gen.seedUrls(seed, cfg.spec)

  /** Build and cache the pages table. */
  def setup(): DataFrame = {
    val p = Gen.pages(spark, seed, cfg.spec).persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  /** Run the crawl in `dir`, resuming what is committed there, until it has
   *  `maxWaves` waves. The rep covers only the waves this call ran. */
  def crawl(pages: DataFrame, dir: Path, maxWaves: Int): CrawlRep = {
    val job = new CrawlJob(spark, pages, cfg.settings.copy(maxWaves = maxWaves), dir.toString,
      Gen.priorityOf)
    val before = job.metricsTable.collect()
    val (summary, wall) = Bench.time(job.run(seeds))
    val waves = job.metricsTable.orderBy("wave").collect().drop(before.length)
    val secs = waves.map(_.getAs[Double]("secs")).toSeq
    Bench.log(f"crawl to wave ${summary.wavesRun}: ${waves.length} waves in $wall%.2fs (${secs.map(x => f"$x%.2f").mkString(" ")})")
    CrawlRep(job, dir, wall, waves.map(_.getAs[Long]("scheduled")).sum, waves.length, secs)
  }

  /** Seconds to materialize one reader's table. */
  def readBack(job: CrawlJob, reader: CrawlJob => DataFrame): Double = Bench.time(Bench.scan(reader(job)))._2

  /** Check a finished crawl's outputs; also returns its schedule and seen digests. */
  def check(rep: CrawlRep): (Seq[Verdict], Map[String, String]) = {
    val s = rep.job.scheduleTable.collect().map(r => Sched(r.getAs[Int]("wave"),
      r.getAs[Long]("rank"), r.getAs[Int]("priority"), r.getAs[Long]("seq"),
      r.getAs[String]("host"), r.getAs[String]("url_canon"))).toSeq
    val seenUrls = rep.job.seenTable.select("url_canon").collect().map(_.getString(0)).toSeq
    val perWave = rep.job.metricsTable.select("scheduled").collect().map(_.getLong(0)).toSeq
    // every 7th result row, at most 200: stored text against a fresh extraction
    val sample = rep.job.resultsTable.filter(col("text").isNotNull)
      .select("url_canon", "text").collect().sortBy(_.getString(0)).zipWithIndex
      .collect { case (r, i) if i % 7 == 0 => r }.take(200)
      .map { r =>
        val u = r.getString(0)
        (u, r.getString(1), Extract.extractText(Gen.htmlBytes(seed, cfg.spec, pageId(u)), u))
      }.toSeq
    val verdicts = Checks.budgets(s, cfg.settings.hostBudget, cfg.settings.waveCap) ++
      Seq(Checks.denseRanks(s)) ++ Checks.seen(s, seenUrls) ++
      Seq(Checks.metricsSum(perWave, s.size.toLong), Checks.extractText(sample))
    val digests = Map(
      "schedule" -> Checks.sha256(s.sortBy(r => (r.wave, r.rank)).map(r => s"${r.wave},${r.rank},${r.url}")),
      "seen" -> Checks.sha256(seenUrls.sorted))
    (verdicts, digests)
  }

  /** Driver-side extraction cost on sampled generated pages: (text µs, outlinks µs) per page. */
  def extractCost(): (Double, Double) = {
    val ids = (0L until 200L).map(i => Gen.below(Gen.h(seed, i, 9), cfg.spec.pages.toLong))
      .filterNot(Gen.isServerError(seed, cfg.spec, _))
    val pages = ids.map(id => (Gen.htmlBytes(seed, cfg.spec, id), Gen.url(seed, cfg.spec, id)))
    def perPage(f: (Array[Byte], String) => Any): Double = Bench.median((1 to 5).map { _ =>
      Bench.time(pages.foreach { case (b, u) => f(b, u) })._2 * 1e6 / pages.size
    })
    (perPage(Extract.extractText), perPage(Extract.extractOutlinks))
  }
}
