package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shape of a synthetic crawl corpus. Every property the crawl loop's cost
 *  depends on is a knob here, so BENCHMARK.json can record it per workload. */
final case class CorpusSpec(
    pages: Int, // rows in the pages table (ids 0 until pages)
    hosts: Int, // distinct hosts, host 0 being the mega-host
    megaShare: Double, // share of urls on host 0
    minLinks: Int,
    maxLinks: Int,
    missingShare: Double, // extra ids (as a share of `pages`) that links reach but the pages table lacks
    serverShare: Double, // share of pages answered with fetch_status "server"
    seeds: Int) // seed list: ids 0 until seeds

/** Shape of one frontier-kernel wave. */
final case class KernelSpec(
    candidates: Long,
    hostTail: Int, // hosts besides the mega-host
    megaShare: Double,
    dupEvery: Int, // every dupEvery-th candidate repeats an earlier url
    preSeenEvery: Int) // 1 / pre-seen share of the distinct urls

/**
 * Seeded input generator. Every value is a pure function of (seed, id): the
 * same seed gives the same corpus, candidates and seed list, and the program
 * under test only ever receives the DataFrames and url lists built here.
 */
object Gen {

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def h(seed: Long, a: Long, b: Long): Long = mix(mix(mix(seed) + a) + b)

  /** Uniform in [0, 1). */
  def unit(x: Long): Double = (x >>> 11) * (1.0 / (1L << 53))

  def below(x: Long, n: Long): Long = java.lang.Long.remainderUnsigned(x, n)

  // ---- crawl corpus ----

  def host(seed: Long, s: CorpusSpec, id: Long): Int =
    if (unit(h(seed, id, 1)) < s.megaShare) 0 else 1 + below(h(seed, id, 2), s.hosts - 1L).toInt

  def hostName(seed: Long, s: CorpusSpec, id: Long): String = s"h${host(seed, s, id)}.example.com"

  /** The canonical url of page `id`: the pages-table key. */
  def url(seed: Long, s: CorpusSpec, id: Long): String = s"http://${hostName(seed, s, id)}/p/$id"

  def isServerError(seed: Long, s: CorpusSpec, id: Long): Boolean = unit(h(seed, id, 3)) < s.serverShare

  def missingPages(s: CorpusSpec): Long = math.round(s.pages * s.missingShare)

  def linkTargets(seed: Long, s: CorpusSpec, id: Long): Seq[Long] = {
    val n = s.minLinks + below(h(seed, id, 4), s.maxLinks - s.minLinks + 1L).toInt
    (0 until n).map(k => below(h(seed, id, 100 + k), s.pages + missingPages(s)))
  }

  /** The k-th href of page `id`, in one of the raw forms the canonicalizer
   *  must undo: relative, upper-case with default port, or with a fragment. */
  def href(seed: Long, s: CorpusSpec, id: Long, k: Int, target: Long): String =
    below(h(seed, id, 200 + k), 8) match {
      case 0 if host(seed, s, target) == host(seed, s, id) => s"/p/$target"
      case 1 => s"HTTP://${hostName(seed, s, target).toUpperCase}:80/p/$target"
      case 2 => s"${url(seed, s, target)}#s$k"
      case _ => url(seed, s, target)
    }

  private val Words = Array("crawl", "frontier", "queue", "budget", "host", "page", "link",
    "text", "wave", "seen", "filter", "bloom", "spark", "stage", "task", "shuffle", "commit",
    "manifest", "bucket", "salt", "priority", "retry", "error", "server", "network", "schedule")

  def paragraph(seed: Long, id: Long, p: Int): String = {
    val n = 20 + below(h(seed, id, 300 + p), 30).toInt
    (0 until n).map(w => Words(below(h(seed, id, 1000 * (p + 1) + w), Words.length).toInt))
      .grouped(9).map(_.mkString(" ")).mkString(", ") + "."
  }

  def html(seed: Long, s: CorpusSpec, id: Long): String =
    if (isServerError(seed, s, id)) s"<html><body><h1>500</h1><p>page $id failed</p></body></html>"
    else {
      val links = linkTargets(seed, s, id).zipWithIndex
        .map { case (t, k) => s"""<li><a href="${href(seed, s, id, k, t)}">item $k</a></li>""" }.mkString
      val paras = (0 until 2 + below(h(seed, id, 5), 4).toInt)
        .map(p => s"<p>${paragraph(seed, id, p)}</p>").mkString("\n")
      s"""<html><head><title>Page $id</title><style>p{margin:0}</style></head><body>
<div class="nav"><a href="/">home</a> <a href="/about">about</a></div>
<div class="article"><h1>Page $id</h1>
$paras
</div>
<ul class="related">$links</ul>
<div class="footer">footer $id</div>
</body></html>"""
    }

  def htmlBytes(seed: Long, s: CorpusSpec, id: Long): Array[Byte] = html(seed, s, id).getBytes(UTF_8)

  def fetchStatus(seed: Long, s: CorpusSpec, id: Long): String =
    if (isServerError(seed, s, id)) "server" else "ok"

  def seedUrls(seed: Long, s: CorpusSpec): Seq[String] = (0L until s.seeds).map(url(seed, s, _))

  /** The pages table CrawlJob fetches from: (url, html, lang, fetch_status),
   *  unique per url. Ids ≥ pages are absent — fetching them is a network error. */
  def pages(spark: SparkSession, seed: Long, s: CorpusSpec): DataFrame = {
    import spark.implicits._
    spark.range(0L, s.pages.toLong, 1L, 16).as[Long]
      .map(id => (url(seed, s, id), htmlBytes(seed, s, id), "en", fetchStatus(seed, s, id)))
      .toDF("url", "html", "lang", "fetch_status")
  }

  /** Priority from the url's page id, as a CrawlJob priority expression. */
  def priorityOf(c: Column): Column =
    coalesce(pmod(regexp_extract(c, "/p/([0-9]+)", 1).cast("long"), lit(3L)), lit(0L)).cast("int")

  // ---- frontier kernel candidates ----

  /** Candidate columns (url, priority, seq) plus the generator's own truth
   *  (uid, host, url_canon_ref, pre_seen) that the reference count uses. */
  def kernelTruth(spark: SparkSession, seed: Long, k: KernelSpec): DataFrame = {
    val sd = lit(seed)
    spark.range(0L, k.candidates)
      .select(col("id").as("seq"),
        // every dupEvery-th candidate repeats the url of a seeded earlier row
        when(col("id") % k.dupEvery === k.dupEvery - 1 && col("id") > 0,
          col("id") - lit(1L) - pmod(xxhash64(col("id"), sd), least(col("id"), lit(1000L))))
          .otherwise(col("id")).as("uid0"))
      // a duplicate of a duplicate points at that row's own original
      .withColumn("uid", when(col("uid0") % k.dupEvery === k.dupEvery - 1 && col("uid0") > 0,
        col("uid0") - 1).otherwise(col("uid0")))
      .withColumn("host", when(pmod(xxhash64(col("uid"), sd, lit(1)), lit(1000L)) < (k.megaShare * 1000).toLong, lit(0L))
        .otherwise(lit(1L) + pmod(xxhash64(col("uid"), sd, lit(2)), lit(k.hostTail.toLong))))
      .withColumn("priority", pmod(xxhash64(col("uid"), sd, lit(3)), lit(3L)).cast("int"))
      .withColumn("pre_seen", pmod(xxhash64(col("uid"), sd, lit(4)), lit(k.preSeenEvery.toLong)) === 0)
      .withColumn("url_canon_ref", concat(lit("http://h"), col("host"), lit(".example.com/p/"), col("uid")))
      .withColumn("url", when(pmod(xxhash64(col("seq"), sd, lit(5)), lit(8L)) === 0,
          concat(lit("HTTP://H"), col("host"), lit(".EXAMPLE.COM:80/p/"), col("uid")))
        .when(pmod(xxhash64(col("seq"), sd, lit(5)), lit(8L)) === 1,
          concat(col("url_canon_ref"), lit("#frag")))
        .otherwise(col("url_canon_ref")))
      .drop("uid0")
  }

  /** What the program receives: raw url, priority, seq. */
  def kernelCandidates(spark: SparkSession, seed: Long, k: KernelSpec): DataFrame =
    kernelTruth(spark, seed, k).select("url", "priority", "seq")
}
