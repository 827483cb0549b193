package perfbench

import java.nio.file.Path
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/**
 * One measured JVM ("leg") of a workload. run.py starts it as
 *
 *   java … perfbench.Main <workload> <seed> <seconds> <mode> <workDir>
 *
 * where mode is `plain` (end-to-end metrics, untraced) or `traced` (an
 * untraced pass, then a traced one that yields the per-layer metrics). It
 * prints one line starting with "PERFBENCH ":
 * a JSON object with the leg's metrics (names as in BENCHMARK.json),
 * correctness verdicts, operation counts and descriptive info.
 */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length == 5, "usage: <workload> <seed> <seconds> <plain|traced> <workDir>")
    val Array(workload, seed, seconds, mode, work) = args
    val leg = new Leg(seed.toLong, seconds.toDouble, mode, Bench.path(work))
    val out =
      try workload match {
        case "crawl_small_waves" => leg.crawl(Crawl.Small)
        case "frontier_kernel" => leg.kernel(Kernel.Config)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          leg.failed += 1
          leg.result(Map.empty, Seq(Verdict("no_exception", ok = false, e.toString.take(300))))
      }
    println("PERFBENCH " + out)
    System.out.flush()
    SparkSession.getActiveSession.foreach(_.stop())
  }
}

final class Leg(seed: Long, seconds: Double, mode: String, work: Path) {
  require(mode == "plain" || mode == "traced", s"unknown mode $mode")
  private val traced = mode == "traced"
  var attempted = 0L
  var failed = 0L
  private val info = mutable.LinkedHashMap.empty[String, Any]

  def result(metrics: Map[String, Double], verdicts: Seq[Verdict]): String = {
    failed += verdicts.count(!_.ok)
    Json.obj(Seq("cores" -> Bench.cores, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics,
      "verdicts" -> verdicts.map(v => Map("name" -> v.name, "ok" -> v.ok, "detail" -> v.detail)),
      "info" -> info.toMap))
  }

  /** Run `f` as one counted operation. */
  private def op[T](f: => T): T = { attempted += 1; f }

  /** Repeat `f` until `budget` seconds have passed, and at least `min` times. */
  private def repeatFor[T](budget: Double, min: Int = 1)(f: => T): Seq[T] = {
    val t0 = Bench.now()
    val out = mutable.ArrayBuffer(f)
    while (out.size < min || Bench.secsSince(t0) < budget) out += f
    out.toSeq
  }

  /** Run `setup` Bench.SetupReps times, `discard` all results but the last,
   *  and return it with the median seconds. */
  private def repeatSetup[T](discard: T => Unit)(setup: Int => T): (T, Double) = {
    val builds = (1 to Bench.SetupReps).map(r => Bench.time(setup(r)))
    builds.init.foreach(b => discard(b._1))
    info("setup_reps_s") = builds.map(_._2)
    (builds.last._1, Bench.median(builds.map(_._2)))
  }

  private def newTracer(spark: SparkSession): Tracer = {
    val t = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    Bench.resetPeakHeap()
    t
  }

  /** Spark job totals of a traced pass, shared by both workloads. */
  private def sparkTotals(tracer: Tracer, wallS: Double, heapMb: Double): Seq[(String, Double)] = {
    val l = tracer.layers.values
    def all(f: LayerTotals => Long): Double = l.map(f).sum.toDouble
    Seq(
      "spark.jobs" -> all(_.jobs),
      "spark.tasks" -> all(_.tasks),
      "spark.shuffle_read_bytes" -> all(_.shuffleReadBytes),
      "spark.spill_bytes" -> all(_.spillBytes),
      "spark.gc_s" -> all(_.gcMs) / 1000,
      "spark.task_busy_share" -> all(_.busyMs) / 1000 / (Bench.cores * wallS),
      "spark.task_failures" -> all(_.taskFailures),
      "jvm.driver_peak_heap_mb" -> heapMb)
  }

  def crawl(cfg: CrawlConfig): String = {
    val (spark, sessionS) = Bench.session(work)
    val c = new Crawl(spark, cfg, seed, work)
    val (pages, buildS) = repeatSetup[org.apache.spark.sql.DataFrame](_.unpersist(true))(_ => c.setup())
    info("session_s") = sessionS
    info("corpus_build_s") = buildS
    // one crawl, resumed wave by wave: the warm-up run admits the seeds and
    // runs Crawl.WarmWaves waves, then each timed CrawlJob.run adds one wave
    // with a wave number this JVM has not seen, as a long crawl does; the
    // benchmark clocks each of those runs
    val dir = Bench.fresh(work, "crawl")
    var waves = Crawl.WarmWaves
    info("warmup_s") = op(c.crawl(pages, dir, waves)).wall
    def nextWave(): CrawlRep = { waves += 1; op(c.crawl(pages, dir, waves)) }
    // a wave takes about as long as a run measures: time at least two, for a median
    val reps = if (traced) Seq(nextWave()) else repeatFor(seconds, min = 2)(nextWave())
    val last = reps.last
    info("wave_samples") = reps.size
    info("wave_s") = reps.map(_.wall)
    info("program_wave_secs") = reps.flatMap(_.programSecs)
    info("scheduled_per_wave") = reps.map(_.scheduled)
    val metrics =
      if (traced) crawlLayers(spark, c, pages, last, waves)
      else Map(
        "setup_s" -> (sessionS + buildS),
        "urls_per_s" -> Bench.median(reps.map(r => r.scheduled / r.wall)),
        "wave_s_p50" -> Bench.median(reps.map(_.wall)),
        "state_bytes_per_url" -> Bench.dirBytes(dir).toDouble / Crawl.scheduledTotal(last.job))

    val (checks, digests) = c.check(last)
    val oneWave = reps.filter(_.waves != 1).map(r => s"${r.waves} waves in a timed run")
    val verdicts = Verdict("one_wave_per_timed_run", oneWave.isEmpty, oneWave.mkString("; ")) +: checks
    val seenTotal = last.job.seenTable.count()
    info("digests") = digests
    info("seen_urls") = seenTotal
    info("seen_over_bloom_capacity") = seenTotal.toDouble / cfg.settings.bloomCapacity
    result(metrics, verdicts)
  }

  /** The traced crawl: one more wave with spans around it, the readers and
   *  driver-side extraction, and every Spark job attributed to its module.
   *  Tracing overhead compares the traced wave with the mean of the warm
   *  untraced waves just before and just after it. */
  private def crawlLayers(spark: SparkSession, c: Crawl, pages: org.apache.spark.sql.DataFrame,
      untraced: CrawlRep, wave: Int): Map[String, Double] = {
    val files0 = Bench.dirFiles(untraced.dir)
    val tracer = newTracer(spark)
    val t0 = Bench.now()
    val rep = tracer.span("plans.crawljob")(op(c.crawl(pages, untraced.dir, wave + 1)))
    val t1 = Bench.now()
    val heap = Bench.peakHeapMb()
    tracer.drain()
    val w = rep.waves.toDouble
    val layers = tracer.layers
    def in(layer: String)(f: LayerTotals => Long): Double =
      layers.get(layer).map(f).getOrElse(0L).toDouble
    val m = mutable.LinkedHashMap[String, Double](
      "plans.crawljob.jobs_per_wave" -> layers.values.map(_.jobs).sum / w,
      "plans.crawljob.stages_per_wave" -> layers.values.map(_.stages).sum / w,
      "plans.crawljob.tasks_per_wave" -> layers.values.map(_.tasks).sum / w,
      "plans.crawljob.driver_gap_s_per_wave" ->
        ((t1 - t0) - Tracer.covered(tracer.jobIntervals, t0, t1)) / 1e9 / w,
      "plans.checkpoint.write_jobs_per_wave" -> in("plans.checkpoint")(_.jobs) / w,
      "plans.checkpoint.write_s_per_wave" -> in("plans.checkpoint")(_.jobNs) / 1e9 / w,
      "plans.checkpoint.files_per_wave" -> (Bench.dirFiles(rep.dir) - files0) / w,
      "operators.bloomstore.write_s_per_wave" -> in("operators.bloomstore")(_.jobNs) / 1e9 / w,
      "operators.politeness.quota_jobs_per_wave" -> in("operators.politeness")(_.jobs) / w)
    m ++= sparkTotals(tracer, (t1 - t0) / 1e9, heap)
    Crawl.Readers.foreach { case (n, f) =>
      m(s"plans.checkpoint.readback_s.$n") =
        tracer.span(s"plans.checkpoint.readback.$n")(c.readBack(rep.job, f))
    }
    val waves = rep.job.metricsTable.collect()
    val admitted = waves.map(_.getAs[Long]("new_urls")).sum.toDouble
    m("operators.dedup.admit_ratio") = admitted / (admitted + waves.map(_.getAs[Long]("deduped")).sum)
    val (textUs, linksUs) = tracer.span("functions.extract")(c.extractCost())
    m("functions.extract.us_per_page") = textUs
    m("functions.extract.outlinks_us_per_page") = linksUs
    tracer.writeSpans(work.resolve("spans.jsonl"))
    spark.sparkContext.removeSparkListener(tracer)
    val after = op(c.crawl(pages, untraced.dir, wave + 2))
    m("tracing_overhead_s") = rep.wall - (untraced.wall + after.wall) / 2
    m.toMap
  }

  def kernel(cfg: KernelConfig): String = {
    val (spark, sessionS) = Bench.session(work)
    // as CrawlJob runs its waves: every exchange lands on the seen table's
    // bucket layout (at every core count), and adaptive execution is off
    spark.conf.set("spark.sql.shuffle.partitions", cfg.buckets.toString)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val k = new Kernel(spark, cfg, seed, work)
    val (state, buildS) = repeatSetup[KernelState](s => Bench.delete(s.dir))(k.setup)
    info("session_s") = sessionS
    info("state_build_s") = buildS
    val n = cfg.spec.candidates
    // the first waves pay class loading, JIT and code generation: after the
    // set-ups, waves take about 10, 6.5 and 5.5 s on the calibration host,
    // then 4-5 s, still falling slowly. A stop rule on the wave-to-wave gain
    // ended the warm-up anywhere from the third wave to the sixth, so the
    // count is fixed; the host's slow spells last several waves, so the
    // median of at least four timed waves is reported
    info("warmup_wave_s") = (1 to Kernel.WarmWaves).map(_ => op(k.wave(state, n)).secs)
    val waves = repeatFor(seconds, min = 4)(op(k.wave(state, n)))
    val p50 = Bench.median(waves.map(_.secs))
    info("wave_samples") = waves.size
    info("wave_s") = waves.map(_.secs)
    info("wave_dedup_s") = waves.map(_.dedupS)
    info("wave_politeness_s") = waves.map(_.politeS)
    info("scheduled") = waves.last.scheduled
    info("deduped") = waves.last.deduped
    info("digest") = waves.last.digest.toString
    val outcomes = waves.map(x => (x.scheduled, x.digest)).distinct
    val verdicts = mutable.ArrayBuffer(Verdict("waves_agree", outcomes.size == 1, outcomes.mkString(" ")))
    val ref = k.reference()
    info("reference") = Map("scheduled" -> ref._1, "digest" -> ref._2.toString)
    verdicts += Checks.kernel((waves.last.scheduled, waves.last.digest), ref)
    val metrics = mutable.LinkedHashMap[String, Double]()
    if (!traced) metrics ++= Seq(
      "setup_s" -> (sessionS + buildS),
      "urls_per_s" -> n / p50,
      "wave_s_p50" -> p50,
      "state_bytes_per_url" -> Bench.dirBytes(state.dir).toDouble / state.urls)
    else {
      val tracer = newTracer(spark)
      val x = op(k.wave(state, n, Some(tracer)))
      val heap = Bench.peakHeapMb()
      val canonS = tracer.span("functions.urlexprs")(k.canonPass())
      val readS = tracer.span("plans.checkpoint.readback.seen")(k.readBack(state))
      tracer.drain()
      spark.sparkContext.removeSparkListener(tracer)
      // the untraced waves just before and just after the traced one
      val untracedS = (waves.last.secs + op(k.wave(state, n)).secs) / 2
      val layers = tracer.layers
      def in(layer: String)(f: LayerTotals => Long): Double =
        layers.get(layer).map(f).getOrElse(0L).toDouble
      val skews = layers.get("operators.politeness").map(_.stageSkews.toSeq).getOrElse(Nil)
      metrics ++= Seq(
        "operators.dedup.s" -> x.dedupS,
        "operators.dedup.shuffle_write_bytes" -> in("operators.dedup")(_.shuffleWriteBytes),
        "operators.dedup.admit_ratio" -> x.deduped.toDouble / n,
        "operators.politeness.s" -> x.politeS,
        "operators.politeness.shuffle_write_bytes" -> in("operators.politeness")(_.shuffleWriteBytes),
        "operators.politeness.task_skew" -> (if (skews.isEmpty) 0.0 else Bench.median(skews)),
        "functions.urlexprs.canon_s" -> canonS,
        "plans.checkpoint.readback_s.seen" -> readS,
        "tracing_overhead_s" -> (x.secs - untracedS))
      metrics ++= sparkTotals(tracer, x.secs + canonS + readS, heap)
      tracer.writeSpans(work.resolve("spans.jsonl"))
    }
    result(metrics.toMap, verdicts.toSeq)
  }
}
