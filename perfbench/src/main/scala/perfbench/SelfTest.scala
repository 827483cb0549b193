package perfbench

import org.apache.spark.sql.SparkSession

/**
 * The benchmark's own tests, run by `python3 perfbench/run.py --self-test`:
 * the generator is deterministic per seed and differs across seeds, and each
 * correctness check fires on a deliberately corrupted output. Exits 1 on any
 * failure.
 */
object SelfTest {
  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Exception => println(s"  $e"); false }
    if (!passed) failures += 1
    println((if (passed) "PASS " else "FAIL ") + name)
  }

  def main(args: Array[String]): Unit = {
    val spec = Crawl.Small.spec
    test("corpus pages are a pure function of (seed, id)") {
      (0L until 50L).forall(id => Gen.html(7, spec, id) == Gen.html(7, spec, id)) &&
        Gen.seedUrls(7, spec) == Gen.seedUrls(7, spec)
    }
    test("corpus link graph and hosts differ across seeds") {
      (0L until 50L).count(id => Gen.linkTargets(7, spec, id) != Gen.linkTargets(8, spec, id)) > 40 &&
        (0L until 50L).count(id => Gen.host(7, spec, id) != Gen.host(8, spec, id)) > 25
    }
    test("corpus has the specified mega-host, server-error and missing-page shares") {
      val ids = 0L until 20000L
      val mega = ids.count(Gen.host(7, spec, _) == 0) / 20000.0
      val server = ids.count(Gen.isServerError(7, spec, _)) / 20000.0
      val links = ids.flatMap(Gen.linkTargets(7, spec, _))
      val missing = links.count(_ >= spec.pages) / links.size.toDouble
      math.abs(mega - spec.megaShare) < 0.02 && math.abs(server - spec.serverShare) < 0.01 &&
        math.abs(missing - spec.missingShare / (1 + spec.missingShare)) < 0.01
    }

    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", args(0) + "/warehouse")
      .config("spark.local.dir", args(0) + "/spark-local").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val k = Kernel.Config.spec.copy(candidates = 3000L)
    def truth(seed: Long) = Gen.kernelTruth(spark, seed, k).orderBy("seq").collect().toSeq
    test("kernel candidates are a pure function of (seed, size)") { truth(7) == truth(7) }
    test("kernel candidates differ across seeds") { truth(7) != truth(8) }
    test("kernel candidates have the specified duplicate, pre-seen and mega-host shares") {
      val rows = Gen.kernelTruth(spark, 7, k.copy(candidates = 30000L)).collect()
      val distinct = rows.map(_.getAs[Long]("uid")).distinct.length
      val dup = 1 - distinct / 30000.0
      val uniq = rows.groupBy(_.getAs[Long]("uid")).values.map(_.head).toSeq
      val preSeen = uniq.count(_.getAs[Boolean]("pre_seen")) / uniq.size.toDouble
      val mega = uniq.count(_.getAs[Long]("host") == 0L) / uniq.size.toDouble
      math.abs(dup - 1.0 / k.dupEvery) < 0.01 && math.abs(preSeen - 1.0 / k.preSeenEvery) < 0.02 &&
        math.abs(mega - k.megaShare) < 0.02
    }
    spark.stop()

    val clean = Seq(
      Sched(1, 0, 0, 10, "a", "u1"), Sched(1, 1, 0, 12, "b", "u2"), Sched(1, 2, 1, 11, "a", "u3"),
      Sched(2, 0, 0, 20, "a", "u4"), Sched(2, 1, 2, 5, "c", "u5"))
    val seen = clean.map(_.url) :+ "u6"
    def ok(vs: Seq[Verdict]) = vs.forall(_.ok)
    test("checks pass on a clean schedule") {
      ok(Checks.budgets(clean, 2, 3)) && Checks.denseRanks(clean).ok && ok(Checks.seen(clean, seen)) &&
        Checks.metricsSum(Seq(3, 2), 5).ok && Checks.extractText(Seq(("u1", "t", "t"))).ok &&
        Checks.kernel((5, 9), (5, 9)).ok
    }
    test("host_budget fires on a schedule over the host budget") {
      !Checks.budgets(clean :+ Sched(1, 3, 1, 13, "a", "u7"), 2, 9).find(_.name == "host_budget").get.ok
    }
    test("wave_cap fires on a wave over the cap") {
      !Checks.budgets(clean, 9, 2).find(_.name == "wave_cap").get.ok
    }
    test("dense_ranks fires on a rank gap") {
      !Checks.denseRanks(clean.map(r => if (r.url == "u3") r.copy(rank = 3) else r)).ok
    }
    test("dense_ranks fires on ranks out of (priority, seq) order") {
      !Checks.denseRanks(clean.map(r => if (r.url == "u1") r.copy(seq = 13) else r)).ok
    }
    test("schedule_in_seen fires on a scheduled url missing from seen") {
      !Checks.seen(clean, seen.filterNot(_ == "u2")).find(_.name == "schedule_in_seen").get.ok
    }
    test("seen_unique fires on a duplicate seen url") {
      !Checks.seen(clean, seen :+ "u1").find(_.name == "seen_unique").get.ok
    }
    test("metrics_sum fires when the manifests disagree with the schedule") {
      !Checks.metricsSum(Seq(3, 3), 5).ok
    }
    test("extract_text fires on text that differs from a fresh extraction") {
      !Checks.extractText(Seq(("u1", "t", "t"), ("u2", "stored", "fresh"))).ok && !Checks.extractText(Nil).ok
    }
    test("kernel_reference fires on a count or digest off the reference") {
      !Checks.kernel((6, 9), (5, 9)).ok && !Checks.kernel((5, 8), (5, 9)).ok
    }
    test("job call sites map to the program's modules") {
      Tracer.moduleOf("count at CrawlJob.scala:373").contains("plans.crawljob") &&
        Tracer.moduleOf("parquet at Checkpoint.scala:150").contains("plans.checkpoint") &&
        Tracer.moduleOf("run at Main.scala:10").isEmpty
    }
    test("covered counts overlapping job intervals once") {
      Tracer.covered(Seq((0L, 10L), (5L, 20L), (30L, 40L)), 0L, 35L) == 25L
    }
    println(if (failures == 0) "scala self-test passed" else s"scala self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
