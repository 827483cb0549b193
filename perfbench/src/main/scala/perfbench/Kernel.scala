package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.UrlExprs
import graft.operators.{BloomStore, Dedup, Politeness}
import graft.plans.Checkpoint

/** The frontier-kernel wave's settings. `grant` is the wave cap the
 *  per-priority quotas split. */
final case class KernelConfig(spec: KernelSpec, buckets: Int, salts: Int, hostBudget: Int,
    nPriorities: Int, grant: Long)

object Kernel {
  val Config = KernelConfig(
    KernelSpec(candidates = 100000L, hostTail = 100000, megaShare = 0.3, dupEvery = 3,
      preSeenEvery = 5),
    // the grant is below the rows that survive dedup and the host budget, so
    // every per-priority quota (7143, 3572, 1785) binds and the reference's
    // quota filter is exercised: a wave schedules exactly the grant
    buckets = 8, salts = 8, hostBudget = 1000, nPriorities = 3, grant = 12500L)

  /** Untimed waves before the timed ones. */
  val WarmWaves = 3

  /** Order-free digest of a set of url hashes: the sum of their low 31 bits
   *  (no overflow below 2^32 rows). */
  def digest(urlHash: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    coalesce(sum(urlHash.bitwiseAND(0x7fffffffL)), lit(0L))

  /** Per-priority quotas ∝ 2^-i summing to `grant` (the documented quota rule,
   *  restated here so the reference does not call the code it checks). */
  def quotas(grant: Long, n: Int): Seq[Long] = {
    val denom = (1L << n) - 1
    val base = (0 until n).map(i => grant * (1L << (n - 1 - i)) / denom)
    val rem = grant - base.sum
    base.zipWithIndex.map { case (q, i) => if (i < rem) q + 1 else q }
  }
}

/** The pre-seen state a kernel wave dedups against: the bucketed seen table
 *  (as read back by Checkpoint), its BloomStore, their directory and row count. */
final case class KernelState(seen: DataFrame, store: BloomStore, dir: Path, urls: Long)

/** One wave's outcome: wall and per-layer seconds, rows deduped and scheduled,
 *  and the order-free digest (sum of url hashes) of the schedule. */
final case class KernelWave(secs: Double, dedupS: Double, politeS: Double, deduped: Long,
    scheduled: Long, digest: Long)

final class Kernel(spark: SparkSession, cfg: KernelConfig, seed: Long, work: Path) {
  private val spec = cfg.spec

  /** Write the bucketed seen table and build its BloomStore, in the `r`th
   *  state dir. */
  def setup(r: Int): KernelState = {
    val dir = Bench.fresh(work, s"state$r")
    val ckpt = new Checkpoint(spark, dir.toString, cfg.buckets)
    ckpt.ensureBucketed("seen", "url_hash BIGINT, url_canon STRING")
    val state = Gen.kernelTruth(spark, seed, spec).filter(col("pre_seen"))
      .select(col("url_canon_ref").as("url_canon")).distinct()
      .select(Dedup.urlHash(col("url_canon")).as("url_hash"), col("url_canon"))
    ckpt.writeBucketed(state, 0, "seen")
    val seen = ckpt.readBucketed("seen", 0).select(col("url_hash"), col("url_canon"))
    val urls = seen.count()
    val store = new BloomStore(spark, dir.toString, cfg.buckets, math.max(urls / cfg.buckets, 1024))
    store.rebuild(seen, 0)
    KernelState(seen, store, dir, urls)
  }

  /** Seconds to read the whole seen table back through the Checkpoint reader. */
  def readBack(state: KernelState): Double = Bench.time(Bench.scan(state.seen))._2

  /** The first `n` candidates, canonicalized and hashed. */
  private def candidates(n: Long): DataFrame =
    Gen.kernelCandidates(spark, seed, spec.copy(candidates = n))
      .withColumn("url_canon", UrlExprs.canonicalizeUrl(col("url")))
      .drop("url")
      .withColumn("url_hash", Dedup.urlHash(col("url_canon")))

  /** One scheduling wave over the first `n` candidates: canonicalize → dedup
   *  gate → salted politeness. */
  def wave(state: KernelState, n: Long, tracer: Option[Tracer] = None): KernelWave = {
    def span[T](layer: String)(f: => T): T = tracer.fold(f)(_.span(layer)(f))
    val t0 = Bench.now()
    val (withHost, dedupS) = Bench.time(span("operators.dedup") {
      val d = Dedup.dedupWave(spark, candidates(n), state.seen, Seq(col("seq")), bloomStore = Some(state.store),
        bloomAligned = true)
        .withColumn("host", UrlExprs.urlHost(col("url_canon")))
        .persist(StorageLevel.MEMORY_AND_DISK)
      d.count(); d
    })
    val (out, politeS) = Bench.time(span("operators.politeness") {
      Politeness.schedule(withHost, cfg.hostBudget, cfg.grant, cfg.nPriorities, cfg.salts)
        .agg(count(lit(1)), Kernel.digest(col("url_hash"))).collect()(0)
    })
    val deduped = withHost.count()
    withHost.unpersist(true)
    KernelWave(Bench.secsSince(t0), dedupS, politeS, deduped, out.getLong(0), out.getLong(1))
  }

  /** Plain-window reference over the generator's own truth: first row per
   *  url, minus the pre-seen urls, top hostBudget per host by (priority, seq),
   *  then the per-priority quotas by seq. Returns (count, digest). */
  def reference(): (Long, Long) = {
    val q = Kernel.quotas(cfg.grant, cfg.nPriorities)
    val quota = q.indices.foldLeft(lit(0L))((acc, i) => when(col("priority") === i, lit(q(i))).otherwise(acc))
    val r = Gen.kernelTruth(spark, seed, spec)
      .groupBy("uid", "host", "priority", "pre_seen", "url_canon_ref").agg(min("seq").as("seq"))
      .filter(!col("pre_seen"))
      .withColumn("hr", row_number().over(Window.partitionBy("host").orderBy("priority", "seq")))
      .filter(col("hr") <= cfg.hostBudget)
      .withColumn("pr", row_number().over(Window.partitionBy("priority").orderBy("seq")))
      .filter(col("pr") <= quota)
      .agg(count(lit(1)), Kernel.digest(xxhash64(col("url_canon_ref")))).collect()(0)
    (r.getLong(0), r.getLong(1))
  }

  /** Seconds of one canonicalize pass over the candidates (UrlExprs alone). */
  def canonPass(): Double = Bench.time {
    Gen.kernelCandidates(spark, seed, spec)
      .agg(Kernel.digest(xxhash64(UrlExprs.canonicalizeUrl(col("url"))))).collect()
  }._2
}
