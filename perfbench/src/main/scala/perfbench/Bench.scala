package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Session, timing and filesystem helpers shared by the workloads. */
object Bench {
  /** Set-up is repeated this many times per run and setup_s reports the
   *  median: the first set-up runs cold, and a single cold figure drifts
   *  with the host by more than setup_s's bound. */
  val SetupReps = 3

  private val t0 = System.nanoTime()

  /** The cores of this JVM (run.py sets -XX:ActiveProcessorCount to nproc). */
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** Progress line on stderr, stamped with seconds since the leg started. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${(System.nanoTime() - t0) / 1e9}%7.1fs] $msg")

  def now(): Long = System.nanoTime()
  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](f: => T): (T, Double) = { val t0 = now(); val r = f; (r, secsSince(t0)) }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Seconds from JVM start to a ready session, and the session. */
  def session(work: Path): (SparkSession, Double) = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    (spark, (System.currentTimeMillis() - jvmStart) / 1000.0)
  }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  def dirBytes(p: Path): Long = walk(p).map(Files.size).sum
  def dirFiles(p: Path): Long = walk(p).size.toLong

  def fresh(work: Path, name: String): Path = {
    val p = work.resolve(name)
    graft.plans.Checkpoint.deleteRecursively(p)
    Files.createDirectories(p)
  }

  def delete(p: Path): Unit = graft.plans.Checkpoint.deleteRecursively(p)

  /** Peak old-generation occupancy (MB) since the last reset: the heap
   *  the run's retained data needs. */
  def peakHeapMb(): Double =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old Gen"))
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  def resetPeakHeap(): Unit =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  /** Read every row and column of `df` (a hash per row, summed on the executors). */
  def scan(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    df.select(xxhash64(df.columns.map(col).toSeq: _*).as("h")).agg(count(lit(1)), sum(col("h") % 1024))
      .collect()
  }

  def path(s: String): Path = Paths.get(s).toAbsolutePath
}
