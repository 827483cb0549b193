package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span around a benchmark call into a layer. */
final case class Span(name: String, parent: String, startNs: Long, endNs: Long)

/** Per-module totals folded from the Spark jobs attributed to it. */
final class LayerTotals {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskFailures = 0L
  var jobNs = 0L // summed job wall time (concurrent jobs each count in full)
  var busyMs = 0L // task executor run time
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  /** max / median task time of each completed stage with ≥ 2 tasks */
  val stageSkews: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
}

/**
 * Spans plus a SparkListener that attributes every Spark job to a module of
 * the program by the file of its short call site ("count at CrawlJob.scala:373"
 * → plans.crawljob). Jobs whose call site is in the benchmark's own files go
 * to the span active on the submitting thread. Everything is kept in memory
 * and written out by [[writeSpans]] when the run ends. Spark delivers the
 * listener events on one thread; [[drain]] waits for them before totals are read.
 */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[String] = Nil

  /** Time `f` as a span named `layer`; jobs it submits from benchmark code
   *  are attributed to `layer`. */
  def span[T](layer: String)(f: => T): T = {
    val parent = stack.headOption.getOrElse("")
    val prev = sc.getLocalProperty(LayerProperty)
    sc.setLocalProperty(LayerProperty, layer)
    stack = layer :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(LayerProperty, prev)
      spans.synchronized(spans += Span(layer, parent, t0, t1))
    }
  }

  def drain(): Unit = org.apache.spark.perfbench.ListenerBus.waitUntilEmpty(sc)

  def spanList: Seq[Span] = spans.synchronized(spans.toList)

  private val totals = new ConcurrentHashMap[String, LayerTotals]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobLayer = new ConcurrentHashMap[Int, String]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  // the listener methods below run on Spark's single listener-bus thread;
  // readers call drain() first

  def layer(name: String): LayerTotals = totals.computeIfAbsent(name, _ => new LayerTotals)
  def layers: Map[String, LayerTotals] = {
    import scala.jdk.CollectionConverters._
    totals.asScala.toMap
  }

  /** Job wall intervals (start, end) in nanoTime, in completion order. */
  def jobIntervals: Seq[(Long, Long)] = intervals.toList

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    // a job's stages are named by its short call site ("count at CrawlJob.scala:373")
    val site = Option(props.map(_.getProperty("callSite.short")).orNull)
      .getOrElse(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    val l = moduleOf(site).orElse(props.flatMap(p => Option(p.getProperty(LayerProperty))))
      .getOrElse("unattributed")
    jobLayer.put(e.jobId, l)
    jobStart.put(e.jobId, System.nanoTime())
    e.stageIds.foreach(s => stageLayer.putIfAbsent(s, l))
    layer(l).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t1 = System.nanoTime()
    val t0: Long = Option(jobStart.remove(e.jobId)).map(_.longValue).getOrElse(t1)
    intervals += ((t0, t1))
    layer(Option(jobLayer.remove(e.jobId)).getOrElse("unattributed")).jobNs += t1 - t0
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = layer(Option(stageLayer.get(e.stageId)).getOrElse("unattributed"))
    val m = e.taskMetrics
    t.tasks += 1
    if (!e.taskInfo.successful) t.taskFailures += 1
    if (m != null) {
      t.busyMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long]) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val t = layer(Option(stageLayer.get(id)).getOrElse("unattributed"))
    val ms = Option(stageTaskMs.remove(id)).map(_.sorted.toVector).getOrElse(Vector.empty)
    t.stages += 1
    if (ms.size >= 2) t.stageSkews += ms.last.toDouble / math.max(ms(ms.size / 2), 1L)
  }

  /** Write the spans as JSON lines, one object per span. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val t0 = spanList.map(_.startNs).minOption.getOrElse(0L)
    val lines = spanList.map(s => Json.obj(Seq("name" -> s.name, "parent" -> s.parent,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9)))
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Tracer {
  val LayerProperty = "perfbench.layer"

  /** The program's modules, by source file. */
  val Modules: Map[String, String] = Map(
    "CrawlJob.scala" -> "plans.crawljob",
    "Checkpoint.scala" -> "plans.checkpoint",
    "Dedup.scala" -> "operators.dedup",
    "BloomStore.scala" -> "operators.bloomstore",
    "Politeness.scala" -> "operators.politeness",
    "Extract.scala" -> "functions.extract",
    "UrlExprs.scala" -> "functions.urlexprs")

  /** "count at CrawlJob.scala:373" → Some("plans.crawljob"). */
  def moduleOf(callSite: String): Option[String] = {
    val at = callSite.lastIndexOf(" at ")
    val file = (if (at >= 0) callSite.substring(at + 4) else callSite).takeWhile(_ != ':')
    Modules.get(file)
  }

  /** Union length of possibly overlapping intervals clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var end = lo
    intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { total += b - math.max(a, end); end = b }
      }
    total
  }
}
