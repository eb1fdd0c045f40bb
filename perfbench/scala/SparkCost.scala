package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans with their Spark cost.
  *
  * The benchmark opens a span around each call into a layer; the span sets
  * its own job group, so every job, stage and task Spark runs inside it
  * (broadcast and subquery jobs included, which inherit the caller's local
  * properties) is attributed to it by a listener. Spans stay in memory and
  * are summed per name when the run ends. Listener events arrive
  * asynchronously: read the costs only after `SparkContext.stop()`, which
  * delivers every pending event.
  */
final class SparkCost(sc: SparkContext) extends SparkListener {

  final class Cost {
    var jobs = 0L
    var tasks = 0L
    var executorRunMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var spillBytes = 0L
    var inputBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  final case class Span(name: String, wallS: Double, startMs: Long,
      endMs: Long, cost: Cost) {
    /** Wall time while no job of this span was running. */
    def driverOnlyS: Double = {
      val iv = cost.jobIntervals.map { case (s, e) =>
        (math.max(s, startMs), math.min(e, endMs))
      }.filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L
      var curS = -1L
      var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      covered += curE - curS
      math.max(0.0, wallS - covered / 1000.0)
    }
  }

  private val GroupKey = "spark.jobGroup.id"
  private val costs = mutable.HashMap.empty[String, Cost]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0

  sc.addSparkListener(this)

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(GroupKey)))
      .filter(costs.contains)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    group(e.properties).foreach { g =>
      costs(g).jobs += 1
      jobStart(e.jobId) = (g, e.time)
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      costs(g).jobIntervals += ((t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      group(e.properties).foreach(stageGroup(e.stageInfo.stageId) = _)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (g <- stageGroup.get(e.stageId); c <- costs.get(g)) {
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.executorRunMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
      }
    }
  }

  /** Run `body` as span `name`; its jobs carry the span's job group. */
  def span[T](name: String)(body: => T): T = {
    val id = synchronized {
      nextId += 1
      val id = s"perfbench-$nextId"
      costs(id) = new Cost
      id
    }
    sc.setJobGroup(id, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    try {
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      synchronized(spans += Span(name, wall, startMs,
        System.currentTimeMillis(), costs(id)))
      out
    } finally sc.clearJobGroup()
  }
}
