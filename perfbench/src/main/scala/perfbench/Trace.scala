package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Resource totals of the Spark work attributed to one job group. */
final class Cost {
  var jobs = 0
  var stages = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var written = 0L
  var inputBytes = 0L

  def add(o: Cost): Unit = {
    jobs += o.jobs; stages += o.stages; taskMs += o.taskMs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    written += o.written; inputBytes += o.inputBytes
  }
}

/**
 * Attributes every job, stage and task to the job group that was set on the
 * thread which launched it. Events arrive on Spark's listener bus, so the
 * totals are complete only after `SparkContext.stop()` drains the bus; the
 * benchmark reads them there.
 */
final class GroupListener extends SparkListener {
  private val groups = mutable.Map.empty[String, Cost]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def groupOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  private def cost(g: String): Cost = groups.getOrElseUpdate(g, new Cost)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    cost(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageGroup(e.stageInfo.stageId) = groupOf(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    cost(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = cost(stageGroup.getOrElse(e.stageId, ""))
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.written += m.outputMetrics.bytesWritten
      c.inputBytes += m.inputMetrics.bytesRead
    }
  }

  def of(group: String): Cost = synchronized(groups.getOrElse(group, new Cost))

  def total: Cost = synchronized {
    val t = new Cost
    groups.values.foreach(t.add)
    t
  }
}

/** One timed call: `group` keys its Spark work in the listener. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      startNs: Long, endNs: Long, group: String) {
  def wallS: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/**
 * Runs calls under fresh job groups and keeps one [[Span]] per call in
 * memory. Nested spans restore their parent's group on exit, so a parent's
 * own Spark work stays attributed to the parent.
 */
final class Tracer(sc: SparkContext, val t0: Long) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String)] // (span id, group)
  private var next = 0

  def apply[A](name: String, op: Int)(body: => A): A = {
    next += 1
    val id = next
    val group = s"span-$id"
    val parent = stack.headOption.map(_._1).getOrElse(0)
    sc.setJobGroup(group, name)
    stack = (id, group) :: stack
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some((_, g)) => sc.setJobGroup(g, "")
        case None => sc.clearJobGroup()
      }
      spans += Span(id, name, op, parent, start, end, group)
    }
  }

  /** Wall of a span minus the wall of its direct children. */
  def selfS(s: Span): Double =
    s.wallS - spans.filter(_.parent == s.id).map(_.wallS).sum
}
