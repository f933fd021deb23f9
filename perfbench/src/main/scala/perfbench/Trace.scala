package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark-side spans and counts of the traced phase, keyed by op.
  *
  * The client thread tags its jobs with the job group `op-<id>`; the
  * listener maps each job, and through it each stage and task, to that
  * op. Everything stays in memory until the phase ends.
  */
final class Trace extends SparkListener {
  final class Counts {
    var jobs, stages, tasks = 0L
    var inputRows, inputBytes, shuffleRead, shuffleWrite, spill = 0L
    var runMs, cpuNs, gcMs, schedDelayMs = 0L
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]() // epoch ms
    /** Ids of the persisted RDDs the op's stages computed. */
    val persisted = mutable.HashSet[Int]()
  }
  private val byOp = mutable.HashMap[Int, Counts]()
  private val jobOp = mutable.HashMap[Int, Int]()
  private val jobStart = mutable.HashMap[Int, Long]()
  private val stageOp = mutable.HashMap[Int, Int]()

  def counts(op: Int): Counts = synchronized(byOp.getOrElseUpdate(op, new Counts))

  private def opOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.stripPrefix("op-").toInt)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    opOf(e.properties).foreach { op =>
      jobOp(e.jobId) = op
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageOp(_) = op)
      counts(op).jobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobOp.remove(e.jobId).foreach { op =>
      counts(op).jobSpans += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageOp.get(info.stageId).foreach { op =>
      val c = counts(op)
      c.stages += 1
      c.persisted ++= info.rddInfos.filter(_.storageLevel.isValid).map(_.id)
      Option(info.taskMetrics).foreach { m =>
        c.inputRows += m.inputMetrics.recordsRead
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val c = counts(op)
      c.tasks += 1
      val i = e.taskInfo
      Option(e.taskMetrics).foreach { m =>
        // the scheduler delay as the Spark UI computes it
        val busy = m.executorRunTime + m.executorDeserializeTime +
          m.resultSerializationTime + i.gettingResultTime
        c.schedDelayMs += math.max(0L, i.duration - busy)
      }
    }
  }
}

/** Interval arithmetic for self times: lists of (start, end) in ms. */
object Spans {
  def union(xs: Seq[(Double, Double)]): Seq[(Double, Double)] =
    xs.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[(Double, Double)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  def clip(xs: Seq[(Double, Double)], lo: Double, hi: Double): Seq[(Double, Double)] =
    xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)

  def length(xs: Seq[(Double, Double)]): Double = union(xs).map(x => x._2 - x._1).sum

  /** Covered length of `a ∩ b`, both given as unions. */
  def overlap(a: Seq[(Double, Double)], b: Seq[(Double, Double)]): Double =
    union(a).map { case (s, e) => length(clip(b, s, e)) }.sum
}
