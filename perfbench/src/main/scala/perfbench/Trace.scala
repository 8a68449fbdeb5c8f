package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark counters attributed to one timed call. */
final case class CallCounters(
    jobs: Int, stages: Int, tasks: Long, jobS: Double, taskS: Double,
    waitS: Double, inputMb: Double, shuffleWriteMb: Double, spillMb: Double,
    jobSpans: Seq[(Int, Long, Long)])

/** Attributes Spark jobs, stages and tasks to the benchmark call that
  * submitted them. Each call sets the local property [[Trace.OpKey]] on
  * the driver thread; Spark copies local properties into every job it
  * submits, including jobs started from threads the call spawns. */
final class Trace extends SparkListener {
  private final class Job(val op: String, val start: Long) {
    @volatile var end: Long = -1L
  }
  private final class Acc {
    var stages = 0
    var tasks = 0L
    var runMs = 0L
    var waitMs = 0L
    var inputB = 0L
    var shuffleWriteB = 0L
    var spillB = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val acc = mutable.HashMap.empty[String, Acc]

  private def accOf(op: String): Acc = acc.synchronized(acc.getOrElseUpdate(op, new Acc))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).map(_.getProperty(Trace.OpKey)).orNull
    if (op != null) {
      jobs.put(e.jobId, new Job(op, e.time))
      e.stageIds.foreach(stageOp.putIfAbsent(_, op))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
      val a = accOf(op)
      a.synchronized(a.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      val a = accOf(op)
      val m = e.taskMetrics
      val info = e.taskInfo
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          // scheduler delay as the Spark UI derives it, plus shuffle fetch wait
          val overhead = m.executorRunTime + m.executorDeserializeTime +
            m.resultSerializationTime
          a.waitMs += math.max(0L, info.duration - overhead) +
            m.shuffleReadMetrics.fetchWaitTime
          a.inputB += m.inputMetrics.bytesRead
          a.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          a.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Block until every job a call started has ended (listener events are
    * delivered asynchronously), or the timeout passes. */
  def awaitJobs(timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def pending = jobs.values.asScala.exists(_.end < 0)
    while (pending && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(200) // task and stage events trail the last job end
    !pending
  }

  /** Counters for one call whose span was [start, end] in epoch ms. */
  def counters(op: String, start: Long, end: Long): CallCounters = {
    val js = jobs.asScala.toSeq.collect {
      case (id, j) if j.op == op => (id, j.start, if (j.end < 0) end else j.end)
    }.sortBy(_._2)
    // union of job intervals clipped to the call's span
    var covered = 0L
    var cursor = start
    js.foreach { case (_, s, e) =>
      val lo = math.max(s, cursor)
      val hi = math.min(e, end)
      if (hi > lo) { covered += hi - lo; cursor = hi }
    }
    val a = acc.synchronized(acc.getOrElse(op, new Acc))
    val mb = 1024.0 * 1024.0
    a.synchronized {
      CallCounters(js.size, a.stages, a.tasks, covered / 1000.0,
        a.runMs / 1000.0, a.waitMs / 1000.0, a.inputB / mb,
        a.shuffleWriteB / mb, a.spillB / mb, js)
    }
  }
}

object Trace {
  val OpKey = "perfbench.op"
}
