package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Wall clock in milliseconds with sub-millisecond resolution, on the same
  * epoch as Spark's listener timestamps (which are `currentTimeMillis`). */
object Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

/** One traced call into a layer's public function. `trace` is the id
  * shared by the spans of the operation the call belongs to. */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
                      start: Double, end: Double, thread: String)

/** In-memory span recorder. Off by default: with tracing off, [[span]]
  * is a field read and a call of `body`. Spans are written out once,
  * when the run ends. */
object Trace {
  @volatile var on: Boolean = false

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val stack = new ThreadLocal[List[(Int, Int)]] {
    override def initialValue(): List[(Int, Int)] = Nil
  }

  private val opTrace = new ThreadLocal[Int] {
    override def initialValue(): Int = 0
  }

  /** Start an operation on this thread: the spans it opens without a
    * parent share the returned trace id (0 when tracing is off). */
  def begin(): Int = {
    val t = if (on) ids.incrementAndGet() else 0
    opTrace.set(t)
    t
  }

  def end(): Unit = opTrace.set(0)

  /** The innermost open span of this thread as (id, trace), for handing
    * to work that runs on another thread. */
  def current: Option[(Int, Int)] = stack.get.headOption

  /** Time `body` as a span named `name`, a child of `parent` or of the
    * innermost open span of this thread. */
  def span[A](name: String, parent: Option[(Int, Int)] = None)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val par = parent.orElse(current)
      val (pid, tid) = par.getOrElse((0, if (opTrace.get != 0) opTrace.get else id))
      val saved = stack.get
      stack.set((id, tid) :: saved)
      val t0 = Clock.ms()
      try body
      finally {
        spans.add(Span(id, pid, tid, name, t0, Clock.ms(), Thread.currentThread().getName))
        stack.set(saved)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

final case class StageRec(id: Int, var tasks: Int = 0, taskMs: mutable.ArrayBuffer[Double] =
                            mutable.ArrayBuffer.empty, var cpuNs: Long = 0L, var gcMs: Long = 0L,
                          var shuffleBytes: Long = 0L, var spillBytes: Long = 0L,
                          var inputBytes: Long = 0L, var start: Double = 0, var end: Double = 0)

final case class JobRec(id: Int, start: Double, var end: Double, stages: Seq[Int])

/** The benchmark's own listener: job intervals and per-stage task
  * totals, attributed to operations later by time window. */
final class BenchListener extends SparkListener {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, -1, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val st = stages.getOrElseUpdate(info.stageId, StageRec(info.stageId))
    st.start = info.submissionTime.map(_.toDouble).getOrElse(0)
    st.end = info.completionTime.map(_.toDouble).getOrElse(0)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, StageRec(e.stageId))
    st.tasks += 1
    st.taskMs += (e.taskInfo.finishTime - e.taskInfo.launchTime).toDouble
    val m = e.taskMetrics
    if (m != null) {
      st.cpuNs += m.executorCpuTime
      st.gcMs += m.jvmGCTime
      st.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      st.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      st.inputBytes += m.inputMetrics.bytesRead
    }
  }
}
