package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the program, plus a SparkListener
  * whose events are attributed to those spans afterwards.
  *
  * One client thread issues one call at a time, so each job, stage and task
  * belongs to the innermost span that was open when it started. Attribution
  * is by wall-clock time (listener events carry `System.currentTimeMillis`
  * stamps); thread-local job properties are not used because the engine's
  * `Par` pool threads can carry stale ones.
  *
  * Spans are kept in memory and written when the benchmark ends.
  */
final class Tracer {
  import Tracer._

  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  private var traceId = 0

  /** A root span: one op (a pipeline pass, a tick, a query). */
  def op[T](kind: String, name: String)(f: => T): T = {
    traceId += 1
    span("op." + kind, name)(f)
  }

  /** A span around one call into `layer`'s public function `name`. */
  def span[T](layer: String, name: String)(f: => T): T = {
    nextId += 1
    val parent = stack.headOption
    val s = Span(nextId, parent.map(_.id).getOrElse(0), traceId, layer, name,
      System.currentTimeMillis(), System.nanoTime())
    stack = s :: stack
    try f
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      done += s
    }
  }

  def spans: Seq[Span] = done.toSeq.sortBy(_.id)
}

object Tracer {

  final case class Span(id: Int, parent: Int, trace: Int, layer: String,
      name: String, startMs: Long, startNs: Long) {
    var endMs: Long = -1L
    var endNs: Long = -1L
    def isOp: Boolean = layer.startsWith("op.")
    def durS: Double = (endNs - startNs) / 1e9
  }

  final case class Job(id: Int, startMs: Long, stageIds: Seq[Int])
  final case class Stage(id: Int, attempt: Int, submitMs: Long)
  final case class Task(stageId: Int, stageAttempt: Int, launchMs: Long,
      finishMs: Long, ok: Boolean, cpuNs: Long, gcMs: Long, shuffleBytes: Long,
      inputBytes: Long, outputBytes: Long)

  /** Records raw scheduler events; all analysis happens after the run. */
  final class Recorder extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[Job]()
    val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val tasks = new ConcurrentLinkedQueue[Task]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.add(Job(e.jobId, e.time, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnds.add(e.jobId -> e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      val i = e.stageInfo
      stages.add(Stage(i.stageId, i.attemptNumber(),
        i.submissionTime.getOrElse(System.currentTimeMillis())))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = Option(e.taskMetrics)
      tasks.add(Task(e.stageId, e.stageAttemptId, e.taskInfo.launchTime,
        e.taskInfo.finishTime, e.reason == Success,
        m.map(_.executorCpuTime).getOrElse(0L),
        m.map(_.jvmGCTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        m.map(_.outputMetrics.bytesWritten).getOrElse(0L)))
    }

    /** Listener events arrive asynchronously, in order: wait until the end of
      * the window's closing marker job `mark1` has arrived, every job started
      * after the opening marker `mark0` has ended, and no new event arrived
      * for a short quiet period.
      */
    def drain(mark0: Int, mark1: Int, timeoutMs: Long = 10000L): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      var last = -1
      var quietSince = System.currentTimeMillis()
      while (System.currentTimeMillis() < deadline) {
        val n = jobs.size + jobEnds.size + stages.size + tasks.size
        if (n != last) { last = n; quietSince = System.currentTimeMillis() }
        val ended = jobEnds.asScala.map(_._1).toSet
        if (ended(mark1) && jobs.asScala.forall(j => j.id <= mark0 || ended(j.id)) &&
            System.currentTimeMillis() - quietSince > 300) return
        Thread.sleep(50)
      }
    }
  }

  /** Per-layer totals over one traced window. */
  final class LayerTotals {
    var selfS = 0.0
    var jobs = 0L
    var stages = 0L
    var noTaskS = 0.0
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var inputBytes = 0L
    var outputBytes = 0L
  }

  final case class Analysis(
      layers: Map[String, LayerTotals],
      lateJobs: Long,
      jobsOutsideSpans: Long,
      failedTasks: Long,
      totalJobs: Long,
      rootWallS: Double,
      selfSumS: Double)

  private type Iv = (Long, Long)

  /** Sorted, merged union of intervals. */
  private def union(ivs: Iterable[Iv]): Vector[Iv] =
    ivs.filter(i => i._2 > i._1).toVector.sortBy(_._1)
      .foldLeft(Vector.empty[Iv]) { (acc, i) =>
        acc.lastOption match {
          case Some((s, e)) if i._1 <= e => acc.init :+ (s -> math.max(e, i._2))
          case _ => acc :+ i
        }
      }

  /** Length of `iv` covered by the sorted, merged `cover`. */
  private def covered(iv: Iv, cover: Vector[Iv]): Long =
    cover.iterator.map { case (s, e) =>
      math.max(0L, math.min(e, iv._2) - math.max(s, iv._1))
    }.sum

  /** `iv` minus the merged `holes`. */
  private def minus(iv: Iv, holes: Vector[Iv]): Vector[Iv] = {
    val out = Vector.newBuilder[Iv]
    var cur = iv._1
    holes.foreach { case (s, e) =>
      if (e > cur && s < iv._2) {
        if (s > cur) out += (cur -> s)
        cur = math.max(cur, e)
      }
    }
    if (cur < iv._2) out += (cur -> iv._2)
    out.result()
  }

  /** Attribute the recorder's events to `spans`. `mark0` and `mark1` are the
    * ids of the zero-task marker jobs that open and close the window: only
    * jobs after `mark0` (other than `mark1`) and their stages and tasks count.
    * Events of earlier jobs can still reach a listener registered just before
    * the window, because the listener bus delivers queued events late.
    */
  def analyze(spans: Seq[Span], rec: Recorder, mark0: Int, mark1: Int): Analysis = {
    val byId = spans.map(s => s.id -> s).toMap
    def depth(s: Span): Int = if (s.parent == 0) 0 else 1 + depth(byId(s.parent))
    val depths = spans.map(s => s.id -> depth(s)).toMap
    val children = spans.groupBy(_.parent)

    // innermost span open at wall time t (ties: the later-started one)
    def spanAt(t: Long): Option[Span] = {
      val open = spans.filter(s => s.startMs <= t && t <= s.endMs)
      if (open.isEmpty) None
      else Some(open.maxBy(s => (depths(s.id), s.startMs, s.id)))
    }

    val layers = mutable.LinkedHashMap.empty[String, LayerTotals]
    def totals(layer: String) = layers.getOrElseUpdate(layer, new LayerTotals)

    // self time from interval coverage (not subtraction), so a child that
    // leaks outside its parent or overlaps a sibling breaks the integrity
    // identity root wall == sum of self times
    val selfNs = spans.map { s =>
      val kids = union(children.getOrElse(s.id, Nil)
        .map(c => math.max(c.startNs, s.startNs) -> math.min(c.endNs, s.endNs)))
      s.id -> ((s.endNs - s.startNs) - kids.map(k => k._2 - k._1).sum)
    }.toMap
    val selfMs = spans.map { s =>
      s.id -> minus(s.startMs -> s.endMs,
        union(children.getOrElse(s.id, Nil).map(c => c.startMs -> c.endMs)))
    }.toMap

    val taskBusy = union(rec.tasks.asScala.map(t => t.launchMs -> t.finishMs))
    spans.filterNot(_.isOp).foreach { s =>
      val t = totals(s.layer)
      t.selfS += selfNs(s.id) / 1e9
      t.noTaskS += selfMs(s.id).map(iv => (iv._2 - iv._1) - covered(iv, taskBusy)).sum / 1e3
    }

    val jobEnd = rec.jobEnds.asScala.toMap
    var late = 0L
    var outside = 0L
    val jobs = rec.jobs.asScala.filter(j => j.id > mark0 && j.id != mark1)
    val windowStages = jobs.flatMap(_.stageIds).toSet
    jobs.foreach { j =>
      spanAt(j.startMs) match {
        case None => outside += 1; late += 1
        case Some(s) =>
          if (!s.isOp) totals(s.layer).jobs += 1
          if (jobEnd.get(j.id).exists(_ > s.endMs)) late += 1
      }
    }
    val stageLayer = mutable.Map.empty[(Int, Int), String]
    rec.stages.asScala.filter(st => windowStages(st.id)).foreach { st =>
      spanAt(st.submitMs).filterNot(_.isOp).foreach { s =>
        totals(s.layer).stages += 1
        stageLayer((st.id, st.attempt)) = s.layer
      }
    }
    var failedTasks = 0L
    rec.tasks.asScala.filter(t => windowStages(t.stageId)).foreach { t =>
      if (!t.ok) failedTasks += 1
      stageLayer.get((t.stageId, t.stageAttempt)).foreach { l =>
        val x = totals(l)
        x.taskMs += t.finishMs - t.launchMs
        x.cpuNs += t.cpuNs
        x.gcMs += t.gcMs
        x.shuffleBytes += t.shuffleBytes
        x.inputBytes += t.inputBytes
        x.outputBytes += t.outputBytes
      }
    }
    val roots = spans.filter(_.parent == 0)
    Analysis(layers.toMap, late, outside, failedTasks, jobs.size.toLong,
      roots.map(_.durS).sum, selfNs.values.sum / 1e9)
  }
}
