package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `req` groups the spans of one request;
  * wall-clock ms bounds attribute Spark jobs, nanoTime gives durations. */
final case class Span(id: Long, parent: Long, name: String, req: Long,
                      startMs: Long, endMs: Long, durNs: Long)

/** Task metrics of one stage, as the listener saw its tasks end. */
final class StageAgg {
  var tasks = 0
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val durations = ArrayBuffer.empty[Long]
  val intervals = ArrayBuffer.empty[(Long, Long)]
}

/** Counts jobs, tasks, shuffle, spill and GC. Jobs are attributed to
  * spans afterwards by submission time: every workload has a single
  * caller, so the innermost span open when a job was submitted is the call
  * that caused it, even when the engine submits from its own thread pools. */
final class Listener extends SparkListener {
  val jobTimes = new ConcurrentHashMap[Int, Long]()
  val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
  val stages = new ConcurrentHashMap[Int, StageAgg]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobTimes.put(e.jobId, e.time)
    jobStages.put(e.jobId, e.stageInfos.map(_.stageId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stages.computeIfAbsent(e.stageId, _ => new StageAgg)
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      a.durations += e.taskInfo.duration
      a.intervals += (e.taskInfo.launchTime -> e.taskInfo.finishTime)
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }
}

/** What the jobs of a set of spans cost. */
final case class Usage(jobs: Int, tasks: Int, runMs: Long, gcMs: Long,
                       shuffleWrite: Long, spill: Long,
                       intervals: Seq[(Long, Long)], stageDurations: Seq[Seq[Long]]) {
  /** Wall inside [startMs, endMs] during which no task of these jobs ran. */
  def idleMs(startMs: Long, endMs: Long): Long = {
    var covered = 0L
    var curS = -1L
    var curE = -1L
    intervals.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    covered += curE - curS
    math.max(0L, endMs - startMs - covered)
  }

  /** max ÷ median task time of the stage with the longest task. */
  def skew: Double = stageDurations.filter(_.nonEmpty).maxByOption(_.max).map { d =>
    d.max / math.max(1.0, Stats.median(d.map(_.toDouble)))
  }.getOrElse(0.0)
}

/** Spans around calls into the engine's layers. While `on` is false a
  * span is only its body, so untraced loops pay nothing; the listener is
  * registered only in a traced run. Spans stay in memory until the run
  * ends. */
final class Tracer(sc: SparkContext, traced: Boolean) {
  @volatile var on = false
  /** Request id given to spans opened from now on. */
  @volatile var request = 0L
  private val spans = ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[Long] { override def initialValue(): Long = 0L }
  private var nextId = 0L
  val listener = new Listener
  if (traced) sc.addSparkListener(listener)

  def span[T](name: String)(f: => T): T =
    if (!on) f
    else {
      val parent = current.get
      val id = synchronized { nextId += 1; nextId }
      current.set(id)
      val ms0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try f
      finally {
        val dur = System.nanoTime() - t0
        current.set(parent)
        synchronized { spans += Span(id, parent, name, request, ms0, System.currentTimeMillis(), dur) }
      }
    }

  def all: Seq[Span] = synchronized(spans.toSeq)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Innermost span open at each job's submission. */
  private lazy val jobOwner: Map[Int, Long] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val ss = all
    listener.jobTimes.asScala.toMap.flatMap { case (job, t) =>
      ss.filter(s => s.startMs <= t && t <= s.endMs).maxByOption(_.startMs).map(job -> _.id)
    }
  }

  private def descendants(roots: Set[Long]): Set[Long] = {
    val byParent = all.groupBy(_.parent)
    var out = roots
    var frontier = roots
    while (frontier.nonEmpty) {
      frontier = frontier.flatMap(p => byParent.getOrElse(p, Nil).map(_.id)) -- out
      out ++= frontier
    }
    out
  }

  /** Jobs submitted under any span named `name`, children included. */
  def usage(name: String): Usage = {
    val ids = descendants(named(name).map(_.id).toSet)
    val jobs = jobOwner.collect { case (j, s) if ids(s) => j }.toSeq
    val stageAggs = jobs.flatMap(j => listener.jobStages.getOrDefault(j, Nil))
      .distinct.flatMap(s => Option(listener.stages.get(s)))
    Usage(jobs.size, stageAggs.map(_.tasks).sum, stageAggs.map(_.runMs).sum,
      stageAggs.map(_.gcMs).sum, stageAggs.map(_.shuffleWrite).sum, stageAggs.map(_.spill).sum,
      stageAggs.flatMap(_.intervals), stageAggs.map(_.durations.toSeq))
  }

  /** Self time per span name (span minus its children), and the root's
    * wall: the ladder of everything traced under `root`. */
  def ladder(root: String): (Double, Seq[(String, Double)]) = {
    val ss = all
    val rootSpans = ss.filter(_.name == root)
    val inside = descendants(rootSpans.map(_.id).toSet)
    val childNs = ss.filter(s => inside(s.parent)).groupBy(_.parent)
      .map { case (p, cs) => p -> cs.map(_.durNs).sum }
    val self = ss.filter(s => inside(s.id))
      .map(s => s.name -> math.max(0L, s.durNs - childNs.getOrElse(s.id, 0L)) / 1e9)
      .groupMapReduce(_._1)(_._2)(_ + _)
    (rootSpans.map(_.durNs).sum / 1e9, self.toSeq.sortBy(-_._2))
  }

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.id).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","req":${s.req},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"dur_ns":${s.durNs}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.asJava)
  }
}
