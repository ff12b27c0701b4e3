package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.nio.file.{Files, Path, StandardOpenOption}
import scala.collection.mutable

/** One span around a call into a graft module. Times are epoch ms (so they
  * line up with Spark's job events) plus nanoTime for the wall figure.
  * `pass` is the measured pass (or stream step) the span belongs to; set-up
  * spans carry a negative pass. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startMs: Long, startNs: Long,
                      var endMs: Long = -1L, var endNs: Long = -1L) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Measures of one span, inclusive of its descendants. `taskSkew` is the
  * max task time over the median task time of the span's longest stage. */
final case class Measures(wallS: Double, selfS: Double, noJobS: Double, jobs: Int,
                          taskCpuS: Double, shuffleWriteMb: Double, spillMb: Double,
                          taskSkew: Double)

private final class JobRec(val startMs: Long, val spanId: Int) {
  var endMs: Long = -1L
}

private final class StageRec {
  var jobKey: Long = -1L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val runMs = mutable.ArrayBuffer[Long]()
}

/**
 * Spans recorded by the harness around each call into the program, with
 * the Spark work those calls caused. Every span runs under a job group of
 * its own; a SparkListener keys each job on that group, so a span is
 * charged with the jobs, task CPU, shuffle writes and spills its call
 * started. A streaming query's thread sets its own job group (the query's
 * run id); [[alias]] charges those jobs to the named span that was open
 * when the job started.
 *
 * Lazy DataFrames are charged to the span of the first action that
 * executes them, not to the span of the call that defined them.
 *
 * Spans stay in memory and are written as JSONL once the run ends. While
 * `enabled` is false, [[span]] runs its body with no span and no job group,
 * which is how the harness times the same work untraced.
 */
final class Tracer(val runId: String) {
  @volatile var enabled = true
  private val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.HashMap[Long, JobRec]()
  private val stages = mutable.HashMap[Long, StageRec]()
  private val groupToSpan = mutable.HashMap[String, Int]()
  private val aliases = mutable.HashMap[String, String]()
  private var epoch = 0L
  private var sc: SparkContext = _
  private var listener: SparkListener = _
  @volatile private var lastEventNs = System.nanoTime()
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  private val GroupKey = "spark.jobGroup.id"
  private val DescKey = "spark.job.description"
  private val InterruptKey = "spark.job.interruptOnCancel"

  /** Starts listening to `context`. Job and stage ids restart with every
    * SparkContext, so records are keyed on (attach epoch, id). */
  def attach(context: SparkContext): Unit = synchronized {
    epoch += 1
    val ep = epoch << 32
    sc = context
    listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
        lastEventNs = System.nanoTime()
        val group = Option(e.properties).map(_.getProperty(GroupKey)).orNull
        jobs(ep | e.jobId) = new JobRec(e.time, spanOfJob(group, e.time))
        e.stageIds.foreach { s =>
          val r = stages.getOrElseUpdate(ep | s, new StageRec)
          if (r.jobKey < 0) r.jobKey = ep | e.jobId
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
        lastEventNs = System.nanoTime()
        jobs.get(ep | e.jobId).foreach(_.endMs = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
        lastEventNs = System.nanoTime()
        val m = e.taskMetrics
        if (m != null) {
          val r = stages.getOrElseUpdate(ep | e.stageId, new StageRec)
          r.cpuNs += m.executorCpuTime
          r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          r.spillBytes += m.diskBytesSpilled
          r.runMs += m.executorRunTime
        }
      }
    }
    context.addSparkListener(listener)
  }

  /** Waits for the listener to receive the events of every job run so
    * far, then stops listening. */
  def detach(): Unit = {
    drain()
    synchronized { if (sc != null) sc.removeSparkListener(listener); sc = null }
  }

  /** Waits until every started job has ended and no event came for 300 ms. */
  def drain(timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = synchronized {
      jobs.valuesIterator.forall(_.endMs >= 0) &&
        System.nanoTime() - lastEventNs > 300L * 1000000L
    }
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
  }

  /** Jobs whose group is `group` are charged to the open span named `spanName`. */
  def alias(group: String, spanName: String): Unit = synchronized { aliases(group) = spanName }

  private def spanOfJob(group: String, atMs: Long): Int =
    if (group == null) -1
    else groupToSpan.getOrElse(group, aliases.get(group).flatMap { n =>
      spans.reverseIterator.find(s => s.name == n && s.startMs <= atMs &&
        (s.endMs < 0 || s.endMs >= atMs)).map(_.id)
    }.getOrElse(-1))

  /** Id of the innermost span open on this thread, or -1. */
  def current: Int = stack.get.headOption.getOrElse(-1)

  /** Runs `body` inside a span named `name`, under a job group of its own. */
  def span[T](name: String, pass: Int, parent: Int = -2)(body: => T): T =
    if (!enabled) body
    else {
      val s = synchronized {
        val sp = Span(spans.size, name, if (parent == -2) current else parent, pass,
          System.currentTimeMillis(), System.nanoTime())
        spans += sp
        groupToSpan(group(sp.id)) = sp.id
        sp
      }
      val saved = Seq(GroupKey, DescKey, InterruptKey).map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(group(s.id), name, interruptOnCancel = false)
      stack.set(s.id :: stack.get)
      try body
      finally {
        stack.set(stack.get.tail)
        saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        synchronized { s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis() }
      }
    }

  private def group(id: Int) = s"perfbench-$runId-$id"

  def all: Seq[Span] = synchronized(spans.filter(_.endNs >= 0).toList)

  /** Measure of the union of half-open intervals, in ms. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Ids of span `id` and of every span below it. */
  def descendants(id: Int): Set[Int] = synchronized {
    val out = mutable.Set(id)
    var grew = true
    while (grew) {
      val more = spans.filter(s => out.contains(s.parent) && !out.contains(s.id)).map(_.id)
      grew = more.nonEmpty
      out ++= more
    }
    out.toSet
  }

  def measures(s: Span): Measures = synchronized {
    val ids = descendants(s.id)
    val js = jobs.iterator.filter(j => ids.contains(j._2.spanId)).toSeq
    val jobKeys = js.map(_._1).toSet
    val st = stages.valuesIterator.filter(r => jobKeys.contains(r.jobKey)).toSeq
    val jobMs = union(js.map { case (_, j) =>
      (math.max(j.startMs, s.startMs), math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs))
    }.filter(x => x._2 > x._1))
    val childMs = union(spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)).toSeq)
    val skew = st.filter(_.runMs.size >= 2).maxByOption(_.runMs.sum).map { r =>
      val sorted = r.runMs.sorted
      sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L)
    }.getOrElse(1.0)
    val wall = s.wallS
    Measures(wall, math.max(wall - childMs / 1e3, 0.0), math.max(wall - jobMs / 1e3, 0.0),
      js.size, st.map(_.cpuNs).sum / 1e9, st.map(_.shuffleWriteBytes).sum / 1048576.0,
      st.map(_.spillBytes).sum / 1048576.0, skew)
  }

  /** Writes a header line, then one JSON line per finished span: name,
    * start, end, parent, run id and its measures. */
  def writeJsonl(path: Path, header: String): Unit = {
    val lines = header +: all.map { s =>
      val m = measures(s)
      Json.obj(Seq("run_id" -> Json.str(runId), "span_id" -> s.id.toString,
        "name" -> Json.str(s.name), "parent" -> s.parent.toString, "pass" -> s.pass.toString,
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "wall_s" -> Json.num(m.wallS), "self_s" -> Json.num(m.selfS),
        "no_job_s" -> Json.num(m.noJobS), "jobs" -> m.jobs.toString,
        "task_cpu_s" -> Json.num(m.taskCpuS), "shuffle_write_mb" -> Json.num(m.shuffleWriteMb),
        "spill_mb" -> Json.num(m.spillMb), "task_skew" -> Json.num(m.taskSkew)))
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path, lines.mkString("", "\n", "\n"),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }
}

/** Minimal JSON rendering for the harness's flat records. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

object Tracer {
  val LazyNote = "lazy DataFrames charge their execution to the span of the first action that runs them"
}
