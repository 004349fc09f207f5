package perfbench

import scala.collection.mutable

/** One timed region around a call into an engine layer. `parent` is the
  * enclosing span (-1 at top level); spans of one client request share
  * `request`. Times are `System.nanoTime` readings.
  */
final case class Span(id: Int, name: String, parent: Int, request: Int,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark work of one job, summed over its stages' tasks. */
final case class JobStats(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                          cpuNs: Long = 0, gcMs: Long = 0,
                          inputBytes: Long = 0, outputBytes: Long = 0,
                          shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
                          spillBytes: Long = 0) {
  def +(o: JobStats): JobStats = JobStats(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, cpuNs + o.cpuNs, gcMs + o.gcMs, inputBytes + o.inputBytes,
    outputBytes + o.outputBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    shuffleReadBytes + o.shuffleReadBytes, spillBytes + o.spillBytes)
}

/** Span recorder for the single closed-loop client thread. Spans stay in
  * memory and are written once, at exit. `onEnter` is told the innermost
  * open span after every open and close (the harness publishes it as a
  * Spark local property so the listener can attribute jobs).
  */
final class Tracer(val enabled: Boolean, onEnter: Int => Unit = _ => ()) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.ArrayBuffer.empty[(Int, String, Int, Long)]
  private var nextId = 0
  private var request = 0

  def newRequest(): Unit = request += 1

  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = if (open.isEmpty) -1 else open.last._1
      open += ((id, name, parent, System.nanoTime()))
      onEnter(id)
      try f
      finally {
        val (_, n, p, t0) = open.remove(open.length - 1)
        done += Span(id, n, p, request, t0, System.nanoTime())
        onEnter(if (open.isEmpty) -1 else open.last._1)
      }
    }

  def spans: Seq[Span] = done.sortBy(_.id).toSeq
}

object Trace {

  /** Self time of every span: its duration minus the part of it that the
    * union of its direct children covers (children are clipped to the
    * parent, and overlapping children are counted once).
    */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** The span a Spark job belongs to. `tagged` is the span id the
    * submitting thread published; it is used when that span was open at
    * the job's submission time `atNs`. Otherwise (a job submitted from a
    * pool thread that carries a stale or no tag, such as the background
    * writes of `IndexBuilder.build`) the job falls back to the innermost
    * span open at submission time. -1 when no span was open. Spark stamps
    * jobs in whole milliseconds, so a tag is accepted within `slackNs` of
    * its span.
    */
  def attribute(spans: Seq[Span], byId: Map[Int, Span], atNs: Long,
                tagged: Option[Int], slackNs: Long = 1000000L): Int = {
    def openAt(s: Span) = s.startNs <= atNs && atNs <= s.endNs
    tagged.flatMap(byId.get)
      .filter(s => s.startNs - slackNs <= atNs && atNs <= s.endNs + slackNs) match {
      case Some(s) => s.id
      case None =>
        val cands = spans.filter(openAt)
        if (cands.isEmpty) -1 else cands.maxBy(_.startNs).id
    }
  }

  /** Total Spark work attributed to each span, children excluded. */
  def statsBySpan(spans: Seq[Span], jobs: Seq[(Long, Option[Int], JobStats)]): Map[Int, JobStats] = {
    val byId = spans.map(s => s.id -> s).toMap
    jobs.groupMapReduce { case (at, tag, _) => attribute(spans, byId, at, tag) }(_._3)(_ + _)
  }

  /** Spark work of every span whose name satisfies `p`, including the work
    * attributed to its descendants.
    */
  def statsUnder(spans: Seq[Span], own: Map[Int, JobStats], p: String => Boolean): JobStats = {
    val kids = spans.groupBy(_.parent)
    def sub(s: Span): JobStats =
      kids.getOrElse(s.id, Nil).foldLeft(own.getOrElse(s.id, JobStats()))(_ + sub(_))
    spans.filter(s => p(s.name)).map(sub).foldLeft(JobStats())(_ + _)
  }

  def toJson(spans: Seq[Span], own: Map[Int, JobStats]): String = {
    val self = selfNs(spans)
    spans.map { s =>
      val j = own.getOrElse(s.id, JobStats())
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"request":${s.request},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${self(s.id)},""" +
        s""""jobs":${j.jobs},"stages":${j.stages},"tasks":${j.tasks},""" +
        s""""shuffle_write_bytes":${j.shuffleWriteBytes},"spill_bytes":${j.spillBytes}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
