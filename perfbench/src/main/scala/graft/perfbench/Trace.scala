package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.json4s._

import Main.{Exec, Pass}
import Trace.Span

/** The span tree of a traced run and its per-layer self time:
  * run → setup (session, index builds, warm-up) → pass → entry →
  * {build, write} → [micro-batch] → job → stage.
  */
final class Trace(procStart: Long, runEnd: Long,
    setupSpans: Seq[(String, String, Long, Long)], execs: Seq[Exec],
    passes: Seq[Pass]) {
  val spans = ArrayBuffer.empty[Span]
  private def add(parent: Int, kind: String, name: String, s: Long,
      e: Long): Int = {
    spans += Span(spans.size, parent, kind, name, s, math.max(s, e))
    spans.size - 1
  }
  private def within(sp: Span, t: Long) = t >= sp.start && t <= sp.end

  private val run = add(-1, "run", "run", procStart, runEnd)
  private val setup = add(run, "setup", "setup", procStart,
    (procStart +: setupSpans.map(_._4)).max)
  private def setupOf(kind: String) = setupSpans.filter(_._1 == kind)
  setupOf("session").foreach { case (k, n, s, e) => add(setup, k, n, s, e) }
  setupOf("index").foreach { case (k, n, s, e) => add(setup, k, n, s, e) }
  private val warmup = setupOf("pass").map { case (k, n, s, e) =>
    add(setup, k, n, s, e) }.headOption.getOrElse(setup)
  setupOf("warmup_call").foreach { case (k, n, s, e) => add(warmup, k, n, s, e) }
  setupOf("check").foreach { case (k, n, s, e) => add(warmup, k, n, s, e) }
  private val passIds = passes.map(p =>
    p.n -> add(run, "pass", s"pass${p.n}", p.start, p.end)).toMap +
    (0 -> warmup)

  private val (jobs, stages, batches) = Recorder.synchronized(
    (Recorder.jobs.toSeq, Recorder.stages.values.toSeq, Recorder.batches.toSeq))
  private val jobSpan = scala.collection.mutable.Map.empty[Int, Int]

  execs.foreach { e =>
    val entry = add(passIds.getOrElse(e.pass, warmup), "entry", e.name, e.start, e.end)
    val build = add(entry, "build", e.name, e.start, e.built)
    val write = add(entry, "write", e.name, e.built, e.end)
    val mb = batches.filter(b => within(spans(build), b.start)).map(b =>
      add(build, "microbatch", s"${e.name}#${b.batch}", b.start, b.start + b.trigger))
    jobs.filter(_.exec == e.id).foreach { j =>
      val parent = mb.find(m => j.batch.nonEmpty && within(spans(m), j.submit))
        .getOrElse(if (j.submit >= e.built) write else build)
      jobSpan(j.id) = add(parent, "job", s"job${j.id}", j.submit, j.end)
    }
  }
  // jobs outside any entry ran during set-up: index builds or session
  jobs.filter(_.exec < 0).foreach { j =>
    val parent = spans.filter(s => (s.kind == "index" || s.kind == "session") &&
      within(s, j.submit)).map(_.id).headOption.getOrElse(setup)
    jobSpan(j.id) = add(parent, "job", s"job${j.id}", j.submit, j.end)
  }
  stages.filter(s => s.submit >= 0 && jobSpan.contains(s.job)).foreach { s =>
    add(jobSpan(s.job), "stage", s"stage${s.id}", s.submit,
      if (s.complete < 0) s.submit else s.complete)
  }

  /** (layer, spans, total ms, self ms), in tree order. */
  def selfRows: Seq[(String, Int, Long, Long)] = {
    val children = spans.groupBy(_.parent)
    val kinds = spans.map(_.kind).distinct
    kinds.map { k =>
      val ofKind = spans.filter(_.kind == k)
      (k, ofKind.size, ofKind.map(s => s.end - s.start).sum,
        ofKind.map { s =>
          Stats.selfTime(s.start, s.end,
            children.getOrElse(s.id, Nil).map(c => (c.start, c.end)).toSeq)
        }.sum)
    }.toSeq
  }

  def selfTable: String =
    (f"${"layer"}%-12s ${"spans"}%7s ${"total_ms"}%10s ${"self_ms"}%10s" +:
      selfRows.map { case (k, c, t, s) => f"$k%-12s $c%7d $t%10d $s%10d" })
      .mkString("\n")

  def selfTableJson: JValue = JArray(selfRows.toList.map { case (k, c, t, s) =>
    JObject("layer" -> JString(k), "spans" -> JInt(c),
      "total_ms" -> JLong(t), "self_ms" -> JLong(s))
  })

  def spansJson: JValue = JArray(spans.toList.map { s =>
    JObject("id" -> JInt(s.id), "parent" -> JInt(s.parent),
      "kind" -> JString(s.kind), "name" -> JString(s.name),
      "start" -> JLong(s.start), "end" -> JLong(s.end))
  })
}

object Trace {
  final case class Span(id: Int, parent: Int, kind: String, name: String,
      start: Long, end: Long)
}
