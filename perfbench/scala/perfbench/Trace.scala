package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans around the benchmark's calls into each engine layer, kept in
  * memory and written once at the end. A span's id travels to Spark as
  * a local property, so every job (and its stages and tasks) is
  * attributed to the innermost span that launched it. Disabled, a span
  * is just its body. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val originNs = System.nanoTime()
  val counters = new Counters

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
        spans += Span(id, name, parent, t0 - originNs, t1 - originNs)
      }
    }

  def tracedIterations: Int = math.max(1, spans.count(_.name == "iteration"))

  def seconds(name: String): Double =
    spans.filter(_.name == name).map(s => s.endNs - s.startNs).sum / 1e9

  private lazy val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap

  /** Span `id` and its ancestors, innermost first. */
  private def lineage(id: Int): Iterator[Span] =
    Iterator.iterate(byId.get(id))(_.flatMap(s => byId.get(s.parent)))
      .takeWhile(_.isDefined).map(_.get)

  /** True when span `id` is, or descends from, a span named `name`. */
  private def under(id: Int, name: String): Boolean =
    lineage(id).exists(_.name == name)

  /** Spark work launched inside spans named `name`. */
  def spark(name: String): Agg = counters.synchronized {
    val jobs = counters.jobs.values.filter(j => under(j.span, name)).toSeq
    val tasks = counters.tasks.filter(t => under(t.span, name)).toSeq
    Agg(jobs, tasks)
  }

  /** The `spark.*` layer, per traced iteration, plus per-op rows. */
  def sparkLayer(iters: Seq[Driver.IterRec], ops: Seq[Driver.OpRec],
      cores: Int): Map[String, Any] = {
    val n = tracedIterations
    val all = spark("iteration")
    val wall = iters.map(_.seconds).sum
    val busyS = all.tasks.map(_.durMs).sum / 1000.0
    val gapS = ops.map(o => gapMs(o, all.jobs)).sum / 1000.0
    val skews = all.tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.durMs.toDouble).sorted
      d.last / math.max(1.0, d(d.size / 2))
    }.toSeq.sorted
    Map(
      "spark.jobs" -> all.jobs.size.toDouble / n,
      "spark.stages" -> all.tasks.map(_.stage).distinct.size.toDouble / n,
      "spark.tasks" -> all.tasks.size.toDouble / n,
      "spark.driver_gap_s" -> gapS / n,
      "spark.task_busy_s" -> busyS / n,
      "spark.core_util" -> (if (wall > 0) busyS / (wall * cores) else 0.0),
      "spark.task_skew" -> (if (skews.isEmpty) 1.0 else skews(skews.size / 2)),
      "spark.shuffle_read_bytes" -> all.tasks.map(_.shuffleRead).sum.toDouble / n,
      "spark.shuffle_write_bytes" -> all.tasks.map(_.shuffleWrite).sum.toDouble / n,
      "spark.spill_bytes" -> all.tasks.map(_.spill).sum.toDouble / n,
      "spark.gc_s" -> all.tasks.map(_.gcMs).sum / 1000.0 / n,
      "op_rows" -> opRows(all.jobs))
  }

  /** Op wall time during which none of its jobs was running. */
  private def gapMs(op: Driver.OpRec, jobs: Seq[Job]): Double = {
    val iv = jobs.filter(j => j.endMs >= op.startMs && j.submitMs <= op.endMs)
      .map(j => (math.max(j.submitMs, op.startMs), math.min(j.endMs, op.endMs)))
      .sortBy(_._1)
    var covered = 0L; var reach = op.startMs
    iv.foreach { case (s, e) =>
      val from = math.max(s, reach)
      if (e > from) { covered += e - from; reach = e }
    }
    math.max(0.0, (op.endMs - op.startMs - covered).toDouble)
  }

  /** One row per traced op: its phase split and its Spark work. */
  private def opRows(jobs: Seq[Job]): Seq[Map[String, Any]] =
    spans.filter(_.name.startsWith("op:")).toSeq.map { op =>
      val kids = spans.filter(_.parent == op.id)
      val phases = kids.groupBy(_.name).map { case (k, v) =>
        (k + "_ms") -> v.map(s => (s.endNs - s.startNs) / 1e6).sum }
      val mine = jobs.filter(j => lineage(j.span).exists(_.id == op.id))
      Map[String, Any]("op" -> op.name.stripPrefix("op:"),
        "ms" -> (op.endNs - op.startNs) / 1e6, "jobs" -> mine.size) ++ phases
    }

  def writeSpans(path: Path): Unit = {
    val rows = spans.sortBy(_.id).map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_us" -> s.startNs / 1000, "end_us" -> s.endNs / 1000))
    Files.writeString(path, Json.render(rows))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
      endNs: Long)
  final case class Job(span: Int, submitMs: Long, var endMs: Long)
  final case class Task(span: Int, stage: Int, durMs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, spill: Long, outputBytes: Long)
  final case class Agg(jobs: Seq[Job], tasks: Seq[Task]) {
    def outputBytes: Long = tasks.map(_.outputBytes).sum
  }

  /** Jobs, stages and tasks of spanned work, from the listener bus. */
  final class Counters extends SparkListener {
    val jobs = mutable.Map.empty[Int, Job]
    val tasks = mutable.ArrayBuffer.empty[Task]
    private val stageSpan = mutable.Map.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).foreach { sp =>
          jobs(e.jobId) = Job(sp, e.time, e.time)
          e.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, sp))
        }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (sp <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics))
        tasks += Task(sp, e.stageId, e.taskInfo.duration, m.jvmGCTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    }
  }
}

/** Minimal JSON rendering for the driver's outputs. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
