package graft
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Dev-loop job/stage profiler: `ProfileOne <sfDir> <name>...` — runs
  * each named query once warm (after one untimed pass) and prints a
  * per-job and per-stage wall-time breakdown, so "where do the 4.7 s
  * go" is answered with scheduler facts instead of guesses. Not part
  * of the driver contract. */
object ProfileOne {
  private case class StageRec(id: Int, name: String, tasks: Int,
      details: String = "", ops: String = "",
      var launch: Long = -1L, var done: Long = -1L)

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val spark = Session.local(graft.io.Config.fromEnv.int("SPARK_GRAFT_CPUS", 32))
    val jobs = mutable.ArrayBuffer[(Int, Long, Long, Seq[Int])]()
    val stages = mutable.Map[Int, StageRec]()
    val jobStart = mutable.Map[Int, (Long, Seq[Int])]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart(e.jobId) = (e.time, e.stageIds)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobStart.remove(e.jobId).foreach { case (t0, sids) =>
          jobs += ((e.jobId, t0, e.time, sids)) }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
        val i = e.stageInfo
        // operator scopes of the stage's RDD graph (dedup'd, plan
        // order): identifies WHAT an AQE stage computes — the
        // callsite `details` of AQE-materialized stages only show
        // the scheduler's CompletableFuture frames
        val ops = i.rddInfos.sortBy(_.id).flatMap(_.scope)
          .map(_.name).distinct.mkString(" <- ")
        stages(i.stageId) = StageRec(i.stageId, i.name, i.numTasks,
          details = i.details, ops = ops,
          launch = System.currentTimeMillis())
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.get(e.stageInfo.stageId).foreach(
          _.done = System.currentTimeMillis())
    })
    names.foreach { name =>
      // warm pass: session one-time costs (codegen compiler, JIT,
      // parquet footers) land outside the profiled window
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      jobs.clear(); stages.clear(); jobStart.clear()
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // brief pause for listener-bus drain so late events are counted
      Thread.sleep(300)
      println(f"===== $name warm total $dt%.3f s, ${jobs.size} jobs, ${stages.size} stages =====")
      val t0ms = jobs.map(_._2).minOption.getOrElse(0L)
      var prevEnd = t0ms
      jobs.sortBy(_._2).foreach { case (jid, js, je, sids) =>
        val gap = js - prevEnd
        prevEnd = math.max(prevEnd, je)
        val sdesc = sids.flatMap(stages.get).map { s =>
          val ms = if (s.done > 0 && s.launch > 0) s.done - s.launch else -1L
          s"s${s.id}:${s.tasks}t/${ms}ms"
        }.mkString(" ")
        println(f"  job $jid%3d +${js - t0ms}%6dms dur ${je - js}%6dms gap $gap%5dms  $sdesc")
      }
      // top stages by wall time
      val byDur = stages.values.filter(s => s.done > 0)
        .toSeq.sortBy(s => -(s.done - s.launch)).take(12)
      println("  -- slowest stages --")
      byDur.foreach { s =>
        println(f"  stage ${s.id}%3d ${s.done - s.launch}%6dms ${s.tasks}%3dt  ${s.name.take(110)}")
        // first non-spark frame of the submission callsite — the
        // generic future/codegen frames never identify the operator;
        // when no graft/Spec frame exists (AQE-materialized stages),
        // fall back to the operator scopes, then the first line
        val frame = s.details.linesIterator.find(l =>
          l.contains("graft.") || l.contains("Spec.scala"))
          .orElse(Option(s.ops).filter(_.nonEmpty))
          .orElse(s.details.linesIterator.buffered.headOption)
          .getOrElse("?")
        println(s"            at ${frame.trim.take(160)}")
      }
    }
    spark.stop()
  }
}
