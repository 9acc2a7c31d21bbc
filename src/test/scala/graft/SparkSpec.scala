package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (created once per test JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared; JVM exit cleans up

  /** Assert the frame plans NO corpus-shuffling join (sort-merge or
    * shuffled-hash) — the bounded-broadcast plan contract several
    * operators carry. AQE is disabled for a deterministic plan and
    * the prior value restored; the frame is by-name so its physical
    * planning happens inside the AQE-off window. */
  protected def assertBroadcastOnly(
      df: => org.apache.spark.sql.DataFrame, what: String): Unit = {
    import org.apache.spark.sql.execution.joins.{
      ShuffledHashJoinExec, SortMergeJoinExec}
    Session.withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty &&
        plan.collect { case j: ShuffledHashJoinExec => j }.isEmpty,
        s"corpus-shuffling join inside $what:\n$plan")
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
