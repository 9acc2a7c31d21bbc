package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft process builds its session and scopes a
  * conf: every main calls [[local]], and every temporary conf flip in
  * the engine goes through [[withConf]]. */
object Session {

  /** The local session the mains run on: `local[cpus]` with one
    * shuffle partition per core, UTC, no UI and WARN logging. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with the given session confs set, then put every key
    * back to its prior value — unset when it had none — also when
    * `body` throws. The flip is session-global while `body` runs. */
  def withConf[T](spark: SparkSession, kv: (String, String)*)(body: => T): T = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
