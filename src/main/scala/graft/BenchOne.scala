package graft

/** Dev-loop timing of individual queries: `BenchOne <sfDir> <name>...`
  * — times each named query (cold, in-session) and prints one line per
  * query. Not part of the driver contract. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val spark = Session.local(graft.io.Config.fromEnv.int("SPARK_GRAFT_CPUS", 32))
    names.foreach { name =>
      // noop write, not count(): count() lets the optimizer prune
      // aggregate work and eliminate unique-key outer joins, so it
      // under-measures digest queries (see Bench.once).
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      // no row count: a second action would re-execute the whole query
      // (and replay side effects for the benchExclusions shapes)
      println(f"TIMING $name $dt%.2f s")
    }
    spark.stop()
  }
}
