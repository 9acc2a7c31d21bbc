package graft

/** Dev-loop plan inspection: `ExplainOne <sfDir> <name>...` — prints
  * each named query's formatted physical plan (the 100 TB audit
  * surface: exchanges, reused exchanges, pushed filters, codegen
  * spans). Not part of the driver contract. */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args.drop(1)
    val spark = Session.local(graft.io.Config.fromEnv.int("SPARK_GRAFT_CPUS", 32))
    names.foreach { name =>
      println(s"===== $name =====")
      SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
