package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.Session.withConf
import graft.streaming.Streams

/** The shared session/conf/stream helpers: [[Session.withConf]] puts
  * every key back however `body` ends, and [[Streams.drain]] runs
  * every available batch with its partition pin scoped to the stream. */
class SessionSpec extends SparkSpec {

  private val Key = "spark.sql.shuffle.partitions"

  test("withConf restores a key that was set before") {
    withConf(spark, Key -> "3") {
      withConf(spark, Key -> "7") {
        assert(spark.conf.get(Key) === "7")
      }
      assert(spark.conf.get(Key) === "3")
    }
  }

  test("withConf unsets a key that was absent before") {
    val absent = "graft.spec.absentKey"
    assert(spark.conf.getOption(absent).isEmpty)
    val seen = withConf(spark, absent -> "on")(spark.conf.get(absent))
    assert(seen === "on")
    assert(spark.conf.getOption(absent).isEmpty)
  }

  test("withConf restores after body throws") {
    val before = spark.conf.get(Key)
    val e = intercept[IllegalStateException] {
      withConf(spark, Key -> "5") {
        assert(spark.conf.get(Key) === "5")
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage === "boom")
    assert(spark.conf.get(Key) === before)
  }

  test("drain runs every batch of a 2-file arrival dir and leaves " +
      "shuffle.partitions at its prior value") {
    import spark.implicits._
    val root = Files.createTempDirectory("drain_spec")
    val arrivals = Files.createDirectory(root.resolve("arrivals"))
    // one flat parquet file per arrival, the file-source shape
    for ((name, ids) <- Seq("a" -> Seq(1L, 2L, 3L), "b" -> Seq(4L, 5L))) {
      val staging = root.resolve(s"staging_$name")
      ids.toDF("id").coalesce(1).write.parquet(staging.toString)
      val part = Files.list(staging).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, arrivals.resolve(s"$name.parquet"))
    }
    val stream = spark.readStream.schema("id LONG")
      .option("maxFilesPerTrigger", 1)
      .option("pathGlobFilter", "*.parquet")
      .parquet(arrivals.toString)
    val batches = mutable.ArrayBuffer[(Long, Seq[Long], String)]()
    withConf(spark, Key -> "3") {
      Streams.drain(stream, root.resolve("ckpt").toString) {
        (batch: DataFrame, id: Long) =>
          batches += ((id,
            batch.select(col("id")).as[Long].collect().toSeq.sorted,
            batch.sparkSession.conf.get(Key)))
      }
      assert(spark.conf.get(Key) === "3")
    }
    assert(batches.map(_._1) === Seq(0L, 1L))
    assert(batches.flatMap(_._2).sorted === Seq(1L, 2L, 3L, 4L, 5L))
    assert(batches.map(_._3).distinct === Seq("4"),
      "each batch must run under the stream's pinned partition count")
  }
}
