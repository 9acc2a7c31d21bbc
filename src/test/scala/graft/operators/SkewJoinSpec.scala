package graft.operators

import graft.Session.withConf
import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Auto-skew join: flagging arithmetic, salted-path replication,
  * plain-path plan purity, and result-invariance vs the unsalted
  * join. */
class SkewJoinSpec extends SparkSpec {

  import spark.implicits._

  private def bigSkewed = {
    // key 7 holds 1000 of 1060 rows (heavily over 2x the mean of
    // ~18); keys 0-59 hold one row each
    val hot = (0 until 1000).map(i => (7L, i.toLong))
    val cold = (0 until 60).map(i => (i.toLong, i.toLong + 10000))
    (hot ++ cold).toDF("k", "payload")
  }

  private def smallDim =
    (0L until 61L).map(k => (k, s"dim_$k")).toDF("dk", "name")

  test("salted join result is identical to the plain join") {
    val plain = bigSkewed.join(smallDim, col("k") === col("dk"))
      .groupBy(col("name")).agg(count(lit(1)).as("n"),
        sum(col("payload")).as("s"))
      .collect().map(_.toSeq).toSet
    val salted = SkewJoin.autoSalted(bigSkewed, "k", smallDim, "dk",
        salts = 4)
      .groupBy(col("name")).agg(count(lit(1)).as("n"),
        sum(col("payload")).as("s"))
      .collect().map(_.toSeq).toSet
    assert(salted === plain)
  }

  test("only flagged keys replicate: small side grows by (salts-1) x |heavy|") {
    // key 7 flags (1000 * 61 keys > 2 * 1060 rows); nothing else can
    val replicated = SkewJoin.saltedForKeys(
      bigSkewed.select(col("k")), "k",
      smallDim, "dk", heavyKeys = Seq(7L), salts = 4)
    // every big row meets exactly one replica -> join cardinality
    // equals the plain join's
    assert(replicated.count() ===
      bigSkewed.join(smallDim, col("k") === col("dk")).count())
    // hot-key big rows actually spread across >1 salt (content hash)
    val spread = SkewJoin.saltedForKeys(
        bigSkewed, "k", smallDim, "dk", heavyKeys = Seq(7L), salts = 4)
      .filter(col("k") === 7L)
      .select(countDistinct(pmod(hash(struct(col("k"), col("payload"))),
        lit(4))))
      .head().getLong(0)
    assert(spread > 1, s"hot key must fan over salts, spread=$spread")
  }

  test("uniform input takes the plain join path: no Generate, no salt") {
    val uniform = (0L until 300L).map(k => (k % 60, k)).toDF("k", "payload")
    val j = SkewJoin.autoSalted(uniform, "k", smallDim, "dk", salts = 4)
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      s"unflagged path must not explode the small side:\n$plan")
    assert(!j.columns.contains("__salt"))
    assert(j.count() === 300L)
  }

  test("timestamp keys tag natively: flagged key salts instead of " +
      "silently degrading to the unsalted path") {
    // JVM Timestamp.toString ("2024-01-01 00:00:00.0") differs from
    // Spark's cast-to-string ("2024-01-01 00:00:00"): a string-matched
    // tag table would never tag a timestamp key, so the hot key would
    // keep its single reducer. The native-type tag must produce a
    // Generate (small-side replication) AND the identical result set.
    val hotTs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val coldTs = (1 to 20).map(d =>
      java.sql.Timestamp.valueOf(f"2024-02-$d%02d 00:00:00"))
    val big = ((0 until 500).map(i => (hotTs, i.toLong)) ++
      coldTs.map(t => (t, 0L))).toDF("k", "payload")
    val dim = (hotTs +: coldTs).map(t => (t, s"d_$t")).toDF("dk", "name")
    val j = SkewJoin.autoSalted(big, "k", dim, "dk", salts = 4)
    assert(j.queryExecution.executedPlan.toString.contains("Generate"),
      "flagged timestamp key did not reach the salted path")
    val plain = big.join(dim, col("k") === col("dk"))
      .groupBy(col("name")).agg(count(lit(1)).as("n"))
      .collect().map(_.toSeq).toSet
    val salted = j.groupBy(col("name")).agg(count(lit(1)).as("n"))
      .collect().map(_.toSeq).toSet
    assert(salted === plain)
  }

  test("AQE off: salted result still identical to the plain join " +
      "(the non-AQE-engine fallback the doc claims)") {
    withConf(spark, "spark.sql.adaptive.enabled" -> "false") {
      val plain = bigSkewed.join(smallDim, col("k") === col("dk"))
        .groupBy(col("name")).agg(count(lit(1)).as("n"),
          sum(col("payload")).as("s"))
        .collect().map(_.toSeq).toSet
      val salted = SkewJoin.autoSalted(bigSkewed, "k", smallDim, "dk",
          salts = 4)
        .groupBy(col("name")).agg(count(lit(1)).as("n"),
          sum(col("payload")).as("s"))
        .collect().map(_.toSeq).toSet
      assert(salted === plain)
    }
  }

  test("flagging respects the exact integer cross-multiply predicate") {
    // mean = 300/60 = 5; a key at exactly 2x the mean (10) must NOT
    // flag (strict >); 11 must
    val edge = ((0 until 10).map(_ => (1L, 0L)) ++
      (0 until 11).map(_ => (2L, 0L)) ++
      (0L until 49L).map(k => (k + 10L, 0L))).toDF("k", "payload")
    // n_rows = 70, n_keys = 51, mean ~1.37; both 10 and 11 flag here,
    // so build the exact boundary instead: cnt * n_keys == 2 * n_rows
    val boundary = ((0 until 4).map(_ => (1L, 0L)) ++
      Seq((2L, 0L), (3L, 0L))).toDF("k", "payload")
    // n_rows = 6, n_keys = 3: key 1 has cnt 4 -> 4*3 = 12 == 2*6 ->
    // NOT heavy (strict); verify via the plain-path plan
    val j = SkewJoin.autoSalted(boundary, "k", smallDim, "dk", salts = 4)
    assert(!j.queryExecution.executedPlan.toString.contains("Generate"))
  }
}
