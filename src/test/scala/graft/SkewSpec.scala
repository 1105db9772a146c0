package graft

import graft.engine.Skew
import org.apache.spark.sql.functions._

/** Salted two-phase aggregation: results must equal the direct
  * one-phase groupBy row for row (salt-invariance — every merge is
  * exact), the physical plan must contain TWO aggregation exchanges,
  * and a pathological hot key's phase-1 groups must be bounded by
  * ~total/buckets (the property that keeps one reducer from
  * serializing at 100 TB). */
class SkewSpec extends SparkTestBase {

  private def hotDf = {
    import spark.implicits._
    // one hot key with 50k rows, 9 cold keys with 100 each
    val hot = (0 until 50000).map(i => ("hot", i.toLong, (i % 997).toDouble))
    val cold = for (k <- 1 to 9; i <- 0 until 100)
      yield (s"k$k", (1000000L * k + i), i.toDouble)
    (hot ++ cold).toDF("key", "id", "v").repartition(8)
  }

  test("salted aggregate equals the direct groupBy exactly") {
    val df = hotDf
    val salted = Skew.saltedAggregate(df, Seq("key"),
      Seq(Skew.count("cnt"), Skew.sum_(col("id"), "id_sum"),
        Skew.min_(col("id"), "id_min"), Skew.max_(col("id"), "id_max"),
        Skew.avg_(col("id"), "id_avg")),
      buckets = 16)
    val direct = df.groupBy(col("key")).agg(
      count(lit(1)).as("cnt"), sum(col("id")).as("id_sum"),
      min(col("id")).as("id_min"), max(col("id")).as("id_max"),
      avg(col("id")).as("id_avg"))
    val a = salted.orderBy("key").collect().map(_.toString).toSeq
    val b = direct.orderBy("key").collect().map(_.toString).toSeq
    assert(a == b, s"salted=$a direct=$b")
    // and buckets=1 degenerates to the direct result too
    val one = Skew.saltedAggregate(df, Seq("key"),
      Seq(Skew.count("cnt")), buckets = 1).orderBy("key").collect()
    assert(one.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      direct.orderBy("key").collect().map(r => (r.getString(0), r.getLong(1))).toSeq)
  }

  test("phase-1 groups of a hot key are bounded by ~total/buckets") {
    val df = hotDf
    val buckets = 16
    // replicate phase 1's grouping to inspect the salt distribution
    val phase1 = df
      .withColumn("__salt", pmod(monotonically_increasing_id(), lit(buckets.toLong)))
      .groupBy(col("key"), col("__salt"))
      .agg(count(lit(1)).as("n"))
    val hotGroups = phase1.filter(col("key") === "hot").collect()
    assert(hotGroups.length == buckets) // the hot key spreads over every bucket
    val maxGroup = hotGroups.map(_.getAs[Long]("n")).max
    // monotonically_increasing_id is a per-partition counter, so the
    // spread is near-uniform: no (key, salt) group may hold more than
    // 2x the fair share
    assert(maxGroup <= 2L * 50000 / buckets, s"max group $maxGroup")
  }

  test("the plan has two aggregation exchanges (salted then final)") {
    val df = hotDf
    val salted = Skew.saltedAggregate(df, Seq("key"),
      Seq(Skew.count("cnt")), buckets = 8)
    salted.collect()
    // input repartition + salted exchange + final exchange
    assert(countExchanges(salted.queryExecution.executedPlan) >= 2,
      salted.queryExecution.executedPlan.toString)
  }

  test("validation: empty keys/aggs and duplicate names are rejected") {
    val df = hotDf
    intercept[IllegalArgumentException] {
      Skew.saltedAggregate(df, Nil, Seq(Skew.count("c")))
    }
    intercept[IllegalArgumentException] {
      Skew.saltedAggregate(df, Seq("key"), Nil)
    }
    intercept[IllegalArgumentException] {
      Skew.saltedAggregate(df, Seq("key"),
        Seq(Skew.count("c"), Skew.sum_(col("id"), "c")))
    }
  }
}
