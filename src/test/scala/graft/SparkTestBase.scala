package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole forked test JVM. */
object SparkTestSession {
  lazy val spark: SparkSession = Sessions.build(cpus = 4, app = "graft-test")
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** events fixture: (user, tsMs, event, device, value) with the
    * standard column names the engine expects. */
  def eventsDf(rows: Seq[(Long, Long, String, String, Double)]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    rows.toDF("user_id", "ts_ms", "event_type", "device", "value")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withColumn("event_id", monotonically_increasing_id())
      .drop("ts_ms")
  }

  def collectMap(df: DataFrame, keyCol: String, valCol: String): Map[Any, Any] =
    df.collect().map(r => r.getAs[Any](keyCol) -> r.getAs[Any](valCol)).toMap

  /** The shuffle exchanges of a physical plan — after an action, the
    * final adaptive plan's, since AQE hides materialized exchanges
    * inside leaf query stages. */
  def shuffleExchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = p match {
    case a: AdaptiveSparkPlanExec => shuffleExchanges(a.executedPlan)
    case s: QueryStageExec => shuffleExchanges(s.plan)
    case e: ShuffleExchangeLike => e +: e.children.flatMap(shuffleExchanges)
    case other => other.children.flatMap(shuffleExchanges)
  }

  def countExchanges(p: SparkPlan): Int = shuffleExchanges(p).size
}
