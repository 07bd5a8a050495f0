package graftbench

import graft.SparkEntry
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}

/** `analytics`: a fixed list of SparkEntry queries over the source
  * parquet, in full passes with the noop sink as graft.Bench runs them.
  * It never touches the store, so it is the control for store work.
  * The first warm-up pass writes every result as parquet with the
  * query's DuckDB oracle SQL beside it (`results/`), which run.py
  * compares; every timed pass counts its rows through an Observation,
  * and run.py checks them against that pass. */
final class AnalyticsRun(c: Ctx) extends Workload {
  import c._

  val mismatches = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
  private val fns = SparkEntry.queries

  /** Set-up is building and planning the TPC-H queries' frames: the
    * driver work done before the first row is produced.  (The LLM
    * operators run Spark jobs while they build their frames; that work
    * is part of every pass, so it is timed there.) */
  def setup(): Seq[Double] = (1 to Main.SetupReps).map { _ =>
    val t0 = System.nanoTime()
    AnalyticsRun.Tpch.foreach(n => fns(n)(spark, data).queryExecution.executedPlan)
    (System.nanoTime() - t0) / 1e9
  }

  /** A warm-up pass (negative `p`) writes every result for the oracle
    * check; a timed pass sends them to the noop sink. */
  def round(p: Int): Unit = if (p < 0) {
    AnalyticsRun.Names.foreach { n =>
      fns(n)(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$work/results/$n")
    }
    val oracle = AnalyticsRun.Names.map(n => n -> SparkEntry.oracleSql(n)).toMap
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/results/oracle_sql.json"),
      Json(oracle))
  } else AnalyticsRun.Names.foreach { n =>
    tr.op(n, "query", "", p) {
      val df = tr.span("resolve")(fns(n)(spark, data))
      val obs = Observation()
      tr.span("exec")(df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save())
      obs.get("n").asInstanceOf[Long]
    }(identity)
  }

  def finish(): Map[String, Any] = Map.empty
}

object AnalyticsRun {
  val Tpch = Seq("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q6_forecast_revenue", "q9_product_profit", "q13_order_distribution",
    "q18_large_volume", "q21_waiting_suppliers")
  val Llm = Seq("dedup_minhash_lsh", "dedup_exact", "dedup_spans")
  val Names: Seq[String] = Tpch ++ Llm
}
