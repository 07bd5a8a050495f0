package graft

/** Gate rows that register a catalog or materialize a result must leave
  * the session as they found it: `graft.Bench` runs every row in one
  * session, pass after pass, so a cached block or a registered
  * `spark.sql.catalog.graft_gate_*` entry left by one row lives through
  * every later row and pass. */
class GateStateSpec extends SparkSpec {

  private val rows = Seq("pb_tag", "pb_meta_tables", "pb_agg_pushdown",
    "pb_namespace", "pb_stream_sink", "pb_stream_upsert_sink")

  for (row <- rows) test(s"$row leaves no cached data and no gate catalog") {
    spark.catalog.clearCache() // blocks other suites may have left
    val out = PbQueries.queries(row)(spark, sfDir)
    assert(out.collect().nonEmpty)
    assert(spark.sharedState.cacheManager.isEmpty, "cached data left behind")
    val left = spark.conf.getAll.keys.filter(_.startsWith("spark.sql.catalog.graft_gate_"))
    assert(left.isEmpty, s"catalog conf left behind: ${left.mkString(", ")}")
  }
}
