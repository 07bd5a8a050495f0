package graft.store

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Shuffle-free inner PK join of two keyed tables that share a bucket
  * count (and PK column types): rows of bucket `i` on both sides are
  * guaranteed co-located because both tables cluster by
  * `pmod(xxhash64(pk...), buckets)`, so the join needs NO exchange of
  * either table — the property that makes repeated fact↔fact joins on
  * the same key affordable at 100 TB.
  *
  * Planned as a Catalyst storage-partitioned join: both sides read
  * through [[KeyedTableSource]], whose scan reports
  * `KeyGroupedPartitioning(identity(pb_bucket))`, and the join
  * condition includes `pb_bucket` equality (implied by PK equality —
  * the bucket is a deterministic function of the PK), so
  * EnsureRequirements zips the bucket partitions directly. Unlike the
  * previous RDD `zipPartitions` tier this stays inside normal physical
  * planning: whole-stage codegen, AQE, and a spillable sort-merge join
  * (no in-memory hash build of a whole right bucket — the `merge` hint
  * keeps the plan spill-safe for skewed/large buckets).
  *
  * Output: left columns + right non-PK columns (right-side name
  * collisions suffixed `_r`).
  */
object PkJoin {

  def pkJoin(spark: SparkSession, warehouse: String,
             leftTable: String, rightTable: String): DataFrame = {
    val lDir = KeyedTable.tableDir(warehouse, leftTable)
    val rDir = KeyedTable.tableDir(warehouse, rightTable)
    val lm = TableMeta.read(spark, lDir)
    val rm = TableMeta.read(spark, rDir)
    val lb = Manifest.current(spark, lDir).buckets
    val rb = Manifest.current(spark, rDir).buckets
    require(lb == rb,
      s"bucket counts differ: $lb vs $rb — co-partitioned join needs equal clustering")
    require(lm.pk.length == rm.pk.length,
      s"composite PK arity differs: ${lm.pk} vs ${rm.pk}")
    val lTypes = lm.pk.map(c => lm.schema(c).dataType)
    val rTypes = rm.pk.map(c => rm.schema(c).dataType)
    require(lTypes == rTypes,
      s"PK types differ ($lTypes vs $rTypes) — xxhash64 bucketing is type-sensitive")

    // storage-partitioned join is gated off by default; the sets are
    // idempotent and session-scoped. The second relaxes the exact-match
    // rule so a partition key that is a SUBSET of the join keys
    // ([pb_bucket] ⊂ [pk…, pb_bucket]) still co-partitions.
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")

    val l = KeyedTableSource.read(spark, warehouse, leftTable)
    val r = KeyedTableSource.read(spark, warehouse, rightTable)
    val cond: Column = lm.pk.zip(rm.pk)
      .map { case (a, b) => l(a) === r(b) }
      .reduce(_ && _) && l(KeyedTable.BucketCol) === r(KeyedTable.BucketCol)
    val joined = l.hint("merge").join(r, cond, "inner")

    val leftNames = lm.schema.fieldNames.toSet
    val outCols: Seq[Column] =
      lm.schema.fieldNames.toIndexedSeq.map(n => l(n)) ++
        rm.schema.fields.toIndexedSeq
          .filterNot(f => rm.pk.contains(f.name))
          .map { f =>
            if (leftNames.contains(f.name)) r(f.name).as(f.name + "_r") else r(f.name)
          }
    joined.select(outCols: _*)
  }
}
