package graftbench

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.store.{KeyedTable, WriteMode}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}

/** Client-side model of a keyed table: one map from PK to row, plus an
  * array of live keys for seeded random picks.  Rows are canonical
  * vectors (timestamps as epoch micros) so Spark rows compare by `==`. */
final class Model[K](keyOf: Vector[Any] => K) {
  val rows = mutable.HashMap.empty[K, Vector[Any]]
  private val keys = mutable.ArrayBuffer.empty[K]
  private val slot = mutable.HashMap.empty[K, Int]

  def put(r: Vector[Any]): Unit = {
    val k = keyOf(r)
    if (!rows.contains(k)) { slot(k) = keys.size; keys += k }
    rows(k) = r
  }

  def remove(k: K): Unit = rows.remove(k).foreach { _ =>
    val i = slot.remove(k).get
    val last = keys.remove(keys.size - 1)
    if (i < keys.size) { keys(i) = last; slot(last) = i }
  }

  def size: Int = rows.size
  def randomKey(rng: Random): K = keys(rng.nextInt(keys.size))

  /** `n` distinct live keys. */
  def sample(rng: Random, n: Int): Seq[K] = {
    val picked = mutable.LinkedHashSet.empty[K]
    while (picked.size < n) picked += randomKey(rng)
    picked.toSeq
  }

  /** Order-independent hash of the whole table. */
  def hash: Long = rows.valuesIterator.map(Model.rowHash).sum
}

object Model {
  def canon(r: Row): Vector[Any] = r.toSeq.iterator.map {
    case t: Timestamp => Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
    case v => v
  }.toVector

  def toRow(v: Vector[Any], schema: StructType): Row = Row.fromSeq(
    v.zip(schema.fields).map {
      case (us: Long, f) if f.dataType == TimestampType =>
        val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
        t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
        t
      case (x, _) => x
    })

  def rowHash(r: Vector[Any]): Long = scala.util.hashing.MurmurHash3.seqHash(r).toLong
}

/** `oltp`: the orders table (PK o_orderkey, 32 buckets) under small,
  * driver-bound calls.  Every round runs the same 20 ops in the same
  * order (`Round`): 11 point reads, 4 range reads of 256 keys, an
  * upsert of 100 rows (50 existing keys, 50 new) through the locked
  * verb and at once another through its optimistic twin, one append of
  * 100 new keys, one delete of 5 keys, and a compact last.  Append and
  * delete take the locked verb in even rounds and the optimistic twin
  * in odd ones.  The seed picks the data, keys and values, never the
  * op order, so runs differ in inputs but not in the work they do.
  *
  * Set-up builds the table `Main.SetupReps` times (the last copy is the one
  * the run works on).  Every read is checked against the model after
  * its timer stops; a committing verb updates the model only when it
  * succeeds. */
final class Oltp(c: Ctx) extends Workload {
  import c._
  import Oltp._

  val table = "orders"
  val pk = Seq("o_orderkey")
  val src: DataFrame = spark.read.parquet(s"$data/orders.parquet")
    .withColumn("o_orderdate", col("o_orderdate").cast("timestamp"))
  val schema: StructType = src.schema
  val model = new Model[Long](_(0).asInstanceOf[Long])
  val rng = new Random(seed * 1000003L + 17)
  val mismatches = mutable.ArrayBuffer.empty[(Int, String)]
  /** Files and bytes each commit of a traced run added to the table
    * directory (listed outside the op's timer). */
  val fileDeltas = mutable.HashMap.empty[Int, (Int, Long)]
  private var nextKey = -1L

  def tableDir: Path = Paths.get(KeyedTable.tableDir(warehouse, table))

  def setup(): Seq[Double] = {
    val times = (1 to Main.SetupReps).map { i =>
      val name = if (i == Main.SetupReps) table else s"${table}_setup$i"
      val t0 = System.nanoTime()
      KeyedTable.toSql(src, warehouse, name, pk = pk, buckets = Buckets)
      (System.nanoTime() - t0) / 1e9
    }
    src.collect().foreach(r => model.put(Model.canon(r)))
    nextKey = model.rows.keysIterator.max + 1
    times
  }

  def round(r: Int): Unit = {
    val locked = Math.floorMod(r, 2) == 0
    Round.foreach {
      case 'P' =>
        val k = model.randomKey(rng)
        read("point", r, k, k)
      case 'R' =>
        val lo = model.randomKey(rng)
        read("range", r, lo, lo + RangeWidth - 1)
      case 'U' => Seq(true, false).foreach { lockedTwin =>
        val rows = model.sample(rng, 50).map(newRow) ++ Seq.fill(50)(newRow(freshKey()))
        commit("upsert", lockedTwin, r, rows)(
          KeyedTable.toSql(_, warehouse, table, pk = pk, how = WriteMode.Upsert),
          KeyedTable.upsertConcurrent(_, warehouse, table))
      }
      case 'A' =>
        commit("append", locked, r, Seq.fill(100)(newRow(freshKey())))(
          KeyedTable.toSql(_, warehouse, table, pk = pk, how = WriteMode.Append),
          KeyedTable.appendConcurrent(_, warehouse, table))
      case 'D' => delete(locked, r, model.sample(rng, 5))
      case 'C' => measuredWrite("compact", "", r, 0L)(
        tr.span("commit")(KeyedTable.compact(spark, warehouse, table, minFiles = 2)))
    }
  }

  private def newRow(k: Long): Vector[Any] = Vector(k, rng.nextInt(150000).toLong,
    Status(rng.nextInt(3)), math.round(rng.nextDouble() * 49900000 + 100000) / 100.0,
    (9131L + rng.nextInt(2404)) * 86400000000L, Prio(rng.nextInt(5)))

  private def freshKey(): Long = { nextKey += 1; nextKey - 1 }

  private def check(op: OpRec, ok: Boolean, what: => String): Unit =
    if (op.ok && !ok) mismatches += op.id -> s"${op.kind}: $what"

  /** A readSql call over [lo, hi] plus full materialisation, checked
    * against the model. */
  private def read(kind: String, r: Int, lo: Long, hi: Long): Unit = {
    val (op, got) = tr.op(kind, "read", "", r) {
      val df = tr.span("resolve")(KeyedTable.readSql(spark, warehouse, table, Seq(lo), Seq(hi)))
      tr.span("exec")(df.collect())
    }(_.length.toLong)
    got.foreach { rows =>
      val want = (lo to hi).flatMap(model.rows.get)
      check(op, rows.length == want.size && rows.map(Model.canon).toSet == want.toSet, s"[$lo, $hi]")
    }
  }

  /** A committing verb: `locked` picks the locked verb or its
    * optimistic twin.  The model takes the rows only on success. */
  private def commit(kind: String, locked: Boolean, r: Int, rows: Seq[Vector[Any]])
                    (lockedCall: DataFrame => Unit, optimisticCall: DataFrame => Unit): Unit = {
    val df = spark.createDataFrame(rows.map(Model.toRow(_, schema)).asJava, schema)
    measuredWrite(kind, if (locked) "locked" else "optimistic", r, rows.size) {
      tr.span("commit")(if (locked) lockedCall(df) else optimisticCall(df))
    }._2.foreach(_ => rows.foreach(model.put))
  }

  private def delete(locked: Boolean, r: Int, keys: Seq[Long]): Unit = {
    val where: Column = col("o_orderkey").isin(keys: _*)
    val (op, n) = measuredWrite("delete", if (locked) "locked" else "optimistic", r, 0L) {
      tr.span("commit")(
        if (locked) KeyedTable.delete(spark, warehouse, table, where)
        else KeyedTable.deleteConcurrent(spark, warehouse, table, where))
    }
    n.foreach { got =>
      keys.foreach(model.remove)
      check(op, got == keys.size, s"deleted $got rows, model says ${keys.size}")
    }
  }

  private def measuredWrite[A](kind: String, mode: String, r: Int, rowsIn: Long)(body: => A): (OpRec, Option[A]) = {
    val before = if (tr.traceRun) dataFiles() else Map.empty[String, Long]
    val family = if (kind == "compact") "maint" else "write"
    val (op, res) = tr.op(kind, family, mode, r, rowsIn)(body)(_ => 0L)
    if (tr.traceRun) {
      val added = dataFiles() -- before.keys
      fileDeltas(op.id) = (added.size, added.values.sum)
    }
    (op, res)
  }

  /** Parquet files under the table directory, path -> bytes. */
  private def dataFiles(): Map[String, Long] = {
    val s = Files.walk(tableDir)
    try s.iterator().asScala.filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }

  /** Full read of the table against the model: row count and an
    * order-independent hash; returns end-of-run figures. */
  def finish(): Map[String, Any] = {
    val all = KeyedTable.readSql(spark, warehouse, table).collect().map(Model.canon)
    val hash = all.iterator.map(Model.rowHash).sum
    if (all.length != model.size || hash != model.hash)
      mismatches += -1 -> s"final read: ${all.length} rows hash $hash, model ${model.size} rows hash ${model.hash}"
    val liveFiles = KeyedTable.bucketStats(spark, warehouse, table).agg(sum("n_files")).head().getLong(0)
    Map("live_rows" -> model.size, "stored_bytes" -> JvmSnap.dirBytes(tableDir), "live_files" -> liveFiles)
  }
}

object Oltp {
  val Buckets = 32
  val RangeWidth = 256L
  /** One round: P point read, R range read, U the upsert pair (locked,
    * then optimistic), A append, D delete, C compact. */
  val Round = "PPRPUPRPPDPRPAPPRPC"
  private val Status = Vector("O", "P", "F")
  private val Prio = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
}
