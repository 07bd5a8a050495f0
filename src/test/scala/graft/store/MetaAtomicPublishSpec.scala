package graft.store

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The meta file is the ONE store file rewritten in place across its
  * life — [[TableMeta.write]] must publish each rewrite atomically so a
  * LOCK-FREE reader (readSql, describe, catalog listings — none take
  * the write lock) can never observe a torn, truncated, or empty
  * `_graft_meta.json`. This spec hammers the local (`file`) scheme —
  * the progressive-visibility storage where the old truncate-in-place
  * write was torn-readable — with concurrent rewrites and raw
  * filesystem readers: every observed byte string must parse to one of
  * the two complete states, never a prefix. */
class MetaAtomicPublishSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("a", StringType),
    StructField("b", DoubleType)))

  private def metaA = TableMeta(Seq("id"), autoIndex = false, schema)
  private def metaB = TableMeta(Seq("id"), autoIndex = false, schema,
    statsCols = Seq("a", "b"), checks = Map("b_pos" -> "b > 0"),
    renames = Map("bb" -> "b"))

  test("concurrent meta rewrites vs lock-free raw readers: every read " +
       "is one complete state, never torn/empty; no temp debris") {
    val dir = Files.createTempDirectory("graft-meta-atomic").toString
    val p = TableMeta.path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    TableMeta.write(spark, dir, metaA)
    val jsonA = metaA.toJson
    val jsonB = metaB.toJson

    val done = new AtomicBoolean(false)
    val start = new CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pool = Executors.newFixedThreadPool(4)
    // writer: 400 alternating rewrites through the public API
    pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try (0 until 400).foreach { i =>
          TableMeta.write(spark, dir, if (i % 2 == 0) metaB else metaA)
        } catch { case e: Throwable => errs.add(e): Unit }
        finally done.set(true)
      }
    })
    // raw readers: open + read-to-EOF via the Hadoop fs (bypassing the
    // driver cache entirely) — exactly what a foreign JVM would see
    (0 until 2).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          try while (!done.get()) {
            val in = fs.open(p)
            val s = try {
              val buf = new java.io.ByteArrayOutputStream()
              val chunk = new Array[Byte](8192)
              var n = in.read(chunk)
              while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
              buf.toString("UTF-8")
            } finally in.close()
            assert(s == jsonA || s == jsonB,
              s"torn meta read (${s.length} bytes): $s")
            TableMeta.fromJson(s): Unit // and it parses
          } catch { case e: Throwable => errs.add(e): Unit }
        }
      })
    }
    // cached-API reader: the mtime-validated read must also never fail
    pool.submit(new Runnable {
      def run(): Unit = {
        start.await()
        try while (!done.get()) {
          val m = TableMeta.read(spark, dir)
          assert(m.toJson == jsonA || m.toJson == jsonB)
        } catch { case e: Throwable => errs.add(e): Unit }
      }
    })
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS))
    assert(errs.isEmpty, s"reader/writer failed: ${errs.peek()}")
    // the final state is one of the two complete images…
    val finalMeta = TableMeta.read(spark, dir)
    assert(finalMeta.toJson == jsonA || finalMeta.toJson == jsonB)
    // …and no `.tmp-meta-*` staging debris survives the storm
    assert(!fs.listStatus(new Path(dir))
      .exists(_.getPath.getName.startsWith(".tmp-meta-")))
  }

  test("rename round-trips survive the atomic publish: full meta field " +
       "set (renames/checks/statsCols/dropped) re-reads exactly") {
    val dir = Files.createTempDirectory("graft-meta-fields").toString
    val m = TableMeta(Seq("id"), autoIndex = true, schema,
      maxAutoIndex = Some(41L), changelog = true,
      statsCols = Seq("b"), dropped = Seq("old_col"),
      checks = Map("c1" -> "b > 0"), optimisticDml = true,
      renames = Map("bb" -> "b"))
    TableMeta.write(spark, dir, m)
    assert(TableMeta.read(spark, dir) == m)
    // rewrite (the in-place-replace path, not first create) round-trips too
    val m2 = m.copy(maxAutoIndex = Some(99L), renames = Map.empty)
    TableMeta.write(spark, dir, m2)
    assert(TableMeta.read(spark, dir) == m2)
  }
}
