package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Ctx(spark: SparkSession, tr: Tracer, data: String, work: String, seed: Long) {
  val warehouse = s"$work/warehouse"
}

trait Workload {
  /** Builds the workload's state `Main.SetupReps` times; returns each
    * time in s. */
  def setup(): Seq[Double]
  /** One round of the workload's fixed op list; warm-up rounds are
    * negative. */
  def round(r: Int): Unit
  /** End-of-run checks; returns end-of-run figures. */
  def finish(): Map[String, Any]
  def mismatches: scala.collection.Seq[(Int, String)]
}

/** Process-level figures at the start and the end of the timed phase:
  * heap and the rest after a full GC, and GC time so far, read so that
  * the snapshots' own full GCs fall outside the phase. */
final case class JvmSnap(gcMs: Long, heapMb: Double, rdds: Int, threads: Int, tmpBytes: Long)

object JvmSnap {
  /** Bytes of the regular files under `dir`; files that vanish while it
    * is walked (Spark cleans shuffle files in the background) count 0. */
  def dirBytes(dir: java.nio.file.Path): Long = {
    var total = 0L
    if (Files.isDirectory(dir))
      Files.walkFileTree(dir, new java.nio.file.SimpleFileVisitor[java.nio.file.Path] {
        override def visitFile(f: java.nio.file.Path, a: java.nio.file.attribute.BasicFileAttributes) = {
          if (a.isRegularFile) total += a.size
          java.nio.file.FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: java.nio.file.Path, e: java.io.IOException) =
          java.nio.file.FileVisitResult.CONTINUE
      })
    total
  }

  def take(spark: SparkSession, work: String, start: Boolean): JvmSnap = {
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
    val before = gcMs
    System.gc()
    val gc = if (start) gcMs else before
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val tmp = Seq("tmp", "spark-local").map(d => dirBytes(Paths.get(work, d))).sum
    JvmSnap(gc, heap, spark.sparkContext.getPersistentRDDs.size,
      ManagementFactory.getThreadMXBean.getThreadCount, tmp)
  }
}

/** One benchmark run in a fresh JVM:
  * `--workload oltp|analytics --seed N --data DIR --work DIR
  *  --rounds N --trace 0|1 --out FILE`.
  * Writes the raw op log, set-up times and (traced) per-layer metrics
  * to FILE; run.py turns them into the benchmark's result line. */
object Main {
  val Cores = 4
  val SetupReps = 3
  val WarmupRounds = 1

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = a("work")
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.log.level", "ERROR")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    System.err.println(f"[graftbench] session up at JVM uptime ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")
    // halt rather than stop: everything Spark's shutdown would clean is
    // under the run's temp root, which run.py deletes
    val code = try { run(spark, a, work); 0 } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.err.flush()
    Runtime.getRuntime.halt(code)
  }

  private def run(spark: SparkSession, a: Map[String, String], work: String): Unit = {
    val tr = new Tracer(spark, a("trace") == "1")
    val c = Ctx(spark, tr, a("data"), work, a("seed").toLong)
    val wl: Workload = a("workload") match {
      case "oltp" => new Oltp(c)
      case "analytics" => new AnalyticsRun(c)
    }
    def log(msg: String): Unit = System.err.println(
      f"[graftbench ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%6.1fs] $msg")
    val setup = wl.setup()
    log(f"set up: ${setup.map(s => f"$s%.2f").mkString(" ")} s")
    (1 to WarmupRounds).foreach(i => wl.round(-i))
    log("warmed up")
    val j0 = JvmSnap.take(spark, work, start = true)
    val first = tr.ops.size
    val rounds = a("rounds").toInt
    (0 until rounds).foreach { r =>
      tr.traceRound(r, rounds)
      wl.round(r)
    }
    tr.traceRound(-1, rounds)
    log(s"timed ${tr.ops.size - first} ops")
    val j1 = JvmSnap.take(spark, work, start = false)
    val extra = wl.finish()
    log(s"checked: $extra")
    val timed = tr.ops.drop(first).toSeq
    val layers = if (tr.traceRun) Layers(tr, timed, wl, extra, j0, j1, Cores) else null
    val out = Map(
      "setup_s" -> setup,
      "ops" -> timed.map(o => Map("id" -> o.id, "kind" -> o.kind, "family" -> o.family,
        "mode" -> o.mode, "round" -> o.round, "traced" -> o.traced, "ms" -> o.wallNs / 1e6,
        "ok" -> o.ok, "error" -> o.error, "rows" -> o.rowsOut)),
      "mismatches" -> wl.mismatches.map { case (op, what) => Map("op" -> op, "what" -> what) },
      "extra" -> extra,
      "layers" -> Option(layers).map(_.metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }).orNull,
      "report" -> Option(layers).map(_.report).orNull)
    Files.writeString(Paths.get(a("out")), Json(out))
    log("wrote the result file")
  }
}
