package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run.  Listener figures (jobs, stages,
  * tasks, bytes, plan phases) come from the traced ops; span, latency
  * and file figures from every timed op.  A metric of a layer the
  * workload never calls is 0: the work done there. */
final class Layers(tr: Tracer, timed: Seq[OpRec], wl: Workload, extra: Map[String, Any],
                   j0: JvmSnap, j1: JvmSnap, cores: Int) {
  import Layers._

  private val traced = timed.filter(_.traced)
  private val jobsByOp = tr.jobs.values.asScala.toSeq.groupBy(_.op)
  private val spansByOp = tr.spans.toSeq.groupBy(_.op)
  private val plans = tr.plans.asScala.toSeq

  private def jobs(o: OpRec) = jobsByOp.getOrElse(o.id, Nil)
  private def stages(o: OpRec) = jobs(o).flatMap(_.stageIds).flatMap(s => Option(tr.stages.get(s)))
  private def spanMs(o: OpRec, name: String) =
    spansByOp.getOrElse(o.id, Nil).filter(_.name == name).map(_.ns / 1e6).sum
  private def wallMs(o: OpRec) = o.wallNs / 1e6

  /** Wall time not covered by any of the op's Spark jobs. */
  private def driverOnlyMs(o: OpRec): Double = {
    val iv = jobs(o).map(j => (j.startMs.max(o.startMs), (if (j.endMs < 0) o.endMs else j.endMs).min(o.endMs)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L; var lastEnd = Long.MinValue
    iv.foreach { case (s, e) =>
      val s1 = s.max(lastEnd)
      if (e > s1) covered += e - s1
      lastEnd = lastEnd.max(e)
    }
    (wallMs(o) - covered).max(0.0)
  }

  private def planMs(o: OpRec): Double =
    spanMs(o, "resolve") + plans.filter(p => p.startMs >= o.startMs && p.startMs <= o.endMs).map(_.planMs).sum

  private def of(family: String) = timed.filter(_.family == family)
  private def tracedOf(family: String) = traced.filter(_.family == family)
  private def perOp(ops: Seq[OpRec])(f: OpRec => Double) = ratio(ops.map(f).sum, ops.size)
  private def delta(ops: Seq[OpRec]) = ops.flatMap(fileDeltasOf)
  private def fileDeltasOf(o: OpRec): Option[(Int, Long)] = wl match {
    case s: Oltp => s.fileDeltas.get(o.id)
    case _ => None
  }

  /** Share by which tracing (listeners plus job groups) slows an op:
    * per op kind and mode, the median of its ops in traced rounds
    * against the median of its ops in untraced rounds, weighted by the
    * op count.  (An oltp append or delete takes the locked verb in even
    * rounds and the optimistic one in odd ones, so kind alone would
    * compare different verbs.) */
  val overhead: Double = {
    val byKind = timed.groupBy(o => (o.kind, o.mode)).values.flatMap { ops =>
      val (on, off) = ops.partition(_.traced)
      if (on.isEmpty || off.isEmpty) None
      else Some((ops.size * median(on.map(wallMs)), ops.size * median(off.map(wallMs))))
    }
    ratio(byKind.map(_._1).sum - byKind.map(_._2).sum, byKind.map(_._2).sum)
  }

  /** name -> (value, unit). */
  val metrics: Map[String, (Double, String)] = {
    val reads = of("read"); val tReads = tracedOf("read")
    val writes = of("write"); val tWrites = tracedOf("write")
    val compacts = of("maint")
    val queries = of("query"); val tQueries = tracedOf("query")
    val qMedian = AnalyticsRun.Names.map(n => n -> median(queries.filter(_.kind == n).map(wallMs))).toMap
    val liveRows = extra.get("live_rows").map(_.toString.toDouble).getOrElse(0.0)
    val skews = traced.flatMap(stages).filter(_.numTasks >= 2).map(_.taskSkew)
    val quarter = timed.size / 4
    val norm = {
      val med = timed.groupBy(_.kind).map { case (k, os) => k -> median(os.map(wallMs)) }
      timed.map(o => ratio(wallMs(o), med(o.kind)))
    }
    Map(
      "store.read.resolve_ms" -> (median(reads.map(spanMs(_, "resolve"))), "ms"),
      "store.read.exec_ms" -> (median(reads.map(spanMs(_, "exec"))), "ms"),
      "store.read.jobs_per_read" -> (perOp(tReads)(jobs(_).size.toDouble), "count"),
      "store.read.rows_examined_per_row_returned" ->
        (ratio(tReads.flatMap(stages).map(_.inRecords).sum.toDouble, tReads.map(_.rowsOut).sum), "ratio"),
      "store.read.bytes_read_per_read" -> (perOp(tReads)(stages(_).map(_.inBytes).sum.toDouble), "B"),
      "store.write.p50_ms" -> (median(writes.map(wallMs)), "ms"),
      "store.write.jobs_per_commit" -> (perOp(tWrites)(jobs(_).size.toDouble), "count"),
      "store.write.driver_only_ms_per_commit" -> (perOp(tWrites)(driverOnlyMs), "ms"),
      "store.write.locked_p50_ms" -> (median(writes.filter(_.mode == "locked").map(wallMs)), "ms"),
      "store.write.optimistic_p50_ms" -> (median(writes.filter(_.mode == "optimistic").map(wallMs)), "ms"),
      "store.write.executor_cpu_ms_per_commit" -> (perOp(tWrites)(stages(_).map(_.cpuMs).sum), "ms"),
      "store.write.shuffle_bytes_per_commit" -> (perOp(tWrites)(stages(_).map(_.shuffleWrite).sum.toDouble), "B"),
      "store.write.bytes_written_per_row_submitted" ->
        (ratio(delta(writes).map(_._2).sum.toDouble, writes.map(_.rowsIn).sum), "B"),
      "store.write.files_per_commit" -> (ratio(delta(writes).map(_._1).sum, writes.size), "count"),
      "store.maintenance.compact_ms" -> (median(compacts.map(wallMs)), "ms"),
      "store.maintenance.bytes_rewritten" -> (ratio(delta(compacts).map(_._2).sum.toDouble, compacts.size), "B"),
      "store.live_files" -> (extra.get("live_files").map(_.toString.toDouble).getOrElse(0.0), "count"),
      "store.stored_bytes_per_row" ->
        (ratio(extra.get("stored_bytes").map(_.toString.toDouble).getOrElse(0.0), liveRows), "B"),
      "analytics.plan_ms" ->
        (tQueries.groupBy(_.kind).values.map(os => median(os.map(planMs))).sum, "ms"),
      "analytics.tpch_ms" -> (AnalyticsRun.Tpch.map(qMedian).sum, "ms"),
      "analytics.llm_ms" -> (AnalyticsRun.Llm.map(qMedian).sum, "ms"),
      "analytics.shuffle_bytes_per_query" -> (perOp(tQueries)(stages(_).map(_.shuffleWrite).sum.toDouble), "B"),
      "analytics.spill_bytes" -> (perOp(tQueries)(stages(_).map(_.spill).sum.toDouble) * AnalyticsRun.Names.size, "B"),
      "spark.driver_only_share" -> (ratio(traced.map(driverOnlyMs).sum, traced.map(wallMs).sum), "ratio"),
      "spark.executor_busy_share" ->
        (ratio(traced.flatMap(stages).map(_.runMs).sum, traced.map(wallMs).sum * cores), "ratio"),
      "spark.jobs_per_op" -> (perOp(traced)(jobs(_).size.toDouble), "count"),
      "spark.tasks_per_op" -> (perOp(traced)(stages(_).map(_.numTasks).sum.toDouble), "count"),
      "spark.task_skew_p90" -> (quantile(skews, 0.9), "ratio"),
      "jvm.gc_ms_per_op" -> (ratio((j1.gcMs - j0.gcMs).toDouble, timed.size), "ms"),
      "jvm.heap_after_gc_mb_growth" -> (j1.heapMb - j0.heapMb, "MB"),
      "jvm.persistent_rdds_growth" -> ((j1.rdds - j0.rdds).toDouble, "count"),
      "jvm.live_threads_growth" -> ((j1.threads - j0.threads).toDouble, "count"),
      "jvm.tmp_bytes_growth" -> ((j1.tmpBytes - j0.tmpBytes).toDouble, "B"),
      "jvm.drift" -> (ratio(median(norm.takeRight(quarter)), median(norm.take(quarter))), "ratio"),
      "trace.overhead_share" -> (overhead, "ratio"),
    ) ++ AnalyticsRun.Names.map(n => s"analytics.q.${n}_ms" -> (qMedian(n), "ms"))
  }

  /** Per op kind, over the traced rounds: the op's self time (wall
    * minus its resolve/exec/commit spans), each span, driver-only time,
    * and the Spark work the op caused. */
  val report: Map[String, Any] = Map(
    "tracing_overhead_share" -> overhead,
    "kinds" -> traced.groupBy(_.kind).map { case (k, os) =>
      def mean(f: OpRec => Double) = perOp(os)(f)
      k -> Map(
        "ops" -> os.size,
        "wall_ms" -> mean(wallMs),
        "self_ms" -> mean(o => wallMs(o) - spansByOp.getOrElse(o.id, Nil).map(_.ns / 1e6).sum),
        "resolve_ms" -> mean(spanMs(_, "resolve")),
        "exec_ms" -> mean(spanMs(_, "exec")),
        "commit_ms" -> mean(spanMs(_, "commit")),
        "driver_only_ms" -> mean(driverOnlyMs),
        "jobs" -> mean(jobs(_).size.toDouble),
        "stages" -> mean(stages(_).size.toDouble),
        "tasks" -> mean(stages(_).map(_.numTasks).sum.toDouble),
        "shuffle_bytes" -> mean(stages(_).map(s => s.shuffleWrite + s.shuffleRead).sum.toDouble),
        "spill_bytes" -> mean(stages(_).map(_.spill).sum.toDouble))
    })
}

object Layers {
  def apply(tr: Tracer, timed: Seq[OpRec], wl: Workload, extra: Map[String, Any],
            j0: JvmSnap, j1: JvmSnap, cores: Int): Layers =
    new Layers(tr, timed, wl, extra, j0, j1, cores)

  def ratio(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; 0 for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val i = pos.toInt
    if (i + 1 >= s.size) s.last else s(i) + (s(i + 1) - s(i)) * (pos - i)
  }
}
