package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into graft.  `family` is read, write, maint or
  * query; `mode` is locked or optimistic for committing verbs. */
final case class OpRec(id: Int, kind: String, family: String, mode: String,
                       round: Int, traced: Boolean, startMs: Long, endMs: Long,
                       wallNs: Long, ok: Boolean, error: String,
                       rowsOut: Long, rowsIn: Long)

/** A span inside an op: the readSql call (resolve), the action that
  * materialises its frame (exec), or the committing verb (commit). */
final case class Span(op: Int, name: String, ns: Long)

final case class JobRec(op: Int, startMs: Long, stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

final case class StageRec(numTasks: Int, runMs: Double, cpuMs: Double,
                          shuffleWrite: Long, shuffleRead: Long, spill: Long,
                          inBytes: Long, inRecords: Long, taskSkew: Double)

final case class PlanRec(startMs: Long, planMs: Double)

/** Spans are kept in memory by the benchmark itself, around its calls
  * into graft.  In a traced run, timed rounds alternate between traced
  * and untraced in a palindrome (T U T, T U U T, T U T U T, ...), so a
  * drift that is linear in time weighs equally on both sides.  In a
  * traced round a SparkListener and a QueryExecutionListener are
  * attached and record every job, stage and plan, and each op runs
  * under the job group `op-<id>` (child threads inherit it), which is
  * how the listener ties a job and its stages to the op; plans are tied
  * to ops by time.  In an untraced round neither listener is attached
  * and no job group is set, so an op's wall time against the traced
  * ones of its kind is the whole tracing overhead. */
final class Tracer(spark: SparkSession, val traceRun: Boolean) extends SparkListener {
  val ops = ArrayBuffer.empty[OpRec]
  val spans = ArrayBuffer.empty[Span]
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val plans = new java.util.concurrent.ConcurrentLinkedQueue[PlanRec]()
  private val stageOp = new ConcurrentHashMap[Int, Int]()
  private val taskDurs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()
  private var current = -1
  private var tracing = false
  private val planListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases.values
      if (ph.nonEmpty)
        plans.add(PlanRec(ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum.toDouble))
    }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Called before timed round `r` of `rounds`, and with r = -1 after
    * the last: attaches the listeners for a traced round, and detaches
    * them, once their events are in, for an untraced one. */
  def traceRound(r: Int, rounds: Int): Unit = if (traceRun) {
    val on = r >= 0 && math.min(r, rounds - 1 - r) % 2 == 0
    if (on && !tracing) {
      spark.sparkContext.addSparkListener(this)
      spark.listenerManager.register(planListener)
    } else if (!on && tracing) {
      drain()
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(planListener)
    }
    tracing = on
  }

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith("op-")).map(_.drop(3).toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(e.properties)
    if (op >= 0) {
      jobs.put(e.jobId, JobRec(op, e.time, e.stageIds))
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageOp.containsKey(e.stageId) && e.taskInfo != null) {
      val d = taskDurs.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long])
      d.synchronized(d += e.taskInfo.duration)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    if (stageOp.containsKey(i.stageId) && i.taskMetrics != null) {
      val m = i.taskMetrics
      val durs = Option(taskDurs.get(i.stageId)).map(d => d.synchronized(d.sorted.toIndexedSeq))
        .getOrElse(IndexedSeq.empty)
      val skew = if (durs.size < 2) 1.0
        else durs.last.toDouble / math.max(1L, durs(durs.size / 2))
      stages.put(i.stageId, StageRec(i.numTasks, m.executorRunTime.toDouble,
        m.executorCpuTime / 1e6, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead, skew))
    }
  }

  /** Time `body` as op `kind`.  Exceptions are caught and recorded: the
    * op counts as failed and the run goes on.  `rows` reads the rows
    * returned from the body's result. */
  def op[A](kind: String, family: String, mode: String, r: Int,
            rowsIn: Long = 0L)(body: => A)(rows: A => Long): (OpRec, Option[A]) = {
    val id = ops.size
    current = id
    val traced = tracing
    if (traced) spark.sparkContext.setJobGroup(s"op-$id", kind, interruptOnCancel = false)
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val wall = System.nanoTime() - t0
    val t1Ms = System.currentTimeMillis()
    spark.sparkContext.clearJobGroup()
    val rec = OpRec(id, kind, family, mode, r, traced, t0Ms, t1Ms, wall,
      res.isRight, res.left.toOption.map(e => s"${e.getClass.getSimpleName}: ${e.getMessage}").orNull,
      res.toOption.map(rows).getOrElse(0L), rowsIn)
    ops += rec
    (rec, res.toOption)
  }

  def span[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally spans += Span(current, name, System.nanoTime() - t0)
  }

  /** Listener events arrive asynchronously; wait until every job seen
    * has ended and its plan records are in. */
  private def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 20000
    def open = jobs.values.asScala.count(_.endMs < 0)
    while (open > 0 && System.currentTimeMillis() < deadline) Thread.sleep(20)
    Thread.sleep(300)
  }
}
