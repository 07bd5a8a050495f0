package graft.store

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

/** A file commit protocol whose write tasks, for output paths containing
  * [[BlockingCommitProtocol.blockPathsContaining]], wait before writing
  * until the task is killed (then fail without opening a file) or
  * [[BlockingCommitProtocol.maxWaitMs]] passes — a staged write that is
  * still running when a concurrent action fails, without sleeps in the
  * test itself. Tasks writing to paths containing
  * [[BlockingCommitProtocol.failPathsContaining]] fail, once some
  * blocking task is waiting: a staged write that fails while a
  * concurrent one is in flight. Install with
  * `spark.sql.sources.commitProtocolClass` (session-global: unset it in a
  * finally). */
class BlockingCommitProtocol(jobId: String, path: String,
                             dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  import BlockingCommitProtocol._

  override def setupTask(ctx: TaskAttemptContext): Unit = {
    val task = TaskContext.get()
    def waitFor(done: => Boolean): Unit = {
      val deadline = System.nanoTime() + maxWaitMs * 1000000L
      while (!done && !task.isInterrupted() && System.nanoTime() < deadline)
        Thread.sleep(5)
    }
    if (blockPathsContaining.exists(path.contains)) {
      blocked.incrementAndGet()
      try waitFor(false) finally blocked.decrementAndGet()
      if (task.isInterrupted()) throw new TaskKilledException("killed while blocked")
    }
    if (failPathsContaining.exists(path.contains)) {
      waitFor(blocked.get > 0)
      throw new IllegalStateException(s"injected write failure for $path")
    }
    super.setupTask(ctx)
  }
}

object BlockingCommitProtocol {
  @volatile var blockPathsContaining: Option[String] = None
  @volatile var failPathsContaining: Option[String] = None
  private val blocked = new AtomicInteger(0)
  val maxWaitMs = 30000L
}
