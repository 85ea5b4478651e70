package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock shared by spans and listener records: epoch milliseconds
  * with sub-millisecond resolution, so listener phase timestamps (epoch
  * ms) and span bounds compare directly. */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** One span: a call from the benchmark into one module. `parent` is the
  * enclosing span on the same thread (0 = none). */
final case class SpanRec(id: Int, name: String, parent: Int, startMs: Double,
                         endMs: Double, thread: String)

/** Per-span aggregate of Spark scheduler events, attributed through the
  * job tag the span sets around its call. */
final class SparkAgg {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** In-memory span recorder plus the listeners that feed it. Spans and
  * the scheduler/SQL listeners exist only in traced phases; the streaming
  * progress listener always runs, because end-to-end metrics (trigger
  * durations) are read from it. */
final class Trace(spark: SparkSession, val runId: String) {
  @volatile private var on = false
  private val sc: SparkContext = spark.sparkContext
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }
  private val TagPrefix = "pbspan-"
  // SparkContext.SPARK_JOB_TAGS / SPARK_JOB_TAGS_SEP (package-private)
  private val JobTagsKey = "spark.job.tags"

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      val tag = TagPrefix + id
      sc.addJobTag(tag)
      stack.set(id :: parents)
      val t0 = Clock.nowMs
      try body
      finally {
        val t1 = Clock.nowMs
        stack.set(parents)
        sc.removeJobTag(tag)
        spans.synchronized {
          spans += SpanRec(id, name, parents.headOption.getOrElse(0), t0, t1,
            Thread.currentThread().getName)
        }
      }
    }

  // ---- scheduler listener: jobs/stages/tasks per innermost span -------
  private val aggs = mutable.HashMap.empty[Int, SparkAgg]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private def agg(span: Int): SparkAgg = aggs.getOrElseUpdate(span, new SparkAgg)

  private val schedListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = aggs.synchronized {
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty(JobTagsKey)))
        .map(_.split(",").toSeq).getOrElse(Nil)
      val sid = tags.collect {
        case t if t.startsWith(TagPrefix) => t.stripPrefix(TagPrefix).toInt
      }.foldLeft(0)(math.max)
      agg(sid).jobs += 1
      e.stageIds.foreach(s => stageSpan(s) = sid)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      aggs.synchronized {
        agg(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = aggs.synchronized {
      val a = agg(stageSpan.getOrElse(e.stageId, 0))
      a.tasks += 1
      a.taskMs += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
      }
    }
  }

  // ---- SQL listener: planning vs execution, exchange count -------------
  private val sqlRecs = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def exchanges(p: SparkPlan): Int = {
    val own = p match {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => 1
      case _ => 0
    }
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case other => other.children ++ other.subqueries
    }
    own + kids.map(exchanges).sum
  }

  private val sqlListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      val planStart = if (phases.isEmpty) Clock.nowMs
                      else phases.values.map(_.startTimeMs).min.toDouble
      val rec = Map[String, Any](
        "at_ms" -> planStart,
        "planning_ms" -> phases.values.map(_.durationMs).sum.toDouble,
        "execution_ms" -> durationNs / 1e6,
        "exchanges" -> exchanges(qe.executedPlan))
      sqlRecs.synchronized { sqlRecs += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- streaming progress (always on) ----------------------------------
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val terminated = mutable.HashSet.empty[java.util.UUID]
  private val started = mutable.ArrayBuffer.empty[java.util.UUID]

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      progress.synchronized { started += e.runId }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators.toSeq
      val rec = Map[String, Any](
        "run_id" -> p.runId.toString, "batch_id" -> p.batchId,
        "input_rows" -> p.numInputRows,
        "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
        "state_instances" -> ops.map(_.numStateStoreInstances).sum,
        "state_rows_total" -> ops.map(_.numRowsTotal).sum,
        "state_memory_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum)
      progress.synchronized { progress += rec }
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      progress.synchronized { terminated += e.runId; progress.notifyAll() }
  }

  /** Block until the listener bus has delivered `runId`'s termination,
    * hence every progress event of that run. */
  def awaitTerminated(runId: java.util.UUID, timeoutMs: Long = 60000L): Unit =
    progress.synchronized {
      val until = System.currentTimeMillis() + timeoutMs
      while (!terminated(runId) && System.currentTimeMillis() < until)
        progress.wait(100L)
      require(terminated(runId), s"no termination event for stream run $runId")
    }

  /** Stream runs started so far, in start order, once delivered. */
  def startedRuns(): Seq[java.util.UUID] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    progress.synchronized(started.toList)
  }

  def progressOf(runId: java.util.UUID): Seq[Map[String, Any]] =
    progress.synchronized { progress.filter(_("run_id") == runId.toString).toList }

  // ---- GC time and the heap retained by the timed phase ----------------
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private def gcMsTotal: Long = gcBeans.map(_.getCollectionTime).sum

  private var gcAtOpen = 0L
  /** Start the timed phase's GC accounting. */
  def openWindow(): Unit = gcAtOpen = gcMsTotal

  /** End it with one full collection. Returns (heap in use right after
    * it in MiB, GC seconds in the window). The after-GC heap of the young
    * collections inside the window is not used: it includes whatever old
    * garbage concurrent marking has not reached yet, and varied by 30 %
    * between runs of the same inputs. */
  def closeWindow(): (Double, Double) = {
    val gcS = (gcMsTotal - gcAtOpen) / 1e3
    def heapAfterGc(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    // a collection lets Spark's ContextCleaner see unreachable RDDs,
    // broadcasts and shuffles, and only the next one frees what it then
    // released: collect until a collection frees less than 1 %
    var prev = heapAfterGc()
    var used = prev
    var rounds = 0
    while (rounds == 0 || (used < prev * 0.99 && rounds < 8)) {
      Thread.sleep(200L)
      prev = used
      used = heapAfterGc()
      rounds += 1
    }
    (used / 1048576.0, gcS)
  }

  spark.streams.addListener(streamListener)

  /** Turn spans and the scheduler/SQL listeners on (traced phase). */
  def enable(): Unit = if (!on) {
    sc.addSparkListener(schedListener)
    spark.listenerManager.register(sqlListener)
    on = true
  }

  /** Turn them off again, after the events already posted arrived. */
  def disable(): Unit = if (on) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(schedListener)
    spark.listenerManager.unregister(sqlListener)
    on = false
  }

  /** Everything recorded, after the listener bus drains. */
  def dump(): Map[String, Any] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    val spanList = spans.synchronized(spans.toList).sortBy(_.id)
    val aggMap = aggs.synchronized(aggs.toMap)
    Map(
      "run_id" -> runId,
      "spans" -> spanList.map { s =>
        val a = aggMap.getOrElse(s.id, new SparkAgg)
        Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "thread" -> s.thread,
          "jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks,
          "task_ms" -> a.taskMs.toList, "shuffle_write_bytes" -> a.shuffleWriteBytes,
          "spill_bytes" -> a.spillBytes, "task_gc_ms" -> a.gcMs)
      },
      "untagged" -> {
        val a = aggMap.getOrElse(0, new SparkAgg)
        Map("jobs" -> a.jobs, "stages" -> a.stages, "tasks" -> a.tasks)
      },
      "sql" -> sqlRecs.synchronized(sqlRecs.toList))
  }

  def close(): Unit = {
    spark.streams.removeListener(streamListener)
    disable()
  }
}
