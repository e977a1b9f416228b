package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.graftbench.SparkInternals
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call made by the benchmark. `startMs`/`endMs` are wall-clock
  * milliseconds, the clock Spark stamps its listener events with. */
final case class Span(id: Int, name: String, parent: Option[Int], runId: Int,
                      startMs: Long, endMs: Long, wallNs: Long)

/** Counters for one span. Jobs, and so tasks, stages and executed plans,
  * belong to the innermost span open when the job was submitted. */
final case class Counters(wallS: Double, selfS: Double, driverOnlyS: Double,
                          jobs: Int, tasks: Int, taskCpuS: Double,
                          shuffleWriteBytes: Long, spillBytes: Long,
                          rowsOut: Long, exchanges: Int,
                          maxTaskOverMedian: Double) {
  def toMap: Map[String, Double] = Map(
    "wall_s" -> wallS, "self_s" -> selfS, "driver_only_s" -> driverOnlyS,
    "jobs" -> jobs.toDouble, "tasks" -> tasks.toDouble, "task_cpu_s" -> taskCpuS,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble, "rows_out" -> rowsOut.toDouble,
    "exchanges" -> exchanges.toDouble, "max_task_over_median" -> maxTaskOverMedian)
}

object Counters {
  val Names: Set[String] = Counters(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0).toMap.keySet
}

/** Collector for the traced run, registered from outside the program as a
  * SparkListener and a QueryExecutionListener. Everything stays in memory
  * until [[report]]. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private final class Job(val id: Int, val startMs: Long, val execId: Option[Long]) {
    var endMs: Long = startMs
  }
  private final case class Task(stageId: Int, durMs: Long, cpuNs: Long,
                                shuffleWrite: Long, shuffleRead: Long,
                                spill: Long, written: Long)
  private final case class Exec(exchanges: Int, rows: Long)

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val tasks = mutable.ArrayBuffer[Task]()
  /** by query id, from the QueryExecutionListener */
  private val execs = mutable.Map[Long, Exec]()
  /** SQL execution id (what jobs carry) -> query id */
  private val queryOfExec = mutable.Map[Long, Long]()
  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private var nextId = 0
  var runId = 0

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def detach(): Unit = {
    SparkInternals.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Time `f` as a span. The 2 ms pauses keep sibling spans apart at the
    * millisecond resolution of listener event times. */
  def span[T](name: String)(f: => T): T = {
    Thread.sleep(2)
    val id = nextId
    nextId += 1
    val parent = open.headOption
    open = id :: open
    val startMs = System.currentTimeMillis()
    val startNs = System.nanoTime()
    try f
    finally {
      val wallNs = System.nanoTime() - startNs
      val endMs = System.currentTimeMillis()
      open = open.tail
      synchronized { spans += Span(id, name, parent, runId, startMs, endMs, wallNs) }
      Thread.sleep(2)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong)
    jobs(e.jobId) = new Job(e.jobId, e.time, exec)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      tasks += Task(e.stageId, e.taskInfo.duration, m.executorCpuTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.recordsWritten)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      SparkInternals.queryOf(end).foreach(qe => synchronized { queryOfExec(end.executionId) = qe.id })
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ns = nodes(qe.executedPlan).toList
    val exchanges = ns.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }
    // rows out of the top-most operator that counts its rows
    val rows = ns.collectFirst {
      case n if n.metrics.contains("numOutputRows") => n.metrics("numOutputRows").value
    }.getOrElse(0L)
    synchronized { execs(qe.id) = Exec(exchanges, rows) }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Pre-order walk of an executed plan through AQE stages, command
    * wrappers and subqueries. A reused exchange ran elsewhere: not counted. */
  private def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case c: CommandResultExec => Seq(c.commandPhysicalPlan)
      case _: ReusedExchangeExec => Nil
      case other => other.children ++ other.subqueries
    }
    Iterator.single(p) ++ kids.iterator.flatMap(nodes)
  }

  /** Counters of every span closed since the last report; clears state. */
  def report(): Seq[(Span, Counters)] = {
    SparkInternals.drain(spark.sparkContext)
    synchronized {
      val closed = spans.toList
      def owner(t: Long): Option[Span] =
        closed.filter(s => s.startMs <= t && t <= s.endMs)
          .maxByOption(s => (s.startMs, s.id))
      val jobsOf = jobs.values.toList.flatMap(j => owner(j.startMs).map(_.id -> j))
        .groupMap(_._1)(_._2)
      val tasksOf = tasks.toList.groupBy(t => stageJob.get(t.stageId))
      val out = closed.map { s =>
        val js = jobsOf.getOrElse(s.id, Nil)
        val ts = js.flatMap(j => tasksOf.getOrElse(Some(j.id), Nil))
        val es = js.flatMap(_.execId).distinct.flatMap(queryOfExec.get).flatMap(execs.get)
        val childNs = closed.filter(_.parent.contains(s.id)).map(_.wallNs).sum
        val busyMs = unionMs(js.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs))))
        // writes outside SQL (RDD sinks) report their rows through task output metrics
        val rddRows = js.filter(_.execId.isEmpty)
          .flatMap(j => tasksOf.getOrElse(Some(j.id), Nil)).map(_.written).sum
        val wallS = s.wallNs / 1e9
        s -> Counters(
          wallS = wallS,
          selfS = (s.wallNs - childNs) / 1e9,
          driverOnlyS = math.max(0.0, wallS - busyMs / 1e3),
          jobs = js.size,
          tasks = ts.size,
          taskCpuS = ts.map(_.cpuNs).sum / 1e9,
          shuffleWriteBytes = ts.map(_.shuffleWrite).sum,
          spillBytes = ts.map(_.spill).sum,
          rowsOut = es.map(_.rows).sum + rddRows,
          exchanges = es.map(_.exchanges).sum,
          maxTaskOverMedian = skew(ts))
      }
      jobs.clear(); stageJob.clear(); tasks.clear(); execs.clear(); queryOfExec.clear()
      spans.clear()
      out
    }
  }

  /** Worst max/median task duration over the shuffle stages (stages that
    * read or write shuffle data) with at least two tasks; 0 when none. */
  private def skew(ts: List[Task]): Double =
    ts.groupBy(_.stageId).values
      .filter(st => st.size >= 2 && st.exists(t => t.shuffleRead > 0 || t.shuffleWrite > 0))
      .map { st =>
        val d = st.map(_.durMs).sorted
        d.last.toDouble / math.max(d(d.size / 2), 1L)
      }.maxOption.getOrElse(0.0)

  private def unionMs(iv: List[(Long, Long)]): Long =
    iv.filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        if (b <= reach) (acc, reach)
        else (acc + b - math.max(a, reach), b)
      }._1
}
