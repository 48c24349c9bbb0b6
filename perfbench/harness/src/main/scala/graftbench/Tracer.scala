package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SessionMemo

/** In-memory span recorder for the traced passes. Registers its own
  * `SparkListener` and `QueryExecutionListener`, and polls
  * `SessionMemo.drainAttribution` so each memo build gets an end time
  * (its start is that end minus the build's own seconds). Nothing is
  * written until [[spansJson]] / [[layersJson]] at the end.
  *
  * Listener events carry epoch-millisecond timestamps; the closed
  * loop runs one query at a time, so each event belongs to the query
  * whose wall window contains it.
  */
final class Tracer(spark: SparkSession, cores: Int, corpus: String) {
  import Tracer._

  private val queries = ArrayBuffer.empty[QueryWindow]
  private var pass = -1

  private val jobs = new ConcurrentLinkedQueue[(Int, Double, Seq[Int])]
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Double]
  private val stages = new ConcurrentLinkedQueue[(Int, Double, Double)]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val plans = new ConcurrentLinkedQueue[Seq[(String, Double, Double)]]
  private val memo = new ConcurrentLinkedQueue[(String, String, Boolean, Double, Double)]
  private val events = new java.util.concurrent.atomic.AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      events.incrementAndGet(); jobs.add((e.jobId, e.time / 1e3, e.stageIds)); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      events.incrementAndGet(); jobEnds.put(e.jobId, e.time / 1e3); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      events.incrementAndGet()
      val i = e.stageInfo
      for (s <- i.submissionTime; c <- i.completionTime)
        stages.add((i.stageId, s / 1e3, c / 1e3))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      events.incrementAndGet()
      val m = e.taskMetrics
      val ok = e.reason == org.apache.spark.Success
      tasks.add(if (m == null) TaskRec(e.taskInfo.launchTime / 1e3,
        e.taskInfo.finishTime / 1e3, ok, Array.fill(11)(0.0))
      else TaskRec(e.taskInfo.launchTime / 1e3, e.taskInfo.finishTime / 1e3, ok, Array(
        m.executorRunTime / 1e3, m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
        m.shuffleWriteMetrics.bytesWritten.toDouble,
        m.shuffleReadMetrics.totalBytesRead.toDouble,
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        m.peakExecutionMemory.toDouble,
        m.inputMetrics.bytesRead.toDouble, m.inputMetrics.recordsRead.toDouble,
        m.outputMetrics.bytesWritten.toDouble, m.outputMetrics.recordsWritten.toDouble)))
      ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      events.incrementAndGet(); plans.add(phases(qe.tracker)); ()
    }
  }

  @volatile private var polling = false
  private var poller: Thread = null

  private def drainMemo(): Unit = {
    val seen = Main.nowS()
    // memo keys may embed the corpus path; spans name them without it
    SessionMemo.drainAttribution().foreach { case (q, k, b, s) =>
      memo.add((q, k.replace(corpus, "<corpus>"), b, s, seen)) }
  }

  /** Start recording: register the listeners and the memo poll. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    polling = true
    poller = new Thread(() => while (polling) { drainMemo(); Thread.sleep(PollMs) },
      "perfbench-memo-poll")
    poller.setDaemon(true)
    poller.start()
  }

  /** Stop recording once the asynchronous listener delivery goes quiet. */
  def detach(): Unit = {
    polling = false
    poller.join()
    drainMemo()
    var last = -1L
    val deadline = Main.nowS() + 30
    while ((events.get != last || jobEnds.size < jobs.size) && Main.nowS() < deadline) {
      last = events.get
      Thread.sleep(250)
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Memo events of the pass just finished, in `drainAttribution` shape. */
  def memoEvents(): Seq[(String, String, Boolean, Double)] = {
    drainMemo()
    memo.asScala.toSeq.filter(e => consumer(e._1, e._5).exists(_.pass == pass))
      .map(e => (e._1, e._2, e._3, e._4))
  }

  /** The call that logged a memo event: the latest one of that name
    * started before the poll saw it. */
  private def consumer(name: String, seen: Double): Option[QueryWindow] =
    queries.findLast(q => q.name == name && q.t0 <= seen)

  def passStart(): Unit = pass += 1

  def queryStart(name: String): Unit = {
    queries += new QueryWindow(name, pass, Main.nowS())
    ()
  }

  /** The query's own DataFrame was analysed when it was built. */
  def built(df: DataFrame): Unit =
    queries.last.ownPhases = phases(df.queryExecution.tracker)

  def queryEnd(t1: Double, t2: Double): Unit = {
    queries.last.t1 = t1; queries.last.t2 = t2
  }

  private def inQuery(t: Double): Option[QueryWindow] =
    queries.find(q => q.t0 - SlackS <= t && t <= q.t2 + SlackS)

  // ── Spans ────────────────────────────────────────────────────────
  private lazy val spans: Seq[Span] = {
    val out = ArrayBuffer.empty[Span]
    def add(parent: Int, name: String, label: String, s: Double, e: Double): Int = {
      val query = if (parent == 0) out.size + 1 else out(parent - 1).root
      out += Span(out.size + 1, parent, query, name, label, s, math.max(s, e)); out.size
    }
    val jobEnd = jobEnds.asScala
    val jobSpan = scala.collection.mutable.Map.empty[Int, Int]
    queries.foreach { q =>
      val root = add(0, "query", q.name, q.t0, q.t2)
      val build = add(root, "SparkEntry.build", q.name, q.t0, q.t1)
      val exec = add(root, "exec", q.name, q.t1, q.t2)
      def phase(t: Double) = if (t < q.t1) build else exec
      val listened = plans.asScala.filter(ps => ps.nonEmpty && inQuery(ps.map(_._2).min).contains(q))
      (Seq(q.ownPhases).filter(_.nonEmpty) ++ listened).foreach { ps =>
        val s = ps.map(_._2).min
        add(phase(s), "plans", q.name, s, ps.map(_._3).max)
      }
      memo.asScala.foreach { case (c, k, b, secs, seen) =>
        if (b && secs > 0 && consumer(c, seen).contains(q)) {
          val e = math.min(seen, q.t2)
          val s = math.max(q.t0, e - secs)
          add(phase(s), "memo", k, s, e)
        }
      }
      jobs.asScala.foreach { case (id, s, stageIds) =>
        if (inQuery(s).contains(q)) {
          val j = add(phase(s), "job", s"job-$id", s, jobEnd.getOrElse(id, s))
          stageIds.foreach(sid => jobSpan.getOrElseUpdate(sid, j))
        }
      }
    }
    stages.asScala.foreach { case (id, s, e) =>
      jobSpan.get(id).foreach(j => add(j, "stage", s"stage-$id", s, e))
    }
    out.toSeq
  }

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"query":${s.root},"name":${Json.str(s.name)},""" +
      s""""label":${Json.str(s.label)},"start":${Json.num(s.start)},"end":${Json.num(s.end)}}"""
  }.mkString("[\n", ",\n", "\n]\n")

  // ── Per-layer counters, one object per traced pass ──────────────
  def layersJson: String = {
    val taskList = tasks.asScala.toSeq
    val planList = plans.asScala.toSeq
    val jobList = jobs.asScala.toSeq
    queries.groupBy(_.pass).toSeq.sortBy(_._1).map { case (_, qs) =>
      val mine = (t: Double) => inQuery(t).exists(qs.contains)
      val ts = taskList.filter(t => mine(t.launch))
      val sum = (i: Int) => ts.map(_.m(i)).sum
      val wall = qs.map(q => q.t2 - q.t0).sum
      val ps = qs.flatMap(_.ownPhases) ++ planList.filter(p => p.nonEmpty && mine(p.map(_._2).min)).flatten
      val phase = (n: String) => ps.filter(_._1 == n).map(p => p._3 - p._2).sum
      val serial = qs.map { q =>
        val iv = ts.filter(t => t.launch >= q.t0 && t.launch <= q.t2 + SlackS)
          .map(t => (t.launch, math.min(t.finish, q.t2)))
        (q.t2 - q.t0) - unionLength(iv)
      }.sum
      val stageIds = jobList.filter(j => mine(j._2)).flatMap(_._3).toSet
      val eager = qs.map(q => jobList.count(j => j._2 >= q.t0 && j._2 < q.t1)).sum
      Json.obj(Map(
        "SparkEntry.build_s" -> qs.map(q => q.t1 - q.t0).sum,
        "SparkEntry.eager_jobs" -> eager.toDouble,
        "plans.analysis_s" -> phase(QueryPlanningTracker.ANALYSIS),
        "plans.optimization_s" -> phase(QueryPlanningTracker.OPTIMIZATION),
        "plans.planning_s" -> phase(QueryPlanningTracker.PLANNING),
        "exec.s" -> qs.map(q => q.t2 - q.t1).sum,
        "exec.driver_serial_s" -> serial,
        "exec.jobs" -> jobList.count(j => mine(j._2)).toDouble,
        "exec.stages" -> stageIds.size.toDouble,
        "exec.tasks" -> ts.size.toDouble,
        "exec.task_s" -> sum(0),
        "exec.task_cpu_s" -> sum(1),
        "exec.gc_s" -> sum(2),
        "exec.core_util" -> (if (wall > 0) sum(0) / (wall * cores) else 0.0),
        "exec.shuffle_write_bytes" -> sum(3),
        "exec.shuffle_read_bytes" -> sum(4),
        "exec.spill_bytes" -> sum(5),
        "exec.peak_task_mem_bytes" -> (if (ts.isEmpty) 0.0 else ts.map(_.m(6)).max),
        "exec.failed_tasks" -> ts.count(!_.ok).toDouble,
        "sources.read_bytes" -> sum(7),
        "sources.read_rows" -> sum(8),
        "sources.write_bytes" -> sum(9),
        "sources.write_rows" -> sum(10)))
    }.mkString("[", ",", "]")
  }
}

object Tracer {
  private val PollMs = 5L
  /** Listener timestamps are truncated to whole milliseconds. */
  private val SlackS = 0.002

  final class QueryWindow(val name: String, val pass: Int, val t0: Double) {
    var t1: Double = t0
    var t2: Double = t0
    var ownPhases: Seq[(String, Double, Double)] = Nil
  }
  final case class TaskRec(launch: Double, finish: Double, ok: Boolean, m: Array[Double])
  /** `root` is the id of the query span the span belongs to. */
  final case class Span(id: Int, parent: Int, root: Int, name: String, label: String,
      start: Double, end: Double)

  def phases(t: QueryPlanningTracker): Seq[(String, Double, Double)] =
    t.phases.toSeq.map { case (n, p) => (n, p.startTimeMs / 1e3, p.endTimeMs / 1e3) }

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }
}
