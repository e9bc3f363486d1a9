package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters taken from outside the program: a SparkListener for jobs and
  * tasks, a QueryExecutionListener for the last action's plan and
  * Catalyst phase times. Jobs are attributed to the span that was open
  * on the thread that started them (a local property). */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val tasks, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = new AtomicLong
  private val jobSpan = mutable.Map[Int, (String, Long)]()
  /** span name -> (jobs, job milliseconds) since the last reset */
  val jobsBySpan = mutable.Map[String, (Int, Long)]()
  private val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()
  @volatile var lastQe: QueryExecution = _

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def drain(): Unit = org.apache.spark.perfbench.Drain(spark.sparkContext)

  def reset(): Unit = synchronized {
    Seq(tasks, cpuNs, gcMs, shuffleWrite, shuffleRead, spill).foreach(_.set(0))
    jobsBySpan.clear(); stageTaskMs.clear(); lastQe = null
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Trace.Prop)))
    jobSpan(e.jobId) = (span.getOrElse("untraced"), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, t0) =>
      val (n, ms) = jobsBySpan.getOrElse(span, (0, 0L))
      jobsBySpan(span) = (n + 1, ms + (e.time - t0))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    if (e.taskInfo != null) synchronized {
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += e.taskInfo.duration
    }
  }

  /** The worst stage's max ÷ median task time, over stages of 2+ tasks. */
  def taskSkew: Double = synchronized {
    val r = stageTaskMs.values.filter(_.size >= 2).map { ds =>
      val s = ds.sorted
      s.last.toDouble / math.max(s(s.size / 2), 1L)
    }
    if (r.isEmpty) 1.0 else r.max
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    lastQe = qe
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    lastQe = qe

  /** Catalyst phase milliseconds of the last action. */
  def phases: Map[String, Double] = Option(lastQe).map { qe =>
    val p = qe.tracker.phases
    Seq("analysis", "optimization", "planning").map(n =>
      n -> p.get(n).map(_.durationMs.toDouble).getOrElse(0.0)).toMap
  }.getOrElse(Map.empty)

  /** Node counts of the last action's executed plan (AQE final plan). */
  def planCounts: Map[String, Double] = Option(lastQe).map { qe =>
    import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanHelper}
    import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val walk = new AdaptiveSparkPlanHelper {}
    val nodes: Seq[SparkPlan] = walk.collectWithSubqueries(qe.executedPlan) { case p => p }
    Map(
      "plan.exchanges" -> nodes.count(_.isInstanceOf[Exchange]),
      "plan.windows" -> nodes.count(_.isInstanceOf[WindowExec]),
      "plan.single_partition" -> nodes.count {
        case s: ShuffleExchangeLike => s.outputPartitioning == SinglePartition
        case _                      => false
      },
      "plan.bnlj" -> nodes.count(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "plan.aqe_rereads" -> nodes.count(_.isInstanceOf[AQEShuffleReadExec]),
    ).map { case (k, v) => k -> v.toDouble }
  }.getOrElse(Map.empty)

  /** Persisted RDDs left in the session, and their size in MB. */
  def storage: (Double, Double) = {
    val cached = spark.sparkContext.getRDDStorageInfo.filter(_.isCached)
    (cached.length.toDouble, cached.map(i => i.memSize + i.diskSize).sum / 1e6)
  }
}

/** Spans at each layer boundary, kept in memory and written at the end. */
object Trace {
  val Prop = "perfbench.span"
  final case class Span(op: Int, id: Int, parent: Int, name: String, t0: Long, t1: Long)

  var on = false
  var op = -1
  private var sc: org.apache.spark.SparkContext = _
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[(Int, String)]()
  private var nextId = 0

  def init(s: SparkSession): Unit = sc = s.sparkContext

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack.push((id, name))
      if (sc != null) sc.setLocalProperty(Prop, name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        if (sc != null) sc.setLocalProperty(Prop, stack.headOption.map(_._2).orNull)
        spans += Span(op, id, parent, name, t0, t1)
      }
    }

  def ofOp(i: Int): Seq[Span] = spans.filter(_.op == i).toSeq

  /** Milliseconds of spans named `name`, minus the time their direct
    * children cover (self time). */
  def selfMs(ss: Seq[Span], name: String): Double = {
    val byParent = ss.groupBy(_.parent)
    ss.filter(_.name == name).map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => k.t1 - k.t0).sum
      (s.t1 - s.t0 - kids) / 1e6
    }.sum
  }

  def totalMs(ss: Seq[Span], name: String): Double =
    ss.filter(_.name == name).map(s => (s.t1 - s.t0) / 1e6).sum

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try spans.foreach { s =>
      w.println(Json.obj(Seq("op" -> s.op, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.t0, "end_ns" -> s.t1)))
    } finally w.close()
  }
}

/** Minimal JSON output, so the harness does not depend on the program's
  * own JSON code for what it reports. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }

  def value(v: Any): String = v match {
    case null                       => "null"
    case s: String                  => str(s)
    case d: Double if d.isNaN || d.isInfinite => "null"
    case n: Int                     => n.toString
    case n: Long                    => n.toString
    case d: Double                  => d.toString
    case b: Boolean                 => b.toString
    case Raw(t)                     => t
    case m: Map[_, _]               => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_]                 => xs.map(value).mkString("[", ",", "]")
    case other                      => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  /** Text that is already JSON. */
  final case class Raw(text: String)
}
