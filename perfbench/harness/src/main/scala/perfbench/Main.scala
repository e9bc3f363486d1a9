package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Graft
import graft.core.Tables
import graft.jexpr.{Jetro, JValue, Parser}
import graft.plans.Lower

/** One process of the benchmark: starts a Spark session, warms up, then
  * runs the plan written by run.py in a closed loop and writes every
  * op's timing, counters and answer for run.py to check and summarise.
  *
  * Usage: Main <plan.tsv> <out-dir>
  *
  * The plan is tab-separated lines: `conf <key> <value>`,
  * `warm <round> <name> <text>`, `op <round> <name> <text>` and, for the
  * refresh workload, `text 0 <pipeline> <text>` and `stage <k> <dir>`. */
object Main {
  final case class Op(round: Int, name: String, text: String)

  final class Plan(lines: Seq[Array[String]]) {
    val conf: Map[String, String] =
      lines.filter(_(0) == "conf").map(l => l(1) -> l.lift(2).getOrElse("")).toMap
    private def ops(kind: String) =
      lines.filter(_(0) == kind).map(l => Op(l(1).toInt, l(2), l(3)))
    val warm: Seq[Op] = ops("warm")
    val timed: Seq[Op] = ops("op")
    val texts: Map[String, String] = ops("text").map(o => o.name -> o.text).toMap
    val stages: Map[Int, String] =
      lines.filter(_(0) == "stage").map(l => l(1).toInt -> l(2)).toMap
    def apply(k: String): String = conf(k)
  }

  final case class Rec(
      i: Int, op: Op, traced: Boolean, ok: Boolean, err: String,
      wallS: Double, cpuS: Double, shuffleMb: Double,
      answer: String, layers: Map[String, Double])

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** The JIT compiler's threads (a fixed set: run.py turns off their
    * dynamic creation). Compiling is warm-up, not the op's work, and how
    * much of it falls inside the timed loop follows the host's load. */
  private lazy val jitThreads: Seq[java.io.File] =
    Option(new java.io.File("/proc/self/task").listFiles()).toSeq.flatten.filter { t =>
      val src = scala.io.Source.fromFile(new java.io.File(t, "comm"))
      try src.mkString.startsWith("C1 Compiler") || src.mkString.startsWith("C2 Compiler")
      finally src.close()
    }.map(new java.io.File(_, "schedstat"))

  /** On-CPU time of a thread so far (ns), time stolen by the host excluded. */
  private def runNs(schedstat: java.io.File): Long = {
    val src = scala.io.Source.fromFile(schedstat)
    try src.mkString.takeWhile(_ != ' ').toLong finally src.close()
  }

  /** CPU time of this process (all threads, ended ones included) less
    * the JIT compiler's, in ns. */
  def cpuNs(): Long = osBean.getProcessCpuTime - jitThreads.map(runNs).sum

  def main(args: Array[String]): Unit = {
    val src = scala.io.Source.fromFile(args(0), "UTF-8")
    val plan = try new Plan(src.getLines().map(_.split("\t", -1)).toVector) finally src.close()
    val out = args(1)
    val threads = plan("threads")
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan("local_dir"))
      .config("spark.sql.warehouse.dir", s"${plan("local_dir")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Trace.init(spark)
    val probe = new Probe(spark)
    val runner = new Runner(spark, probe, plan)
    val wl: Workload = plan("workload") match {
      case "interactive" => new Interactive(runner)
      case "refresh"     => new Refresh(runner)
    }
    wl.warmup()
    writeText(s"$out/ready_ms", System.currentTimeMillis().toString)
    writeRecs(s"$out/warm.jsonl", runner.recs.toSeq)
    runner.recs.clear()
    runner.settle = true
    val t0 = System.nanoTime()
    wl.run()
    val loopS = (System.nanoTime() - t0) / 1e9
    writeRecs(s"$out/ops.jsonl", runner.recs.toSeq)
    writeText(s"$out/summary.json", Json.obj(Seq(
      "loop_s" -> loopS,
      "peak_rss_mb" -> peakRssMb(),
      "rounds" -> runner.extra.toSeq.sortBy(_._1).map { case (k, m) =>
        Map("round" -> k) ++ m }.toSeq)))
    Trace.write(s"$out/spans.jsonl")
    spark.stop()
  }

  def writeRecs(path: String, recs: Seq[Rec]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try recs.foreach { r =>
      w.println(Json.obj(Seq(
        "i" -> r.i, "round" -> r.op.round, "name" -> r.op.name, "traced" -> r.traced,
        "ok" -> r.ok, "err" -> r.err, "wall_s" -> r.wallS, "cpu_s" -> r.cpuS,
        "shuffle_mb" -> r.shuffleMb, "layers" -> r.layers,
        "answer" -> Option(r.answer).map(Json.Raw).orNull)))
    } finally w.close()
  }

  def writeText(path: String, s: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.print(s) finally w.close()
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }
}

import Main.{Op, Rec}

/** Runs single ops with timing, counters and (when traced) spans. */
final class Runner(val spark: SparkSession, val probe: Probe, val plan: Main.Plan) {
  val recs = mutable.ArrayBuffer[Rec]()
  /** per-round figures that are not ops (refresh snapshot writes) */
  val extra = mutable.Map[Int, Map[String, Double]]()
  private val counters = Graft.rowwiseCounters(spark)
  private def evaluated = counters.evaluated.sum
  private def errored = counters.errored.sum
  private var idx = 0
  /** set once the warm-up is over: collect the heap before each op */
  var settle = false

  // traced-only per-op counters, filled by the layer wrappers below
  var resolveCalls = 0
  var lowerAttempts = 0
  var lowerPlanned = 0
  var planNodes = 0
  var rung = ""

  /** Runs one op. `body` does the op's work and returns what it produced;
    * `render` turns that into the answer's JSON text after the clock
    * stops. A failure is recorded with its message and not timed. */
  def run[A](op: Op, traced: Boolean)(body: => A)(render: A => String): Rec = {
    probe.reset()
    resolveCalls = 0; lowerAttempts = 0; lowerPlanned = 0; planNodes = 0; rung = ""
    val ev0 = evaluated
    val er0 = errored
    // every timed op starts from the same collected heap, so the
    // collections inside it, and their CPU time, follow from the op alone
    if (settle) System.gc()
    Trace.on = traced
    Trace.op = idx
    val c0 = Main.cpuNs()
    val t0 = System.nanoTime()
    val res = try Right(Trace.span("op")(body)) catch { case NonFatal(e) => Left(e) }
    val t1 = System.nanoTime()
    val c1 = Main.cpuNs()
    Trace.on = false
    probe.drain()
    val layers =
      if (traced) layersOf(idx, evaluated - ev0, errored - er0) else Map.empty[String, Double]
    val shuffleMb = probe.shuffleWrite.get / 1e6
    val rec = res match {
      case Right(a) =>
        Rec(idx, op, traced, ok = true, null, (t1 - t0) / 1e9, (c1 - c0) / 1e9,
          shuffleMb, render(a), layers)
      case Left(e) =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
        Rec(idx, op, traced, ok = false, msg.linesIterator.nextOption().getOrElse("").take(400),
          0.0, 0.0, 0.0, null, layers)
    }
    recs += rec
    idx += 1
    rec
  }

  private def layersOf(i: Int, evaluated: Long, dropped: Long): Map[String, Double] = {
    val ss = Trace.ofOp(i)
    def jobs(names: String*) = names.flatMap(probe.jobsBySpan.get)
    def n(f: Probe => Long) = f(probe).toDouble
    val (cached, cachedMb) = probe.storage
    val m = mutable.Map[String, Double](
      "parse.ms" -> Trace.totalMs(ss, "parse"),
      "lower.ms" -> Trace.selfMs(ss, "lower"),
      "lower.attempts" -> lowerAttempts.toDouble,
      "lower.planned" -> lowerPlanned.toDouble,
      "lower.plan_nodes" -> planNodes.toDouble,
      "resolve.ms" -> Trace.totalMs(ss, "resolve"),
      "resolve.calls" -> resolveCalls.toDouble,
      "resolve.jobs" -> jobs("resolve").map(_._1).sum.toDouble,
      "plantime.jobs" -> jobs("lower", "build").map(_._1).sum.toDouble,
      "plantime.ms" -> jobs("lower", "build").map(_._2).sum.toDouble,
      "build.ms" -> (Trace.totalMs(ss, "lower") + Trace.totalMs(ss, "build")),
      "exec.ms" -> Trace.totalMs(ss, "exec"),
      "exec.tasks" -> n(_.tasks.get),
      "exec.cpu_ms" -> n(_.cpuNs.get) / 1e6,
      "exec.gc_ms" -> n(_.gcMs.get),
      "exec.shuffle_write_mb" -> n(_.shuffleWrite.get) / 1e6,
      "exec.shuffle_read_mb" -> n(_.shuffleRead.get) / 1e6,
      "exec.spill_mb" -> n(_.spill.get) / 1e6,
      "exec.task_skew" -> probe.taskSkew,
      "rowwise.rows_evaluated" -> evaluated.toDouble,
      "rowwise.rows_dropped" -> dropped.toDouble,
      "storage.cached_entries" -> cached,
      "storage.cached_mb" -> cachedMb,
      "doc.json_parse_ms" -> Trace.totalMs(ss, "doc.json_parse"),
      "doc.compile_ms" -> Trace.totalMs(ss, "doc.compile"),
      "doc.eval_ms" -> Trace.totalMs(ss, "doc.eval"),
      "doc.render_ms" -> Trace.totalMs(ss, "doc.render"),
    )
    probe.phases.foreach { case (k, v) => m(s"catalyst.${k}_ms") = v }
    m ++= probe.planCounts
    if (rung.nonEmpty) m(s"rung.$rung") = 1.0
    m.toMap
  }

  /** A jetro query as a DataFrame through `Graft.query`. Traced, the
    * same ladder is taken from outside: parse, the relational lowering
    * with a resolver that times `Tables.apply`, and, when it bails,
    * `Graft.query` itself (which repeats the bailed lowering before it
    * takes the rowwise or document rung). */
  def frame(dir: String, expr: String): DataFrame =
    if (!Trace.on) Graft.query(spark, dir, expr)
    else {
      Trace.span("parse")(Parser.parse(expr))
      lowerAttempts += 1
      val lowered = Trace.span("lower")(Lower.tryCompile(expr, t =>
        resolve(dir, t)))
      lowered match {
        case Some(df) =>
          lowerPlanned += 1
          planNodes = df.queryExecution.logical.collect { case p => p }.size
          rung = "relational"
          df
        case None =>
          val df = Trace.span("build")(Graft.query(spark, dir, expr))
          // which fallback rung ran; asked after the build, untimed
          val wasOn = Trace.on
          Trace.on = false
          rung = try Graft.backend(spark, dir, expr) finally Trace.on = wasOn
          df
      }
    }

  def resolve(dir: String, table: String): DataFrame =
    Trace.span("resolve") { resolveCalls += 1; Tables(spark, dir, table) }
}

trait Workload {
  def warmup(): Unit
  def run(): Unit
}

/** One client over read-only tables: `Graft.query` then collect; ops
  * named `doc.*` are `Jetro.collect(json, expr)` over a document held in
  * this process instead, with no Spark job. A closed loop of whole rounds
  * until `seconds` have passed (at least `min_rounds`). In a traced run,
  * odd rounds are traced and even rounds are not, so the same run also
  * gives the tracing overhead. */
final class Interactive(r: Runner) extends Workload {
  private val dir = r.plan("data")
  private val json = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(r.plan("doc"))), "UTF-8")

  def warmup(): Unit = r.plan.warm.foreach(op => once(op, traced = false))

  def run(): Unit = {
    val traceRun = r.plan("trace") == "1"
    val seconds = r.plan("seconds").toDouble
    val minRounds = r.plan("min_rounds").toInt
    val rounds = r.plan.timed.groupBy(_.round).toSeq.sortBy(_._1).map(_._2)
    val t0 = System.nanoTime()
    var k = 0
    while (k < rounds.size &&
        (k < minRounds || (System.nanoTime() - t0) / 1e9 < seconds)) {
      rounds(k).foreach(op => once(op, traceRun && k % 2 == 1))
      k += 1
    }
  }

  def once(op: Op, traced: Boolean): Rec =
    if (op.name.startsWith("doc.")) document(op, traced)
    else
      r.run(op, traced) {
        val df = r.frame(dir, op.text)
        Trace.span("exec")(df.collect())
      } { rows => rows.map(_.json).mkString("[", ",", "]") }

  private def document(op: Op, traced: Boolean): Rec =
    r.run(op, traced) {
      if (!traced) Jetro.collect(json, op.text)
      else {
        val doc = Trace.span("doc.json_parse")(JValue.parse(json))
        Trace.span("parse")(Parser.parse(op.text))
        val c = Trace.span("doc.compile")(Jetro.compile(op.text))
        val v = Trace.span("doc.eval")(c.evalValue(doc))
        Trace.span("doc.render")(v.render)
      }
    }(identity)
}

/** A long-lived session refreshing a corpus in rounds: each round
  * overwrites `documents` and `events` with the next snapshot (written by
  * Spark as several part files), then runs the same pipelines over it,
  * each writing its output as parquet. Rounds are a fixed number, so the
  * share of failed ops is the same in every run. */
final class Refresh(r: Runner) extends Workload {
  import graft.functions.Text
  import graft.ops.{Dedup, Pack, SnapshotDiff}

  private val spark = r.spark
  private val plan = r.plan
  private val parts = plan("parts").toInt
  private val texts = plan.texts

  /** Snapshot `k`'s source files; 0 is the base corpus. */
  private def stage(k: Int, t: String) = s"${plan.stages(k)}/$t.parquet"

  private val pipelines: Seq[(String, (String, Int) => DataFrame)] = Seq(
    "clean" -> ((dir, _) => r.frame(dir, texts("clean"))),
    "rowwise" -> ((dir, _) => r.frame(dir, texts("rowwise"))),
    "minhash" -> ((dir, _) => Trace.span("build")(Dedup.minhashNearDups(
      r.resolve(dir, "documents"), "doc_id", "text", minJaccard = 0.2))),
    "pack" -> ((dir, _) => Trace.span("build") {
      Pack.sequences(
        r.resolve(dir, "documents").select(col("doc_id"), Text.tokens(col("text")).as("toks")),
        "doc_id", "toks", "doc_id", budget = plan("pack_budget").toLong)
    }),
    "rolling" -> ((dir, _) => r.frame(dir, texts("rolling"))),
    "diff" -> ((dir, k) => Trace.span("build")(SnapshotDiff.diff(
      spark.read.parquet(stage(math.max(k - 1, 0), "documents")), r.resolve(dir, "documents"),
      "doc_id", Seq("text")))),
  )

  /** Overwrites the tables under `dir` with snapshot `k`; returns
    * (seconds, MB written). */
  private def writeSnapshot(k: Int, dir: String): (Double, Double) = {
    val t0 = System.nanoTime()
    for (t <- Seq("documents", "events"))
      spark.read.parquet(stage(k, t)).repartition(parts)
        .write.mode("overwrite").parquet(s"$dir/$t.parquet")
    val s = (System.nanoTime() - t0) / 1e9
    val mb = Seq("documents", "events").map(t =>
      org.apache.commons.io.FileUtils.sizeOfDirectory(new java.io.File(s"$dir/$t.parquet"))).sum / 1e6
    (s, mb)
  }

  private def round(k: Int, dir: String, outDir: String, traced: Boolean): Unit = {
    val (ws, mb) = writeSnapshot(k, dir)
    if (dir == plan("live")) r.extra(k) = Map("write_s" -> ws, "write_mb" -> mb)
    for ((name, build) <- pipelines)
      r.run(Op(k, name, texts.getOrElse(name, name)), traced) {
        val df = build(dir, k)
        Trace.span("exec")(df.write.mode("overwrite").parquet(s"$outDir/r$k/$name"))
      }(_ => null)
  }

  /** `warm_rounds` full-size rounds over the base snapshot, each in a
    * directory of its own, so that the timed rounds are alike (classes
    * load and code compiles in the first full-size round) and the
    * rowwise rung's cross-query cache holds nothing for the timed paths. */
  def warmup(): Unit =
    for (w <- 0 until plan("warm_rounds").toInt)
      round(0, s"${plan("warm")}/w$w", s"${plan("out")}/warm$w", traced = false)

  def run(): Unit = {
    val traceRun = plan("trace") == "1"
    for (k <- 1 to plan("rounds").toInt)
      round(k, plan("live"), plan("out"), traceRun && k % 2 == 1)
  }
}
