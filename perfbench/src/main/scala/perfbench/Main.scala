package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed operation of a workload. `trace` is the id its layer spans
  * share (0 when untraced); `extra` carries the counts the traced run
  * attaches to it (files scanned, bytes written, …). */
final case class Op(kind: String, phase: String, start: Double, end: Double,
                    ok: Boolean, rows: Long, trace: Int, extra: Map[String, Double], error: String)

/** State shared by a workload and the run loop. `tracedRun` is set for
  * the whole of a traced run; [[traced]] only while the current step is
  * traced. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
                val plant: String, val tracedRun: Boolean) {
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Run-level counts: one value each, set by the workload. */
  val counts = mutable.LinkedHashMap.empty[String, Double]
  /** Run-level series: one value per step (steady-state bands). */
  val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var phase = "setup"

  def traced: Boolean = Trace.on

  def record(name: String, v: Double): Unit =
    series.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Run `body` as one timed operation of kind `kind`; the layer spans
    * `body` opens share one trace id. A throw is recorded as a failed
    * operation and swallowed, so one bad operation cannot end the run
    * silently. */
  def op[A](kind: String, rows: Long = 0L)(body: => A): Option[A] = {
    val trace = Trace.begin()
    val t0 = Clock.ms()
    try {
      val a = body
      ops += Op(kind, phase, t0, Clock.ms(), ok = true, rows, trace, Map.empty, "")
      Some(a)
    } catch {
      case NonFatal(e) =>
        ops += Op(kind, phase, t0, Clock.ms(), ok = false, rows, trace, Map.empty,
          s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
        System.err.println(s"[perfbench] $kind threw: ${e.getMessage}".take(800))
        None
    } finally Trace.end()
  }

  /** Attach counts to the newest operation. */
  def annotate(kv: (String, Double)*): Unit =
    if (ops.nonEmpty) ops(ops.size - 1) = ops.last.copy(extra = ops.last.extra ++ kv)

  /** Mark the newest operation as having returned a wrong answer. */
  def wrong(msg: String): Unit = {
    System.err.println(s"[perfbench] WRONG ANSWER: $msg")
    if (ops.nonEmpty) ops(ops.size - 1) = ops.last.copy(ok = false, error = ("wrong: " + msg).take(500))
  }

  def check(cond: Boolean, msg: => String): Unit = if (!cond) wrong(msg)

  /** Wrong answers found by end-of-run checks, which belong to no one
    * operation. */
  var lateFailures = 0

  def wrongRun(msg: String): Unit = {
    System.err.println(s"[perfbench] WRONG ANSWER: $msg")
    lateFailures += 1
  }
}

/** A workload: set up (repeatable), warm once, then steps until the
  * measurement window closes. */
trait Workload {
  /** Build inputs and tables for setup repetition `rep`; the last
    * repetition's state is the one the run measures. */
  def setup(ctx: Ctx, rep: Int): Unit
  /** How many times a run repeats the setup (its median is reported). */
  def setupReps: Int = 3
  /** One untimed pass, so the timed window starts on warm code. */
  def warm(ctx: Ctx): Unit
  /** One unit of timed work (a pass, or the next operation). */
  def step(ctx: Ctx): Unit
  /** Checks and counts at the end of the run (outside timing). */
  def finish(ctx: Ctx): Unit = ()
  /** Traced run only: an extra untimed pass that attributes time to layers. */
  def attribution(ctx: Ctx): Unit = ()
  /** The seeded operation schedule, for the determinism self-test. */
  def opList(n: Int): Seq[String]
  /** The generated input directories, for the determinism self-test. */
  def inputs: Seq[String] = Nil
}

object Main {

  final case class Args(workload: String = "", seed: Long = 1, seconds: Double = 10,
                        trace: Boolean = false, out: String = "", work: String = "",
                        plant: String = "", reps: Int = 0, cpus: Int = 4,
                        listOps: Int = 0, steps: Int = 0, digest: Boolean = false)

  def parse(args: List[String], a: Args = Args()): Args = args match {
    case "--workload" :: v :: r => parse(r, a.copy(workload = v))
    case "--seed" :: v :: r => parse(r, a.copy(seed = v.toLong))
    case "--seconds" :: v :: r => parse(r, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: r => parse(r, a.copy(trace = v == "1"))
    case "--out" :: v :: r => parse(r, a.copy(out = v))
    case "--work" :: v :: r => parse(r, a.copy(work = v))
    case "--plant" :: v :: r => parse(r, a.copy(plant = v))
    case "--reps" :: v :: r => parse(r, a.copy(reps = v.toInt))
    case "--cpus" :: v :: r => parse(r, a.copy(cpus = v.toInt))
    case "--list-ops" :: v :: r => parse(r, a.copy(listOps = v.toInt))
    case "--steps" :: v :: r => parse(r, a.copy(steps = v.toInt))
    case "--digest" :: v :: r => parse(r, a.copy(digest = v == "1"))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  def workload(name: String, seed: Long): Workload = name match {
    case "medallion_batch" => new MedallionBatch(seed)
    case "curation_batch" => new CurationBatch(seed)
    case "commit_mix" => new CommitMix(seed)
    case "lookup_mix" => new LookupMix(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Set up and warm every workload once, untimed: the run that records
    * the class-data-sharing archive. */
  def train(a: Args): Unit = {
    val spark = Util.session(a.cpus, a.work)
    try Seq("medallion_batch", "commit_mix", "lookup_mix").foreach { name =>
      val ctx = new Ctx(spark, a.work, a.seed, "", tracedRun = false)
      val w = workload(name, a.seed)
      w.setup(ctx, 0)
      w.warm(ctx)
    } finally spark.stop()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    if (a.workload == "train") return train(a)
    val w = workload(a.workload, a.seed)
    if (a.listOps > 0) {
      println(Json(w.opList(a.listOps)))
      return
    }
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    Files.createDirectories(Paths.get(a.work))
    val spark = Util.session(a.cpus, a.work)
    val sessionS = (Clock.ms() - jvmStart) / 1e3
    val ctx = new Ctx(spark, a.work, a.seed, a.plant, a.trace)
    val listener = new BenchListener
    if (a.digest) {
      // the fingerprint of every generated input file, in file order
      try {
        w.setup(ctx, 0)
        println(Json(w.inputs.map { dir =>
          Util.walk(dir).keys.filter(_.endsWith(".parquet")).toSeq.sorted
            .map(f => Util.fingerprint(spark.read.parquet(s"$dir/$f")).toString)
        }))
      } finally spark.stop()
      return
    }
    try {
      val setupS = (0 until (if (a.reps > 0) a.reps else w.setupReps)).map { r =>
        val t0 = Clock.ms(); w.setup(ctx, r); (Clock.ms() - t0) / 1e3
      }
      val t0 = Clock.ms()
      ctx.phase = "warm"
      w.warm(ctx)
      val warmS = (Clock.ms() - t0) / 1e3
      // the measured window; a traced run orders its untraced and traced
      // steps A B B A (A is traced for odd seeds), so a steady drift in
      // step time, such as JIT warm-up, falls equally on both and the
      // tracing overhead compares steps of the same warmth; it makes one
      // whole A B B A at least
      val sc = spark.sparkContext
      def tracedStep(body: => Unit): Unit = {
        sc.addSparkListener(listener)
        Trace.on = true
        try body
        finally {
          Trace.on = false
          org.apache.spark.perfbench.Bus.drain(sc)
          sc.removeSparkListener(listener)
        }
      }
      val order = if (a.seed % 2 != 0) Seq(true, false, false, true) else Seq(false, true, true, false)
      val perState = if (a.trace) 2 else 1
      // two steps at least: the first pipeline pass of a process varies
      // more from run to run than the mean of two, and two bursts let
      // commit_mix compare the first and the second half of its bursts
      val least = if (a.trace) order.size else 2
      val deadline = Clock.ms() + a.seconds * 1e3
      var i = 0
      def more: Boolean =
        if (a.steps > 0) i < a.steps * perState else i < least || Clock.ms() < deadline
      while (more) {
        if (a.trace && order(i % 4)) {
          ctx.phase = "traced"; tracedStep(w.step(ctx))
        } else {
          ctx.phase = "untraced"; w.step(ctx)
        }
        i += 1
      }
      if (a.trace) {
        ctx.phase = "attribution"
        tracedStep(w.attribution(ctx))
      }
      ctx.phase = "finish"
      w.finish(ctx)
      val raw = listener.synchronized {
        mutable.LinkedHashMap[String, Any](
          "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
          "plant" -> a.plant, "cpus" -> a.cpus, "seconds" -> a.seconds,
          "session_s" -> sessionS, "setup_reps_s" -> setupS, "warm_s" -> warmS,
          "ops" -> ctx.ops, "late_failures" -> ctx.lateFailures, "counts" -> ctx.counts, "series" -> ctx.series,
          "spans" -> Trace.all,
          "jobs" -> listener.jobs.values.toSeq,
          "stages" -> listener.stages.values.toSeq.sortBy(_.id).map(s =>
            Map("id" -> s.id, "tasks" -> s.tasks, "task_ms" -> s.taskMs.toSeq,
              "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs, "shuffle_bytes" -> s.shuffleBytes,
              "spill_bytes" -> s.spillBytes, "input_bytes" -> s.inputBytes,
              "start" -> s.start, "end" -> s.end)))
      }
      Files.write(Paths.get(a.out), Json(raw).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }
}
