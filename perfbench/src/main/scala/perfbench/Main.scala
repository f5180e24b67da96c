package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point: one workload, one seed, one closed-loop client.
  *
  * {{{
  * perfbench.Main --workload serve_mixed --seed 1 --seconds 30 --trace 0 \
  *   --tmp <scratch dir> --report <dir>
  * }}}
  *
  * Prints a detail line (`{"detail": ...}`: every named metric,
  * samples, host noise, effective session conf) and, last, the result
  * line: `{"correct", "attempted", "failed", "metrics"}` where the
  * metrics are the end-to-end set with `--trace 0` and the per-layer
  * set with `--trace 1`.
  */
object Main {
  /** Set-up is repeated this many times and its median reported, so
    * `setup_s` is a steady figure rather than one sample. */
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      tmp: Path, report: Path)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("tmp")), Paths.get(need("report")))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(args.tmp)
    Files.createDirectories(args.report)
    val code = try run(args, jvmStart) finally deleteTree(args.tmp)
    sys.exit(code)
  }

  private def run(args: Args, jvmStart: Long): Int = {
    val nproc = Runtime.getRuntime.availableProcessors
    val make: Ctx => Workload = args.workload match {
      case "serve_mixed" => new ServeMixed(_)
      case "load_query_train" => new LoadQueryTrain(_)
      case other =>
        System.err.println(s"unknown workload '$other'")
        return 2
    }
    val spark = graft.Engine.builder(s"local[$nproc]", nproc, "perfbench")
      .config("spark.local.dir", args.tmp.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.tmp.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val tracer = new Tracer(args.trace)
      tracer.attach(spark.sparkContext)
      val w = make(Ctx(spark, tracer, args.tmp, args.seed, nproc))
      val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
      val setupS = (0 until SetupReps).map(rep => seconds(w.setup(rep)))
      val warmS = seconds(w.warmup())
      val setup = sessionS + Stats.median(setupS) + warmS

      val noise0 = Noise.sample()
      val ops = mutable.ArrayBuffer.empty[OpRec]
      val failures = mutable.ArrayBuffer.empty[String]
      val t0 = System.nanoTime()
      var i = 0
      while (System.nanoTime() - t0 < args.seconds * 1000000000L || i % w.cycle != 0) {
        val kind = w.kindOf(i)
        val clock = new Clock
        val mismatch = try tracer.span(s"op.$kind")(w.op(i, kind, clock)) catch {
          case e: Exception => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        mismatch.foreach(m => failures += s"op $i ($kind): $m")
        ops += OpRec(kind, clock.ms, mismatch.isEmpty)
        i += 1
      }
      val measuredS = (System.nanoTime() - t0) / 1e9
      val endChecks = try w.finish() catch {
        case e: Exception => Seq(s"final check: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      failures ++= endChecks
      val noise1 = Noise.sample()
      if (args.trace) org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)

      val attempted = ops.size + 1 // the final check counts as one attempt
      val failed = ops.count(!_.ok) + (if (endChecks.nonEmpty) 1 else 0)
      def p50(kind: String) = Stats.median(ops.filter(_.kind == kind).map(_.ms).toSeq)
      val endToEnd = Map(
        "setup_s" -> Metric(setup, "s"),
        "ops_per_s" -> Metric(1000.0 / w.mix.map { case (k, share) => share * p50(k) }.sum, "op/s"),
        "read_p50_ms" -> Metric(p50(w.readKind), "ms"),
        "write_p50_ms" -> Metric(p50(w.writeKind), "ms"),
        "peak_rss_mb" -> Metric(Noise.peakRssMb(), "MB"))
      val named = w.metrics(ops.toSeq) ++ endToEnd +
        ("failed_ratio" -> Metric(failed.toDouble / attempted, "ratio"))
      val layers = if (args.trace) Layers.all(w.layerMetrics(ops.toSeq)) else Map.empty[String, Metric]

      val tag = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
      if (args.trace) Report.writeSpans(args.report.resolve(s"$tag-spans.jsonl"), tracer)
      val detail = Map[String, Any](
        "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
        "inputs_hash" -> w.inputsHash,
        "host" -> Noise.hostId(), "nproc" -> nproc,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "session_s" -> sessionS, "setup_reps_s" -> setupS, "warmup_s" -> warmS,
        "measured_s" -> measuredS,
        "ops" -> Stats.countBy(ops.map(_.kind).toSeq),
        "samples_ms" -> ops.groupBy(_.kind).map { case (k, v) => k -> v.map(_.ms).toSeq },
        "metrics" -> Json.metrics(named),
        "per_layer" -> Json.metrics(layers),
        "trace" -> (if (args.trace) Report.traceSummary(tracer, w.determinism) else null),
        "noise" -> Noise.delta(noise0, noise1),
        "failures" -> failures.take(20).toSeq,
        "failures_total" -> failures.size,
        "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
          k.startsWith("spark.sql.") || k == "spark.master" || k == "spark.serializer" })
      Files.writeString(args.report.resolve(s"$tag.json"), Json.render(detail) + "\n")
      println(Json.obj("detail" -> detail))
      println(Json.obj(
        "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "metrics" -> Json.metrics(if (args.trace) layers else endToEnd)))
      0
    } finally {
      spark.stop()
    }
  }

  def seconds(body: => Unit): Double = {
    val t = System.nanoTime()
    body
    (System.nanoTime() - t) / 1e9
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }
}

final case class Ctx(spark: SparkSession, tracer: Tracer, tmp: Path, seed: Long, nproc: Int)
final case class OpRec(kind: String, ms: Double, ok: Boolean)
final case class Metric(value: Double, unit: String)

/** Accumulates the timed part of an op; checks run outside it. */
final class Clock {
  private var ns = 0L
  def apply[T](body: => T): T = {
    val t = System.nanoTime()
    try body finally ns += System.nanoTime() - t
  }
  def ms: Double = ns / 1e6
}

/** A workload: seeded inputs, a closed loop of ops, checks against an
  * expected state kept in plain Scala. */
trait Workload {
  /** Build inputs and state from nothing; the last call's state is used. */
  def setup(rep: Int): Unit
  /** Untimed ops so the JIT and lazy session state settle first. */
  def warmup(): Unit
  /** The op kinds, repeated in this order. */
  def kinds: IndexedSeq[String]
  def kindOf(i: Int): String = kinds(i % kinds.size)
  /** Ops per cycle: the loop always ends on a whole cycle. */
  def cycle: Int = 1
  /** Run op `i`, timing only the calls into the program through `clock`;
    * returns how the output differed from the expected state, if it did. */
  def op(i: Int, kind: String, clock: Clock): Option[String]
  /** End-of-run checks; each entry is a failure. */
  def finish(): Seq[String]
  def inputsHash: String
  /** The workload's named end-to-end metrics. */
  def metrics(ops: Seq[OpRec]): Map[String, Metric]
  /** Each op kind's share of the nominal mix. `ops_per_s` is the
    * throughput at this mix from each kind's median latency, so it
    * does not move with the mix a short run happens to complete. */
  def mix: Map[String, Double] =
    kinds.groupBy(identity).map { case (k, v) => k -> v.size.toDouble / kinds.size }
  /** The op kind whose median is `read_p50_ms`: the store read a user
    * waits on. */
  def readKind: String
  /** The op kind whose median is `write_p50_ms`: the store write. */
  def writeKind: String
  /** Per-layer metrics from the trace (traced runs only). */
  def layerMetrics(ops: Seq[OpRec]): Map[String, Double]
  /** Counts that must repeat exactly across traced runs with one seed. */
  def determinism: Map[String, Any]
}
