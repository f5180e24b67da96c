package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

object Stats {
  /** Linear-interpolated percentile (`p` in 0..100). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val x = (s.size - 1) * p / 100.0
      val lo = math.floor(x).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (x - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** The highest of p50/p90/p99/p99.9 with at least ten samples above
    * it: (percentile, value), or None below 20 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 90.0, 50.0).find(p => xs.size * (1 - p / 100) >= 10)
      .map(p => (p, pct(xs, p)))

  def countBy(xs: Seq[String]): Map[String, Int] = xs.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Median latency metric plus its tail, from the ops of one kind. */
  def latency(ops: Seq[OpRec], kind: String, name: String): Map[String, Metric] = {
    val xs = ops.filter(_.kind == kind).map(_.ms)
    val base = Map(s"${name}_p50_ms" -> Metric(median(xs), "ms"),
      s"${name}_samples" -> Metric(xs.size, "count"))
    tail(xs).fold(base) { case (p, v) =>
      base ++ Map(s"${name}_tail_ms" -> Metric(v, "ms"), s"${name}_tail_pct" -> Metric(p, "pct")) }
  }
}

/** Host-noise context: CPU pressure, steal time and GC, sampled around
  * the measured loop. Reported next to the metrics, never gated on. */
object Noise {
  final case class Sample(psi: Map[String, Double], steal: Long, ticks: Long, gcMs: Long)

  def sample(): Sample = {
    val psi = read("/proc/pressure/cpu").flatMap { l =>
      val f = l.split(" ")
      f.drop(1).collect { case kv if kv.startsWith("avg") =>
        val Array(k, v) = kv.split("=")
        s"${f(0)}_$k" -> v.toDouble
      }
    }.toMap
    val cpu = read("/proc/stat").find(_.startsWith("cpu ")).map(_.split("\\s+").drop(1).map(_.toLong))
      .getOrElse(Array.empty[Long])
    Sample(psi, if (cpu.length > 7) cpu(7) else 0L, cpu.sum, Tracer.gcMs())
  }

  def delta(a: Sample, b: Sample): Map[String, Any] = Map(
    "cpu_pressure_start" -> a.psi, "cpu_pressure_end" -> b.psi,
    "steal_share" -> (if (b.ticks > a.ticks) (b.steal - a.steal).toDouble / (b.ticks - a.ticks) else 0.0),
    "gc_ms" -> (b.gcMs - a.gcMs))

  def peakRssMb(): Double =
    read("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** Host id: the machine id, else the hostname. */
  def hostId(): String =
    read("/etc/machine-id").headOption.map(_.take(12))
      .getOrElse(java.net.InetAddress.getLocalHost.getHostName)

  private def read(p: String): Seq[String] =
    try Files.readAllLines(Paths.get(p)).asScala.toSeq catch { case _: Exception => Nil }
}

/** Minimal JSON rendering for maps, sequences, strings and numbers. */
object Json {
  def obj(kv: (String, Any)*): String = render(kv.toMap)

  def metrics(m: Map[String, Metric]): Map[String, Any] =
    m.map { case (k, v) => k -> Map("value" -> v.value, "unit" -> v.unit) }

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)
        .map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case p: Product => render(p.productElementNames.zip(p.productIterator).toMap)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}

/** The per-layer metric set every traced run reports. A layer a
  * workload leaves idle (no span, no sample) reports 0. */
object Layers {
  val Units: Seq[(String, String)] = Seq(
    "api.upload.ms" -> "ms", "api.upload.jobs" -> "count",
    "api.upload.driver_gap_ms" -> "ms", "api.upload.accepted_ratio" -> "ratio",
    "api.delete.ms" -> "ms", "api.delete.jobs" -> "count",
    "api.index.ms" -> "ms", "api.graph_data.ms" -> "ms",
    "store.upload.job_ms" -> "ms", "store.delete.job_ms" -> "ms",
    "store.output_bytes_per_write" -> "bytes", "store.files" -> "count",
    "store.write.ms" -> "ms", "store.write.output_bytes" -> "bytes",
    "etl.csv_write.ms" -> "ms", "etl.parse_stage.ms" -> "ms",
    "etl.valid_ratio" -> "ratio", "etl.snapshot.job_ms" -> "ms",
    "query.j3.ms" -> "ms", "query.j3.plan_ms" -> "ms",
    "query.j3.shuffle_bytes" -> "bytes", "query.j3.rows_examined" -> "ratio",
    "query.delta.ms" -> "ms", "query.kcore.ms" -> "ms", "query.kcore.jobs" -> "count",
    "query.cc_star.ms" -> "ms", "query.cc_star.jobs" -> "count",
    "query.triangles.ms" -> "ms", "query.triangles.wedges" -> "count",
    "graphx.build.ms" -> "ms", "graphx.pagerank.ms" -> "ms",
    "graphx.pagerank.stages" -> "count", "graphx.cc.ms" -> "ms",
    "ext.score.ms" -> "ms", "ext.drop_exact.ms" -> "ms", "ext.minhash.ms" -> "ms",
    "ext.drop_near.ms" -> "ms", "ext.decontam.ms" -> "ms", "ext.pii_pack.ms" -> "ms",
    "ext.dedup.kept_ratio" -> "ratio", "ext.bloom.precision" -> "ratio",
    "functions.minhash.rows_per_s" -> "rows/s", "functions.quality.rows_per_s" -> "rows/s",
    "functions.langid.rows_per_s" -> "rows/s", "functions.pii.rows_per_s" -> "rows/s")

  def all(measured: Map[String, Double]): Map[String, Metric] = {
    val unknown = measured.keySet -- Units.map(_._1)
    require(unknown.isEmpty, s"undeclared layer metrics: $unknown")
    Units.map { case (k, u) =>
      k -> Metric(measured.get(k).filterNot(_.isNaN).getOrElse(0.0), u)
    }.toMap
  }
}

/** Trace summaries: per-span medians from a traced run. */
object Report {
  def writeSpans(path: Path, t: Tracer): Unit = {
    val lines = t.allSpans.map { s =>
      val jobs = t.jobsIn(s)
      Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "self_ms" -> t.selfMs(s), "gc_ms" -> s.gcMs,
        "jobs" -> jobs.size, "stages" -> jobs.map(_.stages).sum, "tasks" -> jobs.map(_.tasks).sum,
        "task_s" -> jobs.map(_.taskMs).sum / 1000.0,
        "shuffle_read" -> jobs.map(_.shuffleRead).sum, "shuffle_write" -> jobs.map(_.shuffleWrite).sum,
        "spill" -> jobs.map(_.spill).sum, "output" -> jobs.map(_.output).sum,
        "driver_gap_ms" -> t.driverGapMs(s),
        "jobs_by_module" -> jobs.groupBy(_.module).map { case (k, v) => k -> v.size },
        "job_ms_by_call_site" -> jobs.groupBy(_.callSite).map { case (k, v) => k -> v.map(j => j.end - j.start).sum },
        "counts" -> s.counts)
    }
    Files.write(path, lines.asJava)
  }

  /** Per span name: median wall and self time; per op kind: the share
    * of op wall time its spans' self times account for. */
  def traceSummary(t: Tracer, determinism: Map[String, Any]): Map[String, Any] = {
    val spans = t.allSpans
    val byName = spans.groupBy(_.name).map { case (n, ss) =>
      n -> Map("n" -> ss.size,
        "wall_ms" -> Stats.median(ss.map(s => (s.end - s.start).toDouble)),
        "self_ms" -> Stats.median(ss.map(s => t.selfMs(s).toDouble)),
        "jobs" -> Stats.median(ss.map(s => t.jobsIn(s).size.toDouble)),
        "driver_gap_ms" -> Stats.median(ss.map(s => t.driverGapMs(s).toDouble)))
    }
    val coverage = spans.filter(_.parent == 0).groupBy(_.name).map { case (n, roots) =>
      n -> Stats.median(roots.map { r =>
        val inOp = spans.filter(_.op == r.op)
        inOp.map(t.selfMs).sum.toDouble / math.max(1L, r.end - r.start)
      })
    }
    Map("spans" -> byName, "self_time_coverage" -> coverage,
      "jobs_total" -> t.jobs.size, "determinism" -> determinism)
  }
}

object Check {
  /** The names of the failed checks, if any failed. */
  def all(checks: (String, Boolean)*): Option[String] =
    Some(checks.collect { case (name, false) => name }).filter(_.nonEmpty).map(_.mkString("; "))
}

object Disk {
  /** (data files, bytes of all files) under a directory tree. */
  def usage(dir: java.nio.file.Path): (Long, Long) =
    if (!java.nio.file.Files.exists(dir)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(dir)
      try {
        val files = s.iterator.asScala.filter(java.nio.file.Files.isRegularFile(_)).toSeq
        (files.count(_.getFileName.toString.startsWith("part-")).toLong,
          files.map(java.nio.file.Files.size).sum)
      } finally s.close()
    }
}
