package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Opts(mode: String, workload: String, seed: Long, seconds: Double,
                      trace: Boolean, cores: Int, root: String, data: String, out: String,
                      sample: String) {
  /** A file of the repository, by its path from the repository root. */
  def repoFile(rel: String): String = new File(root, rel).getPath
}

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m.getOrElse("mode", "run"), m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "20").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("cores", "4").toInt, m.getOrElse("root", "."), m("data"), m("out"),
      m.getOrElse("sample", ""))
  }
}

/** Operation accounting shared by the workloads. Every call into the
  * program is one attempted operation. A call that throws is a failed
  * one; a call whose output a check rejects is failed and makes the run
  * incorrect. Outputs compared against DuckDB are written out for
  * `perfbench/run.py`, which counts their mismatches the same way. */
final class Ctx(val opts: Opts, val tracer: Tracer, outputs: BufferedWriter) {
  var attempted = 0L
  var failed = 0L
  var correct = true
  private val notes = mutable.Set.empty[String]

  /** Reports `msg` on stderr, once per run. */
  def note(msg: String): Unit = if (notes.add(msg)) System.err.println(s"[perfbench] $msg")

  /** One operation: its value and seconds, or None when it threw. */
  def op[A](span: String, id: String)(f: => A): Option[(A, Double)] = {
    attempted += 1
    try Some(tracer.timed(span)(f))
    catch {
      case NonFatal(e) =>
        failed += 1
        note(s"$id failed: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
  }

  /** `n` operations done in one call, of which `nFailed` failed. */
  def bulk(n: Long, nFailed: Long): Unit = {
    attempted += n
    failed += nFailed
    if (nFailed > 0) note(s"$nFailed of $n operations failed")
  }

  /** The one check of an operation that did not throw. */
  def check(id: String, ok: Boolean, what: => String): Boolean = {
    if (!ok) {
      failed += 1
      correct = false
      note(s"$id wrong: $what")
    }
    ok
  }

  /** An output for the DuckDB comparison: `sqlSha` names the SQL text
    * the expected result must have been computed from. */
  def output(id: String, sqlSha: String, fingerprint: Long, s: Canon.Summary): Unit = {
    outputs.write(Json(Map("id" -> id, "sql_sha" -> sqlSha, "fingerprint" -> fingerprint.toString,
      "summary" -> Map("cols" -> s.cols, "types" -> s.types, "rows" -> s.rows, "digest" -> s.digest))))
    outputs.write("\n")
  }
}

/** One benchmark workload: a set-up, and whole rounds of the same
  * operations. Each round returns its figures by metric name; a run
  * reports the median of its timed rounds. */
trait Workload {
  /** Loads what the timed calls need, into a fresh session. */
  def setup(spark: SparkSession, ctx: Ctx): Unit
  /** Runs one round. */
  def round(spark: SparkSession, ctx: Ctx): Map[String, Double]
  /** Figures from the set-up (the median of its repetitions is kept). */
  def setupFigures: Map[String, Double] = Map.empty
  /** How many times a run sets up; `setup_s` is their median. */
  def setupReps: Int = 3
}

object Main {
  def session(opts: Opts, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${opts.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", opts.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A fixed single-threaded CPU loop: the host-health reading. */
  @volatile private var sink = 0L
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9e3779b97f4a7c15L
    var i = 0
    while (i < 100000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 29
      i += 1
    }
    sink = x
    (System.nanoTime() - t0) / 1e9
  }

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds the whole JVM has used so far, every thread counted. */
  def processCpuS(): Double = osBean.getProcessCpuTime / 1e9

  def peakRssMb(): Double = {
    val status = Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
    status.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def workload(opts: Opts): Workload = opts.workload match {
    case "ops_pipeline" => new OpsPipeline(opts)
    case "sql_lab" => new SqlLab(opts)
    case "estimator" => new EstimatorBench(opts)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val work = new File(opts.out).getAbsoluteFile.getParent
    opts.mode match {
      case "dump" => Dump.run(opts, session(opts, work))
      case "run" => run(opts, work)
      case other => throw new IllegalArgumentException(s"unknown mode '$other'")
    }
  }

  def run(opts: Opts, work: String): Unit = {
    val wl = workload(opts)
    val calib0 = calibrate()
    val tracer = new Tracer(opts.trace)
    val outputs = Files.newBufferedWriter(Paths.get(opts.out + ".outputs.jsonl"), UTF_8)
    val ctx = new Ctx(opts, tracer, outputs)

    // set-up, repeated: each repetition builds a fresh session and loads
    // the workload's inputs; the median repetition's CPU seconds are
    // reported, for the reason given at `endToEnd` (the estimator's
    // fifth-of-a-second set-up took half as long again in wall time
    // when a tenth to a fifth of the CPU time was stolen)
    val setups = mutable.ArrayBuffer.empty[(Double, Double, Map[String, Double])]
    var spark: SparkSession = null
    for (rep <- 0 until wl.setupReps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      val cpu0 = processCpuS()
      spark = session(opts, work)
      wl.setup(spark, ctx)
      setups += (((System.nanoTime() - t0) / 1e9, processCpuS() - cpu0, wl.setupFigures))
    }
    val setupS = median(setups.map(_._2).toSeq)

    // whole rounds until the run's seconds are spent
    val events = new SparkEvents
    if (opts.trace) events.attach(spark)
    val rounds = mutable.ArrayBuffer.empty[(Map[String, Double], Long, Long)]
    val t0 = System.nanoTime()
    while (rounds.isEmpty || (System.nanoTime() - t0) / 1e9 < opts.seconds) {
      tracer.round = rounds.size + 1
      val ms0 = System.currentTimeMillis()
      val figs = wl.round(spark, ctx)
      rounds += ((figs, ms0, System.currentTimeMillis()))
      spark.catalog.clearCache()
    }
    val measuredS = (System.nanoTime() - t0) / 1e9
    val calib1 = calibrate()
    val rss = peakRssMb()
    spark.stop() // drains the listener bus
    outputs.close()

    def med(rs: Seq[Map[String, Double]]): Map[String, Double] =
      rs.flatMap(_.keys).distinct.map(k => k -> median(rs.flatMap(_.get(k)))).toMap
    val all = med(rounds.map(_._1).toSeq)
    // the round's time as the CPU seconds of the whole JVM during its
    // calls: the wall time of identical runs on a shared virtual host
    // followed the CPU time other guests stole (2-16 % of a run) and
    // spread by up to a fifth; it is reported per layer as `round_s`
    val endToEnd = Map(
      "setup_s" -> setupS,
      "peak_rss_mb" -> rss,
      "round_cpu_s" -> all("round_cpu_s"))
    val hostCalib = median(Seq(calib0, calib1))
    val setupFigs = setups.head._3 // the first set-up is the one that loads

    val layer: Map[String, Double] = if (!opts.trace) Map.empty else {
      val perRound = rounds.toSeq.map { case (figs, ms0, ms1) =>
        val calls = tracer.spans.filter(s => s.startMs >= ms0 && s.endMs <= ms1 && s.parent == -1)
          .map(s => (s.startMs, s.endMs))
        figs ++ events.layer(ms0, ms1, calls)
      }
      val base = Layers.names.map(_ -> 0.0).toMap
      writeSpans(opts.out + ".spans.jsonl", tracer.spans)
      base ++ setupFigs ++ med(perRound).filter { case (k, _) => base.contains(k) } ++ Map(
        "host.calib_s" -> hostCalib,
        "trace.overhead_pct" -> 100.0 * events.busyNs.get / 1e9 / measuredS)
    }
    val metrics = if (opts.trace) layer else endToEnd
    val units = if (opts.trace) Layers.units else Map("setup_s" -> "s", "peak_rss_mb" -> "MB", "round_cpu_s" -> "s")
    val record = Map(
      "workload" -> opts.workload, "seed" -> opts.seed, "trace" -> opts.trace,
      "cores" -> opts.cores, "rounds" -> rounds.size, "measured_s" -> measuredS,
      "setup_reps_s" -> setups.map(_._1).toSeq, "setup_reps_cpu_s" -> setups.map(_._2).toSeq,
      "host.calib_s" -> hostCalib,
      "figures" -> (all ++ setupFigs ++ endToEnd),
      "round_figures" -> rounds.map(_._1).toSeq)
    val result = Map(
      "correct" -> ctx.correct, "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "metrics" -> metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> units.getOrElse(k, "?")) }.toMap,
      "record" -> record)
    Files.writeString(Paths.get(opts.out), Json(result) + "\n")
  }

  private def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path), UTF_8)
    spans.foreach { s =>
      w.write(Json(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "round" -> s.round,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds)))
      w.write("\n")
    }
    w.close()
  }
}
