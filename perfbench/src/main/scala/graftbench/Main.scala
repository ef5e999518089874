package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One closed-loop operation. Input generation is done before the
  * object is returned; only `run` is timed; `check` compares the
  * output with the workload's model afterwards. */
trait Op {
  /** "op" for the workload's main operation (a CDC batch with its
    * table services, a curation pass), "read" for a read. */
  def kind: String
  /** Units of work the op completes: change events or documents; 0 for
    * a read. */
  def units: Long
  def run(): Unit
  def check(): Boolean
}

/** A benchmark workload: inputs come only from the seed. */
trait Workload {
  /** Digest of every input generated so far: equal for equal seeds. */
  val inputs: Fingerprint = new Fingerprint
  /** Generate inputs and build tables from nothing under `dir`. Called
    * several times per run; the last build is the one measured. */
  def setup(dir: Path): Unit
  /** Untimed ops that load classes and JIT-compile before timing. */
  def warmup(): Unit
  def next(): Op
  /** Correctness checks after the timed loop: (attempted, failed). */
  def finish(): (Int, Int)
  /** End-to-end figures from the timed ops, printed as report lines. */
  def report(r: LoopResult): Seq[Metric]
  /** Per-layer counts of the run (spans are derived by the runner). */
  def layerCounts(r: LoopResult): Map[String, Double]
  /** Ops in one period of the workload's schedule. The timed loop ends
    * on a period boundary, so every run times whole periods — the same
    * mix of ops, table services included. */
  def period: Int
}

final case class Metric(name: String, value: Double, unit: String)

/** SHA-256 over generated inputs, printed with the report so that runs
  * can be compared for identical inputs. */
final class Fingerprint {
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
  def reset(): Unit = md.reset()
  def hex: String = md.clone().asInstanceOf[java.security.MessageDigest].digest()
    .take(8).map(b => f"$b%02x").mkString
}

/** What the timed loop observed about each op. */
final case class Sample(kind: String, seconds: Double, units: Long, traced: Boolean,
    wallSeconds: Double)
final case class LoopResult(samples: Seq[Sample], attempted: Int, failed: Int) {
  def untraced: Seq[Sample] = samples.filterNot(_.traced)
  def traced: Seq[Sample] = samples.filter(_.traced)
}

object Main {
  val SetupRepeats = 4
  /** Whole periods the timed loop runs at the least, whatever
    * `--seconds` asks: the op mix of a run then does not depend on how
    * close a period's time is to the limit. */
  val MinPeriods = 2

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val traceOut = opts.get("trace-out").map(Paths.get(_).toAbsolutePath)
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = graft.Session.builder(s"local[$cores]", cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.gcat", "graft.sql.GraftTableCatalog")
      .config("spark.sql.catalog.gcat.warehouse", work.resolve("wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark.sparkContext, s"$workload-$seed-${ProcessHandle.current().pid()}")
    var exit = 0
    try {
      val w: Workload = workload match {
        case "cdc_fresh_reads" => new CdcFreshReads(spark, seed, tracer)
        case "curation_pipeline" => new CurationPipeline(spark, seed, tracer)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val out = run(spark, w, work, seconds, trace, tracer, cores)
      traceOut.filter(_ => trace).foreach(tracer.writeSpans)
      println(out)
    } catch {
      case e: Throwable =>
        System.err.println(s"benchmark failed: $e")
        e.printStackTrace()
        exit = 1
    } finally spark.stop()
    sys.exit(exit)
  }

  private def run(spark: SparkSession, w: Workload, work: Path, seconds: Double,
      trace: Boolean, tracer: Tracer, cores: Int): String = {
    val start = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"perfbench: $what at ${(System.nanoTime() - start) / 1e9}%.1f s")
    val setupS = (0 until SetupRepeats).map { i =>
      val t0 = HostClock.mark()
      w.setup(work.resolve(s"setup-$i"))
      HostClock.since(t0)._1
    }
    phase("setup done")
    w.warmup()
    phase("warmup done")

    // closed loop, one client: the next op is issued when the last ends.
    // The traced run alternates traced and untraced periods, so tracing
    // overhead is measured against the same mix of ops in the same run.
    val samples = mutable.ArrayBuffer.empty[Sample]
    var attempted = 0
    var failed = 0
    var busyNs = 0L
    var i = 0
    val limitNs = (seconds * 1e9).toLong
    val round = w.period * (if (trace) 2 else 1)
    while (busyNs < limitNs || i < MinPeriods * w.period || i % round != 0) {
      val op = w.next()
      val traced = trace && (i / w.period) % 2 == 1
      tracer.enabled = traced
      val t0 = HostClock.mark()
      val ok =
        try { op.run(); true }
        catch { case e: Exception =>
          System.err.println(s"op ${op.kind} failed: $e"); false }
      val wallNs = System.nanoTime() - t0.nanos
      val (dt, _) = HostClock.since(t0)
      tracer.enabled = false
      busyNs += wallNs
      attempted += 1
      val good = ok && (try op.check() catch { case e: Exception =>
        System.err.println(s"check of ${op.kind} failed: $e"); false })
      if (!good) failed += 1
      samples += Sample(op.kind, dt, op.units, traced, wallNs / 1e9)
      i += 1
    }
    phase("timed loop done")
    val (fa, ff) = w.finish()
    phase("final checks done")
    val loop = LoopResult(samples.toSeq, attempted + fa, failed + ff)

    val ops = loop.untraced.filter(_.kind == "op").map(_.seconds)
    val reads = loop.untraced.filter(_.kind == "read").map(_.seconds)
    val (opPct, opTail) = Stats.tail(ops)
    val (readPct, readTail) = Stats.tail(reads)
    // a period reads a fixed mix of kinds whose latencies differ: the
    // median of a handful of mixed reads jumps between kinds from run
    // to run, their mean does not
    val e2e = Seq(
      Metric("throughput_per_s", loop.untraced.map(_.units).sum / loop.untraced.map(_.seconds).sum, "1/s"),
      Metric("op_p50_s", Stats.median(ops), "s"),
      Metric("op_tail_s", opTail, "s"),
      Metric("read_mean_s", reads.sum / reads.size, "s"),
      Metric("read_tail_s", readTail, "s"),
      Metric("setup_s", Stats.median(setupS), "s"),
      Metric("peak_rss_mb", peakRssMb(), "MB"))
    val wall = loop.untraced.map(_.wallSeconds).sum
    val extra = w.report(loop) ++ Seq(
      Metric("failed_op_ratio", loop.failed.toDouble / loop.attempted, "ratio"),
      Metric("throughput_per_wall_s", loop.untraced.map(_.units).sum / wall, "1/s"),
      Metric("host_steal_share", 1 - loop.untraced.map(_.seconds).sum / wall, "ratio"))

    println(s"# ops=${ops.size} (tail = p$opPct) reads=${reads.size} (tail = p$readPct) " +
      s"setups=${setupS.map(d => f"$d%.3f").mkString(",")} inputs=${w.inputs.hex}")
    (e2e ++ extra).foreach(m => println(f"# ${m.name} ${m.value}%.6g ${m.unit}"))

    val metrics =
      if (!trace) e2e
      else {
        tracer.drain()
        perLayer(w, loop, tracer, cores)
      }
    json(loop.failed == 0, loop.attempted, loop.failed, metrics)
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  private def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), "UTF-8")
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Per-layer figures of the traced ops. Every span figure is a total
    * over the traced ops divided by their number: per op of the
    * workload, so runs of different length compare. Spans a workload
    * never enters read 0. */
  private def perLayer(w: Workload, loop: LoopResult, tracer: Tracer, cores: Int): Seq[Metric] = {
    val traced = loop.traced
    val n = math.max(1, traced.size).toDouble
    val self = tracer.selfNs
    val byName = tracer.recorded.groupBy(_.name)
    val spanMetrics = Layers.spans.flatMap { name =>
      val ss = byName.getOrElse(name, Nil)
      val wallS = ss.map(s => self(s.id)).sum / 1e9
      val tot = ss.flatMap(s => tracer.totalsOf(s.id))
      val taskS = tot.map(_.runMs).sum / 1e3
      Seq(
        Metric(s"$name.wall_s", wallS / n, "s"),
        Metric(s"$name.task_s", taskS / n, "s"),
        Metric(s"$name.gc_s", tot.map(_.gcMs).sum / 1e3 / n, "s"),
        Metric(s"$name.shuffle_mb", tot.map(_.shuffleBytes).sum / 1e6 / n, "MB"),
        Metric(s"$name.par_eff", if (wallS > 0) taskS / (wallS * cores) else 0.0, "ratio"))
    }
    val counts = w.layerCounts(loop) ++ Layers.spanCounts(tracer)
    // traced and untraced ops come in equal numbers of whole periods
    val overhead = {
      val tr = loop.traced.map(_.seconds)
      val un = loop.untraced.map(_.seconds)
      if (tr.isEmpty || un.isEmpty) 0.0 else tr.sum / tr.size / (un.sum / un.size) - 1.0
    }
    spanMetrics ++ Layers.counts.map { case (name, unit) =>
      Metric(name, counts.getOrElse(name, 0.0), unit)
    } :+ Metric("trace.overhead_ratio", overhead, "ratio")
  }

  private def json(correct: Boolean, attempted: Int, failed: Int, ms: Seq[Metric]): String = {
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    val body = ms.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}
