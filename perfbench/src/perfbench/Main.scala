package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One timed step of a pass: a query, a micro-batch or a pipeline output. */
final case class Step(name: String, ms: Double, ok: Boolean)

/** One complete pass, from inputs to every output materialised. */
final case class Pass(wallS: Double, steps: Seq[Step], layers: Map[String, Double],
                      extra: Map[String, Double])

final case class Check(name: String, ok: Boolean, detail: String)

/** A benchmark workload: a closed loop of steps on a fixed input set. */
trait Workload {
  /** Rows of input one pass consumes (for the throughput metric). */
  def inputRows: Long
  /** One complete pass; returns per-pass figures for the run record. */
  def pass(t: Tracer, steps: ArrayBuffer[Step]): Map[String, Double]
  /** Traced runs: per-layer metrics of one pass, from its spans. */
  def layers(t: Tracer, spans: Seq[Span]): Map[String, Double]
  /** Output checks, run once after the timed region. */
  def verify(): Seq[Check]
}

/** Benchmark harness: one JVM per run, `local[cores]`, a private
  * warehouse / checkpoint / temp root under the run's work directory.
  *
  * Sequence: session start → timed passes until
  * `--seconds` elapse (at least one) → output checks → run record (JSON) at
  * `--out`, spans at `<work>/spans.jsonl` when traced. The first pass runs
  * in a fresh JVM, as every batch run of the pipeline does; later passes
  * are recorded as warm passes.
  *
  * {{{
  * java -cp <classes>:<spark jars> perfbench.Main --workload corpus_ops \
  *   --inputs <dir> --work <dir> --seconds 10 --trace 0 --cores 4 --out <file>
  * }}}
  */
object Main {
  private val processStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val inputs = Paths.get(opt("inputs")).toAbsolutePath
    val work = Paths.get(opt("work")).toAbsolutePath
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val cores = opt("cores").toInt
    val out = Paths.get(opt("out"))

    val spark = SparkSession.builder()
      .appName(s"perfbench-$workloadName")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(work.resolve("rdd-checkpoints").toString)
    val sessionS = (System.currentTimeMillis() - processStartMs) / 1e3

    val tracer = new Tracer(spark, traced, java.util.UUID.randomUUID().toString)
    val workload: Workload = workloadName match {
      case "nhs_panels" => new NhsPanels(spark, inputs, work, traced)
      case "corpus_ops" => new CorpusOps(spark, inputs, work)
      case "stream_stores" => new StreamStores(spark, inputs, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def runPass(): (Pass, Int) = {
      val steps = ArrayBuffer.empty[Step]
      val mark = tracer.mark
      val t0 = System.nanoTime()
      val extra = tracer.span("pass")(workload.pass(tracer, steps))
      val wall = (System.nanoTime() - t0) / 1e9
      val layers =
        if (!traced) Map.empty[String, Double]
        else {
          tracer.drain()
          val spans = tracer.spansSince(mark)
          val w = tracer.work(spans.head)
          workload.layers(tracer, spans) ++ Map(
            "driver_s" -> (spans.head.wallS - w.jobBusyS).max(0.0),
            "spark.jobs" -> w.jobs.toDouble,
            "spark.spill_bytes" -> w.spillBytes.toDouble)
        }
      (Pass(wall, steps.toSeq, layers, extra), steps.count(!_.ok))
    }

    val setupS = (System.currentTimeMillis() - processStartMs) / 1e3

    val passes = ArrayBuffer.empty[Pass]
    var failedSteps = 0
    val timedStart = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - timedStart) / 1e9 < seconds) {
      val (p, f) = runPass()
      passes += p
      failedSteps += f
    }

    val checks =
      try workload.verify()
      catch { case NonFatal(e) => Seq(Check("verify", ok = false, e.toString)) }
    checks.filterNot(_.ok).foreach(c => System.err.println(s"[perfbench] check ${c.name} failed: ${c.detail}"))

    if (traced) tracer.writeSpans(work.resolve("spans.jsonl"))
    tracer.close()

    val record = Json.obj(
      "workload" -> workloadName,
      "cores" -> cores,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "traced" -> traced,
      "session_s" -> sessionS,
      "setup_s" -> setupS,
      "input_rows" -> workload.inputRows,
      "peak_rss_mb" -> peakRssMb(),
      "steps_attempted" -> passes.map(_.steps.size).sum,
      "steps_failed" -> failedSteps,
      "passes" -> passes.map(p => Json.Raw(Json.obj(
        "wall_s" -> p.wallS,
        "steps" -> p.steps.map(s => Json.Raw(Json.obj("name" -> s.name, "ms" -> s.ms, "ok" -> s.ok))),
        "layers" -> p.layers,
        "extra" -> p.extra))),
      "checks" -> checks.map(c => Json.Raw(Json.obj("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))))
    Files.writeString(out, record)
    spark.stop()
  }

  /** Peak resident set of this JVM (driver and executors share it), MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Time `body` as one step; a failure is recorded, not thrown. */
  def step(steps: ArrayBuffer[Step], name: String)(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    val ok =
      try { body; true }
      catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] step $name failed: $e")
        false
      }
    steps += Step(name, (System.nanoTime() - t0) / 1e6, ok)
  }

  /** Sum of the `rows` entries of a generator's manifest.json. */
  def manifestRows(manifest: Path, names: Seq[String]): Long = {
    val rows = new com.fasterxml.jackson.databind.ObjectMapper().readTree(manifest.toFile).get("rows")
    names.map(n => rows.get(n).asLong).sum
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
}
