package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --out <file>`.
  *
  * Builds a local session, runs the workload (set-up, timed phase,
  * output checks, and in a traced run the layer probes), and writes
  * the run record as JSON to `--out`. `perfbench/run.py` builds this
  * program, launches it, and prints the record's summary line. */
object Main {
  val Workloads: Map[String, Run => Unit] = Map(
    "rtt_monthly" -> RttMonthly.run,
    "corpus_maintain" -> CorpusMaintain.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val body = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, workload, opts("seed").toLong,
      opts("seconds").toDouble, opts("trace") == "1", cores,
      work.resolve("data"))
    run.mark("session")
    try body(run)
    catch { case e: Throwable => run.attempted += 1; run.fail("workload", e) }
    finally {
      run.mark("done")
      Files.write(Paths.get(opts("out")), Json.render(run.record).getBytes("UTF-8"))
      spark.stop()
    }
  }
}

/** State and accounting of one run. Timed operations go through [[op]]:
  * an operation that throws, or whose output check fails, counts as
  * failed and never contributes a timing. */
final class Run(val spark: SparkSession, val workload: String,
    val seed: Long, val seconds: Double, val traced: Boolean,
    val cores: Int, val dir: Path) {
  val tracer = new Tracer(spark, traced, cores)
  var attempted = 0L
  var failed = 0L
  val errors = scala.collection.mutable.ArrayBuffer.empty[String]
  /** Wall seconds of every successful timed operation, by kind. */
  val times = scala.collection.mutable.LinkedHashMap.empty[String,
    scala.collection.mutable.ArrayBuffer[Double]]
  /** End-to-end metrics: name -> (value, unit). */
  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics (traced runs only): name -> (value, unit). */
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Everything else the record keeps: inputs, parameters, the
    * workload's own metric names, phase marks and check times. */
  val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]
  private val heap = new HeapSampler

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val marks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  info("marks_s") = marks
  /** Seconds spent checking the outputs of each operation kind. */
  private val checkS = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  info("check_s") = checkS

  /** Records seconds since the JVM started under `name`. */
  def mark(name: String): Unit = marks(name) = (System.currentTimeMillis() - jvmStart) / 1000.0

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(400)}"
  }

  /** Time `body` as one attempt of operation `kind`, then run `check`
    * on its result outside the timing. Returns the result only when
    * both succeeded. */
  def op[T](kind: String, span: String)(body: => T)(check: T => Unit): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val result = try Right(tracer.span(span)(body)) catch { case e: Throwable => Left(e) }
    val sec = (System.nanoTime() - t0) / 1e9
    val c0 = System.nanoTime()
    val checked = result.flatMap(r => try { check(r); Right(r) } catch { case e: Throwable => Left(e) })
    checkS(kind) = checkS.getOrElse(kind, 0.0) + (System.nanoTime() - c0) / 1e9
    checked match {
      case Right(r) =>
        times.getOrElseUpdate(kind, scala.collection.mutable.ArrayBuffer.empty) += sec
        Some(r)
      case Left(e) => fail(kind, e); None
    }
  }

  /** An output check outside any timed operation (end-of-run state). */
  def check(what: String)(cond: => Unit): Unit = {
    attempted += 1
    try cond catch { case e: Throwable => fail(what, e) }
  }

  def timings(kind: String): Seq[Double] = times.get(kind).map(_.toSeq).getOrElse(Nil)

  /** Median of the timings of `kind`; None when none succeeded. */
  def p50(kind: String): Option[Double] =
    Some(timings(kind)).filter(_.nonEmpty).map(Stats.median)

  def metric(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit = layers(name) = (value, unit)

  /** Runs the set-up, records its wall time as `setup_s`, and returns
    * its state. */
  def setup[S](body: => S): S = {
    mark("inputs")
    val t0 = System.nanoTime()
    val state = tracer.span("setup")(body)
    metric("setup_s", (System.nanoTime() - t0) / 1e9, "s")
    mark("setup")
    heap.reset()
    state
  }

  /** Peak driver heap after GC, sampled at the boundaries of the timed
    * phase's operations (call between operations, never inside one). */
  def sampleHeap(): Unit = heap.sample()

  def finishHeap(): Unit = {
    mark("timed")
    metric("heap_peak_mb", heap.peakMb, "MB")
  }

  def record: Map[String, Any] = {
    if (attempted > 0)
      metric("ops_ok_frac", (attempted - failed).toDouble / attempted, "frac")
    Map("workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "cores" -> cores,
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layers" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "timings" -> times,
      "info" -> info,
      "spans" -> tracer.spanRecords)
  }
}

/** Driver heap after a full GC. In `local[k]` the executors share the
  * driver JVM, so this includes cached blocks. */
final class HeapSampler {
  private var peak = 0L
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean
  def reset(): Unit = peak = 0L
  def sample(): Unit = {
    System.gc()
    peak = math.max(peak, mem.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / 1048576.0
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
