package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Options the launcher (`run.py`) passes to the JVM. */
final case class Opts(workload: String, inputs: String, work: String,
    seconds: Double, trace: Boolean, result: String, runId: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k required"))
    Opts(need("workload"), need("inputs"), need("work"), need("seconds").toDouble,
      need("trace") == "1", need("result"), m.getOrElse("run-id", "run"))
  }
}

/** One benchmark run's bookkeeping: timed samples per metric, operations
  * attempted and failed, and the output checks. A failed check counts as a
  * failed operation.
  */
final class Run(val spark: SparkSession, val tracer: Tracer, val opts: Opts) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.LinkedHashMap.empty[String, Boolean]
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  /** What the program produced, one line per output, for the digest. */
  val outputs = mutable.ArrayBuffer.empty[String]

  /** SHA-1 of the sorted output lines: equal seeds must give equal digests. */
  def digest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    outputs.sorted.foreach(o => md.update((o + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  def sample(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  /** Time one operation into `metric`; a thrown error counts as failed. */
  def op[T](metric: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = body
      sample(metric, (System.nanoTime() - t0) / 1e9)
      Some(out)
    } catch {
      case e: Exception =>
        failed += 1
        errors += s"$metric: $e"
        None
    }
  }

  /** An untimed warm operation: counted, but neither timed nor traced. */
  def warm[T](body: => T): Option[T] = op("warm_s")(tracer.quiet(body))

  def check(name: String)(cond: => Boolean): Unit = {
    attempted += 1
    val ok = try cond catch {
      case e: Exception => errors += s"check $name: $e"; false
    }
    if (!ok) failed += 1
    checks(name) = checks.getOrElse(name, true) && ok
  }

  /** Run timed rounds until `opts.seconds` have passed, at least
    * `minRounds` and at most `maxRounds` of them.
    * The traced run wraps the whole measured phase in a root span, so the
    * spans' self times can be reconciled with its wall.
    */
  def measure(minRounds: Int, maxRounds: Int)(round: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    tracer.span("bench.measure") {
      var i = 0
      while (i < maxRounds &&
          (i < minRounds || (System.nanoTime() - t0) / 1e9 < opts.seconds)) {
        round(i)
        i += 1
      }
      values("rounds") = i
    }
    values("measure_wall_s") = (System.nanoTime() - t0) / 1e9
  }
}

/** Small file helpers: line counts, tallies of a written dir, removal. */
object Disk {
  private def leaves(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(leaves)
    else if (f.exists()) Seq(f) else Nil

  /** Lines of every visible part file under `path`. */
  def lines(path: String): Long =
    leaves(new File(path)).filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .map { f =>
        val src = scala.io.Source.fromFile(f)
        try src.getLines().size.toLong finally src.close()
      }.sum

  /** Files and megabytes under `path`. */
  def tally(path: String): Map[String, Double] = {
    val fs = leaves(new File(path))
    Map("files_created" -> fs.size.toDouble, "mb_written" -> fs.map(_.length).sum / 1e6)
  }

  def bytes(path: String): Long = leaves(new File(path)).map(_.length).sum

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }
}

trait Workload {
  /** Untimed preparation: load inputs, run one warm operation. */
  def setup(run: Run): Unit
  /** Rounds every run makes, however short its seconds. */
  def minRounds: Int = 1
  /** Rounds the inputs hold. */
  def maxRounds: Int = Int.MaxValue
  /** One timed round; called until the run's seconds are used up. */
  def round(run: Run, i: Int): Unit
  /** Output checks over what the rounds produced. */
  def verify(run: Run): Unit
  /** End-to-end metrics from the run's samples. */
  def metrics(run: Run): Map[String, Double]
}

object Main {
  val Cores = 4

  def session(opts: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${opts.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.work}/warehouse")
      .config("spark.hadoop.fs.file.impl", graft.ops.FsUtil.localFsImpl)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val wl: Workload = opts.workload match {
      case "ice_specimen" => new IceSpecimen(opts.inputs, opts.work)
      case "curation_stream" => new CurationStream(opts.inputs, opts.work)
      case "catalog" => new Catalog(opts.inputs)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spark = session(opts)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val run = new Run(spark, new Tracer(spark.sparkContext, opts.trace, opts.runId, Cores), opts)
    run.values("session_s") = sessionS
    wl.setup(run)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    run.measure(wl.minRounds, wl.maxRounds)(i => wl.round(run, i))
    wl.verify(run)
    if (opts.trace) {
      // one client thread: the measured phase's spans are those inside the
      // root span's interval. Their self times plus the tracer's own work
      // must cover the root's wall; the rest is harness work no layer owns
      val root = run.tracer.spans.find(_.name == "bench.measure").get
      val selfSum = run.tracer.spans
        .filter(s => s.id != root.id && s.startNs >= root.startNs && s.endNs <= root.endNs)
        .map(run.tracer.selfS).sum
      val tracerS = root.tracerNs / 1e9
      run.values("trace.self_sum_s") = selfSum
      run.values("trace.tracer_s") = tracerS
      run.values("trace.unattributed_share") = 1 - (selfSum + tracerS) / root.wallS
      run.check("trace_self_sum_matches_wall") {
        math.abs(root.wallS - selfSum - tracerS) <= SelfSumTolerance * root.wallS
      }
    }
    run.values("peak_rss_mb") = peakRssMb()
    val e2e = Map("setup_s" -> setupS) ++ wl.metrics(run)
    writeResult(run, e2e)
    spark.stop()
  }

  /** Share of the measured wall the spans' self times and the tracer's
    * own work may miss or exceed.
    */
  val SelfSumTolerance = 0.01

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\x00-\\x1f]", " ") + "\""

  private def obj(m: Iterable[(String, String)]): String =
    m.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def writeResult(run: Run, e2e: Map[String, Double]): Unit = {
    val t = run.tracer
    val spans = t.spans.map { s =>
      obj(Seq("id" -> s.id.toString, "name" -> str(s.name),
        "parent" -> s.parent.toString, "run_id" -> str(s.runId),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString,
        "tracer_s" -> num(s.tracerNs / 1e9),
        "self_s" -> num(t.selfS(s)),
        "counters" -> obj(s.counters.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })))
    }
    val body = obj(Seq(
      "workload" -> str(run.opts.workload),
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "checks" -> obj(run.checks.map { case (k, v) => k -> v.toString }),
      "digest" -> str(run.digest),
      "errors" -> run.errors.map(str).mkString("[", ",", "]"),
      "end_to_end" -> obj(e2e.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "samples" -> obj(run.samples.map { case (k, v) => k -> v.map(num).mkString("[", ",", "]") }),
      "values" -> obj(run.values.map { case (k, v) => k -> num(v) }),
      "layers" -> obj((t.layerMetrics ++ t.failures).toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }),
      "spans" -> spans.mkString("[", ",", "]")))
    Files.write(Paths.get(run.opts.result), body.getBytes(StandardCharsets.UTF_8))
  }
}
