package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One benchmark run: set up a session, generate the seeded inputs
  * (untimed, cached per seed), warm up on a 1/10 input, then call the
  * workload's entry point on fresh directories until `--seconds` have
  * passed, checking every call's outputs. The last stdout line is the
  * JSON result; `--trace 1` reports the per-layer metrics instead of the
  * end-to-end ones. Launched by `perfbench/run.py`. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: Path, cores: Int)

  /** Warm-up calls on the 1/10 input; `setup_s` takes their median. */
  val WarmupCalls = 2

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    var spark = Session.start(args.work, args.cores)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val calib = Calibration.cpuWall(args.cores)
    println(f"[perfbench] host calibration: ${args.cores} threads, " +
      f"$calib%.3f s (context only)")
    val data = args.work.resolve(s"data/seed-${args.seed}")
    Files.createDirectories(data)
    Files.setLastModifiedTime(data,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    val w = Workload(args.workload, args.seed, data)
    val prep = Timed(w.prepare(spark))
    println(f"[perfbench] inputs ready in ${prep.wallS}%.1f s " +
      "(untimed)")

    val runs = args.work.resolve("runs")
    Fs.delete(runs)
    val warm = (0 until WarmupCalls).map { i =>
      val c = w.call(spark, runs.resolve(s"warmup-$i"), small = true)
      Fs.delete(runs.resolve(s"warmup-$i"))
      c.wallS
    }
    val setupS = sessionS + Stats.median(warm)
    // full-size calls that let the JIT settle; neither timed nor checked
    val settle = (0 until w.settleCalls).map { i =>
      val c = w.call(spark, runs.resolve(s"settle-$i"), small = false)
      Fs.delete(runs.resolve(s"settle-$i"))
      c.wallS
    }
    println(f"[perfbench] set-up: session $sessionS%.2f s, warm-up calls " +
      warm.map(x => f"$x%.2f").mkString(" ") + " s, settling calls " +
      settle.map(x => f"$x%.2f").mkString(" ") + " s")

    val result =
      if (!args.trace) {
        val m = measure(spark, w, runs, args.seconds, w.minCalls)
        m.report { calls =>
          println("[perfbench] call walls: " +
            calls.map(c => f"${c.wallS}%.3f").mkString(" ") + " s")
          Stats.tail(calls.flatMap(_.commitS)).foreach { case (pct, v, n) =>
            println(f"[perfbench] commit tail: p$pct%.1f = $v%.4f s " +
              f"over $n samples")
          }
          Metrics.select(Metrics.endToEnd, endToEnd(calls) ++
            Map("setup_s" -> setupS))
        }
      } else {
        val plain = measure(spark, w, runs, 0, 1)
        val tracer = new Tracer(spark, w)
        spark.sparkContext.addSparkListener(tracer.jobs)
        spark.streams.addListener(tracer.streams)
        val traced = measure(spark, w, runs, 0, 1, Some(tracer))
        spark.sparkContext.removeSparkListener(tracer.jobs)
        spark.streams.removeListener(tracer.streams)
        val layers = tracer.layerMetrics(traced.calls) ++
          w.layerProbes(spark)
        tracer.writeSpans(args.work.resolve(
          s"traces/${args.workload}-seed${args.seed}.json"))
        // single-thread baseline of the same call, on a fresh session
        val serial =
          if (!w.serialBaseline) Measured(Nil, 0, 0, Nil)
          else {
            spark.stop()
            spark = Session.start(args.work, 1)
            w.call(spark, runs.resolve("serial-warmup"), small = true)
            measure(spark, w, runs, 0, 1)
          }
        val all = plain.merge(traced).merge(serial)
        all.report { _ =>
          def wall(m: Measured) = Stats.median(m.calls.map(_.wallS))
          val commits = all.calls.flatMap(_.commitS)
          val (tailPct, tailS, _) =
            Stats.tail(commits).getOrElse((0.0, 0.0, commits.size))
          Metrics.select(Metrics.perLayer, layers ++ Map(
            "pipeline.parallel_speedup" ->
              (if (serial.calls.isEmpty) 0.0 else wall(serial) / wall(plain)),
            "trace.overhead" -> wall(traced) / wall(plain),
            "commit_tail_s" -> tailS,
            "commit_tail_pct" -> tailPct,
            "commit_samples" -> commits.size.toDouble,
            "host.calib_s" -> calib))
        }
      }
    Fs.delete(runs)
    spark.stop()
    println(result)
  }

  /** The end-to-end metrics, medians over the run's successful calls. */
  private def endToEnd(calls: Seq[Call]): Map[String, Double] = Map(
    "wall_s" -> Stats.median(calls.map(_.wallS)),
    "docs_per_s" -> Stats.median(calls.map(c => c.docs / c.wallS)),
    "out_rows_per_s" -> Stats.median(calls.map(c => c.rowsOut / c.wallS)),
    "cpu_s_per_mdoc" -> Stats.median(calls.map(c => c.cpuS / (c.docs / 1e6))),
    "commit_p50_s" -> Stats.median(calls.flatMap(_.commitS)))

  /** Successful calls plus the op counts of every attempted call. */
  final case class Measured(calls: Seq[Call], attempted: Long, failed: Long,
      failures: Seq[String]) {
    def merge(o: Measured): Measured = Measured(calls ++ o.calls,
      attempted + o.attempted, failed + o.failed, failures ++ o.failures)

    /** The result line; metrics only when every call succeeded. */
    def report(metrics: Seq[Call] => Map[String, (Double, String)]): String = {
      failures.foreach(f => println(s"[perfbench] CHECK FAILED: $f"))
      val correct = failed == 0 && calls.nonEmpty
      Json.result(correct, attempted, failed,
        if (correct) metrics(calls) else Map.empty)
    }
  }

  /** Calls the entry point on fresh directories until `seconds` have
    * passed and at least `minCalls` calls were made. A call whose output
    * check fails, or that throws, counts its ops as failed and records no
    * timing. */
  def measure(spark: SparkSession, w: Workload, runs: Path, seconds: Int,
      minCalls: Int, tracer: Option[Tracer] = None): Measured = {
    val calls = ArrayBuffer.empty[Call]
    val failures = ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < minCalls || (System.nanoTime() - t0) / 1e9 < seconds) {
      val dir = runs.resolve(s"call-$i")
      Fs.delete(dir)
      try {
        tracer.foreach(_.beginCall())
        val c = w.call(spark, dir, small = false)
        tracer.foreach(_.endCall(c))
        attempted += c.ops
        val bad = c.check()
        if (bad.isEmpty) calls += c
        else { failed += c.ops; failures ++= bad }
      } catch {
        case e: Exception =>
          attempted += w.opsPerCall; failed += w.opsPerCall
          failures += s"call $i threw ${e.toString.take(2000)}"
      } finally Fs.delete(dir)
      i += 1
    }
    Measured(calls.toSeq, attempted, failed, failures.toSeq)
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", Paths.get(m("work")).toAbsolutePath, m("cores").toInt)
  }
}

/** The session the benchmark measures: production's `graft.app.Main`
  * settings (AQE on, UTC, the graft SQL extensions) at `local[cores]`,
  * with every scratch directory inside the benchmark's work dir. */
object Session {
  def start(work: Path, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      // sized like CleaningBench's rule, max(2 x cores, 16) at these
      // input sizes; AQE coalesces any excess
      .config("spark.sql.shuffle.partitions",
        math.max(2 * cores, 16).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Host CPU calibration sized to the cores the run uses: `cores` threads
  * of fixed splitmix work. Printed beside every run as context; never
  * gated. */
object Calibration {
  def cpuWall(cores: Int): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until cores).map { t =>
      new Thread(() => {
        var z = 0x9E3779B97F4A7C15L * (t + 1)
        var i = 0L
        while (i < 100000000L) {
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          i += 1
        }
        if (z == 42L) println(z) // keeps the loop live
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, as
    * (percentile, value, samples); None below 11 samples. */
  def tail(xs: Seq[Double]): Option[(Double, Double, Int)] = {
    val n = xs.size
    if (n < 11) None
    else {
      val s = xs.sorted
      val idx = n - 11
      Some((100.0 * (idx + 1) / n, s(idx), n))
    }
  }
}

object Fs {
  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(x => Files.delete(x))
      finally all.close()
    }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Map[String, (Double, String)]): String = {
    val ms = metrics.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"${str(k)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${ms.mkString(", ")}}}"""
  }
}
