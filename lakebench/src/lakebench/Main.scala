package lakebench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}

/** One timed operation of a workload's closed loop. `cls` is the
  * operation class (quarter, report, a table-log call); `ok` is false when
  * the call threw or its output check failed, and such a sample is left
  * out of every latency figure.
  */
final case class Sample(cls: String, ms: Double, traced: Boolean, ok: Boolean)

/** What a workload hands back: its set-up seconds, the samples of its
  * closed loop (the end-to-end metrics), side samples that feed only
  * per-layer metrics, the messages of failed output checks, per-layer
  * metrics (traced runs only) and the directories whose bytes make up
  * `stored_mb`. Failures count over both kinds of sample.
  */
final case class Outcome(setupS: Double, samples: Seq[Sample], side: Seq[Sample],
                         failures: Seq[String], layer: Map[String, Double],
                         storedDirs: Seq[Path])

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: Path, out: Path, small: Boolean)

/** JVM side of the benchmark: runs one workload in one Spark session and
  * writes the result line (and, traced, the span file) under `--work`.
  * Launched by `lakebench/run.py`, which builds the classes first.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", Path.of(kv("work")), Path.of(kv("out")), kv.get("small").contains("1"))
    Files.createDirectories(a.work)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", a.work.resolve("tmp").toString)
      .getOrCreate()
    graft.core.Session.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val jvmToReadyS = (System.currentTimeMillis() - jvmStart) / 1e3
    log(s"session ready: ${a.workload} seed ${a.seed}")
    val tracer = new Tracer(spark)
    val outcome = try a.workload match {
      case "faers_incremental_quarter" => QuarterWorkload.run(spark, tracer, a)
      case "table_log_ops" => TableLogWorkload.run(spark, tracer, a)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        // no result line: stop Spark so no non-daemon thread keeps the JVM up
        e.printStackTrace()
        spark.stop()
        sys.exit(1)
    } finally {
      if (a.trace) {
        tracer.drain()
        tracer.dump(a.work.resolve(s"trace-${a.workload}-${a.seed}.jsonl"))
      }
    }
    Files.write(a.work.resolve("samples.jsonl"), (outcome.samples ++ outcome.side).map(s => Json.obj(Seq(
      "cls" -> s.cls, "ms" -> s.ms, "traced" -> s.traced, "ok" -> s.ok)).json)
      .mkString("", "\n", "\n").getBytes("UTF-8"))
    val line = result(a, outcome, jvmToReadyS)
    log("result written; stopping")
    spark.stop()
    Files.write(a.out, line.getBytes("UTF-8"))
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[lakebench ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f s] $msg")

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` (NaN when empty). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }

  /** High-water resident set of this JVM, from the kernel's accounting. */
  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  private def result(a: Args, o: Outcome, jvmToReadyS: Double): String = {
    val all = o.samples ++ o.side
    val failed = all.count(!_.ok)
    val ok = all.filter(_.ok)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", jvmToReadyS + o.setupS, "s"),
        ("op_gmean_ms", gmeanOfMedians(o.samples.filter(_.ok)), "ms"),
        ("ops_per_s", o.samples.count(_.ok) / (o.samples.map(_.ms).sum / 1e3), "1/s"),
        ("stored_mb", o.storedDirs.map(dirBytes).sum / 1048576.0, "MB"),
        ("peak_rss_mb", peakRssMb, "MB"))
      else {
        // (sample class, metric prefix, scale from ms, unit)
        val classes = Seq(("quarter", "epoch", 1e-3, "s"), ("report", "report", 1.0, "ms"),
          ("commit", "commit", 1.0, "ms"), ("read", "read", 1.0, "ms"))
        def med(cls: String, traced: Boolean) =
          median(ok.filter(s => classOf(s.cls) == cls && s.traced == traced).map(_.ms))
        val perClass = classes.flatMap { case (cls, name, scale, unit) =>
          val xs = ok.filter(s => classOf(s.cls) == cls && !s.traced).map(_.ms)
          Seq((s"${name}_p50_$unit", orZero(median(xs)) * scale, unit),
            (s"${name}_p90_$unit", orZero(quantile(xs, 0.9)) * scale, unit),
            (s"${name}_n", xs.size.toDouble, "count"))
        }
        val overhead = classes.filter(_._1 != "read").map { case (cls, name, scale, unit) =>
          (s"trace_overhead.${name}_p50_$unit", orZero(med(cls, true) - med(cls, false)) * scale, unit)
        }
        perClass ++ overhead ++
          Seq(("failed_share", failed.toDouble / math.max(1, all.size), "ratio")) ++
          Layers.all.map { case (n, u) => (n, orZero(o.layer.getOrElse(n, 0.0)), u) }
      }
    val fields = metrics.map { case (n, v, u) => n -> Json.obj(Seq("value" -> v, "unit" -> u)) }
    if (o.failures.nonEmpty) System.err.println(o.failures.mkString("check failed: ", "\ncheck failed: ", ""))
    Json.obj(Seq("correct" -> (o.failures.isEmpty && failed == 0),
      "attempted" -> all.size, "failed" -> failed,
      "metrics" -> Json.obj(fields))).json
  }

  /** Geometric mean, over operation classes, of each class's median
    * latency: every class weighs the same, whatever its share of samples
    * or its speed. With one class it is that class's median.
    */
  def gmeanOfMedians(samples: Seq[Sample]): Double = {
    val meds = samples.groupBy(_.cls).values.map(s => median(s.map(_.ms))).toSeq
    math.exp(meds.map(math.log).sum / meds.size)
  }

  /** Table-log calls are commits or reads; other classes are their own. */
  def classOf(cls: String): String = cls match {
    case "read" | "read_asof" | "changes" => "read"
    case "append" | "upsert" | "delete" | "delete_dv" | "compact" => "commit"
    case c => c
  }

  private def orZero(d: Double): Double = if (d.isNaN || d.isInfinite) 0.0 else d
}
