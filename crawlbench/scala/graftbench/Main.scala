package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One timed operation: a crawl round or a query call. */
final case class Op(id: String, seconds: Double, ok: Boolean, why: String = "")

/** What every workload hands back to [[Main]]. */
final case class Outcome(
    ops: Seq[Op],
    opSeconds: Seq[Double],            // samples behind op_s_p50
    report: Map[String, (Double, String)], // workload-specific end-to-end metrics
    layers: Map[String, Double],       // per-layer metrics (traced run only)
    problems: Seq[String],             // self-check failures outside any op
    extra: Map[String, Any] = Map.empty)

/** Run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val workload: String, val seed: Long,
                val seconds: Double, val trace: Boolean, val tiny: Boolean,
                val work: String, val threads: Int) {
  val spans = new Spans
  val setup = mutable.LinkedHashMap.empty[String, Any]
  var firstOpEpochMs: Long = -1L

  def dir(name: String): String = {
    val d = Paths.get(work, name)
    Files.createDirectories(d)
    d.toString
  }

  /** Input generation, repeated `reps` times; keeps the last result and
    * records the median duration as the input part of set-up.
    */
  def inputs[A](reps: Int)(gen: Int => A): A = {
    var last: Option[A] = None
    val secs = (0 until reps).map { k =>
      val t0 = System.nanoTime()
      last = Some(gen(k))
      (System.nanoTime() - t0) / 1e9
    }
    setup("inputs_s_samples") = secs
    setup("inputs_s") = Stats.median(secs)
    last.get
  }

  def warmup[A](f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    setup("warmup_s") = (System.nanoTime() - t0) / 1e9
    r
  }

  val listener = new JobListener
  var tracedGcS = 0.0

  /** Runs `f` with the benchmark's listener registered. */
  def listened[A](f: => A): A = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    val gc0 = gcSeconds
    try f
    finally {
      tracedGcS += gcSeconds - gc0
      org.apache.spark.graftbench.Bus.drain(sc)
      sc.removeSparkListener(listener)
    }
  }

  /** The measurement window: whole operations, started while fewer than
    * `budget` seconds have passed (at least one). A traced run repeats
    * the block untraced, traced, untraced, so that a drift in speed over
    * the window cancels out of the tracing overhead. Returns the
    * (untraced, traced) results.
    */
  def window[A](budget: Double)(op: Boolean => A): (Seq[A], Seq[A]) = {
    if (firstOpEpochMs < 0) firstOpEpochMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val plain, traced = mutable.ArrayBuffer.empty[A]
    val block = if (trace) Seq(false, true, false) else Seq(false)
    while (plain.isEmpty || (System.nanoTime() - t0) / 1e9 < budget)
      block.foreach(t => if (t) traced += listened(op(true)) else plain += op(false))
    (plain.toSeq, traced.toSeq)
  }

  def gcSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Benchmark JVM entry point. Runs one workload, writes `result.json`
  * (and the traced run's `spans.jsonl`) into `--out`; `run.py` turns it
  * into the one-line result.
  *
  * Arguments: --workload crawl-deep|analytics --seed N
  * --seconds S --trace 0|1 --size tiny|full --threads N --out DIR
  * --launched-ms EPOCH_MS
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Set("crawl-deep", "analytics")(workload), s"unknown workload $workload")
    val out = a("out")
    val threads = a("threads").toInt
    val work = Paths.get(out, "work").toString
    Files.createDirectories(Paths.get(work))

    val spark = session(workload, threads, Paths.get(out, "spark-local").toString)
    val sessionReadyMs = System.currentTimeMillis()
    val ctx = new Ctx(spark, workload, a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("size") == "tiny", work, threads)
    ctx.setup("session_s") = (sessionReadyMs - a("launched-ms").toLong) / 1e3

    val o = workload match {
      case "analytics" => Analytics.run(ctx)
      case "crawl-deep" => Crawl.run(ctx)
    }

    val setupS = ctx.setup("session_s").asInstanceOf[Double] +
      ctx.setup("inputs_s").asInstanceOf[Double] + ctx.setup("warmup_s").asInstanceOf[Double]
    val result = Map(
      "workload" -> workload,
      "seed" -> ctx.seed,
      "trace" -> ctx.trace,
      "threads" -> threads,
      "setup" -> (ctx.setup.toMap + ("setup_s" -> setupS)),
      "ops" -> o.ops.map(op => Map("id" -> op.id, "s" -> op.seconds, "ok" -> op.ok, "why" -> op.why)),
      "op_s_samples" -> o.opSeconds,
      "e2e" -> Map("setup_s" -> setupS, "op_s_p50" -> Stats.median(o.opSeconds)),
      "report" -> o.report.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "layers" -> o.layers,
      "problems" -> o.problems,
      "jvm" -> Map(
        "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "jdk" -> System.getProperty("java.version"),
        "threads" -> threads),
      "extra" -> o.extra)
    if (ctx.trace) Files.writeString(Paths.get(out, "spans.jsonl"), ctx.spans.toJsonLines)
    Files.writeString(Paths.get(out, "result.json"), Json.encode(result))
    spark.stop()
  }

  /** local[threads] with one shuffle partition per thread (the session
    * graft.Verify uses) and Spark's default adaptive execution.
    */
  private def session(workload: String, threads: Int, localDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"graftbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", (workload == "analytics").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Class-data-sharing warm-up JVM: runs every workload at tiny size
  * (crawl-deep traced, which loads the tracing classes too), so that the
  * archive this JVM dumps at exit holds the classes any measured run
  * loads. `run.py` starts it once per build, before the
  * first measured run.
  *
  * Arguments: --threads N --out DIR
  */
object Warm {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    for ((w, trace) <- Seq("crawl-deep" -> "1", "analytics" -> "0"))
      Main.main(Array("--workload", w, "--seed", "1", "--seconds", "0", "--trace", trace, "--size", "tiny",
        "--threads", a("threads"), "--out", Paths.get(a("out"), w).toString,
        "--launched-ms", System.currentTimeMillis().toString))
  }
}
