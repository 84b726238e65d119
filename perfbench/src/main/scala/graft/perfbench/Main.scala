package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Run settings, passed in by `run.py`. */
final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, run: Path, result: Path, spans: Path, cpus: Int)

/** What one measured window produced: the end-to-end figures, the ops
  * attempted and failed, and (traced windows only) per-layer figures. */
final case class Window(e2e: Map[String, Double], attempted: Int, failed: Int,
    failures: Seq[String], layers: Map[String, Double], detail: Map[String, Any])

/** Benchmark entry point inside the JVM. One process runs one workload
  * on one seed: set up once (JVM start, session, warm-up request), run
  * the closed loop, check the outputs, and write `result.json`. With tracing on, the window
  * records spans and Spark listener events, and the layer probes run
  * after it; the per-layer figures come from both. */
object Main {
  def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = Paths.get(m("run"))
    Config(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), run, Paths.get(m("result")), Paths.get(m("spans")), m("cpus").toInt)
  }

  def session(c: Config): SparkSession = {
    val s = graft.GraftSession.builder(s"local[${c.cpus}]", c.cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", c.run.resolve("warehouse").toUri.toString)
      .config("spark.local.dir", c.run.resolve("local").toString)
      .config("spark.sql.streaming.checkpointLocation", c.run.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The same first request for every workload: open the store, count
    * it, run one Search, and count the documents. */
  def warmUp(spark: SparkSession, dir: String): Unit = {
    val store = graft.VectorStore.fromParquet(spark, dir)
    store.count()
    store.search(Seq.fill(graft.VectorStore.Dim)(0.125f)).collect()
    graft.Tables.documents(spark, dir).count()
    ()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Heap still in use at the end of the window once full collections
    * stop freeing anything: the staged frames, caches and memos the
    * workload left. Returns that figure and the heap after each
    * collection. Spark's ContextCleaner frees what a collection found
    * unreachable on its own thread, so collections repeat, 250 ms
    * apart, until one frees less than 0.5 MB (at most eight). */
  def retainedHeapMb(): (Double, Seq[Double]) = {
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); heap.getHeapMemoryUsage.getUsed / 1048576.0 }
    val rounds = scala.collection.mutable.ArrayBuffer(collect())
    var settled = false
    while (!settled && rounds.size < 8) {
      Thread.sleep(250)
      rounds += collect()
      settled = rounds(rounds.size - 2) - rounds.last < 0.5
    }
    (rounds.min, rounds.toSeq)
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    // JVM start up to here: the first part of the cold set-up.
    val jvmS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val c = parse(args)
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phase(name: String): Unit = { phases(name) = secs(mark); mark = System.nanoTime() }
    val spinBefore = graft.util.Calibrate.spinSecondsIsolated()
    phase("spin_before")

    // The rest of the cold set-up: session build, then the warm-up
    // request. The host-drift spin above is not part of it.
    val t0 = System.nanoTime()
    val spark = session(c)
    val sessionS = secs(t0)
    val t1 = System.nanoTime()
    warmUp(spark, c.data)
    val warmS = secs(t1)

    val workload: Workload = c.workload match {
      case "search" => new SearchLoad(c)
      case "curate" => new CurateLoad(c)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    phase("setup")
    workload.prepare(spark)
    phase("prepare")

    // A traced run measures only its traced window, from the same cold
    // start as an untraced run; run.py sets its end-to-end figures
    // against the untraced runs' to report the tracing overhead.
    val tracer = new Tracer(c.trace, s"${c.workload}-${c.seed}${if (c.trace) "-traced" else ""}")
    val log = new TaskLog
    if (c.trace) spark.sparkContext.addSparkListener(log)
    val measured = workload.window(spark, tracer)
    val (retainedMb, heapRounds) = retainedHeapMb()
    phase("window")
    val layers =
      if (!c.trace) Map.empty[String, Double]
      else {
        val stored = Probes.persisted(spark)
        val probes = workload.probes(spark, tracer) ++ Probes.kernels(spark, c, tracer) ++ stored
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        tracer.write(c.spans)
        measured.layers ++ probes ++ Probes.spark(tracer, log, workload.opSpan) ++ Map(
          "trace.op_p50_ms" -> measured.e2e("op_p50_ms"),
          "trace.throughput_per_s" -> measured.e2e("throughput_per_s"),
          "trace.spans" -> tracer.all.size.toDouble)
      }
    phase("probes")
    spark.stop()
    // The index probe's lifecycle-report checks count as ops.
    val lifecycleFailed = layers.get("index.lifecycle_mismatches").map(_.toInt)
    val attempted = measured.attempted + lifecycleFailed.fold(0)(_ => Probes.LifecycleKeys)
    val failed = measured.failed + lifecycleFailed.getOrElse(0)
    val spinAfter = graft.util.Calibrate.spinSecondsIsolated()
    phase("spin_after")

    val e2e = measured.e2e ++ Map(
      "setup_s" -> (jvmS + sessionS + warmS),
      "heap_retained_mb" -> retainedMb)
    val perLayer = layers ++ Map(
      "setup.jvm_s" -> jvmS,
      "setup.session_s" -> sessionS,
      "setup.warmup_s" -> warmS,
      "jvm.peak_rss_mb" -> peakRssMb(),
      "host.spin_before_s" -> spinBefore,
      "host.spin_after_s" -> spinAfter)
    Files.createDirectories(c.result.getParent)
    Files.writeString(c.result, Json.obj(Seq(
      "workload" -> c.workload, "seed" -> c.seed, "trace" -> c.trace,
      "attempted" -> attempted, "failed" -> failed,
      "failures" -> measured.failures.take(20),
      "e2e" -> e2e, "layers" -> (if (c.trace) perLayer else Map.empty[String, Double]),
      "phases_s" -> phases.toMap,
      "heap_after_gc_mb" -> heapRounds,
      "calibrate" -> Map("spin_before_s" -> spinBefore, "spin_after_s" -> spinAfter),
      "detail" -> measured.detail)))
  }
}

/** One workload: its measured window, and (traced runs) the layer
  * probes that run after it. */
trait Workload {
  /** Whether a span name marks one user operation; the Spark figures
    * are cut by, and divided by, these spans. */
  def opSpan: String => Boolean
  def prepare(spark: SparkSession): Unit = ()
  def window(spark: SparkSession, tracer: Tracer): Window
  def probes(spark: SparkSession, tracer: Tracer): Map[String, Double]
}
