package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Layer probes that run after a traced window, plus the Spark-level
  * figures cut from the listener's task log. */
object Probes {
  private def timed[A](tracer: Tracer, name: String)(f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = tracer.span(name)(f)
    (r, Main.secs(t0))
  }

  /** One `graft.Audits` probe as a count per corpus row. */
  def audit(spark: SparkSession, c: Config, tracer: Tracer, name: String): Double =
    tracer.span("probe.audit." + name) {
      val a = graft.Audits.audits(name)
      a.count(spark, c.data).toDouble / math.max(a.rows(spark, c.data), 1L)
    }

  // ── Index layer (IvfIndex / VectorSearch stored tables / streaming) ──

  val ServeBatches = 3
  val LifecycleKeys = 4
  val BatchSize = 64

  /** Train and store both ANN indexes, reload them cold, serve seeded
    * micro-batches through the stored chains, run the upsert/delete
    * lifecycle keys, and grade the registered batch twins against an
    * exact top-10. Row counts of the lifecycle reports are checked
    * against the batch rules (every 50th vector appended, every 40th
    * deleted); the number of keys whose report disagrees is returned
    * as `index.lifecycle_mismatches` (of [[LifecycleKeys]]). */
  def index(spark: SparkSession, c: Config, tracer: Tracer,
      corpus: Array[(Long, Array[Double])]): Map[String, Double] = {
    import graft.ops.VectorSearch
    import graft.streaming.Streaming
    def key(k: String): Array[org.apache.spark.sql.Row] =
      graft.SparkEntry.queries(k)(spark, c.data).collect()
    val n = corpus.length.toLong
    val ids = corpus.map(_._1)
    val nNew = ids.count(_ % 50 == 0).toLong
    val nDead = ids.count(_ % VectorSearch.DeleteMod == 0).toLong

    val (_, ivfBuild) = timed(tracer, "index.ivf.build")(VectorSearch.ensureIvfStored(spark, c.data))
    val (_, lshBuild) = timed(tracer, "index.lsh.build")(VectorSearch.ensureLshStored(spark, c.data))
    val (_, ivfLoad) = timed(tracer, "index.ivf.load")(key("vs_ivf_load"))
    val (_, lshLoad) = timed(tracer, "index.lsh.load")(key("vs_lsh_load"))
    val (ivfB, _) = timed(tracer, "index.ivf.serve")(Streaming.serveIvfRate(spark, c.data, ServeBatches, BatchSize))
    val (lshB, _) = timed(tracer, "index.lsh.serve")(Streaming.serveLshRate(spark, c.data, ServeBatches, BatchSize))
    val (ivfUp, ivfUpS) = timed(tracer, "index.ivf.upsert")(key("vs_ivf_upsert"))
    val (ivfDel, ivfDelS) = timed(tracer, "index.ivf.delete")(key("vs_ivf_delete"))
    val (lshUp, lshUpS) = timed(tracer, "index.lsh.upsert")(key("vs_lsh_upsert"))
    val (lshDel, lshDelS) = timed(tracer, "index.lsh.delete")(key("vs_lsh_delete"))

    def sumOf(rows: Array[org.apache.spark.sql.Row], f: String) =
      rows.map(r => r.getAs[Long](f)).sum
    // One verdict per lifecycle key.
    val mismatches = Seq(
      ivfUp.length.toLong == nNew,
      sumOf(ivfDel, "n_deleted") == nDead && sumOf(ivfDel, "n_after") == n - nDead,
      lshUp.length == 1 && lshUp(0).getAs[Long]("n_new") == nNew &&
        lshUp(0).getAs[Long]("n_base") == n - nNew,
      lshDel.forall(r => r.getAs[Long]("a_id") % VectorSearch.DeleteMod != 0 &&
        r.getAs[Long]("b_id") % VectorSearch.DeleteMod != 0)
    ).count(ok => !ok)

    // Recall@10 of the batch twins (queries: every 100th vector).
    val byId = corpus.toMap
    def exactTop(q: Array[Double]): Set[Long] = corpus.iterator.map { case (id, v) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < v.length) { dot += v(i) * q(i); na += v(i) * v(i); nb += q(i) * q(i); i += 1 }
      (1.0 - dot / math.sqrt(na * nb), id)
    }.toSeq.sorted.take(10).map(_._2).toSet
    def recall(k: String): Double = tracer.span(s"index.twin.$k") {
      val hits = key(k).map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"))).groupBy(_._1)
      val qs = ids.filter(_ % 100 == 0)
      qs.map { q =>
        val exact = exactTop(byId(q))
        hits.getOrElse(q, Array.empty).count(h => exact.contains(h._2)).toDouble / 10.0
      }.sum / math.max(qs.length, 1)
    }
    Map(
      "index.ivf.build_s" -> ivfBuild, "index.lsh.build_s" -> lshBuild,
      "index.ivf.load_s" -> ivfLoad, "index.lsh.load_s" -> lshLoad,
      "index.ivf.upsert_s" -> ivfUpS, "index.ivf.delete_s" -> ivfDelS,
      "index.lsh.upsert_s" -> lshUpS, "index.lsh.delete_s" -> lshDelS,
      "index.ivf.batch_p50_ms" -> Main.median(ivfB.map(_ * 1e3)),
      "index.lsh.batch_p50_ms" -> Main.median(lshB.map(_ * 1e3)),
      "index.ivf.recall_at_10" -> recall("stream_search_ivf"),
      "index.lsh.recall_at_10" -> recall("stream_search_lsh"),
      "index.lifecycle_mismatches" -> mismatches.toDouble,
      "audit.vs_lsh_tuned.candidates_per_row" -> audit(spark, c, tracer, "vs_lsh_tuned.candidates"))
  }

  // ── Kernels (graft.functions), ns/row over a staged seeded frame ──
  // Best of KernelReps noop writes of a select with the kernel, minus
  // the same select without it, per input row.

  val TextRows = 20000L
  val VectorRows = 50000L
  val KernelReps = 3

  def kernels(spark: SparkSession, c: Config, tracer: Tracer): Map[String, Double] =
    tracer.span("probe.kernels") {
      import graft.functions._
      val seed = c.seed
      // Inputs, staged in memory so the timed selects read no files.
      val texts = graft.Tables.documents(spark, c.data).select("text")
      val reps = (TextRows / math.max(texts.count(), 1L) + 1).toInt
      def vec(s: Long, n: Int) = array((0 until n).map(i => rand(s * 131 + i)): _*)
      def stage(df: DataFrame): DataFrame = { val d = df.cache(); d.count(); d }
      val t = stage(texts.crossJoin(spark.range(reps).select(col("id").as("rep")))
        .limit(TextRows.toInt).select(col("text"), char_gram_hashes(col("text")).as("grams")))
      val v = stage(spark.range(VectorRows).select(col("id"),
        vec(seed, 64).cast("array<float>").as("a"), vec(seed + 1, 64).cast("array<float>").as("b"),
        transform(vec(seed + 2, 64), x => (x * 254 - 127).cast("long")).as("ia"),
        transform(vec(seed + 3, 64), x => (x * 254 - 127).cast("long")).as("ib"),
        (rand(seed + 4) * 1e6).cast("long").as("d")))

      def best(df: => DataFrame): Double = (0 until KernelReps).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        System.nanoTime() - t0
      }.min.toDouble
      def nsPerRow(name: String, rows: Long, base: => DataFrame, withKernel: => DataFrame)
          : (String, Double) = tracer.span(s"kernel.$name") {
        s"kernel.$name.ns_per_row" -> (best(withKernel) - best(base)) / rows
      }
      val out = Map(
        nsPerRow("char_gram_hashes", TextRows, t.select(length(col("text"))),
          t.select(size(char_gram_hashes(col("text"))))),
        nsPerRow("mixed_minhash16", TextRows, t.select(size(col("grams"))),
          t.select(size(mixed_minhash16(col("grams"))))),
        nsPerRow("poly_hash", TextRows, t.select(length(col("text"))), t.select(poly_hash(col("text")))),
        nsPerRow("cosine_similarity", VectorRows, v.select(size(col("a")) + size(col("b"))),
          v.select(cosine_similarity(col("a"), col("b")))),
        nsPerRow("int_sq_l2", VectorRows, v.select(size(col("ia")) + size(col("ib"))),
          v.select(int_sq_l2(col("ia"), col("ib")))),
        nsPerRow("top_k_min_pairs", VectorRows,
          v.groupBy(col("id") % 1000).agg(count(col("d"))),
          v.groupBy(col("id") % 1000).agg(size(top_k_min_pairs(col("d"), col("id"), 10)))))
      t.unpersist(); v.unpersist()
      out
    }

  // ── Shared artifacts (Spark storage info) ──

  def persisted(spark: SparkSession): Map[String, Double] = {
    val cached = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    Map(
      "persist.cached_mb" -> cached.map(r => r.memSize + r.diskSize).sum / 1048576.0,
      "persist.cached_rdds" -> cached.length.toDouble)
  }

  // ── Spark engine figures over the workload's op spans ──

  def spark(tracer: Tracer, log: TaskLog, isOp: String => Boolean): Map[String, Double] = {
    val ops = tracer.all.filter(s => isOp(s.name))
    val per = ops.map(s => log.window(s.startNs / 1000000L, s.endNs / 1000000L + 1))
    val tasks = per.flatMap(_._1)
    val nOps = math.max(ops.size, 1).toDouble
    def mb(f: TaskRec => Long) = tasks.map(f).sum / 1048576.0
    // Skew: per stage, slowest task over the median task; weighted by
    // the stage's total task time.
    val stageSkew = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
      val d = ts.map(t => (t.finishMs - t.launchMs).toDouble)
      val med = math.max(Main.median(d), 1.0)
      (d.max / med, d.sum)
    }
    val skewW = stageSkew.map(_._2).sum
    Map(
      "spark.jobs_per_op" -> per.map(_._2).sum / nOps,
      "spark.tasks_per_op" -> tasks.size / nOps,
      "spark.sched_delay_ms" ->
        (if (tasks.isEmpty) 0.0 else tasks.map(_.queuedMs).sum.toDouble / tasks.size),
      "spark.executor_run_s" -> tasks.map(_.runMs).sum / 1e3,
      "spark.executor_cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "spark.shuffle_write_mb" -> mb(_.shuffleWrite),
      "spark.shuffle_read_mb" -> mb(_.shuffleRead),
      "spark.spill_mb" -> mb(_.spill),
      "spark.task_skew" ->
        (if (skewW <= 0) 1.0 else stageSkew.map { case (r, w) => r * w }.sum / skewW),
      "spark.failed_tasks" -> tasks.count(!_.ok).toDouble)
  }
}
