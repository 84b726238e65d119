package graft.perfbench

import graft.VectorStore
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** The seeded client inputs `gen.py` wrote beside the tables. */
final case class SearchInputs(queryVecs: IndexedSeq[Array[Float]],
    queryTexts: IndexedSeq[String], creates: IndexedSeq[(Array[Long], Array[String])])

object SearchInputs {
  def load(dir: String): SearchInputs = {
    import scala.jdk.CollectionConverters._
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"$dir/inputs.json"))
    val vecs = root.get("query_vectors").elements().asScala
      .map(v => v.elements().asScala.map(_.asDouble().toFloat).toArray).toIndexedSeq
    val texts = root.get("query_texts").elements().asScala.map(_.asText()).toIndexedSeq
    val creates = root.get("creates").elements().asScala.map { b =>
      (b.get("ids").elements().asScala.map(_.asLong()).toArray,
        b.get("texts").elements().asScala.map(_.asText()).toArray)
    }.toIndexedSeq
    SearchInputs(vecs, texts, creates)
  }
}

/** One op of the search loop: its kind, latency, the store epoch (the
  * Creates before it), its input index, and what it returned. */
final case class SearchOp(kind: String, ms: Double, epoch: Int, arg: Int,
    rows: Seq[(Long, Double)], count: Long, parts: Map[String, Double])

/** `search`: the reference CLI loop on one live `VectorStore`. One
  * client, closed loop, a fixed 29-op script: Search (70%) and
  * searchText (30%) reads, a Create of a seeded 50-document batch
  * every 10th op and one Count. Every read's rows are checked after
  * the window against an exact top-k computed here over the corpus
  * plus the Creates that preceded it. */
final class SearchLoad(c: Config) extends Workload {
  val K = 10
  val Threshold = 0.6
  private val in = SearchInputs.load(c.data)
  private var corpus: Array[(Long, Array[Double])] = Array.empty

  def opSpan: String => Boolean = _.startsWith("op.")

  /** One script: [[ScriptOps]] ops on a fresh store. Op i is a Create
    * when i % 10 == 9, the Count when i == 24, else a read. */
  val ScriptOps = 29
  val WarmUpScripts = 2

  override def prepare(spark: SparkSession): Unit = {
    corpus = graft.Tables.embeddings(spark, c.data).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    // Untimed whole scripts: the JIT and Spark's code cache warm up on
    // the plan shapes the measured scripts use. After 21 untimed ops,
    // the window's second script still read 15-25% faster than its first.
    val rng = new scala.util.Random(~c.seed)
    for (_ <- 0 until WarmUpScripts)
      script(spark, new Tracer(false, "warm-up"), rng, ArrayBuffer.empty[SearchOp])
  }

  def window(spark: SparkSession, tracer: Tracer): Window = {
    val rng = new scala.util.Random(c.seed)
    val ops = ArrayBuffer.empty[SearchOp]
    var scripts = 0
    val t0 = System.nanoTime()
    val deadline = t0 + (c.seconds * 1e9).toLong
    // The script repeats on a fresh store, and the window stops at the
    // first op boundary after `seconds`: a faster run does a few more
    // ops, not a whole script more (that jump moved the median 20%).
    while (System.nanoTime() < deadline) {
      script(spark, tracer, rng, ops, deadline)
      scripts += 1
    }
    val wallS = Main.secs(t0)

    val failures = check(ops.toSeq)
    val reads = ops.filter(o => o.kind.startsWith("search"))
    val e2e = Map(
      "op_p50_ms" -> Main.median(reads.map(_.ms).toSeq),
      "throughput_per_s" -> reads.size / wallS)
    val layers = if (!tracer.on) Map.empty[String, Double] else layerFigures(ops.toSeq, tracer)
    Window(e2e, ops.size, failures.size, failures, layers, Map(
      "window_s" -> wallS, "ops" -> ops.size, "reads" -> reads.size, "scripts" -> scripts,
      "op_ms" -> ops.map(o => Map("kind" -> o.kind, "ms" -> o.ms, "epoch" -> o.epoch))))
  }

  /** The script on a fresh store, up to its last op that starts before
    * `deadline` (a `System.nanoTime`); its ops are appended to `ops`. Query
    * inputs are drawn from the seeded pools with `rng`. */
  private def script(spark: SparkSession, tracer: Tracer, rng: scala.util.Random,
      ops: ArrayBuffer[SearchOp], deadline: Long = Long.MaxValue): Unit = {
    var store = VectorStore.fromParquet(spark, c.data)
    var epoch = 0
    for (i <- 0 until ScriptOps if System.nanoTime() < deadline) {
      val kind =
        if (i % 10 == 9) "create"
        else if (i == 24) "count"
        else if (rng.nextDouble() < 0.7) "search"
        else "search_text"
      val s0 = System.nanoTime()
      val op = tracer.span("op." + kind) {
        kind match {
          case "search" =>
            val q = rng.nextInt(in.queryVecs.length)
            val (rows, parts) =
              read(tracer, "vectorstore.search", store.search(in.queryVecs(q).toSeq, K, Threshold))
            SearchOp(kind, 0, epoch, q, rows, 0, parts)
          case "search_text" =>
            // A query text with no embeddable tokens is rejected by
            // searchText; the generator's texts always have tokens.
            val q = rng.nextInt(in.queryTexts.length)
            val text = in.queryTexts(q)
            if (tracer.on) tracer.span("vectorstore.search_text.embed")(VectorStore.embedTextLocal(text))
            val (rows, parts) =
              read(tracer, "vectorstore.search_text", store.searchText(text, K, Threshold))
            SearchOp(kind, 0, epoch, q, rows, 0, parts)
          case "create" =>
            val (ids, texts) = in.creates(epoch)
            tracer.span("vectorstore.create") {
              val docs = spark.createDataFrame(ids.toSeq.zip(texts.toSeq)).toDF("doc_id", "text")
              store = store.appendText(docs, "doc_id", "text")
            }
            epoch += 1
            SearchOp(kind, 0, epoch, epoch - 1, Nil, 0, Map.empty)
          case _ =>
            val n = tracer.span("vectorstore.count")(store.count())
            SearchOp(kind, 0, epoch, 0, Nil, n, Map.empty)
        }
      }
      ops += op.copy(ms = (System.nanoTime() - s0) / 1e6)
    }
  }

  /** Build, plan and execute one read; traced runs time each phase. */
  private def read(tracer: Tracer, layer: String, build: => org.apache.spark.sql.DataFrame)
      : (Seq[(Long, Double)], Map[String, Double]) = {
    val b0 = System.nanoTime()
    val df = tracer.span(layer + ".build")(build)
    val p0 = System.nanoTime()
    if (tracer.on) tracer.span(layer + ".plan")(df.queryExecution.executedPlan)
    val e0 = System.nanoTime()
    val rows = tracer.span(layer + ".exec")(df.collect())
    val e1 = System.nanoTime()
    (rows.map(r => (r.getLong(0), r.getDouble(2))).toSeq,
      Map("build" -> (p0 - b0) / 1e6, "plan" -> (e0 - p0) / 1e6, "exec" -> (e1 - e0) / 1e6))
  }

  // ── output checks, outside the timed window ──

  private def cosDist(a: Array[Double], b: Array[Double]): Option[Double] = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) None
    else Some(java.math.BigDecimal.valueOf(1.0 - dot / math.sqrt(na * nb))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue())
  }

  private lazy val created: IndexedSeq[Array[(Long, Array[Double])]] =
    in.creates.map { case (ids, texts) =>
      ids.zip(texts).flatMap { case (id, t) => Option(VectorStore.embedTextLocal(t)).map(id -> _) }
    }

  private def exact(q: Array[Double], epoch: Int): Seq[(Long, Double)] = {
    val rows = corpus.iterator ++ created.take(epoch).iterator.flatten
    rows.flatMap { case (id, v) => cosDist(v, q).filter(_ < Threshold).map(id -> _) }
      .toSeq.sortBy { case (id, d) => (d, id) }.take(K)
  }

  private def check(ops: Seq[SearchOp]): Seq[String] = ops.flatMap { o =>
    val want: Option[Any] = o.kind match {
      case "search" => Some(exact(in.queryVecs(o.arg).map(_.toDouble), o.epoch))
      case "search_text" =>
        Some(exact(VectorStore.embedTextLocal(in.queryTexts(o.arg)), o.epoch))
      case "count" => Some(corpus.length.toLong + in.creates.take(o.epoch).map(_._1.length.toLong).sum)
      case _ => None
    }
    val got: Any = if (o.kind == "count") o.count else o.rows
    want.filter(_ != got).map(w => s"${o.kind} #${o.arg} at epoch ${o.epoch}: got $got, want $w")
  }

  // ── per-layer figures of a traced window ──

  private def layerFigures(ops: Seq[SearchOp], tracer: Tracer): Map[String, Double] = {
    def ms(name: String) = Main.median(tracer.named(name).map(_.ms))
    // Searches before any Create, and after the script's last Create.
    val reads = ops.filter(_.kind == "search")
    val before = reads.filter(_.epoch == 0)
    val after = reads.filter(_.epoch == (if (reads.isEmpty) 0 else reads.map(_.epoch).max))
    def part(xs: Seq[SearchOp], p: String) = Main.median(xs.map(_.parts(p)))
    Map(
      "vectorstore.search.build_ms" -> ms("vectorstore.search.build"),
      "vectorstore.search.plan_ms" -> ms("vectorstore.search.plan"),
      "vectorstore.search.exec_ms" -> ms("vectorstore.search.exec"),
      "vectorstore.search.plan_ms.first_epoch" -> part(before, "plan"),
      "vectorstore.search.plan_ms.last_epoch" -> part(after, "plan"),
      "vectorstore.search.exec_ms.first_epoch" -> part(before, "exec"),
      "vectorstore.search.exec_ms.last_epoch" -> part(after, "exec"),
      "vectorstore.search_text.embed_ms" -> ms("vectorstore.search_text.embed"),
      "vectorstore.create_ms" -> ms("vectorstore.create"),
      "vectorstore.count_ms" -> ms("vectorstore.count"))
  }

  def probes(spark: SparkSession, tracer: Tracer): Map[String, Double] =
    Probes.index(spark, c, tracer, corpus)
}
