package graft.perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** `curate`: one client runs one curation pass over the seeded corpus,
  * key by key in a fixed order, each key's result written to parquet
  * (the pass's output). Later keys reuse the shared artifacts (gopher
  * verdicts, shingle table) the first consumer built, so the order is
  * part of the workload. The pass is the window: it runs once, however
  * long it takes. The outputs are compared with each key's DuckDB
  * oracle by `run.py` after the process ends. */
final class CurateLoad(c: Config) extends Workload {
  val Keys = Seq("vs_ingest", "text_fingerprint", "dedup_containment", "text_boilerplate",
    "dedup_ngram_jaccard", "dedup_minhash_lsh", "dedup_semantic", "text_gopher_quality",
    "text_decontaminate", "pipeline_e2e")

  def opSpan: String => Boolean = _.startsWith("ops.")

  def window(spark: SparkSession, tracer: Tracer): Window = {
    val out = c.run.resolve("out")
    val docs = graft.Tables.documents(spark, c.data).count()
    val times = ArrayBuffer.empty[(String, Double)]
    val failures = ArrayBuffer.empty[String]
    val p0 = System.nanoTime()
    Keys.foreach { key =>
      val k0 = System.nanoTime()
      try tracer.span("ops." + key) {
        graft.SparkEntry.queries(key)(spark, c.data)
          .write.mode("overwrite").parquet(out.resolve(key).toString)
      } catch {
        case scala.util.control.NonFatal(e) => failures += s"$key: $e"
      }
      times += ((key, Main.secs(k0)))
    }
    val passWall = Main.secs(p0)
    // The checker reads the oracle beside the outputs.
    val oracle = graft.SparkEntry.oracleSql
    java.nio.file.Files.writeString(out.resolve("oracle_sql.json"),
      Json.obj(Keys.map(k => k -> oracle(k))))
    val e2e = Map(
      "op_p50_ms" -> Main.median(times.map(_._2 * 1e3).toSeq),
      "throughput_per_s" -> docs / passWall)
    val layers =
      if (!tracer.on) Map.empty[String, Double]
      else times.map { case (k, s) => s"ops.${k}_s" -> s }.toMap
    Window(e2e, Keys.size, failures.size, failures.toSeq, layers, Map(
      "outputs" -> out.toString, "docs" -> docs, "pass_wall_s" -> passWall,
      "key_order" -> Keys,
      "key_s" -> times.map { case (k, s) => Map("key" -> k, "s" -> s) }))
  }

  /** Traced runs only: the pipeline's own stage walls, and the waste
    * ratios the audits count. */
  def probes(spark: SparkSession, tracer: Tracer): Map[String, Double] = {
    val stages = tracer.span("probe.pipeline_stage_times")(
      graft.ops.Pipeline.pipelineE2eStageTimes(spark, c.data))
    val audits = Seq(
      "dedup_minhash_lsh.candidates" -> "audit.dedup_minhash_lsh.candidates_per_row",
      "dedup_ngram_jaccard.raw_pairs" -> "audit.dedup_ngram_jaccard.raw_pairs_per_row",
      "dedup_embedding.candidates" -> "audit.dedup_embedding.candidates_per_row",
      "dedup_embedding.excess" -> "audit.dedup_embedding.excess_per_row")
    stages.map { case (s, secs) => s"pipeline.stage.${s}_s" -> secs }.toMap ++
      audits.map { case (a, name) => name -> Probes.audit(spark, c, tracer, a) }
  }
}
