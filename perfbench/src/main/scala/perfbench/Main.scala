package perfbench

import java.io.File

import scala.collection.mutable

/** Benchmark program. Runs one workload against the engine's public entry
  * points and prints, as its last stdout line, one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`.
  *
  * {{{
  * Main --workload <core7-blobs|registry-warm> --seed <n> --seconds <s>
  *      --trace <0|1> --data <corpora dir> --state <scratch dir> [--trace-out <file>]
  * Main --record-digests <out.tsv> --data <corpora dir> --state <scratch dir>
  * }}}
  *
  * With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
  * the per-layer ones, from a run that measures untraced rounds, then
  * registers the span recorder and listener and measures traced rounds.
  */
object Main {

  final case class Args(
      workload: String = "",
      seed: Long = 1,
      seconds: Int = 10,
      trace: Boolean = false,
      data: String = "",
      state: String = "",
      traceOut: String = "",
      recordDigests: String = ""
  )

  def parse(argv: Seq[String]): Args = argv match {
    case Seq()                               => Args()
    case "--workload" +: v +: rest           => parse(rest).copy(workload = v)
    case "--seed" +: v +: rest               => parse(rest).copy(seed = v.toLong)
    case "--seconds" +: v +: rest            => parse(rest).copy(seconds = v.toInt)
    case "--trace" +: v +: rest              => parse(rest).copy(trace = v == "1")
    case "--data" +: v +: rest               => parse(rest).copy(data = v)
    case "--state" +: v +: rest              => parse(rest).copy(state = v)
    case "--trace-out" +: v +: rest          => parse(rest).copy(traceOut = v)
    case "--record-digests" +: v +: rest     => parse(rest).copy(recordDigests = v)
    case other                               => sys.error(s"bad arguments: ${other.mkString(" ")}")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toSeq)
    require(new File(a.data, "sf0.01/events.parquet").exists, s"no corpus under --data ${a.data}")
    require(a.state.nonEmpty, "--state is required")
    val code =
      try {
        if (a.recordDigests.nonEmpty) { Registry.recordDigests(a); 0 }
        else {
          val w = Workload.byName.getOrElse(a.workload, sys.error(s"unknown workload '${a.workload}'"))
          val r = w.run(a)
          println(r.json)
          0
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          2
      }
    System.out.flush()
    System.err.flush()
    // every result is out and the run's scratch is deleted: skip Spark's
    // shutdown, which only cleans up the per-run temp dir the caller removes
    Runtime.getRuntime.halt(code)
  }
}

/** What one run reports. */
final case class RunResult(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]) {
  def json: String = {
    val ms = metrics.map { case (n, v, u) => s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}

/** Per-layer figures gathered during one run; every name is always
  * reported, as 0 where the workload does not exercise the layer.
  */
final class Layers {
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]

  def put(name: String, v: Double, unit: String): Unit = values(name) = (v, unit)

  def metrics: Seq[(String, Double, String)] = Layers.names.map { case (n, u) =>
    (n, values.get(n).map(_._1).getOrElse(0.0), u)
  }
}

object Layers {

  /** Layout families, in `Layouts.buildAll` order. */
  val families: Seq[String] = Seq(
    "minhash_signatures", "minhash_pairs", "minhash_batch_index", "simhash_pairs",
    "simhash_pairs_planted", "dup_clusters", "dup_clusters_incr", "embedding_pairs",
    "embedding_pairs_planted", "ivf_vectors", "ivf_incremental", "ivf_compacted", "ivf_planted",
    "ivf_planted_delta", "ivf_bitext_planted", "sq8_vectors", "pq_vectors", "pq_planted",
    "knn_graph", "knn_clusters", "knn_tombstoned", "span_artifacts", "lss_table",
    "lss_tombstoned", "image_hash_ledger", "audio_hash_ledger", "video_hash_ledger",
    "gram_census", "bpe_merges", "bpe_incremental", "text_postings", "text_positions",
    "text_trigrams", "trigram_incremental", "lm_scores", "postings_incremental",
    "postings_compacted", "media_catalog_base", "events_by_day", "events_zorder",
    "events_bloom_manifest", "bucketed_facts", "bucketed_events"
  )

  /** Span names whose self time is reported, one per layer boundary. */
  val spanNames: Seq[String] =
    Seq("op", "entry.construct", "catalyst.plan", "exec.collect", "exec.job", "exec.stage")

  val names: Seq[(String, String)] = Seq(
    "session.start_s" -> "s", "session.warmup_s" -> "s",
    "entry.construct_ms" -> "ms", "sources.listing_ms" -> "ms", "catalyst.plan_ms" -> "ms",
    "exec.wall_ms" -> "ms", "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.tasks_per_job" -> "ratio", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.sched_delay_s" -> "s", "exec.core_occupancy" -> "ratio", "exec.input_bytes" -> "bytes",
    "exec.input_records" -> "count", "exec.shuffle_read_bytes" -> "bytes",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_fetch_wait_s" -> "s",
    "exec.spill_bytes" -> "bytes", "exec.result_bytes" -> "bytes", "exec.failed_tasks" -> "count",
    "layouts.build_s" -> "s", "layouts.build_busy_s" -> "s", "layouts.built" -> "count",
    "layouts.reused" -> "count", "layouts.late_builds" -> "count", "layouts.bytes_written" -> "bytes",
    "prep.compact_s" -> "s", "prep.in_files" -> "count", "prep.out_files" -> "count",
    "prep.bytes_written" -> "bytes", "jvm.rss_peak_mb" -> "MB", "jvm.gc_s" -> "s",
    "bench.failed_frac" -> "ratio", "bench.tail_percentile" -> "pct",
    "bench.bytes_written_per_input_byte" -> "ratio",
    "trace.wall_s_untraced" -> "s", "trace.wall_s_traced" -> "s", "trace.overhead_s" -> "s"
  ) ++ spanNames.map(n => s"self.$n" -> "s") ++ Seq("wait.exec.job" -> "s", "wait.exec.stage" -> "s") ++
    families.map(f => s"layouts.build_s.$f" -> "s")
}
