package perfbench

import java.io.File
import java.util.concurrent.{Callable, Executors}

import graft.{Layouts, SparkEntry}
import graft.operators.Prep
import graft.sources.{BloomManifest, BucketedFacts, LayoutCache}
import org.apache.spark.sql.SparkSession


/** The reference's seven query shapes over the sf0.01 events table
  * rewritten into 128 small blobs (8 of them zero-row), as a closed loop:
  * one client per core, each sending its own seed-shuffled sequence and
  * waiting for each reply. A round is every client finishing the seven
  * shapes once. A traced run also ingests the blobs once (see [[Ingest]]).
  */
final class Core7Blobs extends Workload {
  val name          = "core7-blobs"
  val warmRounds    = 5
  val nominalRoundS = 3.0

  val Queries: Seq[String] =
    Seq("q1_total_count", "q2_time_filter_count", "q3_filter_count", "q4_min_max", "q5_max_by",
      "q6_point_filter", "q7_distinct")
  val NBlobs = 128
  val NEmpty = 8

  private var dir      = ""
  private var expected = Map.empty[String, Digest.Result]
  private var pool: java.util.concurrent.ExecutorService = null

  def listingPath(ctx: Ctx): String = s"$dir/events.parquet"

  def prepare(ctx: Ctx): Double = {
    val refS = Workload.seconds {
      expected = Queries.map(q => q -> Registry.digest(ctx.spark, q, ctx.sf001)).toMap
    }
    refS + Workload.medianSeconds(2) { i =>
      dir = s"${ctx.runDir}/blobs$i"
      Blobs.split(ctx.spark, s"${ctx.sf001}/events.parquet", s"$dir/events.parquet", ctx.args.seed, NBlobs, NEmpty)
    }
  }

  def round(ctx: Ctx, index: Int, log: OpLog): Double = {
    if (pool == null) pool = Executors.newFixedThreadPool(ctx.cores)
    Workload.seconds {
      val clients = (0 until ctx.cores).map { c =>
        val seq = new scala.util.Random(Blobs.mix(ctx.args.seed * 1000003L + index * 1009L + c)).shuffle(Queries)
        pool.submit(new Callable[Unit] {
          def call(): Unit = seq.foreach(q => ctx.query(q, dir, expected.get(q), log))
        })
      }
      clients.foreach(_.get())
    }
  }

  override def afterRounds(ctx: Ctx): Unit = Ingest.once(ctx, s"$dir/events.parquet", s"${ctx.sf001}/events.parquet")
}

/** A seed-shuffled pass over a fixed sample of the query registry on the
  * one-file-per-table sf0.01 corpus, one client, layouts already built:
  * multi-job LLM-data operators whose cost is the per-job floor.
  */
final class RegistryWarm extends Workload {
  val name          = "registry-warm"
  val warmRounds    = 2
  val nominalRoundS = 4.0 // 3 rounds at --seconds 12: 42 ops, enough to back a p75

  private var expected = Map.empty[String, Digest.Result]

  def listingPath(ctx: Ctx): String = ctx.sf001

  def prepare(ctx: Ctx): Double = {
    expected = Registry.loadDigests(ctx.args.data)
    val missing = Registry.Sample.filterNot(expected.contains)
    require(missing.isEmpty, s"no recorded digest for ${missing.mkString(", ")}")
    Registry.reuseCheck(ctx, ctx.sf001)
  }

  def round(ctx: Ctx, index: Int, log: OpLog): Double = {
    val order = new scala.util.Random(Blobs.mix(ctx.args.seed * 1000003L + index)).shuffle(Registry.Sample)
    Workload.seconds(order.foreach(q => ctx.query(q, ctx.sf001, expected.get(q), log)))
  }
}

/** The write side, measured once per traced `core7-blobs` run: compact the
  * seeded blob folder into target-size files, then build the layout
  * families derived from the events table on the compacted table, into a
  * fresh layout root. Checked: the compacted rows are the input multiset,
  * no family fails, and a second pass reuses every family.
  */
object Ingest {

  /** The events-derived layout families, through their public entry points. */
  val Families: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "events_by_day"         -> ((s, d) => { Prep.dayPartitionedEventsCache(s, d); () }),
    "events_zorder"         -> ((s, d) => { Prep.zorderEventsCache(s, d); () }),
    "events_bloom_manifest" -> ((s, d) => { BloomManifest.eventsManifestCache(s, d); () }),
    "bucketed_events"       -> ((s, d) => { BucketedFacts.eventsByUser(s, d); () })
  )

  def once(ctx: Ctx, blobs: String, source: String): Unit = {
    val spark  = ctx.spark
    val rd     = new File(ctx.runDir, "ingest")
    val corpus = new File(rd, "corpus").getAbsolutePath
    val root   = new File(rd, "layouts")
    root.mkdirs()
    spark.conf.set("graft.layout.dir", root.getAbsolutePath)
    LayoutCache.drainBuildLog()
    val L = ctx.layers
    val ok =
      try {
        val t0    = System.nanoTime()
        val stats = Prep.compact(spark, blobs, s"$corpus/events.parquet")
        L.put("prep.compact_s", (System.nanoTime() - t0) / 1e9, "s")
        val builds = Families.map { case (family, force) =>
          val secs = Workload.seconds(force(spark, corpus))
          (family, secs, LayoutCache.drainBuildLog())
        }
        val compacted = Files.bytes(new File(corpus, "events.parquet"))
        val layouts   = Files.bytes(root)
        L.put("prep.in_files", stats.inFiles.toDouble, "count")
        L.put("prep.out_files", stats.outFiles.toDouble, "count")
        L.put("prep.bytes_written", compacted.toDouble, "bytes")
        L.put("layouts.build_s", builds.map(_._2).sum, "s")
        L.put("layouts.build_busy_s", builds.flatMap(_._3.map(_._2)).sum, "s")
        L.put("layouts.built", builds.count(_._3.nonEmpty).toDouble, "count")
        L.put("layouts.reused", builds.count(_._3.isEmpty).toDouble, "count")
        L.put("layouts.bytes_written", layouts.toDouble, "bytes")
        builds.foreach { case (f, secs, _) => L.put(s"layouts.build_s.$f", secs, "s") }
        L.put("bench.bytes_written_per_input_byte", (compacted + layouts).toDouble / Files.bytes(new File(blobs)), "ratio")
        check(spark, corpus, source)
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] FAILED ingest: $e")
          e.printStackTrace()
          false
      }
    ctx.warmLog.add(Op("ingest", 0.0, ok))
    spark.conf.set("graft.layout.dir", new File(ctx.args.state, "layouts-read").getAbsolutePath)
    Files.delete(rd)
  }

  private def check(spark: SparkSession, corpus: String, source: String): Boolean = {
    def rows(path: String) = { val df = spark.read.parquet(path); Digest.of(df.columns.toSeq, df.collect().toSeq) }
    val (got, want) = (rows(s"$corpus/events.parquet"), rows(source))
    Families.foreach { case (_, force) => force(spark, corpus) }
    val rebuilt = LayoutCache.drainBuildLog().map(_._1)
    if (got != want) System.err.println(s"[perfbench] WRONG compaction: $got vs $want")
    if (rebuilt.nonEmpty) System.err.println(s"[perfbench] reuse pass rebuilt: ${rebuilt.mkString(", ")}")
    got == want && rebuilt.isEmpty
  }
}

/** The registry sample, its recorded result digests, and the layout reuse
  * check the read workloads run in set-up.
  */
object Registry {

  /** Fixed sample of the registry: every 18th query in name order from the
    * fifth (14 of 244), spanning as-of joins, text, source stats, media,
    * dedup, TPC-H shapes, vector indexes, BM25, BPE and sketches.
    */
  val Sample: Seq[String] = Seq(
    "a5_nearest_join", "d1_token_count", "d5_source_stats", "m1_payload_meta", "n18_image_dhash_groups",
    "n4p_embedding_dup_pairs_planted", "q13_intersect", "q29_discount_revenue", "q44_promo_revenue",
    "s12p_ann_ivf_incremental_planted", "s2_ann_lsh", "t16_bm25_compacted", "v2_bpe_token_count",
    "x4_approx_top_users"
  )

  /** Digests recorded on the sf0.01 corpus, next to the corpus folder. */
  def digestFile(data: String): File = new File(new File(data).getParentFile, "registry_digests.tsv")

  def digest(spark: SparkSession, q: String, dir: String): Digest.Result = {
    val df = SparkEntry.queries(q)(spark, dir)
    Digest.of(df.columns.toSeq, df.collect().toSeq)
  }

  def loadDigests(data: String): Map[String, Digest.Result] = {
    val src = scala.io.Source.fromFile(digestFile(data), "UTF-8")
    try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t")).collect {
      case Array(q, rows, d, _*) => q -> Digest.Result(rows.toLong, d)
    }.toMap
    finally src.close()
  }

  /** Force every layout of `dir` into the benchmark's read root, twice;
    * the first call builds whatever is missing, the second must reuse.
    * Returns the median seconds; records the first call's report.
    */
  def reuseCheck(ctx: Ctx, dir: String): Double = {
    val L = ctx.layers
    Workload.medianSeconds(2) { i =>
      val t       = System.nanoTime()
      val reports = Layouts.buildAll(ctx.spark, dir)
      if (i == 0) {
        L.put("layouts.build_s", (System.nanoTime() - t) / 1e9, "s")
        L.put("layouts.build_busy_s", reports.map(_.buildSecs).sum, "s")
        L.put("layouts.built", reports.count(_.built).toDouble, "count")
        L.put("layouts.reused", reports.count(!_.built).toDouble, "count")
        reports.foreach(r => L.put(s"layouts.build_s.${r.name}", r.buildSecs, "s"))
      } else require(reports.forall(!_.built), s"reuse check rebuilt ${reports.filter(_.built).map(_.name)}")
    }
  }

  /** Run every registered query twice on `data` and write name, rows,
    * digest, whether both runs agreed, and both times (ms) as TSV.
    */
  def recordDigests(a: Main.Args): Unit = {
    val spark = graft.GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("graft.layout.dir", new File(a.state, "layouts-read").getAbsolutePath)
    val corpus = s"${a.data}/sf0.01"
    Layouts.buildAll(spark, corpus)
    val names = SparkEntry.queries.keys.toSeq.sorted
    def pass(): Map[String, (Digest.Result, Double)] = names.map { q =>
      val t = System.nanoTime()
      val d =
        try digest(spark, q, corpus)
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[perfbench] FAILED $q: $e")
            Digest.Result(-1, "error")
        }
      q -> (d, (System.nanoTime() - t) / 1e6)
    }.toMap
    val first  = pass()
    val second = pass()
    val w      = new java.io.PrintWriter(a.recordDigests, "UTF-8")
    try {
      w.println("# query\trows\tdigest\tstable\tms_first\tms_second")
      names.foreach { q =>
        val (d1, t1) = first(q)
        val (d2, t2) = second(q)
        w.println(f"$q\t${d1.rows}\t${d1.digest}\t${if (d1 == d2) 1 else 0}\t$t1%.1f\t$t2%.1f")
      }
    } finally w.close()
  }
}
