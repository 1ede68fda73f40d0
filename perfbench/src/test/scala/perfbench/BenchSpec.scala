package perfbench

import java.io.File

import graft.GraftSession
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Tests of the benchmark's own machinery. Run from `perfbench/`:
  * `sbt test` (forked, two cores, scratch under `.state/test-tmp`).
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val data    = new File("data/sf0.01").getAbsolutePath
  private val corpora = new File("data").getAbsolutePath
  private val scratch = new File(".state/test-tmp/spec").getAbsoluteFile
  private lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[2]").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def beforeAll(): Unit = { Files.delete(scratch); scratch.mkdirs(); () }
  override def afterAll(): Unit  = { spark.stop(); Files.delete(scratch) }

  test("percentile helper reports the highest percentile with at least 10 samples beyond it") {
    assert(Stats.tailPercentile(0).isEmpty)
    assert(Stats.tailPercentile(19).isEmpty) // median of 19 has 9 above it
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(39).contains(50.0))
    assert(Stats.tailPercentile(40).contains(75.0))
    assert(Stats.tailPercentile(99).contains(75.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(200).contains(95.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.samplesBeyond(100, 90) == 10)
    assert(Stats.percentile(Seq(3.0, 1.0, 2.0), 50) == 2.0)
  }

  private def blobRows(dir: String): Map[Int, Seq[String]] = {
    val files = new File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
    files.map { f =>
      val id   = "part-(\\d{5})".r.findFirstMatchIn(f.getName).get.group(1).toInt
      val rows = spark.read.parquet(f.getAbsolutePath).collect().map(Digest.canon).toSeq.sorted
      id -> rows
    }.toMap
  }

  test("seeded blob splitter is reproducible and preserves the row multiset, zero-row blobs included") {
    val src = s"$data/events.parquet"
    val a   = s"$scratch/a/events.parquet"
    val b   = s"$scratch/b/events.parquet"
    val c   = s"$scratch/c/events.parquet"
    val n   = Blobs.split(spark, src, a, seed = 7, nBlobs = 64, nEmpty = 4)
    Blobs.split(spark, src, b, seed = 7, nBlobs = 64, nEmpty = 4)
    Blobs.split(spark, src, c, seed = 8, nBlobs = 64, nEmpty = 4)
    val ra = blobRows(a)
    assert(ra.keySet == (0 until 64).toSet, "one file per blob")
    assert(ra == blobRows(b), "same seed, same blobs")
    assert(ra != blobRows(c), "another seed assigns rows differently")
    val empty = ra.collect { case (id, rows) if rows.isEmpty => id }.toSet
    assert(empty == Blobs.emptyBlobs(7, 64, 4) && empty.size == 4)
    val input = spark.read.parquet(src).collect().map(Digest.canon).toSeq.sorted
    assert(ra.values.flatten.toSeq.sorted == input && input.size.toLong == n)
    // read back as one table, the folder is the original table
    val df = spark.read.parquet(a)
    assert(Digest.of(df.columns.toSeq, df.collect().toSeq) ==
      Digest.of(df.columns.toSeq, spark.read.parquet(src).collect().toSeq))
  }

  test("a throwing or wrong-result op raises failed_frac and does not read as fast") {
    val args = Main.Args(seconds = 5, data = corpora, state = scratch.getPath)
    val ctx  = new Ctx(args, spark, scratch.getPath)
    val good = Registry.digest(spark, "q1_total_count", data)
    (1 to 4).foreach(_ => ctx.query("q1_total_count", data, Some(good), ctx.log))
    val cleanP50 = Stats.median(ctx.log.latencies)
    assert(ctx.log.failed == 0 && ctx.log.failedFrac == 0.0)

    val threw = ctx.query("no_such_query", data, Some(good), ctx.log)
    val wrong = ctx.query("q1_total_count", data, Some(Digest.Result(1, "not-the-digest")), ctx.log)
    assert(!threw.ok && !wrong.ok)
    assert(ctx.log.failed == 2 && ctx.log.attempted == 6)
    assert(math.abs(ctx.log.failedFrac - 2.0 / 6) < 1e-12)
    // each failure is charged at least the run's window, however fast it was
    assert(ctx.log.latencies.count(_ >= ctx.log.penaltyMs) == 2)
    assert(Stats.percentile(ctx.log.latencies, 90) >= ctx.log.penaltyMs)
    assert(Stats.median(ctx.log.latencies) >= cleanP50)
    // a round made of the two fast failures reads as long as two penalties
    val rawS = (threw.ms + wrong.ms) / 1000.0
    assert(rawS < ctx.log.penaltyMs / 1000.0)
    assert(math.abs(ctx.log.chargedWallS(rawS, Seq(threw, wrong)) - 2 * ctx.log.penaltyMs / 1000.0) < 1e-9)
  }

  test("row digest ignores row order and last-bit float noise, not values") {
    val cols = Seq("k", "v")
    val r1   = Seq(Row(1L, 0.1 + 0.2), Row(2L, 1.0))
    val r2   = Seq(Row(2L, 1.0), Row(1L, 0.3))
    assert(Digest.of(cols, r1) == Digest.of(cols, r2))
    assert(Digest.of(cols, r1) != Digest.of(cols, Seq(Row(1L, 0.3), Row(2L, 1.5))))
    assert(Digest.of(cols, r1) != Digest.of(Seq("k", "w"), r1))
  }

  test("self time subtracts the union of child spans") {
    assert(SpanReport.covered(0, 10, Seq((1.0, 3.0), (2.0, 4.0), (8.0, 12.0))) == 5.0)
    val spans = Seq(
      Span(1, 0, 1, "op", 0, 10),
      Span(2, 1, 1, "exec.collect", 2, 9),
      Span(3, 0, 1, "exec.job", 3, 5),
      Span(4, 3, 1, "exec.stage", 3, 4)
    )
    val resolved = SpanReport.resolveParents(spans)
    assert(resolved.find(_.id == 3).get.parent == 2, "job sits under the op's collect span")
    val self = SpanReport.selfMs(resolved)
    assert(self(1) == 3.0 && self(2) == 5.0 && self(3) == 1.0 && self(4) == 1.0)
  }
}
