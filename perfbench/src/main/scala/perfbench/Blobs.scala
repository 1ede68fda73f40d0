package perfbench

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.Partitioner
import org.apache.spark.sql.{Row, SparkSession}

/** Seeded rewrite of one Parquet table into a folder of many small blobs —
  * the reference's storage shape (a table is a folder of blobs, some of
  * them empty). The seed decides which blobs are empty and which blob each
  * row lands in; the row multiset is preserved exactly.
  */
object Blobs {

  /** splitmix64 finaliser: a well-mixed 64-bit hash of `x`. */
  def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** The `nEmpty` blob ids (of `nBlobs`) that receive no rows. */
  def emptyBlobs(seed: Long, nBlobs: Int, nEmpty: Int): Set[Int] =
    new scala.util.Random(mix(seed)).shuffle((0 until nBlobs).toList).take(nEmpty).toSet

  /** Blob id of the row at `index` (0-based position in the source) under
    * `seed`; never one of `emptyBlobs(seed, ...)`.
    */
  def assigner(seed: Long, nBlobs: Int, nEmpty: Int): Long => Int = {
    val empty = emptyBlobs(seed, nBlobs, nEmpty)
    val live  = (0 until nBlobs).filterNot(empty).toArray
    index => live(java.lang.Long.remainderUnsigned(mix(mix(seed) ^ index), live.length.toLong).toInt)
  }

  private final class Identity(n: Int) extends Partitioner {
    override def numPartitions: Int          = n
    override def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /** Rewrite the Parquet table at `src` as `nBlobs` files in the new folder
    * `out`: one blob per id, each empty blob a valid zero-row file. Returns
    * the number of rows written.
    */
  def split(spark: SparkSession, src: String, out: String, seed: Long, nBlobs: Int, nEmpty: Int): Long = {
    val df     = spark.read.parquet(src)
    val assign = assigner(seed, nBlobs, nEmpty)
    val keyed = df.rdd.zipWithIndex().map { case (row, i) => (assign(i), row) }
    val parts = keyed.partitionBy(new Identity(nBlobs)).values
    spark.createDataFrame(parts, df.schema).write.parquet(out)
    // Spark writes no file for an empty partition: add each empty blob as a
    // zero-row file carrying the schema, as an empty blob in a folder is
    val conf  = spark.sparkContext.hadoopConfiguration
    val fs    = new Path(out).getFileSystem(conf)
    val proto = s"$out.empty"
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], df.schema).coalesce(1).write.parquet(proto)
    val protoFile = fs.listStatus(new Path(proto)).map(_.getPath).find(_.getName.endsWith(".parquet")).get
    emptyBlobs(seed, nBlobs, nEmpty).toSeq.sorted.foreach { b =>
      FileUtil.copy(fs, protoFile, fs, new Path(out, f"part-$b%05d-empty.parquet"), false, conf)
    }
    fs.delete(new Path(proto), true)
    // a blob store holds the blobs alone: drop the writer's markers and checksums
    fs.listStatus(new Path(out)).map(_.getPath).filterNot(_.getName.endsWith(".parquet")).foreach(fs.delete(_, false))
    df.count()
  }
}
