package graft.io

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one parquet read (polars `read_parquet`/`scan_parquet`).
  *
  * `spark.read.parquet` runs a schema-inference job on every call, even for
  * one file. [[parquet]] hands a cached schema to the reader instead, which
  * starts no job. An entry holds for one session, path, set of type-mapping
  * confs (partition-column inference included) and file listing (data file
  * names, sizes and mtimes, skipping `_`/`.` files as Spark's file index
  * does); any change infers again. A path that names no existing file or
  * directory (a glob) is read plainly.
  */
object Scan {
  /** Entries kept; the least recently used goes first. */
  private[graft] val Cap = 64

  private val typeConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema", "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  private final case class Key(session: String, path: String, confs: Seq[String])
  private final case class Entry(listing: Seq[(String, Long, Long)], schema: StructType)

  private val cache = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Key, Entry]): Boolean = this.size > Cap
  }
  // a token per session, so that no entry keeps a stopped session reachable
  private val sessionIds = new java.util.WeakHashMap[SparkSession, String]()

  def parquet(spark: SparkSession, path: String): DataFrame = {
    val id = sessionIds.synchronized(
      sessionIds.computeIfAbsent(spark, _ => java.util.UUID.randomUUID.toString))
    val key = Key(id, path, typeConfs.map(spark.conf.get))
    // listed before the read: a file changing in between costs the next call
    // a miss, never a stale schema
    listing(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(files) =>
        cache.synchronized(Option(cache.get(key))).filter(_.listing == files) match {
          case Some(hit) => spark.read.schema(hit.schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            cache.synchronized(cache.put(key, Entry(files, df.schema)))
            df
        }
    }
  }

  private[graft] def size: Int = cache.synchronized(cache.size)

  private def listing(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def hidden(n: String): Boolean =
      (n.startsWith("_") && !n.contains("=") || n.startsWith(".") || n.endsWith("._COPYING_")) &&
        !n.startsWith("_common_metadata") && !n.startsWith("_metadata")
    def walk(st: FileStatus): Seq[(String, Long, Long)] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).filterNot(c => hidden(c.getPath.getName))
          .sortBy(_.getPath.getName).toSeq.flatMap(walk)
      else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
    try Some(walk(fs.getFileStatus(root)))
    catch { case _: java.io.FileNotFoundException => None }
  }
}
