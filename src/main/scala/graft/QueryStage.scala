package graft

import org.apache.spark.sql.{DataFrame => SDF}

/** Materialize an intermediate frame to a deterministic per-SF staging path
  * and read it back.
  *
  * Used by the LSH/IVF driver queries: their SIGNATURES depend on Spark's
  * xxhash64 bit patterns, which DuckDB cannot reproduce — but the candidate
  * JOIN LOGIC (band equality, hamming blocking, bucket equality, cell
  * membership + cosine top-k) is plain relational algebra. Staging the
  * signature rows lets the DuckDB oracle re-derive the pair/top-k result from
  * the IDENTICAL rows, turning a rows-only check into a full hash-checked one.
  *
  * The driver's correctness gate runs Verify at sf0.01, so the oracle SQL
  * hardcodes `/tmp/graft_stage/sf0.01/...`; the path is keyed by the SF
  * directory name so a bench run at another SF never clobbers the staged
  * rows the oracle reads.
  *
  * Every call rewrites the stage: Verify, Bench and the benchmark all time
  * and check the same work.
  */
object QueryStage {
  def stage(df: SDF, sfDir: String, name: String): SDF = {
    val path = stagePath(df, sfDir, name, "parquet")
    // the writer's schema is the one inference would find (a file source
    // reads every column as nullable): reading with it starts no job
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** Stage in a named format (parquet/csv/json) and return the PATH, not a
    * read-back frame. The IO round-trip queries use this to write a table
    * through graft's own writers and re-read it through graft's own readers,
    * while the DuckDB oracle parses the SAME staged files with its own
    * independent CSV/JSON parser — an end-to-end check of both directions
    * that a parquet-only oracle can't give. */
  def stagePath(df: SDF, sfDir: String, name: String, format: String,
                partitionCols: Seq[String] = Nil): String = {
    val sf = new java.io.File(sfDir).getName
    val path = s"/tmp/graft_stage/$sf/$name"
    // cross-PROCESS exclusion for the overwrite: two same-SF JVMs (a local
    // bench beside a Verify run) would otherwise interleave their
    // overwrite of one directory — mode("overwrite") deletes first, so the
    // loser reads a partial file set. The lock covers writers only; a
    // concurrent DuckDB *read* during a re-stage remains the caller's
    // scheduling concern.
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"/tmp/graft_stage/$sf"))
    val lockCh = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(s"/tmp/graft_stage/$sf/.${name}.lock"),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    val lock = lockCh.lock()
    try {
      val w0 = df.write.mode("overwrite")
      val w = if (partitionCols.nonEmpty) w0.partitionBy(partitionCols: _*) else w0
      format match {
        case "parquet" => w.parquet(path)
        case "csv"     => w.option("header", "true").csv(path)
        case "json"    => w.json(path)
        case other     => throw new IllegalArgumentException(s"stagePath: unsupported format $other")
      }
    } finally { lock.release(); lockCh.close() }
    path
  }

  /** The per-root lock FILE serializing every destructive stream-root
    * operation across JVMs — [[graft.streaming.Streaming.drainToParquet]]'s
    * check+wipe+drain takes it. Lives in the root's PARENT (a wipe of the
    * root must not delete the lock being held). */
  def streamRootLock(root: java.io.File): java.nio.file.Path =
    root.getParentFile.toPath.resolve(s".${root.getName}.lock")

  // Stream roots: ONE static shutdown hook draining a registry, not one hook
  // per call — a long-lived session invoking streaming queries repeatedly
  // would otherwise accumulate hooks and temp trees until exit. A re-run of
  // the same query DISPLACES its previous root into the retired list rather
  // than deleting it eagerly: a DataFrame returned by the earlier drain still
  // lazily reads parquet from that root, and deleting it at re-run time
  // would break that frame's next action. All roots — live and retired —
  // are reclaimed by the shutdown hook.
  private val tempStreamRoots =
    new java.util.concurrent.ConcurrentHashMap[String, java.io.File]()
  private val retiredStreamRoots =
    java.util.concurrent.ConcurrentHashMap.newKeySet[java.io.File]()
  private lazy val tempRootHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tempStreamRoots.values.forEach(rmTree(_))
      retiredStreamRoots.forEach(rmTree(_))
    }))
  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  /** A fresh temp directory for one streaming query's checkpoint, output
    * and input links, so every call runs a full drain. */
  def streamRoot(name: String): java.io.File = {
    val tmp = java.nio.file.Files.createTempDirectory(s"graft-q-$name").toFile
    tempRootHook
    Option(tempStreamRoots.put(name, tmp)).foreach(retiredStreamRoots.add)
    tmp
  }
}
