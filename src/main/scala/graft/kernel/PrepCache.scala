package graft.kernel

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Bounded auto-cache for frames that feed MULTIPLE scan-kernel preparations.
  *
  * Each [[graft.expr.Prep]] built by the Scan kernel adds a partials branch
  * that re-reads its input frame (the documented ~2-narrow-reads cost model,
  * [[Scan]]). Stacking N kernel ops over one base therefore pays N extra
  * passes of the base lineage — fine over a bare parquet scan, wasteful over
  * an expensive composed upstream. When the frame layer sees more than one
  * prep it persists the prepped base here so every branch reads one
  * materialization (`InMemoryTableScan`) instead of re-executing the lineage.
  *
  * Persisting keeps the full lineage (unlike `localCheckpoint`), so fault
  * tolerance at cluster scale is unchanged — a lost block just recomputes.
  * Spark's `CacheManager` holds strong references, so unpersist cannot ride
  * GC: this registry is a small LRU (semantic-hash keyed, so the same plan
  * re-entering is a touch, not a duplicate persist) and evicting an entry
  * unpersists it non-blocking. The bound caps executor storage at a handful
  * of prepped projections regardless of how many queries a session runs.
  */
object PrepCache {
  private val MaxEntries = 8

  private val entries =
    new java.util.LinkedHashMap[Int, DataFrame](16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(e: java.util.Map.Entry[Int, DataFrame]): Boolean = {
        val evict = size() > MaxEntries
        if (evict) quietUnpersist.accept(e.getValue)
        evict
      }
    }

  /** Persist `df` (MEMORY_AND_DISK) under LRU discipline and return `df`
    * itself. A semantically identical plan already registered shares its
    * cached data through Spark's `CacheManager` (the persist is a no-op
    * there); the earlier FRAME is never handed back, because its physical
    * plan lists the files of its own read — after the input path is
    * overwritten (a re-stage) those files are gone, while `df`'s fresh read
    * lists the new ones. */
  def persistBounded(df: DataFrame): DataFrame = synchronized {
    // a cached frame is bound to the session that registered it; after that
    // session stops (suite teardown), handing it back would fail on first
    // action. Sweep ALL dead-session entries — not just the requested key —
    // so stale frames cannot sit in the LRU evicting live cached plans in
    // long suite-per-session runs (the map is tiny; this is O(8))
    val it = entries.values().iterator()
    while (it.hasNext) if (it.next().sparkSession.sparkContext.isStopped) it.remove()
    val plan = df.queryExecution.analyzed
    df.persist(StorageLevel.MEMORY_AND_DISK)
    val displaced = entries.put(plan.semanticHash(), df)
    // semanticHash is 32-bit: a collision displaces a DIFFERENT plan from
    // the LRU — unpersist it here or its cached blocks leak for the session
    // lifetime (a same-plan entry shares df's cached data: keep it cached)
    if (displaced != null && !displaced.queryExecution.analyzed.sameResult(plan))
      quietUnpersist.accept(displaced)
    df
  }

  /** Unpersist and forget everything (test hygiene). */
  def clear(): Unit = synchronized {
    entries.values.forEach(quietUnpersist)
    entries.clear()
  }

  // an entry may outlive its SparkSession (suite-per-session tests); a
  // best-effort unpersist against a stopped context must not propagate
  private val quietUnpersist: java.util.function.Consumer[DataFrame] = df =>
    try df.unpersist(blocking = false) catch { case scala.util.control.NonFatal(_) => () }
}
