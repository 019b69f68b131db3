package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming surface. The reference has no true streaming engine — its
  * "streaming" is out-of-core batch (`allow_streaming`, `sink_*`,
  * `read_csv_batched`; reference lib/polars/lazy_frame.rb:343,421-685,
  * batched_csv_reader.rb). We map those to Structured Streaming, which also
  * gives real watermarked/windowed processing as the beyond-reference path.
  */
object Streaming {

  /** scan a directory of files as a stream (reference read_csv_batched
    * analog — `maxFilesPerTrigger` bounds batch size). */
  def scanCsvStream(path: String, schema: StructType, maxFilesPerTrigger: Int = 1)
                   (implicit spark: SparkSession): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("header", "true").csv(path)

  def scanParquetStream(path: String, schema: StructType)
                       (implicit spark: SparkSession): DataFrame =
    spark.readStream.schema(schema).parquet(path)

  /** Batched iteration over a large result — the `read_csv_batched` eager
    * counterpart: deterministic chunks without driver OOM. */
  def batchedIterator(df: DataFrame, batchSize: Int = 8192): Iterator[Seq[org.apache.spark.sql.Row]] = {
    import scala.jdk.CollectionConverters._
    df.toLocalIterator().asScala.grouped(batchSize)
  }

  /** Tumbling-window aggregation with a watermark — the streaming twin of
    * group_by_dynamic (same `window()` bucketing as the batch path). */
  def windowedCount(stream: DataFrame, tsCol: String, every: String,
                    watermark: String = "10 minutes"): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .groupBy(F.window(F.col(tsCol), every))
      .agg(F.count(F.lit(1)).as("n"))
      .select(F.col("window.start").as(tsCol), F.col("n"))

  /** Watermarked tumbling-window aggregation with grouping keys — the full
    * streaming twin of group_by_dynamic. The watermark bounds state: windows
    * older than (max event time - delay) are finalized and evictable, which is
    * what makes the operator runnable indefinitely on an unbounded stream. */
  def windowedAgg(stream: DataFrame, tsCol: String, every: String,
                  by: Seq[String], aggs: Seq[org.apache.spark.sql.Column],
                  watermark: String = "1 hour"): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .groupBy((F.window(F.col(tsCol), every) +: by.map(F.col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Event-time session windows with a static inactivity gap: events within
    * `gap` of each other (per key) merge into one session; the watermark
    * finalizes and evicts sessions whose close precedes the horizon. The
    * canonical sessionization shape for behavioral pipelines — state is one
    * open session per active key, merged incrementally as micro-batches
    * arrive (no per-event state accretion). */
  def sessionWindowAgg(stream: DataFrame, tsCol: String, gap: String,
                       by: Seq[String], aggs: Seq[org.apache.spark.sql.Column],
                       watermark: String = "1 hour"): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .groupBy((F.session_window(F.col(tsCol), gap) +: by.map(F.col)): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Watermarked stream-stream inner join: the condition must relate the two
    * event-time columns (a range/interval predicate) so Spark can bound the
    * join state from the watermarks — rows older than horizon-minus-range
    * are evicted, which is what lets two unbounded streams join forever.
    * Sides must carry disjoint column names. */
  def streamStreamJoin(left: DataFrame, leftTs: String,
                       right: DataFrame, rightTs: String,
                       condition: org.apache.spark.sql.Column,
                       watermark: String = "1 hour"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark), condition)

  /** Streaming deduplication with bounded state: duplicates are dropped
    * within the watermark horizon and state older than the watermark is
    * evicted — the only dedup shape that runs forever on an unbounded stream
    * (an unbounded dropDuplicates would accrete state without limit). The
    * streaming twin of Dedup.exact for ingest pipelines. */
  def dedupWithinWatermark(stream: DataFrame, cols: Seq[String], tsCol: String,
                           watermark: String = "1 hour"): DataFrame =
    stream.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(cols.head, cols.tail: _*)

  /** Streaming per-key quota: keep at most `cap` rows per key across the
    * stream's lifetime — the ingest-time twin of
    * [[graft.ml.Sampling.capPerStratum]] ("first N documents per domain"),
    * expressed with `flatMapGroupsWithState` because no built-in stateful
    * operator can count-and-cut with custom logic. State is ONE long per
    * key (rows kept so far) — bounded by key cardinality, not row volume,
    * which is what lets the quota run forever on an unbounded stream. Each
    * group's micro-batch slice is sorted by `orderCol` before cutting, so
    * with a deterministic batch order (file source) the kept set is exactly
    * "first `cap` per key in (batch, orderCol) order" — reproducible and
    * oracle-checkable. The slice is buffered per (key, batch) to sort:
    * bounded by a key's per-batch volume, not the stream. */
  def capPerKeyStream(stream: DataFrame, keyCol: String, orderCol: String,
                      cap: Int): DataFrame = {
    require(cap > 0, "capPerKeyStream: cap must be positive")
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    val odt = stream.schema(orderCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(odt),
      s"capPerKeyStream: orderCol '$orderCol' must be an integral column, " +
        s"got ${odt.simpleString}")
    val rowEnc = Encoders.row(stream.schema)
    // "v"-prefixed values, NUL for a null key: a bare String.valueOf would
    // merge a null key with the literal string "null" into one quota slot
    stream.groupByKey { r =>
      val k = r.getAs[Any](keyCol)
      if (k == null) "\u0000" else "v" + k
    }(Encoders.STRING)
      .flatMapGroupsWithState[Long, Row](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Row], state: GroupState[Long]) =>
          val seen = state.getOption.getOrElse(0L)
          val room = math.max(cap - seen, 0L).toInt
          // numeric order key: a string sort would rank 10 before 2
          val kept = rows.toSeq.sortBy { r =>
            val v = r.getAs[Number](orderCol)
            if (v == null) throw new IllegalArgumentException(
              s"capPerKeyStream: null $orderCol — the order column must be " +
                "non-null (the kept set would depend on arrival order)")
            v.longValue()
          }.take(room)
          if (kept.nonEmpty) state.update(seen + kept.size)
          kept.iterator
      }(Encoders.scalaLong, rowEnc)
  }

  /** Switch streaming state to RocksDB (bundled rocksdbjni): state lives off
    * the JVM heap with incremental snapshots — the provider that holds up
    * when keyed state is millions of windows/keys per partition. Set BEFORE
    * the query starts; applies to queries started from this session. */
  def useRocksDbStateStore(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  /** Run `body` with the micro-batch drain tuned for SMALL state: `parts`
    * shuffle partitions (= state-store instances committed per batch) and no
    * trailing no-data batch — that batch only advances the watermark for
    * state EVICTION, which complete-mode sinks and on-arrival append
    * operators (dedup-within-watermark, inner stream-stream joins) don't
    * need for their OUTPUT. Restores both confs after. At scale the
    * partition count tracks state size; at bench scale the per-partition
    * commit overhead dominates, so the drains run narrow. */
  def tunedDrain[T](parts: Int)(body: => T)(implicit spark: SparkSession): T = {
    val conf = spark.conf
    val prevParts = conf.get("spark.sql.shuffle.partitions")
    val prevNoData = conf.getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    conf.set("spark.sql.shuffle.partitions", parts.toString)
    conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try body
    finally {
      conf.set("spark.sql.shuffle.partitions", prevParts)
      prevNoData match {
        case Some(v) => conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v)
        case None    => conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
  }

  /** Resumable bounded drain into a parquet directory under `root`
    * (checkpoint at root/cp, output at root/out, both retained): the first
    * drain pays the full micro-batch cost; a later drain over the same root
    * RESUMES — the file source lists, finds no new input, runs zero batches,
    * and the retained output is read back. That is the steady-state cost of
    * a deployed incremental pipeline. (The SparkEntry queries pass a fresh
    * [[graft.QueryStage.streamRoot]] per call, so they always drain fully.)
    * `complete` mode overwrites root/out each batch via foreachBatch
    * (idempotent on retry); `append` uses the native exactly-once file sink
    * (`_spark_metadata`-tracked). Returns the output read back from disk. */
  def drainToParquet(stream: DataFrame, root: java.io.File,
                     mode: String = "complete", salt: String = "")
                    (implicit spark: SparkSession): DataFrame = {
    require(mode == "append" || mode == "complete",
      s"drainToParquet mode must be 'append' or 'complete', got '$mode'")
    val out = new java.io.File(root, "out").getAbsolutePath
    val cp = new java.io.File(root, "cp").getAbsolutePath
    // Cross-PROCESS exclusion over the whole check+wipe+drain: two JVMs
    // sharing a retained root (a local bench beside the driver's) must not
    // wipe a checkpoint the other is mid-drain on, nor run two streaming
    // queries over ONE checkpoint directory (the HDFS metadata log does not
    // arbitrate across JVMs). The lock is [[graft.QueryStage.streamRootLock]],
    // and it lives OUTSIDE the root: a lock inside the root would be deleted by
    // the very wipe it is supposed to serialize, letting another JVM rm a
    // root this one is mid-drain on (round-10 ADVICE). The post-drain READ
    // of out/ remains the caller's scheduling concern.
    java.nio.file.Files.createDirectories(root.toPath)
    val lockCh = java.nio.channels.FileChannel.open(
      graft.QueryStage.streamRootLock(root),
      java.nio.file.StandardOpenOption.CREATE, java.nio.file.StandardOpenOption.WRITE)
    val lock = lockCh.lock()
    try {
      drainLocked(stream, root, mode, out, cp, salt)
      // A first drain over an input dir with zero files runs no batch in
      // complete mode, so out/ never materializes; surface that as a clear
      // empty frame of the stream's schema instead of a path-not-found.
      // INSIDE the lock: done after release, the exists-check would race a
      // concurrent JVM's wipe+drain on a shared root — the exact cross-JVM
      // class the shared streamRootLock closes.
      if (!new java.io.File(out).exists())
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          stream.schema).write.parquet(out)
    } finally { lock.release(); lockCh.close() }
    spark.read.schema(stream.schema).parquet(out)
  }

  private def drainLocked(stream: DataFrame, root: java.io.File, mode: String,
                          out: String, cp: String, salt: String)
                         (implicit spark: SparkSession): Unit = {
    // Self-guarding resume: a CHANGED query over a retained checkpoint
    // would otherwise return the OLD query's retained output (the source
    // sees no new files, zero batches run). Record a canonicalized-plan
    // hash in the root; a mismatch wipes checkpoint+output (inputs stay)
    // so the changed query re-drains from scratch.
    val planHash = {
      val md = java.security.MessageDigest.getInstance("MD5")
      // canonicalization normalizes expr ids but EventTimeWatermark (and
      // some source nodes) carry a per-INSTANCE UUID — identity noise that
      // would make every rebuild of the same query hash differently
      // typed nodes (FlatMapGroupsWithState, AppendColumns) print their
      // closure as Class$$Lambda$<n>/0x<addr>@<hash> — JVM/instance noise;
      // keep the class name (shape), drop the identity. A changed lambda
      // BODY is invisible to any plan hash — callers mix such parameters
      // into `salt`.
      val canon = stream.queryExecution.analyzed.canonicalized.toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>")
        .replaceAll("\\$\\$Lambda\\$\\d+/0x[0-9a-f]+", "\\$\\$Lambda")
        .replaceAll("@[0-9a-f]{6,}", "@id")
      md.update(canon.getBytes("UTF-8"))
      md.update(stream.schema.catalogString.getBytes("UTF-8"))
      md.update(mode.getBytes("UTF-8"))
      // closure-captured parameters (a quota cap, a foreachBatch body knob)
      // are invisible to the canonicalized plan — callers mix them in here
      // so a parameter change invalidates the retained output automatically
      md.update(salt.getBytes("UTF-8"))
      md.digest().map("%02x".format(_)).mkString
    }
    val phPath = root.toPath.resolve("_graft_plan")
    val recorded =
      if (java.nio.file.Files.isRegularFile(phPath))
        Some(new String(java.nio.file.Files.readAllBytes(phPath), "UTF-8"))
      else None
    if (!recorded.contains(planHash)) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(); ()
      }
      if (recorded.isDefined) { rm(new java.io.File(cp)); rm(new java.io.File(out)) }
      java.nio.file.Files.createDirectories(root.toPath)
      java.nio.file.Files.write(phPath, planHash.getBytes("UTF-8"))
    }
    val q =
      if (mode == "append")
        stream.writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", cp)
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
      else
        stream.writeStream
          .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
            df.toDF().write.mode("overwrite").parquet(out))
          .outputMode(mode).option("checkpointLocation", cp)
          .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  /** Input directory for a file-stream over one parquet table: a stable
    * symlink under `root` so a resumed drain's source listing recognizes the
    * file as already processed (the file-source checkpoint records absolute
    * paths — a fresh temp path per run would re-process the same bytes). */
  def linkedInput(root: java.io.File, dir: String, table: String): String = {
    val in = root.toPath.resolve("in")
    java.nio.file.Files.createDirectories(in)
    val link = in.resolve(s"$table.parquet")
    if (!java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      java.nio.file.Files.createSymbolicLink(
        link, java.nio.file.Paths.get(s"$dir/$table.parquet"))
    in.toString
  }

  /** Drain a (bounded) stream into an in-memory table and return it.
    * `complete` mode keeps all windows including ones still above the
    * watermark — right for tests and bounded backfills; unbounded production
    * sinks should use append mode + [[sinkParquet]] instead. */
  def runToMemory(stream: DataFrame, queryName: String,
                  mode: String = "complete")(implicit spark: SparkSession): DataFrame = {
    val q = stream.writeStream.format("memory").queryName(queryName)
      .outputMode(mode).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    spark.table(queryName)
  }

  /** sink_parquet for streams: append to a parquet directory, processing all
    * available input then stopping (out-of-core batch semantics, like the
    * reference's sink_* which stream a query result to disk). */
  def sinkParquet(stream: DataFrame, path: String, checkpoint: String): Unit = {
    val q = stream.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Continuous corpus curation: the cleaning pipeline as a streaming job —
    * new document files are PII-redacted, quality-filtered (cheap Gopher
    * predicate; the corpus-level repetition caps need a batch pass), and
    * appended to the cleaned store. Stateless row transforms only, so there
    * is no watermark or state store: each file is cleaned exactly once
    * (checkpoint-tracked), which is the 100 TB ingestion shape — clean on
    * arrival, dedup/decontaminate in scheduled batch sweeps over the store.
    * Exposed as a transform so tests can also run it on bounded frames. */
  def curateTransform(docs: DataFrame, textCol: String,
                      minWords: Int = 50): DataFrame =
    docs
      .withColumn(textCol, graft.ml.TextAnalysis.redactPii(F.col(textCol)))
      .filter(graft.ml.QualityFilters.gopherKeep(F.col(textCol), minWords = minWords))

  def curateStream(path: String, schema: StructType, textCol: String,
                   outPath: String, checkpoint: String, minWords: Int = 50)
                  (implicit spark: SparkSession): Unit =
    sinkParquet(
      curateTransform(scanParquetStream(path, schema), textCol, minWords),
      outPath, checkpoint)

  /** Model-scored streaming curation: score each arriving document with a
    * batch-trained [[graft.ml.Classifier.LinearModel]] (train offline on the
    * curated seed set, apply on ingest — the fastText-filter deployment
    * shape) and keep those at or above `threshold`. Stateless: the model is
    * a broadcast ≤ B+1-double table, featurization is one explode + local
    * aggregate per micro-batch, no state store. Exposed as a transform so
    * tests run it on bounded frames too. */
  def classifierTransform(docs: DataFrame, textCol: String, idCol: String,
                          model: graft.ml.Classifier.LinearModel,
                          threshold: Double = 0.5,
                          scoreCol: String = "quality_score",
                          ngram: Int = 2, seed: Long = 42): DataFrame = {
    // featurize in the MODEL's bucket space — a mismatched bucket count
    // would hash most features past the weight table and silently score
    // everything near sigmoid(bias)
    val feats = graft.ml.Sampling.hashedNgramBuckets(
      docs.select(F.col(idCol), F.col(textCol)), textCol, idCol,
      n = ngram, buckets = model.buckets, seed = seed)
    val scored = graft.ml.Classifier.logisticScore(docs, feats, idCol, model, scoreCol)
    docs.join(scored, Seq(idCol)).filter(F.col(scoreCol) >= threshold)
  }

  def classifierStream(path: String, schema: StructType, textCol: String,
                       idCol: String, model: graft.ml.Classifier.LinearModel,
                       outPath: String, checkpoint: String,
                       threshold: Double = 0.5)
                      (implicit spark: SparkSession): Unit = {
    val stream = scanParquetStream(path, schema)
    // hashedNgramBuckets aggregates (unsupported directly on a streaming
    // frame pre-watermark) — run per micro-batch: stateless, exactly-once
    // per file via the checkpoint
    foreachBatch(stream, checkpoint) { (batch, _) =>
      classifierTransform(batch, textCol, idCol, model, threshold)
        .write.mode("append").parquet(outPath)
    }
  }

  /** Streaming MinHash near-dedup — LSH-on-ingest. Each arriving document's
    * banded MinHash signature is checked against (a) the bands of documents
    * already processed in earlier micro-batches and (b) the current batch's
    * own buckets (smallest id wins a bucket); a document colliding on ANY
    * band is dropped as a near-duplicate. ALL documents' bands — kept and
    * dropped — are registered, so chains dedup transitively exactly like the
    * batch pipeline's connected components (B≈A dropped, C≈B still drops
    * even when C shares no band with A).
    *
    * The cross-batch state is a TABLE (an append-only parquet bucket
    * registry), not an in-memory state store: per batch the collision check
    * is one semi-join against the registry and the update is one append.
    * That is the shape that survives 100 TB — registry size is bounded by
    * corpus bands (16 longs/doc), it lives on storage not executor memory,
    * the join shuffles on (band_idx, band_hash) like every other LSH step,
    * and a Bloom filter over band hashes (see
    * [[graft.ml.Contamination.bloomCandidates]]) slots in as a pre-filter
    * when the registry outgrows comfortable join sizes. Precision matches
    * batch LSH *without* the exact-Jaccard verify step (candidates are
    * dropped, not verified) — run the batch verify sweep over the dropped
    * set when false positives matter.
    *
    * foreachBatch side-effect writes are at-least-once on retry; the
    * AvailableNow drains used in tests/backfills never retry, and a
    * production deployment should land both appends in a transactional
    * table format keyed by batch id. */
  def nearDedupStream(inPath: String, schema: StructType, textCol: String,
                      idCol: String, outPath: String, registryPath: String,
                      checkpoint: String, numHashes: Int = 64, bands: Int = 16,
                      shingleK: Int = 5, maxFilesPerTrigger: Int = 1)
                     (implicit spark: SparkSession): Unit = {
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(inPath)
    foreachBatch(stream, checkpoint) { (batch, batchId) =>
      val banded = graft.ml.Dedup.bandedSignatures(
          batch, textCol, idCol, numHashes, bands, shingleK)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val regPath = new org.apache.hadoop.fs.Path(registryPath)
        val fs = regPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
        // Each batch registers its bands under its own `batch=<id>/`
        // directory, and the collision listing excludes the CURRENT batch's
        // directory by name (same discipline as
        // [[graft.ml.Dedup.incrementalNearDedup]]'s `sweep=` dirs, which are
        // included here so the two registries dedup against each other).
        // This holds on foreachBatch RETRY too: a re-executed batch whose
        // first attempt already appended its bands would otherwise re-list
        // its own registration and self-collide every document — name
        // exclusion makes the collision set independent of attempt count,
        // and mode("overwrite") below replaces a partial first attempt
        // instead of double-appending it.
        val regFiles =
          if (fs.exists(regPath))
            fs.listStatus(regPath).filter { st =>
              val n = st.getPath.getName
              (st.isFile && n.endsWith(".parquet")) ||
                (st.isDirectory &&
                  (n.startsWith("sweep=") ||
                    (n.startsWith("batch=") && n != s"batch=$batchId")))
            }.map(_.getPath.toString).toSeq
          else Seq.empty
        val crossDup =
          if (regFiles.nonEmpty)
            banded.join(
              // every registration holds bands this code wrote: read with their schema
              spark.read.schema(banded.select("band_idx", "band_hash").schema).parquet(regFiles: _*),
              Seq("band_idx", "band_hash"), "left_semi").select(idCol)
          else batch.select(idCol).limit(0)
        val owners = banded.groupBy("band_idx", "band_hash")
          .agg(F.min(F.col(idCol)).as("__owner__"))
        val intraDup = banded.join(owners, Seq("band_idx", "band_hash"))
          .where(F.col(idCol) =!= F.col("__owner__")).select(idCol)
        val dupIds = crossDup.unionAll(intraDup).distinct()
        batch.join(dupIds, Seq(idCol), "left_anti")
          .write.mode("append").parquet(outPath)
        banded.select("band_idx", "band_hash")
          .write.mode("overwrite").parquet(s"$registryPath/batch=$batchId")
      } finally banded.unpersist()
    }
  }

  /** foreachBatch bridge: run an arbitrary batch function per micro-batch. */
  def foreachBatch(stream: DataFrame, checkpoint: String)
                  (f: (DataFrame, Long) => Unit): Unit = {
    val q = stream.writeStream
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) => f(df.toDF(), id))
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
