package graftbench

import java.io.BufferedWriter
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession, DataFrame => SDF}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructType, TimestampNTZType, TimestampType}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** Closed-loop benchmark client for graft's `SparkEntry.queries`.
  *
  * One client thread, one `local[cores]` session. An op is one call of a
  * query function followed by `collect()` of every row; each query's rows
  * from the last pass are written out for the DuckDB oracle check. All
  * timing, tracing and failure accounting is done here, from outside graft:
  * graft is only called through its public query functions, and the traced
  * run reads Spark's public listener interfaces.
  *
  *   Harness catalog <out.json>       names of every query and its oracle SQL
  *   Harness setup --data D --work W --cores C
  *                                    time one set-up from process start, print it
  *   Harness run --data D --out O --work W --queries q1,q2 --seed N
  *               --seconds S --trace 0|1 --cores C
  */
object Harness {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  /** Epoch microseconds at nanoTime resolution, on the same clock as the
    * epoch-millisecond times in Spark's listener events. */
  def nowUs(): Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000

  def main(args: Array[String]): Unit = args.toList match {
    case "catalog" :: out :: Nil => catalog(Paths.get(out))
    case "setup" :: rest =>
      val (spark, seconds) = setup(Conf(rest))
      spark.stop()
      println(s"SETUP_S $seconds")
    case "run" :: rest => run(Conf(rest))
    case _ => throw new IllegalArgumentException(
      "usage: Harness catalog <out.json> | Harness setup ... | Harness run ...")
  }

  final case class Conf(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
  }
  object Conf {
    def apply(args: List[String]): Conf = Conf(args.grouped(2).map {
      case List(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: $other")
    }.toMap)
  }

  // ---------------------------------------------------------------- json

  def js(s: String): String = if (s == null) "null" else "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(fields: (String, Any)*): String = fields.map { case (k, v) =>
    val vs = v match {
      case null => "null"
      case s: String => js(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case xs: Seq[_] => xs.map {
        case s: String => js(s)
        case x => x.toString
      }.mkString("[", ",", "]")
      case x => x.toString
    }
    s"${js(k)}:$vs"
  }.mkString("{", ",", "}")

  private def writeLines(path: Path, lines: Iterable[String]): Unit = {
    val w: BufferedWriter = Files.newBufferedWriter(path, UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
  }

  // -------------------------------------------------------------- catalog

  def catalog(out: Path): Unit = {
    val oracle = SparkEntry.oracleSql
    val body = obj(
      "queries" -> SparkEntry.queries.keys.toSeq.sorted,
      "oracle" -> "@ORACLE@")
    val oracleJson = oracle.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${js(k)}:${js(v)}" }.mkString("{", ",", "}")
    Files.writeString(out, body.replace("\"@ORACLE@\"", oracleJson))
  }

  // -------------------------------------------------------------- session

  def session(conf: Conf): SparkSession = {
    val cores = conf("cores")
    val work = conf("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** Inputs are verified against the generator's manifest: every table's
    * bytes hash to the recorded digest. */
  def verifyInputs(dataDir: String): Unit = {
    val manifest = Files.readString(Paths.get(dataDir, "manifest.json"))
    val entry = "\"([a-z_]+)\":\\s*\\{\\s*\"rows\":\\s*\\d+,\\s*\"sha256\":\\s*\"([0-9a-f]+)\"".r
    val tables = entry.findAllMatchIn(manifest).map(m => m.group(1) -> m.group(2)).toSeq
    if (tables.isEmpty) throw new IllegalStateException(s"empty manifest in $dataDir")
    tables.foreach { case (name, sha) =>
      val path = Paths.get(dataDir, s"$name.parquet")
      val digest = MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(path))
        .map("%02x".format(_)).mkString
      if (digest != sha) throw new IllegalStateException(s"input $path does not match its manifest")
    }
  }

  /** Set-up: from this process's start until the session is ready and
    * every input is verified. Returns the session and the seconds taken. */
  def setup(conf: Conf): (SparkSession, Double) = {
    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000
    val spark = session(conf)
    verifyInputs(conf("data"))
    (spark, (nowUs() - jvmStartUs) / 1e6)
  }

  // ------------------------------------------------------------------ ops

  final class Op(val id: Int, val query: String, val pass: Int, val phase: String) {
    var startUs = 0L
    var buildUs = 0L
    var endUs = 0L
    var rows = -1L
    var error: String = null
    var storageBlocks = -1L
    var storageBytes = -1L
    def json: String = obj("op" -> id, "query" -> query, "pass" -> pass,
      "phase" -> phase, "start_us" -> startUs, "build_us" -> buildUs,
      "end_us" -> endUs, "rows" -> rows, "error" -> error,
      "storage_blocks" -> storageBlocks, "storage_bytes" -> storageBytes)
  }

  def run(conf: Conf): Unit = {
    val dataDir = conf("data")
    val out = Paths.get(conf("out"))
    Files.createDirectories(out)
    val queries = conf("queries").split(",").toSeq
    val seed = conf("seed").toLong
    val seconds = conf.int("seconds")
    val traced = conf.int("trace") == 1
    val cores = conf.int("cores")

    val missing = queries.filterNot(SparkEntry.queries.contains)
    if (missing.nonEmpty) throw new IllegalArgumentException(s"unknown queries: $missing")

    val (spark, setupS) = setup(conf)
    val sc = spark.sparkContext

    val ops = mutable.ArrayBuffer.empty[Op]
    val last = mutable.Map.empty[String, (StructType, Array[Row])]

    def runOp(query: String, pass: Int, phase: String): Op = {
      val op = new Op(ops.size, query, pass, phase)
      ops += op
      val fn = SparkEntry.queries(query)
      sc.setJobGroup(s"op-${op.id}", query, interruptOnCancel = false)
      op.startUs = nowUs()
      try {
        val df: SDF = fn(spark, dataDir)
        op.buildUs = nowUs()
        val rows = df.collect()
        op.endUs = nowUs()
        op.rows = rows.length
        last(query) = (df.schema, rows)
      } catch {
        case NonFatal(e) =>
          op.endUs = nowUs()
          if (op.buildUs == 0L) op.buildUs = op.endUs
          op.error = e.toString.take(400)
          last.remove(query)
          System.err.println(s"[perfbench] ${op.query} (op ${op.id}) failed: ${op.error}")
      } finally sc.clearJobGroup()
      if (phase == "traced") {
        val info = sc.getRDDStorageInfo
        op.storageBlocks = info.map(_.numCachedPartitions.toLong).sum
        op.storageBytes = info.map(i => i.memSize + i.diskSize).sum
      }
      op
    }

    /** Pass 0, the cold pass, runs in listed order in every run: which op
      * runs first decides who pays the shared class loading and JIT
      * profiles, so a seeded order would make warmup_s and the code the JIT
      * settles on differ from seed to seed. Later passes run in an order
      * drawn from the seed. */
    def pass(index: Int, phase: String): Unit = {
      val order = if (index == 0) queries else new Random(seed * 1000003L + index).shuffle(queries)
      order.foreach(runOp(_, index, phase))
    }

    val tracer = new Tracer

    /** Whole passes until `seconds` have elapsed. A traced run alternates
      * untraced passes with traced ones (Spark listeners registered), so
      * both see the same JIT and cache state; a traced pass ends once its
      * listener events have been delivered. Returns the wall time of the
      * untraced passes. */
    def window(): Double = {
      val t = nowUs()
      val length = seconds * 1000000L
      var p = 2
      var untracedUs = 0L
      while (nowUs() - t < length || (traced && p % 2 == 1)) {
        val on = traced && p % 2 == 1
        if (on) {
          sc.addSparkListener(tracer)
          spark.listenerManager.register(tracer.queries)
        }
        val t0 = nowUs()
        pass(p, if (on) "traced" else "timed")
        if (on) {
          tracer.awaitQuiet()
          sc.removeSparkListener(tracer)
          spark.listenerManager.unregister(tracer.queries)
        } else untracedUs += nowUs() - t0
        p += 1
      }
      untracedUs / 1e6
    }

    val w0 = nowUs()
    pass(0, "warmup")
    val warmupS = (nowUs() - w0) / 1e6
    // one untimed pass: the first pass after the cold one still runs well
    // above steady state while the JIT compiles what the cold pass profiled
    pass(1, "warm")
    val timedS = window()

    // rows of the last pass, for the oracle check (untimed)
    last.foreach { case (query, (schema, rows)) =>
      val df = spark.createDataFrame(rows.toSeq.asJava, schema)
      val ntz = schema.fields.filter(_.dataType == TimestampType)
        .foldLeft(df)((d, f) => d.withColumn(f.name, col(f.name).cast(TimestampNTZType)))
      ntz.write.mode("overwrite").parquet(out.resolve("results").resolve(query).toString)
    }
    last.clear()

    val heapMb = {
      val mem = ManagementFactory.getMemoryMXBean
      System.gc(); System.gc()
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }

    writeLines(out.resolve("ops.jsonl"), ops.map(_.json))
    if (traced) writeLines(out.resolve("events.jsonl"), tracer.events.asScala)
    Files.writeString(out.resolve("summary.json"), obj(
      "setup_s" -> setupS, "warmup_s" -> warmupS, "timed_wall_s" -> timedS,
      "heap_retained_mb" -> heapMb, "cores" -> cores))
    spark.stop()
  }

  // --------------------------------------------------------------- tracer

  /** Records scheduler, task and Catalyst events as JSON lines in memory. */
  final class Tracer extends SparkListener {
    val events = new ConcurrentLinkedQueue[String]()
    private val lastEventMs = new AtomicLong(System.currentTimeMillis())
    private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()

    private def add(line: String): Unit = {
      events.add(line)
      lastEventMs.set(System.currentTimeMillis())
    }

    /** Listener delivery is asynchronous: wait until no event has arrived
      * for half a second (at most 30 s) before reading the trace. */
    def awaitQuiet(): Unit = {
      val deadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() - lastEventMs.get() < 500 &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.put(e.jobId, e)
      lastEventMs.set(System.currentTimeMillis())
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = jobStarts.remove(e.jobId)
      if (start != null) {
        val group = Option(start.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        add(obj("ev" -> "job", "job" -> e.jobId, "group" -> group,
          "start_ms" -> start.time, "end_ms" -> e.time, "stages" -> start.stageIds,
          "ok" -> (e.jobResult == JobSucceeded)))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      add(obj("ev" -> "stage", "stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "submit_ms" -> s.submissionTime.getOrElse(-1L),
        "complete_ms" -> s.completionTime.getOrElse(-1L),
        "tasks" -> s.numTasks, "ok" -> s.failureReason.isEmpty))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      if (m != null) add(obj("ev" -> "task", "stage" -> e.stageId,
        "launch_ms" -> i.launchTime, "finish_ms" -> i.finishTime,
        "ok" -> i.successful,
        "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
        "gc_ms" -> m.jvmGCTime, "result_bytes" -> m.resultSize,
        "in_bytes" -> m.inputMetrics.bytesRead, "in_records" -> m.inputMetrics.recordsRead,
        "out_bytes" -> m.outputMetrics.bytesWritten,
        "out_records" -> m.outputMetrics.recordsWritten,
        "sw_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "sw_records" -> m.shuffleWriteMetrics.recordsWritten,
        "sr_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "sr_records" -> m.shuffleReadMetrics.recordsRead,
        "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
    }

    val queries: QueryExecutionListener = new QueryExecutionListener {
      private def phases(func: String, qe: QueryExecution, ok: Boolean): Unit = {
        val p = qe.tracker.phases
        def span(name: String): Seq[Long] =
          p.get(name).map(s => Seq(s.startTimeMs, s.endTimeMs)).getOrElse(Nil)
        add(obj("ev" -> "qe", "func" -> func, "ok" -> ok,
          "analysis" -> span("analysis"), "optimization" -> span("optimization"),
          "planning" -> span("planning")))
      }
      override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
        phases(func, qe, ok = true)
      override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit =
        phases(func, qe, ok = false)
    }
  }
}
