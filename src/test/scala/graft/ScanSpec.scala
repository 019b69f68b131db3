package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StringType, TimestampType}
import graft.io.Scan
import graft.SparkSpec.withJobs

/** `graft.io.Scan.parquet` keeps a parquet schema per session, path, file
  * listing and type-mapping confs: a repeat read starts no job, and any
  * change to the files or confs infers again. */
class ScanSpec extends SparkSpec {
  import spark.implicits._

  private val root = Files.createTempDirectory("graft-scan")

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(root.toFile)
    super.afterAll()
  }

  private def path(name: String): String = root.resolve(name).toString

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** One part file of a single-partition write, copied to `dest`. */
  private def singleFile(df: DataFrame, dest: String): Unit = {
    val dir = path(s"${new java.io.File(dest).getName}.src")
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    val part = new java.io.File(dir).listFiles().find(_.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, java.nio.file.Paths.get(dest),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    ()
  }

  test("a repeat read of unchanged files starts no job") {
    val p = path("repeat")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(p)
    val (first, missJobs) = withJobs(spark)(Scan.parquet(spark, p))
    assert(missJobs >= 1, "the first read infers the schema with a job")
    val (again, hitJobs) = withJobs(spark)(Scan.parquet(spark, p))
    assert(hitJobs == 0)
    assert(again.schema == first.schema)
    assert(rows(again) == rows(first))
  }

  test("overwriting the path with a different schema returns the new schema") {
    val dir = path("overwrite_dir")
    Seq((1L, "a")).toDF("id", "v").write.parquet(dir)
    assert(Scan.parquet(spark, dir).columns.toSeq == Seq("id", "v"))
    Seq((1.5, true)).toDF("x", "flag").write.mode("overwrite").parquet(dir)
    assert(Scan.parquet(spark, dir).schema == spark.read.parquet(dir).schema)
    assert(rows(Scan.parquet(spark, dir)) == Seq("[1.5,true]"))

    val file = path("overwrite.parquet")
    singleFile(Seq((1L, "a")).toDF("id", "v"), file)
    assert(Scan.parquet(spark, file).columns.toSeq == Seq("id", "v"))
    singleFile(Seq(("b", 2L, 3L)).toDF("v", "id", "w"), file)
    assert(Scan.parquet(spark, file).schema == spark.read.parquet(file).schema)
    assert(rows(Scan.parquet(spark, file)) == Seq("[b,2,3]"))
  }

  test("adding a file to the directory infers again") {
    val p = path("grow")
    Seq(1L).toDF("id").write.parquet(p)
    Scan.parquet(spark, p)
    Seq(2L).toDF("id").write.mode("append").parquet(p)
    val (df, jobs) = withJobs(spark)(Scan.parquet(spark, p))
    assert(jobs >= 1, "a changed listing must not be served from the cache")
    assert(rows(df) == Seq("[1]", "[2]"))
  }

  test("sessions with different nanosAsLong or binaryAsString each get their own schema") {
    // TIMESTAMP(NANOS) cannot be written through Spark: write the footer
    // with parquet's example writer
    import org.apache.parquet.example.data.Group
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    def write(name: String, message: String)(fill: SimpleGroupFactory => Group): String = {
      val file = path(name)
      val schema = MessageTypeParser.parseMessageType(message)
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file))
        .withType(schema).build()
      try w.write(fill(new SimpleGroupFactory(schema)))
      finally w.close()
      file
    }
    def session(conf: String, value: String): SparkSession = {
      val s = spark.newSession(); s.conf.set(conf, value); s
    }
    val nanos = write("nanos.parquet", "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")(
      _.newGroup().append("ts", 1700000000123456789L))
    val asLong = session("spark.sql.legacy.parquet.nanosAsLong", "true")
    val asTs = session("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert(Scan.parquet(asLong, nanos).schema("ts").dataType == LongType)
    // without nanosAsLong Spark rejects the type: the cache must not hide that
    val plain = scala.util.Try(asTs.read.parquet(nanos).schema("ts").dataType)
    assert(plain.isFailure)
    assert(scala.util.Try(Scan.parquet(asTs, nanos).schema("ts").dataType).toString ==
      plain.toString)
    assert(Scan.parquet(asLong, nanos).schema("ts").dataType == LongType)

    val bin = write("binary.parquet", "message m { required binary b; }")(
      _.newGroup().append("b", "text"))
    val asString = session("spark.sql.parquet.binaryAsString", "true")
    val asBinary = session("spark.sql.parquet.binaryAsString", "false")
    assert(Scan.parquet(asString, bin).schema("b").dataType == StringType)
    assert(Scan.parquet(asBinary, bin).schema("b").dataType == BinaryType)
    assert(Scan.parquet(asString, bin).collect().head.getString(0) == "text")
  }

  test("reading cap + 1 distinct paths leaves cap entries, the oldest evicted") {
    val files = (0 to Scan.Cap).map(i => path(s"cap_$i.parquet"))
    singleFile(Seq(1L).toDF("id"), files.head)
    files.tail.foreach(f => Files.copy(java.nio.file.Paths.get(files.head), java.nio.file.Paths.get(f)))
    files.foreach(Scan.parquet(spark, _))
    assert(Scan.size == Scan.Cap)
    assert(withJobs(spark)(Scan.parquet(spark, files.last))._2 == 0)
    assert(withJobs(spark)(Scan.parquet(spark, files.head))._2 >= 1)
  }

  test("a Hive-partitioned directory gives the same schema and rows as a plain read") {
    val p = path("by_lang")
    Seq((1L, "de", "x"), (2L, "en", "y"), (3L, "de", "z")).toDF("id", "lang", "s")
      .write.partitionBy("lang").parquet(p)
    Scan.parquet(spark, p)
    val (cached, jobs) = withJobs(spark)(Scan.parquet(spark, p))
    assert(jobs == 0)
    val plain = spark.read.parquet(p)
    assert(cached.schema == plain.schema)
    assert(rows(cached) == rows(plain))
    val de = F.col("lang") === "de"
    assert(rows(cached.filter(de)) == rows(plain.filter(de)))
    assert(cached.filter(de).inputFiles.toSeq.sorted == plain.filter(de).inputFiles.toSeq.sorted)

    // partition-column types come from inference too: turning it off re-infers
    val byNum = path("by_num")
    Seq((1L, 7), (2L, 8)).toDF("id", "k").write.partitionBy("k").parquet(byNum)
    val s = spark.newSession()
    assert(Scan.parquet(s, byNum).schema("k").dataType == IntegerType)
    s.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    assert(Scan.parquet(s, byNum).schema("k").dataType == StringType)
    assert(rows(Scan.parquet(s, byNum)) == Seq("[1,7]", "[2,8]"))
  }

  test("for every driver table the cached read plans like the plain read") {
    val sf = QueryBuildFixture.sfDir
    val tables = new java.io.File(sf).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted.toSeq
    assert(tables.contains("lineitem") && tables.contains("events"))
    def shape(df: DataFrame): String = {
      val q = df.filter(F.col(df.columns.head).isNotNull).select(df.columns.take(2).map(F.col): _*)
      (q.queryExecution.optimizedPlan.treeString + q.queryExecution.executedPlan.treeString)
        .replaceAll("#\\d+L?", "#")
    }
    for (name <- tables) {
      TestTables.t(spark, sf, name)
      val (cached, jobs) = withJobs(spark)(TestTables.t(spark, sf, name))
      assert(jobs == 0, name)
      val plain = spark.read.parquet(s"$sf/$name.parquet")
      assert(cached.schema == plain.schema, name)
      assert(shape(cached) == shape(plain), name)
    }
    assert(TestTables.events(spark, sf).toSpark.schema("ts").dataType == TimestampType)
  }
}
