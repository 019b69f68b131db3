package graft

import org.apache.spark.sql.{functions => F}

class QueryStageSpec extends SparkSpec {
  import spark.implicits._

  // stages land in /tmp/graft_stage/<basename of the SF dir>: a unique
  // basename keeps this suite away from the SparkEntry queries' stages
  private val sfDir = java.nio.file.Files.createTempDirectory("graft-qs").toString
  private val stageRoot = new java.io.File(
    s"/tmp/graft_stage/${new java.io.File(sfDir).getName}")

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(); ()
    }
    rm(stageRoot); rm(new java.io.File(sfDir))
    super.afterAll()
  }

  test("re-staged edges feed connectedComponents on a second call") {
    // the second stage overwrites the part files the first call's cached
    // edge frame was planned over: the second call must plan over the new
    // files, or it fails with FAILED_READ_FILE.FILE_NOT_EXIST
    def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val staged = QueryStage.stage(edges.toDF("a", "b"), sfDir, "cc_edges")
      graft.ml.Dedup.connectedComponents(staged, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val chain = (0L until 1000L).map(i => (i, i + 1))
    val first = components(chain)
    assert(first.size == 1001 && first.values.toSet == Set(0L))
    val pairs = (0L until 1000L).map(i => (2 * i, 2 * i + 1))
    val second = components(pairs)
    assert(second.size == 2000)
    assert(second.forall { case (node, comp) => comp == node - node % 2 })
  }

  test("stage under one name twice returns the second rows") {
    QueryStage.stage(Seq((1, "a"), (2, "b")).toDF("id", "v"), sfDir, "twice")
    val back = QueryStage.stage(Seq((3, "c")).toDF("id", "v"), sfDir, "twice")
    assert(back.orderBy("id").collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((3, "c")))
  }

  test("stagePath round-trips csv and json and rejects an unknown format") {
    val rows = Seq((1L, "x, \"quoted\""), (2L, "line\nbreak")).toDF("id", "s")
    val csv = QueryStage.stagePath(rows, sfDir, "rt_csv", "csv")
    val fromCsv = spark.read.option("header", "true").option("multiLine", "true")
      .csv(csv).select(F.col("id").cast("long"), F.col("s"))
    val json = QueryStage.stagePath(rows, sfDir, "rt_json", "json")
    val fromJson = spark.read.json(json).select("id", "s")
    for (back <- Seq(fromCsv, fromJson))
      assert(back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "x, \"quoted\""), (2L, "line\nbreak")))
    val err = intercept[IllegalArgumentException](
      QueryStage.stagePath(rows, sfDir, "rt_avro", "avro"))
    assert(err.getMessage.contains("unsupported format avro"))
  }

  test("streamRoot gives a fresh root per call; the previous root still reads") {
    val r1 = QueryStage.streamRoot("qs_spec")
    Seq(1L, 2L).toDF("id").write.parquet(new java.io.File(r1, "out").getPath)
    val old = spark.read.parquet(new java.io.File(r1, "out").getPath)
    val r2 = QueryStage.streamRoot("qs_spec")
    assert(r1 != r2 && r2.isDirectory && Option(r2.list()).forall(_.isEmpty))
    assert(old.orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }
}
