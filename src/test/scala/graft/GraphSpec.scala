package graft

import graft.ml.Graph
import org.apache.spark.sql.{functions => F}

class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Local reference: same formulation (dedup edges, dangling mass uniform). */
  private def ref(edges: Seq[(Long, Long)], iters: Int, d: Double): Map[Long, Double] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.size.toDouble
    val out = e.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 0 until iters) {
      val dm = nodes.filterNot(out.contains).map(r).sum
      val in = e.groupBy(_._2).view.mapValues(_.map { case (s, _) => r(s) / out(s) }.sum).toMap
      r = nodes.map(v => v -> ((1.0 - d) / n + d * (in.getOrElse(v, 0.0) + dm / n))).toMap
    }
    r
  }

  test("pageRank matches the local power iteration on a cyclic graph") {
    // 4 is the last lazy iteration count and 5 the first eager one: both
    // sides of the boundary must match the reference
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L))
    for (iters <- Seq(4, 5)) {
      val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst",
          iterations = iters, damping = 0.85)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = ref(edges, iters, 0.85)
      assert(got.keySet == want.keySet, s"iterations $iters")
      got.foreach { case (k, v) =>
        assert(math.abs(v - want(k)) < 1e-12, s"iterations $iters, node $k") }
    }
  }

  test("pageRank eager path (iterations > 4) matches the local power iteration") {
    // the >4-iteration branch collects the dangling mass as a local scalar
    // per iteration and releases generations eagerly — must be value-
    // identical to the lazy broadcast-subquery chain (same IEEE ops)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 1L)) // 4's in-degree 0 path + dangling-free core
    val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iterations = 10, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = ref(edges, 10, 0.85)
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12, s"node $k") }
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
  }

  test("dangling nodes redistribute mass: total rank stays 1") {
    val edges = Seq((1L, 2L), (3L, 2L)) // node 2 is dangling
    val out = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iterations = 4, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out.values.sum - 1.0) < 1e-12)
    val want = ref(edges, 4, 0.85)
    out.foreach { case (k, v) => assert(math.abs(v - want(k)) < 1e-12) }
    // the sink accumulates the most rank
    assert(out(2L) > out(1L) && out(2L) > out(3L))
  }

  test("multigraph mode weights parallel edges; set mode collapses them") {
    val edges = Seq((1L, 2L), (1L, 2L), (1L, 3L)) // 1 links twice to 2
    val multi = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst",
        iterations = 3, dedupEdges = false)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val set = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iterations = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(multi(2L) > multi(3L))       // 2/3 of 1's mass flows to node 2
    assert(math.abs(set(2L) - set(3L)) < 1e-15) // set semantics: symmetric
  }

  test("iterations = 0 returns the uniform prior; null edges dropped") {
    val edges = Seq((Some(1L), Some(2L)), (None, Some(3L)), (Some(2L), None))
      .toDF("src", "dst")
    val out = Graph.pageRank(edges, "src", "dst", iterations = 0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keySet == Set(1L, 2L)) // only the non-null edge contributes nodes
    out.values.foreach(v => assert(math.abs(v - 0.5) < 1e-15))
  }

  test("pageRank matches the local reference on random graphs (property)") {
    val rnd = new scala.util.Random(5)
    (1 to 3).foreach { trial =>
      val n = 20 + rnd.nextInt(30)
      val edges = Seq.fill(60 + rnd.nextInt(120))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val iters = 1 + rnd.nextInt(4)
      val got = Graph.pageRank(edges.toDF("src", "dst").repartition(5),
          "src", "dst", iterations = iters, damping = 0.85)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = ref(edges, iters, 0.85)
      assert(got.keySet == want.keySet, s"trial $trial node set")
      got.foreach { case (k, v) =>
        assert(math.abs(v - want(k)) < 1e-10, s"trial $trial node $k") }
      assert(math.abs(got.values.sum - 1.0) < 1e-9, s"trial $trial mass")
    }
  }

  test("randomized differential: triangleCount vs local brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(77)
    for (trial <- 1 to 5) {
      val n = 8 + rnd.nextInt(8)
      val edges = Seq.fill(20 + rnd.nextInt(40))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      val got = Graph.triangleCount(edges.toDF("s", "d"), "s", "d")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val und = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).toSet
      val nodes = und.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
      val ref = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      for {
        Seq(a, b, c) <- nodes.combinations(3)
        if und((a, b)) && und((b, c)) && und((a, c))
        v <- Seq(a, b, c)
      } ref(v) += 1
      assert(got == ref.toMap, s"trial $trial: $got vs $ref")
    }
  }

  test("degree orientation bounds wedges on a small-id hub (star + clique)") {
    import spark.implicits._
    // Worst case for ID-ordered orientation: hub id 0 with 200 leaves keeps
    // its whole degree forward → C(200,2) = 19900 wedges. Degree ordering
    // orients every star edge leaf→hub (leaf deg 1 < hub deg), so the star
    // contributes ZERO wedges; only the attached K5 clique (ids 1..5, nodes
    // of equal degree) pairs out-edges: sum over K5 of C(outdeg,2) with
    // outdegs 4,3,2,1,0 = 6+3+1+0+0 = 10.
    val star = (6L to 205L).map(leaf => (0L, leaf))
    val k5 = for { a <- 1L to 5L; b <- (a + 1) to 5L } yield (a, b)
    val edges = (star ++ k5).toDF("src", "dst")
    val oriented = Graph.orientByDegree(edges, "src", "dst")
    // hub 0 has degree 200: every incident edge must point AT it
    assert(oriented.filter($"src" === 0L).count() == 0)
    val wedgeCount = oriented.groupBy("src").count()
      .select(F.sum(F.col("count") * (F.col("count") - 1) / 2).cast("long")).as[Long].head()
    assert(wedgeCount == 10, s"expected 10 wedges (K5 only), got $wedgeCount")
    // and the counts themselves stay correct: K5 nodes in C(4,2)=6 triangles
    val tri = Graph.triangleCount(edges, "src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    (1L to 5L).foreach(n => assert(tri(n) == 6L, s"node $n"))
    assert(!tri.contains(0L) || tri(0L) == 0L)
  }

  test("per-call persisted frames are released: storage bounded across repeated calls") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    def persistedCount = spark.sparkContext.getPersistentRDDs.size
    val base = persistedCount
    val pr1 = Graph.pageRank(edges, "src", "dst", iterations = 3)
    val pr2 = Graph.pageRank(edges, "src", "dst", iterations = 3)
    assert(pr1.count() == 3 && pr2.count() == 3)
    // only the two checkpointed RESULTS may stay pinned (freed when the
    // caller drops them); the per-call registry frames must all be gone
    assert(persistedCount - base <= 2,
      s"pageRank leaked persisted frames: $base -> $persistedCount")
  }

  test("pageRank scheduling floor: bounded jobs, AQE-coalesced tasks per stage") {
    // Round-13 floor pin (BASELINE.md "q_pagerank floor analysis"): a
    // 3-iteration run is ~13 exchanges; with AQE each materializes as its
    // own job (the per-job ~60-80ms scheduling cost IS the toy-scale
    // floor), and canChangeCachedPlanOutputPartitioning=true lets AQE
    // coalesce the sub-64MB exchanges inside the persisted generations —
    // without it the same run schedules ~25x the tasks (939 vs 39 at
    // sf0.1/32 cores, 4.5s vs 3.0s). Pin both shapes: the job count stays
    // bounded and the mean tasks-per-stage stays coalesced (~1-2 at toy
    // scale, not the full shuffle parallelism).
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
    import java.util.concurrent.atomic.AtomicInteger
    import spark.implicits._
    val edges = (1L to 400L).map(i => (i % 37, (i * i) % 41)).toDF("src", "dst")
    Graph.pageRank(edges, "src", "dst", iterations = 3).count() // warm
    val jobs = new AtomicInteger; val stages = new AtomicInteger; val tasks = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks)
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      Graph.pageRank(edges, "src", "dst", iterations = 3).count()
      // listener delivery is async; jobs/stages land within the bus flush
      Thread.sleep(1000)
      assert(jobs.get <= 45, s"pageRank(3) scheduled ${jobs.get} jobs — barrier regression")
      assert(stages.get > 0 && tasks.get <= stages.get * 4,
        s"tasks/stage ${tasks.get}/${stages.get} — cached-plan AQE coalescing lost")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
