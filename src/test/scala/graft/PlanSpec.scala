package graft

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window

/** Pins the plan shapes that matter at 100 TB: filter pushdown and column
  * pruning at the parquet scan, broadcast for small dims, sort+limit collapse,
  * and rank-limit pushdown. A regression here is a silent 10-100x at scale
  * even when results stay correct. */
class PlanSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("parquet scan gets pushed filters and pruned schema") {
    val p = plan(spark.read.parquet(s"$sf/lineitem.parquet")
      .filter(F.col("l_quantity") < 10.0)
      .select("l_orderkey", "l_quantity"))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,10.0)]"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
  }

  test("small dimension join broadcasts") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val p = plan(orders.join(cust, orders("o_custkey") === cust("c_custkey")))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
  }

  test("sort + limit collapses to TakeOrderedAndProject") {
    val p = plan(spark.read.parquet(s"$sf/orders.parquet")
      .orderBy(F.col("o_totalprice").desc).limit(10))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("graft sortBy plans one range exchange with EvalOnce directly under it") {
    val p = plan(graft.api.LazyFrame(spark.read.parquet(s"$sf/orders.parquet"))
      .sortBy(Seq(Polars.col("o_totalprice"))).toSpark)
    val lines = p.linesIterator.toVector
    val range = lines.indices.filter(i => lines(i).contains("Exchange rangepartitioning"))
    assert(range.size == 1, p)
    assert(lines.lift(range.head + 1).exists(_.contains("EvalOnce")), p)
  }

  test("rank filter pushes a WindowGroupLimit below the shuffle") {
    val w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    val p = plan(spark.read.parquet(s"$sf/lineitem.parquet")
      .withColumn("r", F.rank().over(w)).filter(F.col("r") <= 3))
    assert(p.contains("WindowGroupLimit"), p)
    // partial limit must appear on the map side (before the exchange)
    assert(p.indexOf("WindowGroupLimit") != p.lastIndexOf("WindowGroupLimit"), p)
  }

  test("hive-partitioned writes prune partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ppart").toFile
    dir.deleteOnExit()
    spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("o_year", F.year(F.col("o_orderdate")))
      .write.mode("overwrite").partitionBy("o_year").parquet(dir.getAbsolutePath)
    val pruned = spark.read.parquet(dir.getAbsolutePath)
      .filter(F.col("o_year") === 1995)
    val p = plan(pruned)
    assert(p.contains("PartitionFilters: [isnotnull(o_year"), p)
    // the partition predicate must NOT appear as a data filter
    assert(!p.contains("PushedFilters: [IsNotNull(o_year)"), p)
  }

  test("dense row index keeps scan parallelism (no single-partition collapse)") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet").repartition(4)
    val indexed = graft.kernel.RowIndex.attachDense(df)
    assert(indexed.rdd.getNumPartitions == 4)
  }

  test("z-value projection stays inside whole-stage codegen") {
    val df = spark.read.parquet(s"$sf/orders.parquet")
      .select(graft.io.Layout.zValue(
        Seq(F.col("o_orderkey") % 1024, F.col("o_custkey") % 1024), bits = 10).as("z"))
    val p = plan(df)
    assert(p.contains("*(1) Project"), p) // the * marks whole-stage codegen
    assert(!p.contains("Exchange"), p) // pure projection: scan + project only
  }

  test("fused hstack of same-base projections adds no Exchange and keeps pushdown") {
    val base = graft.api.LazyFrame(spark.read.parquet(s"$sf/orders.parquet"))
    val stacked = base.select(graft.Polars.col("o_orderkey"))
      .hstack(base.select(graft.Polars.col("o_totalprice")))
    val p = plan(stacked.toSpark)
    assert(!p.contains("Exchange"), p)
    assert(p.contains("Scan parquet"), p) // still the original scan, not an RDD barrier
  }

  test("contamination joins the (small) benchmark side as a broadcast, scans pruned") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ml.Contamination.ngramOverlap(
      docs.filter(F.col("doc_id") % 17 =!= 0),
      docs.filter(F.col("doc_id") % 17 === 0), "text", "doc_id", n = 3))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("tfidf broadcasts the vocabulary and the corpus-count scalar") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(graft.ml.TextAnalysis.topTfidfTerm(docs, "text", "doc_id"))
    assert(p.contains("BroadcastHashJoin"), p)
    // 1-row count side: broadcast nested loop cross join, never a shuffle join
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  /** The prefix-scan invariant: the data-sized window is hash-partitioned on
    * the scan bucket, and ANY single-partition exchange in the plan sits
    * directly above an aggregate (the bucket-count-sized partials frame) —
    * never above row-sized data. */
  private def assertDistributedScan(p: String): Unit = {
    assert(p.contains("Exchange hashpartitioning(__graft_bucket__"), p)
    val lines = p.linesIterator.toVector
    lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition")).foreach { case (_, i) =>
      assert(lines.slice(i + 1, i + 4).exists(_.contains("Aggregate")),
        s"data-sized single-partition exchange at line $i:\n$p")
    }
  }

  test("linear packing distributes the global cumsum (bucketed scan, no data-sized single partition)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(F.col("doc_id"),
        graft.ml.TextAnalysis.tokenCount(F.col("text")).cast("long").as("ntok"))
    val p = plan(graft.ml.Packing.linearPack(docs, "ntok", "doc_id", 512L))
    assert(p.contains("Window"), p)
    assertDistributedScan(p)
  }

  test("un-over'd cum_sum / shift run through the distributed scan kernel") {
    val ev = graft.api.LazyFrame(spark.read.parquet(s"$sf/events.parquet"))
    val p1 = plan(ev.select(Polars.col("value").cumSum().alias("cs")).toSpark)
    assertDistributedScan(p1)
    val p2 = plan(ev.select(Polars.col("value").shift(2).alias("sh")).toSpark)
    assertDistributedScan(p2)
    val p3 = plan(ev.select(Polars.col("value").forwardFill.alias("ff")).toSpark)
    assertDistributedScan(p3)
  }

  test("cumulative_eval expanding aggregates run through the distributed scan kernel") {
    // the removed arbitrary-aggregate overload planned Window.orderBy(idx)
    // over the data; the kind spelling must keep the bucketed-scan shape
    val ev = graft.api.LazyFrame(spark.read.parquet(s"$sf/events.parquet"))
    val p = plan(ev.select(
      (Polars.col("value").cumulativeEval(F.sum, "sum") /
        Polars.col("value").cumulativeEval(F.count, "sum")).alias("m")).toSpark)
    assertDistributedScan(p)
  }

  test("un-keyed as-of join distributes the merge fill") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val left = ev.select(F.col("event_id"), F.col("value"))
    val right = ev.filter(F.col("event_id") % 10 === 0)
      .select(F.col("event_id"), F.col("value").as("ref"))
    val p = plan(graft.kernel.AsofJoin.join(left, right, "event_id"))
    assertDistributedScan(p)
  }

  test("global rank / qcut avoid a data-sized single-partition sort") {
    val orders = graft.api.LazyFrame(spark.read.parquet(s"$sf/orders.parquet"))
    val p1 = plan(orders.select(Polars.col("o_totalprice").rank("min").alias("r")).toSpark)
    assertDistributedScan(p1)
    // qcut resolves its cut values eagerly via histogram-refinement
    // selection (Quantiles kernel), so the labeling plan is a PURE
    // projection over the scan — broadcast literals, zero exchanges
    val p2 = plan(orders.withColumn("tier",
      Polars.col("o_totalprice").qcut(Seq(0.5), Seq("lo", "hi"))).toSpark)
    assert(!p2.contains("Exchange"), p2)
    assert(p2.contains("CASE WHEN"), p2)
  }

  test("calendar rolling plans as a shuffled range join, never cartesian or single-partition") {
    val orders = graft.api.LazyFrame(spark.read.parquet(s"$sf/orders.parquet"))
    val p = plan(orders
      .rolling("o_orderdate", "1mo", by = Seq("o_orderpriority"))
      .agg("n" -> graft.expr.Expr(F.count(F.lit(1))),
        "sv" -> Polars.col("o_totalprice").sum)
      .toSpark)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the bucket+key equi-join shuffles both sides (or AQE broadcasts the
    // tiny sf side) — either way the range residual rides an equi-join
    assert(p.contains("Join") && p.contains("__c_tb__"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("keyless rolling_by shuffles on the time bucket, never a single-partition sort") {
    val ev = graft.api.LazyFrame(spark.read.parquet(s"$sf/events.parquet")
      .transform(TestTables.normalizeEventsTs))
    val p = plan(ev.withColumn("m",
      Polars.col("value").rollingMaxBy(Polars.col("ts"), "30m")).toSpark)
    // phantom-carry: window hash-partitioned on the derived time bucket
    assert(p.contains("Exchange hashpartitioning(__graft_tb"), p)
    assert(p.contains("Window"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("chunkDocuments is one narrow map: scan -> transform -> explode, no Exchange") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val p = plan(graft.ml.TextAnalysis.chunkDocuments(docs, "text", "doc_id", 32, 8))
    assert(p.contains("Generate posexplode"), p)
    assert(!p.contains("Exchange"), p) // per-doc work only — embarrassingly parallel at any scale
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("kmeansAssign is a narrow map over literal centroids: no Exchange, no collect") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Array.tabulate(4)(c => Array.tabulate(64)(i => c * 1.0 + i * 0.01))
    val p = plan(graft.ml.Clustering.kmeansAssign(emb, "embedding", cents))
    assert(!p.contains("Exchange"), p) // assignment is embarrassingly parallel
  }

  test("semanticPairs shuffles both sides on the cluster key only — no CartesianProduct") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(F.col("vec_id"), F.col("embedding").cast("array<double>").as("nv"),
        (F.col("vec_id") % 4).cast("int").as("cluster_id"))
    val p = plan(graft.ml.Clustering.semanticPairs(emb, "nv", "vec_id", 0.9))
    assert(!p.contains("CartesianProduct"), p)
    // equi-join on the cluster key: broadcast at this tiny SF, shuffle-on-key
    // at scale — either way the pair condition stays inside a hash join
    assert(p.contains("BroadcastHashJoin [cluster_id") ||
      p.contains("hashpartitioning(cluster_id"), p)
  }

  test("dsirLogWeights broadcasts the bounded ratio table into the per-doc join") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "text")
    val b = graft.ml.Sampling.hashedNgramBuckets(docs, "text", "doc_id")
    val p = plan(graft.ml.Sampling.dsirLogWeights(b, b.limit(50), "doc_id"))
    assert(p.contains("BroadcastHashJoin"), p) // ratio table ≤ buckets rows
    assert(!p.contains("CartesianProduct"), p)
  }

  test("keyed chain (shift.cum_sum.over) reuses one shuffle across stacked windows") {
    import graft.Polars._
    val df = graft.api.DataFrame(spark.read.parquet(s"$sf/events.parquet")
      .select(F.col("event_id"), F.col("user_id"), F.col("value")))
    val p = plan(df.withColumn("r",
      col("value").shift(1).cumSum().over(col("user_id"))).toSpark)
    // the chain materializes a helper column, then windows over it — both
    // levels partition on the same keys: exactly ONE hashpartitioning
    // exchange on user_id, never a second shuffle or a SinglePartition sort
    val exchanges = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(exchanges == 1, p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("calendar group_by_dynamic is one hash aggregate over exploded month starts") {
    val orders = graft.api.LazyFrame(spark.read.parquet(s"$sf/orders.parquet"))
    val p = plan(orders
      .groupByDynamic("o_orderdate", every = "1mo", period = Some("3mo"))
      .agg(graft.expr.Expr(F.count(F.lit(1))).alias("n"))
      .toSpark)
    assert(p.contains("Generate explode"), p)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pca transform is a pure narrow projection: no shuffle, no UDF, pushdown kept") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val model = graft.ml.Pca.Model(
      mean = Array.fill(64)(0.0),
      components = Array.tabulate(2, 64)((j, i) => if (i == j) 1.0 else 0.0),
      variance = Array(1.0, 0.5))
    val p = plan(graft.ml.Pca.transform(emb, "embedding", model)
      .select("vec_id", "pca"))
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("SQLUDF"), p)
    assert(p.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"), p)
  }

  test("degree-ordered triangle counting plans hash joins, never a cartesian product") {
    val edges = spark.read.parquet(s"$sf/events.parquet")
      .select(F.col("user_id").as("src"), (F.col("event_id") % 50).as("dst"))
    val p = plan(graft.ml.Graph.triangleCount(edges, "src", "dst"))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("column-major unpivot prunes each union branch's scan to index + one value column") {
    // the round-12 polars-order unpivot is a union of per-column projections;
    // at 100 TB that is only acceptable because each branch's parquet scan
    // reads JUST its own value column (plus the index) — k narrow columnar
    // passes, not k full-width scans
    val df = graft.api.LazyFrame(spark.read.parquet(s"$sf/lineitem.parquet"))
    val p = plan(df.unpivot(Seq("l_quantity", "l_discount"), Seq("l_orderkey")).toSpark)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_discount:double>"), p)
    assert(!p.contains("l_extendedprice"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("typed extrema and product aggregates stay partial+final hash aggregates") {
    import graft.Polars.col
    val li = graft.api.LazyFrame(spark.read.parquet(s"$sf/lineitem.parquet"))
    // NaN-skipping max: the NanToNull wrapper rides INSIDE the aggregate —
    // partial (map-side) aggregation must survive, no sort-based fallback
    val pMax = plan(li.groupBy("l_returnflag")
      .agg(col("l_quantity").max.alias("m")).toSpark)
    assert(pMax.contains("graft_nan_to_null"), pMax)
    assert(pMax.contains("partial_max"), pMax)
    assert(!pMax.contains("SortAggregate"), pMax)
    // typed product: DeclarativeAggregate with partial+final split and an
    // i64 result for the int input (schema pin)
    val prodDf = li.groupBy("l_returnflag")
      .agg(col("l_linenumber").product.alias("p")).toSpark
    val pProd = plan(prodDf)
    assert(pProd.contains("partial_graft_product") || pProd.contains("graft_product"), pProd)
    assert(!pProd.contains("SortAggregate"), pProd)
    assert(prodDf.schema("p").dataType == org.apache.spark.sql.types.LongType)
  }

  test("polars fetch(n) pushes the limit into the SOURCE scan") {
    val df = graft.api.LazyFrame(spark.read.parquet(s"$sf/lineitem.parquet"))
    val fetched = df.groupBy("l_returnflag")
      .agg(graft.Polars.col("l_quantity").sum.alias("s")).fetch(3).toSpark
    val p = plan(fetched)
    // the limit sits below the aggregate (GlobalLimit/LocalLimit over the
    // scan), so the query runs over 3 source rows — polars debug semantics
    assert(p.contains("Limit"), p)
    assert(fetched.agg(F.sum("s")).collect()(0).getDouble(0) ==
      spark.read.parquet(s"$sf/lineitem.parquet").limit(3)
        .agg(F.sum("l_quantity")).collect()(0).getDouble(0))
  }

}
