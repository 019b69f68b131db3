package graft

import org.apache.spark.SparkEnv
import org.apache.spark.sql.{Column, DataFrame, EvalOnceStrategy, functions => F}

/** A global sort computes its input once: the range exchange's sampling job
  * keeps each partition's rows and the map stage reads them back
  * (`EvalOnceStrategy`, installed by `GraftExtensions.register`). */
class SortOnceSpec extends SparkSpec {

  /** 200 rows over 5 input partitions: nulls every 11th row, ties in `k`
    * and `s`, a unique `id`. */
  private def input: DataFrame = spark.range(0, 200, 1, 5).select(
    F.when(F.col("id") % 11 === 0, F.lit(null)).otherwise(F.col("id") % 17).as("k"),
    F.concat(F.lit("s"), ((F.col("id") * 7) % 23).cast("string")).as("s"),
    F.col("id"))

  private def withShufflePartitions[T](n: Int)(f: => T): T = {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toString)
    try f finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  /** Spark's own plan: the strategy removed for the duration of `f`. */
  private def withoutStrategy[T](f: => T): T = {
    val saved = spark.experimental.extraStrategies
    spark.experimental.extraStrategies = saved.filterNot(_ == EvalOnceStrategy)
    try f finally spark.experimental.extraStrategies = saved
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  private def rddBlocks = SparkEnv.get.blockManager.getMatchingBlockIds(_.isRDD).toSet

  test("the sort input is evaluated once per row, not once more for range sampling") {
    val calls = spark.sparkContext.longAccumulator("sort-once-calls")
    val key = F.udf((x: Long) => { calls.add(1); (x * 7919) % 1000 })
    val rows = spark.range(0, 1000, 1, 4).select(key(F.col("id")).as("k"), F.col("id"))
      .orderBy("k", "id").collect()
    assert(rows.length == 1000)
    assert(rows.map(_.getLong(0)).toSeq == rows.map(_.getLong(0)).toSeq.sorted)
    assert(calls.value == 1000L, s"udf ran ${calls.value} times for 1000 rows")
  }

  test("a partition the range partitioner re-samples is recomputed, and nothing stays stored") {
    // 20 input partitions, the last holding 100 of 195 rows: more than its
    // share of the sample, so RangePartitioner re-samples it in a second
    // job, which reads (and drops) its stored block; the map stage then
    // recomputes that one partition from the child
    val calls = spark.sparkContext.longAccumulator("sort-once-resample")
    val key = F.udf((x: Long) => { calls.add(1); (x * 7919) % 1000 })
    val skewed = spark.range(0, 2000, 1, 20)
      .filter(F.col("id") % 100 < 5 || F.col("id") >= 1900)
      .select(key(F.col("id")).as("k"), F.col("id"))
    val before = rddBlocks
    val got = skewed.orderBy("k", "id").collect().toSeq
    assert(calls.value == 195L + 100L, s"udf ran ${calls.value} times")
    assert((rddBlocks -- before).isEmpty)
    assert(got == withoutStrategy(skewed.orderBy("k", "id").collect().toSeq))
  }

  // (name, sort, whether the sort keys order the rows totally)
  private val cases: Seq[(String, Seq[Column], Boolean)] = Seq(
    ("asc", Seq(F.col("k").asc, F.col("id")), true),
    ("desc", Seq(F.col("k").desc, F.col("id").desc), true),
    ("asc nulls last", Seq(F.col("k").asc_nulls_last, F.col("id")), true),
    ("desc nulls first", Seq(F.col("k").desc_nulls_first, F.col("id")), true),
    ("multi-key", Seq(F.col("s").desc, F.col("k").asc, F.col("id")), true),
    ("string key", Seq(F.col("s"), F.col("id")), true),
    ("ties", Seq(F.col("k")), false),
    ("rand", Seq(F.rand(7)), true))

  for ((name, order, total) <- cases; parts <- Seq(1, 4))
    test(s"orderBy $name at $parts shuffle partitions equals Spark's plan") {
      withShufflePartitions(parts) {
        val df = input.orderBy(order: _*)
        assert(plan(df).contains("EvalOnce"), plan(df))
        val got = df.collect().toSeq
        val want = withoutStrategy(input.orderBy(order: _*).collect().toSeq)
        assert(got.size == 200)
        if (total) assert(got == want)
        else {
          // ties may leave Spark's sort in any order: same key sequence,
          // same rows
          assert(got.map(_.get(0)) == want.map(_.get(0)))
          assert(got.map(_.toString).sorted == want.map(_.toString).sorted)
        }
      }
    }

  for (parts <- Seq(1, 4))
    test(s"orderBy of an empty input at $parts shuffle partitions") {
      withShufflePartitions(parts) {
        val empty = input.filter(F.col("id") < 0)
        assert(empty.orderBy("k").collect().isEmpty)
        assert(withoutStrategy(empty.orderBy("k").collect()).isEmpty)
      }
    }

  test("no RDD blocks remain once the query returns") {
    val before = rddBlocks
    val rows = input.orderBy("s", "id").collect()
    assert(rows.length == 200)
    val left = rddBlocks -- before
    assert(left.isEmpty, s"blocks left after collect: $left")
  }

  test("orderBy + limit still plans TakeOrderedAndProject, without EvalOnce") {
    val p = plan(input.orderBy(F.col("id").desc).limit(5))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("EvalOnce"), p)
  }

  test("a child already range-partitioned on the order stores nothing") {
    val sorted = input.repartitionByRange(4, F.col("id")).orderBy("id")
    val p = plan(sorted)
    assert(p.contains("EvalOnce"), p)
    assert(p.split("rangepartitioning").length == 2, p) // one range exchange
    // nothing samples EvalOnce's output here, so a block it stored would
    // never be read back, and never removed
    val before = rddBlocks
    assert(sorted.collect().map(_.getLong(2)).toSeq == (0L until 200L))
    assert((rddBlocks -- before).isEmpty)
  }
}
