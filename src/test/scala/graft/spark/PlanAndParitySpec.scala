package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, countDistinct, length => sqlLength}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.LogQuadraticLayout
import graft.spark.functions._

/** Physical-plan hygiene and accuracy parity against Spark's built-in
 * approximate aggregates. */
class PlanAndParitySpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession.spark
  private val layout = LogQuadraticLayout(1e-3, 1e-2, 0, 1e6)
  private val sf = "/root/testdata/sf0.001"

  test("sketch aggregation prunes the parquet scan to the needed column") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val plan = li
      .agg(hist_sketch(col("l_extendedprice"), layout))
      .queryExecution
      .executedPlan
      .toString
    // ReadSchema must contain only the aggregated column, none of the other 10
    assert(plan.contains("l_extendedprice"))
    assert(!plan.contains("l_comment") && !plan.contains("l_orderkey"))
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(
      readSchema.contains("l_extendedprice") && !readSchema.contains("l_quantity"),
      s"scan not pruned: $readSchema")
  }

  test("weighted sketch and rollup driver queries prune their parquet scans") {
    // q26: weighted aggregation reads exactly (value, weight)
    val q26 = graft.SparkEntry.queries("q26_weighted_hist")(spark, sf)
    val rs26 = q26.queryExecution.sparkPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs26.contains("l_extendedprice") && rs26.contains("l_linenumber"))
    assert(!rs26.contains("l_quantity") && !rs26.contains("l_orderkey"),
      s"q26 scan not pruned: $rs26")
    // q27's level-1 sketch table reads only the five sketched columns
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val partials = li
      .groupBy(col("l_linestatus"))
      .agg(
        hist_sketch(col("l_extendedprice"), layout),
        hll_sketch_long(col("l_partkey")),
        cms_sketch(col("l_returnflag")))
    val rs27 = partials.queryExecution.sparkPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(rs27.contains("l_partkey") && rs27.contains("l_linestatus"))
    assert(!rs27.contains("l_quantity") && !rs27.contains("l_discount"),
      s"q27 scan not pruned: $rs27")
  }

  test("filters push down to the parquet scan below the sketch aggregation") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val plan = li
      .filter(col("l_quantity") > 10)
      .agg(hist_sketch(col("l_extendedprice"), layout))
      .queryExecution
      .executedPlan
      .toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,10"))
  }

  test("sketch aggregation plans as partial + final ObjectHashAggregate") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val plan = li
      .groupBy(col("l_returnflag"))
      .agg(hist_sketch(col("l_extendedprice"), layout))
      .queryExecution
      .executedPlan
      .toString
    // two ObjectHashAggregate occurrences = map-side partial + final
    val n = "ObjectHashAggregate".r.findAllIn(plan).size
    assert(n >= 2, s"expected partial+final object hash aggregate, plan:\n$plan")
    assert(plan.contains("partial_hist_sketch("), s"no partial phase:\n$plan")
    // every aggregate name, through the DSL and through SQL registerAll,
    // plans as a partial and a final phase of one of the library's native
    // aggregates (no kryo ScalaAggregator)
    registerAll(spark)
    val df = spark.range(100).select(
      (col("id") % 3).as("g"), col("id").cast("double").as("v"), col("id").as("w"),
      col("id").cast("string").as("s"), col("id").cast("string").cast("binary").as("b"))
    df.createOrReplaceTempView("plan_guard")
    val dsl = Seq(
      hist_sketch(col("v"), layout),
      hist_sketch_weighted(col("v"), col("w"), layout),
      hll_sketch(col("s")), hll_sketch_long(col("w")), cms_sketch(col("s")),
      cms_sketch_weighted(col("s"), col("w")), bloom_sketch(col("w"), 1000),
      tdigest_sketch(col("v")), kll_sketch(col("v")),
      hist_merge(col("b")), hll_merge(col("b")), cms_merge(col("b")),
      bloom_merge(col("b")), tdigest_merge(col("b")), kll_merge(col("b")))
      .map(c => c.toString -> df.groupBy(col("g")).agg(c))
    val sql = Seq(
      "hist_sketch(v)", "hist_sketch_weighted(v, w)",
      "hist_sketch_log_quadratic(v, 1e-3, 1e-2, 0.0, 1e6)",
      "hist_sketch_custom(v, 10.0, 50.0)", "hist_sketch_weighted_custom(v, w, 10.0)",
      "hll_sketch(s)", "cms_sketch(s)", "cms_sketch_weighted(s, w)", "bloom_sketch(w, 1000)",
      "tdigest_sketch(v)", "kll_sketch(v)", "hist_merge(b)", "hll_merge(b)", "cms_merge(b)",
      "bloom_merge(b)", "tdigest_merge(b)", "kll_merge(b)")
      .map(q => q -> spark.sql(s"SELECT g, $q FROM plan_guard GROUP BY g"))
    import org.apache.spark.sql.catalyst.expressions.aggregate.{Final, Partial}
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    (dsl ++ sql).foreach { case (name, q) =>
      val physical = q.queryExecution.sparkPlan
      val aggs = physical.collect { case a: ObjectHashAggregateExec => a.aggregateExpressions }
        .flatten
      assert(aggs.exists(_.mode == Partial) && aggs.exists(_.mode == Final),
        s"$name: expected partial + final ObjectHashAggregate:\n$physical")
      aggs.map(_.aggregateFunction).foreach { f =>
        assert(f.getClass.getName.startsWith("graft.spark.expressions."),
          s"$name: plans ${f.getClass.getName}, not a native sketch aggregate:\n$physical")
      }
      assert(!physical.toString.contains("ScalaAggregator"), s"$name:\n$physical")
    }
  }

  test("HLL accuracy is in the same class as approx_count_distinct (HLL++)") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val row = orders
      .agg(
        hll_sketch_long(col("o_custkey")).as("ours"),
        org.apache.spark.sql.functions.approx_count_distinct(col("o_custkey")).as("theirs"),
        countDistinct(col("o_custkey")).as("exact"))
      .select(hll_estimate(col("ours")).as("ours"), col("theirs"), col("exact"))
      .collect()(0)
    val exact = row.getLong(2).toDouble
    val ourErr = math.abs(row.getDouble(0) - exact) / exact
    val theirErr = math.abs(row.getLong(1) - exact) / exact
    assert(ourErr <= 0.05, s"our HLL err $ourErr")
    // same accuracy class: within 3x of the built-in (both ~1% sketches)
    assert(ourErr <= math.max(0.03, 3 * theirErr), s"ours=$ourErr theirs=$theirErr")
  }

  test("KLL quantiles agree with percentile_approx within rank tolerance") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val row = li
      .agg(
        kll_sketch(col("l_extendedprice"), 200).as("kll"),
        org.apache.spark.sql.functions
          .percentile_approx(col("l_extendedprice"), org.apache.spark.sql.functions.lit(0.5),
            org.apache.spark.sql.functions.lit(10000))
          .as("pa"))
      .select(kll_quantile(col("kll"), 0.5).as("ours"), col("pa"))
      .collect()(0)
    val n = li.count()
    val ourRank = li.filter(col("l_extendedprice") <= row.getDouble(0)).count().toDouble / n
    val theirRank = li.filter(col("l_extendedprice") <= row.getDouble(1)).count().toDouble / n
    assert(math.abs(ourRank - 0.5) <= 0.02, s"our rank $ourRank")
    assert(math.abs(ourRank - 0.5) <= math.abs(theirRank - 0.5) + 0.02)
  }

  test("bloom filter parity with df.stat.bloomFilter on membership") {
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val n = cust.count()
    val ours = graft.sketches.BloomFilter.fromBytes(
      cust.agg(bloom_sketch(col("c_custkey"), n, 0.01)).collect()(0).getAs[Array[Byte]](0))
    val theirs = cust.stat.bloomFilter("c_custkey", n, 0.01)
    val keys = cust.select(col("c_custkey")).collect().map(_.getLong(0))
    assert(keys.forall(ours.mightContainLong), "our bloom has a false negative")
    assert(keys.forall(theirs.mightContainLong(_)), "spark bloom has a false negative")
  }

  test("driver smoke: SparkEntry.entry returns rows at sf0.001") {
    val df = graft.SparkEntry.entry(spark)
    val rows = df.collect()
    assert(rows.length > 0)
    assert(rows.forall(_.getLong(1) > 0)) // n_turns per role
  }

  test("date-partitioned transcript layout: partition pruning reaches the scan") {
    // Iceberg-shaped layout without Iceberg jars: the transcript table is
    // written hive-partitioned by day; a day-ranged sketch query must prune
    // to the matching partitions (the plan carries PartitionFilters and the
    // scan reads only the selected directories)
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_part").toString
    try {
      val rnd = new java.util.SplittableRandom(9L)
      val rows = (0 until 20000).map { i =>
        (s"conv${i % 500}", i / 500, f"2026-01-${1 + i % 10}%02d", rnd.nextDouble() * 1e4)
      }
      rows.toDF("conv_id", "turn_idx", "day", "turn_len")
        .write.partitionBy("day").mode("overwrite").parquet(tmp)
      val df = spark.read.parquet(tmp)
        .filter(col("day") === "2026-01-03")
        .agg(hist_sketch(col("turn_len"), layout).as("sk"))
        .select(functions.hist_total(col("sk")).as("n"))
      val plan = df.queryExecution.executedPlan.toString
      val pf = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
      assert(pf.contains("day"), s"no partition filter on day:\n$plan")
      // pruning really happened: only 1 of 10 day-directories is read
      // (sparkPlan, not executedPlan: the AQE wrapper is a leaf node that
      // hides the scan from collectLeaves)
      val scan = df.queryExecution.sparkPlan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scan.nonEmpty, s"no file scan found:\n$plan")
      assert(
        scan.get.selectedPartitions.partitionCount == 1,
        s"expected 1 pruned partition, got ${scan.get.selectedPartitions.partitionCount}")
      assert(df.collect()(0).getLong(0) == rows.count(_._3 == "2026-01-03").toLong)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(tmp)).deleteRecursively()
    }
  }

  test("GraftExtensions installs the SQL surface via withExtensions") {
    val prior = spark // ensure shared context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // a NEW session on the shared context, with extensions applied
      val s2 = SparkSession
        .builder()
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      assert(s2 ne prior)
      s2.range(100).createOrReplaceTempView("ext_t")
      val r = s2
        .sql("SELECT hist_total(hist_sketch(CAST(id AS DOUBLE))) AS n FROM ext_t")
        .collect()(0)
      assert(r.getLong(0) == 100L)
    } finally {
      SparkSession.setDefaultSession(prior)
      SparkSession.setActiveSession(prior)
    }
  }
}
