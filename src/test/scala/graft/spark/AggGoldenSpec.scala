package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.sketches._
import graft.spark.functions._

/**
 * Stored golden blobs for every sketch aggregate name, through the Column
 * DSL and through SQL (`registerAll`): the output bytes of each name over a
 * fixed seeded input with nulls, an all-null group, an integer column fed to
 * the string-hashing `hll_sketch`/`cms_sketch`, and a `rollup` grouping set.
 *
 * The deterministic formats (histogram, HLL, count-min, Bloom) are checked at
 * 1 and 8 input partitions; t-digest and KLL merges depend on merge order, so
 * they are checked at 1 partition only.
 *
 * `src/test/resources/agg_golden_vectors.txt` holds one
 * `case<TAB>partitions<TAB>group<TAB>hex` line per result row. It is written
 * by `sbt "Test/runMain graft.spark.AggGolden <file>"`.
 */
object AggGolden {
  val ResourceName = "agg_golden_vectors.txt"
  private val layout = LogQuadraticLayout(1e-3, 1e-2, 0, 1e4)
  private val HllP = 6
  private val (cmsD, cmsW) = (2, 32)
  private val (bloomN, bloomFpp) = (200L, 0.05)
  private val tdCompression = 50.0
  private val kllK = 50
  private val deterministic = Seq(1, 8)
  private val orderSensitive = Seq(1)

  private val groups = Seq("g0", "g1", "g2", "g3", "g_null")

  /** g, v (double), w (long), s (string), i (int), id (long); every value
   * column is null on ~10% of rows and on every row of group g_null. */
  private def rawRows: Seq[Row] = {
    val rnd = new java.util.SplittableRandom(2024L)
    def orNull[A](a: => A): Any = if (rnd.nextInt(10) == 0) null else a
    (0 until 600).map { n =>
      val g = groups(n % groups.size)
      if (g == "g_null") Row(g, null, null, null, null, null)
      else Row(
        g,
        orNull(rnd.nextDouble() * 5000.0),
        orNull((rnd.nextInt(4) + 1).toLong),
        orNull(s"it_${rnd.nextInt(60)}"),
        orNull(rnd.nextInt(120)),
        orNull(n.toLong))
    }
  }

  private val rawSchema = StructType(Seq(
    StructField("g", StringType, nullable = false),
    StructField("v", DoubleType),
    StructField("w", LongType),
    StructField("s", StringType),
    StructField("i", IntegerType),
    StructField("id", LongType)))

  /** g plus one stored-blob column per family, built in-process: several
   * blobs per group, null and empty blobs mixed in, and a group g_null whose
   * blobs are all null or empty. */
  private def blobRows: Seq[Row] = {
    val rnd = new java.util.SplittableRandom(4048L)
    (0 until 60).map { n =>
      val g = groups(n % groups.size)
      def nullRow = Row.fromSeq(g +: Seq.fill(6)(null))
      def emptyRow = Row.fromSeq(g +: Seq.fill(6)(Array.emptyByteArray))
      if (g == "g_null") { if (n % 2 == 0) nullRow else emptyRow }
      else if (rnd.nextInt(8) == 0) nullRow
      else if (rnd.nextInt(8) == 0) emptyRow
      else {
        val h = Histogram(layout)
        val hll = Hll(HllP)
        val cms = CountMin(cmsD, cmsW)
        val bloom = BloomFilter(bloomN, bloomFpp)
        val td = TDigest(tdCompression)
        val kll = Kll(kllK)
        (0 until 1 + rnd.nextInt(40)).foreach { _ =>
          val v = rnd.nextDouble() * 5000.0
          val item = rnd.nextInt(300).toLong
          h.addValue(v); td.add(v); kll.add(v)
          hll.addLong(item); cms.addLong(item); bloom.addLong(item)
        }
        Row(g, SketchEnvelope.toBytes(h), hll.toBytes, cms.toBytes, bloom.toBytes,
          td.toBytes, kll.toBytes)
      }
    }
  }

  private val blobSchema = StructType(
    StructField("g", StringType, nullable = false) +:
      Seq("h", "u", "c", "b", "t", "k").map(StructField(_, BinaryType)))

  private def frame(spark: SparkSession, rows: Seq[Row], schema: StructType, parts: Int) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)

  private case class Case(
      name: String, parts: Seq[Int], blobs: Boolean, run: DataFrame => DataFrame)

  private def dsl(name: String, parts: Seq[Int], agg: Column, blobs: Boolean = false): Case =
    Case(name, parts, blobs, df =>
      df.rollup(col("g")).agg(agg.as("sk"))
        .select(coalesce(col("g"), lit("<all>")).as("g"), col("sk")))

  private def sql(name: String, parts: Seq[Int], call: String, blobs: Boolean = false): Case =
    Case(name, parts, blobs, df => {
      val view = s"agg_golden_${if (blobs) "blobs" else "raw"}"
      df.createOrReplaceTempView(view)
      df.sparkSession.sql(
        s"SELECT coalesce(g, '<all>') AS g, $call AS sk FROM $view GROUP BY ROLLUP(g)")
    })

  private def cases: Seq[Case] = Seq(
    dsl("dsl.hist_sketch", deterministic, hist_sketch(col("v"), layout)),
    dsl("dsl.hist_sketch.int", deterministic, hist_sketch(col("i"), layout)),
    dsl("dsl.hist_sketch_binary", deterministic, hist_sketch_binary(col("v"), layout)),
    dsl("dsl.hist_sketch_weighted", deterministic,
      hist_sketch_weighted(col("v"), col("w"), layout)),
    dsl("dsl.hll_sketch", deterministic, hll_sketch(col("s"), HllP)),
    dsl("dsl.hll_sketch.int", deterministic, hll_sketch(col("i"), HllP)),
    dsl("dsl.hll_sketch_long", deterministic, hll_sketch_long(col("id"), HllP)),
    dsl("dsl.hll_sketch_long.int", deterministic, hll_sketch_long(col("i"), HllP)),
    dsl("dsl.cms_sketch", deterministic, cms_sketch(col("s"), cmsD, cmsW)),
    dsl("dsl.cms_sketch.int", deterministic, cms_sketch(col("i"), cmsD, cmsW)),
    dsl("dsl.cms_sketch_weighted", deterministic,
      cms_sketch_weighted(col("s"), col("w"), cmsD, cmsW)),
    dsl("dsl.cms_sketch_weighted.int", deterministic,
      cms_sketch_weighted(col("i"), col("w"), cmsD, cmsW)),
    dsl("dsl.bloom_sketch", deterministic, bloom_sketch(col("id"), bloomN, bloomFpp)),
    dsl("dsl.bloom_sketch.int", deterministic, bloom_sketch(col("i"), bloomN, bloomFpp)),
    dsl("dsl.tdigest_sketch", orderSensitive, tdigest_sketch(col("v"), tdCompression)),
    dsl("dsl.kll_sketch", orderSensitive, kll_sketch(col("v"), kllK)),
    dsl("dsl.hist_merge", deterministic, hist_merge(col("h")), blobs = true),
    dsl("dsl.hll_merge", deterministic, hll_merge(col("u")), blobs = true),
    dsl("dsl.cms_merge", deterministic, cms_merge(col("c")), blobs = true),
    dsl("dsl.bloom_merge", deterministic, bloom_merge(col("b")), blobs = true),
    dsl("dsl.tdigest_merge", orderSensitive, tdigest_merge(col("t")), blobs = true),
    dsl("dsl.kll_merge", orderSensitive, kll_merge(col("k")), blobs = true),
    sql("sql.hist_sketch", deterministic, "hist_sketch(v)"),
    sql("sql.hist_sketch.int", deterministic, "hist_sketch(i)"),
    sql("sql.hist_sketch_weighted", deterministic, "hist_sketch_weighted(v, w)"),
    sql("sql.hll_sketch", deterministic, s"hll_sketch(s, $HllP)"),
    sql("sql.hll_sketch.int", deterministic, s"hll_sketch(i, $HllP)"),
    sql("sql.cms_sketch", deterministic, s"cms_sketch(s, $cmsD, $cmsW)"),
    sql("sql.cms_sketch.int", deterministic, s"cms_sketch(i, $cmsD, $cmsW)"),
    sql("sql.cms_sketch_weighted", deterministic, s"cms_sketch_weighted(s, w, $cmsD, $cmsW)"),
    sql("sql.bloom_sketch", deterministic, s"bloom_sketch(id, $bloomN, $bloomFpp)"),
    sql("sql.tdigest_sketch", orderSensitive, s"tdigest_sketch(v, $tdCompression)"),
    sql("sql.kll_sketch", orderSensitive, s"kll_sketch(v, $kllK)"),
    sql("sql.hist_merge", deterministic, "hist_merge(h)", blobs = true),
    sql("sql.hll_merge", deterministic, "hll_merge(u)", blobs = true),
    sql("sql.cms_merge", deterministic, "cms_merge(c)", blobs = true),
    sql("sql.bloom_merge", deterministic, "bloom_merge(b)", blobs = true),
    sql("sql.tdigest_merge", orderSensitive, "tdigest_merge(t)", blobs = true),
    sql("sql.kll_merge", orderSensitive, "kll_merge(k)", blobs = true))

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  /** (case, partitions, group) -> hex result of every case whose name
   * passes `select`, in a stable order. */
  def compute(
      spark: SparkSession,
      select: String => Boolean = _ => true): Seq[((String, Int, String), String)] = {
    functions.registerAll(spark)
    val raw = rawRows
    val blobs = blobRows
    for {
      c <- cases if select(c.name)
      p <- c.parts
      df = if (c.blobs) frame(spark, blobs, blobSchema, p) else frame(spark, raw, rawSchema, p)
      r <- c.run(df).collect().sortBy(_.getString(0))
    } yield (c.name, p, r.getString(0)) -> hex(r.getAs[Array[Byte]](1))
  }

  def load(): Map[(String, Int, String), String] = {
    val src = scala.io.Source.fromResource(ResourceName)
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(name, p, g, h) = line.split("\t", -1)
      (name, p.toInt, g) -> h
    }.toMap
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val out = new java.io.PrintWriter(args(0), "UTF-8")
    try compute(SparkTestSession.spark).foreach { case ((name, p, g), h) =>
      out.println(s"$name\t$p\t$g\t$h")
    }
    finally out.close()
  }

  /** Asserts that the selected cases reproduce their stored bytes. */
  def check(spark: SparkSession, select: String => Boolean = _ => true): Unit = {
    import org.scalatest.Assertions._
    val expected = load().filter { case ((name, _, _), _) => select(name) }
    val got = compute(spark, select)
    assert(got.nonEmpty && got.map(_._1).toSet == expected.keySet, "golden case set changed")
    val diffs = got.collect { case (k, h) if expected(k) != h => k }
    assert(diffs.isEmpty, s"${diffs.size} result(s) differ from golden bytes: ${diffs.take(10)}")
  }
}

class AggGoldenSpec extends AnyFunSuite {

  test("every DSL and SQL sketch aggregate name reproduces its stored golden bytes") {
    AggGolden.check(SparkTestSession.spark)
  }
}
