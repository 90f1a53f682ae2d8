package graft.sketches

import java.util.SplittableRandom

import org.scalatest.funsuite.AnyFunSuite

/**
 * Stored golden output of the KLL sketch over seeded streams: for every
 * k in {8, 50, 200}, four value shapes (Gaussian, integers with heavy
 * duplicates, a mix of -0.0 / 0.0 / tiny values, and a log spread over 26
 * decades of both signs) and stream lengths up to 200k. Each stream is cut at
 * random into 1-5 contiguous partials (some may be empty); every partial
 * goes through `toBytes`/`fromBytes`, and they merge along a random tree
 * whose every intermediate result goes through the bytes again.
 *
 * The stored result pins the compaction schedule, the coin sequence and the
 * byte layout (SHA-256 of `toBytes`), `quantile` at {0, 0.01, 0.5, 0.99, 1}
 * and `rank` at one value of the stream, doubles compared bit for bit.
 *
 * `src/test/resources/kll_golden_vectors.txt` holds one
 * `case<TAB>parts<TAB>sha256<TAB>quantiles<TAB>x:rank` line per case. It is
 * written by `sbt "Test/runMain graft.sketches.KllGolden <file>"`.
 */
object KllGolden {
  val ResourceName = "kll_golden_vectors.txt"
  private val ks = Seq(8, 50, 200)
  private val kinds = Seq("gauss", "dupint", "zeros", "logspread")
  private val lengths = Seq(1, 7, 1000, 20000, 200000)
  val Qs: Seq[Double] = Seq(0.0, 0.01, 0.5, 0.99, 1.0)

  /** One case's result: partial count, SHA-256 of the merged `toBytes`,
   * quantiles at `Qs`, and a probe value with its rank. */
  final case class Result(parts: Int, sha256: String, quantiles: Seq[Double], x: Double, rank: Long)

  // StrictMath keeps the streams identical on every platform
  private def value(kind: String, rnd: SplittableRandom): Double = kind match {
    case "gauss" => // Box-Muller
      val u = 1.0 - rnd.nextDouble()
      StrictMath.sqrt(-2.0 * StrictMath.log(u)) * StrictMath.cos(2 * StrictMath.PI * rnd.nextDouble())
    case "dupint" => rnd.nextInt(25).toDouble
    case "zeros" => rnd.nextInt(4) match {
      case 0 => -0.0
      case 1 => 0.0
      case 2 => -Double.MinPositiveValue * (1 + rnd.nextInt(3))
      case _ => rnd.nextDouble() * 1e-300
    }
    case "logspread" =>
      val m = StrictMath.exp(rnd.nextDouble() * 60.0 - 30.0)
      if (rnd.nextBoolean()) m else -m
  }

  private def roundTrip(s: Kll): Kll = Kll.fromBytes(s.toBytes)

  private def sha256(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b).map(x => f"${x & 0xff}%02x").mkString

  def caseNames: Seq[String] =
    for (k <- ks; kind <- kinds; n <- lengths) yield s"$kind.k$k.n$n"

  def compute(name: String): Result = {
    val Array(kind, kPart, nPart) = name.split('.')
    val k = kPart.drop(1).toInt
    val n = nPart.drop(1).toInt
    val rnd = new SplittableRandom(name.hashCode.toLong)
    val stream = Array.fill(n)(value(kind, rnd))
    val parts = 1 + rnd.nextInt(5)
    val cuts = (0 +: Array.fill(parts - 1)(rnd.nextInt(n + 1)).sorted.toSeq) :+ n
    var partials = cuts.sliding(2).map { case Seq(from, until) =>
      val s = Kll(k)
      var i = from
      while (i < until) { s.add(stream(i)); i += 1 }
      roundTrip(s)
    }.toVector
    while (partials.length > 1) {
      val i = rnd.nextInt(partials.length - 1)
      partials = partials.patch(i, Seq(roundTrip(partials(i).merge(partials(i + 1)))), 2)
    }
    val merged = partials.head
    val x = stream(rnd.nextInt(n))
    Result(parts, sha256(merged.toBytes), Qs.map(merged.quantile), x, merged.rank(x))
  }

  private def format(name: String, r: Result): String =
    Seq(name, r.parts.toString, r.sha256, r.quantiles.mkString(","), s"${r.x}:${r.rank}").mkString("\t")

  def load(): Seq[(String, Result)] = {
    val src = scala.io.Source.fromResource(ResourceName)
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(name, parts, sha, qs, xr) = line.split("\t", -1)
      val Array(x, rank) = xr.split(":")
      name -> Result(parts.toInt, sha, qs.split(",").map(_.toDouble).toSeq, x.toDouble, rank.toLong)
    }.toVector
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val out = new java.io.PrintWriter(args(0), "UTF-8")
    try caseNames.foreach(name => out.println(format(name, compute(name))))
    finally out.close()
  }
}

class KllGoldenSpec extends AnyFunSuite {
  import KllGolden._

  // bit-level equality: -0.0 and 0.0 are different answers here
  private def bits(xs: Seq[Double]): Seq[Long] = xs.map(java.lang.Double.doubleToLongBits)

  test("KLL merges over seeded streams reproduce their stored bytes, quantiles and ranks") {
    val expected = load()
    assert(expected.map(_._1) == caseNames, "golden case set changed")
    val diffs = expected.filter { case (name, want) =>
      val got = compute(name)
      got.parts != want.parts || got.sha256 != want.sha256 || got.rank != want.rank ||
      bits(got.quantiles :+ got.x) != bits(want.quantiles :+ want.x)
    }.map(_._1)
    assert(diffs.isEmpty, s"${diffs.size} case(s) differ from golden output: ${diffs.take(10)}")
  }
}
