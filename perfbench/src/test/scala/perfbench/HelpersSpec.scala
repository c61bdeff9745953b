package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HelpersSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("percentile interpolates between closest ranks") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.percentile(xs, 0) == 1.0)
    assert(Stats.percentile(xs, 100) == 4.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.percentile(xs, 25) == 1.75)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("geomean of per-query latencies") {
    assert(math.abs(Stats.geomean(Seq(1.0, 4.0)) - 2.0) < 1e-12)
    assert(math.abs(Stats.geomean(Seq(0.5, 0.5, 0.5)) - 0.5) < 1e-12)
    assertThrows[IllegalArgumentException](Stats.geomean(Seq(0.0, 1.0)))
  }

  test("a tail percentile is reportable only with ten samples beyond it") {
    assert(Stats.reportablePercentile(19).isEmpty)
    assert(Stats.reportablePercentile(20).contains(50.0))
    assert(Stats.reportablePercentile(39).contains(50.0))
    assert(Stats.reportablePercentile(40).contains(75.0))
    assert(Stats.reportablePercentile(199).contains(90.0))
    assert(Stats.reportablePercentile(200).contains(95.0))
    assert(Stats.reportablePercentile(238).contains(95.0))
    assert(Stats.reportablePercentile(1000).contains(99.0))
    assert(Stats.reportablePercentile(9999).contains(99.0))
    assert(Stats.reportablePercentile(10000).contains(99.9))
  }

  private def span(id: Int, parent: Int, layer: String, a: Double, b: Double) =
    Span(id, parent, layer, s"$layer $id", a, b)

  test("self time subtracts the union of the children, clipped to the parent") {
    val q = span(1, -1, "query", 0, 100)
    assert(Stats.selfTime(q, Nil) == 100)
    // children overlap each other (count once) and one runs past the parent
    val kids = Seq(span(2, 1, "job", 10, 30), span(3, 1, "job", 20, 40),
      span(4, 1, "job", 90, 120))
    assert(Stats.selfTime(q, kids) == 100 - 30 - 10)
    assert(Stats.selfIntervals(q, kids) == Seq((0.0, 10.0), (40.0, 90.0)))
  }

  test("self time per layer counts overlapping spans of one layer once") {
    val spans = Seq(
      span(1, -1, "exec", 0, 100),
      span(2, 1, "job", 10, 60),
      span(3, 2, "stage", 10, 40), span(4, 2, "stage", 20, 50),
      span(5, 1, "job", 55, 70))
    val self = Stats.selfTimeByLayer(spans)
    assert(self("exec") == 100 - 60)
    // job 2 has [50, 60] to itself, job 5 all of [55, 70]: union [50, 70]
    assert(self("job") == 20)
    assert(self("stage") == 40)
  }

  test("fingerprint ignores row order and sees every changed or repeated row") {
    val base = Fingerprint.combine("s", Iterator(1L, 2L, 3L))
    assert(Fingerprint.combine("s", Iterator(3L, 1L, 2L)) == base)
    assert(base.rows == 3)
    assert(Fingerprint.combine("s", Iterator(1L, 2L, 4L)) != base)
    assert(Fingerprint.combine("s", Iterator(1L, 2L, 3L, 3L)) != base)
    assert(Fingerprint.combine("t", Iterator(1L, 2L, 3L)) != base)
    // the sum wraps modulo 2^64 instead of overflowing
    val wrap = Fingerprint.combine("s", Iterator(Long.MaxValue, 1L))
    assert(wrap == Fingerprint.combine("s", Iterator(Long.MinValue, 0L)))
    assert(Fingerprint.combine("s", Iterator.empty).rows == 0)
  }

  test("the Spark fingerprint equals the reference over the same row hashes") {
    import spark.implicits._
    val df = Seq((1, "a", Map("k" -> 1.5)), (2, null, Map.empty[String, Double]),
      (2, null, Map.empty[String, Double]), (-7, "x y", Map("z" -> -0.25)))
      .toDF("n", "n", "m") // a repeated column name must not clash
    val hashes = Fingerprint.rowHashes(df).as[Long].collect()
    val fp = Fingerprint.of(df)
    assert(fp == Fingerprint.combine(df.schema.simpleString, hashes.iterator))
    assert(fp.rows == 4)
    assert(Fingerprint.of(df.orderBy($"m".cast("string").desc)) == fp)
    assert(Fingerprint.of(df.limit(3)) != fp)
    assert(Fingerprint.of(df.filter("false")) == Fingerprint(0, Fingerprint.digest(df.schema.simpleString, 0L)))
  }
}
