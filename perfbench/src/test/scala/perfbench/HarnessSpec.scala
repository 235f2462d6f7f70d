package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import perfbench.Stats.Span

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "3").getOrCreate()
  override def afterAll(): Unit = spark.stop()

  test("tail percentile is the highest with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(99).contains(50.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(999).contains(90.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
  }

  test("quantiles interpolate between order statistics") {
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    assert(Stats.median(xs) == 2.5)
    assert(Stats.quantile(xs, 0.0) == 1.0)
    assert(Stats.quantile(xs, 1.0) == 4.0)
    assert(math.abs(Stats.quantile(xs, 0.9) - 3.7) < 1e-12)
    assert(Stats.median(Seq(7.0)) == 7.0)
  }

  test("self time subtracts the union of child intervals, clipped to the parent") {
    val spans = Seq(
      Span(0, "op", None, 1, 0, 100),
      Span(1, "construct", Some(0), 1, 10, 40),
      Span(2, "plan", Some(0), 1, 30, 50),    // overlaps construct by 10
      Span(3, "execute", Some(0), 1, 90, 130), // sticks out of the parent by 30
      Span(4, "inner", Some(3), 1, 95, 105))
    val self = Stats.selfTimesNs(spans)
    assert(self(0) == 100 - 40 - 10)
    assert(self(1) == 30)
    assert(self(2) == 20)
    assert(self(3) == 40 - 10)
    assert(self(4) == 10)
    assert(Stats.selfMsByName(spans)("op") == 50 / 1e6)
  }

  test("fail ratio counts thrown and wrong operations once each") {
    def s(failed: Boolean, wrong: Boolean) = OpSample("q", 0, 1L, failed, wrong, traced = false)
    val samples = Seq(s(false, false), s(true, false), s(false, true), s(false, false))
    assert(Report.counts(samples) == ((4L, 2L)))
    assert(Stats.failRatio(4, 2) == 0.5)
    assert(Stats.failRatio(4, 0) == 0.0)
    assertThrows[IllegalArgumentException](Stats.failRatio(0, 0))
    assertThrows[IllegalArgumentException](Stats.failRatio(2, 3))
  }

  test("digest ignores row order and partitioning but not content") {
    import spark.implicits._
    val rows = (1 to 200).map(i => (i, s"n$i", i / 7.0, Seq(i * 0.1, i * 0.2), if (i % 5 == 0) null else "x"))
    val df = rows.toDF("id", "name", "ratio", "vec", "maybe")
    def digest(d: org.apache.spark.sql.DataFrame) = Digest.frame(d).collect().head.getString(0)
    val base = digest(df)
    assert(digest(df.orderBy($"id".desc)) == base)
    assert(digest(df.repartition(7, $"name")) == base)
    assert(digest(df.filter($"id" =!= 3)) != base)
    assert(digest(df.withColumnRenamed("name", "nombre")) != base)
    assert(digest(df.union(df.limit(1))) != base)
    // a null and the string "null" are different cells
    val a = Seq[(Int, String)]((1, null)).toDF("id", "s")
    val b = Seq[(Int, String)]((1, "null")).toDF("id", "s")
    assert(digest(a) != digest(b))
    // the last bits of a double do not reach the digest
    val c = Seq(0.1 + 0.2).toDF("x")
    val d = Seq(0.3).toDF("x")
    assert(digest(c) == digest(d))
    assert(Digest.countFrame(df).collect().head.getString(0) == "200")
  }
}
