package etlbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DecimalType
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = {
    Files.createDirectories(Paths.get(System.getProperty("java.io.tmpdir")))
    Session.create(cores = 1)
  }

  override def afterAll(): Unit = spark.stop()

  test("tail rule: highest percentile with at least 10 samples beyond it") {
    val xs = (1 to 40).map(_.toDouble)
    val t = Stats.tail(Random.shuffle(xs))
    assert(t == Stats.Tail(75.0, 30.0, 40))
    assert(xs.count(_ > t.value) == 10)
    assert(Stats.tail((1 to 100).map(_.toDouble)) == Stats.Tail(90.0, 90.0, 100))
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Stats.Tail(50.0, 10.0, 20))
    // fewer than 20 samples: any qualifying percentile is below the median
    assert(Stats.tail((1 to 19).map(_.toDouble)) == Stats.Tail(100.0, 19.0, 19))
    assert(Stats.tail(Seq(3.0)) == Stats.Tail(100.0, 3.0, 1))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("digest ignores row order but sees any single changed value") {
    import spark.implicits._
    val rows = Seq((1L, "a", 1.5, Seq(0.25)), (2L, "b", -0.0, Seq(1.0)), (3L, "c", 2.0, Seq()))
    val base = Digest.of(rows.toDF("k", "s", "d", "arr"))
    assert(base.rows == 3)
    assert(Digest.of(rows.reverse.toDF("k", "s", "d", "arr")) == base)
    assert(Digest.of(rows.toDF("k", "s", "d", "arr").repartition(3)) == base)
    // -0.0 and 0.0 are one value
    assert(Digest.of(rows.updated(1, (2L, "b", 0.0, Seq(1.0))).toDF("k", "s", "d", "arr")) == base)
    val changed = Seq(
      rows.updated(0, (9L, "a", 1.5, Seq(0.25))),
      rows.updated(0, (1L, "z", 1.5, Seq(0.25))),
      rows.updated(0, (1L, "a", 1.75, Seq(0.25))),
      rows.updated(0, (1L, "a", 1.5, Seq(0.5))),
      rows.take(2),
      rows :+ rows.head)
    changed.foreach(r => assert(Digest.of(r.toDF("k", "s", "d", "arr")) != base, r))
  }

  test("digest sees changes below float precision, not summation-order bits") {
    import spark.implicits._
    // a float step at 2.5e6 is 0.25: one cent, or 1e-4 in a decimal, must show
    def money(spend: Double, uah: BigDecimal) = Seq((1L, spend, uah), (2L, 1.0, BigDecimal(1)))
      .toDF("k", "spend", "uah")
      .withColumn("uah", col("uah").cast(DecimalType(28, 4)))
    val base = Digest.of(money(2500000.0, BigDecimal("62500000.1234")))
    assert(Digest.of(money(2500000.01, BigDecimal("62500000.1234"))) != base)
    assert(Digest.of(money(2500000.0, BigDecimal("62500000.1235"))) != base)
    assert(Digest.quantize(2500000.0) != Digest.quantize(2500000.0 + 1e-5))
    // one ulp from a different summation order
    assert(0.1 + 0.2 != 0.3)
    assert(Digest.quantize(0.1 + 0.2) == Digest.quantize(0.3))
    assert(Digest.quantize(-0.0) == Digest.quantize(0.0))
    assert(Digest.quantize(Double.NaN) == Digest.quantize(java.lang.Double.longBitsToDouble(0x7ff0000000000001L)))
  }

  test("the same seed gives the same op sequence") {
    def analyst(seed: Long) = {
      val rnd = new Random(seed)
      (1 to 3).flatMap(_ => AnalystSuite.round(null, rnd).map(_.id))
    }
    assert(analyst(7) == analyst(7))
    assert(analyst(7) != analyst(8))
    assert(analyst(7).toSet == AnalystSuite.Sample.map("query:" + _._1).toSet)
    assert(DailyJob.days(7) == DailyJob.days(7))
    assert((0 until 50).map(s => DailyJob.days(s.toLong).head).distinct.size > 1)
    val d = DailyJob.days(7)
    assert(d == (d.head until d.head + d.size))
  }

  test("span self time subtracts the union of child spans") {
    var now = 0L
    val spans = new Spans(() => now)
    spans("op") {
      now = 10
      spans("a") { now = 30 }        // child [10, 30)
      spans("b") {                    // child [30, 60)
        now = 40
        spans("c") { now = 50 }       // grandchild: counts against b only
        now = 60
      }
      now = 100
    }
    def span(n: String) = spans.spans.find(_.name == n).get
    assert(spans.selfTime(span("op")) == 100 - 20 - 30)
    assert(spans.selfTime(span("b")) == 30 - 10)
    assert(spans.totals("c") == (10L, 10L))
    assert(Spans.covered(Seq((0L, 10L), (5L, 15L), (20L, 25L))) == 20)
    assert(Spans.covered(Seq((5L, 5L))) == 0)
  }

  test("a corrupted expected digest fails the op and lowers ok_frac") {
    import spark.implicits._
    val ctx = new Ctx(spark, "unused", Paths.get(System.getProperty("java.io.tmpdir")))
    val op = Op("probe", "test")(_ => Seq((1L, "x"), (2L, "y")).toDF("k", "v"))
    val good = Digest.of(op.body(ctx))
    val corrupted = good.copy(digest = "0" + good.digest)
    val ok = Main.runOp(ctx, op, Map("probe" -> good), None)
    val bad = Main.runOp(ctx, op, Map("probe" -> corrupted), None)
    val missing = Main.runOp(ctx, op, Map.empty, None)
    assert(ok.ok && !bad.ok && !missing.ok)
    assert(Main.okFrac(Seq(ok, ok)) == 1.0)
    assert(Main.okFrac(Seq(ok, bad)) == 0.5)
  }
}
