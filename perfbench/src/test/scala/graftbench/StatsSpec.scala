package graftbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graftbench.Stats.Fingerprint

class StatsSpec extends AnyFunSuite {
  test("a percentile is reported only with ten samples beyond it") {
    assert(Stats.beyond(20, 0.5) == 10)
    assert(Stats.supports(20, 0.5))
    assert(!Stats.supports(19, 0.5))
    assert(Stats.samplesFor(0.5) == 20)
    assert(Stats.samplesFor(0.9) == 100)
    assert(!Stats.supports(99, 0.9))
    assert(Stats.beyond(100, 0.9) == 10)
  }

  test("nearest-rank percentile and median") {
    val xs = (1 to 20).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 0.5) == 10.0)
    assert(Stats.percentile(xs, 0.9) == 18.0)
    assert(Stats.percentile(Seq(3.0), 0.5) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0)) == 3.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("job intervals from concurrent pool threads are counted once") {
    // three jobs of one request: two overlap (pool threads), one disjoint
    val jobs = Seq((100L, 300L), (150L, 250L), (280L, 400L), (500L, 520L))
    assert(Stats.unionLength(jobs) == 320)
    assert(Stats.unionLength(jobs.reverse) == 320)
    assert(Stats.unionLength(Nil) == 0)
    assert(Stats.unionLength(Seq((5L, 5L))) == 0)
    assert(Stats.unionLength(Seq((0L, 10L), (10L, 20L))) == 20)
  }

  test("job-covered time never exceeds the request's wall time") {
    val r = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val from = r.nextInt(1000).toLong
      val to = from + r.nextInt(1000)
      val jobs = Seq.fill(r.nextInt(6)) {
        val s = from - 200 + r.nextInt(1400); (s.toLong, s.toLong + r.nextInt(400))
      }
      val covered = Stats.coveredWithin(jobs, from, to)
      assert(covered >= 0 && covered <= to - from)
      assert(covered <= Stats.unionLength(jobs))
    }
  }

  test("a fingerprint does not depend on row order, but on every row") {
    val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType),
      StructField("v", ArrayType(DoubleType))))
    val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
    def rows(rs: Seq[Row]): Iterator[InternalRow] =
      rs.iterator.map(r => toInternal(r).asInstanceOf[InternalRow])
    val data = (0 until 50).map(i => Row(i.toLong, s"row$i", Seq(i * 0.5, -i.toDouble)))
    val fp = Fingerprint.of(schema, rows(data))
    assert(fp.rows == 50)
    assert(Fingerprint.of(schema, rows(data.reverse)) == fp)
    assert(Fingerprint.of(schema, rows(new scala.util.Random(1).shuffle(data))) == fp)
    val split = Fingerprint.of(schema, rows(data.take(20))) + Fingerprint.of(schema, rows(data.drop(20)))
    assert(split == fp)
    assert(Fingerprint.of(schema, rows(data.updated(3, Row(3L, "row3", Seq(1.5, -3.5))))) != fp)
    assert(Fingerprint.of(schema, rows(data :+ data.head)) != fp)
    assert(Fingerprint.parse(fp.render) == fp)
  }
}
