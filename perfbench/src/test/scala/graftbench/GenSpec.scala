package graftbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val scale = Gen.Scale(customers = 20, suppliers = 5, parts = 30, orders = 40,
    events = 30)

  test("the same seed generates the same tables, another seed different ones") {
    def rows(seed: Long) = Gen.tables(seed, scale).map { case (n, (_, rs)) =>
      n -> rs.map(_.toSeq)
    }
    assert(rows(1) == rows(1))
    assert(rows(1)("lineitem") != rows(2)("lineitem"))
    assert(rows(1)("events") != rows(2)("events"))
    assert(rows(1)("region") == rows(2)("region"))
  }

  test("tables carry the columns graft's loaders require") {
    Gen.tables(1, scale).foreach { case (name, (schema, rs)) =>
      assert(graft.Tables.expectedColumns(name).forall(schema.fieldNames.contains), name)
      assert(rs.forall(_.length == schema.length), name)
    }
  }

  test("the same seed issues requests in the same order, another seed in another") {
    val names = (1 to 20).map(i => s"q$i")
    assert(Gen.passOrder(5, 0, names) == Gen.passOrder(5, 0, names))
    assert(Gen.passOrder(5, 0, names) != Gen.passOrder(6, 0, names))
    assert(Gen.passOrder(5, 0, names) != Gen.passOrder(5, 1, names))
    assert(Gen.passOrder(5, 0, names).sorted == names.sorted)
  }

  test("change batches are seeded, keyed uniquely and plant the malformed lines") {
    val initial = Gen.initialExams(3, 1000)
    assert(initial == Gen.initialExams(3, 1000))
    assert(initial != Gen.initialExams(4, 1000))
    val live = initial.map(e => e.examId -> e).toMap
    def batch(seed: Long) = Gen.batch(seed, 1, live, initial.map(_.examId), 1000, 100, 5)
    val b = batch(3)
    assert(b == batch(3))
    assert(b != batch(4))
    assert(b.changes.map(_.examId).distinct.size == b.changes.size)
    assert(b.lines.size == b.changes.size + 5)
    assert(b.changes.exists(_.deleted))
    assert(b.changes.exists(_.examId >= 1000))
    b.changes.filter(_.examId < 1000).foreach(e => assert(e.version == live(e.examId).version + 1))
  }
}
