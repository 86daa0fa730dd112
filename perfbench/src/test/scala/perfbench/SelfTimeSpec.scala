package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SelfTimeSpec extends AnyFunSuite {
  private def span(id: Int, parent: Int, start: Long, end: Long) =
    Span(id, parent, "op", s"s$id", start, end)

  test("union length merges overlapping and touching intervals") {
    assert(SelfTime.unionLength(Nil) == 0L)
    assert(SelfTime.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L))) == 25L)
    assert(SelfTime.unionLength(Seq((20L, 30L), (0L, 10L), (10L, 20L))) == 30L)
    assert(SelfTime.unionLength(Seq((5L, 5L), (7L, 3L))) == 0L)
  }

  test("self time is duration minus the children's cover, and sums to the root") {
    val spans = Seq(span(0, -1, 0, 100), span(1, 0, 10, 30), span(2, 0, 40, 90),
      span(3, 2, 50, 60))
    val self = SelfTime(spans)
    assert(self == Map(0 -> 30L, 1 -> 20L, 2 -> 40L, 3 -> 10L))
    assert(self.values.sum == 100L)
  }

  test("overlapping children are counted once against their parent") {
    val self = SelfTime(Seq(span(0, -1, 0, 100), span(1, 0, 10, 60), span(2, 0, 40, 80)))
    assert(self(0) == 30L)
  }

  test("a child running past its parent only covers the parent's part") {
    assert(SelfTime(Seq(span(0, -1, 0, 50), span(1, 0, 40, 70)))(0) == 40L)
  }

  test("the tracer nests spans under the op and records nothing when off") {
    val tr = new Tracer(true)
    tr.op("7") { tr.span("a")(tr.span("b")(())); tr.span("c")(()) }
    val byName = tr.spans.map(s => s.name -> s).toMap
    assert(byName.keySet == Set("op", "a", "b", "c"))
    assert(tr.spans.forall(_.op == "7"))
    assert(byName("op").parent == -1)
    assert(byName("a").parent == byName("op").id && byName("c").parent == byName("op").id)
    assert(byName("b").parent == byName("a").id)
    assert(SelfTime(tr.spans).values.sum == byName("op").dur)
    val off = new Tracer(false)
    assert(off.op("1")(off.span("a")(42)) == 42)
    assert(off.spans.isEmpty)
  }
}
