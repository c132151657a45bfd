package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.bv.{BvEncoder, BvGraph}

class BenchSpec extends AnyFunSuite {
  test("the graph generator is deterministic for a seed and valid") {
    val n = 5000
    val a = (0 until n).map(x => Gen.successors(7L, x, n).toSeq)
    val b = (0 until n).map(x => Gen.successors(7L, x, n).toSeq)
    assert(a == b)
    assert((0 until n).map(x => Gen.successors(8L, x, n).toSeq) != a)
    a.zipWithIndex.foreach { case (s, x) =>
      assert(s.length == Gen.degree(7L, x, n))
      assert(s.forall(v => v >= 0 && v < n))
      assert(s.zip(s.drop(1)).forall { case (u, v) => u < v })
    }
    val p = Gen.degreePrefix(7L, n)
    assert(p(n) == a.map(_.length.toLong).sum)
    assert(a.count(_.isEmpty) > 0 && a.map(_.length).max > 20) // dangling nodes and hubs
  }

  test("the checksum matches on a hand-built 5-node graph read back through the codec") {
    val adj = Array(Array(1, 2, 3), Array(0, 2, 3, 4), Array.emptyIntArray, Array(0, 1, 2, 4), Array(3))
    val want = Gen.Checksum.of(adj.iterator.zipWithIndex.map { case (s, i) => (i.toLong, s) })
    assert(want.rows == 5 && want.arcs == 12)
    val dir = java.nio.file.Files.createTempDirectory("perfbench_spec")
    try {
      val base = dir.resolve("g").toString
      BvEncoder().write(base, adj)
      val back = Gen.Checksum.of(BvGraph.load(base).iterator.map { case (i, s) => (i.toLong, s) })
      assert(back == want)
    } finally Workload.rmTree(dir)
    // independent of row order, sensitive to any arc
    val shuffled = Gen.Checksum.of(Seq(3, 0, 4, 2, 1).iterator.map(i => (i.toLong, adj(i))))
    assert(shuffled == want)
    val moved = adj.map(_.clone)
    moved(4) = Array(2)
    assert(Gen.Checksum.of(moved.iterator.zipWithIndex.map { case (s, i) => (i.toLong, s) }) != want)
  }

  test("the tail rule keeps at least 10 samples beyond the reported percentile") {
    for (n <- 1 to 300) {
      val xs = (1 to n).map(_.toDouble).reverse
      val (p, v) = Stats.tail(xs)
      if (n <= 10) assert(p == 0 && v == Stats.median(xs))
      else {
        val rank = math.ceil(p * n / 100.0).toInt
        assert(v == rank.toDouble)
        assert(xs.count(_ > v) >= 10, s"n=$n p=$p")
        if (p < 99) assert(n - math.ceil((p + 1) * n / 100.0).toInt < 10, s"n=$n p=$p")
      }
    }
    assert(Stats.tail((1 to 100).map(_.toDouble)) == (90 -> 90.0))
  }

  test("self time subtracts the union of a span's children") {
    val op = Span(1, 0, "op", "q", 0, 100)
    val jobs = Seq(Span(2, 1, "job", "a", 10, 30), Span(3, 1, "job", "b", 20, 50),
      Span(4, 1, "job", "c", 70, 80), Span(5, 1, "job", "d", 95, 120))
    val stages = Seq(Span(6, 2, "stage", "s", 12, 18), Span(7, 2, "stage", "t", 15, 28))
    val all = (op +: jobs) ++ stages
    // jobs cover [10,50) + [70,80) + [95,100) = 55 of the op's 100
    assert(Spans.selfNs(op, all) == 45)
    // job a's stages cover [12,28) = 16 of its 20
    assert(Spans.selfNs(jobs.head, all) == 4)
    assert(Spans.selfNs(jobs(2), all) == 10)
  }

  test("a wrong result and a throwing op count as failed") {
    var swept = 0
    val r = new Runner(() => swept += 1)
    val good = Op("good", _ => Done(3, () => Workload.check(3 == 3, "never")))
    val wrong = Op("wrong", _ => { val got = 41L; Done(got, () => Workload.check(got == 42L, s"$got != 42")) })
    val boom = Op("boom", _ => throw new IllegalStateException("no input"))
    val runs = Seq(good, wrong, boom).map(op => r.run(op, 0, None))
    assert(swept == 3 && r.attempted == 3 && r.failures.size == 2)
    assert(runs.map(_.error.isDefined) == Seq(false, true, true))
    assert(r.failures.exists(_.contains("41 != 42")) && r.failures.exists(_.contains("no input")))
  }

  test("canonical row hashes ignore row order and float noise but not values") {
    import org.apache.spark.sql.Row
    val a = Array(Row(1L, 0.1 + 0.2, "x"), Row(2L, 1.5, "y"))
    val b = Array(Row(2L, 1.5, "y"), Row(1L, 0.3, "x"))
    assert(Canon.hash(a) == Canon.hash(b))
    assert(Canon.hash(a) != Canon.hash(Array(Row(1L, 0.3, "x"), Row(2L, 1.6, "y"))))
  }
}
