package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.NcIo

/** The benchmark's own logic: percentile rule, seeded generators and
  * closed-form expectations.
  */
class HarnessSpec extends AnyFunSuite {
  new java.io.File(System.getProperty("java.io.tmpdir")).mkdirs()

  test("a tail percentile is reported only with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50.0))
    assert(Stats.tailPercentile(99).contains(50.0))
    assert(Stats.tailPercentile(100).contains(90.0))
    assert(Stats.tailPercentile(999).contains(90.0))
    assert(Stats.tailPercentile(1000).contains(99.0))
    assert(Stats.tailPercentile(10000).contains(99.9))
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.median(xs) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.summary(xs) == Map("n" -> 100, "p50" -> 50.0, "tail_p" -> 90.0, "tail" -> 90.0))
    assert(Stats.summary(xs.take(30)) == Map("n" -> 30, "p50" -> 15.0))
  }

  test("the window rate credits an op cut by the deadline for its done share") {
    val ops = Seq((0L, 400L), (400L, 1000L), (800L, 1200L), (1000L, 1500L))
    assert(Stats.rate(ops, deadlineNs = 1000L, seconds = 2.0) == 1.25)
  }

  test("the same seed gives the same request stream, another seed another, with no repeats; warm-up requests are seed-independent") {
    val a = new RequestStream(7); val b = new RequestStream(7); val c = new RequestStream(8)
    val n = 20 * Decks.BlockSize
    assert((0L until n).map(a(_)) == (0L until n).map(b(_)))
    assert((0L until n).map(a(_)) != (0L until n).map(c(_)))
    val reqs = (0L until n).map(a(_))
    assert(reqs.map(_.route) == Seq.fill(20)(Decks.Routes).flatten)
    assert(Decks.Routes.count(_ == "fetch") == 6 && Decks.Routes.count(_ == "sql") == 2)
    assert(reqs.filter(_ != Boundary).distinct.size == reqs.count(_ != Boundary))
    val warm = (-n.toLong until 0L).map(a(_))
    assert(warm == (-n.toLong until 0L).map(c(_)))
    assert(warm.map(_.route) == Seq.fill(20)(Decks.Routes).flatten)
    assert(warm.filter(_ != Boundary).toSet.intersect(reqs.toSet).isEmpty)
    reqs.collect { case f: Fetch => f }.foreach { f =>
      assert(f.ring.head == f.ring.last && f.ring.size >= 5 && f.ring.size <= 9)
      assert(f.day1 - f.day0 >= 0 && f.day1 - f.day0 < 7 && f.day1 < Corpus.T)
    }
  }

  test("the query order is seeded, covers every query once per pass and keeps module shares") {
    val qs = QueryMix.Pins.keys.toSeq
    assert(qs.size >= 100)
    val o = QueryMix.order(qs, 5, 0)
    assert(o == QueryMix.order(qs, 5, 0))
    assert(o != QueryMix.order(qs, 6, 0) && o != QueryMix.order(qs, 5, 1))
    assert(o.sorted == qs.sorted)
    val share = qs.groupBy(QueryMix.moduleOf).map { case (m, xs) => m -> xs.size.toDouble / qs.size }
    val head = o.take(qs.size / 2)
    head.groupBy(QueryMix.moduleOf).foreach { case (m, xs) =>
      assert(math.abs(xs.size - share(m) * head.size) <= 2.0, m)
    }
  }

  test("the closed-form field equals the corpus read back through NcIo") {
    val dir = java.nio.file.Files.createTempDirectory("perfbench-corpus").toFile
    try {
      Corpus.write(dir, 11L)
      val f = Corpus.Field(11L)
      Corpus.Vars.zipWithIndex.foreach { case (name, v) =>
        val h = NcIo.open(new java.io.File(dir, s"$name.nc4").getPath)
        assert(h.readAll(h.variable("lat").get).toSeq == Corpus.lats.toSeq)
        assert(h.readAll(h.variable("lon").get).toSeq == Corpus.lons.toSeq)
        val rr = h.rowReader(h.variable(name).get)
        try for (t <- Seq(0, 17, Corpus.T - 1); y <- 0 until Corpus.Y) {
          val row = rr.readRow(t, y, 0, Corpus.X - 1)
          for (x <- 0 until Corpus.X) {
            val want = if (f.isFill(t, y, x, v)) Corpus.Fill else f.value(t, y, x, v)
            assert(row(x) == want, s"$name($t, $y, $x)")
          }
        } finally rr.close()
      }
      assert(Corpus.Field(11L).value(3, 4, 5, 0) != Corpus.Field(12L).value(3, 4, 5, 0))
    } finally Clock.deleteTree(dir)
  }

  test("the expected mask is the even-odd rule over cell centres") {
    val ring = Seq((-79.99, 40.01), (-79.86, 40.01), (-79.86, 40.14), (-79.99, 40.14), (-79.99, 40.01))
    val m = Expect.mask(ring)
    assert(m.cells.toSet == (for (y <- 1 to 2; x <- 1 to 2) yield (y, x)).toSet)
    assert(Expect.checkBoundary(s"[[40.0, -80.0], [${Corpus.lats.max}, ${Corpus.lons.max}]]"
      .getBytes("UTF-8")).isEmpty)
    assert(Expect.checkBoundary("[[40.0, -80.0], [45.0, -72.5]]".getBytes("UTF-8")).nonEmpty)
  }

}
