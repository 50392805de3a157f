package perfbench

import java.nio.file.{Files, Paths}

/** The benchmark's own tests: seeded inputs are reproducible, every
  * ground-truth checker rejects a corrupted answer, and the percentile
  * helper refuses percentiles with fewer than ten samples beyond them.
  * No Spark session is needed.
  *
  * {{{ perfbench.SelfTest <work dir> }}}
  */
object SelfTest {

  private var failures = 0

  private def test(name: String)(ok: => Boolean): Unit = {
    val pass = try ok
    catch { case e: Exception => System.err.println(s"  $name threw $e"); false }
    println(s"${if (pass) "ok  " else "FAIL"} $name")
    if (!pass) failures += 1
  }

  def main(argv: Array[String]): Unit = {
    val work = Paths.get(argv.headOption.getOrElse("perfbench/work")).toAbsolutePath.resolve("selftest")
    Workload.deleteRecursively(work)

    // -- same seed, same bytes ---------------------------------------
    val fleetSizes = FleetGen.Sizes(projects = 2, models = 60)
    val (fleet, d1) = FleetGen.write(work.resolve("a"), 7, fleetSizes)
    val (_, d2) = FleetGen.write(work.resolve("b"), 7, fleetSizes)
    val (_, d3) = FleetGen.write(work.resolve("c"), 8, fleetSizes)
    val rel = "snap1/manifest/p001.json"
    test("fleet: same seed gives byte-identical files") {
      d1 == d2 && java.util.Arrays.equals(Files.readAllBytes(work.resolve("a").resolve(rel)),
        Files.readAllBytes(work.resolve("b").resolve(rel)))
    }
    test("fleet: another seed gives other files")(d1 != d3)
    val corpusSizes = CorpusGen.Sizes(docs = 400, vocab = 3000)
    val corpus = CorpusGen.generate(7, corpusSizes)
    test("corpus: same seed gives identical documents")(corpus.digest == CorpusGen.generate(7, corpusSizes).digest)
    test("corpus: another seed gives other documents")(corpus.digest != CorpusGen.generate(8, corpusSizes).digest)

    // -- fleet checkers ----------------------------------------------
    val impacted = fleet.impacted.toSeq.sorted
    test("fleet: truth plants changes with impact")(fleet.changed.nonEmpty && impacted.nonEmpty)
    test("fleet: exact impacted set passes")(FleetGen.checkImpacted(fleet, impacted).isEmpty)
    test("fleet: one dropped impacted row is rejected")(FleetGen.checkImpacted(fleet, impacted.tail).nonEmpty)
    test("fleet: a wrong hop count is rejected") {
      val (c, i, h) = impacted.head
      FleetGen.checkImpacted(fleet, (c, i, h + 1) +: impacted.tail).nonEmpty
    }
    test("fleet: a duplicated impacted row is rejected")(FleetGen.checkImpacted(fleet, impacted.head +: impacted).nonEmpty)
    val edges = fleet.edges.toSeq
    test("fleet: exact edges pass")(FleetGen.checkEdges(fleet, edges).isEmpty)
    test("fleet: one dropped edge is rejected")(FleetGen.checkEdges(fleet, edges.tail).nonEmpty)
    val diff = fleet.changed.toSeq.map(_ -> "changed")
    test("fleet: exact diff passes")(FleetGen.checkDiff(fleet, diff).isEmpty)
    test("fleet: a missed change is rejected")(FleetGen.checkDiff(fleet, diff.tail).nonEmpty)
    test("fleet: a spurious status is rejected")(FleetGen.checkDiff(fleet, diff :+ ("x" -> "added")).nonEmpty)
    test("fleet: a wrong entity count is rejected") {
      FleetGen.checkCount("m", fleet.entitiesPerSnapshot - 1L, fleet.entitiesPerSnapshot).nonEmpty
    }

    // -- corpus checkers ---------------------------------------------
    val sets = corpus.docs.map(d => CorpusGen.shingles(d.text))
    val pairs = CorpusGen.jaccardPairs(sets, 0.5)
    val pairRows = pairs.toSeq.map { case ((a, b), j) => (a, b, j) }.sortBy(p => (p._1, p._2))
    test("corpus: planted duplicates yield pairs")(pairRows.nonEmpty)
    test("corpus: exact q35 pairs pass")(CorpusGen.checkPairs(pairs, pairRows).isEmpty)
    test("corpus: one dropped q35 pair is rejected")(CorpusGen.checkPairs(pairs, pairRows.tail).nonEmpty)
    test("corpus: a wrong q35 jaccard is rejected") {
      val (a, b, j) = pairRows.head
      CorpusGen.checkPairs(pairs, (a, b, j * 0.9) +: pairRows.tail).nonEmpty
    }
    val edgeList = pairRows.map(p => (p._1, p._2))
    val labels = CorpusGen.unionFind(edgeList).toSeq
    test("corpus: union-find labels pass")(CorpusGen.checkLabels(edgeList, labels).isEmpty)
    test("corpus: one wrong cluster label is rejected") {
      val (id, l) = labels.head
      CorpusGen.checkLabels(edgeList, (id, l + 1) +: labels.tail).nonEmpty
    }
    test("corpus: one dropped label is rejected")(CorpusGen.checkLabels(edgeList, labels.tail).nonEmpty)
    test("corpus: labels are component minima") {
      CorpusGen.unionFind(Seq(5L -> 9L, 9L -> 2L, 7L -> 8L)) == Map(2L -> 2L, 5L -> 2L, 9L -> 2L, 7L -> 7L, 8L -> 7L)
    }
    val planted = corpus.planted.map(_.swap).filter(pairs.contains).toSet
    val verified = pairRows.map { case (a, b, _) => (a, b, CorpusGen.fullJaccard(sets(a.toInt), sets(b.toInt))) }
      .filter(_._3 >= 0.5)
    test("corpus: exactly verified minhash pairs pass") {
      planted.nonEmpty && CorpusGen.checkVerifiedPairs(sets, 0.5, planted, verified).isEmpty
    }
    test("corpus: a misreported minhash jaccard is rejected") {
      val (a, b, j) = verified.head
      CorpusGen.checkVerifiedPairs(sets, 0.5, planted, (a, b, j + 0.01) +: verified.tail).nonEmpty
    }
    test("corpus: an empty minhash result is rejected")(CorpusGen.checkVerifiedPairs(sets, 0.5, planted, Nil).nonEmpty)
    val keep = CorpusGen.keepSet(corpus.docs, edgeList)
    test("corpus: the exact keep set passes")(CorpusGen.checkKeepSet(keep, keep).isEmpty)
    test("corpus: an all-singleton keep set is rejected") {
      val singles = corpus.docs.map(d => (d.id, d.id, 1L, CorpusGen.quality(d.text)))
      CorpusGen.checkKeepSet(keep, singles).nonEmpty
    }
    test("corpus: one dropped kept document is rejected")(CorpusGen.checkKeepSet(keep, keep.tail).nonEmpty)
    test("corpus: a worse canonical pick is rejected") {
      val i = keep.indexWhere(_._3 > 1)
      val (id, cluster, n, q) = keep(i)
      val other = labels.collectFirst { case (m, l) if l == cluster && m != id => m }.get
      CorpusGen.checkKeepSet(keep, keep.updated(i, (other, cluster, n, q))).nonEmpty
    }
    test("corpus: a quality tie keeps the lower doc_id") {
      val docs = IndexedSeq(5L, 3L, 9L).map(id => CorpusGen.Doc(id, "same words in every copy", "en"))
      CorpusGen.keepSet(docs, Seq(5L -> 3L)).map(k => (k._1, k._2, k._3)) == Seq((3L, 3L, 2L), (9L, 9L, 1L))
    }
    test("corpus: the filter funnel is cascaded") {
      val f = CorpusGen.funnel(corpus).map(_._2)
      f.head == corpusSizes.docs && f.zip(f.tail).forall { case (a, b) => a >= b } && f.last > 0
    }

    // -- percentile helper -------------------------------------------
    val xs = (1 to 100).map(_.toDouble)
    test("stats: p90 of 100 samples is reported (ten beyond it)")(Stats.percentile(xs, 90).contains(90.0))
    test("stats: p90 of 99 samples is refused")(Stats.percentile(xs.tail, 90).isEmpty)
    test("stats: p99 needs 1000 samples") {
      Stats.percentile((1 to 999).map(_.toDouble), 99).isEmpty &&
        Stats.percentile((1 to 1000).map(_.toDouble), 99).contains(990.0)
    }
    test("stats: p50 needs 20 samples")(Stats.percentile(xs.take(19), 50).isEmpty && Stats.percentile(xs.take(20), 50).contains(10.0))
    test("stats: median of an even count averages the middle pair")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    Workload.deleteRecursively(work)
    println(if (failures == 0) "self-test passed" else s"self-test FAILED: $failures")
    System.exit(if (failures == 0) 0 else 1)
  }
}
