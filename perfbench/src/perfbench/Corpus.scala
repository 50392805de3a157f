package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.ConnectedComponents

/** A seeded corpus in the engine's `documents` schema: Zipf-distributed
  * words over a synthetic vocabulary (the five stop words on top), and
  * `DupShare` of the documents planted as near-duplicates of an earlier
  * original with `EditShare` of their words replaced. */
object CorpusGen {

  final case class Sizes(docs: Int, vocab: Int = 20000)

  val DupShare = 0.2
  val EditShare = 0.05
  /** Share of the planted pairs found by q35 that q36's MinHash-LSH must
    * also find. Its hash family is fixed, so its answer is deterministic;
    * it finds about 0.9 of them (464 of 509 for seed 1). */
  val MinHashPlantedShare = 0.8

  final case class Doc(id: Long, text: String, lang: String)

  final case class Corpus(docs: IndexedSeq[Doc], planted: Seq[(Long, Long)]) {
    def digest: String = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
      docs.foreach(x => d.update(s"${x.id}\t${x.lang}\t${x.text}\n".getBytes(UTF_8)))
      planted.foreach { case (a, b) => d.update(s"$a<$b\n".getBytes(UTF_8)) }
      Workload.hex(d)
    }
  }

  val Stop = Seq("the", "a", "of", "and", "to")
  private val langs = Array("en", "en", "en", "en", "de", "de", "fr", "fr", "es", "zh", "ja")
  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "pa", "do", "fi", "gu", "he", "ja")

  def generate(seed: Long, sz: Sizes): Corpus = {
    val r = new java.util.Random(seed * 7919L + 17)
    val vocab: Array[String] = (Stop ++ (Stop.length until sz.vocab).map { i =>
      var n = i; val sb = new StringBuilder
      while ({ sb.append(syllables(n % syllables.length)); n /= syllables.length; n > 0 }) ()
      sb.toString
    }).toArray
    // Zipf(1.0) over vocabulary ranks, sampled by binary search on the CDF
    val cdf = vocab.indices.map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail.toArray
    val total = cdf.last
    def word(): String = {
      val u = r.nextDouble() * total
      val i = java.util.Arrays.binarySearch(cdf, u)
      vocab(math.min(vocab.length - 1, if (i >= 0) i else -i - 1))
    }
    val docs = mutable.ArrayBuffer.empty[Doc]
    val planted = mutable.ArrayBuffer.empty[(Long, Long)]
    val isDup = mutable.HashSet.empty[Long]
    for (i <- 0 until sz.docs) {
      if (i >= 10 && r.nextDouble() < DupShare) {
        // duplicates copy an original, so every cluster is a star
        var src = docs(r.nextInt(i))
        while (isDup(src.id)) src = docs(r.nextInt(i))
        val ws = src.text.split(" ").map(w => if (r.nextDouble() < EditShare) word() else w)
        docs += Doc(i.toLong, ws.mkString(" "), src.lang)
        planted += ((i.toLong, src.id))
        isDup += i.toLong
      } else {
        val n = 8 + r.nextInt(290)
        docs += Doc(i.toLong, Seq.fill(n)(word()).mkString(" "), langs(r.nextInt(langs.length)))
      }
    }
    Corpus(docs.toIndexedSeq, planted.toSeq)
  }

  val schema: StructType = StructType(
    Seq(StructField("doc_id", LongType, false), StructField("text", StringType), StructField("lang", StringType))
  )

  // -- plain-Scala ground truth -------------------------------------

  /** Distinct word 3-grams in first-occurrence order (`word_shingles`). */
  def shingles(text: String): Array[String] = {
    val ws = text.split(" ", -1)
    if (ws.length < 3) Array.empty
    else (0 to ws.length - 3).map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}").distinct.toArray
  }

  /** q69: documents surviving each cascaded filter stage. */
  def funnel(c: Corpus): Seq[(String, Long)] = {
    val stop = Stop.toSet
    val p1 = c.docs.filter { d => val n = d.text.split(" ", -1).length; n >= 20 && n <= 400 }
    val p2 = p1.filter(d => Set("en", "de", "fr", "es")(d.lang))
    val p3 = p2.filter { d =>
      val ws = d.text.split(" ", -1)
      ws.count(stop).toDouble / ws.length < 0.3
    }
    Seq("0_total" -> c.docs.length.toLong, "1_length" -> p1.length.toLong, "2_lang" -> p2.length.toLong,
      "3_stopword" -> p3.length.toLong)
  }

  /** q35: pairs whose Jaccard over rare shingles (document frequency
    * 2 to 50) is at least `minJaccard`. */
  def jaccardPairs(sets: IndexedSeq[Array[String]], minJaccard: Double): Map[(Long, Long), Double] = {
    val docsOf = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    for (d <- sets.indices; g <- sets(d)) docsOf.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += d
    val rare = docsOf.valuesIterator.filter(l => l.length >= 2 && l.length <= 50).toSeq
    val n = new Array[Long](sets.length)
    val shared = mutable.HashMap.empty[(Long, Long), Long]
    for (l <- rare) {
      l.foreach(d => n(d) += 1)
      for (i <- l.indices; j <- i + 1 until l.length) {
        val k = (l(i).toLong, l(j).toLong)
        shared(k) = shared.getOrElse(k, 0L) + 1
      }
    }
    shared.iterator.collect {
      case ((a, b), s) if s.toDouble / (n(a.toInt) + n(b.toInt) - s) >= minJaccard =>
        (a, b) -> s.toDouble / (n(a.toInt) + n(b.toInt) - s)
    }.toMap
  }

  /** Jaccard of two documents' full shingle sets (q36's verification). */
  def fullJaccard(a: Array[String], b: Array[String]): Double = {
    val inter = a.toSet.intersect(b.toSet).size
    inter.toDouble / (a.length + b.length - inter)
  }

  /** q130's quality score (`TextOps.qualityExpr`): length, stop-word
    * share and mean word length, each capped and weighted. */
  def quality(text: String): Double = {
    val ws = text.split(" ", -1)
    val n = ws.length
    val stop = ws.count(Stop.toSet)
    val avgLen = text.replace(" ", "").length.toDouble / n
    math.min(n.toDouble / 50.0, 1.0) * 0.3 + (1.0 - stop.toDouble / n) * 0.4 + math.min(avgLen / 8.0, 1.0) * 0.3
  }

  /** q130: the documents kept after clustering `pairs` — per component
    * the best-quality member (the lower doc_id on a tie), then every
    * document in no pair — as (doc_id, cluster_id, cluster_size,
    * quality), ordered by doc_id. */
  def keepSet(docs: IndexedSeq[Doc], pairs: Iterable[(Long, Long)]): Seq[(Long, Long, Long, Double)] = {
    val q = docs.map(d => d.id -> quality(d.text)).toMap
    val label = unionFind(pairs)
    val canon = label.groupBy(_._2).map { case (cluster, members) =>
      val best = members.keys.minBy(id => (-q(id), id))
      (best, cluster, members.size.toLong, q(best))
    }
    val singles = docs.collect { case d if !label.contains(d.id) => (d.id, d.id, 1L, q(d.id)) }
    (canon ++ singles).toSeq.sortBy(_._1)
  }

  /** Connected-component label (smallest member id) per node of a pair
    * graph, by union-find. */
  def unionFind(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  // -- checkers: each returns the list of problems found ---------------

  def checkPairs(expected: Map[(Long, Long), Double], got: Seq[(Long, Long, Double)]): Seq[String] = {
    val g = got.map { case (a, b, j) => (a, b) -> j }.toMap
    val missing = expected.keySet -- g.keySet
    val extra = g.keySet -- expected.keySet
    val off = g.collect { case (k, j) if expected.get(k).exists(e => math.abs(e - j) > 1e-12) => k }
    (if (got.length != g.size) Seq("q35: duplicate pairs") else Nil) ++
      (if (missing.nonEmpty) Seq(s"q35: ${missing.size} pairs missing, e.g. ${missing.head}") else Nil) ++
      (if (extra.nonEmpty) Seq(s"q35: ${extra.size} unexpected pairs, e.g. ${extra.head}") else Nil) ++
      (if (off.nonEmpty) Seq(s"q35: wrong jaccard for ${off.size} pairs, e.g. ${off.head}") else Nil)
  }

  def checkLabels(pairs: Seq[(Long, Long)], got: Seq[(Long, Long)]): Seq[String] = {
    val expected = unionFind(pairs)
    val g = got.toMap
    val wrong = expected.collect { case (id, l) if !g.get(id).contains(l) => id }
    (if (got.length != g.size) Seq("cc labels: duplicate ids") else Nil) ++
      (if (g.size != expected.size) Seq(s"cc labels: ${g.size} labelled ids, expected ${expected.size}") else Nil) ++
      (if (wrong.nonEmpty) Seq(s"cc labels: ${wrong.size} ids mislabelled, e.g. ${wrong.head}") else Nil)
  }

  /** q36: every pair carries its exact full-set Jaccard, and the pairs
    * include at least `MinHashPlantedShare` of `planted`, the planted
    * pairs that q35 finds. */
  def checkVerifiedPairs(
      sets: IndexedSeq[Array[String]],
      minJaccard: Double,
      planted: Set[(Long, Long)],
      got: Seq[(Long, Long, Double)]
  ): Seq[String] = {
    val bad = got.filter { case (a, b, j) =>
      a >= b || j < minJaccard || math.abs(fullJaccard(sets(a.toInt), sets(b.toInt)) - j) > 1e-12
    }
    val found = got.count(p => planted((p._1, p._2)))
    (if (bad.isEmpty) Nil else Seq(s"q36: ${bad.size} pairs fail exact verification, e.g. ${bad.head}")) ++
      (if (found >= MinHashPlantedShare * planted.size) Nil
       else Seq(s"q36: found $found of ${planted.size} planted pairs, expected at least $MinHashPlantedShare of them"))
  }

  /** q130 against [[keepSet]], row by row in doc_id order. */
  def checkKeepSet(expected: Seq[(Long, Long, Long, Double)], got: Seq[(Long, Long, Long, Double)]): Seq[String] = {
    val wrong = expected.zip(got).filterNot { case (e, g) =>
      e._1 == g._1 && e._2 == g._2 && e._3 == g._3 && math.abs(e._4 - g._4) <= 1e-12
    }
    (if (got.length == expected.length) Nil else Seq(s"q130: ${got.length} kept rows, expected ${expected.length}")) ++
      (if (wrong.isEmpty) Nil else Seq(s"q130: ${wrong.length} kept rows differ, e.g. got ${wrong.head._2}, expected ${wrong.head._1}"))
  }
}

/** corpus_dedup: one pass of the corpus-cleaning pipeline — the filter
  * funnel, MinHash-LSH pairs, exact n-gram Jaccard pairs, connected
  * components over those pairs, and the keep-set pipeline. */
final class CorpusWorkload(ctx: Ctx, sizes: CorpusGen.Sizes) extends Workload {
  import ctx._
  import CorpusGen._

  private val MinJaccard = 0.5
  private var corpus: Corpus = _
  private var sets: IndexedSeq[Array[String]] = _
  private var truthPairs: Map[(Long, Long), Double] = _
  private var truthFunnel: Seq[(String, Long)] = _
  /** Planted (source, duplicate) pairs that q35 finds. */
  private var plantedPairs: Set[(Long, Long)] = _
  private val recalls = mutable.ArrayBuffer.empty[Double]

  private def docsDir = path("inputs")
  private def pairsDir = path("out/q35_pairs")

  def prepare(): String = {
    corpus = generate(seed, sizes)
    val rows = corpus.docs.map(d => Row(d.id, d.text, d.lang))
    spark
      .createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .write
      .mode("overwrite")
      .parquet(s"$docsDir/documents.parquet")
    corpus.digest
  }

  def computeTruth(): Unit = {
    sets = corpus.docs.map(d => shingles(d.text))
    truthPairs = jaccardPairs(sets, MinJaccard)
    truthFunnel = funnel(corpus)
    plantedPairs = corpus.planted.map(_.swap).filter(truthPairs.contains).toSet
  }

  def warmUp(): Unit = iterate()

  def startMeasure(): Unit = recalls.clear()

  private def query(name: String) = SparkEntry.queries(name)(spark, docsDir)

  def iterate(): Unit = {
    val (result, _) = tracer.span("corpus.pass") {
      for {
        funnelRows <- op("queries.filter_funnel")(collect(query("q69_filter_funnel")))
        _ = sweep()
        minhash <- op("queries.minhash_pairs")(collect(query("q36_minhash_lsh")))
        _ = sweep()
        _ <- op("queries.jaccard_pairs")(query("q35_ngram_jaccard").write.mode("overwrite").parquet(pairsDir))
        _ = sweep()
        labels <- op("operators.cc_label") {
          collect(ConnectedComponents.label(spark.read.parquet(pairsDir), "d1", "d2"))
        }
        _ = sweep()
        keep <- op("queries.keep_set")(collect(query("q130_dedup_pipeline")))
      } yield {
        sweep()
        (funnelRows, minhash, labels, keep)
      }
    }
    result match {
      case Some((funnelRows, minhash, labels, keep)) =>
        val f = funnelRows.map(r => (r.getString(0), r.getLong(1))).toSeq
        check(f == truthFunnel, s"q69: funnel $f, expected $truthFunnel")
        val minhashPairs = minhash.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        checkAll(checkVerifiedPairs(sets, MinJaccard, plantedPairs, minhashPairs))
        val pairs = spark.read.parquet(pairsDir).collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
        checkAll(checkPairs(truthPairs, pairs))
        val lab = labels.map(r => (r.getLong(0), r.getLong(1))).toSeq
        checkAll(checkLabels(pairs.map(p => (p._1, p._2)), lab))
        val labelOf = lab.toMap
        recalls += corpus.planted.count { case (dup, src) =>
          labelOf.get(dup).exists(l => labelOf.get(src).contains(l))
        }.toDouble / corpus.planted.length
        checkAll(checkKeepSet(
          CorpusGen.keepSet(corpus.docs, minhashPairs.map(p => (p._1, p._2))),
          keep.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
        ))
      case None => recalls += 0.0
    }
  }

  private val passOps =
    Seq("queries.filter_funnel", "queries.minhash_pairs", "queries.jaccard_pairs", "operators.cc_label", "queries.keep_set")
  private def passMs = 1000 * passOps.map(median).sum
  private def docsPerS = corpus.docs.length / (passMs / 1000)

  def endToEnd(): Map[String, (Double, String)] = Map(
    "latency_p50_ms" -> (passMs, "ms"),
    "items_per_s" -> (docsPerS, "1/s"),
    "recall" -> (Workload.medianOf(recalls.toSeq), "ratio")
  )

  def detail(): Map[String, (Double, String)] = Map(
    "dedup_docs_per_s" -> (docsPerS, "1/s"),
    "dedup_recall" -> (Workload.medianOf(recalls.toSeq), "ratio"),
    "passes" -> (recalls.length.toDouble, "count")
  )

  def perLayer(): Map[String, (Double, String)] = {
    val passes = tracer.named("corpus.pass")
    Map(
      "queries.filter_funnel_s" -> (Workload.medianSeconds(tracer, "queries.filter_funnel"), "s"),
      "queries.minhash_pairs_s" -> (Workload.medianSeconds(tracer, "queries.minhash_pairs"), "s"),
      "queries.jaccard_pairs_s" -> (Workload.medianSeconds(tracer, "queries.jaccard_pairs"), "s"),
      "queries.keep_set_s" -> (Workload.medianSeconds(tracer, "queries.keep_set"), "s"),
      "operators.cc_label_s" -> (Workload.medianSeconds(tracer, "operators.cc_label"), "s"),
      "queries.shuffle_mb" -> (Workload.medianOf(passes.map(_.counters.shuffleMb)), "MB")
    )
  }
}
