package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.array_distinct
import org.scalacheck.{Gen, rng}
import graft.operators.TextOps

/** Property invariants of the dedup family on generated corpora (fixed
  * seed): every emitted pair is a true pair (blocking never fabricates),
  * exact dedup partitions the corpus, identical docs are always found.
  */
class PipelinePropSpec extends SparkTestBase {
  import spark.implicits._

  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu")

  private val docGen: Gen[String] =
    Gen.chooseNum(3, 10).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)).map(_.mkString(" ")))

  private val corpusGen: Gen[Seq[(Long, String, String)]] = for {
    n <- Gen.chooseNum(4, 14)
    texts <- Gen.listOfN(n, docGen)
    langs <- Gen.listOfN(n, Gen.oneOf("en", "fr"))
  } yield texts.zip(langs).zipWithIndex.map { case ((t, l), i) => (i.toLong, l, t) }

  private def samples[T](g: Gen[T], n: Int, seed: Long): Seq[T] = {
    var s = rng.Seed(seed)
    (1 to n).map { _ => val v = g.pureApply(Gen.Parameters.default, s); s = s.next; v }
  }

  private def jaccard(a: String, b: String): Double = {
    val (sa, sb) = (a.toLowerCase.split(" ").toSet, b.toLowerCase.split(" ").toSet)
    val u = sa.union(sb).size
    if (u == 0) 0.0 else sa.intersect(sb).size.toDouble / u
  }

  test("near-dup variants emit only true pairs; exact dedup partitions; identical docs pair") {
    for ((corpus, i) <- samples(corpusGen, 8, 11L).zipWithIndex) {
      val docs = corpus.toDF("doc_id", "lang", "text")
      val byId = corpus.map(c => c._1 -> c).toMap

      for ((name, pairs) <- Seq(
        "anchor" -> TextOps.nearDupPairs(docs, 0.6),
        "minhash" -> TextOps.minHashLshPairs(docs, 0.6, bands = 3))) {
        for (r <- pairs.collect()) {
          val (a, b) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
          assert(a < b, s"case $i $name: ordered pair")
          assert(byId(a)._2 == byId(b)._2, s"case $i $name: same block")
          val j = jaccard(byId(a)._3, byId(b)._3)
          assert(math.abs(r.getAs[Double]("jaccard") - j) < 1e-12 && j >= 0.6,
            s"case $i $name: jaccard $j vs ${r.getAs[Double]("jaccard")}")
        }
      }

      // identical same-lang docs are always found by both methods
      val ident = for {
        (x, y) <- corpus.flatMap(a => corpus.map(b => (a, b)))
        if x._1 < y._1 && x._2 == y._2 && x._3.toLowerCase == y._3.toLowerCase
      } yield (x._1, y._1)
      if (ident.nonEmpty) {
        val mh = TextOps.minHashLshPairs(docs, 0.99, bands = 3)
          .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
        assert(ident.toSet.subsetOf(mh), s"case $i: identical docs missed by minhash")
      }

      // exact dedup: one representative per normalized text, all docs accounted
      val kept = TextOps.dedupExact(docs).collect()
      assert(kept.map(_.getAs[Long]("n_copies")).sum == corpus.size, s"case $i: partition")
      assert(kept.map(_.getAs[String]("text_hash")).distinct.length == kept.length)
    }
  }

  private def containment(a: String, b: String): Double = {
    val (sa, sb) = (a.toLowerCase.split(" ").toSet, b.toLowerCase.split(" ").toSet)
    val m = math.min(sa.size, sb.size)
    if (m == 0) 0.0 else sa.intersect(sb).size.toDouble / m
  }

  test("prefix-filter near-dup is LOSSLESS on random corpora (== brute force)") {
    // The oracle-facing claim: candidate generation misses nothing. Small
    // vocab + short docs maximizes collision-shaped edge cases (shared
    // rarest tokens, equal-frequency ties, duplicate docs). Both prefix
    // filters are checked: Jaccard (two-sided prefix) and containment
    // (smaller side's prefix against the larger side's full set).
    val ops = Seq[(String, (DataFrame, Double, Column => Column) => DataFrame,
        (String, String) => Double)](
      ("jaccard", (d, tau, tok) => TextOps.nearDupPairs(d, tau, tokenizer = tok), jaccard),
      ("containment", (d, tau, tok) => TextOps.containmentPairs(d, tau, tokenizer = tok),
        containment))
    // dedup_containment runs TRIGRAM shingles — the proofs are
    // tokenizer-agnostic, but pin one shingled round anyway (every
    // generated doc has >= 3 tokens, so >= 1 trigram)
    def tri(t: String): String =
      t.toLowerCase.split(" ").sliding(3).map(_.mkString("_")).mkString(" ")
    val rounds = Seq[(String, Column => Column, String => String,
        Seq[Seq[(Long, String, String)]], Seq[Double])](
      ("word", TextOps.tokenSet, identity, samples(corpusGen, 10, 23L), Seq(0.5, 0.9)),
      ("trigram", c => array_distinct(TextOps.trigrams(TextOps.tokens(c))), tri,
        samples(corpusGen, 4, 77L), Seq(0.5)))
    for ((name, op, measure) <- ops; (unit, tok, shingle, corpora, taus) <- rounds;
         (corpus, i) <- corpora.zipWithIndex; tau <- taus) {
      val docs = corpus.toDF("doc_id", "lang", "text")
      val brute = (for {
        a <- corpus; b <- corpus
        if a._1 < b._1 && a._2 == b._2 && measure(shingle(a._3), shingle(b._3)) >= tau
      } yield (a._1, b._1)).toSet
      val got = op(docs, tau, tok)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(got == brute,
        s"$name/$unit case $i tau=$tau: missing=${brute -- got} extra=${got -- brute}")
    }
  }

  /** Min-id component labels of (vertices ∪ endpoints) by union-find. */
  private def unionFindLabels(vertices: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    vertices.foreach(find)
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("connectedComponents == union-find on random graphs") {
    import graft.operators.GraphOps
    val rnd = new scala.util.Random(17L)
    // Ids are random longs, so labels are not the vertex order; some sit
    // near Long.MaxValue, so the label sum overflows a long.
    def ids(n: Int): Seq[Long] = Seq.fill(n)(
      if (rnd.nextInt(4) == 0) Long.MaxValue - rnd.nextInt(1000) else rnd.nextInt(1 << 20).toLong
    ).distinct
    def chain(vs: Seq[Long]) = vs.zip(vs.drop(1))
    def star(vs: Seq[Long]) = vs.drop(1).map(vs.head -> _)
    def clique(vs: Seq[Long]) = for (a <- vs; b <- vs if a < b) yield (a, b)
    for (graph <- 0 until 6) {
      val (vertices, edges) = graph match {
        case 0 => (ids(20), Nil)                                   // no edges at all
        case 1 => val c = ids(70); (c, chain(c))                   // a chain longer than 2^6
        case _ =>
          val Seq(c, s, k, iso) = Seq(40, 12, 6, 5).map(ids)
          val es = chain(c) ++ star(s) ++ clique(k)
          // duplicate and reversed edges, self-loops, and an edge whose
          // endpoint is not among the vertices
          val extra = es.take(5) ++ es.take(5).map(_.swap) ++ c.take(3).map(v => v -> v) :+
            (s.head -> (1L << 40))
          (c ++ s ++ k ++ iso, rnd.shuffle(es ++ extra))
      }
      val got = GraphOps.connectedComponents(vertices.toDF("id"), edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(got == unionFindLabels(vertices, edges), s"graph $graph")
    }
  }

  test("prefix-filter joins reject thresholds outside (0, 1]; MinHash rejects bands < 1") {
    // tau <= 0 would admit pairs sharing no token (J = 0 >= tau), which
    // prefix candidates can never produce — the exactness contract needs
    // 0 < tau. A band count below 1 has no bucket to join on.
    val docs = Seq((1L, "en", "alpha beta"), (2L, "en", "gamma delta"))
      .toDF("doc_id", "lang", "text")
    for (tau <- Seq(0.0, -0.5, 1.5)) {
      val e1 = intercept[IllegalArgumentException](TextOps.nearDupPairs(docs, tau))
      assert(e1.getMessage.contains("0 < tau <= 1"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](TextOps.containmentPairs(docs, tau))
      assert(e2.getMessage.contains("0 < tau <= 1"), e2.getMessage)
      val e3 = intercept[IllegalArgumentException](TextOps.minHashLshPairs(docs, tau))
      assert(e3.getMessage.contains("0 < tau <= 1"), e3.getMessage)
    }
    val e = intercept[IllegalArgumentException](TextOps.minHashLshPairs(docs, 0.5, bands = 0))
    assert(e.getMessage.contains("bands >= 1"), e.getMessage)
    // the boundary tau = 1 is valid: identical sets only
    val same = Seq((1L, "en", "alpha beta"), (2L, "en", "beta alpha"), (3L, "en", "alpha"))
      .toDF("doc_id", "lang", "text")
    assert(TextOps.nearDupPairs(same, 1.0).select("doc_a", "doc_b").as[(Long, Long)]
      .collect().toSeq == Seq((1L, 2L)))
  }

  test("norm-prefix cosine join is LOSSLESS on random corpora (== brute force)") {
    // Same claim as the near-dup pin, for the WEIGHTED prefix filter: the
    // tail-norm cut misses no qualifying pair at any τ, including ties on
    // token frequency and exact-boundary cosines (integer cross-multiply on
    // both sides, so the boundary is deterministic).
    def tfMap(t: String): Map[String, Long] =
      t.toLowerCase.split(" ").groupBy(identity).view.mapValues(_.length.toLong).toMap
    // every corpus carries planted copies of its first two docs
    for ((base, i) <- samples(corpusGen, 8, 57L).zipWithIndex;
         corpus = base ++ base.take(2).map { case (id, l, t) => (id + base.size, l, t) };
         (num, den) <- Seq((1, 2), (9, 10))) {
      val docs = corpus.toDF("doc_id", "lang", "text").select("doc_id", "text")
      val brute = (for {
        a <- corpus; b <- corpus if a._1 < b._1
        ta = tfMap(a._3); tb = tfMap(b._3)
        dot = ta.keysIterator.map(k => ta(k) * tb.getOrElse(k, 0L)).sum
        na2 = ta.valuesIterator.map(v => v * v).sum
        nb2 = tb.valuesIterator.map(v => v * v).sum
        if den.toLong * den * dot * dot >= num.toLong * num * na2 * nb2 && dot > 0
      } yield (a._1, b._1)).toSet
      val got = TextOps.cosinePairs(docs, num, den)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(got == brute,
        s"case $i tau=$num/$den: missing=${brute -- got} extra=${got -- brute}")
    }
    // the declared key runs TRIGRAM dims — the losslessness proof is
    // tokenizer-agnostic, but pin one shingled round anyway
    def triTf(t: String): Map[String, Long] = {
      val w = t.toLowerCase.split(" ")
      (if (w.length < 3) Array.empty[String]
       else w.sliding(3).map(_.mkString(" ")).toArray)
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
    }
    for ((corpus, i) <- samples(corpusGen, 4, 77L).zipWithIndex) {
      val docs = corpus.toDF("doc_id", "lang", "text").select("doc_id", "text")
      val brute = (for {
        a <- corpus; b <- corpus if a._1 < b._1
        ta = triTf(a._3); tb = triTf(b._3)
        dot = ta.keysIterator.map(k => ta(k) * tb.getOrElse(k, 0L)).sum
        na2 = ta.valuesIterator.map(v => v * v).sum
        nb2 = tb.valuesIterator.map(v => v * v).sum
        if 4L * dot * dot >= 1L * na2 * nb2 && dot > 0
      } yield (a._1, b._1)).toSet
      val got = TextOps.cosinePairs(docs, 1, 2,
          dims = c => TextOps.trigrams(TextOps.tokens(c)))
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(got == brute,
        s"trigram case $i: missing=${brute -- got} extra=${got -- brute}")
    }
  }

  test("cosine joins == all-pairs filter on random vectors (duplicates, exact-threshold ties)") {
    import org.apache.spark.sql.functions.{col, explode}
    import graft.operators.VectorOps
    // Components from {-1, 0, 1, 2} in 4 dims: duplicate vectors and pairs
    // whose cosine is exactly a threshold are common, and one duplicate of
    // vector 0 (same block, same cells) is planted. Zero vectors are drawn
    // too, and one is planted beside vector 0: a zero vector has no
    // cosine, so the brute force skips its pairs. The brute force repeats
    // the operators' IEEE sequence (sequential double dot of widened floats,
    // dot / (sqrt(‖a‖²) · sqrt(‖b‖²))), so a tie at tau compares equal.
    val vec: Gen[Seq[Float]] = Gen.listOfN(4, Gen.oneOf(-1f, 0f, 1f, 2f))
    val embGen = for {
      n <- Gen.chooseNum(4, 14)
      vs <- Gen.listOfN(n, vec)
      blocks <- Gen.listOfN(n, Gen.chooseNum(0, 1))
      cells <- Gen.listOfN(n, Gen.listOfN(2, Gen.chooseNum(0, 2)))
    } yield (vs.indices :+ n).map(i => (i.toLong, vs(i % n), blocks(i % n), cells(i % n))) :+
      (((n + 1).toLong, Seq(0f, 0f, 0f, 0f), blocks(0), cells(0)))
    def dot(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x.toDouble * y.toDouble }
    def cos(a: Seq[Float], b: Seq[Float]): Double =
      dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    def round5(x: Double): Double =
      BigDecimal(x).setScale(5, BigDecimal.RoundingMode.HALF_UP).toDouble
    for ((rows, i) <- samples(embGen, 8, 91L).zipWithIndex;
         tau <- Seq(0.5, 0.9, cos(rows(0)._2, rows(1)._2))) {
      val emb = rows.map(r => (r._1, r._2, r._3)).toDF("vec_id", "embedding", "label")
      val pairs = for {
        a <- rows; b <- rows
        if a._1 < b._1 && dot(a._2, a._2) > 0 && dot(b._2, b._2) > 0 &&
          cos(a._2, b._2) >= tau
      } yield (a, b)
      val blocked = pairs.collect { case (a, b) if a._3 == b._3 =>
        (a._1, b._1, a._3, round5(cos(a._2, b._2))) }.toSet
      val gotBlocked = VectorOps.cosineJoinThreshold(emb, tau)
        .select("vec_a", "vec_b", "label", "cos_sim").as[(Long, Long, Int, Double)]
        .collect().toSet
      assert(gotBlocked == blocked, s"case $i tau=$tau cosineJoinThreshold: " +
        s"missing=${blocked -- gotBlocked} extra=${gotBlocked -- blocked}")
      val assign = rows.map(r => (r._1, r._4)).toDF("vec_id", "cells")
        .select(col("vec_id"), explode(col("cells")).as("cell"))
      val celled = pairs.collect { case (a, b) if a._4.intersect(b._4).nonEmpty =>
        (a._1, b._1, round5(cos(a._2, b._2))) }.toSet
      val gotCelled = VectorOps.pairsByAssignment(emb, assign, tau)
        .select("vec_a", "vec_b", "cos_sim").as[(Long, Long, Double)].collect().toSet
      assert(gotCelled == celled, s"case $i tau=$tau pairsByAssignment: " +
        s"missing=${celled -- gotCelled} extra=${gotCelled -- celled}")
    }
  }

  test("banded simHash pair scan == all-pairs scan on random corpora") {
    for ((corpus, i) <- samples(corpusGen, 10, 31L).zipWithIndex) {
      val docs = corpus.toDF("doc_id", "lang", "text")
      val sh = TextOps.simHash(docs).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
      val lang = corpus.map(c => c._1 -> c._2).toMap
      val brute = (for {
        a <- sh.keys; b <- sh.keys
        if a < b && lang(a) == lang(b) &&
          java.lang.Long.bitCount(sh(a) ^ sh(b)) <= 4
      } yield (a, b)).toSet
      val got = TextOps.simHashPairs(docs, maxHamming = 4)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      assert(got == brute, s"case $i: missing=${brute -- got} extra=${got -- brute}")
    }
  }

  test("winnowing coverage: docs sharing a >= w+k-1 token run always share a fingerprint") {
    // Build pairs with a guaranteed shared run by splicing a common
    // 6-token phrase (k=3, w=4 -> threshold w+k-1 = 6) into random docs.
    val phrase = "omicron pi rho sigma tau upsilon"
    for ((corpus, i) <- samples(corpusGen, 6, 41L).zipWithIndex) {
      val spliced = corpus.zipWithIndex.map { case ((id, l, t), j) =>
        if (j % 2 == 0) (id, l, s"$t $phrase") else (id, l, t)
      }
      val withRun = spliced.collect { case (id, _, t) if t.contains(phrase) => id }
      val fps = TextOps.winnowFingerprints(
        spliced.map(c => (c._1, c._3)).toDF("doc_id", "text"), k = 3, w = 4)
        .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet)
      for (a <- withRun; b <- withRun if a < b)
        assert((fps(a) intersect fps(b)).nonEmpty,
          s"case $i: docs $a,$b share the phrase but no fingerprint")
    }
  }

  test("simHash is deterministic and identical docs have hamming 0") {
    val docs = Seq(
      (1L, "en", "alpha beta gamma"),
      (2L, "en", "alpha beta gamma"),
      (3L, "en", "kappa lambda mu")).toDF("doc_id", "lang", "text")
    val pairs = TextOps.simHashPairs(docs, maxHamming = 0).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("hamming")))
    assert(pairs.toSeq == Seq((1L, 2L, 0L)))
    val h1 = TextOps.simHash(docs).collect().map(r => r.getAs[Long]("simhash")).sorted
    val h2 = TextOps.simHash(docs).collect().map(r => r.getAs[Long]("simhash")).sorted
    assert(h1.sameElements(h2))
  }
}
