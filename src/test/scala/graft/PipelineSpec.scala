package graft

import org.apache.spark.sql.functions._
import graft.operators.{TextOps, VectorOps}

/** Unit semantics of the §2.C kernels on adversarial micro-inputs (the
  * sf0.01 corpus correctness is covered by the DuckDB oracle).
  */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  test("jaccard: identical=1, disjoint=0, empty-vs-empty=0") {
    val df = Seq(
      (Seq("a", "b"), Seq("a", "b")),
      (Seq("a"), Seq("b")),
      (Seq.empty[String], Seq.empty[String])).toDF("a", "b")
    val got = df.select(TextOps.jaccard(col("a"), col("b"))).as[Double].collect().toSeq
    assert(got == Seq(1.0, 0.0, 0.0))
  }

  test("dedupExact collapses case/whitespace variants, keeps min id, is idempotent") {
    val docs = Seq(
      (1L, "en", "s", "Hello World"),
      (2L, "en", "s", "  hello world "),
      (3L, "en", "s", "HELLO WORLD"),
      (4L, "en", "s", "different")).toDF("doc_id", "lang", "source", "text")
    val once = TextOps.dedupExact(docs)
    val kept = once.select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L))
    val copies = once.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_copies")).toMap
    assert(copies == Map(1L -> 3L, 4L -> 1L))
    val twice = TextOps.dedupExact(once.drop("text_hash", "n_copies"))
    assert(twice.select("doc_id").as[Long].collect().toSet == kept)
  }

  test("nearDupPairs finds near dups within a lang block, never across blocks") {
    val docs = Seq(
      (1L, "en", "alpha beta gamma delta epsilon"),
      (2L, "en", "alpha beta gamma delta zeta"),   // jaccard 4/6 = 0.667
      (3L, "fr", "alpha beta gamma delta epsilon"), // identical text, other lang
      (4L, "en", "totally unrelated words here")).toDF("doc_id", "lang", "text")
    val pairs = TextOps.nearDupPairs(docs, minJaccard = 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // 1-3 blocked by lang; 4 dissimilar
  }

  test("dedupLines keeps the first occurrence of a repeated span, rebuilds in order") {
    // chunk=2: doc 1 = [a b][c d][a b]; doc 2 = [c d][x y]. Repeated spans
    // "a b" (1@0, 1@2) and "c d" (1@1, 2@0) each keep only the smallest
    // (doc, pos); unique "x y" survives.
    val docs = Seq(
      (1L, "a b c d a b"),
      (2L, "c d x y"),
      (3L, "c d")).toDF("doc_id", "text")
    val got = TextOps.dedupLines(docs, chunkTokens = 2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
          r.getAs[String]("clean_text")))).toMap
    assert(got == Map(
      1L -> ((3L, 2L, "a b c d")),
      2L -> ((2L, 1L, "x y")),
      3L -> ((1L, 0L, ""))))
  }

  test("dedupLines: every span survives exactly once across the corpus (sf0.001)") {
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
    val out = TextOps.dedupLines(docs)
    // Conservation: kept spans == distinct spans in the corpus.
    val keptTotal = out.agg(sum("n_kept")).as[Long].collect().head
    val distinctSpans = docs
      .withColumn("toks", TextOps.tokens(col("text")))
      .selectExpr("explode(transform(sequence(0, (size(toks)+2) div 3 - 1), " +
        "i -> array_join(slice(toks, i*3+1, 3), ' '))) AS line")
      .distinct().count()
    assert(keptTotal == distinctSpans)
    // Each span survives at most once corpus-wide: rechunking the cleaned
    // texts (kept spans are whole chunks, so boundaries re-align) must
    // yield no repeated span.
    val spanDup = out.filter(col("clean_text") =!= "")
      .select(col("clean_text").as("text"))
      .withColumn("toks", TextOps.tokens(col("text")))
      .selectExpr("explode(transform(sequence(0, (size(toks)+2) div 3 - 1), " +
        "i -> array_join(slice(toks, i*3+1, 3), ' '))) AS line")
      .groupBy("line").count().filter(col("count") > 1).count()
    assert(spanDup == 0L)
  }

  test("nearDupPairs prefix filtering is lossless vs brute-force all-pairs (sf0.001)") {
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "lang", "text")
    val tau = 0.9
    val t = docs.select(col("doc_id"), col("lang"),
      TextOps.tokenSet(col("text")).as("s"))
    val a = t.select(col("doc_id").as("doc_a"), col("lang"), col("s").as("sa"))
    val b = t.select(col("doc_id").as("doc_b"), col("lang"), col("s").as("sb"))
    val brute = a.join(b, Seq("lang"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("jaccard", TextOps.jaccard(col("sa"), col("sb")))
      .filter(col("jaccard") >= tau)
      .select("doc_a", "doc_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val got = TextOps.nearDupPairs(docs, minJaccard = tau)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == brute, s"prefix filter lost/invented pairs: " +
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    assert(brute.nonEmpty, "degenerate corpus: brute force found no pairs")
  }

  test("simHashPairs banded scan is lossless vs brute-force all-pairs (sf0.001)") {
    val docs = Tables.table(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "lang", "text")
    val maxH = 4
    val sh = TextOps.simHash(docs)
    val a = sh.select(col("doc_id").as("doc_a"), col("lang"), col("simhash").as("ha"))
    val b = sh.select(col("doc_id").as("doc_b"), col("lang"), col("simhash").as("hb"))
    val brute = a.join(b, Seq("lang"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", expr("CAST(bit_count(ha ^ hb) AS BIGINT)"))
      .filter(col("hamming") <= maxH)
      .select("doc_a", "doc_b", "hamming")
      .as[(Long, Long, Long)].collect().toSet
    val got = TextOps.simHashPairs(docs, maxHamming = maxH)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute, s"banded scan lost/invented pairs: " +
      s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    assert(brute.nonEmpty, "degenerate corpus: brute force found no pairs")
  }

  test("pageRank: sinks get teleport floor, hubs accumulate, mass bounded") {
    import graft.operators.GraphOps
    // star: 1,2,3 all point at 4; 4 points at 1. 5 is isolated (no edges).
    val vertices = (1L to 5L).toDF("id")
    val edges = Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val pr = GraphOps.pageRank(vertices, edges, iters = 5).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("pagerank")).toMap
    val floor = 0.15 / 5
    // isolated node and the never-pointed-at spokes sit exactly at the floor
    assert(pr(5L) == floor && pr(2L) == floor && pr(3L) == floor)
    // the hub collects from 3 spokes + the cycle: strictly the largest
    assert(pr(4L) > pr(1L) && pr(1L) > pr(2L))
    // dropped dangling mass (node 5 has no out-edges) keeps total < 1
    val total = pr.values.sum
    assert(total > 0.5 && total <= 1.0 + 1e-9, s"total=$total")
    // deterministic across runs
    val again = GraphOps.pageRank(vertices, edges, iters = 5).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("pagerank")).toMap
    assert(pr == again)
  }

  test("connectedComponents: chain needs multiple rounds, isolates self-label") {
    import graft.operators.GraphOps
    // chain 10-11-...-19 (diameter 9), a triangle, and isolated vertices
    val vertices = spark.range(30).select(col("id"))
    val chain = (10L until 19L).map(i => (i, i + 1))
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val edges = (chain ++ tri).toDF("src", "dst")
    var labels: org.apache.spark.sql.DataFrame = null
    val (jobs, _) = fired { labels = GraphOps.connectedComponents(vertices, edges) }
    // rounds 1-2 in the first job, then one job per round: round 3 settles
    // the chain's tail, round 4 finds no change
    assert(jobs == 3, s"connectedComponents fired $jobs jobs")
    val cc = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((10L to 19L).forall(cc(_) == 10L), "chain must collapse to min id 10")
    assert(Seq(1L, 2L, 3L).forall(cc(_) == 1L))
    assert(cc(0L) == 0L && cc(25L) == 25L, "isolated vertices keep their own label")
    assert(cc.size == 30)
  }

  test("connectedComponents: empty vertices returns an empty frame, no NPE") {
    import graft.operators.GraphOps
    val noVerts = spark.range(0).select(col("id"))
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(GraphOps.connectedComponents(noVerts, noEdges).count() == 0L)
    // edgeless-but-populated graph: every vertex keeps its own label
    val verts = spark.range(5).select(col("id"))
    val cc = GraphOps.connectedComponents(verts, noEdges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == (0L until 5L).map(i => i -> i).toMap)
  }

  test("saltedJoin equals the plain join on a skewed key and spreads the hot key") {
    import graft.operators.SkewOps
    // 10k rows of one hot key + a uniform tail, joined to a 100-row dim.
    val big = spark.range(10000).select(lit(7L).as("k"), col("id").as("v"))
      .unionByName(spark.range(1000).select((col("id") % 100).as("k"), col("id").as("v")))
    val small = spark.range(100).select(col("id").as("k"), concat(lit("d"), col("id")).as("d"))
    val salted = SkewOps.saltedJoin(big, small, Seq("k"), salt = 8)
    val plain = big.join(small, Seq("k"))
    assert(salted.count() == plain.count())
    assert(rowsOf(salted.select("k", "v", "d")) == rowsOf(plain.select("k", "v", "d")))
    // the hot key's rows really do carry >1 distinct salt value
    val saltsOfHot = big.filter(col("k") === 7L)
      .withColumn("s", pmod(xxhash64(big.columns.map(col): _*), lit(8)))
      .select("s").distinct().count()
    assert(saltsOfHot > 1, s"hot key stayed on $saltsOfHot salt(s)")
  }

  test("winnowing: shared run of >= w+k-1 tokens yields a shared fingerprint") {
    // k=3, w=4: guarantee threshold = 6 shared consecutive tokens.
    val docs = Seq(
      (1L, "aa bb cc dd ee ff gg hh"),
      (2L, "xx yy aa bb cc dd ee ff zz"), // contains the 6-token run aa..ff
      (3L, "uu vv ww qq rr ss tt")).toDF("doc_id", "text")
    val fp = TextOps.winnowFingerprints(docs, k = 3, w = 4)
    val byDoc = fp.collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet)
    assert((byDoc(1L) intersect byDoc(2L)).nonEmpty, "guaranteed shared fingerprint missing")
    assert((byDoc(1L) intersect byDoc(3L)).isEmpty, "disjoint docs share a fingerprint")
    // short doc (< w shingles): one whole-doc window, exactly one fingerprint
    val short = TextOps.winnowFingerprints(
      Seq((9L, "a b c d")).toDF("doc_id", "text"), k = 3, w = 4)
    assert(short.count() == 1)
    // sub-k doc: no shingles, no fingerprints
    assert(TextOps.winnowFingerprints(
      Seq((9L, "a b")).toDF("doc_id", "text"), k = 3, w = 4).count() == 0)
  }

  test("kmeansCodebook: deterministic, multi-cell, exactly nprobe assignments per vector") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val n = emb.count()
    val k = math.min(24, math.ceil(math.sqrt(n.toDouble)).toInt)
    val cent = VectorOps.kmeansCodebook(emb, k, iters = 2)
    // codebook: at most k cells, each with the full dim positions
    val cells = cent.select("cell").distinct().count()
    assert(cells > 1 && cells <= k, s"degenerate codebook: $cells cells")
    assert(cent.groupBy("cell").count().filter(col("count") =!= 64).count() == 0)
    val assign = VectorOps.assignCells(emb, cent, nprobe = 4)
    val perVec = assign.groupBy("vec_id").count()
    assert(perVec.filter(col("count") =!= 4).count() == 0)
    // vectors spread over many cells (no all-in-one-cell collapse)
    assert(assign.select("cell").distinct().count() > 1)
    // deterministic: a second build is row-identical (no RNG anywhere)
    val cent2 = VectorOps.kmeansCodebook(emb, k, iters = 2)
    assert(cent.exceptAll(cent2).count() == 0 && cent2.exceptAll(cent).count() == 0)
  }

  test("pqCodebook: per-subspace cells, one code per (vec, sub), deterministic") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val m = 4
    val cent = VectorOps.pqCodebook(emb, m, kCap = 16, iters = 1)
    // each subspace has its own codebook over dim/m positions
    val subs = cent.select("sub").distinct().count()
    assert(subs == m, s"expected $m subspaces, got $subs")
    assert(cent.groupBy("sub", "cell").count().filter(col("count") =!= 16).count() == 0,
      "every (sub, cell) centroid must span the full subdim=16 positions")
    // codes: exactly one cell per (vector, subspace)
    val codes = VectorOps.pqCodes(emb, cent)
    val n = emb.count()
    assert(codes.count() == n * m)
    assert(codes.groupBy("vec_id", "sub").count().filter(col("count") =!= 1).count() == 0)
    // spread: no subspace collapses to a single cell
    assert(codes.groupBy("sub").agg(countDistinct("cell").as("c"))
      .filter(col("c") <= 1).count() == 0)
    // deterministic: a second build is row-identical (no RNG anywhere)
    val cent2 = VectorOps.pqCodebook(emb, m, kCap = 16, iters = 1)
    assert(cent.exceptAll(cent2).count() == 0 && cent2.exceptAll(cent).count() == 0)
    // ADC lookup table covers every (sub, cell) of the codebook
    val qd = VectorOps.pqProbeDots(emb, cent, probeId = 0L)
    assert(qd.count() == cent.select("sub", "cell").distinct().count())
  }

  test("cosine: self=1, orthogonal=0") {
    val df = Seq(
      (Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f)),
      (Seq(1.0f, 0.0f, 0.0f), Seq(0.0f, 1.0f, 0.0f))).toDF("a", "b")
    val got = df.select(
      VectorOps.cosine(VectorOps.toDouble(col("a")), VectorOps.toDouble(col("b"))))
      .as[Double].collect()
    assert(math.abs(got(0) - 1.0) < 1e-12 && got(1) == 0.0)
  }

  test("topKByCosine ranks by similarity, excludes the probe") {
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(2.0f, 0.0f)),   // cos 1.0
      (2L, Seq(1.0f, 1.0f)),   // cos ~0.707
      (3L, Seq(0.0f, 1.0f)),   // cos 0.0
      (4L, Seq(-1.0f, 0.0f))). // cos -1.0
      toDF("vec_id", "embedding")
    val got = VectorOps.topKByCosine(emb, probeId = 0L, k = 3)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("knnGraph: k in-block neighbors per source, never self, ranks contiguous") {
    val emb = Seq(
      (1L, Seq(1f, 0f), 0), (2L, Seq(1f, 0.1f), 0), (3L, Seq(0f, 1f), 0),
      (4L, Seq(1f, 0f), 1)).toDF("vec_id", "embedding", "label")
    val g = VectorOps.knnGraph(emb, k = 2).collect()
    // block 1 has a single vector: no neighbors, no self-edge.
    assert(!g.exists(r => r.getAs[Long]("src") == 4L || r.getAs[Long]("dst") == 4L))
    assert(g.forall(r => r.getAs[Long]("src") != r.getAs[Long]("dst")))
    // block 0: each of the 3 sources gets exactly 2 neighbors, ranks 1..2.
    val byCount = g.groupBy(_.getAs[Long]("src"))
      .view.mapValues(_.map(_.getAs[Long]("rank")).sorted.toSeq)
    assert(byCount.toMap == Map(1L -> Seq(1L, 2L), 2L -> Seq(1L, 2L), 3L -> Seq(1L, 2L)))
    // nearest of 1 is 2 (cos .995), not the orthogonal 3.
    val n1 = g.find(r => r.getAs[Long]("src") == 1L && r.getAs[Long]("rank") == 1L).get
    assert(n1.getAs[Long]("dst") == 2L)
  }

  test("cosineJoinThreshold respects block boundaries and tau") {
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(1.0f, 0.1f), 0),  // high cos with 1, same block
      (3L, Seq(1.0f, 0.0f), 1),  // identical to 1 but other block
      (4L, Seq(0.0f, 1.0f), 0)). // orthogonal
      toDF("vec_id", "embedding", "label")
    val got = VectorOps.cosineJoinThreshold(emb, tau = 0.9)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("cosine joins skip a zero vector's pairs instead of dividing by its zero norm") {
    // (0,0) shares the block and the cell with two (1,0)s: its cosine is
    // undefined, so only the (1,0)-(1,0) pair may pass tau
    val emb = Seq((1L, Seq(0.0f, 0.0f), 0), (2L, Seq(1.0f, 0.0f), 0),
      (3L, Seq(1.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val blocked = VectorOps.cosineJoinThreshold(emb, tau = 0.5)
      .select("vec_a", "vec_b", "cos_sim").as[(Long, Long, Double)].collect().toSeq
    assert(blocked == Seq((2L, 3L, 1.0)))
    val assign = Seq(1L, 2L, 3L).map(_ -> 0).toDF("vec_id", "cell")
    val celled = VectorOps.pairsByAssignment(emb, assign, tau = 0.5)
      .select("vec_a", "vec_b", "cos_sim").as[(Long, Long, Double)].collect().toSeq
    assert(celled == Seq((2L, 3L, 1.0)))
  }

  test("centroidHygiene: single-member label has dist 0; dim and norm correct") {
    val emb = Seq(
      (1L, Seq(3.0f, 4.0f), 7),
      (2L, Seq(1.0f, 1.0f), 8),
      (3L, Seq(3.0f, 1.0f), 8)).toDF("vec_id", "embedding", "label")
    val got = VectorOps.centroidHygiene(emb).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Long]("dim"), r.getAs[Double]("norm"), r.getAs[Double]("dist_centroid")))).toMap
    assert(got(1L) == ((2L, 5.0, 0.0)))
    // label 8 centroid = (2, 1): dists = 1.0 and 1.0
    assert(got(2L)._3 == 1.0 && got(3L)._3 == 1.0)
  }

  test("bigrams HOF: n-1 adjacent pairs, none for single-token docs") {
    val df = Seq((Seq("a", "b", "c"), 1), (Seq("solo"), 2)).toDF("t", "id")
    val got = df.select(TextOps.bigrams(col("t"))).as[Seq[String]].collect()
    assert(got(0) == Seq("a b", "b c") && got(1).isEmpty)
  }

  test("trigrams HOF: n-2 adjacent shingles, none below 3 tokens") {
    val df = Seq((Seq("a", "b", "c", "d"), 1), (Seq("a", "b"), 2)).toDF("t", "id")
    val got = df.select(TextOps.trigrams(col("t"))).as[Seq[String]].collect()
    assert(got(0) == Seq("a b c", "b c d") && got(1).isEmpty)
  }

  test("curation: quality_filter verdicts are exhaustive and reasons match keep") {
    val qf = graft.queries.CurationQueries.all.find(_.name == "quality_filter").get
      .fn(spark, "/root/testdata/sf0.001")
    val bad = qf.filter(
      (col("keep") === 1 && col("reason") =!= "ok") ||
      (col("keep") === 0 && col("reason") === "ok") ||
      !col("reason").isin("ok", "too_short", "low_diversity")).count()
    assert(bad == 0)
    // both verdicts occur on the fixture (gate is not degenerate)
    assert(qf.filter(col("keep") === 1).count() > 0)
    assert(qf.filter(col("keep") === 0).count() > 0)
  }

  test("curation: sample_stratified is deterministic and exactly k per language") {
    val q = graft.queries.CurationQueries.all.find(_.name == "sample_stratified").get
    val a = q.fn(spark, "/root/testdata/sf0.001")
    val perLang = a.groupBy("lang").count().collect()
    assert(perLang.nonEmpty && perLang.forall(_.getAs[Long]("count") == 20L))
    val b = q.fn(spark, "/root/testdata/sf0.001")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("curation: decontaminate never flags eval docs and respects the overlap floor") {
    val df = graft.queries.CurationQueries.all.find(_.name == "decontaminate").get
      .fn(spark, "/root/testdata/sf0.001")
    assert(df.filter(col("doc_id") < 5).count() == 0, "eval docs flagged as corpus docs")
    assert(df.filter(col("eval_id") >= 5).count() == 0, "non-eval doc on the eval side")
    assert(df.filter(col("n_shared") < 2).count() == 0, "overlap floor violated")
  }

  test("curation: decontaminate_semantic respects sides and the cosine floor") {
    val df = graft.queries.CurationQueries.all.find(_.name == "decontaminate_semantic").get
      .fn(spark, "/root/testdata/sf0.001")
    assert(df.filter(col("vec_id") < 8).count() == 0, "eval vector flagged as corpus")
    assert(df.filter(col("eval_id") >= 8).count() == 0, "corpus vector on the eval side")
    assert(df.filter(col("cos_sim") < 0.35).count() == 0, "cosine floor violated")
  }

  test("lshSignatures: tables-per-vector, sig range, partitioning-invariant, dup collides") {
    val emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")
    val (tables, bits) = (4, 6)
    val sigs = VectorOps.lshSignatures(emb, tables, bits)
    val perVec = sigs.groupBy("vec_id").count()
    assert(perVec.filter(col("count") =!= tables).count() == 0)
    assert(sigs.filter(col("sig") < 0 || col("sig") >= (1L << bits)).count() == 0)
    // signatures use hash-derived planes + exact decimal sums — identical
    // under any physical partitioning of the input
    val sigs2 = VectorOps.lshSignatures(emb.repartition(7), tables, bits)
    assert(sigs.exceptAll(sigs2).count() == 0 && sigs2.exceptAll(sigs).count() == 0)
    // an exact duplicate vector collides with its original in EVERY table
    val dup = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"), col("label"))
    val both = VectorOps.lshSignatures(emb.filter(col("vec_id") === 0).union(dup), tables, bits)
    val agree = both.groupBy("t", "sig").count().filter(col("count") === 2).count()
    assert(agree == tables, s"duplicate collided in $agree/$tables tables")
  }

  test("curation: pack_sequences replays the per-shard running sum; offsets bounded") {
    val df = graft.queries.CurationQueries.all.find(_.name == "pack_sequences").get
      .fn(spark, "/root/testdata/sf0.001")
    assert(df.filter(col("pack_offset") < 0 || col("pack_offset") >= 256).count() == 0)
    assert(df.filter(col("shard") =!= col("doc_id") % 8).count() == 0)
    // within each (lang, shard) stream, position = bin*ctx + offset must
    // advance by exactly the previous doc's token count (greedy cumsum)
    val rows = df.collect().map(r => (
      r.getAs[String]("lang"), r.getAs[Long]("shard"), r.getAs[Long]("doc_id"),
      r.getAs[Long]("n_tokens"), r.getAs[Long]("bin") * 256 + r.getAs[Long]("pack_offset")))
    rows.groupBy(r => (r._1, r._2)).foreach { case (_, g) =>
      val s = g.sortBy(_._3)
      assert(s.head._5 == 0L, s"stream must start at position 0: ${s.head}")
      s.sliding(2).foreach {
        case Array(a, b) => assert(b._5 == a._5 + a._4, s"gap between $a and $b")
        case _ =>
      }
    }
  }

  test("embed_quantize: codes reconstruct within the (step/2)^2 bound; scale clips exactly once+") {
    val sf = "/root/testdata/sf0.001"
    val out = graft.queries.PipelineQueries.all.find(_.name == "embed_quantize").get
      .fn(spark, sf).collect().map(r => r.getAs[Long]("vec_id") -> r).toMap
    assert(out.nonEmpty)
    val vecs = graft.Tables.table(spark, sf, "embeddings")
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1)).toMap
    for ((id, r) <- out) {
      val v = vecs(id).map(_.toDouble)
      val amax = v.map(math.abs).max
      val qs = v.map(x => math.floor(x * 127 / amax + 0.5).toLong)
      // the oracle-checked integer stats really are the code stats
      assert(qs.sum == r.getAs[Long]("sum_q"), s"vec $id sum_q")
      assert(qs.map(q => q * q).sum == r.getAs[Long]("sum_q2"), s"vec $id sum_q2")
      assert(qs.count(q => math.abs(q) == 127L) == r.getAs[Long]("n_clip"))
      // symmetric scaling maps the max-|x| element to ±127 — always ≥1 clip
      assert(r.getAs[Long]("n_clip") >= 1L, s"vec $id never clips")
      // reconstruction: every element within half a quantization step
      val step = amax / 127
      for ((x, q) <- v.zip(qs))
        assert(math.abs(x - q * step) <= step / 2 + 1e-12, s"vec $id elem err")
    }
  }

  test("sim_search_sq8: ADC dot is the exact integer dot of the codes; recall@10 >= 0.8") {
    val sf = "/root/testdata/sf0.001"
    val sq8 = graft.queries.PipelineQueries.all.find(_.name == "sim_search_sq8").get
      .fn(spark, sf).collect()
    assert(sq8.length == 10)
    // 1. ByteVecDot really computes the integer dot: recompute one row's
    //    dot_q from raw vectors quantized in plain Scala.
    val vecs = graft.Tables.table(spark, sf, "embeddings")
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Float](1)).toMap
    def codes(id: Long): Array[Long] = {
      val v = vecs(id).map(_.toDouble).toArray
      val amax = v.map(math.abs).max
      v.map(x => math.floor(x * 127 / amax + 0.5).toLong)
    }
    val p = codes(0L)
    for (r <- sq8.take(3)) {
      val q = codes(r.getAs[Long]("vec_id"))
      val expected = p.zip(q).map { case (a, b) => a * b }.sum
      assert(r.getAs[Long]("dot_q") == expected,
        s"vec ${r.getAs[Long]("vec_id")}: dot_q ${r.getAs[Long]("dot_q")} != $expected")
    }
    // 2. Quantization quality: the SQ8 top-10 must recover >= 8 of the
    //    exact float top-10 (measured 9-10 across fixtures; a code or
    //    rescale bug craters this to ~0).
    val exact = graft.queries.PipelineQueries.all.find(_.name == "sim_search_topk").get
      .fn(spark, sf).collect().map(_.getAs[Long]("vec_id")).toSet
    val got = sq8.map(_.getAs[Long]("vec_id")).toSet
    assert((exact & got).size >= 8, s"SQ8 recall ${(exact & got).size}/10")
  }

  test("curation: domain_mix weights equalize the mix; shares sum to 1") {
    val df = graft.queries.CurationQueries.all.find(_.name == "domain_mix").get
      .fn(spark, "/root/testdata/sf0.001").collect()
    assert(df.nonEmpty)
    val shares = df.map(_.getAs[Double]("tok_share")).sum
    assert(math.abs(shares - 1.0) < 1e-4, s"shares sum to $shares")
    // weight * tokens is the equalized per-source budget: constant across
    // sources (= total/n_sources) up to the 6-decimal weight rounding
    val budgets = df.map(r => r.getAs[Double]("weight") * r.getAs[Long]("n_tokens"))
    assert((budgets.max - budgets.min) / budgets.max < 1e-3, budgets.mkString(","))
  }

  test("dedupByQuantizer auto-nprobe: recall >= 0.95 vs all-pairs truth at both gate SFs") {
    // Once k hits its cap the cell count stops growing with n, so a FIXED
    // probe count decays in recall as the corpus grows (nprobe = 4 measured
    // 0.91 at sf0.1). The auto rule max(4, ceil(sqrt(n)/8)) is pinned here
    // at BOTH driver scale factors; found pairs are exact-cosine verified,
    // so found <= truth and the count ratio IS recall (precision is 1).
    val tau = 0.4
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val emb = Tables.table(spark, dir, "embeddings").select("vec_id", "embedding")
      val a = emb.select(col("vec_id").as("va_id"), col("embedding").as("va"))
      val b = emb.select(col("vec_id").as("vb_id"), col("embedding").as("vb"))
      val truth = a.join(b, col("va_id") < col("vb_id"))
        .filter(VectorOps.cosineF(col("va"), col("vb")) >= tau)
        .count()
      val found = VectorOps.dedupByQuantizer(emb, tau).count()
      assert(found <= truth, s"$dir: $found found > $truth truth — verify not exact")
      assert(found >= 0.95 * truth,
        s"$dir: recall ${found.toDouble / truth} ($found/$truth) below 0.95 floor")
    }
  }

  test("compressibility orders repetitive < natural < high-entropy; deterministic") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val repetitive = Seq.fill(200)("batch").mkString(" ")
    val natural = SparkEntry.queries("text_compressibility") // fixture docs below
    val noise = Seq.fill(200)(rnd.alphanumeric.take(5).mkString).mkString(" ")
    val df = Seq((1L, repetitive), (2L, noise))
      .toDF("doc_id", "text")
    val m = graft.operators.TextOps.compressibility(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("ratio_ppm")).toMap
    assert(m(1L) < m(2L) / 4,
      s"repetitive text must deflate far below unique-token noise: $m")
    assert(m.values.forall(v => v > 0 && v <= 1200000), s"ratios out of range: $m")
    // fixture run is deterministic and non-degenerate
    val fix = natural(spark, "/root/testdata/sf0.001")
    val once = fix.collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    val twice = fix.collect().map(r => (r.getLong(0), r.getLong(3))).sorted.toSeq
    assert(once == twice, "compressibility must be deterministic across runs")
    assert(once.nonEmpty && once.map(_._2).distinct.size > 1,
      "fixture docs should not all compress identically")
  }
}
