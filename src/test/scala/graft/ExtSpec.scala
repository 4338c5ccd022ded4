package graft

import graft.ext.{Dedup, Multimodal, Pipeline, Similarity, TextAnalysis}
import org.apache.spark.sql.functions._

/** Unit tests for the [EXT] LLM-pipeline operators on sf0.001 testdata
  * plus synthetic edge cases. */
class ExtSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  test("minhash near-dup pairs == exact ngram-jaccard pairs at threshold") {
    val mh = Dedup.queries("x_dedup_minhash")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val ng = Dedup.queries("x_dedup_ngram")(spark, sf)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mh.toSet === ng.toSet)
    assert(ng.nonEmpty) // the generator plants near-duplicates
  }

  test("containment dominates jaccard pairwise; planted replicas contain both ways") {
    // C(a⊆b) = |A∩B|/|A| >= |A∩B|/|A∪B| = J always — so at a containment
    // threshold at/below the jaccard threshold, every jaccard pair appears
    // in BOTH directions, and the planted verbatim-ish replicas score ~1
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val jac = Dedup.ngramJaccardNaive(spark, docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val con = Dedup.ngramContainment(spark, docs, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(jac.nonEmpty)
    jac.foreach { case (a, b, j) =>
      assert(con.contains((a, b)) && con.contains((b, a)),
        s"jaccard pair ($a,$b) missing a containment direction")
      assert(con((a, b)) >= j - 1e-9 && con((b, a)) >= j - 1e-9)
    }
    // directionality: doc_a is the contained side, scores bounded by 1
    con.values.foreach(c => assert(c >= 0.5 && c <= 1.0 + 1e-9))
  }

  test("containment apply: contained drops, container survives, mutual keeps min id") {
    import spark.implicits._
    val base = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10 q11 q12"
    val docs = Seq(
      (1L, base),                                                // ⊆ doc 2
      (2L, base + " r1 r2 r3 r4 r5 r6 r7 r8 r9 r10 r11 r12"),   // container
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12"),           // distinct
      (4L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10 m11 m12"),           // mutual…
      (5L, "m1 m2 m3 m4 m5 m6 m7 m8 m9 m10 m11 m12")            // …with 4
    ).toDF("doc_id", "text")
    val kept = Dedup.containmentDedupApply(spark, docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept === Set(2L, 3L, 4L))
  }

  test("native shingle_set == array_distinct/transform/slice HOF formulation") {
    import spark.implicits._
    // real testdata + short-input edges (0/1/2/3 tokens, repeats, empty str)
    val edges = Seq((9001L, "a"), (9002L, "a b"), (9003L, "a b c"),
      (9004L, "a b c d"), (9005L, "x x x x x"), (9006L, "")).toDF("doc_id", "text")
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      .union(edges)
      .withColumn("tokens", split(col("text"), " "))
    val both = docs.select(col("doc_id"),
      graft.functions.VectorFunctions.shingleSet(col("tokens")).as("native"),
      expr("""array_distinct(transform(
        |  sequence(0, greatest(size(tokens) - 3, 0)),
        |  i -> concat_ws(' ', slice(tokens, i + 1, 3))))""".stripMargin).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0L)
    assert(both.filter(size(col("native")) > 0).count() === both.count())
  }

  test("corpus handle owns the signature caches: entries released on close") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
      // distinct plan per test run so the session-lifetime caches of OTHER
      // tests (registered-query path) never share a cache-manager entry
      // with this handle (entries are keyed by canonical plan)
      .filter(col("doc_id") >= 0 && col("doc_id") % 1 === 0)
    val h = Dedup.openCorpus(docs)
    h.minhashNearDups().count()
    h.simhashNearDups().count()
    // Dataset.storageLevel consults the cache manager: NONE ⟺ no entry
    import org.apache.spark.storage.StorageLevel
    assert(h.minhashSigs.storageLevel !== StorageLevel.NONE)
    assert(h.simhashSigs.storageLevel !== StorageLevel.NONE)
    h.close()
    assert(h.minhashSigs.storageLevel === StorageLevel.NONE)
    assert(h.simhashSigs.storageLevel === StorageLevel.NONE)
    // frames stay valid after close — they just recompute
    assert(h.minhashNearDups().count() >= 0L)
  }

  test("capped ngram posting lists: exact-score subset; uncut cap is identical") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairs(Dedup.ngramJaccardNaive(spark, docs))
    // a cap no posting list reaches exercises the capped CODE PATH
    // (hot-set anti-join + candidate re-verify) and must change nothing
    val uncut = pairs(Dedup.ngramJaccardNaive(spark, docs, maxPosting = 1000000))
    assert(uncut === exact)
    // a tight cap may only LOSE pairs — never invent one or alter a score
    // (scores come from the exact re-verify over full shingle sets)
    val tight = pairs(Dedup.ngramJaccardNaive(spark, docs, maxPosting = 4))
    assert(tight.subsetOf(exact))
  }

  test("substring dedup: repeated windows found, apply drops exactly the covered spans") {
    import spark.implicits._
    // an 8-token span shared by docs 1 and 2 under different surroundings;
    // doc 3 shares nothing
    val shared = "a b c d e f g h"
    val docs = Seq(
      (1L, s"u1 u2 $shared v1 v2"),
      (2L, s"x1 $shared y1"),
      (3L, "p q r s t u v w unique tail here")).toDF("doc_id", "text")
    val banned = Dedup.repeatedWindows(spark, docs)
    val found = banned.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // only the aligned full window repeats (boundary windows differ per doc)
    assert(found.toSeq === Seq((shared, 2L, 2L)))
    val applied = Dedup.substringDedupApply(docs, banned)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(applied(1L) === "u1 u2 v1 v2") // span gone, surroundings intact
    assert(applied(2L) === "x1 y1")
    assert(applied(3L) === "p q r s t u v w unique tail here") // untouched
    // coverage merges overlapping occurrences into maximal spans: a doc
    // containing the span twice back-to-back loses all 16 tokens
    val twice = Seq((4L, s"h1 $shared $shared t1")).toDF("doc_id", "text")
    val applied2 = Dedup.substringDedupApply(twice, banned)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(applied2(4L) === "h1 t1")
  }

  test("large-star/small-star CC == frontier-loop CC on fixture and adversarial graphs") {
    import spark.implicits._
    def labels(edges: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Dedup.edgeComponentLabels(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def starLabels(edges: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Dedup.edgeComponentLabelsStar(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // real near-dup edges from the fixture corpus
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val real = Dedup.minhashPairs(docs).select(col("doc_a"), col("doc_b"))
    assert(starLabels(real) === labels(real))
    // adversarial diameter (chain), duplicate+reversed edges, two
    // components + a triangle — the shapes that break naive formulations
    val synth = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L), // chain
      (11L, 10L), (10L, 11L),                // reversed + duplicate edges
      (20L, 21L), (21L, 22L), (22L, 20L),    // triangle, separate component
      (30L, 31L))
      .toDF("doc_a", "doc_b")
    val expected = Set[(Long, Long)](
      (10L, 10L), (11L, 10L), (12L, 10L), (13L, 10L), (14L, 10L), (15L, 10L),
      (20L, 20L), (21L, 20L), (22L, 20L), (30L, 30L), (31L, 30L))
    assert(starLabels(synth) === expected)
    assert(labels(synth) === expected)
  }

  test("edgeComponentLabels is exactly connectedComponents minus singletons") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val edges = Dedup.minhashPairs(docs).select(col("doc_a"), col("doc_b"))
    val edgeOnly = Dedup.edgeComponentLabels(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Dedup.connectedComponents(edges, docs.select(col("doc_id")))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edgeOnly.subsetOf(full))
    assert((full -- edgeOnly).forall { case (d, c) => d == c }) // singletons
    val touched = edges.collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(edgeOnly.map(_._1) === touched)
  }

  test("leak-free split never splits a near-dup cluster across train/val") {
    val out = Dedup.queries("x_split_leakfree")(spark, sf)
    // every cluster's members carry ONE split value (the leakage contract)
    val spanning = out.groupBy(col("cluster_id"))
      .agg(countDistinct(col("split")).as("n_splits"), count(lit(1)).as("n"))
      .filter(col("n_splits") > 1)
    assert(spanning.count() === 0L)
    // non-vacuous: the fixture corpus has multi-doc clusters, and the
    // doc-keyed stableSplit DOES split at least one of them (the leak
    // this operator exists to prevent)
    val multi = out.groupBy(col("cluster_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
    assert(multi.count() > 0)
    val docKeyed = graft.ext.Pipeline
      .stableSplit(graft.Tables.documents(spark, sf))
      .select(col("doc_id"), col("split").as("doc_split"))
    val leaked = out.join(docKeyed, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(countDistinct(col("doc_split")).as("n_splits"))
      .filter(col("n_splits") > 1)
    assert(leaked.count() > 0)
    // both splits populated at the 90/10 bucketing
    assert(out.select("split").distinct().count() === 2L)
  }

  test("nb classifier is exact on a vocab-separable corpus") {
    import spark.implicits._
    // disjoint per-class vocabularies: smoothed NB must put every doc on
    // the diagonal (own-class token likelihoods dominate; priors equal)
    val docs = Seq(
      (1L, "alpha beta gamma alpha", "aa"),
      (2L, "beta alpha alpha gamma", "aa"),
      (3L, "delta epsilon zeta zeta", "bb"),
      (4L, "epsilon delta delta zeta", "bb"),
      (5L, "eta theta iota eta", "cc"),
      (6L, "theta iota eta iota", "cc")).toDF("doc_id", "text", "lang")
    val cm = TextAnalysis.nbClassify(docs).collect()
    assert(cm.forall(r => r.getString(0) === r.getString(1)), cm.mkString(", "))
    assert(cm.map(_.getLong(2)).sum === 6L)
  }

  test("nb classifier beats the majority-class baseline on the fixture corpus") {
    val docs = graft.Tables.documents(spark, sf)
    val cm = TextAnalysis.nbClassify(docs).collect()
    val tot = cm.map(_.getLong(2)).sum.toDouble
    val diag = cm.filter(r => r.getString(0) == r.getString(1))
      .map(_.getLong(2)).sum
    val majority = docs.groupBy("lang").count()
      .agg(org.apache.spark.sql.functions.max("count")).head.getLong(0)
    // deterministic on the fixed fixture (0.438 vs 0.386 at sf0.001):
    // the learned LM must outdo always-predicting the biggest class
    assert(diag / tot > majority / tot, s"acc=${diag / tot} maj=${majority / tot}")
  }

  test("mixture rebalance lands each language within tolerance of its target share") {
    val docs = graft.Tables.documents(spark, sf)
    val kept = Pipeline.mixtureRebalance(docs)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = kept.values.sum.toDouble
    assert(total > 0)
    val target = Map("en" -> 0.30, "de" -> 0.20, "es" -> 0.20,
      "fr" -> 0.15, "zh" -> 0.15)
    assert(kept.keySet === target.keySet)
    // hash-threshold selection is Binomial(n_g, rate_g); at the fixture's
    // ~355-doc rebalanced corpus 0.08 is > 3 sigma from every target
    target.foreach { case (l, p) =>
      val share = kept(l) / total
      assert(math.abs(share - p) < 0.08, s"$l share=$share target=$p")
    }
  }

  test("ingest gate drops docs near-duplicating the corpus, admits fresh ones") {
    import spark.implicits._
    val corpus = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val index = Dedup.buildIngestIndex(corpus)
    try {
      val base = corpus.orderBy("doc_id").limit(2).collect()
      // verbatim re-crawls (J=1) and a one-token edit (J≈0.94 on ~100-token
      // docs — band collision certain at the fixed seeds, then verified)
      val verbatim = base.toSeq.map(r => (10000L + r.getLong(0), r.getString(1)))
      val nearDup = {
        val toks = base(0).getString(1).split(" ")
        toks(toks.length / 2) = "zzzz"
        (20000L, toks.mkString(" "))
      }
      // vocab-disjoint from the corpus: exact-Jaccard 0, must be admitted
      // even if a sketch band were to collide (the verify step decides)
      val fresh = Seq(
        (30000L, "aa bb cc dd ee ff gg hh ii jj kk ll"),
        (30001L, "mm nn oo pp qq rr ss tt uu vv ww xx"))
      val newDocs = (verbatim :+ nearDup) ++ fresh
      val out = Dedup.nearDupIngestGate(newDocs.toDF("doc_id", "text"), index)
      assert(out.select("doc_id").collect().map(_.getLong(0)).toSet
        === Set(30000L, 30001L))
    } finally index.close()
  }

  test("prefix-filtered ngram join returns exactly the naive result") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val naive = Dedup.ngramJaccardNaive(spark, docs).collect().toSeq
    val ppj = Dedup.ngramJaccardPrefixFiltered(spark, docs).collect().toSeq
    assert(ppj === naive)
    assert(naive.nonEmpty)
  }

  test("hashing embeddings: ngram near-dup pairs score higher cosine than random pairs") {
    val emb = graft.ext.Pipeline.queries("x_embed_hashing")(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rows) =>
        val v = new Array[Double](64)
        rows.foreach(r => v(r.getAs[Int]("dim")) = r.getAs[Double]("weight"))
        id -> v
      }
    // vectors are L2-normalized, so cosine == dot
    def cos(a: Long, b: Long): Double =
      emb(a).zip(emb(b)).map { case (x, y) => x * y }.sum
    val dupPairs = graft.ext.Dedup.queries("x_dedup_ngram")(spark, sf)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
    assert(dupPairs.nonEmpty)
    val ids = emb.keys.toSeq.sorted
    val randPairs = ids.take(200).map(i => (i, ids((ids.indexOf(i) + 7) % ids.size)))
      .filter(p => p._1 != p._2)
    val dupAvg = dupPairs.map((cos _).tupled).sum / dupPairs.length
    val randAvg = randPairs.map((cos _).tupled).sum / randPairs.length
    assert(dupAvg > randAvg + 0.2,
      s"near-dup cosine $dupAvg should clearly exceed random-pair cosine $randAvg")
  }

  test("corpus-prep pipeline keeps multiple languages and drops short docs") {
    val out = graft.ext.Pipeline.queries("x_pipeline_corpus")(spark, sf).collect()
    val langs = out.map(_.getAs[String]("predicted_lang")).toSet
    assert(out.length > 1, "gate must not collapse the corpus to one language")
    assert(langs.contains("en"))
    val docs = graft.Tables.documents(spark, sf).count()
    val kept = out.map(_.getAs[Long]("n_docs")).sum
    assert(kept > 0 && kept < docs, "gate must drop something and keep something")
  }

  test("exact dedup keeps one row per distinct text") {
    val docs = graft.Tables.documents(spark, sf)
    val deduped = Dedup.queries("x_dedup_exact")(spark, sf)
    assert(deduped.count() === docs.select("text").distinct().count())
  }

  test("simhash: identical docs have hamming 0 and are always candidates") {
    import spark.implicits._
    val df = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words entirely here now"))
      .toDF("doc_id", "text")
    df.createOrReplaceTempView("t")
    val sigs = df.withColumn("tokens", split(col("text"), " "))
      .withColumn("simhash", graft.functions.VectorFunctions.simhash64(col("tokens")))
      .select("doc_id", "simhash").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) > 8)
  }

  test("text stats: tokens * ratios are consistent") {
    val rows = TextAnalysis.queries("x_text_quality")(spark, sf).collect()
    rows.foreach { r =>
      val ratio = r.getAs[Double]("type_token_ratio")
      assert(ratio > 0.0 && ratio <= 1.0)
      assert(r.getAs[Int]("n_stop") <= r.getAs[Int]("n_tok"))
    }
  }

  test("approx aggregates land within documented error of their exact twins") {
    val rows = SparkEntry.queries("x_approx_agg")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // the query itself computes the bound checks (that's what makes it
      // oracle-backed since r12) — the suite pins that both flags hold
      assert(r.getAs[Boolean]("hll_within_bound"),
        s"${r.getString(0)}: HLL estimate outside 5-sigma of exact")
      assert(r.getAs[Boolean]("p50_rank_within_bound"),
        s"${r.getString(0)}: approx p50 rank outside +/-5% of median")
    }
  }

  test("isotropy probe: testdata reads isotropic (lsh), planted clusters read ivf") {
    import graft.ext.Similarity
    // the real testdata's embeddings are isotropic (measured r8:
    // intra-label cosine == inter-label == 0) — the probe must say so
    val iso = Similarity.IvfIndex.train(
      graft.Tables.embeddings(spark, sf), cells = 16)
    assert(iso.recommendation === "lsh",
      f"isotropic testdata must recommend lsh, got ${iso.recommendation} " +
        f"(meanCentroidSim=${iso.meanCentroidSim}%.3f)")
    assert(iso.meanCentroidSim < 0.5 && !iso.meanCentroidSim.isNaN)
    // planted clusters: 4 tight bundles of 16 vectors each (base
    // direction + deterministic small per-coordinate jitter) — routing
    // pays, the probe must flip
    import spark.implicits._
    val dim = 64
    val clustered = (0 until 64).map { i =>
      val c = i % 4
      val vec = Array.tabulate(dim) { j =>
        val base = if (j == c * 16) 10f else 0f
        base + 0.01f * (((i * 31 + j * 17) % 7) - 3)
      }
      (i.toLong, vec.toSeq)
    }.toDF("vec_id", "embedding")
    val cl = Similarity.IvfIndex.train(clustered, cells = 4)
    assert(cl.recommendation === "ivf",
      f"planted clusters must recommend ivf, got ${cl.recommendation} " +
        f"(meanCentroidSim=${cl.meanCentroidSim}%.3f)")
    assert(cl.meanCentroidSim > 0.7)
  }

  test("ivf probe clamp: a quantizer collapsed below the probe count still searches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // two distinct vector values only -> Lloyd collapses 16 seeds to 2
    // live cells; the auto probes (10 of 16) must clamp to 2, not throw
    val vecs = (0 until 40).map { i =>
      val v = Array.tabulate(64)(j => if (j == (i % 2) * 3) 1f else 0f)
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
    val res = graft.ext.Similarity.ivfTopK(vecs, col("vec_id") < 4, k = 3)
    assert(res.count() === 12, "4 queries x top-3 despite the collapse")
  }

  test("ANN probe defaults scale as a fraction of cells; explicit probes win") {
    import graft.ext.Similarity.resolveProbes
    // the r11 measured operating points, re-derived from cells=16
    assert(resolveProbes(16, -1, 5, 8) === 10)   // ivf: 62.5% coverage
    assert(resolveProbes(16, -1, 3, 4) === 12)   // ivfpq: 75% coverage
    // a bigger quantizer keeps the COVERAGE, not the fixed count — the
    // old probes=12 default against cells=256 was a ~5%-coverage point
    assert(resolveProbes(256, -1, 5, 8) === 160)
    assert(resolveProbes(1, -1, 3, 4) === 1)     // never below 1
    assert(resolveProbes(16, 4, 5, 8) === 4)     // explicit wins
  }

  test("connectedComponents: chains collapse to min label, singletons survive") {
    import spark.implicits._
    // 0-1-2-3 is a path (diameter 3 -> needs several propagation rounds),
    // 5-6 a pair, 9 isolated
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val vertices = Seq(0L, 1L, 2L, 3L, 5L, 6L, 9L).toDF("doc_id")
    val got = Dedup.connectedComponents(edges, vertices)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L,
      5L -> 5L, 6L -> 5L, 9L -> 9L))
  }

  test("languageId on hand-built texts: markers, CJK, unknown, tie-break") {
    import spark.implicits._
    val docs = Seq(
      (0L, "der hund ist und das", "de"),
      (1L, "el perro que de los", "es"),
      (2L, "机器 学习", "zh"),
      (3L, "qqq zzz", "unknown"),
      // 'la' scores 1 for both es and fr -> ordinal tie-break picks es
      (4L, "la", "es"))
      .toDF("doc_id", "text", "expect")
    val got = ext.TextAnalysis.languageId(docs)
      .select("doc_id", "expect", "predicted_lang").collect()
    got.foreach(r => assert(r.getString(1) === r.getString(2), s"doc ${r.getLong(0)}"))
  }

  test("exactTopK on hand-built embeddings returns the known neighbor order") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.8f, 0.6f)),
      (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.exactTopK(vecs, vecs.filter(col("vec_id") === 0), k = 2)
      .orderBy("rank")
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq === Seq((1, 1L, 0.8), (2, 2L, 0.0)))
  }

  test("dedup apply composes with the sketch pair-finder: minhash survivors == ngram survivors") {
    // the scale-path composition: at 100 TB the pair finder is the banded
    // LSH sketch, not the exact inverted index — the apply step (CC +
    // min-id survivor semi-join) must be agnostic to which produced the
    // pairs. MinHash recall is 1.0 at this fixture (asserted above), so
    // survivor sets must match exactly.
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    def survivors(pairs: org.apache.spark.sql.DataFrame): Set[Long] =
      Dedup.connectedComponents(pairs.select(col("doc_a"), col("doc_b")),
          docs.select(col("doc_id")))
        .filter(col("doc_id") === col("cluster_id"))
        .collect().map(_.getLong(0)).toSet
    val viaNgram = survivors(Dedup.ngramJaccardNaive(spark, docs))
    val viaMinhash = survivors(Dedup.minhashNearDups(docs))
    assert(viaNgram === viaMinhash)
    assert(viaNgram.size < docs.count()) // the fixture plants real near-dups
  }

  test("embedNearDupsLsh == exact threshold pairs on a planted near-dup fixture") {
    import spark.implicits._
    // 20 groups of (base + 2 noisy copies, cosine ~0.99) + 140 unrelated
    // random vectors (typical cross-cosine ~N(0, 1/8)) — the production
    // regime the threshold contract targets. Fixed seed: deterministic.
    val rng = new scala.util.Random(7)
    def randVec(): Array[Float] = Array.fill(64)(rng.nextGaussian().toFloat)
    def perturb(v: Array[Float]): Array[Float] =
      v.map(x => x + 0.15f * rng.nextGaussian().toFloat)
    val groups = Seq.tabulate(20) { g =>
      val base = randVec()
      Seq((g * 3L, base), (g * 3L + 1, perturb(base)), (g * 3L + 2, perturb(base)))
    }.flatten
    val noise = Seq.tabulate(140)(i => (1000L + i, randVec()))
    val all = groups ++ noise
    // independent pure-Scala reference for the exact threshold pair set
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      dot / math.sqrt(na * nb)
    }
    val expected = (for {
      (ia, va) <- all; (ib, vb) <- all
      if ia < ib && cos(va, vb) >= 0.85
    } yield (ia, ib)).toSet
    assert(expected.size >= 50) // the plant worked: ~60 true pairs
    val got = Dedup.embedNearDupsLsh(all.toDF("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // Precision first: emitted pairs are exact-cosine re-verified, so a
    // false positive means the verify step itself broke — independent of
    // any LSH parameter. Recall second, separately: it IS coupled to the
    // fixture seed (7) + plane seed (4242) + bands/bits — a parameter
    // change that dents recall fails HERE with a count, diagnosably,
    // rather than as an opaque set-inequality.
    assert(got.subsetOf(expected), s"false positives: ${got -- expected}")
    val recall = got.size.toDouble / expected.size
    assert(recall == 1.0,
      s"recall $recall (${expected.size - got.size} of ${expected.size} pairs missed) — " +
        "expected 1.0 at bands=16/bits=8 under the fixed data seed (7) and " +
        "plane seed (4242); a bands/bits/seed/plane-derivation change moved it")
  }

  test("packSequences output is invariant to shardSize (exact cumsum decomposition)") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    def run(shardSize: Int) =
      ext.Pipeline.packSequences(docs, shardSize = shardSize)
        .collect().map(_.toSeq).toSeq
    val base = run(4096)
    // 64 = many shards; 257 = prime, shard boundaries never align with
    // doc_id patterns — any discrepancy in the shard-offset correction
    // (the driver prefix-sum) would surface as a bin/cum_tok diff.
    assert(run(64) === base)
    assert(run(257) === base)
  }

  test("buildVocab: maxVocab-bounded offsets are exact under an adversarial distinct-frequency distribution") {
    import spark.implicits._
    // r14 (verdict r13 #3): the rank offsets now come from a distributed
    // top-maxVocab of the (cnt, prefix) groups, never a vocabulary-scale
    // collect. Adversarial shape: ~600 tokens with ~600 DISTINCT
    // frequencies (token_i appears i times — no Zipf tie collapse, and
    // with maxVocab=50 the old code's driver state would be 12x the new
    // bound), plus same-prefix ties at equal counts to exercise the
    // lexicographic tiebreak across the truncation boundary.
    val n = 600
    val words = (1 to n).flatMap { i =>
      val w = f"w${i}%04d"; Seq.fill(i)(w)
    } ++ Seq.fill(7)("aa") ++ Seq.fill(7)("ab") ++ Seq.fill(7)("ba")
    // one doc per slice so counts are corpus-wide, not doc-local
    val docs = words.grouped(97).zipWithIndex
      .map { case (g, i) => (i.toLong, g.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val got = ext.Pipeline.buildVocab(docs, maxVocab = 50)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    // brute-force reference: rank by (cnt desc, token asc), take 50
    val expected = words.groupBy(identity).view.mapValues(_.size).toSeq
      .sortBy { case (w, c) => (-c, w) }.take(50).zipWithIndex
      .map { case ((w, c), i) => (i + 1, w, c.toLong) }
    assert(got.sortBy(_._1).toSeq === expected)
  }

  test("fingerprints: window parameter respected; equal texts collide") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c d e"), (1L, "a b c d e"), (2L, "z y x w v"))
      .toDF("doc_id", "text")
    val fp = ext.TextAnalysis.fingerprints(docs).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(0L) === fp(1L))
    assert(fp(0L) !== fp(2L))
    // window=2 over 2 tokens: one window, md5 of the whole bigram
    val one = ext.TextAnalysis.fingerprints(
      Seq((9L, "a b")).toDF("doc_id", "text"), window = 2).collect().head
    assert(one.getString(1) === java.security.MessageDigest.getInstance("MD5")
      .digest("a b".getBytes("UTF-8")).map("%02x".format(_)).mkString)
  }

  test("langid: CJK text classified zh; marker text classified en") {
    import spark.implicits._
    // piggyback on the real query by pointing it at a temp dir is overkill;
    // test the distinguishing behavior through the public query on testdata
    val out = TextAnalysis.queries("x_text_langid")(spark, sf)
    val preds = out.select("predicted_lang").distinct()
      .collect().map(_.getString(0)).toSet
    assert(preds.subsetOf(Set("en", "de", "es", "fr", "zh", "unknown")))
  }

  test("srp band-1 bucket == legacy literal-plane bucketing, bit for bit") {
    // the fused SrpSignature(bands=1, bits=6, dim=64, seed=42) derivation
    // replaced 6 plane-literal cosine calls; the plane draw order and
    // bucket packing reproduce that formulation exactly. (x_ann_lsh is
    // multi-table — bands=8 — since round 8; this pins the expression's
    // per-band derivation, which every band shares.)
    import graft.functions.VectorFunctions.cosineSim
    val rng = new scala.util.Random(42)
    val legacy = Seq.tabulate(6) { p =>
      val plane = typedLit(Seq.fill(64)(if (rng.nextBoolean()) 1.0f else -1.0f))
      when(cosineSim(col("embedding"), plane) > 0, 1 << p).otherwise(0)
    }.reduce(_ + _)
    val fused = element_at(graft.functions.VectorFunctions.srpSignature(
      col("embedding"), bands = 1, bits = 6, dim = 64, seed = 42), 1)
    val emb = graft.Tables.embeddings(spark, sf)
    assert(emb.select(legacy.as("a"), fused.as("b"))
      .filter(col("a") =!= col("b")).count() === 0L)
  }

  test("multi-table lsh: recall floor vs exact baseline, partition-count invariance") {
    val emb = graft.Tables.embeddings(spark, sf)
    def sets(df: org.apache.spark.sql.DataFrame) = df
      .select("q_id", "c_id").collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = sets(Similarity.exactTopK(emb, emb.filter(col("vec_id") < 10)))
    val ann = sets(Similarity.lshTopK(emb, col("vec_id") < 10))
    val recalls = exact.toSeq.map { case (q, ex) =>
      ann.getOrElse(q, Set.empty).intersect(ex).size.toDouble / 5 }
    // the multi-table operating point's contract: mean recall@5 >= 0.8 at
    // the fixed seed (the r7 single-table strawman sat at 0.28)
    assert(recalls.sum / recalls.size >= 0.8,
      s"multi-table recall@5 mean ${recalls.sum / recalls.size}")
    // results are a pure function of the data, not the physical layout:
    // identical under different partition counts (the cpus-independence
    // contract extended to the multi-table path)
    val base = Similarity.lshTopK(emb, col("vec_id") < 10)
      .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    Seq(3, 11).foreach { n =>
      val got = Similarity.lshTopK(emb.repartition(n), col("vec_id") < 10)
        .orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
      assert(got === base, s"lsh output moved under repartition($n)")
    }
  }

  /** Spark's walk over an executed plan through its adaptive query
    * stages. */
  private object aqe
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** The two-stage formulation lshTopK had before it scored inside the
    * bucket join: a deduplicated pair list broadcast back against the
    * vectors, ranked by a row_number window. The reference the
    * single-stage shape must reproduce row for row. */
  private def windowedLshTopK(candidates: org.apache.spark.sql.DataFrame,
      queryFilter: org.apache.spark.sql.Column, k: Int, tables: Int,
      bits: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions.{cosineSim, srpSignature}
    val all = candidates.withColumn("sigs", srpSignature(col("embedding"),
      bands = tables, bits = bits, dim = 64, seed = 42))
    val cand = all.select(col("vec_id").as("c_id"),
      posexplode(col("sigs")).as(Seq("t", "c_bucket")))
    val qProbe = all.filter(queryFilter)
      .select(col("vec_id").as("q_id"),
        posexplode(col("sigs")).as(Seq("t", "bucket")))
      .select(col("q_id"), col("t"), explode(expr(
        s"""array_union(array(bucket),
           |  transform(sequence(0, ${bits - 1}), p -> int(bucket ^ shiftleft(1, p))))"""
          .stripMargin)).as("c_bucket"))
    val pairs = cand.join(broadcast(qProbe), Seq("t", "c_bucket"))
      .filter(col("q_id") =!= col("c_id"))
      .select(col("q_id"), col("c_id"))
      .dropDuplicates("q_id", "c_id")
    val cVecs = candidates.select(col("vec_id").as("c_id"),
      col("embedding").as("v_c"))
    val qVecs = candidates.filter(queryFilter)
      .select(col("vec_id").as("q_id"), col("embedding").as("v_q"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("c_id"))
    cVecs.join(broadcast(pairs), "c_id")
      .join(broadcast(qVecs), "q_id")
      .withColumn("cosine", cosineSim(col("v_q"), col("v_c")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  test("single-stage lshTopK == the windowed pair-list formulation, row for row") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.01")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("q_id", "rank").collect().map(_.toSeq).toSeq
    // the registered operating point, and a wider query set at a coarser
    // point (more shared buckets, deeper k)
    Seq((col("vec_id") < 10, 5, 8, 6), (col("vec_id") % 7 === 0, 8, 4, 5))
      .foreach { case (qf, k, tables, bits) =>
        val want = rows(windowedLshTopK(emb, qf, k, tables, bits))
        assert(want.nonEmpty)
        Seq(1, 3, 11).foreach { n =>
          val got = rows(Similarity.lshTopK(emb.repartition(n), qf, k,
            tables, bits))
          assert(got === want,
            s"k=$k tables=$tables bits=$bits repartition($n) moved the rows")
        }
      }
  }

  test("lshTopK executes as one stage: no window, no sort-merge join, one aggregate exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = Similarity.lshTopK(graft.Tables.embeddings(spark, sf),
      col("vec_id") < 10)
    df.collect()
    val nodes = aqe.collect(df.queryExecution.executedPlan) { case n => n }
    val plan = df.queryExecution.executedPlan.toString
    assert(!nodes.exists(_.isInstanceOf[WindowExec]), plan)
    assert(!nodes.exists(_.isInstanceOf[SortMergeJoinExec]), plan)
    val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.size === 1, plan)
    // the top-k aggregate's exchange, keyed on the query alone
    assert(shuffles.head.outputPartitioning.toString
      .matches("hashpartitioning\\(q_id#\\d+L?, \\d+\\)"), plan)
  }

  test("srp_signature runs once per banded row: no Filter recomputes it") {
    import org.apache.spark.sql.execution.FilterExec
    val emb = graft.Tables.embeddings(spark, sf)
    Seq("lshTopK" -> Similarity.lshTopK(emb, col("vec_id") < 10),
      "knnJoinLsh" -> Similarity.knnJoinLsh(emb, k = 3, rescueCap = 0))
      .foreach { case (name, df) =>
        df.collect()
        val plan = df.queryExecution.executedPlan
        assert(plan.toString.contains("srp_signature"), s"$name:\n$plan")
        val filters = aqe.collect(plan) { case f: FilterExec => f }
        assert(!filters.exists(_.condition.toString.contains("srp_signature")),
          s"$name filters on a recomputed signature:\n$plan")
      }
  }

  test("srp_signature fails fast on a dim mismatch instead of truncating") {
    import spark.implicits._
    val bad = Seq((1L, Array.fill(32)(1.0f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      bad.select(graft.functions.VectorFunctions.srpSignature(
        col("embedding"), 1, 6, 64, 42)).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("srp_signature")))
  }

  // r15: the oracle-backed recall contract must actually BITE — the
  // flags are TRUE at the registered operating points (the correctness
  // gate), and an unreachable threshold flips them FALSE (so a real
  // recall regression fails the hash compare, not just this spec).
  test("ann recall-contract entries: flags true at registered points, false past the bound") {
    val lsh = Similarity.queries("x_ann_lsh")(spark, sf).collect()
    assert(lsh.length === 10)
    assert(lsh.forall(r => r.getAs[Boolean]("recall_ok")
      && r.getAs[Boolean]("mean_ok") && r.getAs[Long]("n_exact") === 5L))
    val kj = Similarity.queries("x_knn_join_ivf")(spark, sf).collect()
    assert(kj.length === 1)
    assert(kj.head.getAs[Boolean]("recall_ok")
      && kj.head.getAs[Boolean]("zero_tail_ok"))
    // the same checks built with unreachable thresholds
    assert(Similarity.annRecallCheck("x_ann_lsh", 2, 51)(spark, sf) // > 10×5
      .collect().forall(!_.getAs[Boolean]("mean_ok")),
      "an unreachable total bound must flip mean_ok")
    assert(!Similarity.knnRecallCheck("x_knn_join_ivf", 101)(spark, sf)
      .collect().head.getAs[Boolean]("recall_ok"),
      "an unreachable recall bound must flip recall_ok")
  }

  // r16 (VERDICT r15 #1): the four x_ann_* checks share ONE memoized
  // 10-query exact baseline and the two knn-join checks another — each
  // was a full corpus scan per entry (x_ann_bruteforce's whole 1.3 s
  // wall at bench SF, paid 4×/2× per bench pass). The memo must (a)
  // key both families apart, (b) serve repeat entries without growth,
  // (c) leave results identical to a cold recompute, (d) clear on
  // sweep.
  test("recall checks share their exact baselines through the session memo") {
    Similarity.sweepAnnCaches()
    assert(Similarity.exactBaselineMemoSize === 0)
    val lshCold = Similarity.queries("x_ann_lsh")(spark, sf).collect().toSeq
    assert(Similarity.exactBaselineMemoSize === 1)
    Similarity.queries("x_ann_pq")(spark, sf).collect()
    assert(Similarity.exactBaselineMemoSize === 1,
      "the four ann checks must share one baseline entry")
    Similarity.queries("x_knn_join_ivf")(spark, sf).collect()
    assert(Similarity.exactBaselineMemoSize === 2,
      "the knn-join sample baseline keys separately")
    Similarity.queries("x_knn_join_lsh")(spark, sf).collect()
    assert(Similarity.exactBaselineMemoSize === 2)
    // a memo-SERVED rerun (no sweep: the entry is a hit) is identical
    // to the cold result, and serving adds no entries
    val lshWarm = Similarity.queries("x_ann_lsh")(spark, sf).collect().toSeq
    assert(Similarity.exactBaselineMemoSize === 2)
    assert(lshCold === lshWarm)
    Similarity.sweepAnnCaches()
    assert(Similarity.exactBaselineMemoSize === 0)
  }

  test("ann brute force: perfect self-similarity when querying own vector") {
    val out = Similarity.queries("x_ann_bruteforce")(spark, sf)
    assert(out.groupBy("q_id").count().collect().forall(_.getLong(1) === 5L))
  }

  test("ivf ann returns full top-5 per query and agrees with brute force on rank-1 mostly") {
    val ivf = Similarity.rawAnn("x_ann_ivf")(spark, sf)
    assert(ivf.groupBy("q_id").count().collect().forall(_.getLong(1) === 5L))
  }

  test("trained IVF/PQ indexes are reusable: per-call contract == train-once + search") {
    val emb = graft.Tables.embeddings(spark, sf)
    // one trained handle, two searches over DIFFERENT query subsets; the
    // first must match the per-call (retrain-every-invocation) contract
    val ivf = Similarity.IvfIndex.train(emb)
    val a = ivf.search(emb.filter(col("vec_id") < 10)).collect().map(_.toSeq)
    val perCall = Similarity.ivfTopK(emb, col("vec_id") < 10)
      .collect().map(_.toSeq)
    assert(a.toSeq === perCall.toSeq)
    val b = ivf.search(emb.filter(col("vec_id").between(10, 14)))
    assert(b.groupBy("q_id").count().collect().forall(_.getLong(1) === 5L))
    val pq = Similarity.PqIndex.train(emb)
    val c = pq.search(emb.filter(col("vec_id") < 10)).collect().map(_.toSeq)
    val pqPerCall = Similarity.pqTopK(emb, col("vec_id") < 10)
      .collect().map(_.toSeq)
    assert(c.toSeq === pqPerCall.toSeq)
  }

  test("PQ Lloyd iterations monotonically reduce quantization error (k-means objective)") {
    val emb = graft.Tables.embeddings(spark, sf)
    val vecs = emb.select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val m = 8
    val k = 16
    // total sub-quantization error of a codebook set over the corpus —
    // an independent pure-Scala objective (min over codes per subspace)
    def qerr(cb: Array[Float]): Double = {
      val subDim = cb.length / (m * k)
      vecs.map { v =>
        (0 until m).map { mi =>
          (0 until k).map { ki =>
            val base = (mi * k + ki) * subDim
            (0 until subDim).map { d =>
              val diff = v(mi * subDim + d).toDouble - cb(base + d)
              diff * diff
            }.sum
          }.min
        }.sum
      }.sum
    }
    val e0 = qerr(Similarity.PqIndex.train(emb, m, k, lloydIters = 0).codebooks)
    val e1 = qerr(Similarity.PqIndex.train(emb, m, k, lloydIters = 1).codebooks)
    val e2 = qerr(Similarity.PqIndex.train(emb, m, k, lloydIters = 2).codebooks)
    // float-rounding slack on a strictly-monotone double-precision objective
    assert(e1 <= e0 * (1 + 1e-6) && e2 <= e1 * (1 + 1e-6))
    assert(e1 < e0) // seeding is far from a fixed point on this corpus
  }

  test("pq ann returns full top-5 per query with decent recall vs brute force") {
    val pq = Similarity.rawAnn("x_ann_pq")(spark, sf)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id")))
    val bf = Similarity.queries("x_ann_bruteforce")(spark, sf)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id")))
    assert(pq.groupBy(_._1).forall(_._2.length === 5))
    // 5-bit x 8-subspace codes (32/subspace since r14) + exact rerank:
    // most true neighbors
    // must survive the ADC shortlist (exact threshold is data-dependent)
    val recall = pq.toSet.intersect(bf.toSet).size.toDouble / bf.length
    assert(recall >= 0.5, s"recall@5 = $recall")
  }

  // r14 (verdict r13 #7): 32-code codebooks ride the long-packed layout —
  // end-to-end through train, the ADC scan, parquet save/load (the enc
  // codes column lands as BIGINT and the loaded search must reproduce the
  // trained handle exactly).
  test("pq at 32 codes (long-packed): full top-5, contracts, save/load roundtrip") {
    val emb = graft.Tables.embeddings(spark, sf)
    val idx = Similarity.PqIndex.train(emb, pqCodes = 32)
    val out = idx.search(emb.filter(col("vec_id") < 10), 5, 200)
    val rows = out.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id")))
    assert(rows.groupBy(_._1).forall(_._2.length === 5))
    val bf = Similarity.queries("x_ann_bruteforce")(spark, sf)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id")))
    val recall = rows.toSet.intersect(bf.toSet).size.toDouble / bf.length
    assert(recall >= 0.5, s"recall@5 = $recall")
    // codes column is long-packed on disk, and a loaded index searches
    // identically to the trained handle
    val dir = graft.Scratch.dir("pq32_spec")
    idx.save(dir)
    val encType = spark.read.parquet(s"$dir/enc").schema("pq").dataType
    assert(encType === org.apache.spark.sql.types.LongType, encType.toString)
    val loaded = Similarity.PqIndex.load(spark, dir, emb)
    val again = loaded.search(emb.filter(col("vec_id") < 10), 5, 200)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id")))
    assert(again.sorted.toSeq === rows.sorted.toSeq)
  }

  test("ivfpq ann: full top-5 per query, decent recall, handle == per-call") {
    val out = Similarity.rawAnn("x_ann_ivfpq")(spark, sf)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id")))
    assert(out.groupBy(_._1).forall(_._2.length === 5))
    // the composite inherits BOTH approximations (cell routing + ADC);
    // with 2/16 cells probed and a 50-deep rerank most true neighbors
    // must still surface (threshold is data-dependent, like x_ann_pq's)
    val bf = Similarity.queries("x_ann_bruteforce")(spark, sf)
      .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id")))
    val recall = out.toSet.intersect(bf.toSet).size.toDouble / bf.length
    assert(recall >= 0.4, s"recall@5 = $recall")
    // trained handle reuse matches the per-call (retrain) contract
    val emb = graft.Tables.embeddings(spark, sf)
    val idx = Similarity.IvfPqIndex.train(emb)
    val viaHandle = idx.search(emb.filter(col("vec_id") < 10))
      .collect().map(_.toSeq)
    val perCall = Similarity.ivfpqTopK(emb, col("vec_id") < 10)
      .collect().map(_.toSeq)
    assert(viaHandle.toSeq === perCall.toSeq)
  }

  test("knn join: matches the all-pairs reference; grid/partitioning invariant; big k safe") {
    import org.apache.spark.sql.expressions.Window
    val vecs = graft.Tables.embeddings(spark, sf)
    val n = vecs.count()
    // all-pairs reference (test-only cross join + window rank)
    val q = vecs.select(col("vec_id").as("q_id"), col("embedding").as("v_q"))
    val c = vecs.select(col("vec_id").as("c_id"), col("embedding").as("v_c"))
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("c_id"))
    val ref = q.crossJoin(c).filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine",
        graft.functions.VectorFunctions.cosineSim(col("v_q"), col("v_c")))
      .withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select("q_id", "rank", "c_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val got = Similarity.knnJoin(vecs, k = 3)
      .select("q_id", "rank", "c_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got === ref)
    assert(got.size === 3 * n)
    // the grid is pure slicing: any dims + any input partitioning agree
    val alt = Similarity.knnJoin(vecs.repartition(7), k = 3,
      blocks = 3, qblocks = 5)
      .select("q_id", "rank", "c_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(alt === ref)
    // k beyond n-1: every vector gets exactly its n-1 neighbors, no dupes
    val all = Similarity.knnJoin(vecs, k = n.toInt + 10)
    assert(all.count() === n * (n - 1))
    assert(all.select("q_id", "c_id").distinct().count() === n * (n - 1))
    // the two-frame form against a query subset reproduces the broadcast
    // brute-force entry exactly — two unrelated plans, one result
    val bf = Similarity.exactTopK(vecs, vecs.filter(col("vec_id") < 10), k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    val kj = Similarity.knnJoinAgainst(vecs, vecs.filter(col("vec_id") < 10),
      k = 5).collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(kj === bf)
  }

  test("ivf-celled knn join: whole-corpus recall floor vs exact, partition invariant") {
    val vecs = graft.Tables.embeddings(spark, sf)
    def asSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("q_id", "c_id").collect().groupBy(_.getLong(0))
        .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val exact = asSets(Similarity.knnJoin(vecs, k = 3))
    val ivf = asSets(Similarity.knnJoinIvf(vecs, k = 3))
    val recalls = exact.toSeq.map { case (q, ex) =>
      ivf.getOrElse(q, Set.empty).intersect(ex).size.toDouble / 3 }
    assert(recalls.sum / recalls.size >= 0.3,
      s"mean whole-corpus recall ${recalls.sum / recalls.size}")
    // probe-coverage determinism: input partitioning must not change
    // results (quantizer training and cell routing are partition-free)
    val again = asSets(Similarity.knnJoinIvf(vecs.repartition(7), k = 3))
    assert(again === ivf)
    // the SRP-banded variant: angle-sensitive candidates, same contracts
    val lsh = asSets(Similarity.knnJoinLsh(vecs, k = 3))
    val lshRecalls = exact.toSeq.map { case (q, ex) =>
      lsh.getOrElse(q, Set.empty).intersect(ex).size.toDouble / 3 }
    info(f"knn-join recall@3 ivf=${recalls.sum / recalls.size}%.3f " +
      f"lsh=${lshRecalls.sum / lshRecalls.size}%.3f (n=${exact.size})")
    assert(lshRecalls.sum / lshRecalls.size >= 0.6,
      s"mean lsh recall ${lshRecalls.sum / lshRecalls.size}")
    val lshAgain = asSets(Similarity.knnJoinLsh(vecs.repartition(5), k = 3))
    assert(lshAgain === lsh)
  }

  test("entropy signals: hand-computed chars/words; degenerate doc is exactly 0.0") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aabb"),       // chars {a:2,b:2}/4 -> 1.0 ; words {aabb:1} -> 0.0
      (2L, "abcd"),       // chars uniform 4 -> 2.0
      (3L, "aaaa"),       // single symbol -> 0.0 (and not -0.0)
      (4L, "x x y z")     // words {x:2,y:1,z:1}/4 -> 1.5
    ).toDF("doc_id", "text")
    val got = TextAnalysis.entropySignals(docs).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(got(0) === ((1L, 1.0, 0.0)))
    assert(got(1) === ((2L, 2.0, 0.0)))
    assert(got(2) === ((3L, 0.0, 0.0)))
    assert(got(3)._3 === 1.5)
    // 0.0, not -0.0: the sign bit must be clear for hash-stable output
    assert(java.lang.Double.doubleToLongBits(got(2)._2) === 0L)
  }

  test("temperature mixture: alpha=1 is proportional; alpha<1 flattens toward uniform") {
    val docs = graft.Tables.documents(spark, sf)
    val prop = Pipeline.mixTemperature(docs, alpha = 1.0, budget = 1000L)
      .collect().map(r => (r.getDouble(2), r.getDouble(3), r.getLong(4)))
    prop.foreach { case (praw, ptemp, _) => assert(praw === ptemp) }
    val flat = Pipeline.mixTemperature(docs, alpha = 0.5, budget = 1000L)
      .collect().map(r => (r.getDouble(2), r.getDouble(3), r.getLong(4)))
    // flattening: the temperature share moves every source toward uniform
    assert(flat.map(_._2).max <= prop.map(_._2).max + 1e-9)
    assert(flat.map(_._2).min >= prop.map(_._2).min - 1e-9)
    // shares are a distribution and targets track the budget within rounding
    assert(math.abs(flat.map(_._2).sum - 1.0) < 1e-6)
    assert(math.abs(flat.map(_._3).sum - 1000L) <= flat.length / 2 + 1)
  }

  test("ann operating-point confs reach the registered plans; unset session = defaults") {
    // the operating point is an argument of the top-k builders (the rerank
    // literal gates the shortlist filter); the registered entries pin the
    // RECALL sweep's point as literals, so no session conf moves them
    val emb = graft.Tables.embeddings(spark, sf)
    assert(explain(Similarity.ivfpqTopK(emb, col("vec_id") < 10, rerank = 77))
      .contains("<= 77"), "the rerank argument must reach the plan")
    // r11 default = the honest-seeding sweep winner (probes=12/rerank=400)
    val key = "spark.graft.ann.ivfpq.rerank"
    try {
      spark.conf.set(key, "77")
      assert(explain(Similarity.rawAnn("x_ann_ivfpq")(spark, sf))
        .contains("<= 400"), "a retired conf must not move the registered point")
    } finally spark.conf.unset(key)
    assert(explain(Similarity.rawAnn("x_ann_ivfpq")(spark, sf))
      .contains("<= 400"), "the registered rerank must reach the plan")
  }

  // r15 (VERDICT r14 #5): the router's asymptotic boundary is a loud
  // contract like the LSH broadcast bound — past the cells bound,
  // per-row assignment is only a constant ~4x better than flat (the S/4
  // fidelity floor, CROSSOVER §4), and training refuses rather than
  // silently degrading.
  test("ivf cells bound: train past 4096 cells fails loudly, naming the bound") {
    val emb = graft.Tables.embeddings(spark, sf)
    val (e, jobs) = jobsDuring(intercept[IllegalArgumentException](
      Similarity.IvfIndex.train(emb, cells = 4097)))
    assert(e.getMessage.contains("cells=4097"), e.getMessage)
    assert(e.getMessage.contains("cells bound 4096"), e.getMessage)
    assert(e.getMessage.contains("constant ~4x"), e.getMessage)
    // refused before the corpus checkpoint and the train-cap probe
    assert(jobs === 0, s"the refused train launched $jobs job(s)")
    val (_, pqJobs) = jobsDuring(intercept[IllegalArgumentException](
      Similarity.IvfPqIndex.train(emb, cells = 4097)))
    assert(pqJobs === 0, s"the refused composite train launched $pqJobs job(s)")
  }

  test("bounded quantizer training: a sub-corpus trainCap still yields a full index") {
    // the 100 TB path: past `trainCap` vectors the Lloyd steps train on
    // the md5-order hash-sample while assignment/encode still cover
    // every vector — force the sampled path with a tiny cap
    val emb = graft.Tables.embeddings(spark, sf)
    assert(emb.count() > 64, "fixture must exceed the cap to exercise sampling")
    val ivf = Similarity.IvfIndex.train(emb, trainCap = 64)
    assert(ivf.centroids.size >= 2, "sampled training still yields cells")
    def top5() = Similarity.IvfPqIndex.train(emb, trainCap = 64)
      .searchWhere(col("vec_id") < 10)
    val out = top5()
    assert(out.groupBy("q_id").count().collect()
      .forall(_.getLong(1) === 5L), "full top-5 per query off a sampled-train index")
    // determinism: the sampled path is hash-ordered, not random
    assert(out.collect().map(_.toSeq).toSeq ===
      top5().collect().map(_.toSeq).toSeq)
  }

  test("centroid aggregator: mean of identical vectors is the vector") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((0, Array(1.0f, 3.0f)), (0, Array(1.0f, 3.0f)),
      (1, Array(2.0f, 4.0f))).toDF("k", "v")
    val c = udaf(graft.functions.CentroidAggregator.agg)
    val out = df.groupBy($"k").agg(c($"v").as("centroid"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toSeq).toMap
    assert(out(0) === Seq(1.0f, 3.0f))
    assert(out(1) === Seq(2.0f, 4.0f))
  }

  test("multimodal: real decode is deterministic and covers all kinds") {
    val a = Multimodal.queries("x_multimodal_features")(spark, sf).collect()
    val b = Multimodal.queries("x_multimodal_features")(spark, sf).collect()
    assert(a.toSeq === b.toSeq)
    assert(a.length === 500)
    val kinds = a.map(_.getAs[String]("kind")).toSet
    assert(kinds === Set("image", "audio", "video"))
  }

  test("multimodal triage: corrupt payloads quarantine instead of killing the job") {
    import spark.implicits._
    val P = Multimodal.MultimodalPipeline
    val clean = (0L until 30L).map(Multimodal.SyntheticMedia.build)
    // three corruption shapes a real pipeline meets: truncation mid-body,
    // a bit-flipped magic, and an empty payload
    val corrupt = Seq(
      clean(0).copy(media_id = 9000L,
        payload = clean(0).payload.take(clean(0).payload.length / 2)),
      clean(1).copy(media_id = 9001L,
        payload = { val p = clean(1).payload.clone(); p(0) = (p(0) ^ 0x40).toByte; p }),
      clean(2).copy(media_id = 9002L, payload = Array.empty[Byte]))
    val triage = P.extractFeaturesTriaged(
      spark.createDataset(clean ++ corrupt)).persist()
    val quarantined = P.quarantine(triage).collect()
    assert(quarantined.map(_.getAs[Long]("media_id")).toSet ===
      Set(9000L, 9001L, 9002L))
    assert(quarantined.forall(_.getAs[String]("error").nonEmpty))
    // clean rows come through IDENTICAL to the throwing path
    val viaTriaged = P.features(triage).collect().sortBy(_.media_id).toSeq
    val viaStrict = P.extractFeatures(spark.createDataset(clean))
      .collect().sortBy(_.media_id).toSeq
    assert(viaTriaged === viaStrict)
    triage.unpersist()
  }

  test("multimodal triage: null payloads and negative chunk sizes quarantine, never hang") {
    import spark.implicits._
    val P = Multimodal.MultimodalPipeline
    // a NULL payload (nullable binary column) must not NPE outside the
    // fault boundary, and a corrupt NEGATIVE RIFF chunk size must fail
    // loudly instead of wedging the decode loop forever (pos += 0)
    val negChunk: Array[Byte] =
      "RIFF".getBytes("US-ASCII") ++ Array[Byte](36, 0, 0, 0) ++
        "WAVE".getBytes("US-ASCII") ++ "junk".getBytes("US-ASCII") ++
        Array[Byte](0xF8.toByte, 0xFF.toByte, 0xFF.toByte, 0xFF.toByte)
    val rows = Seq(
      Multimodal.MediaRow(9100L, "audio", null, None, None, None, None),
      Multimodal.MediaRow(9101L, "audio", negChunk, None, None, None, None))
    val triage = P.extractFeaturesTriaged(spark.createDataset(rows))
    val got = P.quarantine(triage).collect()
    assert(got.map(_.getAs[Long]("media_id")).toSet === Set(9100L, 9101L))
    assert(got.forall(_.getAs[String]("error").nonEmpty))
  }

  test("native expressions reject misuse loudly: dim mismatch and bad pq layout") {
    import spark.implicits._
    // cosine of mismatched dimensions must THROW, never score prefixes
    // (plausible-but-wrong rankings with no other symptom)
    val df = Seq((Array.fill(4)(1.0f), Array.fill(3)(1.0f))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(graft.functions.VectorFunctions
        .cosineSim(col("a"), col("b"))).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("dimension mismatch")))
    // a layout past the packed-long envelope (r14: m x ceil(log2(k)) must
    // fit 64 bits) would wrap its shift distance and silently re-read low
    // fields — rejected at construction; m=9/k=16 (36 bits) is VALID now
    // under the long packing
    intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.PqAdc(null, null, 17, 16) // 68 bits
    }
    intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.PqAdc(null, null, 13, 32) // 65 bits
    }
    // k outside [2, 256] mis-strides the LUT / needs >8-bit fields
    intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.PqAdc(null, null, 4, 512)
    }
    // 9 x 4 = 36 bits -> the packed word widens to a long
    assert(org.apache.spark.sql.graft
      .PqEncode(null, Seq.fill(9 * 16 * 2)(0.0f), 9, 16)
      .dataType === org.apache.spark.sql.types.LongType)
    // the registered 8 x 4 = 32-bit layout stays int (bit-identical)
    assert(org.apache.spark.sql.graft
      .PqEncode(null, Seq.fill(8 * 16 * 2)(0.0f), 8, 16)
      .dataType === org.apache.spark.sql.types.IntegerType)
    // a codebook whose length is not a positive multiple of m*k would
    // truncate to subDim 0 and accept only empty vectors
    intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.PqEncode(null, Seq.fill(100)(0.0f), 8, 16)
    }
  }

  test("multimodal transforms: resize only touches images; frame sampling expands videos") {
    import spark.implicits._
    val media = Multimodal.MultimodalPipeline.fromDocuments(spark, sf)
    val resized = Multimodal.Transforms.resize(media, 224, 224)
    resized.collect().foreach { r =>
      if (r.kind == "image") assert(r.width.contains(224) && r.height.contains(224))
      else assert(!r.width.contains(224) || r.kind == "video")
    }
    val frames = Multimodal.Transforms.sampleFrames(resized)
    val perVideo = frames.groupByKey(_.media_id).count().collect().toMap
    val videos = media.filter(_.kind == "video").count()
    assert(perVideo.size === videos)
    assert(perVideo.values.forall(n => n >= 1 && n <= 8))
    // deterministic across runs
    val again = Multimodal.Transforms.sampleFrames(resized)
      .collect().map(f => (f.media_id, f.frame_idx, f.payload.toSeq)).sortBy(x => (x._1, x._2))
    val first = frames.collect().map(f => (f.media_id, f.frame_idx, f.payload.toSeq)).sortBy(x => (x._1, x._2))
    assert(again.toSeq === first.toSeq)
  }

  test("multimodal resample: real PCM pick at target rate, duration preserved, skips others") {
    val media = Multimodal.MultimodalPipeline.fromDocuments(spark, sf)
    val before = media.collect().map(r => r.media_id -> r).toMap
    Multimodal.Transforms.resample(media, 44100).collect().foreach { r =>
      val orig = before(r.media_id)
      if (r.kind == "audio") {
        assert(r.sample_rate.contains(44100))
        assert(r.duration_ms === orig.duration_ms) // rate changes, duration doesn't
        val (srcRate, srcSamples) = Multimodal.Codecs.decodeWavPcm16(orig.payload)
        val (rate, samples) = Multimodal.Codecs.decodeWavPcm16(r.payload)
        assert(rate === 44100)
        assert(samples.length === (srcSamples.length.toLong * 44100 / srcRate).toInt)
      } else {
        assert(r.sample_rate === orig.sample_rate)
        assert(r.payload.toSeq === orig.payload.toSeq)
      }
    }
  }

  test("multimodal codecs: golden round-trips, chunk walking, demux, resize") {
    import Multimodal.Codecs._
    // WAV: encode/decode round-trip through the real RIFF chunk walk
    val samples = Array[Short](0, 100, -100, 32767, -32768, 13)
    val wav = encodeWavPcm16(16000, samples)
    assert(wav.length === 44 + 12)
    val (sr, back) = decodeWavPcm16(wav)
    assert(sr === 16000)
    assert(back.toSeq === samples.toSeq)
    intercept[IllegalArgumentException](decodeWavPcm16("garbage-not-riff-data-blob-x".getBytes))
    // a LIST chunk inserted between fmt and data must be skipped (odd size → padded)
    val extra = new Array[Byte](wav.length + 8 + 5 + 1)
    System.arraycopy(wav, 0, extra, 0, 36)                 // RIFF..fmt
    "LIST".getBytes.copyToArray(extra, 36)
    extra(40) = 5                                           // LE chunk size 5
    System.arraycopy(wav, 36, extra, 36 + 8 + 5 + 1, wav.length - 36) // data chunk
    val (sr2, back2) = decodeWavPcm16(extra)
    assert(sr2 === 16000 && back2.toSeq === samples.toSeq)
    // PPM: round-trip + malformed rejection
    val pix = Array.tabulate[Byte](2 * 2 * 3)(i => i.toByte)
    val ppm = encodePpm(2, 2, pix)
    val (w, h, body) = decodePpm(ppm)
    assert(w === 2 && h === 2 && body.toSeq === pix.toSeq)
    intercept[IllegalArgumentException](decodePpm("P5\n2 2\n255\nxx".getBytes))
    // resize 2x2 -> 1x1: nearest-neighbor keeps the top-left pixel
    val (w1, h1, onePix) = decodePpm(resizePpm(ppm, 1, 1))
    assert(w1 === 1 && h1 === 1 && onePix.toSeq === pix.take(3).toSeq)
    // GVID: demux by offset returns exactly the embedded frame
    val frames = Seq(encodePpm(1, 1, Array[Byte](1, 2, 3)),
      encodePpm(1, 1, Array[Byte](4, 5, 6)), encodePpm(1, 1, Array[Byte](7, 8, 9)))
    val gvid = encodeGvid(frames)
    assert(gvidFrameCount(gvid) === 3)
    assert(gvidFrame(gvid, 1).toSeq === frames(1).toSeq)
    assert(decodePpm(gvidFrame(gvid, 2))._3.toSeq === Seq[Byte](7, 8, 9))
    // feature math golden: hand-computed tiny example
    val (units, sum) = Multimodal.MultimodalPipeline.decodeFeatures(
      encodePpm(1, 1, Array[Byte](10, 20, 30)), "image")
    assert(units === 3L && sum === 60L)
    val (au, as_) = Multimodal.MultimodalPipeline.decodeFeatures(
      encodeWavPcm16(8000, Array[Short](5, -7)), "audio")
    assert(au === 2L && as_ === 12L)
  }

  test("capped ngram under a BINDING cap: hand-computed survivor set, pair for pair") {
    // At the gate SFs the posting cap never cuts (max df 7/25 vs cap 64),
    // so the oracle binds via the uncut-cap identity and the PRUNING
    // branch rests on subset properties alone. This fixture makes the cap
    // bind with every count hand-computable (docs of 3-5 tokens → 1-3
    // trigram shingles each):
    //  - "h h h" appears in docs 1-4, 9, 10 → df 6 > cap 2 → leaves the
    //    index; pairs among 1-4 share ONLY that hot shingle → missed
    //    (the documented miss condition, planted deliberately);
    //  - (5,6) share the rare "r r r" → found, J = 1.0;
    //  - (9,10) exercise the full capped path: shared {"h h h","h h x"},
    //    the hot one pruned, candidate survives via rare "h h x" with
    //    inter_kept = 1, UB = 1 + min(hot_a, hot_b) = 2 → J_ub = 0.5
    //    passes, and the exact re-verify restores the true J = 0.5
    //    INCLUDING the pruned hot shingle;
    //  - (11,12) share one rare shingle of nine distinct → candidate
    //    generated, killed by the UB filter (1/9 < 0.5), never verified.
    import spark.implicits._
    val docs = Seq(
      (1L, "h h h"), (2L, "h h h"), (3L, "h h h"), (4L, "h h h"),
      (5L, "r r r"), (6L, "r r r"),
      (9L, "h h h x y"), (10L, "h h h x z"),
      (11L, "u v w a1 a2 a3 a4"), (12L, "u v w b1 b2 b3 b4")
    ).toDF("doc_id", "text")
    def pairs(maxPosting: Int) =
      Dedup.ngramJaccardNaive(spark, docs, maxPosting = maxPosting)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = pairs(Int.MaxValue)
    assert(exact === Set(
      (1L, 2L, 1.0), (1L, 3L, 1.0), (1L, 4L, 1.0),
      (2L, 3L, 1.0), (2L, 4L, 1.0), (3L, 4L, 1.0),
      (5L, 6L, 1.0), (9L, 10L, 0.5)))
    val capped = pairs(2)
    assert(capped === Set((5L, 6L, 1.0), (9L, 10L, 0.5)))
    // recall 2/8 on this adversarial all-hot fixture — recorded so the
    // subset contract ("misses only all-hot pairs, exact scores for the
    // rest") stays pinned to a number, not prose
    assert(capped.subsetOf(exact) && capped.size === 2 && exact.size === 8)
  }

  test("ingest index save/load: bucketed tables, identical gate decisions, no signature recompute") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
    val idx = Dedup.buildIngestIndex(corpus)
    val expected = Dedup.nearDupIngestGate(batch, idx)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_idx").toString
    idx.save("ingest_idx_spec", dir)
    idx.close()
    // a NEW session with the catalog entries DROPPED — the restart
    // scenario: the default metastore does not survive, only the files
    // under `dir` do. load must re-register from the path (data is
    // external, so the drop removes metadata only); identical decisions
    // then prove the persisted files alone carry the gate
    val s2 = spark.newSession()
    s2.sql("DROP TABLE ingest_idx_spec_bands")
    s2.sql("DROP TABLE ingest_idx_spec_sets")
    val loaded = Dedup.IngestIndex.load(s2, "ingest_idx_spec", dir)
    // loaded frames are pure table scans: no minhash/shingle math anywhere
    val loadedPlan = explain(loaded.bands) + explain(loaded.shingleSets)
    assert(!loadedPlan.contains("minhash_signature"), loadedPlan)
    assert(!loadedPlan.contains("shingle_set"), loadedPlan)
    assert(loadedPlan.contains("Scan parquet"), loadedPlan)
    val batch2 = graft.Tables.documents(s2, sf).select("doc_id", "text")
      .filter(col("doc_id") % 2 === 1)
    val got = Dedup.nearDupIngestGate(batch2, loaded)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got === expected)
    // the bucket spec is real catalog metadata: a key-aligned self-join of
    // the bands table plans with ZERO Exchange once broadcasts are off —
    // the co-located-join property the 100 TB serving shape relies on
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = s2.conf.get(key)
    try {
      s2.conf.set(key, "-1")
      val j = Dedup.IngestIndex.load(s2, "ingest_idx_spec", dir).bands.as("a")
        .join(loaded.bands.as("b"), Seq("band_idx", "band_hash"))
      assert(!explain(j).contains("Exchange"), explain(j))
    } finally s2.conf.set(key, prev)
  }

  test("ivfpq index save/load: new-session search == trained index, no encode in loaded plans") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, sf)
    val idx = Similarity.IvfPqIndex.train(emb)
    val expected = idx.search(emb.filter(col("vec_id") < 10))
      .orderBy("q_id", "rank").collect()
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_idx").toString
    idx.save("ivfpq_spec", dir)
    // a NEW session with the code table's catalog entry DROPPED — the
    // restart scenario: load must re-register the bucketed external table
    // from the files alone (the quantizer parquet was always
    // path-addressed); identical results prove the artifact carries the
    // whole index without a persistent metastore
    val s2 = spark.newSession()
    s2.sql("DROP TABLE ivfpq_spec_codes")
    val emb2 = graft.Tables.embeddings(s2, sf)
    val loaded = Similarity.IvfPqIndex.load(s2, "ivfpq_spec", dir, emb2)
    val search2 = loaded.search(emb2.filter(col("vec_id") < 10))
      .orderBy("q_id", "rank")
    assert(search2.collect() === expected)
    // the loaded search never re-encodes: pq_encode (the write-time pass)
    // is absent; the scan scores via pq_adc over the bucketed code table
    val p = explain(search2)
    assert(!p.contains("pq_encode"), p)
    assert(p.contains("pq_adc"), p)
  }

  test("ivf append: frozen-centroid assignment, appended clone found at rank 1") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_app").toString
    Similarity.IvfIndex.train(emb).save("ivf_app_spec", dir)
    val before = spark.table("ivf_app_spec_assigned").count()
    val clone = emb.filter(col("vec_id") === 0)
      .select(lit(900002L).as("vec_id"), col("embedding"))
    Similarity.IvfIndex.append(spark, "ivf_app_spec", dir, clone)
    assert(spark.table("ivf_app_spec_assigned").count() === before + 1)
    // a restarted session loads the extended index; the planted clone is
    // vector 0's rank-1 at cosine ~1 and landed in its twin's cell
    val s2 = spark.newSession()
    s2.sql("DROP TABLE ivf_app_spec_assigned")
    val loaded = Similarity.IvfIndex.load(s2, "ivf_app_spec", dir)
    val top = loaded.search(
      graft.Tables.embeddings(s2, sf).filter(col("vec_id") === 0))
      .orderBy("rank").collect()
    assert(top.head.getLong(2) === 900002L, top.mkString("; "))
    assert(top.head.getDouble(3) > 0.999999)
    val cells = s2.table("ivf_app_spec_assigned")
      .filter(col("c_id").isin(0L, 900002L))
      .select("cell").distinct().count()
    assert(cells === 1L)
  }

  test("ivfpq append: frozen-quantizer encode, appended clone found at rank 1, no retrain") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq_app").toString
    Similarity.IvfPqIndex.train(emb).save("ivfpq_app_spec", dir)
    val before = spark.table("ivfpq_app_spec_codes").count()
    // plant a verbatim clone of vector 0 under a fresh id and append it —
    // quantizers stay frozen, only the batch is encoded
    val clone = emb.filter(col("vec_id") === 0)
      .select(lit(900001L).as("vec_id"), col("embedding"))
    Similarity.IvfPqIndex.append(spark, "ivfpq_app_spec", dir, clone)
    assert(spark.table("ivfpq_app_spec_codes").count() === before + 1)
    // a restarted session loads the extended index over the extended
    // corpus; the planted clone must now be vector 0's rank-1 at cosine ~1
    val s2 = spark.newSession()
    s2.sql("DROP TABLE ivfpq_app_spec_codes")
    val emb2 = graft.Tables.embeddings(s2, sf)
    val corpus2 = emb2.select(col("vec_id"), col("embedding")).union(
      emb2.filter(col("vec_id") === 0)
        .select(lit(900001L).as("vec_id"), col("embedding")))
    val loaded = Similarity.IvfPqIndex.load(s2, "ivfpq_app_spec", dir, corpus2)
    val top = loaded.searchWhere(col("vec_id") === 0).orderBy("rank").collect()
    assert(top.head.getLong(2) === 900001L, top.mkString("; "))
    assert(top.head.getDouble(3) > 0.999999)
    // same-cell invariant: a verbatim clone encodes into its twin's cell
    val cells = s2.table("ivfpq_app_spec_codes")
      .filter(col("c_id").isin(0L, 900001L))
      .select("cell").distinct().count()
    assert(cells === 1L)
  }

  test("ivf/pq standalone index save/load: new-session identity, pure-scan serving plans") {
    import org.apache.spark.sql.functions.col
    val emb = graft.Tables.embeddings(spark, sf)
    // IVF: save → drop catalog entry → load in a new session → identical
    val ivf = Similarity.IvfIndex.train(emb)
    val expIvf = ivf.search(emb.filter(col("vec_id") < 10))
      .orderBy("q_id", "rank").collect()
    val ivfDir = java.nio.file.Files.createTempDirectory("graft_ivf_idx").toString
    ivf.save("ivf_spec", ivfDir)
    val s2 = spark.newSession()
    s2.sql("DROP TABLE ivf_spec_assigned")
    val ivfLoaded = Similarity.IvfIndex.load(s2, "ivf_spec", ivfDir)
    val gotIvf = ivfLoaded.search(
      graft.Tables.embeddings(s2, sf).filter(col("vec_id") < 10))
      .orderBy("q_id", "rank")
    assert(gotIvf.collect() === expIvf)
    // serving plan reads the persisted assigned table — no re-assignment
    // of the corpus (the argmax projection over all cells is gone from
    // the candidate side; the query side still computes its probe cells)
    assert(explain(gotIvf).contains("ivf_spec_assigned"), explain(gotIvf))
    // PQ: plain-parquet code table + meta; loaded search == trained, and
    // the write-time pq_encode never appears in the serving plan
    val pq = Similarity.PqIndex.train(emb)
    val expPq = pq.search(emb.filter(col("vec_id") < 10))
      .orderBy("q_id", "rank").collect()
    val pqDir = java.nio.file.Files.createTempDirectory("graft_pq_idx").toString
    pq.save(pqDir)
    val pqLoaded = Similarity.PqIndex.load(
      s2, pqDir, graft.Tables.embeddings(s2, sf))
    val gotPq = pqLoaded.search(
      graft.Tables.embeddings(s2, sf).filter(col("vec_id") < 10))
      .orderBy("q_id", "rank")
    assert(gotPq.collect() === expPq)
    val p = explain(gotPq)
    assert(!p.contains("pq_encode"), p)
    assert(p.contains("pq_adc"), p)
  }

  test("multimodal -> ANN bridge: planted near-identical media found, distinct media not") {
    import Multimodal.{MultimodalPipeline, SyntheticMedia}
    import spark.implicits._
    // base media 0..39 (all three kinds round-robin; ids 0..15 seed the
    // IVF cells and PQ codebooks), plus one near-identical clone each of
    // media 0/1/2 at ids 100/101/102 — the last payload byte is pixel /
    // sample data in all three formats, so flipping its low bit perturbs
    // exactly one decoded unit and nothing structural
    val base = (0L until 40L).map(SyntheticMedia.build)
    val clones = base.take(3).map { r =>
      val p = r.payload.clone()
      p(p.length - 1) = (p(p.length - 1) ^ 1).toByte
      r.copy(media_id = r.media_id + 100)
        .copy(payload = p)
    }
    val media = spark.createDataset(base ++ clones)
    val out = MultimodalPipeline.mediaNearDups(media, col("vec_id") >= 100)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.map(_._1).distinct.sorted === Seq(100L, 101L, 102L))
    // each clone's rank-1 through the full IVF-PQ path (cell routing, ADC
    // shortlist, exact rerank) is its original, at cosine ~ 1
    val rank1 = out.filter(_._2 == 1).map(t => t._1 -> (t._3, t._4)).toMap
    Seq(100L, 101L, 102L).foreach { q =>
      val (c, cos) = rank1(q)
      assert(c === q - 100, s"query $q rank-1 was $c")
      assert(cos > 0.9999, s"query $q twin cosine $cos")
    }
    // ...and every distinct medium ranks STRICTLY below the twin for its
    // query. (Strict separation, not an absolute bar: the synthetic audio
    // family is genuinely self-similar — id shifts the |sawtooth| envelope
    // by a few units out of 65536, measured cosine up to 0.9999 between
    // DIFFERENT clips — which is exactly the regime where a near-dup
    // detector must still put the true twin first.)
    val nonTwin = out.filter(t => t._3 !== t._1 - 100)
    assert(nonTwin.nonEmpty)
    nonTwin.foreach { case (q, _, c, cos) =>
      assert(cos < rank1(q)._2, s"distinct pair ($q, $c) at cosine $cos " +
        s"not below the twin's ${rank1(q)._2}")
    }
  }

  test("clone base derives from max(doc_id): no aliasing when ids cross the floor") {
    import Multimodal.{MultimodalPipeline => P, SyntheticMedia}
    import spark.implicits._
    // r14 (verdict r13 #6): the old fixed CloneBase = 1e6 silently
    // aliased planted-clone ids with real media ids on a corpus whose
    // doc_ids cross 1e6. Corpus: low ids 0..14 (the cloned range) PLUS
    // real ids that straddle the floor and land exactly where the old
    // constant would have re-keyed clones (1000000 + {0, 2, 3}).
    val ids = (0L until 15L) ++ Seq(999999L, 1000000L, 1000002L, 1000003L)
    val base = spark.createDataset(ids.map(SyntheticMedia.build))
    val maxId = ids.max
    val cb = P.cloneBase(maxId)
    assert(cb === maxId + 1, s"derived base $cb must clear maxId=$maxId")
    assert(P.cloneBase(500L) === P.CloneBaseFloor,
      "below the floor the base IS the floor (registered entry unchanged)")
    val all = P.mediaWithClones(base, cb).collect()
    // clones = ids < 15 with id % 3 != 1 → 10 of them, and no media_id
    // collides: the union's ids are all distinct
    assert(all.length === ids.size + 10)
    assert(all.map(_.media_id).distinct.length === all.length,
      "clone re-keying aliased a real media id")
    // under the OLD constant the union WOULD alias (1000000+0 and
    // 1000002/3 exist as real ids) — pin the hazard this test closes
    val aliased = P.mediaWithClones(base, P.CloneBaseFloor).collect()
    assert(aliased.map(_.media_id).distinct.length < aliased.length,
      "corpus no longer reproduces the aliasing hazard; tighten the ids")
  }

  test("media near-dup serving: persisted index, catalog-dropped reload, identical results, no retrain") {
    import Multimodal.{MultimodalPipeline => P, SyntheticMedia}
    val media = spark.createDataset((0L until 40L).map(SyntheticMedia.build))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val idx = P.buildMediaIndex(media)
    val expected = P.mediaNearDupsWith(idx, col("vec_id") < 10)
      .orderBy("q_id", "rank").collect()
    // the served shape equals the per-call (retrain-every-invocation)
    // contract — training is deterministic, so the registered entry's
    // move to the cache changes cost, never results
    val perCall = P.mediaNearDups(media, col("vec_id") < 10)
      .orderBy("q_id", "rank").collect()
    assert(expected === perCall)
    // the registered entry's cache: same handle back for the same key
    assert(P.mediaIndexFor(spark, sf) eq P.mediaIndexFor(spark, sf))
    // restart scenario: save, drop the catalog entry, load in a new
    // session with a fresh embed frame as the rerank vector source
    val dir = java.nio.file.Files.createTempDirectory("graft_media_idx").toString
    idx.save("media_idx_spec", dir)
    val s2 = spark.newSession()
    s2.sql("DROP TABLE media_idx_spec_codes")
    val media2 = s2.createDataset((0L until 40L).map(SyntheticMedia.build))(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val loaded = Similarity.IvfPqIndex.load(
      s2, "media_idx_spec", dir, P.embedMedia(media2))
    val got = P.mediaNearDupsWith(loaded, col("vec_id") < 10)
      .orderBy("q_id", "rank")
    assert(got.collect() === expected)
    // no train/encode stage anywhere in the loaded serving plan: the
    // codes come off the bucketed table scan (write-time pq_encode gone)
    val p = explain(got)
    assert(!p.contains("pq_encode"), p)
    assert(p.contains("pq_adc"), p)
  }

  test("LM scoring past the broadcast ceiling: shuffle hash joins, hash-identical output") {
    // The round-6 verdict watch-item made real: lmScores/nbClassify no
    // longer hard-code broadcast(lm) — when the session disables
    // broadcasts (the stand-in for a vocab LM outgrowing the ceiling at
    // 100 TB), the vocab-scale joins re-plan as token-keyed shuffle HASH
    // joins (never sort-merge: the exploded corpus must not pay a sort)
    // and the output is row-identical to the broadcast plan.
    val names = Seq("x_text_perplexity", "x_text_nb_classify")
    val base = names.map(n => n -> SparkEntry.queries(n)(spark, sf).collect()).toMap
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      names.foreach { n =>
        val df = SparkEntry.queries(n)(spark, sf)
        val p = explain(df)
        assert(p.contains("ShuffledHashJoin"), s"$n lost the shuffle-hash fallback:\n$p")
        assert(!p.contains("SortMergeJoin"), s"$n sort-merged the corpus:\n$p")
        assert(df.collect() === base(n), s"$n: fallback output differs from broadcast plan")
      }
    } finally spark.conf.set(key, prev)
  }

  test("heavy hitters: exact, partitioning-invariant, equal to the plain group-by") {
    val docs = graft.Tables.documents(spark, sf).select("doc_id", "text")
    // the MG candidate pass is partitioning-dependent, the ANSWER is not:
    // different partition counts → identical rows
    val a = TextAnalysis.heavyHitters(docs.repartition(3)).collect().toSeq
    val b = TextAnalysis.heavyHitters(docs.repartition(11)).collect().toSeq
    assert(a === b)
    // equals the exact single-shuffle formulation it exists to avoid
    val toks = docs.select(explode(split(col("text"), " ")).as("token"))
    val n = toks.count()
    val thr = math.max(1L, math.ceil(0.002 * n).toLong)
    val exact = toks.groupBy("token").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= thr)
      .orderBy(col("cnt").desc, col("token")).collect().toSeq
    assert(a === exact)
    assert(a.nonEmpty)
    // the superset guarantee is a precondition, not a hope: capacities
    // too small for phi fail fast instead of silently dropping hitters
    assertThrows[IllegalArgumentException](
      TextAnalysis.heavyHitters(docs, phi = 0.0001, capacity = 100))
  }

  // r13 (verdict #6): the knnJoinLsh zero-recall rescue's FIRING path,
  // not just its dormant happy path. Corpus: a tight 50-vector bundle
  // (dense, mutually colliding under SRP banding) plus orthogonal
  // one-hot outliers whose hyperplane signs decorrelate from the bundle
  // — at bits=16 an orthogonal pair agrees per bucket with prob
  // ~0.5^16, so the outliers band with (nearly) nobody and classify as
  // detectably short (< k banded neighbors). Deterministic end to end:
  // fixed seed 42 plane sequence, fixed data.
  private def rescueCorpus(nOutliers: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val dim = 64
    val bundle = (0 until 50).map { i =>
      (100L + i, Array.tabulate(dim)(j =>
        (math.sin(j * 0.37) + 0.01 * math.sin(i * 7.3 + j)).toFloat))
    }
    val outliers = (0 until nOutliers).map { i =>
      (i.toLong, Array.tabulate(dim)(j => if (j == i) 1.0f else 0.0f))
    }
    (outliers ++ bundle).toDF("vec_id", "embedding")
  }

  test("lsh rescue FIRES: an SRP-isolated query gets exact brute-force top-k") {
    val vecs = rescueCorpus(1)
    // precondition of the scenario: with the rescue OFF the outlier is
    // genuinely short (< k banded neighbors) — otherwise this test
    // would pass vacuously through the banded path
    val raw = Similarity.knnJoinLsh(vecs, k = 3, tables = 8, bits = 16,
      rescueCap = 0)
    assert(raw.filter(col("q_id") === 0L).count() < 3,
      "outlier was not SRP-isolated; tighten the corpus")
    // with the rescue on, the detectably-short query comes back FULL
    // and EXACT: identical rows to the brute-force k-NN join
    val got = Similarity.knnJoinLsh(vecs, k = 3, tables = 8, bits = 16)
      .filter(col("q_id") === 0L).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val exact = Similarity.knnJoin(vecs, k = 3)
      .filter(col("q_id") === 0L).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.length === 3)
    assert(got === exact)
  }

  test("lsh rescue cap overflow: lowest q_ids rescued, the rest partial-or-absent") {
    val vecs = rescueCorpus(3)
    // all three outliers are detectably short with the rescue off
    val raw = Similarity.knnJoinLsh(vecs, k = 3, tables = 8, bits = 16,
      rescueCap = 0)
    val shortIds = raw.groupBy("q_id").count().filter(col("count") < 3)
      .select("q_id").collect().map(_.getLong(0)).toSet
    val absentIds = (0L until 3L).toSet -- raw.select("q_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert((shortIds ++ absentIds).intersect(Set(0L, 1L, 2L)) === Set(0L, 1L, 2L),
      s"outliers not all short: short=$shortIds absent=$absentIds")
    // cap = 1: only the lowest q_id (0) is rescued to full exact top-k;
    // 1 and 2 stay at their banded partials — or absent entirely if
    // they banded with nobody (the partial-or-absent residual contract)
    val capped = Similarity.knnJoinLsh(vecs, k = 3, tables = 8, bits = 16,
      rescueCap = 1)
    val exact0 = Similarity.knnJoin(vecs, k = 3)
      .filter(col("q_id") === 0L).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val got0 = capped.filter(col("q_id") === 0L).orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got0 === exact0)
    Seq(1L, 2L).foreach { q =>
      assert(capped.filter(col("q_id") === q).count() < 3,
        s"over-cap query $q came back full — the cap did not bound the rescue")
    }
  }

  // r14 (verdict r13 #1): the knnJoinLsh vector-rejoin broadcast bound is
  // ENFORCED, not comment-only — past it the operator fails loudly with
  // the route-to-IVF/PQ message instead of OOMing an executor mid-job.
  test("lsh broadcast bound: over-bound corpus fails loudly with the routing message") {
    val vecs = rescueCorpus(1)   // 51 rows x (4*64+8)B = 13,464 B
    try {
      // bound below the corpus footprint: plan construction must refuse,
      // both with explicit bits (limit-probe path) and auto (count path)
      Seq(16, -1).foreach { b =>
        val e = intercept[IllegalArgumentException](
          Similarity.knnJoinLsh(vecs, k = 3, tables = 8, bits = b,
            broadcastBound = 50L * (4 * 64 + 8)))
        assert(e.getMessage.contains("knnJoinIvf"), e.getMessage)
        assert(e.getMessage.contains("broadcastBound"), e.getMessage)
      }
      // at exactly the corpus footprint the guard admits the plan
      assert(Similarity.knnJoinLsh(vecs, k = 3, tables = 8, bits = 16,
        broadcastBound = 51L * (4 * 64 + 8)).count() > 0)
      // -1 disables the guard entirely
      assert(Similarity.knnJoinLsh(vecs, k = 3, tables = 8, bits = 16,
        broadcastBound = -1).count() > 0)
    } finally Similarity.sweepAnnCaches()
  }

  // Auto bits are ONE formula, clamp(round(log2(n / targetBucket)), 4, 24),
  // from a single count. The pins are the registered sf0.1 corpus (2000
  // vectors: the legacy 8 for the k-NN join, 6 for the ANN entry's
  // denser target) and the CROSSOVER §1 clustered ladder rungs.
  test("auto-bits: clamp(round(log2(n / targetBucket)), 4, 24); explicit bits skip the count") {
    def bitsAt(n: Long): Int =
      Similarity.resolveBits(-1, () => n, targetBucket = 8)
    assert(bitsAt(2000L) === 8)
    assert(bitsAt(10000L) === 10)
    assert(bitsAt(25000L) === 12)
    assert(bitsAt(150000L) === 14)
    assert(bitsAt(400000L) === 16)
    assert(bitsAt(1000000L) === 17)
    assert(bitsAt(2L) === 4)
    assert(bitsAt(1L << 40) === 24)
    assert(Similarity.resolveBits(-1, () => 2000L, targetBucket = 32) === 6)
    // explicit bits bypass the count entirely (the plan stays lazy)
    assert(Similarity.resolveBits(11, () => fail("must not count"), 8) === 11)
  }

  // Auto bits cost the count and nothing else at plan construction —
  // also on an isotropic corpus past 2k vectors, where no corpus probe
  // may run. A bare count is the reference: under AQE it is two jobs.
  test("knnJoinLsh auto bits on a 10k isotropic corpus: construction runs only the count") {
    val vecs = Crossover.isotropicEmbeddings(spark, 10000L)
      .localCheckpoint(true)
    try {
      val countJobs = jobsDuring(vecs.count())._2
      val buildJobs = jobsDuring(Similarity.knnJoinLsh(vecs, k = 3))._2
      info(s"count: $countJobs job(s); knnJoinLsh construction: $buildJobs")
      assert(countJobs >= 1)
      assert(buildJobs === countJobs,
        s"building knnJoinLsh ran $buildJobs jobs; one count runs $countJobs")
    } finally {
      Similarity.sweepAnnCaches()
      vecs.unpersist()
    }
  }

  // end-to-end registered-point invariance: on a corpus at the anchor
  // scale auto must resolve the same width as the legacy explicit 8, so
  // the default knnJoinLsh plan (and the RECALL block) cannot move under
  // the regime switch.
  test("knnJoinLsh auto == explicit 8 bits at the anchor-scale corpus") {
    val vecs = Crossover.isotropicEmbeddings(spark, 2000L)
      .localCheckpoint(true)
    try {
      val auto = Similarity.knnJoinLsh(vecs, k = 3, tables = 8, bits = -1)
        .collect().toSet
      val fixed = Similarity.knnJoinLsh(vecs, k = 3, tables = 8, bits = 8)
        .collect().toSet
      assert(auto === fixed)
    } finally Similarity.sweepAnnCaches()
  }
}
