package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** ScalaCheck characterization of the capped-posting ngram contract on
  * RANDOM corpora: the ExtSpec binding-cap fixture proves one hand-built
  * case; these properties pin the full semantics —
  *
  *   capped(cap) == { exact pairs sharing >= 1 NON-hot shingle },
  *   with every emitted score the exact Jaccard
  *
  * — against an independent plain-Scala reference (shingle sets, doc
  * freqs, pairwise Jaccard computed with Scala collections, no Spark).
  * This is the precise miss-condition stated in the scaladoc ("pairs are
  * missed only when ALL their shared shingles are hot") upgraded from
  * prose to a fuzzed equality, exercising the hot-set anti-join, the
  * Jaccard upper-bound filter's soundness, and the exact re-verify
  * under every random corpus drawn. A tiny alphabet forces dense shingle
  * sharing; caps 1-4 bind constantly. */
object DedupCapProps extends Properties("graft.dedupcap") {
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SparkSpec.session

  // >= 3 tokens per doc (the shingle short-doc edge is pinned elsewhere;
  // here every doc has proper trigrams), tiny alphabet => heavy sharing
  private val word = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
  private val docsGen: Gen[List[(Long, String)]] = for {
    n <- Gen.choose(2, 10)
    texts <- Gen.listOfN(n, for {
      len <- Gen.choose(3, 7)
      toks <- Gen.listOfN(len, word)
    } yield toks.mkString(" "))
  } yield texts.zipWithIndex.map { case (t, i) => ((i + 1).toLong, t) }

  private def shingles(text: String): Set[String] = {
    val toks = text.split(" ")
    (0 to toks.length - 3).map(i => toks.slice(i, i + 3).mkString(" ")).toSet
  }

  /** The engine emits `round(jaccard, 6)`: Spark rounds a double HALF_UP
    * through its decimal string, so the reference does too (an unrounded
    * 2/3 differs from the emitted 0.666667 by 3.3e-7). */
  private def roundedScore(j: Double): Double =
    BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def collectPairs(df: org.apache.spark.sql.DataFrame)
      : Map[(Long, Long), Double] =
    df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap

  property("capped == exact pairs with a non-hot shared shingle, scores exact") =
    forAll(docsGen, Gen.choose(1, 4)) { (docs, cap) =>
      import spark.implicits._
      val df = docs.toDF("doc_id", "text")
      val exactGot = collectPairs(graft.ext.Dedup.ngramJaccardNaive(spark, df))
      val cappedGot = collectPairs(
        graft.ext.Dedup.ngramJaccardNaive(spark, df, maxPosting = cap))

      val sh = docs.map { case (id, t) => id -> shingles(t) }.toMap
      val hot = sh.values.flatten.toSeq.groupBy(identity)
        .collect { case (s, occ) if occ.size > cap => s }.toSet
      val ids = docs.map(_._1).sorted
      val exactRef = (for {
        a <- ids; b <- ids if a < b
        inter = sh(a).intersect(sh(b)).size
        j = inter.toDouble / (sh(a).size + sh(b).size - inter)
        if j >= 0.5
      } yield (a, b) -> roundedScore(j)).toMap
      val cappedRef = exactRef.filter { case ((a, b), _) =>
        sh(a).intersect(sh(b)).exists(!hot.contains(_))
      }

      def matches(got: Map[(Long, Long), Double],
          ref: Map[(Long, Long), Double]): Boolean =
        got.keySet == ref.keySet &&
          ref.forall { case (k, j) => math.abs(got(k) - j) < 1e-9 }

      matches(exactGot, exactRef) && matches(cappedGot, cappedRef)
    }
}
