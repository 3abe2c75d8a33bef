package graft.api

import graft.TestSpark
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Pins the NB quality classifier: separation on a planted corpus, the
  * prior, determinism, and the degenerate-class guard. */
class QualityClassifierSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpus = Seq(
    (0L, "alpha alpha quality curated prose", true),
    (1L, "curated alpha writing quality text", true),
    (2L, "quality curated alpha essay", true),
    (3L, "spam spam click buy now", false),
    (4L, "buy spam click click offer", false),
    (5L, "offer spam buy now click", false),
    (6L, "alpha quality curated unseen doc", true),
    (7L, "click buy spam unseen doc", false)
  ).toDF("doc_id", "text", "is_seed")

  test("trainScore separates the planted classes; score sign = class") {
    val scored = QualityClassifier
      .trainScore(corpus, "text", col("is_seed"), buckets = 256)
      .select("doc_id", "nb_score", "is_seed")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    val (pos, neg) = scored.partition(_._3)
    assert(pos.map(_._2).min > neg.map(_._2).max)
    assert(pos.forall(_._2 > 0.0) && neg.forall(_._2 < 0.0))
  }

  test("scores are bit-deterministic across runs") {
    def run() = QualityClassifier
      .trainScore(corpus.repartition(5), "text", col("is_seed"), buckets = 256)
      .orderBy("doc_id").select("nb_score").as[Double].collect().toSeq
    assert(run() == run())
  }

  test("prior: ln(nPos) - ln(nNeg); featureless doc scores the prior alone") {
    assert(QualityClassifier.nbPrior(8, 8) == 0.0)
    val lo = Array.fill(16)(0.5)
    val scored = QualityClassifier
      .nbScore(Seq((0L, ""), (1L, null)).toDF("doc_id", "text"), "text", lo,
        prior = 1.25)
      .orderBy("doc_id").select("nb_score").as[Double].collect()
    // NULL text is a featureless doc, not a NULL score
    assert(scored.toSeq == Seq(1.25, 1.25))
  }

  test("empty class fails loudly (no silent one-sided model)") {
    intercept[IllegalArgumentException] {
      QualityClassifier.trainScore(corpus, "text", col("doc_id") >= 0, 256)
    }
    intercept[IllegalArgumentException] {
      QualityClassifier.nbPrior(0, 5)
    }
    intercept[IllegalArgumentException] {
      QualityClassifier.trainScore(corpus, "text", col("is_seed"), buckets = 1)
    }
  }
}
