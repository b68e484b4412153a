package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ner.Confidence
import NerLabels.tagged

/** Exact-value checks of the A9 confidence formulas
  * (EnsemblePredict_all.py:526-529 single-model, :549-552 ensemble).
  */
class ConfidenceSpec extends AnyFunSuite {

  val dsEval: Map[String, Map[String, Array[Double]]] = Map(
    "a" -> Map("DIS" -> Array(0.8, 0.9, 0.7, 0.95)),
    "kd" -> Map("DIS" -> Array(0.6, 0.85, 0.65, 0.9))
  )

  test("single model: prob_k = mean(charProbs) × eval[model][type][k]") {
    // span [1,3): probs 0.4, 0.6 → mean 0.5
    val t = tagged(Seq("O", "B-DIS", "I-DIS", "O"),
      Seq(0.1, 0.4, 0.6, 0.1))
    val rows = Confidence.entityRowsRaw(7L, "a", t, "x高血y", dsEval, 4)
    assert(rows.size == 1)
    val r = rows.head
    assert(r.entName == "高血" && r.start == 1 && r.end == 3)
    assert(math.abs(r.prob - 0.5 * 0.8) < 1e-12)
    assert(math.abs(r.probPartial - 0.5 * 0.9) < 1e-12)
    assert(math.abs(r.probExact - 0.5 * 0.7) < 1e-12)
    assert(math.abs(r.probType - 0.5 * 0.95) < 1e-12)
  }

  test("ensemble: prob_k = mean × (max(c_k) + (1−max(c_k))·|voters|/(2M))") {
    val t = tagged(Seq("B-DIS", "I-DIS", "I-DIS"), Seq(0.3, 0.6, 0.9))
    // mean = 0.6; voters a+kd of M=4 models
    val rows = Confidence.entityRowsRaw(8L, "ensemble_strong", t, "高血压",
      dsEval, 4, Map((0, 3) -> Seq("a", "kd")))
    val r = rows.head
    def expected(k: Int): Double = {
      val mx = math.max(dsEval("a")("DIS")(k), dsEval("kd")("DIS")(k))
      0.6 * (mx + (1 - mx) * 2.0 / 8.0)
    }
    assert(math.abs(r.prob - expected(0)) < 1e-12)
    assert(math.abs(r.probPartial - expected(1)) < 1e-12)
    assert(math.abs(r.probExact - expected(2)) < 1e-12)
    assert(math.abs(r.probType - expected(3)) < 1e-12)
  }

  test("ensemble span with no recorded voters falls back to the bare mean") {
    val t = tagged(Seq("B-DIS", "I-DIS"), Seq(0.2, 0.4))
    val rows = Confidence.entityRowsRaw(9L, "ensemble_strong", t, "高血",
      dsEval, 4, Map.empty)
    assert(math.abs(rows.head.prob - 0.3) < 1e-12)
  }

  test("single-char mentions never reach confidence (getPositions drop quirk)") {
    val t = tagged(Seq("B-DIS", "O", "O"), Seq(0.9, 0.1, 0.1))
    assert(Confidence.entityRowsRaw(10L, "a", t, "高xy", dsEval, 4).isEmpty)
  }
}
