package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.Ontology
import graft.ner.{Ensembles, EnsemblesRaw, Tagged}
import NerLabels.{names, spans, tagged, types}

class EnsembleSpec extends AnyFunSuite {

  // 4 equal-weight models over a 6-char sentence; weights normalized per type
  // (multi_ner_prediction.py:139-159 ⇒ Σ_models w(m)(t) = 1)
  val w: Map[String, Array[Double]] = Ensembles.weightsIdx(
    Seq("kd", "a", "c", "d").map { m =>
      m -> Map("DIS" -> 0.25, "SYM" -> 0.25)
    }.toMap)

  def seq(tags: String*): Tagged = tagged(tags, tags.map(_ => 0.8))

  def run(pred: Map[String, Tagged]): EnsemblesRaw.Result =
    EnsemblesRaw.run(pred, w)

  /** Voting models of each kept span, by name. */
  def models(r: EnsemblesRaw.Result, pred: Map[String, Tagged]): Seq[Seq[String]] =
    r.modelMasks.toSeq.map(
      EnsemblesRaw.modelNames(_, Ontology.models.filter(pred.contains)))

  test("majority (ensemble_strong) keeps spans with >=2 distinct models (EnsemblePredict_all.py:362-366)") {
    val pred = Map(
      "a" -> seq("B-DIS", "I-DIS", "O", "O", "O", "O"),
      "kd" -> seq("B-DIS", "I-DIS", "O", "O", "B-SYM", "I-SYM"),
      "c" -> seq("O", "O", "O", "O", "O", "O"),
      "d" -> seq("O", "O", "O", "O", "O", "O")
    )
    val r = run(pred)
    // DIS span seen by a+kd → kept; SYM span only by kd → dropped
    assert(spans(r.boundaries) == Seq((0, 2)))
    assert(types(r.typeIdxs) == Seq("DIS"))
    assert(models(r, pred) == Seq(Seq("a", "kd")))
    assert(names(r.strong.labels) ==
      Seq("B-DIS", "I-DIS", "O", "O", "O", "O"))
  }

  test("votes accept type iff weighted sum >= 0.2 (EnsemblePredict_all.py:277-284)") {
    // only one model (weight .25) tags char 0 → 0.25 >= 0.2 → accepted;
    // max-key including O = 1 - 0.25 = 0.75 → O wins! So char stays O.
    val pred = Map(
      "a" -> seq("B-DIS", "O"),
      "kd" -> seq("O", "O"),
      "c" -> seq("O", "O"),
      "d" -> seq("O", "O")
    )
    val r = run(pred)
    assert(names(r.votes.labels) == Seq("O", "O"))
    // three models agree → 0.75 beats O's 0.25 → accepted
    val pred2 = Map(
      "a" -> seq("B-DIS", "O"),
      "kd" -> seq("B-DIS", "O"),
      "c" -> seq("B-DIS", "O"),
      "d" -> seq("O", "O")
    )
    val r2 = run(pred2)
    assert(names(r2.votes.labels).head == "B-DIS")
  }

  test("union: base model a wins conflicts; others fill O gaps (:289-317)") {
    val pred = Map(
      "a" -> seq("B-DIS", "I-DIS", "O", "O"),
      "kd" -> seq("B-SYM", "I-SYM", "I-SYM", "O"), // conflicts on 0-1, fills 2
      "c" -> seq("O", "O", "O", "O"),
      "d" -> seq("O", "O", "O", "O")
    )
    val r = run(pred)
    assert(names(r.union.labels) == Seq("B-DIS", "I-DIS", "B-SYM", "O"))
  }

  test("union probabilities: min for votes path, max when filling union gaps") {
    val pred = Map(
      "a" -> tagged(Seq("B-DIS", "O"), Seq(0.9, 0.2)),
      "kd" -> tagged(Seq("B-DIS", "B-SYM"), Seq(0.5, 0.7)),
      "c" -> tagged(Seq("O", "O"), Seq(0.1, 0.1)),
      "d" -> tagged(Seq("O", "O"), Seq(0.1, 0.1))
    )
    val r = run(pred)
    // votes prob = min over non-O models' probs seeded with a's (0.9 min 0.5)
    assert(r.votes.probs(0) == 0.5)
    // union char 1 filled by kd with max(0.2, 0.7)
    assert(r.union.probs(1) == 0.7)
  }
}
