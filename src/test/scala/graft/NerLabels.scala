package graft

import graft.ner.{BioRaw, CrfScorer, Tagged}

/** String views of the int-label NER API, so specs can state label
  * sequences the way the reference writes them ("O", "B-DIS", "I-DIS").
  */
object NerLabels {

  /** Label strings → label ids through [[CrfScorer.labelIndex]]. */
  def ids(labels: Seq[String]): Array[Int] =
    labels.map(CrfScorer.labelIndex).toArray

  def tagged(labels: Seq[String], probs: Seq[Double]): Tagged =
    Tagged(ids(labels), probs.toArray)

  def names(labels: Array[Int]): Seq[String] =
    labels.toSeq.map(CrfScorer.Labels(_))

  def types(typeIdxs: Array[Int]): Seq[String] =
    typeIdxs.toSeq.map(CrfScorer.Types(_))

  /** Packed spans as [start, end) pairs. */
  def spans(packed: Array[Long]): Seq[(Int, Int)] =
    packed.toSeq.map(s => (BioRaw.spanStart(s), BioRaw.spanEnd(s)))
}
