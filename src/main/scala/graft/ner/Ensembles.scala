package graft.ner

/** Vote weights for the model ensembles; the A6–A8 methods themselves are
  * [[EnsemblesRaw]].
  */
object Ensembles {

  /** model → per-typeIdx dense weight array (indexed like CrfScorer.Types). */
  def weightsIdx(
      weights: Map[String, Map[String, Double]]
  ): Map[String, Array[Double]] =
    weights.map { case (m, byType) =>
      m -> CrfScorer.Types.map(t => byType.getOrElse(t, 0.0)).toArray
    }
}
