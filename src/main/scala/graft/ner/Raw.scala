package graft.ner

import graft.model.Ontology
import scala.collection.mutable.ArrayBuffer

/** Primitive-array representation of a tagged sentence — the 100 TB hot-path
  * format. Labels are ints into [[CrfScorer.Labels]]: 0 = O, type k has
  * B = 1+2k and I = 2+2k. String labels exist only at span boundaries
  * (mention surfaces), never per char: the per-char tuple/split("-")
  * allocation of the naive form dominated memory bandwidth at 16+ threads.
  */
final case class Tagged(labels: Array[Int], probs: Array[Double]) {
  def length: Int = labels.length
}

object Tagged {
  def typeIdxOf(label: Int): Int = if (label == 0) -1 else (label - 1) >> 1
  def isB(label: Int): Boolean = (label & 1) == 1
  def bOf(typeIdx: Int): Int = 1 + 2 * typeIdx
  def iOf(typeIdx: Int): Int = 2 + 2 * typeIdx
}

/** BIO span decoding (reference P8) on int labels. The reference copies its
  * BIO helpers into four files (multi_ner_prediction.py:47-61, 174-185,
  * 220-280; EnsemblePredict_all.py:98-222; app_multi.py:45-139); here they
  * live once. The `post_processing` retag (type sequence → BIO) is
  * [[EnsemblesRaw.typesToBio]].
  *
  * All functions are row-local (one sentence per row) — never Spark windows.
  */
object BioRaw {

  /** State-machine port of `get_positions` (EnsemblePredict_all.py:162-222,
    * copies in multi_ner_prediction.py:220-280 and app_multi.py): a BIO
    * label sequence → (typeIdxs, packed [start, end) spans).
    *
    * Deliberately replicated quirk: the reference only marks a span as
    * closable (`waiting = True`) when an I- tag is seen or when a B- directly
    * follows a previous span — so an isolated single-character entity
    * (B- followed by O, or B- at end-of-sequence) is DROPPED. Parity over
    * "correctness"; the unit tests pin this behavior.
    */
  def getPositions(labels: Array[Int]): (Array[Int], Array[Long]) = {
    val types = new ArrayBuffer[Int]
    val spans = new ArrayBuffer[Long]
    val lenSeq = labels.length - 1
    var waiting = false
    var typeWaiting = -1
    var start = 0
    def close(end: Int): Unit = {
      spans += ((start.toLong << 32) | (end.toLong & 0xffffffffL))
      types += typeWaiting
    }
    var ie = 0
    while (ie <= lenSeq) {
      val l = labels(ie)
      if (l != 0 && !Tagged.isB(l)) { // I-
        if (ie != lenSeq) waiting = true
        else close(ie + 1)
      } else if (ie == lenSeq && l == 0) {
        if (waiting) close(ie)
      } else if (l != 0) { // B-
        if (waiting) { close(ie); waiting = true }
        typeWaiting = Tagged.typeIdxOf(l)
        start = ie
      } else { // O mid-sentence
        if (waiting) { waiting = false; close(ie) }
      }
      ie += 1
    }
    (types.toArray, spans.toArray)
  }

  def spanStart(s: Long): Int = (s >>> 32).toInt
  def spanEnd(s: Long): Int = (s & 0xffffffffL).toInt
}

/** The three model-ensemble methods (reference A6–A8), ported from
  * `multi_labeling` (EnsemblePredict_all.py:226-395; identical copies in
  * multi_ner_prediction.py:437-568 and app_multi.py:170-253), on int labels
  * and allocation-free per char.
  *
  * All row-local: one sentence per call, arrays only — in Spark these run
  * inside a single narrow `mapPartitions` stage, no shuffle (SURVEY.md §2.5's
  * key observation: cross-row dependencies exist only at joins on `ind`).
  */
object EnsemblesRaw {

  /** Mirrors the pred_dict keys the reference adds: ensemble_votes /
    * ensemble_union / ensemble_strong (+ boundary, models, types for the
    * strong method).
    */
  final case class Result(
      votes: Tagged,
      union: Tagged,
      strong: Tagged,
      boundaries: Array[Long], // packed spans
      modelMasks: Array[Int], // bitmask over modelOrder per kept span
      typeIdxs: Array[Int]
  )

  /** @param pred       model code → per-char labels; must contain "a"
    *                   (the base model, per EnsemblePredict_all.py:252).
    * @param weightsIdx model → per-typeIdx vote weight (dense array, from
    *                   [[Ensembles.weightsIdx]]; multi_ner_prediction.py:139-159
    *                   normalization: per type, weight = strict_precision /
    *                   Σ strict_precision, so Σ_models weights(m)(t) = 1).
    * @param modelOrder iteration order over models (the reference iterates a
    *                   Python dict; we pin kd,a,c,d for determinism).
    */
  def run(
      pred: Map[String, Tagged],
      weightsIdx: Map[String, Array[Double]],
      modelOrder: Seq[String] = Ontology.models
  ): Result = {
    val base = pred("a")
    val n = base.length
    val nT = CrfScorer.Types.length
    val models = modelOrder.filter(pred.contains).toArray
    val nM = models.length
    val predArr = models.map(pred)
    val wArr = models.map(weightsIdx)

    // ---- A6 weighted vote ----
    val probIntersect = base.probs.clone()
    val voteScore = new Array[Double](n * nT)
    // insertion order of types per char: up to nM entries, packed bytes
    val insOrder = new Array[Byte](n * nM)
    val insCount = new Array[Byte](n)
    var m = 0
    while (m < nM) {
      val t = predArr(m)
      val w = wArr(m)
      var i = 0
      while (i < n) {
        val l = t.labels(i)
        if (l != 0) {
          val ti = Tagged.typeIdxOf(l)
          // essential types only — all scorer labels are essential by
          // construction, but ti bounds-check keeps it safe
          if (ti >= 0 && ti < nT) {
            if (voteScore(i * nT + ti) == 0.0) {
              insOrder(i * nM + insCount(i)) = ti.toByte
              insCount(i) = (insCount(i) + 1).toByte
            }
            voteScore(i * nT + ti) += w(ti)
            val p = t.probs(i)
            if (p < probIntersect(i)) probIntersect(i) = p
          }
        }
        i += 1
      }
      m += 1
    }
    val voteTypes = new Array[Int](n) // typeIdx or -1
    var i = 0
    while (i < n) {
      val k = insCount(i)
      if (k == 0) voteTypes(i) = -1
      else {
        // argmax over insertion order, then O = 1 - sum (first max wins,
        // EnsemblePredict_all.py:276-284)
        var sum = 0.0
        var bestT = -2
        var bestV = Double.NegativeInfinity
        var j = 0
        while (j < k) {
          val ti = insOrder(i * nM + j)
          val v = voteScore(i * nT + ti)
          sum += v
          if (v > bestV) { bestV = v; bestT = ti }
          j += 1
        }
        val oScore = 1.0 - sum
        // O appended last: replaces best only if strictly greater
        if (oScore > bestV) bestT = -1
        voteTypes(i) = if (bestT >= 0 && bestV >= 0.2) bestT else -1
      }
      i += 1
    }
    val votes = Tagged(typesToBio(voteTypes), probIntersect)

    // ---- A7 union ----
    val unionTypes = new Array[Int](n)
    val probUnion = base.probs.clone()
    i = 0
    while (i < n) {
      unionTypes(i) = Tagged.typeIdxOf(base.labels(i))
      i += 1
    }
    m = 0
    while (m < nM) {
      val t = predArr(m)
      var j = 0
      while (j < n) {
        val l = t.labels(j)
        if (l != 0) {
          val ti = Tagged.typeIdxOf(l)
          if (ti != unionTypes(j) && unionTypes(j) == -1) {
            val p = t.probs(j)
            if (p > probUnion(j)) probUnion(j) = p
            unionTypes(j) = ti
          }
        }
        j += 1
      }
      m += 1
    }
    val unionBio = typesToBio(unionTypes)
    val union = Tagged(unionBio, probUnion)

    // ---- A8 majority over union spans ----
    val (cTypes, positions) = BioRaw.getPositions(unionBio)
    val nSpans = positions.length
    // char → span index lookup
    val spanOf = new Array[Int](n)
    java.util.Arrays.fill(spanOf, -1)
    var si = 0
    while (si < nSpans) {
      var c = BioRaw.spanStart(positions(si))
      val e = math.min(BioRaw.spanEnd(positions(si)), n)
      while (c < e) { spanOf(c) = si; c += 1 }
      si += 1
    }
    val probCombined = base.probs.clone()
    val spanMask = new Array[Int](nSpans)
    m = 0
    while (m < nM) {
      val t = predArr(m)
      var j = 0
      while (j < n) {
        if (t.labels(j) != 0) {
          val p = t.probs(j)
          if (p > probCombined(j)) probCombined(j) = p
          val s = spanOf(j)
          if (s >= 0) spanMask(s) |= (1 << m)
        }
        j += 1
      }
      m += 1
    }
    val keptB = new ArrayBuffer[Long]
    val keptMask = new ArrayBuffer[Int]
    val keptType = new ArrayBuffer[Int]
    val strongLabels = new Array[Int](n)
    si = 0
    while (si < nSpans) {
      if (Integer.bitCount(spanMask(si)) >= 2) {
        keptB += positions(si)
        keptMask += spanMask(si)
        keptType += cTypes(si)
        val s = BioRaw.spanStart(positions(si))
        val e = math.min(BioRaw.spanEnd(positions(si)), n)
        if (s < n) strongLabels(s) = Tagged.bOf(cTypes(si))
        var c = s + 1
        while (c < e) { strongLabels(c) = Tagged.iOf(cTypes(si)); c += 1 }
      }
      si += 1
    }
    Result(votes, union, Tagged(strongLabels, probCombined),
      keptB.toArray, keptMask.toArray, keptType.toArray)
  }

  /** post_processing on type indices (-1 = O): B on type change, I on run. */
  def typesToBio(types: Array[Int]): Array[Int] = {
    val out = new Array[Int](types.length)
    var prev = -1
    var i = 0
    while (i < types.length) {
      val t = types(i)
      out(i) =
        if (t < 0) 0
        else if (t != prev) Tagged.bOf(t)
        else Tagged.iOf(t)
      prev = t
      i += 1
    }
    out
  }

  def modelNames(mask: Int, modelOrder: Seq[String]): Seq[String] = {
    val out = Seq.newBuilder[String]
    var m = 0
    while (m < modelOrder.length) {
      if ((mask & (1 << m)) != 0) out += modelOrder(m)
      m += 1
    }
    out.result().sorted
  }
}
