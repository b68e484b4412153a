package graftbench

import java.lang.management.ManagementFactory
import graft.corpus.{Corpus, Fixtures, Vocab}
import graft.dict.Gazetteer
import graft.extract.{Extract, HtmlText}
import graft.merge.{Merge, RulesMerging}
import graft.model._
import graft.ner._
import graft.pipeline.Annotate

/** Single-thread pass over the public per-sentence functions of the fused
  * annotate stage, timed from outside: each step is called in the order
  * `Annotate.annotateOne` calls it and its time is summed per step. A
  * separate loop times `annotateOne` itself, so `step_coverage` (sum of the
  * steps over annotate time) shows how much of annotate the named steps
  * explain.
  */
object SentencePass {
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** Pages `Corpus.page(i)` for i from `firstPage`, extracted the way
    * `Extract.sectionsOf` / `sentencesOf` do. Returns the sentences and the
    * extract time in ns for the zh pages (the only ones extract works on).
    */
  def extract(firstPage: Long, nPages: Int): (Seq[SentenceRow], Long, Int) = {
    val pages = (firstPage until firstPage + nPages).map(Corpus.page)
    val zh = pages.filter(_.lang == "zh")
    val t0 = System.nanoTime()
    val sents = zh.flatMap { p =>
      val text = HtmlText.extract(p.html)
      val firstLine = text.takeWhile(_ != '\n')
      val source =
        if (p.url.contains("/med/c/")) "c"
        else if (p.url.contains("/med/m/")) "m"
        else if (firstLine.startsWith("临床")) "c"
        else "m"
      Extract.sections(p.url, firstLine, source, text).flatMap(Extract.sentences)
    }
    (sents, System.nanoTime() - t0, zh.size)
  }

  def context(): Annotate.Ctx = {
    val trie = Gazetteer.buildTrie(Vocab.jiebaDict)
    Annotate.Ctx(trie, CrfScorer.productionScorers(trie), Fixtures.modelWeights,
      Ensembles.weightsIdx(Fixtures.modelWeights), Fixtures.evalMatrix,
      Vocab.refinedDict.keySet, Merge.SuffixSets.from(Vocab.suffixDict))
  }

  val stepNames: Seq[String] = Seq("dict", "scan", "predict", "ensemble",
    "confidence", "boundary", "ner_seg", "round1", "round2", "rules")

  /** One stepped walk over `sents`; adds each step's ns into `acc`. */
  private def stepped(sents: Seq[SentenceRow], ctx: Annotate.Ctx,
      acc: Array[Long]): Unit = {
    import ctx._
    var t = 0L
    def lap(i: Int): Unit = { val n = System.nanoTime(); acc(i) += n - t; t = n }
    val numModels = scorers.size
    sents.foreach { sr =>
      val sent = sr.sentence
      val dsEval = eval.getOrElse(sr.source, eval("m"))
      t = System.nanoTime()
      val seg = Gazetteer.tokenize(trie, sent).map { tk =>
        tk.copy(tag = Ontology.jiebaReverse.getOrElse(tk.tag, "x"))
      }
      val dictRows = seg.filter(_.tag != "x").map { tk =>
        val (prob, model) =
          if (refined.contains(tk.word)) (0.95, "refined_dictionary")
          else (0.9, "other_dictionary")
        EntityRow(sr.ind, model, tk.word, tk.tag, tk.start, tk.end,
          prob, prob, prob, prob)
      }
      lap(0)
      val matches = CrfScorer.dictScan(trie, sent)
      lap(1)
      val pred = scorers.map(sc => sc.model -> sc.predictRaw(sent, matches)).toMap
      lap(2)
      val modelOrder = Ontology.models.filter(pred.contains)
      val ens = EnsemblesRaw.run(pred, weightsIdx)
      val ensembleMentions = Spans.normalize(
        ens.boundaries.toSeq.zip(ens.typeIdxs.toSeq).map { case (span, ti) =>
          val s = BioRaw.spanStart(span)
          val e2 = math.min(BioRaw.spanEnd(span), sent.length)
          Mention(sent.substring(s, e2), CrfScorer.Types(ti), s, e2, 0.0, 0.0)
        })
      lap(3)
      val spanModels = ens.boundaries.toSeq.zip(ens.modelMasks.toSeq)
        .map { case (span, mask) =>
          (BioRaw.spanStart(span), BioRaw.spanEnd(span)) ->
            EnsemblesRaw.modelNames(mask, modelOrder)
        }.toMap
      scorers.foreach { sc =>
        Confidence.entityRowsRaw(sr.ind, sc.model, pred(sc.model), sent,
          dsEval, numModels)
      }
      val strongRows = Confidence.entityRowsRaw(sr.ind, "ensemble_strong",
        ens.strong, sent, dsEval, numModels, spanModels)
      lap(4)
      val stripped = strongRows.map { r =>
        val (w, s, e) = Boundary.strip(r.entName, r.start, r.end)
        r.copy(entName = w, start = s, end = e)
      }
      lap(5)
      val mns = Merge.mergeNerSeg(seg, ensembleMentions)
      lap(6)
      val r1 = Merge.round1(sent, mns)
      lap(7)
      val merged = Merge.round2(sent, r1, suffixSets)
      lap(8)
      RulesMerging.entityRows(sr.ind, sent, merged,
        stripped.filter(_.entName.nonEmpty)
          .map(r => RulesMerging.SpanProb(r.entName, r.start, r.end, r.prob)),
        dictRows.map(r => RulesMerging.SpanProb(r.entName, r.start, r.end, r.prob)))
      lap(9)
    }
  }

  /** Per-layer figures of the pass over `nPages` pages from `firstPage`. */
  def run(firstPage: Long, nPages: Int, reps: Int): Map[String, Double] = {
    val ctx = context()
    val (sents, extractNs, zhPages) = extract(firstPage, nPages)
    val n = sents.size.toDouble
    // warm both loops once so the JIT has compiled them before timing
    sents.foreach(sr => Annotate.annotateOne(sr, ctx))
    stepped(sents, ctx, new Array[Long](stepNames.size))

    val acc = new Array[Long](stepNames.size)
    var annotateNs = 0L
    var allocBytes = 0L
    var entities = 0L
    val tid = Thread.currentThread().getId
    for (_ <- 1 to reps) {
      stepped(sents, ctx, acc)
      val a0 = threads.getThreadAllocatedBytes(tid)
      val t0 = System.nanoTime()
      var e = 0L
      sents.foreach(sr => e += Annotate.annotateOne(sr, ctx).entities.size)
      annotateNs += System.nanoTime() - t0
      allocBytes += threads.getThreadAllocatedBytes(tid) - a0
      entities = e
    }
    def per(ns: Long): Double = ns / (n * reps)
    val steps = stepNames.zip(acc.map(per)).toMap
    Map(
      "extract.ns_per_page" -> extractNs.toDouble / math.max(zhPages, 1),
      "dict.ns_per_sent" -> steps("dict"),
      "ner.scan_ns_per_sent" -> steps("scan"),
      "ner.predict_ns_per_sent" -> steps("predict"),
      "ner.ensemble_ns_per_sent" -> steps("ensemble"),
      "ner.confidence_ns_per_sent" -> steps("confidence"),
      "ner.boundary_ns_per_sent" -> steps("boundary"),
      "merge.ner_seg_ns_per_sent" -> steps("ner_seg"),
      "merge.round1_ns_per_sent" -> steps("round1"),
      "merge.round2_ns_per_sent" -> steps("round2"),
      "merge.rules_ns_per_sent" -> steps("rules"),
      "pipeline.annotate_ns_per_sent" -> per(annotateNs),
      "pipeline.step_coverage" -> acc.sum.toDouble / annotateNs,
      "pipeline.alloc_bytes_per_sent" -> allocBytes / (n * reps),
      "pipeline.sentences_per_page" -> n / math.max(zhPages, 1),
      "pipeline.entities_per_sent" -> entities / n)
  }
}
