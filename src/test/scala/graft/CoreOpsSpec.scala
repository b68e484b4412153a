package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.model.{Mention, Token}
import graft.ner.{BioRaw, Boundary, CrfScorer, EnsemblesRaw, Spans}

class SpansSpec extends AnyFunSuite {
  test("lengthClean widens end-inclusive spans (generation.py:35-41)") {
    val inclusive = Mention("头痛", "SYM", 3, 4, 0.5, 0.9) // len 2, span 1
    assert(Spans.lengthClean(inclusive).end == 5)
    val exclusive = Mention("头痛", "SYM", 3, 5, 0.5, 0.9)
    assert(Spans.lengthClean(exclusive) == exclusive)
    val weird = Mention("头痛", "SYM", 3, 9, 0.5, 0.9) // neither → untouched
    assert(Spans.lengthClean(weird) == weird)
  }

  test("normalize splits on 、 with reference position bookkeeping (generation.py:43-62)") {
    // reference does NOT skip the delimiter char when advancing positions
    val m = Mention("咳嗽、发热", "SYM", 10, 14, 0.4, 0.8)
    val out = Spans.normalize(Seq(m))
    assert(out == Seq(
      Mention("咳嗽", "SYM", 10, 12, 0.4, 0.8),
      Mention("发热", "SYM", 12, 14, 0.4, 0.8)
    ))
  }
}

class BioSpec extends AnyFunSuite {
  import NerLabels.{ids, names, spans, types}

  /** BioRaw.getPositions read back as (type names, [start, end) pairs). */
  def positions(tags: Seq[String]): (Seq[String], Seq[(Int, Int)]) = {
    val (ts, ss) = BioRaw.getPositions(ids(tags))
    (types(ts), spans(ss))
  }

  test("toBio matches post_processing (multi_ner_prediction.py:174-185)") {
    val typeIdxs = Seq("O", "DIS", "DIS", "O", "SYM", "DIS")
      .map(t => if (t == "O") -1 else CrfScorer.Types.indexOf(t))
    assert(names(EnsemblesRaw.typesToBio(typeIdxs.toArray)) ==
      Seq("O", "B-DIS", "I-DIS", "O", "B-SYM", "B-DIS"))
  }

  test("getPositions round-trips multi-char spans") {
    val tags = Seq("O", "B-DIS", "I-DIS", "I-DIS", "O", "B-SYM", "I-SYM")
    val (types, spans) = positions(tags)
    assert(types == Seq("DIS", "SYM"))
    assert(spans == Seq((1, 4), (5, 7)))
  }

  test("getPositions DROPS isolated single-char entities (reference waiting-flag quirk)") {
    // B- followed by O mid-sentence never sets waiting → dropped
    val (types, spans) = positions(Seq("O", "B-DIS", "O", "O"))
    assert(types.isEmpty && spans.isEmpty)
    // but a single-char B- directly AFTER a closed entity survives
    // (the B-branch sets waiting=True only when it also closes a span)
    val (ty2, sp2) = positions(Seq("B-DIS", "I-DIS", "B-SYM", "O"))
    assert(ty2 == Seq("DIS", "SYM"))
    assert(sp2 == Seq((0, 2), (2, 3)))
  }

  test("getPositions closes an I- span at end of sentence with end = len") {
    val (ty, sp) = positions(Seq("O", "B-DIS", "I-DIS"))
    assert(ty == Seq("DIS") && sp == Seq((1, 3)))
  }
}

class BoundarySpec extends AnyFunSuite {
  test("headProcess strips head first, then tail (clean_and_save.py:358-384)") {
    assert(Boundary.headProcess('，', "，头痛", 3, 6) == (("头痛", 4, 6)))
    assert(Boundary.headProcess('，', "头痛，", 3, 6) == (("头痛", 3, 5)))
    // result < 2 chars → blanked
    assert(Boundary.headProcess('，', "，痛", 3, 5) == (("", 4, 5)))
    assert(Boundary.headProcess('，', "头痛", 3, 5) == (("头痛", 3, 5)))
  }

  test("strip runs 3 symbol sweeps + 2 dash sweeps (clean_and_save.py:536-544)") {
    // three leading symbols need all 3 passes
    assert(Boundary.strip("、【（x】头痛", 0, 8)._1 == "（x】头痛")
    val (w, s, e) = Boundary.strip("--高血压-", 10, 16)
    assert(w == "高血压" && s == 12 && e == 15)
    // 4 leading strippable symbols survive only partially: 3 sweeps strip 3
    val r = Boundary.strip("，，，，头痛", 0, 6)
    assert(r._1 == "，头痛")
  }
}

class GazetteerSpec extends AnyFunSuite {
  import graft.dict.Gazetteer

  val dict = Map("高血压" -> "ds", "高血压病" -> "ds", "头痛" -> "sm", "阿司匹林" -> "du")
  val trie = Gazetteer.buildTrie(dict)

  test("longest match wins (utils.py:61-63 longest-first ordering)") {
    val toks = Gazetteer.tokenize(trie, "患高血压病者头痛")
    assert(toks.map(_.word) == Seq("患", "高血压病", "者", "头痛"))
    assert(toks.map(_.tag) == Seq("x", "ds", "x", "sm"))
  }

  test("tokens tile the sentence end-exclusively") {
    val s = "高血压头痛阿司匹林X"
    val toks = Gazetteer.tokenize(trie, s)
    assert(toks.head.start == 0 && toks.last.end == s.length)
    toks.sliding(2).foreach {
      case Seq(a, b) => assert(a.end == b.start)
      case _         =>
    }
    assert(toks.forall(t => s.substring(t.start, t.end) == t.word))
  }
}
