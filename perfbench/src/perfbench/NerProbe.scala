package perfbench

import graft.core.Article
import graft.ner.{AliasTrieScorer, NerStage}
import graft.synth.Synth
import graft.text.{PunctTokenizer, Segmenter}

/** Single-thread cost of each NER step over a fixed sample of
  * gate-passing Synth docs: segment, tokenize and score each take the
  * previous step's output precomputed; detect is the whole per-doc path
  * (`NerStage.detectOne`). Median of several passes, ns per doc. */
object NerProbe {
  private val SampleDocs = 2000
  private val Passes = 7

  def run(seed: Long): Map[String, Double] = {
    val docs: Array[Article] = Iterator.from(0)
      .map(i => Synth.genRow(seed, i.toLong).article)
      .filter(a => NerStage.KeptTypes(a.tp) &&
        NerStage.SupportedLangs(a.lang) && a.text != null &&
        a.text.length > 2)
      .take(SampleDocs).toArray
    val scorer = new AliasTrieScorer
    val sents = docs.map(a => Segmenter.segmentRanges(a.text))
    val toks = docs.indices.map(i => sents(i).map { sr =>
      PunctTokenizer.tokenizeRanges(docs(i).text, (sr >>> 32).toInt,
        (sr & 0xffffffffL).toInt)
    })
    var sink = 0L

    def nsPerDoc(body: => Unit): Double = Stats.median((0 until Passes).map {
      _ =>
        val t0 = System.nanoTime()
        body
        (System.nanoTime() - t0).toDouble / docs.length
    })

    val segment = nsPerDoc(docs.foreach(a =>
      sink += Segmenter.segmentRanges(a.text).length))
    val tokenize = nsPerDoc(docs.indices.foreach { i =>
      sents(i).foreach { sr =>
        sink += PunctTokenizer.tokenizeRanges(docs(i).text,
          (sr >>> 32).toInt, (sr & 0xffffffffL).toInt).length
      }
    })
    val labels = new Array[String](4096)
    val confs = new Array[Double](4096)
    val score = nsPerDoc(docs.indices.foreach { i =>
      toks(i).foreach { t =>
        scorer.scoreRanges(docs(i).text, t, t.length, labels, confs)
        sink += t.length
      }
    })
    val detect = nsPerDoc(docs.foreach(a =>
      sink += NerStage.detectOne(a, scorer).size))
    if (sink == 42L) println(sink) // keeps the loops live
    Map(
      "ner.segment_ns_per_doc" -> segment,
      "ner.tokenize_ns_per_doc" -> tokenize,
      "ner.score_ns_per_doc" -> score,
      "ner.detect_ns_per_doc" -> detect)
  }
}
