package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.docs.DocPipeline

/** Round-20 optimization evidence: every query rewired onto a shared
  * memoized artifact (banded simhash candidate index, word census,
  * term-frequency index) must compute EXACTLY what the original composed
  * shape computed. Each test runs both shapes on a literal corpus and
  * compares full result sets. */
class SharedArtifactEquivalenceSpec extends SparkSpec {

  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bank tonight"),
    (3L, "completely different content about spark query engines and shuffles here"),
    (4L, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (5L, "one two three four five six seven eight nine ten eleven twelve"),
    (6L, ""), // empty text: split(trim("")) = [""], one empty token
    (7L, "one two three four five six seven eight nine ten eleven twelvx"))
    .toDF("doc_id", "text")

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("banded candidate index filtered to hamming<=k == simhashPairsFromHashes") {
    val sims = DocPipeline.simhashes(corpus).localCheckpoint(true)
    val idx = DocPipeline.simhashCandidatePairsWithLen(sims, corpus)
    for (k <- Seq(3, 6, 12)) {
      val viaIndex = idx.filter(col("hamming") <= k)
        .select("doc_a", "doc_b", "hamming")
      val direct = DocPipeline.simhashPairsFromHashes(sims, k)
      assert(rows(viaIndex) == rows(direct), s"hamming<=$k")
    }
  }

  test("editDistConfirm over len-prefiltered index == editDistPairsFromHashes") {
    val sims = DocPipeline.simhashes(corpus).localCheckpoint(true)
    val idx = DocPipeline.simhashCandidatePairsWithLen(sims, corpus)
    for (maxDist <- Seq(1, 3, 16)) {
      val viaIndex = DocPipeline.editDistConfirm(
        idx.filter(abs(col("len_a") - col("len_b")) <= maxDist), corpus, maxDist)
      val direct = DocPipeline.editDistPairsFromHashes(sims, corpus, maxDist)
      assert(rows(viaIndex) == rows(direct), s"maxDist=$maxDist")
    }
  }

  test("stored index lengths equal length(text) of the same docs frame") {
    val sims = DocPipeline.simhashes(corpus).localCheckpoint(true)
    val idx = DocPipeline.simhashCandidatePairsWithLen(sims, corpus)
    val lens = corpus.select(col("doc_id"), length(col("text")).as("l"))
    val bad = idx
      .join(lens.select(col("doc_id").as("doc_a"), col("l").as("la")), "doc_a")
      .join(lens.select(col("doc_id").as("doc_b"), col("l").as("lb")), "doc_b")
      .filter(col("len_a") =!= col("la") || col("len_b") =!= col("lb"))
    assert(bad.count() == 0)
  }

  test("bpePairStatsFromCensus(wordCensus) == bpePairStats") {
    val census = DocPipeline.wordCensus(corpus).localCheckpoint(true)
    assert(rows(DocPipeline.bpePairStatsFromCensus(census))
      == rows(DocPipeline.bpePairStats(corpus)))
  }

  test("bpeTrainFromCensus(wordCensus) == bpeTrain (whole trajectory)") {
    val census = DocPipeline.wordCensus(corpus).localCheckpoint(true)
    assert(rows(DocPipeline.bpeTrainFromCensus(census, 5))
      == rows(DocPipeline.bpeTrain(corpus, 5)))
    assert(rows(DocPipeline.bpeTrainedCensusFromCensus(census, 3))
      == rows(DocPipeline.bpeTrainedCensus(corpus, 3)))
  }

  test("cmsHeavyHittersFromCensus(wordCensus) == cmsHeavyHitters") {
    val census = DocPipeline.wordCensus(corpus).localCheckpoint(true)
    assert(rows(DocPipeline.cmsHeavyHittersFromCensus(census))
      == rows(DocPipeline.cmsHeavyHitters(corpus)))
  }

  test("tfidfTopTermsFromIndex(termFrequencies) == tfidfTopTerms") {
    val idx = DocPipeline.termFrequencies(corpus).localCheckpoint(true)
    assert(rows(DocPipeline.tfidfTopTermsFromIndex(idx, corpus))
      == rows(DocPipeline.tfidfTopTerms(corpus)))
  }

  test("bm25SearchFromIndex(termFrequencies) == bm25Search (dl = sum tf)") {
    val plain = Seq((1, Seq("quick", "river")), (2, Seq("spark", "twelvx")))
    // a repeated term (within one entry or across entries of one query_id)
    // raises tf before saturation in bm25Search; the index path must match
    val repeated = Seq((1, Seq("quick", "quick", "river")), (2, Seq("one", "one", "one")),
      (3, Seq("spark")), (3, Seq("spark", "twelvx")))
    val idx = DocPipeline.termFrequencies(corpus).localCheckpoint(true)
    for (qs <- Seq(plain, repeated))
      assert(rows(DocPipeline.bm25SearchFromIndex(idx, qs))
        == rows(DocPipeline.bm25Search(corpus, qs)), qs)
    // the dl identity the rewrite rests on: sum(tf) per doc == size(tokens)
    val dlIdx = idx.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val dlDirect = DocPipeline.tokenized(corpus)
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"))
    assert(rows(dlIdx) == rows(dlDirect))
  }
}
