package graft.docs

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.Tables
import graft.functions.TaxiFunctions.hash64Id

/** Large-scale training-data text pipeline over the `documents` table:
  * normalization, token/quality/language analysis, fingerprinting, and
  * four deduplication families (exact, n-gram Jaccard, MinHash+LSH,
  * SimHash).
  *
  * Scale notes (the 100 TB shapes, tested at sf fixtures):
  *  - every per-doc op is a narrow projection (no shuffle);
  *  - shingle/token explosion is map-side; signatures reduce via ONE
  *    hash-partitioned `groupBy(doc_id)` with partial aggregation
  *    (16 `min`s / 32 `sum`s — constant state per doc, no collect_list);
  *  - candidate generation is an equi-join on band keys (shuffle on the
  *    band bucket, never an all-pairs product); exact verification runs
  *    only on candidates. This is the standard MinHash-LSH / banded-SimHash
  *    layout used by web-scale dedup pipelines.
  *
  * Cross-engine determinism: the only hash primitive is the signed
  * SHA-256 prefix ([[graft.functions.Sha256Prefix64]]) mod a 31-bit prime,
  * reproducible exactly in DuckDB — see [[graft.oracle.DocsOracle]].
  */
object DocPipeline {

  /** 31-bit prime modulus for all token-hash arithmetic: keeps every
    * product under 2^63 (no overflow divergence between engines). */
  val P: Long = 2147483647L
  /** MinHash signature length and LSH banding (4 bands × 4 rows). */
  val MinhashK = 16
  val Bands = 4
  /** SimHash width (bits) and banded candidate width. 64-bit hash with
    * 4×16-bit bands: each band key carries ~2^16 distinct values, so at
    * corpus size N the expected bucket is N/65536 (an 8-bit band would cap
    * at 256 buckets corpus-wide and the in-bucket pair join would go
    * quadratic at web scale). Bit 63 is structurally 0 (the token hash is
    * an ABS, so its sign bit never votes positive) — band 3 carries 15
    * effective bits, which leaves the layout uniform and overflow-free. */
  val SimhashBits = 64
  val SimhashBandBits = 16
  /** Band-key mask, `2^SimhashBandBits - 1`. */
  val SimhashBandMask: Long = (1L << SimhashBandBits) - 1
  /** Polynomial fingerprint base (Rabin-Karp over token hashes). */
  val FpBase: Long = 1000003L

  val stopEn = Seq("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
  val stopEs = Seq("el", "la", "de", "y", "en", "es", "un", "una", "por", "con")
  val stopDe = Seq("der", "die", "das", "und", "zu", "ein", "mit", "von", "auf", "ist")

  def documents(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")

  /** Documents plus exact-duplicate replays (doc_id % 17 == 0 re-ingested
    * under a shifted id) — the exact-dedup fixture. */
  def documentsWithDups(spark: SparkSession, sfDir: String): DataFrame = {
    val d = documents(spark, sfDir)
    d.unionByName(d.filter(col("doc_id") % 17 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L))
  }

  /** Whitespace normalization: trim + collapse runs to single spaces. */
  def normText: Column = regexp_replace(trim(col("text")), "\\s+", " ")

  /** Whitespace tokens of the trimmed text. */
  def tokens: Column = split(trim(col("text")), "\\s+")

  /** doc_id + token array. */
  def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), tokens.as("t"))

  /** Distinct word-3-gram shingles, (doc_id, s) long form. Map-side
    * explode; `distinct` shuffles on (doc_id, s) — at scale this is the
    * dominant width, which is why everything downstream works on the
    * 31-bit hash, not the string. */
  def shingles(docs: DataFrame): DataFrame = {
    val n = size(col("t"))
    tokenized(docs)
      .select(col("doc_id"), explode(
        when(n >= 3, transform(sequence(lit(1), n - 2),
          i => concat_ws(" ", element_at(col("t"), i),
            element_at(col("t"), i + 1), element_at(col("t"), i + 2))))
          .otherwise(array(concat_ws(" ", col("t"))))).as("s"))
      .distinct()
  }

  /** Shingles hashed to [0, P). */
  def shingleHashes(docs: DataFrame): DataFrame =
    shingles(docs).select(col("doc_id"), (hash64Id(col("s")) % P).as("h"))

  /** Asymmetric containment near-dup pairs: containment = |A∩B| /
    * min(|A|, |B|) over shingle sets — catches QUOTES and subsets (a doc
    * embedded inside a longer one), which symmetric Jaccard structurally
    * misses (a 12-token quote of a 60-token doc has Jaccard ≈ 0.2 but
    * containment 1.0). `contained_doc` is the smaller-set member (ties →
    * the higher id, i.e. the later/replayed doc).
    *
    * Same inverted-index + df-cap shape as [[jaccardPairsFromShingles]]:
    * candidates come only from shared shingles, the hot-shingle cap kills
    * the quadratic bucket, and the cached capped index serves both sides
    * of the one self-join before being released. */
  def containmentPairs(all: DataFrame, threshold: Double,
                       dfCap: Int = JaccardDfCap): DataFrame = {
    val rare = all.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("h")
    val sh = all.join(rare, "h").cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("containment",
        col("shared").cast("double") / least(col("na"), col("nb")))
      .filter(col("containment") >= threshold)
      .withColumn("contained_doc",
        when(col("na") < col("nb"), col("doc_a"))
          .when(col("nb") < col("na"), col("doc_b"))
          .otherwise(greatest(col("doc_a"), col("doc_b"))))
      .select("doc_a", "doc_b", "shared", "na", "nb", "containment", "contained_doc")
      .localCheckpoint(true)
    sh.unpersist(false)
    pairs
  }

  // ---- exact dedup -------------------------------------------------------

  /** Exact dedup groups: SHA-256 of the normalized text; keeper = lowest
    * doc_id (one shuffle on the 64-hex hash — scales to any corpus). */
  def exactDupGroups(docs: DataFrame): DataFrame =
    docs.select(sha2(normText, 256).as("text_sha"), col("doc_id"))
      .groupBy("text_sha")
      .agg(min(col("doc_id")).as("keeper_doc_id"), count(lit(1)).as("copies"))

  // ---- n-gram Jaccard ----------------------------------------------------

  /** Default document-frequency cap for [[jaccardPairs]]: shingles present
    * in more docs than this are boilerplate, not signal. */
  val JaccardDfCap = 1000

  /** Exact Jaccard over shingle sets for every pair sharing ≥1 shingle
    * (inverted-index join — candidates only, never the cross product).
    *
    * `dfCap` drops shingles whose document frequency exceeds the cap
    * BEFORE the self-join: one boilerplate shingle shared by k docs
    * otherwise creates a k²/2 in-bucket pair blowup — the quadratic
    * hot-key that kills the join at web scale. Jaccard is then exact over
    * the capped shingle universe (sizes and intersections both exclude
    * capped shingles, so the ratio stays internally consistent). */
  def jaccardPairs(docs: DataFrame, threshold: Double,
                   dfCap: Int = JaccardDfCap): DataFrame =
    jaccardPairsFromShingles(shingleHashes(docs), threshold, dfCap)

  /** [[jaccardPairs]] over a precomputed (doc_id, h) shingle index — the
    * production entry point: a curation run materializes the shingle
    * index ONCE (a persisted table at 100 TB, a cached frame here) and
    * every shingle consumer (Jaccard, MinHash, decontamination) reads it
    * instead of re-exploding the corpus. */
  def jaccardPairsFromShingles(all: DataFrame, threshold: Double,
                               dfCap: Int = JaccardDfCap): DataFrame = {
    val rare = all.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= dfCap).select("h")
    val sh = all.join(rare, "h").cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val shared = sh.as("a")
      .join(sh.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
    val pairs = shared
      .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")), "doc_b")
      .withColumn("jaccard",
        col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "shared", "jaccard")
      // The capped-shingle cache serves the sizes pass + both sides of the
      // self-join within this one action; the surviving pair list is small.
      .localCheckpoint(true)
    sh.unpersist(false)
    pairs
  }

  // ---- MinHash + LSH -----------------------------------------------------

  /** 16-component MinHash signature per doc: ONE groupBy with 16 partial
    * `min`s over affine re-hashes of the shingle hash. */
  def minhashSignatures(docs: DataFrame): DataFrame =
    signaturesFromShingles(shingleHashes(docs))

  /** [[minhashSignatures]] over a precomputed shingle index (see
    * [[jaccardPairsFromShingles]] for why). */
  def signaturesFromShingles(sh: DataFrame): DataFrame = {
    val aggs = (0 until MinhashK).map { i =>
      min((col("h") * (2 * i + 1) + lit(7919L * i)) % P).as(s"m$i")
    }
    sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH band keys: 4 bands of 4 signature components, band index baked
    * into the key so bands never collide across positions. */
  def minhashBands(sig: DataFrame): DataFrame = {
    val bandCols = (0 until Bands).map { b =>
      concat_ws("-", lit(s"b$b") +: (0 until MinhashK / Bands)
        .map(r => col(s"m${b * (MinhashK / Bands) + r}")): _*)
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
  }

  /** Candidate pairs (any band equal) with the estimated Jaccard =
    * matching-components / K; keeps est ≥ threshold. */
  def minhashLshPairs(docs: DataFrame, threshold: Double): DataFrame =
    minhashLshPairsFromSignatures(minhashSignatures(docs), threshold)

  /** [[minhashLshPairs]] over precomputed signatures. */
  def minhashLshPairsFromSignatures(signatures: DataFrame,
                                    threshold: Double): DataFrame = {
    val sig = signatures.cache()
    val bands = minhashBands(sig)
    val cand = bands.as("a")
      .join(bands.as("b"), col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val eq = (0 until MinhashK)
      .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    val pairs = cand
      .join(sig.as("a"), col("doc_a") === col("a.doc_id"))
      .join(sig.as("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"), (eq / lit(16.0)).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      // The sig cache exists so the band pass and both verify joins share
      // one signature computation WITHIN this action; eagerly materialize
      // the (small) pair list, then release it — a lazy return would pin
      // the full signature table in the cache manager per call.
      .localCheckpoint(true)
    sig.unpersist(false)
    pairs
  }

  // ---- SimHash -----------------------------------------------------------

  /** 64-bit SimHash per doc over whitespace-token hashes (multiset): one
    * groupBy(doc_id) with 64 partial ±1 sums, bit j set iff sum > 0. */
  def simhashes(docs: DataFrame): DataFrame =
    // Per-row codegen expression (see [[graft.functions.SimhashFromTokens]]):
    // the old explode + 64-aggregate groupBy pushed every token occurrence
    // through a shuffle to compute what is a per-document scalar. Same
    // sha256-prefix token hash, same ±1 bit votes with ties → 0, so the
    // signature (and every banded candidate downstream) is bit-identical.
    tokenized(docs).select(col("doc_id"),
      graft.functions.SimhashFromTokens.of(col("t")).as("simhash"))

  /** The 16-bit band keys of a simhash column. */
  private def simhashBandKeys: Seq[Column] =
    (0 until SimhashBits / SimhashBandBits).map { b =>
      concat_ws(":", lit(s"b$b"),
        shiftright(col("simhash"), b * SimhashBandBits).bitwiseAND(SimhashBandMask))
    }

  /** Banded candidate pairs over a (cached) simhash frame: any equal
    * 16-bit chunk makes a pair a candidate. Shared by [[simhashPairs]]
    * and [[editDistPairs]] — an equi-join on the band key, never
    * corpus². */
  private def simhashCandidates(sim: DataFrame): DataFrame = {
    val bands = sim.select(col("doc_id"), explode(array(simhashBandKeys: _*)).as("bk"))
    bands.as("a")
      .join(bands.as("b"), col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** The banded candidate-pair table over a precomputed simhash frame,
    * WITH each pair's Hamming distance: distinct (doc_a, doc_b, hamming)
    * for every pair agreeing on ≥1 16-bit band. This is the maintained
    * candidate index both banded consumers read — `dedup_simhash` filters
    * it to its Hamming threshold, `dedup_editdist` confirms it with the
    * banded levenshtein — instead of each re-running the band self-join
    * per invocation (hamming is a function of the pair, so distinct over
    * (pair, hamming) ≡ distinct over the pair). Lazy (no checkpoint):
    * callers memoize/materialize it. */
  def simhashCandidatePairs(sims: DataFrame): DataFrame = {
    val bands = sims.select(col("doc_id"), col("simhash"),
      explode(array(simhashBandKeys: _*)).as("bk"))
    bands.as("a")
      .join(bands.as("b"), col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
  }

  /** [[simhashCandidatePairs]] annotated with each side's text length
    * (len_a, len_b) — the metadata a maintained signature index stores
    * alongside the hash, so the edit-distance length prefilter
    * (|len_a − len_b| ≤ maxDist lower-bounds the edit distance) prunes on
    * the index scan itself, BEFORE any text is joined or shipped
    * (measured sf0.1: 271k candidates → 21k survivors; the text joins and
    * the levenshtein then run on survivors only). */
  def simhashCandidatePairsWithLen(sims: DataFrame, docs: DataFrame): DataFrame = {
    val len = docs.select(col("doc_id"), length(col("text")).as("len"))
    simhashCandidatePairs(sims)
      .join(len.select(col("doc_id").as("doc_a"), col("len").as("len_a")), "doc_a")
      .join(len.select(col("doc_id").as("doc_b"), col("len").as("len_b")), "doc_b")
  }

  /** Near-dup pairs: banded candidates (any 16-bit chunk equal) filtered
    * to Hamming distance ≤ maxHamming.
    *
    * The simhash rides THROUGH the band frame, so the hamming filter
    * runs directly on the band self-join's output and `distinct` only
    * sees surviving pairs — no join-backs onto the signature frame and
    * no distinct over the full candidate multiset (a pair matching in
    * k bands costs k cheap xors instead of k rows through a distinct
    * plus two joins). [[simhashCandidates]] keeps the candidates-only
    * shape for [[editDistPairs]], where carrying text through the bands
    * would be the mistake. */
  def simhashPairs(docs: DataFrame, maxHamming: Int): DataFrame =
    simhashPairsFromHashes(simhashes(docs), maxHamming)

  /** [[simhashPairs]] over a precomputed (materialized/memoized) simhash
    * frame — the production entry point, mirroring
    * [[jaccardPairsFromShingles]]: the signature table is maintained once
    * and every banded consumer reads it. */
  def simhashPairsFromHashes(sims: DataFrame, maxHamming: Int): DataFrame = {
    val sim = sims.cache() // both self-join sides, one pass
    val bands = sim.select(col("doc_id"), col("simhash"),
      explode(array(simhashBandKeys: _*)).as("bk"))
    val pairs = bands.as("a")
      .join(bands.as("b"), col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      // Same hygiene as minhashLshPairsFromSignatures: the simhash cache
      // serves one action, the surviving pair list outlives it.
      .localCheckpoint(true)
    sim.unpersist(false)
    pairs
  }

  /** Edit-distance near-dup confirm: simhash-banded candidates checked
    * with `levenshtein(text_a, text_b) ≤ maxDist` — the confirm that
    * catches small IN-PLACE edits (typo fixes, number swaps) which
    * MinHash's bag-of-shingles view under-weights and Hamming-on-simhash
    * only approximates.
    *
    * Scale shape: candidates come from the banded equi-join (never
    * all-pairs), and the O(len²) levenshtein only runs on pairs that
    * survive a length prefilter (|len_a − len_b| ≤ maxDist is a lower
    * bound on edit distance — a plain codegen'd filter that prunes most
    * candidates for free), and the DP itself is the THRESHOLDED
    * levenshtein (banded to the ±maxDist diagonal, O(maxDist·len) not
    * O(len²), early exit at -1). Shipping candidate texts through the
    * join is the real cost at 100 TB — run it after cheaper dedup passes
    * have shrunk the candidate set, or over length-capped normalized
    * text. */
  def editDistPairs(docs: DataFrame, maxDist: Int): DataFrame =
    editDistPairsFromHashes(simhashes(docs), docs, maxDist)

  /** [[editDistPairs]] over a precomputed simhash frame (see
    * [[simhashPairsFromHashes]]). */
  def editDistPairsFromHashes(sims: DataFrame, docs: DataFrame,
                              maxDist: Int): DataFrame = {
    val sim = sims.cache()
    // Checkpoint before unpersisting: the confirm plan must not silently
    // recompute the un-cached simhash self-join (legacy/spec entry point;
    // the declared query reads the memoized candidate table instead).
    val pairs = editDistConfirm(simhashCandidates(sim), docs, maxDist)
      .localCheckpoint(true)
    sim.unpersist(false)
    pairs
  }

  /** The levenshtein confirm over an already-materialized candidate-pair
    * table (doc_a, doc_b): length prefilter + thresholded DP. The
    * production shape — the banded candidate index is maintained once
    * (see [[simhashCandidatePairs]]) and the confirm joins the texts per
    * run. */
  def editDistConfirm(candidates: DataFrame, docs: DataFrame,
                      maxDist: Int): DataFrame = {
    // No checkpoint here: unlike [[editDistPairsFromHashes]] there is no
    // internal cache whose lifetime the result must outlive, so the
    // confirm stays a lazy plan (no eager build per construction).
    val txt = docs.select(col("doc_id"), col("text"))
    candidates.select("doc_a", "doc_b")
      .join(txt.select(col("doc_id").as("doc_a"), col("text").as("text_a")), "doc_a")
      .join(txt.select(col("doc_id").as("doc_b"), col("text").as("text_b")), "doc_b")
      .filter(abs(length(col("text_a")) - length(col("text_b"))) <= maxDist)
      .withColumn("dist", levenshtein(col("text_a"), col("text_b"), maxDist))
      .filter(col("dist") =!= -1)
      .select("doc_a", "doc_b", "dist")
  }

  // ---- dedup clustering --------------------------------------------------

  /** Connected components over near-dup `pairs` (doc_a, doc_b): each doc's
    * component id is the MIN doc_id reachable through the dup graph, and
    * the keeper of a cluster is the doc that IS its component id — the
    * canonical "keep one per near-dup cluster" final step of a dedup
    * pipeline.
    *
    * Algorithm: min-label propagation WITH pointer jumping — every round
    * each node takes the min label over its 1-hop neighborhood, then
    * labels are path-halved (comp := label(comp)), so convergence is
    * O(log diameter) rounds instead of O(diameter) (a 100-doc near-dup
    * chain converges in ~7 rounds, not 100). One shuffle per step; at
    * extreme scale swap the round body for large-star/small-star — same
    * output. The driver loop only tests a converged flag, never collects
    * data. */
  def nearDupComponents(pairs: DataFrame): DataFrame = {
    // Eager localCheckpoint, not cache(): each round's frame must TRUNCATE
    // lineage, or round N's plan nests all prior rounds and any recompute
    // replays the whole history (measured: 70s instead of ~10s for 3
    // rounds at sf0.1). The standard iterative-algorithm pattern; a
    // long-lived cluster job would use reliable checkpointing instead.
    val edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionByName(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .distinct().localCheckpoint(true)
    var labels = edges.select(col("u").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint(true)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 64) {
      val nbrMin = edges
        .join(labels.select(col("id").as("v"), col("comp").as("vcomp")), "v")
        .groupBy(col("u").as("id")).agg(min(col("vcomp")).as("nbrcomp"))
      // `prev` (this round's starting label) rides through to the
      // checkpoint so the convergence check below is a scan of the
      // checkpointed frame, not an extra join+count job per round
      // (optimization round 20; labels/winners unchanged — prev is
      // projected away before the next round).
      val stepped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nbrcomp"), col("comp"))).as("comp"),
          col("comp").as("prev"))
      // pointer jumping: comp := comp's own label (halves chain depth)
      val next = stepped.as("l")
        .join(stepped.select(col("id").as("comp"), col("comp").as("jump")).as("r"),
          Seq("comp"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("jump"), col("comp"))).as("comp"),
          col("prev"))
        .localCheckpoint(true)
      val changed = next.filter(col("comp") =!= col("prev")).count()
      labels = next.select("id", "comp")
      converged = changed == 0
      rounds += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(s"nearDupComponents round=$rounds changed=$changed")
    }
    labels.select(col("id").as("doc_id"), col("comp").as("component_id"),
      (col("id") === col("comp")).as("is_keeper"))
  }

  /** Fixed-iteration PageRank over an undirected pair graph (here: the
    * near-dup graph, where a high rank marks a HUB — the template/
    * boilerplate a whole family of docs near-duplicates, worth human
    * eyes before bulk-dropping its cluster). Unnormalized form, damping
    * 0.85, r₀ = 1: rₜ₊₁(v) = 0.15 + 0.85·Σ_{u∼v} rₜ(u)/deg(u).
    *
    * Determinism (the property that lets a DuckDB oracle check an
    * iterative float computation): each contribution is rounded to 12
    * decimals and summed as DECIMAL — order-independent and exact — and
    * the damping step runs in plain IEEE double (one multiply, one add,
    * identical in any engine). Per iteration the error floor is 1e-12,
    * never compounding ulp-order noise.
    *
    * Scale shape: classic Spark PageRank — one equi-join
    * (edges ⋈ ranks on src, both hash-partitioned on the SAME key, so
    * every round reuses the partitioning) + one groupBy(dst) per
    * iteration; degrees precomputed once. Iterations are FIXED (data-
    * independent), so the plan is a static 3-deep chain — no driver
    * convergence loop, no lineage blowup at 3 rounds. */
  def pageRank(pairs: DataFrame, iters: Int): DataFrame = {
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .distinct()
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val ed = edges.join(deg, "src")
    var ranks = deg.select(col("src").as("id"), lit(1.0).as("rank"))
    for (_ <- 1 to iters) {
      ranks = ed.join(ranks, col("src") === col("id"))
        .select(col("dst"),
          round(col("rank") / col("deg"), 12).cast("decimal(27,12)").as("c"))
        .groupBy("dst")
        .agg(sum(col("c")).as("s"))
        .select(col("dst").as("id"),
          (lit(0.15) + lit(0.85) * col("s").cast("double")).as("rank"))
    }
    ranks.join(deg, col("id") === col("src"))
      .select(col("id").as("doc_id"), col("deg"), col("rank"))
  }

  // ---- corpus hygiene ----------------------------------------------------

  /** PII scrub: redact emails, North-American phone shapes, and IPv4
    * addresses with typed placeholders. Narrow per-doc projection, zero
    * shuffle; patterns are deliberately conservative (precision over
    * recall) — production corpora layer locale packs on top. */
  def piiScrub(text: Column): Column = {
    val email = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val phone = regexp_replace(email,
      "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b", "<PHONE>")
    regexp_replace(phone,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
  }

  /** Deterministic stratified sampling: keep a doc iff
    * `sha256_prefix64(lang || ':' || doc_id) % 100 < pct(lang)`. Hash-based
    * (not `rand()`): the sample is reproducible across runs, engines, and
    * partitionings, and sampling is a pure narrow filter — no shuffle, no
    * state. Unlisted strata default to 0 (dropped). */
  def stratifiedSample(docs: DataFrame, pctByLang: Map[String, Int]): DataFrame = {
    val pct = pctByLang.foldLeft(lit(0)) { case (acc, (lang, p)) =>
      when(col("lang") === lang, p).otherwise(acc)
    }
    docs.filter(
      pmod(hash64Id(concat_ws(":", col("lang"), col("doc_id"))), lit(100)) < pct)
  }

  /** Benchmark-contamination check: flag corpus docs sharing ≥ `minShared`
    * word-3-gram shingles with any eval-set doc (self-matches excluded).
    * The standard decontamination shape: both sides reduce to shingle
    * hashes, the join is an equi-join on the hash (inverted index), and
    * the eval side is tiny → broadcast. Returns per-doc match stats. */
  def contamination(corpus: DataFrame, eval: DataFrame, minShared: Int): DataFrame =
    contaminationFromShingles(shingleHashes(corpus), shingleHashes(eval), minShared)

  /** [[contamination]] over precomputed shingle indexes. The eval index
    * may be a FILTER of the corpus index — shingles are per-doc, so
    * `sh.filter(evalPred)` equals `shingleHashes(docs.filter(evalPred))`
    * exactly. */
  def contaminationFromShingles(c: DataFrame, evalSh: DataFrame,
                                minShared: Int): DataFrame = {
    val ev = evalSh.select(col("doc_id").as("eval_doc_id"), col("h"))
    c.join(broadcast(ev), "h")
      .filter(col("doc_id") =!= col("eval_doc_id"))
      .groupBy("doc_id")
      .agg(countDistinct(col("eval_doc_id")).as("eval_docs_hit"),
        countDistinct(col("h")).as("shared_shingles"))
      .filter(col("shared_shingles") >= minShared)
  }

  /** Deterministic train/val/test split: bucket = signed SHA-256 prefix of
    * `"split:" + id` mod 100. Hash-based, not `rand()`: assignment is a
    * pure narrow projection (no shuffle, no state), reproducible across
    * engines and partitionings, and STABLE under corpus growth — adding
    * docs never reassigns an existing one, the property that keeps eval
    * sets uncontaminated as the corpus evolves. */
  def hashSplit(docs: DataFrame, idCol: String, trainPct: Int, valPct: Int): DataFrame = {
    require(trainPct >= 0 && valPct >= 0 && trainPct + valPct <= 100,
      "split percentages must be non-negative and sum to <= 100")
    docs
      .withColumn("split_bucket",
        pmod(hash64Id(concat_ws(":", lit("split"), col(idCol))), lit(100L)))
      .withColumn("split",
        when(col("split_bucket") < trainPct, "train")
          .when(col("split_bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Weighted sampling without replacement (Efraimidis & Spirakis 2006
    * — published method): each row draws key u^(1/w) from a uniform u
    * and the k largest keys form an exact weight-proportional sample.
    * Here u derives from a salted sha256 prefix of the doc id, so the
    * sample is DETERMINISTIC — reproducible across runs, engines, and
    * re-executions, the same property every other sampler in this
    * pipeline has (no rand() anywhere). Keys compare in log space
    * (ln(u)/w, monotone in u^(1/w)) to avoid pow underflow at large
    * weights.
    *
    * Scale shape: the key is a narrow codegen projection; top-k via
    * orderBy+limit plans as TakeOrderedAndProject — per-partition heaps
    * of k rows, a k-row driver merge, never a global sort. Determinism:
    * u = (hash53 + 1)/2^53 is dyadic (division exact in both engines),
    * ln rounds to 12 decimals after the divide-by-weight. */
  def weightedSample(docs: DataFrame, weightCol: String, k: Int,
                     salt: String = "wsample"): DataFrame = {
    val mask = (1L << 53) - 1
    val u = (hash64Id(concat_ws(":", lit(salt), col("doc_id")))
      .bitwiseAND(lit(mask)) + 1).cast("double") / lit((1L << 53).toDouble)
    docs.select(col("doc_id"), col("lang"),
        col(weightCol).cast("double").as("w"))
      .filter(col("w") > 0)
      .withColumn("sample_key", round(log(u) / col("w"), 12))
      .orderBy(col("sample_key").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("lang"), col("w").cast("long").as("weight"),
        col("sample_key"))
  }

  /** Per-node triangle counts over the near-dup pair graph — the local
    * clustering signal that separates tight duplicate cliques from
    * chains of borderline matches (a triangle-free "cluster" is usually
    * transitive-closure leakage, not a real dup group).
    *
    * Degree-ordered orientation (Schank & Wagner 2005; the MapReduce
    * formulation is Suri & Vassilvitskii 2011 — published methods):
    * each undirected edge points from its lower (degree, id) endpoint
    * to the higher, making a DAG where every out-degree is O(√m); the
    * wedge self-join — the only superlinear step — is therefore bounded
    * by Σ outdeg² = O(m^1.5) instead of the Σ deg² a hub explodes.
    * Each unordered triangle is counted exactly once: from its lowest-
    * order corner, closing wedge ordered by the same total order. */
  def triangleCounts(pairs: DataFrame): DataFrame = {
    // explode, not union-of-projections: a union re-scans `pairs` per
    // branch and (worse) re-evaluates any non-materialized subtree under
    // it once per branch — Spark has no cross-branch common-subexpression
    // elimination. One explode emits the identical endpoint multiset from
    // a single pass. (Same rewrite on the x/y/z corner census below, where
    // the duplicated subtree was the wedge self-join — the superlinear
    // step — evaluated three times.)
    val deg = pairs.select(explode(array(col("doc_a"), col("doc_b"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val e = pairs.select(col("doc_a"), col("doc_b"))
      .join(deg.select(col("id").as("doc_a"), col("deg").as("da")), "doc_a")
      .join(deg.select(col("id").as("doc_b"), col("deg").as("db")), "doc_b")
    val aKey = struct(col("da").as("d"), col("doc_a").as("n"))
    val bKey = struct(col("db").as("d"), col("doc_b").as("n"))
    // O(m) rows, referenced three times below (both wedge sides + the
    // closing join): materialize once instead of re-deriving the
    // degree-join subtree per reference
    val oriented = e.select(
      when(aKey < bKey, col("doc_a")).otherwise(col("doc_b")).as("src"),
      when(aKey < bKey, col("doc_b")).otherwise(col("doc_a")).as("dst"),
      when(aKey < bKey, bKey).otherwise(aKey).as("dstKey"))
      .localCheckpoint(true)
    val tri = oriented.as("e1")
      .join(oriented.as("e2"), col("e1.src") === col("e2.src") &&
        col("e1.dstKey") < col("e2.dstKey"))
      .select(col("e1.src").as("x"), col("e1.dst").as("y"),
        col("e2.dst").as("z"))
      .join(oriented.select(col("src").as("y"), col("dst").as("z")),
        Seq("y", "z"))
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")
  }

  /** Deterministic paragraph segmentation: fixed `chunk`-token windows in
    * document order, (doc_id, pos, para) long form. Real corpora split on
    * newline runs; the synthetic fixture has no newline structure, so the
    * window stands in — the dedup downstream is identical either way. */
  def paragraphs(docs: DataFrame, chunk: Int): DataFrame = {
    val n = size(col("t"))
    val nChunks = greatest(ceil(n.cast("double") / chunk).cast("int"), lit(1))
    tokenized(docs)
      .select(col("doc_id"), posexplode(transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(col("t"), i * chunk + 1, lit(chunk))))))
      .withColumnRenamed("col", "para")
  }

  /** C4-style corpus-wide paragraph dedup: a paragraph survives only at
    * its FIRST occurrence in (doc_id, pos) order; every doc is reassembled
    * from its surviving paragraphs. Two shuffles: one window over the
    * paragraph text (global first-occurrence pick), one groupBy(doc_id)
    * (reassembly) — never a self-join. At 100 TB, key the window by a
    * 64-bit hash of the paragraph and resolve the (negligible) collision
    * risk in a residual exact pass, so the shuffle carries 8 bytes + the
    * payload instead of double text. */
  def paragraphDedup(docs: DataFrame, chunk: Int = 10): DataFrame = {
    val paras = paragraphs(docs, chunk)
    val kept = paras
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("para")).orderBy(col("doc_id"), col("pos"))))
      .filter(col("rn") === 1)
    val rebuilt = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras_kept"),
        array_join(transform(array_sort(collect_list(struct(col("pos"), col("para")))),
          x => x("para")), "\n").as("text_dedup"))
    paras.groupBy("doc_id").agg(count(lit(1)).as("n_paras"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_paras_kept"), lit(0L)).as("n_paras_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** C4-style document-quality heuristics (per the C4 cleaning rules,
    * applied doc-level): enough words, terminal punctuation, no code
    * braces, no 'lorem ipsum' boilerplate, no pathological word length.
    * Narrow projection, zero shuffle; emits per-rule flags, the combined
    * `keep`, and the first failing rule for reject routing. */
  def c4Rules(docs: DataFrame, minWords: Int = 5, maxWordLen: Int = 50): DataFrame =
    docs.select(col("doc_id"), trim(col("text")).as("txt"), tokens.as("t"))
      .select(col("doc_id"),
        size(col("t")).cast("bigint").as("n_tokens"),
        (size(col("t")) >= minWords).as("r_min_words"),
        // \z = end of INPUT: Java's $ also matches before a trailing
        // newline, RE2's (the oracle) does not — \z pins both engines
        col("txt").rlike("[.!?]\\z").as("r_terminal_punct"),
        (!lower(col("txt")).contains("lorem ipsum")).as("r_no_lorem"),
        (!col("txt").contains("{")).as("r_no_brace"),
        (array_max(transform(col("t"), w => length(w))) <= maxWordLen).as("r_word_len"))
      .withColumn("keep",
        col("r_min_words") && col("r_terminal_punct") && col("r_no_lorem") &&
          col("r_no_brace") && col("r_word_len"))
      .withColumn("reject_reason",
        when(col("keep"), lit(null).cast("string"))
          .when(!col("r_min_words"), "min_words")
          .when(!col("r_terminal_punct"), "terminal_punct")
          .when(!col("r_no_lorem"), "lorem_ipsum")
          .when(!col("r_no_brace"), "code_brace")
          .otherwise("word_len"))

  /** [[contamination]] with a Bloom-filter prefilter — the decontamination
    * shape that scales when the corpus dwarfs the eval set. The eval
    * shingle hashes build a driver-side Bloom filter (~1.2 bytes/item at
    * 1% fpp) broadcast to executors; corpus shingles failing
    * `mightContain` are dropped BEFORE the shuffle, so the exact-confirm
    * join reads |hits| + fp rows instead of |corpus shingles|. False
    * positives cannot reach the result — the confirm join is exact, the
    * bloom only prunes. At ~1e9 eval shingles the filter is ~1.5 GB;
    * beyond that, shard it by hash range or fall back to the plain
    * broadcast semi-join of [[contamination]]. */
  def bloomContamination(corpus: DataFrame, eval: DataFrame, minShared: Int,
                         expectedItems: Long = 1000000L, fpp: Double = 0.01): DataFrame =
    bloomContaminationFromShingles(shingleHashes(corpus), shingleHashes(eval),
      minShared, expectedItems, fpp)

  /** [[bloomContamination]] over precomputed shingle indexes. */
  def bloomContaminationFromShingles(c: DataFrame, evalSh: DataFrame, minShared: Int,
                                     expectedItems: Long = 1000000L,
                                     fpp: Double = 0.01): DataFrame = {
    val ev = evalSh.select(col("doc_id").as("eval_doc_id"), col("h")).cache()
    val bloom = ev.stat.bloomFilter("h", expectedItems, fpp)
    val bloomB = c.sparkSession.sparkContext.broadcast(bloom)
    val hits = c.filter(graft.functions.BloomMightContain.mightContain(bloomB, col("h")))
      .join(broadcast(ev), "h")
      .filter(col("doc_id") =!= col("eval_doc_id"))
      .groupBy("doc_id")
      .agg(countDistinct(col("eval_doc_id")).as("eval_docs_hit"),
        countDistinct(col("h")).as("shared_shingles"))
      .filter(col("shared_shingles") >= minShared)
      // The eval cache covers the bloomFilter action + the confirm join;
      // the contaminated-doc list it yields is small.
      .localCheckpoint(true)
    ev.unpersist(false)
    hits
  }

  /** Incremental MinHash-LSH dedup: near-dup pairs between a NEW batch and
    * an EXISTING corpus represented only by its persisted signatures — the
    * daily-ingest pattern at 100 TB, where re-pairing the full corpus
    * every run (O(corpus²) band buckets) is the thing this exists to
    * avoid. Signatures are per-doc (shingles never cross documents), so a
    * signature computed at ingest time equals one computed over any
    * superset corpus; the band join touches existing×new only, never
    * existing×existing. Returns (new_doc_id, existing_doc_id,
    * est_jaccard ≥ threshold). */
  def incrementalLshPairs(existingSigs: DataFrame, newDocs: DataFrame,
                          threshold: Double): DataFrame =
    incrementalLshPairsFromSignatures(existingSigs, minhashSignatures(newDocs), threshold)

  /** [[incrementalLshPairs]] with both sides as precomputed signatures. */
  def incrementalLshPairsFromSignatures(existingSigs: DataFrame,
                                        newSignatures: DataFrame,
                                        threshold: Double): DataFrame = {
    val newSigs = newSignatures.cache()
    val cand = minhashBands(newSigs).as("a")
      .join(minhashBands(existingSigs).as("b"), col("a.bk") === col("b.bk"))
      // a replayed/retried batch can hold docs ALREADY in the persisted
      // signatures; without this guard such a doc pairs with itself at
      // est_jaccard 1.0 and downstream dedup deletes it as its own dup
      .filter(col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("new_doc_id"), col("b.doc_id").as("existing_doc_id"))
      .distinct()
    val eq = (0 until MinhashK)
      .map(i => when(col(s"a.m$i") === col(s"b.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    val pairs = cand
      .join(newSigs.as("a"), col("new_doc_id") === col("a.doc_id"))
      .join(existingSigs.as("b"), col("existing_doc_id") === col("b.doc_id"))
      .select(col("new_doc_id"), col("existing_doc_id"), (eq / lit(16.0)).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      // New-batch signature cache serves the band pass + the confirm join;
      // release it once the (small) pair list is materialized.
      .localCheckpoint(true)
    newSigs.unpersist(false)
    pairs
  }

  /** Per-(lang, source) corpus rollup — ONE definition shared by the
    * declared `corpus_stats` query and the `vw_corpus_stats` catalog
    * view, so the SQL surface can never drift from the oracle-checked
    * result. */
  def corpusStats(docs: DataFrame): DataFrame =
    docs.join(tokenCounts(docs), "doc_id")
      .groupBy("lang", "source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws_tokens")).as("total_tokens"),
        sum(col("n_chars").cast("bigint")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"))

  /** URL canonicalization for crawl dedup: lowercase the scheme+host,
    * strip the query string (tracking params), the fragment, and any
    * trailing slash — the normalizations that make syntactically-distinct
    * crawl URLs compare equal. Path case is preserved (paths are
    * case-sensitive per RFC 3986; hosts are not). Pure projection. */
  def canonicalUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val noQuery = regexp_replace(noFrag, "\\?.*$", "")
    val schemeHost = lower(regexp_extract(noQuery, "^([A-Za-z]+://[^/]+)", 1))
    val rest = regexp_replace(noQuery, "^[A-Za-z]+://[^/]+", "")
    concat(schemeHost, regexp_replace(rest, "/$", ""))
  }

  // ---- per-doc text analysis --------------------------------------------

  private def stopHits(langList: Seq[String]): Column =
    size(array_intersect(col("t"), array(langList.map(lit): _*)))

  /** Stopword-overlap language id (distinct-hit argmax, tie order
    * en > es > de). */
  def langId(docs: DataFrame): DataFrame =
    tokenized(docs)
      .withColumn("score_en", stopHits(stopEn))
      .withColumn("score_es", stopHits(stopEs))
      .withColumn("score_de", stopHits(stopDe))
      .withColumn("lang_pred",
        when(col("score_en") >= col("score_es") && col("score_en") >= col("score_de"), "en")
          .when(col("score_es") >= col("score_de"), "es")
          .otherwise("de"))

  /** Quality signals: token count, mean token length, distinct-stopword
    * ratio, digit ratio, composite score. */
  def qualityScores(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), tokens.as("t"))
      .withColumn("n_tokens", size(col("t")).cast("long"))
      .withColumn("n_chars_nospace", length(regexp_replace(col("text"), "\\s", "")).cast("long"))
      .withColumn("avg_token_len",
        col("n_chars_nospace").cast("double") / col("n_tokens"))
      .withColumn("stopword_ratio",
        stopHits(stopEn).cast("double") / col("n_tokens"))
      .withColumn("digit_ratio",
        size(regexp_extract_all(col("text"), lit("[0-9]"), lit(0))).cast("double") /
          length(col("text")))
      .withColumn("quality_score",
        least(lit(1.0), col("n_tokens") / lit(100.0)) * 0.5 +
          col("stopword_ratio") * 0.5)
      .select("doc_id", "n_tokens", "avg_token_len", "stopword_ratio",
        "digit_ratio", "quality_score")

  /** Fixed-weight logistic quality classifier — the deterministic
    * stand-in for a trained fasttext/logreg quality model (weights are
    * DATA swapped at deploy time, not code): z = b + w·features over the
    * [[qualityScores]] projection, keep-probability σ(z). Pure
    * projection, zero shuffle.
    *
    * Determinism: z is exact IEEE arithmetic (fixed multiply-add order,
    * both engines identical), so `keep` is decided on z ≥ 0 — the exact
    * form of p ≥ 0.5 that never touches exp(); keep_prob rounds to 12
    * decimals because exp() is the one libm call that may differ at the
    * last ulp between engines. */
  def logregQuality(docs: DataFrame,
                    bias: Double = -2.0, wLen: Double = 2.5,
                    wStop: Double = 6.0, wDigit: Double = -8.0,
                    wTokLen: Double = -0.4): DataFrame =
    qualityScores(docs)
      .withColumn("logit",
        lit(bias) +
          lit(wLen) * least(lit(1.0), col("n_tokens") / lit(100.0)) +
          lit(wStop) * col("stopword_ratio") +
          lit(wDigit) * col("digit_ratio") +
          lit(wTokLen) * abs(col("avg_token_len") - lit(5.0)))
      .withColumn("keep_prob",
        round(lit(1.0) / (lit(1.0) + exp(-col("logit"))), 12))
      .withColumn("keep", col("logit") >= 0)
      .select("doc_id", "logit", "keep_prob", "keep")

  /** Repetition signals (the Gopher-style repetition filters): type-token
    * ratio (distinct/total tokens) and the fraction of word-bigrams taken
    * by the single most frequent bigram — high values of the latter mark
    * boilerplate/keyword-stuffed docs. Two doc_id-keyed aggregations, both
    * partial-aggregated; docs with <2 tokens get a NULL bigram fraction. */
  def repetitionStats(docs: DataFrame): DataFrame =
    // Per-row codegen expression over the standard token split — the
    // composed explode×2 + 3-shuffle shape collapsed into the scan
    // projection (see [[graft.functions.RepetitionStats]]); ratios are
    // exact-long IEEE divides, so parity with the old shape and the
    // oracle is structural, not numeric luck.
    tokenized(docs)
      .select(col("doc_id"),
        graft.functions.RepetitionStats.of(col("t")).as("st"))
      .filter(col("st").isNotNull)
      .select(col("doc_id"),
        col("st.type_token_ratio").as("type_token_ratio"),
        col("st.top_bigram_frac").as("top_bigram_frac"))

  /** Token counting: whitespace tokens + BPE-ish regex pieces
    * (letter runs | single digits | single punctuation). */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]|[^a-z0-9\\s]"), lit(0)))
        .cast("long").as("bpe_tokens"))

  /** Character-level Shannon entropy per document (nats): the cheap
    * gibberish / encoding-garbage detector that complements the
    * token-level quality scores — near-zero entropy is a repeated-char
    * run, ~log(alphabet) is random bytes; natural prose sits in a narrow
    * band between. Computed per ROW by the
    * [[graft.functions.CharEntropyStats]] codegen expression — the
    * histogram lives inside the scan projection, so the operator has
    * ZERO shuffles and the text never leaves the scan stage (the old
    * composed shape exploded ~N_chars (doc, char) rows through two
    * groupBys; measured 6.1 s → sub-second at x20). The expression
    * reproduces the composed arithmetic bit-for-bit: per distinct char,
    * −p·ln p (StrictMath.log = Catalyst Log) rounded to 12 decimals
    * (Catalyst Round semantics) BEFORE an exact DECIMAL sum, so libm
    * can't shift the hash and char order can't move the total (the
    * bigramLogprob pattern, now inside one expression). */
  def charEntropy(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.functions.CharEntropyStats.of(col("text")).as("st"))
      .filter(col("st").isNotNull) // empty docs: absent, as before
      .select(col("doc_id"), col("st.n_chars").as("n_chars"),
        col("st.distinct_chars").as("distinct_chars"),
        col("st.entropy").as("entropy"))

  /** Temperature-scaled source mixture (the multilingual-sampling
    * standard, public knowledge: q_i ∝ p_i^alpha — alpha=1 keeps the
    * corpus's natural proportions, alpha→0 flattens toward uniform):
    * per-source natural BPE-token share `p`, scaled share `q`, and the
    * repetition factor `rep_weight` = q/p that [[weightedMix]] consumes
    * as its per-source weight. Census-sized throughout — the corpus
    * collapses in the first token-mass groupBy, everything after runs on
    * one row per source (two 1-row broadcasts for the totals).
    *
    * Determinism: `p` is one IEEE division (bit-identical across
    * engines); for alpha=0.5 the scaling is `sqrt` — IEEE-754 requires
    * sqrt to be CORRECTLY rounded, so JVM and any other conforming engine
    * produce the identical bits with no rounding needed. Only the
    * normalizer sum is order-exposed, so it is pinned instead of
    * decimal-ized: `z` is a left-to-right double fold of `pw` in `source`
    * order (the ANN dot-product pattern) — every engine that folds the
    * same doubles in the same order gets the same bits, with no
    * double→decimal cast anywhere (a full-precision double cast to
    * DECIMAL straddles rounding ties across engines; see FLOATS.md M3b).
    * The DuckDB oracle mirrors it with `list(pw ORDER BY source)` +
    * `list_reduce`. q and rep_weight are then single IEEE divides of
    * identical inputs.
    *
    * General alpha (!= 0.5) is NOT oracle-able: it falls back to libm
    * pow, which is not correctly rounded, and the 12-decimal input/output
    * snaps REDUCE but do not eliminate cross-engine divergence — the
    * output snap is itself a double→shortest-decimal round of a libm
    * result, exactly the FLOATS.md M1 tie exposure. The oracle implements
    * only the sqrt branch; do not declare a hashed query with any other
    * alpha unless the oracle mirrors round(pow(round(p,12),a),12)
    * bit-for-bit AND the tie exposure is separately pinned (fold-style).
    * See FLOATS.md "temperature sampling". */
  def temperatureWeights(docs: DataFrame, alpha: Double): DataFrame = {
    val bySrc = tokenCounts(docs)
      .join(docs.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("bpe_tokens").as("tokens"))
    val tot = bySrc.agg(sum(col("tokens")).as("_total"))
    val pwCol =
      if (alpha == 0.5) sqrt(col("p"))
      else round(pow(round(col("p"), 12), lit(alpha)), 12)
    val withP = bySrc.crossJoin(broadcast(tot))
      .withColumn("p", col("tokens").cast("double") / col("_total"))
      .withColumn("pw", pwCol)
    // order-pinned fold: the census is one row per source, so the
    // collect_list is bounded by the source count, not the corpus
    val z = withP.agg(
      aggregate(
        sort_array(collect_list(struct(col("source"), col("pw")))),
        lit(0.0),
        (acc, x) => acc + x.getField("pw")).as("_z"))
    withP.crossJoin(broadcast(z))
      .withColumn("q", col("pw") / col("_z"))
      .select(col("source"), col("n_docs"), col("tokens"),
        col("p"), col("q"),
        (col("q") / col("p")).as("rep_weight"))
  }

  /** Fluency scoring without a model artifact: an add-one-smoothed
    * bigram LM trained on the scored corpus ITSELF (the standard
    * KenLM-perplexity-filter stand-in when no external LM ships with the
    * engine): per doc, mean over its bigrams of
    * ln((c(w1,w2) + 1) / (c(w1) + V)). Repetitive/templated docs score
    * high, token salad scores low — the ordering a perplexity filter
    * ranks by, with every count derived from one corpus pass.
    *
    * Scale shape: the LM "model" is two count tables (bigram, unigram —
    * Zipf-bounded, far smaller than the corpus), built map-side-combined;
    * scoring re-joins exploded bigrams to the tables on token keys (hot
    * function words are the skew axis — salt or AQE-skew them at real
    * scale). No UDFs, no driver state.
    *
    * Determinism: ln() is the one op here that libm/JVM may round
    * differently at the last ulp, so each logp is rounded to 12 decimals
    * and summed as DECIMAL (order-independent, exact) before the final
    * double division — the same decimal-sum pattern the money aggregates
    * use. Output: (doc_id, n_bigrams, mean_logprob — NULL when the doc
    * has < 2 tokens). */
  def bigramLogprob(docs: DataFrame): DataFrame = {
    val toks = tokenized(docs)
    val words = toks.select(col("doc_id"), explode(col("t")).as("w"))
    val bigrams = toks.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("t")) - 1),
          i => struct(element_at(col("t"), i).as("w1"),
            element_at(col("t"), i + 1).as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val uniCnt = words.groupBy(col("w").as("w1")).agg(count(lit(1)).as("c1"))
    val biCnt = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val vocab = uniCnt.agg(count(lit(1)).as("vocab"))
    val perDoc = bigrams
      .join(biCnt, Seq("w1", "w2"))
      .join(uniCnt, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .withColumn("logp",
        // scale 12, not 15: the terms carry only 12 decimals, and the sum's
        // UNSCALED value must stay < 2^53 or a foreign engine's decimal→
        // double conversion double-rounds (observed as a 1-ulp mean drift)
        round(log((col("c12") + 1).cast("double") / (col("c1") + col("vocab"))), 12)
          .cast("decimal(27,12)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("logp")).cast("double") / count(lit(1))).as("mean_logprob"))
    docs.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("mean_logprob"))
  }

  /** DSIR-style importance log-weights (Data Selection via Importance
    * Resampling, Xie et al. 2023 — published method): score every
    * document by how much more likely its tokens are under a TARGET
    * distribution (here: the `targetLang` slice) than under the RAW
    * corpus, using hashed unigram bag-of-words models —
    * log w(doc) = Σ_tokens ln(p_target(bucket)/p_raw(bucket)) with
    * Laplace smoothing over `buckets` hashed features. High weight =
    * looks like the target mix; the weights then drive importance
    * resampling of the raw corpus.
    *
    * Scale shape: token explode is narrow; BOTH feature models are one
    * map-side-combined groupBy down to a `buckets`-row census; the
    * per-bucket log-ratio table broadcasts back onto the token stream,
    * so the only fact-sized shuffle is the final per-doc sum.
    * Determinism: the probability ratios divide identical exact
    * integers, ln rounds to 12 decimals, and the per-doc sum runs in
    * DECIMAL(27,12) (order-free, unscaled < 2^53 so the decimal→double cast is exact in any engine) — the bigramLogprob pattern. */
  def dsirWeights(docs: DataFrame, targetLang: String = "en",
                  buckets: Int = 256): DataFrame = {
    val words = docs.select(col("doc_id"), col("lang"), tokens.as("t"))
      .select(col("doc_id"), col("lang"), explode(col("t")).as("w"))
      .withColumn("b", hash64Id(col("w")) % buckets)
    val raw = words.groupBy("b").agg(count(lit(1)).as("cr"))
    val tgt = words.filter(col("lang") === targetLang)
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val totals = words.agg(count(lit(1)).as("rtot"),
      sum(when(col("lang") === targetLang, 1L).otherwise(0L)).as("ttot"))
    val table = raw.join(tgt, Seq("b"), "left")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        round(log(((col("ct") + 1).cast("double") / (col("ttot") + buckets)) /
          ((col("cr") + 1).cast("double") / (col("rtot") + buckets))), 12)
          .as("logw"))
    val perDoc = words.join(broadcast(table), Seq("b"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("logw").cast("decimal(27,12)")).cast("double").as("log_weight"))
    docs.select("doc_id", "lang").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"), col("log_weight"))
  }

  /** Zipf rank-frequency fit per language: OLS of ln(count) on ln(rank)
    * over the token census — the corpus-health diagnostic (natural text
    * tracks slope ≈ −1; templated/synthetic text bends the curve) that
    * also sanity-checks a training mix per language slice.
    *
    * Scale shape: the only fact-sized work is the token explode feeding
    * ONE map-side-combined census shuffle; everything after runs on the
    * (lang, word) census, which Heaps' law keeps sublinear in corpus
    * size. The rank window partitions BY LANGUAGE over that census —
    * bounded by per-language vocabulary, not corpus rows (swap in
    * GlobalRowNumber per lang if a vocabulary ever outgrows a task).
    * Determinism: ln rounds to 12 decimals both engines and power sums
    * accumulate as DECIMAL(30,12) (order-free). The OLS outputs round
    * to 9, not agg_linreg's 12: ln-ln Zipf data is near-collinear, so
    * the closed forms cancel ~3 more digits than the fare regression
    * and the cross-engine FMA/reassociation spread reaches ~1e−12
    * (observed straddling the 12th decimal at sf0.01). */
  def zipfFit(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("w"))
    docs.select(col("lang"), explode(tokens).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
      .withColumn("rnk", row_number().over(w))
      .select(col("lang"), round(log(col("rnk").cast("double")), 12).as("x"),
        round(log(col("cnt").cast("double")), 12).as("y"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_vocab"),
        sum(col("x").cast("decimal(30,12)")).cast("double").as("sx"),
        sum(col("y").cast("decimal(30,12)")).cast("double").as("sy"),
        sum((col("x") * col("x")).cast("decimal(30,12)")).cast("double").as("sxx"),
        sum((col("y") * col("y")).cast("decimal(30,12)")).cast("double").as("syy"),
        sum((col("x") * col("y")).cast("decimal(30,12)")).cast("double").as("sxy"))
      .select(col("lang"), col("n_vocab"),
        round((col("n_vocab") * col("sxy") - col("sx") * col("sy")) /
          (col("n_vocab") * col("sxx") - col("sx") * col("sx")), 9).as("slope"),
        round((col("sy") - ((col("n_vocab") * col("sxy") - col("sx") * col("sy")) /
          (col("n_vocab") * col("sxx") - col("sx") * col("sx"))) * col("sx")) /
          col("n_vocab"), 9).as("intercept"),
        round(((col("n_vocab") * col("sxy") - col("sx") * col("sy")) *
          (col("n_vocab") * col("sxy") - col("sx") * col("sy"))) /
          ((col("n_vocab") * col("sxx") - col("sx") * col("sx")) *
            (col("n_vocab") * col("syy") - col("sy") * col("sy"))), 9).as("r2"))
      .orderBy("lang")
  }

  /** Rolling polynomial fingerprint (Rabin-Karp) over token hashes:
    * h := (h * FpBase + tokenHash) mod P, left-to-right. */
  def fingerprints(docs: DataFrame): DataFrame =
    tokenized(docs).select(col("doc_id"),
      aggregate(
        transform(col("t"), w => hash64Id(w) % P),
        lit(0L),
        (acc, x) => (acc * FpBase + x) % P).as("fingerprint"))

  /** The eight high-frequency function words the Gopher quality filter
    * requires a document to contain (Rae et al. 2021 §A.1.1 — published
    * method). */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style document-level quality gate (Rae et al. 2021 §A.1.1),
    * complementing [[c4Rules]]: word-count window, mean-word-length
    * window, required stopword presence, symbol-word ratio cap ('#' or
    * '...'), alphabetic-word ratio floor. Emits per-rule flags, the pass
    * verdict, and the FIRST failing rule (fixed order) as the reject
    * reason. Pure narrow projection — zero shuffle at any corpus size. */
  def gopherRules(docs: DataFrame, minWords: Int = 30, maxWords: Int = 90,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  minStopHits: Int = 1, maxSymbolRatio: Double = 0.1,
                  minAlphaRatio: Double = 0.8): DataFrame = {
    val n = size(col("t"))
    tokenized(docs)
      .withColumn("n_words", n.cast("long"))
      // total chars / word count; single double division → bit-identical
      // to the oracle's len(array_to_string)/len
      .withColumn("mean_word_len",
        length(concat_ws("", col("t"))).cast("double") / n)
      .withColumn("stop_hits",
        size(array_intersect(col("t"), array(GopherStops.map(lit): _*))).cast("long"))
      .withColumn("symbol_ratio",
        size(filter(col("t"), w => w.contains("#") || w.contains("...")))
          .cast("double") / n)
      .withColumn("alpha_ratio",
        size(filter(col("t"), w => w.rlike("[A-Za-z]"))).cast("double") / n)
      .withColumn("ok_words", col("n_words").between(minWords, maxWords))
      .withColumn("ok_mean_len",
        col("mean_word_len").between(minMeanLen, maxMeanLen))
      .withColumn("ok_stops", col("stop_hits") >= minStopHits)
      .withColumn("ok_symbols", col("symbol_ratio") <= maxSymbolRatio)
      .withColumn("ok_alpha", col("alpha_ratio") >= minAlphaRatio)
      .withColumn("pass", col("ok_words") && col("ok_mean_len") &&
        col("ok_stops") && col("ok_symbols") && col("ok_alpha"))
      .withColumn("fail_reason",
        when(!col("ok_words"), "words")
          .when(!col("ok_mean_len"), "mean_word_len")
          .when(!col("ok_stops"), "stops")
          .when(!col("ok_symbols"), "symbols")
          .when(!col("ok_alpha"), "alpha"))
      .select("doc_id", "n_words", "mean_word_len", "stop_hits",
        "symbol_ratio", "alpha_ratio", "ok_words", "ok_mean_len", "ok_stops",
        "ok_symbols", "ok_alpha", "pass", "fail_reason")
  }

  /** Deterministic source-weighted mixing — the data-mixing step that
    * turns a curated corpus into a training mix (upsample high-quality
    * sources, downsample bulk ones). Weight w emits floor(w) full copies
    * of every doc plus one fractional copy kept iff a sha256 bucket of
    * (doc, copy) falls under the fraction — no rand(), so the mix is
    * reproducible across runs, engines, and corpus growth (adding docs
    * never flips an existing doc's membership; same property as
    * [[hashSplit]]). Narrow explode + filter: zero shuffle, and the
    * blow-up is exactly the mix ratio a trainer asked for. */
  def weightedMix(docs: DataFrame, weightBySource: Map[String, Double],
                  defaultWeight: Double = 1.0): DataFrame = {
    require((weightBySource.values ++ Seq(defaultWeight)).forall(_ >= 0),
      "mix weights must be non-negative")
    val w = weightBySource.toSeq.sortBy(_._1).foldLeft(lit(defaultWeight)) {
      case (acc, (src, wt)) => when(col("source") === src, lit(wt)).otherwise(acc)
    }
    docs
      .withColumn("_w", w)
      // Spark's sequence(0, -1) DESCENDS instead of returning empty —
      // zero-weight sources must drop before the explode
      .filter(col("_w") > 0)
      .withColumn("copy_id",
        explode(sequence(lit(0L), ceil(col("_w")).cast("long") - 1)))
      .withColumn("mix_bucket", pmod(hash64Id(
        concat_ws(":", lit("mix"), col("doc_id"), col("copy_id"))), lit(10000L)))
      .filter(col("copy_id") < floor(col("_w")).cast("long") ||
        col("mix_bucket") < ((col("_w") - floor(col("_w"))) * 10000.0).cast("long"))
      .drop("_w")
  }

  /** Exact-substring duplication spans (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — published method; this
    * is the distributed window-hash approximation of its suffix-array
    * scan): every k-token window is hashed, a window seen in more than
    * one doc marks a duplicated SPAN, and a doc's `dup_frac` is the share
    * of its windows that are shared. Docs under k tokens contribute one
    * whole-text window.
    *
    * Scale shape: the window production runs ONCE — (h, doc_id) counts
    * are grouped in a single shuffle, the distinct-doc count per hash
    * comes from `count() over (partition by h)` on that already-narrow
    * frame, and the per-doc rollup is the final shuffle. No self-join:
    * the earlier wins ⋈ groupBy(h) shape recomputed the explode+sha256
    * for the probe side and paid a 4.8M-row join — measured 25.8 s vs
    * 10.4 s for this shape at x20, identical output. Every shuffle
    * carries ~24-byte (h, doc_id, cnt) rows, never window text; a
    * hash shared by many docs is a sort-window partition (spillable,
    * linear), not a join blow-up. */
  def substringSpans(docs: DataFrame, k: Int,
                     dupDocThreshold: Double = 0.5): DataFrame = {
    val n = size(col("t"))
    val wins = tokenized(docs).select(col("doc_id"), explode(
      transform(sequence(lit(1), greatest(n - (k - 1), lit(1))),
        i => hash64Id(concat_ws(" ", slice(col("t"), i, lit(k)))) % P)).as("h"))
    val counts = wins.groupBy("h", "doc_id").agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("nd", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .groupBy("doc_id")
      .agg(sum(col("cnt")).cast("long").as("n_windows"),
        sum(when(col("nd") > 1, col("cnt")).otherwise(0L)).as("dup_windows"))
      .withColumn("dup_frac", col("dup_windows").cast("double") / col("n_windows"))
      .withColumn("is_dup_doc", col("dup_frac") >= dupDocThreshold)
  }

  /** Fixed-size training-window chunking with overlap: chunk i covers
    * tokens [i·stride+1, i·stride+chunkSize], the last chunk may run
    * short, and every token is covered (stride ≤ chunkSize). The
    * context-length packing primitive between curation ([[c4Rules]],
    * dedup) and shard packing (corpus_pack). Narrow posexplode — the only
    * data growth is the requested overlap ratio. */
  def chunkTokens(docs: DataFrame, chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize,
      "need 1 <= stride <= chunkSize so chunks cover every token")
    val n = size(col("t"))
    val nChunks = lit(1) + greatest(
      ceil((n - chunkSize).cast("double") / stride).cast("int"), lit(0))
    tokenized(docs)
      .select(col("doc_id"), posexplode(transform(sequence(lit(0), nChunks - 1),
        i => slice(col("t"), i * stride + 1, lit(chunkSize)))).as(Seq("chunk_id", "c")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(col("c")).cast("long").as("n_tokens"),
        concat_ws(" ", col("c")).as("chunk_text"))
  }

  // ---- lexical retrieval (BM25 / TF-IDF) --------------------------------

  /** BM25 keyword search (Robertson/Spärck Jones, the Okapi BM25 form with
    * the +1 idf floor): for each (query_id, terms) pair, the top-k docs by
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    * idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)). The quality-filter /
    * retrieval primitive a curation stack needs for "find docs about X"
    * sweeps without an embedding model.
    *
    * Scale shape: doc lengths come from a NARROW projection (size of the
    * token split — the corpus text is never exploded for dl); only tokens
    * matching the broadcast query-term list survive the explode into the
    * tf groupBy, so the one shuffle carries O(matches), not O(corpus
    * tokens). N/avgdl are a 2-value agg. No UDFs, no driver loops.
    *
    * Determinism: ln is libm-sensitive → idf is rounded to 12 decimals;
    * the per-term score (deterministic IEEE mul/div on top of the rounded
    * idf) is rounded again and DECIMAL-summed per doc (order-independent)
    * — the [[bigramLogprob]] pattern. */
  def bm25Search(docs: DataFrame, queries: Seq[(Int, Seq[String])],
                 topK: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dl = tokenized(docs).select(col("doc_id"), size(col("t")).cast("long").as("dl"))
    val qterms = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "w")
    val tf = tokenized(docs)
      .select(col("doc_id"), explode(col("t")).as("w"))
      .join(broadcast(qterms), "w")
      .groupBy("query_id", "doc_id", "w")
      .agg(count(lit(1)).as("tf"))
    bm25Score(dl, tf, topK, k1, b)
  }

  /** [[bm25Search]] over a precomputed (memoized) term-frequency index
    * (doc_id, term, tf): document lengths are the index's per-doc tf sums
    * (explode yields exactly size(t) rows per doc, so sum(tf) = size(t))
    * and the query-term tf rows are an index lookup - no corpus-scale
    * tokenize per call. A term repeated in a query is one (query_id, w)
    * row whose tf is scaled by its multiplicity m: [[bm25Search]]'s join
    * emits each token occurrence m times into one tf group, so its tf is
    * m·tf too, saturated once per term. */
  def bm25SearchFromIndex(tfIdx: DataFrame, queries: Seq[(Int, Seq[String])],
                          topK: Int = 10, k1: Double = 1.2,
                          b: Double = 0.75): DataFrame = {
    val spark = tfIdx.sparkSession
    import spark.implicits._
    val dl = tfIdx.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val qterms = queries.flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .groupBy(identity).toSeq.map { case ((qid, t), occ) => (qid, t, occ.size.toLong) }
      .toDF("query_id", "w", "m")
    val tf = tfIdx.select(col("doc_id"), col("term").as("w"), col("tf"))
      .join(broadcast(qterms), "w")
      .select(col("query_id"), col("doc_id"), col("w"), (col("tf") * col("m")).as("tf"))
    bm25Score(dl, tf, topK, k1, b)
  }

  private def bm25Score(dl: DataFrame, tf: DataFrame, topK: Int,
                        k1: Double, b: Double): DataFrame = {
    val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("total"))
    val dfT = tf.groupBy("query_id", "w")
      .agg(countDistinct(col("doc_id")).as("df"))
    val scored = tf
      .join(broadcast(dfT), Seq("query_id", "w"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf", round(log(
        lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)), 12))
      .withColumn("s", round(
        col("idf") * (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) +
            lit(b) * col("dl") / (col("total").cast("double") / col("n")))), 12)
        .cast("decimal(27,12)"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("s")).cast("double").as("score"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("score").desc, col("doc_id"))))
      .filter(col("rank") <= topK)
      .select(col("query_id").cast("long").as("query_id"),
        col("rank").cast("long").as("rank"), col("doc_id"), col("score"))
  }

  /** Count-min sketch over corpus token frequencies (Cormode &
    * Muthukrishnan 2005): `depth` hash rows × `width` counters; every
    * counter is a SUM, so the sketch is mergeable and order-independent —
    * unlike Misra-Gries/SpaceSaving (whose state depends on arrival
    * order), a fixed-hash CMS is deterministic for a given dataset and
    * therefore oracle-checkable. Emits the exact top-k words with their
    * CMS estimate and the (provably ≥ 0) overestimate — the heavy-hitters
    * report a mixture audit runs before weighting sources.
    *
    * Scale shape: counters are built FROM the word-count table, not the
    * raw occurrence stream (the sums are identical, and the word table is
    * Zipf-bounded ≪ corpus tokens); the sketch itself is depth × width
    * rows (256 here). The census is CACHED across the op's two actions
    * (the top-k collect and the returned frame — without the pin each
    * recomputes the corpus-scale token explode; measured 7.8 → 4.4 s at
    * x20), and the returned frame is eagerly checkpointed (≤ topK rows)
    * so the pin can be released before returning — the
    * [[containmentPairs]] pattern. The top-k pick is `orderBy().limit(k)`
    * — Spark plans TakeOrderedAndProject (per-partition partial top-k
    * merged on the driver, NO global sort) — with ranks assigned
    * driver-side over the ≤ topK collected rows, so the plan carries no
    * partition-less window. Hashes are sha256-prefix
    * ([[graft.functions.Sha256Prefix64]], codegen'd) with a per-row
    * salt. */
  /** The corpus word census (w, wc) — one corpus-scale tokenize + explode
    * + map-side-combined groupBy; Zipf-bounded (≪ corpus tokens). This is
    * the persisted word-count table a production pipeline maintains: the
    * CMS heavy-hitters, the BPE pair census and the BPE trainer all run
    * over it rather than re-exploding the corpus (see the *FromCensus
    * variants). */
  def wordCensus(docs: DataFrame): DataFrame =
    tokenized(docs)
      .select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("wc"))

  def cmsHeavyHitters(docs: DataFrame, depth: Int = 4, width: Int = 64,
                      topK: Int = 10): DataFrame = {
    val exact = tokenized(docs)
      .select(explode(col("t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("exact_cnt"))
      .cache()
    val out = cmsFromExact(exact, depth, width, topK)
    exact.unpersist(false)
    out
  }

  /** [[cmsHeavyHitters]] over a precomputed (memoized) word census (w, wc)
    * — the sketch, the exact top-k and the counters all derive from the
    * maintained word-count table, so nothing corpus-scale runs per call. */
  def cmsHeavyHittersFromCensus(census: DataFrame, depth: Int = 4,
                                width: Int = 64, topK: Int = 10): DataFrame =
    cmsFromExact(census.select(col("w"), col("wc").as("exact_cnt")),
      depth, width, topK)

  private def cmsFromExact(exact: DataFrame, depth: Int, width: Int,
                           topK: Int): DataFrame = {
    val docsSpark = exact.sparkSession
    def bucket(j: Int): Column =
      hash64Id(concat(lit(s"cms$j:"), col("w"))) % width
    val hashed = (0 until depth).map { j =>
      exact.select(lit(j).as("row_j"), bucket(j).as("bucket"),
        col("w"), col("exact_cnt"))
    }.reduce(_ unionByName _)
    val counters = hashed.groupBy("row_j", "bucket")
      .agg(sum(col("exact_cnt")).as("counter"))
    val topRows = exact.orderBy(col("exact_cnt").desc, col("w")).limit(topK)
      .select("w").collect() // ≤ topK rows off a TakeOrderedAndProject
    val top = docsSpark.createDataFrame(
      java.util.Arrays.asList(topRows.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row(r.getString(0), (i + 1).toLong) }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType))))
    val out = hashed.join(broadcast(top), "w")
      // counters ≤ depth × width rows by construction — always broadcast
      .join(broadcast(counters), Seq("row_j", "bucket"))
      .groupBy("w", "exact_cnt", "rank")
      .agg(min(col("counter")).as("cms_est"))
      .select(col("rank").cast("long").as("rank"), col("w").as("word"),
        col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overestimate"))
      .localCheckpoint(true) // ≤ topK rows — eager so any caller pin can drop
    out
  }

  /** k-anonymity suppression over the quasi-identifier tuple
    * (lang, source, n_chars÷100): any combination shared by fewer than k
    * docs is generalized away (lang/source → "*", length bucket → −1) —
    * the release-hygiene gate a training-data pipeline runs before
    * publishing per-doc metadata (Sweeney 2002; membership below k makes
    * a row re-identifiable by its quasi-identifiers alone).
    *
    * Scale shape: the quasi-identifier census is bounded by the combo
    * cardinality (langs × sources × buckets ≪ corpus), so it broadcasts
    * back onto the corpus — one map-side-combined groupBy plus a narrow
    * projection; the text column never moves. */
  def kAnonymize(docs: DataFrame, k: Int = 5): DataFrame = {
    val qi = docs.select(col("doc_id"), col("lang"), col("source"),
      expr("n_chars div 100").as("len_bucket"))
    val census = qi.groupBy("lang", "source", "len_bucket")
      .agg(count(lit(1)).as("qi_count"))
    val keep = col("qi_count") >= k
    qi.join(broadcast(census), Seq("lang", "source", "len_bucket"))
      .select(col("doc_id"),
        when(keep, col("lang")).otherwise(lit("*")).as("lang_anon"),
        when(keep, col("source")).otherwise(lit("*")).as("source_anon"),
        when(keep, col("len_bucket")).otherwise(lit(-1L)).as("len_bucket_anon"),
        col("qi_count"), (!keep).as("suppressed"))
  }

  /** BPE merge-candidate statistics (Sennrich et al. 2016 step 1): counts
    * of adjacent character pairs WITHIN whitespace tokens, corpus-wide —
    * the argmax pair is exactly the next merge a byte-pair-encoding
    * tokenizer trainer would add to its vocabulary. Emits the top-k pairs
    * with a deterministic (count desc, pair asc) tie-break, so the merge
    * choice is reproducible across engines.
    *
    * Scale shape: a word's pair multiset depends only on the WORD, so
    * the corpus-scale pass is just the word-frequency census (map-side-
    * combined groupBy over exploded tokens — the same vocabulary-bounded
    * frame [[bpeTrain]] rounds run on); the char-pair explode and the
    * freq-weighted pair sum then run over |vocab| rows, not |tokens|
    * (measured 12.3 s → 4.0 s at x20, identical top-k). The final
    * census is bounded by |alphabet|² (≤ ~4k for ASCII text). The top-k
    * pick is `orderBy().limit(k)` (TakeOrderedAndProject — per-partition
    * partial top-k, no global sort) with ranks assigned driver-side over
    * the ≤ topK collected rows. A full BPE train iterates this op
    * against a re-segmented corpus; each round keeps the same shape. */
  def bpePairStats(docs: DataFrame, topK: Int = 20): DataFrame =
    bpePairStatsFromCensus(wordCensus(docs), topK)

  /** [[bpePairStats]] over a precomputed (memoized) word census (w, wc):
    * the per-word frequency filter commutes with the census groupBy
    * (length(w) is a per-word predicate), so the pair census runs over
    * the maintained word table with no corpus-scale pass. */
  def bpePairStatsFromCensus(census: DataFrame, topK: Int = 20): DataFrame = {
    val topRows = census
      .select(col("w"), col("wc").as("freq"))
      .filter(length(col("w")) >= 2)
      .select(col("freq"), explode(transform(
        sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair")).limit(topK)
      .collect()
    census.sparkSession.createDataFrame(
      java.util.Arrays.asList(topRows.zipWithIndex.map { case (r, i) =>
        org.apache.spark.sql.Row((i + 1).toLong, r.getString(0), r.getLong(1)) }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("rank",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("pair",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("cnt",
          org.apache.spark.sql.types.LongType))))
  }

  /** Distributed BPE training (greedy merges, the algorithm behind GPT
    * tokenizers): segment every distinct word into sentinel-wrapped
    * character symbols, then K rounds of (weighted pair census → argmax
    * → rewrite). [[bpePairStats]] is the one-round census; this is the
    * trainer that actually re-segments between rounds.
    *
    * Scale shape — the part that matters at 100 TB: the ONLY
    * corpus-scale pass is the initial word count. Everything after runs
    * over the WORD CENSUS (distinct words × frequency — vocabulary-
    * bounded, ~1M rows for web text), so each round is a census-sized
    * map-side-combined shuffle plus a one-row argmax collect; the
    * rewrite is a literal-replace projection over the census.
    * `localCheckpoint` between rounds truncates the K-deep lineage.
    *
    * Determinism: counts are integer sums; argmax ties break on the
    * pair's binary string order; the rewrite is `replace` (left-to-right
    * non-overlapping — exactly BPE's greedy merge order) with
    * sentinel-wrapped symbols so a pattern can never match inside a
    * symbol. Both engines implement `replace` identically, which is what
    * lets the DuckDB oracle replay the whole training run. */
  def bpeTrain(docs: DataFrame, merges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeCore(docs, merges)._1.toDF("rank", "pair", "cnt")
  }

  /** [[bpeTrain]] over a precomputed (memoized) word census: the trainer's
    * only corpus-scale pass IS the initial word count, so every merge
    * round (census → argmax → rewrite, the declared training) runs per
    * call over the maintained word table. */
  def bpeTrainFromCensus(census: DataFrame, merges: Int): DataFrame = {
    val spark = census.sparkSession
    import spark.implicits._
    bpeCoreFromCensus(census, merges)._1.toDF("rank", "pair", "cnt")
  }

  /** [[bpeTrainedCensus]] over a precomputed word census. */
  def bpeTrainedCensusFromCensus(census: DataFrame, merges: Int): DataFrame =
    bpeCoreFromCensus(census, merges)._2

  /** Apply side of the tokenizer: per-doc segmentation stats after K
    * trained merges — word/char/symbol counts and the chars-per-symbol
    * compression the merges bought. The doc→word explode joins the
    * (vocabulary-bounded, broadcastable) trained census; no per-doc
    * retokenization loop exists anywhere. */
  def bpeSegmentStats(docs: DataFrame, merges: Int): DataFrame =
    bpeSegmentStatsFromCensus(docs, bpeTrainedCensus(docs, merges))

  /** The trained segmented word census (w, wc, seg) after K merges —
    * memoize/persist this once per corpus and let every apply-side
    * reader join it (the session analog of a published tokenizer). */
  def bpeTrainedCensus(docs: DataFrame, merges: Int): DataFrame =
    bpeCore(docs, merges)._2

  /** [[bpeSegmentStats]] over a precomputed trained census. */
  def bpeSegmentStatsFromCensus(docs: DataFrame, seg: DataFrame): DataFrame = {
    tokenized(docs).select(col("doc_id"), explode(col("t")).as("w"))
      .join(seg.select("w", "seg"), "w")
      .select(col("doc_id"), length(col("w")).as("nc"),
        size(split(col("seg"), " ")).as("ns"))
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_words"),
        sum(col("nc")).as("n_chars"),
        sum(col("ns")).as("n_symbols"))
      .withColumn("compression",
        col("n_chars").cast("double") / col("n_symbols"))
  }

  /** Shared trainer core: the merge-table rows plus the final segmented
    * word census (w, wc, seg). */
  private def bpeCore(docs: DataFrame,
                      merges: Int): (Seq[(Long, String, Long)], DataFrame) =
    bpeCoreFromCensus(wordCensus(docs), merges)

  private def bpeCoreFromCensus(census: DataFrame,
                                merges: Int): (Seq[(Long, String, Long)], DataFrame) = {
    val S = "\u0001" // symbol sentinel: never appears in fixture text
    var seg = census
      .withColumn("seg", concat_ws(" ",
        expr(s"transform(regexp_extract_all(w, '.', 0), c -> concat('$S', c, '$S'))")))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    for (r <- 1 to merges) {
      val picked = seg
        .select(col("wc"), split(col("seg"), " ").as("s"))
        .filter(size(col("s")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(1, size(s) - 1), " +
            "i -> concat(element_at(s, i), ' ', element_at(s, i + 1)))")).as("pair"))
        .groupBy("pair").agg(sum(col("wc")).as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1).collect()
      if (picked.nonEmpty) {
        val pair = picked(0).getString(0)
        val merged = S + pair.replace(S, "").replace(" ", "") + S
        out += ((r.toLong, pair.replace(S, "").replace(" ", "+"),
          picked(0).getLong(1)))
        seg = seg.withColumn("seg",
            call_function("replace", col("seg"), lit(pair), lit(merged)))
          .localCheckpoint(true)
      }
    }
    (out.toSeq, seg)
  }

  /** Per-doc TF-IDF top terms: the k highest-weight terms of each doc
    * under tfidf = tf · ln((N + 1)/(df + 1)) (add-one-smoothed idf — no
    * divide-by-zero, boilerplate terms damp toward 0). The "what is this
    * doc about" keyword extractor (topic labeling, mixture audits).
    *
    * Scale shape: ONE corpus-wide shuffle on (doc_id, term) builds tf;
    * the document-frequency table is Zipf-bounded (≪ corpus) and
    * broadcast back; ranking reuses the tf partitioning key prefix.
    * Determinism: idf rounded to 12 decimals; tf · idf is one IEEE mul
    * (exact given both inputs), so no decimal re-sum is needed — there is
    * no float aggregation here at all. */
  def tfidfTopTerms(docs: DataFrame, topK: Int = 3): DataFrame =
    tfidfTopTermsFromIndex(termFrequencies(docs), docs, topK)

  /** The per-document term-frequency table (doc_id, term, tf) — ONE
    * corpus-wide shuffle on (doc_id, term). This is the maintained
    * inverted index of a production pipeline: TF-IDF and BM25 both read
    * it (memoized by the caller) instead of re-exploding the corpus. */
  def termFrequencies(docs: DataFrame): DataFrame =
    tokenized(docs).select(col("doc_id"), explode(col("t")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))

  /** [[tfidfTopTerms]] over a precomputed (memoized) term-frequency
    * index; `docs` is only consulted for the corpus size N. */
  def tfidfTopTermsFromIndex(tf: DataFrame, docs: DataFrame,
                             topK: Int = 3): DataFrame = {
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    tf.join(broadcast(dfT), "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf") * round(log((col("n") + 1.0) / (col("df") + 1.0)), 12))
      .withColumn("rank", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term"))))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank").cast("long").as("rank"),
        col("term"), col("tf"), col("tfidf"))
  }
}
