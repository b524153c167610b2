package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/** Deduplication operators for a large-scale training-data pipeline.
  *
  * All operators are pure dataflow (no driver-side loops) and scale by
  * construction:
  *  - exact/normalized dedup: one hash-shuffle on the fingerprint;
  *  - n-gram Jaccard: inverted-index self-join on shingles — the join key
  *    is the shingle, so co-occurring docs co-locate and no all-pairs
  *    cross product ever materializes;
  *  - MinHash+LSH: signature agg (one shuffle) → band join (candidate
  *    pairs only) → verify — the classic sub-quadratic near-dup path;
  *  - SimHash: bit-majority aggregation, one shuffle per doc/bit.
  *
  * Hash parity with the DuckDB oracle comes from using md5 (identical
  * hex in both engines) as the underlying hash family everywhere.
  */
object DedupOps {

  private def docs(s: SparkSession, dir: String): DataFrame = t(s, dir, "documents")

  /** Exact dedup: md5(text) groups with representative = min(doc_id)
    * (generalizes reference: clickhouse_migrate/migrate.py:85). */
  val dedupExact: Q = (s, dir) =>
    docs(s, dir).groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup after normalization (lower, collapse whitespace, trim). */
  val dedupExactNorm: Q = (s, dir) =>
    docs(s, dir)
      .withColumn("norm", trim(lower(regexp_replace(col("text"), " +", " "))))
      .groupBy(md5(col("norm")).as("fp"))
      .agg(min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_dups"))

  /** Distinct (doc, 3-token-shingle) pairs — the shared inverted index.
    * The shingle key is hashed to a 52-bit BIGINT (13 hex chars of its
    * md5) BEFORE the distinct: the index is joined on and shuffled by
    * this key three times downstream, and 8-byte longs shuffle/compare
    * ~3× cheaper than ~20-char strings. Both engines apply the same
    * hash, so even the (vanishingly rare) collision yields identical
    * results on both sides — the hash is part of the operator's
    * definition, not an approximation of it. */
  /** Per-document DISTINCT shingle arrays — the dedup happens inside
    * the row (array_distinct before any explode) instead of as a full
    * shuffle of the exploded index: same move as the per-row minhash
    * signature, one fewer shuffle in the pipeline. */
  private def shingleArrays(s: SparkSession, dir: String): DataFrame =
    if (s.catalog.functionExists("shingle_hashes"))
      // native: streams each window's token byte spans through one
      // digest — no per-shingle string build / hex render / conv parse
      // (graft.functions.ShingleHashes; bit-parity pinned by
      // MinhashSigSpec's shingle test)
      docs(s, dir)
        .filter(size(split(col("text"), " ")) >= 3)
        .select(col("doc_id"), expr("shingle_hashes(text, 3)").as("ss"))
    else shingleArraysHof(s, dir)

  /** The built-in-only shingle form — kept callable for the parity
    * spec and extension-absent sessions. */
  private[graft] def shingleArraysHof(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 3)
      .select(col("doc_id"), expr(
        "array_distinct(transform(sequence(0, size(t)-3), i -> " +
          "cast(conv(substring(md5(concat_ws(' ', slice(t, i+1, 3))), 1, 13), 16, 10) as bigint)))")
        .as("ss"))

  private def shingles(s: SparkSession, dir: String): DataFrame =
    shingleArrays(s, dir).select(col("doc_id"), explode(col("ss")).as("s"))

  /** Jaccard pipeline over a (doc_id, s) shingle index with per-doc set
    * sizes supplied by the caller: inverted-index self-join → common
    * counts → similarity filter. The caller chooses where `cnt` comes
    * from — map-side `size(ss)` when the index is uncapped, a groupBy
    * over the post-cap index when a df cap has dropped shingles. */
  private def jaccardPairs(sh: DataFrame, cnt: DataFrame): DataFrame = {
    // Two alternatives were measured at sf0.1 and rejected: (a) df>=2
    // posting pruning — removes almost nothing on this 40-word-vocab
    // corpus and adds a shuffle (10.8s vs 4.6s); (b) posting-list pair
    // generation (groupBy shingle → emit pairs via nested transform) —
    // concentrates a hot shingle's df² pairs in one row, 11.6s. The
    // self-join spreads pair generation across the cluster evenly.
    val common = sh.as("x").join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(cnt.as("ca"), col("a") === col("ca.doc_id"))
      .join(cnt.as("cb"), col("b") === col("cb.doc_id"))
      .select(col("a"), col("b"), col("common"),
        col("ca.n").as("na"), col("cb.n").as("nb"),
        (col("common") / (col("ca.n") + col("cb.n") - col("common"))).as("jacc"))
      .filter(col("jacc") >= 0.3)
  }

  /** N-gram (3-shingle) Jaccard near-dup pairs via inverted-index join.
    * The shingle index feeds both join sides: cache it once. Per-doc
    * set sizes come map-side from the array (`size(ss)`) — no groupBy
    * shuffle of the exploded index just to count what each row already
    * knows. */
  val dedupNgramJaccard: Q = (s, dir) => {
    // cache the ARRAY form: the md5 shingle hashing (the expensive
    // map-side work) runs once, and the index explode, both self-join
    // sides, and the map-side counts all read the cached arrays
    val arr = shingleArrays(s, dir).persist()
    val sh = arr.select(col("doc_id"), explode(col("ss")).as("s"))
    val cnt = arr.select(col("doc_id"), size(col("ss")).cast("long").as("n"))
    jaccardPairs(sh, cnt)
  }

  /** Jaccard with a max-df cap on shingles: a shingle appearing in more
    * than `maxDf` documents is dropped from every document's shingle set
    * before similarity. On a natural 100 TB corpus this is MANDATORY —
    * the inverted-index join emits df² candidate pairs per shingle, so a
    * single stop-phrase shingle ("of the and …") with df=10⁶ would emit
    * 10¹² pairs from one key. Hot shingles are few by definition, so the
    * block-list broadcasts; documents lose only their least
    * discriminative shingles (standard practice: such shingles carry no
    * near-dup signal). At the synthetic test scale every df is small, so
    * the default catalog entry uses maxDf=3 — a threshold that really
    * drops shingles here (df ranges 1..7 at sf0.01) — while
    * `dedup_ngram_jaccard` stays uncapped as the oracle twin. */
  /** Catalog-entry df cap — interpolated into BOTH the Scala entry and
    * the oracle SQL so the two can never drift. */
  private[ops] val JaccardMaxDf = 3

  def dedupNgramJaccardCapped(maxDf: Int): Q = (s, dir) => {
    val sh0 = shingles(s, dir).persist()
    val hot = sh0.groupBy("s").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("s")
    val kept = sh0.join(broadcast(hot), Seq("s"), "left_anti").persist()
    // counts must reflect the POST-cap sets (the oracle counts the same
    // way), so the capped twin keeps the groupBy
    jaccardPairs(kept, kept.groupBy("doc_id").agg(count(lit(1)).as("n")))
  }

  private def distinctTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      explode(array_distinct(split(col("text"), " "))).as("tk"))

  /** Pair-bounded token-intersection counts — (a, b, ni) for each
    * candidate pair, ni = |distinct-token intersection|. Shared by the
    * three sketch-accuracy audits (minhash/simhash/containment).
    *
    * The two token derivations stay SEPARATE (one per join side), and
    * the joins themselves are what bound the index to the candidate
    * set — r20 REJECTED EXPERIMENTS (do not redo, measured with an
    * interleaved same-JVM A/B at sf0.1, noop action):
    *  - deriving the index ONCE, semi-pruned by the pair-member ids and
    *    persisted, then shared by both sides: 1.89 → 3.25 s minhash /
    *    2.09 → 4.20 s simhash in the full bench — the persist chains
    *    pairs-IMR → pairDocs → semi → tok-IMR into one sequential
    *    stage ladder where the un-persisted sides materialize in
    *    parallel;
    *  - the same semi prune per side WITHOUT the persist: medians
    *    3.4-3.5 s vs 1.65/1.33 for the plain shape;
    *  - broadcast-hinting the semi's pair-id side: worse still
    *    (4.7-4.8 s medians; two broadcast builds + the probe work
    *    exceed everything the prune saves at this scale).
    * At 100 TB the pre-exchange prune idea returns as a runtime BLOOM
    * filter (guide §3.2) — Spark can inject it from the join itself —
    * not as a manual semi join.
    * `pairs` must carry exactly (a, b) and should itself be persisted
    * by the caller (every audit references it at least twice — that
    * persist measured ~0.5 s FASTER than the r19 un-persisted shape,
    * which re-executed the whole post-signature LSH subtree). */
  private def pairIntersections(s: SparkSession, dir: String,
      pairs: DataFrame): DataFrame = {
    val tok = distinctTokens(s, dir)
    pairs
      .join(tok.toDF("a", "tk"), "a")
      .join(tok.toDF("b", "tk"), Seq("b", "tk"))
      .groupBy("a", "b").agg(count(lit(1)).as("ni"))
  }

  /** MinHash/LSH banding parameters — shared by the Scala plan and the
    * oracle SQL so the two can never drift. 16 permutations banded as
    * 2 bands × 8 rows: P(band collision) = j⁸ per band, so a random
    * pair at this corpus's ambient token-Jaccard (~0.5) collides with
    * probability ~2·0.5⁸ ≈ 0.8% — versus ~12% under the previous
    * 2 bands × 4 rows, which retained 41% of ALL pairs as candidates
    * (empirically quadratic). Wider bands trade recall at mid-range
    * similarity for selectivity; near-exact dups (j→1) still collide
    * with probability →1. */
  private[graft] val MinhashPerms = 16
  private[graft] val MinhashBands = 2
  private[graft] val MinhashRowsPerBand = MinhashPerms / MinhashBands
  /** Degenerate-bucket guard: a band bucket holding more than this many
    * documents contributes O(bucket²) candidate pairs from one key — at
    * 100 TB a single stop-pattern bucket would dominate the job. Such
    * buckets are dropped wholesale (their members are by construction
    * low-information collisions); the drop is observable through
    * [[minhashBandOccupancy]]. The cap FIRES on this corpus (sf0.01:
    * each band's largest bucket exceeds the cap — 161/141 docs under
    * the round-7 mod-p family) — oracle parity holds because the
    * oracle SQL applies the identical `n_docs > cap` anti-join, not
    * because the cap is never exercised. DedupSelectivitySpec pins
    * that the cap stays live. */
  private[graft] val MinhashMaxBucket = 50

  /** Modulus of the permutation family: the largest prime below 2⁵².
    * REQUIRED for the minima to behave like independent permutations —
    * without it, g_i = h1 + i·h2 is monotone in i, so for i ≥ 2 the
    * argmin token is simply the min-h2 token and the 16 "permutations"
    * collapse to ~2 independent ones. The `dedup_minhash_accuracy`
    * audit caught this empirically: pre-fix, candidate pairs read a
    * mean estimated Jaccard of 0.98 against a true 0.59 (bias +0.39);
    * with the modular reduction the bias drops to the +0.09 expected
    * from band-selection conditioning and the MAE from 0.39 to 0.10.
    * All arithmetic stays exact int64: h1 + 15·h2 < 2⁵⁶, and % on
    * BIGINT is exact in both engines. */
  private[graft] val MinhashModPrime = 4503599627370449L

  /** 16-permutation MinHash signature over ONE md5 per token: the
    * 128-bit digest is sliced into two independent 52-bit integers
    * (h1 = hex[1..13], h2 = hex[14..26]) and the permutation family is
    * derived as g_i(tk) = (h1 + i·h2) mod [[MinhashModPrime]]
    * (Kirsch–Mitzenmacher double hashing), minimum per doc taken over
    * BIGINTs. Versus hashing md5("i:"+tk) 16 times this cuts map-side
    * digest work 16× and keeps the arithmetic exact int64 in both
    * engines (max pre-mod value 2⁵² + 15·2⁵² < 2⁵⁶), so the oracle
    * reproduces it bit-for-bit.
    *
    * Computed per-ROW with higher-order functions — md5 once per
    * distinct token into an (h1, h2) struct array, then 16 array_min
    * folds — rather than explode + groupBy-min: the HOF form removes
    * the token-table shuffle and the ~40× explode blowup entirely, and
    * measured 1.8× faster at sf0.1 (0.45 s vs 0.76 s warm) with
    * IDENTICAL signature checksums, despite HOF lambdas being
    * interpreted (the md5 digest work dominates either way; the
    * shuffle does not). Also the form a STREAMING plan requires: a
    * stateful aggregation may not precede another stateful operator,
    * a per-row projection may ([[graft.streaming.DocStreams]]). */
  private[graft] def minhashSigFromText(docs: DataFrame): DataFrame = {
    // native codegen expression when the session registered it (one
    // md5 → two 52-bit ints → 16 mins, all in one static call; see
    // graft.functions.MinhashSig — measured ~2x the HOF form), else
    // the built-in-only HOF pipeline below with identical bits.
    // MinhashSigSpec pins both bit-parity and single evaluation (the
    // 16 sig[i] extracts must not re-run the expression).
    if (docs.sparkSession.catalog.functionExists("minhash_sig")) {
      docs.select(col("doc_id"), expr("minhash_sig(text)").as("sig"))
        .select(col("doc_id") +:
          (0 until MinhashPerms).map(i => col("sig")(i).as(s"mh$i")): _*)
    } else minhashSigHof(docs)
  }

  /** The HOF-only signature form — kept callable for the parity spec. */
  private[graft] def minhashSigHof(docs: DataFrame): DataFrame = {
    val withHs = docs.select(col("doc_id"),
      expr("""transform(array_distinct(split(text, ' ')), tk -> named_struct(
             'h1', cast(conv(substring(md5(tk), 1, 13), 16, 10) as bigint),
             'h2', cast(conv(substring(md5(tk), 14, 13), 16, 10) as bigint)))""").as("hs"))
    val mins = (0 until MinhashPerms).map(i =>
      expr(s"array_min(transform(hs, p -> (p.h1 + $i * p.h2) % $MinhashModPrime))").as(s"mh$i"))
    withHs.select(col("doc_id") +: mins: _*)
  }

  private def minhashSig(s: SparkSession, dir: String): DataFrame =
    minhashSigFromText(docs(s, dir))

  /** (doc_id, bi, bh) band membership rows computed per-row from text —
    * the streaming-safe banding (see [[minhashSigFromText]]). */
  private[graft] def minhashBandRowsFromText(docsDf: DataFrame): DataFrame = {
    val sig = minhashSigFromText(docsDf)
    val bandHashes = (0 until MinhashBands).map { b =>
      md5(concat_ws(",", (b * MinhashRowsPerBand until (b + 1) * MinhashRowsPerBand)
        .map(i => col(s"mh$i")): _*)).as(s"bh$b")
    }
    sig.select(col("doc_id") +: bandHashes: _*)
      .select(col("doc_id"), explode(array((0 until MinhashBands).map(b =>
        struct(lit(b).as("bi"), col(s"bh$b").as("bh"))): _*)).as("band"))
      .select(col("doc_id"), col("band.bi").as("bi"), col("band.bh").as("bh"))
  }

  /** Per-document packed signature (array<long> — 128 bytes through the
    * verify joins) + one md5 bucket hash per band (over the
    * comma-delimited decimal mins — identical rendering both engines). */
  private def minhashBanded(s: SparkSession, dir: String): DataFrame = {
    val bandHashes = (0 until MinhashBands).map { b =>
      md5(concat_ws(",", (b * MinhashRowsPerBand until (b + 1) * MinhashRowsPerBand)
        .map(i => col(s"mh$i")): _*)).as(s"bh$b")
    }
    minhashSig(s, dir).select(
      col("doc_id") +:
        array((0 until MinhashPerms).map(i => col(s"mh$i")): _*).as("sig") +:
        bandHashes: _*)
  }

  /** (doc_id, bi, bh) band membership rows — the LSH bucket index. */
  private def minhashBandRows(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"), explode(array((0 until MinhashBands).map(b =>
        struct(lit(b).as("bi"), col(s"bh$b").as("bh"))): _*)).as("band"))
      .select(col("doc_id"), col("band.bi").as("bi"), col("band.bh").as("bh"))

  /** MinHash + LSH banding (16 perms, 2 bands × 8 rows): candidate pairs
    * share a band hash; verified by signature agreement count.
    * Sub-quadratic — the 100 TB near-dup path.
    *
    * The per-permutation mins are packed into ONE fixed-layout string
    * (16 × 32 hex chars) per document, so each verify join carries a
    * single column and the agreement count is 16 substring compares on
    * the join output. Candidate pairs stay NARROW — (a, b) only —
    * through the band self-join and the distinct: the band join emits a
    * pair per colliding doc pair per band (≫ the distinct pair count on
    * a near-dup-heavy corpus), so every byte carried there is paid df²
    * times. An attempt to drop the verify joins entirely by riding the
    * packed sig through the band explode was measured at sf0.1:
    * 26 s vs 3.6 s — the widened pre-distinct shuffle dwarfs the two
    * (post-distinct, narrow) verify joins. At test scale AQE broadcasts
    * the small sig side of the verify joins; at 100 TB they degrade to
    * shuffle hash joins on doc_id, which is the correct shape.
    *
    * Buckets larger than [[MinhashMaxBucket]] are dropped before the
    * self-join via a broadcast anti-join (the analog of the Jaccard
    * max-df cap, [[dedupNgramJaccardCapped]]) — the band join's df² blowup
    * is bounded per key by construction. */
  val dedupMinhashLsh: Q = (s, dir) => {
    // signatures feed the band explode and both verify-join sides
    val sig = minhashBanded(s, dir).persist()
    val bands = minhashBandRows(sig)
    val hot = bands.groupBy("bi", "bh").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > MinhashMaxBucket).select("bi", "bh")
    val kept = bands.join(broadcast(hot), Seq("bi", "bh"), "left_anti")
    val cand = kept.as("x").join(kept.as("y"),
        col("x.bi") === col("y.bi") && col("x.bh") === col("y.bh")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val matches: Column = (0 until MinhashPerms)
      .map(i => (col("sa.sig").getItem(i) === col("sb.sig").getItem(i)).cast("int"))
      .reduce(_ + _)
    cand
      .join(sig.select(col("doc_id"), col("sig")).as("sa"), col("a") === col("sa.doc_id"))
      .join(sig.select(col("doc_id"), col("sig")).as("sb"), col("b") === col("sb.doc_id"))
      .select(col("a"), col("b"), matches.cast("long").as("n_match"),
        (matches.cast("double") / MinhashPerms).as("est_jacc"))
  }

  /** Sketch-accuracy audit for the MinHash family — estimated Jaccard
    * (signature agreement / 16) vs TRUE token-set Jaccard on the LSH
    * candidate pairs, the same measured-contract class as
    * `ann_recall_at_k` (IVF recall) and ApproxDistinctSpec (HLL).
    * This audit is what caught the round-7 estimator collapse (see
    * [[MinhashModPrime]]): a biased sketch passes every hash-parity
    * gate — both engines faithfully compute the same wrong number —
    * so accuracy must be measured against ground truth, not an oracle.
    *
    * Scale posture: true Jaccard is computed ONLY for the candidate
    * pairs (the sub-quadratic LSH output, the pairs the pipeline
    * actually adjudicates) via an inverted-index token join bounded by
    * the pair set — never all-pairs. MinhashAccuracySpec pins the
    * statistical contract: near-unbiased (band-selection conditioning
    * only), MAE within the 16-permutation sampling noise, and the
    * structural band guarantee (every candidate shares a full band ⇒
    * n_match ≥ 8). */
  val dedupMinhashAccuracy: Q = (s, dir) => {
    // r20 (VERDICT item 3): the audit references the LSH pair set twice
    // (intersection probe + the scored output); without the persist the
    // whole post-signature LSH subtree (band explode, hot-bucket
    // anti-join, self-join, distinct, two verify joins) executed twice
    // — measured in the AQE-final plan. The pair set is the
    // sub-quadratic candidate output: tiny, and the right thing to pin.
    val pairs = dedupMinhashLsh(s, dir).select("a", "b", "n_match").persist()
    // r19 (guide §2.3): |distinct tokens| per doc is in-row arithmetic
    // on the text itself — one narrow Project instead of re-exploding
    // the token index and shuffling it into a per-doc count
    val sz = docs(s, dir).select(col("doc_id"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("n"))
    val inter = pairIntersections(s, dir, pairs.select("a", "b"))
    pairs
      .join(inter, Seq("a", "b"), "left")
      .join(sz.toDF("a", "na"), "a")
      .join(sz.toDF("b", "nb"), "b")
      .select(col("a"), col("b"), col("n_match"),
        round(col("n_match") / lit(MinhashPerms.toDouble), 6).as("est6"),
        round(coalesce(col("ni"), lit(0L)) /
          (col("na") + col("nb") - coalesce(col("ni"), lit(0L))), 6).as("true6"))
      .withColumn("err6", round(abs(col("est6") - col("true6")), 6))
  }

  /** Hot-fingerprint cap for [[dedupContainment]] candidates — same
    * role as [[MinhashMaxBucket]]: a boilerplate shingle shared by
    * thousands of documents must not quadratically expand the pair
    * join. */
  private[graft] val ContainMaxDf = 16

  /** Asymmetric CONTAINMENT — the subset-duplicate detector that
    * symmetric Jaccard structurally under-scores. A short document
    * contained in a longer one (quoted snippet, prefix crop,
    * boilerplate-wrapped repost — the common shapes in web training
    * corpora) has Jaccard ≈ |A|/|B|, which a dedup threshold misses,
    * but containment C = |A∩B| / min(|A|,|B|) = 1.0. Broder's
    * resemblance paper defines both measures for exactly this reason.
    *
    * Candidate generation is the WINNOWING fingerprint index, not
    * minhash bands: a 2×8 band join is calibrated to surface
    * high-JACCARD pairs and by design never surfaces a J≈0.25 subset
    * pair, while the winnowing shared-run theorem is length-ratio
    * independent — any shared contiguous run of ≥ w+k−1 tokens
    * yields a shared fingerprint (DedupGuaranteeSpec), and real
    * subset dups are contiguous. Hot fingerprints (> [[ContainMaxDf]]
    * docs) are dropped by broadcast anti-join before the pair join
    * (the [[MinhashMaxBucket]] pattern), and pairs must share
    * ≥ [[WinnowMinShared]] fingerprints. The token intersection is
    * then computed ONLY for candidate pairs via the pair-bounded
    * inverted-index join — never all-pairs. The `subset_dup` verdict
    * compares in exact integers (ni·10 ≥ min(na,nb)·9 ⇔ C ≥ 0.9) so
    * no float ulp can flip a borderline row; `cont6` is the one
    * terminal IEEE division, rounded per the standing discipline. */
  val dedupContainment: Q = (s, dir) => {
    // r20 (VERDICT item 3): the fingerprint rows feed the hot-df
    // aggregate, BOTH pair-join sides, so the winnowing pass ran
    // multiple times; the pair set is then referenced twice (probe +
    // output). Persist both — fps is the ~1/w-sampled fingerprint
    // index (narrow longs), pairs the sub-quadratic candidate set.
    val fps = winnowFpRows(docs(s, dir)).persist()
    val hot = fps.groupBy("fp").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > ContainMaxDf).select("fp")
    val kept = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    val pairs = kept.as("x").join(kept.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .select("a", "b")
      .persist()
    // r19 (guide §2.3): |distinct tokens| per doc is in-row arithmetic
    // on the text itself — one narrow Project instead of re-exploding
    // the token index and shuffling it into a per-doc count
    val sz = docs(s, dir).select(col("doc_id"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("n"))
    val inter = pairIntersections(s, dir, pairs)
    pairs
      .join(inter, Seq("a", "b"), "left")
      .join(sz.toDF("a", "na"), "a")
      .join(sz.toDF("b", "nb"), "b")
      .withColumn("ni", coalesce(col("ni"), lit(0L)))
      .select(col("a"), col("b"), col("ni"), col("na"), col("nb"),
        round(col("ni") / least(col("na"), col("nb")), 6).as("cont6"),
        (col("ni") * 10L >= least(col("na"), col("nb")) * 9L)
          .cast("long").as("subset_dup"))
  }

  /** Cross-source contamination — the train/test-leakage check: NEAR-
    * duplicate pairs whose two members come from different sources,
    * aggregated into a per-source-pair leakage matrix. When the
    * sources are dataset splits (or a training corpus vs an eval
    * benchmark), any row here is leakage a decontamination pass must
    * resolve. Near-dup (not exact-fingerprint) on purpose: real
    * leakage is rarely byte-identical — benchmark items get
    * reformatted, truncated, re-punctuated — and on this corpus the
    * exact-fingerprint version is structurally empty (exact dups never
    * straddle sources), which would make the check vacuous. Cost: the
    * verified pair set (sub-quadratic LSH) + two hash joins to attach
    * sources + one small groupBy. */
  val crossSourceOverlap: Q = (s, dir) => {
    val pairs = dedupMinhashLsh(s, dir)
      .filter(col("n_match") >= MinhashClusterMatches).select("a", "b")
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.toDF("a", "source_a"), "a")
      .join(src.toDF("b", "source_b"), "b")
      .filter(col("source_a") =!= col("source_b"))
      .groupBy(
        least(col("source_a"), col("source_b")).as("source_x"),
        greatest(col("source_a"), col("source_b")).as("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Incremental near-dup check — the daily-ingest shape: a NEW batch
    * of documents is screened against the EXISTING corpus only. The
    * band join is new×existing, never existing×existing — so a daily
    * run costs |new| band lookups against the (bucketed, persisted)
    * corpus index instead of re-deduping the corpus, and re-runs are
    * idempotent. Within-batch duplicates are the streaming filter's
    * job ([[graft.streaming.DocStreams]]) or a batch-local
    * [[dedupMinhashLsh]] over the small new set. The batch split here
    * is a deterministic modulus on doc_id (docs with doc_id % 5 = 0
    * play the "arriving batch") so the oracle reproduces it; in
    * production it is the ingest date partition. Hot existing-side
    * buckets are dropped by the same [[MinhashMaxBucket]] cap. */
  val dedupIncremental: Q = (s, dir) => {
    val sig = minhashBanded(s, dir).persist()
    val bands = minhashBandRows(sig)
    val existingBands = bands.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val newBands = bands.filter(pmod(col("doc_id"), lit(5)) === 0)
    val hot = existingBands.groupBy("bi", "bh").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > MinhashMaxBucket).select("bi", "bh")
    val keptExisting = existingBands.join(broadcast(hot), Seq("bi", "bh"), "left_anti")
    val cand = newBands.as("x").join(keptExisting.as("y"),
        col("x.bi") === col("y.bi") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("existing_id"))
      .distinct()
    val matches: Column = (0 until MinhashPerms)
      .map(i => (col("sa.sig").getItem(i) === col("sb.sig").getItem(i)).cast("int"))
      .reduce(_ + _)
    cand
      .join(sig.select(col("doc_id"), col("sig")).as("sa"), col("new_id") === col("sa.doc_id"))
      .join(sig.select(col("doc_id"), col("sig")).as("sb"), col("existing_id") === col("sb.doc_id"))
      .select(col("new_id"), col("existing_id"), matches.cast("long").as("n_match"))
      .filter(col("n_match") >= MinhashClusterMatches)
  }

  /** Persist the corpus band index as a BUCKETED table — the 100 TB
    * form of [[dedupIncremental]]'s existing side: the index is
    * computed once, written bucketed (and sorted) by the band hash,
    * and every subsequent incremental screen probes it with NO shuffle
    * of the corpus — only the (small) arriving batch repartitions to
    * the index's bucketing. The hot-bucket cap is applied at WRITE
    * time, so probes never even read the degenerate buckets. */
  def writeBandIndex(corpusDocs: DataFrame, table: String, buckets: Int = 8): Unit = {
    val bands = minhashBandRowsFromText(
      corpusDocs.select(col("doc_id"), col("text")))
    val hot = bands.groupBy("bi", "bh").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > MinhashMaxBucket).select("bi", "bh")
    // bucketed on EXACTLY the probe-join key set — a partial set makes
    // the planner disable the bucketed scan
    bands.join(broadcast(hot), Seq("bi", "bh"), "left_anti")
      .write.mode("overwrite")
      .bucketBy(buckets, "bi", "bh").sortBy("bi", "bh")
      .saveAsTable(table)
  }

  /** Incremental screen against a persisted [[writeBandIndex]] table:
    * the arriving batch's band rows equi-join the bucketed index on
    * the band hash — the index side reads its buckets in place
    * (no Exchange), verified by BucketingSpec's plan check. Returns
    * (new_id, existing_id, bi) candidate collisions; signature
    * verification composes downstream exactly as in
    * [[dedupIncremental]]. */
  def incrementalAgainstIndex(s: SparkSession, newDocs: DataFrame, indexTable: String): DataFrame = {
    val newBands = minhashBandRowsFromText(newDocs)
    val index = s.table(indexTable)
    newBands.as("x").join(index.as("y"),
        col("x.bi") === col("y.bi") && col("x.bh") === col("y.bh"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("existing_id"),
        col("x.bi").as("bi"))
      .distinct()
  }

  /** Winnowing fingerprints — the robust rolling-hash document
    * fingerprinting of the plagiarism/dedup literature (local
    * fingerprinting via per-window minima over consecutive shingle
    * hashes; the guarantee: any shared run of at least
    * k + w − 1 tokens produces at least one shared fingerprint, while
    * only ~1/w of the shingles are kept). Here: k = [[WinnowK]]-token
    * shingles hashed to 52-bit md5 values IN ORDER (positional, not
    * the deduped [[graft.functions.ShingleHashes]] set — winnowing
    * needs window positions), windows of [[WinnowW]] consecutive
    * hashes, fingerprint = window minimum, per-doc distinct. Pairs
    * sharing >= [[WinnowMinShared]] fingerprints rank as near-dup
    * candidates. Scale shape: fingerprinting is in-row map-side work;
    * the pair generation is the same inverted-index equi-join as the
    * Jaccard family — co-occurring docs co-locate on the fingerprint,
    * never an all-pairs product — with ~w× fewer index rows than the
    * full shingle index; a max-df cap composes exactly as in
    * [[dedupNgramJaccardCapped]]. */
  private[graft] val WinnowK = 8
  private[graft] val WinnowW = 4
  private[graft] val WinnowMinShared = 2
  private[graft] val WinnowTopK = 25
  /** (doc_id, fp) winnowing fingerprint rows — native one-pass form
    * (rolling shingle hash + monotonic-deque window minima) when
    * registered, else the HOF form the oracle mirrors; bit-identical
    * arrays by construction (MinhashSigSpec pins it). */
  private[graft] def winnowFpRows(docsDf: DataFrame): DataFrame = {
    val eligible = docsDf
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= WinnowK + WinnowW - 1)
    if (docsDf.sparkSession.catalog.functionExists("winnow_fps"))
      eligible.select(col("doc_id"), explode(expr("winnow_fps(text)")).as("fp"))
    else eligible
      .withColumn("hs", expr(
        s"""transform(sequence(1, size(tk) - ${WinnowK - 1}),
            i -> cast(conv(substring(md5(array_join(slice(tk, i, $WinnowK), ' ')), 1, 13), 16, 10) as bigint))"""))
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(1, size(hs) - ${WinnowW - 1}), j -> array_min(slice(hs, j, $WinnowW)))")))
        .as("fp"))
  }

  /** The HOF-only fingerprint ARRAY form — kept callable for the
    * parity spec (first-occurrence order, array_distinct semantics). */
  private[graft] def winnowFpArraysHof(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= WinnowK + WinnowW - 1)
      .withColumn("hs", expr(
        s"""transform(sequence(1, size(tk) - ${WinnowK - 1}),
            i -> cast(conv(substring(md5(array_join(slice(tk, i, $WinnowK), ' ')), 1, 13), 16, 10) as bigint))"""))
      .select(col("doc_id"), array_distinct(expr(
        s"transform(sequence(1, size(hs) - ${WinnowW - 1}), j -> array_min(slice(hs, j, $WinnowW)))"))
        .as("fps"))

  val dedupWinnow: Q = (s, dir) => {
    val fps = winnowFpRows(docs(s, dir))
    fps.as("x").join(fps.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= WinnowMinShared)
      .orderBy(col("n_shared").desc, col("a"), col("b"))
      .limit(WinnowTopK)
  }

  /** The streaming incremental screen surfaced into the CORRECTNESS
    * gate: EXECUTES [[graft.streaming.DocStreams.incrementalScreen]] as
    * a real Structured Streaming query — file-source stream over the
    * same parquet table, memory sink — probing the persisted
    * [[writeBandIndex]] table, then returns the sink contents. The
    * oracle is [[dedupIncremental]]'s candidate-pair CTE chain (the
    * stage before signature verification, which is what the screen
    * emits), so the driver's gate pins stream == batch == oracle —
    * previously only StreamingSpec asserted the first equality. The
    * 1/5 doc_id split mirrors [[dedupIncremental]] and StreamingSpec. */
  val dedupIncrementalStreamTwin: Q = (s, dir) => {
    val all = docs(s, dir)
    s.sql("CREATE DATABASE IF NOT EXISTS graft_stream_twin")
    if (!s.catalog.tableExists("graft_stream_twin.band_index")) {
      // the session catalog is in-memory but the warehouse directory is
      // not: a previous JVM's managed-table location would block CREATE,
      // so purge any orphaned directory before (re)building the index
      val loc = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir"), "graft_stream_twin.db/band_index")
      loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
    }
    writeBandIndex(all.filter(pmod(col("doc_id"), lit(5)) =!= 0),
      "graft_stream_twin.band_index")
    val sch = s.read.parquet(s"$dir/documents.parquet").schema
    // the testdata table is a single FILE and the file stream source
    // requires a directory: stream the sf directory with a glob pinned
    // to exactly that file
    val newDocs = s.readStream.schema(sch)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .select(col("doc_id"), col("text"))
      .filter(pmod(col("doc_id"), lit(5)) === 0)
    val sink = "graft_stream_twin_sink"
    s.catalog.dropTempView(sink)
    val q = graft.streaming.DocStreams
      .incrementalScreen(newDocs, "graft_stream_twin.band_index")
      .writeStream.format("memory").queryName(sink)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    s.table(sink)
      .select(col("doc_id").as("new_id"), col("existing_id"), col("bi"))
      .distinct()
  }

  /** The STATEFUL streaming topology surfaced into the CORRECTNESS
    * gate: EXECUTES [[graft.streaming.DocStreams.nearDupBandFilter]] —
    * the flatMapGroupsWithState first-claimant state machine, the most
    * state-intricate of the six streaming topologies — as a real
    * Structured Streaming query (file-source stream over the same
    * parquet table, memory sink). The whole table arrives as ONE
    * micro-batch (single file, no maxFilesPerTrigger cap) and within a
    * batch the operator processes each bucket's rows in doc_id order,
    * so the first claimant of every band bucket is its global MIN
    * doc_id; the oracle is therefore the batch groupBy-MIN over the
    * same band rows. The driver's gate pins stream == batch == oracle —
    * previously only StreamingSpec asserted the first equality
    * (multi-batch arrival-order semantics stay covered there, where
    * arrival order is controlled). */
  val dedupMinhashStreamTwin: Q = (s, dir) => {
    val sch = s.read.parquet(s"$dir/documents.parquet").schema
    // the testdata table is a single FILE and the file stream source
    // requires a directory: stream the sf directory with a glob pinned
    // to exactly that file
    val streamDocs = s.readStream.schema(sch)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .select(col("doc_id"), col("text"))
    val sink = "graft_minhash_stream_sink"
    s.catalog.dropTempView(sink)
    val q = graft.streaming.DocStreams.nearDupBandFilter(streamDocs)(s)
      .writeStream.format("memory").queryName(sink)
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append()).start()
    try q.processAllAvailable() finally q.stop()
    s.table(sink).select(col("doc_id"), col("bi"), col("bh"),
      col("first_doc_id"), col("is_first").cast("int").as("is_first"))
  }

  /** Band-bucket occupancy distribution: per band, how many buckets hold
    * n documents. The observability twin of the [[MinhashMaxBucket]] cap
    * — a skewed bucket (the one that would dominate the band join at
    * scale) shows up here as a high-n_docs row before it ever hurts. */
  val minhashBandOccupancy: Q = (s, dir) =>
    minhashBandRows(minhashBanded(s, dir))
      .groupBy("bi", "bh").agg(count(lit(1)).as("n_docs"))
      .groupBy("bi", "n_docs").agg(count(lit(1)).as("n_buckets"))

  /** Signature-agreement threshold for a verified near-dup edge:
    * 12/16 matching permutations ≈ Jaccard 0.75 — well above this
    * corpus's ~0.5 ambient similarity. Shared with the oracle SQL. */
  private[graft] val MinhashClusterMatches = 12

  /** Near-dup cluster representatives — the "keep one per cluster" step
    * that turns pairwise LSH output into an actual dedup decision.
    * Connected components over the verified pair graph by iterative
    * min-label propagation: every doc starts as its own label; each
    * round a doc adopts the smallest label among itself and its
    * neighbors; at convergence label = min doc_id of the component =
    * the canonical representative. Only docs with at least one near-dup
    * edge appear (singletons trivially keep themselves).
    *
    * Scale shape: each round is one equi-join edges⋈labels plus one
    * groupBy-min — all hash-partitioned on doc_id, no driver-side graph.
    * Round count = component diameter, and near-dup components are
    * shallow by construction (members pairwise-similar ⇒ band-collide ⇒
    * mostly direct edges), so a handful of rounds converge; the loop is
    * capped and per-round deltas are counted distributedly (`count()` of
    * changed labels — a scalar per round on the driver, like the
    * reference's own apply-loop metadata). For adversarial
    * billion-node chain graphs the known upgrade is the
    * large-star/small-star alternation, which this formulation slots
    * into without changing the contract.
    *
    * The DuckDB oracle computes the same components as a recursive
    * transitive closure — an intentionally different algorithm, so the
    * two engines cross-check the RESULT, not each other's iteration
    * count. */
  val dedupClusterReps: Q = (s, dir) => {
    // MEASURED (round 7, NOTES_r7.md "CC algorithm choice", sf0.1
    // post-mod-p graph: 13,958 edges / 2,138 clustered docs): min-label
    // propagation steady-state 1.5-1.7 s vs star contraction 2.4-2.6 s
    // — the star twin's per-alternation edge rewrite (two
    // symmetrize+groupBy+distinct rounds) costs more than propagation's label joins on
    // shallow LSH components (6 alternations vs ~4 jump rounds). Star
    // stays the documented adversarial-chain upgrade, NOT the default.
    val verified = dedupMinhashLsh(s, dir)
      .filter(col("n_match") >= MinhashClusterMatches)
      .select(col("a"), col("b"))
    connectedComponents(verified)
      .select(col("doc_id"), col("label").as("cluster_rep"))
  }

  /** Leakage-safe train/val/test split — the assignment every
    * held-out evaluation silently depends on: hash-splitting PER
    * DOCUMENT puts a near-duplicate pair's members in different splits
    * with probability 2·p·(1−p), leaking training text into the test
    * set verbatim (the contamination `dedup_decontaminate` then has to
    * detect after the fact). The fix is structural: split on the
    * near-dup CLUSTER, not the document — every member inherits its
    * cluster representative's hash bucket (singletons are their own
    * group), so a duplicate pair straddling the split boundary is
    * impossible BY CONSTRUCTION, not by audit. 80/10/10 via the
    * content-stable 52-bit md5 of the group key.
    *
    * Scale shape: the cluster pass is [[dedupClusterReps]] (banded
    * candidates + iterative equi-joins); the assignment itself is one
    * left equi-join + in-row hashing — nothing new to audit. The split
    * is REPRODUCIBLE (pure function of the doc-id graph) and stable
    * under re-partitioning; it changes only when the dedup graph
    * itself changes, which is exactly when it should. */
  val corpusSplitLeakageSafe: Q = (s, dir) => {
    val reps = dedupClusterReps(s, dir)
    t(s, dir, "documents").select(col("doc_id"))
      .join(reps, Seq("doc_id"), "left_outer")
      .withColumn("group_key", coalesce(col("cluster_rep"), col("doc_id")))
      .withColumn("bucket", pmod(expr(
        "cast(conv(substring(md5(cast(group_key as string)), 1, 13), 16, 10) as bigint)"),
        lit(10L)))
      .select(col("doc_id"), col("group_key"), col("bucket"),
        when(col("bucket") <= 7, lit("train"))
          .when(col("bucket") === 8, lit("val"))
          .otherwise(lit("test")).as("split"))
  }

  /** Connected components over an undirected pair list (`a`, `b`
    * columns) by min-label propagation with pointer jumping. Returns
    * (doc_id, label) where label = smallest member id of the component.
    * Only ids appearing in some pair are returned (singletons trivially
    * map to themselves).
    *
    * Each round is one equi-join pairs⋈labels plus one groupBy-min —
    * all hash-partitioned on doc_id, no driver-side graph. The
    * label-of-label shortcut halves the remaining component diameter
    * every round, so convergence is O(log diameter) instead of
    * O(diameter) — the difference between 5 and 50 shuffle rounds on
    * chain-shaped components. Per-round deltas are counted
    * distributedly (`count()` of changed labels — a scalar per round on
    * the driver).
    *
    * localCheckpoint (not persist): an iterative dataflow DOUBLES its
    * lineage every round — by round ~15 the logical plan itself is the
    * bottleneck (plan-string rendering alone OOMs). Checkpointing cuts
    * the lineage at each round boundary; the label table is a few longs
    * per clustered doc, so executor-local storage is trivial. On a real
    * cluster prefer a reliable checkpoint dir (or accept
    * recompute-from-scratch on executor loss — each round is cheap).
    *
    * All checkpoints are LAZY: the changed-count action materializes
    * the checkpoints inside its own job, so no separate
    * eager-checkpoint jobs are scheduled. Since r20 the loop runs TWO
    * propagation rounds per changed-count action (see the block
    * comment in the loop), so k rounds cost ceil(k/2) + possibly one
    * driver barriers instead of k. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // REJECTED EXPERIMENT (round-5 continuation, NOTES_r5): collapsing
    // the working set to 8 partitions (repartition(8, src) here +
    // coalesce(8) on `next`) to cut per-round task counts measured
    // ~1.5× SLOWER at sf0.1 under same-window probes (steady-state
    // 3.3-3.9 s reverted vs 4.7-6.7 s with the change): the extra
    // up-front shuffle plus starving the per-round joins of
    // parallelism costs more than the saved task scheduling. AQE's
    // post-shuffle coalescing already right-sizes the reducer side;
    // leave the checkpointed partitioning alone.
    val edges = pairs.toDF("a", "b")
      .union(pairs.toDF("a", "b").select(col("b"), col("a")))
      .toDF("src", "dst").localCheckpoint(eager = false)
    // the first propagation round fused into initialization: starting
    // from label=self, round 1 would compute exactly
    // min(self, direct neighbors) — one groupBy over the edge list
    // does that without the round's two joins
    var labels = edges.groupBy("src").agg(min(col("dst")).as("mn"))
      .select(col("src").as("doc_id"), least(col("src"), col("mn")).as("label"))
      .localCheckpoint(eager = false)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 64) {
      // prop: neighbors' labels. jump: label-of-label — and since every
      // label VALUE is itself a doc_id present in `labels` (labels are
      // always existing member ids), the jump join hits every doc
      // exactly once, so it both replaces the self-union branch and
      // carries the doc's OLD label through as `prev`: the changed
      // count is then a filter over the just-checkpointed table, not a
      // join back onto the previous round.
      //
      // r19 REJECTED EXPERIMENT (do not redo): composing a SECOND
      // pointer hop through the old labels onto the round's min
      // (join the groupBy output back onto `labels` on label = doc_id,
      // taking label_old(label) — valid and monotone) did NOT reduce
      // the round count (9 → 9 at sf0.1; the convergence tail is
      // prop-bound stragglers, not jump depth) and the extra broadcast
      // join made the loop measurably slower (probe 3.4-3.5 s → 4.3+ s).
      //
      // r19: prop and jump FUSED into one join (guide §2.4 — share the
      // exchange). Both were labels-probes on different keys
      // (edges.src for prop, x.label for jump); re-expressing the jump
      // as synthetic "label edges" (label(x) → x, carrying x's old
      // label as prev) makes the round ONE relation ⋈ labels on one
      // key + the groupBy-min — per round one broadcast build and one
      // join stage fewer than the two-join form. Same rows out: edge
      // rows emit (dst, label(src), null) ≡ prop; label-edge rows emit
      // (x, label(label(x)), label(x)) ≡ jump, because label(x) is
      // itself a doc_id present in labels (the invariant above).
      // r20 (guide §2.6/§1.5, VERDICT item 1): TWO propagation rounds
      // per driver action. The convergence check is the only reason a
      // round needs its own job; checking every 2nd round halves the
      // driver barriers, while both rounds' lazy checkpoints
      // materialize inside the single count() job (checkpoint blocks
      // persist as a side effect of that job's computation, so lineage
      // is still cut at every round boundary and the inner round's
      // output is computed once even though the outer round's plan
      // references it twice). Correctness unchanged: the round
      // operator is monotone with fixed point = component minima, so a
      // round past convergence is the identity, and changed == 0 for
      // the BLOCK's second round certifies the block's first-round
      // table was already the fixed point — the loop exits with
      // exactly the labels the 1-round form exits with.
      def round(lbl: DataFrame): DataFrame = {
        val rel = edges.select(col("src"), col("dst"), lit(null).cast("long").as("prev"))
          .union(lbl.select(col("label").as("src"), col("doc_id").as("dst"),
            col("label").as("prev")))
        rel.join(lbl.withColumnRenamed("doc_id", "src"), "src")
          .select(col("dst").as("doc_id"), col("label"), col("prev"))
          .groupBy("doc_id").agg(min(col("label")).as("label"), min(col("prev")).as("prev"))
          .localCheckpoint(eager = false)
      }
      val next = round(round(labels).select("doc_id", "label"))
      changed = next.filter(col("label") =!= col("prev")).count()
      labels = next.select("doc_id", "label")
      rounds += 2
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc] rounds $rounds changed=$changed (block of 2)")
    }
    labels
  }

  /** Connected components by LARGE-STAR / SMALL-STAR alternation — the
    * adversarial-graph upgrade documented on [[connectedComponents]]
    * (the alternating star-contraction algorithm from the MapReduce
    * connected-components literature). Min-label propagation with
    * pointer jumping needs O(log diameter) rounds but each round
    * shuffles the full label table twice; star contraction instead
    * rewrites the EDGE set until it is a union of stars centered at
    * component minima, converging in O(log n) alternations even on
    * chain/path graphs where naive propagation needs O(diameter).
    *
    * One alternation = large-star (every node connects its
    * larger-than-self neighbors to its neighborhood minimum) then
    * small-star (every node connects its smaller neighbors and itself
    * to that minimum). Edges stay canonical (u > v), self-loops drop,
    * and the fixed point is exactly one (member, component-min) edge
    * per non-min member. Convergence is detected by an edge-set
    * signature (count + bit_xor of xxhash64 pairs; xor, not sum — the
    * edges are distinct so xor is a set signature, and it cannot
    * overflow under ANSI arithmetic) — one tiny aggregate
    * per alternation, no driver-side edge list; each new edge set is
    * localCheckpoint'ed to cut iterative lineage like the propagation
    * loop does.
    *
    * Returns (labels, alternations): labels = (doc_id, label) with
    * label the component minimum, same contract as
    * [[connectedComponents]]; kept OFF the oracle path by design — the
    * recursive-CTE oracle cross-checks the propagation twin, and
    * DedupClusterSpec pins that both algorithms agree on the real pair
    * graph while this one converges logarithmically on chains. */
  def connectedComponentsStar(pairs: DataFrame): (DataFrame, Int) = {
    var edges = pairs.toDF("a", "b").filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct().localCheckpoint()
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.select(xxhash64(col("u"), col("v")).as("h"))
        .agg(count(lit(1)), coalesce(expr("bit_xor(h)"), lit(0L)))
        .collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    def star(e: DataFrame, large: Boolean): DataFrame = {
      val sym = e.select(col("u").as("x"), col("v").as("y"))
        .union(e.select(col("v").as("x"), col("u").as("y")))
      val mins = sym.groupBy("x").agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("mn"), col("x")).as("m"))
      val joined = sym.join(mins, "x")
      val emitted =
        if (large) joined.filter(col("y") > col("x"))
          .select(col("y").as("u"), col("m").as("v"))
        else joined.filter(col("y") < col("x"))
          .select(col("y").as("u"), col("m").as("v"))
          .union(mins.select(col("x").as("u"), col("m").as("v")))
      // m <= every member of N(x) ∪ {x}, so u > v stays canonical once
      // self-loops are dropped
      emitted.filter(col("u") =!= col("v")).distinct()
    }
    var sig = signature(edges)
    var alternations = 0
    var converged = edges.isEmpty
    while (!converged && alternations < 32) {
      val next = star(star(edges, large = true), large = false).localCheckpoint()
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      edges = next
      alternations += 1
    }
    val labels = edges.select(col("u").as("doc_id"), col("v").as("label"))
      .union(edges.select(col("v").as("doc_id"), col("v").as("label")))
      .distinct()
    (labels, alternations)
  }

  /** 32-bit SimHash rendered as a bit string: per hex position j, the
    * majority over tokens of md5-digit parity. Uses the native one-pass
    * expression when registered (identical bit definition — see
    * [[graft.functions.Simhash32]]); the dataflow formulation below is
    * the fallback and the shape the DuckDB oracle mirrors. */
  val dedupSimhash: Q = (s, dir) => {
    if (s.catalog.functionExists("simhash32"))
      docs(s, dir).select(col("doc_id"),
        expr("simhash32(array_distinct(split(text, ' ')))").as("simhash"))
    else dedupSimhashDataflow(s, dir)
  }

  private def dedupSimhashDataflow(s: SparkSession, dir: String): DataFrame = {
    val tokenHash = distinctTokens(s, dir).withColumn("h", md5(col("tk")))
    val bitVotes = tokenHash
      .select(col("doc_id"), col("h"), explode(sequence(lit(1), lit(32))).as("j"))
      .withColumn("vote",
        when(expr("(instr('0123456789abcdef', substring(h, j, 1)) - 1) % 2 = 1"), 1)
          .otherwise(-1))
      .groupBy("doc_id", "j").agg(sum(col("vote")).as("v"))
    bitVotes
      .withColumn("c", when(col("v") >= 0, "1").otherwise("0"))
      .groupBy("doc_id")
      .agg(expr("concat_ws('', transform(array_sort(collect_list(struct(j, c))), x -> x.c))")
        .as("simhash"))
  }

  /** SimHash accuracy audit — the third sketch whose fidelity hash-
    * parity CANNOT check (both engines faithfully compute the same
    * bits; see `dedup_minhash_accuracy` for the collapse that lesson
    * comes from). SimHash is random-hyperplane LSH over the token-
    * indicator vectors, so its detection theorem (Charikar 2002) is
    * P[bit agrees] = 1 − θ/π with cos θ = |A∩B| / √(|A|·|B|): the
    * Hamming distance between two 32-bit sketches is a binomial
    * estimator of the ANGLE between the token sets. This audit emits,
    * per LSH candidate pair (the same bounded inverted-index pair set
    * the minhash audit uses — never all-pairs), the observed Hamming
    * distance, the observed agreement fraction, and the TRUE token-set
    * cosine — all exact-integer arithmetic plus one terminal division
    * each, so the row set is hash-green. The theorem itself
    * (agree ≈ 1 − acos(cos)/π) is pinned in SimhashAccuracySpec, not
    * the oracle: `acos` is a libm call with no cross-engine bit
    * guarantee, so it stays out of hashed output by the same rule that
    * keeps HLL internals out (NOTES_r1 numeric-parity discipline). */
  val dedupSimhashAccuracy: Q = (s, dir) => {
    // r20 (VERDICT item 3): pair set referenced twice — persist, as in
    // dedupMinhashAccuracy. The per-doc simhash table's two references
    // stay UN-persisted (two parallel in-row scans; serializing them
    // behind an IMR build measured slower at sf0.1, like the token
    // index — see pairIntersections).
    val pairs = dedupMinhashLsh(s, dir).select("a", "b").persist()
    val sh = dedupSimhash(s, dir)
    // r19 (guide §2.3): |distinct tokens| per doc is in-row arithmetic
    // on the text itself — one narrow Project instead of re-exploding
    // the token index and shuffling it into a per-doc count
    val sz = docs(s, dir).select(col("doc_id"),
      size(array_distinct(split(col("text"), " "))).cast("long").as("n"))
    val inter = pairIntersections(s, dir, pairs)
    pairs
      .join(sh.toDF("a", "sha"), "a")
      .join(sh.toDF("b", "shb"), "b")
      .join(inter, Seq("a", "b"), "left")
      .join(sz.toDF("a", "na"), "a")
      .join(sz.toDF("b", "nb"), "b")
      .select(col("a"), col("b"),
        expr("""cast(aggregate(sequence(1, 32), 0, (acc, j) ->
               acc + if(substring(sha, j, 1) <> substring(shb, j, 1), 1, 0)) as bigint)""")
          .as("hamming"),
        round(coalesce(col("ni"), lit(0L)) / sqrt(col("na") * col("nb")), 6).as("cos6"))
      .withColumn("agree6", round((lit(32) - col("hamming")) / lit(32.0), 6))
  }

  /** Edit-distance verification of the LSH candidate pairs — the
    * character-level confirm step a near-dup pipeline runs AFTER banding
    * (token-set Jaccard is blind to reordering; Levenshtein is not).
    * Quadratic-per-pair DP is affordable only because (a) the pair set
    * is the banded candidate set, never all-pairs, and (b) the distance
    * is computed on a fixed 256-char prefix — at 100 TB document length
    * is unbounded, so the prefix cap is what keeps per-pair cost
    * constant (a full-text distance would be O(len²) on outliers).
    * Exact integer DP in both engines; the normalized similarity is one
    * terminal division ⇒ hash-green.
    *
    * The repartition before the DP projection is load-bearing: AQE
    * coalesces the candidate-join output to ONE partition (15k rows is
    * a few MB — under the advisory partition size), but coalescing is
    * byte-sized and blind to downstream per-row CPU, so the O(256²)
    * DP then runs serially (measured 5.7 s at sf0.1; 0.6 s with the
    * pair-keyed repartition restoring the session's parallelism). The
    * partition COUNT must be pinned: a column-only repartition is
    * AQE-coalescable and collapses straight back to 1 (measured — the
    * first fix attempt changed nothing). The general rule at 100 TB:
    * an expensive per-row map AFTER a size-collapsed exchange needs
    * its own explicitly-sized partitioning. */
  val dedupEditDistance: Q = (s, dir) => {
    val pairs = dedupMinhashLsh(s, dir).select("a", "b")
    val txt = docs(s, dir).select(col("doc_id"),
      substring(col("text"), 1, 256).as("prefix"))
    pairs
      .join(txt.toDF("a", "pa"), "a")
      .join(txt.toDF("b", "pb"), "b")
      .repartition(s.sessionState.conf.numShufflePartitions, col("a"), col("b"))
      .select(col("a"), col("b"),
        levenshtein(col("pa"), col("pb")).cast("long").as("lev"),
        greatest(length(col("pa")), length(col("pb"))).cast("long").as("max_len"))
      .withColumn("sim6",
        round(lit(1.0) - col("lev").cast("double") / col("max_len").cast("double"), 6))
  }

  /** Embedding near-dup: top-20 most-similar pairs by cosine (double
    * precision, rounded to 6 decimals for cross-engine determinism). */
  val dedupEmbeddingCosine: Q = (s, dir) => {
    val e = t(s, dir, "embeddings").filter(col("vec_id") < 300)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("norm", expr(s"sqrt(${dotSql(s, "v", "v")})"))
    e.as("a").join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a"), col("b.vec_id").as("b"),
        round(expr(dotSql(s, "a.v", "b.v"))
          / (col("a.norm") * col("b.norm")), 6).as("cos6"))
      .orderBy(col("cos6").desc, col("a"), col("b"))
      .limit(20)
  }

  /** SemDeDup cosine threshold. The synthetic embeddings carry no
    * engineered near-duplicates (max intra-label cosine ≈ 0.475), so
    * the catalog entry's τ sits where the operator's drop logic is
    * actually exercised by the data; a production near-dup pass runs
    * the same plan at τ ≈ 0.95+. */
  private[graft] val SemdedupTau = 0.35

  /** Semantic dedup (the SemDeDup recipe, Abbas et al. 2023): cluster
    * the corpus, then inside each cluster drop every item whose cosine
    * to an EARLIER item (smaller vec_id — the deterministic stand-in
    * for the paper's keep-one-per-group choice) reaches τ. The
    * clustering here is the `label` column (any coarse assignment
    * works — [[graft.ops.SimilarityOps.embeddingKmeans]] produces one);
    * what makes the recipe scale is that cosine is only ever evaluated
    * INSIDE a cluster: an equi-join on the cluster key, co-partitioned
    * at 100 TB by bucketing the embedding table on it, never an
    * all-pairs product. Emits every vector with its max-earlier-cosine
    * evidence and the drop verdict (null evidence = first of its
    * cluster or no earlier neighbor). */
  val dedupSemantic: Q = (s, dir) => {
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr(s"sqrt(${dotSql(s, "v", "v")})"))
    val evidence = e.as("a").join(e.as("b"),
        col("a.label") === col("b.label") && col("b.vec_id") < col("a.vec_id"))
      .select(col("a.vec_id").as("vec_id"),
        round(expr(dotSql(s, "a.v", "b.v")) / (col("a.nrm") * col("b.nrm")), 6).as("cos6"))
      .groupBy("vec_id").agg(max(col("cos6")).as("max_earlier_cos6"))
    e.select("vec_id", "label").join(evidence, Seq("vec_id"), "left")
      .select(col("vec_id"), col("label"),
        col("max_earlier_cos6"),
        (coalesce(col("max_earlier_cos6"), lit(-2.0)) >= SemdedupTau).as("dropped"))
  }

  /** The full SemDeDup paper recipe END-TO-END: k-means clusters the
    * embeddings ([[graft.ops.SimilarityOps.kmeansTrain]] — the paper
    * clusters with k-means, not pre-given labels), then the
    * within-cluster max-earlier-cosine drop verdict of
    * [[dedupSemantic]] runs inside the LEARNED cells. The cluster
    * assignment is the in-row literal-model fold (no assignment join
    * or shuffle), so the only corpus-wide exchanges are the cluster
    * equi-join and the evidence re-join — identical scale posture to
    * [[dedupSemantic]], with the clustering now part of the operator
    * instead of an input column. */
  val dedupSemanticKmeans: Q = (s, dir) => {
    val cents = SimilarityOps.kmeansTrain(s, dir)
    val e = t(s, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("nrm", expr(s"sqrt(${dotSql(s, "v", "v")})"))
      .withColumn("cluster", expr(SimilarityOps.kmeansAssignExpr(s, cents) + ".k"))
    val evidence = e.as("a").join(e.as("b"),
        col("a.cluster") === col("b.cluster") && col("b.vec_id") < col("a.vec_id"))
      .select(col("a.vec_id").as("vec_id"),
        round(expr(dotSql(s, "a.v", "b.v")) / (col("a.nrm") * col("b.nrm")), 6).as("cos6"))
      .groupBy("vec_id").agg(max(col("cos6")).as("max_earlier_cos6"))
    e.select("vec_id", "cluster").join(evidence, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("max_earlier_cos6"),
        (coalesce(col("max_earlier_cos6"), lit(-2.0)) >= SemdedupTau).as("dropped"))
  }

  /** Semantic decontamination — the EMBEDDING member of the
    * decontamination family ([[graft.ops.TextOps]]'s exact n-gram
    * screen, its bloom-screened scale twin, and now the PARAPHRASE
    * direction n-grams cannot see): flag every TRAIN vector whose
    * cosine to ANY heldout vector reaches τ. Heldout = vec_id % 10 == 0
    * — the planted-input pattern, both engines re-derive the split.
    *
    * Scale shape: cosine is only ever evaluated inside sign-bit LSH
    * buckets, with Hamming-1 MULTIPROBE on the train side
    * ([[dedupEmbeddingLshMultiprobe]]'s constant bits+1 fan-out pointed
    * ACROSS two relations) — an equi-join on the bucket key, never a
    * train×heldout product; each qualifying pair matches exactly one
    * probe, so the max() evidence needs no distinct. The verdict is
    * SOUND by construction (every flag carries a real cos6 ≥ τ — the
    * spec checks it against the brute-force pairs) and complete within
    * Hamming ≤ 1 of the bucket key, the same recall posture as the
    * multiprobe dedup entry. Emits every train vector with its
    * max-heldout-cosine evidence and the verdict (null evidence = no
    * heldout shares a probed bucket). τ reuses [[SemdedupTau]] — the
    * synthetic embeddings' rationale is documented there. */
  val dedupDecontaminateSemantic: Q = (s, dir) => {
    val bits = EmbeddingLshBits
    val e = embeddingBucketed(s, dir, bits)
    val train = e.filter(col("vec_id") % 10 =!= 0)
    val held = e.filter(col("vec_id") % 10 === 0)
    val flips: Seq[Column] = col("bucket") +: (1 to bits).map { i =>
      concat(substring(col("bucket"), 1, i - 1),
        when(substring(col("bucket"), i, 1) === "1", lit("0")).otherwise(lit("1")),
        substring(col("bucket"), i + 1, bits - i))
    }
    val probes = train.select(col("vec_id").as("a_id"), col("v").as("a_v"),
      col("norm").as("a_norm"), explode(array(flips: _*)).as("pb"))
    val evidence = probes.join(held.as("h"), col("pb") === col("h.bucket"))
      .select(col("a_id").as("vec_id"),
        round(expr(dotSql(s, "a_v", "h.v"))
          / (col("a_norm") * col("h.norm")), 6).as("cos6"))
      .groupBy("vec_id").agg(max(col("cos6")).as("max_heldout_cos6"))
    train.select("vec_id").join(evidence, Seq("vec_id"), "left")
      .select(col("vec_id"), col("max_heldout_cos6"),
        (coalesce(col("max_heldout_cos6"), lit(-2.0)) >= SemdedupTau)
          .as("contaminated"))
  }

  /** Segment width for corpus-level paragraph dedup. The documents
    * table is whitespace-token text with no paragraph delimiters, so a
    * "paragraph" is a fixed non-overlapping 16-token segment — the
    * token-stream analogue of CCNet/RefinedWeb line dedup. */
  private[graft] val ParaSegTokens = 16

  /** In-row segmentation: one (doc_id, seg_idx, seg_md5) row per
    * [[ParaSegTokens]]-token segment — no explode-then-regroup round
    * trip for the segment hash itself. */
  private def paragraphSegs(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(tk), $ParaSegTokens),
            st -> struct(CAST((st - 1) div $ParaSegTokens AS BIGINT) AS seg_idx,
                         md5(concat_ws(' ', slice(tk, st, $ParaSegTokens))) AS seg_md5))"""))
        .as("sg"))
      .select(col("doc_id"), col("sg.seg_idx").as("seg_idx"), col("sg.seg_md5").as("seg_md5"))

  /** First occurrence (min (doc_id, seg_idx)) per segment hash, as a
    * GROUPBY — deliberately NOT a `row_number` window: partial
    * (map-side) aggregation makes the min skew-immune when a
    * pathological boilerplate segment concentrates one md5 key,
    * whereas a window's per-key partition CANNOT be split by AQE (AQE
    * skew handling applies to joins, not window exchanges). The flag
    * join back onto the segments is a plain equi-join on seg_md5 —
    * which AQE CAN skew-split. */
  private def paragraphFirsts(segs: DataFrame): DataFrame =
    segs.groupBy("seg_md5")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("first"))

  /** Corpus-level paragraph (segment) dedup — the CCNet recipe: hash
    * every segment of every document, keep only the FIRST occurrence
    * corpus-wide (ordered by doc_id, then position), and report per
    * document how much of it was duplicated elsewhere. Plan shape:
    * in-row segmentation, one skew-immune groupBy-min on seg_md5
    * ([[paragraphFirsts]]), one AQE-splittable equi-join to flag
    * occurrences, one per-doc re-aggregation. dup_frac6 is a single
    * division of exact counts. */
  val dedupParagraph: Q = (s, dir) => {
    // r19 restructure (guide §2.3/§2.4 — shuffle decisions, not
    // payloads): the old shape computed the segment Generate TWICE
    // (once under the firsts groupBy, once as the join probe side) and
    // then re-shuffled every segment row through the flag join + per-doc
    // re-aggregation. But the per-doc output is derivable WITHOUT the
    // join: each seg_md5 group's min is its one non-dup occurrence,
    // attributed to first.doc_id — so grouping the FIRSTS table by
    // first.doc_id counts each doc's non-dup segments, and n_segs is
    // in-row arithmetic on the token count (segments are fixed
    // non-overlapping windows: ceil(size/16)). One segment Generate
    // instead of two, and the corpus-sized equi-join disappears; the
    // remaining join is doc-count-sized on both sides. Oracle-checked
    // identical (same rows, same n_dup = n_segs − n_first algebra).
    val nonDup = paragraphFirsts(paragraphSegs(s, dir))
      .groupBy(col("first.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_first"))
    val perDoc = docs(s, dir)
      .select(col("doc_id"),
        expr(s"CAST((size(split(text, ' ')) + ${ParaSegTokens - 1}) div $ParaSegTokens AS BIGINT)")
          .as("n_segs"))
      // degenerate-text guard (r20, ADVICE): NULL text makes n_segs
      // NULL; the pre-r19 join-based shape dropped such docs (explode
      // of NULL yields no rows) — keep that row set identical, as
      // dedupSubstring's n_spans >= 1 guard already does
      .filter(col("n_segs") >= 1L)
    val nDup = col("n_segs") - coalesce(col("n_first"), lit(0L))
    perDoc.join(nonDup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"), nDup.as("n_dup_segs"),
        round(nDup.cast("double") / col("n_segs"), 6).as("dup_frac6"))
  }

  /** Paragraph dedup with RECONSTRUCTION — the artifact a CCNet-style
    * pass actually ships: every document re-assembled from only its
    * first-occurrence segments (order preserved), emitted as the new
    * token count and the md5 of the rebuilt text. Documents whose
    * every segment occurred earlier elsewhere vanish — that is the
    * dedup decision. Same skew-immune groupBy-min + equi-join shape as
    * [[dedupParagraph]]; the rebuild adds only an in-group
    * `array_sort(collect_list(struct(seg_idx, …)))` — bounded by a
    * document's own segment count, never corpus-wide state. */
  val dedupParagraphRebuild: Q = (s, dir) => {
    // r19 restructure, same move as [[dedupParagraph]]: the kept
    // segments ARE the firsts-election minima, so carrying seg_txt
    // INSIDE the min struct (safe: (doc_id, seg_idx) is unique per
    // group, so the comparison never reaches the text field, and all
    // rows of one seg_md5 group carry identical text anyway) lets the
    // rebuild aggregate the firsts table by first.doc_id directly —
    // one segment Generate instead of two, no corpus-sized join, no
    // post-join filter. Docs whose every segment occurred earlier
    // elsewhere win no group minimum and vanish, exactly as before.
    val segs = docs(s, dir)
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(tk), $ParaSegTokens),
            st -> struct(CAST((st - 1) div $ParaSegTokens AS BIGINT) AS seg_idx,
                         concat_ws(' ', slice(tk, st, $ParaSegTokens)) AS seg_txt))"""))
        .as("sg"))
      .select(col("doc_id"), col("sg.seg_idx").as("seg_idx"),
        col("sg.seg_txt").as("seg_txt"), md5(col("sg.seg_txt")).as("seg_md5"))
    segs.groupBy("seg_md5")
      .agg(min(struct(col("doc_id"), col("seg_idx"), col("seg_txt"))).as("first"))
      .groupBy(col("first.doc_id").as("doc_id")).agg(
        count(lit(1)).as("n_kept_segs"),
        sum(size(split(col("first.seg_txt"), " ")).cast("long")).as("n_new_tokens"),
        md5(expr(
          """array_join(transform(array_sort(collect_list(
               struct(first.seg_idx AS seg_idx, first.seg_txt AS seg_txt))),
             x -> x.seg_txt), ' ')"""))
          .as("new_md5"))
  }

  /** Exact-substring span length — Lee et al.'s canonical 50 tokens
    * ("Deduplicating Training Data Makes Language Models Better"): a
    * verbatim duplicated region of ≥ 50 tokens is training-data
    * memorization fuel regardless of the enclosing documents. */
  private[graft] val SubstrSpanTokens = 50

  /** Exact substring dedup — the bounded approximation of Lee et al.'s
    * suffix-array ExactSubstr: hash EVERY overlapping
    * [[SubstrSpanTokens]]-token span of every document (stride 1, so
    * any verbatim duplicate of ≥ 50 tokens shares at least one span
    * hash at some alignment — the exact guarantee, no suffix array
    * needed), keep the corpus-wide FIRST occurrence of each span hash
    * as the mask, and report per document how many of its spans were
    * seen earlier elsewhere. This completes the dedup taxonomy at the
    * sub-document verbatim granularity ([[dedupParagraph]] = aligned
    * segments, [[dedupWinnow]] = sampled fingerprints, this = every
    * alignment).
    *
    * Skew immunity, same argument as [[dedupParagraph]]: the span
    * index is in-row work (≈ one row per token, the same order as the
    * 8-gram shingle index), the first-occurrence election is a
    * groupBy-MIN whose partial (map-side) aggregation absorbs a
    * pathological boilerplate span before it reaches the shuffle —
    * deliberately NOT a row_number window, whose per-key partition AQE
    * cannot split — and the flag join back is a plain equi-join on the
    * span hash, which AQE CAN skew-split. dup_frac6 is one division of
    * exact counts. */
  val dedupSubstring: Q = (s, dir) => {
    // r19 restructure (guide §2.3/§2.4), same move as
    // [[dedupParagraph]]: the old shape computed the stride-1 span
    // Generate — md5 over EVERY overlapping 50-token window, the
    // dominant in-row cost — TWICE (firsts side + join probe side) and
    // re-shuffled every span row through the flag join. The per-doc
    // answer needs neither: each span_md5 group's minimum is its one
    // non-dup occurrence, attributed to first.doc_id, so grouping the
    // firsts table by first.doc_id counts each doc's non-dup spans,
    // and n_spans is in-row arithmetic (size − 49 stride-1 windows).
    // One span Generate instead of two; the only join left is
    // doc-count-sized on both sides. Oracle-checked identical.
    val spans = docs(s, dir)
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= SubstrSpanTokens)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(1, size(tk) - ${SubstrSpanTokens - 1}),
            st -> struct(CAST(st - 1 AS BIGINT) AS span_idx,
                         md5(concat_ws(' ', slice(tk, st, $SubstrSpanTokens))) AS span_md5))"""))
        .as("sp"))
      .select(col("doc_id"), col("sp.span_idx").as("span_idx"), col("sp.span_md5").as("span_md5"))
    val nonDup = spans.groupBy("span_md5")
      .agg(min(struct(col("doc_id"), col("span_idx"))).as("first"))
      .groupBy(col("first.doc_id").as("doc_id"))
      .agg(count(lit(1)).as("n_first"))
    val perDoc = docs(s, dir)
      .select(col("doc_id"),
        (size(split(col("text"), " ")) - (SubstrSpanTokens - 1)).cast("long").as("n_spans"))
      .filter(col("n_spans") >= 1L)
    val nDup = col("n_spans") - coalesce(col("n_first"), lit(0L))
    perDoc.join(nonDup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"), nDup.as("n_dup_spans"),
        round(nDup.cast("double") / col("n_spans"), 6).as("dup_frac6"))
  }

  /** Embeddings with norms and a sign-bit LSH bucket over the first
    * `bits` dimensions. */
  private def embeddingBucketed(s: SparkSession, dir: String, bits: Int): DataFrame =
    t(s, dir, "embeddings")
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("norm", expr(s"sqrt(${dotSql(s, "v", "v")})"))
      .withColumn("bucket", concat((0 until bits).map(i =>
        when(expr(s"v[$i]") >= 0, "1").otherwise("0")): _*))

  /** Embedding near-dup, LSH-bucketed — the 100 TB scale path (the
    * all-pairs [[dedupEmbeddingCosine]] stays as its bounded oracle
    * twin). Random-hyperplane LSH with axis-aligned hyperplanes: the
    * bucket key is the sign bits of the first `bits` dimensions
    * (deterministic and oracle-expressible — a seeded Gaussian
    * hyperplane family would not hash-match a second engine). Cosine is
    * evaluated only inside a bucket (an equi-join on the bucket key, the
    * same shape as IVF, SimilarityOps.scala), and the global top-20 is
    * `orderBy(...).limit` — planned as TakeOrderedAndProject.
    *
    * Scale honesty: the quadratic is bounded PER BUCKET, not globally —
    * with b sign bits the in-bucket pair count is ≈ n²/2ᵇ under even
    * occupancy, so the bit count must grow with the corpus. The oracle
    * catalog entry uses `bits = 8` (256 buckets — right for the 6k-row
    * test table); at 100 TB use 16-24 bits (65k-16M buckets) and watch
    * [[embeddingLshOccupancy]] for skewed buckets, which call for
    * multi-probe on more bits or a bucket-size cap. */
  def dedupEmbeddingLsh(bits: Int): Q = (s, dir) => {
    val e = embeddingBucketed(s, dir, bits)
    e.as("a").join(e.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a"), col("b.vec_id").as("b"),
        col("a.bucket").as("bucket"),
        round(expr(dotSql(s, "a.v", "b.v"))
          / (col("a.norm") * col("b.norm")), 6).as("cos6"))
      .orderBy(col("cos6").desc, col("a"), col("b"))
      .limit(20)
  }

  /** Sign-bit bucket occupancy: vectors per bucket — the observability
    * query for [[dedupEmbeddingLsh]]'s per-bucket quadratic (a skewed
    * bucket shows up here before it dominates the join). */
  def embeddingLshOccupancy(bits: Int): Q = (s, dir) =>
    embeddingBucketed(s, dir, bits)
      .groupBy("bucket").agg(count(lit(1)).as("n_vecs"))

  /** Multi-probe embedding LSH: the recall-recovery companion to wide
    * bucket keys. Wider keys (here 12 bits → 4096 buckets) are what
    * keeps the in-bucket quadratic controlled at 100 TB, but a true
    * near-dup pair can straddle a single flipped sign bit and be lost;
    * multi-probe re-finds it by ALSO matching every Hamming-1 neighbor
    * bucket of one side (bits+1 probes per vector — a constant fan-out,
    * versus halving the key width which MULTIPLIES every bucket's
    * population by 2). Each qualifying pair (Hamming distance ≤ 1
    * between bucket keys) matches exactly one probe, so no distinct is
    * needed before the global top-20 (TakeOrderedAndProject). */
  def dedupEmbeddingLshMultiprobe(bits: Int): Q = (s, dir) => {
    val e = embeddingBucketed(s, dir, bits)
    val flips: Seq[Column] = col("bucket") +: (1 to bits).map { i =>
      concat(substring(col("bucket"), 1, i - 1),
        when(substring(col("bucket"), i, 1) === "1", lit("0")).otherwise(lit("1")),
        substring(col("bucket"), i + 1, bits - i))
    }
    val probes = e.select(col("vec_id").as("a_id"), col("v").as("a_v"),
      col("norm").as("a_norm"), explode(array(flips: _*)).as("pb"))
    probes.join(e.as("b"),
        col("pb") === col("b.bucket") && col("a_id") < col("b.vec_id"))
      .select(col("a_id").as("a"), col("b.vec_id").as("b"),
        round(expr(dotSql(s, "a_v", "b.v"))
          / (col("a_norm") * col("b.norm")), 6).as("cos6"))
      .orderBy(col("cos6").desc, col("a"), col("b"))
      .limit(20)
  }

  /** Planted-twin recall audit of the sign-bit embedding LSH family —
    * the closing sketch-accuracy contract (MinHash, HLL, IVF recall,
    * quantization, SimHash all have one; embedding LSH was the gap).
    * The synthetic embeddings carry no natural near-dups (max ambient
    * cosine ≈ 0.475 — the round-7 prototype audit of exact-top-50
    * recall pinned noise and was rejected, NOTES_r7), so the audit
    * PLANTS one per probe vector (vec_id < 100): a twin w with
    * w[i] = v[i] + ((vec_id·31 + i·7) mod 11 − 5)/1000 — integer
    * arithmetic, one division, one addition per element, so both
    * engines derive bit-identical twins (the same derive-in-query
    * pattern as text_pii_scrub's planted PII; enriching the fixture
    * corpus instead would perturb every other embedding oracle).
    * Ambient contrast: the same probe against its vec_id+1 neighbor.
    * Per (method, probe): hit_planted / hit_ambient as exact integers
    * ⇒ hash-green. Methods: exact 8-bit bucket match, exact 12-bit
    * match, and 12-bit within Hamming-1 (the multiprobe reach).
    * Measured at sf0.01: planted recall 0.99 / 0.96 / 1.00 vs ambient
    * 0.00 — the family co-locates true near-dups and the Hamming-1
    * probes recover exactly the single-bit-straddle losses that
    * widening the key costs (EmbeddingLshRecallSpec pins recall,
    * contrast, and the probe ≥ exact ordering). */
  val embeddingLshRecall: Q = (s, dir) => {
    val e = t(s, dir, "embeddings").filter(col("vec_id") < 101)
      .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
    val p = e.filter(col("vec_id") < 100)
      .withColumn("w", expr(
        "transform(v, (x, i) -> x + (CAST((vec_id*31 + i*7) % 11 AS DOUBLE) - 5.0)/1000.0)"))
    val j = p.join(e.select(col("vec_id").as("nid"), col("v").as("u")),
      col("nid") === col("vec_id") + 1)
    def ham(a: String, b: String, k: Int) =
      s"aggregate(sequence(0, ${k - 1}), 0, (acc, i) -> acc + IF(($a[i] >= 0D) != ($b[i] >= 0D), 1, 0))"
    j.selectExpr("vec_id",
        s"${ham("v", "w", 8)} AS hp8", s"${ham("v", "u", 8)} AS ha8",
        s"${ham("v", "w", 12)} AS hp12", s"${ham("v", "u", 12)} AS ha12")
      .selectExpr(
        """stack(3,
           'sign8',         CAST(vec_id AS BIGINT), CAST(IF(hp8  = 0, 1, 0) AS BIGINT), CAST(IF(ha8  = 0, 1, 0) AS BIGINT),
           'sign12',        CAST(vec_id AS BIGINT), CAST(IF(hp12 = 0, 1, 0) AS BIGINT), CAST(IF(ha12 = 0, 1, 0) AS BIGINT),
           'sign12_probe1', CAST(vec_id AS BIGINT), CAST(IF(hp12 <= 1, 1, 0) AS BIGINT), CAST(IF(ha12 <= 1, 1, 0) AS BIGINT))
           AS (method, vec_id, hit_planted, hit_ambient)""")
  }

  /** The oracle-entry LSH bit width (256 buckets — test-table scale). */
  private[ops] val EmbeddingLshBits = 8

  /** Wider key for the multi-probe entry (4096 buckets). */
  private[ops] val EmbeddingLshProbeBits = 12

  val queries: Seq[(String, Q)] = Seq(
    "dedup_exact" -> dedupExact,
    "dedup_exact_norm" -> dedupExactNorm,
    "dedup_ngram_jaccard" -> dedupNgramJaccard,
    "dedup_ngram_jaccard_capped" -> dedupNgramJaccardCapped(JaccardMaxDf),
    "dedup_winnow" -> dedupWinnow,
    "dedup_minhash_lsh" -> dedupMinhashLsh,
    "dedup_minhash_accuracy" -> dedupMinhashAccuracy,
    "dedup_containment" -> dedupContainment,
    "dedup_simhash_accuracy" -> dedupSimhashAccuracy,
    "dedup_edit_distance" -> dedupEditDistance,
    "minhash_band_occupancy" -> minhashBandOccupancy,
    "dedup_incremental" -> dedupIncremental,
    "dedup_incremental_stream_twin" -> dedupIncrementalStreamTwin,
    "dedup_minhash_stream_twin" -> dedupMinhashStreamTwin,
    "cross_source_overlap" -> crossSourceOverlap,
    "dedup_cluster_reps" -> dedupClusterReps,
    "corpus_split_leakage_safe" -> corpusSplitLeakageSafe,
    "dedup_simhash" -> dedupSimhash,
    "dedup_embedding_cosine" -> dedupEmbeddingCosine,
    "dedup_semantic" -> dedupSemantic,
    "dedup_semantic_kmeans" -> dedupSemanticKmeans,
    "dedup_decontaminate_semantic" -> dedupDecontaminateSemantic,
    "dedup_paragraph" -> dedupParagraph,
    "dedup_paragraph_rebuild" -> dedupParagraphRebuild,
    "dedup_substring" -> dedupSubstring,
    "dedup_embedding_lsh" -> dedupEmbeddingLsh(EmbeddingLshBits),
    "dedup_embedding_lsh_multiprobe" -> dedupEmbeddingLshMultiprobe(EmbeddingLshProbeBits),
    "embedding_lsh_occupancy" -> embeddingLshOccupancy(EmbeddingLshBits),
    "embedding_lsh_recall" -> embeddingLshRecall)

  private val tokSql =
    "SELECT DISTINCT doc_id, tk FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tk FROM documents)"
  private val sigSql = {
    val mhs = (0 until MinhashPerms)
      .map(i => s"min((h1 + $i * h2) % $MinhashModPrime) AS mh$i").mkString(", ")
    s"""SELECT doc_id, $mhs FROM (
        SELECT doc_id, CAST(('0x' || substr(md5(tk), 1, 13)) AS BIGINT) AS h1,
                       CAST(('0x' || substr(md5(tk), 14, 13)) AS BIGINT) AS h2
        FROM ($tokSql)) GROUP BY doc_id"""
  }
  /** band CTE body: one (doc_id, bi, bh) row per band, mirroring
    * [[minhashBandRows]] — derived from the same banding constants. */
  private val bandSql = (0 until MinhashBands).map { b =>
    val cat = (b * MinhashRowsPerBand until (b + 1) * MinhashRowsPerBand)
      .map(i => s"mh$i").mkString(", ")
    s"SELECT doc_id, $b AS bi, md5(concat_ws(',', $cat)) AS bh FROM sig"
  }.mkString("\n            UNION ALL\n            ")

  /** CTE prefix computing the VERIFIED near-dup pair set (`verified`),
    * shared by every oracle that builds on the pairs. The RECURSIVE
    * keyword is harmless for non-recursive extensions and required by
    * [[clusterCtePrefix]]'s closure. */
  private[ops] val verifiedCtePrefix: String =
    s"""WITH RECURSIVE sig AS ($sigSql),
          band AS (
            $bandSql),
          hot AS (SELECT bi, bh FROM (SELECT bi, bh, COUNT(*) AS n_docs
                  FROM band GROUP BY bi, bh) WHERE n_docs > $MinhashMaxBucket),
          kept AS (SELECT * FROM band b WHERE NOT EXISTS
                   (SELECT 1 FROM hot h WHERE h.bi = b.bi AND h.bh = b.bh)),
          cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                   FROM kept x JOIN kept y
                   ON x.bi = y.bi AND x.bh = y.bh AND x.doc_id < y.doc_id),
          verified AS (
            SELECT c.a, c.b FROM cand c
            JOIN sig sa ON c.a = sa.doc_id
            JOIN sig sb ON c.b = sb.doc_id
            WHERE ${(0 until MinhashPerms).map(i => s"CAST(sa.mh$i = sb.mh$i AS INT)").mkString(" + ")}
              >= $MinhashClusterMatches)"""

  /** Recursive-CTE prefix computing near-dup connected components
    * (`reach(doc, lab)`), shared by the `dedup_cluster_reps` oracle and
    * the curation oracles in [[TextOps]] that build on the clusters.
    * Deliberately a DIFFERENT algorithm (transitive closure) than the
    * engine's propagation loop — the oracles cross-check the RESULT. */
  private[ops] val clusterCtePrefix: String =
    s"""$verifiedCtePrefix,
          edges AS (SELECT a AS src, b AS dst FROM verified
                    UNION ALL SELECT b, a FROM verified),
          nodes AS (SELECT DISTINCT src AS doc FROM edges),
          reach(doc, lab) AS (
            SELECT doc, doc FROM nodes
            UNION
            SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc)"""

  val oracles: Seq[(String, String)] = Seq(
    "dedup_semantic" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
            sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nrm
            FROM embeddings),
          ev AS (SELECT a.vec_id,
                   MAX(round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)) AS max_earlier_cos6
                 FROM e a JOIN e b ON a.label = b.label AND b.vec_id < a.vec_id
                 GROUP BY a.vec_id)
          SELECT e.vec_id, e.label, ev.max_earlier_cos6,
            coalesce(ev.max_earlier_cos6, -2.0) >= $SemdedupTau AS dropped
          FROM e LEFT JOIN ev ON e.vec_id = ev.vec_id""",
    "dedup_semantic_kmeans" ->
      s"""${SimilarityOps.kmeansAssignedCteSql},
          ev AS (SELECT a.vec_id,
                   MAX(round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6)) AS max_earlier_cos6
                 FROM a3 a JOIN a3 b ON a.cluster = b.cluster AND b.vec_id < a.vec_id
                 GROUP BY a.vec_id)
          SELECT a3.vec_id, a3.cluster, ev.max_earlier_cos6,
            coalesce(ev.max_earlier_cos6, -2.0) >= $SemdedupTau AS dropped
          FROM a3 LEFT JOIN ev ON a3.vec_id = ev.vec_id""",
    "dedup_paragraph" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          segs AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
                  md5(list_aggregate(tk[(i * $ParaSegTokens + 1):((i + 1) * $ParaSegTokens)],
                      'string_agg', ' ')) AS seg_md5
                FROM toks,
                     unnest(generate_series(0,
                       CAST(ceil(len(tk) / ${ParaSegTokens}.0) AS INT) - 1)) u(i)),
          occs AS (SELECT doc_id,
                     row_number() OVER (PARTITION BY seg_md5 ORDER BY doc_id, seg_idx) AS occ
                   FROM segs)
          SELECT doc_id, COUNT(*) AS n_segs,
            CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_segs,
            round(CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
              AS dup_frac6
          FROM occs GROUP BY doc_id""",
    "dedup_paragraph_rebuild" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          segs AS (SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
                  list_aggregate(tk[(i * $ParaSegTokens + 1):((i + 1) * $ParaSegTokens)],
                      'string_agg', ' ') AS seg_txt
                FROM toks,
                     unnest(generate_series(0,
                       CAST(ceil(len(tk) / ${ParaSegTokens}.0) AS INT) - 1)) u(i)),
          occs AS (SELECT doc_id, seg_idx, seg_txt,
                     row_number() OVER (PARTITION BY md5(seg_txt) ORDER BY doc_id, seg_idx) AS occ
                   FROM segs)
          SELECT doc_id, COUNT(*) AS n_kept_segs,
            CAST(SUM(len(string_split(seg_txt, ' '))) AS BIGINT) AS n_new_tokens,
            md5(string_agg(seg_txt, ' ' ORDER BY seg_idx)) AS new_md5
          FROM occs WHERE occ = 1 GROUP BY doc_id""",
    "dedup_substring" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
          spans AS (SELECT doc_id, CAST(st - 1 AS BIGINT) AS span_idx,
                  md5(array_to_string(tk[st:st + ${SubstrSpanTokens - 1}], ' ')) AS span_md5
                FROM toks,
                     unnest(generate_series(1, len(tk) - ${SubstrSpanTokens - 1})) u(st)
                WHERE len(tk) >= $SubstrSpanTokens),
          occs AS (SELECT doc_id,
                     row_number() OVER (PARTITION BY span_md5 ORDER BY doc_id, span_idx) AS occ
                   FROM spans)
          SELECT doc_id, COUNT(*) AS n_spans,
            CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
            round(CAST(SUM(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
              AS dup_frac6
          FROM occs GROUP BY doc_id""",
    "dedup_exact" ->
      """SELECT md5(text) AS fp, MIN(doc_id) AS rep_id, COUNT(*) AS n_dups
         FROM documents GROUP BY md5(text)""",
    "dedup_exact_norm" ->
      """SELECT md5(trim(lower(regexp_replace(text, ' +', ' ', 'g')))) AS fp,
         MIN(doc_id) AS rep_id, COUNT(*) AS n_dups
         FROM documents GROUP BY 1""",
    "dedup_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh AS (SELECT DISTINCT doc_id,
                  CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 13)) AS BIGINT) AS s
                FROM toks, unnest(generate_series(1, len(t)-2)) u(i)
                WHERE len(t) >= 3),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS common
                   FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
                   GROUP BY 1, 2)
         SELECT p.a, p.b, p.common, ca.n AS na, cb.n AS nb,
           p.common / (ca.n + cb.n - p.common) AS jacc
         FROM pairs p
         JOIN cnt ca ON p.a = ca.doc_id
         JOIN cnt cb ON p.b = cb.doc_id
         WHERE p.common / (ca.n + cb.n - p.common) >= 0.3""",
    "dedup_ngram_jaccard_capped" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         sh0 AS (SELECT DISTINCT doc_id,
                   CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 13)) AS BIGINT) AS s
                 FROM toks, unnest(generate_series(1, len(t)-2)) u(i)
                 WHERE len(t) >= 3),
         hot AS (SELECT s FROM (SELECT s, COUNT(*) AS df FROM sh0 GROUP BY s)
                 WHERE df > $JaccardMaxDf),
         sh AS (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
         cnt AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         pairs AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS common
                   FROM sh x JOIN sh y ON x.s = y.s AND x.doc_id < y.doc_id
                   GROUP BY 1, 2)
         SELECT p.a, p.b, p.common, ca.n AS na, cb.n AS nb,
           p.common / (ca.n + cb.n - p.common) AS jacc
         FROM pairs p
         JOIN cnt ca ON p.a = ca.doc_id
         JOIN cnt cb ON p.b = cb.doc_id
         WHERE p.common / (ca.n + cb.n - p.common) >= 0.3""",
    "dedup_minhash_lsh" ->
      s"""WITH sig AS ($sigSql),
          band AS (
            $bandSql),
          hot AS (SELECT bi, bh FROM (SELECT bi, bh, COUNT(*) AS n_docs
                  FROM band GROUP BY bi, bh) WHERE n_docs > $MinhashMaxBucket),
          kept AS (SELECT * FROM band b WHERE NOT EXISTS
                   (SELECT 1 FROM hot h WHERE h.bi = b.bi AND h.bh = b.bh)),
          cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                   FROM kept x JOIN kept y
                   ON x.bi = y.bi AND x.bh = y.bh AND x.doc_id < y.doc_id)
          SELECT c.a, c.b,
            CAST(${(0 until MinhashPerms).map(i => s"CAST(sa.mh$i = sb.mh$i AS INT)").mkString(" + ")} AS BIGINT) AS n_match,
            CAST(${(0 until MinhashPerms).map(i => s"CAST(sa.mh$i = sb.mh$i AS INT)").mkString(" + ")} AS DOUBLE) / $MinhashPerms AS est_jacc
          FROM cand c
          JOIN sig sa ON c.a = sa.doc_id
          JOIN sig sb ON c.b = sb.doc_id""",
    "dedup_minhash_accuracy" -> {
      val matchSum = (0 until MinhashPerms)
        .map(i => s"CAST(sa.mh$i = sb.mh$i AS INT)").mkString(" + ")
      s"""WITH sig AS ($sigSql),
          band AS (
            $bandSql),
          hot AS (SELECT bi, bh FROM (SELECT bi, bh, COUNT(*) AS n_docs
                  FROM band GROUP BY bi, bh) WHERE n_docs > $MinhashMaxBucket),
          kept AS (SELECT * FROM band b WHERE NOT EXISTS
                   (SELECT 1 FROM hot h WHERE h.bi = b.bi AND h.bh = b.bh)),
          cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                   FROM kept x JOIN kept y
                   ON x.bi = y.bi AND x.bh = y.bh AND x.doc_id < y.doc_id),
          est AS (SELECT c.a, c.b, CAST($matchSum AS BIGINT) AS n_match
                  FROM cand c
                  JOIN sig sa ON c.a = sa.doc_id
                  JOIN sig sb ON c.b = sb.doc_id),
          tok AS ($tokSql),
          sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
          inter AS (SELECT e.a, e.b, COUNT(*) AS ni FROM est e
                    JOIN tok ta ON ta.doc_id = e.a
                    JOIN tok tb ON tb.doc_id = e.b AND tb.tk = ta.tk
                    GROUP BY e.a, e.b)
          SELECT e.a, e.b, e.n_match,
            round(e.n_match / $MinhashPerms.0, 6) AS est6,
            round(COALESCE(i.ni, 0) / (za.n + zb.n - COALESCE(i.ni, 0)), 6) AS true6,
            round(abs(round(e.n_match / $MinhashPerms.0, 6)
                      - round(COALESCE(i.ni, 0) / (za.n + zb.n - COALESCE(i.ni, 0)), 6)), 6) AS err6
          FROM est e
          LEFT JOIN inter i ON e.a = i.a AND e.b = i.b
          JOIN sz za ON e.a = za.doc_id
          JOIN sz zb ON e.b = zb.doc_id"""
    },
    "dedup_containment" ->
      s"""WITH tok0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          hs AS (SELECT doc_id,
                   list_transform(generate_series(1, len(t) - ${WinnowK - 1}),
                     i -> CAST(('0x' || substr(md5(array_to_string(t[i:i+${WinnowK - 1}], ' ')), 1, 13)) AS BIGINT)) AS h
                 FROM tok0 WHERE len(t) >= ${WinnowK + WinnowW - 1}),
          fp AS (SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, len(h) - ${WinnowW - 1}),
                   j -> list_min(h[j:j+${WinnowW - 1}])))) AS fp
                 FROM hs),
          hot AS (SELECT fp FROM (SELECT fp, COUNT(*) AS n_docs
                  FROM fp GROUP BY fp) WHERE n_docs > $ContainMaxDf),
          keptfp AS (SELECT * FROM fp f WHERE NOT EXISTS
                     (SELECT 1 FROM hot h WHERE h.fp = f.fp)),
          cand AS (SELECT x.doc_id AS a, y.doc_id AS b
                   FROM keptfp x JOIN keptfp y
                   ON x.fp = y.fp AND x.doc_id < y.doc_id
                   GROUP BY 1, 2 HAVING COUNT(*) >= $WinnowMinShared),
          tok AS ($tokSql),
          sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
          inter AS (SELECT c.a, c.b, COUNT(*) AS ni FROM cand c
                    JOIN tok ta ON ta.doc_id = c.a
                    JOIN tok tb ON tb.doc_id = c.b AND tb.tk = ta.tk
                    GROUP BY c.a, c.b)
          SELECT c.a, c.b, COALESCE(i.ni, 0) AS ni, za.n AS na, zb.n AS nb,
            round(COALESCE(i.ni, 0) / least(za.n, zb.n), 6) AS cont6,
            CAST(COALESCE(i.ni, 0) * 10 >= least(za.n, zb.n) * 9 AS BIGINT)
              AS subset_dup
          FROM cand c
          LEFT JOIN inter i ON c.a = i.a AND c.b = i.b
          JOIN sz za ON c.a = za.doc_id
          JOIN sz zb ON c.b = zb.doc_id""",
    "dedup_simhash_accuracy" ->
      s"""WITH sig AS ($sigSql),
          band AS (
            $bandSql),
          hot AS (SELECT bi, bh FROM (SELECT bi, bh, COUNT(*) AS n_docs
                  FROM band GROUP BY bi, bh) WHERE n_docs > $MinhashMaxBucket),
          kept AS (SELECT * FROM band b WHERE NOT EXISTS
                   (SELECT 1 FROM hot h WHERE h.bi = b.bi AND h.bh = b.bh)),
          cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                   FROM kept x JOIN kept y
                   ON x.bi = y.bi AND x.bh = y.bh AND x.doc_id < y.doc_id),
          tok AS ($tokSql),
          th AS (SELECT doc_id, md5(tk) AS h FROM tok),
          bits AS (SELECT doc_id, i AS j,
              SUM(CASE WHEN (instr('0123456789abcdef', substr(h, i, 1)) - 1) % 2 = 1
                  THEN 1 ELSE -1 END) AS v
            FROM th, unnest(generate_series(1, 32)) u(i)
            GROUP BY doc_id, i),
          sh AS (SELECT doc_id,
              string_agg(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
            FROM bits GROUP BY doc_id),
          sz AS (SELECT doc_id, COUNT(*) AS n FROM tok GROUP BY doc_id),
          inter AS (SELECT c.a, c.b, COUNT(*) AS ni FROM cand c
                    JOIN tok ta ON ta.doc_id = c.a
                    JOIN tok tb ON tb.doc_id = c.b AND tb.tk = ta.tk
                    GROUP BY c.a, c.b),
          ham AS (SELECT c.a, c.b,
              CAST(list_sum(list_transform(generate_series(1, 32),
                j -> CASE WHEN substr(sa.simhash, j, 1) <> substr(sb.simhash, j, 1)
                     THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
            FROM cand c
            JOIN sh sa ON c.a = sa.doc_id
            JOIN sh sb ON c.b = sb.doc_id)
          SELECT hm.a, hm.b, hm.hamming,
            round(COALESCE(i.ni, 0) / sqrt(za.n * zb.n), 6) AS cos6,
            round((32 - hm.hamming) / 32.0, 6) AS agree6
          FROM ham hm
          LEFT JOIN inter i ON hm.a = i.a AND hm.b = i.b
          JOIN sz za ON hm.a = za.doc_id
          JOIN sz zb ON hm.b = zb.doc_id""",
    "dedup_edit_distance" ->
      s"""WITH sig AS ($sigSql),
          band AS (
            $bandSql),
          hot AS (SELECT bi, bh FROM (SELECT bi, bh, COUNT(*) AS n_docs
                  FROM band GROUP BY bi, bh) WHERE n_docs > $MinhashMaxBucket),
          kept AS (SELECT * FROM band b WHERE NOT EXISTS
                   (SELECT 1 FROM hot h WHERE h.bi = b.bi AND h.bh = b.bh)),
          cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                   FROM kept x JOIN kept y
                   ON x.bi = y.bi AND x.bh = y.bh AND x.doc_id < y.doc_id),
          px AS (SELECT doc_id, substr(text, 1, 256) AS prefix FROM documents)
          SELECT c.a, c.b,
            CAST(levenshtein(pa.prefix, pb.prefix) AS BIGINT) AS lev,
            CAST(GREATEST(length(pa.prefix), length(pb.prefix)) AS BIGINT) AS max_len,
            round(1.0 - CAST(levenshtein(pa.prefix, pb.prefix) AS DOUBLE)
              / CAST(GREATEST(length(pa.prefix), length(pb.prefix)) AS DOUBLE), 6) AS sim6
          FROM cand c
          JOIN px pa ON c.a = pa.doc_id
          JOIN px pb ON c.b = pb.doc_id""",
    "minhash_band_occupancy" ->
      s"""WITH sig AS ($sigSql),
          band AS (
            $bandSql),
          occ AS (SELECT bi, bh, COUNT(*) AS n_docs FROM band GROUP BY bi, bh)
          SELECT bi, n_docs, COUNT(*) AS n_buckets FROM occ GROUP BY bi, n_docs""",
    "cross_source_overlap" ->
      s"""$verifiedCtePrefix,
          srcs AS (SELECT doc_id, source FROM documents)
          SELECT least(sa.source, sb.source) AS source_x,
                 greatest(sa.source, sb.source) AS source_y,
                 COUNT(*) AS n_pairs
          FROM verified v
          JOIN srcs sa ON v.a = sa.doc_id
          JOIN srcs sb ON v.b = sb.doc_id
          WHERE sa.source <> sb.source
          GROUP BY 1, 2""",
    "dedup_incremental" ->
      s"""WITH sig AS ($sigSql),
          band AS (
            $bandSql),
          existing AS (SELECT * FROM band WHERE doc_id % 5 <> 0),
          newb AS (SELECT * FROM band WHERE doc_id % 5 = 0),
          hot AS (SELECT bi, bh FROM (SELECT bi, bh, COUNT(*) AS n_docs
                  FROM existing GROUP BY bi, bh) WHERE n_docs > $MinhashMaxBucket),
          kept AS (SELECT * FROM existing e WHERE NOT EXISTS
                   (SELECT 1 FROM hot h WHERE h.bi = e.bi AND h.bh = e.bh)),
          cand AS (SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS existing_id
                   FROM newb x JOIN kept y ON x.bi = y.bi AND x.bh = y.bh)
          SELECT c.new_id, c.existing_id,
            CAST(${(0 until MinhashPerms).map(i => s"CAST(sa.mh$i = sb.mh$i AS INT)").mkString(" + ")} AS BIGINT) AS n_match
          FROM cand c
          JOIN sig sa ON c.new_id = sa.doc_id
          JOIN sig sb ON c.existing_id = sb.doc_id
          WHERE ${(0 until MinhashPerms).map(i => s"CAST(sa.mh$i = sb.mh$i AS INT)").mkString(" + ")}
            >= $MinhashClusterMatches""",
    "dedup_winnow" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
          hs AS (SELECT doc_id,
                   list_transform(generate_series(1, len(t) - ${WinnowK - 1}),
                     i -> CAST(('0x' || substr(md5(array_to_string(t[i:i+${WinnowK - 1}], ' ')), 1, 13)) AS BIGINT)) AS h
                 FROM tok WHERE len(t) >= ${WinnowK + WinnowW - 1}),
          fp AS (SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, len(h) - ${WinnowW - 1}),
                   j -> list_min(h[j:j+${WinnowW - 1}])))) AS fp
                 FROM hs)
          SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS n_shared
          FROM fp x JOIN fp y ON x.fp = y.fp AND x.doc_id < y.doc_id
          GROUP BY 1, 2 HAVING COUNT(*) >= $WinnowMinShared
          ORDER BY n_shared DESC, a, b LIMIT $WinnowTopK""",
    "dedup_incremental_stream_twin" ->
      s"""WITH sig AS ($sigSql),
          band AS (
            $bandSql),
          existing AS (SELECT * FROM band WHERE doc_id % 5 <> 0),
          newb AS (SELECT * FROM band WHERE doc_id % 5 = 0),
          hot AS (SELECT bi, bh FROM (SELECT bi, bh, COUNT(*) AS n_docs
                  FROM existing GROUP BY bi, bh) WHERE n_docs > $MinhashMaxBucket),
          kept AS (SELECT * FROM existing e WHERE NOT EXISTS
                   (SELECT 1 FROM hot h WHERE h.bi = e.bi AND h.bh = e.bh))
          SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS existing_id, x.bi AS bi
          FROM newb x JOIN kept y ON x.bi = y.bi AND x.bh = y.bh""",
    "dedup_minhash_stream_twin" ->
      s"""WITH sig AS ($sigSql),
          band AS (
            $bandSql),
          firsts AS (SELECT bi, bh, MIN(doc_id) AS first_doc_id
                     FROM band GROUP BY bi, bh)
          SELECT b.doc_id, b.bi, b.bh, f.first_doc_id,
                 CAST(b.doc_id = f.first_doc_id AS INT) AS is_first
          FROM band b JOIN firsts f ON b.bi = f.bi AND b.bh = f.bh""",
    "dedup_cluster_reps" ->
      s"""$clusterCtePrefix
          SELECT doc AS doc_id, MIN(lab) AS cluster_rep FROM reach GROUP BY doc""",
    "corpus_split_leakage_safe" ->
      s"""$clusterCtePrefix,
          reps AS (SELECT doc AS doc_id, MIN(lab) AS cluster_rep
                   FROM reach GROUP BY doc),
          assigned AS (
            SELECT d.doc_id,
              COALESCE(r.cluster_rep, d.doc_id) AS group_key,
              CAST(('0x' || substr(md5(CAST(COALESCE(r.cluster_rep, d.doc_id)
                AS VARCHAR)), 1, 13)) AS BIGINT) % 10 AS bucket
            FROM documents d LEFT JOIN reps r ON d.doc_id = r.doc_id)
          SELECT doc_id, group_key, bucket,
            CASE WHEN bucket <= 7 THEN 'train'
                 WHEN bucket = 8 THEN 'val'
                 ELSE 'test' END AS split
          FROM assigned""",
    "dedup_simhash" ->
      s"""WITH tok AS ($tokSql),
          h AS (SELECT doc_id, md5(tk) AS h FROM tok),
          bits AS (SELECT doc_id, i AS j,
              SUM(CASE WHEN (instr('0123456789abcdef', substr(h, i, 1)) - 1) % 2 = 1
                  THEN 1 ELSE -1 END) AS v
            FROM h, unnest(generate_series(1, 32)) u(i)
            GROUP BY doc_id, i)
          SELECT doc_id,
            string_agg(CASE WHEN v >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
          FROM bits GROUP BY doc_id""",
    "dedup_embedding_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                    FROM embeddings WHERE vec_id < 300)
         SELECT a.vec_id AS a, b.vec_id AS b,
           round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
             AS cos6
         FROM e a JOIN e b ON a.vec_id < b.vec_id
         ORDER BY cos6 DESC, a, b LIMIT 20""",
    "dedup_embedding_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          bk AS (SELECT vec_id, v, $embBucketSql AS bucket FROM e)
          SELECT a.vec_id AS a, b.vec_id AS b, a.bucket AS bucket,
            round(list_dot_product(a.v, b.v)
              / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
              AS cos6
          FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
          ORDER BY cos6 DESC, a, b LIMIT 20""",
    "dedup_decontaminate_semantic" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          bk AS (SELECT vec_id, v,
                   sqrt(list_dot_product(CAST(v AS DOUBLE[]), CAST(v AS DOUBLE[]))) AS nrm,
                   $embBucketSql AS bucket FROM e),
          train AS (SELECT * FROM bk WHERE vec_id % 10 <> 0),
          held AS (SELECT * FROM bk WHERE vec_id % 10 = 0),
          probes AS (
            SELECT vec_id, v, nrm, bucket AS pb FROM train
            UNION ALL
            SELECT vec_id, v, nrm,
              substr(bucket, 1, i - 1)
                || (CASE WHEN substr(bucket, i, 1) = '1' THEN '0' ELSE '1' END)
                || substr(bucket, i + 1) AS pb
            FROM train, unnest(generate_series(1, $EmbeddingLshBits)) u(i)),
          ev AS (
            SELECT p.vec_id,
              max(round(list_dot_product(p.v, h.v) / (p.nrm * h.nrm), 6))
                AS max_heldout_cos6
            FROM probes p JOIN held h ON p.pb = h.bucket
            GROUP BY p.vec_id)
          SELECT t.vec_id, ev.max_heldout_cos6,
            (COALESCE(ev.max_heldout_cos6, -2.0) >= $SemdedupTau) AS contaminated
          FROM train t LEFT JOIN ev USING (vec_id)""",
    "dedup_embedding_lsh_multiprobe" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          bk AS (SELECT vec_id, v,
                   sqrt(list_dot_product(CAST(v AS DOUBLE[]), CAST(v AS DOUBLE[]))) AS nrm,
                   ${embBucketSqlFor(EmbeddingLshProbeBits)} AS bucket FROM e),
          probes AS (
            SELECT vec_id, v, nrm, bucket AS pb FROM bk
            UNION ALL
            SELECT vec_id, v, nrm,
              substr(bucket, 1, i - 1)
                || (CASE WHEN substr(bucket, i, 1) = '1' THEN '0' ELSE '1' END)
                || substr(bucket, i + 1) AS pb
            FROM bk, unnest(generate_series(1, $EmbeddingLshProbeBits)) u(i))
          SELECT a.vec_id AS a, b.vec_id AS b,
            round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos6
          FROM probes a JOIN bk b ON a.pb = b.bucket AND a.vec_id < b.vec_id
          ORDER BY cos6 DESC, a, b LIMIT 20""",
    "embedding_lsh_occupancy" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
          bk AS (SELECT vec_id, $embBucketSql AS bucket FROM e)
          SELECT bucket, COUNT(*) AS n_vecs FROM bk GROUP BY bucket""",
    "embedding_lsh_recall" ->
      """WITH e AS (SELECT vec_id, [CAST(x AS DOUBLE) FOR x IN embedding] AS v
                    FROM embeddings WHERE vec_id < 101),
          p AS (SELECT vec_id, v,
                  [v[i+1] + (CAST((vec_id*31 + i*7) % 11 AS DOUBLE) - 5.0)/1000.0
                   FOR i IN range(0,64)] AS w
                FROM e WHERE vec_id < 100),
          j AS (SELECT p.vec_id, p.v, p.w, e2.v AS u
                FROM p JOIN e e2 ON e2.vec_id = p.vec_id + 1),
          h AS (SELECT vec_id,
                  len(list_filter(range(0,8),  i -> (v[i+1] >= 0) != (w[i+1] >= 0))) AS hp8,
                  len(list_filter(range(0,8),  i -> (v[i+1] >= 0) != (u[i+1] >= 0))) AS ha8,
                  len(list_filter(range(0,12), i -> (v[i+1] >= 0) != (w[i+1] >= 0))) AS hp12,
                  len(list_filter(range(0,12), i -> (v[i+1] >= 0) != (u[i+1] >= 0))) AS ha12
                FROM j)
          SELECT 'sign8' AS method, CAST(vec_id AS BIGINT) AS vec_id,
            CAST(CASE WHEN hp8 = 0 THEN 1 ELSE 0 END AS BIGINT) AS hit_planted,
            CAST(CASE WHEN ha8 = 0 THEN 1 ELSE 0 END AS BIGINT) AS hit_ambient FROM h
          UNION ALL SELECT 'sign12', CAST(vec_id AS BIGINT),
            CAST(CASE WHEN hp12 = 0 THEN 1 ELSE 0 END AS BIGINT),
            CAST(CASE WHEN ha12 = 0 THEN 1 ELSE 0 END AS BIGINT) FROM h
          UNION ALL SELECT 'sign12_probe1', CAST(vec_id AS BIGINT),
            CAST(CASE WHEN hp12 <= 1 THEN 1 ELSE 0 END AS BIGINT),
            CAST(CASE WHEN ha12 <= 1 THEN 1 ELSE 0 END AS BIGINT) FROM h""")

  /** Sign-bit bucket expression (DuckDB 1-based indexing), derived from
    * the same bit-width constants as the Scala plans. */
  private def embBucketSqlFor(bits: Int): String = (1 to bits)
    .map(i => s"(CASE WHEN v[$i] >= 0 THEN '1' ELSE '0' END)")
    .mkString(" || ")
  private lazy val embBucketSql = embBucketSqlFor(EmbeddingLshBits)
}
