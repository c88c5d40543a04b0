package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.Staging.StagingOps

/**
 * Deduplication suite for large-scale training-data pipelines — the
 * north-star extension family (BASELINE.json): exact, n-gram Jaccard,
 * MinHash+LSH, SimHash.
 *
 * Portability/determinism policy: every hash is derived from `md5` hex
 * strings (identical in any engine) and every similarity decision is made in
 * *integer* arithmetic (intersection/union counts, cross-multiplied
 * thresholds) — no floating-point in the dedup path, so results are
 * bit-stable across partition orders, engines, and cluster sizes.
 *
 * Scale design: the only shuffles are groupBy(signature/shingle) — no
 * cross join anywhere. Candidate generation is always hash-bucketed
 * (shingle match or LSH band), so cost is O(candidate pairs), not O(n²);
 * at 100 TB the LSH path is the default and the verify step touches only
 * bucket-colliding pairs.
 */
object Dedup {

  /** Word n-gram shingles of a text column (array of 'w1 w2 .. wn') — a
    * native codegen'd generator (graft.functions.WordShingles): the
    * map-side hot loop of the whole dedup family emits zero-copy substring
    * slices instead of paying four interpreted higher-order functions per
    * document (see ShingleExpressions.scala). */
  def shingles(textCol: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnShim.column(graft.functions.WordShingles(
      org.apache.spark.sql.GraftColumnShim.expression(textCol), n))

  /**
   * Exact dedup: hash-groupBy on content md5 — keep the smallest id per
   * group (deterministic canonical representative), count duplicates.
   * One shuffle on the 128-bit hash; at 100 TB this is the cheapest possible
   * exact pass (partial agg map-side, no content re-read after pruning).
   */
  def exact(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(md5(textCol.cast("binary")).as("contentHash"))
      .agg(min(idCol).as("keepId"), count(lit(1)).as("dupCount"))

  /**
   * Soft dedup (He et al. 2024, "SoftDedup: an Efficient Data Reweighting
   * Method for Speeding Up Language Model Pre-training", ACL 2024): keep
   * EVERY document but down-weight duplicates by the commonness of their
   * content — sampling weight 1/n for a document whose exact-content group
   * has n members (the paper's frequency-based reweighting with its
   * default inverse law). Weights are integer micros, floor(1e6/n), so
   * engines agree bit-exactly; the group count rides ONE window over the
   * content-hash partition (same single shuffle as [[exact]], and no join
   * back — the window and a groupBy+join are the same exchange, minus the
   * second sort). At 100 TB this is the cheapest possible soft pass: the
   * hash is computed map-side, the only wide op is the one hash-keyed
   * exchange, and a group of 1e8 boilerplate copies is a COUNT in one
   * partition — a long scan, not a blow-up (and the [[exact]] keeper-agg
   * shape remains the escape hatch if a single group ever dominates a
   * partition).
   */
  def softDedup(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = md5(textCol.cast("binary"))
    df.select(idCol.as("docId"), h.as("contentHash"),
        count(lit(1)).over(Window.partitionBy(h)).as("dupCount"))
      .withColumn("weightMicro", expr("1000000 div dupCount"))
  }

  /**
   * N-gram Jaccard near-dup: candidate pairs share ≥1 shingle (hash join on
   * the shingle, never a cross join); Jaccard = |A∩B| / |A∪B| entirely in
   * integer counts. `minJaccardPct` compares via cross-multiplication:
   * 100·inter ≥ pct·union.
   *
   * Hot-shingle guard (`dfCap`): a shingle occurring in d documents
   * contributes d² rows to the self-join, so one common boilerplate gram
   * ("terms of service of …") is a single-key quadratic blow-up on a raw
   * corpus. Shingles whose document frequency exceeds `dfCap` are dropped
   * BEFORE the join — the CCNet/Gopher treatment of top-df grams, which
   * carry almost no Jaccard signal. Both the intersection counts and the
   * per-doc sizes are computed over the capped shingle set, so the ratio
   * stays internally consistent. The df aggregate is a map-side partial
   * count (shuffle carries ~one row per distinct shingle per partition)
   * and the semi-join shuffles on the same key as the self-join, so
   * ReuseExchange computes the exploded-shingle frame once. Join size per
   * shingle is bounded by dfCap²; pass `Int.MaxValue` for exact semantics
   * on a pre-bounded subset (see [[verifyCandidates]]).
   */
  def ngramJaccardPairs(df: DataFrame, idCol: Column, textCol: Column,
                        n: Int, minJaccardPct: Int,
                        dfCap: Int = 64): DataFrame = {
    val sh0 = df.select(idCol.as("docId"), explode(array_distinct(shingles(textCol, n))).as("sh"))
    val sh =
      if (dfCap == Int.MaxValue) sh0
      else {
        val keep = sh0.groupBy(col("sh")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= dfCap).select(col("sh"))
        sh0.join(keep.hint("shuffle_hash"), Seq("sh"), "left_semi")
      }
    val sizes = sh.groupBy(col("docId")).agg(count(lit(1)).as("nsh"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.docId") < col("b.docId"))
      .groupBy(col("a.docId").as("idA"), col("b.docId").as("idB"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("docId", "idA").withColumnRenamed("nsh", "nA"), "idA")
      .join(sizes.withColumnRenamed("docId", "idB").withColumnRenamed("nsh", "nB"), "idB")
      .withColumn("unionSize", col("nA") + col("nB") - col("inter"))
      .filter(col("inter") * 100 >= col("unionSize") * minJaccardPct)
      .select(col("idA"), col("idB"), col("inter"), col("unionSize"))
  }

  /**
   * MinHash signatures via double hashing: ONE md5 per shingle supplies
   * two 60-bit longs (hex chars 1-15 and 17-31); permutation k is
   * h1 + k·(h2 mod 2⁵⁹-1) — the standard double-hashing construction for
   * simulating k independent hash functions from two (Kirsch-Mitzenmacher),
   * and a valid min-hash family per seed. Engine-portable: DuckDB computes
   * the identical longs via `CAST('0x'||substring(md5(sh),p,15) AS BIGINT)`.
   * One explode + one groupBy.
   *
   * Shape notes (measured, sf0.1):
   * - ONE md5 per shingle instead of `numHashes` — the digest dominated
   *   the signature pass; double hashing cuts it 8×.
   * - LONG min instead of hex-string min: min over a primitive gets
   *   Tungsten HashAggregate with map-side partial min; min over strings
   *   can't live in an UnsafeRow agg buffer and silently falls to
   *   SortAggregate — a full sort of every exploded shingle row.
   * - explode + hash-agg, not array_min(transform(...)): higher-order
   *   lambdas run interpreted and measured ~20× slower for the same md5
   *   count. Keep hot per-element hashing in whole-stage codegen.
   *
   * No overflow: h1 < 2⁶⁰, k·h2m ≤ (numHashes-1)·(2⁵⁹-2); for
   * numHashes ≤ 8 the sum stays under 2⁶³-1 in both engines.
   *
   * Precondition (r20 ADVICE): doc ids must be UNIQUE — the kernel path
   * emits one signature row per input row, where the historical
   * groupBy(docId) incidentally collapsed duplicate ids into one
   * min-over-union signature. Every registered caller feeds unique ids;
   * a caller with repeated ids must dropDuplicates first.
   */
  def minHashSignatures(df: DataFrame, idCol: Column, textCol: Column,
                        n: Int, numHashes: Int): DataFrame = {
    require(numHashes <= 8, "double-hashing construction sized for <= 8 permutations")
    // r20 OPTIMIZATION: native per-document kernel
    // (graft.functions.MinHashSigs) instead of explode + hash-agg. The
    // kernel computes the SAME md5-derived longs (pinned bit-identical by
    // FunctionsSpec against this function's historical explode+agg
    // formulation, short-doc/empty/multibyte corners included), map-side
    // in one projection — which removes (a) the per-shingle hex rendering
    // + two conv radix parses + exploded-row copy + agg hash-map probe,
    // and (b) the groupBy(docId) Exchange every LSH chain used to pay
    // just to reassemble per-doc signatures (guide §2.4). NULL text →
    // NULL signature, filtered here exactly like the null shingle
    // singleton was (r16 review: a null doc has no content identity and
    // must be absent from the signature table, never a phantom
    // all-null-band candidate).
    val sig = org.apache.spark.sql.GraftColumnShim.column(
      graft.functions.MinHashSigs(
        org.apache.spark.sql.GraftColumnShim.expression(textCol), n, numHashes))
    df.select(idCol.as("docId"), sig.as("__sig"))
      .filter(col("__sig").isNotNull)
      // separate projection: __sig is non-cheap and referenced numHashes
      // times, so CollapseProject keeps the split and the kernel runs
      // once per row (the bandDocs r17 device)
      .select(col("docId") +: (0 until numHashes).map(k =>
        element_at(col("__sig"), k + 1).as(s"mh$k")): _*)
  }

  /** Modulus bounding the double-hash step term (2⁵⁹-1). */
  val DoubleHashMod: Long = (1L << 59) - 1

  /**
   * Cross-source corpus overlap via one-permutation min-hash sketches
   * (Broder 1997 resemblance, in the one-permutation-with-bins
   * construction of Li et al. 2012, "One Permutation Hashing", NeurIPS):
   * every shingle hashes ONCE, lands in bin h mod `bins`, and each
   * (source, bin) keeps the min — so the per-source sketch is `bins`
   * longs of aggregate state however many shingles the source has, built
   * by ONE map-side-partial hash-agg over the shingle stream. The
   * Jaccard estimate for a source pair is the fraction of jointly-used
   * bins whose mins agree (bins empty on both sides are excluded; no
   * densification — with corpus-scale sources and default bins = 256,
   * empty bins are the measure-zero case, and the estimator stays the
   * paper's unbiased matched-bin form).
   *
   * This is corpus TELEMETRY, not dedup: the read a data team takes
   * before mixing two crawls ("how much of source B is already in A").
   * Returns one row per unordered source pair: exact distinct-shingle
   * counts (n_a, n_b — the exact pass; [[graft.pipeline.Sketches]] HLL
   * is the sketch path when even distinct hashes out-scale a shuffle),
   * jointly-used bins, matching bins, and the Jaccard estimate in
   * integer micro units — everything md5-derived and integer-exact, so
   * an external SQL engine replays the sketch bit-for-bit.
   *
   * 100 TB shape: one shingle explode feeding two aggs — the
   * (source, bin)-keyed sketch (≤ |sources|·bins rows) and the
   * per-source distinct count; the pair join runs ON THE SKETCH
   * (bounded metadata), never on shingles.
   */
  def sourceOverlap(df: DataFrame, sourceCol: Column, textCol: Column,
                    n: Int = 5, bins: Int = 256): DataFrame = {
    val sh = df.select(sourceCol.as("src"),
      explode(array_distinct(shingles(textCol, n))).as("sh"))
      .filter(col("sh").isNotNull)   // null text -> the kernel's [null]
    val h1 = conv(substring(md5(col("sh")), 1, 15), 16, 10).cast("long")
    // ONE corpus pass (r16 review: the sketch agg and the distinct count
    // were separate subtrees over the raw explode, re-scanning and
    // re-hashing the corpus twice): the distinct (src, h) frame is
    // checkpointed — min over distinct equals min over all, and the
    // distinct count is a plain count — and both aggs read it.
    val hashed = sh.select(col("src"), h1.as("h")).distinct()
      .staged
    val sk = hashed.groupBy(col("src"), pmod(col("h"), lit(bins)).as("bin"))
      .agg(min("h").as("mn"))
      .staged  // consumed by the pair join twice + the bin count
    val nsh = hashed.groupBy("src").agg(count(lit(1)).as("nsh"))
    val nbins = sk.groupBy("src").agg(count(lit(1)).as("nbins"))
    val a = sk.select(col("src").as("sa"), col("bin"), col("mn").as("mna"))
    val b = sk.select(col("src").as("sb"), col("bin"), col("mn").as("mnb"))
    // every unordered pair gets a row, including pairs whose bin sets are
    // disjoint (small/skewed sources): the bin-match aggregate only emits
    // rows for pairs sharing >= 1 bin, so it left-joins onto the full pair
    // frame (|sources|² is telemetry-bounded metadata) with zeros filled —
    // a zero-overlap pair REPORTS jaccard_micro = 0 rather than vanishing
    // (r15 advice)
    val srcs = sk.select(col("src")).distinct()
    val allPairs = srcs.select(col("src").as("sa"))
      .crossJoin(srcs.select(col("src").as("sb")))
      .filter(col("sa") < col("sb"))
    val matched = a.join(b, Seq("bin")).filter(col("sa") < col("sb"))
      .groupBy("sa", "sb")
      .agg(count(lit(1)).as("both"),
        sum(when(col("mna") === col("mnb"), 1L).otherwise(0L)).as("bins_match"))
    allPairs.join(matched, Seq("sa", "sb"), "left")
      .withColumn("both", coalesce(col("both"), lit(0L)))
      .withColumn("bins_match", coalesce(col("bins_match"), lit(0L)))
      .join(nsh.select(col("src").as("sa"), col("nsh").as("n_a")), Seq("sa"))
      .join(nsh.select(col("src").as("sb"), col("nsh").as("n_b")), Seq("sb"))
      .join(nbins.select(col("src").as("sa"), col("nbins").as("nba")), Seq("sa"))
      .join(nbins.select(col("src").as("sb"), col("nbins").as("nbb")), Seq("sb"))
      .select(col("sa").as("source_a"), col("sb").as("source_b"),
        col("n_a"), col("n_b"),
        (col("nba") + col("nbb") - col("both")).as("bins_either"),
        col("bins_match"),
        expr("(bins_match * 1000000) div (nba + nbb - both)")
          .as("jaccard_micro"))
      .orderBy("source_a", "source_b")
  }

  /**
   * Verify candidate pairs by exact n-gram Jaccard, touching ONLY the
   * candidate docs: the candidate id set (small — it came out of LSH
   * banding) broadcast-semi-joins the corpus down to candidate members
   * BEFORE any shingle explode, then the in-subset shingle join scores
   * exactly the candidate pairs. This is the composed scale pipeline's
   * verify step — running ngramJaccardPairs over the full corpus and
   * filtering afterwards would shingle-join everything (measured 20×+
   * slower at sf0.1, unbounded at 100 TB).
   */
  def verifyCandidates(df: DataFrame, cands: DataFrame, idCol: Column,
                       textCol: Column, n: Int, minJaccardPct: Int): DataFrame = {
    // The candidate frame is consumed twice (id pruning + the final pair
    // join); eagerly materialize it ONCE so the whole LSH index build
    // doesn't replay per consumer (and a lazy .persist shared by a
    // broadcast stage and a probe stage materializes concurrently —
    // measured wildly unstable). localCheckpoint = compute now, keep the
    // small pair set as blocks, truncate lineage; the cluster-scale
    // equivalent is writing the candidate table to storage between the
    // generate and verify passes.
    val candsM = cands.staged
    val ids = candsM.select(explode(array(col("idA"), col("idB"))).as("cdid"))
      .distinct()
    // no forced broadcast (r16 review): LSH banding does not bound the
    // candidate id set — on a duplicate-heavy corpus it can be O(corpus),
    // and a forced broadcast would blow the 8 GB limit exactly where this
    // step matters most. AQE broadcasts it when it is in fact small.
    val subset = df.join(ids, idCol === col("cdid"), "left_semi")
    // Exact Jaccard (no df cap): the subset is already bounded to
    // candidate members, so the hot-shingle quadratic risk the cap guards
    // against cannot arise, and verify must score the true similarity.
    ngramJaccardPairs(subset, idCol, textCol, n, minJaccardPct, Int.MaxValue)
      .join(candsM, Seq("idA", "idB"))
  }

  /**
   * MinHash + LSH banding: signatures → bands of `rowsPerBand` hashes; docs
   * colliding on any band key are near-dup candidates. Returns candidate
   * pairs (idA < idB, distinct across bands). Scale path: the band key
   * groupBy replaces any pairwise comparison; false positives are verified
   * by the caller (e.g. ngramJaccardPairs on the candidate subset).
   *
   * Degenerate-bucket guard: a mass-duplicated corpus puts every copy in
   * the same band bucket, and an uncapped `collect_list` would then hold
   * the whole bucket in one agg buffer. Buckets larger than
   * `maxBucketSize` are salted into ≤maxBucketSize sub-buckets first
   * (md5(docId)-prefix-based, engine-portable — an external SQL oracle
   * can recompute the exact capped output), bounding both agg memory and
   * per-row pair
   * expansion; only intra-sub-bucket pairs are emitted for such buckets —
   * for a bucket that degenerate (near-identical docs), the lost
   * cross-salt pairs are redundant candidates, the standard recall
   * trade. Buckets within the cap are unaffected, so results are
   * identical whenever no bucket exceeds the cap.
   */
  def minHashLshPairs(signatures: DataFrame, numHashes: Int,
                      rowsPerBand: Int, maxBucketSize: Int = 10000): DataFrame = {
    // a remainder would silently DROP the trailing hash columns from
    // banding, quietly shifting the b/r recall curve (r16 review)
    require(numHashes % rowsPerBand == 0,
      s"numHashes=$numHashes not divisible by rowsPerBand=$rowsPerBand")
    val numBands = numHashes / rowsPerBand
    val bandKeys = (0 until numBands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(k => col(s"mh$k"))
      struct(lit(b).as("band"), concat_ws("|", cols: _*).as("key"))
    }
    // Two passes over the banded frame (the count below + the pair pass):
    // deliberately NOT persisted here — a lazily-cached frame consumed by
    // both a broadcast-exchange stage and the probe stage materializes
    // concurrently and measured wildly unstable (11 s–318 s); recomputing
    // the map-side signature pipeline is cheap and predictable. At cluster
    // scale, callers doing repeated LSH passes should checkpoint the
    // signature table explicitly — a standard index-build artifact.
    val banded = signatures.select(col("docId"),
      explode(array(bandKeys: _*)).as("bk"))
    // Oversized-bucket detection WITHOUT a bk-partitioned window (a window
    // would shuffle+sort every banded row): aggregate bucket counts (map-side
    // partial agg means the shuffle carries ~one row per distinct bk per
    // partition), keep only buckets over the cap — by construction a tiny
    // set — and broadcast-join the salt fan-out factor back.
    val oversized = banded.groupBy(col("bk"))
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") > maxBucketSize)
      .withColumn("nsalts", ceil(col("bsz") / maxBucketSize).cast("int"))
      .select(col("bk"), col("nsalts"))
    // Shuffle-hash join on bk, NOT broadcast: both join inputs shuffle on
    // the same key with the same child subplan, so ReuseExchange computes
    // the signature pipeline once, and the build side (over-cap buckets
    // only) is by construction tiny per partition. A broadcast here
    // measured unstable (1.4 s solo vs 14 s mid-bench): the broadcast
    // materialization job serializes behind whatever the JVM is doing,
    // while the shuffle path is just one more co-partitioned stage.
    // Salt assignment is the md5-prefix long already used for the minhash
    // permutations (engine-portable: any SQL engine with md5 reproduces
    // it), NOT Spark-internal murmur3 hash() — so the capped output is
    // exactly recomputable by an external oracle. The md5 sits inside the
    // `when` branch: codegen evaluates it only for members of over-cap
    // buckets, a tiny set by construction.
    val saltHash = conv(substring(md5(col("docId").cast("string")), 1, 15), 16, 10)
      .cast("long")
    val salted = banded.join(oversized.hint("shuffle_hash"), Seq("bk"), "left")
      .withColumn("salt",
        when(col("nsalts").isNotNull, pmod(saltHash, col("nsalts")))
          .otherwise(lit(0)))
    // Single pass: group each (band bucket, salt) and expand in-bucket
    // pairs with higher-order functions — a self-join here would recompute
    // the whole signature pipeline (explode + 8×md5 per shingle) twice and
    // shuffle both sides; this shape shuffles on the band key only.
    salted.groupBy(col("bk"), col("salt"))
      .agg(array_sort(collect_list(col("docId"))).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(flatten(transform(col("ids"), (a, i) =>
        transform(slice(col("ids"), i + 2, size(col("ids"))),
          b => struct(a.as("idA"), b.as("idB")))))).as("p"))
      .select(col("p.idA").as("idA"), col("p.idB").as("idB"))
      .distinct()
  }

  /**
   * SimHash (32-bit): per token take the first 8 hex chars of md5, treat as
   * 32 bits; each bit position accumulates +1/-1 over tokens; the sign bit
   * vector is the signature. Identical signatures = near-dup buckets.
   * Bit extraction is integer arithmetic on the hex digits
   * (strpos('0123456789abcdef', c) - 1) — engine-portable.
   *
   * Shape note: like minHashSignatures, the per-token hot loop stays in
   * whole-stage codegen via explode + Tungsten hash-agg; a higher-order
   * `aggregate` fold over the token array would avoid the shuffle but run
   * every md5 through interpreted lambdas (measured ~20× slower on the
   * analogous minhash path).
   */
  def simHash32(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    val tok = df.select(idCol.as("docId"), explode(split(textCol, " ")).as("w"))
      .withColumn("h", md5(col("w")))
    // hex digit value of char j (0-based) of the md5
    def hexVal(j: Int): Column =
      (instr(lit("0123456789abcdef"), substring(col("h"), j + 1, 1)) - 1).cast("long")
    val withBits = (0 until 8).foldLeft(tok)((d, j) => d.withColumn(s"v$j", hexVal(j)))
    val bitSums = for (j <- 0 until 8; k <- 0 until 4) yield
      sum(shiftright(col(s"v$j"), k).bitwiseAND(1) * 2 - 1).as(s"s_${j}_$k")
    val sums = withBits.groupBy(col("docId")).agg(bitSums.head, bitSums.tail: _*)
    val sig = (for (j <- 0 until 8; k <- 0 until 4) yield
        when(col(s"s_${j}_$k") > 0, lit(1L << (j * 4 + k))).otherwise(lit(0L)))
      .reduce(_ + _)
    sums.select(col("docId"), sig.as("simhash"))
  }

  /**
   * Segment-level dedup (the CCNet-style pass): split every document into
   * segments, drop every segment whose exact content already occurred
   * earlier in the corpus (global first occurrence by (docId, index) wins,
   * including within-document repeats), and reassemble the surviving
   * segments in order. Documents whose every segment was removed drop out.
   *
   * `segment` is any expression producing the ordered array<string> of
   * segments — fixed word windows for unstructured text
   * ([[wordWindows]]), or `split(text, sep)` for newline/paragraph-
   * delimited corpora (pass the matching `joiner` so reassembly keeps the
   * original separator).
   *
   * Scale shape: the first-occurrence keeper per segment is a
   * `min(struct(docId, idx))` hash-aggregate — map-side partial min, so a
   * mass-duplicated segment (exactly the thing being removed) collapses to
   * one row per input partition BEFORE the shuffle; a row_number window
   * keyed by segment content would instead funnel every copy of the hot
   * segment through one reducer, and unlike a skewed join (AQE-splittable)
   * a skewed window cannot be split. Then one join back on the segment and
   * one shuffle on docId to reassemble. No self-join, no collect.
   */
  def dedupSegments(df: DataFrame, idCol: Column, segments: Column,
                    joiner: String = " "): DataFrame = {
    // r20 OPTIMIZATION NOTE (tried, measured, REVERTED): keying the keeper
    // agg + join on a 128-bit xxhash64 image of the segment (the
    // dedupSubstrings internal-key device) measured a consistent
    // REGRESSION here (dolma_e2e +1.0 s, dedup_segments/paragraphs_bloom
    // +10-18% at sf0.1): the keeper side is already collapsed by the
    // map-side partial min before its shuffle, so narrower keeper keys
    // bought little, while the PROBE side — the full segment explode —
    // paid two extra hashes and 16 extra bytes per row. The string-keyed
    // formulation stays.
    val seg = df.select(idCol.as("docId"), posexplode(segments).as(Seq("idx", "seg")))
    val keepers = seg.groupBy(col("seg"))
      .agg(min(struct(col("docId"), col("idx"))).as("keeper"))
    seg.join(keepers, "seg")
      .filter(struct(col("docId"), col("idx")) === col("keeper"))
      .groupBy(col("docId"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("idx"), col("seg")))),
        s => s("seg")), joiner).as("text"))
  }

  /**
   * Exact substring dedup (Lee et al. 2021, "Deduplicating Training Data
   * Makes Language Models Better", arXiv:2107.06499 — their EXACTSUBSTR
   * pass removes any >=50-token span that appears verbatim elsewhere in
   * the corpus). Their implementation is a single-node suffix array; the
   * distributed formulation here is window-count equivalence at token
   * granularity: a k-token window whose exact text occurs more than once
   * in the corpus is a duplicated span, and every token covered by at
   * least one duplicated window is removed. A maximal duplicated run of
   * m >= k tokens is exactly the union of its m-k+1 duplicated windows,
   * so the removed regions coincide with the suffix-array spans at
   * window granularity. Documents shorter than k tokens have no windows
   * and always survive intact.
   *
   * Returns (docId, nTokens, nRemoved, text) with the covered tokens cut
   * out and the remainder re-joined on single spaces.
   *
   * Scale shape (re-profiled r14; detection REWORKED r15;
   * key hash swapped r20): the window explode is linear in corpus
   * tokens. The key is 128 bits carried as two longs — xxhash64 of the
   * window slice under two distinct seeds (Spark's default 42 and a
   * golden-ratio constant). r20 OPTIMIZATION: the r15 key was a 120-bit
   * md5 image via conv(substring(md5(win), ...), 16, 10) — a full MD5
   * digest plus hex rendering plus two radix-16 string parses per
   * window, the dominant per-window cost of the whole operator
   * (measured: the explode+hash stage was ~2.4× slower than with
   * xxhash64). The key is INTERNAL — the output is (docId, nTokens,
   * nRemoved, text) and the DuckDB oracle replays detection with its
   * own full-md5 equality classes — so any collision-free hash of the
   * window text yields bit-identical output, and the hash needs no
   * engine portability. Collision budget at the 100 TB design point's
   * ~1e13 windows: expected colliding PAIRS = n²/2^129 ≈ 1.5e-13
   * (better than the r15 120-bit key's 4e-11; the r14 60-bit prefix
   * would have falsely deleted ~1e8 unique spans). That figure assumes
   * NON-ADVERSARIAL input (r20 ADVICE): xxhash64 is non-cryptographic
   * with fixed public seeds, so a hostile corpus could craft both-seed
   * collisions and force false span removal — a second-preimage
   * guarantee the md5 key did provide. For untrusted web corpora where
   * that threat matters, swap the two key columns back to the md5
   * formulation (the r15 shape this comment documents); the operator's
   * output contract is unchanged either way. Duplicate detection
   * is a count window over the key
   * partition — ONE corpus shuffle, no sort beyond the window's own,
   * no second pass. The r15 bench DECIDED this shape against the
   * alternative the skew concern suggested (map-side-partial groupBy
   * count + join back, the dedupSegments shape): that formulation pays
   * a second corpus-scale shuffle for the probe side whenever the
   * dup-key set outgrows the broadcast threshold — measured on the
   * long-doc corpora it was 1.8→3.0 s at 1× and, when the 2.7 MB 1×
   * dup-key set grew to ~27 MB at x10 and the broadcast flipped to a
   * sort-merge join, 5.9→20.8 s at x10 — a plan change across the
   * decade that also destroys the linearity evidence. The funnel risk
   * that motivated the alternative is MEASURED as bounded: on a
   * periodic-fill corpus whose every hot window key carries ~600k
   * copies (8 keys, 30% of the corpus) the window shape runs 2.7 s vs
   * the agg+join's 4.6 s — the count-only frame streams each hot
   * partition with constant aggregate state (WindowExec spills the
   * buffered rows, it does not OOM), so a 1e8-copy boilerplate key at
   * the design point is a bounded reducer tail on 0.001% of keys,
   * where the agg+join doubles shuffle volume on 100% of them. The
   * `skew_longdoc_dedup_substrings` bench row keeps this claim
   * measured every round; when a real corpus pushes the tail out of
   * band, `hotKeyThreshold` > 0 salt-counts ONLY the detected-hot keys
   * (heavy-hitter pre-pass), keeping the single full-volume shuffle:
   * one extra map-side-partial agg over the window explode finds keys
   * whose count exceeds the threshold (hot keys COMBINE map-side, so
   * the pre-pass shuffle carries ~one row per distinct key per map
   * task and its reducer sees ≤ #map-tasks partials, never the copies
   * themselves); the by-construction-tiny hot set broadcast-joins back
   * and hot rows salt by md5(docId|pos) into ≤threshold-sized
   * sub-partitions of the count window. No cross-salt recombination is
   * needed — the dup predicate is count > 1, and every row of a
   * detected-hot key satisfies it a priori (total > threshold ≥ 1), so
   * the detected set is IDENTICAL to the unsalted shape's (the
   * `dedup_substrings_salted` oracle row replays unsalted detection in
   * SQL against the salted output to pin exactly that). Default 0 =
   * disabled: the pre-pass costs one extra pass over the heaviest
   * explode, the wrong default for corpora whose hot tail is bounded.
   * Surviving positions MERGE into disjoint intervals before they ever
   * become an array — a gaps-and-islands pass over the (docId, pos)
   * window (a duplicated m-token run is m−k+1 overlapping windows that
   * collapse to ONE interval, without which the per-token coverage test
   * was O(tokens × windows) interpreted per doc). One groupBy(doc)
   * gathers the few merged intervals; the final left join re-attaches
   * them to the corpus; the per-token coverage test is a higher-order
   * `exists` over the doc's OWN merged intervals — no self-join, no
   * quadratic stage.
   */
  def dedupSubstrings(df: DataFrame, idCol: Column, textCol: Column,
                      k: Int = 50, hotKeyThreshold: Long = 0L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(idCol.as("docId"), textCol.as("text"),
      split(textCol, " ").as("toks"))
    // windows only exist for docs with >= k tokens (the shingle kernel's
    // whole-text fallback for short docs must NOT become a window here —
    // a duplicated short doc is not a duplicated k-token span)
    val wins = base
      .select(col("docId"),
        posexplode(when(size(col("toks")) >= k, shingles(col("text"), k))
          .otherwise(array().cast("array<string>"))).as(Seq("pos", "win")))
      .select(col("docId"), col("pos"),
        // two-seed xxhash64 = the 128-bit internal key (see class doc):
        // native codegen straight over the zero-copy window slice bytes,
        // no digest-to-hex-to-long round trip
        xxhash64(col("win")).as("h1"),
        xxhash64(lit(0x9E3779B97F4A7C15L), col("win")).as("h2"))
    // Heavy-hitter salting (see the class doc): detected-hot keys split
    // the count window into salt sub-partitions; their rows pass the dup
    // predicate a priori, so no cross-salt total is ever reassembled.
    // The salt hash (xxhash64 since r20) sits inside the hot branch —
    // codegen evaluates it only for members of the tiny detected-hot set.
    val salted =
      if (hotKeyThreshold <= 0L)
        wins.withColumn("isHot", lit(false)).withColumn("salt", lit(0L))
      else {
        val hot = wins.groupBy("h1", "h2").agg(count(lit(1)).as("cnt"))
          .filter(col("cnt") > hotKeyThreshold)
          .select(col("h1"), col("h2"),
            ceil(col("cnt") / hotKeyThreshold.toDouble).cast("long").as("nsalts"))
        // xxhash64(docId, pos) (r20): the salt only spreads a detected-hot
        // key's rows across sub-partitions — every such row passes the dup
        // predicate a priori (isHot), so the salt value never reaches the
        // output and needs neither engine portability nor md5 (the r15
        // md5|concat_ws|conv chain cost a digest per hot row — ~48M rows
        // on the massdup bench corpus)
        val saltHash = xxhash64(col("docId"), col("pos"))
        // no forced broadcast (r16 review, the verifyCandidates lesson):
        // the hot set is data-dependent — a low threshold on a duplicate-
        // heavy corpus makes EVERY duplicated key hot, and a forced
        // broadcast hits the 8 GB cliff exactly where the salt matters.
        // AQE broadcasts it when it is in fact small.
        wins.join(hot, Seq("h1", "h2"), "left")
          .withColumn("isHot", col("nsalts").isNotNull)
          .withColumn("salt",
            when(col("isHot"), pmod(saltHash, col("nsalts"))).otherwise(lit(0L)))
          .drop("nsalts")
      }
    // two k-windows at positions p <= q cover a contiguous region iff
    // q - p <= k; a greater gap starts a new island
    val byDoc = Window.partitionBy("docId").orderBy("pos")
    // threshold 0 keeps the r15 plan literally (no constant salt column
    // in the shuffle key, and the constant-false isHot folds away)
    val countWin =
      if (hotKeyThreshold <= 0L) Window.partitionBy("h1", "h2")
      else Window.partitionBy("h1", "h2", "salt")
    val spans = salted
      .withColumn("dupC", count(lit(1)).over(countWin))
      .filter(col("isHot") || col("dupC") > 1)
      .withColumn("newIsland",
        when(col("pos") - coalesce(lag(col("pos"), 1).over(byDoc),
          lit(-(k + 1))) > k, 1).otherwise(0))
      .withColumn("island", sum(col("newIsland")).over(byDoc))
      .groupBy("docId", "island")
      .agg(min(col("pos")).as("s"), (max(col("pos")) + k).as("e"))
      .groupBy("docId")
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    base.join(spans, Seq("docId"), "left")
      .withColumn("spans", coalesce(col("spans"),
        array().cast("array<struct<s:int,e:int>>")))
      .withColumn("kept", filter(col("toks"), (t, i) =>
        !exists(col("spans"), sp => i >= sp("s") && i < sp("e"))))
      .select(col("docId"),
        size(col("toks")).as("nTokens"),
        (size(col("toks")) - size(col("kept"))).as("nRemoved"),
        array_join(col("kept"), " ").as("text"))
  }

  /**
   * Cross-snapshot paragraph dedup via Bloom filter — the Dolma recipe
   * (Soldaini et al. 2024, "Dolma: an Open Corpus of Three Trillion
   * Tokens...", arXiv:2402.00159 §4: paragraph-level dedup against a
   * Bloom filter of everything already ingested). [[dedupSegments]]
   * handles WITHIN-corpus first-occurrence dedup; this plane removes
   * paragraphs of a NEW snapshot that already exist in a PRIOR corpus
   * too large to broadcast as a hash set: the prior's distinct segments
   * fold into one Spark-native Bloom filter (config-bounded bytes at the
   * chosen fpp), and the new snapshot probes it map-side — no join on
   * either corpus.
   *
   * Dolma's single streaming filter catches BOTH duplicate classes —
   * paragraphs seen in history AND repeats within the new batch (each
   * processed paragraph is added to the filter). The deterministic
   * distributed equivalent here: one explode, the prior-bloom probe
   * map-side, then [[dedupSegments]]'s first-occurrence keeper
   * (min(docId, idx) per segment) over the fresh survivors — order-
   * independent where the streaming formulation depends on scan order.
   *
   * Bloom semantics are the safe direction for dedup-against-history:
   * no false negatives (every truly seen paragraph IS removed), rare
   * false positives over-remove at the configured fpp (they cost fresh
   * paragraphs, never re-admit duplicates). Returns one row per NEW doc
   * with at least one surviving segment — (docId, nSegments, nDropped,
   * text) with survivors re-joined in position order; fully-deduplicated
   * docs drop from the output (Dolma removes emptied documents).
   *
   * Scale shape: ONE aggregation over the prior corpus (the filter bytes
   * — driver metadata of configuration-bounded size, embedded as a
   * literal exactly like Spark's own injected runtime filters), then a
   * map-side probe, the keeper min-agg + segment join of dedupSegments
   * (map-side-partial, AQE-splittable — the documented skew-safe shape)
   * and one groupBy(docId) reassembly shuffle on the new snapshot. The
   * 100 TB deployment keeps the prior's filter as a persisted artifact
   * and unions per-epoch filters instead of re-scanning history.
   */
  def dedupSegmentsBloom(df: DataFrame, idCol: Column, segments: Column,
                         prior: DataFrame, priorSegments: Column,
                         expectedItems: Long = 1000000L,
                         fpp: Double = 0.000001,
                         joiner: String = " "): DataFrame = {
    import org.apache.spark.sql.GraftColumnShim.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val numBits = math.ceil(
      -expectedItems * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val bloomAgg = column(new BloomFilterAggregate(
      expression(xxhash64(col("seg"))),
      expression(lit(expectedItems)),
      expression(lit(numBits))).toAggregateExpression())
    val bfBytes = prior
      .select(explode(priorSegments).as("seg"))
      .agg(bloomAgg.as("bf"))
      .collect()(0).getAs[Array[Byte]]("bf")
    val seen: Column =
      if (bfBytes == null) lit(false)              // empty prior: keep all
      else column(BloomFilterMightContain(
        expression(lit(bfBytes)), expression(xxhash64(col("seg")))))
    val fresh = df
      .select(idCol.as("docId"), size(segments).as("nSegments"),
        posexplode(segments).as(Seq("idx", "seg")))
      .filter(!seen)
    val keepers = fresh.groupBy(col("seg"))
      .agg(min(struct(col("docId"), col("idx"))).as("keeper"))
    fresh.join(keepers, "seg")
      .filter(struct(col("docId"), col("idx")) === col("keeper"))
      .groupBy(col("docId"))
      .agg(first(col("nSegments")).as("nSegments"),
        (first(col("nSegments")) - count(lit(1))).as("nDropped"),
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("seg")))),
          s => s("seg")), joiner).as("text"))
  }

  /** Fixed-size word windows: the segmentation for corpora without
    * paragraph structure — ceil(len/n) chunks of n words (last one short).
    * Native codegen'd generator; see [[shingles]]. */
  def wordWindows(textCol: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnShim.column(graft.functions.WordWindows(
      org.apache.spark.sql.GraftColumnShim.expression(textCol), n))
}
