package graft.operators

import graft.CacheLifecycle.FreshPersist
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.DqFunctions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Exact dedup is a hash-groupBy; near-dup detection offers three
  * families with different scale/recall trade-offs:
  *
  *  - n-gram Jaccard via an inverted shingle index (exact, no cross
  *    join — pairs sharing zero shingles can never reach a positive
  *    threshold, so the shingle-join enumerates a superset of all
  *    qualifying pairs);
  *  - MinHash + LSH banding (approximate, the 100 TB path: cost is
  *    O(docs × signature) + bucket-local pair generation, never
  *    all-pairs);
  *  - SimHash with banded Hamming verification (approximate, cheapest:
  *    signature computation is embarrassingly parallel and candidate
  *    generation joins on 16-bit chunks).
  *
  * Embedding-cosine near-dup lives here too (brute + hyperplane-LSH).
  * All hashing is xxhash64-based and fully deterministic.
  */
object Dedup {

  // ---------------------------------------------------------------
  // Exact
  // ---------------------------------------------------------------

  /** Duplicate groups by exact key: one representative (min id) per
    * group with its multiplicity. A hash-groupBy — shuffles only
    * (hash, id), never the payload.
    */
  def exactDuplicateGroups(df: DataFrame, idCol: String, keyCol: Column): DataFrame =
    df.select(md5(keyCol.cast("binary")).as("content_hash"), col(idCol))
      .groupBy("content_hash")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Keep exactly one row per exact-duplicate group (the min-id one). */
  def dropExactDuplicates(df: DataFrame, idCol: String, keyCol: Column): DataFrame = {
    val keep = exactDuplicateGroups(df, idCol, keyCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  // ---------------------------------------------------------------
  // n-gram Jaccard (exact pairs, inverted-index candidate generation)
  // ---------------------------------------------------------------

  /** All pairs with character-n-gram Jaccard ≥ threshold.
    *
    * Inverted index: explode distinct shingles, self-join on shingle,
    * count per pair = |A ∩ B|; set sizes joined back give
    * |A ∪ B| = |A| + |B| − |A ∩ B|. Exact for threshold > 0 (over
    * the surviving shingle universe when a DF cap is set).
    *
    * Scale control: hot shingles blow up the self-join quadratically
    * (Σ df² join rows). `maxDfFraction = Some(f)` drops shingles
    * present in more than f·N documents BEFORE the join — the
    * standard stop-shingle filter: a shingle shared by much of the
    * corpus carries no pair-discriminating signal, and removing it
    * bounds the quadratic term at (f·N)² per shingle. Jaccard is then
    * computed consistently over the filtered universe (sizes count
    * surviving shingles only). At 100 TB prefer [[lshCandidatePairs]]
    * (MinHash); the capped exact path is its verifier.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxDfFraction: Option[Double] = None): DataFrame = {
    val (pairs, caches) =
      ngramJaccardPairsWithCaches(df, idCol, textCol, n, threshold, maxDfFraction)
    // the plain entry point owns the intermediates: release them once
    // the pair plan has executed, instead of leaking to session end
    graft.CacheLifecycle.releaseAfterFirstUse(caches)
    pairs
  }

  /** As [[ngramJaccardPairs]], but also returns the persisted
    * intermediates (posting list, filtered posting list, prefix
    * table) so long-lived sessions can `unpersist()` them once the
    * pair plan has executed — the same contract as
    * [[lshCandidatePairsWithSignatures]].
    */
  def ngramJaccardPairsWithCaches(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxDfFraction: Option[Double] = None): (DataFrame, Seq[DataFrame]) = {
    import org.apache.spark.sql.expressions.Window
    // Shingles ride as 64-bit hashes from the very first pass: the
    // native expression hashes each n-char window's UTF-8 byte slice
    // in place (bit-equal to xxhash64-of-substring — same bytes, same
    // seed — without materializing any shingle string or string hash
    // set), verification then merges sorted long arrays, and every
    // shuffle ships 8-byte keys instead of strings. Exact up to
    // 64-bit collisions (~n²·2⁻⁶⁴ — none observable; the string-based
    // DuckDB oracle would catch one as a hash mismatch).
    // The raw posting list feeds BOTH the DF aggregate and the join
    // back onto it; persisting the (id, 8-byte hash) pairs runs the
    // shingle scan once instead of twice.
    val exAll = graft.ParallelSpread.forCpu(df, col(idCol))
      .select(col(idCol).as("id"),
        explode(graft.functions.NgramHashExpression
          .distinctNgramHashes(col(textCol), n)).as("g"))
      .persistFresh()
    val dfq = exAll.groupBy("g").agg(count(lit(1)).as("_df"))
    // The filtered posting list feeds prefix ranking AND the
    // verification sets; persist it (id, g, df — 8-byte columns)
    // rather than re-running the shingle explode + DF join per
    // consumer. A warehouse-scale run materializes it as a table
    // (same role as the minhash signature table).
    val exf = (maxDfFraction match {
      case None => exAll.join(dfq, "g")
      case Some(frac) =>
        // 1-row corpus count broadcast onto the DF table; shingles
        // above the cap never reach candidate generation OR the
        // jaccard universe.
        val total = df.agg(count(lit(1)).cast("double").as("_n"))
        exAll.join(dfq, "g").crossJoin(total)
          .filter(col("_df") <= col("_n") * frac).drop("_n")
    }).persistFresh()
    // Prefix filtering (SSJoin/PPJoin family): under a global shingle
    // order, a pair with J(A,B) ≥ t must share an element within the
    // first floor((1−t)·|A|)+1 elements of EACH side — otherwise the
    // overlap is confined to ≤ |A| − p < t·|A| ≤ t·|A∪B| elements.
    // Ordering by ascending document frequency puts the rarest
    // shingles in the prefix, so the candidate join touches the
    // low-df tail instead of every posting (13× fewer join rows than
    // the full inverted-index join on the test corpus, with the
    // candidate set verified exactly afterwards). The +1e-6 guards
    // the float product against landing one ulp below an integer —
    // it can only lengthen the prefix (more candidates, still exact).
    val wRank = Window.partitionBy(col("id")).orderBy(col("_df").asc, col("g").asc)
    val pref = exf.select(col("id"), col("g"),
        row_number().over(wRank).as("_rn"),
        count(lit(1)).over(Window.partitionBy(col("id"))).as("_sz"))
      .filter(col("_rn") <=
        floor(lit(1.0 - threshold) * col("_sz") + lit(1e-6)) + 1)
      .persistFresh() // both sides of the candidate self-join
    // PPJoin-style pruning inside the candidate join, before the
    // distinct and the verification joins ever see a pair:
    //  - length filter: J ≥ t needs min(|A|,|B|) ≥ t·max(|A|,|B|)
    //    (|A∩B| ≤ min, |A∪B| ≥ max).
    //  - positional filter: J ≥ t ⟺ overlap ≥ t/(1+t)·(|A|+|B|) =: α.
    //    For the FIRST common shingle (global ascending-df order) at
    //    ranks (i, j) there are no earlier common shingles, so
    //    overlap ≤ 1 + min(|A|−i, |B|−j); a qualifying pair's first
    //    common shingle sits inside both prefixes (else all common
    //    shingles would fit in the post-prefix tail, < α of them) and
    //    passes this bound, so keeping a pair when ANY join row passes
    //    never drops a true pair — it only prunes rows whose matching
    //    shingle sits too deep on either side. The −1e-6 slack on both
    //    bounds mirrors the prefix-length guard: float error may only
    //    ADMIT a candidate (verified exactly below), never reject one.
    val ppLength =
      least(col("a._sz"), col("b._sz")).cast("double") >=
        lit(threshold) * greatest(col("a._sz"), col("b._sz")).cast("double") - lit(1e-6)
    val ppPositional =
      (lit(1L) + least(col("a._sz") - col("a._rn"), col("b._sz") - col("b._rn"))).cast("double") >=
        lit(threshold / (1.0 + threshold)) * (col("a._sz") + col("b._sz")).cast("double") - lit(1e-6)
    val cand = pref.as("a")
      .join(pref.as("b"), col("a.g") === col("b.g") && col("a.id") < col("b.id")
        && ppLength && ppPositional)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // Exact verification: per-doc surviving shingle sets are tiny
    // (bounded by text length), so candidates join them back and a
    // native two-pointer merge over the sorted hash arrays gives
    // |A ∩ B| without the giant join-then-group-by-pair aggregation.
    val sets = exf.groupBy("id")
      .agg(sort_array(collect_list(col("g"))).as("_fs"), count(lit(1)).as("_sz"))
    val pairs = cand
      .join(sets.select(col("id").as("id_a"), col("_fs").as("_fa"), col("_sz").as("_sza")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("_fs").as("_fb"), col("_sz").as("_szb")), "id_b")
      .withColumn("_inter",
        graft.functions.SetExpressions.sortedIntersectCount(col("_fa"), col("_fb")))
      .withColumn("jaccard",
        col("_inter").cast("double") /
          (col("_sza") + col("_szb") - col("_inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
    (pairs, Seq(exAll, exf, pref))
  }

  /** Asymmetric near-dup detection: shingle-set CONTAINMENT
    * c(A→B) = |A∩B| / |A|, the signal Jaccard structurally misses —
    * a short document pasted inside a much longer one has
    * c(short→long) ≈ 1 while J = |short|/|long| ≈ 0, so quote-wrapped
    * copies, boilerplate-padded rehosts, and excerpt pages survive a
    * Jaccard dedup and leak duplicated text into training. Emits
    * unordered pairs where EITHER direction's containment ≥
    * `threshold`, with both directions reported.
    *
    * Same machinery and scale discipline as [[ngramJaccardPairs]]
    * (shared 8-byte shingle hashing, DF stop-shingle cap, sorted-
    * intersect exact verify). The prefix filter adapts: for a pair
    * with max-containment ≥ t the SMALLER side must share a shingle
    * within its first ⌊(1−t)·|S|⌋+1 rarest (otherwise all common
    * shingles sit in its tail, < t·|S| ≤ |A∩B| of them — contradiction);
    * the larger side admits no useful prefix bound (it may contain S
    * anywhere), so each document's prefix joins the FULL filtered
    * posting list. That asymmetric join is the price of asymmetric
    * similarity — still DF-capped, never all-pairs.
    *
    * A positional filter prunes the probe further: shingles are ranked
    * per document by the GLOBAL (df, g) order, so the common shingle
    * of minimal rank is the same shingle on both sides, every other
    * common shingle ranks after it on BOTH sides, and therefore
    * |A∩B| ≤ min(szₐ−rnₐ, sz_b−rn_b)+1 holds at that row. Rows
    * violating min(szₐ−rnₐ, sz_b−rn_b)+1 ≥ t·min(szₐ,sz_b) are
    * dropped before the pair-distinct: a qualifying pair always keeps
    * its first-common-shingle row (which is in the smaller side's
    * prefix — prefix = lowest ranks), so recall is exact while the
    * candidate volume drops by the ambient-overlap mass.
    */
  def ngramContainmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxDfFraction: Option[Double] = None): DataFrame =
    containmentPairsFromShingled(
      df.select(col(idCol).as("id"),
        graft.functions.NgramHashExpression
          .distinctNgramHashes(col(textCol), n).as("_sh")),
      threshold, maxDfFraction)

  /** Distinct word n-gram shingle hashes (Broder-style w-shingling):
    * whitespace tokens, n-word sliding windows, each window hashed to
    * 8 bytes. Composed entirely from codegen'd built-ins — no UDF.
    *
    * Word shingles, not characters, are the published shingling unit
    * (Broder 1997 used 10-word shingles) because the shingle universe
    * is combinatorial in the VOCABULARY, not the alphabet: on a
    * small-vocabulary corpus every character n-gram recurs across
    * unrelated documents (measured: the test corpus's 30-word
    * vocabulary gives char-5-gram ambient overlap high enough that
    * ~all of the 12.5M doc pairs at sf0.1 share a prefix shingle),
    * while a 4-word shingle draws from ~vocab⁴ values and unrelated
    * documents share essentially none.
    */
  /** Word n-gram shingle hashes over a PRE-MATERIALIZED token array
    * column. The token array must be its own projection stage before
    * this expression: a lambda body re-evaluates outer NON-ATTRIBUTE
    * subtrees per element (higher-order functions sit outside
    * whole-stage codegen's subexpression elimination), so inlining
    * `split` here would re-tokenize the document once per shingle —
    * measured 3.5 s vs ~0.3 s on the sf0.1 corpus. Same staging
    * discipline as [[minhashSignatures]].
    */
  def wordShingleHashesFromTokens(tokens: Column, n: Int): Column = {
    val cnt = size(tokens) - (n - 1)
    when(cnt <= 0, array().cast("array<bigint>"))
      .otherwise(array_distinct(transform(sequence(lit(1), cnt), i =>
        xxhash64(concat_ws(" ", slice(tokens, i, lit(n)))))))
  }

  /** Whitespace tokens of `text` (empty tokens dropped), the staging
    * projection for [[wordShingleHashesFromTokens]]. */
  def whitespaceTokens(text: Column): Column =
    filter(split(text, " "), w => length(w) > 0)

  /** [[ngramContainmentPairs]] over word shingles (Broder-style
    * w-shingling) — the corpus-scale containment path (q122). Same
    * prefix + positional + exact-verify machinery; only the shingling
    * unit differs.
    *
    * Word shingles, not characters, are the published shingling unit
    * (Broder 1997 used 10-word shingles) because the shingle universe
    * is combinatorial in the VOCABULARY, not the alphabet: on a
    * small-vocabulary corpus every character n-gram recurs across
    * unrelated documents (measured: ~all of the 12.5M doc pairs at
    * sf0.1 shared a prefix shingle at char n∈{3,5,8}), while a 4-word
    * shingle draws from ~vocab⁴ values and unrelated documents share
    * essentially none (39k of 12.5M pairs).
    */
  def wordShingleContainmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxDfFraction: Option[Double] = None): DataFrame =
    containmentPairsFromShingled(
      graft.ParallelSpread.forCpu(df, col(idCol))
        .select(col(idCol).as("id"), whitespaceTokens(col(textCol)).as("_ws"))
        .select(col("id"), wordShingleHashesFromTokens(col("_ws"), n).as("_sh")),
      threshold, maxDfFraction)

  /** Shared containment core over (id, _sh ARRAY<LONG>) rows.
    *
    * `shingled` is persisted BEFORE the explode, not after: Spark's
    * InferFiltersFromGenerate + predicate pushdown rewrite
    * `explode(expr)` into a `size(expr) > 0 AND isnotnull(expr)`
    * filter BELOW the projection stages with `expr` fully inlined —
    * for a lambda-built shingle expression that re-evaluates the
    * whole tokenize+hash tree several times per row (measured 4.3 s
    * vs 0.7 s at sf0.1). The cache boundary stops the pushdown, so
    * the inferred filter runs on the cached array attribute instead.
    * One doc-count-sized cache replaces the posting-table-sized
    * exAll cache — strictly smaller, and each consumer re-explodes
    * from memory.
    */
  private def containmentPairsFromShingled(
      shingled: DataFrame,
      threshold: Double,
      maxDfFraction: Option[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    val sh = shingled.persistFresh()
    val exAll = sh.select(col("id"), explode(col("_sh")).as("g"))
    val dfq = exAll.groupBy("g").agg(count(lit(1)).as("_df"))
    val exf = maxDfFraction match {
      case None => exAll.join(dfq, "g")
      case Some(frac) =>
        val total = sh.agg(count(lit(1)).cast("double").as("_n"))
        exAll.join(dfq, "g").crossJoin(total)
          .filter(col("_df") <= col("_n") * frac).drop("_n")
    }
    // One ranked posting table serves the prefix side, the full probe
    // side, AND the verify sets — persisting it (not the unranked exf)
    // means the rank window runs once per invocation.
    val wRank = Window.partitionBy(col("id")).orderBy(col("_df").asc, col("g").asc)
    val ranked = exf.select(col("id"), col("g"),
        row_number().over(wRank).as("_rn"),
        count(lit(1)).over(Window.partitionBy(col("id"))).as("_sz"))
      .persistFresh()
    val pref = ranked.filter(col("_rn") <=
      floor(lit(1.0 - threshold) * col("_sz") + lit(1e-6)) + 1)
    // prefix side ⋈ full posting side: qualifying pairs are caught via
    // the smaller side's prefix regardless of which side that is,
    // because EVERY document's prefix probes the full posting list.
    // The positional bound (Scaladoc) is applied per probe row.
    val positional =
      (lit(1L) + least(col("a._sz") - col("a._rn"), col("b._sz") - col("b._rn"))).cast("double") >=
        lit(threshold) * least(col("a._sz"), col("b._sz")).cast("double") - lit(1e-6)
    val cand = pref.as("a")
      .join(ranked.as("b"),
        col("a.g") === col("b.g") && col("a.id") =!= col("b.id") && positional)
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
    val sets = ranked.groupBy("id")
      .agg(sort_array(collect_list(col("g"))).as("_fs"), count(lit(1)).as("_sz"))
    val pairs = cand
      .join(sets.select(col("id").as("id_a"), col("_fs").as("_fa"), col("_sz").as("_sza")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("_fs").as("_fb"), col("_sz").as("_szb")), "id_b")
      .withColumn("_inter",
        graft.functions.SetExpressions.sortedIntersectCount(col("_fa"), col("_fb")))
      .withColumn("containment_a_in_b",
        col("_inter").cast("double") / col("_sza").cast("double"))
      .withColumn("containment_b_in_a",
        col("_inter").cast("double") / col("_szb").cast("double"))
      .filter(greatest(col("containment_a_in_b"), col("containment_b_in_a"))
        >= threshold)
      .select("id_a", "id_b", "containment_a_in_b", "containment_b_in_a")
    graft.CacheLifecycle.releaseAfterFirstUse(Seq(sh, ranked))
    pairs
  }

  // ---------------------------------------------------------------
  // MinHash + LSH
  // ---------------------------------------------------------------

  /** Per-doc MinHash signature over character n-gram shingles:
    * (id, sig ARRAY<LONG> of length numHashes). Embarrassingly
    * parallel — no shuffle.
    *
    * Staged as three projections (shingles → base hashes → minima) so
    * each stage's alias is computed once per row; a single nested
    * expression would duplicate the shingle/rehash subtree numHashes
    * times in the plan (Catalyst only inlines cheap aliases, so the
    * stage boundaries survive optimization) — measured 60× slower.
    */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, words: Boolean = false): DataFrame = {
    val sh =
      if (words) graft.functions.DqFunctions.wordShingles(col(textCol), n)
      else charShingles(col(textCol), n)
    // unsplittable-input spread before the CPU-dense shingle/minhash
    // projections (guide §2.5; no-op on parallel or post-shuffle input)
    graft.ParallelSpread.forCpu(df, col(idCol))
      .select(col(idCol).as("id"), sh.as("_sh"))
      .select(col("id"), minhashBaseHashes(col("_sh")).as("_mh"))
      .select(col("id"),
        graft.functions.MinhashExpression
          .minhashFromBaseNative(col("_mh"), numHashes).as("sig"))
  }

  /** Engine-portable signatures: md5-based base hashes through the
    * same native one-pass k-min — a DuckDB oracle can compute the
    * identical signature, making the whole LSH pipeline
    * hash-checkable. The base hashes come from the native
    * [[graft.functions.NgramMd5Hashes]] (digest-byte prefix per
    * window, no hex-string render/parse, no shingle strings); minhash
    * minima are multiplicity-invariant, so the window multiset needs
    * no dedup pass. Spec-pinned equal to the compositional
    * charShingles → md5 → conv pipeline.
    */
  def minhashSignaturesPortable(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, words: Boolean = false): DataFrame = {
    val base =
      if (words) graft.functions.Md5Expressions.wordNgramMd5Hashes(
        col(textCol), n, hexDigits = 8, mod = MinhashPrime)
      else graft.functions.Md5Expressions.ngramMd5Hashes(
        col(textCol), n, hexDigits = 8, mod = MinhashPrime)
    graft.ParallelSpread.forCpu(df, col(idCol))
      .select(col(idCol).as("id"),
        graft.functions.MinhashExpression.minhashFromBaseNative(
          base, numHashes).as("sig"))
  }

  /** LSH banding: candidate pairs agreeing on at least one of `bands`
    * bands of `numHashes / bands` rows each, with the estimated
    * Jaccard (signature agreement fraction) attached.
    *
    * Candidate generation shuffles only (band hash → id), then pairs
    * are formed within buckets — the all-pairs comparison is never
    * materialized. With b bands of r rows, a pair of true Jaccard s
    * collides w.p. 1 − (1 − s^r)^b (the standard S-curve).
    */
  def lshCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      portable: Boolean = false): DataFrame = {
    val (pairs, sigs) =
      lshCandidatePairsWithSignatures(df, idCol, textCol, n, numHashes, bands, portable)
    graft.CacheLifecycle.releaseAfterFirstUse(Seq(sigs))
    pairs
  }

  /** As [[lshCandidatePairs]], but also returns the persisted
    * signature table so long-lived sessions can `unpersist()` it once
    * the pair plan has executed (the plain entry point leaves the
    * cache entry to session end).
    *
    * The signature table feeds the band explode AND both sides of the
    * scoring join; without persistence Catalyst recomputes the
    * (shingle+hash heavy) signatures three times. It is tiny —
    * numDocs × numHashes longs. A warehouse-scale run materializes
    * signatures as a table instead and calls
    * [[lshCandidatePairsFromSignatures]] directly.
    */
  def lshCandidatePairsWithSignatures(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      portable: Boolean = false, words: Boolean = false): (DataFrame, DataFrame) = {
    val sigs =
      (if (portable) minhashSignaturesPortable(df, idCol, textCol, n, numHashes, words)
       else minhashSignatures(df, idCol, textCol, n, numHashes, words)).persistFresh()
    (lshCandidatePairsFromSignatures(sigs, numHashes, bands, portable), sigs)
  }

  /** (id, band, bucket) rows for a signature table. Bucket id per
    * band: xxhash64 of the signature slice (cheap, in-engine), or —
    * portable mode — the 60-bit md5 prefix of the comma-joined slice,
    * which a DuckDB oracle states as
    * `('0x' || substr(md5(array_to_string(sg[...], ',')), 1, 15))::UBIGINT`.
    * Both bucket on slice equality (identical digests either engine),
    * and an 8-byte bucket key ships through the band join instead of
    * a 32-char hex string — the bucket value never reaches output, so
    * only key-equality, not representation, has to match the oracle.
    */
  private def bandedOf(
      sigs: DataFrame, numHashes: Int, bands: Int,
      portableBuckets: Boolean): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    def bucketOf(s: Column): Column =
      if (portableBuckets)
        graft.functions.Md5Expressions.md5PrefixLong(
          array_join(transform(s, x => x.cast("string")), ","), 15)
      else xxhash64(s)
    sigs.select(
      col("id"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          bucketOf(slice(col("sig"), b * rows + 1, rows)).as("bucket"))
      }: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
  }

  /** The pairs-first block every LSH family shares: join two bucket
    * tables on their bucket-key columns, deduplicate the colliding id
    * pairs BEFORE anything wide rides along, then join each side's
    * per-id feature table back exactly once for a single scoring pass.
    *
    * Bucket rows must be `(id, keyCols…)`; feature tables must be
    * keyed by `id` (their other columns come back suffixed `_a`/`_b`,
    * alongside `id_a`/`id_b`). A bucket join can emit a pair once per
    * colliding bucket, and shipping signatures/vectors through that
    * blow-up dominates cost — hence pairs-first. `ordered = true`
    * (self-join) emits each unordered pair once via id_a < id_b;
    * asymmetric joins (new × corpus) pass false.
    */
  private[graft] def collisionPairsWithFeatures(
      bucketsA0: DataFrame, bucketsB0: DataFrame, keyCols: Seq[String],
      ordered: Boolean, featsA: DataFrame, featsB: DataFrame,
      minCollisions: Int = 1, nSalts: Int = 16, hotBucketMin: Long = 8192,
      maxHotBuckets: Int = 4096): DataFrame = {
    // The bucket tables are consumed three times below (hot-bucket
    // detection + both sides of the collision join), and computing
    // them re-runs the caller's signature/projection arithmetic per
    // consumer (measured 4× the bucket cost on q14b, whose 48
    // hyperplane dot products per row dominated the query). They are
    // narrow (id + band/bucket keys, 8-byte columns), so persist and
    // auto-release once the returned plan has executed.
    val bucketsA = bucketsA0.persistFresh()
    val bucketsB = if (bucketsB0 eq bucketsA0) bucketsA else bucketsB0.persistFresh()
    graft.CacheLifecycle.releaseAfterFirstUse(
      if (bucketsB eq bucketsA) Seq(bucketsA) else Seq(bucketsA, bucketsB))
    // Within-bucket pair enumeration is the one genuinely skewed step
    // of every LSH family: a hot bucket of k members must emit C(k,2)
    // rows, and an unsalted bucket-key join emits them all in ONE
    // task (observed on the test corpus: a 1766-member band bucket →
    // 1.5M rows, single-threaded). Same discipline as Skew.saltedJoin
    // — B side salts on its own id, A side replicates, salt joins as
    // an extra key — but applied ADAPTIVELY: replicating the entire A
    // side nSalts× costs more than the hot bucket saves (measured
    // +60% on the test corpus), so only rows in buckets above
    // `hotBucketMin` members are salted. The hot list is the heaviest
    // `maxHotBuckets` buckets — a bounded, broadcastable set, ordered
    // so the worst offenders are always covered. Output is identical
    // either way: a pair joins under exactly one salt value.
    // The hot set is evaluated independently by the A-side and B-side
    // joins below; a nondeterministic top-K (ties at the limit
    // boundary) could make the sides DISAGREE on hotness if the
    // exchange isn't reused, silently dropping pairs. The full-key
    // tiebreak makes the ordering total, so both evaluations select
    // the identical set under any plan.
    val hot = broadcast(
      bucketsB.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("_n"))
        .filter(col("_n") >= hotBucketMin)
        .orderBy(col("_n").desc +: keyCols.map(k => col(k).asc): _*)
        .limit(maxHotBuckets)
        .select(keyCols.map(col) :+ lit(true).as("_hot"): _*))
    val saltVals = array((0 until nSalts).map(i => lit(i.toLong)): _*)
    val a = bucketsA.join(hot, keyCols, "left").withColumn("_salt",
        explode(when(col("_hot"), saltVals).otherwise(array(lit(0L)))))
      .drop("_hot")
    val b = bucketsB.join(hot, keyCols, "left").withColumn("_salt",
        when(col("_hot"), pmod(xxhash64(col("id")), lit(nSalts.toLong)))
          .otherwise(lit(0L)))
      .drop("_hot")
    val keyEq = (keyCols :+ "_salt").map(k => col("a." + k) === col("b." + k)).reduce(_ && _)
    val cond = if (ordered) keyEq && col("a.id") < col("b.id") else keyEq
    val collisions = a.as("a").join(b.as("b"), cond)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // A pair collides at most once per band/table (bucket rows are
    // unique per (id, band)), so the per-pair row count IS the number
    // of agreeing bands — countable in the same shuffle the distinct
    // would cost. minCollisions > 1 prunes pairs that provably cannot
    // reach the caller's similarity threshold (see minAgreeingBands)
    // BEFORE any feature joins back.
    val pairs =
      if (minCollisions > 1)
        collisions.groupBy("id_a", "id_b").agg(count(lit(1)).as("_nb"))
          .filter(col("_nb") >= minCollisions).drop("_nb")
      else collisions.distinct()
    def suffixed(f: DataFrame, idAs: String, sfx: String): DataFrame =
      f.select((col("id").as(idAs) +: f.columns.filterNot(_ == "id")
        .map(c => col(c).as(c + sfx)).toIndexedSeq): _*)
    pairs.join(suffixed(featsA, "id_a", "_a"), "id_a")
      .join(suffixed(featsB, "id_b", "_b"), "id_b")
  }

  /** Probe-only view of the banded rows (tools.Probe). */
  private[graft] def bandedDebug(sigs: DataFrame, numHashes: Int, bands: Int,
      portable: Boolean): DataFrame = bandedOf(sigs, numHashes, bands, portable)

  /** Pigeonhole-sound band-count floor for pairs with signature
    * agreement ≥ t: such a pair disagrees on at most
    * H − ⌈t·H⌉ of its H components, and each disagreeing component
    * breaks at most one band — so at least bands − (H − ⌈t·H⌉) bands
    * agree EXACTLY. Every qualifying CANDIDATE survives the floor (no
    * false negatives vs [[lshCandidatePairs]]): when the pigeonhole
    * bound drops to 0 — a qualifying pair could break every band —
    * the clamp to 1 is still lossless relative to banding, because a
    * pair with zero agreeing bands never enters the candidate set at
    * all (that recall loss belongs to the banding parameters, not the
    * floor; property-pinned in PropertySpec). Sub-threshold pairs are
    * mostly pruned before any signature ships. At t=0.8, H=64,
    * 16 bands: floor is 4 agreeing bands, which cuts the scored
    * candidate set ~20× on a high-ambient-similarity corpus.
    */
  private[graft] def minAgreeingBands(numHashes: Int, bands: Int, t: Double): Int = {
    val agreeMin = math.ceil(t * numHashes - 1e-9).toInt
    math.max(1, bands - (numHashes - agreeMin))
  }

  /** Candidate generation over a precomputed/persisted signature
    * table `(id, sig ARRAY<LONG> of length numHashes)` — the
    * production entry point when signatures are materialized between
    * runs (incremental dedup: only new documents need signing).
    */
  def lshCandidatePairsFromSignatures(
      sigs: DataFrame, numHashes: Int, bands: Int,
      portableBuckets: Boolean = false): DataFrame =
    scoredPairsFromSignatures(sigs, numHashes, bands, portableBuckets, minCollisions = 1)

  private def scoredPairsFromSignatures(
      sigs: DataFrame, numHashes: Int, bands: Int,
      portableBuckets: Boolean, minCollisions: Int): DataFrame = {
    val banded = bandedOf(sigs, numHashes, bands, portableBuckets)
    collisionPairsWithFeatures(banded, banded, Seq("band", "bucket"),
        ordered = true, featsA = sigs, featsB = sigs,
        minCollisions = minCollisions)
      .select(col("id_a"), col("id_b"),
        minhashAgreement(col("sig_a"), col("sig_b")).as("est_jaccard"))
  }

  /** Near-dup pairs at estimated Jaccard ≥ threshold — the scale
    * shape of [[lshCandidatePairs]]: candidates are pruned by
    * agreeing-band count ([[minAgreeingBands]], lossless for the
    * thresholded result) BEFORE signatures join back for exact
    * agreement scoring. On a corpus with high ambient similarity the
    * unpruned candidate set is quadratic-ish (46% of all pairs at
    * 16×4 banding on the test corpus); the floor reduces scored
    * candidates to the near-threshold tail.
    *
    * `words = true` switches the shingle unit to word n-grams
    * (Broder w-shingling) — THE scale lever when band enumeration,
    * not output, dominates: char n-grams on a small-vocabulary
    * corpus make every shingle ambient, so unrelated docs minhash-
    * collide and the Σ bucket² enumeration grows ~n² with corpus
    * size even while the thresholded OUTPUT stays linear (measured
    * at the 100× rehearsal: char-5 q12 ×19.5 for 3.33× data
    * sf3→sf10 with output pairs ×3.3; the word-4 spelling stays
    * near-linear — SCALE.md §Round-16). A word n-gram draws from
    * ~vocab^n values, so ambient collisions vanish; true near-dups
    * still collide. Same banding, same portable md5 convention
    * ([[graft.functions.Md5Prefix.wordNgramHashes]]).
    */
  def lshNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, portable: Boolean = false,
      words: Boolean = false): DataFrame = {
    val (pairs, sigs) = lshNearDupPairsWithSignatures(
      df, idCol, textCol, n, numHashes, bands, threshold, portable, words)
    graft.CacheLifecycle.releaseAfterFirstUse(Seq(sigs))
    pairs
  }

  /** As [[lshNearDupPairs]] plus the persisted signature table (same
    * caller-managed-cache contract as
    * [[lshCandidatePairsWithSignatures]]).
    */
  def lshNearDupPairsWithSignatures(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, portable: Boolean = false,
      words: Boolean = false): (DataFrame, DataFrame) = {
    val sigs =
      (if (portable) minhashSignaturesPortable(df, idCol, textCol, n, numHashes, words)
       else minhashSignatures(df, idCol, textCol, n, numHashes, words)).persistFresh()
    val pairs = scoredPairsFromSignatures(sigs, numHashes, bands, portable,
        minCollisions = minAgreeingBands(numHashes, bands, threshold))
      .filter(col("est_jaccard") >= threshold)
    (pairs, sigs)
  }

  /** Incremental near-dedup: drop from `newDocs` everything whose
    * estimated jaccard against the EXISTING corpus reaches
    * `threshold`. The corpus arrives as its materialized signature
    * table `(id, sig)` — signed once, persisted between runs (see
    * [[minhashSignatures]]) — and the band join is asymmetric
    * new × corpus, never corpus × corpus, so a daily increment costs
    * O(increment), not O(corpus): the production shape for keeping a
    * growing training set deduplicated.
    */
  def dropNearDuplicatesAgainst(
      corpusSigs: DataFrame,
      newDocs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, portable: Boolean = false,
      words: Boolean = false): DataFrame = {
    val (kept, newSigs) = dropNearDuplicatesAgainstWithSignatures(
      corpusSigs, newDocs, idCol, textCol, n, numHashes, bands, threshold,
      portable, words)
    graft.CacheLifecycle.releaseAfterFirstUse(Seq(newSigs))
    kept
  }

  /** As [[dropNearDuplicatesAgainst]], but also returns the persisted
    * new-batch signature table so the caller can `unpersist()` it
    * after executing the plan — and append it to the corpus signature
    * table for the NEXT increment (the whole point of materializing
    * signatures).
    */
  def dropNearDuplicatesAgainstWithSignatures(
      corpusSigs: DataFrame,
      newDocs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, portable: Boolean = false,
      words: Boolean = false,
      pairBroadcastLimit: Long = graft.Limits.BroadcastRowLimit): (DataFrame, DataFrame) =
    screenAgainst(corpusSigs, bandedOf(corpusSigs, numHashes, bands, portable),
      newDocs, idCol, textCol, n, numHashes, bands, threshold, portable, words,
      pairBroadcastLimit)

  /** The materialized BAND TABLE of a signature table — `(id, band,
    * bucket)` rows, the SECOND between-runs artifact of the
    * incremental-dedup loop. The r17 increment-scale probe measured
    * re-banding the corpus (`bands` md5-prefix digests per corpus
    * doc) as the DOMINANT per-run cost of a screen — flat in
    * increment size, linear in corpus size — while the banded rows
    * at rest are three narrow columns a run merely scans. Sign once,
    * band once, screen increments forever: persist this next to the
    * signature table and screen through
    * [[dropNearDuplicatesAgainstBanded]]. At cluster scale, write it
    * partitioned/bucketed by the bucket key so the band join shuffles
    * only the increment side.
    */
  def bandedSignatures(
      sigs: DataFrame, numHashes: Int, bands: Int,
      portable: Boolean = false): DataFrame =
    bandedOf(sigs, numHashes, bands, portable)

  /** [[dropNearDuplicatesAgainstWithSignatures]] with the corpus band
    * table supplied from its materialized store instead of recomputed
    * — the production screen spelling. `corpusBanded` MUST be the
    * [[bandedSignatures]] of `corpusSigs` at the same
    * numHashes/bands/portable (the band-count check below catches a
    * bands mismatch loudly; a stale or differently-hashed table
    * silently misses pairs — maintain the two artifacts together,
    * appending both per increment).
    */
  def dropNearDuplicatesAgainstBanded(
      corpusSigs: DataFrame, corpusBanded: DataFrame,
      newDocs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, portable: Boolean = false,
      words: Boolean = false,
      pairBroadcastLimit: Long = graft.Limits.BroadcastRowLimit): (DataFrame, DataFrame) = {
    // bands mismatch check: one narrow-column scan, cheap next to the
    // screen itself; a wrong-bands table would join garbage buckets.
    // max() over an EMPTY table is null — an empty/unseeded band
    // store is exactly the misconfiguration this guard exists for, so
    // refuse it loudly rather than let getInt throw a bare NPE
    val maxBandRow = corpusBanded.agg(max(col("band"))).head()
    require(!maxBandRow.isNullAt(0),
      "corpus band table is empty — an empty/unseeded band store " +
        "cannot back a screen (it would admit every document); band " +
        "the corpus signatures (Dedup.bandedSignatures) and point the " +
        "screen at that store")
    val maxBand = maxBandRow.getInt(0)
    require(maxBand == bands - 1,
      s"corpus band table has bands 0..$maxBand but the screen states " +
        s"$bands bands — re-band the store or state the right bands")
    screenAgainst(corpusSigs, corpusBanded,
      newDocs, idCol, textCol, n, numHashes, bands, threshold, portable, words,
      pairBroadcastLimit)
  }

  /** Increments whose band table fits under this many rows take the
    * broadcast screen path (id + band + bucket ≈ 20 bytes/row → ~tens
    * of MB at the default; a daily increment at 16 bands is ~131k
    * docs). Above it, the general salted shuffle join runs. */
  val DefaultBroadcastIncrementBandRows: Long = 1L << 21

  private def screenAgainst(
      corpusSigs: DataFrame, corpusBanded: DataFrame,
      newDocs: DataFrame, idCol: String, textCol: String,
      n: Int, numHashes: Int, bands: Int,
      threshold: Double, portable: Boolean,
      words: Boolean,
      pairBroadcastLimit: Long = graft.Limits.BroadcastRowLimit): (DataFrame, DataFrame) = {
    // a signature width differing from the materialized table would
    // silently empty the candidate buckets — fail loudly instead
    corpusSigs.select(size(col("sig"))).take(1).foreach { r =>
      require(r.getInt(0) == numHashes,
        s"corpus signature width ${r.getInt(0)} != numHashes $numHashes")
    }
    val newSigs =
      (if (portable) minhashSignaturesPortable(newDocs, idCol, textCol, n, numHashes, words)
       else minhashSignatures(newDocs, idCol, textCol, n, numHashes, words)).persistFresh()
    val minColl = minAgreeingBands(numHashes, bands, threshold)
    val (scoredCand, pairsCache, incrementBounded) = incrementScoredCandidates(
      corpusSigs, corpusBanded, newSigs, numHashes, bands, portable,
      minColl, pairBroadcastLimit)
    val ids0 = scoredCand
      .filter(minhashAgreement(col("sig_a"), col("sig_b")) >= threshold)
      .select(col("id_a").as(idCol))
      .distinct()
    // drop ids are ≤ the (small) increment whenever the INCREMENT
    // gate passed — including the hot-template fallback, where only
    // the PAIR set blew past the broadcast limit (id_a stays
    // increment-bounded however many corpus copies each id collided
    // with) — so the anti-join below never shuffles the batch
    val dropIds = if (incrementBounded) broadcast(ids0) else ids0
    val kept = newDocs.join(dropIds, Seq(idCol), "left_anti")
    // the gate's count() already executed over the pairs cache, so the
    // release must key on the RETURNED plan (releaseWhenExecuted), not
    // on any plan containing the cache — else the count's own listener
    // event would free it before the kept rows ever ran
    pairsCache.foreach(p => graft.CacheLifecycle.releaseWhenExecuted(kept, Seq(p)))
    (kept, newSigs)
  }

  /** Scored increment × corpus candidate rows `(id_a = new, id_b =
    * corpus, sig_a, sig_b)` at ≥ `minColl` agreeing bands — the
    * shared core of the incremental screen AND the keep-list fold's
    * new×corpus leg, routed adaptively (the smallGraphEdgeLimit
    * discipline): an increment is small BY DESIGN — when its band
    * table fits a broadcast, the corpus is SCANNED, never shuffled.
    * The general path shuffles the corpus band table three ways
    * (hot-bucket census, salted collision join, sig fetch) — measured
    * at the 100× rehearsal as the flat O(corpus) floor of every
    * screen run. Broadcasting the increment makes every corpus touch
    * a map-side pass: one banded scan for the collision probe (no
    * salting needed — a hot bucket's corpus rows are spread across
    * partitions by layout, not hashed to one task), one sig scan
    * filtered by the broadcast candidate pairs. The count() gate is
    * increment-scale and warms the persist.
    *
    * The increment gate bounds the increment-side broadcasts, but
    * `pairs` scales with increment × corpus collision MULTIPLICITY,
    * which no increment-side count bounds: one hot template
    * duplicated millions of times in the corpus (exactly the corpus
    * near-dedup exists for) turns a small matching increment into
    * millions of candidate pairs — a driver OOM if broadcast. So the
    * pair set itself is counted (one aggregate over the collision
    * probe the route needs anyway; the count materializes the cache
    * the final plan then replays instead of re-scanning the corpus)
    * and the salted path — whose hot-bucket census exists for
    * precisely this skew — takes over above the engine-wide broadcast
    * limit (measured at the time crossover too: SCALE.md §Round-18).
    * The cardinality-adaptive discipline of Evaluation/Checks,
    * applied to the screen's own blow-up.
    *
    * Returns the scored frame, the pairs cache for the caller to
    * release once ITS returned plan has executed (broadcast route
    * only — registering here would race the gate's own count), and
    * whether the INCREMENT gate passed (the caller may broadcast-hint
    * reductions of an increment-bounded result — true on BOTH pair
    * routes of a small increment, since a hot-template pair blow-up
    * inflates the pair set, never the increment-side id set).
    */
  private def incrementScoredCandidates(
      corpusSigs: DataFrame, corpusBanded: DataFrame, newSigs: DataFrame,
      numHashes: Int, bands: Int, portable: Boolean, minColl: Int,
      pairBroadcastLimit: Long): (DataFrame, Option[DataFrame], Boolean) = {
    // the general path: salted shuffle collision join whose hot-bucket
    // census absorbs skew — the route of record for large increments
    // AND for hot-template blow-ups the broadcast route must not carry
    def salted(): DataFrame =
      collisionPairsWithFeatures(
        bandedOf(newSigs, numHashes, bands, portable),
        corpusBanded,
        Seq("band", "bucket"), ordered = false,
        featsA = newSigs, featsB = corpusSigs,
        minCollisions = minColl)
    if (newSigs.count() * bands <= DefaultBroadcastIncrementBandRows) {
      val newBanded = bandedOf(newSigs, numHashes, bands, portable)
      val collisions = corpusBanded.as("b")
        .join(broadcast(newBanded).as("a"),
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      val pairs =
        (if (minColl > 1)
           collisions.groupBy("id_a", "id_b").agg(count(lit(1)).as("_nb"))
             .filter(col("_nb") >= minColl).drop("_nb")
         else collisions.distinct()).persistFresh()
      if (pairs.count() <= pairBroadcastLimit) {
        val scored = corpusSigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
          .join(broadcast(pairs), Seq("id_b"))
          .join(broadcast(newSigs.select(col("id").as("id_a"), col("sig").as("sig_a"))),
            Seq("id_a"))
        (scored, Some(pairs), true)
      } else {
        pairs.unpersist(blocking = false)
        (salted(), None, true)
      }
    } else (salted(), None, false)
  }

  /** Append a signature batch to the parquet signature STORE at
    * `outPath`, completing the incremental-dedup loop: the next
    * increment's corpus signature table is the store plus this
    * append. For the drop-screen ([[dropNearDuplicatesAgainst]])
    * append the KEPT rows' signatures only — dropped docs never
    * enter the corpus, and keeping their signatures would wrongly
    * screen future docs against documents that aren't there
    * (jaccard is not transitive). For the keep-list fold
    * ([[foldIntoClusterKeepList]]) every new doc enters the state,
    * so the full batch is right.
    *
    * Write discipline mirrors the execution surfaces
    * (takedown/compact): appending INTO the files currently backing
    * `corpusSigs` — the store root or a leaf directory holding its
    * part files — is refused loudly (a write under a directory
    * being read in the same plan is undefined, and mixing new part
    * files into a consumed leaf corrupts the store's layout). A
    * fresh sibling subtree under the same store root is fine — the
    * side-by-side append that grows the store for the NEXT
    * registration to pick up.
    */
  def appendSignatures(
      corpusSigs: DataFrame, sigs: DataFrame, outPath: String): Unit =
    appendArtifact(Seq(corpusSigs), sigs, outPath)

  /** The write half of [[appendSignatures]], generalized: append
    * `rows` to the parquet store at `outPath`, refusing loudly when
    * the path contains any file backing ANY of `guardAgainst` (the
    * stores this run is reading — signature table, band table).
    * `partitionBy` preserves a partitioned store's layout (the IVF
    * assignment store appends new files under its existing cell=
    * directories — one append job, never a per-directory loop). */
  private[graft] def appendArtifact(
      guardAgainst: Seq[DataFrame], rows: DataFrame, outPath: String,
      partitionBy: Seq[String] = Nil): Unit = {
    val spark = rows.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    def qualified(p: String): String = {
      val hp = new org.apache.hadoop.fs.Path(p)
      // compare by URI path component: listings render the same file
      // with different scheme spellings (file:/ vs file:///)
      hp.getFileSystem(conf).makeQualified(hp).toUri.normalize().getPath
    }
    val out = qualified(outPath)
    val backing = guardAgainst.flatMap(_.inputFiles).map(qualified)
    val clash = backing.find(f => f == out || f.startsWith(out + "/"))
    require(clash.isEmpty,
      s"out path '$outPath' contains a file backing a store this run " +
        s"reads (${clash.getOrElse("")}): appending into the store being " +
        "read is refused — write a side-by-side subtree and re-register")
    val w = rows.write.mode("append")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(outPath)
  }

  /** Incremental maintenance of the cluster KEEP-LIST — fold a new
    * batch into a materialized `(doc_id, cluster_id, cluster_size,
    * score, keep)` decision table (the q128 surface) without
    * recomputing the corpus×corpus pair graph, the closure, or the
    * scores. At 100 TB nobody re-derives the dedup decision nightly;
    * they maintain it: this is that operator.
    *
    * Inputs: `state` is the prior keep-list (exactly the schema this
    * operator returns, so runs chain); `corpusSigs` is the FULL old
    * corpus's materialized `(id, sig)` table (every doc, clustered or
    * not — a new doc can pair with a previously-singleton old doc);
    * `scores` is a `(doc_id, score)` lookup covering old corpus AND
    * new batch (the materialized q112 output — `state.score` must
    * have come from the same table). New-batch ids must be disjoint
    * from corpus ids.
    *
    * Equality with from-scratch: the full pair graph is
    * old×old ∪ new×old ∪ new×new. old×old components are already
    * contracted inside `state` (components of a graph equal
    * components after contracting each existing component to a
    * super-node), so only the two increment-scale pair sets are
    * computed — new×corpus via [[dropNearDuplicatesAgainst]]'s
    * asymmetric band join, new×new via the standard self-join — and
    * connected components run over the CONTRACTED graph: new-doc
    * nodes, plus one node per touched old cluster (its cluster_id),
    * plus previously-unclustered old docs as themselves. A new doc
    * bridging two old clusters therefore merges them, exactly as
    * from-scratch would. Labels are min-reachable-node, and because
    * an existing cluster_id IS the min id of its members, the merged
    * label equals the from-scratch min member id. Keep is then
    * re-elected (max score, id-ascending tiebreak) and cluster_size
    * recounted ONLY in touched clusters; untouched state rows pass
    * through byte-identical. Result: incremental == from-scratch,
    * oracle-pinned by q129 against the q128 SQL.
    *
    * Scale shape: everything is increment-scale except two passes
    * over `state`, each an equi-join on cluster_id against the
    * touched-cluster map (itself increment-scale, hence
    * broadcastable): one to pull touched members for re-election, one
    * anti-join to pass untouched rows through. The mini component
    * graph is pairs-of-the-increment sized, so the iterative closure
    * that dominates a from-scratch run (q54) runs on a graph ~the
    * size of the day's batch. Returns `(updatedKeepList, newSigs)`;
    * `newSigs` is persisted — append it to the corpus signature table
    * for the next increment, then release it (the
    * [[dropNearDuplicatesAgainstWithSignatures]] contract).
    * `corpusBanded` supplies the corpus band table from its
    * materialized store ([[bandedSignatures]] — the artifact pair the
    * screen reads), skipping the per-run corpus re-banding; None
    * re-bands in-plan.
    */
  def foldIntoClusterKeepList(
      state: DataFrame, corpusSigs: DataFrame, scores: DataFrame,
      newDocs: DataFrame, idCol: String, textCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8, portable: Boolean = false,
      maxRounds: Int = 50,
      checkpointDir: Option[String] = None,
      words: Boolean = false,
      corpusBanded: Option[DataFrame] = None): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // corpusBanded supplied from its materialized store skips the
    // per-run corpus re-banding, exactly as in the screen (the fold
    // and the screen share ONE signature/band artifact pair in
    // production); the same loud bands-mismatch / empty-store guards.
    // Both store guards (signature width, band range) ride ONE action:
    // each eager probe is a scheduler round trip worth ~0.1 s at bench
    // scale (guide §1.5 / the probe-folding discipline)
    val banded = corpusBanded match {
      case Some(cb) =>
        // right join: an EMPTY signature store still yields the one
        // aggregate row (NULL width skips the width guard, as the old
        // take(1)-on-empty did), never a rowless head()
        val guards = corpusSigs.select(size(col("sig")).as("_w")).limit(1)
          .join(cb.agg(max(col("band")).as("_mb")), lit(true), "right")
          .head()
        require(guards.isNullAt(0) || guards.getInt(0) == numHashes,
          s"corpus signature width ${guards.getInt(0)} != numHashes $numHashes")
        require(!guards.isNullAt(1),
          "corpus band table is empty — an empty/unseeded band store " +
            "cannot back a fold; band the corpus signatures " +
            "(Dedup.bandedSignatures) and point the fold at that store")
        require(guards.getInt(1) == bands - 1,
          s"corpus band table has bands 0..${guards.getInt(1)} but " +
            s"the fold states $bands bands — re-band the store or state " +
            "the right bands")
        cb
      case None =>
        corpusSigs.select(size(col("sig"))).take(1).foreach { r =>
          require(r.getInt(0) == numHashes,
            s"corpus signature width ${r.getInt(0)} != numHashes $numHashes")
        }
        bandedOf(corpusSigs, numHashes, bands, portable)
    }
    val st = state.select(col("doc_id"), col("cluster_id"),
      col("cluster_size"), col("score"), col("keep"))
    val sc = scores.select(col("doc_id"), col("score"))
    val floor = minAgreeingBands(numHashes, bands, threshold)
    val newSigs =
      (if (portable) minhashSignaturesPortable(newDocs, idCol, textCol, n, numHashes, words)
       else minhashSignatures(newDocs, idCol, textCol, n, numHashes, words)).persistFresh()
    // new × corpus pairs at est_jaccard >= threshold — asymmetric band
    // join routed through the screen's adaptive core (broadcast
    // increment when it fits, pair gate, salted shuffle fallback):
    // O(increment), corpus scanned not shuffled on the broadcast
    // route; resolved against state so each old endpoint becomes its
    // cluster node (or itself if previously unclustered). Persisted:
    // consumed by the eager closure below AND by the
    // singleton-promotion branch of the returned plan.
    val (scoredCand, pairsCache, _) = incrementScoredCandidates(
      corpusSigs, banded, newSigs, numHashes, bands, portable,
      floor, graft.Limits.BroadcastRowLimit)
    val newOldResolved = scoredCand
      .filter(minhashAgreement(col("sig_a"), col("sig_b")) >= threshold)
      .select(col("id_a").as("_new"), col("id_b").as("_old"))
      .join(st.select(col("doc_id").as("_old"), col("cluster_id").as("_oc")),
        Seq("_old"), "left")
      .persistFresh()
    val newNew = scoredPairsFromSignatures(newSigs, numHashes, bands, portable,
        minCollisions = floor)
      .filter(col("est_jaccard") >= threshold)
    // contracted component graph: increment-scale edges only
    val edges = newOldResolved
      .select(col("_new").as("a"), coalesce(col("_oc"), col("_old")).as("b"))
      .union(newNew.select(col("id_a").as("a"), col("id_b").as("b")))
    val comp = duplicateClusters(edges, "a", "b", maxRounds, checkpointDir)
      .select(col("id").as("_node"), col("cluster_id").as("_newc"))
    // touched old clusters relabel wholesale (map is increment-scale).
    // Persisted: BOTH state passes below consume it through a
    // broadcast build, and without the cache each build re-runs the
    // state scan + distinct chain (r21 job-count trim)
    val clusterMap = comp
      .join(st.select(col("cluster_id").as("_oldc")).distinct(),
        col("_node") === col("_oldc"))
      .select(col("_oldc"), col("_newc"))
      .persistFresh()
    val touchedStateMembers = st
      .join(broadcast(clusterMap), col("cluster_id") === col("_oldc"))
      .select(col("doc_id"), col("_newc").as("cluster_id"), col("score"))
    // previously-unclustered old docs that a new doc paired with:
    // promote into the cluster table with their materialized score
    val promoted = newOldResolved.filter(col("_oc").isNull)
      .select(col("_old").as("doc_id")).distinct()
      .join(comp, col("doc_id") === col("_node"))
      .join(sc, "doc_id")
      .select(col("doc_id"), col("_newc").as("cluster_id"), col("score"))
    val newMembers = comp
      .join(newSigs.select(col("id").as("_node")), Seq("_node"))
      .select(col("_node").as("doc_id"), col("_newc").as("cluster_id"))
      .join(sc, "doc_id")
      .select(col("doc_id"), col("cluster_id"), col("score"))
    // re-elect keep + recount size in touched clusters only; windows
    // partition by cluster_id — cluster-count-way parallel
    val wRank = Window.partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val wSize = Window.partitionBy(col("cluster_id"))
    val recomputed = touchedStateMembers.union(promoted).union(newMembers)
      .withColumn("cluster_size", count(lit(1)).over(wSize))
      .withColumn("keep", row_number().over(wRank) === 1)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("score"), col("keep"))
    val untouched = st.join(broadcast(clusterMap.select(col("_oldc"))),
      col("cluster_id") === col("_oldc"), "left_anti")
    val out = untouched.unionByName(recomputed)
    graft.CacheLifecycle.releaseWhenExecuted(out,
      Seq(newOldResolved, clusterMap) ++ pairsCache.toSeq)
    (out, newSigs)
  }

  // ---------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------

  /** 64-bit SimHash over whitespace tokens: for each bit j, sum ±1
    * over token hashes' j-th bit; bit j of the result is the sign.
    * Entirely per-row array math — no shuffle, no UDF.
    */
  def simhash64(text: Column): Column =
    simhashFromHashes(transform(split(trim(text), "\\s+"), t => xxhash64(t)))

  /** SimHash from precomputed token hashes. Pass an attribute, not a
    * computed expression — the subtree is referenced 64× (per bit).
    */
  def simhashFromHashes(hashes: Column): Column =
    (0 until 64).map { j =>
      val bitSum = aggregate(hashes, lit(0),
        (acc, h) => acc + when(h.bitwiseAND(lit(1L << j)) =!= 0, 1).otherwise(-1))
      when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))

  /** Per-doc simhash table: (id, simhash LONG). Staged so tokenizing
    * + hashing runs once per row, not once per bit (see
    * minhashSignatures).
    */
  def simhashes(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.ParallelSpread.forCpu(df, col(idCol))
      .select(col(idCol).as("id"),
        transform(split(trim(col(textCol)), "\\s+"), t => xxhash64(t)).as("_th"))
      .select(col("id"),
        graft.functions.SimhashExpression
          .simhashFromHashesNative(col("_th")).as("simhash"))

  /** Engine-portable simhash table: tokens via regexp_extract_all
    * (identical in DuckDB, including the empty-text → zero-tokens
    * edge that `split` handles differently), hashed with the 60-bit
    * md5 hash. Token hashes are < 2⁶⁰, so simhash bits 60-63 see only
    * −1 contributions and stay 0 in both engines — the same native
    * one-pass expression applies unchanged.
    */
  def simhashesPortable(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.ParallelSpread.forCpu(df, col(idCol))
      .select(col(idCol).as("id"),
        transform(regexp_extract_all(col(textCol), lit("\\S+"), lit(0)),
          t => graft.functions.Md5Expressions.md5PrefixLong(t, hexDigits = 15)).as("_th"))
      .select(col("id"),
        graft.functions.SimhashExpression
          .simhashFromHashesNative(col("_th")).as("simhash"))

  /** Near-dup pairs with Hamming distance ≤ maxHamming (≤ 3 for full
    * recall with 4 bands: by pigeonhole, ≤3 differing bits leave at
    * least one chunk identical). Candidates join on chunks;
    * verification is a popcount of the XOR.
    *
    * Portable mode uses the md5-based 60-bit simhash
    * ([[simhashesPortable]]) with 15-bit chunks (bits 60-63 are
    * always 0, so four 15-bit chunks cover every bit that can
    * differ) — a DuckDB oracle computes the identical pairs.
    */
  def simhashNearDupPairs(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3,
      portable: Boolean = false): DataFrame = {
    val sims =
      if (portable) simhashesPortable(df, idCol, textCol)
      else simhashes(df, idCol, textCol)
    val chunkBits = if (portable) 15 else 16
    val chunkMask = (1L << chunkBits) - 1L
    val chunked = sims.select(
      col("id"), col("simhash"),
      explode(array((0 until 4).map { c =>
        struct(lit(c).as("chunk"),
          shiftright(col("simhash"), c * chunkBits).bitwiseAND(lit(chunkMask)).as("ck"))
      }: _*)).as("cc"))
      .select(col("id"), col("simhash"), col("cc.chunk"), col("cc.ck"))
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---------------------------------------------------------------
  // Embedding-cosine near-dup
  // ---------------------------------------------------------------

  /** Exact all-pairs cosine ≥ threshold (brute self-join). Correct at
    * any scale but O(n²) — the small-data baseline and verifier for
    * [[embeddingNearDupLsh]].
    */
  def embeddingNearDupBrute(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    // Precompute each row's norm once (O(n)); per pair only the dot
    // product remains (O(n²) is unavoidable for exact all-pairs, but
    // 3× fewer array traversals than recomputing norms pairwise).
    // cosine = dot / (norm_a · norm_b) — the same expression shape as
    // cosineSimilarity, so values are bit-identical.
    val v = graft.ParallelSpread.forCpu(df, col(idCol))
      .select(col(idCol).as("id"), col(vecCol).as("v"),
      l2Norm(col(vecCol)).as("nrm"))
    v.as("a").join(v.as("b"), col("a.id") < col("b.id"))
      .withColumn("cosine",
        when(col("a.nrm") > 0 && col("b.nrm") > 0,
          dotProduct(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
          .otherwise(lit(null).cast("double")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  /** Approximate pairs via random-hyperplane LSH: bucket = sign bits
    * of `planes` fixed hyperplane projections; pairs are compared
    * only within buckets. High-cosine pairs land in the same bucket
    * w.p. (1 − θ/π)^planes per table; `tables` independent tables
    * raise recall. Deterministic splitmix-seeded hyperplanes.
    */
  def embeddingNearDupLsh(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      dim: Int, planes: Int = 12, tables: Int = 4): DataFrame = {
    // Same pairs-first discipline as lshCandidatePairs (the shared
    // collisionPairsWithFeatures block): the bucket self-join ships
    // only (id, tbl, bkt) — never the vectors — and a pair colliding
    // in several tables is deduped BEFORE the (single) cosine
    // evaluation, with vectors joined back once per side.
    val v = graft.ParallelSpread.forCpu(df, col(idCol))
      .select(col(idCol).as("id"), col(vecCol).as("v"),
      l2Norm(col(vecCol)).as("nrm"))
    val bucketed = v.select(
      col("id"),
      explode(array((0 until tables).map { t =>
        struct(lit(t).as("tbl"), signBucket(col("v"), dim, planes, seedOffset = t * planes).as("bkt"))
      }: _*)).as("tb"))
      .select(col("id"), col("tb.tbl"), col("tb.bkt"))
    collisionPairsWithFeatures(bucketed, bucketed, Seq("tbl", "bkt"),
        ordered = true, featsA = v, featsB = v)
      .withColumn("cosine",
        when(col("nrm_a") > 0 && col("nrm_b") > 0,
          dotProduct(col("v_a"), col("v_b")) / (col("nrm_a") * col("nrm_b")))
          .otherwise(lit(null).cast("double")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Sign-bit bucket of `planes` hyperplane projections, as a long. */
  private[graft] def signBucket(v: Column, dim: Int, planes: Int, seedOffset: Int): Column = {
    val ps = hyperplanes(dim, planes, seedOffset)
    val bits = ps.zipWithIndex.map { case (plane, j) =>
      val dot = dotProduct(v, array(plane.toIndexedSeq.map(x => lit(x)): _*))
      when(dot >= 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  // ---------------------------------------------------------------
  // Duplicate clusters (connected components over a pair list)
  // ---------------------------------------------------------------

  /** Collapse a near-duplicate PAIR list into CLUSTERS: connected
    * components of the pair graph, labeling every participating id
    * with the smallest id reachable through pairs — the canonical
    * representative a curation pipeline keeps (every other member of
    * the cluster is dropped or down-weighted). This is the stage
    * between "pairs ≥ threshold" (q11/q12/q13/q14) and an actionable
    * keep/drop decision: near-duplication is not transitive, so
    * pairwise output alone over-keeps (A~B, B~C with A,C just under
    * threshold still form one boilerplate family).
    *
    * Returns (id, cluster_id, cluster_size) for every id that appears
    * in `pairs`; singletons never enter the pair list, so the caller
    * left-joins the corpus to label non-duplicates.
    *
    * Algorithm: distributed min-label propagation with path
    * compression (pointer doubling) — each round every node takes the
    * minimum of its own label, its neighbors' labels, and its LABEL's
    * label. Compression makes convergence O(log diameter) rounds
    * rather than O(diameter); near-dup components in practice have
    * tiny diameter, so 2–4 rounds is typical. Per round the work is
    * one equi-join edges⋈labels + a min-agg + one self-join, all on
    * 8-byte keys over a table that is PAIR-scale (nodes that occur in
    * pairs), never corpus-scale. Convergence is detected from
    * sum(label), which strictly decreases until fixpoint (labels are
    * monotone non-increasing per node) — a 1-row driver pull per
    * round, no extra join against the previous labeling. Lineage is
    * truncated every round via localCheckpoint so the plan doesn't deepen
    * with iteration count; superseded rounds' blocks are released as
    * soon as the next round materializes. On a cluster with executor
    * churn pass `checkpointDir` to snapshot rounds to reliable storage
    * instead of executor blocks. Non-integral id columns are mapped
    * through a long surrogate (never silently cast).
    */
  def duplicateClusters(
      pairs: DataFrame, idACol: String, idBCol: String,
      maxRounds: Int = 50,
      checkpointDir: Option[String] = None,
      smallGraphEdgeLimit: Long = DefaultSmallGraphEdgeLimit): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}
    def integral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val (aType, bType) =
      (pairs.schema(idACol).dataType, pairs.schema(idBCol).dataType)
    if (integral(aType) && integral(bType)) {
      clusterLongPairs(
        pairs.select(col(idACol).cast("long").as("src"),
          col(idBCol).cast("long").as("dst")),
        maxRounds, checkpointDir, smallGraphEdgeLimit)
    } else {
      // Non-integral ids (string/UUID doc ids) must NOT go through a
      // silent long cast: under non-ANSI semantics the cast yields
      // null join keys and edges vanish without an error. Map through
      // a long surrogate instead: assign each distinct participating
      // id a surrogate once (id-scale, frozen by an eager snapshot so
      // every consumer sees the same assignment), cluster the
      // surrogate edges, and map both output columns back. The
      // cluster representative is the member with the minimum
      // SURROGATE — deterministic within the run, but not the
      // lexicographic min of the original ids.
      require(aType == bType,
        s"id columns must share a type; got ${aType.simpleString} vs ${bType.simpleString}")
      // the frozen mapping follows the caller's durability choice:
      // reliable checkpoint when checkpointDir is set (else losing the
      // executor holding these blocks breaks the final map-back joins —
      // the exact failure checkpointDir exists to prevent). Like the
      // final labels snapshot, it is ONE id-scale table that lives
      // until session end (localCheckpoint blocks are not CacheManager
      // entries, so a listener-driven unpersist would be a no-op).
      checkpointDir.foreach(pairs.sparkSession.sparkContext.setCheckpointDir)
      val mappingBase = pairs.select(col(idACol).as("_orig"))
        .union(pairs.select(col(idBCol).as("_orig")))
        .distinct()
        .withColumn("_surr", monotonically_increasing_id())
      val mapping =
        if (checkpointDir.isDefined) mappingBase.checkpoint(true)
        else mappingBase.localCheckpoint(true)
      val surrPairs = pairs
        .join(mapping.select(col("_orig").as(idACol), col("_surr").as("src")), idACol)
        .join(mapping.select(col("_orig").as(idBCol), col("_surr").as("dst")), idBCol)
        .select(col("src"), col("dst"))
      val clustered =
        clusterLongPairs(surrPairs, maxRounds, checkpointDir, smallGraphEdgeLimit)
      clustered
        .join(mapping.select(col("_surr").as("id"), col("_orig").as("_id_orig")), "id")
        .join(mapping.select(col("_surr").as("cluster_id"),
          col("_orig").as("_cluster_orig")), "cluster_id")
        .select(col("_id_orig").as("id"), col("_cluster_orig").as("cluster_id"),
          col("cluster_size"))
    }
  }

  /** Edge count at or under which the closure runs as a DRIVER-side
    * union-find instead of iterative distributed propagation — the
    * cardinality-adaptive pattern ([[graft.operators.Evaluation]]'s
    * offsets broadcast): each distributed round costs a fixed ~4 jobs
    * (join, agg, compression self-join, convergence pull) regardless
    * of graph size, so a batch-sized pair graph pays seconds of
    * round overhead for milliseconds of work. 1M edges ≈ 16 MB on the
    * driver — the same order as the broadcast tables this engine
    * already pulls — and union-find with path halving is ~O(E·α).
    * Beyond the limit (a 100 TB corpus's pair graph) the pointer-
    * doubling path runs unchanged. Both paths produce IDENTICAL
    * labels (min member id) — spec-pinned against each other.
    */
  val DefaultSmallGraphEdgeLimit: Long = 1L << 20

  /** Driver union-find over a materialized edge list: union by
    * MIN root, so every final root is its component's minimum member
    * id — the exact labeling the distributed path converges to.
    */
  private def clusterLongPairsDriver(pc: DataFrame): DataFrame = {
    val session = pc.sparkSession
    import session.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent.get(x) != x) {
        val g = parent.get(parent.get(x))
        parent.put(x, g)
        x = g
      }
      x
    }
    pc.collect().foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val a = r.getLong(0); val b = r.getLong(1)
        if (!parent.containsKey(a)) parent.put(a, a)
        if (!parent.containsKey(b)) parent.put(b, b)
        val ra = find(a); val rb = find(b)
        if (ra < rb) parent.put(rb, ra)
        else if (rb < ra) parent.put(ra, rb)
      }
    }
    import scala.jdk.CollectionConverters._
    val labeled = parent.keySet().asScala.toSeq.map(id => (id, find(id)))
    val sizes = labeled.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    labeled.map { case (id, root) => (id, root, sizes(root)) }
      .toDF("id", "cluster_id", "cluster_size")
  }

  private def clusterLongPairs(
      p: DataFrame, maxRounds: Int, checkpointDir: Option[String],
      smallGraphEdgeLimit: Long = DefaultSmallGraphEdgeLimit): DataFrame = {
    val spark = p.sparkSession
    // materialize the pair list once: the edge count routes the
    // small-graph driver path, and BOTH paths consume `p` twice
    // (driver: count + collect; distributed: the symmetric union) —
    // without the persist an expensive pair pipeline (LSH) would run
    // per consumption
    val pc = p.persistFresh()
    val edgeCount = pc.count()
    if (edgeCount <= smallGraphEdgeLimit) {
      val out = clusterLongPairsDriver(pc)
      pc.unpersist(blocking = false)
      return out
    }
    // localCheckpoint is fast but its blocks die with their executor —
    // on a churning cluster pass checkpointDir to snapshot each round
    // to reliable storage instead (HDFS/object store)
    checkpointDir.foreach(spark.sparkContext.setCheckpointDir)
    def snapshot(df: DataFrame): DataFrame =
      if (checkpointDir.isDefined) df.checkpoint(true) else df.localCheckpoint(true)
    // free a superseded round's localCheckpoint blocks (its data LIVES
    // in the persisted blocks, so only release after the next round's
    // snapshot has materialized). Reliable checkpoints are files; their
    // cleanup is the cluster's checkpoint-dir retention policy.
    def release(df: DataFrame): Unit =
      if (checkpointDir.isEmpty)
        df.queryExecution.analyzed.collectFirst {
          case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
        }.foreach(_.unpersist(false))
    // Hash-partition the symmetric edge list by src once: the
    // per-round edges⋈labels equi-join requires exactly this
    // partitioning, so the persisted layout is reused every round and
    // only the (much smaller) label table moves per iteration.
    val edges = pc.union(pc.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().repartition(col("src")).persistFresh()
    // Seed each node with min(self, neighbors) directly — the
    // symmetric edge list already carries every neighbor of `src`, so
    // one agg replaces what would otherwise be the whole first
    // propagation round (join + agg + join + 2 driver actions).
    var labels = edges.groupBy(col("src"))
      .agg(min(col("dst")).as("_nbr"))
      .select(col("src").as("id"), least(col("src"), col("_nbr")).as("label"))
    labels = snapshot(labels)
    // sum(label) is NULL over an empty node set — coalesce so the
    // empty-pairs case converges on the first round instead of NPEing
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("label")), lit(0L))).head().getLong(0)
    var prevSum = labelSum(labels)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val nbrMin = edges.as("e")
        .join(labels.as("l"), col("e.src") === col("l.id"))
        .groupBy(col("e.dst").as("id"))
        .agg(min(col("l.label")).as("_nbr"))
      val relabeled = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("_nbr"), col("label"))).as("label"))
      // path compression: follow my label's label. Every label is the
      // id of some participating node, so the lookup is total; the
      // coalesce is belt-and-braces for the self-rooted case.
      val compressed = snapshot(relabeled.as("a")
        .join(relabeled.select(col("id").as("_lid"), col("label").as("_llabel")),
          col("a.label") === col("_lid"), "left")
        .select(col("a.id").as("id"),
          coalesce(col("_llabel"), col("a.label")).as("label")))
      val newSum = labelSum(compressed)
      // the eager snapshot + labelSum above materialized this round —
      // the previous round's blocks are now dead weight
      release(labels)
      converged = newSum == prevSum
      prevSum = newSum
      labels = compressed
      round += 1
    }
    require(converged,
      s"duplicateClusters did not converge in $maxRounds rounds — " +
        "pathological graph diameter; raise maxRounds")
    edges.unpersist()
    pc.unpersist(blocking = false)
    // the FINAL labels snapshot stays persisted — the returned plan
    // reads it; it is one id-scale table, released with the session
    // (or by the caller via CacheLifecycle)
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id"), col("label").as("cluster_id"), col("cluster_size"))
  }

  /** Line-level corpus dedup (C4/RefinedWeb-style boilerplate
    * removal): drop every line that occurs in more than
    * `maxDocFrequency` DISTINCT documents — navigation chrome, cookie
    * banners, footers — and reassemble each document's surviving
    * lines in order.
    *
    * Scale shape: the document-frequency count shuffles only
    * (md5(line), doc_id) pairs — 24 bytes a line, never line text;
    * the hot-line set is corpus-chrome-sized (tiny) so the anti-join
    * back is broadcastable; reassembly is one groupBy(doc) over
    * surviving (pos, line) pairs. Output: (id, clean_text,
    * n_lines_kept, n_lines_dropped); a document that was ALL
    * boilerplate comes back with empty text, not a missing row.
    */
  def dropBoilerplateLines(
      df: DataFrame, idCol: String, textCol: String,
      maxDocFrequency: Long): DataFrame = {
    require(maxDocFrequency >= 1, "maxDocFrequency must be positive")
    val lines = df.select(col(idCol).as("_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("_pos", "_line")))
    val hot = lines.select(md5(col("_line").cast("binary")).as("_h"), col("_id"))
      .distinct()
      .groupBy(col("_h")).agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxDocFrequency)
      .select(col("_h"))
    val kept = lines.join(hot,
      md5(col("_line").cast("binary")) === col("_h"), "left_anti")
    val rebuilt = kept.groupBy(col("_id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("_pos"), col("_line")))),
            x => x.getField("_line")), "\n").as("clean_text"),
        count(lit(1)).as("n_lines_kept"))
    df.select(col(idCol),
        size(split(col(textCol), "\n")).cast("bigint").as("_total"))
      .join(rebuilt.withColumnRenamed("_id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        (col("_total") - coalesce(col("n_lines_kept"), lit(0L))).as("n_lines_dropped"))
  }

  /** Corpus-level MinHash sketch: the elementwise minimum of every
    * document's portable signature — equal to the MinHash sketch of
    * the UNION of all shingle sets, so sketches of two corpora
    * estimate the Jaccard similarity of their shingle UNIVERSES
    * (dataset-granularity overlap: train-vs-eval contamination
    * triage, corpus-version diffing). Min is associative/commutative,
    * so the sketch is a plain mergeable aggregate: one pass, map-side
    * combine, `numHashes` longs of output no matter the corpus size.
    */
  def corpusSketch(
      df: DataFrame, idCol: String, textCol: String,
      n: Int = 5, numHashes: Int = 64): DataFrame =
    minhashSignaturesPortable(df, idCol, textCol, n, numHashes)
      .agg(
        array((0 until numHashes).map(i =>
          min(element_at(col("sig"), i + 1))): _*).as("sketch"),
        count(lit(1)).as("n_docs"))

  /** Estimated Jaccard of two corpora's shingle universes: the
    * fraction of agreeing sketch components. One row out; exact
    * integer-count arithmetic over the 1×1 sketch join, so the
    * estimate is engine-portable.
    */
  def corpusOverlapEstimate(
      a: DataFrame, b: DataFrame, idCol: String, textCol: String,
      n: Int = 5, numHashes: Int = 64): DataFrame = {
    val sa = corpusSketch(a, idCol, textCol, n, numHashes)
      .select(col("sketch").as("_ska"), col("n_docs").as("n_docs_a"))
    val sb = corpusSketch(b, idCol, textCol, n, numHashes)
      .select(col("sketch").as("_skb"), col("n_docs").as("n_docs_b"))
    sa.crossJoin(sb).select(
      col("n_docs_a"), col("n_docs_b"),
      (aggregate(
        zip_with(col("_ska"), col("_skb"),
          (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).cast("double") / numHashes).as("est_jaccard"))
  }

  /** Per-group MinHash sketches of each group's SHINGLE UNIVERSE —
    * [[corpusSketch]] keyed by a group column (source/domain/snapshot):
    * one mergeable aggregate pass produces a `numHashes`-long sketch
    * per group, k-min over the union of the group's doc shingle sets
    * (elementwise min of per-doc portable signatures — minima
    * distribute over union, so the grouped route equals the
    * direct-universe route the oracle states). NULL groups are
    * excluded. Output: (group_key, sketch, n_docs).
    */
  def groupSketches(
      df: DataFrame, textCol: String, groupCol: String,
      n: Int = 5, numHashes: Int = 64): DataFrame =
    df.filter(col(groupCol).isNotNull)
      .select(col(groupCol).as("group_key"),
        graft.functions.MinhashExpression.minhashFromBaseNative(
          graft.functions.Md5Expressions.ngramMd5Hashes(
            col(textCol), n, hexDigits = 8, mod = MinhashPrime),
          numHashes).as("sig"))
      .groupBy(col("group_key"))
      .agg(
        array((0 until numHashes).map(i =>
          min(element_at(col("sig"), i + 1))): _*).as("sketch"),
        count(lit(1)).as("n_docs"))

  /** Merge two [[groupSketches]] tables — the incremental-maintenance
    * form of the overlap surface (the [[Incremental]] partials
    * discipline applied to MinHash): per group, the union-universe
    * sketch is the ELEMENTWISE MIN of the two sketches (each k-min
    * component over A ∪ B is min of the per-side minima — exact, not
    * approximate merging), and doc counts add. Groups present on one
    * side pass through. A nightly ingest therefore maintains the
    * source-overlap matrix by sketching ONLY the new batch and
    * min-merging — no corpus rescan; merging is associative and
    * commutative, so any shard/batch order gives the identical table
    * (spec-pinned: merged halves == single-pass sketch, bit for bit).
    */
  def mergeGroupSketches(a: DataFrame, b: DataFrame): DataFrame =
    a.select(col("group_key"), col("sketch").as("_sa"), col("n_docs").as("_na"))
      .join(
        b.select(col("group_key"), col("sketch").as("_sb"), col("n_docs").as("_nb")),
        Seq("group_key"), "full")
      .select(col("group_key"),
        when(col("_sa").isNull, col("_sb"))
          .when(col("_sb").isNull, col("_sa"))
          .otherwise(zip_with(col("_sa"), col("_sb"), (x, y) => least(x, y)))
          .as("sketch"),
        (coalesce(col("_na"), lit(0L)) + coalesce(col("_nb"), lit(0L)))
          .as("n_docs"))

  /** N-way [[mergeGroupSketches]] over an APPEND LOG of per-batch
    * sketch tables (the streamed-maintenance read path): per group,
    * elementwise min across all logged sketches + doc-count sum, in
    * one grouped aggregate — associative/commutative min and add, so
    * the result is a pure function of the logged batches regardless
    * of arrival order, and equals the single-pass [[groupSketches]]
    * over everything the batches contained (spec-pinned bit for bit).
    */
  def mergeGroupSketchLog(log: DataFrame, numHashes: Int = 64): DataFrame =
    log.groupBy(col("group_key"))
      .agg(
        array((0 until numHashes).map(i =>
          min(element_at(col("sketch"), i + 1))): _*).as("sketch"),
        sum(col("n_docs")).as("n_docs"))

  /** One-row impact report over a cluster keep-list (the q128/q129
    * decision surface): how much the dedup decision actually removes —
    * clustered docs, clusters, keepers, drops, the drop fraction, and
    * the size extremes. The reporting layer a curation run logs after
    * maintaining the decision table; one map-side-partial aggregate
    * over the (already pair-scale) keep-list.
    */
  def keepListImpact(keepList: DataFrame): DataFrame =
    keepList.agg(
      count(lit(1)).as("n_docs_clustered"),
      count_distinct(col("cluster_id")).as("n_clusters"),
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_keep"),
      sum(when(col("keep"), 0L).otherwise(1L)).as("n_drop"),
      max(col("cluster_size")).as("max_cluster_size"))
      .select(col("n_docs_clustered"), col("n_clusters"),
        col("n_keep"), col("n_drop"), col("max_cluster_size"),
        when(col("n_docs_clustered") > 0L,
          col("n_drop").cast("double") / col("n_docs_clustered").cast("double"))
          .as("drop_frac"))

  /** Cluster-size census over a keep-list: per distinct cluster size,
    * how many clusters and docs sit at that size — the "how big are
    * my duplicate families" distribution that decides whether the
    * corpus has a boilerplate monster or a long tail of pairs.
    * Collapses to one row per cluster first (≤ clusters rows cross
    * the shuffle), then to ≤ distinct-sizes rows.
    */
  def clusterSizeCensus(keepList: DataFrame): DataFrame =
    keepList.select(col("cluster_id"), col("cluster_size")).distinct()
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        (count(lit(1)) * col("cluster_size")).as("n_docs"))
      .select(col("cluster_size"), col("n_clusters"), col("n_docs"))

  /** Pairwise cross-source overlap matrix: estimated Jaccard of every
    * two groups' shingle universes — "which sources duplicate each
    * other" as one table, the corpus-composition diagnostic that
    * decides whether two crawls/snapshots are worth ingesting both.
    * [[corpusOverlapEstimate]] answers it for ONE pair; this answers
    * it for all ≤ groups²/2 pairs from ONE scan of the corpus (the
    * sketches are group-scale, so the pairwise comparison — an
    * inequality self-join over the broadcast sketch table — costs
    * groups², independent of corpus size; fine to thousands of
    * groups). Exact integer agreement counts over the sketch arrays;
    * the single division is the only float. Output one row per
    * unordered pair (group_a < group_b): (source_a, source_b,
    * n_docs_a, n_docs_b, est_jaccard).
    */
  def sourceOverlapMatrix(
      df: DataFrame, textCol: String, groupCol: String,
      n: Int = 5, numHashes: Int = 64): DataFrame = {
    val sk = groupSketches(df, textCol, groupCol, n, numHashes).persistFresh()
    val out = overlapMatrixFromSketches(sk, numHashes)
    graft.CacheLifecycle.releaseWhenExecuted(out, Seq(sk))
    out
  }

  /** The pairwise-compare leg of [[sourceOverlapMatrix]] alone, over
    * an already-materialized (group_key, sketch, n_docs) table — a
    * [[groupSketches]] output, a [[mergeGroupSketches]] result, or a
    * merged streamed log ([[mergeGroupSketchLog]]). groups²-scale
    * inequality self-join over the broadcast sketch table, corpus-
    * size-independent.
    */
  def overlapMatrixFromSketches(sk: DataFrame, numHashes: Int = 64): DataFrame = {
    val a = sk.select(col("group_key").as("source_a"),
      col("sketch").as("_ska"), col("n_docs").as("n_docs_a"))
    val b = sk.select(col("group_key").as("source_b"),
      col("sketch").as("_skb"), col("n_docs").as("n_docs_b"))
    a.join(broadcast(b), col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        col("n_docs_a"), col("n_docs_b"),
        (aggregate(
          zip_with(col("_ska"), col("_skb"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes)
          .as("est_jaccard"))
  }

  /** Fuzzy duplicate pairs by edit distance with token blocking —
    * record linkage for short strings (names, titles, addresses): all
    * pairs whose Levenshtein distance is ≤ `maxDist`, among
    * candidates sharing at least one whitespace token.
    *
    * Token blocking (an inverted index on words, the q11 shape) is
    * the right blocker for edit distance where prefix blocking is
    * not: a single leading edit ("cold bolt" → "old bolt") changes
    * the prefix but leaves every other token intact, and any pair
    * within distance d ≤ shortest-word length shares a token.
    * Candidates are distinct (idA < idB) pairs from the token join;
    * a |len(a)−len(b)| ≤ d filter prunes before the distance runs,
    * and the distance itself uses Spark's bounded threshold variant
    * (gives up at maxDist+1 instead of filling the full DP matrix).
    *
    * Scale: the index ships (token, id) pairs only; strings join back
    * per candidate. Ambient stop-tokens ("the") make quadratic
    * blocks, so tokens with document frequency > `maxTokenDf` are
    * dropped from the INDEX (bounded candidates per token). That
    * keeps completeness for every pair sharing at least one
    * sub-threshold token — pairs sharing ONLY stop tokens are missed,
    * the standard blocking trade-off; raise the cap (or pre-filter
    * stopwords) where exactness over them matters.
    */
  def fuzzyPairs(
      df: DataFrame, idCol: String, strCol: String, maxDist: Int,
      maxTokenDf: Int = 1000): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    val base = df.select(col(idCol).as("_id"), col(strCol).as("_s"))
      .filter(col("_s").isNotNull)
    val tokens = base
      .select(col("_id"), explode(array_distinct(split(col("_s"), "\\s+"))).as("_tok"))
      .filter(length(col("_tok")) > 0)
    val hot = tokens.groupBy(col("_tok"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") > maxTokenDf)
      .select(col("_tok"))
    val index = tokens.join(broadcast(hot), Seq("_tok"), "left_anti")
    val cand = index.as("ta")
      .join(index.as("tb"), col("ta._tok") === col("tb._tok") &&
        col("ta._id") < col("tb._id"))
      .select(col("ta._id").as("_ida"), col("tb._id").as("_idb"))
      .distinct()
    cand
      .join(base.select(col("_id").as("_ida"), col("_s").as("_sa")), Seq("_ida"))
      .join(base.select(col("_id").as("_idb"), col("_s").as("_sb")), Seq("_idb"))
      .filter(abs(length(col("_sa")) - length(col("_sb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("_sa"), col("_sb"), maxDist))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(
        (Seq(col("_ida").as(s"${idCol}_a"), col("_idb").as(s"${idCol}_b")) ++
          // when the string IS the id (dictionary linkage), don't
          // emit the same column twice
          (if (strCol == idCol) Seq.empty
           else Seq(col("_sa").as(s"${strCol}_a"), col("_sb").as(s"${strCol}_b"))) ++
          Seq(col("dist").cast("bigint").as("dist"))): _*)
  }

  /** Deterministic pseudo-random unit-free hyperplanes (splitmix64 →
    * uniform in [-1, 1)); normalization is irrelevant for sign tests.
    */
  private[graft] def hyperplanes(dim: Int, planes: Int, seedOffset: Int): Seq[Array[Double]] = {
    def mix(z0: Long): Long = {
      var z = z0 + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    (0 until planes).map { p =>
      Array.tabulate(dim) { i =>
        val h = mix((seedOffset + p).toLong * 1000003L + i)
        (h.toDouble / Long.MaxValue.toDouble)
      }
    }
  }
}
