package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.plans.GraftFunctions

/**
 * Deduplication operators for large-scale corpus curation (SURVEY §2.2
 * #25, #29-31): exact, MinHash+LSH, SimHash, n-gram Jaccard.
 *
 * Scale design: nothing here is O(n²) over the corpus. Signatures are
 * computed per-row with one-pass codegen expressions
 * ([[graft.plans.MinHashSignature]], [[graft.plans.SimHash64]] — no
 * shuffle, no explode of shingles across rows); candidate pairs only
 * materialize inside LSH band buckets, so the self-join shuffles on
 * (band, bucket) and compares only probable near-duplicates.
 */
object Dedup {

  /** Round-count telemetry from the most recent [[connectedComponents]]
   *  call on this driver: rounds to fixpoint and the contracted edge
   *  count after each non-final round (scale evidence for the shrinking
   *  graph — diagnostics only, never read by operators). */
  @volatile var lastCcRounds: Int = -1
  @volatile var lastCcInitialEdges: Long = -1L
  @volatile var lastCcEdgeCounts: Seq[Long] = Nil
  @volatile var lastCcFrozenCounts: Seq[Long] = Nil
  @volatile var lastCcResolveRounds: Int = 0

  /** Exact dedup: groups identical values of `on`, electing min(`id`) as keeper. */
  def exactGroups(df: DataFrame, on: String, id: String): DataFrame =
    df.groupBy(col(on))
      .agg(min(col(id)).as("keeper"), count(lit(1)).as("n"))

  /**
   * MinHash signature via the one-pass codegen
   * [[graft.plans.MinHashSignature]] expression: `numHashes` independent
   * permutations approximated by universal hashing — each shingle string
   * is hashed once, then sig[h] = min over shingles of the h-mixed
   * re-hash of that long. Pure per-row projection: no explode, no
   * aggregate, no shuffle. Total: an EMPTY shingle array yields the
   * all-Long.MaxValue sentinel signature (a null output would force a
   * null-guard filter that predicate-pushdown double-evaluates); only a
   * null input array yields NULL.
   */
  def minhashSignature(spark: SparkSession, shingles: Column, numHashes: Int): Column = {
    GraftFunctions.register(spark)
    call_function(GraftFunctions.minhashName, shingles, lit(numHashes))
  }

  /**
   * Declarative reference form of [[minhashSignature]] (kept as the
   * spec's parity baseline; nested higher-order transforms re-evaluate
   * multiplicatively — do not use on a hot path). Differs on empty
   * arrays only: yields an all-null array where the codegen form yields
   * the all-Long.MaxValue sentinel.
   */
  def minhashSignatureDeclarative(shingles: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      h => array_min(transform(shingles, sh => xxhash64(xxhash64(sh), h))))

  /**
   * Candidate pairs from MinHash LSH banding: the signature splits into
   * `bands` bands of `numHashes/bands` rows, each band hashing to a
   * bucket; docs sharing any (band, bucket) are candidates. With
   * s = Jaccard similarity, P[candidate] = 1-(1-s^r)^b — b=20, r=6 gives
   * miss < 1e-6 at s ≥ 0.9 while keeping the false-candidate rate at
   * background similarity (< 0.3) ≈ 1%.
   *
   * The self-join key is (band, bucket) — i.e. the shuffle is over
   * bucketed signatures, never all-pairs. Band index participates in the
   * key, which also salts the shuffle: one hot bucket in band 3 doesn't
   * skew the whole join.
   *
   * Execution shape (the 100 TB path): the signature is ONE per-row pass
   * of the codegen [[graft.plans.MinHashSignature]] expression — each
   * shingle string hashed once, the `numHashes` "permutations" re-hash
   * that 8-byte long (universal hashing), running minimums updated in a
   * tight primitive loop. No exploded (doc, shingle) rows, no
   * `numHashes`-column aggregate, and no shuffle before banding. Band
   * buckets then hash signature field reads, and the self-join's two
   * identical shuffle subplans collapse into one via Spark's
   * ReuseExchange. (The previous explode → partial-min-agg shape paid a
   * full shuffle of signature partials; the naive nested higher-order
   * expression re-evaluates the shingle subtree per hash per band —
   * measured 100×+ slower at sf0.1.)
   */
  def minhashCandidates(
      df: DataFrame, id: String, shingles: Column,
      numHashes: Int = 120, bands: Int = 20,
      maxBucketSize: Int = 10000): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    // No null-guard filter here: the signature expression is total (empty
    // arrays get the sentinel signature), and a filter on the computed
    // column would be predicate-pushed below this projection, evaluating
    // the signature twice per row. Degenerate groups — including all
    // empty-shingle docs, which share the sentinel signature and band
    // together — are bounded by the bucket cap below instead.
    val sig = df
      .select(col(id).as("__gid"),
        minhashSignature(df.sparkSession, shingles, numHashes).as("__gsig"))
    val bucketCols = (0 until bands).map { b =>
      val bandHashes = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(h => element_at(col("__gsig"), h + 1))
      struct(lit(b).as("band"), xxhash64(lit(b) +: bandHashes: _*).as("bucket"))
    }
    val banded = sig
      .select(col("__gid"), explode(array(bucketCols: _*)).as("bb"))
      .select(col("__gid"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    // Cap (band, bucket) groups: a degenerate bucket (sentinel signatures,
    // a corpus-wide boilerplate text) does O(size²) join work; true
    // near-dup groups larger than the cap still pair through their other
    // 19 bands. The count window shuffles on the same key the join uses.
    val capped = if (maxBucketSize <= 0) banded else {
      banded.withColumn("__gbsz",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy("band", "bucket")))
        .filter(col("__gbsz") <= maxBucketSize)
        .drop("__gbsz")
    }
    capped.as("a")
      .join(capped.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.__gid") < col("b.__gid"))
      .select(col("a.__gid").as("id_a"), col("b.__gid").as("id_b"))
      .distinct()
  }

  /**
   * Winnowing document fingerprints (MOSS) via the one-pass codegen
   * [[graft.plans.WinnowFingerprints]] expression: sorted distinct
   * rightmost-min gram hashes, one per sliding hash window. Any shared
   * substring of length >= k + w - 1 yields a shared fingerprint;
   * fingerprints survive edits outside the shared region — the
   * position-robust complement of [[graft.functions.TextFns.fingerprint]]'s
   * whole-text md5.
   */
  def winnowFingerprints(spark: SparkSession, text: Column, k: Int, w: Int): Column = {
    GraftFunctions.register(spark)
    call_function(GraftFunctions.winnowName, text, lit(k), lit(w))
  }

  /**
   * Partial-overlap candidate pairs: documents sharing at least
   * `minShared` winnow fingerprints. Same band-bucket scale shape as
   * MinHash LSH — the self-join key is the fingerprint, so pairs only
   * materialize among documents that actually share a fingerprint,
   * never all-pairs; `shared` counts the common fingerprints for
   * downstream ranking/verification.
   *
   * `maxDocFreq` drops fingerprints appearing in more than that many
   * documents before the join — boilerplate/common-phrase fingerprints
   * are non-discriminative AND each contributes O(df²) join work, so a
   * corpus-wide stock phrase would otherwise dominate the shuffle
   * (measured 6× on the bench corpus). The df-count window shuffles on
   * the same fingerprint key the join uses, so the exchange is reused.
   */
  def winnowCandidates(
      df: DataFrame, id: String, text: Column,
      k: Int = 24, w: Int = 4, minShared: Int = 2,
      maxDocFreq: Int = 100): DataFrame = {
    val fp = df.select(col(id).as("__gid"),
      explode(winnowFingerprints(df.sparkSession, text, k, w)).as("__gfp"))
    val capped = if (maxDocFreq <= 0) fp else {
      fp.withColumn("__gdf",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("__gfp")))
        .filter(col("__gdf") <= maxDocFreq)
        .drop("__gdf")
    }
    capped.as("a")
      .join(capped.as("b"),
        col("a.__gfp") === col("b.__gfp") && col("a.__gid") < col("b.__gid"))
      .groupBy(col("a.__gid").as("id_a"), col("b.__gid").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /**
   * Verify candidate pairs with exact Jaccard over `setOf(id)` sets,
   * keeping pairs ≥ threshold. Joining sets back by id is two hash joins
   * against the (small) candidate set — broadcastable.
   */
  def jaccardVerify(
      candidates: DataFrame, source: DataFrame, id: String, setCol: Column,
      threshold: Double, simName: String = "jaccard"): DataFrame = {
    val sets = source.select(col(id).as("__gid"), setCol.as("__gset"))
    candidates
      .join(sets.as("sa"), col("id_a") === col("sa.__gid"))
      .withColumnRenamed("__gset", "__gset_a").drop("__gid")
      .join(sets.as("sb"), col("id_b") === col("sb.__gid"))
      .withColumn(simName, TextFns.jaccard(col("__gset_a"), col("__gset")))
      .filter(col(simName) >= threshold)
      .select(col("id_a"), col("id_b"), col(simName))
  }

  /**
   * Full MinHash-LSH near-dup pipeline: candidates → exact-Jaccard
   * verify. The shingle-set frame is referenced by three plan branches
   * (the signature projection + both verify joins); `cacheSets` persists it —
   * projected down to (id, set) only — so the sets are computed once
   * instead of three times: at corpus scale that is two saved
   * scans-with-shingling for |corpus| × set-size of spillable cache.
   * The cache is NOT unpersisted here (the returned frame still reads
   * it); callers own the lifetime — unpersist via
   * `spark.catalog.clearCache()` or keep the default `false` when the
   * query runs once.
   */
  def minhashNearDups(
      df: DataFrame, id: String, setCol: Column,
      threshold: Double, numHashes: Int = 120, bands: Int = 20,
      cacheSets: Boolean = false, maxBucketSize: Int = 10000): DataFrame = {
    var withSet = df.select(col(id), setCol.as("__gset_src"))
    if (cacheSets)
      withSet = withSet.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = minhashCandidates(withSet, id, col("__gset_src"), numHashes, bands,
      maxBucketSize)
    jaccardVerify(cands, withSet, id, col("__gset_src"), threshold)
  }

  /**
   * Generic blocked similarity pairs: self-join within `blockKey`
   * blocks, score each (id_a < id_b) pair with `score`, keep pairs at
   * or above `minScore` — the scorer-agnostic sibling of
   * [[editDistancePairs]] for measures like Jaro-Winkler
   * ([[graft.plans.JaroWinkler]]) that have no length-band lower bound
   * (so oversized blocks cannot be sub-blocked EXACTLY the way
   * Levenshtein's |len diff| bound allows — block growth is controlled
   * by choosing a selective compound key instead).
   */
  def scoredPairs(
      df: DataFrame, idCol: String, textCol: String, blockKey: Column,
      score: (Column, Column) => Column, minScore: Double,
      simName: String = "score"): DataFrame = {
    val a = df.select(blockKey.as("__gblk"),
      col(idCol).as("id_a"), col(textCol).as("__gta"))
    val b = df.select(blockKey.as("__gblk"),
      col(idCol).as("id_b"), col(textCol).as("__gtb"))
    a.join(b, "__gblk").filter(col("id_a") < col("id_b"))
      .withColumn(simName, score(col("__gta"), col("__gtb")))
      .filter(col(simName) >= minScore)
      .select(col("id_a"), col("id_b"), col(simName))
  }

  /**
   * Sorted-neighborhood candidate pairs (Hernández–Stolfo SNM): rank
   * records by `sortKey` WITHIN each block, pair every record with the
   * `window` records after it, score, threshold. The classic third
   * blocking strategy next to hash blocks ([[scoredPairs]]) and LSH
   * banding — it catches near-dups whose block keys differ but whose
   * sort keys are adjacent (typo in the blocked field), at a
   * guaranteed ≤ window·n candidate budget per block.
   *
   * Scale shape: the rank window partitions by `blockKey` (no global
   * ordering funnel — the classic single-sort SNM does not distribute;
   * blocked multi-pass SNM is the standard parallel form), and the
   * pair join is an EQUI-join on (block, rank): the left side explodes
   * each record into its `window` successor ranks, so the join
   * intermediate is exactly the ≤ window·n candidate set — never the
   * per-block n² a block-keyed join with a rank-distance FILTER would
   * materialize (the filter runs after the match; only join KEYS bound
   * the intermediate). The scorer runs codegen on those ≤ window·n
   * pairs. The (sortKey, id) ordering is total, so ranks — and
   * therefore the pair set — are partition-layout independent.
   */
  def sortedNeighborhoodPairs(
      df: DataFrame, idCol: String, textCol: String, sortKey: Column,
      blockKey: Column, window: Int, score: (Column, Column) => Column,
      minScore: Double, simName: String = "score"): DataFrame = {
    require(window >= 1, "sortedNeighborhoodPairs needs window >= 1")
    val ranked = df.select(blockKey.as("__gblk"), sortKey.as("__gsk"),
        col(idCol).as("__gid"), col(textCol).as("__gtxt"))
      .withColumn("__grnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("__gblk")).orderBy(col("__gsk"), col("__gid"))))
    val a = ranked.select(col("__gblk"), col("__gid").as("id_a"),
      col("__gtxt").as("__gta"),
      explode(array((1 to window).map(d => col("__grnk") + d): _*))
        .as("__grb"))
    val b = ranked.select(col("__gblk"), col("__gid").as("id_b"),
      col("__gtxt").as("__gtb"), col("__grnk").as("__grb"))
    a.join(b, Seq("__gblk", "__grb"))
      .withColumn(simName, score(col("__gta"), col("__gtb")))
      .filter(col(simName) >= minScore)
      .select(col("id_a"), col("id_b"), col(simName))
  }

  /**
   * EXACT set-similarity self-join via prefix filtering (the
   * PPJoin/AllPairs family) — every pair with Jaccard ≥ num/den, NO
   * false negatives, without LSH's probabilistic recall and without the
   * all-pairs cross product. The third candidate-generation strategy
   * next to hash blocking ([[editDistancePairs]]) and banding
   * ([[minhashCandidates]]), for when the dedup audit must be provably
   * complete.
   *
   * Theory: order each record's tokens rare-first (global document
   * frequency); two sets with Jaccard ≥ t MUST share a token within
   * each other's first `n − ⌈t·n⌉ + 1` ordered tokens, so only prefix
   * tokens generate candidates. Everything stays EXACT-integer: the
   * threshold is the rational num/den (⌈t·n⌉ computed with integer
   * ceiling — a double `ceil(0.6·5)` rounds UP through FP error and
   * silently drops pairs), the length filter is den·min ≥ num·max, and
   * the final verify compares den·|∩| ≥ num·(|A|+|B|−|∩|). The output
   * `jaccard` double is one exact-int division — engine-portable.
   *
   * Scale shape: the (token, df) vocabulary aggregates once and gets a
   * RARITY RANK — an injective long id in (df, token) order, built by
   * [[RangeRank.ranked]] so the keyless rank stays distributed past the
   * size threshold — and every downstream stage runs on LONG ids
   * instead of token strings: per-record ordering is one `sort_array`
   * of the id array (id order ≡ (df, token) order), candidates explode
   * only ≤ prefix ids per record and join long-keyed, and verification
   * intersects two bounded LONG arrays per candidate — the pair-carried
   * array intermediate between the two verify joins (the measured
   * sf10 spill driver at ~1.3 KB/pair of shingle strings) shrinks ~3×
   * and compares longs, not UTF8. |A∩B| is preserved exactly because
   * the rank map is injective. Everything shuffles by hash key;
   * nothing is all-pairs. Null tokens are DROPPED by the inner vocab
   * join — a deliberate semantics choice, not behavior-neutral vs the
   * old struct-sort path: `array_intersect` treats null elements as
   * equal, so that path counted a shared null toward \|A∩B\| (and an
   * all-null-token record survived with n > 0). Here a null token
   * contributes to neither \|A∩B\| nor \|A\|/\|B\|, and an
   * all-null-token record disappears. In-repo callers only pass
   * shingle/token arrays that are never null, so no caller observes
   * the difference; callers that need null-as-a-token must encode it
   * as a sentinel string first.
   */
  /**
   * The SSJoin-family verify-join row gate, shared by
   * [[setSimilarityJoin]] and [[minHashEstimate]]: hash-build the
   * sets side of the verify joins once the input's honest leaf
   * estimate clears the bar (400k rows; `graft.ssjoin.hashRows`
   * overrides). One definition so a future bar change cannot silently
   * diverge the two verify stages.
   */
  private def ssjoinHashGate(df: DataFrame): Boolean =
    RangeRank.estLeafRows(df) >=
      BigInt(graft.Sessions.knob(df.sparkSession, graft.Sessions.SsjoinHashRows))

  def setSimilarityJoin(
      df: DataFrame, idCol: String, tokensCol: Column,
      num: Int, den: Int, cacheSets: Boolean = false): DataFrame = {
    require(num > 0 && den > 0 && num <= den,
      "threshold num/den must sit in (0, 1]")
    // the shingle/tokenize expression is the per-row hot cost: explode
    // ONCE; the vocabulary aggregate and the id join back both shuffle
    // the exploded frame by token, so below the bigCorpus gate AQE plans
    // the second as a ReusedExchange — the tokenizer runs once,
    // unpersisted; above it see the join below. (A persist of the
    // tokenized frame was tried and reverted: it
    // halved this query but poisoned every LATER query in the same
    // session with order-dependent 2-5x slowdowns — plan-fragment
    // caches are session state).
    val toks = df.select(col(idCol).as("__gid"),
      explode(array_distinct(tokensCol)).as("__gt"))
    val vocab = toks.groupBy(col("__gt")).agg(count(lit(1)).as("__gdf"))
    // Above the family's own row gate, the rarity id takes the
    // TOTAL-ORDER range path ([[RangeRank.orderIsoId]]): the vocab
    // frame is explode-derived, so the leaf-anchored row estimate
    // under-counts it ~40× and RangeRank's internal gate never fires —
    // and its value-bucketed path could not split the df=1 tie block
    // anyway (millions of once-seen shingles share one value).
    // Measured at sf10: the single-window rank was a 6.6 s ONE-TASK
    // stage inside q135. Downstream only needs the id to be injective
    // and (df, token)-order-preserving — sort_array orders by it,
    // prefixes slice by COUNT, candidates/verify compare by EQUALITY —
    // so the non-contiguous order-iso id is a drop-in; the pair set
    // and every jaccard are unchanged by construction.
    val bigCorpus = ssjoinHashGate(df)
    val rankedVocab = (if (bigCorpus)
        RangeRank.orderIsoId(vocab,
          Seq(col("__gdf").asc, col("__gt").asc), idAs = "__gtid")
      else RangeRank.ranked(vocab, Nil, "__gdf",
        tieBreak = Seq("__gt"), rnAs = "__gtid"))
      .select(col("__gt"), col("__gtid"))
    // shuffle_hash (not broadcast): on the small-corpus ranked path,
    // with both sides hashed on __gt the exploded frame's exchange is
    // the SAME subplan the vocabulary aggregate shuffled, so AQE plans
    // it as a ReusedExchange and the tokenizer runs ONCE — a broadcast
    // of the tiny vocab would skip the toks exchange and re-evaluate
    // the explode per branch. On the bigCorpus path orderIsoId
    // materializes the vocabulary in its own action, and exchange
    // reuse does not span actions: this join pays a second tokenizer
    // pass (the accepted trade for the distributed id at sf10).
    var ordered = toks.join(rankedVocab.hint("shuffle_hash"), "__gt")
      .groupBy(col("__gid"))
      .agg(sort_array(collect_list(col("__gtid"))).as("__gsorted"))
      .withColumn("__gn", size(col("__gsorted")))
      // integer ceiling ⌈n·num/den⌉ = (n·num + den−1 − pmod) / den: pmod
      // keeps the arithmetic exact-integer (a double ceil(t·n) rounds up
      // through FP error and silently SHRINKS the prefix — dropped pairs)
      .withColumn("__gpfx", {
        val x = col("__gn") * num + (den - 1)
        col("__gn") - ((x - pmod(x, lit(den))) / den).cast("int") + 1
      })
    // the ordered frame feeds FOUR plan branches (both candidate sides
    // + both verify joins) — persist it or the vocab join and sort
    // aggregate run four times ([[minhashNearDups]]' cacheSets
    // contract: caller owns the lifetime via clearCache)
    if (cacheSets)
      ordered = ordered.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // positional filter (PPJoin proper): carry each prefix token's
    // 1-based position in the record's rare-first order. For a pair's
    // FIRST shared prefix token at positions (pa, pb), every OTHER
    // shared token sits after pa in A and after pb in B — shared tokens
    // are a common subsequence of both orders (one GLOBAL (df, token)
    // order), so a shared token globally before the first match would
    // be inside both prefixes and itself be an earlier match. Hence
    // |A∩B| ≤ 1 + min(n_a−pa, n_b−pb), and Jaccard ≥ num/den needs
    // |A∩B|·(num+den) ≥ (n_a+n_b)·num — an exact-integer prune that
    // keeps template-heavy corpora (tiny shared vocabularies, deep
    // shared-shingle buckets) from flooding the verify join. The
    // min(pa)/min(pb) aggregate IS the first match (match positions are
    // monotone in the global order), and doubles as the candidate dedup
    // the plain form spent a distinct() on.
    val prefixes = ordered.select(col("__gid"), col("__gn"),
      posexplode(slice(col("__gsorted"), lit(1), col("__gpfx"))))
      .select(col("__gid"), col("__gn"), col("col").as("__gt"),
        (col("pos") + 1).as("__gp"))
    val cands = prefixes.select(col("__gt"), col("__gid").as("id_a"),
        col("__gn").as("__gna"), col("__gp").as("__gpa"))
      .join(prefixes.select(col("__gt"), col("__gid").as("id_b"),
        col("__gn").as("__gnb"), col("__gp").as("__gpb")), "__gt")
      .filter(col("id_a") < col("id_b") &&
        least(col("__gna"), col("__gnb")) * den >=
          greatest(col("__gna"), col("__gnb")) * num)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("__gpa")).as("__gpa"), min(col("__gpb")).as("__gpb"),
        max(col("__gna")).as("__gna"), max(col("__gnb")).as("__gnb"))
      .filter((lit(1) + least(col("__gna") - col("__gpa"),
        col("__gnb") - col("__gpb"))) * (num + den) >=
        (col("__gna") + col("__gnb")) * num)
      .select("id_a", "id_b")
    // Verify joins: SHUFFLE_HASH hinted on the sets side once the input
    // is genuinely large (the RangeRank leaf-rows clause — the same
    // "is this frame big" question, answered from the same honest leaf
    // estimate). AQE's static pick at sf10 is sort-merge, whose
    // external sorts materialize every array-carrying row into the
    // sorter — the measured spill driver of the verify stage. The hash
    // build never sorts; its build side is the cached `ordered` frame,
    // ALREADY partitioned by __gid from its groupBy (no extra
    // exchange), with unique keys (no build-side skew) and
    // per-partition hash-table size that shrinks as the cluster's
    // partition count grows. Measured sf10 interleaved A/B (3 cold
    // single-rep rounds each): hash 63.1/57.2/58.8 s vs sort-merge
    // 73.4/68.2/65.6 s — every hash sample beat every SMJ sample.
    // Below the gate the planner keeps its own pick (broadcast at
    // bench scale — a forced hash join there replaces a free broadcast
    // with two pair-side exchanges). A suffix-slice variant
    // (intersecting only from the first-match positions on, exact by
    // the positional-filter invariant above) measured neutral-to-noise
    // on these ~43-token arrays and was dropped.
    //
    // The gate is the SSJoin's OWN row bar (400k estimated leaf rows,
    // `graft.ssjoin.hashRows` to override), NOT the rank cutover's 2M:
    // the verify stage's intermediate pair volume is a large multiple
    // of the input rows, so it saturates a box long before a window
    // sort would — sf10's 500k-doc corpus (leaf estimate ~1M) is
    // already a 60 s spilling query while sitting under the rank bar.
    val bigVerify = bigCorpus
    def setsAs(as: String) = {
      val s = ordered.select(col("__gid"), col("__gsorted").as(as))
      if (bigVerify) s.hint("shuffle_hash") else s
    }
    cands
      .join(setsAs("__gta"), col("id_a") === col("__gid")).drop("__gid")
      .join(setsAs("__gtb"), col("id_b") === col("__gid")).drop("__gid")
      .withColumn("__gi", size(array_intersect(col("__gta"), col("__gtb"))))
      .withColumn("__gu",
        size(col("__gta")) + size(col("__gtb")) - col("__gi"))
      .filter(col("__gi") * den >= col("__gu") * num)
      .select(col("id_a"), col("id_b"),
        (col("__gi").cast("double") / col("__gu")).as("jaccard"))
  }

  /**
   * Near-dup degree distribution — how tangled is the duplicate graph?
   * Per node, its pair-graph degree; aggregated to (degree, n_nodes).
   * The dedup-audit summary that distinguishes "isolated twin pairs"
   * (degree 1) from "one giant template cluster" (high degrees) before
   * committing to a resolution run. Linear: one explode of the pair
   * list + two count groupBys, no joins.
   */
  def degreeDistribution(
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b"): DataFrame =
    pairs.select(explode(array(col(idA), col(idB))).as("id"))
      .groupBy(col("id")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))

  /**
   * Triangle enumeration over an undirected pair graph: every vertex
   * triple with all three edges present, emitted once as id_a < id_b <
   * id_c. The transitivity audit on a near-dup graph — triangles mean
   * the pairwise metric is locally consistent; wedges without closure
   * mean threshold-boundary chains that a connected-components pass
   * will glue into one cluster anyway (the motivation for checking
   * BEFORE resolving). Two key-partitioned hash joins: wedges build on
   * the shared middle vertex, closure probes the canonical edge set.
   * Because edges are oriented a < b, every wedge/triangle is generated
   * exactly once. On skewed degree distributions orient edges
   * low-degree → high-degree first (the classic bound that caps wedge
   * fan-out at O(m^1.5)); near-dup graphs from a thresholded SSJoin are
   * degree-capped upstream, so the canonical orientation suffices here.
   */
  def triangles(
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    // The edge list feeds THREE join branches; without materialization
    // the upstream pair generator (an ssjoin here) would execute once
    // per branch. Persist the (tiny relative to the corpus) canonical
    // edge frame — the setSimilarityJoin ordered-frame precedent;
    // Bench/callers sweep the cache between queries.
    val e = pairs
      .select(least(col(idA), col(idB)).as("a"), greatest(col(idA), col(idB)).as("b"))
      .filter(col("a") < col("b")).distinct()
      .persist()
    val ab = e.select(col("a").as("id_a"), col("b").as("id_b"))
    val bc = e.select(col("a").as("id_b"), col("b").as("id_c"))
    val ac = e.select(col("a").as("id_a"), col("b").as("id_c"))
    ab.join(bc, Seq("id_b")).join(ac, Seq("id_a", "id_c"))
      .select(col("id_a"), col("id_b"), col("id_c"))
  }

  /**
   * C4's GLOBAL line deduplication (Raffel et al. 2020 §2.2: any line
   * occurring more than once in the corpus is kept exactly once): every
   * line keeps only its first occurrence — ordered by (doc id,
   * position), a total order — and each document is reassembled from
   * its surviving lines in original order. Documents reduced to zero
   * lines drop out. This is the cross-document complement of
   * [[graft.functions.TextFns.c4KeptLines]]' per-document filtering.
   *
   * Scale shape: posexplode → ROW_NUMBER window partitioned by the line
   * content (one hash shuffle over (line) — the only way to see global
   * duplicates) → reassembly groupBy doc (second shuffle). Both linear,
   * map-side-combinable on the reassembly; no self-join, no all-pairs.
   * Returns (id, clean, n_lines).
   */
  def globalLineDedup(df: DataFrame, id: String, text: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lines = df.select(col(id),
      posexplode(split(text, "\n")).as(Seq("__gpos", "__gline")))
    val first = lines
      .withColumn("__grn", row_number().over(
        Window.partitionBy("__gline").orderBy(col(id), col("__gpos"))))
      .filter(col("__grn") === 1)
    first.groupBy(col(id))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("__gpos"), col("__gline")))),
            p => p.getField("__gline")), "\n").as("clean"),
        count(lit(1)).cast("int").as("n_lines"))
  }

  /**
   * Connected components over a candidate-pair edge list: resolves the
   * pairwise near-dup output of [[minhashNearDups]] / [[simhashNearDups]] /
   * [[winnowCandidates]] into transitive clusters, labeling every member
   * with the minimum id of its component. This generalizes the
   * reference's exact `drop_duplicates` (dag.py:49) to near-duplicates:
   * A~B and B~C must collapse to ONE keeper even when A~C was never a
   * candidate pair.
   *
   * Algorithm: iterative min-label propagation with pointer jumping
   * over a CONTRACTING edge set. Each round every vertex takes the min
   * label among itself and its (contracted-graph) neighbors (one
   * shuffle on the edge key), compresses label := label(label) (one
   * join on the label table — convergence logarithmic in component
   * diameter, so 25 rounds cover diameters past 2^25), and then the
   * edge set itself is rewritten to (label(src), label(dst)) with
   * self-loops dropped: an edge whose endpoints already share a label
   * is settled and can never contribute a new minimum, so the graph
   * SHRINKS as components resolve — template clusters collapse to zero
   * edges after their first merge round, and late rounds join
   * near-empty frames instead of re-shuffling the full pair output
   * every round. Correctness: contraction maps every edge onto its
   * endpoints' current labels (which are ids inside the same original
   * component), so per-component group-graph connectivity is preserved
   * round to round, and new minima still flow between groups via the
   * rewritten edges while member chains catch up through pointer
   * jumping. Contraction engages only above `graft.cc.contractMinEdges`
   * directed edges (default 1,000,000) AND only from round 2 onward:
   * on bench-scale graphs its fixed per-round cost (two relabel joins +
   * a distinct + a checkpoint) exceeds what re-shuffling a few thousand
   * edges costs, and near-dup cluster graphs (cliques/stars) converge
   * in 1-2 rounds where a round-1 contraction is pure overhead — the
   * measured sf10 telemetry: q98's 4.1 M-edge fuzzy graph drains to 0
   * at round 1 and converges at round 2 (contraction saves nothing),
   * while q73's 4.1 M-edge semantic blob runs 5 rounds and its round-2
   * contraction leaves 870 edges, making rounds 3-5 near-free. Deep
   * graphs keep the win; shallow ones never pay.
   * Convergence is detected by the label-sum fixpoint: labels
   * are min-ids, so the per-vertex label is monotone nonincreasing and
   * the (exact, decimal) sum strictly decreases until the fixpoint; an
   * unchanged sum means no label moved, which makes the next round's
   * propagation, compression, AND contraction identical — a true
   * fixpoint of the whole system.
   *
   * SETTLED EXIT (the round-10 finding that contraction alone cannot
   * shrink the per-round label joins): at every contraction event the
   * active frame is cut to the contracted graph's endpoints — a vertex
   * with no surviving edge can never receive a smaller label through
   * propagation, so it exits carrying its label-at-exit into a frozen
   * buffer and the remaining rounds' propagate/pointer-jump joins run
   * over the (typically tiny) contracted vertex set instead of all
   * |V| rows. Frozen mappings are resolved transitively at the end:
   * one O(log events) pointer-jump pass over the reunited frame (proof
   * of termination at the component min in the body). Telemetry:
   * [[lastCcFrozenCounts]] (rows frozen per event) and
   * [[lastCcResolveRounds]] (end-resolution jump rounds).
   *
   * Scale shape: every round is two hash joins over (edges, labels)
   * plus the contraction's relabel joins over the (shrinking) edge
   * frame — no all-pairs, no driver-side graph. The driver loop is
   * bounded (`maxIter`) and collects ONE scalar per round (the
   * convergence sum), matching the library's bounded agg-to-literal
   * exception. `localCheckpoint` truncates the growing lineage each
   * round so round N's plan does not replay rounds 1..N-1 (the
   * standard iterative-algorithm requirement; on a cluster with a
   * checkpoint dir, reliable `checkpoint` is the durable variant).
   * [[lastCcRounds]]/[[lastCcEdgeCounts]] expose round-count telemetry
   * for scale evidence.
   *
   * Returns (id, component): one row per distinct vertex appearing in
   * `pairs`, component = min vertex id reachable via the pair graph.
   */
  def connectedComponents(
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 25): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // ONE scan of `pairs`, exploded into both directions — a self-union
    // would be two plan branches, i.e. the (possibly expensive: a whole
    // LSH pipeline) pair generation evaluated twice
    val edges0 = pairs
      .select(explode(array(
        struct(col(idA).cast("long").as("src"), col(idB).cast("long").as("dst")),
        struct(col(idB).cast("long").as("src"), col(idA).cast("long").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .filter(col("src") =!= col("dst") && col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val spark = pairs.sparkSession
    // The edge materialization (one exact count of the persisted frame)
    // happens FIRST, under the caller's input-sized AQE ceiling — the
    // pair-generation distinct is data-sized and must stay wide. The
    // count then (a) gates contraction, (b) sizes the loop ceiling and
    // (c) picks the loop execution regime below.
    val edgeCount0: Long = edges0.count()
    // rolling checkpoints: each round's label frame supersedes the
    // previous one; the roller releases the dead generation instead of
    // letting maxIter generations of blocks pile up (CacheHygieneSpec)
    val roller = new graft.Caches.CheckpointRoller(pairs.sparkSession)
    // Exact decimal sum: label ids are arbitrary longs; a DOUBLE sum
    // loses low bits past 2^53 and could report a false fixpoint.
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("label").cast("decimal(38,0)"))).head()
      if (r.isNullAt(0)) java.math.BigDecimal.ZERO else r.getDecimal(0)
    }
    val contractMin = graft.Sessions.knob(spark, graft.Sessions.CcContractMinEdges)
    var iter = 0
    var edgeCount: Long = edgeCount0
    val edgeCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
    // edges roll in their OWN generation sequence, advanced only when a
    // new contraction supersedes the old frame: the label roller's
    // fixed two-generation cadence would release the last contracted
    // frame while later rounds still join it if contraction stops early
    // (the count can fall below the gate mid-run)
    val edgeRoller = new graft.Caches.CheckpointRoller(pairs.sparkSession)
    // Settled exit (round-10 verdict item 1): the per-round cost was the
    // FULL label frame — propagate + pointer-jump over every vertex even
    // after contraction had shrunk the edges to near-nothing (the q62
    // A/B: contraction to 50k edges saved only 9%, because the label
    // joins, not the edge rewrite, dominate). A vertex absent from the
    // contracted edge frame can never receive a smaller label again
    // (contraction preserves per-component group-graph connectivity, so
    // a label group with no crossing edges IS a finished component —
    // see the resolution proof below), so it exits the active frame
    // carrying its label-at-exit, and the loop's joins run over the
    // contracted graph's vertex set only. Each frozen part is
    // checkpointed individually (its parent generation is released a
    // round later, and an unpersisted localCheckpoint cannot recompute);
    // the end resolution pointer-jumps frozen chains onto the active
    // frame's final labels — O(log events) full-frame joins ONCE instead
    // of every round.
    val frozenParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val frozenCounts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val frozenRoller = new graft.Caches.CheckpointRoller(pairs.sparkSession)
    // The loop regime (loop-sized partitions; below the narrow bar AQE
    // off, hinted joins and hash(src)-relaid edges) is picked once from
    // the edge count (Sessions.withLoop). The labels init and the first
    // fixpoint sum are loop-frame stages too, so they sit inside.
    graft.Sessions.withLoop(spark, edgeCount0) { loop =>
    import loop.hinted
    var curEdges = loop.relaid(edges0, "src") { r =>
      val relaid = edgeRoller.roll(r)
      edgeRoller.advance()
      edges0.unpersist()
      relaid
    }
    // FUSED first round: propagating from the identity labeling needs
    // no label frame at all — min(self, min(neighbors)) is ONE
    // aggregation over the edge frame (the separate labels-init
    // distinct, its checkpoint, its fixpoint sum, and the first
    // edges⋈labels join of the unfused loop all collapse into it);
    // the usual pointer-jump compress follows inside the same
    // materialization. Convergence can only be DETECTED from round 2
    // on (with any edge present, round 1 strictly lowers some label),
    // so the first comparable sum is this round's.
    val first = curEdges.groupBy(col("src"))
      .agg(min(col("dst")).as("__gm"))
      .select(col("src").as("id"), least(col("src"), col("__gm")).as("label"))
    var labels = roller.roll {
      val b = first.select(col("id").as("label"), col("label").as("__ll")).as("b")
      first.as("a").join(hinted(b), Seq("label"))
        .select(col("id"), col("__ll").as("label"))
    }
    roller.advance()
    iter = 1
    var prev = labelSum(labels)
    var converged = edgeCount0 == 0L
    while (!converged && iter < maxIter) {
      val viaNeighbors = curEdges
        .join(hinted(labels.withColumnRenamed("id", "src")), "src")
        .select(col("dst").as("id"), col("label").as("label"))
      // Fresh aliases on both union children: they share attribute ids
      // (viaNeighbors derives from labels), which trips Union's
      // constraint rewrite in Spark 4.1.
      val propagated = labels.select(col("id").as("id"), col("label").as("label"))
        .union(viaNeighbors)
        .groupBy("id").agg(min("label").as("label"))
      // Pointer jump: every label value is itself a vertex id (a min of
      // vertex ids), so label(label) <= label wherever label is IN the
      // frame. While no vertex has exited, every label value IS a frame
      // row and the original inner join stands (plan-identical to the
      // pre-settled-exit code). After a freeze event a label can point
      // at a frozen id that is no longer a frame row — the LEFT join
      // keeps that row with its label unjumped (the accelerator
      // degrades, never the labels: edge propagation alone still
      // carries the component min, which is provably active while any
      // of its component is).
      val compressed = {
        val b = propagated.select(col("id").as("label"), col("label").as("__ll")).as("b")
        val joined =
          if (frozenParts.isEmpty)
            propagated.as("a").join(hinted(b), Seq("label"))
              .select(col("id"), col("__ll").as("label"))
          else
            propagated.as("a").join(hinted(b), Seq("label"), "left")
              .select(col("id"), coalesce(col("__ll"), col("label")).as("label"))
        roller.roll(joined)
      }
      val cur = labelSum(compressed)
      converged = cur.compareTo(prev) == 0
      prev = cur
      labels = compressed
      iter += 1
      roller.advance()
      if (!converged && iter >= 2 && iter < maxIter && edgeCount >= contractMin) {
        // Contract: rewrite each edge onto its endpoints' NEW labels and
        // drop self-loops (settled edges). Two relabel joins + a distinct
        // over the current (shrinking) edge frame; the rolled checkpoint
        // materializes it so the count below is a cached-partition scan.
        val contracted = edgeRoller.roll(curEdges
          .join(hinted(compressed.select(col("id").as("src"), col("label").as("__ls"))), "src")
          .join(hinted(compressed.select(col("id").as("dst"), col("label").as("__ld"))), "dst")
          .filter(col("__ls") =!= col("__ld"))
          .select(col("__ls").as("src"), col("__ld").as("dst"))
          .distinct())
        edgeRoller.advance()
        // the initial persisted edge frame dies at its first contraction;
        // later generations are checkpoints the edge roller releases
        if (curEdges eq edges0) edges0.unpersist()
        curEdges = contracted
        edgeCount = contracted.count()
        edgeCounts += edgeCount
        // Settled exit: the active vertex set is exactly the contracted
        // frame's endpoints. Everything else leaves with (id, label) —
        // its label is either final (its whole component settled) or an
        // id the active frame keeps evolving; the end resolution joins
        // it forward. activeIds is small post-shrink, so both splits
        // broadcast against the label frame.
        val activeIds = contracted.select(col("src").as("id"))
          .union(contracted.select(col("dst").as("id"))).distinct()
        val frz = frozenRoller.roll(
          labels.join(hinted(activeIds), Seq("id"), "left_anti"))
        frozenParts += frz
        frozenCounts += frz.count()
        labels = roller.roll(labels.join(hinted(activeIds), Seq("id"), "left_semi"))
        roller.advance()
        // the label sum is now over a SHRUNK frame: rebaseline so the
        // next round's fixpoint compare is frame-consistent (a shrink
        // can only postpone convergence by one compare, never fake it)
        prev = labelSum(labels)
      }
    }
    if (curEdges eq edges0) edges0.unpersist()
    // the final edge checkpoint (narrow-loop relayout or last
    // contraction) is dead once the loop converges — the label frames
    // are materialized checkpoints; two advances release every
    // generation the edge roller still holds (CacheHygieneSpec: live
    // caches must be referenced by the returned plan)
    edgeRoller.advance(); edgeRoller.advance()
    lastCcRounds = iter
    lastCcInitialEdges = edgeCount0
    lastCcEdgeCounts = edgeCounts.toSeq
    lastCcFrozenCounts = frozenCounts.toSeq
    // Unconverged labels are MID-MERGE (multiple "keepers" inside one
    // true cluster) — silently returning them would ship duplicates.
    // With pointer jumping, maxIter rounds cover diameters past
    // 2^maxIter, so hitting this means the caller passed a tiny cap.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not reach a fixpoint in $maxIter rounds; " +
          "raise maxIter (each round doubles the covered component diameter)")
    lastCcResolveRounds = 0
    if (frozenParts.isEmpty) labels.select(col("id"), col("label").as("component"))
    else {
      // Transitive resolution of the frozen exits. Why it terminates at
      // the right label: every frozen mapping points strictly downward
      // (label <= id, labels are mins of original vertex ids), and a
      // chain can only end at (a) an ACTIVE id, whose loop-final label
      // is the component min — the min m of any component with active
      // members is itself active, because if m's label group had no
      // crossing edges the group-graph connectivity invariant makes
      // that group the WHOLE component — or (b) a self-rooted frozen id
      // m, which is exactly case (a)'s complement: its component
      // settled wholesale with every member one hop from m. Each freeze
      // event adds at most one hop, so pointer jumping needs
      // O(log events) rounds over the reunited frame — paid once,
      // instead of every propagation round touching all |V| rows.
      var all = roller.roll(labels.unionByName(
        frozenParts.reduce(_ unionByName _)))
      roller.advance()
      // the frozen part checkpoints are dead now (the union checkpoint
      // holds their rows); two advances walk them through the roller's
      // cur -> prev -> released lifecycle
      frozenRoller.advance(); frozenRoller.advance()
      var p = labelSum(all)
      var done = false
      var rIter = 0
      while (!done && rIter < maxIter) {
        val jumped = roller.roll(all.as("a")
          .join(hinted(all.select(col("id").as("label"), col("label").as("__ll")).as("b")),
            Seq("label"), "left")
          .select(col("id"), coalesce(col("__ll"), col("label")).as("label")))
        val cur2 = labelSum(jumped)
        done = cur2.compareTo(p) == 0
        p = cur2
        all = jumped
        rIter += 1
        roller.advance()
      }
      lastCcResolveRounds = rIter
      if (!done)
        throw new IllegalStateException(
          s"connectedComponents frozen-chain resolution did not reach a " +
            s"fixpoint in $maxIter pointer-jump rounds")
      all.select(col("id"), col("label").as("component"))
    }
    } // withLoop
  }

  /**
   * Keeper election over resolved clusters: (id, cluster, is_keeper)
   * for every vertex in the pair graph — the keeper is the minimum id
   * of each component (the same election [[exactGroups]] makes for
   * exact duplicates).
   */
  def dedupClusters(
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 25): DataFrame =
    connectedComponents(pairs, idA, idB, maxIter)
      .select(col("id"), col("component").as("cluster"),
        (col("id") === col("component")).as("is_keeper"))

  /**
   * Apply near-dup resolution to a corpus: drop every non-keeper member
   * of every cluster, keep keepers and untouched documents. The drop
   * set is the (small) candidate-pair closure, so the anti-join
   * broadcasts in the common case.
   */
  def resolveNearDups(
      df: DataFrame, id: String, pairs: DataFrame,
      idA: String = "id_a", idB: String = "id_b", maxIter: Int = 25): DataFrame = {
    val drops = dedupClusters(pairs, idA, idB, maxIter)
      .filter(!col("is_keeper"))
      .select(col("id").as("__gdrop"))
    Relational.antiJoin(df, drops, df(id) === col("__gdrop"))
  }

  /**
   * 64-bit SimHash of a token array via the one-pass codegen
   * [[graft.plans.SimHash64]] expression: each token votes ±1 per bit of
   * its hash, the vote sign becomes the bit — per-row, no explode, no
   * vote aggregate, no shuffle. Total: an EMPTY token array yields 0L
   * (all votes tie; a null output would force a null-guard filter that
   * predicate-pushdown double-evaluates); only a null input yields NULL.
   */
  def simhashSignature(spark: SparkSession, toks: Column): Column = {
    GraftFunctions.register(spark)
    call_function(GraftFunctions.simhashName, toks)
  }

  /**
   * Declarative reference form of [[simhashSignature]] over pre-hashed
   * tokens (kept as the spec's parity baseline). `tokenHashes` must be
   * an Array[Long] column; the 64 per-bit folds are built as static
   * expressions with fixed shifts.
   */
  def simhash64(tokenHashes: Column): Column =
    (0 until 64).map { i =>
      val vote = aggregate(tokenHashes, lit(0L), (a, h) =>
        a + when(shiftright(h, i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L))
      when(vote > 0L, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /**
   * SimHash near-dup pairs: block on 16-bit chunks of the simhash (two
   * docs within Hamming distance ≤ 3 of a 64-bit hash must agree exactly
   * on at least one of the 4 chunks — pigeonhole), then verify Hamming ≤
   * maxHamming. Same banded-join scale shape as MinHash LSH.
   */
  def simhashNearDups(df: DataFrame, id: String, toks: Column, maxHamming: Int = 3): DataFrame = {
    // One per-row pass of the codegen SimHash64 expression — no exploded
    // (doc, token) rows, no 64-column vote aggregate, no shuffle before
    // chunk blocking. (The previous explode → partial-SUM shape paid a
    // full shuffle of vote partials.)
    // Contentless docs (null/empty token arrays) are excluded BEFORE the
    // signature projection: they would all hash to 0 and pair with each
    // other at Hamming 0 despite having no content, with no downstream
    // verify stage to drop them. Filtering the INPUT keeps the expensive
    // signature single-evaluation (only the cheap `toks` subtree runs in
    // both the filter and the signature); a filter on the computed
    // column would be predicate-pushed below the projection and evaluate
    // the hash twice per row. The coalesce makes the column non-nullable
    // so the isnotnull constraint inferred from the Hamming filter
    // constant-folds instead of pushing a second evaluation.
    val hashed = df
      .filter(toks.isNotNull && size(toks) > 0)
      .select(col(id).as("__gid"),
        coalesce(simhashSignature(df.sparkSession, toks), lit(0L)).as("__gsim"))
    val chunked = hashed.select(col("__gid"), col("__gsim"),
        explode(expr("transform(sequence(0, 3), j -> struct(j AS chunk, shiftright(__gsim, j * 16) & 65535L AS val))")).as("cb"))
      .select(col("__gid"), col("__gsim"), col("cb.chunk").as("chunk"), col("cb.val").as("val"))
    chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.val") === col("b.val") &&
          col("a.__gid") < col("b.__gid"))
      .select(col("a.__gid").as("id_a"), col("b.__gid").as("id_b"),
        expr("bit_count(a.__gsim ^ b.__gsim)").as("hamming"))
      // filter BEFORE distinct: hamming is deterministic per pair, and
      // most chunk collisions are far pairs — dropping them first keeps
      // the dedup shuffle to true near-dups only
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /**
   * Blocked edit-distance matching: ALL pairs of rows whose `textCol`
   * values are within `maxDist` Levenshtein edits, compared only
   * INSIDE blocks sharing `blockKey` (e.g. a compound name+brand key,
   * a phonetic key) — the classic record-linkage shape. Never
   * all-pairs over the corpus: the self-join shuffles on the block key
   * and compares within blocks only.
   *
   * Blocks larger than `maxBlockSize` are NOT dropped (a dropped block
   * would silently lose every one of its pairs — with a single blocking
   * key there is no second band to catch them, unlike the LSH
   * operators). Instead they are sub-blocked by a LENGTH BAND of width
   * `maxDist + 1`, which is exact: |len(a) - len(b)| is a Levenshtein
   * lower bound, so any matching pair differs by at most `maxDist`
   * characters and its two bands differ by at most 1 — the same-band
   * self-join plus one adjacent-band join together see every matching
   * pair exactly once. Sub-blocking is therefore a physical
   * optimization only; the operator's result is identical to comparing
   * each block in full, and the oracle can state pure semantics with
   * no size cap. For data where a hot block is ALSO length-uniform the
   * bands cannot shrink it — cost control there is the caller's key
   * choice (pick a more selective compound key), never silent recall
   * loss. `levenshtein` is Spark-native codegen, no UDF; the
   * threshold-bounded form early-exits at `maxDist` instead of filling
   * the full |a|·|b| DP matrix.
   */
  def editDistancePairs(
      df: DataFrame, idCol: String, textCol: String, blockKey: Column,
      maxDist: Int, maxBlockSize: Int = 1000): DataFrame = {
    // EXPLICIT block-key partitioning ([[Par.spread]]): the in-block
    // pair compare is compute-heavy (a bounded-DP levenshtein per
    // surviving pair) but byte-light, so AQE coalesces the self-join's
    // reduce stage by BYTES down to 1-2 tasks and the whole compare
    // serializes (profiled at sf0.1: one 2-task job was q84's entire
    // cost). The spread is free of extra exchanges: the block-count
    // window and both same-key self-joins below reuse the same
    // hashpartitioning. ~20k input rows per task (pair volume grows
    // with block size, so err wide).
    val base = Par.spread(
      df.select(col(idCol), col(textCol), blockKey.as("__gblk")),
      col("__gblk"), 20000)
      .withColumn("__gbn", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__gblk")))
    // cheap length gate first (|len diff| is a Levenshtein lower
    // bound), then the threshold-bounded levenshtein (-1 above it)
    def compare(joined: DataFrame): DataFrame = joined
      .filter(abs(length(col("__gta")) - length(col("__gtb"))) <= maxDist)
      .withColumn("dist",
        levenshtein(col("__gta"), col("__gtb"), maxDist).cast("long"))
      .filter(col("dist") >= 0)
      .select("id_a", "id_b", "dist")

    val small = base.filter(col("__gbn") <= maxBlockSize)
    val sa = small.select(col("__gblk"),
      col(idCol).as("id_a"), col(textCol).as("__gta"))
    val sb = small.select(col("__gblk"),
      col(idCol).as("id_b"), col(textCol).as("__gtb"))
    val smallPairs = compare(
      sa.join(sb, "__gblk").filter(col("id_a") < col("id_b")))

    val big = base.filter(col("__gbn") > maxBlockSize)
      .withColumn("__gband", floor(length(col(textCol)) / (maxDist + 1)))
    val ba = big.select(col("__gblk"), col("__gband"),
      col(idCol).as("id_a"), col(textCol).as("__gta"))
    val bb = big.select(col("__gblk"), col("__gband"),
      col(idCol).as("id_b"), col(textCol).as("__gtb"))
    // same band: ordinary in-sub-block self-join
    val samePairs = compare(
      ba.join(bb, Seq("__gblk", "__gband")).filter(col("id_a") < col("id_b")))
    // adjacent bands: band b vs band b+1 — the two sides are disjoint
    // row sets, so no id_a<id_b filter (it would drop pairs whose id
    // order opposes the band order); normalize the id order instead.
    // The explicit inequality mirrors the strict `<` of the same-band
    // paths: two ROWS sharing one id value (duplicate ids in merged
    // sources) must not surface as a degenerate (x, x) self-pair here
    // when the other paths would drop them
    val adjPairs = compare(
      ba.withColumn("__gband", col("__gband") + 1)
        .join(bb, Seq("__gblk", "__gband"))
        .filter(col("id_a") =!= col("id_b")))
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"), col("dist"))

    smallPairs.unionByName(samePairs).unionByName(adjPairs)
  }

  /**
   * Dedup impact accounting — the before/after report a corpus owner
   * reads before signing off on a dedup run: per group (source), how
   * many documents and characters exist, how many survive exact
   * text-dedup (first occurrence by id, the dag.py:49 keep-first
   * semantics applied corpus-wide), and the duplicate fraction.
   *
   * Scale shape: one ROW_NUMBER window partitioned by the text
   * fingerprint (md5 — the same hash shuffle exact dedup itself needs;
   * the window ranks GLOBALLY so a cross-source duplicate is charged to
   * every group but its first), then one map-side-combinable
   * aggregation by group. Counts and char sums are exact integers; the
   * duplicate fraction is one double division.
   * Returns (group, n_docs, n_chars, docs_kept, chars_kept, dup_frac).
   */
  def dedupImpact(
      docs: DataFrame, id: String, groupCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val first = docs.withColumn("__grn", row_number().over(
      Window.partitionBy(md5(col(textCol))).orderBy(col(id))))
    first.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(length(col(textCol))).as("n_chars"),
        sum(when(col("__grn") === 1, 1L).otherwise(0L)).as("docs_kept"),
        sum(when(col("__grn") === 1, length(col(textCol))).otherwise(0))
          .as("chars_kept"))
      .withColumn("dup_frac",
        (col("n_docs") - col("docs_kept")).cast("double") /
          col("n_docs").cast("double"))
  }

  /**
   * Golden-record consolidation — the survivorship step that turns
   * resolved duplicate clusters ([[dedupClusters]] labels) into ONE
   * canonical row each: per cluster, the modal value of every requested
   * column (ties break to the smaller value, so the election is
   * deterministic under any layout), plus member count and the keeper
   * id. Records absent from the label frame are singleton clusters of
   * themselves — the whole table consolidates, not just the entangled
   * part.
   *
   * Scale shape: one left join of records to labels (both keyed by id),
   * then per column one (cluster, value) count aggregation whose mode
   * is elected by a second aggregation — `min(struct(−count, value))`
   * orders exactly like the (count desc, value asc) rank the election
   * wants, map-side combinable, no per-partition sort, no window. The
   * elected columns re-attach to the base aggregate through ONE
   * null-padded union + max-per-cluster aggregation (each branch emits
   * ≤ 1 row per cluster, so the max over the union IS the left-join
   * row) instead of one join per survivorship column; everything after
   * the first join is \|clusters\|-sized. The joined frame feeds the
   * base aggregate plus one mode-election branch PER value column, so
   * it is persisted (the q151/cacheSets multi-branch rule): with a
   * broadcastable labels side there is no exchange to reuse, and an
   * unpersisted frame would re-scan `records` once per survivorship
   * column. Null values never win an election (a column's mode is over
   * its non-null members; an all-null column yields NULL).
   *
   * Contract: `labels` is RECORD-BOUNDED — at most one row per id of
   * `records`, as [[dedupClusters]] yields over pairs drawn from these
   * records' ids. Below [[RangeRank.manyLeafRows]]' bar on `records`
   * the labels side is force-broadcast on the strength of this contract
   * alone (its own size is not estimated): a labels frame from an
   * unrelated or larger graph is broadcast unconditionally and can
   * exhaust the driver's memory.
   */
  def goldenRecord(
      records: DataFrame, labels: DataFrame, id: String,
      valueCols: Seq[String], labelId: String = "id"): DataFrame = {
    require(valueCols.nonEmpty, "goldenRecord needs value columns")
    // Broadcast the labels side while `records` is honestly small (the
    // leaf-row estimate, not the join-inflated byte one): labels is
    // record-bounded by the survivorship contract (one row per pair-
    // graph vertex, vertices drawn from the record ids), so a small
    // records frame means a broadcastable labels frame. This removes
    // the sort-merge join's two exchanges AND keeps `labeled` on the
    // records scan's (few-partition) layout — the persisted frame the
    // base + per-column election branches re-read was previously laid
    // out across a full shuffle width, so every branch paid a
    // shuffle-width map stage over a tiny cache (round-14 profile:
    // 0.5-1.2 s per branch of pure stage orchestration at sf0.1).
    // Past the row bar the planner keeps its own (exchange) pick.
    val labelsSel = labels.select(col(labelId).as("__gid"), col("cluster"))
    val labelsSide =
      if (!RangeRank.manyLeafRows(records)) broadcast(labelsSel) else labelsSel
    val labeled = records
      .join(labelsSide, records(id) === col("__gid"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col(id)))
      .drop("__gid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the union's column layout: (cluster, n_members, keeper_id,
    // valueCols...) with typed nulls in every slot a branch doesn't fill
    val types: Map[String, org.apache.spark.sql.types.DataType] =
      records.schema.fields.map(f => f.name -> f.dataType).toMap
    val idType = types(id)
    def slot(name: String, filled: Option[Column]): Column = filled match {
      case Some(c) => c.as(name)
      case None =>
        lit(null).cast(if (name == "n_members") "long"
          else if (name == "keeper_id") idType.sql else types(name).sql).as(name)
    }
    val outCols = Seq("n_members", "keeper_id") ++ valueCols
    def branch(df: DataFrame, filled: Set[String]): DataFrame =
      df.select(col("cluster") +:
        outCols.map(n => slot(n, if (filled(n)) Some(col(n)) else None)): _*)
    val base = branch(
      labeled.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"), min(col(id)).as("keeper_id")),
      Set("n_members", "keeper_id"))
    val modes = valueCols.map { c =>
      branch(
        labeled.filter(col(c).isNotNull)
          .groupBy(col("cluster"), col(c)).agg(count(lit(1)).as("__gn"))
          // min(struct(−n, v)) == first row of (n desc, v asc): the
          // deterministic modal election, as one combinable aggregate
          .groupBy(col("cluster"))
          .agg(min(struct((-col("__gn")).as("__gneg"), col(c).as("__gv")))
            .as("__gm"))
          .select(col("cluster"), col("__gm.__gv").as(c)),
        Set(c))
    }
    modes.foldLeft(base)(_ unionByName _)
      .groupBy(col("cluster"))
      .agg(max(col(outCols.head)).as(outCols.head),
        outCols.tail.map(n => max(col(n)).as(n)): _*)
  }

  /**
   * Cluster-size histogram over a resolved label frame
   * ([[dedupClusters]] / [[connectedComponents]] output): how many
   * clusters of each size exist. The companion readout to
   * [[degreeDistribution]] AFTER resolution — "isolated twins" vs "one
   * giant template family" decides whether keep-first deletion is safe
   * or a template-stripping pass should run first. Two
   * map-side-combinable aggregations, no joins.
   */
  def clusterSizeHistogram(
      labels: DataFrame, clusterCol: String = "cluster"): DataFrame =
    labels.groupBy(col(clusterCol)).agg(count(lit(1)).as("size"))
      .groupBy(col("size")).agg(count(lit(1)).as("n_clusters"))

  /**
   * Dedup threshold sweep — the operating curve behind choosing a
   * similarity cutoff: for each candidate threshold, how many pairs
   * fire and how many documents are touched. Run once on the LOWEST
   * threshold's pair output (e.g. [[setSimilarityJoin]] at 0.7) and
   * read the marginal impact of tightening; the table that turns "0.8
   * felt right" into a reviewed decision.
   *
   * The pair frame fans out by |thresholds| (a literal array explode,
   * ≤ a handful) and the doc side by 2 — bounded multipliers on a frame
   * that is already ≪ corpus-sized. Counts exact; thresholds compare
   * against the same score doubles both engines computed identically.
   * Thresholds no pair reaches simply don't appear (their row would be
   * all-zero).
   */
  def thresholdSweep(
      pairs: DataFrame, scoreCol: String, thresholds: Seq[Double],
      idA: String = "id_a", idB: String = "id_b"): DataFrame = {
    require(thresholds.nonEmpty, "thresholdSweep needs thresholds")
    // the n_pairs and n_docs aggregates are two plan branches over the
    // SAME pair frame — persist it or the (possibly whole-SSJoin) pair
    // generation runs twice (q151's edge-list precedent; caller-owned
    // lifetime via Caches.releaseAll)
    val kept = pairs
      .select(col(idA), col(idB), col(scoreCol).as("__gs"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val fanned = kept
      .select(col(idA), col(idB), col("__gs"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .filter(col("__gs") >= col("threshold"))
    val nPairs = fanned.groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = fanned
      .select(col("threshold"), explode(array(col(idA), col(idB))).as("__gid"))
      .distinct()
      .groupBy(col("threshold")).agg(count(lit(1)).as("n_docs"))
    nPairs.join(nDocs, Seq("threshold"))
  }

  /**
   * Incremental-ingest dedup: keep only the rows of `fresh` whose text
   * is NOT already in `baseline` — the daily-crawl-vs-historical-corpus
   * join, where the baseline is orders of magnitude larger than the
   * batch. Semantics are EXACTLY the anti-join on the md5 fingerprint;
   * the bloom filter only short-circuits it.
   *
   * Scale shape: the baseline's fingerprints fold into a fixed-size
   * bloom filter via a distributed `stat.bloomFilter` tree-aggregate
   * (driver holds one bounded sketch — the k-means-centroid contract,
   * sized by `expectedItems`/`fpp`, NOT by the data). The batch then
   * splits per-row on `might_contain`: a bloom MISS is definitely new
   * (no false negatives) and ships straight to the output with ZERO
   * join — at a 3% fpp that is ~97% of genuinely-new rows — while the
   * hits (true duplicates + fpp of the new rows) are the only rows that
   * pay the exact anti-join shuffle. The probe side of that join
   * carries fingerprints only. The two batch scans are parquet re-reads
   * of the SMALL side; the baseline is scanned once for the sketch and
   * once for the join build.
   *
   * The bloom probe is [[graft.plans.GraftFunctions.mightContainName]]
   * — Spark's own codegen `BloomFilterMightContain` over `xxhash64`
   * (the pairing `BloomFilterAggregate` itself uses), registered by
   * graft because Spark 4 exposes it to the optimizer but not the
   * FunctionRegistry.
   */
  def incrementalDedup(
      fresh: DataFrame, baseline: DataFrame, textCol: String,
      expectedItems: Long, fpp: Double): DataFrame = {
    require(expectedItems > 0 && fpp > 0 && fpp < 1,
      "incrementalDedup needs expectedItems > 0 and fpp in (0,1)")
    GraftFunctions.register(fresh.sparkSession)
    val baseFps = baseline.select(md5(col(textCol)).as("__gfp"))
    val bf = baseFps.select(xxhash64(col("__gfp")).as("__gh"))
      .stat.bloomFilter("__gh", expectedItems, fpp)
    val baos = new java.io.ByteArrayOutputStream()
    bf.writeTo(baos)
    val mightContain = call_function(GraftFunctions.mightContainName,
      lit(baos.toByteArray), xxhash64(md5(col(textCol))))
    val definitelyNew = fresh.filter(!mightContain)
    val candidates = fresh.filter(mightContain)
      .withColumn("__gfp", md5(col(textCol)))
      .join(baseFps, Seq("__gfp"), "left_anti")
      .drop("__gfp")
    definitelyNew.unionByName(candidates)
  }

  /**
   * Shingle novelty: per document, the fraction of its DISTINCT word
   * k-shingles whose corpus-wide first occurrence (minimum doc id) is
   * this document — the "how much genuinely new text does this doc
   * add" curve a dedup-aware ingestion pipeline reads before keeping a
   * crawl slice (dag.py:49's keep-first intent, measured instead of
   * enforced). Exact duplicates of earlier docs score 0; fully original
   * docs score 1; boilerplate-heavy docs sit in between — a softer
   * signal than pair-level near-dup detection because it needs no
   * threshold.
   *
   * Exactness: shingle counts and first-seen ids are exact integers;
   * the fraction is one IEEE division (the shingle set is never empty:
   * [[TextFns.wordShingles]] collapses short docs to one whole-text
   * shingle).
   *
   * Scale: one shingle explode → one MIN window partitioned by the
   * shingle key (the q176 dedup-impact shape: a window on the dedup
   * key evaluates the explode ONCE, where a groupBy + self-join would
   * replay it per branch) → one per-doc aggregation. Stock phrases are
   * the hot window keys — the same skew the q118 vocabulary shuffle
   * documents.
   */
  def shingleNovelty(
      docs: DataFrame, id: String, textCol: String, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // spread before the shingle explode — the unsplittable document
    // scan otherwise serializes the shingling stage ([[Par.spread]])
    val shingles = Par.spread(
      docs.select(col(id).as("__mid"), col(textCol).as("__mtxt")),
      col("__mid"), 5000)
      .select(col("__mid"),
        explode(TextFns.wordShingles(split(col("__mtxt"), " "), k)).as("__ms"))
    val firstSeen = shingles.withColumn("__mfirst",
      min(col("__mid")).over(Window.partitionBy(col("__ms"))))
    firstSeen
      .groupBy(col("__mid"))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("__mfirst") === col("__mid"), 1)).as("n_novel"))
      .select(col("__mid").as(id), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty_frac"))
  }

  /**
   * MinHash-LSH candidate pairs over an ENGINE-PORTABLE hash family:
   * per-shingle hashes are md5-derived (`conv(substr(md5(seed:shingle),
   * 1, 15), 16, 10)` — 60 bits, always positive), so a second engine
   * with md5 reproduces every signature, band key, and candidate pair
   * bit-for-bit. This is the hash-trust twin of [[minHashPairs]]
   * (dag.py:49's dedup intent at corpus scale): q29's codegen
   * [[graft.plans.MinHashSignature]] family is the production hot path
   * — one byte-walk per doc, no per-shingle md5 — while this variant
   * puts the ENTIRE banding machinery (signature → band key → bucket
   * join → pair dedup) under an external-oracle hash check, the same
   * upgrade q98-q100 gave the cluster-resolution family.
   *
   * Scale shape: shingle explode → ONE (id)-keyed aggregation computing
   * all `numHashes` mins map-side-combinably (the signature frame is
   * corpus-linear, never wider than numHashes columns) → band rows (a
   * numBands-way explode of a \|docs\|-row frame), PERSISTED before the
   * self-join (q151 rule: when AQE broadcasts one side the exchange-
   * reuse path disappears and an unpersisted frame would replay the
   * whole signature pipeline per side) → one self-join keyed by
   * (band, key). Nothing is all-pairs; fan-out is bounded by bucket
   * sizes exactly as in [[minHashPairs]].
   *
   * Returns (id_a, id_b, bands_shared), id_a < id_b.
   */
  /** The md5-derived minhash signature frame behind [[minHashMd5]] /
   *  [[minHashEstimate]]: one row per doc, columns `__mid, __mh0..` —
   *  shingle explode → ONE id-keyed aggregation of all mins. */
  def minHashMd5Signatures(
      docs: DataFrame, id: String, textCol: String,
      numHashes: Int, shingleK: Int): DataFrame = {
    // spread before the shingle explode: the per-shingle work
    // (numHashes md5s each) otherwise runs inside the unsplittable
    // document scan's 1-task stage ([[Par.spread]]; profiled 2.3 s of
    // q212's 2.9 s at sf0.1); min aggregation is placement-free
    val shingles = Par.spread(
      docs.select(col(id).as("__mid"), col(textCol).as("__mtxt")),
      col("__mid"), 1000)
      .select(col("__mid"),
        explode(TextFns.wordShingles(split(col("__mtxt"), " "), shingleK)).as("__ms"))
    val mins = (0 until numHashes).map { j =>
      min(conv(substring(md5(concat_ws(":", lit(j), col("__ms"))), 1, 15), 16, 10)
        .cast("long")).as(s"__mh$j")
    }
    shingles.groupBy(col("__mid")).agg(mins.head, mins.tail: _*)
  }

  def minHashMd5(
      docs: DataFrame, id: String, textCol: String,
      numHashes: Int = 6, bandSize: Int = 2, shingleK: Int = 3): DataFrame = {
    require(numHashes >= 2 && bandSize >= 1 && numHashes % bandSize == 0,
      "minHashMd5 needs numHashes a positive multiple of bandSize")
    val numBands = numHashes / bandSize
    val sigs = minHashMd5Signatures(docs, id, textCol, numHashes, shingleK)
    val bandRows = sigs.select(col("__mid"), explode(array(
      (0 until numBands).map { b =>
        struct(lit(b).as("band"), concat_ws(":",
          (0 until bandSize).map(k => col(s"__mh${b * bandSize + k}").cast("string")): _*)
          .as("key"))
      }: _*)).as("__mb"))
      .select(col("__mid"), col("__mb.band").as("__band"), col("__mb.key").as("__key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bandRows.select(col("__mid").as("id_a"), col("__band"), col("__key"))
      .join(bandRows.select(col("__mid").as("id_b"), col("__band"), col("__key")),
        Seq("__band", "__key"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("bands_shared"))
  }

  /**
   * MinHash calibration table: for every [[minHashMd5]] candidate pair,
   * the signature's Jaccard ESTIMATE (matching minhash fraction) next
   * to the EXACT shingle-set Jaccard — the measured answer to "how
   * tight is the sketch at my threshold", read before trusting an LSH
   * sweep (q187) at corpus scale. The md5 hash family keeps every
   * number externally replayable.
   *
   * Scale shape: the signature frame is PERSISTED (q151 rule — it
   * feeds the band join and both sides of the per-pair comparison);
   * the exact-Jaccard join touches only CANDIDATE pairs (bounded by
   * bucket collisions, never all-pairs), each re-shingling two texts —
   * set intersection via `array_intersect` on per-doc DISTINCT shingle
   * sets, exact integers into one fixed IEEE division.
   */
  def minHashEstimate(
      docs: DataFrame, id: String, textCol: String,
      numHashes: Int = 6, bandSize: Int = 2, shingleK: Int = 3): DataFrame = {
    require(numHashes >= 2 && bandSize >= 1 && numHashes % bandSize == 0,
      "minHashEstimate needs numHashes a positive multiple of bandSize")
    val sigs = minHashMd5Signatures(docs, id, textCol, numHashes, shingleK)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val numBands = numHashes / bandSize
    val bandRows = sigs.select(col("__mid"), explode(array(
      (0 until numBands).map { b =>
        struct(lit(b).as("band"), concat_ws(":",
          (0 until bandSize).map(k => col(s"__mh${b * bandSize + k}").cast("string")): _*)
          .as("key"))
      }: _*)).as("__mb"))
      .select(col("__mid"), col("__mb.band").as("__band"), col("__mb.key").as("__key"))
    val pairs = bandRows.select(col("__mid").as("id_a"), col("__band"), col("__key"))
      .join(bandRows.select(col("__mid").as("id_b"), col("__band"), col("__key")),
        Seq("__band", "__key"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("bands_shared"))
    val sigA = sigs.select(col("__mid").as("id_a") +:
      (0 until numHashes).map(j => col(s"__mh$j").as(s"__ma$j")): _*)
    val sigB = sigs.select(col("__mid").as("id_b") +:
      (0 until numHashes).map(j => col(s"__mh$j").as(s"__mb$j")): _*)
    val nEq = (0 until numHashes)
      .map(j => when(col(s"__ma$j") === col(s"__mb$j"), 1).otherwise(0))
      .reduce(_ + _)
    // the two shingle-set joins hash-build on the sets side above the
    // SSJoin row gate (the setSimilarityJoin verify rule: sort-merge's
    // external sorts of array rows are the spill driver). The sets
    // frame is NOT persisted: its replay is one codegen shingling scan,
    // and a MEMORY_AND_DISK write of the string arrays measured ~15%
    // SLOWER than the second scan at sf10 (persist is for join/agg
    // replays, not per-row codegen).
    val bigVerify = ssjoinHashGate(docs)
    val sets = docs.select(col(id).as("__sid"),
      TextFns.wordShingles(split(col(textCol), " "), shingleK).as("__sset"))
    def setsAs(idAs: String, as: String) = {
      val s = sets.select(col("__sid").as(idAs), col("__sset").as(as))
      if (bigVerify) s.hint("shuffle_hash") else s
    }
    val withSets = pairs
      .join(sigA, "id_a").join(sigB, "id_b")
      .withColumn("__gneq", nEq.cast("long"))
      .join(setsAs("id_a", "__sa"), "id_a")
      .join(setsAs("id_b", "__sb"), "id_b")
    val i = size(array_intersect(col("__sa"), col("__sb")))
    val u = size(col("__sa")) + size(col("__sb")) - i
    withSets.select(col("id_a"), col("id_b"), col("bands_shared"),
      (col("__gneq").cast("double") / lit(numHashes).cast("double")).as("est_jaccard"),
      (i.cast("double") / u.cast("double")).as("exact_jaccard"))
  }

  /**
   * SimHash near-dup candidate pairs over an ENGINE-PORTABLE hash
   * family — the hash-trust twin of [[simhashNearDups]] (q30), the
   * same upgrade [[minHashMd5]] gave q29's family: per-token hashes
   * are md5-derived (`conv(substr(md5(token), 1, 15), 16, 10)` — 60
   * bits, always positive), so a second engine with md5 replays every
   * vote, signature bit, chunk key, candidate pair, and Hamming
   * distance bit-for-bit. Signature: bit j (j < 60) is set iff
   * Σ_tokens (±1 by bit j of the token's hash) > 0 — token
   * MULTIPLICITY votes, and an exact tie leaves the bit clear (the
   * [[simhashSignature]] totality convention). Banding: the 60-bit
   * signature splits into 4 chunks of 15 bits; two signatures within
   * Hamming distance ≤ 3 must agree EXACTLY on at least one chunk
   * (pigeonhole), so the banded join has no false negatives at
   * `maxHamming` ≤ 3. dag.py:49's near-dup intent, sketch-familied.
   *
   * Scale shape: token explode → ONE (id)-keyed aggregation carrying
   * all 60 vote sums (map-side combinable; the signature frame is
   * corpus-linear) → 4 chunk rows per doc, PERSISTED before the
   * self-join (q151 rule) → one (chunk, val)-keyed bucket join with
   * the Hamming verify BEFORE the pair-dedup shuffle, so only true
   * near-dups pay it. [[simhashNearDups]]'s one-pass codegen
   * signature stays the production hot path; this twin puts the
   * identical banding machinery under an external-oracle hash check.
   *
   * `maxBucketSize > 0` drops rows landing in degenerate (chunk, val)
   * groups larger than the cap BEFORE the self-join — the
   * [[graft.operators.Similarity]] capBuckets contract: bounds the
   * within-bucket join at O(cap²) per bucket at the cost of pairs
   * whose ONLY agreeing chunk was a degenerate one (e.g. a corpus
   * where thousands of near-empty docs share a chunk value). The
   * default 0 keeps the exact pigeonhole guarantee — and the oracle
   * states exactly that.
   *
   * Returns (id_a, id_b, hamming), id_a < id_b, hamming ≤ maxHamming.
   */
  def simHashMd5(
      docs: DataFrame, id: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = 0): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      "simHashMd5's 4-chunk banding is exact only for maxHamming <= 3")
    val toks = docs.select(col(id).as("__sid"),
      explode(split(col(textCol), " ")).as("__stok"))
    val h = toks.select(col("__sid"),
      conv(substring(md5(col("__stok")), 1, 15), 16, 10).cast("long").as("__sh"))
    val votes = (0 until 60).map { j =>
      sum(when(shiftright(col("__sh"), j).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"__sv$j")
    }
    val sig = (0 until 60).map { j =>
      when(col(s"__sv$j") > 0L, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    val chunked = h.groupBy(col("__sid")).agg(votes.head, votes.tail: _*)
      .select(col("__sid"), sig.as("__ssig"))
      .select(col("__sid"), col("__ssig"), explode(expr(
        "transform(sequence(0, 3), c -> " +
          "struct(c AS chunk, shiftright(__ssig, c * 15) & 32767L AS val))"))
        .as("__sc"))
      .select(col("__sid"), col("__ssig"),
        col("__sc.chunk").as("__schunk"), col("__sc.val").as("__sval"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val capped =
      Similarity.capBuckets(chunked, Seq("__schunk", "__sval"), maxBucketSize)
    capped.select(col("__sid").as("id_a"), col("__ssig").as("__sa"),
        col("__schunk"), col("__sval"))
      .join(capped.select(col("__sid").as("id_b"), col("__ssig").as("__sb"),
        col("__schunk"), col("__sval")), Seq("__schunk", "__sval"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming", expr("bit_count(__sa ^ __sb)"))
      // verify BEFORE distinct: hamming is deterministic per pair, and
      // most chunk collisions are far pairs (the simhashNearDups rule)
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .distinct()
  }
}
