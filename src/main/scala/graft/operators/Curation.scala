package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFns

/**
 * Composed corpus-curation pipeline (SURVEY §2.2 capstone): the standard
 * pre-training recipe — language filter → quality filter → exact dedup —
 * as ONE declarative plan. Each stage is a library operator; composing
 * them keeps everything in a single Catalyst plan, so the scan is read
 * once, the scoring projections fuse into one codegen stage, and the
 * only shuffle is the dedup window's hash partition by text.
 */
object Curation {

  /**
   * Score, filter, and dedup a document corpus:
   *  0. optional source/domain blocklist gate ([[blocklistFilter]]) —
   *     defaults keep it off, so the base plan is unchanged;
   *  1. language-ID over stopword families, keep `langs`;
   *  2. quality score (token count, stopword ratio, length), keep
   *     >= `minQuality`;
   *  3. optional Gopher/C4 repetition gates (top-2-gram fraction,
   *     duplicate-line fraction, symbol-to-word ratio) — defaults
   *     disable them, so the base plan is unchanged;
   *  4. exact dedup on the text, electing the lowest `id` per group.
   * Returns (id, lang, quality) for the surviving documents.
   */
  def curate(
      df: DataFrame, id: String, textCol: String, nCharsCol: String,
      stopwords: Seq[String], langs: Seq[String],
      minQuality: Double,
      maxTop2GramFrac: Double = 1.0,
      maxDupLineFrac: Double = 1.0,
      maxSymbolWordRatio: Double = Double.PositiveInfinity,
      blockedSources: Seq[String] = Nil,
      blockedSourcePatterns: Seq[String] = Nil,
      sourceCol: String = "source"): DataFrame = {
    // provenance gate first: it's the cheapest predicate (no text math)
    // and fuses into the same scan, so blocked documents never reach
    // the scoring expressions
    val admitted =
      if (blockedSources.isEmpty && blockedSourcePatterns.isEmpty) df
      else blocklistFilter(df, sourceCol, blockedSources, blockedSourcePatterns)
    curateAdmitted(admitted, id, textCol, nCharsCol, stopwords, langs,
      minQuality, maxTop2GramFrac, maxDupLineFrac, maxSymbolWordRatio)
  }

  /**
   * Source/domain blocklist gate — the C4-style cleanup step the line
   * filter (q69) does not cover: real corpus pipelines always drop
   * documents from blocklisted domains / URL patterns before any text
   * processing. `blockedExact` is an exact membership test (a codegen
   * hash-set probe per row); `blockedPatterns` are RE2-compatible
   * regexes OR-folded into the same row predicate. Null sources are
   * dropped too — provenance that cannot be attested cannot be
   * allowlisted. Pure per-row filter: no shuffle, no join; a blocklist
   * too large for a literal predicate belongs in a broadcast anti-join
   * instead.
   */
  def blocklistFilter(df: DataFrame, sourceCol: String,
      blockedExact: Seq[String], blockedPatterns: Seq[String] = Nil): DataFrame = {
    val src = col(sourceCol)
    val exactHit =
      if (blockedExact.nonEmpty) src.isin(blockedExact.map(x => x: Any): _*)
      else lit(false)
    val patternHit = blockedPatterns.map(src.rlike).foldLeft(lit(false))(_ || _)
    df.filter(src.isNotNull && !(exactHit || patternHit))
  }

  private def curateAdmitted(
      df: DataFrame, id: String, textCol: String, nCharsCol: String,
      stopwords: Seq[String], langs: Seq[String],
      minQuality: Double,
      maxTop2GramFrac: Double,
      maxDupLineFrac: Double,
      maxSymbolWordRatio: Double): DataFrame = {
    val text = col(textCol)
    val toks = TextFns.tokens(text)
    val scored = df.select(
        col(id), text,
        TextFns.langId(toks).as("lang"),
        TextFns.qualityScore(
          TextFns.tokenCount(text),
          TextFns.stopwordHits(toks, stopwords),
          col(nCharsCol)).as("quality"))
      .filter(col("lang").isin(langs.map(x => x: Any): _*) &&
        col("quality") >= minQuality)
    // repetition gates fuse into the same scan/codegen stage; they are
    // only added when active so disabled gates cost nothing
    val gated = Seq[Option[Column]](
        if (maxTop2GramFrac < 1.0)
          Some(TextFns.topNGramFraction(df.sparkSession, text, 2) <= maxTop2GramFrac)
        else None,
        if (maxDupLineFrac < 1.0)
          Some(TextFns.duplicateLineFraction(text) <= maxDupLineFrac)
        else None,
        if (maxSymbolWordRatio != Double.PositiveInfinity)
          Some(TextFns.symbolToWordRatio(text) <= maxSymbolWordRatio)
        else None,
      ).flatten.foldLeft(scored)(_ filter _)
    Relational.keepFirst(gated, keys = Seq(text), order = Seq(col(id)))
      .select(col(id), col("lang"), col("quality"))
  }

  /**
   * Benchmark-contamination flags: corpus documents sharing at least
   * `minShared` winnowing fingerprints with any document of the
   * benchmark set — the standard pretraining hygiene step (eval
   * verbatim/near-verbatim leakage must not train). Winnowing's
   * guarantee makes the flag robust: any shared substring of length
   * >= k + w - 1 produces a shared fingerprint regardless of position,
   * so excerpts survive being embedded in unrelated text.
   *
   * Scale shape: the benchmark side is SMALL (eval suites are MBs, the
   * corpus is TBs) — its distinct fingerprint set is broadcast, so the
   * corpus never shuffles for the membership test; only the matched
   * (doc, fingerprint) rows — a tiny fraction — shuffle into the
   * per-doc count. Returns (id, shared).
   */
  def contaminationFlags(
      corpus: DataFrame, id: String, text: Column,
      benchmark: DataFrame, benchText: Column,
      k: Int = 24, w: Int = 4, minShared: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    val benchFp = benchmark
      .select(explode(Dedup.winnowFingerprints(spark, benchText, k, w)).as("__gfp"))
      .distinct()
    corpus
      .select(col(id), explode(Dedup.winnowFingerprints(spark, text, k, w)).as("__gfp"))
      .join(broadcast(benchFp), "__gfp")
      // winnow fingerprints are distinct within a doc, so the plain
      // count IS the distinct shared-fingerprint count
      .groupBy(col(id))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /**
   * Exact-substring decontamination — the oracle-friendly twin of
   * [[contaminationFlags]] for benchmark sets small enough to ship as
   * raw excerpts: flag corpus documents containing ANY excerpt
   * verbatim, returning (id, n_hits). Winnowing (q60) is the scale
   * path — position-robust near-verbatim detection over fingerprints;
   * this variant trades that robustness for semantics any engine
   * replicates exactly.
   *
   * Candidates come from [[excerptSpans]], which owns the two-path
   * split: a fixed benchmark (≤ 512 excerpts) broadcasts into a
   * CONTAINS nested-loop — the corpus streams through unshuffled —
   * while an excerpt list that grows WITH the corpus switches to the
   * anchor-gram equi-join. The flags path previously hard-wired the
   * NLJ; with both sides scaling that is docs × excerpts work —
   * measured 30.5× at the full-surface sf1→sf10 step (q99 52.3 s)
   * against ~linear for the anchor path. `n_hits` counts distinct
   * excerpts contained — [[excerptSpans]] dedups the excerpt frame at
   * entry, so the count is path-independent even for callers that pass
   * duplicate excerpt rows.
   */
  def containsExcerptFlags(corpus: DataFrame, id: String, text: Column,
      excerpts: DataFrame, excerptCol: String,
      anchorCutover: Int = 512): DataFrame =
    excerptSpans(corpus, id, text, excerpts, excerptCol, anchorCutover)
      .groupBy(col(id)).agg(count(lit(1)).as("n_hits"))

  /**
   * TF-IDF top-k terms per document — the classic two-level
   * shuffle-staged aggregation. Execution shape: ONE explode pass →
   * (doc, term) count (shuffle 1, map-side combined) → document
   * frequency as a count window over the term key (shuffle 2 — no
   * term-side self-join, so the tf frame is computed once, not twice) →
   * corpus size N rides in as a broadcast 1-row aggregate (metadata-only
   * count scan) → per-doc rank window (shuffle 3). Ordering is total:
   * (score desc, term asc). Engine-portability of the ranking: distinct
   * (tf, df) pairs can have MATHEMATICALLY equal scores (tf·ln(r) ==
   * ln(r^tf)) that different libm `log`s realize a double-ULP apart —
   * one engine would see a tie (term asc breaks it), the other a strict
   * order. Ranking on the FLOAT-narrowed score collapses double-ULP
   * noise (IEEE double→float narrowing is exactly defined), so both
   * engines see the same tie and break it identically.
   * idf = ln((N+1)/(df+1)) — the smoothed form that never divides by
   * zero and zeroes out corpus-universal terms.
   */
  def tfidfTopTerms(
      df: DataFrame, id: String, text: Column, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = df.select(col(id), explode(TextFns.tokens(text)).as("term"))
      .groupBy(col(id), col("term")).agg(count(lit(1)).as("tf"))
    val total = df.agg(count(lit(1)).as("__gn"))
    val scored = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .crossJoin(broadcast(total))
      .withColumn("score",
        (col("tf") * log((col("__gn") + 1).cast("double") / (col("df") + 1)))
          .cast("float"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col(id)).orderBy(col("score").desc, col("term").asc)))
      .filter(col("rank") <= k)
      .select(col(id), col("rank"), col("term"), col("tf"), col("df"))
  }

  /**
   * Token document-frequency quality stats: for each document, how
   * common are its tokens across the corpus — `mean_token_df` (average
   * document frequency over token OCCURRENCES) and `hapax_share` (the
   * fraction of occurrences whose token appears in no other document).
   * A high hapax share marks gibberish/OCR noise; an extreme common-
   * token share marks boilerplate — the corpus-relative complement of
   * q61's per-row quality gates.
   *
   * Scale shape: the DF table is built from DISTINCT (token, doc)
   * pairs — one dedup shuffle + one count, linear in corpus tokens,
   * never quadratic. The join back is token-keyed; its right side is
   * one row per vocabulary term (≪ corpus, broadcastable when the
   * vocab fits) and the occurrence side's Zipf-head skew is exactly
   * the shape AQE skew-join splitting handles. Final per-doc stats
   * are exact-integer sums divided once — engine-identical.
   */
  def tokenDfStats(docs: DataFrame, id: String, textCol: String): DataFrame = {
    val tok = docs.select(col(id), explode(TextFns.tokens(col(textCol))).as("__gtok"))
    val dfTab = tok.distinct()
      .groupBy("__gtok").agg(count(lit(1)).as("__gdf"))
    tok.join(dfTab, "__gtok")
      .groupBy(col(id))
      .agg(count(lit(1)).as("n_tokens"),
        (sum("__gdf").cast("double") / count(lit(1))).as("mean_token_df"),
        (sum(when(col("__gdf") === 1, 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("hapax_share"))
  }

  /**
   * Corpus bigram counts with add-k smoothed probabilities — the
   * n-gram language-model table behind perplexity filtering and
   * boilerplate detection. Bigrams generate per row with ZERO shuffle
   * (`zip_with` of two shifted slices of the token array — no
   * cross-row self-join on positions), counts map-side combine, and
   * the (N, V) normalizing constants are one broadcast scalar row
   * (the q04 pattern). `prob = (c + k) / (N + k·V)` is exact integers
   * into one fixed IEEE sequence — engine-portable (probabilities,
   * unlike log-probs, have no cross-libm exposure; rank on the prob,
   * take logs downstream).
   */
  def bigramCounts(
      docs: DataFrame, textCol: String, k: Long = 1L): DataFrame = {
    require(k >= 0, "add-k smoothing needs k >= 0")
    val w = split(col(textCol), " ")
    val bigrams = docs
      .select(explode(zip_with(
        slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
        (x, y) => concat_ws(" ", x, y))).as("bigram"))
    val counts = bigrams.groupBy(col("bigram")).agg(count(lit(1)).as("n"))
    val totals = counts.agg(sum(col("n")).as("__gN"),
      count(lit(1)).as("__gV"))
    counts.crossJoin(broadcast(totals))
      .withColumn("prob", (col("n") + k).cast("double") /
        (col("__gN") + lit(k) * col("__gV")).cast("double"))
      .drop("__gN", "__gV")
  }

  /**
   * Per-document language-model score from the corpus's own add-1
   * bigram counts: the mean smoothed bigram probability, the filter
   * statistic behind perplexity-style quality gating (documents whose
   * bigrams the corpus has never seen score near 1/(N+V); boilerplate
   * scores high). The mean stays EXACT-RATIONAL until the last step:
   * with add-1 smoothing every bigram's probability shares the
   * denominator (N+V), so mean prob = (Σc + k) / (k·(N+V)) where Σc
   * and the doc's bigram count k are exact integers — ONE final double
   * division, engine-portable with no per-bigram float sums. One
   * explode → one vocab-keyed join (the q118 AQE skew shape; the
   * shuffled bigram frame is the same subplan on both join sides, so
   * Catalyst reuses the exchange) → one per-doc aggregation. Documents
   * with fewer than two tokens have no bigrams and drop out.
   */
  def lmScore(docs: DataFrame, id: String, textCol: String): DataFrame = {
    val w = split(col(textCol), " ")
    val docBigrams = docs.select(col(id), explode(zip_with(
      slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
      (x, y) => concat_ws(" ", x, y))).as("bigram"))
    val counts = docBigrams.groupBy(col("bigram")).agg(count(lit(1)).as("__gn"))
    val totals = counts.agg(sum(col("__gn")).as("__gN"), count(lit(1)).as("__gV"))
    docBigrams.join(counts, "bigram")
      .groupBy(col(id))
      .agg((sum(col("__gn")) + count(lit(1))).as("__ghits"),
        count(lit(1)).as("__gk"))
      .crossJoin(broadcast(totals))
      .select(col(id), (col("__ghits").cast("double") /
        (col("__gk") * (col("__gN") + col("__gV"))).cast("double")).as("lm_score"))
  }

  /**
   * Distinctive vocabulary per group (χ² keyword extraction): the top-k
   * OVER-represented tokens of each group vs the rest of the corpus —
   * the domain-signature / topic-drift audit for a multi-source corpus.
   * Observed cell counts are exact integers; expected = row·col/grand
   * marginals combine in ONE fixed IEEE sequence (q136's discipline);
   * only cells with obs > expected rank (under-representation is not a
   * keyword). Marginals come from two key-partitioned windows over the
   * AGGREGATED cells frame (≤ |groups|·|vocab| rows, never raw tokens)
   * plus one broadcast grand-total scalar — no global window over an
   * unaggregated frame. Ranking is total via the (contribution desc,
   * token) tie-break.
   */
  def distinctiveTokens(
      docs: DataFrame, groupCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, "distinctiveTokens needs a positive k")
    val cells = docs
      .select(col(groupCol), explode(TextFns.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col(groupCol), col("token")).agg(count(lit(1)).as("obs"))
    val grand = cells.agg(sum(col("obs")).as("__gg"))
    val byGrp = Window.partitionBy(col(groupCol))
    val byTok = Window.partitionBy(col("token"))
    val scored = cells.crossJoin(broadcast(grand))
      .withColumn("__ge", sum(col("obs")).over(byGrp).cast("double") *
        sum(col("obs")).over(byTok).cast("double") / col("__gg").cast("double"))
      .filter(col("obs") > col("__ge"))
      .withColumn("contribution",
        (col("obs") - col("__ge")) * (col("obs") - col("__ge")) / col("__ge"))
    scored.withColumn("__gr", row_number().over(
        Window.partitionBy(col(groupCol))
          .orderBy(col("contribution").desc, col("token"))))
      .filter(col("__gr") <= k)
      .select(col(groupCol), col("token"), col("obs"), col("contribution"))
  }

  /**
   * Per-source boilerplate-line stripping (the CCNet/C4 refinement of
   * global line dedup, dag.py:47's cleaning step taken cross-document):
   * a line occurring in at least `minDocs` DISTINCT documents of the
   * SAME source is boilerplate — a navigation bar, a license banner, a
   * cookie notice — and is removed from EVERY document of that source
   * (unlike [[graft.operators.Dedup.globalLineDedup]], which keeps the
   * first occurrence). Documents are reassembled from their surviving
   * lines in original order; documents reduced to zero lines drop out.
   *
   * Scale shape: posexplode → distinct (source, line, doc) → count per
   * (source, line) → join back on (source, line) → reassembly groupBy
   * doc. Two hash shuffles on line-keyed frames plus the reassembly —
   * all linear, no self-join. The counts frame is |distinct lines| rows,
   * too big to broadcast at corpus scale, so the back-join stays a
   * shuffle join on the same (source, line) key the counts aggregation
   * already partitioned by. Blank lines never count as boilerplate.
   * Returns (id, clean, n_lines).
   */
  def boilerplateStrip(
      docs: DataFrame, id: String, sourceCol: String, textCol: String,
      minDocs: Int): DataFrame = {
    require(minDocs >= 2, "boilerplateStrip needs minDocs >= 2")
    val lines = docs.select(col(id), col(sourceCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__gpos", "__gline")))
    val boiler = lines
      .filter(trim(col("__gline")) =!= "")
      .select(col(sourceCol), col("__gline"), col(id)).distinct()
      .groupBy(col(sourceCol), col("__gline"))
      .agg(count(lit(1)).as("__gnd"))
      .filter(col("__gnd") >= minDocs)
      .select(col(sourceCol), col("__gline"), lit(true).as("__gboiler"))
    lines.join(boiler, Seq(sourceCol, "__gline"), "left")
      .filter(col("__gboiler").isNull)
      .groupBy(col(id))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("__gpos"), col("__gline")))),
            p => p.getField("__gline")), "\n").as("clean"),
        count(lit(1)).cast("int").as("n_lines"))
  }

  /**
   * Cross-source duplication matrix — "how much of source A also
   * appears in source B": for every unordered source pair, the number
   * of distinct non-blank lines present in both. The diagnostic that
   * catches a crawl ingested twice under two names, or a mirror site,
   * BEFORE corpus-wide dedup quietly deletes half of one source.
   *
   * Scale shape: distinct (source, line) — one hash shuffle, the frame
   * is ≤ |distinct lines|·|sources touching them| — then a self-join on
   * the line. The join key's fan-out per line is the number of SOURCES
   * carrying it (≤ 20 here, bounded by the source count — never the
   * document count), so the join output is |shared lines|·O(sources²)
   * worst case and the pair aggregation map-side combines to at most
   * |sources|² rows. `source_a < source_b` keeps each pair once.
   */
  def sourceOverlap(
      docs: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val sl = docs.select(col(sourceCol).as("__gsrc"),
        explode(split(col(textCol), "\n")).as("__gline"))
      .filter(trim(col("__gline")) =!= "")
      .distinct()
    val a = sl.select(col("__gsrc").as("source_a"), col("__gline"))
    val b = sl.select(col("__gsrc").as("source_b"), col("__gline"))
    a.join(b, Seq("__gline"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /**
   * Temperature-scaled source mixing weights (the multilingual/
   * multi-source rebalancing rule of Lample & Conneau 2019 and the
   * Pile): sampling weight w_s ∝ share_s^(1/T) with T = 2, i.e.
   * √share — upweights small sources, tempering the head without
   * flattening to uniform. The output feeds [[Features.mixtureSample]]
   * as its per-source keep probability (scaled by the caller's target
   * epoch budget).
   *
   * T is FIXED at 2 because √ is the one power IEEE 754 requires to be
   * correctly rounded — `pow(x, 1/T)` for general T differs between
   * libms in the last ulp and could not be oracle-verified. Exactness:
   * counts are exact ints; share is one exact-int division; the
   * normalizing sum accumulates the Ryu-shortest-string DECIMAL(28,18)
   * image of each √share (order-independent — a plain double sum of
   * √shares would be partition-order dependent); the final weight is
   * one division of string-round-tripped doubles. |sources| rows,
   * everything after the one count aggregation is broadcast-sized.
   * Returns (source, n_docs, share, weight).
   */
  def mixtureWeights(docs: DataFrame, sourceCol: String): DataFrame = {
    val counts = docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
    temperedWeights(counts, "n_docs")
      .select(col("source"), col("n_docs"), col("share"), col("weight"))
  }

  /** The √share → decimal-normalized weight core shared by
   *  [[mixtureWeights]] (doc-count measure) and [[tokenBudget]]
   *  (token-count measure): appends `share` and `weight` to a per-source
   *  counts frame. All frames involved are |sources| rows. */
  private def temperedWeights(counts: DataFrame, measure: String): DataFrame = {
    val total = counts.agg(sum(col(measure)).as("__gtot"))
    val scored = counts.crossJoin(broadcast(total))
      .withColumn("share",
        col(measure).cast("double") / col("__gtot").cast("double"))
      .withColumn("__gw",
        sqrt(col("share")).cast("string").cast("decimal(28,18)"))
    val norm = scored.agg(sum(col("__gw")).as("__gnorm"))
    scored.crossJoin(broadcast(norm))
      .withColumn("weight",
        col("__gw").cast("string").cast("double") /
          col("__gnorm").cast("string").cast("double"))
  }

  /**
   * Token-budget allocation per source — the planning table for a
   * training run: exact per-source token counts, T=2 tempered weights
   * over TOKEN share (the [[mixtureWeights]] rule on the measure that
   * actually feeds the model), each source's allocation out of a target
   * token budget, and the implied epoch count (allocation / available —
   * epochs > 1 means the source repeats; the number a data lead reads
   * before approving oversampling).
   *
   * One scan: per-row token counts (a per-row array op, no explode),
   * one aggregation to |sources| rows, then broadcast-sized arithmetic.
   * alloc = floor(target·weight) and epochs = alloc/available are fixed
   * double sequences; counts are exact ints. Token-less sources yield
   * NULL epochs.
   */
  def tokenBudget(
      docs: DataFrame, sourceCol: String, textCol: String,
      targetTokens: Long): DataFrame = {
    require(targetTokens > 0, "tokenBudget needs a positive target")
    val toks = filter(TextFns.tokens(col(textCol)), t => t =!= lit(""))
    val counts = docs
      .select(col(sourceCol).as("source"), size(toks).as("__gnt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__gnt").cast("long")).as("n_tokens"))
    temperedWeights(counts, "n_tokens")
      .withColumn("alloc_tokens",
        floor(lit(targetTokens.toDouble) * col("weight")).cast("long"))
      .withColumn("epochs",
        when(col("n_tokens") > 0,
          col("alloc_tokens").cast("double") / col("n_tokens").cast("double")))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("share"),
        col("weight"), col("alloc_tokens"), col("epochs"))
  }

  /**
   * Vocabulary growth curve (the Heaps'-law / corpus-novelty check):
   * bucket the doc-id axis into `nBuckets` equal-width ranges and count
   * how many DISTINCT tokens make their first corpus appearance in each
   * bucket, plus the running vocabulary size. A flattening curve means
   * new data is mostly re-treading known vocabulary — the cheap signal
   * for "more of the same crawl adds nothing".
   *
   * Scale shape: one explode → one (token → min id) aggregation — the
   * same shuffle a vocabulary build needs anyway — then bucket
   * assignment is pure integer arithmetic against two broadcast scalars
   * (min/max id), and the cumulative window runs over ≤ nBuckets rows.
   * Everything is exact integer; buckets are id-RANGE based (stable
   * under re-partitioning, no global row window; callers with
   * time-ordered ids get the time curve for free).
   */
  def vocabGrowth(
      docs: DataFrame, id: String, textCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets > 0, "vocabGrowth needs a positive bucket count")
    val firsts = docs
      .select(col(id).as("__gdoc"),
        explode(TextFns.tokens(col(textCol))).as("__gtok"))
      .filter(col("__gtok") =!= "")
      .groupBy(col("__gtok"))
      .agg(min(col("__gdoc")).as("__gfirst"))
    val bounds = docs.agg(min(col(id)).as("__glo"), max(col(id)).as("__ghi"))
    val bucketed = firsts.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        expr(s"CAST(((__gfirst - __glo) * $nBuckets) DIV (__ghi - __glo + 1) AS INT)"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_new_tokens"))
    bucketed.withColumn("cum_vocab",
      sum(col("n_new_tokens")).over(
        Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /**
   * Token frequency spectrum (frequency-of-frequencies): how many
   * distinct tokens occur exactly f times in the corpus — the Zipf
   * curve's dual, and the input to Good-Turing unseen-mass estimation
   * (P(unseen) ≈ spectrum(1)/total): a fat singleton band means the
   * corpus is still discovering vocabulary ([[vocabGrowth]]'s
   * stationary summary). Two map-side-combinable aggregations after one
   * explode — the same shuffle any vocabulary count needs; the second
   * groupBy is over ≤ |distinct frequencies| ≈ O(log N) heavy rows.
   * All-integer output.
   */
  def tokenFrequencySpectrum(
      docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextFns.tokens(col(textCol))).as("__gtok"))
      .filter(col("__gtok") =!= "")
      .groupBy(col("__gtok")).agg(count(lit(1)).as("freq"))
      .groupBy(col("freq")).agg(count(lit(1)).as("n_tokens"))

  /**
   * PII density audit per source — the governance table reviewed before
   * a corpus ships: per source, match counts for each PII class
   * (email / IPv4 / phone, [[graft.functions.TextFns]]' RE2-portable
   * patterns) and the combined rate per 1k tokens. Counts the RAW text
   * (no sequential redaction — classes are independent tallies), so the
   * numbers say what [[graft.functions.TextFns.redactPii]] WOULD touch.
   * One scan, per-row regexp counts, one aggregation; the density is
   * one fixed double sequence; token-less sources → NULL density.
   */
  def piiDensity(
      docs: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val text = col(textCol)
    val toks = filter(TextFns.tokens(text), t => t =!= lit(""))
    docs.select(col(sourceCol).as("source"),
        size(toks).as("__gnt"),
        regexp_count(text, lit(TextFns.emailPattern)).as("__ge"),
        regexp_count(text, lit(TextFns.ipv4Pattern)).as("__gi"),
        regexp_count(text, lit(TextFns.phonePattern)).as("__gp"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__gnt").cast("long")).as("n_tokens"),
        sum(col("__ge").cast("long")).as("n_email"),
        sum(col("__gi").cast("long")).as("n_ipv4"),
        sum(col("__gp").cast("long")).as("n_phone"))
      .withColumn("pii_per_1k",
        when(col("n_tokens") > 0,
          (col("n_email") + col("n_ipv4") + col("n_phone")).cast("double") *
            lit(1000.0) / col("n_tokens").cast("double")))
  }

  /**
   * Per-source quality report card: doc/token totals plus exact
   * percentiles of a length and a quality column — the one-page summary
   * a corpus owner reads per ingest ("source X's p10 quality collapsed
   * this week"). Callers derive the per-doc columns with the library's
   * per-row builders ([[graft.functions.TextFns.qualityScore]] et al.)
   * so the report composes with any scoring recipe.
   *
   * Quantiles come from [[graft.operators.Features.groupQuantiles]]'s
   * sort-rank selection (the q40 bit contract with DuckDB
   * `quantile_cont`, bounded memory at any cardinality — the quality
   * ratio is effectively distinct-per-doc, exactly the hash-map
   * percentile's OOM shape at corpus scale), one frame per measured
   * column joined null-safely onto the totals; the cheap monitoring
   * alternative remains `approx_percentile` (q48).
   *
   * The quality quantiles narrow to FLOAT (the q70 absorb convention):
   * interpolating between two DOUBLE scores is a different fixed IEEE
   * sequence per engine (lo + (hi−lo)·f vs lo·(1−f) + hi·f) and can
   * land 1 ulp apart on knife-edge data — observed once in 232×3
   * quantiles at sf1, never below. The float image absorbs the wobble
   * (quantum ~6e-8 relative ≫ 1 double ulp). med_tokens stays DOUBLE:
   * f = 0.5 over integers interpolates exactly in both engines.
   */
  def sourceQualityReport(
      perDoc: DataFrame, sourceCol: String, tokensCol: String,
      qualityCol: String): DataFrame = {
    val totals = perDoc.groupBy(col(sourceCol).as("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(tokensCol).cast("long")).as("n_tokens"))
    val toks = Features.groupQuantiles(
      perDoc.withColumnRenamed(sourceCol, "source"), Seq("source"),
      tokensCol, Seq(0.5 -> "med_tokens"))
    val quals = Features.groupQuantiles(
      perDoc.withColumnRenamed(sourceCol, "source"), Seq("source"),
      qualityCol, Seq(0.1 -> "__q10", 0.5 -> "__q50", 0.9 -> "__q90"))
    def bySource(r: DataFrame) = {
      val renamed = r.withColumnRenamed("source", "__qsrc")
      (l: DataFrame) => l.join(renamed, col("source") <=> col("__qsrc"))
        .drop("__qsrc")
    }
    bySource(quals)(bySource(toks)(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("med_tokens"),
        col("__q10").cast("float").as("p10_quality"),
        col("__q50").cast("float").as("p50_quality"),
        col("__q90").cast("float").as("p90_quality"))
  }

  /**
   * Pointwise-mutual-information collocations: word pairs that co-occur
   * adjacently far more than their unigram frequencies predict —
   * PMI = ln(c(xy)·N / (c(x)·c(y))). High-PMI pairs are the multiword
   * units ("new york", boilerplate stubs) a tokenizer or dedup shingler
   * should treat atomically; a corpus whose top pairs are template
   * debris has a boilerplate problem q173's stripper should see first.
   * `minCount` floors the bigram count — PMI is notoriously noisy on
   * rare pairs (a hapax pair maxes the score).
   *
   * Exactness: all counts are exact; the operands cast to double
   * BEFORE multiplying (the q136 overflow contract: c(xy)·N is past
   * int64 at fact scale) in one fixed sequence, and the ln image
   * routes through FLOAT (the q70 libm-ulp contract). No ordering is
   * imposed — ranking by the float is the caller's choice; the frame
   * is deterministic as a SET.
   *
   * Scale: one explode → bigram count shuffle; the two unigram joins
   * probe the SAME counts frame (Catalyst reuses the exchange, the
   * q155 shape) keyed by vocabulary — AQE handles stop-word skew as in
   * q118. Nothing is all-pairs; the bigram frame is corpus-linear.
   */
  def pmiCollocations(
      docs: DataFrame, textCol: String, minCount: Long): DataFrame = {
    require(minCount >= 1, "pmiCollocations needs minCount >= 1")
    val w = split(col(textCol), " ")
    val uni = docs.select(explode(w).as("__gw"))
      .groupBy(col("__gw")).agg(count(lit(1)).as("__gcw"))
    val totals = uni.agg(sum(col("__gcw")).as("__gN"))
    val pairs = docs
      .select(explode(zip_with(
        slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
        (x, y) => struct(x.as("w1"), y.as("w2")))).as("__gp"))
      .select(col("__gp.w1").as("w1"), col("__gp.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val pmi = (col("n_pair").cast("double") * col("__gN").cast("double") /
      (col("__gc1").cast("double") * col("__gc2").cast("double")))
    pairs
      .join(uni.select(col("__gw").as("w1"), col("__gcw").as("__gc1")), "w1")
      .join(uni.select(col("__gw").as("w2"), col("__gcw").as("__gc2")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("w1"), col("w2"), col("n_pair"),
        log(pmi).cast("float").as("pmi"))
  }

  /**
   * Per-source unigram Shannon entropy (nats) — the diversity dial next
   * to [[sourceQualityReport]]: a source whose token distribution has
   * collapsed (template spam, scraped boilerplate) shows entropy far
   * below its peers even when doc counts look healthy; vocabulary size
   * alone misses this because one dominating token barely moves it.
   *
   * Exactness: per-token p = c/N is exact-ints-to-one-division; each
   * −p·ln(p) term's ln routes through FLOAT (q70 libm contract), is
   * widened back to double EXACTLY, and is summed via its
   * DECIMAL(28,18) string image so the per-source total is
   * order-independent (the q197 contract) — float terms are exactly
   * representable in 18 fractional decimal digits.
   *
   * Scale: one explode → one (source, token) count shuffle → one
   * per-source aggregation; both aggregates are map-side combinable.
   * Per-source totals come back as a broadcast of the \|sources\|-row
   * frame, NOT a window — a window here would sort the whole
   * vocabulary frame for a value a tiny join supplies.
   */
  def sourceEntropy(
      docs: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val counts = docs
      .select(col(sourceCol).as("source"), explode(split(col(textCol), " ")).as("__gw"))
      .groupBy(col("source"), col("__gw")).agg(count(lit(1)).as("__gc"))
    val totals = counts.groupBy(col("source"))
      .agg(sum(col("__gc")).as("__gN"), count(lit(1)).as("__gv"))
    val p = col("__gc").cast("double") / col("__gN").cast("double")
    val term = (-p * log(p)).cast("float").cast("double")
      .cast("string").cast("decimal(28,18)")
    counts.join(broadcast(totals), "source")
      .groupBy(col("source"))
      .agg(max(col("__gN")).as("n_tokens"),
        max(col("__gv")).as("vocab"),
        sum(term).as("__gh"))
      .select(col("source"), col("n_tokens"), col("vocab"),
        col("__gh").cast("string").cast("double").as("entropy_nats"))
  }

  /**
   * Token burstiness (Katz): per token, the variance-to-mean ratio of
   * its per-document counts over the documents that CONTAIN it. Content
   * words burst (a doc about a topic repeats its terms: VMR ≫ 1);
   * function words spread evenly (VMR ≈ 1 under Poisson) — the signal
   * that separates topical vocabulary from glue without any stopword
   * list, and flags template tokens whose repetition is mechanical.
   * `minDf` floors document frequency: VMR over a handful of docs is
   * noise.
   *
   * Exactness: df, Σc, Σc² are exact integers (per-doc counts are
   * bounded, the squares stay far inside int64); population variance
   * via the moment form n·Σc² − (Σc)² runs on double-cast operands
   * (q136 overflow contract) in one fixed IEEE sequence; VMR is one
   * final division. No transcendentals — the doubles are
   * engine-identical, no float absorb needed.
   *
   * Scale: one explode → one (doc, token) count shuffle → one
   * per-token aggregation, both map-side combinable — the q118 shape
   * with an extra moment.
   */
  def tokenBurstiness(
      docs: DataFrame, id: String, textCol: String, minDf: Long): DataFrame = {
    require(minDf >= 2, "tokenBurstiness needs minDf >= 2 (variance needs two docs)")
    val perDoc = docs
      .select(col(id), explode(split(col(textCol), " ")).as("token"))
      .groupBy(col(id), col("token")).agg(count(lit(1)).as("__gc"))
    val m = perDoc.groupBy(col("token")).agg(
      count(lit(1)).as("df"),
      sum(col("__gc")).as("n_total"),
      sum(col("__gc") * col("__gc")).as("__gcc"))
      .filter(col("df") >= minDf)
    val dfD = col("df").cast("double")
    val mean = col("n_total").cast("double") / dfD
    val variance = (dfD * col("__gcc").cast("double") -
      col("n_total").cast("double") * col("n_total").cast("double")) / (dfD * dfD)
    m.select(col("token"), col("df"), col("n_total"),
      (variance / mean).as("burstiness"))
  }

  /** The correctly-rounded double of ln 2, embedded as a STRING literal
   *  on both engines (the VARCHAR detour): neither side ever calls its
   *  libm for the constant, so the parsed doubles are identical. */
  val ln2Literal = "0.6931471805599453"

  /**
   * Jensen-Shannon divergence (nats) of each source's unigram
   * distribution against the whole corpus — the "how far does this
   * source sit from the blend" dial a mixture designer reads next to
   * [[sourceEntropy]]'s within-source diversity: JSD is symmetric,
   * bounded by ln 2, and zero iff the source matches the corpus
   * distribution exactly.
   *
   * Math: with p = source distribution, q = corpus distribution and
   * m = (p+q)/2, JSD = ½·KL(p‖m) + ½·KL(q‖m). Only tokens PRESENT in
   * the source carry a p-term; the q-side splits into the present
   * tokens' terms plus a closed form for the absent mass — for an
   * absent token m = q/2, so its term is q·ln 2, and the absent terms
   * sum to ln 2 · (1 − coverage) where coverage = Σ_present q is one
   * exact-integer sum divided once. No per-token work outside the
   * source's own vocabulary.
   *
   * Determinism: p and q are exact-ints-to-one-division doubles; each
   * p·ln(2p/(p+q)) / q·ln(2q/(p+q)) term routes its ln through FLOAT
   * (q70 libm contract) and sums via its DECIMAL(28,18) string image
   * (q197 order-free contract); ln 2 itself is the [[ln2Literal]]
   * string parse, so no libm call survives into compared output.
   *
   * Scale: one explode → one (source, token) count shuffle, and the
   * counts frame (vocabulary-sized, far below the corpus) is PERSISTED
   * (q151 multi-branch rule: it feeds the corpus rollup, both totals,
   * and the join — without the persist each branch replays the corpus
   * explode) → one token-keyed corpus rollup joined back (vocab side —
   * the q118 AQE skew shape) → one per-source aggregation. Totals ride
   * as broadcast frames, never windows.
   */
  def jsDivergence(
      docs: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val counts = docs
      .select(col(sourceCol).as("source"), explode(split(col(textCol), " ")).as("__gw"))
      .groupBy(col("source"), col("__gw")).agg(count(lit(1)).as("__gc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpus = counts.groupBy(col("__gw")).agg(sum(col("__gc")).as("__gg"))
    val srcTotals = counts.groupBy(col("source")).agg(sum(col("__gc")).as("__gns"))
    val grand = counts.agg(sum(col("__gc")).as("__gn"))
    val p = col("__gc").cast("double") / col("__gns").cast("double")
    val q = col("__gg").cast("double") / col("__gn").cast("double")
    def absorb(c: Column) =
      c.cast("float").cast("double").cast("string").cast("decimal(28,18)")
    val joined = counts
      .join(corpus, "__gw")
      .join(broadcast(srcTotals), "source")
      .crossJoin(broadcast(grand))
    val agg = joined.groupBy(col("source")).agg(
      max(col("__gns")).as("n_tokens"),
      max(col("__gn")).as("__gnn"),
      sum(col("__gg")).as("__ggs"),
      sum(absorb(p * log(lit(2.0) * p / (p + q)))).as("__ga"),
      sum(absorb(q * log(lit(2.0) * q / (p + q)))).as("__gb"))
    def d(c: String) = col(c).cast("string").cast("double")
    val coverage = col("__ggs").cast("double") / col("__gnn").cast("double")
    val ln2 = lit(ln2Literal).cast("double")
    agg.select(col("source"), col("n_tokens"),
      coverage.as("coverage"),
      (lit(0.5) * (d("__ga") + d("__gb") + ln2 * (lit(1.0) - coverage)))
        .as("jsd_nats"))
  }

  /**
   * Zipf slope: OLS fit of ln(count) against ln(rank) over the corpus's
   * top-`k` tokens — the one-number summary of how natural the token
   * distribution is. Organic text sits near slope ≈ −1 (Zipf's law);
   * template/boilerplate corpora flatten the head (slope → 0) and
   * spam/degenerate generation steepens it. Rank ties break by token
   * (total order), so the fit replays exactly.
   *
   * Determinism: top-k selection is a distributed TakeOrderedAndProject
   * (count DESC, token ASC), never a global sort; ln(rank)/ln(count)
   * route through FLOAT (q70), their products are EXACT in double
   * (24-bit × 24-bit significands fit 53), and all four OLS sums run
   * over DECIMAL(28,18) string images (order-free); the closed-form
   * slope/intercept is the q191 fixed IEEE sequence. The rank window
   * orders a k-row frame — bounded by construction, not by data.
   */
  def zipfSlope(
      docs: DataFrame, textCol: String, k: Int = 100): DataFrame = {
    require(k >= 2, "zipfSlope needs k >= 2 (a line needs two points)")
    val top = docs
      .select(explode(split(col(textCol), " ")).as("__gw"))
      .groupBy(col("__gw")).agg(count(lit(1)).as("__gc"))
      .orderBy(col("__gc").desc, col("__gw").asc)
      .limit(k)
    val ranked = top.withColumn("__gr",
      row_number().over(Window.orderBy(col("__gc").desc, col("__gw").asc)))
    def fl(c: Column) = c.cast("float").cast("double")
    val v = ranked.select(
      fl(log(col("__gr").cast("double"))).as("__gx"),
      fl(log(col("__gc").cast("double"))).as("__gy"))
    def dec(c: Column) = c.cast("string").cast("decimal(28,18)")
    val m = v.agg(
      count(lit(1)).as("n"),
      sum(dec(col("__gx"))).as("__gsx"),
      sum(dec(col("__gy"))).as("__gsy"),
      sum(dec(col("__gx") * col("__gy"))).as("__gsxy"),
      sum(dec(col("__gx") * col("__gx"))).as("__gsxx"))
    def d(c: String) = col(c).cast("string").cast("double")
    val nD = col("n").cast("double")
    val den = nD * d("__gsxx") - d("__gsx") * d("__gsx")
    val slope = (nD * d("__gsxy") - d("__gsx") * d("__gsy")) / den
    m.withColumn("slope", when(den > 0, slope))
      .withColumn("intercept",
        when(den > 0, (d("__gsy") - col("slope") * d("__gsx")) / nD))
      .select(col("n"), col("slope"), col("intercept"))
  }

  /**
   * Good-Turing frequency re-estimation over the corpus's token
   * frequency spectrum (frequency-of-frequencies, the q198 dual): for
   * each observed count r ≤ `maxR`, the spectrum size N_r and the
   * smoothed count r* = (r+1)·N_{r+1}/N_r, alongside the constant
   * `unseen_mass` N_1/N — the probability the NEXT token drawn is one
   * never seen: the vocabulary-saturation dial next to q183's
   * growth curve (fat singleton band = the corpus is still discovering
   * words), and the discount table an LM smoother reads directly.
   *
   * Exactness: spectrum sizes and the token total are exact integers;
   * r* and the unseen mass are each (int·int)/int in ONE fixed IEEE
   * sequence (products in double — N_{r+1} at fact scale would not
   * overflow, but the double route is the q216 convention). r* is NULL
   * when N_{r+1} = 0 (the estimator is undefined at spectrum holes).
   *
   * The unit is a caller-supplied array column (`units`) — unigrams,
   * shingles, n-grams: the estimator needs a unit whose spectrum has a
   * low-count tail (a tiny closed vocabulary has no N_1 band and the
   * table is empty by construction — the honest answer, not a bug).
   *
   * Scale: the q198 shape — one explode → one unit-count shuffle →
   * one count-keyed rollup; the spectrum frame is ≤ |distinct counts|
   * rows, so the r↔r+1 self-join and the totals broadcast are bounded;
   * `maxR` caps the output, not the computation.
   */
  def goodTuring(
      docs: DataFrame, units: Column, maxR: Long = 10L): DataFrame = {
    require(maxR >= 1, "goodTuring needs maxR >= 1")
    // spread the RAW doc rows (keyed on the whole row — `units` is an
    // opaque expression, so there is no id to key on) BEFORE evaluating
    // the unit expression: unit construction is itself the heavy part,
    // and projecting it map-side would serialize it back into the
    // unsplittable scan's one task ([[graft.operators.Par.spread]])
    val freqs = graft.operators.Par.spread(
      docs, struct(docs.columns.map(col): _*), 5000)
      .select(explode(units).as("__gw"))
      .filter(col("__gw") =!= "")
      .groupBy(col("__gw")).agg(count(lit(1)).as("__gf"))
    val spectrum = freqs.groupBy(col("__gf").as("r"))
      .agg(count(lit(1)).as("n_r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = spectrum.agg(
      sum(col("r") * col("n_r")).as("__gn"),
      sum(when(col("r") === 1, col("n_r"))).as("__gn1"))
    val next = spectrum.select((col("r") - 1).as("r"), col("n_r").as("__gnr1"))
    val body = spectrum.filter(col("r") <= maxR)
      .join(next, Seq("r"), "left")
      .crossJoin(broadcast(totals))
      .select(col("r"), col("n_r"),
        when(col("__gnr1").isNotNull,
          (col("r") + 1).cast("double") * col("__gnr1").cast("double") /
            col("n_r").cast("double")).as("r_star"),
        (coalesce(col("__gn1"), lit(0L)).cast("double") /
          col("__gn").cast("double")).as("unseen_mass"))
    body
  }

  /**
   * Template-phrase miner: word k-shingles whose DOCUMENT frequency
   * exceeds `minFrac` of the corpus — the phrase-level boilerplate
   * candidates (cookie banners, licence headers, navigation crumbs) a
   * curation pass turns into a strip list. Complements the line-level
   * [[boilerplate detection|dag.py:49]] twins: q174 removes repeated
   * LINES within a source; this surfaces repeated PHRASES across the
   * whole corpus regardless of line structure, and q61's per-row
   * top-gram share can't see across documents at all.
   *
   * Exactness: per-doc shingle sets are DISTINCT ([[TextFns
   * .wordShingles]]), so df counts documents, not occurrences; df and
   * the doc total are exact integers; the fraction is one IEEE
   * division.
   *
   * Scale: one shingle explode → one shingle-keyed count (map-side
   * combinable, the q71/q118 vocabulary shuffle with its documented
   * stock-phrase skew) → a threshold filter that prunes the frame to
   * the template tail before anything else touches it; the doc count
   * rides as a broadcast one-row frame.
   */
  def templatePhrases(
      docs: DataFrame, id: String, textCol: String, k: Int,
      minFrac: Double): DataFrame = {
    require(minFrac > 0 && minFrac <= 1, "templatePhrases needs minFrac in (0,1]")
    val n = docs.agg(count(lit(1)).as("__gn"))
    // spread before the shingle explode ([[graft.operators.Par.spread]]
    // — the unsplittable bench-scale scan otherwise serializes the
    // shingling + partial count into one task)
    val df = graft.operators.Par.spread(
      docs.select(col(id).as("__gdid"), col(textCol).as("__gtxt")),
      col("__gdid"), 5000)
      .select(col("__gdid"),
        explode(TextFns.wordShingles(split(col("__gtxt"), " "), k)).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    df.crossJoin(broadcast(n))
      .withColumn("df_frac", col("df").cast("double") / col("__gn").cast("double"))
      .filter(col("df_frac") >= minFrac)
      .select(col("shingle"), col("df"), col("df_frac"))
  }

  /**
   * Contamination forensics: for every (document, benchmark-excerpt)
   * verbatim hit, WHERE the excerpt sits — first character position
   * and non-overlapping occurrence count — the evidence table a
   * decontamination review reads after [[containsExcerptFlags]] says
   * "flagged" (was it a quoted snippet or wholesale inclusion? once or
   * templated everywhere?).
   *
   * Exactness: positions and counts are pure string arithmetic —
   * `instr` (1-based, chars) and the length-delta trick
   * (len − len(replace(text, excerpt, ''))) / len(excerpt), a
   * division of exact multiples. No regex, so excerpt metacharacters
   * can't misfire.
   *
   * Scale: two paths behind one semantics. A FIXED benchmark (the real
   * decontamination shape, excerpts ≪ corpus) broadcasts and the
   * containment scan is linear in the corpus. But excerpts need not
   * stay small relative to per-document text (this round's scale step
   * measured an excerpt list growing WITH the corpus: broadcast-NLJ
   * cost is docs × excerpts × |text| — quadratic in scale factor,
   * 227× at a 100× step). Above `anchorCutover` excerpts, candidates
   * come from an ANCHOR-GRAM equi-join instead: every document
   * position's leading `A`-char gram (A = the shortest excerpt,
   * capped at 24 — probed as one bounded agg-to-literal scalar)
   * xxhash64-joined against each excerpt's leading gram. A verbatim
   * hit at position p forces an anchor match at p, so candidates are
   * a superset and the `instr > 0` filter — the exact predicate the
   * NLJ used as its join condition — discards anchor/hash
   * coincidences. Everything shuffles by hash key; both sides stay
   * linear. Outputs are identical by construction (same final
   * predicate, same span arithmetic).
   */
  def excerptSpans(
      corpus: DataFrame, id: String, text: Column,
      excerpts0: DataFrame, excerptCol: String,
      anchorCutover: Int = 512): DataFrame = {
    // Dedup the excerpt frame HERE, not by caller convention: the NLJ
    // path would count duplicate excerpt rows while the anchor path's
    // (doc, excerpt) dedup collapses them, and path selection flips on
    // excerpt count vs anchorCutover — a caller that forgot .distinct()
    // would see n_hits silently change as its benchmark grows past the
    // cutover. The dedup is one excerpt-keyed aggregate over the tiny
    // side of the join.
    val excerpts = excerpts0.dropDuplicates(excerptCol)
    val ex = col(excerptCol)
    def spans(pairs: DataFrame): DataFrame = pairs
      .filter(instr(text, ex) > 0)
      .select(col(id), ex.as("excerpt"),
        instr(text, ex).cast("long").as("first_pos"),
        ((length(text) - length(call_function("replace", text, ex, lit(""))))
          .cast("double") / length(ex).cast("double")).cast("long").as("n_occ"))
    // one bounded probe: excerpt count + shortest excerpt (the
    // medians/centroids agg-to-literal convention)
    val probe = excerpts.agg(count(lit(1)), min(length(ex))).head()
    val nEx = probe.getLong(0)
    // isNullAt guards the all-NULL-excerpt frame (min(length) is null
    // there); the NLJ path handles null excerpts via instr returning null
    if (nEx == 0 || probe.isNullAt(1))
      return spans(corpus.crossJoin(broadcast(excerpts)))
    val minLen = probe.getInt(1)
    if (nEx <= anchorCutover || minLen < 4)
      return spans(corpus.crossJoin(broadcast(excerpts)))
    val a = math.min(minLen, 24)
    val exKeyed = excerpts.select(ex,
      xxhash64(substring(ex, 1, a)).as("__gak"))
    // per-doc DISTINCT anchor hashes (array_distinct before the explode
    // keeps repeated-phrase docs from fanning out), then the hash-keyed
    // candidate join; (doc, excerpt) dedup because one excerpt can
    // anchor-match several positions (the excerpt frame itself is
    // already distinct — deduped at entry).
    val grams = corpus.select(col(id).as("__gaid"), text.as("__gatxt"))
      .select(col("__gaid"), explode(array_distinct(
        transform(
          sequence(lit(1), greatest(length(col("__gatxt")) - (a - 1), lit(1))),
          p => xxhash64(col("__gatxt").substr(p, lit(a)))))).as("__gak"))
    val candIds = grams.join(exKeyed.select(col("__gak"), ex), "__gak")
      .select(col("__gaid"), ex).distinct()
    spans(corpus.join(candIds,
      col(id) === col("__gaid")).drop("__gaid"))
  }

  /**
   * Multinomial naive-Bayes source attribution with add-1 smoothing —
   * the classical lightweight text classifier curation pipelines run
   * at corpus scale (the Wikipedia-vs-crawl quality filter shape):
   * train per-class token counts, score every document by
   * ln(prior) + Σ_occurrences ln((c+1)/(T_c+V)), emit the argmax
   * class next to the true one. Trains and predicts on the same
   * corpus here — the self-attribution readout that measures how
   * separable the sources are.
   *
   * Determinism: every ln routes through FLOAT and sums via its
   * DECIMAL(28,18) string image per (doc, class) — the q197 order-free
   * contract — and the argmax compares those EXACT decimal scores
   * with a class tiebreak (q210's decimal-at-the-edge rule).
   * Probability ratios are exact-ints-to-one-division doubles.
   *
   * Scale: two scoring paths, gated on the measured grid size
   * \|vocab\| × \|classes\| (one bounded agg-to-literal probe over the
   * cached doc-token frame; `graft.nb.gridCells` overrides the 1M-cell
   * default). While the grid fits — every natural-language corpus
   * whose tokenizer has a bounded vocabulary — the dense (class,
   * token) term grid (seen-or-fallback, precomputed) is BROADCAST and
   * the doc-token frame, pre-partitioned by DOC id, fans out its
   * \|classes\| rows per token INSIDE the broadcast join: the
   * per-(doc, class) aggregation and the argmax window both reuse the
   * id partitioning, so the corpus × \|classes\| intermediate never
   * crosses an exchange (the earlier shape shuffled + sorted it for a
   * sort-merge join against the vocabulary-sized term frame — the
   * measured 8.8×-step driver at sf10, since AQE materializes that
   * exchange before it can demote the join). Past the gate — vocab
   * grows with the corpus under Heaps' law, billions of distinct
   * tokens at web scale — scoring falls back to the (class,
   * token)-keyed left join over the class-crossed doc-token frame,
   * left to AQE exactly like q118's tokenDf join ([[tokenDf]]).
   * Only genuinely bounded frames — the grid under its gate,
   * per-class totals, priors, the 1-row vocab/doc counts — carry
   * broadcast hints.
   */
  def naiveBayesSource(
      docs: DataFrame, id: String, classCol: String, textCol: String): DataFrame = {
    def absorb(c: Column) =
      c.cast("float").cast("double").cast("string").cast("decimal(28,18)")
    // ONE corpus pass: the (doc, token) occurrence counts feed BOTH the
    // training counts and the scoring join (the raw exploded frame fed
    // two branches = the tokenizer ran twice), and the per-occurrence
    // score sum collapses to an exact count×term decimal product —
    // decimal(28,18) × decimal(9,0) types as decimal(38,18), no
    // precision cap, so Σ_occurrences d ≡ k·d bit-for-bit (argmax
    // unchanged; the 1e9 per-(doc,token) count bound is structural: a
    // document's length bounds any token's occurrences).
    // pre-partitioned by DOC id (not the aggregation key): hash(id)
    // satisfies every downstream per-doc clustering — the (id, class)
    // score aggregation and the argmax window — so the class-fanned
    // scoring frame never needs an exchange of its own on the dense
    // path. The groupBy below runs exchange-free on top of it (id ⊆
    // (id, true, tok) clustering). The exchange sits BEFORE the
    // tokenize explode, sized by [[Par.widthFor]]: with it after, the
    // split+explode ran map-side inside the unsplittable scan's 1-2
    // tasks (the Par.spread pathology — profiled as four ~2 s 2-task
    // jobs at sf0.1), and the exchange itself moves raw doc rows, not
    // the exploded token fan-out (guide §2.3: shuffle fewer bytes).
    val docBase = docs.select(col(id), col(classCol).as("__gtrue"),
      col(textCol).as("__gtxt"))
    val docTok = docBase
      .repartition(graft.operators.Par.widthFor(docBase, 2000), col(id))
      .select(col(id), col("__gtrue"),
        explode(split(col("__gtxt"), " ")).as("__gtok"))
      .groupBy(col(id), col("__gtrue"), col("__gtok"))
      .agg(count(lit(1)).as("__gk"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // counts is PERSISTED (vocabulary × classes — bounded far below the
    // corpus): it feeds classTotals, vocab, seenTerms, the grid build
    // and the grid probe, and each of those runs inside its OWN
    // broadcast-exchange future where AQE's shuffle-stage reuse does
    // not fire — unpersisted, every one of them re-ran the corpus-wide
    // (class, token) aggregation over the docTok cache (profiled at
    // sf0.1: four concurrent 32-task ~2 s map stages + seven 1-task
    // reduce stages for ONE logical aggregation).
    val counts = docTok.groupBy(col("__gtrue").as("__gcls"), col("__gtok"))
      .agg(sum(col("__gk")).as("__gc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // bounded probe FIRST (the medians/centroids agg-to-literal
    // convention): vocab × class cardinalities route the scoring path,
    // size the cache reads below, and |vocab| becomes the __gV literal
    // — the separate vocabulary-count subtree this replaces aggregated
    // the SAME exact distinct count in its own broadcast future. The
    // probe is also what materializes the counts cache before the
    // concurrent subtrees read it.
    val gridProbe = counts.agg(
      count_distinct(col("__gtok")), count_distinct(col("__gcls"))).head()
    val vocabCount = gridProbe.getLong(0)
    val gridCells = vocabCount * gridProbe.getLong(1)
    // probed-width cache reads: counts is |vocab × classes| rows spread
    // across the full shuffle width by its aggregation (cached plans
    // keep their partitioning — AQE does not re-coalesce them), so each
    // of the ~7 concurrent broadcast subtrees paid a 32-task map stage
    // over a few thousand rows (round-14 profile: 0.3-0.7 s per
    // subtree of stage orchestration). One task per ~250k probed cells,
    // clamped [1, 16× cores] — scale-adaptive, trivial at bench scale,
    // full-width once the vocabulary actually grows.
    val countsW = {
      val cores = docs.sparkSession.sparkContext.defaultParallelism
      counts.coalesce(
        math.min(math.max(1L, gridCells / 250000L), cores * 16L).toInt)
    }
    val classTotals = countsW.groupBy(col("__gcls")).agg(sum(col("__gc")).as("__gT"))
    val docsPerClass = docs.groupBy(col(classCol).as("__gcls"))
      .agg(count(lit(1)).as("__gnc"))
    val nDocs = docs.agg(count(lit(1)).as("__gnd"))
    val classes = classTotals.join(broadcast(docsPerClass), "__gcls")
      .crossJoin(broadcast(nDocs))
      .withColumn("__gV", lit(vocabCount))
    // the ln((c+1)/(T_c+V)) term depends only on (class, token), so it
    // is PRECOMPUTED once on the vocabulary-sized frame (and once per
    // class for the unseen-token fallback, where c = 0) — paying the
    // log + decimal-absorb per OCCURRENCE would redo the same
    // |vocab|·|classes| values corpus-many times. The decimal terms
    // summed are identical, so the restructure is bit-identical.
    val seenTerms = countsW
      .join(broadcast(classes.select(col("__gcls"), col("__gT"), col("__gV"))),
        "__gcls")
      .select(col("__gcls"), col("__gtok"),
        absorb(log((col("__gc") + 1).cast("double") /
          (col("__gT") + col("__gV")).cast("double"))).as("__gseen"))
    val fallback = classes.select(col("__gcls"),
      absorb(log(lit(1L).cast("double") /
        (col("__gT") + col("__gV")).cast("double"))).as("__gmiss"))
    val scored = (if (
        gridCells <= graft.Sessions.knob(docs.sparkSession, graft.Sessions.NbGridCells)) {
      // dense path: the full (class, token) term grid — seen where
      // trained, the class fallback elsewhere — broadcast against the
      // id-partitioned doc-token frame. The per-(doc, token) coalesce
      // is precomputed into the grid cell, so the summed decimals are
      // IDENTICAL to the sparse path's term stream.
      val grid = countsW.select(col("__gtok")).distinct()
        .crossJoin(fallback)
        .join(seenTerms, Seq("__gcls", "__gtok"), "left")
        .select(col("__gcls"), col("__gtok"),
          coalesce(col("__gseen"), col("__gmiss")).as("__gcell"))
      docTok.select(col(id), col("__gtok"), col("__gk"))
        .join(broadcast(grid), "__gtok")
        .select(col(id), col("__gcls"),
          (col("__gcell") * col("__gk").cast("decimal(9,0)")).as("__gterm"))
    } else {
      // sparse path: seenTerms is vocabulary-sized — no broadcast hint;
      // AQE picks broadcast only while the frame actually fits
      docTok.select(col(id), col("__gtok"), col("__gk"))
        .crossJoin(broadcast(fallback))
        .join(seenTerms, Seq("__gcls", "__gtok"), "left")
        .select(col(id), col("__gcls"),
          (coalesce(col("__gseen"), col("__gmiss")) *
            col("__gk").cast("decimal(9,0)")).as("__gterm"))
    })
      .groupBy(col(id), col("__gcls"))
      .agg(sum(col("__gterm")).as("__gsum"))
    val priors = classes.select(col("__gcls"),
      absorb(log(col("__gnc").cast("double") / col("__gnd").cast("double")))
        .as("__gprior"))
    val full = scored.join(broadcast(priors), "__gcls")
      .withColumn("__gscore", col("__gsum") + col("__gprior"))
    val best = full.withColumn("__grk", row_number().over(
      Window.partitionBy(col(id))
        .orderBy(col("__gscore").desc, col("__gcls").asc)))
      .filter(col("__grk") === 1)
      .select(col(id), col("__gcls").as("predicted"))
    docs.select(col(id), col(classCol).as("actual"))
      .join(best, id)
      .withColumn("correct", col("actual") === col("predicted"))
  }

  /**
   * BM25 retrieval scoring (Robertson/Sparck-Jones, k1/b defaults)
   * against a deterministic query — here the corpus's own top-`nTerms`
   * tokens (count desc, token asc), so the query needs no external
   * input: the ranking primitive behind retrieval-based curation and
   * eval-set mining, one step past q70's raw TF-IDF.
   *
   * Determinism: idf = ln((N − df + ½)/(df + ½) + 1) routes through
   * FLOAT (q70 libm contract); each term's score is a fixed IEEE
   * sequence over exact ints (tf, dl) and one avgdl division; the
   * per-doc sum runs over DECIMAL(28,18) images of the ≤`nTerms`
   * term scores, and the top-k ranks on that EXACT decimal with a
   * doc-id tiebreak before the score re-emerges as a double.
   *
   * Scale: the query-term frame (with df and idf) is `nTerms` rows —
   * broadcast against the doc-token counts keyed by token; doc
   * lengths ride a second broadcastable frame; one rank window
   * bounded by the top-k filter.
   */
  def bm25TopK(
      docs: DataFrame, id: String, textCol: String,
      nTerms: Int, k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(nTerms >= 1 && k >= 1, "bm25TopK needs nTerms >= 1 and k >= 1")
    def absorb(c: Column) =
      c.cast("float").cast("double").cast("string").cast("decimal(28,18)")
    val toks = docs.select(col(id), explode(split(col(textCol), " ")).as("__gtok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dl = toks.groupBy(col(id)).agg(count(lit(1)).as("__gdl"))
    val stats = dl.agg(sum(col("__gdl")).as("__gtotal"), count(lit(1)).as("__gn"))
    val terms = toks.groupBy(col("__gtok")).agg(count(lit(1)).as("__gtc"))
      .orderBy(col("__gtc").desc, col("__gtok").asc).limit(nTerms)
      .select(col("__gtok"))
    val tf = toks.join(broadcast(terms), "__gtok")
      .groupBy(col(id), col("__gtok")).agg(count(lit(1)).as("__gtf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // df = rows per token of the (doc, term) frame — no second corpus pass
    val df_ = tf.groupBy(col("__gtok")).agg(count(lit(1)).as("__gdf"))
    val withIdf = df_.crossJoin(broadcast(stats))
      .select(col("__gtok"),
        col("__gn"), col("__gtotal"),
        log((col("__gn").cast("double") - col("__gdf").cast("double") + lit(0.5)) /
          (col("__gdf").cast("double") + lit(0.5)) + lit(1.0))
          .cast("float").cast("double").as("__gidf"))
    val avgdl = col("__gtotal").cast("double") / col("__gn").cast("double")
    val tfD = col("__gtf").cast("double")
    val termScore = col("__gidf") * (tfD * lit(k1 + 1.0)) /
      (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * col("__gdl").cast("double") / avgdl))
    val perDoc = tf.join(broadcast(withIdf), "__gtok")
      .join(dl, id)
      .groupBy(col(id))
      .agg(sum(absorb(termScore)).as("__gscore"))
    // distributed top-k FIRST (TakeOrdered on the exact decimal), then
    // the rank window touches only k rows — never a global sort window
    perDoc.orderBy(col("__gscore").desc, col(id).asc).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("__gscore").desc, col(id).asc)))
      .select(col(id), col("__gscore").cast("string").cast("double").as("bm25"),
        col("rank"))
  }

  /**
   * Vocabulary-coverage quantile per source: the number of distinct
   * tokens (taken most-frequent-first, token tiebreak) needed to cover
   * `pct`/100 of the source's token occurrences — the concentration
   * dial beside [[sourceEntropy]]: a source where 5 tokens cover 90%
   * is template spam no matter how large its nominal vocabulary.
   *
   * Exactness: counts, running sums, and the threshold test are ALL
   * exact integers — `100·cum ≥ pct·total` never touches a float.
   *
   * Scale: one (source, token) count shuffle, then the rank/cumsum
   * window runs over the VOCABULARY frame per source (bounded by
   * vocabulary, not corpus) sharing the source partitioning; one
   * aggregation back to a row per source.
   */
  def vocabCoverage(
      docs: DataFrame, sourceCol: String, textCol: String,
      pct: Int): DataFrame = {
    require(pct >= 1 && pct <= 100, "vocabCoverage needs pct in [1,100]")
    val counts = docs
      .select(col(sourceCol).as("source"), explode(split(col(textCol), " ")).as("__gw"))
      .groupBy(col("source"), col("__gw")).agg(count(lit(1)).as("__gc"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("__gc").desc, col("__gw").asc)
    val ranked = counts
      .withColumn("__grk", row_number().over(w))
      .withColumn("__gcum", sum(col("__gc")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("__gtot", sum(col("__gc")).over(Window.partitionBy(col("source"))))
    ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("vocab"),
        min(when(col("__gcum") * 100 >= col("__gtot") * pct, col("__grk")))
          .as(s"tokens_for_${pct}pct"))
  }

  /** Remove flagged-contaminated documents from the corpus (anti-join
   *  against the small flag set — broadcast in the common case). */
  def decontaminate(
      corpus: DataFrame, id: String, text: Column,
      benchmark: DataFrame, benchText: Column,
      k: Int = 24, w: Int = 4, minShared: Int = 2): DataFrame = {
    val flags = contaminationFlags(corpus, id, text, benchmark, benchText, k, w, minShared)
      .select(col(id).as("__gflag"))
    Relational.antiJoin(corpus, flags, corpus(id) === col("__gflag"))
  }
}
