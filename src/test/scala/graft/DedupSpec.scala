package graft

import org.apache.spark.sql.functions._

import graft.functions.TextFns
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again today"),
    (1L, "the quick brown fox jumps over the lazy dog again and again tonight"), // near-dup of 0
    (2L, "completely different words about spark catalyst tungsten codegen shuffles"),
    (3L, "the quick brown fox jumps over the lazy dog again and again today"),   // exact dup of 0
  ).toDF("doc_id", "text")

  test("exactGroups elects the min id per identical text") {
    val g = Dedup.exactGroups(docs, "text", "doc_id")
      .filter(col("n") > 1).collect()
    assert(g.length == 1)
    assert(g.head.getAs[Long]("keeper") == 0L)
    assert(g.head.getAs[Long]("n") == 2L)
  }

  test("minhash LSH finds near-dups and skips unrelated docs") {
    val pairs = Dedup.minhashNearDups(
        docs, "doc_id", TextFns.wordShingles(TextFns.tokens(col("text")), 3),
        threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 3L))) // exact dup always found
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 3L))) // near-dups
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L)) // unrelated never pairs
  }

  test("minHashMd5 pairs exact dups on every band and skips unrelated docs") {
    val pairs = Dedup.minHashMd5(docs, "doc_id", "text",
        numHashes = 6, bandSize = 2, shingleK = 3)
      .select("id_a", "id_b", "bands_shared")
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    // exact dup (0, 3): identical shingle sets => identical signatures =>
    // all 3 bands collide
    assert(pairs.get((0L, 3L)).contains(3L))
    // unrelated doc 2 shares no shingle with anyone: a band collision
    // would need two 60-bit min-hashes to collide by chance
    assert(!pairs.keys.exists(p => p._1 == 2L || p._2 == 2L))
    // near-dups (0, 1) share most shingles; with 3 bands at least one
    // band agreeing is overwhelmingly likely — assert only consistency:
    // any reported pair shares between 1 and 3 bands
    assert(pairs.values.forall(n => n >= 1L && n <= 3L))
  }

  test("shingleNovelty: originals score 1, exact dups 0, partial overlap in between") {
    val out = Dedup.shingleNovelty(docs, "doc_id", "text", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set(0L, 1L, 2L, 3L))
    // doc 0: every shingle first seen here
    assert(out(0L)._3 == 1.0)
    // doc 3 is an exact dup of doc 0: zero novel shingles
    assert(out(3L)._2 == 0L && out(3L)._3 == 0.0)
    // doc 1 shares its prefix with doc 0 but ends differently
    assert(out(1L)._3 > 0.0 && out(1L)._3 < 1.0)
    // doc 2 is unrelated: fully novel
    assert(out(2L)._3 == 1.0)
  }

  test("minHashEstimate: exact dups calibrate to 1/1; near-dups carry the hand-checked exact Jaccard") {
    val out = Dedup.minHashEstimate(docs, "doc_id", "text",
        numHashes = 6, bandSize = 2, shingleK = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    val (bands, est, exact) = out((0L, 3L))
    assert(bands == 3L && est == 1.0 && exact == 1.0)
    // docs 0 and 1 differ in the last token: 10 of 11 shingles shared,
    // union 12 -> exact Jaccard 10/12; the estimate is a multiple of 1/6
    out.get((0L, 1L)).foreach { case (_, e, x) =>
      assert(x == 10.0 / 12.0)
      assert(e >= 0.0 && e <= 1.0 && (e * 6).isWhole)
    }
  }

  test("minhash signature: length, determinism, codegen == declarative") {
    val sh = TextFns.wordShingles(TextFns.tokens(col("text")), 2)
    val rows = docs.select(
      Dedup.minhashSignature(spark, sh, 24).as("s"),
      Dedup.minhashSignatureDeclarative(sh, 24).as("d")).collect()
    val sig = rows.map(_.getSeq[Long](0))
    assert(sig.forall(_.length == 24))
    assert(sig(0) == sig(3)) // identical text -> identical signature
    // the one-pass codegen expression is bit-identical to the reference form
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("minhash signature: null shingles contribute; empty -> sentinel; null -> null") {
    val d = Seq(
      (1L, Seq[String]("a", "b")), (2L, Seq[String]()),
    ).toDF("id", "sh")
      .union(Seq((3L, null.asInstanceOf[Seq[String]])).toDF("id", "sh"))
    val out = d.select(col("id"), Dedup.minhashSignature(spark, col("sh"), 8).as("s"))
      .orderBy("id").collect()
    assert(out(0).getSeq[Long](1).length == 8)
    // total on empty arrays (a null signature would force a null-guard
    // filter that predicate-pushdown turns into a second evaluation)
    assert(out(1).getSeq[Long](1) == Seq.fill(8)(Long.MaxValue))
    assert(out(2).isNullAt(1)) // null input still propagates null
  }

  test("winnow fingerprints: shared-substring guarantee, edit robustness, determinism") {
    val k = 8; val w = 4
    val shared = "this exact paragraph appears verbatim in both documents today"
    val d = Seq(
      (0L, s"unique preamble zero. $shared and then it diverges completely"),
      (1L, s"a totally different much longer opening text here! $shared ending otherwise"),
      (2L, "no overlap with anything else at all in this one, different words"),
      (3L, s"unique preamble zero. $shared and then it diverges completely"), // == 0
    ).toDF("doc_id", "text")
    def fps(id: Long) = d.filter(col("doc_id") === id)
      .select(Dedup.winnowFingerprints(spark, col("text"), k, w))
      .head.getSeq[Long](0).toSet
    // identical docs -> identical fingerprint sets (deterministic)
    assert(fps(0) == fps(3))
    // shared substring of length >= k+w-1 -> at least one shared
    // fingerprint, despite different surroundings (position robustness)
    assert((fps(0) & fps(1)).nonEmpty)
    // candidates surface the overlap pairs, never the unrelated doc
    val cands = Dedup.winnowCandidates(d, "doc_id", col("text"), k, w, minShared = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cands.contains((0L, 3L)) && cands.contains((0L, 1L)))
    assert(!cands.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("simhash near-dups: identical docs at hamming 0, unrelated docs excluded") {
    val pairs = Dedup.simhashNearDups(docs, "doc_id", TextFns.tokens(col("text")), maxHamming = 3)
      .collect().map(r =>
        (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Number]("hamming").intValue))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 3L && p._3 == 0))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("simhash signature codegen == declarative bit-vote fold; empty -> 0") {
    val rows = docs.select(
      Dedup.simhashSignature(spark, TextFns.tokens(col("text"))).as("fast"),
      Dedup.simhash64(transform(TextFns.tokens(col("text")), t => xxhash64(t))).as("ref"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // total on empty arrays: all votes tie at zero -> hash 0 (a null
    // would force a null-guard filter that pushdown double-evaluates)
    val empty = Seq(Tuple1(Seq.empty[String])).toDF("toks")
      .select(Dedup.simhashSignature(spark, col("toks"))).collect()
    assert(empty.head.getLong(0) == 0L)
  }

  test("simhashNearDups excludes contentless docs from pairing") {
    val d = Seq((1L, Seq[String]()), (2L, Seq[String]()),
        (4L, Seq("a", "b")), (5L, Seq("a", "b")))
      .toDF("id", "toks")
      .union(Seq((3L, null.asInstanceOf[Seq[String]])).toDF("id", "toks"))
    val pairs = Dedup.simhashNearDups(d, "id", col("toks"))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // empty/null-token docs all hash to 0 but must not pair as "dups"
    assert(pairs == Set((4L, 5L)))
  }

  test("minhash bucket cap bounds degenerate buckets; wide cap changes nothing") {
    val d = (1L to 6L).map(i => (i, Seq("x", "y", "z"))).toDF("id", "sh")
    val capped = Dedup.minhashCandidates(d, "id", col("sh"), 24, 4, maxBucketSize = 5)
    assert(capped.count() == 0) // all 6 identical docs exceed the cap in every band
    val uncapped = Dedup.minhashCandidates(d, "id", col("sh"), 24, 4, maxBucketSize = 0)
    assert(uncapped.count() == 15) // 6 choose 2
  }

  test("simhash64 is order-insensitive over token multisets") {
    val h = Seq("a b c d e f", "f e d c b a").toDF("text")
      .select(Dedup.simhash64(transform(TextFns.tokens(col("text")), t => xxhash64(t))).as("h"))
      .collect().map(_.getLong(0))
    assert(h(0) == h(1))
  }

  test("globalLineDedup keeps each line's first (doc, pos) occurrence only") {
    val d = Seq(
      (1L, "shared header\nbody of one\nrepeat me\nrepeat me"),
      (2L, "shared header\nbody of two"),
      (3L, "shared header"),
    ).toDF("id", "text")
    val byId = Dedup.globalLineDedup(d, "id", col("text"))
      .collect().map(r => (r.getLong(0), (r.getString(1), r.getInt(2)))).toMap
    // doc 1 keeps everything once (within-doc repeat collapses)
    assert(byId(1L) == (("shared header\nbody of one\nrepeat me", 3)))
    // doc 2 loses the shared header (doc 1 owns its first occurrence)
    assert(byId(2L) == (("body of two", 1)))
    // doc 3 had only the shared line -> drops out entirely
    assert(!byId.contains(3L))
  }

  /** Local union-find reference for the connected-components specs. */
  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("connectedComponents == transitive closure (chains, merges, disjoint)") {
    val edges = Seq(
      (1L, 2L), (2L, 3L),              // chain: {1,2,3}
      (10L, 11L),                      // disjoint pair
      (20L, 21L), (22L, 21L), (23L, 22L), // star/chain merge: {20..23}
      (31L, 30L), (30L, 31L),          // both directions + duplicate edge
    )
    val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got == unionFind(edges))
  }

  test("connectedComponents converges on a long chain (pointer jumping)") {
    // diameter 60 — linear min-propagation would need 60 rounds; the
    // label-compression round makes it logarithmic, so maxIter=25 holds
    val edges = (100L until 160L).map(i => (i, i + 1))
    val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got.size == 61 && got.values.forall(_ == 100L))
  }

  test("connectedComponents on a random graph matches union-find") {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(120)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
    val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(got == unionFind(edges))
    // the same input through the wide loop regime (a zero narrow bar:
    // AQE on, no relayout, no hints) yields the same labels
    spark.conf.set("graft.loop.narrowRows", "0")
    val wide =
      try Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      finally spark.conf.unset("graft.loop.narrowRows")
    assert(wide == got)
  }

  test("connectedComponents contracts the edge set: counts shrink to zero at fixpoint") {
    // a long chain plus a settled clique: the clique's edges must vanish
    // after round 1 while the chain keeps shrinking; telemetry records
    // a non-increasing contracted-edge count per non-final round
    val chain = (0L until 48L).map(i => (i, i + 1))
    val clique = for (a <- 100L to 104L; b <- (a + 1) to 104L) yield (a, b)
    // contraction gates on graft.cc.contractMinEdges (default 1M: tiny
    // graphs keep the cheaper non-contracting rounds) — force it on
    spark.conf.set("graft.cc.contractMinEdges", "0")
    val got =
      try Dedup.connectedComponents((chain ++ clique).toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      finally spark.conf.unset("graft.cc.contractMinEdges")
    assert(got == unionFind(chain ++ clique))
    assert(Dedup.lastCcRounds >= 2 && Dedup.lastCcRounds <= 25)
    val counts = Dedup.lastCcEdgeCounts
    assert(counts.nonEmpty, "expected per-round contracted-edge telemetry")
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      s"contracted edge counts must be non-increasing, got $counts")
    // contraction starts at round 2 (shallow graphs converge before it
    // could pay); by then the clique has settled and the chain has
    // merged, so the first contracted count sits well below the full
    // directed edge volume
    assert(counts.head < 2L * (chain.size + clique.size),
      s"first contraction removed nothing: $counts")
    assert(counts.last == 0L, s"fixpoint must drain the edge set, got $counts")
  }

  test("connectedComponents settled exit == default-path labels bit-for-bit") {
    // a deep chain (multiple contraction rounds -> multiple freeze
    // events, chained frozen mappings), a clique that settles at round
    // 1 (freezes wholesale: the self-rooted case), and random noise
    val rnd = new scala.util.Random(11)
    val chain = (0L until 70L).map(i => (i, i + 1))
    val clique = for (a <- 200L to 205L; b <- (a + 1) to 205L) yield (a, b)
    val noise = Seq.fill(80)((300L + rnd.nextInt(40), 300L + rnd.nextInt(40)))
      .filter(p => p._1 != p._2)
    val edges = chain ++ clique ++ noise
    val default = Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    assert(Dedup.lastCcFrozenCounts.isEmpty,
      "gate at 1M edges must keep the unfrozen path on a tiny graph")
    spark.conf.set("graft.cc.contractMinEdges", "0")
    val frozenPath =
      try Dedup.connectedComponents(edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      finally spark.conf.unset("graft.cc.contractMinEdges")
    assert(frozenPath == default, "settled-exit labels must equal the default path")
    assert(frozenPath == unionFind(edges))
    // the exit actually engaged and the end resolution ran
    assert(Dedup.lastCcFrozenCounts.nonEmpty && Dedup.lastCcFrozenCounts.sum > 0,
      s"expected frozen-exit telemetry, got ${Dedup.lastCcFrozenCounts}")
    assert(Dedup.lastCcResolveRounds >= 1,
      "frozen mappings must be resolved by at least one end jump round")
  }

  test("connectedComponents throws rather than returning unconverged labels") {
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2)
    }
    assert(e.getMessage.contains("fixpoint"))
  }

  test("connectedComponents: empty pair set yields empty labels") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).count() == 0)
  }

  test("dedupClusters elects the min id; resolveNearDups keeps keepers + untouched") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val clusters = Dedup.dedupClusters(pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(clusters == Set(
      (1L, 1L, true), (2L, 1L, false), (3L, 1L, false),
      (10L, 10L, true), (11L, 10L, false)))
    val corpus = Seq(1L, 2L, 3L, 10L, 11L, 99L).toDF("doc_id")
    val kept = Dedup.resolveNearDups(corpus, "doc_id", pairs)
      .as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 99L)) // keepers + the untouched doc
  }

  test("minhash pairs resolve transitively: A~B, B~C collapse to one keeper") {
    // docs 0, 1, 3 are mutual near-dups (0~1, 0~3, 1~3); 2 is unrelated
    val pairs = Dedup.minhashNearDups(
      docs, "doc_id", TextFns.wordShingles(TextFns.tokens(col("text")), 3),
      threshold = 0.7)
    val clusters = Dedup.dedupClusters(pairs)
      .as[(Long, Long, Boolean)].collect().toSet
    assert(clusters == Set((0L, 0L, true), (1L, 0L, false), (3L, 0L, false)))
    val kept = Dedup.resolveNearDups(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L))
  }

  test("editDistancePairs finds close pairs inside blocks and skips across blocks") {
    val df = Seq(
      (1L, "alpha bravo charlie"),
      (2L, "alpha bravo charlee"),   // 1 edit from id 1, same block "alpha"
      (3L, "alpha zulu"),            // same block, far from both
      (4L, "beta bravo charlie"),    // 1 edit from id 1 BUT different block
    ).toDF("id", "text")
    val pairs = Dedup.editDistancePairs(df, "id", "text",
        blockKey = element_at(split(col("text"), " "), 1), maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L, 1L)))
  }

  test("editDistancePairs tolerates rows where the block key is null (one-word text)") {
    val df = Seq(
      (1L, "solo"),                  // no second word -> null block key
      (2L, "alpha bravo charlie"),
      (3L, "alpha bravo charlee"),
    ).toDF("id", "text")
    val words = split(col("text"), " ")
    val pairs = Dedup.editDistancePairs(df, "id", "text",
        blockKey = concat(try_element_at(words, lit(1)), lit(" "), try_element_at(words, lit(2))),
        maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((2L, 3L, 1L))) // the null-key row just sits out
  }

  test("fuzzy pairs resolve transitively through dedupClusters (record-linkage capstone)") {
    val df = Seq(
      (1L, "kettle black"), (2L, "kettle blank"), (3L, "kettle blanc"),
      (9L, "teapot white"), // no pairs -> absent from the cluster output
    ).toDF("id", "text")
    val pairs = Dedup.editDistancePairs(df, "id", "text",
      blockKey = element_at(split(col("text"), " "), 1), maxDist = 2)
    // 1~2 (1 edit), 2~3 (1 edit), 1~3 (2 edits): one chain, keeper = 1
    val clusters = Dedup.dedupClusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(clusters == Set((1L, 1L, true), (2L, 1L, false), (3L, 1L, false)))
  }

  test("editDistancePairs sub-blocks oversized blocks, never drops them (all-pairs parity)") {
    // one hot block (12 rows > maxBlockSize 5) with lengths spanning
    // several length bands — incl. pairs straddling a band boundary —
    // plus a small block exercising the direct path
    val rows = Seq(
      (1L, "hot", "aaaa"), (2L, "hot", "aaab"), (3L, "hot", "aaaaaa"),
      (4L, "hot", "aaaaaab"), (5L, "hot", "bbbbbbbb"), (6L, "hot", "bbbbbbba"),
      (7L, "hot", "cccc"), (8L, "hot", "ccccccc"), (9L, "hot", "zzzzzzzzzzzzzzzz"),
      (10L, "hot", "zzzzzzzzzzzzzzza"), (11L, "hot", "a"), (12L, "hot", "ab"),
      (13L, "hot", "aaa"),
      (20L, "cold", "xyzzy"), (21L, "cold", "xyzzyq"),
    ).toDF("id", "blk", "text")
    val maxDist = 3
    val got = Dedup.editDistancePairs(rows, "id", "text",
        blockKey = col("blk"), maxDist = maxDist, maxBlockSize = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // oracle: brute-force all pairs within each block
    val a = rows.select(col("blk"), col("id").as("ia"), col("text").as("ta"))
    val b = rows.select(col("blk"), col("id").as("ib"), col("text").as("tb"))
    val want = a.join(b, "blk").filter(col("ia") < col("ib"))
      .withColumn("d", levenshtein(col("ta"), col("tb")))
      .filter(col("d") <= maxDist)
      .collect().map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib"), r.getAs[Int]("d").toLong))
      .toSet
    assert(got == want)
    // the oracle itself must contain a cross-band pair (band width 4:
    // "aaab" len 4 -> band 1, "aaa" len 3 -> band 0, and the lower id
    // sits in the HIGHER band) so the adjacent-band join is exercised
    assert(want.contains((2L, 13L, 1L)))
    // ... and a same-band pair inside the hot block
    assert(want.contains((11L, 12L, 1L)))
  }

  test("editDistancePairs random-data parity with brute force (small alphabet, mixed block sizes)") {
    // 3 blocks of ~40 rows each (all > maxBlockSize 10), texts over a
    // 3-letter alphabet with lengths 3-14 -> dense near-matches across
    // several length bands; parity against the unblocked per-block
    // brute force must be exact
    val rnd = new scala.util.Random(7)
    val rows = (1L to 120L).map { i =>
      val text = (1 to (3 + rnd.nextInt(12))).map(_ => ('a' + rnd.nextInt(3)).toChar).mkString
      (i, s"k${rnd.nextInt(3)}", text)
    }
    val df = rows.toDF("id", "blk", "text")
    val got = Dedup.editDistancePairs(df, "id", "text",
        blockKey = col("blk"), maxDist = 2, maxBlockSize = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val a = df.select(col("blk"), col("id").as("ia"), col("text").as("ta"))
    val b = df.select(col("blk"), col("id").as("ib"), col("text").as("tb"))
    val want = a.join(b, "blk").filter(col("ia") < col("ib"))
      .withColumn("d", levenshtein(col("ta"), col("tb")))
      .filter(col("d") <= 2)
      .collect().map(r => (r.getAs[Long]("ia"), r.getAs[Long]("ib"), r.getAs[Int]("d").toLong))
      .toSet
    assert(want.nonEmpty && got == want)
  }

  test("editDistancePairs never emits self-pairs for duplicate ids across adjacent bands") {
    // two ROWS share id 1 with texts in adjacent length bands; the
    // strict < of the same-band paths must be mirrored by the adjacent
    // join, or (1, 1) would surface as a degenerate self-pair
    val df = Seq((1L, "aa"), (1L, "aaab"), (2L, "aaa")).toDF("id", "text")
    val pairs = Dedup.editDistancePairs(df, "id", "text",
        blockKey = lit("hot"), maxDist = 3, maxBlockSize = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(pairs.forall { case (a, b, _) => a != b })
    assert(pairs == Set((1L, 2L, 1L)))
  }

  test("editDistancePairs: uniform-length oversized block still compares in full") {
    // all texts in one band -> sub-blocking cannot shrink the block;
    // pairs must still come back (the old policy returned zero here)
    val big = (1 to 30).map(i => (i.toLong, f"same block text $i%02d")).toDF("id", "text")
    val out = Dedup.editDistancePairs(big, "id", "text",
      blockKey = lit("hot"), maxDist = 2, maxBlockSize = 10)
    assert(out.count() == 30L * 29 / 2) // every pair differs in <= 2 digit edits
  }

  test("scoredPairs blocks, thresholds, and never pairs across blocks") {
    val df = Seq(
      (1L, "MARTHA", "x"), (2L, "MARHTA", "x"),   // jw 0.9611 -> kept
      (3L, "DIXON", "x"),                          // vs both: far below 0.9
      (4L, "MARTHA", "y"),                         // same text, other block
    ).toDF("id", "text", "blk")
    val got = Dedup.scoredPairs(df, "id", "text", col("blk"),
        (a, b) => graft.functions.TextFns.jaroWinkler(spark, a, b),
        minScore = 0.9, simName = "jw")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 0.9611111111111111)))
  }

  test("setSimilarityJoin finds exactly the brute-force pair set (no false negatives)") {
    val d = Seq(
      (1L, "a b"), (2L, "b c"), (3L, "a b c"))
      .toDF("id", "t")
    val got = Dedup.setSimilarityJoin(d, "id", split(col("t"), " "), 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // jac(1,2)=1/3 < 1/2; jac(1,3)=2/3; jac(2,3)=2/3
    assert(got == Set((1L, 3L, 2.0 / 3), (2L, 3L, 2.0 / 3)))
    // property: prefix-filtered == brute force on random token sets
    val rnd = new scala.util.Random(7)
    val vocab = ('a' to 'j').map(_.toString)
    val recs = (1L to 60L).map(i =>
      (i, rnd.shuffle(vocab).take(3 + rnd.nextInt(4)).mkString(" ")))
      .toDF("id", "t")
    for ((num, den) <- Seq((1, 2), (3, 5), (4, 5))) {
      val fast = Dedup.setSimilarityJoin(recs, "id", split(col("t"), " "), num, den)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val sets = recs.select(col("id"), array_distinct(split(col("t"), " ")).as("tok"))
      val brute = sets.as("x").crossJoin(sets.as("y"))
        .filter(col("x.id") < col("y.id"))
        .withColumn("i", size(array_intersect(col("x.tok"), col("y.tok"))))
        .withColumn("u", size(col("x.tok")) + size(col("y.tok")) - col("i"))
        .filter(col("i") * den >= col("u") * num)
        .select(col("x.id"), col("y.id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fast == brute, s"t=$num/$den: prefix filter lost/invented pairs")
    }
  }

  test("setSimilarityJoin verify joins: hash-hinted above the row gate, planner's pick below") {
    val d = Seq((1L, "a b"), (2L, "b c"), (3L, "a b c")).toDF("id", "t")
    // the verify joins are the ones keyed on id_a/id_b; the vocab join
    // (keyed on the token) is always hash-hinted and — unpersisted at
    // spec scale — appears once per plan branch, so count only the
    // verify keys
    def verifyShj(): Int = "ShuffledHashJoin \\[id_".r.findAllIn(
      Dedup.setSimilarityJoin(d, "id", split(col("t"), " "), 1, 2)
        .queryExecution.executedPlan.toString).length
    // below the gate (default 400k rows): the verify stage keeps the
    // planner's pick (broadcast at bench scale)
    assert(verifyShj() == 0,
      s"below-gate plan must keep the planner's verify pick, got ${verifyShj()} hash joins")
    // above the gate (forced via conf): both verify joins hash-build
    // on the sets side, never sorting array-carrying rows
    spark.conf.set("graft.ssjoin.hashRows", "1")
    try assert(verifyShj() == 2,
      s"above-gate verify joins must both be hash joins, got ${verifyShj()}")
    finally spark.conf.unset("graft.ssjoin.hashRows")
  }

  test("degreeDistribution summarizes the pair graph (twins vs clusters)") {
    // pairs: 1-2, 1-3, 1-4 (hub), 5-6 (twin)
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.degreeDistribution(pairs)
      .orderBy("degree").collect().map(r => (r.getLong(0), r.getLong(1)))
    // degree 1: nodes 2,3,4,5,6; degree 3: node 1
    assert(out.toSeq == Seq((1L, 5L), (3L, 1L)))
  }

  test("triangles enumerates each closed triple once, in canonical order, from unordered input") {
    // 1-2-3 closed; 3-4 dangles; 5-6-7 is an open wedge; edges arrive
    // in mixed orientation with a duplicate
    val pairs = Seq((2L, 1L), (1L, 3L), (2L, 3L), (3L, 2L), (3L, 4L),
      (5L, 6L), (6L, 7L)).toDF("id_a", "id_b")
    val out = Dedup.triangles(pairs.repartition(3)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L, 3L)))
  }

  test("sortedNeighborhoodPairs: rank-window pairs within blocks, layout independent") {
    val d = Seq(
      (1L, "aaaa", "M1"), (2L, "aaab", "M1"), (3L, "bbbb", "M1"), (4L, "aaac", "M1"),
      (5L, "aaaa", "M2")) // other block: never pairs with M1
      .toDF("id", "name", "mfgr")
    val got = Dedup.sortedNeighborhoodPairs(d.repartition(4), "id", "name",
        sortKey = col("name"), blockKey = col("mfgr"), window = 2,
        score = (a, b) => TextFns.jaroWinkler(spark, a, b),
        minScore = 0.85, simName = "jw")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // rank order in M1: aaaa(1) aaab(2) aaac(3) bbbb(4); window 2 pairs
    // (1,2),(1,4),(2,4),(2,3),(4,3); only the aaa* trio scores >= 0.85
    assert(got == Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("dedupImpact: cross-source dup charged to every source but the first; exact counts") {
    val docs = Seq(
      (1L, "s1", "same"), (2L, "s1", "alpha"), (3L, "s2", "same"),
      (4L, "s2", "same"), (5L, "s2", "be"),
    ).toDF("doc_id", "source", "text")
    val out = Dedup.dedupImpact(docs.repartition(3), "doc_id", "source", "text")
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    // 'same' keeps doc 1 (s1); docs 3,4 in s2 are duplicates
    assert(out.toSeq == Seq(
      ("s1", 2L, 9L, 2L, 9L, 0.0),
      ("s2", 3L, 10L, 1L, 2L, 2.0 / 3.0)))
  }

  test("goldenRecord: modal election with deterministic ties; singletons self-consolidate") {
    val records = Seq(
      (1L, "BrandA", 5), (2L, "BrandA", 7), (3L, "BrandB", 7),  // cluster 1
      (4L, "Solo", 9),                                          // unlabeled singleton
      (5L, null.asInstanceOf[String], 2), (6L, null.asInstanceOf[String], 2), // cluster 5: all-null brand
    ).toDF("id", "brand", "size")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 5L), (6L, 5L))
      .toDF("id", "cluster")
    val out = Dedup.goldenRecord(records.repartition(3), labels, "id",
      Seq("brand", "size"))
      .orderBy("cluster").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.getString(3)), if (r.isNullAt(4)) None else Some(r.getInt(4))))
    assert(out.toSeq == Seq(
      // brand: BrandA (2 votes); size: 5 vs 7 -> 7 has 2 votes
      (1L, 3L, 1L, Some("BrandA"), Some(7)),
      (4L, 1L, 4L, Some("Solo"), Some(9)),
      // all-null brand -> NULL; size mode 2
      (5L, 2L, 5L, None, Some(2))))
  }

  test("clusterSizeHistogram: twins vs a template family") {
    val labels = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),   // one size-3 cluster
      (4L, 4L), (5L, 4L),             // one pair
      (6L, 6L), (7L, 6L),             // another pair
    ).toDF("id", "cluster")
    val out = Dedup.clusterSizeHistogram(labels.repartition(2))
      .orderBy("size").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((2L, 2L), (3L, 1L)))
  }

  test("thresholdSweep: per-cutoff pair and touched-doc counts; empty cutoffs vanish") {
    val pairs = Seq(
      (1L, 2L, 0.95), (2L, 3L, 0.85), (4L, 5L, 0.72), (5L, 6L, 0.71),
    ).toDF("id_a", "id_b", "jaccard")
    val out = Dedup.thresholdSweep(pairs.repartition(2), "jaccard",
      Seq(0.7, 0.8, 0.9, 0.99))
      .orderBy("threshold").collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    // 0.99 catches nothing -> no row; 0.9 -> 1 pair {1,2}; 0.8 -> 2 pairs
    // {1,2,3}; 0.7 -> all 4 pairs, docs {1..6}
    assert(out.toSeq == Seq(
      (0.7, 4L, 6L), (0.8, 2L, 3L), (0.9, 1L, 2L)))
  }

  test("incrementalDedup equals the exact anti-join at any fpp (bloom is a prefilter only)") {
    val baseline = (0 until 50).map(i => (i.toLong, s"doc ${i % 7}"))
      .toDF("doc_id", "text")
    val fresh = (100 until 160).map(i =>
      (i.toLong, if (i % 3 == 0) s"doc ${i % 7}" else s"new $i"))
      .toDF("doc_id", "text")
    val expected = (100 until 160).filter(_ % 3 != 0).map(_.toLong).toSet
    // tight filter (few false positives) and a saturated one (1-item
    // sizing at fpp .5: nearly every probe collides, so nearly every
    // row takes the confirm join) must give identical results
    for ((items, fpp) <- Seq((1000L, 0.03), (1L, 0.5))) {
      val got = Dedup.incrementalDedup(
        fresh.repartition(3), baseline.repartition(2), "text", items, fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == expected, s"items=$items fpp=$fpp")
    }
  }

  test("simHashMd5: exact duplicates pair at Hamming 0; disjoint-vocabulary docs never pair") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // dup of 1
      (3L, "zephyr quartz jovial mixup blitz gryphon vexed knack"),
      (4L, "entirely different words about maritime navigation charts"),
    ).toDF("doc_id", "text")
    val pairs = Dedup.simHashMd5(docs, "doc_id", "text")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.contains((1L, 2L)) && pairs((1L, 2L)) == 0,
      s"exact duplicates must collide at Hamming 0: $pairs")
    assert(pairs.keys.forall { case (a, b) => a < b }, "pair order must be id_a < id_b")
    // fixed inputs, deterministic hashes: the unrelated docs sit far
    // apart in Hamming space and must not survive the <= 3 verify
    assert(pairs.keySet == Set((1L, 2L)), s"unexpected near-dups: $pairs")
    val bounds = intercept[IllegalArgumentException] {
      Dedup.simHashMd5(docs, "doc_id", "text", maxHamming = 4)
    }
    assert(bounds.getMessage.contains("maxHamming <= 3"))
  }

  test("simHashMd5 maxBucketSize drops degenerate chunk buckets, bounding the self-join") {
    // 20 identical docs: every chunk bucket holds all 20 rows — a cap
    // of 5 drops them all (their ONLY collisions are degenerate), so
    // the quadratic bucket join never materializes
    val dup = (1L to 20L).map(i => (i, "same text everywhere")).toDF("doc_id", "text")
    assert(Dedup.simHashMd5(dup, "doc_id", "text", maxBucketSize = 5).count() == 0L)
    // uncapped, all 190 duplicate pairs fire at Hamming 0
    assert(Dedup.simHashMd5(dup, "doc_id", "text").count() == 190L)
  }
}
