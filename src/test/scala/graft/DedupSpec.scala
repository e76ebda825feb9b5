package graft

import graft.queries.Dedup
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Recall/precision pins for the approximate dedup operators, measured
  * against the exact n-gram-Jaccard pairs (which are themselves DuckDB-
  * oracle-checked). The synthetic corpus plants near-duplicate pairs at
  * Jaccard ≈ 0.96–0.99; with 8 bands × 2 rows the LSH miss probability at
  * that similarity is < 1e-10, so exact-recall assertions are safe. */
class DedupSpec extends SparkSpec {

  private def pairSet(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1))).toSet

  lazy val exactPairs: Set[(Long, Long)] =
    pairSet(Dedup.qDedupNgramJaccard.run(spark, sf)
      .select("doc_a", "doc_b").collect())

  lazy val lshPairs: Set[(Long, Long)] =
    pairSet(Dedup.qDedupMinhashLsh.run(spark, sf)
      .select("doc_a", "doc_b").collect())

  test("planted near-dups exist in the corpus") {
    assert(exactPairs.nonEmpty)
  }

  test("minhash LSH recall of exact same-language pairs is 1.0") {
    assert(exactPairs.subsetOf(lshPairs),
      s"missed: ${exactPairs.diff(lshPairs)}")
  }

  test("minhash LSH pairs are all Jaccard-verified (precision 1.0)") {
    // by construction the query verifies 2*|I| >= |U|; re-check the
    // emitted counts for internal consistency
    val rows = Dedup.qDedupMinhashLsh.run(spark, sf).collect()
    assert(rows.forall(r => 2 * r.getInt(2) >= r.getInt(3)))
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("minhash LSH is deterministic across runs") {
    assert(lshPairs == pairSet(Dedup.qDedupMinhashLsh.run(spark, sf)
      .select("doc_a", "doc_b").collect()))
  }

  test("simhash finds every identical-signature pair and respects the cutoff") {
    val rows = Dedup.qDedupSimhash.run(spark, sf).collect()
    assert(rows.forall(_.getLong(2) <= 4))
    assert(rows.nonEmpty)
    // pairs at Hamming <= 3 are pigeonhole-guaranteed by 4x16 blocking;
    // the planted 0-distance pairs must therefore appear
    val h0 = rows.filter(_.getLong(2) == 0)
    assert(h0.nonEmpty)
  }

  test("substring dedup detects planted boilerplate and trims it exactly once") {
    import spark.implicits._
    // a 12-token license header shared by three docs over unique bodies:
    // with g=8 each doc carries 5 license-only spans (positions 0..4);
    // every header/body straddling span is unique to its doc. The owner
    // (min doc_id) keeps the spans; the other two trim exactly the 12
    // header tokens — overlapping spans must not double-count.
    val lic = (1 to 12).map(i => s"lic$i").mkString(" ")
    def body(d: Int) = (1 to 20).map(i => s"d${d}w$i").mkString(" ")
    val docs = Seq(
      (10L, s"$lic ${body(1)}"), (20L, s"$lic ${body(2)}"),
      (30L, s"$lic ${body(3)}"), (40L, body(4))) // doc 40: no boilerplate
      .toDF("doc_id", "text")
    val rows = Dedup.substringStats(docs, 8).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    spark.catalog.clearCache() // substringStats caches its occurrence table
    // 32 tokens → 25 span positions for docs with the header; doc 40 absent
    assert(rows.keySet == Set(10L, 20L, 30L), s"wrong docs: ${rows.keySet}")
    assert(rows(10L) == ((25L, 5L, 5L, 0L)), s"owner row: ${rows(10L)}")
    assert(rows(20L) == ((25L, 5L, 0L, 12L)), s"trimmed row: ${rows(20L)}")
    assert(rows(30L) == ((25L, 5L, 0L, 12L)), s"trimmed row: ${rows(30L)}")
  }

  test("substring trim materializes survivors: owners keep spans, others lose exactly the boilerplate") {
    import spark.implicits._
    // same fixture as the stats spec: a 12-token license header shared
    // by three docs; the trim pass must CUT it from the two non-owners'
    // texts, keep it verbatim in the owner's, and pass doc 40 through
    val lic = (1 to 12).map(i => s"lic$i").mkString(" ")
    def body(d: Int) = (1 to 20).map(i => s"d${d}w$i").mkString(" ")
    val docs = Seq(
      (10L, s"$lic ${body(1)}", "s"), (20L, s"$lic ${body(2)}", "s"),
      (30L, s"$lic ${body(3)}", "s"), (40L, body(4), "s"))
      .toDF("doc_id", "text", "source")
    val rows = Dedup.substringTrim(docs, 8).collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getString(3))).toMap
    spark.catalog.clearCache() // substringTrim caches its occurrence table
    assert(rows(10L) == ((32, s"$lic ${body(1)}")), s"owner row: ${rows(10L)}")
    assert(rows(20L) == ((32, body(2))), s"trimmed row: ${rows(20L)}")
    assert(rows(30L) == ((32, body(3))), s"trimmed row: ${rows(30L)}")
    assert(rows(40L) == ((20, body(4))), s"untouched row: ${rows(40L)}")
  }

  test("incremental dedup drops planted cross-batch duplicates, keeps new and in-batch-min rows") {
    import spark.implicits._
    // base snapshot holds two docs; the batch plants every case:
    //  - 100: literal copy of base doc 1's text  → cross-batch dup, dropped
    //  - 101/102: same NEW text twice            → in-batch dup, min id kept
    //  - 103: genuinely new text                 → kept
    val base = Seq((1L, "alpha beta gamma", "s1"), (2L, "delta epsilon", "s2"))
      .toDF("doc_id", "text", "source")
    val batch = Seq(
      (100L, "alpha beta gamma", "s1"),
      (101L, "zeta eta theta", "s2"), (102L, "zeta eta theta", "s2"),
      (103L, "iota kappa", "s1"))
      .toDF("doc_id", "text", "source")
    val surv = Dedup.incrementalSurvivors(base, batch).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(surv == Set(("s2", 101L), ("s1", 103L)),
      s"survivors must be the in-batch min and the new doc, got $surv")
  }

  test("incremental fuzzy dedup finds the perturbed planted copies with Jaccard >= 1/2") {
    // the corpus-derived construction plants, for every base doc with
    // scramble%9 == 1, a re-keyed copy with one appended token — its
    // 3-gram set shares all but the two boundary shingles, so every
    // plant must pair with its source under 3·|∩| ≥ |A|+|B|
    val q = graft.queries.Registry.all.find(_.name == "q_dedup_incremental_fuzzy").get
    val rows = q.run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    import org.apache.spark.sql.functions.col
    val planted = Tables(spark, sf).documents
      .filter(graft.queries.Scramble(col("doc_id")) % 4 =!= 0
        && graft.queries.Scramble(col("doc_id")) % 9 === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(planted.nonEmpty)
    planted.foreach { id =>
      assert(rows.contains((id + 1000000000L, id)),
        s"planted near-dup of doc $id not recovered: ${rows.take(10)}")
    }
  }

  test("indexed incremental dedup agrees with the from-scratch query per source") {
    // day-2-reading-the-index must admit exactly what the from-scratch
    // bloom-build query admits: per source, (kept, removed) pairs equal
    // q_dedup_incremental's (n_from_batch, n_removed). If the persisted
    // index dropped, duplicated, or staled a fingerprint, the counts
    // diverge here before the oracle ever runs.
    val reg = graft.queries.Registry.all
    val scratch = reg.find(_.name == "q_dedup_incremental").get
      .run(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    val indexed = reg.find(_.name == "q_dedup_incremental_indexed").get
      .run(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    assert(indexed == scratch,
      s"index path drifted from from-scratch admission: $indexed vs $scratch")
  }

  test("banded incremental fuzzy: precision 1.0 vs the exact query, recall 1.0 on planted near-dups") {
    // precision: every banded-index pair must BE an exact shared-shingle
    // pair, full row included (n_shared over hashed shingles equals the
    // string count — collision-free on this corpus, the same empirical
    // basis as the LSH-vs-Jaccard spec). recall: banding's s-curve sits
    // near 1 at the planted pairs' Jaccard (~n/(n+1)), so every
    // re-keyed perturbed copy must pair with its source.
    val reg = graft.queries.Registry.all
    def rows(name: String) = reg.find(_.name == name).get.run(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong,
        r.getInt(3).toLong, r.getInt(4).toLong)).toSet
    // the exact query returns BIGINT counts (oracle parity); the banded
    // one returns size() ints — normalize via the getters above
    val exact = reg.find(_.name == "q_dedup_incremental_fuzzy").get
      .run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    val banded = rows("q_dedup_incremental_lsh")
    assert(banded.nonEmpty)
    assert(banded.subsetOf(exact),
      s"banded pairs must verify exactly: ${(banded -- exact).take(5)}")
    import org.apache.spark.sql.functions.col
    val planted = Tables(spark, sf).documents
      .filter(graft.queries.Scramble(col("doc_id")) % 4 =!= 0
        && graft.queries.Scramble(col("doc_id")) % 9 === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(planted.nonEmpty)
    val bandedPairs = banded.map(t => (t._1, t._2))
    planted.foreach { id =>
      assert(bandedPairs.contains((id + 1000000000L, id)),
        s"planted near-dup of doc $id missed by the banded index")
    }
  }

  test("band-sequential incremental LSH equals the single-pass plan row for row") {
    // the fourth-decade pass structure (8 sequential band passes,
    // survivor anti-join, checkpoint-per-pass) must be answer-invariant:
    // force it at fixture scale — where the gate would pick single-pass
    // — and compare full rows against the judged registry query
    val single = graft.queries.Registry.all
      .find(_.name == "q_dedup_incremental_lsh").get.run(spark, sf)
      .collect().map(_.toSeq).toSet
    val seq = Dedup.incrementalLshPairs(spark, sf, forceBandSequential = true)
      .collect().map(_.toSeq).toSet
    assert(seq.nonEmpty, "band-sequential path returned nothing")
    assert(seq == single,
      s"band-sequential diverged: only-seq=${(seq -- single).take(3)} " +
        s"only-single=${(single -- seq).take(3)}")
  }

  test("longest-span: planted maximal runs recovered at exact length and position") {
    import spark.implicits._
    // doc1 carries two planted blocks (s: 30 tokens at 1-based pos 6,
    // u: 12 tokens at pos 46); doc2 shares s, doc3 shares u, doc4
    // shares only 7 s-tokens — below gram width, must vanish. All
    // other tokens are globally unique, so no accidental grams.
    def toks(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val s = toks("s", 30); val u = toks("u", 12)
    val fixture = Seq(
      (1L, (toks("w", 5) ++ s ++ toks("x", 10) ++ u ++ toks("y", 3))
        .mkString(" ")),
      (2L, (toks("a", 5) ++ s ++ toks("b", 6)).mkString(" ")),
      (3L, (toks("c", 3) ++ u ++ toks("d", 5)).mkString(" ")),
      (4L, (toks("e", 1) ++ s.take(7) ++ toks("f", 4)).mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.longestSpans(fixture, 8, 64, 20).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      (1, 1L, 2L, 6L, 6L, 30L),
      (2, 1L, 3L, 46L, 4L, 12L)),
      s"maximal runs wrong: ${got.mkString(", ")}")
    // maximality both ways: the 30-run must be ONE island (not split)
    // and must not leak into the unique flanks (len exactly 30)
  }

  test("selfspan: planted in-doc repeat at exact length; rewrite cuts only the later occurrence") {
    import spark.implicits._
    def toks(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    // doc1: a 5-token phrase planted twice (0-based pos 5 and 20) in
    // otherwise-unique tokens; doc2 repeat-free; doc3 a degenerate
    // one-token loop whose single gram (68 occurrences) is over the
    // cap and must be refused, not quadratically joined
    val p5 = toks("p", 5)
    val fixture = Seq(
      (1L, (toks("w", 5) ++ p5 ++ toks("x", 10) ++ p5 ++ toks("y", 3))
        .mkString(" ")),
      (2L, toks("z", 8).mkString(" ")),
      (3L, Seq.fill(70)("r").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Dedup.selfSpans(fixture, 3, 64).collect()
    assert(got.length == 1,
      s"only doc 1 carries an admitted repeat: ${got.mkString(", ")}")
    val r = got.head
    assert(r.getLong(0) == 1L)
    assert(r.getLong(1) == 1L, s"one island expected: $r")
    assert(r.getLong(2) == 5L, s"exact planted run length: $r")
    assert(r.getLong(3) == 5L, s"cut = the second occurrence only: $r")
    assert(r.getLong(4) == 28L, s"toks_before: $r")
    val rewritten = (toks("w", 5) ++ p5 ++ toks("x", 10) ++ toks("y", 3))
      .mkString(" ")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(rewritten.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getString(5) == md, s"rewrite must drop tokens 20-24 only: $r")
  }

  test("exact dedup removes nothing on a duplicate-free corpus") {
    val removed = Dedup.qDedupExact.run(spark, sf)
      .select("n_removed").collect().map(_.getLong(0)).sum
    assert(removed == 0)
  }

  test("cluster resolution converges past any fixed round count (diameter-8 chain)") {
    import spark.implicits._
    // a 9-node path 100-101-…-108 (diameter 8) plus a 2-cycle and a
    // singleton edge: the old fixed-6-round loop mislabels the path tail
    val chain = (100L to 107L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((200L, 201L), (300L, 301L)))
      .toDF("doc_a", "doc_b")
    val labels = graft.operators.ConnectedComponents.minLabel(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (100L to 108L).foreach(n => assert(labels(n) == 100L,
      s"node $n labeled ${labels(n)}, expected 100"))
    assert(labels(201L) == 200L && labels(301L) == 300L)
  }

  test("pointer jumping converges a 64-node chain in logarithmic rounds") {
    import spark.implicits._
    // diameter-63 path: plain one-hop propagation needs ~63 rounds;
    // propagation + pointer jumping covers distance ~2^r after r rounds,
    // so convergence (plus the one confirming round the checksum needs)
    // must land well under the linear bound
    val pairs = (1000L to 1062L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = graft.operators.ConnectedComponents.minLabel(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1000L to 1063L).foreach(n => assert(labels(n) == 1000L,
      s"node $n labeled ${labels(n)}, expected 1000"))
    val rounds = graft.operators.ConnectedComponents.lastRounds
    assert(rounds <= 10, s"took $rounds rounds — pointer jumping regressed")
  }

  test("cluster resolution of an empty pair list is empty (no iteration)") {
    import spark.implicits._
    val labels = graft.operators.ConnectedComponents.minLabel(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
    assert(labels.count() == 0)
  }

  test("positional gram hashes dedupe to exactly the shingle-hash set") {
    // graft_gram_hashes is the order/duplicate-preserving sibling of
    // graft_shingle_hashes: same tokenizer, gram bytes, and seed — so
    // array_distinct over the positional stream must reproduce the
    // distinct variant element-for-element (first-occurrence order),
    // and the array length must be exactly tokens − g + 1
    val docs = Tables(spark, sf).documents
    val rows = docs.select(
      graft.functions.GraftFunctions.shingleHashes(col("text")).as("s"),
      array_distinct(graft.functions.GraftFunctions.gramHashes(col("text"), 3))
        .as("p"),
      size(graft.functions.GraftFunctions.gramHashes(col("text"), 3)).as("np"),
      size(filter(split(col("text"), " "), w => w =!= "")).as("nt"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        "positional grams dedupe differently from the distinct variant")
      assert(r.getInt(2) == math.max(0, r.getInt(3) - 2),
        s"positional gram count ${r.getInt(2)} != tokens ${r.getInt(3)} - 2")
    }
  }

  test("winnowing guarantee: a shared run of >= w+k-1 tokens yields a shared fingerprint") {
    // the Schleimer et al. theorem the operator exists for: with k = 3
    // grams and window w = 4, any shared token run of length >= 6
    // contains at least one full hash window common to both documents,
    // and that window's minimum is selected on both sides. Two docs
    // share an 8-token run embedded in otherwise-disjoint text; a third
    // doc shares nothing. Also pins the density claim direction: the
    // selected set is a strict subset of the positional hash set.
    import spark.implicits._
    val run = "quick brown fox jumps over the lazy dog"
    val docs = Seq(
      (1L, s"alpha beta gamma delta $run epsilon zeta eta theta"),
      (2L, s"one two three four five $run six seven eight nine ten"),
      (3L, "red orange yellow green blue indigo violet cyan magenta " +
        "black white gray pink brown")).toDF("doc_id", "text")
    val sel = graft.queries.Dedup.winnowFingerprints(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((sel(1L) & sel(2L)).nonEmpty,
      "shared 8-token run selected no common fingerprint")
    assert((sel(1L) & sel(3L)).isEmpty && (sel(2L) & sel(3L)).isEmpty,
      "disjoint doc shares a fingerprint (collision or selection bug)")
    val pos = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.gramHashes(col("text"), 3).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    for (id <- Seq(1L, 2L, 3L)) {
      assert(sel(id).nonEmpty && sel(id).subsetOf(pos(id)),
        s"doc $id: selection is not a non-empty subset of its gram hashes")
      assert(sel(id).size < pos(id).size,
        s"doc $id: winnowing selected every hash — no sparsification")
    }
  }

  test("native shingle hashes equal the declarative formulation exactly") {
    // graft_shingle_hashes must reproduce transform(shingles(text),
    // xxhash64) value-for-value (as sets — dedup on hashes vs strings
    // can only differ on a 64-bit collision, absent here), or every
    // downstream join key and signature silently shifts
    val docs = Tables(spark, sf).documents
    val hof = docs.select(col("doc_id"),
      transform(Dedup.shingles(col("text")), x => xxhash64(x)).as("hs"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
    val native = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.shingleHashes(col("text")).as("hs"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSet)
    assert(native.sameElements(hof),
      "native shingle hashes diverged from the declarative formulation")
  }

  test("minhash over pre-hashed shingles equals minhash over shingle strings") {
    val nHashes = 16
    val docs = Tables(spark, sf).documents
      .filter(size(Dedup.shingles(col("text"))) > 0)
    val fromStrings = docs.select(col("doc_id"),
      graft.functions.GraftFunctions
        .minhash(Dedup.shingles(col("text")), nHashes).as("mh"))
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    val fromHashes = docs.select(col("doc_id"),
      graft.functions.GraftFunctions.minhash(
        graft.functions.GraftFunctions.shingleHashes(col("text")), nHashes)
        .as("mh"))
      .orderBy("doc_id").collect().map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(fromHashes.sameElements(fromStrings),
      "pre-hashed minhash path diverged from the string path")
  }

  test("native minhash signature is bit-identical to the HOF tower") {
    // the codegen graft_minhash must reproduce the interpreted
    // formulation exactly — same left-fold xxhash64 seeds, same minima —
    // or every band key (and thus the candidate set) silently shifts
    val nHashes = 16
    val s = Tables(spark, sf).documents
      .select(col("doc_id"), Dedup.shingles(col("text")).as("s"))
      .filter(size(col("s")) > 0)
    val hof = s.withColumn("hs", transform(col("s"), x => xxhash64(x)))
      .select(col("doc_id"), array((0 until nHashes).map { k =>
        array_min(transform(col("hs"), h => xxhash64(lit(k), h)))
      }: _*).as("mh"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
    val native = s.select(col("doc_id"),
      graft.functions.GraftFunctions.minhash(col("s"), nHashes).as("mh"))
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
    assert(native.sameElements(hof),
      "native minhash diverged from the HOF formulation")
  }

  test("ANN embedding pairs are a subset of the exact pairs (precision 1.0)") {
    // the decimal-exact verify stage makes every emitted ANN pair a true
    // cos >= 0.4 pair — candidates can only LOSE pairs, never invent them
    // the UNSLICED corpus (the catalog baseline runs a fixed
    // verification slice; the precision/recall pins must not)
    val exact = pairSet(queries.Similarity.exactPairsWithCos(
      Tables(spark, sf).embeddings.select(col("vec_id"), col("embedding")), 0.4)
      .select("id_a", "id_b").collect())
    val ann = pairSet(queries.Similarity.annNearDupPairs(
      Tables(spark, sf).embeddings.select(col("vec_id"), col("embedding")), 0.4)
      .collect())
    assert(ann.subsetOf(exact), s"false positives: ${ann.diff(exact)}")
    // at the deliberately wide 0.4 threshold (66 deg — far below the
    // high-similarity regime LSH is designed for) recall is probabilistic;
    // pin the measured floor so a banding regression is visible
    assert(ann.size >= math.ceil(exact.size * 0.9).toInt,
      s"recall ${ann.size}/${exact.size} fell below 0.9")
  }

  test("ANN embedding dedup finds every planted near-identical pair (recall 1.0 in its design regime)") {
    // 50 vectors perturbed by +-0.001 per element (cos > 0.9999 to their
    // originals): at this similarity the per-pair band-miss probability is
    // < 1e-50, so exact recall is a safe deterministic assertion — this is
    // the regime embedding near-dup dedup actually runs in
    val base = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding")).filter(col("vec_id") < 50)
    val planted = base.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x + when(i % 2 === 0, lit(0.001f)).otherwise(lit(-0.001f)))
          .cast("float")).as("embedding"))
    val pairs = pairSet(queries.Similarity
      .annNearDupPairs(base.unionByName(planted), 0.99).collect())
    (0L until 50L).foreach(id => assert(pairs.contains((id, id + 100000L)),
      s"missed planted near-identical pair $id"))
  }

  test("q_dedup_embedding_ann09 census: every twin clusters with its original, nothing else") {
    // the catalog entry plants a twin (cos ≈ 0.998) for every 50th vector
    // and must recover EXACTLY those clusters: the corpus's natural
    // near-dups top out at cos ≈ 0.51, far below the 0.9 verify, and the
    // deterministic hyperplanes make the banding outcome fixed — so the
    // whole census is an exact equality, not a floor
    val ids = Tables(spark, sf).embeddings
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id")).collect().map(_.getLong(0))
    assert(ids.nonEmpty)
    val rows = Dedup.qDedupEmbeddingAnn09.run(spark, sf).collect()
    assert(rows.length == 1, s"expected only size-2 clusters, got ${rows.toSeq}")
    val r = rows.head
    assert(r.getLong(0) == 2L && r.getLong(1) == ids.length.toLong
      && r.getLong(2) == ids.sum,
      s"census mismatch: $r vs ${ids.length} twins, canonical sum ${ids.sum}")
  }

  test("cluster resolution handles reversed/mixed edge orientation") {
    import spark.implicits._
    // same path given tail-first: min label must still flow to every node
    val pairs = (100L to 107L).map(i => (i + 1, i)).toDF("a", "b")
    val labels = graft.operators.ConnectedComponents.minLabel(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((100L to 108L).forall(labels(_) == 100L))
  }

  test("bloom sketch union contains both sides, identity on null/empty") {
    import graft.functions.BloomProbe
    import org.apache.spark.sql.functions.{col, not}
    val a = spark.range(100).toDF("k")
    val b = spark.range(1000, 1100).toDF("k")
    val sa = BloomProbe.sketch(a, col("k"))
    val sb = BloomProbe.sketch(b, col("k"))
    val m = BloomProbe.merge(sa, sb)
    // no false negatives across either input — the bloom-union law
    assert(a.unionByName(b)
      .filter(not(BloomProbe.mightContain(m, col("k")))).count() == 0)
    // and the merged sketch is genuinely selective (not all-ones)
    assert(spark.range(500000, 501000).toDF("k")
      .filter(BloomProbe.mightContain(m, col("k"))).count() < 100)
    assert(BloomProbe.merge(null, sa).sameElements(sa))
    assert(BloomProbe.merge(sa, Array.emptyByteArray).sameElements(sa))
  }

  test("index merge is load-bearing: replayed batch dedupes only via the merged index") {
    // day-3's replay of day-2's batch must be caught by the MERGED index
    // and missed by the base-only index — the discriminating evidence
    // that the merge landed day-2's fingerprints
    import org.apache.spark.sql.functions.col
    val mergedIdx = graft.queries.Dedup.dedupMergedIndexPath(spark, sf)
    val baseIdx = graft.queries.Dedup.dedupIndexPath(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"))
    val replay = docs
      .filter(graft.queries.Scramble(col("doc_id")) % 8 === 0)
      .withColumn("doc_id", col("doc_id") + 2000000000L)
    def kept(idxFps: org.apache.spark.sql.DataFrame,
        sketch: Array[Byte]): Long =
      graft.queries.Dedup.indexedAdmission(idxFps, sketch, replay)
        .agg(org.apache.spark.sql.functions.sum(col("n_kept")))
        .head().getLong(0)
    val baseSketch = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(baseIdx, "sketch.bin"))
    val mergedSketch = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(mergedIdx, "sketch.bin"))
    // the delta sketch was built with the base sketch's recorded
    // geometry, so the union kept the base's bit width
    val bits = (b: Array[Byte]) =>
      org.apache.spark.util.sketch.BloomFilter.readFrom(b).bitSize()
    assert(bits(mergedSketch) == bits(baseSketch),
      s"merged sketch ${bits(mergedSketch)} bits, base ${bits(baseSketch)}")
    val baseFps = spark.read.parquet(s"$baseIdx/fps")
    val mergedFps = baseFps.unionByName(
      spark.read.parquet(s"$mergedIdx/fps_delta"))
    // merged index: every replayed doc is a duplicate (recall 1.0)
    assert(kept(mergedFps, mergedSketch) == 0L,
      "replayed batch docs admitted through the merged index")
    // base-only index: the replay's genuinely-new texts get admitted —
    // so the zero above is the merge's doing, not the base's
    assert(kept(baseFps, baseSketch) > 0L,
      "base index already held the batch fingerprints; merge untested")
  }

  test("containment pairs include every Jaccard >= 2/3 pair") {
    // C = I/min >= 2J/(1+J): J >= 2/3 implies containment >= 0.8, so the
    // high-Jaccard planted pairs must all reappear (the non-lang-blocked
    // containment join can only ADD pairs beyond them)
    val cont = pairSet(Dedup.qDedupContainment.run(spark, sf)
      .select("doc_a", "doc_b").collect())
    val highJ = Dedup.qDedupNgramJaccard.run(spark, sf).collect()
      .filter(r => 3L * r.getInt(2) >= 2L * r.getInt(3))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(highJ.nonEmpty, "corpus lost its high-Jaccard planted pairs")
    assert(highJ.subsetOf(cont), s"missed: ${highJ.diff(cont)}")
  }

  test("containment emissions are internally consistent") {
    val rows = Dedup.qDedupContainment.run(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => 10L * r.getInt(2) >= 8L * r.getInt(3)))
    assert(rows.forall(r => r.getInt(2) <= r.getInt(3)))
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r =>
      r.getLong(4) == r.getLong(0) || r.getLong(4) == r.getLong(1)))
  }

  test("containment catches quote-inclusion that Jaccard misses") {
    // the asymmetric measure's reason to exist: a 30-token document
    // embedded verbatim in a 330-token one has containment 1.0 but
    // Jaccard ~0.09 — symmetric dedup cannot see it
    import spark.implicits._
    val quoted = (1 to 30).map(i => s"w$i")
    val filler = (1 to 300).map(i => s"f$i")
    val a = quoted.mkString(" ")
    val b = (quoted ++ filler).mkString(" ")
    val dir = tempDir("cont").toString
    Seq((0L, a, "en", "t", a.length.toLong),
        (1L, b, "en", "t", b.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cont = Dedup.qDedupContainment.run(spark, dir).collect()
    assert(cont.length == 1 && cont.head.getLong(4) == 0L,
      s"expected exactly the (0 in 1) containment pair, got ${cont.toSeq}")
    val jac = Dedup.qDedupNgramJaccard.run(spark, dir).collect()
    assert(jac.isEmpty, "Jaccard fired on the quote-inclusion pair " +
      "— the containment operator would be redundant")
  }
}
