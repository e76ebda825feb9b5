package graft

import graft.queries.Similarity
import org.apache.spark.sql.Row

/** Shape and recall pins for similarity search. Brute force is the
  * oracle-checked baseline; the ANN variants trade recall for a smaller
  * candidate set, and these floors document the trade at the test scale
  * (uniformish synthetic vectors — the hardest case for LSH/IVF). */
class SimilaritySpec extends SparkSpec {

  private def topkPairs(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(2))).toSet

  lazy val brute: Array[Row] = Similarity.qSimTopk.run(spark, sf).collect()
  lazy val brutePairs: Set[(Long, Long)] = topkPairs(brute)

  test("brute-force top-k returns exactly k ranked rows per query") {
    assert(brute.length == 8 * 5)
    val byQ = brute.groupBy(_.getLong(0))
    assert(byQ.size == 8)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to 5))
      val cs = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("zero-norm vectors score 0, never NaN (NaN would top every ranking)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(
      (1L, Array(0f, 0f, 0f), 0.0),
      (2L, Array(1f, 2f, 2f), 9.0),
    ).toDF("id", "e", "nrm")
    val probe = Seq((Array(3f, 0f, 4f), 25.0)).toDF("ep", "nrmp")
    val out = df.crossJoin(probe)
      .select(col("id"),
        Similarity.cosine(col("e"), col("nrm"), col("ep"), col("nrmp")).as("c"),
        graft.functions.GraftFunctions.cosineSim(col("e"), col("ep")).as("cg"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out(1L) == ((0.0, 0.0)), s"zero vector must score 0: ${out(1L)}")
    assert(!out(2L)._1.isNaN && out(2L)._1 > 0)
    // and the ranking therefore puts the real vector first
    assert(out(2L)._1 > out(1L)._1)
  }

  test("LSH multi-probe ANN recall floor") {
    val lsh = topkPairs(Similarity.qSimLshAnn.run(spark, sf).collect())
    val recall = (lsh & brutePairs).size.toDouble / brutePairs.size
    assert(recall >= 0.2, s"LSH recall $recall")
  }

  test("codegen graft_lsh_bucket equals the interpreted HOF formulation") {
    import org.apache.spark.sql.functions._
    val nBits = 6
    // the pre-codegen HOF tower, kept verbatim as the reference semantics
    def planesHof(e: org.apache.spark.sql.Column) =
      aggregate(
        sequence(lit(0), lit(nBits - 1)),
        lit(0L),
        (acc, j) => acc * 2 + when(
          aggregate(
            zip_with(e, sequence(lit(0), lit(63)),
              (x, i) => x.cast("double") *
                ((((j * 64 + i) * 1103515245L + 12345L) % 2147483648L)
                  .cast("double") / 2147483648.0 - 0.5)),
            lit(0.0), (a, x) => a + x) > 0, 1L).otherwise(0L))
    val mismatches = Tables(spark, sf).embeddings
      .select(planesHof(col("embedding")).as("hof"),
        graft.functions.GraftFunctions.lshBucket(col("embedding"), nBits)
          .as("native"))
      .filter(col("hof") =!= col("native"))
      .count()
    assert(mismatches == 0)
  }

  test("graft_lsh_bucket works from pure SQL via the registered function") {
    val r = spark.sql(
      "SELECT graft_lsh_bucket(array(1.0f, 0.0f), 6) AS b").head()
    assert(r.getLong(0) >= 0L && r.getLong(0) < 64L)
  }

  test("codegen graft_l2sq equals the declarative fold, float AND double inputs") {
    // the arithmetic contract the PQ oracles lean on: the native loop
    // must be bit-identical to aggregate(zip_with(…,(x,y)=>(x−y)²),0,+)
    // over both element widths the pipeline feeds it
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions.l2sq
    def fold(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, z) => acc + z)
    val base = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"),
        reverse(col("embedding")).as("other"))
      .withColumn("ed", col("embedding").cast("array<double>"))
      .withColumn("od", col("other").cast("array<double>"))
    val bad = base.filter(
      l2sq(col("embedding"), col("other")) =!= fold(col("embedding"), col("other"))
        || l2sq(col("ed"), col("od")) =!= fold(col("ed"), col("od"))
        || l2sq(col("embedding"), col("embedding")) =!= lit(0.0)).count()
    assert(bad == 0)
  }

  test("graft_l2sq works from pure SQL via the registered function") {
    val r = spark.sql(
      "SELECT graft_l2sq(array(1.0f, 2.0f), array(4.0f, 6.0f)) AS d").head()
    assert(r.getDouble(0) == 25.0)
  }

  test("native graft_pq_adc equals the element_at chain bit-for-bit over the corpus") {
    // the arithmetic contract behind q_sim_pq_search / q_sim_ivfpq: the
    // fused loop must be the SAME left-associated 8-lookup sum as the
    // Column chain it replaced (and as the oracle's explicit SQL sum)
    import org.apache.spark.sql.functions._
    val v = Similarity.normalized(
      Tables(spark, sf).embeddings.select(col("vec_id"), col("embedding")))
    val cb = Similarity.pqCodebook(v)
    val enc = Similarity.pqEncoded(v, cb)
    val lut = Similarity.pqLut(
      Similarity.pqDists(v.filter(col("vec_id") < 8), cb))
    val bad = enc.join(broadcast(lut), col("vec_id") =!= col("q_id"))
      .filter(Similarity.pqAdc =!= Similarity.pqAdcChain)
      .count()
    assert(bad == 0, "graft_pq_adc drifts from the element_at chain")
  }

  test("native graft_ivf_argmax equals the HOF-fold assignment over the corpus") {
    // the arithmetic contract behind every IVF oracle: the fused argmax
    // must pick the SAME centroid as the interpreted aggregate() fold —
    // per-centroid cosineSim fold, strict >, lowest-cid ties — on the
    // live corpus against the actually-trained quantizer
    import org.apache.spark.sql.functions._
    val n = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.ivfCentroids(n)
    val native = Similarity.ivfNearest(n, cents, "cluster")
      .select("vec_id", "cluster")
    val fold = Similarity.ivfNearestFold(n, cents, "cluster")
      .select(col("vec_id"), col("cluster").as("cluster_f"))
    val bad = native.join(fold, "vec_id")
      .filter(col("cluster") =!= col("cluster_f")).count()
    assert(bad == 0, "graft_ivf_argmax drifts from the HOF fold")
    // empty-quantizer seed: the fold's -1 survives the rewrite
    val none = Similarity.ivfNearest(n.limit(3),
      cents.filter(lit(false)), "cluster")
      .select("cluster").collect().map(_.getLong(0)).toSeq
    assert(none == Seq(-1L, -1L, -1L), s"empty centroids must seed -1: $none")
  }

  test("semanticAssign native kernel equals the aggregate argmax shape") {
    // round-20 rewrite: the SemDeDup assignment moved from the k-way
    // broadcast explode + max(struct(cos, -cid)) aggregate to the fused
    // graft_ivf_argmax loop — same per-centroid cosineSim fold, same
    // strict->/lowest-cid tie rule, zero row amplification. Pin the two
    // bit-equal over the live corpus (BOTH k-means passes included).
    import org.apache.spark.sql.functions._
    val v = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val native = Similarity.semanticAssign(v)
      .select(col("vec_id"), col("cluster"))
    val agg = Similarity.semanticAssignAgg(v)
      .select(col("vec_id"), col("cluster").as("cluster_a"))
    val n = native.count()
    val bad = native.join(agg, "vec_id")
      .filter(col("cluster") =!= col("cluster_a")).count()
    assert(n > 0 && bad == 0,
      s"semanticAssign native drifts from the aggregate shape ($bad/$n)")
  }

  test("argmax kernel and aggregate twin agree on zero-norm vectors and centroids") {
    // round-20 advice: the kernel's strict '>' would never select a NaN
    // cosine while max(struct) sorts NaN as the maximum — but both
    // shapes share CosineSimilarity's `denom == 0 → 0.0` guard, so a
    // zero-norm embedding or centroid yields cosine 0.0 (never NaN) and
    // the two picks agree BY CONSTRUCTION. This fixture documents that
    // contract at the boundary: NaN can only enter via NaN-valued
    // inputs, which no corpus or staged artifact produces.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val rows = Seq(
      (0L, Array(0.0, 0.0, 0.0, 0.0)), // zero-norm query vector
      (61L, Array(1.0, 0.0, 0.0, 0.0)), // seed → centroid cid 61
      (122L, Array(0.0, 0.0, 0.0, 0.0)), // seed → ZERO-NORM centroid cid 122
      (7L, Array(0.9, 0.1, 0.0, 0.0)),
      (8L, Array(-1.0, 0.0, 0.0, 0.0)) // all cosines <= 0: first strict > wins
    ).toDF("vec_id", "embedding")
      // semanticAssign's seed rule picks vec_id % 61 == 0 && < 976:
      // rows 0 (zero-norm), 61, 122 (zero-norm) become the centroids
    val native = Similarity.semanticAssign(rows)
      .select(col("vec_id"), col("cluster"))
    val agg = Similarity.semanticAssignAgg(rows)
      .select(col("vec_id"), col("cluster").as("cluster_a"))
    val joined = native.join(agg, "vec_id").collect()
    assert(joined.length == 5)
    joined.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"zero-norm divergence at vec_id=${r.getLong(0)}: " +
          s"native=${r.getLong(1)} agg=${r.getLong(2)}")
      assert(r.getLong(1) >= 0L, "assignment must pick a real centroid")
    }
  }

  test("graft_pq_adc works from pure SQL via the registered function") {
    // codes all 0 → 0-based lut indices 0..7 → 1+2+…+8 = 36
    val r = spark.sql(
      "SELECT graft_pq_adc(array(0,0,0,0,0,0,0,0), " +
        "array(1.0D,2.0D,3.0D,4.0D,5.0D,6.0D,7.0D,8.0D)) AS d").head()
    assert(r.getDouble(0) == 36.0)
  }

  test("graft_pq_adc rejects malformed shapes loudly (no silent misindex)") {
    // 7 codes, and an out-of-k code id: both must throw, not misread
    intercept[Exception] {
      spark.sql("SELECT graft_pq_adc(array(0,0,0,0,0,0,0), " +
        "array(1.0D,2.0D,3.0D,4.0D,5.0D,6.0D,7.0D,8.0D))").head()
    }
    intercept[Exception] {
      spark.sql("SELECT graft_pq_adc(array(5,0,0,0,0,0,0,0), " +
        "array(1.0D,2.0D,3.0D,4.0D,5.0D,6.0D,7.0D,8.0D))").head()
    }
  }

  test("native expressions: interpreted eval equals codegen over the corpus") {
    import org.apache.spark.sql.functions._
    import graft.functions.GraftFunctions._
    // pq_adc inputs derived from the row (non-foldable, so ConstantFolding
    // can't pre-evaluate them): k=2 lut from the vector's first 16 dims,
    // codes alternating with the row's parity
    val codes = array((0 until 8).map(s =>
      ((col("vec_id") + s) % 2).cast("int")): _*)
    val e = Tables(spark, sf).embeddings
      .select(col("vec_id"), lshBucket(col("embedding"), 6).as("b"),
        cosineSim(col("embedding"), col("embedding")).as("c"),
        l2sq(col("embedding"), reverse(col("embedding"))).as("l"),
        pqAdcNative(codes,
          slice(col("embedding"), 1, 16).cast("array<double>")).as("a"))
    def snap() = e.collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val codegen = snap()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interpreted = snap()
      assert(interpreted == codegen,
        "doGenCode and nullSafeEval disagree — the two paths must be twins")
    } finally {
      spark.conf.unset("spark.sql.codegen.wholeStage")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("Graft.builder config and Graft.register expose the SQL functions") {
    // the shared test session was built with the extensions; register()
    // must be idempotent on such a session
    graft.Graft.register(spark)
    val r = spark.sql("SELECT graft_cosine(array(1.0f), array(1.0f)) AS c, " +
      "graft_lsh_bucket(array(1.0f), 6) AS b").head()
    assert(r.getDouble(0) == 1.0 && r.getLong(1) >= 0L)
    val b = graft.Graft.builder()
    assert(b != null) // construction-only: one live session per test JVM
    // SQL-first path: tables as temp views + registered functions
    graft.Graft.registerTables(spark, sf)
    val n = spark.sql(
      "SELECT COUNT(*) FROM embeddings WHERE graft_lsh_bucket(embedding, 6) >= 0")
      .head().getLong(0)
    assert(n > 0)
  }

  test("IVF nprobe=2 ANN recall floor") {
    val ivf = Similarity.qSimIvfAnn.run(spark, sf).collect()
    assert(ivf.length == 8 * 5)
    val recall = (topkPairs(ivf) & brutePairs).size.toDouble / brutePairs.size
    assert(recall >= 0.25, s"IVF recall $recall")
  }

  test("PQ ADC search recall floor vs exact cosine top-k") {
    // unit-normalization makes ADC's L2 ranking a cosine ranking, so
    // the overlap with the exact top-k measures pure quantization loss
    // (8 subspaces × 16 codes on 64 dims — coarse by design at test
    // scale); the floor pins a codebook/encode regression
    val pq = Similarity.qSimPqSearch.run(spark, sf).collect()
    assert(pq.length == 8 * 5)
    val byQ = pq.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to 5))
      val ds = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(ds.zip(ds.tail).forall { case (a, b) => a <= b },
        "ADC distances must be non-decreasing in rank")
    }
    // uniformish random vectors are PQ's WORST case: pairwise cosines
    // concentrate in a narrow band, so the 8×9-code quantization can't
    // separate the top-5 from the next fifty (measured 0.175 here,
    // 0.125 at sf0.01 — ~15× better than chance but absolutely low,
    // faithfully reflecting the method's limits on clusterless data;
    // real embedding corpora cluster, which is what PQ exploits). The
    // floor pins a codebook/encode regression, not a quality claim —
    // the hash-exact oracle carries the correctness load.
    val recall = (topkPairs(pq) & brutePairs).size.toDouble / brutePairs.size
    assert(recall >= 0.1, s"PQ ADC recall $recall")
  }

  test("IVF x PQ composed ANN recall floor vs exact cosine top-k") {
    val ivfpq = Similarity.qSimIvfPq.run(spark, sf).collect()
    assert(ivfpq.length == 8 * 5)
    val recall =
      (topkPairs(ivfpq) & brutePairs).size.toDouble / brutePairs.size
    // routing loss (nprobe=2) stacks on quantization loss — the
    // composed floor sits below the pure-ADC one by construction
    // (measured 0.10 at sf0.001, 0.15 at sf0.01)
    assert(recall >= 0.05, s"IVFxPQ recall $recall")
    // ADC of unit vectors is a squared L2: bounded [0, 4]
    assert(ivfpq.forall { r =>
      val d = r.getDouble(3); d >= 0.0 && d <= 4.0 + 1e-9
    })
  }

  test("codegen graft_cosine top-k agrees with the exact-decimal baseline") {
    val fast = graft.queries.UdfQueries.qSimTopkFast.run(spark, sf).collect()
    assert(fast.length == brute.length)
    val fastByQ = fast.groupBy(_.getLong(0))
    val bruteByQ = brute.groupBy(_.getLong(0))
    for ((q, rs) <- bruteByQ) {
      val b = rs.map(_.getLong(2)).toSet
      val f = fastByQ(q).map(_.getLong(2)).toSet
      // identical up to double-vs-decimal ties at the k boundary
      assert((b & f).size >= 4, s"query $q: fast=$f brute=$b")
      val cosDiff = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
        .zip(fastByQ(q).sortBy(_.getInt(1)).map(_.getDouble(3)))
        .map { case (x, y) => math.abs(x - y) }.max
      assert(cosDiff < 1e-6)
    }
  }

  test("graft_cosine works from pure SQL via the registered function") {
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val r = spark.sql(
      "SELECT graft_cosine(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS c, " +
        "graft_cosine(array(1.0f, 0.0f), array(0.0f, 1.0f)) AS o").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12 && r.getDouble(1) == 0.0)
  }

  test("cosine is symmetric and bounded on near-dup pairs") {
    val rows = Similarity.qSimCosinePairs.run(spark, sf).collect()
    assert(rows.forall(r => r.getDouble(2) >= 0.4 && r.getDouble(2) <= 1.0))
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("IVF merge: merged index answers equal from-scratch assignment against the frozen quantizer") {
    // the merge invariant: (base lists built day-1) ∪ (batch delta
    // assigned at merge) must answer identically to assigning the WHOLE
    // corpus against the same frozen quantizer in one pass — if the
    // merge dropped, duplicated, or re-clustered anything, the probe
    // answers diverge somewhere
    import org.apache.spark.sql.functions.col
    val merged = Similarity.qSimIvfMerge.run(spark, sf).collect().toSeq
    val baseIdx = Similarity.ivfBaseIndexPath(spark, sf)
    val cents = spark.read.parquet(s"$baseIdx/centroids")
    val n = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val scratchLists = Similarity.ivfNearest(n, cents, "cluster")
      .select(col("cluster"), col("vec_id"), col("embedding"))
    val scratch = Similarity.ivfTopk(scratchLists, cents, n).collect().toSeq
    assert(merged == scratch,
      s"merged diverged from from-scratch: ${merged.diff(scratch)}")
  }

  test("streaming IVF ingest equals the nightly merge, at any batching") {
    import org.apache.spark.sql.functions.col
    // the judged query: stream-ingested delta ∪ base lists must answer
    // exactly like the nightly merge (same frozen quantizer, same rows)
    val merged = Similarity.qSimIvfMerge.run(spark, sf).collect().toSeq
    val ingested = Similarity.qStreamIvfIngest.run(spark, sf).collect().toSeq
    assert(ingested == merged,
      s"stream-ingested diverged from nightly merge: ${ingested.diff(merged)}")
    // batching invariance, forced: the same batch slice laid out as 3
    // files and streamed with maxFilesPerTrigger=1 (a 3-micro-batch
    // schedule) must append the same delta CONTENT as the one-shot
    // nightly assignment — any cross-batch drop, duplicate, or
    // reassignment shifts some vector's cluster or multiplicity
    val baseIdx = Similarity.ivfBaseIndexPath(spark, sf)
    val cents = spark.read.parquet(s"$baseIdx/centroids")
    val tmp = tempDir("ingest_spec").toString
    spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .filter(graft.queries.Scramble(col("vec_id")) % 4 === 0)
      .repartition(3).write.mode("overwrite").parquet(tmp)
    val schema = spark.read.parquet(tmp).schema
    val threeBatches = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(tmp)
    val delta = graft.streaming.EventsStream
      .runAggregated(spark, threeBatches, "append")(
        Similarity.ivfIngestBatch(cents))
      .collect().map(r => (r.getLong(1), r.getLong(0))).sorted.toSeq
    val oneShot = Similarity.ivfMergeAssignments(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(0))).sorted.toSeq
    assert(delta == oneShot,
      s"3-batch ingest delta diverged from one-shot assignment " +
        s"(${delta.size} vs ${oneShot.size} rows)")
  }

  test("JL projection: judged top-5 carries true cosines; projected space preserves retrieval signal") {
    val rows = Similarity.qEmbedProject.run(spark, sf).collect()
    assert(rows.length == 8 * 5)
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 8)
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to 5))
      // ranked by PROJECTED cosine, descending
      val cp = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cp.zip(cp.tail).forall { case (a, b) => a >= b })
      // both cosines bounded (folds can exceed [-1,1] only via NaN bugs)
      rs.foreach { r =>
        assert(r.getDouble(3) >= -1.0 - 1e-9 && r.getDouble(3) <= 1.0 + 1e-9)
        assert(r.getDouble(4) >= -1.0 - 1e-9 && r.getDouble(4) <= 1.0 + 1e-9)
      }
    }
    // signal floor: projected-space winners must carry real true-cosine
    // signal, far above the corpus mean pair cosine (~0.0009 here) —
    // measured 0.083 at sf0.001; half that as the regression floor.
    // (Exact top-1 recall is NOT pinned: this corpus's top-1 margins
    // are ~0.01, unrankable at ANY projected dimension — see the
    // query's scaladoc; the operational claim is the planted-dup test.)
    val meanCt = rows.map(_.getDouble(4)).sum / rows.length
    assert(meanCt >= 0.04, s"projected winners' mean true cosine $meanCt")
  }

  test("JL projection: a planted duplicate survives projection as top-1") {
    // the candidate-generation contract: a true near-dup (here an exact
    // copy of vector 3 under id 9000) projects to cos ≈ 1 and MUST rank
    // first in projected space — 1/√k noise cannot displace a cos-1
    // pair, only fine-grained noise rankings
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val n = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val twin = n.filter(col("vec_id") === 3)
      .select(lit(9000L).as("vec_id"), col("embedding"))
    val pe = n.unionAll(twin)
      .select(col("vec_id"), Similarity.jlProjected(col("embedding")).as("pemb"))
    val q = pe.filter(col("vec_id") === 3)
      .select(col("vec_id").as("q_id"), col("pemb").as("pq"))
    val top1 = pe.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        Similarity.jlCos(col("pq"), col("pemb")).as("cp"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cp").desc, col("n_id").asc)))
      .filter(col("rn") === 1).head()
    assert(top1.getLong(1) == 9000L && top1.getDouble(2) > 0.999,
      s"planted twin not projected top-1: $top1")
  }

  /** The HOF statement of the JL projection (the definitional form the
    * q_embed_project oracle renders): output dim d is the ascending-j
    * fold of v[j]·coef(d, j), coef from the LCG family at k = 4096 +
    * d·64 + j. Kept out of the judged plans: interpreted lambda dispatch
    * is what the native `graft_jl_project` replaced. */
  private def jlProjectedHof(emb: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    array((0 until 8).map { d =>
      aggregate(
        transform(emb, (x, j) =>
          x.cast("double") *
            (((j + lit(4096 + d * 64)).cast("long") * lit(1103515245L)
              + lit(12345L)) % lit(2147483648L)).cast("double")
              ./(lit(2.147483648e9)).-(lit(0.5))),
        lit(0.0), (ac, v) => ac + v)
    }: _*)
  }

  /** The HOF statement of the projected-space cosine (equal-length
    * inputs only): dot, ‖a‖², ‖b‖² are each 0.0-seeded ascending folds,
    * and interleaving the three accumulators in one fused loop
    * (graft_cosine) produces identical IEEE sums. */
  private def jlCosHof(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    def fold(terms: org.apache.spark.sql.Column) =
      aggregate(terms, lit(0.0), (ac, v) => ac + v)
    val dot = fold(zip_with(a, b, (x, y) => x * y))
    val na = fold(transform(a, x => x * x))
    val nb = fold(transform(b, x => x * x))
    coalesce(dot / nullif(sqrt(na) * sqrt(nb), lit(0.0)), lit(0.0))
  }

  test("native JL projection and double-cosine equal the HOF towers bit-for-bit") {
    // r18: graft_jl_project / graft_cosine(double) replaced the
    // interpreted aggregate(transform(...)) towers in the judged plans;
    // the towers remain the definitional (oracle-rendered) forms, so
    // the swap is only sound if every projected value and every
    // projected-space cosine is BIT-identical on real corpus rows —
    // exact doubles compared, no tolerance (graft_fingerprint pin
    // discipline)
    import org.apache.spark.sql.functions._
    val n = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    val both = n.select(col("vec_id"),
      Similarity.jlProjected(col("embedding")).as("nat"),
      jlProjectedHof(col("embedding")).as("hof"))
    assert(both.filter(not(col("nat") <=> col("hof"))).count() == 0,
      "native JL projection drifts from the HOF tower")
    val q = both.filter(col("vec_id") < 4)
      .select(col("vec_id").as("q_id"), col("nat").as("pq"))
    val cmp = both.join(broadcast(q), col("vec_id") =!= col("q_id"))
      .select(Similarity.jlCos(col("pq"), col("nat")).as("cn"),
        jlCosHof(col("pq"), col("hof")).as("ch"))
    assert(cmp.filter(not(col("cn") <=> col("ch"))).count() == 0,
      "native projected cosine drifts from the HOF fold")
  }

  test("kNN graph: constructed fixture edges, ranking, and cluster blocking") {
    // 2 clusters of hand-built unit-ish vectors: within cluster 0,
    // vector 0 is closest to 1, then 2; vector 10 (cluster 1) can never
    // appear among cluster-0 neighbors even though it is IDENTICAL to
    // vector 0 — candidates come only from the same inverted list
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def v(xs: Float*): Seq[Float] = xs
    val lists = Seq(
      (0, 0L, v(1f, 0f, 0f)),
      (0, 1L, v(0.9f, 0.1f, 0f)),
      (0, 2L, v(0.5f, 0.5f, 0f)),
      (0, 3L, v(0f, 1f, 0f)),
      (1, 10L, v(1f, 0f, 0f)),
      (1, 11L, v(0f, 0f, 1f))
    ).toDF("cluster", "vec_id", "embedding")
    val edges = Similarity.knnEdges(lists, 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(edges.contains((0L, 1, 1L)) && edges.contains((0L, 2, 2L)),
      s"vector 0's ranked neighbors wrong: $edges")
    assert(!edges.exists(e => e._1 < 10 && e._3 >= 10),
      s"cross-cluster edge leaked: $edges")
    assert(edges.contains((10L, 1, 11L)),
      s"cluster-1 pair missing (k > list size must emit what exists): $edges")
  }

  test("kNN graph: judged mutual flags equal a full-graph recomputation") {
    // the mutual flag on the judged slice must agree with re-deriving
    // the WHOLE graph and checking reverse membership — pins that the
    // filter-pruned reverse join loses no edge whose source is outside
    // the slice
    import org.apache.spark.sql.functions._
    val judged = graft.queries.Registry.all
      .find(_.name == "q_sim_knn_graph").get
      .run(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getBoolean(4))).toMap
    val lists = spark.read
      .parquet(s"${Similarity.ivfIndexPath(spark, sf)}/lists")
      .select(col("cluster"), col("vec_id"), col("embedding"))
    val full = Similarity.knnEdges(lists, 3)
      .select(col("vec_id"), col("n_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    judged.foreach { case ((a, b), m) =>
      assert(m == full.contains((b, a)),
        s"mutual($a,$b)=$m but full graph says ${full.contains((b, a))}")
    }
    assert(judged.nonEmpty && judged.exists(_._2),
      "slice empty or no mutual edge anywhere — fixture degenerate")
  }

  test("incremental IVF index answers equal the from-scratch q_sim_ivf_ann") {
    // training is deterministic (fixed seeds + fixed-point Lloyd
    // update), so probing the persisted index must give byte-identical
    // rankings to rebuilding everything — the property that lets the
    // day-2 entry share q_sim_ivf_ann's oracle verbatim
    val scratch = Similarity.qSimIvfAnn.run(spark, sf).collect().toSeq
    val indexed = Similarity.qSimIvfIncremental.run(spark, sf).collect().toSeq
    assert(scratch == indexed,
      s"from-index diverged from from-scratch: ${indexed.diff(scratch)}")
  }

  test("semantic dedup prunes a planted identical twin; removal rule holds") {
    import org.apache.spark.sql.functions._
    val base = Tables(spark, sf).embeddings
      .select(col("vec_id"), col("embedding"))
    // an exact copy of vector 7 under a high id: identical embedding →
    // identical cosines → same cluster as 7 at every stage, pair cosine
    // 1.0 ≥ τ, so the twin MUST be pruned with a keeper ≤ 7. The id
    // (2000) sits above every corpus id but INSIDE the fixed pair-stage
    // slice (vec_id < 2048 — the r13 no-quadratic-demos cap)
    val twin = base.filter(col("vec_id") === 7)
      .select(lit(2000L).as("vec_id"), col("embedding"))
    val out = Similarity.semanticPrune(base.unionAll(twin), 0.4).collect()
    val twinRow = out.filter(_.getLong(1) == 2000L)
    assert(twinRow.length == 1, s"planted twin not pruned: ${out.mkString(",")}")
    assert(twinRow.head.getLong(2) <= 7L) // witness keeper is an earlier id
    // removal-rule invariants over the whole output: the witness is a
    // lower id at/above threshold, never the pruned vector itself
    assert(out.forall(r => r.getLong(2) < r.getLong(1)))
    assert(out.forall(r => r.getDouble(3) >= 0.4 && r.getDouble(3) <= 1.0 + 1e-9))
  }

  test("map-only PQ encode is the former aggregate argmin, bit for bit") {
    // the round-17 plan change (explode + two hash aggs -> pure map via
    // graft_pq_encode) must not move a single code: rebuild the former
    // declarative formulation and compare over the whole test corpus,
    // raw floats AND the normalized-double corpus (both caller dtypes)
    import org.apache.spark.sql.functions._
    def legacy(v: org.apache.spark.sql.DataFrame,
        cb: org.apache.spark.sql.DataFrame): Map[Long, Seq[Int]] =
      Similarity.pqDists(v, cb)
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("dist"), col("code"))).as("best"))
        .groupBy(col("vec_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("sub"),
            col("best.code").as("code")))),
          s => s.getField("code")).as("codes"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    def current(v: org.apache.spark.sql.DataFrame,
        cb: org.apache.spark.sql.DataFrame): Map[Long, Seq[Int]] =
      Similarity.pqEncoded(v, cb)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val raw = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val norm = Similarity.normalized(raw)
    for (v <- Seq(raw, norm)) {
      val cb = Similarity.pqCodebook(v)
      val a = legacy(v, cb); val b = current(v, cb)
      assert(a.nonEmpty && a == b)
    }
  }

  test("hybrid RRF fuses the two judged leg rankings exactly") {
    val rows = Similarity.qHybridRrf.run(spark, sf).collect()
    assert(rows.length == 10)
    assert(rows.map(_.getInt(0)).toSeq == (1 to 10))
    val rrfs = rows.map(_.getDouble(2))
    assert(rrfs.zip(rrfs.tail).forall { case (x, y) => x >= y })
    // recompute each fused score from its own leg ranks (absent leg = 0),
    // with the same 6dp HALF_UP rounding Spark's round() applies
    def leg(r: Row, i: Int): Double =
      if (r.isNullAt(i)) 0.0 else 1.0 / (60 + r.getInt(i))
    assert(rows.forall(r => r.getDouble(2) ==
      BigDecimal(leg(r, 3) + leg(r, 4))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    // the fusion is real: both legs contribute ranks to the top-10
    assert(rows.exists(!_.isNullAt(3)) && rows.exists(!_.isNullAt(4)))
  }

  test("hybrid RRF is deterministic across runs") {
    val a = Similarity.qHybridRrf.run(spark, sf).collect().toSeq
    val b = Similarity.qHybridRrf.run(spark, sf).collect().toSeq
    assert(a == b)
  }
}
