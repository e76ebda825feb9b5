package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over `documents` — the LLM-training-pipeline
  * primitives (north star, SURVEY.md §2.B last rows): token counting,
  * quality scoring, language identification, and document fingerprinting.
  * Reference analog: pyPiper users write all of this as Python inside
  * `Node.run`; here each is pure Catalyst expressions (split / higher-order
  * functions / regexp) that stay inside whole-stage codegen — a 100 TB run
  * is a single map stage with no shuffle until the final tiny aggregate.
  *
  * Determinism: every metric is integer arithmetic or an exact bigint fold,
  * so Spark and DuckDB agree bit-for-bit.
  */
object TextAnalysis {

  /** Whitespace tokens with empties removed (trailing-space artifacts). */
  // round 18: the HOF tokenizer (filter(split(...))) is CodegenFallback
  // and kept every text-family projection out of whole-stage codegen
  // (~50 us/doc interpreted); graft_tokens is its bit-exact codegen twin
  private def toks(c: Column): Column =
    graft.functions.GraftFunctions.graftTokens(c)

  /** Top-20 tokens by frequency: tokenize → explode → count. The classic
    * word-count; at scale the explode shuffles (token, 1) pairs but
    * map-side partial aggregation collapses them to ~vocabulary size per
    * partition before the exchange. */
  val qTextTokens: QueryDef = QueryDef.oracle(
    "q_text_tokens",
    """SELECT w AS word, COUNT(*) AS n FROM (
      |  SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |  FROM documents)
      |GROUP BY 1 ORDER BY n DESC, word LIMIT 20""".stripMargin,
  ) { (spark, dir) =>
    Tables(spark, dir).documents
      .select(explode(toks(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word").asc)
      .limit(20)
  }

  /** Per-document quality scoring (length band, type-token ratio, stopword
    * ratio) + two token-count variants (whitespace and regex "BPE-ish"
    * word pieces), folded per language. All flags are integer comparisons
    * — scale-free and engine-exact. */
  val qTextQuality: QueryDef = QueryDef.oracle(
    "q_text_quality",
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS sum_tok, CAST(SUM(n_re_tok) AS BIGINT) AS sum_re_tok,
      |  CAST(SUM(CASE WHEN n_chars BETWEEN 100 AND 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_len_ok,
      |  CAST(SUM(CASE WHEN 10 * n_uniq >= 2 * n_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_ttr_ok,
      |  CAST(SUM(CASE WHEN 20 * n_stop <= 3 * n_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_stop_ok,
      |  CAST(SUM(CASE WHEN n_chars BETWEEN 100 AND 1000
      |        AND 10 * n_uniq >= 2 * n_tok
      |        AND 20 * n_stop <= 3 * n_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_high_q
      |FROM (
      |  SELECT lang, n_chars,
      |    len(ws) AS n_tok,
      |    len(list_distinct(ws)) AS n_uniq,
      |    len(list_filter(ws, w -> w IN ('the', 'a', 'of', 'and'))) AS n_stop,
      |    len(regexp_extract_all(text, '[a-z0-9]+')) AS n_re_tok
      |  FROM (SELECT lang, n_chars, text,
      |          list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |        FROM documents))
      |GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    // per-doc metrics IN-ROW (round 18): the explode + doc-keyed
    // conditional aggregation below this rollup existed only because
    // the HOF tokenizer was CodegenFallback with no CSE — re-tokenizing
    // per metric. graft_tokens/graft_count_in/array_distinct are all
    // codegen and CSE-eligible, so the per-doc metrics are one scan
    // projection: no 100×-corpus token explode, no 50 M-group
    // countDistinct aggregate, nothing shuffles before the ≤5-row
    // language rollup — the 100 TB profile this query should have had
    val stop = Seq("the", "a", "of", "and")
    val ws = toks(col("text"))
    Tables(spark, dir).documents
      .select(col("lang"), col("n_chars"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("n_re_tok"),
        size(ws).as("n_tok"),
        size(array_distinct(ws)).as("n_uniq"),
        graft.functions.GraftFunctions.countIn(ws, stop).as("n_stop"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tok"),
        sum(col("n_re_tok")).as("sum_re_tok"),
        sum(when(col("n_chars").between(100, 1000), 1).otherwise(0)).as("n_len_ok"),
        sum(when(col("n_uniq") * 10 >= col("n_tok") * 2, 1).otherwise(0)).as("n_ttr_ok"),
        sum(when(col("n_stop") * 20 <= col("n_tok") * 3, 1).otherwise(0)).as("n_stop_ok"),
        sum(when(col("n_chars").between(100, 1000)
          && col("n_uniq") * 10 >= col("n_tok") * 2
          && col("n_stop") * 20 <= col("n_tok") * 3, 1).otherwise(0)).as("n_high_q"))
      .orderBy("lang")
  }

  /** Language identification by marker-token scoring (the n-gram-heuristic
    * family): score each doc against per-language marker lists, predict the
    * argmax (ties broken by a fixed language order), emit the
    * actual × predicted confusion matrix. Pure per-row arithmetic — at
    * 100 TB a map stage plus a ≤25-row aggregate. */
  val qTextLangid: QueryDef = QueryDef.oracle(
    "q_text_langid",
    """SELECT lang, pred, COUNT(*) AS n FROM (
      |  SELECT lang,
      |    CASE
      |      WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
      |      WHEN s_es >= s_de AND s_es >= s_fr AND s_es >= s_zh THEN 'es'
      |      WHEN s_de >= s_fr AND s_de >= s_zh THEN 'de'
      |      WHEN s_fr >= s_zh THEN 'fr'
      |      ELSE 'zh' END AS pred
      |  FROM (
      |    SELECT lang,
      |      len(list_filter(ws, w -> w IN ('the', 'a', 'scan', 'table'))) AS s_en,
      |      len(list_filter(ws, w -> w IN ('data', 'row', 'query'))) AS s_es,
      |      len(list_filter(ws, w -> w IN ('join', 'merge', 'batch'))) AS s_de,
      |      len(list_filter(ws, w -> w IN ('window', 'filter', 'sort'))) AS s_fr,
      |      len(list_filter(ws, w -> w IN ('spark', 'stream', 'hash'))) AS s_zh
      |    FROM (SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |          FROM documents)))
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
  ) { (spark, dir) =>
    // 5 in-row marker counts (round 18): the explode + doc-keyed
    // aggregate was the HOF-no-CSE workaround; graft_count_in scores
    // all five languages in one codegen scan projection — token-less
    // docs score 0 everywhere → 'en' by the tie chain, as before
    val ws = toks(col("text"))
    def score(words: Seq[String]): Column =
      graft.functions.GraftFunctions.countIn(ws, words)
    Tables(spark, dir).documents
      .select(col("lang"),
        score(Seq("the", "a", "scan", "table")).as("s_en"),
        score(Seq("data", "row", "query")).as("s_es"),
        score(Seq("join", "merge", "batch")).as("s_de"),
        score(Seq("window", "filter", "sort")).as("s_fr"),
        score(Seq("spark", "stream", "hash")).as("s_zh"))
      .select(col("lang"),
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de")
          && col("s_en") >= col("s_fr") && col("s_en") >= col("s_zh"), "en")
          .when(col("s_es") >= col("s_de") && col("s_es") >= col("s_fr")
            && col("s_es") >= col("s_zh"), "es")
          .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_zh"), "de")
          .when(col("s_fr") >= col("s_zh"), "fr")
          .otherwise("zh").as("pred"))
      .groupBy("lang", "pred").agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred")
  }

  /** Document fingerprinting: an order-dependent rolling polynomial hash
    * over the token stream (h = (h*131 + tokval) mod 1e9+7) — the native
    * codegen expression [[graft.functions.Fingerprint]], one compiled
    * pass per row over the UTF-8 bytes. Bit-identical to the declarative
    * `aggregate` fold (PropertySpec pins equality on the corpus AND on
    * adversarial generated strings) and to the oracle's `list_reduce`:
    * identical bigint arithmetic on both engines. */
  val qTextFingerprint: QueryDef = QueryDef.oracle(
    "q_text_fingerprint",
    s"""SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT fp) AS n_fp,
      |  MIN(fp) AS min_fp, MAX(fp) AS max_fp, CAST(SUM(fp) AS BIGINT) AS sum_fp
      |FROM (
      |  SELECT source, ${FingerprintSql.sql("text")} AS fp
      |  FROM documents)
      |GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    val fp = graft.functions.GraftFunctions.fingerprint(col("text"))
    Tables(spark, dir).documents
      .select(col("source"), fp.as("fp"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("fp")).as("n_fp"),
        min(col("fp")).as("min_fp"), max(col("fp")).as("max_fp"),
        sum(col("fp")).as("sum_fp"))
      .orderBy("source")
  }

  /** Document CHUNKING — the step between curation and packing in a
    * training pipeline: each doc is split into token windows of size 128
    * at stride 64 (start offsets k·64 for every k with k·64 < n_tok;
    * the final window is truncated to the doc end). Pure per-row
    * arithmetic: token count from the split array, window starts from
    * `sequence`, one explode — no shuffle until the per-source rollup,
    * so a 100 TB corpus chunks at scan speed. Integer-exact stats
    * (chunk counts, window lengths, full-window count) keep the oracle
    * bit-for-bit. */
  val qTextChunk: QueryDef = QueryDef.oracle(
    "q_text_chunk",
    """WITH t AS (
      |  SELECT doc_id, source,
      |    len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tok
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, n_tok, k * 64 AS start,
      |    LEAST(128, n_tok - k * 64) AS chunk_len
      |  FROM t, unnest(range(0, CAST(CEIL(n_tok / 64.0) AS BIGINT))) AS u(k)
      |  WHERE n_tok > 0)
      |SELECT source, COUNT(*) AS n_chunks,
      |  CAST(SUM(chunk_len) AS BIGINT) AS sum_len,
      |  CAST(SUM(CASE WHEN chunk_len = 128 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_full,
      |  MAX(chunk_len) AS max_len, MIN(chunk_len) AS min_len
      |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
  ) { (spark, dir) =>
    // the zero-token guard is the `when(...empty array)` under the
    // explode (generators drop empty arrays), NOT a filter: a filter on
    // n_tok would push below the projection and re-evaluate the
    // tokenize HOF per row (no CSE across HOF boundaries — the trap
    // qTextQuality documents); here tokenization runs once in the
    // bottom projection and everything above references the attribute
    val n = size(toks(col("text"))).cast("long")
    Tables(spark, dir).documents
      .select(col("source"), n.as("n_tok"))
      .select(col("source"), col("n_tok"),
        explode(when(col("n_tok") > 0,
          sequence(lit(0L), ceil(col("n_tok") / 64.0).cast("long") - 1))
          .otherwise(array().cast("array<bigint>"))).as("k"))
      .select(col("source"),
        least(lit(128L), col("n_tok") - col("k") * 64).as("chunk_len"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("chunk_len")).as("sum_len"),
        sum(when(col("chunk_len") === 128, 1L).otherwise(0L)).as("n_full"),
        max(col("chunk_len")).as("max_len"), min(col("chunk_len")).as("min_len"))
      .orderBy("source")
  }

  /** Vocabulary construction — the tokenizer-building pass of a training
    * pipeline: token → frequency with a min-count cutoff and DENSE
    * contiguous ids ordered by (count desc, token asc). The id assignment
    * is the part that matters at 100 TB: a bare
    * `ROW_NUMBER() OVER (ORDER BY …)` funnels the ENTIRE vocabulary
    * through one partition. Instead: (1) histogram the counts — rows =
    * distinct frequency VALUES, thousands at most, Zipf guarantees it;
    * (2) prefix-sum offsets over that tiny table (the only unpartitioned
    * window, deliberately on aggregate-sized input); (3) broadcast the
    * offsets back and rank WITHIN each count partition — every partition
    * ranks in parallel, id = offset(count) + local rank. Oracle proves
    * the distributed ranking equals the single-window definition. */
  val qTextVocab: QueryDef = QueryDef.oracle(
    "q_text_vocab",
    """WITH c AS (
      |  SELECT w AS token, COUNT(*) AS n FROM (
      |    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
      |    FROM documents)
      |  GROUP BY 1 HAVING COUNT(*) >= 3)
      |SELECT token, CAST(n AS BIGINT) AS n,
      |  ROW_NUMBER() OVER (ORDER BY n DESC, token) AS vocab_id
      |FROM c ORDER BY vocab_id""".stripMargin,
  ) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val counts = Tables(spark, dir).documents
      .select(explode(toks(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 3)
    val hist = counts.groupBy("n").agg(count(lit(1)).as("c"))
    val off = hist
      .withColumn("offset",
        coalesce(sum(col("c")).over(Window.orderBy(col("n").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n"), col("offset"))
    counts.join(broadcast(off), "n")
      .withColumn("vocab_id",
        col("offset") + row_number().over(
          Window.partitionBy("n").orderBy("token")))
      .select(col("token"), col("n"), col("vocab_id"))
      .orderBy("vocab_id")
  }

  /** Adjacent-token bigram statistics with PMI — the pair-frequency pass
    * at the heart of BPE-style tokenizer training (which token pairs to
    * merge) and collocation mining. Bigrams come from zipping two
    * shifted slices per row (linear, no index lambdas), shuffle as
    * (w1, w2) counts with map-side partial aggregation; the two corpus
    * totals ride as 1-row broadcast crosses and the unigram table
    * broadcasts into the two attachment joins — the corpus never
    * shuffles twice. PMI is one fixed-order double expression over the
    * counts, each count cast to double BEFORE any multiplication — a
    * Long product n_pair·N² would wrap silently around 3×10⁸ tokens,
    * far below target scale — rounded at 4 dp; both engines run the
    * identical IEEE op order, so they agree exactly. */
  val qTextBigrams: QueryDef = QueryDef.oracle(
    "q_text_bigrams",
    """WITH w AS (
      |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM documents),
      |uni AS (SELECT unnest(ws) AS w FROM w),
      |ucnt AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY 1),
      |nu AS (SELECT COUNT(*) AS n FROM uni),
      |big AS (SELECT ws[i] AS w1, ws[i+1] AS w2
      |        FROM w, unnest(range(1, len(ws))) t(i)),
      |bcnt AS (SELECT w1, w2, COUNT(*) AS n FROM big GROUP BY 1, 2),
      |nb AS (SELECT COUNT(*) AS n FROM big)
      |SELECT w1, w2, bcnt.n AS n_pair,
      |  ROUND(LN(CAST(bcnt.n AS DOUBLE) * CAST(nu.n AS DOUBLE)
      |             * CAST(nu.n AS DOUBLE)
      |           / (CAST(nb.n AS DOUBLE) * CAST(u1.n AS DOUBLE)
      |              * CAST(u2.n AS DOUBLE))), 4) AS pmi
      |FROM bcnt CROSS JOIN nu CROSS JOIN nb
      |JOIN ucnt u1 ON u1.w = bcnt.w1
      |JOIN ucnt u2 ON u2.w = bcnt.w2
      |ORDER BY n_pair DESC, w1, w2 LIMIT 15""".stripMargin,
  ) { (spark, dir) =>
    val docs = Tables(spark, dir).documents
    val ws = toks(col("text"))
    val pairs = docs.select(explode(when(size(ws) >= 2,
        zip_with(slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val uni = docs.select(explode(ws).as("w"))
    val ucnt = uni.groupBy("w").agg(count(lit(1)).as("n"))
    val nu = uni.agg(count(lit(1)).as("nu"))
    val bcnt = pairs.groupBy("w1", "w2").agg(count(lit(1)).as("n_pair"))
    val nb = pairs.agg(count(lit(1)).as("nb"))
    bcnt.crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .join(broadcast(ucnt.select(col("w").as("w1"), col("n").as("n1"))), "w1")
      .join(broadcast(ucnt.select(col("w").as("w2"), col("n").as("n2"))), "w2")
      .select(col("w1"), col("w2"), col("n_pair"),
        round(log(col("n_pair").cast("double") * col("nu").cast("double")
            * col("nu").cast("double")
          / (col("nb").cast("double") * col("n1").cast("double")
            * col("n2").cast("double"))), 4).as("pmi"))
      .orderBy(col("n_pair").desc, col("w1"), col("w2"))
      .limit(15)
  }

  /** The unrolled-CTE oracle chain shared by q_text_bpe and
    * q_text_bpe_encode: w0 = the full word-frequency table (every
    * whitespace token except the structurally-excluded sentinel-bearing
    * ones — digits, punctuation, mixed case, and multi-byte UTF-8 all
    * included since the round-8 out-of-alphabet separator) with
    * character-level wrapped symbol strings, then per round i a pair
    * count (p_i), the argmax merge (m_i), and the rewritten vocabulary
    * (w_i). `word` rides along untouched so the final w_k doubles as the
    * word → encoded-symbols map. The rewrite is a LEFT JOIN ON TRUE with
    * COALESCE so an EMPTY m_i (pairs exhausted before round k on a tiny
    * corpus) passes w_{i-1} through unchanged — mirroring
    * BpeMerges.learn's early stop — rather than a cross join with an
    * empty CTE wiping every later w_i. MATERIALIZED is load-bearing:
    * each w_i is referenced twice (pair count + rewrite), and DuckDB
    * would otherwise inline and re-evaluate the whole chain
    * exponentially. */
  private def bpeCtes(k: Int): String = {
    val sep = graft.operators.BpeMerges.Sep
    val rounds = (1 to k).map { i =>
      s"""|p$i AS MATERIALIZED (
          |  SELECT ts[j] AS a, ts[j+1] AS b, CAST(SUM(cnt) AS BIGINT) AS n
          |  FROM (SELECT cnt, string_split(substr(s, 2, length(s)-2), '$sep$sep') AS ts
          |        FROM w${i - 1}),
          |       unnest(range(1, len(ts))) t(j)
          |  GROUP BY 1, 2),
          |m$i AS MATERIALIZED (
          |  SELECT $i AS rank, a, b, n FROM p$i ORDER BY n DESC, a, b LIMIT 1),
          |w$i AS MATERIALIZED (
          |  SELECT word, cnt,
          |    COALESCE(replace(s, '$sep' || a || '$sep$sep' || b || '$sep',
          |                        '$sep' || a || b || '$sep'), s) AS s
          |  FROM w${i - 1} LEFT JOIN m$i ON TRUE)""".stripMargin
    }.mkString(",\n")
    s"""|w0 AS MATERIALIZED (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    '$sep' || array_to_string(string_split(word, ''), '$sep$sep') || '$sep' AS s
        |  FROM (SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        |        FROM documents)
        |  WHERE NOT contains(word, '$sep')
        |  GROUP BY word),
        |$rounds""".stripMargin
  }

  /** The word-frequency table with wrapped symbol strings — the Spark
    * twin of the oracle's w0. The only exclusion is tokens containing
    * the U+0001 sentinel separator itself (an empty set on any real
    * corpus) — see the BpeMerges header for the out-of-alphabet
    * argument. */
  private def bpeWords(spark: SparkSession, dir: String) =
    Tables(spark, dir).documents
      .select(explode(toks(col("text"))).as("word"))
      .filter(!col("word").contains(graft.operators.BpeMerges.Sep))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("word"), col("cnt"),
        graft.operators.BpeMerges.initialSymbols(col("word")).as("s"))

  /** Learned BPE merge table — k=20 rounds of the iterative byte-pair
    * merge loop ([[graft.operators.BpeMerges]]): corpus → [a-z]+
    * word-frequency table (one shuffle, once), then per round an
    * aggregate-scalar argmax over weighted adjacent symbol pairs and a
    * codegen `replace` rewrite, the CC-style fixpoint pattern. The
    * oracle unrolls the same 20 rounds via [[bpeCtes]]: both engines run
    * the identical deterministic algorithm — greedy
    * leftmost-non-overlapping merge via wrapped-separator string
    * replace, winner = (max count, then lexicographically smallest
    * pair) — so the 20-row merge table hash-matches exactly. */
  val qTextBpe: QueryDef = {
    val k = 20
    val union = (1 to k).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")
    QueryDef.oracle(
      "q_text_bpe",
      s"""|WITH ${bpeCtes(k)}
          |SELECT rank, a AS left_sym, b AS right_sym, a || b AS merged, n
          |FROM ($union)
          |ORDER BY rank""".stripMargin,
    ) { (spark, dir) =>
      graft.operators.BpeMerges.learn(
        bpeWords(spark, dir).select(col("cnt"), col("s")), k)
    }
  }

  /** Tokenizer APPLICATION — encode the corpus with a learned BPE merge
    * table and report per-source token statistics, the counting pass a
    * pipeline runs before packing/mixing. Two-level 100 TB shape: the
    * k-merge replace chain (the learned model, a k-row driver artifact
    * collected like the CC convergence scalar) is applied ONCE PER
    * DISTINCT WORD on the vocabulary table, never per corpus token; the
    * corpus side is only a broadcast hash join word → token-count
    * (vocabulary ≪ corpus, same shape as TF-IDF's document-frequency
    * attach). The oracle needs no separate encode step: the training
    * chain's final w_k IS the encoded vocabulary. k=12 (vs q_text_bpe's
    * 20) keeps the second fixpoint run's bench weight modest — the
    * application machinery is identical for any k. */
  val qTextBpeEncode: QueryDef = {
    val k = 12
    val sep = graft.operators.BpeMerges.Sep
    QueryDef.oracle(
      "q_text_bpe_encode",
      s"""|WITH ${bpeCtes(k)},
          |v AS (
          |  SELECT word, len(string_split(substr(s, 2, length(s)-2), '$sep$sep'))
          |    AS n_tok
          |  FROM w$k),
          |dw AS (
          |  SELECT source, unnest(list_filter(string_split(text, ' '),
          |    x -> x <> '')) AS word
          |  FROM documents)
          |SELECT source, COUNT(*) AS n_words,
          |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
          |  CAST(SUM(length(word)) AS BIGINT) AS n_chars
          |FROM dw JOIN v USING (word)
          |GROUP BY source ORDER BY source""".stripMargin,
    ) { (spark, dir) =>
      // cache the vocabulary so the corpus aggregates ONCE: learn()'s
      // init checkpoint and the encode side's broadcast both read the
      // cached table instead of each re-running the corpus scan+shuffle
      // (freed by the harness clearCache between queries)
      val vocab = bpeWords(spark, dir).cache()
      // the learned model is a k-row driver artifact (collected like the
      // CC convergence scalar), folded into one codegen replace chain
      val merges = graft.operators.BpeMerges.learn(
        vocab.select(col("cnt"), col("s")), k).collect()
        .map(m => (m.getString(1), m.getString(2))).toSeq
      val enc = graft.operators.BpeMerges.applyMerges(col("s"), merges)
      val tokCounts = vocab
        .select(col("word"),
          size(split(enc.substr(lit(2), length(enc) - 2), sep + sep))
            .as("n_tok"))
      val docWords = Tables(spark, dir).documents
        .select(col("source"), explode(toks(col("text"))).as("word"))
      docWords.join(broadcast(tokCounts), "word")
        .groupBy("source")
        .agg(count(lit(1)).as("n_words"),
          sum(col("n_tok")).cast("long").as("n_tokens"),
          sum(length(col("word"))).cast("long").as("n_chars"))
        .orderBy("source")
    }
  }

  /** N-gram language-model quality scoring — the statistical filter that
    * catches what rule-based quality metrics miss: per-token SURPRISE
    * under a Laplace-smoothed corpus bigram model. Kept integer-exact
    * (the TF-IDF discipline): surprise(a,b) = (c(a)+V)·10⁶ div
    * (c(a,b)+1), a monotone transform of 1/P(b|a) with no libm — both
    * engines truncate identically on non-negative longs. Headroom: at
    * 10¹² corpus tokens the scaled numerator peaks ~10¹⁸, inside int64.
    * Shape: the corpus pair stream aggregates ONCE into the
    * vocabulary-sized bigram table (map-side partials, broadcast back);
    * the left-unigram table is a rollup of THAT table (c(a) = Σ_b
    * c(a,b)), never a second corpus aggregation; the vocabulary size
    * rides as a 1-row broadcast cross. Scoring itself is scan-local,
    * then per-doc and per-source hash aggregates. */
  val qTextLmScore: QueryDef = QueryDef.oracle(
    "q_text_lm_score",
    """WITH w AS (
      |  SELECT doc_id, source, list_filter(string_split(text, ' '),
      |    x -> x <> '') AS ws
      |  FROM documents),
      |big AS (SELECT doc_id, source, ws[i] AS a, ws[i+1] AS b
      |        FROM w, unnest(range(1, len(ws))) t(i)),
      |bc AS (SELECT a, b, COUNT(*) AS nab FROM big GROUP BY 1, 2),
      |ac AS (SELECT a, CAST(SUM(nab) AS BIGINT) AS na FROM bc GROUP BY 1),
      |v AS (SELECT COUNT(DISTINCT tok) AS nv
      |      FROM (SELECT unnest(ws) AS tok FROM w)),
      |occ AS (
      |  SELECT doc_id, source, ((na + nv) * 1000000) // (nab + 1) AS s
      |  FROM big JOIN bc USING (a, b) JOIN ac USING (a) CROSS JOIN v),
      |d AS (
      |  SELECT doc_id, source, COUNT(*) AS nb,
      |    CAST(SUM(s) AS BIGINT) AS tot
      |  FROM occ GROUP BY 1, 2)
      |SELECT source, COUNT(*) AS n_docs_scored,
      |  CAST(SUM(tot) AS BIGINT) AS sum_surprise,
      |  MIN(tot // nb) AS min_avg_surprise,
      |  MAX(tot // nb) AS max_avg_surprise
      |FROM d GROUP BY source ORDER BY source""".stripMargin,
  ) { (spark, dir) =>
    val docs = Tables(spark, dir).documentsDense
    val ws = toks(col("text"))
    val big = docs.select(col("doc_id"), col("source"),
        explode(when(size(ws) >= 2,
          zip_with(slice(ws, lit(1), size(ws) - 1),
            slice(ws, lit(2), size(ws) - 1),
            (a, b) => struct(a.as("a"), b.as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>"))).as("p"))
      .select(col("doc_id"), col("source"), col("p.a"), col("p.b"))
    val bc = big.groupBy("a", "b").agg(count(lit(1)).as("nab"))
    // c(a) = Σ_b c(a,b): roll up the already-aggregated vocabulary-sized
    // bigram table instead of re-scanning the corpus-sized pair stream —
    // one fewer corpus pass, same counts by construction
    val ac = bc.groupBy("a").agg(sum(col("nab")).cast("long").as("na"))
    val nv = docs.select(explode(ws).as("tok"))
      .agg(countDistinct(col("tok")).as("nv"))
    big.join(broadcast(bc), Seq("a", "b"))
      .join(broadcast(ac), Seq("a"))
      .crossJoin(broadcast(nv))
      .select(col("doc_id"), col("source"),
        expr("((na + nv) * 1000000) div (nab + 1)").as("s"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("nb"), sum(col("s")).cast("long").as("tot"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs_scored"),
        sum(col("tot")).cast("long").as("sum_surprise"),
        min(expr("tot div nb")).as("min_avg_surprise"),
        max(expr("tot div nb")).as("max_avg_surprise"))
      .orderBy("source")
  }

  /** GLOBAL heavy hitters under bounded shuffle AND bounded memory —
    * corpus-wide top-k word bigrams without ever shuffling OR holding
    * the whole vocabulary: the frequency-analysis pass big-corpus text
    * work reaches for when a plain `GROUP BY gram` would move billions
    * of distinct n-grams.
    *
    * Two passes (the candidate/rescan a.k.a. TPUT pattern):
    *   1. one scan, a per-PARTITION MISRA–GRIES summary capped at
    *      m = 1024 counters — executor memory is O(m) regardless of
    *      per-partition vocabulary (a text-heavy 128 MB split at 100 TB
    *      carries ~10⁷ distinct grams; an exact local map of them is
    *      GBs of unspillable heap — the summary is ~100 KB). Each
    *      partition emits its ≤ m tracked grams plus one threshold row:
    *      decs_p, its decrement-round count (MG's eviction mass) — a
    *      gram ending the partition untracked has local count ≤ decs_p.
    *      The shuffle carries ≤ (m+1)·partitions rows, never the
    *      vocabulary;
    *   2. one rescan counting ONLY the broadcast candidate set exactly
    *      (map-side partials over ≤ m·P distinct keys), then top-k.
    * EXACTNESS is proved per run, not assumed: a gram absent from every
    * partition's summary has global count ≤ T = Σ_p decs_p, so if the
    * candidate set holds ≥ k grams and the k-th candidate's exact count
    * EXCEEDS T, the result equals the full GROUP BY's — the oracle
    * states exactly that full GROUP BY. If the proof ever failed
    * (adversarially flat distribution), the query falls back to the
    * exact full aggregation — correctness is never traded; the fallback
    * never fires at judged scales (this corpus's bigram vocabulary,
    * ~931 distinct, fits under the cap, so decs_p = 0 and T = 0;
    * PlanSpec pins the bounded plan shape, HeavyHitterSpec pins the
    * threshold logic and forces evictions adversarially). The
    * construction-time scalars (T, candidate count, k-th count) are
    * bounded driver artifacts of the CC-convergence-scalar kind. */
  val qTextHeavyHitters: QueryDef = {
    val k = 15
    val cap = 1024
    QueryDef.oracle(
      "q_text_heavy_hitters",
      """WITH ws AS (
        |  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS ws
        |  FROM documents),
        |b AS (
        |  SELECT ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)] AS gram
        |  FROM ws, UNNEST(range(1, len(ws))) AS t(i))
        |SELECT gram, CAST(COUNT(*) AS BIGINT) AS n
        |FROM b GROUP BY 1 ORDER BY n DESC, gram LIMIT 15""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val grams = Tables(spark, dir).documents
        .select(explode(bigramCol(toks(col("text")))).as("g")).as[String]
      heavyHitters(grams, k, cap)
    }
  }

  /** Adjacent word-bigram strings from a token array — shared by
    * q_text_heavy_hitters and HeavyHitterSpec's expected side
    * (q_text_bigrams keeps its struct-shaped (w1, w2) variant). */
  private[graft] def bigramCol(ws: Column): Column =
    when(size(ws) >= 2,
      zip_with(slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1),
        (a, b) => concat_ws(" ", a, b)))
      .otherwise(array().cast("array<string>"))

  /** The bounded candidate/rescan top-k behind q_text_heavy_hitters, on
    * any gram stream — shared with HeavyHitterSpec so the spec can vary
    * the PARTITIONING (the semantics must not depend on it). See the
    * query doc for the algorithm and proof obligation. */
  private[graft] def heavyHitters(
      grams: org.apache.spark.sql.Dataset[String], k: Int, cap: Int): DataFrame =
    heavyHittersProven(grams, k, cap)._1

  /** heavyHitters plus the per-run exactness verdict (true = the bounded
    * candidate/rescan path proved itself; false = the exact fallback
    * ran) — the flag the spec pins so "proof held under evictions" and
    * "fallback fired" are observable, not inferred.
    *
    * Pass 1 is a per-partition MISRA–GRIES summary, capped at `cap`
    * counters — executor memory is O(cap) REGARDLESS of per-partition
    * vocabulary (the round-8 form kept an exact per-partition HashMap of
    * every distinct gram, which on a text-heavy 128 MB split at 100 TB
    * is ~10⁷ entries of unspillable heap; the summary closes that).
    * MG invariant: an occurrence either increments its own counter or —
    * map full, gram untracked — is absorbed by a DECREMENT ROUND that
    * takes one unit off every tracked counter (evicting zeros). So a
    * gram that ends partition p UNTRACKED has local count ≤ decs_p, the
    * number of decrement rounds — the eviction mass IS the per-partition
    * withholding threshold, replacing the old cap-th-local-count bound
    * with the same downstream algebra: a gram absent from every
    * partition's summary has global count ≤ T = Σ_p decs_p. */
  private[graft] def heavyHittersProven(
      grams: org.apache.spark.sql.Dataset[String], k: Int,
      cap: Int): (DataFrame, Boolean) = {
    // cap < k breaks the proof: the candidate set can then hold fewer
    // than k grams while kth > T still passes, silently dropping
    // withheld grams from ranks cap+1..k instead of falling back
    require(cap >= k, s"per-partition cap ($cap) must be >= k ($k)")
    import grams.sparkSession.implicits._
    // pass 1: bounded Misra–Gries summary per partition; emits the ≤ cap
    // tracked grams (their MG counts are underestimates — used only for
    // candidacy, never for the answer) plus one threshold row carrying
    // decs_p. Decrement rounds amortize: each absorbs cap+1 units of
    // mass for O(cap) work, so pass 1 stays O(N) total.
    val p1 = grams.mapPartitions { it =>
      val m = new java.util.HashMap[String, java.lang.Long](2 * cap)
      var decs = 0L
      while (it.hasNext) {
        val g = it.next()
        val cur = m.get(g)
        if (cur != null) m.put(g, cur + 1L)
        else if (m.size < cap) m.put(g, 1L)
        else {
          val eit = m.entrySet().iterator()
          while (eit.hasNext) {
            val e = eit.next()
            if (e.getValue == 1L) eit.remove() else e.setValue(e.getValue - 1L)
          }
          decs += 1
        }
      }
      import scala.jdk.CollectionConverters._
      m.entrySet().asScala.iterator
        .map(e => (0, e.getKey, e.getValue.longValue())) ++
        Iterator((1, "", decs))
    }.toDF("tag", "g", "c").cache() // ≤ (cap+1)·P rows; harness-cleared
    // null aggregates (a zero-partition scan of an empty corpus) fold to
    // the conservative side: T = 0, kth = MIN → fallback, still exact
    val tRow = p1.filter(col("tag") === 1).agg(sum(col("c"))).head()
    val threshold = if (tRow.isNullAt(0)) 0L else tRow.getLong(0)
    val cand = p1.filter(col("tag") === 0).select("g").distinct()
    // pass 2: exact rescan of the candidate set only
    val exact = grams.toDF("g")
      .join(broadcast(cand), Seq("g"), "left_semi")
      .groupBy("g").agg(count(lit(1)).as("n")).cache()
    val kRows = exact.orderBy(col("n").desc, col("g")).limit(k)
      .agg(count(lit(1)), min(col("n"))).head()
    val nCand = kRows.getLong(0)
    val kth = if (kRows.isNullAt(1)) Long.MinValue else kRows.getLong(1)
    // STRICT: a fully-withheld gram can have global count exactly T
    // (every partition absorbed it entirely into decrement rounds) and
    // would then beat an equal-count candidate on the gram tie-break —
    // kth == T is not a proof, kth > T is. nCand >= k is the second
    // clause MG makes necessary: evictions can shrink a partition's
    // summary below cap, so (unlike the old exact-top-cap pass) the
    // candidate set can end up smaller than k with ranks nCand+1..k
    // all withheld — kth > T alone would not notice.
    val provablyExact = kth > threshold && nCand >= k
    val top =
      if (provablyExact)
        exact.select(col("g").as("gram"), col("n"))
      else // adversarially flat distribution: keep correctness, pay the shuffle
        grams.toDF("g").groupBy("g").agg(count(lit(1)).as("n"))
          .select(col("g").as("gram"), col("n"))
    (top.orderBy(col("n").desc, col("gram")).limit(k), provablyExact)
  }

  /** Oracle-side BM25 CTE chain (tables d/g/s/lex; `lex` = doc_id,
    * 4dp-rounded score, rank) — shared VERBATIM by q_text_bm25 and
    * q_hybrid_rrf so the lexical leg cannot drift between the judged
    * ranking and the fusion that consumes it. */
  private[queries] val bm25OracleCte: String =
    """WITH d AS (
      |  SELECT doc_id, len(ws) AS dl,
      |    len(list_filter(ws, w -> w = 'join')) AS tf1,
      |    len(list_filter(ws, w -> w = 'vector')) AS tf2,
      |    len(list_filter(ws, w -> w = 'scan')) AS tf3,
      |    len(list_filter(ws, w -> w = 'merge')) AS tf4
      |  FROM (SELECT doc_id,
      |          list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |        FROM documents)),
      |g AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
      |    CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
      |    CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
      |    CAST(SUM(CASE WHEN tf3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df3,
      |    CAST(SUM(CASE WHEN tf4 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df4
      |  FROM d),
      |s AS (
      |  SELECT doc_id,
      |      (CASE WHEN tf1 = 0 THEN 0.0 ELSE
      |        ln(1.0 + (CAST(n - df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
      |        * (CAST(tf1 AS DOUBLE) * 2.2)
      |        / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) END)
      |    + (CASE WHEN tf2 = 0 THEN 0.0 ELSE
      |        ln(1.0 + (CAST(n - df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
      |        * (CAST(tf2 AS DOUBLE) * 2.2)
      |        / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) END)
      |    + (CASE WHEN tf3 = 0 THEN 0.0 ELSE
      |        ln(1.0 + (CAST(n - df3 AS DOUBLE) + 0.5) / (CAST(df3 AS DOUBLE) + 0.5))
      |        * (CAST(tf3 AS DOUBLE) * 2.2)
      |        / (CAST(tf3 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) END)
      |    + (CASE WHEN tf4 = 0 THEN 0.0 ELSE
      |        ln(1.0 + (CAST(n - df4 AS DOUBLE) + 0.5) / (CAST(df4 AS DOUBLE) + 0.5))
      |        * (CAST(tf4 AS DOUBLE) * 2.2)
      |        / (CAST(tf4 AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl)) END)
      |    AS score
      |  FROM d, g),
      |lex AS (
      |  SELECT doc_id, ROUND(score, 4) AS score,
      |    ROW_NUMBER() OVER (ORDER BY ROUND(score, 4) DESC, doc_id) AS rn
      |  FROM s)""".stripMargin

  /** BM25 ranking — the lexical-retrieval scorer of RAG/dedup candidate
    * search and the classic relevance baseline. Fixed 4-term query; ONE
    * corpus scan computes per-doc term frequencies and length via array
    * HOFs (no explode, no join); corpus statistics (N, df per term,
    * avgdl) are a 1-row broadcast scalar attach (the q_text_lm_score
    * shape), so the scoring pass is scan-speed and shuffle-free up to
    * the final top-k.
    *
    * Numeric discipline: tf/df/dl/N are integer-exact; avgdl is
    * exact-integer-sum / count (one IEEE division); each term's
    * component is IEEE-double arithmetic in one spelled-out operand
    * order shared with the oracle, and the 4 components fold in fixed
    * written order. `ln` is the one libm call (both engines ≤1 ulp), so
    * scores are ROUNDED to 4 dp before ranking — the Num.r4 rule for
    * genuinely statistical outputs — and the rank tie-breaks on doc_id
    * over the rounded value. k1 = 1.2, b = 0.75.
    *
    * [[bm25Top20]] is the implementation (shared with q_hybrid_rrf, the
    * same no-drift discipline as the oracle CTE). */
  val qTextBm25: QueryDef = QueryDef.oracle(
    "q_text_bm25",
    bm25OracleCte +
      "\nSELECT rn, doc_id, score FROM lex WHERE rn <= 20 ORDER BY rn",
  ) { (spark, dir) => bm25Top20(spark, dir) }

  /** The BM25 top-20 (rn, doc_id, score) — the Spark twin of the
    * `lex` oracle CTE above, exposed for q_hybrid_rrf's lexical leg. */
  private[queries] def bm25Top20(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val terms = Seq("join", "vector", "scan", "merge")
    // tokenize ONCE into a column — five inlined toks() towers made the
    // generated projection big enough that a codegen-cache eviction
    // mid-bench cost seconds of single-threaded janino recompilation
    val d = Tables(spark, dir).documents
      .select(col("doc_id"), toks(col("text")).as("ws"))
      .select(col("doc_id") +: size(col("ws")).as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          // countIn with a 1-word set ≡ size(filter(ws, _ === t)),
          // but stays inside whole-stage codegen (r18 HOF discipline)
          graft.functions.GraftFunctions.countIn(col("ws"), Seq(t))
            .as(s"tf${i + 1}")
        }: _*)
    val aggs = Seq(
      count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl")) ++
      (1 to terms.size).map(i =>
        sum(when(col(s"tf$i") > 0, 1).otherwise(0)).cast("long").as(s"df$i"))
    val g = d.agg(aggs.head, aggs.tail: _*)
    // component in the SAME spelled operand order as the oracle
    def comp(i: Int): Column = {
      val tf = col(s"tf$i").cast("double")
      val df = col(s"df$i")
      when(col(s"tf$i") === 0, lit(0.0)).otherwise(
        log(lit(1.0) + ((col("n") - df).cast("double") + lit(0.5))
            / (df.cast("double") + lit(0.5)))
          * (tf * lit(2.2))
          / (tf + lit(1.2) * (lit(0.25)
            + lit(0.75) * col("dl").cast("double") / col("avgdl"))))
    }
    val s = d.crossJoin(broadcast(g))
      .select(col("doc_id"),
        (1 to terms.size).map(comp).reduceLeft(_ + _).as("score"))
    // distributed top-k FIRST (TakeOrderedAndProject — per-partition heaps,
    // never a global sort of the corpus); the unpartitioned rank window
    // then runs over the 20 survivors only
    val top = s.select(col("doc_id"), round(col("score"), 4).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc).limit(20)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("doc_id").asc)
    top.withColumn("rn", row_number().over(w))
      .select(col("rn"), col("doc_id"), col("score"))
      .orderBy("rn")
  }

  // ---------------------------------------------------------------------
  // q_text_classify — distilled quality/routing classifier: the judged
  // model-training → persisted-model → broadcast-inference lifecycle.
  //
  // The pattern every large curation pipeline runs (an expensive teacher
  // labels a slice, a cheap bag-of-words model generalizes to the corpus
  // — the fastText-filter shape): here the TEACHER is the hand-rule
  // marker scorer of q_text_langid ("is this document English by marker
  // counts?" — deterministic integer comparisons, so the labels are
  // exactly reproducible on both engines), and the STUDENT is a
  // multinomial Naive-Bayes log-odds model over unigram counts, trained
  // once per corpus, frozen into a staged artifact, and applied at scan
  // speed. Measured on this corpus: ~87% teacher agreement against a
  // ~54% majority class at sf0.001/0.01/0.1 with stable marker-weight
  // signs ('the'/'scan' positive, 'data'/'hash' negative) — the signal
  // is real, learned, and scale-stable.
  //
  // Numeric discipline: counts are exact integers; each weight is
  // quantized ONCE at train time to integer micro-log-odds via
  // floor(1e6·(ln(cp+1) − ln(tp+v) − ln(cn+1) + ln(tn+v)) + 0.5) — the
  // identical IEEE expression tree on both engines (ln is the one libm
  // call, ≤1 ulp each; a flip would need the true value within ~1e-8 of
  // a rounding boundary — the q_text_bm25 precedent). INFERENCE is then
  // pure 64-bit integer arithmetic: Σ weights + prior, exact at any
  // parallelism and any scale.
  //
  // Scale shape: training = one explode + vocabulary-sized hash agg +
  // top-V cap (V = 512 — a no-op on this corpus's 31-token vocabulary,
  // the real bound at web scale); inference = scan-speed explode +
  // BROADCAST join against the KB-sized weight table + per-doc partial
  // agg — no corpus shuffle anywhere, the 100 TB quality-filter plan.

  /** Marker score: how many of `words` appear in the token array. */
  private def mScore(ws: Column, words: Seq[String]): Column =
    graft.functions.GraftFunctions.countIn(ws, words)

  /** The teacher label: q_text_langid's en-rule over a token array
    * (en marker count ≥ every other language's marker count — ties to
    * en, token-less docs → true, exactly the langid tie chain). */
  private[graft] def teacherEn(ws: Column): Column =
    mScore(ws, Seq("the", "a", "scan", "table")) >=
      greatest(mScore(ws, Seq("data", "row", "query")),
        mScore(ws, Seq("join", "merge", "batch")),
        mScore(ws, Seq("window", "filter", "sort")),
        mScore(ws, Seq("spark", "stream", "hash")))

  /** NB train over `labeled` (doc_id, pos: boolean, ws: array<string>):
    * (weights (tok, w), meta (prior_w, n_pos, n_neg, v)). Totals are
    * defined over the CAPPED vocabulary (self-consistent with what the
    * model can see at inference). */
  private[graft] def nbTrain(labeled: DataFrame): (DataFrame, DataFrame) = {
    val cnt = labeled
      .select(col("pos"), explode(col("ws")).as("tok"))
      .groupBy("tok")
      .agg(sum(when(col("pos"), 1L).otherwise(0L)).as("cp"),
        sum(when(col("pos"), 0L).otherwise(1L)).as("cn"))
      .orderBy((col("cp") + col("cn")).desc, col("tok").asc)
      .limit(512)
    val tot = cnt.agg(sum(col("cp")).cast("long").as("tp"),
      sum(col("cn")).cast("long").as("tn"), count(lit(1)).as("v"))
    val weights = cnt.crossJoin(broadcast(tot))
      .select(col("tok"),
        floor((log(col("cp") + 1.0d)
          - log((col("tp") + col("v")).cast("double"))
          - log(col("cn") + 1.0d)
          + log((col("tn") + col("v")).cast("double"))) * 1000000.0d + 0.5d)
          .cast("long").as("w"))
    val meta = labeled.agg(
      sum(when(col("pos"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("pos"), 0L).otherwise(1L)).as("n_neg"))
      .crossJoin(broadcast(tot.select(col("v"))))
      .select(
        floor((log(col("n_pos").cast("double"))
          - log(col("n_neg").cast("double"))) * 1000000.0d + 0.5d)
          .cast("long").as("prior_w"),
        col("n_pos"), col("n_neg"), col("v"))
    (weights, meta)
  }

  /** Per-doc integer logit under a frozen model: Σ token weights (OOV →
    * 0 — the top-V cap's contract) + prior, computed IN-ROW: the model
    * rides as ONE broadcast row (vocabulary sorted by `sort_array` +
    * aligned weights) and every document folds its tokens against it in
    * the codegen [[graft.functions.NbDotProduct]] loop — binary search
    * per token, ~|ws|·log₂(V) UTF8 comparisons.
    *
    * Round-18 rewrite (the graft_pq_encode discipline; ClassifyProfile
    * measured the former plan at sf1000v / 50 M docs, noop-sink
    * honest): the explode → broadcast-join → per-doc aggregate
    * materialized ≈2.7 B token rows (38.6 s alone), and the subsequent
    * corpus⋈corpus join-back by doc_id re-tokenized every document a
    * second time — former inference 350 s end-to-end against a ~97 s
    * tokenize+teacher floor. The in-row fold runs the whole inference
    * in 133 s (2.6×): one scan, zero corpus-keyed exchanges,
    * bit-identical integer logits (exact 64-bit sum, order immaterial),
    * oracle untouched. */
  private[graft] def nbLogit(labeled: DataFrame, weights: DataFrame,
      meta: DataFrame): DataFrame = {
    import graft.functions.GraftFunctions.nbDot
    // ONE combined broadcast row (vocab arrays + prior), attached as a
    // dummy-key EQUI join: a crossJoin plans as BroadcastNestedLoopJoin,
    // which does not participate in whole-stage codegen and forces the
    // ENTIRE scan → fold → census pipeline into interpreted row-at-a-
    // time evaluation (~50 µs/doc measured at sf10/sf1000v); the same
    // 1-row broadcast behind BroadcastHashJoin keeps the pipeline in
    // one codegen stage. Same rows, same values, same staged-model
    // scan in the plan.
    val wrow = weights
      .agg(sort_array(collect_list(struct(col("tok"), col("w")))).as("tw"))
      .select(transform(col("tw"), s => s("tok")).as("wtoks"),
        transform(col("tw"), s => s("w")).as("wvals"))
      .crossJoin(meta.select(col("prior_w")))
      .withColumn("jk", lit(1))
    labeled.withColumn("jk", lit(1))
      .join(broadcast(wrow), Seq("jk"))
      .drop("jk")
      .withColumn("logit",
        // coalesce: a null token array scores the prior alone, exactly
        // like the former explode plan (explode dropped the row, the
        // left join-back NULL-filled, coalesce(s,0) made it the prior)
        nbDot(coalesce(col("ws"), array().cast("array<string>")),
          col("wtoks"), col("wvals")) + col("prior_w"))
      .drop("wtoks", "wvals", "prior_w", "ws")
  }

  /** Labeled corpus view: (doc_id, lang, pos = teacher label, ws). */
  private[graft] def nbLabeled(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), col("lang"), toks(col("text")).as("ws"))
      .withColumn("pos", teacherEn(col("ws")))

  /** Staged frozen model — trained write-once per corpus fingerprint
    * (the graft_ivf_index pattern applied to model artifacts: a model
    * registry entry), published atomically. `weights` = (tok, w) micro-
    * log-odds, `meta` = (prior_w, n_pos, n_neg, v). */
  private[graft] def nbModelPath(spark: SparkSession, dir: String): String =
    graft.Staging.stage("graft_nb_model", dir) { tmp =>
      val (weights, meta) = nbTrain(nbLabeled(spark, dir))
      weights.coalesce(1).write.mode("overwrite")
        .parquet(tmp.resolve("weights").toString)
      meta.coalesce(1).write.mode("overwrite")
        .parquet(tmp.resolve("meta").toString)
    }

  /** Judged inference: the FROZEN staged model scores every document;
    * output = the fidelity census against the teacher rule — per
    * (lang, teacher_en, pred_en): doc counts and exact integer logit
    * stats. The ORACLE retrains from scratch in DuckDB with the same
    * algebra, so the hash match proves train + persist + infer end to
    * end; PlanSpec pins the inference plan to the staged path with no
    * training `ln` anywhere. */
  val qTextClassify: QueryDef = QueryDef.oracle(
    "q_text_classify",
    """WITH docs AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM documents),
      |lab AS (
      |  SELECT doc_id, lang, ws,
      |    len(list_filter(ws, w -> w IN ('the','a','scan','table'))) >= GREATEST(
      |      len(list_filter(ws, w -> w IN ('data','row','query'))),
      |      len(list_filter(ws, w -> w IN ('join','merge','batch'))),
      |      len(list_filter(ws, w -> w IN ('window','filter','sort'))),
      |      len(list_filter(ws, w -> w IN ('spark','stream','hash')))) AS pos
      |  FROM docs),
      |tk AS (SELECT doc_id, pos, unnest(ws) AS tok FROM lab),
      |cnt AS (
      |  SELECT tok, CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
      |    CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
      |  FROM tk GROUP BY 1 ORDER BY cp + cn DESC, tok LIMIT 512),
      |tot AS (SELECT CAST(SUM(cp) AS BIGINT) AS tp,
      |  CAST(SUM(cn) AS BIGINT) AS tn, COUNT(*) AS v FROM cnt),
      |wts AS (
      |  SELECT tok, CAST(FLOOR((ln(cp + 1.0) - ln(CAST(tp + v AS DOUBLE))
      |    - ln(cn + 1.0) + ln(CAST(tn + v AS DOUBLE))) * 1000000.0 + 0.5)
      |    AS BIGINT) AS w
      |  FROM cnt CROSS JOIN tot),
      |pri AS (
      |  SELECT CAST(FLOOR((ln(CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE))
      |    - ln(CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS DOUBLE)))
      |    * 1000000.0 + 0.5) AS BIGINT) AS prior_w
      |  FROM lab),
      |pd AS (
      |  SELECT t.doc_id, CAST(SUM(COALESCE(w.w, 0)) AS BIGINT) AS s
      |  FROM (SELECT doc_id, unnest(ws) AS tok FROM lab) t
      |  LEFT JOIN wts w USING (tok) GROUP BY 1),
      |sc AS (
      |  SELECT l.lang, l.pos AS teacher_en,
      |    COALESCE(pd.s, 0) + pri.prior_w AS logit
      |  FROM lab l LEFT JOIN pd USING (doc_id) CROSS JOIN pri)
      |SELECT lang, teacher_en, logit >= 0 AS pred_en, COUNT(*) AS n_docs,
      |  CAST(SUM(logit) AS BIGINT) AS sum_logit,
      |  MIN(logit) AS min_logit, MAX(logit) AS max_logit
      |FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
  ) { (spark, dir) =>
    val model = nbModelPath(spark, dir)
    val weights = Tables.parquet(spark, s"$model/weights")
    val meta = Tables.parquet(spark, s"$model/meta")
    nbLogit(nbLabeled(spark, dir), weights, meta)
      .select(col("lang"), col("pos").as("teacher_en"),
        (col("logit") >= 0).as("pred_en"), col("logit"))
      .groupBy("lang", "teacher_en", "pred_en")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("logit")).cast("long").as("sum_logit"),
        min(col("logit")).as("min_logit"),
        max(col("logit")).as("max_logit"))
      .orderBy("lang", "teacher_en", "pred_en")
  }

  val all: Seq[QueryDef] =
    Seq(qTextTokens, qTextQuality, qTextLangid, qTextFingerprint, qTextChunk,
      qTextVocab, qTextBigrams, qTextBpe, qTextBpeEncode, qTextLmScore,
      qTextHeavyHitters, qTextBm25, qTextClassify)
}
