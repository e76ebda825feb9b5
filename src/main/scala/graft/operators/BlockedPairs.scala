package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Candidate pairs from block keys — the one implementation of the
  * "blocked, never quadratic" rule every pairwise dedup/similarity
  * operator follows: derive block keys (shingle hashes, MinHash bands,
  * SimHash blocks, LSH lanes, clusters), equi-join the rows that share
  * a key, verify exactly on those candidates only. The join is a hash
  * or sort-merge equi-join on the keys, so pair mass is linear in key
  * co-occurrence, never n² in rows.
  *
  * A keyed frame is split into an `_a` side and a `_b` side: the keys
  * appear once, every other column `c` comes back as `c_a` and `c_b`.
  * `id_a < id_b` rides in the join condition, so each unordered pair
  * meets once per shared key and no row pairs with itself. A residual
  * predicate (prefilter, exact verify, [[firstAgreeingBand]]) is
  * evaluated inside the join, after the id order, so rejected
  * candidates never materialize as rows.
  */
object BlockedPairs {

  /** LSH bucket-width cap — the standard production skew guard, sized
    * from the measured width distribution of the MinHash band keys: a
    * band key matching more documents than any real near-dup cluster
    * could is DEGENERATE (it carries no discriminative signal; its pairs
    * are overwhelmingly verification kills), and emitting its
    * n·(n−1)/2 candidates is exactly the quadratic the banding exists to
    * avoid. Measured: max bucket width 13 / 86 / 788 / 7,679 at
    * sf0.1/1/10/100 under copy-scaling, candidate pair mass 2.9 k /
    * 97 k / 9.3 M / 934 M (×~100 per decade — quadratic); the cap cuts
    * sf100 to 116 M while touching NOTHING at sf ≤ 1 (86 < 128) and
    * only 139 degenerate buckets at sf10. Dropped buckets are a recall
    * trade only for pairs whose EVERY shared band is degenerate — a true
    * J ≥ ½ pair collides per band with probability ≥ ¼, so it virtually
    * always holds a narrow bucket too (DedupSpec's planted-recall pin
    * stays 1.0). Mirrored verbatim in the DuckDB oracles
    * (HAVING COUNT(*) > cap). */
  val LshBucketCap = 128

  /** The distinct `keys` of `keyed` shared by more than [[LshBucketCap]]
    * rows. At most one entry per cap-many rows by construction (in
    * practice one per boilerplate cluster — KBs), so it broadcasts at
    * any scale. */
  def wideKeys(keyed: DataFrame, keys: Seq[String]): DataFrame =
    keyed.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("w")).filter(col("w") > LshBucketCap)
      .select(keys.map(col): _*)

  /** `keyed` without the rows of its [[wideKeys]] (broadcast anti-join). */
  def capped(keyed: DataFrame, keys: Seq[String]): DataFrame =
    keyed.join(broadcast(wideKeys(keyed, keys)), keys, "left_anti")

  /** Every pair of `keyed` rows that agree on all `keys`, with
    * `<id>_a < <id>_b` and `residual` in the join condition; `cap` first
    * drops keys wider than [[LshBucketCap]]. A pair sharing several keys
    * meets once per shared key — callers that need each pair once
    * either aggregate the meetings (co-occurrence counts), take a
    * distinct, or gate with [[firstAgreeingBand]]. */
  def apply(keyed: DataFrame, keys: Seq[String], id: String,
      residual: Column = lit(true), cap: Boolean = false): DataFrame = {
    val src = if (cap) capped(keyed, keys) else keyed
    val rest = src.columns.filterNot(keys.contains)
    def side(s: String, key: String => String): DataFrame =
      src.select(keys.map(k => col(k).as(key(k)))
        ++ rest.map(c => col(c).as(s"${c}_$s")): _*)
    val on = keys.map(k => col(k) === col(s"${k}_b")).reduce(_ && _) &&
      col(s"${id}_a") < col(s"${id}_b") && residual
    side("a", identity).join(side("b", k => s"${k}_b"), on)
      .drop(keys.map(k => s"${k}_b"): _*)
  }

  /** The first-agreeing-band rule for banded candidates: a pair that
    * collides in k bands meets k times in the (band, key) join, and only
    * its FIRST agreeing band emits it — every band before `band` must
    * differ (`differ(i)`: the pair's band-i keys differ). Pure integer
    * compares, placed ahead of the verify in a residual, so a pair
    * sharing k bands pays k − 1 cheap rejections and ONE verification,
    * and the join never materializes band-duplicate rows. Nested as
    * `band = 0 OR (d0 AND (band = 1 OR (d1 AND …)))`: linear in
    * `nBands`, and a row stops at its first agreeing band. */
  def firstAgreeingBand(band: Column, nBands: Int)(
      differ: Int => Column): Column =
    (nBands - 2 to 0 by -1).foldLeft(band === (nBands - 1)) {
      (later, i) => band === i || (differ(i) && later)
    }
}
