package graft

import org.apache.spark.sql.functions._

/** Exact-rank fixtures for the integer fixed-point PageRank — the
  * determinism claim is EXACT 64-bit arithmetic, so the spec pins exact
  * longs, not tolerances. */
class GraphSpec extends SparkSpec {

  private def ranks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    import spark.implicits._
    graft.queries.Graph.pagerank(edges.toDF("src", "dst"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("2-cycle is the fixed point: ranks stay at 1e6 exactly") {
    val r = ranks(Seq((1L, 2L), (2L, 1L)), 3)
    assert(r == Map(1L -> 1000000L, 2L -> 1000000L))
  }

  private def propagate(edges: Seq[(Long, Long)], seeds: Seq[(Long, Long)],
      rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    // symmetrized distinct set, as the labelPropagate contract requires
    val sym = (edges ++ edges.map(e => (e._2, e._1))).distinct
    graft.queries.Graph.labelPropagate(
      sym.toDF("src", "dst"), seeds.toDF("node", "lab"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("label propagation: hop-by-hop spread, frozen labels, min-label ties") {
    // chain 1—2—3—4—5 seeded at the ends with labels 20 (node 1) and
    // 10 (node 5): labels advance one hop per round, and the middle
    // node sees one neighbor of each label in round 2 — the tie must
    // go to the SMALLER label regardless of seed order
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val seeds = Seq((1L, 20L), (5L, 10L))
    assert(propagate(chain, seeds, 1) ==
      Map(1L -> 20L, 5L -> 10L, 2L -> 20L, 4L -> 10L))
    val r2 = propagate(chain, seeds, 2)
    assert(r2(3L) == 10L, s"tie must take the smaller label: $r2")
    // frozen-once-assigned: round 3 changes nothing on the chain
    assert(propagate(chain, seeds, 3) == r2)
  }

  test("label propagation: majority beats the smaller label when counts differ") {
    // node 9 has neighbors 1,2 labeled 30 and neighbor 3 labeled 5:
    // majority (2×30) must win over the smaller label (1×5)
    val star = Seq((9L, 1L), (9L, 2L), (9L, 3L))
    val seeds = Seq((1L, 30L), (2L, 30L), (3L, 5L))
    assert(propagate(star, seeds, 1)(9L) == 30L)
    // unreached nodes stay unlabeled: an isolated 2-cycle away from
    // any seed acquires nothing
    val r = propagate(star ++ Seq((7L, 8L)), seeds, 3)
    assert(!r.contains(7L) && !r.contains(8L))
  }

  test("3-path concentrates rank in the middle, exact hand-computed values") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
    // iter 1: r(1)=r(3)=150000+(85*500000)div 100=575000;
    //         r(2)=150000+(85*2000000)div 100=1850000
    assert(ranks(edges, 1) == Map(1L -> 575000L, 2L -> 1850000L, 3L -> 575000L))
    // iter 2: contribs 575000 (ends) / 925000 (middle halves) →
    //         r(1)=r(3)=936250, r(2)=1127500
    assert(ranks(edges, 2) == Map(1L -> 936250L, 2L -> 1127500L, 3L -> 936250L))
  }

  test("dangling redistribution: hand-computed one-step ranks on a 3-node sink graph") {
    import spark.implicits._
    // 1→2, 2→{1,3}; 3 DANGLES. share = r(3) div 3 = 333333
    // r'(1) = 150000 + 85·(500000 + 333333) div 100 = 858333
    // r'(2) = 150000 + 85·(1000000 + 333333) div 100 = 1283333
    // r'(3) = 150000 + 85·(500000 + 333333) div 100 = 858333
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst")
    val r = graft.queries.Graph.pagerankDangling(edges, 1)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 858333L, 2L -> 1283333L, 3L -> 858333L))
  }

  test("fixpoint loop steps bit-equal the fixed-iteration chain (dangling graph)") {
    // step-arithmetic equivalence of the two DataFrame representations:
    // a capped (not yet converged) run of the chunked loop must land on
    // exactly the ranks of the same number of unrolled steps
    val edges = graft.queries.Graph.nationGraphEdges(spark, sf)
    val (loop4, it) =
      graft.queries.Graph.pagerankToFixpoint(edges, chunk = 2, maxIters = 4)
    assert(it == 4) // the nation graph needs ~56 steps — 4 can't converge
    val chain4 = graft.queries.Graph.pagerankDangling(edges, 4)
    val a = loop4.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val b = chain4.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(a == b)
  }

  test("converged pagerank: exact integer limit, even phase, dangling node fed") {
    // independent driver-side reference: the judged graph is 31 fixed
    // nodes, so the spec recomputes the recurrence in plain Scala and
    // pins the operator's output bit-for-bit, including the period-2
    // integer limit the even-phase rule canonicalizes
    val edges = graft.queries.Graph.nationGraphEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val inbound = edges.groupBy(_._2)
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val nn = nodes.length.toLong
    def step(r: Map[Long, Long]): Map[Long, Long] = {
      val share =
        r.iterator.collect { case (n, v) if !deg.contains(n) => v }.sum / nn
      nodes.iterator.map { n =>
        val c = inbound.get(n).fold(0L)(_.iterator.map {
          case (s, _) => r(s) / deg(s)
        }.sum)
        n -> (150000L + (85L * (c + share)) / 100L)
      }.toMap
    }
    // reference: run the even number of steps the oracle unrolls — the
    // limit cycle is absorbing, so this IS the even-phase limit
    val expect = (1 to graft.queries.Graph.fixpointOracleIters)
      .foldLeft(nodes.map(_ -> 1000000L).toMap)((r, _) => step(r))
    val got = graft.queries.Graph.qGraphPagerankConverged.run(spark, sf)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == expect)
    // the limit is a true period-2 cycle (not a fixpoint): one more step
    // changes ranks, two more steps return them
    assert(step(expect) != expect)
    assert(step(step(expect)) == expect)
    // structure: 31 nodes (25 nations, 5 regions, 1 sink); the dangling
    // sink holds real rank (it receives from every region)
    assert(got.size == 31)
    assert(got(2L) > 1000000L)
  }

  test("judged query: suppliers outrank customers on the bipartite graph") {
    val rows = graft.queries.Graph.qGraphPagerank.run(spark, sf).collect()
    assert(rows.length == 20)
    // rn is 1..20 and ranks are non-increasing
    assert(rows.map(_.getInt(0)).sameElements(1 to 20))
    val rs = rows.map(_.getLong(2))
    assert(rs.zip(rs.tail).forall { case (a, b) => a >= b })
    // STRUCTURAL property over the FULL rank table (a fixed head-count
    // assertion is a data-distribution heuristic that can flake at sfs
    // it wasn't tuned on): suppliers (odd ids) aggregate ~15× the degree
    // of customers (even ids) at every TPC-H sf, so the MEDIAN supplier
    // rank must exceed the MEDIAN customer rank — scale-free, exact
    def median(xs: Array[Long]): Long = { val s = xs.sorted; s(s.length / 2) }
    val full = graft.queries.Graph
      .pagerank(graft.queries.Graph.orderGraphEdges(spark, sf), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val (supp, cust) = full.partition(_._1 % 2 == 1)
    assert(supp.nonEmpty && cust.nonEmpty)
    assert(median(supp.map(_._2)) > median(cust.map(_._2)),
      "median supplier rank should exceed median customer rank")
  }

  test("bucketed pagerank: bit-equal ranks, zero exchange on the edge side") {
    val g = graft.queries.Graph
    val edges = g.orderGraphEdges(spark, sf)
    // full rank table bit-equality: the layout must not change a single
    // micro-unit (integer algebra is layout-independent by construction)
    val plain = g.pagerank(edges, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val bucketedRanks = g.pagerankBucketed(spark, sf, 3)
    val bucketed =
      bucketedRanks.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(bucketed.sameElements(plain))
    // plan pin: every iteration sort-merge-joins ranks INTO the bucketed
    // edge layout — the corpus-sized side is never hash-exchanged (only
    // rank-side `node` and the aggregation's `dst` partitionings may
    // appear), and no broadcast sneaks back in via AQE
    val plan = bucketedRanks.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("hashpartitioning(src"),
      s"bucketed edge side must not exchange:\n$plan")
    assert(!plan.contains("BroadcastHashJoin"),
      s"merge hint must hold against AQE:\n$plan")
    // and the judged top-20 matches the exchange-bearing judged query
    val a = g.qGraphPagerank.run(spark, sf).collect().toSeq
    val b = g.qGraphPagerankBucketed.run(spark, sf).collect().toSeq
    assert(a == b)
    // staged-layout pin (round-15 verdict item 6): the layout is READ,
    // not rebuilt — a second execution leaves the staged marker's mtime
    // untouched, and the iteration plan scans the staged path
    val layout = java.nio.file.Paths.get(g.prBucketLayoutPath(spark, sf))
    val marker = layout.resolve(Staging.Published)
    val mtime0 = java.nio.file.Files.getLastModifiedTime(marker)
    val again = g.qGraphPagerankBucketed.run(spark, sf)
    again.collect()
    assert(java.nio.file.Files.getLastModifiedTime(marker) == mtime0,
      "staged layout must not be rebuilt per execution")
    assert(again.queryExecution.executedPlan.toString
      .contains(layout.getFileName.toString),
      "iteration plan must scan the staged bucketed layout")
  }
}
