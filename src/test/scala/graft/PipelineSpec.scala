package graft

import graft.pipeline.{Node, Pipeline}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Facade laws (SURVEY.md §5.2.3), mirroring the reference's golden-list
  * tests: `Generate(10) | Square` ≡ [0,1,4,…,81], associativity of `|`,
  * filter fusion, batch-size invariance, fan-out branch independence.
  * Property inputs are ScalaCheck-generated from a fixed seed (the
  * scalatest-scalacheck bridge isn't resolvable offline). */
class PipelineSpec extends SparkSpec {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.iterate(Seed(42L))(_.next).take(n)
      .flatMap(s => g.apply(Gen.Parameters.default, s)).toSeq

  private def range(n: Int) = spark.range(n).toDF("x")

  test("generate | square matches the reference's golden output") {
    val out = Pipeline(range(10),
      Node.transform("square")(_.select((col("x") * col("x")).as("sq"))))
      .outputs("square")
    assert(out.collect().map(_.getLong(0)).sorted.sameElements(
      (0 until 10).map(i => (i * i).toLong)))
  }

  test("chain is associative") {
    val a = Node.where("a", col("x") % 2 === 0)
    val b = Node.transform("b")(_.withColumn("y", col("x") * 3))
    val c = Node.select("c", col("y"))
    val left = Pipeline(range(100), (a | b) | c).outputs.values.head
    val right = Pipeline(range(100), a | (b | c)).outputs.values.head
    assert(left.collect().map(_.getLong(0)).sorted
      .sameElements(right.collect().map(_.getLong(0)).sorted))
  }

  test("filter . filter fuses to conjunction") {
    for ((m, k) <- samples(Gen.zip(Gen.choose(1, 19), Gen.choose(1, 19)), 8)) {
      val chained = Pipeline(range(200),
        Node.where("f1", col("x") % m === 0) | Node.where("f2", col("x") % k === 0))
        .outputs.values.head.collect().map(_.getLong(0)).toSet
      val fused = Pipeline(range(200),
        Node.where("f", col("x") % m === 0 && col("x") % k === 0))
        .outputs.values.head.collect().map(_.getLong(0)).toSet
      assert(chained == fused)
    }
  }

  test("batch(k) output is multiset-equal to batch(1) for elementwise f") {
    def run(k: Int) = Pipeline(range(97),
      Node.batch(s"b$k", k)(rows => rows.map(identity)))
      .outputs.values.head.collect().map(_.getLong(0)).sorted.toSeq
    assert(run(1) == run(7))
    assert(run(7) == run(64))
  }

  test("fan-out branches each equal their single-branch result") {
    val evens = Node.where("evens", col("x") % 2 === 0)
    val odds = Node.where("odds", col("x") % 2 === 1)
    val fan = Pipeline(range(50), Node.streams("s", "*") | Seq(evens, odds)).outputs
    val loneEvens = Pipeline(range(50), evens).outputs("evens")
    assert(fan("s.evens").collect().map(_.getLong(0)).sorted
      .sameElements(loneEvens.collect().map(_.getLong(0)).sorted))
    assert(fan.keySet == Set("s.evens", "s.odds"))
  }

  test("composition is lazy — building a graph runs nothing") {
    var ran = false
    val graph = Node.transform("t") { df => ran = true; df }
    assert(!ran)
    val p = Pipeline(range(5), graph)
    assert(!ran) // still lazy until outputs/run
    p.outputs; assert(ran) // plan construction invokes f, but no job ran
  }

  test("describe renders the DAG") {
    val g = Node.where("f", col("x") > 1) | Seq(
      Node.select("a", col("x")), Node.select("b", col("x")))
    assert(Pipeline(range(1), g).describe == "source | f | [a, b]")
  }

  test("run() releases the fan-out upstream cache") {
    // delta-based: other suites' localCheckpoint RDDs may legitimately
    // persist in the shared session — only NEW pins count
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val evens = Node.where("evens", col("x") % 2 === 0)
    val odds = Node.where("odds", col("x") % 2 === 1)
    val counts = Pipeline(range(1000),
      Node.streams("s", "*") | Seq(evens, odds)).run()
    assert(counts == Map("s.evens" -> 500L, "s.odds" -> 500L))
    // unpersist(blocking = false) is async — poll briefly
    def leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    val deadline = System.currentTimeMillis + 10000
    while (leaked.nonEmpty && System.currentTimeMillis < deadline)
      Thread.sleep(50)
    assert(leaked.isEmpty, "fan-out upstream still pinned after run()")
  }

  test("DISK_ONLY storage level flows to the fan-out upstream") {
    import org.apache.spark.storage.StorageLevel
    val p = Pipeline.withStorage(range(100),
      Node.streams("s", "*") | Seq(
        Node.where("pos", col("x") > 0), Node.where("neg", col("x") < 0)),
      StorageLevel.DISK_ONLY)
    val out = p.runWith(_.count())
    assert(out == Map("s.pos" -> 99L, "s.neg" -> 0L))
  }

  test("sibling branches that share a leaf name fail, naming the path") {
    val g = Node.streams("s", "*") | Seq(
      Node.select("a", col("x")), Node.select("a", col("x") + 1))
    val e = intercept[IllegalArgumentException](Pipeline(range(3), g).run())
    assert(e.getMessage.contains("'a'"), e.getMessage)
  }

  // --- Fan-out over a file read: passed through, never persisted --------

  /** A 4-column parquet file: the branches below read one column each. */
  private lazy val fanFile: String = {
    val f = tempDir("fanout").resolve("t.parquet")
    writeParquetFile(spark.range(300).select(col("id").as("x"),
      (col("id") % 3).as("k3"), (col("id") % 5).as("k5"),
      lit("padding").as("pad")), f)
    f.toString
  }

  private val fanBranches = Seq(
    Node.batchAll("by_k3")(_.groupBy("k3").agg(count(lit(1)).as("n"))),
    Node.batchAll("by_k5")(_.groupBy("k5").agg(count(lit(1)).as("n"))))

  /** Upstream shapes that only read the file: the bare relation, a
    * column subset, and a renaming projection. */
  private val fileUpstreams = Seq(
    Node.streams("s", "*"),
    Node.streams("s", "k3", "k5", "x"),
    Node.transform("s")(_.select(col("k3"), col("k5"), col("pad").as("p"))))

  test("a fan-out over a file read adds no cache entry and no persistent RDD") {
    import org.apache.spark.storage.StorageLevel.NONE
    for (up <- fileUpstreams) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val src = spark.read.parquet(fanFile)
      val ctx = Node.Ctx()
      val outs = (up | fanBranches).run(src, ctx)
      assert(ctx.persisted.isEmpty, s"${up.describe}: upstream persisted")
      outs.values.foreach(_.collect())
      // storageLevel looks the frame's plan up in the session's CacheManager
      assert(src.storageLevel == NONE)
      assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
        s"${up.describe}: a persistent RDD appeared")
    }
  }

  test("each branch over a file read scans only its own columns") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    for (up <- fileUpstreams) {
      val outs = Pipeline(spark.read.parquet(fanFile), up | fanBranches).outputs
      val readSchemas = outs.map { case (k, df) =>
        k -> df.queryExecution.sparkPlan.collect {
          case scan: FileSourceScanExec => scan.requiredSchema.fieldNames.toSeq
        }
      }
      assert(readSchemas == Map("s.by_k3" -> Seq(Seq("k3")),
        "s.by_k5" -> Seq(Seq("k5"))), up.describe)
    }
  }

  test("fan-out leaves over a file read equal those over a computed upstream") {
    def rows(outs: Map[String, org.apache.spark.sql.DataFrame]) =
      outs.map { case (k, df) => k -> df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet }
    val graph = Node.streams("s", "*") | fanBranches
    val computed = spark.read.parquet(fanFile).withColumn("one", lit(1))
    val ctx = Node.Ctx()
    val viaCache = try {
      val outs = graph.run(computed, ctx)
      // the computed upstream still takes the persist path
      assert(ctx.persisted.size == 1)
      assert(computed.storageLevel == ctx.storage)
      rows(outs)
    } finally ctx.unpersistAll()
    val viaFile = rows(Pipeline(spark.read.parquet(fanFile), graph).outputs)
    assert(viaFile == viaCache)
    assert(viaFile("s.by_k3") == Set((0L, 100L), (1L, 100L), (2L, 100L)))
  }

  test("q_pipe_fanout's warm execution runs at most 5 jobs") {
    // one shuffle-map job per branch, the union's exchange, the sort's
    // range sample and the result (5 at sf0.001, sf0.01 and sf0.1); a
    // persisted upstream adds two jobs of its own (7)
    val q = graft.queries.PipelineQueries.qPipeFanout
    q.run(spark, sf).collect()
    spark.catalog.clearCache()
    val (_, jobs) = jobsDuring(q.run(spark, sf).collect())
    spark.catalog.clearCache()
    assert(jobs <= 5, s"q_pipe_fanout warm execution ran $jobs jobs")
  }

  // --- The canonical pyPiper README walkthrough, ported literally -------
  // (SURVEY.md §2.A / §5.1): the first program a migrating user writes.
  //   Generate("gen", size=10) | Double("double") | Printer("print")
  //   Pipeline(...).run()   →   prints 0 2 4 … 18
  // Node classes become facade constructors, emit/close become bounded-
  // source semantics, and Printer's side-effecting run() becomes the sink
  // action handed to runWith — the collected list IS the printed output.

  test("README: Generate | Double | Printer golden output") {
    val generate = range(10) // Generate("gen", size=10)
    val double = Node.transform("double")(
      _.select((col("x") * 2).as("x"))) // Double: emit(data * 2)
    // Printer: terminal side-effecting sink — materialize and capture
    val printed = Pipeline(generate, double)
      .runWith(_.collect().map(_.getLong(0)).sorted.toSeq)
    assert(printed("double") == Seq(0L, 2, 4, 6, 8, 10, 12, 14, 16, 18))
  }

  test("README: batch_size variant prints the same records") {
    // Pipeline(Generate(...) | Double(batch_size=3) | Printer(...)):
    // batching is an execution knob, never a semantics knob
    val double3 = Node.batch("double", 3)(
      rows => rows.map(r => org.apache.spark.sql.Row(r.getLong(0) * 2)))
    val printed = Pipeline(range(10), double3)
      .runWith(_.collect().map(_.getLong(0)).sorted.toSeq)
    assert(printed("double") == Seq(0L, 2, 4, 6, 8, 10, 12, 14, 16, 18))
  }

  test("README: fan-out Generate | [Double, Square] | Printer") {
    // a | [b, c]: every branch sees every record; each leaf prints its
    // own stream (pyPiper wires one Printer per branch)
    val graph = Node.streams("gen", "*") | Seq(
      Node.transform("double")(_.select((col("x") * 2).as("v"))),
      Node.transform("square")(_.select((col("x") * col("x")).as("v"))))
    val printed = Pipeline(range(10), graph)
      .runWith(_.collect().map(_.getLong(0)).sorted.toSeq)
    assert(printed("gen.double") == (0 until 10).map(_ * 2L))
    assert(printed("gen.square") == (0 until 10).map(i => (i * i).toLong))
  }
}
