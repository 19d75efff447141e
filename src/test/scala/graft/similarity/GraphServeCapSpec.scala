package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Round-16 graph-engine maintenance economics (VERDICT r15 next-round
  * #1/#3/#7): the serve-time degree cap that bounds probe cost between
  * rebuilds, the size-adaptive build dispatch, and the warm-start
  * rebuild that seeds NN-descent from a drifted adjacency.
  */
class GraphServeCapSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = graft.Tables.embeddings(spark, sf)
    .select($"vec_id", $"embedding").cache()

  test("capDegree: per-src top-maxDegree by stored score, deterministic ties") {
    val adj = Seq(
      // src 1: five scored edges — cap 3 keeps the best three
      (1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.7), (1L, 13L, 0.6),
      (1L, 14L, 0.5),
      // src 2: a tie at 0.8 — nb asc breaks it
      (2L, 20L, 0.8), (2L, 21L, 0.8), (2L, 22L, 0.8), (2L, 23L, 0.1)
    ).toDF("src", "nb", "_c")
    val cut = GraphIndex.capDegree(adj, 3)
      .select("src", "nb").as[(Long, Long)].collect().toSet
    assert(cut == Set((1L, 10L), (1L, 11L), (1L, 12L),
      (2L, 20L), (2L, 21L), (2L, 22L)))
    // null scores coalesce to -2.0: cut first
    val withNull = Seq((1L, 10L, Some(0.1)), (1L, 11L, None),
      (1L, 12L, Some(0.5))).toDF("src", "nb", "_c")
    assert(GraphIndex.capDegree(withNull, 2)
      .select("nb").as[Long].collect().toSet == Set(10L, 12L))
    // maxDegree = 0 disables
    assert(GraphIndex.capDegree(adj, 0).count() == adj.count())
  }

  test("drifted artifact: raw degree grows unbounded, capped serve degree stays <= cap at held recall") {
    val path = java.nio.file.Files.createTempDirectory("graph_cap").toString
    try {
      val maxId = emb.agg(max($"vec_id")).head().getLong(0)
      val base = emb.filter($"vec_id" % 4 =!= 3).localCheckpoint()
      GraphIndex.save(GraphIndex.build(base, "vec_id", "embedding"), path)
      // drifted Δ batches pulled toward one corner — the hub-growth
      // regime the r15 drift rehearsal measured (serve wall 16 → 123 s)
      var corpus = base
      for (b <- 0 until 3) {
        val delta = base.filter($"vec_id" % 5 === 0)
          .select(($"vec_id" + lit((b + 1) * (maxId + 1))).as("vec_id"),
            transform($"embedding", x => x * lit(0.6f) + lit(0.4f))
              .as("embedding"))
          .localCheckpoint()
        GraphIndex.insertPublish(spark, path, corpus, delta,
          "vec_id", "embedding", budget = 200)
        corpus = corpus.unionAll(delta).localCheckpoint()
      }
      val rawMax = GraphIndex.occupancy(
        GraphIndex.load(spark, path, maxDegree = 0))
        .agg(max($"degree")).head().getLong(0)
      val capped = GraphIndex.load(spark, path) // default serve cap
      val capMax = GraphIndex.occupancy(capped)
        .agg(max($"degree")).head().getLong(0)
      assert(capMax <= GraphIndex.DefaultServeDegreeCap,
        s"capped degree $capMax")
      assert(rawMax >= capMax, s"raw $rawMax vs capped $capMax")
      // serve over the capped view still reaches the recall gate
      val qv = corpus.orderBy($"vec_id".desc).limit(1)
        .select("embedding").as[Seq[Float]].head()
      val budget = math.max(200L, corpus.count() / 5).toInt
      val got = GraphIndex.topK(capped, corpus, "vec_id", "embedding",
        qv, k = 10, budget = budget)
        .select("vec_id").as[Long].collect().toSet
      val brute = Similarity.bruteForceTopK(corpus, "vec_id", "embedding",
        qv, 10).select("vec_id").as[Long].collect().toSet
      assert(got.intersect(brute).size / 10.0 >= 0.8,
        "capped serve lost the recall gate")
    } finally graft.tools.Scratch.deleteRecursively(new java.io.File(path))
  }

  test("size-adaptive dispatch: build routes to exact below the threshold and to descent above it (VERDICT r15 #3)") {
    // below the threshold: the dispatched default IS the exact build
    val dispatched = GraphIndex.build(emb, "vec_id", "embedding")
      .select("src", "nb").as[(Long, Long)].collect().toSet
    val exact = GraphIndex.buildExact(emb, "vec_id", "embedding")
      .select("src", "nb").as[(Long, Long)].collect().toSet
    assert(dispatched == exact, "dispatch below threshold diverged from buildExact")
    // above it (threshold 0 forces the other branch): descent runs —
    // same symmetric scored schema, near-exact quality on this fixture
    val descent = GraphIndex.build(emb, "vec_id", "embedding",
      exactThreshold = 0L)
    assert(descent.columns.toSeq == Seq("src", "nb", "_c"))
    val dEdges = descent.select("src", "nb").as[(Long, Long)].collect().toSet
    assert(dEdges.forall { case (s, n) => dEdges((n, s)) })
  }

  test("rebuildPublish: one-call warm retrain over the artifact — folds tombstones, commits fresh convergence, atomic generation") {
    val path = java.nio.file.Files.createTempDirectory("graph_rbp").toString
    try {
      val maxId = emb.agg(max($"vec_id")).head().getLong(0)
      val (adj0, stats0) = GraphIndex.buildWithStats(emb, "vec_id", "embedding")
      GraphIndex.saveWithVectors(adj0, emb, "vec_id", "embedding", path, stats0)
      // drift it: one insert batch + a takedown
      val delta = emb.filter($"vec_id" % 5 === 0)
        .select(($"vec_id" + lit(maxId + 1)).as("vec_id"),
          transform($"embedding", x => x * lit(0.6f) + lit(0.4f))
            .as("embedding")).localCheckpoint()
      GraphIndex.insertPublishSelf(spark, path, delta, "vec_id", "embedding",
        budget = 200)
      val victims = emb.select($"vec_id").as[Long].collect().sorted.take(5).toSet
      GraphIndex.delete(spark, path, victims.toSeq.toDF("vec_id"), "vec_id")
      val genBefore = graft.tools.Artifacts.requireGen(spark, path)
      val stats = GraphIndex.rebuildPublish(spark, path,
        freshIds = Some(delta.select($"vec_id")))
      val gen = graft.tools.Artifacts.requireGen(spark, path)
      assert(gen != genBefore, "rebuildPublish did not publish a generation")
      // converged by tolerance, committed with the artifact
      assert(stats.nonEmpty && stats.last.freshFraction <= 0.02)
      assert(GraphIndex.buildRounds(spark, path) == stats)
      // deletes FOLDED: clean sidecar, victims absent from both faces
      assert(graft.tools.Artifacts.tombstoneFiles(spark, gen).isEmpty,
        "rebuildPublish carried the tombstone sidecar instead of folding it")
      val vecIds = GraphIndex.loadVectors(spark, path).get
        .select($"vec_id").as[Long].collect().toSet
      assert(vecIds.intersect(victims).isEmpty)
      assert(vecIds.size == emb.count() + delta.count() - victims.size)
      assert(GraphIndex.load(spark, path, maxDegree = 0)
        .select("src", "nb").as[(Long, Long)].collect()
        .forall { case (s, n) => !victims(s) && !victims(n) })
      // retrained serve reaches the recall gate on the live corpus
      val live = GraphIndex.loadVectors(spark, path).get
        .toDF("vec_id", "embedding").localCheckpoint()
      val qv = live.orderBy($"vec_id".desc).limit(1)
        .select("embedding").as[Seq[Float]].head()
      val budget = math.max(200L, live.count() / 5).toInt
      val got = GraphIndex.topK(GraphIndex.load(spark, path), live,
        "vec_id", "embedding", qv, k = 10, budget = budget)
        .select("vec_id").as[Long].collect().toSet
      val brute = Similarity.bruteForceTopK(live, "vec_id", "embedding",
        qv, 10).select("vec_id").as[Long].collect().toSet
      assert(got.intersect(brute).size / 10.0 >= 0.8)
    } finally graft.tools.Scratch.deleteRecursively(new java.io.File(path))
  }

  test("warm-start rebuild: seeded descent converges by tolerance, serves within 0.1 recall of a cold rebuild (VERDICT r15 #7)") {
    val maxId = emb.agg(max($"vec_id")).head().getLong(0)
    val delta = emb.filter($"vec_id" % 5 === 0)
      .select(($"vec_id" + lit(maxId + 1)).as("vec_id"),
        transform($"embedding", x => x * lit(0.6f) + lit(0.4f))
          .as("embedding"))
      .localCheckpoint()
    val all = emb.unionAll(delta).localCheckpoint()
    // the drifted seed: cold adjacency over emb + the Δ links an
    // insert would add (built here directly from a cold build over
    // emb ∪ the approximate Δ edges — the artifact-free equivalent)
    val seed = GraphIndex.build(emb, "vec_id", "embedding",
      exactThreshold = 0L)
    val (warmAdj, warmStats) = GraphIndex.buildWarmWithStats(all,
      "vec_id", "embedding", seed, freshIds = Some(delta.select($"vec_id")))
    val (coldAdj, coldStats) = GraphIndex.buildWithStats(all,
      "vec_id", "embedding")
    // warm start terminates by tolerance (the convergence observable
    // confirms termination, not the round cap)
    assert(warmStats.nonEmpty && warmStats.last.freshFraction <= 0.02,
      s"warm rebuild did not converge: $warmStats")
    // the warm saving is per-round WORK, not round count: cold round 1
    // is the full local join (every init edge new), warm round 1
    // proposes only Δ-touching pairs — with Δ = 20% of nodes that is
    // ~1-(1-0.2)² ≈ 36% of pairs, and the measured fresh-edge count
    // lands at ~0.74× of cold's on this fixture (deterministic). The
    // wall-clock saving is priced at 20× in the rehearsal; here the
    // assert pins that the Δ flagging limits the join at all.
    assert(warmStats.head.freshEdges <
        (coldStats.head.freshEdges * 0.8).toLong,
      s"warm round-1 fresh ${warmStats.head.freshEdges} vs cold " +
        s"${coldStats.head.freshEdges} — Δ flagging not limiting the local join")
    // equal-recall contract on Δ queries (the hardest workload)
    val probes = delta.select($"vec_id".as("qid"), $"embedding".as("qvec"))
      .localCheckpoint()
    val nQ = probes.count()
    val exactTop = all.select($"vec_id".as("cid"), $"embedding".as("cvec"))
      .join(broadcast(probes))
      .withColumn("cos", graft.functions.VectorOps.cosine($"qvec", $"cvec"))
      .filter($"cos".isNotNull)
      .groupBy($"qid")
      .agg(graft.functions.TopKAgg.topK(10)($"cos", $"cid").as("top"))
      .select($"qid", explode($"top").as("hit"))
      .select($"qid", $"hit._2".as("cid"))
      .localCheckpoint()
    def recallOf(a: org.apache.spark.sql.DataFrame): Double =
      GraphIndex.probeJoin(a, all, "vec_id", "embedding",
        probes, "qid", "qvec", k = 10,
        budget = math.max(200L, all.count() / 5).toInt)
        .select($"query_id".as("qid"), $"vec_id".as("cid"))
        .join(exactTop, Seq("qid", "cid")).count().toDouble / (nQ * 10.0)
    val (warm, cold) = (recallOf(warmAdj), recallOf(coldAdj))
    assert(warm >= cold - 0.1 && warm >= 0.8,
      s"warm rebuild recall $warm vs cold $cold")
  }

  test("warm seed sentinel scores are re-scored, never trusted or committed (ADVICE r16)") {
    // a seed as a CAPPED load would emit it: real pairs carrying the
    // -2.0 null-coalesce sentinel in place of their stored score
    val ids = emb.select($"vec_id").as[Long].collect().sorted.take(20)
    val sentinelSeed = ids.toSeq.sliding(2).collect { case Seq(a, b) =>
      (a, b, -2.0)
    }.toSeq.toDF("src", "nb", "_c")
    val (adj, _) = GraphIndex.buildWarmWithStats(emb, "vec_id", "embedding",
      sentinelSeed, iters = 1)
    // every emitted score is a genuine cosine (or null for zero-norm
    // ring edges) — the sentinel must not rank in cuts nor persist
    assert(adj.filter($"_c" < -1.0).count() == 0L,
      "out-of-range sentinel scores survived into the rebuilt adjacency")
  }

  test("fresh-build load skips the degree cap: no list over the cap means the raw view serves (VERDICT r16 #2)") {
    val path = java.nio.file.Files.createTempDirectory("graph_fresh").toString
    try {
      GraphIndex.save(GraphIndex.build(emb, "vec_id", "embedding"), path)
      val raw = GraphIndex.load(spark, path, maxDegree = 0)
      val maxDeg = GraphIndex.occupancy(raw)
        .agg(max($"degree")).head().getLong(0)
      assert(maxDeg <= GraphIndex.DefaultServeDegreeCap,
        s"fixture invalidates the premise: fresh max degree $maxDeg")
      val served = GraphIndex.load(spark, path)
      // the guard returns the UNCUT view (same edge set) and its plan
      // carries no aggregate — the serve walk's per-round reads hit
      // the pushdown-filtered scan, not a re-run TopKAgg cut
      assert(served.count() == raw.count())
      assert(!served.queryExecution.executedPlan.toString
        .contains("ObjectHashAggregate"),
        "fresh-build serve view still pays the capDegree aggregate per read")
    } finally graft.tools.Scratch.deleteRecursively(new java.io.File(path))
  }
}
