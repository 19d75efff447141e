package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The retraction half of graph-index maintenance (VERDICT r14
  * next-round #4) plus the r15 additions around it: tombstone delete
  * (files untouched, serve ≡ the graph minus the ids and every edge
  * touching them), compact (fold + manifest collapse), the
  * vector-carrying artifact ([[GraphIndex.saveWithVectors]] /
  * [[GraphIndex.loadVectors]] / [[GraphIndex.insertPublishSelf]]),
  * the Δ×Δ broadcast gate on insertPublish (r14 #6), and the
  * committed convergence observable (r14 #1).
  */
class GraphIndexMaintSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = graft.Tables.embeddings(spark, sf)
    .select($"vec_id", $"embedding").cache()

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toAbsolutePath.toString

  private def filesUnder(dir: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).map(f => f.getPath + ":" + f.length)
      .toSet
  }

  test("delete: tombstone sidecar only — no data file touched; load drops every edge touching the ids; compact folds them in") {
    val path = tmp("graph_del")
    try {
      val adj = GraphIndex.build(emb, "vec_id", "embedding")
      GraphIndex.save(adj, path)
      val before = GraphIndex.load(spark, path, maxDegree = 0)
        .select("src", "nb").as[(Long, Long)].collect().toSet
      val victims = emb.select($"vec_id").as[Long].collect().sorted.take(5).toSet
      val dataFiles = graft.tools.Artifacts.dirsOf(spark, path,
        graft.tools.Artifacts.requireGen(spark, path), "adj_dirs")
        .map(d => filesUnder(graft.tools.Artifacts.localPath(d)))
        .reduce(_ ++ _)
      GraphIndex.delete(spark, path, victims.toSeq.toDF("vec_id"), "vec_id")
      // delete is sidecar-only: same generation, same data files
      val afterFiles = graft.tools.Artifacts.dirsOf(spark, path,
        graft.tools.Artifacts.requireGen(spark, path), "adj_dirs")
        .map(d => filesUnder(graft.tools.Artifacts.localPath(d)))
        .reduce(_ ++ _)
      assert(afterFiles == dataFiles, "delete rewrote adjacency files")
      // load = the graph minus the ids AND every edge touching them
      // (dangling edges out — a walk can never reach a deleted id)
      val got = GraphIndex.load(spark, path, maxDegree = 0)
        .select("src", "nb").as[(Long, Long)].collect().toSet
      val want = before.filterNot { case (s, n) =>
        victims(s) || victims(n) }
      assert(got == want, "post-delete adjacency is not graph-minus-ids")
      // a serve over the loaded index never returns a victim
      val q = emb.filter($"vec_id" === victims.head)
        .select("embedding").as[Seq[Float]].head()
      val live = emb.filter(!$"vec_id".isin(victims.toSeq: _*))
      val served = GraphIndex.topK(GraphIndex.load(spark, path), live,
        "vec_id", "embedding", q, k = 10,
        budget = math.max(200L, emb.count() / 5).toInt)
        .as[(Long, Double)].collect().map(_._1).toSet
      assert(served.intersect(victims).isEmpty)
      // compact: folds the sidecar, collapses to ONE fresh dir,
      // adjacency unchanged vs the pre-compact view
      GraphIndex.compact(spark, path)
      val gen = graft.tools.Artifacts.requireGen(spark, path)
      assert(graft.tools.Artifacts.dirsOf(spark, path, gen, "adj_dirs").size == 1)
      assert(graft.tools.Artifacts.tombstoneFiles(spark, gen).isEmpty,
        "compact did not fold the sidecar")
      val compacted = GraphIndex.load(spark, path, maxDegree = 0)
        .select("src", "nb").as[(Long, Long)].collect().toSet
      assert(compacted == want, "compact changed the served adjacency")
    } finally graft.tools.Scratch.deleteRecursively(new java.io.File(path))
  }

  test("vector-carrying artifact: saveWithVectors/loadVectors, self-contained insertPublish, tombstones apply to vectors") {
    val path = tmp("graph_vec")
    try {
      val cut = emb.selectExpr("percentile(vec_id, 0.8)").head()
        .getDouble(0).toLong
      val base = emb.filter($"vec_id" <= cut).localCheckpoint()
      val delta = emb.filter($"vec_id" > cut).localCheckpoint()
      val (adj, stats) = GraphIndex.buildWithStats(base, "vec_id", "embedding")
      GraphIndex.saveWithVectors(adj, base, "vec_id", "embedding", path,
        stats)
      // the artifact carries its corpus
      val v0 = GraphIndex.loadVectors(spark, path).get
      assert(v0.count() == base.count())
      // …and the committed convergence observable (VERDICT r14 #1)
      assert(GraphIndex.buildRounds(spark, path) == stats)
      assert(GraphIndex.convergence(spark, path)
        .contains(stats.last.freshFraction))
      // self-contained Δ publish: corpus read from the artifact
      GraphIndex.insertPublishSelf(spark, path, delta, "vec_id", "embedding",
        budget = math.max(400L, base.count() / 2).toInt)
      val v1 = GraphIndex.loadVectors(spark, path).get
      assert(v1.count() == base.count() + delta.count(),
        "insertPublishSelf did not append Δ vectors")
      // every Δ id linked, symmetric
      val edges = GraphIndex.load(spark, path, maxDegree = 0)
        .select("src", "nb").as[(Long, Long)].collect().toSet
      val newIds = delta.select($"vec_id").as[Long].collect().toSet
      assert(edges.forall { case (s, n) => edges((n, s)) })
      assert(newIds.subsetOf(edges.map(_._1)))
      // convergence stats carried across the Δ publish (the last
      // BUILD's trajectory stays the cadence signal)
      assert(GraphIndex.buildRounds(spark, path) == stats)
      // a takedown composes: delete a Δ id, both faces exclude it
      val victim = newIds.head
      GraphIndex.delete(spark, path, Seq(victim).toDF("vec_id"), "vec_id")
      assert(!GraphIndex.loadVectors(spark, path).get
        .select(col("vec_id")).as[Long].collect().toSet.contains(victim))
      assert(GraphIndex.load(spark, path, maxDegree = 0)
        .select("src", "nb").as[(Long, Long)].collect()
        .forall { case (s, n) => s != victim && n != victim })
    } finally graft.tools.Scratch.deleteRecursively(new java.io.File(path))
  }

  test("insertPublish Δ×Δ gate: above maxBroadcastRows the pair source is LSH-bucketed, Δ still fully linked (VERDICT r14 #6)") {
    val cut = emb.selectExpr("percentile(vec_id, 0.8)").head()
      .getDouble(0).toLong
    val base = emb.filter($"vec_id" <= cut).localCheckpoint()
    val delta = emb.filter($"vec_id" > cut).localCheckpoint()
    val newIds = delta.select($"vec_id").as[Long].collect().toSet
    def insertAndLoad(gate: Long): Set[(Long, Long)] = {
      val path = tmp("graph_gate")
      try {
        GraphIndex.save(GraphIndex.build(base, "vec_id", "embedding"), path)
        GraphIndex.insertPublish(spark, path, base, delta,
          "vec_id", "embedding",
          budget = math.max(400L, base.count() / 2).toInt,
          maxBroadcastRows = gate)
        GraphIndex.load(spark, path, maxDegree = 0)
          .select("src", "nb").as[(Long, Long)].collect().toSet
      } finally graft.tools.Scratch.deleteRecursively(new java.io.File(path))
    }
    for (gate <- Seq(4_000_000L, 0L)) { // exact branch, then gated branch
      val edges = insertAndLoad(gate)
      assert(edges.forall { case (s, n) => edges((n, s)) },
        s"gate=$gate: not symmetric")
      val linked = edges.map(_._1).intersect(newIds)
      assert(linked == newIds,
        s"gate=$gate: unlinked new nodes ${newIds -- linked}")
    }
  }

  test("buildWithStats: convergence-driven termination — fresh-edge fraction decays and the build stops early when converged") {
    val (_, stats) = GraphIndex.buildWithStats(emb, "vec_id", "embedding",
      iters = 12, convergeTol = 0.02)
    assert(stats.nonEmpty)
    // round 1 is the full local join: most edges are fresh
    assert(stats.head.freshFraction > 0.2, stats.toString)
    // terminal round: either converged under tol (early stop saved
    // the remaining rounds) or the cap bound it
    assert(stats.size < 12 || stats.last.freshFraction > 0.02,
      s"ran all 12 rounds despite convergence: $stats")
    if (stats.size < 12)
      assert(stats.last.freshFraction <= 0.02, stats.toString)
    // fresh counts are the committed observable's source — strictly
    // decreasing in this fixture's regime (descent converges)
    assert(stats.last.freshEdges <= stats.head.freshEdges)
  }
}
