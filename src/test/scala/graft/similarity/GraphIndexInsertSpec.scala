package graft.similarity

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Δ maintenance for the graph index (VERDICT r13 next-round #3): the
  * NSW add-node walk, batched and generation-published. Pins the
  * contract the r13 scaladoc said it needed: insert-then-serve
  * reaches the recall gate (within tolerance of a rebuild), frozen
  * adjacency files are never rewritten (Δ cost), links are symmetric,
  * deleted ids never surface, and a reader always sees a complete
  * committed generation.
  */
class GraphIndexInsertSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val emb = graft.Tables.embeddings(spark, sf)
    .select($"vec_id", $"embedding").cache()

  private def filesUnder(dir: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(dir)).map(f => f.getPath + ":" + f.lastModified)
      .toSet
  }

  test("insertPublish: delta-cost publish, symmetric links, recall holds over corpus ∪ Δ") {
    val path = java.nio.file.Files.createTempDirectory("graph_ins").toString
    try {
      val cut = emb.selectExpr("percentile(vec_id, 0.8)").head().getDouble(0).toLong
      val base = emb.filter($"vec_id" <= cut).localCheckpoint()
      val delta = emb.filter($"vec_id" > cut).localCheckpoint()
      GraphIndex.save(GraphIndex.build(base, "vec_id", "embedding"), path)
      val beforeDirs = graft.tools.Artifacts.dirsOf(spark, path,
        graft.tools.Artifacts.requireGen(spark, path), "adj_dirs")
      val frozen = beforeDirs.map(d =>
        filesUnder(graft.tools.Artifacts.localPath(d))).reduce(_ ++ _)
      // generous efConstruction for the near-random fixture (the
      // scaladoc's visited-fraction note); the contract under test is
      // insert ≈ rebuild, not the budget choice
      GraphIndex.insertPublish(spark, path, base, delta,
        "vec_id", "embedding",
        budget = math.max(400L, base.count() / 2).toInt)
      // Δ publish: parent dirs pass by reference, bytes untouched
      val afterDirs = graft.tools.Artifacts.dirsOf(spark, path,
        graft.tools.Artifacts.requireGen(spark, path), "adj_dirs")
      assert(beforeDirs.toSet.subsetOf(afterDirs.toSet),
        "parent adjacency dirs were not carried by reference")
      assert(afterDirs.size == beforeDirs.size + 1, "expected exactly one Δ dir")
      val after = beforeDirs.map(d =>
        filesUnder(graft.tools.Artifacts.localPath(d))).reduce(_ ++ _)
      assert(after == frozen, "insertPublish rewrote frozen adjacency files")
      // links symmetric; every new node linked
      val adj = GraphIndex.load(spark, path)
      // symmetry is a STORED-artifact property — assert on the raw view
      // (the serving cap cuts per-src lists independently)
      val edges = GraphIndex.load(spark, path, maxDegree = 0)
        .select("src", "nb").as[(Long, Long)].collect().toSet
      assert(edges.forall { case (s, n) => edges((n, s)) }, "not symmetric")
      val newIds = delta.select($"vec_id").as[Long].collect().toSet
      val linked = edges.map(_._1).intersect(newIds)
      assert(linked == newIds, s"unlinked new nodes: ${newIds -- linked}")
      // insert-then-serve ≡ rebuild within a recall tolerance (the
      // VERDICT r13 #3 contract): mean recall@10 over ALL Δ-node
      // queries (the hardest case — served purely through Δ links),
      // inserted index vs a full rebuild of corpus ∪ Δ
      val all = base.unionAll(delta).localCheckpoint()
      val rebuilt = GraphIndex.build(all, "vec_id", "embedding")
        .localCheckpoint()
      val probes = delta.select($"vec_id".as("qid"), $"embedding".as("qvec"))
      val nQ = probes.count()
      val corpus2 = all.select($"vec_id".as("cid"), $"embedding".as("cvec"))
      val exactTop = corpus2.join(broadcast(probes))
        .withColumn("cos", graft.functions.VectorOps.cosine($"qvec", $"cvec"))
        .filter($"cos".isNotNull)
        .groupBy($"qid")
        .agg(graft.functions.TopKAgg.topK(10)($"cos", $"cid").as("top"))
        .select($"qid", explode($"top").as("hit"))
        .select($"qid", $"hit._2".as("cid"))
        .localCheckpoint()
      def meanRecall(a: org.apache.spark.sql.DataFrame): Double =
        GraphIndex.probeJoin(a, all, "vec_id", "embedding",
          probes, "qid", "qvec", k = 10,
          budget = math.max(200L, all.count() / 5).toInt)
          .select($"query_id".as("qid"), $"vec_id".as("cid"))
          .join(exactTop, Seq("qid", "cid")).count().toDouble / (nQ * 10.0)
      val (ins, reb) = (meanRecall(adj), meanRecall(rebuilt))
      assert(ins >= reb - 0.1 && ins >= 0.8,
        s"insert-then-serve mean recall $ins vs rebuild $reb — Δ links degraded serving")
      // reader protocol: exactly the previous + current committed gens
      assert(graft.tools.Artifacts.committedGens(spark, path).size == 2)
    } finally graft.tools.Scratch.deleteRecursively(new java.io.File(path))
  }

  test("empty Δ batch is a no-op (no new generation)") {
    val path = java.nio.file.Files.createTempDirectory("graph_ins0").toString
    try {
      GraphIndex.save(GraphIndex.build(emb, "vec_id", "embedding"), path)
      val gen = graft.tools.Artifacts.requireGen(spark, path)
      GraphIndex.insertPublish(spark, path, emb,
        emb.filter(lit(false)), "vec_id", "embedding")
      assert(graft.tools.Artifacts.requireGen(spark, path) == gen)
    } finally graft.tools.Scratch.deleteRecursively(new java.io.File(path))
  }
}
