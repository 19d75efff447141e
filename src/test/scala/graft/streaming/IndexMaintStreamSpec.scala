package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.similarity.IvfIndex
import graft.tools.Scratch

class IndexMaintStreamSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toAbsolutePath.toString

  test("stream-appended index ≡ one-shot batch append; mid-stream loads see only complete committed prefixes") {
    val emb = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
    val cut = emb.selectExpr("percentile(vec_id, 0.8)").head().getDouble(0).toLong
    val base = emb.filter($"vec_id" <= cut)
    val delta = emb.filter($"vec_id" > cut)
    val nBase = base.count()
    assert(delta.count() > 0)

    val streamed = tmp("idx_maint_streamed")
    val batched = tmp("idx_maint_batched")
    val deltaDir = tmp("idx_maint_delta")
    try {
      IvfIndex.save(IvfIndex.build(base, "vec_id", "embedding",
        nCentroids = 8, iters = 2), streamed)
      Scratch.copyRecursively(streamed, batched) // byte-identical twin
      // Δ as a 3-file directory table: maxFilesPerTrigger=1 forces a
      // genuinely multi-trigger, multi-publish run
      delta.repartition(3).write.parquet(s"$deltaDir/embeddings.parquet")

      // the concurrent reader: before every trigger's append, load the
      // index as a probe would and record what it sees
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Long)]
      val triggers = IndexMaintStream.appendFile(spark, deltaDir, streamed,
        maxFilesPerTrigger = Some(1), onTrigger = mb => {
          val l = IvfIndex.load(spark, streamed, "vec_id", "embedding")
          seen += ((l.corpus.count(),
            l.centroids.flatten.toSeq.hashCode, mb.count()))
        })
      assert(triggers == 3, s"expected 3 triggers, got $triggers")

      // every mid-stream load saw base + a COMPLETE prefix of the
      // already-committed triggers — never a fraction of one
      val prefixes = seen.map(_._3).scanLeft(0L)(_ + _)
      seen.map(_._1).zip(prefixes).foreach { case (got, expect) =>
        assert(got == nBase + expect,
          s"mid-stream load saw $got rows; committed prefix was ${nBase + expect}")
      }
      // and centroids never moved (frozen layout — a torn read would
      // pair new corpus with different centroids)
      assert(seen.map(_._2).distinct.size == 1)

      // stream of 3 triggers ≡ one appendPublish of the whole Δ
      IvfIndex.appendPublish(spark, batched, delta, "vec_id", "embedding")
      val probes = emb.filter($"vec_id" % 17 === 0).limit(5)
        .select($"vec_id".as("query_id"), $"embedding".as("qv"))
        .localCheckpoint()
      def answers(path: String) = IvfIndex.probeJoin(
        IvfIndex.load(spark, path, "vec_id", "embedding"),
        probes, "query_id", "qv", k = 10, nProbe = 4)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(answers(streamed) == answers(batched),
        "streamed maintenance diverged from batch append")
      // the generation chain is real: 1 save + 3 publishes, last two
      // retained
      val gens = graft.tools.Artifacts.committedGens(spark, streamed)
      assert(gens.last.endsWith("g00000003"), gens.toString)
    } finally {
      Scratch.deleteRecursively(new java.io.File(streamed))
      Scratch.deleteRecursively(new java.io.File(batched))
      Scratch.deleteRecursively(new java.io.File(deltaDir))
    }
  }

  test("PQ kind: stream-appended codes ≡ batch appendPublish; mid-stream loads complete committed prefixes") {
    import graft.similarity.PqIndex
    val emb = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
    val cut = emb.selectExpr("percentile(vec_id, 0.8)").head().getDouble(0).toLong
    val base = emb.filter($"vec_id" <= cut)
    val delta = emb.filter($"vec_id" > cut)
    val nBase = base.count()
    val streamed = tmp("pq_maint_streamed")
    val deltaDir = tmp("pq_maint_delta")
    try {
      val cb = PqIndex.train(base, "vec_id", "embedding", m = 8, k = 8, iters = 1)
      PqIndex.save(cb, PqIndex.encode(cb, base, "vec_id", "embedding"), streamed)
      delta.repartition(3).write.parquet(s"$deltaDir/embeddings.parquet")
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val triggers = IndexMaintStream.appendFile(spark, deltaDir, streamed,
        kind = IndexMaintStream.PqKind(), maxFilesPerTrigger = Some(1),
        onTrigger = mb => {
          val (_, codes) = PqIndex.load(spark, streamed)
          seen += ((codes.count(), mb.count()))
        })
      assert(triggers == 3)
      val prefixes = seen.map(_._2).scanLeft(0L)(_ + _)
      seen.map(_._1).zip(prefixes).foreach { case (got, expect) =>
        assert(got == nBase + expect,
          s"mid-stream PQ load saw $got codes; committed prefix was ${nBase + expect}")
      }
      // encode is per-row pure at the frozen codebook: the streamed
      // codes table ≡ a one-shot re-encode of corpus ∪ Δ
      val (cbL, codesL) = PqIndex.load(spark, streamed)
      val got = codesL.as[(Long, Seq[Int])].collect().toMap
      val want = PqIndex.encode(cbL, emb, "vec_id", "embedding")
        .as[(Long, Seq[Int])].collect().toMap
      assert(got == want, "streamed PQ maintenance diverged from re-encode")
    } finally {
      Scratch.deleteRecursively(new java.io.File(streamed))
      Scratch.deleteRecursively(new java.io.File(deltaDir))
    }
  }

  test("MinHash kind: stream-appended index classifies ≡ rebuild over corpus ∪ Δ; complete prefixes") {
    import graft.dedup.MinHashIndex
    val docs = graft.Tables.documentsParallel(spark, sf)
      .select($"doc_id", $"text")
    val base = docs.filter($"doc_id" % 10 =!= 0)
    val delta = docs.filter($"doc_id" % 10 === 0 && $"doc_id" % 20 =!= 0)
    val probe = docs.filter($"doc_id" % 20 === 0)
    val streamed = tmp("mh_maint_streamed")
    val deltaDir = tmp("mh_maint_delta")
    try {
      MinHashIndex.save(MinHashIndex.build(base, "doc_id", "text",
        shingleK = 5, bands = 16, rowsPerBand = 2), streamed)
      delta.repartition(2).write.parquet(s"$deltaDir/documents.parquet")
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val triggers = IndexMaintStream.appendFile(spark, deltaDir, streamed,
        kind = IndexMaintStream.MinHashKind(), maxFilesPerTrigger = Some(1),
        onTrigger = mb => {
          val idx = MinHashIndex.load(spark, streamed, "doc_id")
          seen += ((idx.shingles.select($"doc_id").distinct().count(),
            mb.count()))
        })
      assert(triggers == 2)
      // every mid-stream load covered base + complete committed Δ docs
      // (doc-level: a doc's bucket+shingle rows land atomically)
      assert(seen.map(_._1).toSeq == seen.map(_._2)
        .scanLeft(base.count())(_ + _).dropRight(1).toSeq)
      // hash family corpus-independent: maintained ≡ rebuild
      val maintained = MinHashIndex.classify(
        MinHashIndex.load(spark, streamed, "doc_id"),
        probe, "doc_id", "text", threshold = 0.5)
        .as[(Long, String, Option[Long], Option[Double])].collect().toSet
      val rebuilt = MinHashIndex.build(base.unionAll(delta), "doc_id", "text",
        shingleK = 5, bands = 16, rowsPerBand = 2)
      val want = MinHashIndex.classify(rebuilt, probe, "doc_id", "text", 0.5)
        .as[(Long, String, Option[Long], Option[Double])].collect().toSet
      assert(maintained == want, "streamed MinHash maintenance diverged from rebuild")
    } finally {
      Scratch.deleteRecursively(new java.io.File(streamed))
      Scratch.deleteRecursively(new java.io.File(deltaDir))
    }
  }

  test("Semantic kind: stream-appended corpus classifies ≡ frozen structure over corpus ∪ Δ; complete prefixes") {
    import graft.dedup.SemanticIndex
    val emb = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
    val base = emb.filter($"vec_id" % 10 =!= 0)
    val delta = emb.filter($"vec_id" % 10 === 0 && $"vec_id" % 20 =!= 0)
    val probe = emb.filter($"vec_id" % 20 === 0)
    val streamed = tmp("sem_maint_streamed")
    val deltaDir = tmp("sem_maint_delta")
    try {
      SemanticIndex.save(SemanticIndex.build(base, "vec_id", "embedding",
        threshold = 0.35), streamed)
      delta.repartition(2).write.parquet(s"$deltaDir/embeddings.parquet")
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val triggers = IndexMaintStream.appendFile(spark, deltaDir, streamed,
        kind = IndexMaintStream.SemanticKind(), maxFilesPerTrigger = Some(1),
        onTrigger = mb => {
          val idx = SemanticIndex.load(spark, streamed, "vec_id", "embedding")
          seen += ((idx.corpusBlocked.count(), mb.count()))
        })
      assert(triggers == 2)
      assert(seen.map(_._1).toSeq == seen.map(_._2)
        .scanLeft(base.count())(_ + _).dropRight(1).toSeq)
      // frozen blocking: maintained ≡ one appendPublish of the union
      val maintained = SemanticIndex.classify(
        SemanticIndex.load(spark, streamed, "vec_id", "embedding"), probe)
        .withColumn("cosine", round($"cosine", 6))
        .as[(Long, String, Option[Long], Option[Double])].collect().toSet
      val oneShot = tmp("sem_maint_oneshot")
      try {
        SemanticIndex.save(SemanticIndex.build(base, "vec_id", "embedding",
          threshold = 0.35), oneShot)
        SemanticIndex.appendPublish(spark, oneShot, delta, "vec_id", "embedding")
        val want = SemanticIndex.classify(
          SemanticIndex.load(spark, oneShot, "vec_id", "embedding"), probe)
          .withColumn("cosine", round($"cosine", 6))
          .as[(Long, String, Option[Long], Option[Double])].collect().toSet
        assert(maintained == want,
          "streamed semantic maintenance diverged from batch append")
      } finally Scratch.deleteRecursively(new java.io.File(oneShot))
    } finally {
      Scratch.deleteRecursively(new java.io.File(streamed))
      Scratch.deleteRecursively(new java.io.File(deltaDir))
    }
  }

  test("Graph kind: per-trigger insertPublish over the vector-carrying artifact — complete prefixes, Δ fully linked, serve ≈ rebuild, live takedown") {
    import graft.similarity.GraphIndex
    val emb = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
    val cut = emb.selectExpr("percentile(vec_id, 0.8)").head().getDouble(0).toLong
    val base = emb.filter($"vec_id" <= cut).localCheckpoint()
    val delta = emb.filter($"vec_id" > cut).localCheckpoint()
    val nBase = base.count()
    val streamed = tmp("graph_maint_streamed")
    val deltaDir = tmp("graph_maint_delta")
    try {
      GraphIndex.saveWithVectors(GraphIndex.build(base, "vec_id", "embedding"),
        base, "vec_id", "embedding", streamed)
      delta.repartition(2).write.parquet(s"$deltaDir/embeddings.parquet")
      // generous efConstruction on the near-random fixture (the
      // GraphIndexInsertSpec note) — the contract under test is the
      // streaming loop, not the budget choice
      val kind = IndexMaintStream.GraphKind(
        budget = math.max(400L, nBase / 2).toInt)
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val triggers = IndexMaintStream.appendFile(spark, deltaDir, streamed,
        kind = kind, maxFilesPerTrigger = Some(1),
        onTrigger = mb => {
          // the concurrent reader: corpus side is always a complete
          // committed prefix (vectors land with the generation)
          seen += ((GraphIndex.loadVectors(spark, streamed).get.count(),
            mb.count()))
        })
      assert(triggers == 2)
      assert(seen.map(_._1).toSeq == seen.map(_._2)
        .scanLeft(nBase)(_ + _).dropRight(1).toSeq)
      // every streamed id is linked, symmetric
      val edges = GraphIndex.load(spark, streamed, maxDegree = 0)
        .select("src", "nb").as[(Long, Long)].collect().toSet
      val newIds = delta.select($"vec_id").as[Long].collect().toSet
      assert(edges.forall { case (s, n) => edges((n, s)) })
      assert(newIds.subsetOf(edges.map(_._1)), "unlinked streamed nodes")
      // stream-maintained serve ≈ a full rebuild over corpus ∪ Δ (the
      // insert contract — graph links depend on insertion state, so
      // the bound is recall, not bit equality)
      val all = base.unionAll(delta).localCheckpoint()
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
      def meanRecall(a: org.apache.spark.sql.DataFrame): Double =
        GraphIndex.probeJoin(a, all, "vec_id", "embedding",
          probes, "qid", "qvec", k = 10,
          budget = math.max(200L, all.count() / 5).toInt)
          .select($"query_id".as("qid"), $"vec_id".as("cid"))
          .join(exactTop, Seq("qid", "cid")).count().toDouble / (nQ * 10.0)
      val streamedRecall = meanRecall(GraphIndex.load(spark, streamed))
      val rebuiltRecall = meanRecall(
        GraphIndex.build(all, "vec_id", "embedding").localCheckpoint())
      assert(streamedRecall >= rebuiltRecall - 0.1 && streamedRecall >= 0.8,
        s"streamed graph recall $streamedRecall vs rebuild $rebuiltRecall")
      // the live-takedown seam (VERDICT r14 #5): a takedown against
      // the maintained index stays deleted — edges AND vectors
      val victim = newIds.head
      kind.takedown(spark, streamed, Seq(victim).toDF("vec_id"))
      assert(GraphIndex.load(spark, streamed, maxDegree = 0)
        .select("src", "nb").as[(Long, Long)].collect()
        .forall { case (s, n) => s != victim && n != victim })
      assert(!GraphIndex.loadVectors(spark, streamed).get
        .select($"vec_id").as[Long].collect().toSet.contains(victim))
      // graph replay idempotency: the same batch tag skips
      val genNow = graft.tools.Artifacts.requireGen(spark, streamed)
      assert(!IndexMaintStream.publishOnce(spark, streamed, kind,
        delta, "b1")) // b1 was the second trigger's tag
      assert(graft.tools.Artifacts.requireGen(spark, streamed) == genNow)
    } finally {
      Scratch.deleteRecursively(new java.io.File(streamed))
      Scratch.deleteRecursively(new java.io.File(deltaDir))
    }
  }

  test("Graph kind: takedown triggers INTERLEAVED with insert triggers — victims never resurface, live serve ≈ batch delete+insert (VERDICT r15 #8)") {
    import graft.similarity.GraphIndex
    val emb = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
    val cut = emb.selectExpr("percentile(vec_id, 0.8)").head().getDouble(0).toLong
    val base = emb.filter($"vec_id" <= cut).localCheckpoint()
    val delta = emb.filter($"vec_id" > cut).localCheckpoint()
    val nBase = base.count()
    // victims: some base ids + some Δ ids from the FIRST trigger —
    // exercises a takedown against both frozen and freshly-inserted
    // nodes mid-stream
    val deltaIds = delta.select($"vec_id").as[Long].collect().sorted
    val victims = (base.select($"vec_id").as[Long].collect().sorted.take(3)
      ++ deltaIds.take(3)).toSet
    val streamed = tmp("graph_td_streamed")
    val deltaDir = tmp("graph_td_delta")
    val batch = tmp("graph_td_batch")
    try {
      GraphIndex.saveWithVectors(GraphIndex.build(base, "vec_id", "embedding"),
        base, "vec_id", "embedding", streamed)
      delta.repartition(2).write.parquet(s"$deltaDir/embeddings.parquet")
      val kind = IndexMaintStream.GraphKind(
        budget = math.max(400L, nBase / 2).toInt)
      // one composed stream: the takedown fires between triggers (the
      // CcStream takedown-seam pattern) — before the SECOND trigger's
      // insert, so later Δ walks run over a graph with live tombstones
      var trigger = 0
      IndexMaintStream.appendFile(spark, deltaDir, streamed,
        kind = kind, maxFilesPerTrigger = Some(1),
        onTrigger = _ => {
          if (trigger == 1)
            kind.takedown(spark, streamed, victims.toSeq.toDF("vec_id"))
          trigger += 1
        })
      // victims are gone from every face
      assert(GraphIndex.load(spark, streamed, maxDegree = 0)
        .select("src", "nb").as[(Long, Long)].collect()
        .forall { case (s, n) => !victims(s) && !victims(n) })
      assert(GraphIndex.loadVectors(spark, streamed).get
        .select($"vec_id").as[Long].collect().toSet.intersect(victims).isEmpty)
      // batch comparison arm: insert the whole Δ, then delete — graph
      // inserts are state-dependent so the bound is serve recall on
      // the LIVE ids, not bit equality
      GraphIndex.saveWithVectors(GraphIndex.build(base, "vec_id", "embedding"),
        base, "vec_id", "embedding", batch)
      GraphIndex.insertPublishSelf(spark, batch, delta, "vec_id", "embedding",
        budget = math.max(400L, nBase / 2).toInt)
      GraphIndex.delete(spark, batch, victims.toSeq.toDF("vec_id"), "vec_id")
      val live = base.unionAll(delta)
        .filter(!$"vec_id".isin(victims.toSeq: _*)).localCheckpoint()
      val probes = delta.filter(!$"vec_id".isin(victims.toSeq: _*))
        .select($"vec_id".as("qid"), $"embedding".as("qvec")).localCheckpoint()
      val nQ = probes.count()
      val exactTop = live.select($"vec_id".as("cid"), $"embedding".as("cvec"))
        .join(broadcast(probes))
        .withColumn("cos", graft.functions.VectorOps.cosine($"qvec", $"cvec"))
        .filter($"cos".isNotNull)
        .groupBy($"qid")
        .agg(graft.functions.TopKAgg.topK(10)($"cos", $"cid").as("top"))
        .select($"qid", explode($"top").as("hit"))
        .select($"qid", $"hit._2".as("cid"))
        .localCheckpoint()
      def recallOf(path: String): Double = {
        val got = GraphIndex.probeJoin(GraphIndex.load(spark, path),
          GraphIndex.loadVectors(spark, path).get.toDF("vec_id", "embedding"),
          "vec_id", "embedding", probes, "qid", "qvec", k = 10,
          budget = math.max(200L, live.count() / 5).toInt)
        // no victim is ever served
        assert(got.select($"vec_id").as[Long].collect()
          .forall(id => !victims(id)))
        got.select($"query_id".as("qid"), $"vec_id".as("cid"))
          .join(exactTop, Seq("qid", "cid")).count().toDouble / (nQ * 10.0)
      }
      val (interleaved, batched) = (recallOf(streamed), recallOf(batch))
      assert(interleaved >= batched - 0.1 && interleaved >= 0.8,
        s"interleaved maintenance recall $interleaved vs batch $batched")
    } finally {
      Scratch.deleteRecursively(new java.io.File(streamed))
      Scratch.deleteRecursively(new java.io.File(deltaDir))
      Scratch.deleteRecursively(new java.io.File(batch))
    }
  }

  test("replayed trigger is exactly-once: the batch tag skips the re-publish (ADVICE r13)") {
    val emb = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
    val cut = emb.selectExpr("percentile(vec_id, 0.8)").head().getDouble(0).toLong
    val base = emb.filter($"vec_id" <= cut)
    val delta = emb.filter($"vec_id" > cut).localCheckpoint()
    val path = tmp("idx_maint_replay")
    try {
      IvfIndex.save(IvfIndex.build(base, "vec_id", "embedding",
        nCentroids = 8, iters = 1), path)
      val kind = IndexMaintStream.IvfKind()
      // first delivery publishes…
      assert(IndexMaintStream.publishOnce(spark, path, kind, delta, "b0"))
      val afterFirst = IvfIndex.load(spark, path, "vec_id", "embedding")
        .corpus.count()
      val genAfterFirst = graft.tools.Artifacts.requireGen(spark, path)
      // …the at-least-once REPLAY of the same trigger is a no-op
      assert(!IndexMaintStream.publishOnce(spark, path, kind, delta, "b0"))
      assert(graft.tools.Artifacts.requireGen(spark, path) == genAfterFirst)
      assert(IvfIndex.load(spark, path, "vec_id", "embedding")
        .corpus.count() == afterFirst, "replay duplicated Δ rows")
      // the NEXT trigger (new tag) publishes again
      assert(IndexMaintStream.publishOnce(spark, path, kind,
        delta.limit(0), "b1"))
      assert(graft.tools.Artifacts.requireGen(spark, path) != genAfterFirst)
    } finally Scratch.deleteRecursively(new java.io.File(path))
  }

  test("tombstones survive maintenance publishes: a takedown stays deleted across stream appends") {
    val emb = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding")
    val cut = emb.selectExpr("percentile(vec_id, 0.8)").head().getDouble(0).toLong
    val base = emb.filter($"vec_id" <= cut)
    val delta = emb.filter($"vec_id" > cut)
    val path = tmp("idx_maint_tomb")
    val deltaDir = tmp("idx_maint_tomb_delta")
    try {
      IvfIndex.save(IvfIndex.build(base, "vec_id", "embedding",
        nCentroids = 8, iters = 1), path)
      val victim = base.select($"vec_id").as[Long].head()
      IvfIndex.delete(spark, path, Seq(victim).toDF("vec_id"), "vec_id")
      delta.repartition(2).write.parquet(s"$deltaDir/embeddings.parquet")
      IndexMaintStream.appendFile(spark, deltaDir, path,
        maxFilesPerTrigger = Some(1))
      val served = IvfIndex.load(spark, path, "vec_id", "embedding")
        .corpus.select($"vec_id").as[Long].collect().toSet
      assert(!served.contains(victim), "takedown resurrected by maintenance publish")
      assert(delta.select($"vec_id").as[Long].collect().toSet.subsetOf(served))
    } finally {
      Scratch.deleteRecursively(new java.io.File(path))
      Scratch.deleteRecursively(new java.io.File(deltaDir))
    }
  }
}
