package graft.similarity

import graft.SparkTestBase

class PqIndexSpec extends SparkTestBase {

  /** Physical-layout assertions address the CURRENT COMMITTED
    * generation (save publishes by commit marker since r12). */
  /** Parquet files across the current generation's codes pool dirs,
    * keyed dir-qualified (pool tokens are random — same-named part
    * files in different dirs must not collide). */
  private def codesFiles(root: String): Map[String, Long] =
    graft.tools.Artifacts.dirsOf(spark, root,
      graft.tools.Artifacts.requireGen(spark, root), "codes_dirs").flatMap { d =>
      val local = graft.tools.Artifacts.localPath(d)
      graft.tools.Scratch.listParquetFiles(local)
        .map { case (k, v) => (s"$d/$k", v) }
    }.toMap

  private def gen(root: String): String = {
    // currentGen returns a fully-qualified URI (file:/…); the file
    // helpers here want the plain filesystem path
    val g = graft.tools.Artifacts.currentGen(spark, root).get
    new java.net.URI(g).getPath
  }
  import spark.implicits._

  private lazy val emb = graft.Tables.embeddings(spark, sf)
    .select($"vec_id", $"embedding")

  test("codebook training is deterministic; codes are m ints in [0, k)") {
    val cb1 = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 1)
    val cb2 = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 1)
    assert(cb1.m == 8 && cb1.k == 16 && cb1.subDim == 8) // 64-dim corpus
    assert(cb1.centroids.flatten.flatten.toSeq == cb2.centroids.flatten.flatten.toSeq)
    val codes = PqIndex.encode(cb1, emb, "vec_id", "embedding")
      .select("codes").as[Seq[Int]].collect()
    assert(codes.nonEmpty)
    assert(codes.forall(cs => cs.length == 8 && cs.forall(c => c >= 0 && c < 16)))
    // quantization actually discriminates: not every vector on one code word
    assert(codes.map(_.toList).distinct.length > 1)
  }

  test("ADC + exact re-rank: final cosines are EXACT and recall@10 >= 0.8") {
    val q = emb.filter($"vec_id" === 0).select("embedding").as[Seq[Float]].head()
    val cb = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
    val codes = PqIndex.encode(cb, emb, "vec_id", "embedding")
    val pq = PqIndex.topK(cb, codes, emb, "vec_id", "embedding", q, k = 10, c = 50)
      .as[(Long, Double)].collect().toSeq
    val brute = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 10)
      .as[(Long, Double)].collect().toSeq
    val bruteMap = Similarity.bruteForceTopK(emb, "vec_id", "embedding", q, 1000)
      .as[(Long, Double)].collect().toMap
    // every returned cosine is the EXACT cosine (re-rank, not ADC estimate)
    pq.foreach { case (id, cos) => assert(cos == bruteMap(id)) }
    val recall = pq.map(_._1).toSet.intersect(brute.map(_._1).toSet).size / 10.0
    assert(recall >= 0.8, s"recall@10 = $recall")
    // the query vector itself survives quantization to rank 1
    assert(pq.head._1 == 0L)
  }

  test("save/load round-trips the artifact; append encodes only Δ at the frozen codebook") {
    val cut = emb.selectExpr("percentile(vec_id, 0.8)").head().getDouble(0).toLong
    val base = emb.filter($"vec_id" <= cut)
    val delta = emb.filter($"vec_id" > cut)
    assert(delta.count() > 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_artifact").toString
    try {
      val cb = PqIndex.train(base, "vec_id", "embedding", m = 8, k = 16, iters = 1)
      PqIndex.save(cb, PqIndex.encode(cb, base, "vec_id", "embedding"), dir)
      val (cbLoaded, _) = PqIndex.load(spark, dir)
      assert(cbLoaded.subDim == cb.subDim &&
        cbLoaded.centroids.flatten.flatten.toSeq ==
          cb.centroids.flatten.flatten.toSeq)

      def files() = codesFiles(dir)
      val before = files()
      PqIndex.appendPublish(spark, dir, delta, "vec_id", "embedding")
      val after = files()
      // pre-existing code files untouched: append never re-encodes
      before.foreach { case (f, sz) =>
        assert(after.get(f).contains(sz), s"append rewrote $f")
      }
      assert((after.keySet -- before.keySet).nonEmpty)

      // encode is a pure function of (vector, codebook), so the
      // appended codes table equals a full re-encode of base ∪ Δ at
      // the same codebook — row for row
      val (_, codesAppended) = PqIndex.load(spark, dir)
      val full = PqIndex.encode(cb, emb, "vec_id", "embedding")
      val a = codesAppended.select($"vec_id", $"codes").as[(Long, Seq[Int])]
        .collect().toMap
      val b = full.select($"vec_id", $"codes").as[(Long, Seq[Int])]
        .collect().toMap
      assert(a == b)

      // and the serving path over the appended artifact surfaces an
      // appended vector: its own exact-dup query ranks it first
      val qd = delta.orderBy($"vec_id").select("embedding").as[Seq[Float]].head()
      val hit = PqIndex.topK(cbLoaded, codesAppended, emb, "vec_id",
        "embedding", qd, k = 1, c = 50).as[(Long, Double)].collect().head
      assert(hit._2 > 0.9999)
    } finally graft.tools.Scratch.deleteRecursively(new java.io.File(dir))
  }

  test("delete tombstones: layout untouched, serve equals re-encode without the ids, compact folds in") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_delete").toString
    try {
      val cb = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 1)
      PqIndex.save(cb, PqIndex.encode(cb, emb, "vec_id", "embedding"), dir)
      val q = emb.filter($"vec_id" === 0).select("embedding").as[Seq[Float]].head()
      def serve(): Seq[(Long, Double)] = {
        val (cbL, codesL) = PqIndex.load(spark, dir)
        PqIndex.topK(cbL, codesL, emb, "vec_id", "embedding", q, k = 10, c = 50)
          .as[(Long, Double)].collect().toSeq
      }
      def codeFiles() = codesFiles(dir)
      val before = codeFiles()
      val full = serve()
      assert(full.head._1 == 0L, "self-query should rank itself first")

      // retract the query's own vector plus its runner-up
      val dead = full.take(2).map(_._1)
      PqIndex.delete(spark, dir, dead.toDF("vec_id"), "vec_id")
      assert(codeFiles() == before, "delete touched codes")
      val after = serve()
      assert(after.map(_._1).intersect(dead).isEmpty,
        "tombstoned ids still served")
      // encode is per-row pure, so delete-then-serve ≡ a re-encode
      // without the ids at the SAME (frozen) codebook
      val kept = emb.filter(!$"vec_id".isin(dead: _*))
      val expect = PqIndex.topK(cb,
        PqIndex.encode(cb, kept, "vec_id", "embedding"),
        emb, "vec_id", "embedding", q, k = 10, c = 50)
        .as[(Long, Double)].collect().toSeq
      assert(after == expect)
      assert(after != full, "delete changed nothing — vacuous test")

      PqIndex.compact(spark, dir)
      assert(!new java.io.File(s"${gen(dir)}/tombstones").exists, "sidecar not dropped")
      assert(codeFiles() != before, "compact did not rewrite")
      assert(serve() == after)
    } finally graft.tools.Scratch.deleteRecursively(new java.io.File(dir))
  }

  test("codeUsage is m*k-bounded and exhaustive; skewRatio climbs under drifted appends") {
    val cb = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 1)
    val codes = PqIndex.encode(cb, emb, "vec_id", "embedding")
    val usage = PqIndex.codeUsage(codes).collect()
    assert(usage.length <= 8 * 16, "usage must be code-domain-sized, not corpus-sized")
    assert(usage.map(_.getLong(2)).sum == codes.count() * 8,
      "every row contributes exactly one code per subspace")
    val base = PqIndex.skewRatio(cb, codes)
    assert(base >= 1.0, s"max/mean cannot be < 1, got $base")

    // drifted Δ at the FROZEN codebook: constant vectors all quantize
    // to one code per subspace — the hot-code collapse the observable
    // exists to flag before ADC resolution degrades
    val n = emb.count()
    val drifted = (0L until 3 * n).map(i => (100000L + i, Seq.fill(64)(9.0f)))
      .toDF("vec_id", "embedding")
    val driftedCodes = codes.union(
      PqIndex.encode(cb, drifted, "vec_id", "embedding"))
    val skew = PqIndex.skewRatio(cb, driftedCodes)
    assert(skew > base * 2,
      s"hot-code pileup invisible: base=$base drifted=$skew")

    // empty codes table: defined, zero (not NaN / NPE)
    assert(PqIndex.skewRatio(cb,
      codes.filter($"vec_id" < 0)) == 0.0)
  }

  test("native graft_adc_score ≡ the r12 closure UDF bit-for-bit; no UDF in the serve plan") {
    import org.apache.spark.sql.functions.{col, udf}
    val q = emb.filter($"vec_id" === 3).select("embedding").as[Seq[Float]].head()
    val cb = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 1)
    val codes = PqIndex.encode(cb, emb, "vec_id", "embedding").cache()
    try {
      // the exact r12 scorer, reconstructed: per-row closure over the
      // driver-built LUTs — the behavior contract the kernel must hit
      val dotLut = Array.tabulate(cb.m, cb.k) { (s, c) =>
        var d = 0.0; var j = 0
        while (j < cb.subDim) {
          d += q(s * cb.subDim + j).toDouble * cb.centroids(s)(c)(j); j += 1
        }
        d
      }
      val nrmSqLut = Array.tabulate(cb.m, cb.k) { (s, c) =>
        var n = 0.0; var j = 0
        while (j < cb.subDim) {
          val x = cb.centroids(s)(c)(j); n += x * x; j += 1
        }
        n
      }
      val qn = math.sqrt(q.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      val scoreU = udf { cs: Seq[Int] =>
        var d = 0.0; var n = 0.0; var s = 0
        while (s < cs.length) {
          d += dotLut(s)(cs(s)); n += nrmSqLut(s)(cs(s)); s += 1
        }
        val denom = qn * math.sqrt(n)
        if (denom == 0.0) None else Some(d / denom)
      }
      val viaUdf = codes.select($"vec_id", scoreU(col("codes")).as("adc"))
        .as[(Long, Option[Double])].collect().toMap
      val viaKernel = PqIndex.adcScores(cb, codes, "vec_id", q)
        .as[(Long, Option[Double])].collect().toMap
      assert(viaKernel.nonEmpty && viaKernel.keySet == viaUdf.keySet)
      viaKernel.foreach { case (id, k) =>
        // bit equality, not tolerance: same fold order by construction
        assert(k.map(java.lang.Double.doubleToLongBits) ==
          viaUdf(id).map(java.lang.Double.doubleToLongBits), s"id $id")
      }
      // the scan plan carries no Scala UDF: the kernel runs inside
      // whole-stage codegen (the point of VERDICT r12 next-round #2)
      val plan = PqIndex.adcScores(cb, codes, "vec_id", q)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("UDF"), plan)
      // the `*(n)` prefix marks a whole-stage-codegen'd operator
      assert(plan.linesIterator.next().startsWith("*("), plan)
    } finally { codes.unpersist(); () }
  }

  test("native kernel null contract: malformed codes and zero query → null, never a throw") {
    val codes = Seq(
      (1L, Seq(0, 1)), // fine
      (2L, Seq(0, 99)), // code out of LUT range
      (3L, Seq(0, 1, 2)) // more subspaces than the LUT has
    ).toDF("vec_id", "codes")
    val lut = Seq(Seq(1.0, 2.0), Seq(3.0, 4.0))
    val nrm = Seq(Seq(1.0, 1.0), Seq(1.0, 1.0))
    import org.apache.spark.sql.functions.{lit, typedlit}
    val scored = codes.select($"vec_id",
      graft.functions.VectorOps.adcScore($"codes",
        typedlit(lut), typedlit(nrm), lit(2.0)).as("adc"))
      .as[(Long, Option[Double])].collect().toMap
    assert(scored(1L).contains((1.0 + 4.0) / (2.0 * math.sqrt(2.0))))
    assert(scored(2L).isEmpty && scored(3L).isEmpty)
    // zero query norm → null
    val zeroQ = codes.filter($"vec_id" === 1L).select($"vec_id",
      graft.functions.VectorOps.adcScore($"codes",
        typedlit(lut), typedlit(nrm), lit(0.0)).as("adc"))
      .as[(Long, Option[Double])].collect()
    assert(zeroQ.head._2.isEmpty)
  }

  test("plan shape: candidate cut heaps over codes; re-rank is a broadcast semi join") {
    val q = emb.filter($"vec_id" === 0).select("embedding").as[Seq[Float]].head()
    val cb = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 0)
    val codes = PqIndex.encode(cb, emb, "vec_id", "embedding")
    val plan = PqIndex.topK(cb, codes, emb, "vec_id", "embedding", q, k = 10, c = 50)
      .queryExecution.executedPlan.toString
    // candidate selection + final ranking are per-partition heaps —
    // a global Sort of the corpus would be the scale bug
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    // C-row candidate list broadcasts into the corpus scan
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan.take(800))
    assert(!plan.contains("CartesianProduct"))
  }

  test("guards: dim must split into m subspaces; query dim must match codebook") {
    intercept[IllegalArgumentException] {
      PqIndex.train(emb, "vec_id", "embedding", m = 7) // 64 % 7 != 0
    }
    val cb = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 0)
    val codes = PqIndex.encode(cb, emb, "vec_id", "embedding")
    intercept[IllegalArgumentException] {
      PqIndex.adcScores(cb, codes, "vec_id", Seq(1f, 2f, 3f))
    }
  }

  test("rebuild publishes atomically: in-flight generation invisible; committed rebuild swaps") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pq_gen").toString
    try {
      val v1 = emb.filter($"vec_id" < 30)
      val v2 = emb.filter($"vec_id" >= 30 && $"vec_id" < 70)
      val cb1 = PqIndex.train(v1, "vec_id", "embedding", m = 8, k = 4, iters = 1)
      PqIndex.save(cb1, PqIndex.encode(cb1, v1, "vec_id", "embedding"), dir)
      val g1 = gen(dir)
      def codeIds() = PqIndex.load(spark, dir)._2
        .select("vec_id").as[Long].collect().toSet
      val ids1 = v1.select("vec_id").as[Long].collect().toSet
      assert(codeIds() == ids1)
      // in-flight rebuild died mid-write: codes present, no marker
      v2.limit(3).selectExpr("vec_id", "array(1, 2) AS codes")
        .write.parquet(s"$dir/g00000001/codes")
      assert(gen(dir) == g1 && codeIds() == ids1)
      // completed rebuild swaps cleanly
      val cb2 = PqIndex.train(v2, "vec_id", "embedding", m = 8, k = 4, iters = 1)
      PqIndex.save(cb2, PqIndex.encode(cb2, v2, "vec_id", "embedding"), dir)
      assert(codeIds() == v2.select("vec_id").as[Long].collect().toSet)
      assert(gen(dir).endsWith("g00000002"))
    } finally graft.tools.Scratch.deleteRecursively(new java.io.File(dir))
  }
}
