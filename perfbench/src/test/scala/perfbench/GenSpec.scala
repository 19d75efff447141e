package perfbench

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def tmp(): File = {
    val base = new File("target/test-tmp").getAbsoluteFile
    base.mkdirs()
    Files.createTempDirectory(base.toPath, "gen").toFile
  }

  /** Relative path → SHA-256 of every file under `dir`. */
  private def digest(dir: File): Map[String, String] = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    files(dir).map { f =>
      dir.toPath.relativize(f.toPath).toString ->
        MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(f.toPath))
          .map("%02x".format(_)).mkString
    }.toMap
  }

  private def generate(dir: File, seed: Long): Unit = {
    Gen.docx(new File(dir, "docx"), seed, 4, 5)
    Gen.writeCorpus(new File(dir, "corpus"), Gen.corpus(seed, 400))
    Gen.writeVectors(new File(dir, "vectors"), Gen.vectors(seed, 300, 8, 4, 20, 5, 10))
  }

  test("the same seed writes byte-identical inputs and manifests") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    generate(a, 7); generate(b, 7); generate(c, 8)
    val da = digest(a)
    assert(da.keySet.exists(_.endsWith("manifest.tsv")))
    assert(da.keySet.exists(_.endsWith("truth.tsv")))
    assert(da.count(_._1.endsWith(".docx")) == 4)
    assert(da == digest(b))
    assert(da != digest(c))
    Seq(a, b, c).foreach(Workload.deleteRecursively)
  }

  test("the corpus plants its duplicates, near-duplicates and contamination") {
    val c = Gen.corpus(3, 1000)
    val kinds = c.truth.groupBy(_.kind).map { case (k, ts) => k -> ts.size }
    assert(kinds("exact_dup") == 100 && kinds("near_dup") == 100 && kinds("contaminated") == 20)
    val text = c.docs.map(d => d._1 -> d._3).toMap
    c.truth.filter(_.kind == "exact_dup").foreach(t =>
      assert(Gen.normalize(text(t.id)) == Gen.normalize(text(t.of))))
    c.truth.filter(_.kind == "near_dup").foreach { t =>
      assert(t.of < t.id)
      assert(t.jaccard >= 0.7 && t.jaccard < 1.0, s"near-dup ${t.id} at jaccard ${t.jaccard}")
    }
    val eval = c.eval.toMap
    c.truth.filter(_.kind == "contaminated").foreach(t => assert(text(t.id).endsWith(eval(t.of))))
  }

  test("append ids follow the base; deletes are distinct base ids") {
    val v = Gen.vectors(1, 50, 4, 2, 10, 6, 5)
    assert(v.appendIds == (50 to 59))
    assert(v.deletes.distinct.length == 6 && v.deletes.forall(_ < 50))
  }
}
