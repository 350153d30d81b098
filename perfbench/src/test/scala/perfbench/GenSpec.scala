package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** The generators are the benchmark's only source of inputs: the same seed
  * must give byte-identical inputs, another seed other inputs, and the
  * ground truth must describe what was generated. Run with `sbt test` in
  * this directory. */
class GenSpec extends AnyFunSuite {

  /** Digest of everything a generator produced — the byte-identity check. */
  private def digest(parts: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().map(b => f"$b%02x").mkString
  }

  private def ingestDigest(seed: Long): String =
    digest(Gen.flowfiles(seed, 6, 1, 50 * 1024, 256 * 1024).iterator
      .flatMap(f => Iterator(f.bytes, f.schema.getBytes(UTF_8),
        s"${f.nValid}/${f.nInvalid}".getBytes(UTF_8))))

  private def serveDigest(seed: Long): String = {
    val docs = Gen.zipfCorpus(seed, "serve-corpus", 500, 3000, 40, 120)
    val qs = Gen.queryBatches(seed, docs, 4, 8, 0.10)
    digest(docs.iterator.map(d => s"${d.id} ${d.text}\n".getBytes(UTF_8)) ++
      qs.iterator.map(_.toString.getBytes(UTF_8)))
  }

  private def curateDigest(seed: Long): String = {
    val c = Gen.nearDupCorpus(seed, 400, 0.2, 0.03, 2000, 40, 120)
    digest(c.docs.iterator.map(d => s"${d.id} ${d.text}\n".getBytes(UTF_8)) ++
      Iterator(c.planted.toString.getBytes(UTF_8)))
  }

  test("the same seed gives byte-identical inputs; another seed does not") {
    for (d <- Seq(ingestDigest _, serveDigest _, curateDigest _)) {
      assert(d(7) == d(7))
      assert(d(7) != d(8))
    }
  }

  test("flowfile ground truth counts every line") {
    val ff = Gen.flowfile(3, "small", 0, 50 * 1024)
    val lines = new String(ff.bytes, UTF_8).split("\n")
    assert(lines.length == ff.nValid + ff.nInvalid)
    assert(lines.count(_.startsWith("{\"eventId\"")) == ff.nValid)
    assert(ff.nInvalid > 0)
  }

  test("queries draw 2-4 distinct terms with df at most 10% of the docs") {
    val docs = Gen.zipfCorpus(1, "serve-corpus", 500, 3000, 40, 120)
    val df = docs.flatMap(_.text.split(" ").distinct).groupBy(identity).map {
      case (t, xs) => t -> xs.size
    }
    for (b <- Gen.queryBatches(1, docs, 4, 8, 0.10); (_, q) <- b.rows.groupBy(_._1)) {
      assert(q.size >= 2 && q.size <= 4)
      assert(q.map(_._3).distinct.size == q.size)
      assert(q.forall(r => df(r._3) <= 50))
    }
  }

  test("planted pairs carry their true Jaccard") {
    val c = Gen.nearDupCorpus(2, 400, 0.2, 0.03, 2000, 40, 120)
    val text = c.docs.map(d => d.id -> d.text).toMap
    assert(c.planted.nonEmpty)
    c.planted.foreach { case (a, b, j) =>
      assert(j == Gen.jaccard(Gen.tokenSet(text(a)), Gen.tokenSet(text(b))))
    }
    assert(c.planted.count(_._3 >= 0.8) > c.planted.size / 2)
  }
}
