package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

/** Seeded input generators. Every input the benchmark feeds the library
  * comes from here, and each generator returns its own ground truth next
  * to the bytes. The same seed always gives byte-identical inputs
  * (`GenSpec` checks it); nothing here touches Spark.
  */
object Gen {

  /** An independent, reproducible random stream per (seed, purpose, index). */
  def rng(seed: Long, stream: String, i: Int = 0): scala.util.Random =
    new scala.util.Random(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong * 31 + i)

  /** Zipf(s) sampler over ranks 0 until n (rank 0 most frequent). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def draw(r: scala.util.Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** A pronounceable lowercase word for vocabulary rank `i`; distinct
    * ranks give distinct words, and words hold only `[a-z]`, so the
    * space tokenizer and SSJoin's `[^a-z0-9]+` tokenizer agree. */
  def word(i: Int): String = {
    val cons = "bcdfghjklmnprstvz"; val vow = "aeiou"
    val sb = new StringBuilder
    var x = i
    do {
      sb += cons(x % cons.length); x /= cons.length
      sb += vow(x % vow.length); x /= vow.length
    } while (x > 0)
    sb.toString
  }

  // ---------------------------------------------------------------- ingest

  /** One NiFi-style flowfile of provenance events (FIXTURES.md §1 shape).
    * `schema` is the expected inferred column set after sanitization, in
    * [[Canon]] form; `nValid`/`nInvalid` the routed line counts. */
  final case class Flowfile(name: String, bytes: Array[Byte], nValid: Long,
                            nInvalid: Long, schema: String)

  private val EventTypes = Vector("CREATE", "RECEIVE", "SEND", "DROP",
    "ATTRIBUTES_MODIFIED", "CONTENT_MODIFIED", "ROUTE", "FORK", "JOIN")
  private val ComponentTypes = Vector("PutHDFS", "ConvertRecord",
    "UpdateAttribute", "PublishKafka", "HiveSchemaGenerator", "ListenHTTP")
  /** Dotted NiFi attribute names; none collide after `[.-] → _`. */
  private val AttrKeys = Vector("server.timezone", "destination.table.name",
    "parent.hdfs.location", "mime.type", "kafka.partition", "kafka.offset",
    "kafka.topic", "hive.ddl", "record.count", "file.size", "path",
    "filename", "uuid", "schema.name", "avro.schema.version",
    "http.remote.host", "http.request.uri", "s3.bucket", "s3.etag",
    "fragment.index", "fragment.count", "fragment.identifier",
    "merge.bin.age", "executesql.row.count", "query.duration",
    "retry.count", "error.message", "priority", "tenant.id",
    "lineage.start.date", "source.system", "target.system", "batch.id",
    "sftp.remote.host", "jms.message.id", "mail.subject",
    "split.parent.uuid", "segment.original.filename", "user.agent",
    "content.encoding")
  private val Invalid = Vector("ThisIsNotJSON", "[1, 2, 3]", "null",
    "{\"eventId\": \"truncated", "eventType=SEND;componentId=42")
  private val StringFields = Vector("eventId", "eventType", "timestamp",
    "componentId", "componentType", "componentName", "processGroupId",
    "processGroupName", "entityId", "entityType", "actorHostname",
    "contentURI", "platform", "application")
  private val NumberFields = Vector("timestampMillis", "durationMillis",
    "lineageStart", "entitySize")

  private def q(s: String): String = "\"" + s + "\""

  /** A flowfile of about `targetBytes`, ~3% non-JSON lines. */
  def flowfile(seed: Long, kind: String, i: Int, targetBytes: Int): Flowfile = {
    val r = rng(seed, "flowfile-" + kind, i)
    val sb = new java.lang.StringBuilder(targetBytes + 4096)
    var nValid = 0L; var nInvalid = 0L
    val attrSeen = Array(mutable.LinkedHashSet.empty[String],
      mutable.LinkedHashSet.empty[String])
    var sawDetails = false; var sawOrdinalNumber = false
    var sawOrdinalArray = false
    var rec = 0
    while (sb.length < targetBytes) {
      if (rec > 0 && r.nextDouble() < 0.03) {
        sb.append(Invalid(r.nextInt(Invalid.size))).append('\n'); nInvalid += 1
      } else {
        val f = mutable.ArrayBuffer.empty[String]
        StringFields.foreach { k =>
          val v = k match {
            case "eventType" => q(EventTypes(r.nextInt(EventTypes.size)))
            case "componentType" =>
              q(ComponentTypes(r.nextInt(ComponentTypes.size)))
            // null-identity merge: nullable after the first record
            case "processGroupId" | "processGroupName"
                if rec > 0 && r.nextDouble() < 0.2 => "null"
            case _ => q(f"$k%s-${r.nextInt(1 << 30)}%08x")
          }
          f += q(k) + ": " + v
        }
        NumberFields.foreach(k => f += q(k) + ": " + r.nextInt(1 << 30))
        // number-vs-array conflict: always a number on the first record
        if (rec == 0 || r.nextDouble() < 0.9) {
          f += q("eventOrdinal") + ": " + r.nextInt(100000); sawOrdinalNumber = true
        } else {
          f += q("eventOrdinal") + ": [" + r.nextInt(1000) + ", " + r.nextInt(1000) + "]"
          sawOrdinalArray = true
        }
        if (r.nextDouble() < 0.3) {
          f += q("details") + ": " + q("detail " + r.nextInt(1000)); sawDetails = true
        }
        Seq("updatedAttributes", "previousAttributes").zipWithIndex.foreach {
          case (m, mi) =>
            val keys = (0 until 3 + r.nextInt(6))
              .map(_ => AttrKeys(r.nextInt(AttrKeys.size))).distinct
            keys.foreach(attrSeen(mi) += _)
            f += q(m) + ": {" + keys.map(k =>
              q(k) + ": " + q("v" + r.nextInt(100000))).mkString(", ") + "}"
        }
        f += q("parentIds") + ": []"
        f += q("childIds") + ": " + (if (r.nextBoolean()) "[]"
          else "[" + q("c" + r.nextInt(1000)) + "]")
        sb.append(f.mkString("{", ", ", "}")).append('\n'); nValid += 1
      }
      rec += 1
    }
    val cols = mutable.ArrayBuffer.empty[(String, String)]
    StringFields.foreach(k => cols += k -> "string")
    NumberFields.foreach(k => cols += k -> "string")
    // number ⊔ array widens to STRING; numbers alone are STRING too
    cols += "eventOrdinal" -> (if (sawOrdinalNumber || !sawOrdinalArray) "string"
      else "array<string>")
    if (sawDetails) cols += "details" -> "string"
    Seq("updatedAttributes", "previousAttributes").zipWithIndex.foreach {
      case (m, mi) => cols += m -> Canon.struct(
        attrSeen(mi).toSeq.map(k => k.replaceAll("[.-]", "_") -> "string"))
    }
    cols += "parentIds" -> "array<string>"
    cols += "childIds" -> "array<string>"
    Flowfile(f"$kind%s_$i%04d", sb.toString.getBytes(UTF_8), nValid, nInvalid,
      Canon.struct(cols.toSeq))
  }

  /** The ingest input set: `nSmall` ~`smallBytes` flowfiles (per-file
    * overhead bound) and `nBulk` ~`bulkBytes` flowfiles (parse bound). */
  def flowfiles(seed: Long, nSmall: Int, nBulk: Int, smallBytes: Int,
                bulkBytes: Int): Vector[Flowfile] =
    (0 until nSmall).map(i => flowfile(seed, "small", i, smallBytes)).toVector ++
      (0 until nBulk).map(i => flowfile(seed, "bulk", i, bulkBytes))

  // ----------------------------------------------------------------- serve

  final case class Doc(id: Long, text: String)

  /** A Zipf(1.0) corpus over a `vocab`-word vocabulary, doc lengths uniform
    * in [minLen, maxLen]. Ids start at `firstId`. */
  def zipfCorpus(seed: Long, stream: String, nDocs: Int, vocab: Int,
                 minLen: Int, maxLen: Int, firstId: Long = 0L): Vector[Doc] = {
    val z = new Zipf(vocab, 1.0)
    val r = rng(seed, stream)
    Vector.tabulate(nDocs) { d =>
      val n = minLen + r.nextInt(maxLen - minLen + 1)
      Doc(firstId + d, Iterator.fill(n)(word(z.draw(r))).mkString(" "))
    }
  }

  /** A batch of queries `(query_id, qpos, term)`: 2–4 distinct terms per
    * query, drawn by Zipf over the terms whose df is at most `maxDfShare`
    * of the docs (ranked by df, most frequent first). */
  final case class Batch(id: Int, rows: Vector[(Long, Int, String)])

  def queryBatches(seed: Long, docs: Seq[Doc], nBatches: Int, perBatch: Int,
                   maxDfShare: Double): Vector[Batch] = {
    val df = mutable.HashMap.empty[String, Int]
    docs.foreach(d => d.text.split(" ").distinct.foreach(t =>
      df(t) = df.getOrElse(t, 0) + 1))
    val eligible = df.toVector.filter(_._2 <= maxDfShare * docs.size)
      .sortBy { case (t, n) => (-n, t) }.map(_._1)
    val z = new Zipf(eligible.size, 1.0)
    val r = rng(seed, "queries")
    Vector.tabulate(nBatches) { b =>
      Batch(b, (0 until perBatch).toVector.flatMap { qi =>
        val qid = b.toLong * perBatch + qi
        val n = 2 + r.nextInt(3)
        val terms = mutable.LinkedHashSet.empty[String]
        while (terms.size < n) terms += eligible(z.draw(r))
        terms.toVector.zipWithIndex.map { case (t, p) => (qid, p, t) }
      })
    }
  }

  // ---------------------------------------------------------------- curate

  /** Near-dup corpus: `nBase` Zipf docs, then `plantedShare` of the total
    * as near-duplicates of a random base doc, each token replaced with
    * probability `editRate`. `planted` holds every pair inside a planted
    * cluster (base and its copies) with its true token-set Jaccard. */
  final case class Curated(docs: Vector[Doc], planted: Vector[(Long, Long, Double)])

  def nearDupCorpus(seed: Long, nDocs: Int, plantedShare: Double,
                    editRate: Double, vocab: Int, minLen: Int,
                    maxLen: Int): Curated = {
    val nDup = math.round(nDocs * plantedShare).toInt
    val nBase = nDocs - nDup
    val base = zipfCorpus(seed, "curate-base", nBase, vocab, minLen, maxLen)
    val z = new Zipf(vocab, 1.0)
    val r = rng(seed, "curate-dups")
    val copies = Vector.tabulate(nDup) { i =>
      val src = r.nextInt(nBase)
      val toks = base(src).text.split(" ").map(t =>
        if (r.nextDouble() < editRate) word(z.draw(r)) else t)
      (src.toLong, Doc(nBase.toLong + i, toks.mkString(" ")))
    }
    val docs = base ++ copies.map(_._2)
    val clusters = copies.groupBy(_._1).toVector.sortBy(_._1).map {
      case (src, cs) => (src +: cs.map(_._2.id)).sorted
    }
    val sets = docs.map(d => d.id -> tokenSet(d.text)).toMap
    val planted = for {
      c <- clusters; i <- c.indices; j <- i + 1 until c.size
    } yield (c(i), c(j), jaccard(sets(c(i)), sets(c(j))))
    Curated(docs, planted)
  }

  /** SSJoin's token set: distinct lowercased `[a-z0-9]+` runs. */
  def tokenSet(text: String): Set[String] =
    text.toLowerCase.split("[^a-z0-9]+").iterator.filter(_.nonEmpty).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val ov = a.count(b)
    ov.toDouble / (a.size + b.size - ov).toDouble
  }
}

/** Canonical, order-insensitive text form of a (sanitized) schema, used to
  * compare the inferred columns with the generator's ground truth. */
object Canon {
  import org.apache.spark.sql.types._

  def struct(fields: Seq[(String, String)]): String =
    fields.sortBy(_._1).map { case (n, t) => s"$n:$t" }.mkString("struct<", ",", ">")

  def of(dt: DataType): String = dt match {
    case StructType(fs) => struct(fs.toSeq.map(f => f.name -> of(f.dataType)))
    case ArrayType(e, _) => s"array<${of(e)}>"
    case MapType(k, v, _) => s"map<${of(k)},${of(v)}>"
    case other => other.simpleString
  }
}
