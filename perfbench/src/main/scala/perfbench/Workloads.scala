package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.catalog.HiveMode
import graft.operators.{Dedup, Retrieval, SSJoin, SpanDedup}
import graft.schema.Ddl
import graft.sources.JsonIngest

/** The per-layer metric names the traced run prints (BENCHMARK.json's
  * `per_layer`), with units. A layer the workload never calls reads 0. */
object PerLayer {
  val kinds = Seq("small", "bulk", "bm25", "ql", "sdm", "append", "compact", "pass")
  val names: Seq[(String, String)] = Seq(
    "schema.infer_s" -> "s", "schema.lines_per_s" -> "1/s", "schema.ddl_ms" -> "ms",
    "schema.columns" -> "count",
    "sources.route_s" -> "s", "sources.lines" -> "count", "sources.invalid_lines" -> "count",
    "catalog.register_s" -> "s", "catalog.session_init_s" -> "s",
    "hive.readback_s" -> "s", "hive.rows_read" -> "count",
    "retrieval.write_index_s" -> "s", "retrieval.append_s" -> "s",
    "retrieval.compact_s" -> "s",
    "ssjoin.candidates" -> "count", "ssjoin.pairs" -> "count",
    "ssjoin.pairs_per_candidate" -> "ratio",
    "dedup.candidate_pairs" -> "count", "dedup.planted_recall" -> "ratio",
    "spans.gram_occurrences" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_only_s" -> "s", "spark.executor_run_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.input_mb" -> "MB",
    "spark.codegen_compiles" -> "count", "spark.codegen_compile_ms" -> "ms",
    "spark.failed_tasks" -> "count") ++
    kinds.flatMap(k => Seq(s"spark.jobs.$k" -> "count", s"spark.stages.$k" -> "count",
      s"spark.tasks.$k" -> "count", s"spark.driver_only_s.$k" -> "s")) ++
    Seq("trace.p50_s" -> "s", "trace.settle_ms" -> "ms")
}

/** `ingest`: the paper's pipeline per NiFi-style flowfile — read, infer
  * with routing counts, render the Hive DDL, DROP + CREATE in the Hive
  * catalog, route valid lines to the table location and invalid ones to
  * quarantine, read the table back by name. */
final class Ingest(b: Bench) {
  private val spark = b.spark
  private val serde = classOf[graft.hive.JsonLineSerDe].getName
  private val SmallBytes = 50 * 1024; private val BulkBytes = 16 * 1024 * 1024
  // A round is one bulk flowfile, then SmallPerRound small ones (why 5:
  // README, "Operation mix"); the window runs at least MinRounds. The input
  // set is exactly what those rounds consume; a longer window cycles.
  private val SmallPerRound = 5; private val MinRounds = 2

  private var lines = 0L; private var invalid = 0L; private var rows = 0L
  private var columns = 0L

  final case class Out(cols: String, nValid: Long, nInvalid: Long, readBack: Long)

  private def pipeline(hs: SparkSession, path: String, table: String): Out = {
    val loc = s"${b.work}/tables/$table"
    val lns = b.timeLayer("sources.read_s")(JsonIngest.readLines(spark, path))
    val st = b.timeLayer("schema.infer_s")(JsonIngest.inferRoutedStats(lns, "value"))
    val schema = st.schema.getOrElse(sys.error(s"$table: no schema inferred"))
    val ddl = b.timeLayer("schema.ddl_s")(Ddl.createStatement(schema, table, loc, serde))
    b.timeLayer("catalog.register_s") {
      hs.sql(s"DROP TABLE IF EXISTS $table"); hs.sql(ddl)
    }
    b.timeLayer("sources.route_s") {
      val routed = JsonIngest.route(lns)
      routed.valid.write.mode("overwrite").text(loc)
      routed.invalid.write.mode("overwrite").text(s"${b.work}/quarantine/$table")
    }
    val n = b.timeLayer("hive.readback_s")(hs.table(table).count())
    Out(Canon.of(Ddl.sanitize(schema)), st.nValid, st.nInvalid, n)
  }

  private def write(dir: String, ff: Gen.Flowfile): String = {
    val p = Paths.get(dir, ff.name + ".ndjson")
    Files.write(p, ff.bytes)
    p.toString
  }

  def run(): String = {
    val t0 = System.nanoTime()
    val hs = b.onceTimed(HiveMode.session(spark))
    val sessionInitS = (System.nanoTime() - t0) / 1e9
    // known defect (a), probed in the traced run: a key repeated inside one
    // object becomes two same-named columns and the Hive CREATE fails
    if (b.args.trace) {
      val probe = Paths.get(b.work, "probe", "dupkey.ndjson")
      Files.createDirectories(probe.getParent)
      Files.write(probe, "{\"a\":1,\"a\":2}\n".getBytes("UTF-8"))
      val err = scala.util.Try(pipeline(hs, probe.toString, "probe_dupkey")).failed.toOption
      b.defect("a", err.exists(isDupColumn),
        "inferRoutedStats over a record like {\"a\":1,\"a\":2} yields two `a` columns; " +
          "CREATE fails: " + err.map(Bench.firstLine).getOrElse("no error"))
    }
    val in = s"${b.work}/in"
    val inputs = b.onceTimed {
      Files.createDirectories(Paths.get(in))
      Gen.flowfiles(b.args.seed, MinRounds * SmallPerRound, MinRounds, SmallBytes, BulkBytes)
        .map(ff => ff -> write(in, ff))
    }
    // warm-up: one small and one 2 MB flowfile through the whole pipeline
    b.onceTimed(Seq(Gen.flowfile(b.args.seed, "warm", 0, SmallBytes),
      Gen.flowfile(b.args.seed, "warm", 1, BulkBytes / 8))
      .foreach(ff => pipeline(hs, write(in, ff), s"warm_${ff.name}")))
    b.layer.clear()
    val smallIn = inputs.filter(_._1.name.startsWith("small"))
    val bulkIn = inputs.filter(_._1.name.startsWith("bulk"))
    var bulkBytes = 0L; var bulkS = 0.0
    def ingest(kind: String, ff: Gen.Flowfile, path: String): Unit =
      b.op(kind)(pipeline(hs, path, s"t_${ff.name}")) match {
        case Right(out) =>
          if (kind == "bulk") { bulkBytes += ff.bytes.length; bulkS += b.ops.last.wallS }
          check(ff, out)
        case Left(e) => b.failed(ff.name, e)
      }
    // Whole rounds, so every run holds both kinds in the same proportion.
    val windowS = b.window(MinRounds) { round =>
      val (bff, bpath) = bulkIn(round % bulkIn.size)
      ingest("bulk", bff, bpath)
      for (j <- 0 until SmallPerRound) {
        val (ff, path) = smallIn((round * SmallPerRound + j) % smallIn.size)
        ingest("small", ff, path)
      }
    }
    val n = math.max(b.ops.size, 1).toDouble
    val small = b.walls("small")
    b.report("ingest.small_p50_s", Stats.median(small), "s", s"n=${small.size}")
    b.reportTail("ingest.small_tail_s", small)
    b.report("ingest.bulk_mb_per_s", bulkBytes / 1048576.0 / bulkS, "MB/s",
      s"n=${b.walls("bulk").size}")
    val perLayer = Map(
      "schema.infer_s" -> b.layer("schema.infer_s") / n,
      "schema.lines_per_s" -> (lines + invalid) / b.layer("schema.infer_s"),
      "schema.ddl_ms" -> b.layer("schema.ddl_s") * 1000 / n,
      "schema.columns" -> columns / n,
      "sources.route_s" -> (b.layer("sources.route_s") + b.layer("sources.read_s")) / n,
      "sources.lines" -> (lines + invalid) / n,
      "sources.invalid_lines" -> invalid / n,
      "catalog.register_s" -> b.layer("catalog.register_s") / n,
      "catalog.session_init_s" -> sessionInitS,
      "hive.readback_s" -> b.layer("hive.readback_s") / n,
      "hive.rows_read" -> rows / n)
    b.result(small, Stats.median(small), b.walls("small", "bulk").size / windowS, perLayer,
      Set("small", "bulk"))
  }

  /** Outside the timed window: inferred columns, routed counts and the
    * read-back row count against the generator's ground truth. */
  private def check(ff: Gen.Flowfile, out: Out): Unit = {
    lines += out.nValid; invalid += out.nInvalid; rows += out.readBack
    columns += out.cols.count(_ == ':')
    val problems = Seq(
      (out.cols == ff.schema, s"columns ${out.cols} != ${ff.schema}"),
      (out.nValid == ff.nValid, s"nValid ${out.nValid} != ${ff.nValid}"),
      (out.nInvalid == ff.nInvalid, s"nInvalid ${out.nInvalid} != ${ff.nInvalid}"),
      (out.readBack == ff.nValid, s"read back ${out.readBack} != ${ff.nValid}"))
      .collect { case (false, why) => why }
    if (problems.nonEmpty) {
      b.checksFailed += 1
      println(s"CHECK FAILED ${ff.name}: ${problems.mkString("; ")}")
    }
  }

  private def isDupColumn(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("COLUMN_ALREADY_EXISTS"))
}

/** `serve`: a closed loop with one client over a persisted positional text
  * index. Each rotation sends one batch of 8 queries to each of the bm25
  * (MaxScore), QL and SDM indexed serves, then appends fresh docs with
  * `appendIndex`; the run ends with a timed `compactPostings`. */
final class Serve(b: Bench) {
  private val spark = b.spark
  import spark.implicits._
  private val NDocs = 10000; private val Vocab = 30000
  private val MinLen = 20; private val MaxLen = 80
  private val Buckets = 16; private val K = 10; private val PerBatch = 8
  // one append of AppendDocs per rotation of BatchesPerScorer batches per
  // scorer (why: README, "Operation mix")
  private val AppendDocs = 50
  private val Scorers = Vector("bm25", "ql", "sdm")
  private val BatchesPerScorer = 2

  private def docsDf(docs: Seq[Gen.Doc]): DataFrame =
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")

  private def serve(kind: String, dir: String, q: DataFrame): DataFrame = kind match {
    case "bm25" => Retrieval.maxScoreIndexedTopK(spark, dir, q.select("query_id", "term"), K, Buckets)
    case "ql"   => Retrieval.qlDirichletIndexedTopK(spark, dir, q.select("query_id", "term"), K,
      nBuckets = Buckets)
    case "sdm"  => Retrieval.sdmIndexedTopK(spark, dir, q, K, nBuckets = Buckets)
  }

  /** The batch (non-indexed) form of the same scorer over `docs`. */
  private def batchForm(kind: String, docs: DataFrame, q: DataFrame): DataFrame = {
    val posts = Retrieval.postings(docs, "doc_id", "text")
    kind match {
      case "bm25" => Retrieval.bm25TopK(posts, q.select("query_id", "term"),
        Retrieval.corpusStats(docs, "text"), K)
      case "ql"   => Retrieval.qlDirichletTopK(posts, q.select("query_id", "term"), K)
      case "sdm"  => Retrieval.sdmTopK(posts,
        Retrieval.positionalPostings(docs, "doc_id", "text"), q, K)
    }
  }

  private val ResultCols = Seq("query_id", "rk", "doc_id", "score")
  private def rows(out: Array[Row]): Seq[String] = out.toSeq.map(_.mkString(",")).sorted

  private def queryDf(batch: Gen.Batch): DataFrame =
    batch.rows.toDF("query_id", "qpos", "term")

  def run(): String = {
    // known defect (b), probed in the traced run: writeIndex into a
    // directory that does not exist
    if (b.args.trace) {
      val missing = s"${b.work}/no-such-dir/index"
      val err = scala.util.Try(Retrieval.writeIndex(
        docsDf(Seq(Gen.Doc(0, "probe text"))), "doc_id", "text", missing, 4)).failed.toOption
      b.defect("b", err.exists(_.isInstanceOf[ClassCastException]),
        "Retrieval.writeIndex into a missing directory throws " +
          err.map(_.getClass.getName).getOrElse("nothing"))
    }
    // exactly the batches one rotation consumes; a longer window cycles
    val (corpus, batches) = b.onceTimed {
      val docs = Gen.zipfCorpus(b.args.seed, "serve-corpus", NDocs, Vocab, MinLen, MaxLen)
      docs -> Gen.queryBatches(b.args.seed, docs, BatchesPerScorer * Scorers.size, PerBatch, 0.10)
    }
    val dir = s"${b.work}/index"
    // created first, as the library's own callers do (known defect (b))
    Files.createDirectories(Paths.get(dir))
    val t0 = System.nanoTime()
    b.onceTimed(Retrieval.writeIndex(docsDf(corpus), "doc_id", "text", dir, Buckets,
      withPositions = true))
    b.layer("retrieval.write_index_s") = (System.nanoTime() - t0) / 1e9
    // No separate warm-up: each scorer's first batch in the window is cold,
    // and its reported median (nearest rank of 2) is the warm, lower one.
    // The first batch of scorer `seed mod 3` runs before any append, so its
    // output is checked against the batch form over the built corpus.
    val checked = Scorers(Math.floorMod(b.args.seed, Scorers.size.toLong).toInt)
    var checkSample: Option[(Gen.Batch, Seq[String])] = None
    val appendRng = Gen.rng(b.args.seed, "serve-appends")
    var nextId = NDocs.toLong
    var queries = 0L
    // The window runs whole rotations — BatchesPerScorer batches per scorer,
    // then one append — so every run holds the same mix of operations.
    val windowS = b.window(minRounds = 1) { _ =>
      for (r <- 0 until BatchesPerScorer; (kind, k) <- Scorers.zipWithIndex) {
        val batch = batches(r * Scorers.size + k)
        b.op(kind)(serve(kind, dir, queryDf(batch)).select(ResultCols.map(col): _*)
            .collect()) match {
          case Right(out) =>
            queries += PerBatch
            if (checkSample.isEmpty && kind == checked) checkSample = Some(batch -> rows(out))
            if (out.map(_.getAs[Long]("query_id")).distinct.length != PerBatch) {
              b.checksFailed += 1
              println(s"CHECK FAILED $kind batch ${batch.id}: not every query answered")
            }
          case Left(e) => b.failed(kind, e)
        }
      }
      val fresh = Gen.zipfCorpus(appendRng.nextLong(), "serve-append", AppendDocs, Vocab,
        MinLen, MaxLen, firstId = nextId)
      nextId += AppendDocs
      val res = b.op("append")(b.timeLayer("retrieval.append_s")(
        Retrieval.appendIndex(docsDf(fresh), "doc_id", "text", dir, Buckets)))
      res.left.foreach(b.failed("append", _))
    }
    val compacted = b.op("compact")(b.timeLayer("retrieval.compact_s")(
      Retrieval.compactPostings(spark, dir)))
    compacted.left.foreach(b.failed("compact", _))
    // outside every timer: the sampled indexed serve equals its batch form
    checkSample.foreach { case (batch, got) =>
      val want = rows(batchForm(checked, docsDf(corpus), queryDf(batch))
        .select(ResultCols.map(col): _*).collect())
      if (got != want) {
        b.checksFailed += 1
        println(s"CHECK FAILED $checked batch ${batch.id}: indexed serve differs from " +
          s"batch form (${got.size} vs ${want.size} rows; first diff " +
          s"${got.zipAll(want, "-", "-").find { case (x, y) => x != y }})")
      }
    }
    def p50(k: String) = Stats.median(b.walls(k))
    Seq("bm25", "ql", "sdm", "append").foreach(k =>
      b.report(s"serve.${k}_p50_s", p50(k), "s", s"n=${b.walls(k).size}"))
    b.report("serve.compact_s", p50("compact"), "s")
    b.report("serve.qps", queries / windowS, "1/s")
    // headline latency: geometric mean of the three scorers' medians, so the
    // mix of scorers a window happens to hold does not move it
    val p50All = math.exp(Scorers.map(k => math.log(p50(k))).sum / Scorers.size)
    val nAppend = math.max(b.ops.count(_.kind == "append"), 1)
    // the curate funnel's layers are measured here, after the window: the
    // run budget leaves no room for curate as a gated workload of its own
    val curateLayers: Map[String, Double] =
      if (b.args.trace) new Curate(b).tracedLayers() else Map.empty
    val perLayer = curateLayers ++ Map(
      "retrieval.write_index_s" -> b.layer("retrieval.write_index_s"),
      "retrieval.append_s" -> b.layer("retrieval.append_s") / nAppend,
      "retrieval.compact_s" -> b.layer("retrieval.compact_s"))
    b.result(b.walls(Scorers: _*), p50All, queries / windowS, perLayer,
      Set("bm25", "ql", "sdm", "append", "compact"))
  }
}

/** `curate`: one batch dedup funnel pass per operation over a corpus with
  * planted near-duplicate clusters — SSJoin at t = 0.8, MinHash bands plus
  * candidate pairs, and repeated-span statistics. It runs on its own
  * (`--workload curate`) and, for its per-layer numbers, at the end of the
  * traced `serve` run ([[tracedLayers]]). */
final class Curate(b: Bench) {
  private val spark = b.spark
  import spark.implicits._
  private val NDocs = 2000; private val PlantedShare = 0.2; private val EditRate = 0.03
  private val Vocab = 20000; private val MinLen = 40; private val MaxLen = 120
  private val T = 0.8; private val Perms = 4; private val SpanN = 8

  private var gen: Gen.Curated = _
  private var docs: DataFrame = _
  private var pairs = 0L; private var cands = 0L; private var recall = 0.0

  private def generate(): Unit = {
    gen = Gen.nearDupCorpus(b.args.seed, NDocs, PlantedShare, EditRate, Vocab, MinLen, MaxLen)
    docs = gen.docs.map(d => (d.id, d.text)).toDF("doc_id", "text").localCheckpoint()
  }

  private def pass(): (Array[Row], Array[Row]) = {
    val pairs = SSJoin.join(docs, "doc_id", "text", T).select("a", "b").collect()
    val cands = Dedup.candidatePairs(Dedup.minhashBands(docs, "doc_id", "text", Perms), "doc_id")
      .collect()
    SpanDedup.repeatedSpanStats(
      SpanDedup.gramOccurrences(docs, "doc_id", "text", SpanN), SpanN).count()
    (pairs, cands)
  }

  private def warmUp(): Unit = {
    pass()
    println(f"curate corpus: ${gen.docs.size} docs, planted share $PlantedShare%.2f, " +
      f"edit rate $EditRate%.2f, ${gen.planted.size} planted pairs, " +
      s"${gen.planted.count(_._3 >= T)} with Jaccard >= $T")
  }

  /** One timed pass; its checks run after the timer: every SSJoin pair has
    * Jaccard >= t and every planted pair with Jaccard >= t is found. */
  private def timedPass(): Unit = b.op("pass")(pass()) match {
    case Right((pairRows, candRows)) =>
      val sets = gen.docs.map(d => d.id -> Gen.tokenSet(d.text)).toMap
      val got = pairRows.map(r => (r.getLong(0), r.getLong(1))).toSet
      val below = got.filter { case (x, y) => Gen.jaccard(sets(x), sets(y)) < T }
      val missed = gen.planted.filter(_._3 >= T).map(p => (p._1, p._2)).toSet -- got
      if (below.nonEmpty || missed.nonEmpty) {
        b.checksFailed += 1
        println(s"CHECK FAILED pass: ${below.size} pairs below t, ${missed.size} planted missed")
      }
      val candSet = candRows.map(r => (r.getLong(0), r.getLong(1))).toSet
      pairs = got.size; cands = candSet.size
      recall = gen.planted.count(p => candSet((p._1, p._2))).toDouble /
        math.max(gen.planted.size, 1)
    case Left(e) => b.failed("pass", e)
  }

  private def layers(): Map[String, Double] = {
    val m = mutable.HashMap[String, Double](
      "ssjoin.pairs" -> pairs, "dedup.candidate_pairs" -> cands,
      "dedup.planted_recall" -> recall)
    if (b.args.trace) {
      // counts the timed pass does not expose, recomputed after the window
      val cand = SSJoin.candidates(
        SSJoin.prefixRows(SSJoin.sortedTokenArrays(docs, "doc_id", "text"), T), T).count()
      m("ssjoin.candidates") = cand
      m("ssjoin.pairs_per_candidate") = pairs.toDouble / math.max(cand, 1)
      m("spans.gram_occurrences") =
        SpanDedup.gramOccurrences(docs, "doc_id", "text", SpanN).count()
    }
    m.toMap
  }

  def run(): String = {
    b.onceTimed(generate())
    b.onceTimed(warmUp())
    val windowS = b.window(minRounds = 1)(_ => timedPass())
    val passes = b.walls("pass")
    b.report("curate.pass_p50_s", Stats.median(passes), "s", s"n=${passes.size}")
    b.result(passes, Stats.median(passes), passes.size / windowS, layers(), Set("pass"))
  }

  /** The funnel's per-layer numbers inside another workload's traced run:
    * set-up, one warm-up pass and two timed passes. */
  def tracedLayers(): Map[String, Double] = {
    generate(); warmUp(); timedPass(); timedPass()
    b.report("curate.pass_p50_s", Stats.median(b.walls("pass")), "s",
      s"n=${b.walls("pass").size}, traced")
    layers()
  }
}
