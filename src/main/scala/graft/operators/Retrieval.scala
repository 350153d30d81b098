package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Ranked and boolean retrieval over an inverted index — the serving
  * side of a training-data pipeline (corpus search, eval-set mining,
  * hard-negative sourcing) next to d29's TF-IDF feature extractor.
  *
  * Scale shape (100 TB corpus, small query set):
  *  - the postings list `(term, doc, tf, dl)` is ONE hash aggregation
  *    over the exploded tokens; the per-doc length rides along from a
  *    pre-explode projection (the standard index layout's doc-length
  *    array, denormalized) so scoring never needs a second corpus pass
  *    or a join back to the documents table;
  *  - the query set is tiny → it BROADCASTS, and the postings side
  *    filters to query terms without shuffling the index (at rest the
  *    postings would be bucketed by term, making this a pruned scan);
  *  - document frequency for the query terms is exact from the
  *    filtered slice (postings are distinct per (doc, term), so a
  *    plain count per term IS df) — no full-vocabulary aggregation on
  *    the serve path;
  *  - corpus constants (N, avgdl) are a 1-row aggregate, broadcast via
  *    crossJoin;
  *  - per-(query, doc) accumulation shuffles only the filtered slice,
  *    and top-k per query is a bounded window, never a global sort.
  *
  * Cross-engine determinism: each term's score contribution is rounded
  * to 9 decimals and summed as DECIMAL (addition order across terms is
  * engine-dependent; decimal addition is exact), and the final score
  * rounds to 6 — the d28/tfidf discipline.
  */
object Retrieval {

  /** Inverted postings `(term, doc, tf, dl)`: one explode + one hash
    * aggregation; `dl` (doc token count) is computed before the explode
    * and carried through `first` (constant within the (doc, term)
    * group). `tok` picks the tokenizer — the space split by default,
    * [[TextAnalysis.tokensUnicode]] for multilingual corpora (d93). */
  def postings(docs: DataFrame, idCol: String, textCol: String,
               tok: Column => Column = TextAnalysis.tokens): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        size(tok(col(textCol))).cast("long").as("dl"),
        explode(tok(col(textCol))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"), first("dl").as("dl"))

  /** Corpus constants for BM25: (n_docs, avgdl). avgdl is one exact
    * integer division sum_tokens/n as DOUBLE — deterministic across
    * engines. */
  def corpusStats(docs: DataFrame, textCol: String,
                  tok: Column => Column = TextAnalysis.tokens): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      (sum(size(tok(col(textCol))).cast("long"))
        .cast("double") / count(lit(1))).as("avgdl"))

  /** Resolve an index root through the VERSION POINTER: `$dir/CURRENT`
    * is a one-line file naming the live version directory (`v<N>`)
    * that holds `postings/`, `terms/` and `stats/` as ONE consistent
    * snapshot. Readers resolve the pointer once per operation, so a
    * concurrent [[compactDeletes]] — which stages the next version
    * completely and then flips the pointer with a single rename — can
    * never show them new postings with the old dictionary (the mixed
    * read the round-10 two-rename swap admitted). Fallbacks, in
    * order, when CURRENT is absent: an INTACT legacy flat layout
    * (`$dir/stats` exists) wins — during a legacy-flat migration the
    * pointer is absent for the whole staging duration, and the
    * half-written `v<N>` must never shadow the complete flat
    * snapshot; else the highest staged `v<N>` (the flip's
    * sub-millisecond delete+rename window — the highest version is
    * fully staged by then, and once a flip has ever happened the
    * flat tables are gone); else `dir` itself (empty/brand-new). */
  def root(spark: org.apache.spark.sql.SparkSession,
           dir: String): String = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(s"$dir/CURRENT")
    if (fs.exists(cur)) {
      val in = fs.open(cur)
      try s"$dir/${scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim}"
      finally in.close()
    } else if (fs.exists(new Path(s"$dir/stats"))) dir
    else versionDirs(fs, dir).lastOption
      .map(v => s"$dir/v$v").getOrElse(dir)
  }

  /** The live version named by `$dir/CURRENT`, if the pointer exists
    * (None on a legacy flat or brand-new dir). */
  private def currentVersion(fs: org.apache.hadoop.fs.FileSystem,
                             dir: String): Option[Long] = {
    val cur = new org.apache.hadoop.fs.Path(s"$dir/CURRENT")
    if (!fs.exists(cur)) None
    else {
      val in = fs.open(cur)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.stripPrefix("v").toLong)
      finally in.close()
    }
  }

  /** GC everything the live snapshot supersedes: version dirs other
    * than `live` (replaced versions' in-flight-reader grace window
    * ends HERE, at the next maintenance op — not at their flip), and,
    * once a CURRENT pointer exists, the legacy flat
    * postings/terms/stats tables (no reader can resolve them past the
    * first flip, so they are pure garbage — previously leaked
    * forever because the sweep only matched `v<N>`). */
  private def gcStale(fs: org.apache.hadoop.fs.FileSystem,
                      dir: String, live: Option[Long]): Unit = {
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    versionDirs(fs, dir).filter(v => !live.contains(v))
      .foreach(v => fs.delete(p(s"$dir/v$v"), true))
    if (live.isDefined)
      Seq("postings", "terms", "stats")
        .foreach(t => fs.delete(p(s"$dir/$t"), true))
  }

  private def versionDirs(fs: org.apache.hadoop.fs.FileSystem,
                          dir: String): Seq[Long] = {
    val re = "v(\\d+)".r
    val st = try fs.listStatus(new org.apache.hadoop.fs.Path(dir))
      catch {
        case _: java.io.FileNotFoundException =>
          Array.empty[org.apache.hadoop.fs.FileStatus]
      }
    st.toSeq.filter(_.isDirectory).flatMap(_.getPath.getName match {
      case re(n) => Some(n.toLong)
      case _ => None
    }).sorted
  }

  /** Point `$dir/CURRENT` at version `v`: write `CURRENT.tmp`, then
    * delete+rename — the one non-atomic instant is CURRENT being
    * momentarily absent, which [[root]]'s fallbacks cover: the
    * highest-staged-version rule resolves to the same (fully staged)
    * target, except on the very first flip of a legacy-flat
    * migration, where the still-intact flat snapshot wins — an old
    * complete read, not a mix. */
  private[graft] def flipVersion(fs: org.apache.hadoop.fs.FileSystem,
                                 dir: String, v: Long): Unit = {
    import org.apache.hadoop.fs.Path
    val tmp = new Path(s"$dir/CURRENT.tmp")
    val out = fs.create(tmp, true)
    out.write(s"v$v".getBytes("UTF-8"))
    out.close()
    fs.delete(new Path(s"$dir/CURRENT"), false)
    require(fs.rename(tmp, new Path(s"$dir/CURRENT")),
      s"flipVersion: rename of CURRENT.tmp failed for v$v")
  }

  /** Persist the index for serving, in the three-table layout a real
    * text engine keeps (a Lucene segment's shape, relational), under
    * a VERSIONED root (`$dir/v<N>/…` + the `CURRENT` pointer — see
    * [[root]]):
    *
    *  - `postings/` `(term, doc_id, tf, dl)` PARTITIONED BY `tb`, a
    *    hash bucket of the term — a query's scan prunes to the
    *    partitions its terms hash into (the s15 file-level-pruning
    *    design applied to text), and APPEND is a pure file add;
    *  - `terms/` `(term, df)`, also `tb`-partitioned — the term
    *    DICTIONARY. df lives HERE, not denormalized into postings:
    *    appending docs changes every affected term's corpus-wide df,
    *    and a denormalized df would force rewriting old postings
    *    (the reason [[appendIndex]] can exist at all);
    *  - `stats/` one row of EXACT integers `(n_docs, sum_tokens)` —
    *    avgdl is derived at serve time, so merged stats after an
    *    append stay exact (a stored double avgdl could not be
    *    combined without drift). */
  def writeIndex(docs: DataFrame, idCol: String, textCol: String,
                 dir: String, nBuckets: Int,
                 tok: Column => Column = TextAnalysis.tokens,
                 withPositions: Boolean = false): Unit = {
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // GC FIRST (the compactDeletes discipline): replaced versions and
    // post-flip flat garbage from prior ops go now — their in-flight-
    // reader grace window ends at this, the next maintenance op. The
    // live version is read from CURRENT, never inferred from the
    // highest dir (a crashed prior staging leaves an orphan v<N+1>).
    val live = currentVersion(fs, dir)
    gcStale(fs, dir, live)
    val next = live.map(_ + 1).getOrElse(0L)
    val vroot = s"$dir/v$next"
    val posts = postings(docs, idCol, textCol, tok)
      .withColumn("tb", pmod(xxhash64(col("term")), lit(nBuckets)))
    posts.write.mode("overwrite").partitionBy("tb")
      .parquet(s"$vroot/postings")
    // df from the freshly-written postings (one scan of the new files,
    // not a second corpus explode)
    spark.read.parquet(s"$vroot/postings")
      .groupBy("tb", "term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$vroot/terms")
    // optional POSITIONS sidecar (`(doc_id, term, pos)`, same tb
    // partitioning — Lucene's positions stream): phrase/proximity
    // serving reads only its terms' buckets. Positions always use
    // whitespace-token indices (positionalPostings' semantics),
    // independent of a custom `tok` — phrase adjacency is defined on
    // the raw token stream.
    if (withPositions)
      positionalPostings(docs, idCol, textCol)
        .withColumn("tb", pmod(xxhash64(col("term")), lit(nBuckets)))
        .write.mode("overwrite").partitionBy("tb")
        .parquet(s"$vroot/positions")
    exactStats(docs, textCol, tok)
      .write.mode("overwrite").parquet(s"$vroot/stats")
    flipVersion(fs, dir, next)
    // the REPLACED version (and, on a legacy-flat migration, the flat
    // tables) are retained: in-flight readers of the old snapshot
    // finish against intact files, and the next writeIndex /
    // compaction's gcStale sweep collects them — the same grace
    // discipline as compactDeletes, which round 10 shipped for
    // compaction but not here.
  }

  /** `(n_docs, sum_tokens)` as exact longs — the mergeable form. */
  private def exactStats(docs: DataFrame, textCol: String,
                         tok: Column => Column): DataFrame =
    docs.agg(count(lit(1)).as("n_docs"),
      sum(size(tok(col(textCol))).cast("long"))
        .cast("long").as("sum_tokens"))

  /** Stored stats → the `(n_docs, avgdl)` shape the scorer consumes,
    * as a one-row LocalRelation (see [[Snapshot]]). */
  def readStats(spark: SparkSession, dir: String): DataFrame =
    new Snapshot(spark, dir).bm25Stats

  /** One call's view of a persisted index. `CURRENT` is resolved once
    * ([[root]]), so every table a serve reads comes from one version:
    * a compaction flip between two reads can no longer mix versions.
    * `stats` and `terms` are read with their fixed schemas; `postings`
    * and `positions`, whose `doc_id` type is the build's id column,
    * have theirs inferred at most once — every schemaless
    * `spark.read.parquet` launches a footer-inference job. `tb` always
    * reads as LONG, the bucket literals' type. The stats row is read
    * once and the tombstones are checked once. Never kept across calls:
    * [[appendIndex]] rewrites `stats` inside the live version. */
  private final class Snapshot(spark: SparkSession, dir: String) {
    val rt: String = root(spark, dir)
    private val tables = scala.collection.mutable.Map.empty[String, DataFrame]
    def table(sub: String): DataFrame = tables.getOrElseUpdate(sub, {
      val path = s"$rt/$sub"
      val schema = sub match {
        case "stats" => StructType.fromDDL("n_docs LONG, sum_tokens LONG")
        case "terms" => StructType.fromDDL("term STRING, df LONG, tb LONG")
        case _ => StructType(spark.read.parquet(path).schema.map(f =>
          if (f.name == "tb") f.copy(dataType = LongType) else f))
      }
      spark.read.schema(schema).parquet(path)
    })
    /** `(n_docs, sum_tokens)`, collected once into a LocalRelation. */
    lazy val stats: DataFrame = localOf(table("stats"))
    /** BM25's `(n_docs, avgdl)`: one exact integer division as DOUBLE. */
    def bm25Stats: DataFrame = stats.select(col("n_docs"),
      (col("sum_tokens").cast("double") / col("n_docs")).as("avgdl"))
    /** QL/SDM's |C| = Σ tf: the stored `sum_tokens`, exact. */
    def collTotal: DataFrame =
      stats.select(col("sum_tokens").cast("double").as("c_total"))
    /** `sub` filtered to `terms` by BOTH the static `tb` partition
      * filter (file-level pruning; bucket ids from [[bucketOf]] on the
      * driver, no job) and the term filter. */
    def slice(sub: String, terms: Seq[String], nBuckets: Int): DataFrame =
      table(sub)
        .filter(col("tb").isInCollection(terms.map(bucketOf(_, nBuckets)).distinct) &&
          col("term").isInCollection(terms))
        .drop("tb")
    /** Postings for `terms` with `df` attached from `dict`, a
      * dictionary slice covering them (broadcast). */
    def withDf(terms: Seq[String], nBuckets: Int,
               dict: DataFrame): DataFrame =
      slice("postings", terms, nBuckets).join(broadcast(dict), "term")
    def indexSlice(terms: Seq[String], nBuckets: Int): DataFrame =
      withDf(terms, nBuckets, slice("terms", terms, nBuckets))
    private lazy val tombstones: Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
      if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        None
      else Some(spark.read.schema("doc_id LONG").parquet(p.toString).distinct())
    }
    /** `df` minus tombstoned doc ids — the delete-visibility gate of
      * every servable read. Tombstones are vastly smaller than any
      * slice and broadcast. */
    def servable(df: DataFrame): DataFrame = tombstones.fold(df)(t =>
      df.join(broadcast(t), Seq("doc_id"), "left_anti"))
  }

  /** Incrementally ADD documents to a stored index: new postings
    * APPEND into the `tb` partitions (old files untouched); the term
    * dictionary is rewritten as old ∪ new with summed df (vocabulary-
    * sized — the segment-merge cost a text engine pays on commit, NOT
    * a corpus rewrite), swapped in with two renames; stats merge as
    * exact integer adds. Serving an appended index must equal a
    * fresh build over the union corpus — d71 holds that under the
    * oracle gate. `tok` must be the SAME tokenizer the index was
    * built with (the layout does not self-describe its tokenizer —
    * a mixed-tokenizer index is silently inconsistent). */
  def appendIndex(newDocs: DataFrame, idCol: String, textCol: String,
                  dir: String, nBuckets: Int,
                  tok: Column => Column = TextAnalysis.tokens): Unit = {
    val spark = newDocs.sparkSession
    val snap = new Snapshot(spark, dir)
    val rt = snap.rt            // append mutates the CURRENT version
    val newPosts = postings(newDocs, idCol, textCol, tok)
      .withColumn("tb", pmod(xxhash64(col("term")), lit(nBuckets)))
    newPosts.write.mode("append").partitionBy("tb")
      .parquet(s"$rt/postings")
    // positions sidecar (if this index carries one): an append is a
    // pure file add, same as postings — positions are per-doc facts,
    // so existing files never need rewriting
    if (new org.apache.hadoop.fs.Path(s"$rt/positions")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(new org.apache.hadoop.fs.Path(s"$rt/positions")))
      positionalPostings(newDocs, idCol, textCol)
        .withColumn("tb", pmod(xxhash64(col("term")), lit(nBuckets)))
        .write.mode("append").partitionBy("tb")
        .parquet(s"$rt/positions")
    // Term-dictionary swap through the shared staged-rename helper
    // (VERDICT r13 #2); heal first so a crash between a prior
    // append's two renames is repaired instead of failing the
    // `$rt/terms` read.
    Staged.heal(spark, rt, live = "terms")
    snap.table("terms")
      .unionByName(
        newPosts.groupBy("tb", "term").agg(count(lit(1)).as("df")))
      .groupBy("tb", "term").agg(sum("df").cast("long").as("df"))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(Staged.staging(rt, "terms"))
    Staged.commit(spark, rt, None, live = "terms")
    val old = snap.stats.head()
    val add = exactStats(newDocs, textCol, tok)
      .select(col("n_docs").cast("long"), col("sum_tokens").cast("long"))
      .head()
    import spark.implicits._
    // values are already collected — overwriting the path read above
    // is safe, nothing lazy still points at it
    Seq((old.getLong(0) + add.getLong(0), old.getLong(1) + add.getLong(1)))
      .toDF("n_docs", "sum_tokens")
      .write.mode("overwrite").parquet(s"$rt/stats")
  }

  /** Compact FRAGMENTED postings buckets — the text-index twin of
    * `AnnIndex.compact` (s17): every [[appendIndex]] wave adds one
    * file batch per touched `tb` partition, so an append-heavy index
    * accumulates small files and serve-time file-open/footer cost
    * grows with wave count, not data. Selectively rewrites ONLY the
    * buckets holding more than `maxFilesPerBucket` part-files
    * (coalesced to one write per bucket), swapping each bucket dir
    * with rename-out/rename-in and restoring the original on a
    * FAILED rename-in. Crash hardening: a process kill BETWEEN the
    * two renames leaves the bucket only under its dot-prefixed
    * `.tb=N.retired` name — which parquet reads and the `tb=` listing
    * both skip — so every run FIRST restores any orphaned retired
    * bucket whose live dir is missing (and deletes the stale copy
    * when the live dir survived). With that sweep, a crash at any
    * point leaves the index recoverable by re-running; the guarantee
    * is restore-on-rerun, not never-absent — a reader racing the
    * sub-millisecond rename pair (or arriving between a crash and the
    * re-run) can still see the bucket absent. Row content is
    * untouched — the dictionary, stats and tombstones are not
    * involved — so serving before and after is bit-identical.
    * Returns the bucket ids rewritten. */
  def compactPostings(spark: SparkSession,
                      dir: String, maxFilesPerBucket: Int = 1): Seq[Long] = {
    import org.apache.hadoop.fs.Path
    val snap = new Snapshot(spark, dir)
    val rt = snap.rt
    val postsRoot = new Path(s"$rt/postings")
    val fs = postsRoot
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // crash-recovery sweep (see scaladoc): an orphaned retired bucket
    // whose live dir is gone holds the only copy of its postings
    val retiredRe = "\\.tb=(\\d+)\\.retired".r
    fs.listStatus(postsRoot).toSeq
      .filter(st => st.isDirectory)
      .foreach(st => st.getPath.getName match {
        case retiredRe(tb) =>
          val live = new Path(postsRoot, s"tb=$tb")
          if (!fs.exists(live)) {
            require(fs.rename(st.getPath, live),
              s"compactPostings: restore of orphaned tb=$tb failed")
            System.err.println(
              s"[compactPostings] restored orphaned bucket tb=$tb " +
                "from a crashed prior run")
          } else fs.delete(st.getPath, true)
        case _ => ()
      })
    def partFiles(p: Path): Int =
      fs.listStatus(p).count(_.getPath.getName.startsWith("part-"))
    val frag = fs.listStatus(postsRoot).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("tb="))
      .map(st => (st.getPath.getName.stripPrefix("tb=").toLong, st.getPath))
      .filter { case (_, p) => partFiles(p) > maxFilesPerBucket }
      .sortBy(_._1)
    if (frag.nonEmpty) {
      val tmp = new Path(s"$rt/.postings_compacting")
      fs.delete(tmp, true)
      // the snapshot's inferred postings schema (doc_id keeps the
      // build's id type) with tb as LONG: partition-type inference
      // would read tb as INT, and the native LONG lets the isin filter
      // prune at the partition level (only fragmented buckets are
      // read, let alone rewritten). Read after the sweep above, so the
      // file listing sees the restored buckets.
      snap.table("postings")
        .filter(col("tb").isin(frag.map(_._1): _*))
        .repartition(col("tb"))
        .write.mode("overwrite").partitionBy("tb").parquet(tmp.toString)
      frag.foreach { case (tb, bucketPath) =>
        val fresh = new Path(tmp, s"tb=$tb")
        val retired = new Path(postsRoot, s".tb=$tb.retired")
        require(fs.rename(bucketPath, retired),
          s"compactPostings: rename-out failed for tb=$tb")
        if (!fs.rename(fresh, bucketPath)) {
          fs.rename(retired, bucketPath) // restore — never leave a bucket absent
          throw new IllegalStateException(
            s"compactPostings: rename-in failed for tb=$tb (original restored)")
        }
        fs.delete(retired, true)
      }
      fs.delete(tmp, true)
    }
    frag.map(_._1)
  }

  /** Serve-time slice of the stored index for a (tiny) term set,
    * df attached from the dictionary: the term-bucket literals make
    * BOTH partition filters STATIC, so only the files those buckets
    * own are read. The bucket ids are computed on the driver
    * ([[bucketOf]]). */
  def readIndexSlice(spark: SparkSession, dir: String,
                     terms: Seq[String], nBuckets: Int): DataFrame =
    new Snapshot(spark, dir).indexSlice(terms, nBuckets)

  /** Positions slice for a phrase/proximity serve from an index
    * written with `withPositions = true`: only the phrase terms'
    * buckets are read, and [[phraseOccurrences]] consumes the slice
    * directly (the positional intersection only ever touches phrase
    * terms' rows, so the slice loses nothing). Tombstone-aware
    * (r18 verdict #1): deleted docs vanish from positional serves
    * immediately, exactly as [[readServableSlice]] guarantees for
    * postings — without this, a phrase serve between [[deleteDocs]]
    * and [[compactDeletes]] would resurface deleted docs (d148 pins
    * the lifecycle). */
  def readPositionsSlice(spark: SparkSession, dir: String,
                         terms: Seq[String], nBuckets: Int): DataFrame = {
    val snap = new Snapshot(spark, dir)
    snap.servable(snap.slice("positions", terms, nBuckets))
  }

  /** `pmod(xxhash64(term), nBuckets)` evaluated on the driver —
    * byte-identical to the column form [[writeIndex]] partitions by
    * (same XXH64 kernel, same default seed 42, same positive mod);
    * the equality is spec-gated over random unicode terms. */
  private[graft] def bucketOf(term: String, nBuckets: Int): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
      .hash(org.apache.spark.unsafe.types.UTF8String.fromString(term),
        org.apache.spark.sql.types.StringType, 42L)
    ((h % nBuckets) + nBuckets) % nBuckets
  }

  /** BM25 over an index slice that already carries `df` (the stored
    * layout of [[writeIndex]]) — no aggregation over the index, just
    * scoring + per-query top-k. */
  def bm25TopKIndexed(slice: DataFrame, queries: DataFrame,
                      stats: DataFrame, k: Int, k1: Double = 1.2,
                      b: Double = 0.75): DataFrame =
    rank(slice.join(broadcast(queries), "term")
      .crossJoin(broadcast(stats)), k, k1, b)

  /** Query-term slice of a postings (or positions) relation via a
    * LITERAL In predicate rather than a broadcast join (round 19,
    * guide §2.3 — filter before the exchange): a literal filter on
    * the grouping key pushes BELOW the postings `groupBy(doc, term)`
    * and its exchange, so raw-lineage batch callers aggregate — and
    * shuffle — only query-term token rows instead of every corpus
    * token; a broadcast JOIN can never push through the aggregation,
    * which left the full corpus-token exchange in every batch
    * scorer's plan. On a memoized checkpoint or a pruned index read
    * the filter is also strictly cheaper: it drops the per-consumer
    * BroadcastExchange build the join paid. The collect is bounded
    * by the query set (the w25/w30 discipline) and dedupes on the
    * driver: a `distinct` job over a query LocalRelation cost a
    * shuffle for a handful of rows. Row-set identical to the join:
    * `termsOf` is distinct, and an In filter keeps exactly the rows
    * an inner join against a distinct key set keeps. */
  private def termsOf(queries: DataFrame): Seq[String] =
    queries.select("term").collect().map(_.getString(0)).distinct.toSeq
  private def termSlice(posts: DataFrame, terms: Seq[String]): DataFrame =
    posts.filter(col("term").isInCollection(terms))

  /** Okapi BM25 (Robertson & Spärck Jones; the Lucene `+1` idf variant
    * that keeps weights positive):
    * `idf = ln(1 + (N - df + 0.5)/(df + 0.5))`,
    * `w = idf · tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))`.
    * `queries` is `(query_id, term)` — one row per query term. Returns
    * the top-`k` docs per query as `(query_id, rk, doc_id, score)`. */
  def bm25TopK(posts: DataFrame, queries: DataFrame, stats: DataFrame,
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    // Serve-path slice: literal In filter on the query terms — pushes
    // below the postings aggregation (see [[termSlice]]); only
    // postings rows for query terms survive (no shuffle of the index).
    val slice = termSlice(posts, termsOf(queries))
    // df per query term as a WINDOW over the slice — the slice is
    // distinct per (doc, term), so a count partitioned by term IS the
    // corpus df, and the window re-uses the slice instead of
    // re-deriving the postings lineage from a second corpus scan (the
    // plan-audit lesson from d29's tfidf). The shuffle it costs moves
    // only the query-term slice, never the index.
    rank(slice
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .join(broadcast(queries), "term")   // attach query_ids
      .crossJoin(broadcast(stats)), k, k1, b)
  }

  /** Dirichlet-smoothed query-likelihood ranking (Zhai & Lafferty,
    * SIGIR'01) — the other classic probabilistic retrieval family
    * next to BM25 (VERDICT r16 #8):
    * `score(q,d) = Σ_{t∈q} ln((tf(t,d) + μ·p(t|C)) / (dl + μ))` with
    * `p(t|C) = cf(t)/|C|` the collection language model. Candidates
    * are docs matching ≥ 1 query term (the postings-driven serve
    * shape, same as [[bm25TopK]]); within a candidate the smoothing
    * term still scores the query's ABSENT terms (tf = 0 via the left
    * join), so the ranking among candidates is the full QL order.
    * Query terms with no posting anywhere have p(t|C) = 0 — a −∞
    * log-likelihood shared by EVERY doc — and drop out of the sum
    * (the standard OOV treatment; the cf inner join enforces it).
    * Query terms are deduplicated (qtf = 1 contract, the catalog's
    * query shape).
    *
    * Scale shape: ONE full-postings aggregate for |C| = Σ tf (a
    * 1-row broadcast; the d30 corpus-LM pass) and cf only over the
    * broadcast query-term slice; everything after is slice-sized —
    * candidates from the query-term postings, scoring rows bounded
    * by |candidates|·|query terms|. Servable from the d71 persisted
    * index: posts can be the stored postings read, and the slice is
    * then a term-pruned scan.
    *
    * Cross-engine determinism: contrib = round(ln(·), 9) as DECIMAL,
    * score = round(Σ, 6) — the BM25 discipline. Pass a MATERIALIZED
    * `posts` (three differently-filtered consumers — the d100
    * FileScan-dedup lesson, as for [[rm3TopK]]). */
  def qlDirichletTopK(posts: DataFrame, queries: DataFrame, k: Int,
                      mu: Double = 300.0): DataFrame = {
    val qterms = localOf(queries.select(col("query_id"), col("term")),
      distinct = true)
    // |C| must stay a FULL-postings aggregate; only the slice narrows
    // to query terms (literal filter — pushes below the postings
    // aggregation on raw lineage, see [[termSlice]]).
    val coll = posts.agg(sum(col("tf")).cast("double").as("c_total"))
    qlGather(termSlice(posts, termsOf(qterms)), qterms, coll,
      mu, k)
  }

  /** [[qlDirichletTopK]] from the PERSISTED index — the d67/d75
    * production shape: the collection constant |C| comes EXACTLY
    * from the stored stats (`sum_tokens` IS Σ tf, kept as an exact
    * long and decremented exactly on compaction), so the one
    * corpus-LM pass the batch scorer pays disappears entirely; the
    * slice is a term-pruned bucketed read, and cf over the slice IS
    * the collection frequency (the slice holds every posting of the
    * query's terms). Bit-identical to the batch scorer over the same
    * corpus — d146's oracle is d144's verbatim.
    *
    * Tombstone staleness window (the bm25IndexedTopK discipline, r17
    * review): between [[deleteDocs]] and [[compactDeletes]] the two
    * collection-LM inputs are STALE-INCONSISTENT — cf is FRESH
    * ([[readServableSlice]] anti-joins tombstoned docs out of the
    * slice before the cf sum) while |C| is the STORED `sum_tokens`,
    * decremented only at compaction. Scores in that window match
    * neither the pre- nor the post-delete corpus exactly; the
    * bit-identical-to-batch claim above holds for a tombstone-free
    * index (d146's regime) and snaps back after compaction, exactly
    * like BM25's documented stale-df window. The ranking stays sane
    * throughout (|C| stale-high only deflates every p(t|C) by the
    * same factor), but callers needing exact QL mid-window should
    * compact first. */
  def qlDirichletIndexedTopK(spark: SparkSession,
                             dir: String, queries: DataFrame, k: Int,
                             mu: Double = 300.0,
                             nBuckets: Int = 16): DataFrame = {
    val snap = new Snapshot(spark, dir)
    val qterms = localOf(queries.select(col("query_id"), col("term")),
      distinct = true)
    // postings without the dictionary join (round 20): QL never reads
    // df — see sdmIndexedTopK.
    qlGather(
      snap.servable(snap.slice("postings", termsOf(qterms), nBuckets)),
      qterms, snap.collTotal, mu, k)
  }

  /** The Dirichlet-QL scoring tail shared by the batch and indexed
    * serves: candidates from the query-term `slice`, absent-term
    * smoothing via the left join, contrib rounded to 9 as DECIMAL —
    * ONE definition so the two serve shapes cannot drift. */
  private def qlGather(slice: DataFrame, qterms: DataFrame,
                       coll: DataFrame, mu: Double,
                       k: Int): DataFrame = {
    val cf = slice.groupBy("term")
      .agg(sum(col("tf")).cast("double").as("cf"))
    val cand = slice.join(broadcast(qterms), "term")
      .select("query_id", "doc_id", "dl").distinct()
    val rows = cand
      .join(broadcast(qterms), Seq("query_id"))
      .join(broadcast(cf), Seq("term"))
      .join(slice.select(col("doc_id"), col("term"), col("tf")),
        Seq("doc_id", "term"), "left")
      .crossJoin(broadcast(coll))
      .withColumn("contrib",
        round(log((coalesce(col("tf"), lit(0L)).cast("double") +
            lit(mu) * col("cf") / col("c_total")) /
          (col("dl").cast("double") + lit(mu))), 9)
          .cast(org.apache.spark.sql.types.DecimalType(28, 9)))
    gatherTopK(rows, k)
  }

  /** Sequential Dependence Model ranking (Metzler & Croft, SIGIR'05
    * — VERDICT r17 #8): the standard combination of THREE Dirichlet-
    * smoothed feature families over a query's term SEQUENCE,
    * `score(q,d) = λ_T Σ_t f_T + λ_O Σ_(a,b) f_O + λ_U Σ_(a,b) f_U`
    * with each `f = ln((tf_X(d) + μ·cf_X/|C|) / (dl + μ))`, where X
    * ranges over (T) the query's unigrams, (O) each ADJACENT query
    * bigram matched as an exact ordered window (`pos_b = pos_a + 1`,
    * Indri's `#1`), and (U) the same bigram matched UNORDERED within
    * a `window`-token span (`0 < |pos_b − pos_a| < window`, Indri's
    * `#uw8` at the default 8) — the canonical (0.85, 0.1, 0.05)
    * weighting. The unigram family is d144's QL arm verbatim;
    * windows come from the d110 positional postings.
    *
    * Candidates are docs matching ≥ 1 query unigram (the
    * postings-driven serve shape); within a candidate every feature
    * still scores its ABSENT windows (tf_X = 0 via the left joins),
    * so the ranking among candidates is the full SDM order. Features
    * whose collection frequency is zero drop out of the sum — the
    * d144 OOV discipline, applied per family (a bigram never seen
    * ordered-adjacent in the corpus contributes to no doc; its
    * UNORDERED twin can still fire).
    *
    * Scale shape: one corpus aggregate for |C| (a 1-row broadcast);
    * postings and positions are touched only on their query-term
    * slices (term-pruned bucketed reads when served from the d113
    * positional index); BOTH window families come from ONE position
    * join (the ordered condition is a strict subset of the unordered,
    * so conditional aggregation yields tfo and tfu together), binned
    * by the window width (q88's range-join discipline) so the
    * equi-join keys on (doc, term, pos-bucket) — per-(doc, bigram)
    * cost is per-bucket products, not the full tf_a·tf_b pair
    * product, and never corpus-pairwise. The (doc, bigram) count
    * table is materialized once and feeds both families' cf
    * aggregations and doc-joins. Cross-engine determinism: per-feature contribs
    * round to 9 decimals and sum as DECIMAL per family, the three
    * family sums combine under IEEE doubles in one fixed expression
    * order, final score rounds to 6 — the BM25/QL discipline.
    *
    * `queries` is `(query_id, qpos, term)` — qpos the 0-based
    * position in the query's term sequence (SDM is defined on the
    * sequence, not the set). Pass MATERIALIZED `posts`/`posPosts`
    * (multiple differently-filtered consumers — the d100
    * FileScan-dedup lesson). */
  def sdmTopK(posts: DataFrame, posPosts: DataFrame, queries: DataFrame,
              k: Int, mu: Double = 300.0, window: Int = 8,
              lamT: Double = 0.85, lamO: Double = 0.1,
              lamU: Double = 0.05): DataFrame = {
    val q = localOf(queries)                 // bounded: the query set
    val coll = posts.agg(sum(col("tf")).cast("double").as("c_total"))
    val slice = termSlice(posts, termsOf(q))
    sdmGather(slice, coll, posPosts, q, k, mu, window,
      lamT, lamO, lamU)
  }

  /** [[sdmTopK]] from the PERSISTED positional index — the
    * d146-for-d144 move applied to the SDM scorer (r18 verdict #8):
    * the collection constant |C| comes EXACTLY from the stored
    * `sum_tokens` (the qlDirichletIndexedTopK discipline), the
    * unigram slice is the term-pruned servable postings read, and
    * both window families score from the term-pruned positions
    * slice — ZERO corpus passes at serve time. Bit-identical to the
    * batch scorer over the same corpus (d150's oracle is d147's
    * verbatim); the QL tombstone-staleness caveat applies unchanged
    * (cf fresh via the servable anti-join, |C| stored-stale until
    * compaction). */
  def sdmIndexedTopK(spark: SparkSession,
                     dir: String, queries: DataFrame, k: Int,
                     mu: Double = 300.0, window: Int = 8,
                     lamT: Double = 0.85, lamO: Double = 0.1,
                     lamU: Double = 0.05,
                     nBuckets: Int = 16): DataFrame = {
    val snap = new Snapshot(spark, dir)
    val q = localOf(queries)                 // bounded: the query set
    val termList = termsOf(q)
    // Slices deliberately NOT materialized (round-19 measurement):
    // each extra consumer re-reads a term-PRUNED parquet slice — a
    // cheap, file-pruned subtree — and an eager localCheckpoint of
    // the slices was measured SLOWER at sf0.1 (d150 2.28 → 3.02 s:
    // the serialize-and-pin job costs more than the repeated pruned
    // reads it saves, and AQE's runtime exchange reuse already
    // dedupes the identical tombstone anti-join broadcasts). The
    // d100 materialization lesson applies to re-TOKENIZING corpus
    // lineage, not to pruned index reads.
    // Postings without the dictionary join (round 20): SDM never
    // reads df, and the slice has THREE consumers in the plan — the
    // join cost three pruned terms reads + broadcast builds per serve.
    // Every posting's term is in the dictionary by writeIndex /
    // appendIndex construction, so the rows are the same.
    sdmGather(
      snap.servable(snap.slice("postings", termList, nBuckets)),
      snap.collTotal,
      snap.servable(snap.slice("positions", termList, nBuckets)),
      q, k, mu, window, lamT, lamO, lamU)
  }

  /** The SDM scoring core shared by the batch and indexed serves:
    * `slice` is the query-term postings relation (every posting of
    * every query term — cf over it IS the collection frequency),
    * `coll` the 1-row `c_total` frame, `posPosts` a positions
    * relation covering at least the query terms. */
  private def sdmGather(slice: DataFrame, coll: DataFrame,
                        posPosts: DataFrame, queries: DataFrame,
                        k: Int, mu: Double, window: Int,
                        lamT: Double, lamO: Double,
                        lamU: Double): DataFrame = {
    val D = org.apache.spark.sql.types.DecimalType(28, 9)
    val qt = queries.select(col("query_id"),
      col("qpos").cast("long").as("qpos"), col("term"))
    // The query-set planning state (unigrams, bigrams, term list) is
    // built on the driver from ONE bounded collect and re-enters the
    // plan as LocalRelations: `distinct` and self-join jobs over a
    // handful of query rows cost a shuffle each.
    val qtRows = qt.collect().toSeq
    val (qidF, termF) = (qt.schema("query_id"), qt.schema("term"))
    val (taF, tbF) = (termF.copy(name = "ta"), termF.copy(name = "tb"))
    def rowsOf(rows: Seq[Row], fields: StructField*): DataFrame =
      local(queries.sparkSession, rows.distinct, StructType(fields))
    val uni = rowsOf(qtRows.map(r => Row(r.get(0), r.get(2))), qidF, termF)
    val qtermList = qtRows.map(_.getString(2)).distinct
    val cfT = slice.groupBy("term")
      .agg(sum(col("tf")).cast("double").as("cf"))
    val cand = slice.join(broadcast(uni), "term")
      .select("query_id", "doc_id", "dl").distinct()
    def smoothed(tfCol: Column, cfCol: Column): Column =
      round(log((coalesce(tfCol, lit(0L)).cast("double") +
          lit(mu) * cfCol / col("c_total")) /
        (col("dl").cast("double") + lit(mu))), 9).cast(D)
    // ---- T: unigram QL (d144's arm, kept as a per-(query,doc) sum).
    // Round-20 negative result, measured and reverted: tagging the
    // three families' contribution rows and folding them through ONE
    // union + conditional-sum aggregation (3 same-key Exchanges +
    // 2 assembly joins → 1 Exchange) was bit-identical but SLOWER at
    // sf0.1 under a controlled N=5 A/B (d147 2.10 → 2.31 s, d150
    // 2.19 → 2.67 s): the per-family aggregations collapse their rows
    // map-side to ≤|cand| before their exchanges and the assembly
    // joins ride broadcast/co-partitioning, so the union bought no
    // byte reduction — only a wider final aggregate.
    val sumT = cand
      .join(broadcast(uni), Seq("query_id"))
      .join(broadcast(cfT), Seq("term"))
      .join(slice.select(col("doc_id"), col("term"), col("tf")),
        Seq("doc_id", "term"), "left")
      .crossJoin(broadcast(coll))
      .withColumn("contrib", smoothed(col("tf"), col("cf")))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("contrib")).as("sT"))
    // ---- adjacent query bigrams; window counts per DISTINCT bigram
    // (shared across queries — the d141 term-sharing discipline). The
    // self-join `x.query_id = y.query_id AND y.qpos = x.qpos + 1` runs
    // on the driver: a null query_id or qpos matches nothing, and
    // repeated (query, qpos) rows pair up as the join's product would.
    val byPos = qtRows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .groupBy(r => (r.get(0), r.getLong(1)))
    val bgRows: Seq[Row] = byPos.toSeq.flatMap { case ((q, p), xs) =>
      byPos.getOrElse((q, p + 1), Seq.empty[Row])
        .flatMap(y => xs.map(x => Row(q, x.get(2), y.get(2))))
    }
    val bg = rowsOf(bgRows, qidF, taF, tbF)
    val bgd = rowsOf(bgRows.map(r => Row(r.get(1), r.get(2))), taF, tbF)
    val ps = termSlice(posPosts, qtermList)
    // Materialized: BOTH families' cf aggregations and doc-joins read
    // it (4 consumers) — left as lineage the position join re-runs
    // per consumer (the d100 FileScan-dedup lesson, applied to the
    // plan's own heaviest join). Bounded: one row per (doc, bigram).
    val winDoc = sdmWindowCounts(ps, bgd, window).localCheckpoint()
    // tfo = 0 rows must NOT reach the ordered family: the old ordered
    // join produced no row there, and a cf_o row for a bigram never
    // seen ordered-adjacent would put ln(0) = −∞ into the sum (the
    // collection-absent drop). filter BEFORE the cf aggregation.
    val ordDoc = winDoc.filter(col("tfo") > 0)
      .select(col("doc_id"), col("ta"), col("tb"), col("tfo"))
    val unoDoc = winDoc.select("doc_id", "ta", "tb", "tfu")
    def familySum(doc: DataFrame, tfName: String,
                  outName: String): DataFrame = {
      val cf = doc.groupBy("ta", "tb")
        .agg(sum(col(tfName)).cast("double").as("cf"))
      cand.join(broadcast(bg), Seq("query_id"))
        .join(broadcast(cf), Seq("ta", "tb"))
        .join(doc, Seq("doc_id", "ta", "tb"), "left")
        .crossJoin(broadcast(coll))
        .withColumn("contrib", smoothed(col(tfName), col("cf")))
        .groupBy("query_id", "doc_id")
        .agg(sum(col("contrib")).as(outName))
    }
    // ---- assembly: every candidate has a T row (candidates match
    // ≥ 1 surviving unigram); O/U families may be empty for a query
    // (all its bigrams collection-absent) → contribute 0
    val byScore = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("doc_id").asc)
    sumT
      .join(familySum(ordDoc, "tfo", "sO"),
        Seq("query_id", "doc_id"), "left")
      .join(familySum(unoDoc, "tfu", "sU"),
        Seq("query_id", "doc_id"), "left")
      .withColumn("score",
        round(lit(lamT) * col("sT").cast("double") +
          lit(lamO) * coalesce(col("sO").cast("double"), lit(0.0)) +
          lit(lamU) * coalesce(col("sU").cast("double"), lit(0.0)), 6))
      .withColumn("rk", row_number().over(byScore).cast("long"))
      .filter(col("rk") <= k)
      .select("query_id", "rk", "doc_id", "score")
  }

  /** ONE window join for BOTH SDM families (r18 verdict #2): the
    * ordered condition (`pb = pa + 1`) is a strict subset of the
    * unordered (`|pb − pa| < window ∧ pb ≠ pa`), so a single join
    * on the unordered predicate plus conditional aggregation yields
    * `tfo` and `tfu` together — `(doc_id, ta, tb, tfo, tfu)`, one
    * row per (doc, bigram) with ≥ 1 unordered co-occurrence.
    *
    * The band is BINNED (q88's range-join discipline, r18 verdict
    * #3): positions bucket by the window width (exact integer
    * arithmetic — the numerator is an exact multiple of `window`,
    * so the double division never mis-bins a boundary), the pa side
    * fans to its 3 adjacent buckets, and the join is a pure
    * equi-join on (doc, tb, bucket) — any pb with |pb − pa| <
    * window lands in exactly ONE of pa's 3 buckets, so no pair
    * duplicates and no pair escapes. Per-(doc, bigram) cost falls
    * from tf_a·tf_b to Σ_bucket (per-bucket products) — on stopword
    * bigrams at 100× this is the difference between a per-doc
    * quadratic blowup and near-linear work (the `sdmwin` Scale arm
    * measures exactly this fragment against the unbinned shape).
    *
    * `ps` is a positions relation already restricted to the bigram
    * terms (or a superset); `bgd` the distinct `(ta, tb)` bigram
    * set (broadcast). Exposed `private[graft]` so the Scale probe
    * shares the operator's lineage. */
  private[graft] def sdmWindowCounts(ps: DataFrame, bgd: DataFrame,
                                     window: Int): DataFrame = {
    def posBin(c: Column): Column =
      ((c - pmod(c, lit(window))) / lit(window)).cast("long")
    val pA = ps.select(col("doc_id"), col("term").as("ta"),
      col("pos").as("pa"))
    val pB = ps.select(col("doc_id").as("doc_b"),
      col("term").as("tb2"), col("pos").as("pb"))
      .withColumn("bb", posBin(col("pb")))
    val fan = pA.join(broadcast(bgd), Seq("ta"))
      .withColumn("bb", explode(array(
        posBin(col("pa")) - 1, posBin(col("pa")),
        posBin(col("pa")) + 1)))
    fan.join(pB,
        col("doc_b") === col("doc_id") && col("tb2") === col("tb") &&
          pB("bb") === fan("bb") &&
          abs(col("pb") - col("pa")) < lit(window) &&
          col("pb") =!= col("pa"))
      .groupBy(col("doc_id"), col("ta"), col("tb"))
      .agg(count(when(col("pb") === col("pa") + 1, 1)).cast("long")
          .as("tfo"),
        count(lit(1)).cast("long").as("tfu"))
  }

  /** RM3-style pseudo-relevance feedback (Lavrenko & Croft's SIGIR'01
    * relevance model with the RM3 interpolation of the original
    * query), set-at-a-time over the postings relation — the standard
    * recall fix for vocabulary mismatch in eval-set mining:
    *
    *  1. FEEDBACK: BM25 top-`fbDocs` per query ([[bm25TopK]]
    *     verbatim);
    *  2. EXPANSION: relevance-model term weights from the feedback
    *     docs' postings — `w(t|q) = Σ_d tf(t,d)/dl(d)` (each part
    *     rounded to 9 and summed as DECIMAL so the weight is
    *     aggregation-order-free) — top-`fbTerms` per query by
    *     (weight desc, term asc), original query terms excluded;
    *  3. RESCORE: one weighted BM25 pass over original terms at
    *     weight 1.0 plus expansion terms at weight `beta` (keep beta
    *     a power of two — 0.5 — so the weight multiply is IEEE-exact
    *     and cross-engine stable).
    *
    * The expansion term relation is a |queries|·fbTerms-row DataFrame
    * that joins (broadcast) into the second scoring pass exactly like
    * the original query set; the only driver crossings are BOUNDED
    * collects of the weighted term set (round 19 — the w25/w30
    * discipline, needed so stage 3's slice is a literal In filter
    * that pushes below a raw postings aggregation). Scale shape:
    * stage 2 touches only the feedback docs' postings rows (a
    * broadcast semi-join of fbDocs·|Q| doc ids against the index),
    * and stage 3 is a d67-shaped serve over ≤ |orig| + fbTerms terms
    * per query.
    *
    * `posts` may be a persisted index read, a memoized checkpoint,
    * or RAW postings lineage. Raw lineage re-runs the corpus SCAN
    * once per stage (Catalyst does not dedupe FileScans across
    * differently-filtered branches — the d100 lesson), but since
    * round 19 each stage pushes its own literal pruning filter below
    * the postings aggregation (orig terms / feedback doc ids /
    * weighted terms), so none of the three passes pays a corpus-wide
    * aggregation or shuffle — three cheap pruned scans beat one full
    * unfiltered materialization plus its corpus-sized pin. A
    * PRE-MATERIALIZED posts stays right when many calls amortize one
    * pin (the w38 per-stream shape). */
  def rm3TopK(posts: DataFrame, queries: DataFrame, stats0: DataFrame,
              fbDocs: Int, fbTerms: Int, beta: Double, k: Int,
              k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val spark = posts.sparkSession
    // one row; raw corpusStats lineage would re-run its corpus
    // tokenize in BOTH the stage-1 feedback job and the final plan
    val stats = localOf(stats0)
    val orig = queries.select(col("query_id"), col("term")).distinct()
    // Feedback set collected ONCE (round 20, verdict r19 #5 — it was
    // a localCheckpoint job + a separate doc-id collect, two
    // serialized driver barriers): the fbDocs·|Q| rows are tiny, so
    // one collect feeds BOTH the literal doc filter and — as a
    // LocalRelation — the query_id-attach join (broadcast builds
    // from driver data, no extra job).
    val fbDf = bm25TopK(posts, queries, stats, fbDocs, k1, b)
      .select("query_id", "doc_id")
    val fbRows = fbDf.collect()
    val fb = spark.createDataFrame(
      java.util.Arrays.asList(fbRows: _*), fbDf.schema)
    // Literal doc_id filter BEFORE the attach join (round 19, the
    // termSlice discipline on the doc axis): on raw postings lineage
    // it pushes below the (doc, term) aggregation all the way into
    // the corpus scan (PushedFilters: doc_id IN …), so stage 2 reads
    // only the feedback docs instead of aggregating every corpus
    // token to keep fbDocs·|Q| of them. The join stays (it attaches
    // query_id and handles a doc feeding several queries' feedback
    // sets).
    val fbIds = fbRows.map(_.getLong(1)).distinct.toSeq
    val expansion = posts
      .filter(col("doc_id").isInCollection(fbIds))
      .join(broadcast(fb), "doc_id")
      .select(col("query_id"), col("term"),
        round(col("tf").cast("double") / col("dl"), 9)
          .cast(org.apache.spark.sql.types.DecimalType(28, 9))
          .as("wpart"))
      .groupBy("query_id", "term")
      .agg(sum(col("wpart")).as("wsum"))
      .join(orig, Seq("query_id", "term"), "left_anti")
      .withColumn("erk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("wsum").desc, col("term").asc)))
      .filter(col("erk") <= fbTerms)
      .select(col("query_id"), col("term"), lit(beta).as("w"))
    // Collected ONCE (round 20, fusing round 19's pin + term
    // collect): stage 3 needs the weighted terms as a literal slice
    // filter AND the (term, w) rows in the scoring join — one
    // collect of the |Q|·(|orig terms| + fbTerms)-row frame yields
    // both (the term list locally, the join side as a
    // LocalRelation), where the r19 shape paid a localCheckpoint job
    // for the pipeline plus a second collect job for the terms.
    val weightedDf = orig.withColumn("w", lit(1.0)).unionByName(expansion)
    val wRows = weightedDf.collect()
    val weighted = spark.createDataFrame(
      java.util.Arrays.asList(wRows: _*), weightedDf.schema)
    val termIdx = weightedDf.schema.fieldIndex("term")
    val slice = termSlice(posts,
      wRows.map(_.getString(termIdx)).distinct.toSeq)
    val scored = slice
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .join(broadcast(weighted), "term")
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
      .withColumn("contrib",
        round(col("w") * col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl") / col("avgdl"))), 9)
          .cast(org.apache.spark.sql.types.DecimalType(28, 9)))
    gatherTopK(scored, k)
  }

  /** Passage-level "MaxP" long-document retrieval (Dai & Callan,
    * SIGIR'19 — score passages, rank documents by their BEST
    * passage): the fix for BM25's length normalization burying a
    * long document whose relevant content is one tight span.
    * `chunkPosts` is [[postings]] over the PASSAGE relation (each
    * chunk a pseudo-doc, its id encoding the parent via `docIdOf`),
    * `stats` the passage-level corpus constants; scoring is the d67
    * plan verbatim at passage granularity, then one extra
    * (query, doc) MAX collapses passages into documents before the
    * bounded top-k window. Scale shape: identical to [[bm25TopK]]
    * (broadcast query slice, window df) plus one more hash
    * aggregation over the already per-(query, passage) rows —
    * passage explosion multiplies the INDEX (≈ ×(1 + overlap/stride)
    * tokens), never the serve-time row counts. */
  def bm25MaxPTopK(chunkPosts: DataFrame, queries: DataFrame,
                   stats: DataFrame, docIdOf: Column => Column,
                   k: Int, k1: Double = 1.2,
                   b: Double = 0.75): DataFrame = {
    val slice = termSlice(chunkPosts, termsOf(queries))
    val scored = slice
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .join(broadcast(queries), "term")
      .crossJoin(broadcast(stats))
    contrib(scored, k1, b)
      .groupBy("query_id", "doc_id")      // doc_id = passage id here
      .agg(round(sum(col("contrib")).cast("double"), 6).as("pscore"))
      .select(col("query_id"),
        docIdOf(col("doc_id")).as("doc_id"), col("pscore"))
      .groupBy("query_id", "doc_id")
      .agg(max(col("pscore")).as("score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rk") <= k)
      .select("query_id", "rk", "doc_id", "score")
  }

  /** POSITIONAL postings `(doc_id, term, pos)` — pos is the 1-based
    * token index, the extra column a positional index stores so
    * phrase and proximity queries exist at all (Lucene's positions
    * stream, relational). One explode, rides the corpus scan; at
    * scale this persists next to the frequency postings under the
    * same term buckets. */
  def positionalPostings(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    docs
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos0", "term")))
      .filter(length(col("term")) > 0)
      .select(col("doc_id"), col("term"),
        (col("pos0") + 1).cast("long").as("pos"))

  /** Exact PHRASE occurrences by positional intersection: a phrase of
    * n terms matches at start position s iff term i sits at s + i for
    * every i — the classic positional-postings algorithm, set-at-a-
    * time: each posting row anchors the start its term would imply
    * (`pos − offset`), and a start with ALL n distinct offsets
    * present is an occurrence (`countDistinct` handles repeated
    * terms in the phrase — "a b a" needs offsets {0,1,2}, and one
    * 'a' position can anchor two different starts). The phrase set
    * broadcasts; the postings side never shuffles except the one
    * (query, doc, start) aggregation. `phrases` is
    * `(query_id, terms ARRAY<STRING>)`; output
    * `(query_id, doc_id, n_occ)` for docs with ≥ 1 occurrence. */
  def phraseOccurrences(posPosts: DataFrame,
                        phrases: DataFrame): DataFrame = {
    val qtok = phrases
      .select(col("query_id"), size(col("terms")).as("plen"),
        posexplode(col("terms")).as(Seq("off", "term")))
    posPosts
      .join(broadcast(qtok), "term")
      .select(col("query_id"), col("doc_id"), col("plen"),
        (col("pos") - col("off")).as("start"), col("off"))
      .groupBy("query_id", "doc_id", "plen", "start")
      .agg(countDistinct(col("off")).as("nm"))
      .filter(col("nm") === col("plen"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).cast("long").as("n_occ"))
  }

  /** Term-PROXIMITY re-ranking — the classic two-stage serve: BM25
    * nominates `kCand` candidates per query (first-pass plan d67
    * verbatim), then only those docs' query-term POSITIONS are
    * fetched (broadcast semi-join against the candidate set — the
    * positions never shuffle corpus-wide) and each candidate gets a
    * bonus from its tightest pair of DISTINCT query terms:
    * `score' = round(score + 1/(1 + min |pa − pb|), 6)`. Docs
    * containing only one distinct query term keep their BM25 score
    * (bonus 0). The min distance comes from one sorted-adjacent
    * `lag` window over the candidate docs' positions (see
    * [[minCrossTermGap]]) — linear in candidate-doc term
    * occurrences, never pairwise and never corpus-sized. */
  def proximityRerank(posts: DataFrame, posPosts: DataFrame,
                      queries: DataFrame, stats: DataFrame,
                      kCand: Int, k: Int, k1: Double = 1.2,
                      b: Double = 0.75): DataFrame =
    proximityRescore(bm25TopK(posts, queries, stats, kCand, k1, b),
      posPosts, queries, k)

  /** [[proximityRerank]] served from a PERSISTED positional index
    * (an index written `withPositions = true`): the candidate pass
    * is the stored-df scorer over the pruned postings slice (d75's
    * serve shape), the positions come from the pruned positions
    * slice — the corpus is never re-tokenized. Bit-identical to the
    * batch path (the stored-df/window-df equality is spec-gated). */
  def proximityRerankIndexed(spark: org.apache.spark.sql.SparkSession,
                             dir: String, nBuckets: Int,
                             queries: DataFrame, terms: Seq[String],
                             kCand: Int, k: Int): DataFrame = {
    // candidates via the SERVABLE slice (r18 verdict #1): a deleted
    // doc must not be nominated between deleteDocs and compaction —
    // identical to readIndexSlice when no tombstones exist.
    val snap = new Snapshot(spark, dir)
    val cand = bm25TopKIndexed(
      snap.servable(snap.indexSlice(terms, nBuckets)), queries,
      snap.bm25Stats, kCand)
    proximityRescore(cand,
      snap.servable(snap.slice("positions", terms, nBuckets)), queries, k)
  }

  /** The rescore half of the proximity serve: `cand` is
    * `(query_id, doc_id, score)` (any first-pass scorer), `posSlice`
    * the positions relation covering at least the query terms.
    *
    * `cand` is PINNED (localCheckpoint): it feeds the semi-join AND
    * the final rescore — left as lineage each would re-derive the
    * whole first-pass plan (corpus scans included) once per
    * reference, the d100 multi-scan failure. It is small by
    * construction (kCand·|Q| rows). `qp` has exactly ONE consumer
    * since the round-20 lag-window rewrite (it was both sides of the
    * old pair join), so it stays lineage — no pin job. */
  private def proximityRescore(cand0: DataFrame, posSlice: DataFrame,
                               queries: DataFrame, k: Int): DataFrame = {
    val cand = cand0.localCheckpoint()
    val qp = posSlice
      .join(broadcast(queries.select("query_id", "term").distinct()),
        "term")
      .join(broadcast(cand.select("query_id", "doc_id")),
        Seq("query_id", "doc_id"), "left_semi")
    val mind = minCrossTermGap(qp)
    cand
      .join(mind, Seq("query_id", "doc_id"), "left")
      .select(col("query_id"), col("doc_id"),
        round(col("score") +
          coalesce(lit(1.0) / (lit(1.0) + col("mind")), lit(0.0)), 6)
          .as("score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rk") <= k)
      .select("query_id", "rk", "doc_id", "score")
  }

  /** min |pa − pb| over pairs of DISTINCT-term positions within each
    * (query, doc), via ONE sorted-adjacent `lag` window instead of
    * the pa×pb position pair join (round 20 — the d147-before
    * pathology: the pair join built tf_a·tf_b rows per candidate doc
    * before aggregating, quadratic in per-doc term frequency; a hot
    * doc at tf≈2500/term paid ~6M pairs). EXACT, not approximate:
    * walking the position-sorted chain between any distinct-term
    * pair, some adjacent step changes term, and that step's gap is
    * ≤ the pair's total gap — so the minimum over adjacent
    * different-term steps equals the minimum over ALL distinct-term
    * pairs (adjacent steps are themselves eligible pairs). Docs with
    * one distinct query term yield no different-term step → no row,
    * matching the old join's empty pair set. Cost: one sort per
    * (query, doc) group — linear in positions, never pairwise.
    * Exposed `private[graft]` so the Scale `proxwin` probe measures
    * the operator's own lineage (the sdmWindowCounts discipline). */
  private[graft] def minCrossTermGap(qp: DataFrame): DataFrame = {
    val byPos = Window.partitionBy("query_id", "doc_id")
      .orderBy(col("pos").asc, col("term").asc)
    qp
      .select(col("query_id"), col("doc_id"), col("term"), col("pos"))
      .withColumn("ptm", lag(col("term"), 1).over(byPos))
      .withColumn("ppos", lag(col("pos"), 1).over(byPos))
      .filter(col("ptm") =!= col("term"))   // null ptm (first row) drops
      .groupBy("query_id", "doc_id")
      .agg(min(col("pos") - col("ppos")).as("mind"))
  }

  /** Shared scoring tail: expects (query_id, doc_id, term, tf, dl, df,
    * n_docs, avgdl) rows; one (query, doc) aggregation + a bounded
    * per-query window. */
  private def rank(scoredInput: DataFrame, k: Int,
                   k1: Double, b: Double): DataFrame =
    gatherTopK(contrib(scoredInput, k1, b), k)

  /** The (query, doc) gather under the bounded per-query window,
    * shared by every scorer that produces per-row DECIMAL `contrib`
    * columns (plain BM25, the weighted RM3 second pass). */
  private def gatherTopK(contribRows: DataFrame, k: Int): DataFrame =
    contribRows
      .groupBy("query_id", "doc_id")
      .agg(round(sum(col("contrib")).cast("double"), 6).as("score"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .filter(col("rk") <= k)
      .select("query_id", "rk", "doc_id", "score")

  /** Per-row BM25 contribution: rounds to 9 decimals and casts to
    * DECIMAL so the (query, doc) sum is aggregation-order-free.
    * Expects (term, tf, dl, df, n_docs, avgdl) columns. */
  private def contrib(rows: DataFrame, k1: Double, b: Double): DataFrame =
    rows
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))))
      .withColumn("contrib",
        round(col("idf") * (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl") / col("avgdl"))), 9)
          .cast(org.apache.spark.sql.types.DecimalType(28, 9)))

  /** MaxScore-pruned BM25 (Turtle & Flood, IPM 1995 — the term-bound
    * pruning family WAND/BMW descend from), reformulated for a
    * set-at-a-time engine. LOSSLESS: returns bit-identical output to
    * [[bm25TopK]] — the pruning threshold is a provable lower bound on
    * the k-th best final score and the term bounds are provable upper
    * bounds on per-term contributions, so no top-k doc can be pruned.
    *
    * Why it matters at scale: the exhaustive scorer aggregates EVERY
    * posting row of every query term. Real query mixes pair rare terms
    * (tiny postings, high idf) with stopword-class terms (huge
    * postings, tiny idf). MaxScore classifies the low-bound terms as
    * NON-ESSENTIAL — a doc matching only those provably can't reach
    * the top-k — so the giant posting lists stop feeding the scoring
    * aggregation and survive only as a semi-join probe for the docs
    * the essential (rare) lists nominate. Rows entering the score
    * aggregation collapse from Σ|postings| to
    * |essential postings| + |candidate rows in non-essential lists|.
    *
    * The distributed reformulation (document-at-a-time heaps don't
    * exist here):
    *  1. per (query, term) upper bound `ub = idf·(k1+1) + 1e-9` — the
    *     tf-fraction is < k1+1 for any tf ≥ 1 (its limit), and the
    *     1e-9 pad dominates the 5e-10 the 9-decimal contribution
    *     rounding can add;
    *  2. threshold θ per query = the k-th best SINGLE-TERM score using
    *     only the query's highest-ub term (contributions are
    *     positive, so any doc's partial score is ≤ its final score,
    *     and the k-th best partial is ≤ the k-th best final — a valid
    *     lower bound obtained from the CHEAPEST list worth scanning);
    *     fewer than k docs → θ = -∞, nothing prunes;
    *  3. a term is non-essential iff the cumulative ub sum in
    *     ub-ascending order stays < θ − 1e-6 (the full last-digit ulp
    *     of the 6-decimal final rounding — a pruned doc's true sum is
    *     < θ − 1e-6, so even rounded UP it stays strictly below θ and
    *     can't displace a top-k doc on the doc_id tiebreak);
    *  4. candidates = docs appearing in ≥1 essential list; exact
    *     scores for candidates only, over ALL their rows (essential
    *     and not — scores must be exact), via a semi-join.
    *
    * All per-(query,term) planning state (ub, θ, essential flags) is
    * query-set-sized → broadcast; the only index-sized work is the
    * essential-list scoring and the candidate semi-join. */
  def maxScoreTopK(posts: DataFrame, queries: DataFrame, stats: DataFrame,
                   k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val slice = termSlice(posts, termsOf(queries))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
    maxScoreFromSlice(slice, queries, stats, k, k1, b)
  }

  /** MaxScore over a slice that already carries `df` (either the
    * window-derived serve slice of [[maxScoreTopK]] or the stored
    * dictionary layout of [[readIndexSlice]] — the streamed serve
    * path). See [[maxScoreTopK]] for the algorithm + proof sketch. */
  def maxScoreFromSlice(slice: DataFrame, queries: DataFrame,
                        stats: DataFrame, k: Int, k1: Double = 1.2,
                        b: Double = 0.75): DataFrame = {
    val (_, scored) = maxScorePlan(slice, queries, stats, k, k1, b)
    rank(scored, k, k1, b)
  }

  /** The row volumes the probe arm measures: (exhaustive rows the
    * plain scorer aggregates, rows surviving the MaxScore prune).
    * Shares [[maxScorePlan]]'s lineage with the real operator so the
    * probe can't drift from what the query runs. */
  def maxScoreRowCounts(posts: DataFrame, queries: DataFrame,
                        stats: DataFrame, k: Int, k1: Double = 1.2,
                        b: Double = 0.75): (Long, Long) = {
    val slice = termSlice(posts, termsOf(queries))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
    maxScoreRowCountsFromSlice(slice, queries, stats, k, k1, b)
  }

  /** MaxScore serving from the PERSISTED index — the production shape:
    * planning runs on the DICTIONARY, not the postings. The term
    * bounds come from a partition-pruned read of `terms/` (vocab-of-
    * query-terms-sized), the θ pass reads ONLY the driver terms'
    * buckets, the candidate pass ONLY the essential terms' buckets —
    * so when a query's essential lists are its rare terms (the mix
    * MaxScore exists for), the only corpus-sized work left is the
    * single full-slice scan feeding the final semi-joined scoring,
    * whose aggregation input is candidate-sized. All planning state
    * is query-set-sized and crosses the driver as bounded collects
    * (the w25/w30 serve discipline). Output is bit-identical to
    * [[bm25TopKIndexed]] over the same index — same bounds/threshold
    * proofs as [[maxScoreTopK]].
    *
    * Tombstone-aware: every postings read routes through
    * [[readServableSlice]], so a post-delete, pre-compaction index
    * serves the SURVIVING docs only (with the documented stale df) —
    * including the θ pass, whose k-th-best-partial threshold must be
    * computed over servable docs or it could exceed the true k-th
    * best among survivors and prune a doc that belongs in the top-k.
    *
    * Degenerate-regime guard: the candidate broadcast is bounded by
    * the ESSENTIAL lists' total df. When the query profile defeats
    * the prune — every term common (all essential, θ unreachable by
    * the ub sums) or fewer than k matching docs (θ absent) — that
    * bound approaches the corpus and the broadcast would OOM, so the
    * plan-time decision falls back to the exhaustive
    * [[bm25TopKIndexed]] over the same servable slice (bit-identical
    * output — MaxScore is lossless, so the switch is invisible in
    * results). The threshold is `maxCandidatePostings`, the decision
    * input is the pruned dictionary's df profile, and both are
    * query-set-sized driver state. */
  def maxScoreIndexedTopK(spark: org.apache.spark.sql.SparkSession,
                          dir: String, queries: DataFrame, k: Int,
                          nBuckets: Int, k1: Double = 1.2,
                          b: Double = 0.75,
                          maxCandidatePostings: Long = 1L << 20)
      : DataFrame =
    maxScoreIndexedPlan(spark, dir, queries, k, nBuckets, k1, b,
      maxCandidatePostings)._2

  /** [[maxScoreIndexedTopK]] plus the chosen path tag ("maxscore" |
    * "exhaustive") so specs can assert the degenerate-regime switch
    * actually takes the fallback. */
  private[graft] def maxScoreIndexedPlan(
      spark: SparkSession,
      dir: String, queries: DataFrame, k: Int, nBuckets: Int,
      k1: Double, b: Double, maxCandidatePostings: Long)
      : (String, DataFrame) = {
    import spark.implicits._
    val snap = new Snapshot(spark, dir)
    val qs = localOf(queries)                // bounded: the query set
    val qrows = qs.select(col("query_id").cast("long"), col("term"))
      .as[(Long, String)].collect()
    val qterms = qrows.map(_._2).distinct.toSeq
    val stats = snap.bm25Stats
    val nDocs = snap.stats.head().getLong(0)
    // dictionary slice: pruned, vocab-of-query-terms sized. Collected
    // once, it is both the df map of the planning below and, as a
    // LocalRelation, the broadcast side of every slice this serve
    // reads — no second dictionary read.
    val dict = localOf(snap.slice("terms", qterms, nBuckets)
      .select(col("term"), col("df").cast("long")))
    val dfMap = dict.as[(String, Long)].collect().toMap
    def servable(ts: Seq[String]): DataFrame =
      snap.servable(snap.withDf(ts, nBuckets, dict))
    def exhaustive: DataFrame =
      rank(servable(qterms)
        .join(broadcast(qs), "term").crossJoin(broadcast(stats)),
        k, k1, b)
    def ubOf(t: String): Double =
      math.log(1.0 + (nDocs - dfMap(t) + 0.5) / (dfMap(t) + 0.5)) *
        (k1 + 1.0) + 1e-9
    // per query, its indexed terms WITH their multiplicity: a term
    // the query repeats scores once per occurrence (the batch scorer
    // joins every query row), so its bound must count as often — the
    // batch planning's per-row termBounds. Deduplicated, a doc
    // matching only a repeated term could score above θ yet be pruned.
    val byQ = qrows.filter(r => dfMap.contains(r._2))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    if (byQ.isEmpty) return ("exhaustive", exhaustive)
    // θ per query from the highest-ub (driver) term's list only —
    // ties break to the lexicographically smallest term, matching
    // maxScorePlan's (ub desc, term asc) window.
    val driverTerm: Map[Long, String] =
      byQ.view.mapValues(ts => ts.minBy(t => (-ubOf(t), t))).toMap
    val dq = driverTerm.toSeq.toDF("query_id", "term")
    val thetaMap = contrib(
        servable(driverTerm.values.toSeq.distinct)
          .join(broadcast(dq), "term").crossJoin(broadcast(stats)),
        k1, b)
      .select(col("query_id"), col("doc_id"),
        round(col("contrib").cast("double"), 6).as("partial"))
      .withColumn("r", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("partial").desc, col("doc_id").asc)))
      .filter(col("r") === k)
      .select(col("query_id").cast("long"), col("partial"))
      .as[(Long, Double)].collect().toMap    // bounded: one row/query
    // essential per query: ub-ascending running total reaches θ − ulp
    val essential: Seq[(Long, String)] = byQ.toSeq.flatMap {
      case (q, ts) =>
        val ordered = ts.sortBy(t => (ubOf(t), t))
        thetaMap.get(q) match {
          case None => ordered.map(q -> _)
          case Some(th) =>
            var cum = 0.0
            ordered.flatMap { t =>
              cum += ubOf(t)
              if (cum >= th - 1e-6) Some(q -> t) else None
            }
        }
    }
    // The plan-time switch (dictionary df profile → scorer): Σ df
    // over the essential (query, term) pairs bounds the candidate
    // set — the broadcast the pruned path is about to make. Stale
    // dictionary df after deletes only OVERcounts (df never grows
    // stale-downward), so the guard errs toward the safe fallback.
    val essentialDf = essential.iterator.map { case (_, t) => dfMap(t) }.sum
    if (essentialDf > maxCandidatePostings)
      return ("exhaustive", exhaustive)
    val candidates = servable(essential.map(_._2).distinct)
      .join(broadcast(essential.toDF("query_id", "term")), Seq("term"))
      .select("query_id", "doc_id").distinct()
    // candidate-side assembly — the maxScorePlan shape: the one
    // corpus-sized scan is probed by a broadcast hash join on doc_id;
    // the full query-join never materializes.
    ("maxscore", rank(
      servable(qterms)
        .join(broadcast(candidates), "doc_id")
        .join(broadcast(qs), Seq("query_id", "term"))
        .crossJoin(broadcast(stats)),
      k, k1, b))
  }

  /** [[maxScoreRowCounts]] over a stored-df slice (the indexed serve
    * shape the scale probe measures). */
  def maxScoreRowCountsFromSlice(slice: DataFrame, queries: DataFrame,
                                 stats: DataFrame, k: Int,
                                 k1: Double = 1.2, b: Double = 0.75)
      : (Long, Long) = {
    val (qslice, scored) = maxScorePlan(slice, queries, stats, k, k1, b)
    (qslice.count(), scored.count())
  }

  /** `df` collected (with `distinct`, deduplicated on the driver) and
    * re-entered as a LocalRelation — the w25/w30 discipline. Only
    * bounded frames come here: a stats row, a query set. Round 20
    * applied it to `stats`: the batch scorers receive stats as RAW
    * corpus lineage (`corpusStats` — a full tokenize + aggregate),
    * and the multi-JOB paths evaluated it once per job: rm3's
    * feedback collect and final plan each paid it, WAND/MaxScore's
    * termBounds collect, θ job and scoring plan paid it three times
    * (AQE's exchange reuse dedupes identical broadcast subtrees only
    * WITHIN a plan, never across jobs). One bounded collect makes
    * every later consumer a literal; a collect over a LocalRelation
    * runs no job at all. Values identical: the same rows, evaluated
    * once. */
  private def localOf(df: DataFrame, distinct: Boolean = false): DataFrame = {
    val rows = df.collect()
    local(df.sparkSession, if (distinct) rows.distinct.toSeq else rows.toSeq,
      df.schema)
  }
  private def local(spark: SparkSession, rows: Seq[Row],
                    schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** The planning state the MaxScore/WAND family shares, computed
    * once per serve over a stored-df slice: per-(query,term) upper
    * bounds, the per-query threshold θ, and the essential term set.
    * All three are query-set-sized → broadcast everywhere they are
    * consumed. See [[maxScoreTopK]] for the bound proofs.
    *
    *  - `termBounds` — `(query_id, term, ub)`, ub = idf·(k1+1)+1e-9
    *    from the vocab-sized (term, df) projection (partial
    *    aggregation collapses it map-side; the planning never
    *    shuffles or re-joins the posting rows themselves);
    *  - `theta` — `(query_id, theta)`, the k-th best SINGLE-term
    *    6-dp score on each query's highest-ub (driver) term — a
    *    provable lower bound on the k-th best final score; queries
    *    with fewer than k docs on the driver list emit no row
    *    (nothing prunes);
    *  - `essential` — `(query_id, term)`: terms whose ub-ascending
    *    running total reaches θ − 1e-6 (the full last-digit ulp of
    *    the 6-decimal final rounding). */
  private def pruningPlanning(slice: DataFrame, queries: DataFrame,
                              stats: DataFrame, k: Int, k1: Double,
                              b: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    val spark = slice.sparkSession
    // All three planning relations are query-set-sized, so they cross
    // the driver as BOUNDED collects and re-enter every consumer as
    // LocalRelations (round 20 — the maxScoreIndexedPlan discipline
    // applied to the batch path): left declarative, each of the
    // nominate / pivot / scoring consumers re-embedded the ENTIRE
    // planning lineage (θ contains termBounds, essential contains
    // both), so one wandTopK plan re-evaluated the slice — its
    // term-window Exchange included — once per replica. ub values are
    // still computed by the same Spark expression, then collected;
    // the driver-side argmax/cumsum below reproduce the old windows'
    // (ub desc, term asc) pick and (ub asc, term asc) left-to-right
    // double accumulation order for bit-identical planning state.
    val tbDf = slice.select(col("term"), col("df")).distinct()
      .join(broadcast(queries), "term")
      .crossJoin(broadcast(stats.select("n_docs")))
      .withColumn("ub",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) * lit(k1 + 1.0) + lit(1e-9))
      .select("query_id", "term", "ub")
    val tbRows = tbDf.collect()                // bounded: query terms
    val termBounds = local(spark, tbRows.toSeq, tbDf.schema)
    val byQ = tbRows.groupBy(_.get(0))         // query_id, any id type
    // θ: per query, the k-th best single-term 6-dp score on the
    // highest-ub (driver) term's list — the one posting-sized
    // planning job, collected to one row per query.
    val driverRows = byQ.values.map(rs =>
      rs.minBy(r => (-r.getDouble(2), r.getString(1)))).toSeq
    val driverTerm = local(spark, driverRows, tbDf.schema)
      .select("query_id", "term")
    val thetaDf = contrib(
        slice.join(broadcast(driverTerm), "term")
          .crossJoin(broadcast(stats)),
        k1, b)
      .select(col("query_id"), col("doc_id"),
        round(col("contrib").cast("double"), 6).as("partial"))
      .withColumn("r", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("partial").desc, col("doc_id").asc)))
      .filter(col("r") === k)
      .select(col("query_id"), col("partial").as("theta"))
    val thRows = thetaDf.collect()             // bounded: ≤ 1 row/query
    val theta = local(spark, thRows.toSeq, thetaDf.schema)
    val thMap = thRows.map(r => r.get(0) -> r.getDouble(1)).toMap
    // essential: ub-ascending running total reaches θ − 1e-6; the
    // fold runs in the exact (ub asc, term asc) order of the old
    // running-sum window, so the cumulative doubles are identical.
    val essRows = byQ.toSeq.flatMap { case (q, rs) =>
      val ordered = rs.sortBy(r => (r.getDouble(2), r.getString(1)))
      thMap.get(q) match {
        case None => ordered
        case Some(th) =>
          var cum = 0.0
          ordered.flatMap { r =>
            cum += r.getDouble(2)
            if (cum >= th - 1e-6) Some(r) else None
          }
      }
    }
    val essential = local(spark, essRows, tbDf.schema)
      .select("query_id", "term")
    (termBounds, theta, essential)
  }

  /** WAND-pruned BM25 (Broder, Carmel, Herscovici, Soffer & Zien,
    * CIKM'03 — the pivot test MaxScore's essential-list nomination
    * descends toward), reformulated set-at-a-time. LOSSLESS: returns
    * bit-identical output to [[bm25TopK]], oracle-gated against
    * d67's SQL verbatim.
    *
    * Where MaxScore admits ANY doc an essential list nominates, WAND
    * applies its pivot criterion PER DOC: a document can enter the
    * top-k only if the sum of the upper bounds of the query terms it
    * actually MATCHES reaches the threshold —
    * `Σ_{t ∈ q, d ∈ postings(t)} ub(t) ≥ θ` (document-at-a-time
    * WAND evaluates exactly this sum at its pivot before fully
    * scoring a doc). Set-at-a-time that becomes a two-stage refine:
    *
    *  1. NOMINATE — MaxScore's essential lists ([[pruningPlanning]]):
    *     a doc matching no essential term has matched-ub sum below
    *     θ − ulp by the essential-set construction (its matched set
    *     is a subset of the non-essential terms, whose TOTAL ub sum
    *     stays below θ − ulp), so WAND's own test would prune it —
    *     nominating from the essential lists alone loses nothing and
    *     keeps the giant non-essential lists out of the nomination;
    *  2. PIVOT TEST — for nominees only, sum the matched terms'
    *     bounds (one candidate-bounded aggregation over the slice)
    *     and keep docs with `ubsum ≥ θ − 1e-6`. A pruned doc's true
    *     6-dp score is strictly below θ (each 9-dp contribution is
    *     < its padded ub; the 1e-6 margin is the full final-rounding
    *     ulp and dominates the double-sum error by orders of
    *     magnitude), so it cannot displace a top-k doc even on the
    *     doc_id tiebreak;
    *  3. exact scores for the survivors over ALL their rows — the
    *     maxScorePlan candidate-side assembly verbatim.
    *
    * Strictly finer than MaxScore on multi-essential queries: a doc
    * matching ONE mid-bound essential term whose ub alone misses θ
    * is nominated by MaxScore but pruned here (the spec pins a
    * fixture where that happens); survivors ⊆ nominees always. The
    * extra cost is one (query,doc)-keyed sum over the nominees'
    * slice rows — candidate-bounded, never corpus-shaped. */
  def wandTopK(posts: DataFrame, queries: DataFrame, stats: DataFrame,
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val slice = termSlice(posts, termsOf(queries))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
    wandFromSlice(slice, queries, stats, k, k1, b)
  }

  /** [[wandTopK]] over a slice that already carries `df` (the stored
    * dictionary layout of [[readIndexSlice]] / [[readServableSlice]]
    * — the persisted-index serve path). */
  def wandFromSlice(slice: DataFrame, queries: DataFrame,
                    stats: DataFrame, k: Int, k1: Double = 1.2,
                    b: Double = 0.75): DataFrame =
    rank(wandPlan(slice, queries, stats, k, k1, b)._3, k, k1, b)

  /** The pruning-activity witness: (docs MaxScore would score — the
    * essential-list nominees, docs WAND actually scores — pivot-test
    * survivors). Shares [[wandPlan]]'s lineage with the real
    * operator so the witness can't drift from what the query runs. */
  def wandDocCounts(posts: DataFrame, queries: DataFrame,
                    stats: DataFrame, k: Int, k1: Double = 1.2,
                    b: Double = 0.75): (Long, Long) = {
    val slice = termSlice(posts, termsOf(queries))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
    val (nominees, survivors, _) =
      wandPlan(slice, queries, stats, k, k1, b)
    (nominees.count(), survivors.count())
  }

  /** (nominees, pivot-test survivors, scoring input) — see
    * [[wandTopK]]. */
  private def wandPlan(slice: DataFrame, queries: DataFrame,
                       stats0: DataFrame, k: Int, k1: Double, b: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    val stats = localOf(stats0)   // raw lineage would re-run per job
    val (termBounds, theta, essential) =
      pruningPlanning(slice, queries, stats, k, k1, b)
    val nominees = slice
      .join(broadcast(essential), "term")
      .select("query_id", "doc_id").distinct()
    // the pivot test: matched-term ub sum per nominated (query, doc).
    // The slice is touched by ONE broadcast hash probe on doc_id
    // (the maxScorePlan assembly discipline); the termBounds join
    // keeps exactly the query's matched terms.
    val survivors = slice
      .join(broadcast(nominees), "doc_id")
      .join(broadcast(termBounds), Seq("query_id", "term"))
      .groupBy("query_id", "doc_id")
      .agg(sum(col("ub")).as("ubsum"))
      .join(broadcast(theta), Seq("query_id"), "left")
      .filter(col("theta").isNull ||
        col("ubsum") >= col("theta") - lit(1e-6))
      .select("query_id", "doc_id")
    (nominees, survivors,
      slice
        .join(broadcast(survivors), "doc_id")
        .join(broadcast(queries), Seq("query_id", "term"))
        .crossJoin(broadcast(stats)))
  }

  /** Shared MaxScore planning lineage: returns (the exhaustive
    * query-joined slice, the candidate-pruned subset the scorer
    * aggregates). See [[maxScoreTopK]] for the bound proofs. */
  private def maxScorePlan(slice: DataFrame, queries: DataFrame,
                           stats0: DataFrame, k: Int, k1: Double,
                           b: Double): (DataFrame, DataFrame) = {
    val stats = localOf(stats0)   // raw lineage would re-run per job
    val qslice = slice.join(broadcast(queries), "term")
      .crossJoin(broadcast(stats))
    val (_, _, essential) =
      pruningPlanning(slice, queries, stats, k, k1, b)
    val candidates = slice
      .join(broadcast(essential), "term")
      .select("query_id", "doc_id").distinct()
    // Assemble the scoring input from the CANDIDATE side: attach each
    // candidate (query, doc) to the doc's slice rows, then keep the
    // query's own terms. This is set-identical to semi-joining the
    // full query-joined slice by (query_id, doc_id), but the full
    // query-join — whose evaluation is the very cost the prune
    // removes — never materializes: the slice is touched once, by a
    // broadcast hash probe on doc_id. Broadcasting the candidates is
    // sound in the regime MaxScore exists for (they are bounded by
    // the ESSENTIAL lists' total df — the rare lists); in the
    // degenerate all-essential regime a deployment picks the
    // exhaustive scorer up front from the dictionary df profile (a
    // query-set-sized plan-time decision), not this path.
    (qslice,
      slice
        .join(broadcast(candidates), "doc_id")
        .join(broadcast(queries), Seq("query_id", "term"))
        .crossJoin(broadcast(stats)))
  }

  /** Fold a stored-df slice into the doc-major FORWARD-INDEX shape
    * for cached online serving: one row per doc, `(doc_id, impacts:
    * MAP<term, DECIMAL(28,9)>)`, where each entry is the doc's fully
    * PRECOMPUTED 9-dp BM25 contribution for that term — tf, dl, df,
    * n_docs, avgdl are all index-time constants, so nothing about a
    * contribution depends on the query and the log/divide/round work
    * moves off the serve hot path entirely (the impact-ordered-index
    * idea of Anh & Moffat, relational form). Feed it to
    * [[bm25Top1DocMap]]. */
  def impactDocMap(slice: DataFrame, stats: DataFrame, k1: Double = 1.2,
                   b: Double = 0.75): DataFrame =
    contrib(slice.crossJoin(broadcast(stats)), k1, b)
      .groupBy("doc_id")
      .agg(map_from_entries(
        collect_list(struct(col("term"), col("contrib")))).as("impacts"))

  /** Document-at-a-time top-1 serving from the cached forward index —
    * the SCATTER-GATHER plan every distributed text engine runs:
    * broadcast the query batch (`(query_id, terms ARRAY<STRING>)`,
    * one row per query) against the doc-partitioned [[impactDocMap]],
    * score each (doc, query) with a codegen'd decimal fold over the
    * query's terms probing the doc's impact map, and gather the
    * per-query best through a partial-aggregating max — so the ONLY
    * shuffle moves one row per (query × partition), never a candidate
    * row, and per-batch cost is one scan of the forward index
    * regardless of how many queries share it (the term-major plan
    * pays Σ df rows PER QUERY into a (query, doc) shuffle; this pays
    * |docs| rows per BATCH and no candidate shuffle at all).
    *
    * Bit-identical to [[bm25TopKIndexed]] at k = 1 over the same
    * slice: the map entries are [[contrib]]'s exact decimals, decimal
    * addition is order-free so the fold equals the aggregation sum,
    * the 6-dp round is applied to the same value, docs with no
    * matching term produce no row on either path, and max over
    * `struct(score, -doc_id)` realizes the (score DESC, doc_id ASC)
    * tie-break. */
  def bm25Top1DocMap(docMap: DataFrame, queries: DataFrame): DataFrame =
    docMapScores(docMap, queries)
      .select(col("query_id"),
        struct(col("score"), (-col("doc_id")).as("negdoc")).as("cand"))
      .groupBy("query_id")
      .agg(max(col("cand")).as("best"))
      .select(col("query_id"), lit(1L).as("rk"),
        (-col("best.negdoc")).as("doc_id"), col("best.score"))

  /** General-k document-at-a-time serving: [[bm25Top1DocMap]]'s
    * scoring scan gathered through [[TopKAgg]] — a k-bounded buffer
    * that partial-aggregates map-side, so the only exchange moves at
    * most one buffer row per (query × partition). (Measured caveat,
    * gather_topk row: Spark ≥ 3.5's WindowGroupLimit gives the
    * row_number+filter form the same map-side bound — TopKAgg's edge
    * here is the array-per-query output shape and pattern-match-free
    * robustness, not shuffle volume.) Output is bit-identical to
    * [[bm25TopKIndexed]] over the same slice for any k (same decimal
    * fold, same (score DESC, doc_id ASC) selection order —
    * spec-proved, and d94 holds it under the d67 oracle). */
  def bm25TopKDocMap(docMap: DataFrame, queries: DataFrame,
                     k: Int): DataFrame =
    docMapScores(docMap, queries)
      .groupBy("query_id")
      .agg(TopKAgg.topK(k)(col("score"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("col._2").as("doc_id"), col("col._1").as("score"))

  /** Shared doc-at-a-time scoring scan: one pass over the forward
    * index probing each broadcast query's terms; emits `(query_id,
    * doc_id, score)` for docs matching ≥ 1 query term, with the same
    * 6-dp-rounded decimal-sum score as [[rank]]. */
  private[graft] def docMapScores(docMap: DataFrame,
                                  queries: DataFrame): DataFrame = {
    // accumulator stays DECIMAL(28,9): the raw add widens to (29,9)
    // and the cast narrows it back LOSSLESSLY (scale 9 is preserved
    // through every step — letting Spark's promotion run instead
    // would land on (38,8) and round the 9th decimal). Magnitudes are
    // bounded by |terms|·idf_max·(k1+1) ≪ 10^19, so the narrowing
    // cast can never overflow.
    val d28_9 = org.apache.spark.sql.types.DecimalType(28, 9)
    val zero = lit(java.math.BigDecimal.ZERO).cast(d28_9)
    docMap.crossJoin(broadcast(queries))
      .select(col("query_id"), col("doc_id"),
        aggregate(col("terms"), zero, (acc, t) =>
          (acc + coalesce(element_at(col("impacts"), t), zero))
            .cast(d28_9)).as("dsum"),
        exists(col("terms"),
          t => map_contains_key(col("impacts"), t)).as("hit"))
      .filter(col("hit"))
      .select(col("query_id"), col("doc_id"),
        round(col("dsum").cast("double"), 6).as("score"))
  }

  /** Candidate-PRUNED twin of [[docMapScores]] — the fix for the
    * |docs| × |batch| wall the full forward-index scan pays
    * (bm25_serve_r10's ~1k qps ceiling): for batches whose terms are
    * rare, per-(query, doc) candidates come from the INVERTED slice
    * first — `slice ⋈ broadcast(query terms)` emits exactly Σ df
    * (query, doc) pairs — and only those docs' impact maps are probed,
    * so the scoring row count is Σ df instead of |docs| × |batch|.
    * Unlike the r09 term-major serve (same Σ df rows but a (query,
    * doc) score shuffle + window gather), the gather here stays the
    * doc-map discipline: the docMap side is probed by a BROADCAST
    * hash join (it never shuffles) and the per-query reduction
    * partial-aggregates map-side.
    *
    * Output is bit-identical to [[docMapScores]]: a doc scores for a
    * query iff it holds ≥ 1 of the query's terms — exactly the
    * candidate-pair condition — and the decimal fold, 6-dp round and
    * tie semantics are shared verbatim.
    *
    * The caller picks scan-vs-prune PER BATCH from the dictionary df
    * profile (the d75 plan-time-switch discipline): Σ df over the
    * batch's terms vs |docs| × |batch| — broadcast-sized candidates
    * are a precondition here, so the switch must fall back to the
    * full scan when the profile is stopword-heavy. */
  private[graft] def docMapScoresPruned(docMap: DataFrame,
                                        slice: DataFrame,
                                        queries: DataFrame): DataFrame = {
    val qterms = queries
      .select(col("query_id"), explode(col("terms")).as("term"))
      .distinct()
    val cand = slice.select("term", "doc_id")
      .join(broadcast(qterms), "term")
      .select("query_id", "doc_id").distinct()
    val d28_9 = org.apache.spark.sql.types.DecimalType(28, 9)
    val zero = lit(java.math.BigDecimal.ZERO).cast(d28_9)
    docMap.join(broadcast(cand), "doc_id")
      .join(broadcast(queries), "query_id")
      .select(col("query_id"), col("doc_id"),
        aggregate(col("terms"), zero, (acc, t) =>
          (acc + coalesce(element_at(col("impacts"), t), zero))
            .cast(d28_9)).as("dsum"))
      .select(col("query_id"), col("doc_id"),
        round(col("dsum").cast("double"), 6).as("score"))
  }

  /** [[bm25Top1DocMap]] through the candidate-pruned scan — identical
    * output, Σ df scoring rows. See [[docMapScoresPruned]] for when
    * to pick it. */
  def bm25Top1DocMapPruned(docMap: DataFrame, slice: DataFrame,
                           queries: DataFrame): DataFrame =
    docMapScoresPruned(docMap, slice, queries)
      .select(col("query_id"),
        struct(col("score"), (-col("doc_id")).as("negdoc")).as("cand"))
      .groupBy("query_id")
      .agg(max(col("cand")).as("best"))
      .select(col("query_id"), lit(1L).as("rk"),
        (-col("best.negdoc")).as("doc_id"), col("best.score"))

  /** [[bm25TopKDocMap]] through the candidate-pruned scan — identical
    * output, Σ df scoring rows. */
  def bm25TopKDocMapPruned(docMap: DataFrame, slice: DataFrame,
                           queries: DataFrame, k: Int): DataFrame =
    docMapScoresPruned(docMap, slice, queries)
      .groupBy("query_id")
      .agg(TopKAgg.topK(k)(col("score"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rk"),
        col("col._2").as("doc_id"), col("col._1").as("score"))

  /** Mark documents deleted — the Lucene model: a delete writes only
    * TOMBSTONES (doc ids), never touches postings. Serving via
    * [[readServableSlice]] anti-joins them out immediately; df and
    * corpus stats stay STALE until [[compactDeletes]] applies the
    * tombstones — exactly Lucene's semantics, where deleted docs keep
    * counting toward df until segment merge. The alternative (exact
    * df maintenance at delete time) would require the deleted docs'
    * term lists, i.e. a full postings scan or a forward index, per
    * delete batch. Doc ids must not be reused after deletion (an
    * appended doc sharing a tombstoned id would be anti-joined out). */
  def deleteDocs(ids: DataFrame, dir: String): Unit =
    ids.select(col(ids.columns.head).cast("long").as("doc_id"))
      .distinct()
      .write.mode("append").parquet(s"$dir/tombstones")

  /** [[readIndexSlice]] minus tombstoned docs. The anti-join keys on
    * doc_id only — tombstones are vastly smaller than postings and
    * broadcast. df carried by the slice is the STORED (pre-delete)
    * value until compaction; scores therefore match a fresh build
    * only after [[compactDeletes]] (the documented Lucene-model
    * staleness). */
  def readServableSlice(spark: SparkSession, dir: String,
                        terms: Seq[String], nBuckets: Int): DataFrame = {
    val snap = new Snapshot(spark, dir)
    snap.servable(snap.indexSlice(terms, nBuckets))
  }

  /** Apply the tombstones: rewrite postings without the deleted docs,
    * rebuild the term dictionary from the survivors, decrement the
    * stats EXACTLY (a doc's token count equals the sum of its tf
    * values, so the removed postings carry everything needed), and
    * clear the tombstones — the segment-merge moment where Lucene's
    * stale df snaps back to exact.
    *
    * Reader-atomic via the VERSION POINTER (round 11 — retires the
    * round-10 two-rename race): the survivor postings, rebuilt
    * dictionary AND decremented stats are staged COMPLETELY under the
    * next `v<N+1>/` directory, then `CURRENT` flips in one rename —
    * a racing reader resolves the pointer once ([[root]]) and sees
    * either the whole old snapshot or the whole new one, never new
    * postings with the old dictionary (or new tables with old stats).
    * The previous version directory is retained until the NEXT
    * compaction's GC pass, so in-flight readers that resolved before
    * the flip finish against intact files. Tombstones are cleared
    * after the flip; a reader that catches the new snapshot with the
    * tombstones still present anti-joins ids that no longer have
    * postings — a no-op, not a mix.
    *
    * Caveat (inherent to an index without a forward index): a doc
    * with ZERO tokens leaves no postings, so deleting one cannot
    * reclaim its n_docs contribution here; a production build keeps a
    * doc-count sidecar for that. */
  def compactDeletes(spark: org.apache.spark.sql.SparkSession,
                     dir: String, nBuckets: Int): Unit =
    stageCompactedVersion(spark, dir).foreach { next =>
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      flipVersion(fs, dir, next)
      fs.delete(
        new org.apache.hadoop.fs.Path(s"$dir/tombstones"), true)
      ()
    }

  /** The staging half of [[compactDeletes]]: GC versions older than
    * CURRENT (their in-flight-reader grace window ends at the next
    * maintenance op), then build the complete survivor snapshot —
    * postings, dictionary, stats — under `v<N+1>/` WITHOUT flipping
    * the pointer. Returns the staged version number (None when there
    * are no tombstones). Exposed `private[graft]` so the race spec
    * can interleave a read between staging and the flip and assert it
    * still serves the OLD snapshot in full. */
  private[graft] def stageCompactedVersion(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    val fs = p(dir).getFileSystem(conf)
    if (!fs.exists(p(s"$dir/tombstones"))) return None
    val rt = root(spark, dir)
    // the LIVE version comes from the resolved root, never from the
    // highest staged dir — a crashed prior staging may have left an
    // orphaned v<N+1> that was never flipped to. Legacy flat layout
    // (rt == dir) migrates by staging v1; readers keep resolving the
    // intact flat tables (root() prefers them while CURRENT is
    // absent) until the flip, and the next maintenance op's gcStale
    // sweep collects them.
    val live: Option[Long] =
      if (rt == dir) None
      else Some(rt.substring(rt.lastIndexOf("/v") + 2).toLong)
    // GC everything the live snapshot supersedes: replaced versions'
    // (and post-migration flat tables') in-flight-reader grace window
    // ends here; orphaned staged versions restage. When the live
    // layout IS flat (live=None), only orphaned v<N> dirs go.
    gcStale(fs, dir, live)
    val next = live.getOrElse(0L) + 1
    val vroot = s"$dir/v$next"
    val tombs = spark.read.parquet(s"$dir/tombstones").distinct()
    val posts = spark.read.parquet(s"$rt/postings")
    // exact decrements from the REMOVED postings: Σ tf over a doc's
    // rows = its token count; distinct doc_id = removed doc count
    // (an unknown tombstoned id has no postings and decrements nothing)
    val removed = posts.join(broadcast(tombs), Seq("doc_id"), "left_semi")
      .agg(countDistinct(col("doc_id")).as("nd"),
        coalesce(sum(col("tf")), lit(0L)).cast("long").as("tok"))
      .head()
    val (remDocs, remToks) = (removed.getLong(0), removed.getLong(1))
    posts.join(broadcast(tombs), Seq("doc_id"), "left_anti")
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$vroot/postings")
    spark.read.parquet(s"$vroot/postings")
      .groupBy("tb", "term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").partitionBy("tb")
      .parquet(s"$vroot/terms")
    // positions sidecar compacts with the same survivor anti-join —
    // a version either carries a complete positions table or none
    if (fs.exists(p(s"$rt/positions")))
      spark.read.parquet(s"$rt/positions")
        .join(broadcast(tombs), Seq("doc_id"), "left_anti")
        .write.mode("overwrite").partitionBy("tb")
        .parquet(s"$vroot/positions")
    val old = spark.read.parquet(s"$rt/stats")
      .select(col("n_docs").cast("long"), col("sum_tokens").cast("long"))
      .head()
    import spark.implicits._
    Seq((old.getLong(0) - remDocs, old.getLong(1) - remToks))
      .toDF("n_docs", "sum_tokens")
      .write.mode("overwrite").parquet(s"$vroot/stats")
    Some(next)
  }

  /** Conjunctive boolean retrieval: docs containing EVERY term of
    * `terms`. One broadcast filter + one count-match aggregation over
    * the (already (doc, term)-distinct) postings — the distributed
    * equivalent of df-ascending posting-list intersection (the group
    * count reaches `terms.size` iff every list contains the doc).
    * Returns `(doc_id, n_hits)` where n_hits = total tf over the
    * query terms. */
  def booleanAnd(posts: DataFrame, terms: Seq[String]): DataFrame =
    posts
      .filter(col("term").isInCollection(terms))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("tf").as("n_hits"))
      .filter(col("n_terms") === terms.size)
      .select("doc_id", "n_hits")
}
